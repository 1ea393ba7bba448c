"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of each algorithm at 100 TB):

- **Exact**: one hash-aggregate on a fingerprint — a single shuffle on
  the fingerprint key; AQE handles skew.
- **N-gram Jaccard**: candidate generation via an inverted shingle
  index (explode → self-join on shingle) — never the O(n²) cross join;
  the join key is the shingle, frequency-capped to bound hot keys.
- **MinHash + LSH**: documents → k minhash signatures → banded buckets;
  only same-bucket pairs are verified. Shuffle volume is O(docs × k),
  independent of document length, and verification touches only
  candidates. This is the scale path for corpus-level near-dedup.
- **SimHash**: per-doc 32-bit signature via bit-vote aggregation;
  near-dup lookup becomes a cheap equality/Hamming bucket join.

Hashing discipline: all hashes derive from md5 hex strings (portable —
identical in Spark, DuckDB, Python), not engine-specific hash().
MinHash folds one md5 prefix per shingle into a 28-bit integer and
applies k affine permutations (a_i*h+b_i mod 2^31-1) — one digest per
row instead of k, integer mins in the aggregate, and every engine
reproduces the arithmetic exactly.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from optimus_any2any_spark.localrel import local_rows_df
from optimus_any2any_spark.operators.text import tokens
from optimus_any2any_spark.operators.util import ensure_parallelism

DEFAULT_NUM_HASHES = 16
DEFAULT_BANDS = 4  # 4 bands × 4 rows: ~guaranteed catch at j≥0.8


def exact_dedup_groups(
    df: DataFrame, fingerprint_col: Column, id_col: str = "doc_id"
) -> DataFrame:
    """Duplicate groups by exact fingerprint (reference shape: hash
    groupBy). Returns one row per fingerprint with >1 member."""
    return (
        df.groupBy(fingerprint_col.alias("fingerprint"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("canonical_id"),
            F.max(id_col).alias("max_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle)."""
    df = ensure_parallelism(df, F.col(id_col))
    toks = tokens(F.col(text_col))
    # guard: sequence(1, 0) would DESCEND in Spark, so short docs get an
    # explicitly empty shingle set
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n))
    )
    # array_distinct already dedups within the doc, so no extra
    # distinct() shuffle is needed — (id, shingle) rows are unique.
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(grams)).alias("shingle"),
    )


DEFAULT_MAX_SHINGLE_FREQ = 1000


def jaccard_pairs(
    sh: DataFrame,
    threshold: float = 0.8,
    max_shingle_freq: int | None = DEFAULT_MAX_SHINGLE_FREQ,
) -> DataFrame:
    """Exact Jaccard over shingle sets for candidate pairs that share at
    least one shingle. ``max_shingle_freq`` drops ultra-common shingles
    (stopword boilerplate) to bound the hot-key blowup: a shingle shared
    by f docs contributes f^2 candidate pairs, so one boilerplate
    shingle at corpus scale is a quadratic block — the cap bounds every
    shingle's block to cap^2 while set sizes shrink consistently on both
    sides of the Jaccard. Pass ``None`` to disable.

    Capped path: ONE shuffle builds a posting list per shingle
    (``groupBy(shingle).collect_list``), the cap filters it, and pair
    expansion is per-row array arithmetic — no shingle-key self-join,
    no window. Per-task memory is bounded by cap^2 struct pairs.
    Uncapped path: posting lists would be unbounded on a hot key, so it
    keeps the streaming shingle-key self-join instead."""
    if max_shingle_freq is not None:
        inter, sizes = _capped_pair_counts(sh, max_shingle_freq)
        return _jaccard_verify(inter, sizes, threshold)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("set_size"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return _jaccard_verify(inter, sizes, threshold)


def _capped_pair_counts(sh: DataFrame, cap: int):
    """Shared-shingle pair counts under the hot-shingle cap: ONE
    shuffle builds a posting list per shingle
    (``groupBy(shingle).collect_list``), the cap filters it, and pair
    expansion is per-row array arithmetic — no shingle-key self-join,
    no window; per-task memory is bounded by cap^2 struct pairs.
    Returns (inter, sizes) with sizes computed from the SAME filtered
    postings so both sides of any similarity ratio shrink
    consistently. posting feeds BOTH outputs with no persist: the two
    consumers' exchange subtrees are identical, so AQE's
    ReusedExchange already shares the collect_list shuffle (a persist
    was measured SLOWER)."""
    posting = (
        sh.groupBy("shingle")
        .agg(F.collect_list("id").alias("ids"))
        .filter(F.size("ids") <= cap)
        .select(F.array_sort("ids").alias("ids"))
    )
    sizes = (
        posting.select(F.explode("ids").alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("set_size"))
    )
    ids = F.col("ids")
    pair_arr = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids) - i - F.lit(1)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    inter = (
        posting.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return inter, sizes


def containment_pairs(
    sh: DataFrame,
    threshold: float = 0.9,
    max_shingle_freq: int = DEFAULT_MAX_SHINGLE_FREQ,
) -> DataFrame:
    """Asymmetric set containment |A∩B|/|A| (and /|B|) for pairs
    sharing a shingle — the quote/boilerplate-superset detector:
    near-full containment of a SMALL document in a large one scores
    high here while its Jaccard stays low (the size imbalance sinks
    the union ratio), which is exactly the near-dup class Jaccard
    dedup misses (Lee et al. 2022 §4 discuss substring-level
    containment for the same reason).

    Same scale shape as the capped Jaccard path: one posting-list
    shuffle, pair expansion bounded by cap^2, one pair-key aggregate.
    Keeps pairs where EITHER direction reaches ``threshold``.
    """
    inter, sizes = _capped_pair_counts(sh, max_shingle_freq)
    sa = sizes.withColumnRenamed("id", "doc_a").withColumnRenamed(
        "set_size", "size_a"
    )
    sb = sizes.withColumnRenamed("id", "doc_b").withColumnRenamed(
        "set_size", "size_b"
    )
    c_ab = F.round(F.col("n_common").cast("double") / F.col("size_a"), 4)
    c_ba = F.round(F.col("n_common").cast("double") / F.col("size_b"), 4)
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("c_ab", c_ab)
        .withColumn("c_ba", c_ba)
        .filter(F.greatest(F.col("c_ab"), F.col("c_ba")) >= threshold)
        .select("doc_a", "doc_b", "c_ab", "c_ba")
    )


def _jaccard_verify(
    inter: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    sa = sizes.withColumnRenamed("id", "doc_a").withColumnRenamed("set_size", "size_a")
    sb = sizes.withColumnRenamed("id", "doc_b").withColumnRenamed("set_size", "size_b")
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


_MERSENNE31 = 2147483647


def _affine_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficients for the universal-hash family
    h_i(x) = (a_i * x + b_i) mod 2^31-1, drawn independently from a
    fixed-seed RNG (1 <= a, 0 <= b, both < 2^31-1) — reproducible in any
    engine. Multipliers that are multiples of one constant make the
    hashes disagree together, and LSH then misses near-duplicates far
    more often than independent hashes would."""
    rng = random.Random(0x6D696E68)
    return [
        (rng.randrange(1, _MERSENNE31), rng.randrange(_MERSENNE31))
        for _ in range(num_hashes)
    ]


def _base_hash(col: Column) -> Column:
    """28-bit integer hash: first 7 md5 hex digits (portable — the same
    fold is expressible in DuckDB SQL digit-by-digit). 28 bits keeps
    every a*h+b product under 2^59, safe in both Spark's wrapping and
    DuckDB's checked int64 arithmetic. At corpus scale (shingle
    universe >> 2^28) widen to more hex digits and a 61-bit Mersenne
    modulus — the algebra is width-agnostic."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 7), 16, 10).cast(
        "long"
    )


def minhash_signatures(
    sh: DataFrame, num_hashes: int = DEFAULT_NUM_HASHES
) -> DataFrame:
    """(id, h0..h{k-1}) — one aggregate pass over the shingle table.

    One md5 per shingle row + k integer affine mixes, instead of k md5
    invocations per row: the signature aggregate is CPU-bound at scale
    and integer min beats 32-char string min in the partial aggregate.
    """
    bh = sh.select("id", _base_hash(F.col("shingle")).alias("bh"))
    return bh.groupBy("id").agg(
        *[
            F.min(
                (F.lit(a) * F.col("bh") + F.lit(b)) % F.lit(_MERSENNE31)
            ).alias(f"h{i}")
            for i, (a, b) in enumerate(_affine_params(num_hashes))
        ]
    )


def lsh_candidate_pairs(
    sig: DataFrame, num_hashes: int = DEFAULT_NUM_HASHES, bands: int = DEFAULT_BANDS
) -> DataFrame:
    """Band the signatures and emit same-bucket pairs (doc_a < doc_b)."""
    rows = num_hashes // bands
    # the bucket key is the raw row-hash tuple (joined as a string) —
    # hashing it again (md5) would cost a digest per band for zero
    # semantic difference, the equi-join buckets identically either way
    band_cols = [
        F.concat_ws(
            "|",
            *[F.col(f"h{b * rows + r}").cast("string") for r in range(rows)],
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sig.select("id", *band_cols)
    bucketed = banded.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.8,
    persist_shingles: bool = True,
) -> DataFrame:
    """Full MinHash-LSH near-dedup: shingle → sign → band → verify.

    Exact Jaccard runs ONLY on LSH candidate pairs (the whole point of
    LSH): candidates are broadcast against the shingle table, so the
    verify cost is O(candidates × doc length), never the full
    shingle-key self-join. The shingle table feeds both signature
    generation and verification, so it is persisted by default; the
    cache lives until Spark evicts it — long-lived sessions issuing
    many dedup calls should pass ``persist_shingles=False`` or clear
    via ``spark.catalog.clearCache``.
    """
    sh = shingles(df, text_col, id_col, n)
    if persist_shingles:
        sh = sh.persist()
    # cand feeds three plans (two semi-filters + the verify join), so
    # persist it — without this the signature+banding chain re-executes
    # per consumer. It is small by construction (LSH already bounded it).
    cand = lsh_candidate_pairs(
        minhash_signatures(sh, num_hashes), num_hashes, bands
    ).persist()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("set_size"))
    # (A candidate-id semi-filter on sizes was tried in r14 — it cuts
    # the sizes exchange to candidate scale but adds a union+distinct
    # shuffle pair per consumer that costs more than it saves: wall
    # 1.65 → 2.96 s at sf0.1. Reverted.)
    # The a side is filtered map-side by the broadcast(cand) join below;
    # the b side would otherwise shuffle the WHOLE corpus shingle table
    # into the (id, shingle) join, so semi-filter it to candidate docs
    # first — broadcast, map-side, no extra shuffle.
    a = sh.alias("a")
    b = sh.join(
        F.broadcast(cand.select(F.col("doc_b").alias("id")).distinct()),
        "id",
        "left_semi",
    ).alias("b")
    inter = (
        F.broadcast(cand)
        .join(a, F.col("a.id") == F.col("doc_a"))
        .join(
            b,
            (F.col("b.id") == F.col("doc_b"))
            & (F.col("a.shingle") == F.col("b.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # sizes is one row per document — never broadcast it by hint (it
    # scales with the corpus); AQE will broadcast when actually small.
    sa = sizes.withColumnRenamed("id", "doc_a").withColumnRenamed("set_size", "size_a")
    sb = sizes.withColumnRenamed("id", "doc_b").withColumnRenamed("set_size", "size_b")
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


#: Pair graphs with at most this many edges are labelled on the driver:
#: one bounded collect, then union-find. Larger ones run distributed
#: min-label propagation. The same exact-when-small rule as
#: ``merge_core._MAX_DRIVER_KEYS``.
_MAX_DRIVER_EDGES = 100_000


def connected_components(
    pairs: DataFrame, max_iterations: int = 20
) -> DataFrame:
    """Connected components of a dup-pair graph: (doc_id,
    component_id) where component_id = min doc id reachable.

    Near-dup pair graphs are small after LSH and verification, so the
    method follows the graph's size:

    - At most ``_MAX_DRIVER_EDGES`` pairs: ``doc_a``/``doc_b`` are
      collected (a bounded take) and labelled by union-find on the
      driver, exactly, whatever the components' diameter;
      ``max_iterations`` does not apply. The labels come back through
      ``local_rows_df``: a local relation that reads without a job for
      the common id types, up to its 20,000-row limit; a graph with
      more nodes comes back as an RDD-backed frame.
    - Above it: min-label propagation, fully distributed. Each round
      every node adopts the minimum label of its neighbourhood (one
      join and one aggregate on the pair set), so a component settles
      in its diameter plus one confirming round. Each round is lazily
      ``localCheckpoint``-ed, so the plan stays the same size however
      many rounds run, and ends in one convergence job. If labels are
      still changing after ``max_iterations`` rounds, ``RuntimeError``
      is raised: partial labels are never returned.

    The id columns keep their Spark type (``doc_a`` and ``doc_b``
    widened to one type, as a union does). A self-pair is a node of
    its own; a null id joins nothing and is labelled null.
    """
    id_type = (
        pairs.select("doc_a").union(pairs.select("doc_b")).schema[0].dataType
    )
    ends = pairs.select(
        F.col("doc_a").cast(id_type).alias("a"),
        F.col("doc_b").cast(id_type).alias("b"),
    )
    rows = ends.limit(_MAX_DRIVER_EDGES + 1).collect()
    if len(rows) <= _MAX_DRIVER_EDGES:
        schema = T.StructType([
            T.StructField("doc_id", id_type),
            T.StructField("component_id", id_type),
        ])
        return local_rows_df(pairs.sparkSession, _union_find(rows), schema)
    # the pair pipeline upstream (shingles, LSH, verification) runs
    # once more here. Pinning ``ends`` before the take would cost every
    # small graph a cache build: on the dedup_corpus pairs a persist
    # doubled the call's time, a lazy localCheckpoint added five jobs.
    return _propagate(ends, max_iterations)


def _union_find(rows: list) -> list[tuple]:
    """(id, component minimum) for every id of the (a, b) ``rows``."""
    parent: dict = {}

    def find(x):
        root = parent.setdefault(x, x)
        while parent[root] != root:
            root = parent[root]
        while x != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    has_null = False
    for a, b in rows:
        if a is None or b is None:
            has_null = True
            for x in (a, b):
                if x is not None:
                    find(x)
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            # the smaller root stays the root, so every root is the
            # minimum of its component
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(x, find(x)) for x in parent] + (
        [(None, None)] if has_null else []
    )


def _propagate(ends: DataFrame, max_iterations: int) -> DataFrame:
    """Min-label propagation over the (a, b) ``ends``."""
    # edges feed every round's join: pinned once, or each round
    # re-derives them and the whole pair pipeline above; unlike a
    # persist, the ContextCleaner frees the checkpoint with the result
    edges = (
        ends.union(ends.select("b", "a"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.b == labels.id)
            .groupBy("a")
            .agg(F.min("label").alias("nmin"))
        )
        updated = (
            labels.join(neighbor_min, labels.id == neighbor_min.a, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
                (
                    F.coalesce(F.col("nmin"), F.col("label")) < F.col("label")
                ).alias("_changed"),
            )
            .localCheckpoint(eager=False)
        )
        # the check runs on the materialized round — no lineage re-run;
        # stale checkpoint blocks are released by the ContextCleaner
        changed = updated.filter(F.col("_changed")).limit(1).count()
        labels = updated.drop("_changed")
        if changed == 0:
            return labels.select(
                F.col("id").alias("doc_id"),
                F.col("label").alias("component_id"),
            )
    raise RuntimeError(
        f"connected_components: labels still changing after "
        f"max_iterations={max_iterations} propagation rounds; raise "
        f"the budget"
    )


def simhash_sig(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits_width: int = 32,
) -> DataFrame:
    """SimHash over word tokens at a configurable signature width.

    Each token's md5 contributes ±1 votes on ``bits_width`` bit
    positions; the signature sets bit b when the vote sum is positive.
    Bit extraction works on md5 hex characters (4 bits each) so the
    arithmetic is portable across engines. Width must stay ≤ 60 so the
    signature value is safe in checked int64 arithmetic (DuckDB) as
    well as Spark's; 32 is the compact default, 60 the corpus-scale
    width (wider bands → smaller Hamming-join buckets).
    """
    assert bits_width % 4 == 0 and bits_width <= 60
    df = ensure_parallelism(df, F.col(id_col))
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    hashed = tok.select("id", F.md5(F.col("token").cast("binary")).alias("h"))
    # one row per (doc, token, bit): bit value from hex char
    bits = hashed.select(
        "id",
        F.explode(F.sequence(F.lit(0), F.lit(bits_width - 1))).alias("b"),
        F.col("h"),
    ).withColumn(
        "bit",
        (
            F.conv(
                F.expr("substring(h, CAST(b / 4 AS INT) + 1, 1)"), 16, 10
            )
            .cast("int")
            .bitwiseAND(F.expr("shiftleft(1, 3 - CAST(b % 4 AS INT))"))
            > 0
        ).cast("int"),
    )
    votes = bits.groupBy("id", "b").agg(
        F.sum(F.col("bit") * 2 - 1).alias("vote")
    )
    top = bits_width - 1
    return (
        votes.withColumn(
            "contrib",
            F.when(
                F.col("vote") > 0,
                F.expr(f"shiftleft(CAST(1 AS BIGINT), {top} - CAST(b AS INT))"),
            ).otherwise(F.lit(0).cast("long")),
        )
        .groupBy("id")
        .agg(F.sum("contrib").alias("simhash"))
        .select(F.col("id").alias("doc_id"), F.col("simhash"))
    )


def simhash32(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """32-bit SimHash (compact default; see :func:`simhash_sig`)."""
    return simhash_sig(df, text_col, id_col, bits_width=32)


def passage_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_words: int = 20,
) -> DataFrame:
    """Passage-level exact dedup: drop repeated ``chunk_words``-word
    passages corpus-wide (keep the first occurrence by (doc, position))
    and rebuild each document from its surviving passages.

    The sub-document analogue of exact dedup (repeated boilerplate /
    quoted passages appear across many crawled pages; reference scope
    stops at whole-record handling — this extends it to spans, the
    ExactSubstr idea restated for a shuffle-based engine):

    1. chunking is per-row array math (``slice`` over the token array —
       no explode of individual words, so the pre-shuffle width is one
       row per passage, not per token);
    2. global first-occurrence is a ``min``-struct AGGREGATE keyed by
       the passage text (``min(struct(doc, position))`` is the
       lexicographic first occurrence) — NOT a ``row_number`` window: a
       window has no map-side combine, so a hot boilerplate passage
       repeated across millions of pages would funnel every occurrence
       through one task. The aggregate partial-combines each input
       partition down to one row per distinct passage before the
       shuffle, so the reduce side of a hot key receives one row per
       upstream partition, never one per occurrence;
    3. document rebuild is one shuffle back on the doc id with an
       in-memory ``array_sort`` by passage position.

    Within-document repeats of a passage are deduplicated by the same
    aggregate (occurrence 2+ drops regardless of which doc holds it).
    """
    cw = chunk_words
    toks = tokens(F.col(text_col))
    n_chunks = F.ceil(F.size(toks) / F.lit(cw)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * cw + 1, cw)),
    )
    exploded = df.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "chunk")
    )
    kept = (
        exploded.groupBy("chunk")
        .agg(
            F.min(F.struct(F.col(id_col), F.col("chunk_idx"))).alias("__first")
        )
        .select(
            F.col(f"__first.{id_col}").alias(id_col),
            F.col("__first.chunk_idx").alias("chunk_idx"),
            "chunk",
        )
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("chunk_idx", "chunk"))
                    ),
                    lambda s: s["chunk"],
                ),
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_chunks_kept"),
        )
        .select(id_col, "clean_text", "n_chunks_kept")
    )


def cdc_chunk_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    avg_chunk_words: int = 8,
) -> DataFrame:
    """Content-defined chunking (CDC) passage dedup: chunk boundaries
    come from the CONTENT (a cut after every token whose hash ≡ 0 mod
    ``avg_chunk_words``), not from fixed offsets — so inserting one
    word near the start of a near-copy shifts only the chunk it lands
    in, and every later chunk re-synchronizes byte-for-byte with the
    original. Fixed-window passage dedup (:func:`passage_dedup`)
    misaligns EVERY subsequent chunk in that case; CDC is how storage
    dedup (LBFS, Muthitacharoen et al. SOSP'01; restated for corpus
    curation by the ExactSubstr line of work) solves exactly this.
    This is the basic gear-free variant — production CDC adds min/max
    chunk bounds, which changes the cut rule but not the plan shape.

    Plan shape: the prefix count of cuts (= chunk index) is a window
    partitioned by the DOC id — per-task work is one document's
    tokens, and the partition key cannot be hot (every doc has
    exactly one partition's worth of rows), unlike the content-keyed
    windows this module deliberately avoids. First occurrence per
    distinct chunk is the same map-side-combinable ``min``-struct
    aggregate as :func:`passage_dedup`; rebuild is one shuffle on the
    doc id. Expected chunk length is ``avg_chunk_words`` (geometric).

    Returns ``(id, clean_text, n_chunks, n_chunks_kept)``.
    """
    from pyspark.sql.window import Window

    p = avg_chunk_words
    df = ensure_parallelism(df, F.col(id_col))
    toks = tokens(F.col(text_col))
    words = df.select(
        F.col(id_col), F.posexplode(toks).alias("pos", "w")
    ).withColumn("cut", (_base_hash(F.col("w")) % p == 0).cast("int"))
    # chunk index = number of cuts strictly BEFORE this token
    win = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = words.withColumn(
        "chunk_idx", F.coalesce(F.sum("cut").over(win), F.lit(0)).cast("int")
    )
    # the chunk table feeds BOTH the first-occurrence aggregate and
    # the keep-flag join; without materialization the explode+window+
    # rollup lineage runs twice (two Window nodes in the plan)
    chunks = chunked.groupBy(id_col, "chunk_idx").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
        ).alias("chunk")
    ).persist()
    first = chunks.groupBy("chunk").agg(
        F.min(F.struct(F.col(id_col), F.col("chunk_idx"))).alias("__first")
    )
    flagged = chunks.join(first, "chunk").select(
        F.col(id_col),
        "chunk_idx",
        "chunk",
        (
            (F.col(f"__first.{id_col}") == F.col(id_col))
            & (F.col("__first.chunk_idx") == F.col("chunk_idx"))
        ).cast("int").alias("keep"),
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.filter(
                        F.array_sort(
                            F.collect_list(
                                F.struct("chunk_idx", "keep", "chunk")
                            )
                        ),
                        lambda s: s["keep"] == 1,
                    ),
                    lambda s: s["chunk"],
                ),
            ).alias("clean_text"),
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum("keep").cast("long").alias("n_chunks_kept"),
        )
        .select(id_col, "clean_text", "n_chunks", "n_chunks_kept")
    )


def simhash_hamming_pairs(
    sigs: DataFrame,
    max_hamming: int = 3,
    num_bands: int = 4,
    sig_bits: int = 32,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance via banded buckets.

    Pigeonhole: two signatures within ``max_hamming`` (< num_bands)
    bits of each other must agree exactly on at least one of the
    ``num_bands`` disjoint bit-bands, so candidate generation is an
    equi-join on (band index, band value) — a plain hash join, never a
    signature cross-product. Verification is ``bit_count(a XOR b)`` on
    the candidate set only.

    Shuffle volume is O(docs x num_bands); bucket population is
    n / 2^(sig_bits/num_bands) per band value, so at corpus scale the
    signature must widen (64-bit sigs with 16-bit bands -> 65k buckets)
    — band math below is width-agnostic.
    """
    # pigeonhole soundness: at most (num_bands - 1) bits may differ for
    # a pair to be guaranteed to agree on a full band — max_hamming >=
    # num_bands silently LOSES pairs (one differing bit per band), and a
    # non-dividing width leaves high bits out of every band. Enforced
    # like simhash_sig's own width assert (ADVICE r2).
    assert max_hamming < num_bands, (
        f"pigeonhole requires max_hamming ({max_hamming}) < num_bands "
        f"({num_bands}); recall would be silently incomplete"
    )
    assert sig_bits % num_bands == 0, (
        f"sig_bits ({sig_bits}) must divide evenly into {num_bands} bands"
    )
    width = sig_bits // num_bands
    mask = (1 << width) - 1
    bands = sigs.select(
        F.col(id_col).alias("id"),
        F.col(sig_col).alias("sig"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(sig_col, b * width).bitwiseAND(F.lit(mask))
                    for b in range(num_bands)
                ]
            )
        ).alias("band", "val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.col("a.sig").alias("sa"),
            F.col("b.sig").alias("sb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def minhash_estimate_vs_exact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """Sketch calibration: per LSH candidate pair, the MinHash-estimated
    Jaccard (matching-hash fraction) next to the exact value.

    The production knob-tuning query for the sketch: run it on a sample
    to pick num_hashes/bands before a corpus-wide dedup. Same plan
    skeleton as :func:`minhash_dedup_pairs` (signatures and exact
    verification both touch only LSH candidates); estimates are k/16
    binary fractions so the rounded values are engine-exact.
    """
    sh = shingles(df, text_col, id_col, n).persist()
    sig = minhash_signatures(sh, num_hashes)
    cand = lsh_candidate_pairs(sig, num_hashes, bands).persist()
    sa = sig.select(
        F.col("id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"ha{i}") for i in range(num_hashes)],
    )
    sb = sig.select(
        F.col("id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"hb{i}") for i in range(num_hashes)],
    )
    matches = sum(
        (F.col(f"ha{i}") == F.col(f"hb{i}")).cast("int")
        for i in range(num_hashes)
    )
    est = (
        F.broadcast(cand)
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(matches / F.lit(float(num_hashes)), 4).alias(
                "est_jaccard"
            ),
        )
    )
    # exact Jaccard over candidates only (same prefilter discipline as
    # minhash_dedup_pairs: never the full shingle self-join)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("set_size"))
    b_sh = sh.join(
        F.broadcast(cand.select(F.col("doc_b").alias("id")).distinct()),
        "id",
        "left_semi",
    ).alias("b")
    a_sh = sh.alias("a")
    inter = (
        F.broadcast(cand)
        .join(a_sh, F.col("a.id") == F.col("doc_a"))
        .join(
            b_sh,
            (F.col("b.id") == F.col("doc_b"))
            & (F.col("a.shingle") == F.col("b.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sza = sizes.select(F.col("id").alias("doc_a"), F.col("set_size").alias("size_a"))
    szb = sizes.select(F.col("id").alias("doc_b"), F.col("set_size").alias("size_b"))
    exact = (
        inter.join(sza, "doc_a")
        .join(szb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
                4,
            ).alias("jaccard"),
        )
    )
    return (
        est.join(exact, ["doc_a", "doc_b"], "left")
        .withColumn("jaccard", F.coalesce(F.col("jaccard"), F.lit(0.0)))
        .withColumn(
            "abs_err",
            F.round(F.abs(F.col("est_jaccard") - F.col("jaccard")), 4),
        )
        .select("doc_a", "doc_b", "est_jaccard", "jaccard", "abs_err")
    )


def span_exact_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 6,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact substring-span duplication statistics (the hash analogue of
    Lee et al. 2022, arXiv:2107.06499 §3.1 ExactSubstr: spans repeated
    anywhere in the corpus are training-data duplication even when whole
    documents differ).

    Every overlapping word ``n``-gram OCCURRENCE (multiplicity kept —
    within-doc repeats count, unlike the shingle set ops above) maps to
    a fixed-width md5 key; a span is *duplicated* when its corpus-wide
    occurrence count exceeds 1. Per doc: total spans, duplicated-span
    occurrences, duplicated fraction, and a flag at ``threshold``.

    Scale shape — three shuffles, all of them map-side-combined
    aggregates or an AQE-splittable join: the gram expansion is a
    per-row transform (no shuffle), occurrences pre-aggregate per
    (doc, span-hash) with map-side combine, corpus-wide totals come
    from a second ``groupBy("h")`` aggregate over that REDUCED frame
    (again map-side combined — a boilerplate span repeated everywhere
    arrives at its reduce task as one partial row per upstream
    partition, never one row per occurrence; the previously-shipped
    ``Window.partitionBy("h")`` sum had no partial aggregation, so a
    hot span serialized every (doc, span) row through a single task),
    and totals re-attach via an equi-join on ``h`` against the reduced
    (doc, span) frame — a join AQE's skew handling CAN split, unlike a
    window exchange. The reduced frame feeds both the total aggregate
    and the join probe, so it is persisted (MEMORY_AND_DISK) to avoid
    re-expanding the gram lineage; callers running many span passes in
    one session can clear it via ``spark.catalog.clearCache``. Key
    width is md5-fixed, so span length ``n`` changes compute, not
    shuffle bytes.
    """
    from optimus_any2any_spark.operators.text import ngram_rows

    spans = ngram_rows(df, text_col, id_col, n=n).select(
        "id", F.md5(F.col("gram").cast("binary")).alias("h")
    )
    local = (
        spans.groupBy("id", "h").agg(F.count(F.lit(1)).alias("k")).persist()
    )
    totals = local.groupBy("h").agg(F.sum("k").alias("tot"))
    tot = local.join(totals, "h")
    per_doc = tot.groupBy("id").agg(
        F.sum("k").alias("n_spans"),
        F.sum(F.when(F.col("tot") > 1, F.col("k")).otherwise(0)).alias(
            "dup_spans"
        ),
    )
    frac = F.round(
        F.col("dup_spans").cast("double") / F.col("n_spans"), 4
    )
    return (
        per_doc.filter(F.col("dup_spans") > 0)
        .select(
            F.col("id").alias(id_col),
            "n_spans",
            "dup_spans",
            frac.alias("dup_frac"),
            (
                F.col("dup_spans").cast("double") / F.col("n_spans")
                >= threshold
            ).alias("flagged"),
        )
    )
