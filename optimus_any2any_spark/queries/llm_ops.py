"""LLM-training-data pipeline queries with DuckDB oracles.

Every query wraps an operator from ``optimus_any2any_spark.operators``;
the oracle re-expresses the same deterministic algorithm in DuckDB SQL
(portable md5-based hashing, integer-exact set arithmetic, rounded
double similarities with id tie-breaks) so values hash-match exactly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from optimus_any2any_spark.queries import register
from optimus_any2any_spark.queries.util import dsum, load, o_dsum
from optimus_any2any_spark.operators import dedup as D
from optimus_any2any_spark.operators import similarity as S
from optimus_any2any_spark.operators import text as TX
from optimus_any2any_spark.operators.multimodal import (
    attach_payload,
    extract_features,
    resize_images,
    sample_frames,
)

# Shared DuckDB CTE fragments -------------------------------------------------

_SQL_TOKENS = "string_split_regex(trim(text), '\\s+')"

_SQL_SHINGLES = f"""
  tok AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
  sh AS (
    SELECT DISTINCT doc_id AS id, gram AS shingle FROM (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                                   i -> array_to_string(t[i:i+2], ' '))) AS gram
      FROM tok WHERE len(t) >= 3
    )
  )
"""

def _sql_jaccard(src: str = "sh") -> str:
    """Jaccard verification CTEs over a (id, shingle) relation."""
    return f"""
  sizes AS (SELECT id, COUNT(*) AS set_size FROM {src} GROUP BY id),
  inter AS (
    SELECT a.id AS doc_a, b.id AS doc_b, COUNT(*) AS n_common
    FROM {src} a JOIN {src} b ON a.shingle = b.shingle AND a.id < b.id
    GROUP BY 1, 2
  ),
  verified AS (
    SELECT doc_a, doc_b,
           round(CAST(n_common AS DOUBLE) /
                 (sa.set_size + sb.set_size - n_common), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = doc_a
    JOIN sizes sb ON sb.id = doc_b
    WHERE round(CAST(n_common AS DOUBLE) /
                (sa.set_size + sb.set_size - n_common), 4) >= 0.8
  )
"""


def _sql_shingle_cap(cap: int, src: str = "sh") -> str:
    """Hot-shingle cap CTE mirroring dedup.jaccard_pairs'
    max_shingle_freq: shingles in more than ``cap`` docs are dropped
    before sizes/intersections."""
    return f"""
  shc AS (
    SELECT s.id, s.shingle FROM {src} s
    JOIN (SELECT shingle, COUNT(*) AS df_ FROM {src} GROUP BY shingle) f
      ON f.shingle = s.shingle AND f.df_ <= {cap}
  )
"""


_SQL_JACCARD = _sql_jaccard("sh")

_NUM_HASHES = D.DEFAULT_NUM_HASHES
_BANDS = D.DEFAULT_BANDS
_ROWS = _NUM_HASHES // _BANDS

# Mirror of dedup._base_hash: fold the first 7 md5 hex digits into an
# integer, digit by digit (identical to Spark's conv(substr(md5,1,7))).
_SQL_BASE_HASH = (
    "list_reduce(list_transform(range(1, 8), "
    "p -> CAST(strpos('0123456789abcdef', substr(md5(shingle), p, 1)) - 1 "
    "AS BIGINT)), (a, b) -> a * 16 + b)"
)

_SQL_MINHASH_SIG = (
    f"  bh AS (SELECT id, {_SQL_BASE_HASH} AS h FROM sh),\n"
    "  sig AS (SELECT id, "
    + ", ".join(
        f"min(({a} * h + {b}) % 2147483647) AS h{i}"
        for i, (a, b) in enumerate(D._affine_params(_NUM_HASHES))
    )
    + " FROM bh GROUP BY id)"
)

_SQL_BANDS = (
    "  bands AS ("
    + " UNION ALL ".join(
        "SELECT id, {b} AS band, {expr} AS bucket FROM sig".format(
            b=b,
            expr=" || '|' || ".join(
                f"CAST(h{b * _ROWS + r} AS VARCHAR)" for r in range(_ROWS)
            ),
        )
        for b in range(_BANDS)
    )
    + ")"
)


# Dedup -----------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(substr(text, 1, 80)) AS fingerprint,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS canonical_id,
           MAX(doc_id) AS max_id
    FROM documents
    GROUP BY fingerprint
    HAVING COUNT(*) > 1
    ORDER BY fingerprint
    """,
    doc="Exact dedup via hash-groupBy on a prefix fingerprint: one "
    "shuffle on the fingerprint key, canonical = min id.",
)
def dedup_exact(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return D.exact_dedup_groups(
        d, TX.prefix_fingerprint(F.col("text"), 80)
    ).orderBy("fingerprint")


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SQL_SHINGLES}, {_sql_shingle_cap(D.DEFAULT_MAX_SHINGLE_FREQ)},
    {_sql_jaccard("shc")}
    SELECT doc_a, doc_b, jaccard FROM verified
    ORDER BY doc_a, doc_b
    """,
    doc="Near-dedup by exact 3-gram Jaccard >= 0.8 over an inverted "
    "shingle index (shingle-key join, never the n^2 cross join); "
    "shingles hotter than the default freq cap are dropped so no "
    "single key forms a quadratic block.",
    bench=True,
)
def dedup_ngram_jaccard(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    sh = D.shingles(d)
    return D.jaccard_pairs(sh, threshold=0.8).orderBy("doc_a", "doc_b")


@register(
    "dedup_jaccard_skewed",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, text || ' end of transmission footer' AS text
      FROM documents
    ),
    tok AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM docs),
    sh AS (
      SELECT DISTINCT doc_id AS id, gram AS shingle FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) - 1),
                                     i -> array_to_string(t[i:i+2], ' '))) AS gram
        FROM tok WHERE len(t) >= 3
      )
    ), {_sql_shingle_cap(100)},
    {_sql_jaccard("shc")}
    SELECT doc_a, doc_b, jaccard FROM verified
    ORDER BY doc_a, doc_b
    """,
    doc="Adversarial hot-shingle corpus: every document shares a "
    "boilerplate footer, so uncapped candidate generation is n^2; the "
    "freq cap (100) drops the footer shingles and keeps the join "
    "bounded while true near-dups still verify.",
    bench=True,
)
def dedup_jaccard_skewed(spark, sf_dir):
    d = load(spark, sf_dir, "documents").withColumn(
        "text", F.concat(F.col("text"), F.lit(" end of transmission footer"))
    )
    sh = D.shingles(d)
    return D.jaccard_pairs(sh, threshold=0.8, max_shingle_freq=100).orderBy(
        "doc_a", "doc_b"
    )


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_SQL_SHINGLES}, {_SQL_JACCARD}, {_SQL_MINHASH_SIG}, {_SQL_BANDS},
    cand AS (
      SELECT DISTINCT a.id AS doc_a, b.id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    )
    SELECT c.doc_a, c.doc_b, v.jaccard
    FROM cand c JOIN verified v ON v.doc_a = c.doc_a AND v.doc_b = c.doc_b
    ORDER BY c.doc_a, c.doc_b
    """,
    doc="MinHash(16)+LSH(4x4 bands) candidate generation, exact-Jaccard "
    "verification: shuffle volume O(docs x hashes), independent of doc "
    "length — the 100 TB near-dedup path.",
    bench=True,
)
def dedup_minhash_lsh(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return D.minhash_dedup_pairs(d, threshold=0.8).orderBy("doc_a", "doc_b")


@register(
    "dedup_simhash",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
      FROM documents
    ),
    hashed AS (SELECT doc_id, md5(token) AS h FROM tok),
    bits AS (
      SELECT doc_id, bb.b,
             CASE WHEN ((strpos('0123456789abcdef',
                                substr(h, CAST(bb.b // 4 AS INT) + 1, 1)) - 1)
                        & (1 << (3 - CAST(bb.b % 4 AS INT)))) > 0
                  THEN 1 ELSE 0 END AS bit
      FROM hashed
      CROSS JOIN (SELECT unnest(range(0, 32)) AS b) bb
    ),
    votes AS (
      SELECT doc_id, b, SUM(bit * 2 - 1) AS vote FROM bits GROUP BY doc_id, b
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN vote > 0
                         THEN CAST(1 AS BIGINT) << (31 - CAST(b AS INT))
                         ELSE 0 END) AS BIGINT) AS simhash
    FROM votes
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="32-bit SimHash signatures via portable md5-hex bit votes; "
    "near-dup lookup becomes an equality/Hamming bucket join.",
)
def dedup_simhash(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return D.simhash32(d).orderBy("doc_id")


def _sql_simhash_sig(bits_width: int = 32) -> str:
    """DuckDB mirror of dedup.simhash_sig at a given signature width
    (≤ 60 so the 1<<b never overflows checked int64)."""
    return f"""
    tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
      FROM documents
    ),
    hashed AS (SELECT doc_id, md5(token) AS h FROM tok),
    bits AS (
      SELECT doc_id, bb.b,
             CASE WHEN ((strpos('0123456789abcdef',
                                substr(h, CAST(bb.b // 4 AS INT) + 1, 1)) - 1)
                        & (1 << (3 - CAST(bb.b % 4 AS INT)))) > 0
                  THEN 1 ELSE 0 END AS bit
      FROM hashed
      CROSS JOIN (SELECT unnest(range(0, {bits_width})) AS b) bb
    ),
    votes AS (
      SELECT doc_id, b, SUM(bit * 2 - 1) AS vote FROM bits GROUP BY doc_id, b
    ),
    sig AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN vote > 0
                           THEN CAST(1 AS BIGINT) << ({bits_width - 1} - CAST(b AS INT))
                           ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id
    )
"""


def _sql_hamming_query(bits_width: int, num_bands: int, max_hamming: int) -> str:
    width = bits_width // num_bands
    mask = (1 << width) - 1
    return f"""
    WITH {_sql_simhash_sig(bits_width)},
    bands AS (
      SELECT doc_id, simhash, bb.b AS band,
             (simhash >> ({width} * CAST(bb.b AS INT))) & {mask} AS val
      FROM sig CROSS JOIN (SELECT unnest(range(0, {num_bands})) AS b) bb
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sa, b.simhash AS sb
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.val = b.val
                  AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= {max_hamming}
    ORDER BY doc_a, doc_b
    """


_SQL_SIMHASH_SIG = _sql_simhash_sig(32)


@register(
    "dedup_simhash_hamming",
    oracle=f"""
    WITH {_SQL_SIMHASH_SIG},
    bands AS (
      SELECT doc_id, simhash, bb.b AS band,
             (simhash >> (8 * CAST(bb.b AS INT))) & 255 AS val
      FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bb
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sa, b.simhash AS sb
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.val = b.val
                  AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= 3
    ORDER BY doc_a, doc_b
    """,
    doc="SimHash near-dup pairs at Hamming distance <= 3 via banded "
    "bit-buckets: pigeonhole over 4 disjoint 8-bit bands means every "
    "qualifying pair collides in at least one band, so candidates come "
    "from a hash equi-join on (band, value) — never a signature "
    "cross-product — and bit_count(XOR) verifies only candidates. "
    "Integer-exact end to end, so Spark and DuckDB hash-match.",
)
def dedup_simhash_hamming(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return D.simhash_hamming_pairs(D.simhash32(d)).orderBy("doc_a", "doc_b")


@register(
    "dedup_simhash_hamming60",
    oracle=_sql_hamming_query(bits_width=60, num_bands=4, max_hamming=3),
    doc="The corpus-scale Hamming join: 60-bit SimHash with 4 x 15-bit "
    "bands (32k bucket values per band vs 256 at 32 bits — bucket "
    "population shrinks 128x, so band self-joins stay cheap as the "
    "corpus grows). 60 bits is the widest signature whose band math "
    "stays inside checked int64 on every engine. Same pigeonhole "
    "guarantee and bit_count(XOR) verification as the 32-bit variant.",
)
def dedup_simhash_hamming60(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    sigs = D.simhash_sig(d, bits_width=60)
    return D.simhash_hamming_pairs(sigs, sig_bits=60).orderBy(
        "doc_a", "doc_b"
    )


@register(
    "dedup_components",
    oracle=f"""
    WITH RECURSIVE {_SQL_SHINGLES}, {_SQL_JACCARD},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM verified
      UNION
      SELECT doc_b, doc_a FROM verified
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b != r.a
    )
    SELECT a AS doc_id, least(a, MIN(b)) AS component_id
    FROM reach GROUP BY a
    ORDER BY doc_id
    """,
    doc="Connected components over the near-dup pair graph: union-find "
    "on the driver for post-LSH pair sets up to 100k pairs, label "
    "propagation in Spark above that (O(diameter) rounds, raising when "
    "the round budget runs out); recursive-CTE transitive closure as "
    "oracle.",
)
def dedup_components(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(D.shingles(d), threshold=0.8)
    return D.connected_components(pairs).orderBy("doc_id")


_BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@register(
    "text_bpe_token_counts",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS BIGINT)
             AS n_bpe_tokens,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT)
             AS n_number_tokens
    FROM documents
    ORDER BY doc_id
    """,
    doc="BPE-ish regex token counting (word/number/symbol classes — the "
    "pattern is ASCII-class-only so Java regex and RE2 agree exactly).",
)
def text_bpe_token_counts(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_PATTERN), 0))
        .cast("long")
        .alias("n_bpe_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[0-9]+"), 0))
        .cast("long")
        .alias("n_number_tokens"),
    ).orderBy("doc_id")


# Similarity search -----------------------------------------------------------


@register(
    "ann_cosine_topk",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
    pairs AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
             round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) AS cosine_sim
      FROM n a JOIN n b ON a.vec_id != b.vec_id
    )
    SELECT vec_id, neighbor_id, cosine_sim, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM pairs
    ) t
    WHERE rank <= 5
    ORDER BY vec_id, rank
    """,
    doc="Brute-force cosine top-5 neighbors (exact baseline; rounded "
    "similarity + id tie-break for determinism).",
    scale_note="oracle-only exact baseline: O(n²) self-join by design — "
    "the recall oracle for ann_ivf_topk/ann_lsh_topk, not a scale path",
)
def ann_cosine_topk(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    return S.brute_force_topk(e, k=5).orderBy("vec_id", "rank")


def _lsh_oracle_sql(dim: int = 64, num_planes: int = 6) -> str:
    """DuckDB mirror of lsh_topk — the hyperplanes are deterministic
    md5-parity constants, so they embed as literals."""
    planes = S.hyperplanes(dim, num_planes)
    values = ", ".join(
        "({p}, [{vals}])".format(
            p=p, vals=", ".join(f"{v:.1f}" for v in row)
        )
        for p, row in enumerate(planes)
    )
    return f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    planes(p, plane) AS (VALUES {values}),
    bits AS (
      SELECT vec_id, p,
             CASE WHEN round(list_dot_product(e, plane), 6) > 0
                  THEN '1' ELSE '0' END AS bit
      FROM v CROSS JOIN planes
    ),
    buckets AS (
      SELECT vec_id, string_agg(bit, '' ORDER BY p) AS bucket
      FROM bits GROUP BY vec_id
    ),
    n AS (
      SELECT v.vec_id, e, sqrt(list_dot_product(e, e)) AS nrm, bucket
      FROM v JOIN buckets USING (vec_id)
    ),
    pairs AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
             round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) AS cosine_sim
      FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id != b.vec_id
    )
    SELECT vec_id, neighbor_id, cosine_sim, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM pairs
    ) t
    WHERE rank <= 5
    ORDER BY vec_id, rank
    """


@register(
    "ann_lsh_topk",
    oracle=_lsh_oracle_sql(),
    doc="LSH-bucketed cosine top-k: deterministic md5-derived "
    "hyperplane signs; per-bucket joins replace the n^2 pair space.",
    bench=True,
)
def ann_lsh_topk(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    # testdata embeddings are fixed 64-dim (see embedding_centroids
    # oracle); passing dim skips the one-row driver probe action
    return S.lsh_topk(e, k=5, dim=64).orderBy("vec_id", "rank")


def _cosine_pairs_oracle_sql(
    threshold: float = 0.4, dim: int = 64, num_planes: int = 6
) -> str:
    """DuckDB mirror of cosine_pairs — same deterministic hyperplane
    buckets, pair filter instead of top-k."""
    planes = S.hyperplanes(dim, num_planes)
    values = ", ".join(
        "({p}, [{vals}])".format(p=p, vals=", ".join(f"{v:.1f}" for v in row))
        for p, row in enumerate(planes)
    )
    return f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    planes(p, plane) AS (VALUES {values}),
    bits AS (
      SELECT vec_id, p,
             CASE WHEN round(list_dot_product(e, plane), 6) > 0
                  THEN '1' ELSE '0' END AS bit
      FROM v CROSS JOIN planes
    ),
    buckets AS (
      SELECT vec_id, string_agg(bit, '' ORDER BY p) AS bucket
      FROM bits GROUP BY vec_id
    ),
    n AS (
      SELECT v.vec_id, e, sqrt(list_dot_product(e, e)) AS nrm, bucket
      FROM v JOIN buckets USING (vec_id)
    )
    SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
           round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) AS cosine_sim
    FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) >= {threshold}
    ORDER BY doc_a, doc_b
    """


@register(
    "dedup_embedding_cosine",
    oracle=_cosine_pairs_oracle_sql(),
    doc="Embedding-cosine near-dup pairs: deterministic hyperplane-LSH "
    "buckets confine the candidate join, exact rounded cosine verifies "
    "against the threshold — the semantic-dedup path for embedded "
    "corpora (bucket-local join, never n²).",
)
def dedup_embedding_cosine(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    return S.cosine_pairs(e, threshold=0.4, dim=64).orderBy("doc_a", "doc_b")


_SEM_CELLS = 16
_SEM_TAU = 0.45


@register(
    "dedup_semantic",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    seeds AS (
      SELECT vec_id AS centroid_id, e AS ce FROM v
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {_SEM_CELLS}
    ),
    n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
    cn AS (
      SELECT centroid_id, ce, sqrt(list_dot_product(ce, ce)) AS cnrm FROM seeds
    ),
    scored AS (
      SELECT n.vec_id, cn.centroid_id, n.e, n.nrm,
             round(list_dot_product(n.e, cn.ce) / (n.nrm * cn.cnrm), 6) AS sim
      FROM n CROSS JOIN cn
    ),
    assign AS (
      SELECT vec_id, centroid_id, e, nrm, sim FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS crank
        FROM scored
      ) t WHERE crank = 1
    ),
    dropped AS (
      SELECT DISTINCT a.vec_id AS dropped_id
      FROM assign a JOIN assign b
        ON a.centroid_id = b.centroid_id AND a.vec_id != b.vec_id
       AND (b.sim < a.sim OR (b.sim = a.sim AND b.vec_id < a.vec_id))
      WHERE round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) >= {_SEM_TAU}
    )
    SELECT a.vec_id, a.centroid_id AS cell, a.sim AS centroid_sim,
           CAST(CASE WHEN d.dropped_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
    FROM assign a LEFT JOIN dropped d ON a.vec_id = d.dropped_id
    ORDER BY a.vec_id
    """,
    doc="SemDeDup semantic dedup (Abbas et al. 2023): deterministic "
    "seed-centroid clustering, within-cluster cosine near-dup pairs, "
    "keep the farthest-from-centroid representative. The quadratic "
    "term is bounded by cell size (Σ cell², never n²).",
)
def dedup_semantic(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    return S.semdedup(e, n_cells=_SEM_CELLS, tau=_SEM_TAU).orderBy("vec_id")


_IVF_CELLS = 64
_IVF_NPROBE = 4

# IVF top-k CTE chain (shared by ann_ivf_topk and ann_mutual_topk):
# deterministic md5-seeded centroids → cell assignment → nprobe-cell
# candidate join → per-query rank. `ivf_topk` CTE ends at rank <= 5.
_SQL_IVF_TOPK = f"""
    v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    seeds AS (
      SELECT vec_id AS centroid_id, e AS ce FROM v
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {_IVF_CELLS}
    ),
    n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
    cn AS (
      SELECT centroid_id, ce, sqrt(list_dot_product(ce, ce)) AS cnrm FROM seeds
    ),
    scored AS (
      SELECT n.vec_id, cn.centroid_id, n.e, n.nrm,
             round(list_dot_product(n.e, cn.ce) / (n.nrm * cn.cnrm), 6) AS sim
      FROM n CROSS JOIN cn
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS crank
      FROM scored
    ),
    assign AS (
      SELECT vec_id AS cand_id, centroid_id AS cell, e AS cand_e,
             nrm AS cand_nrm
      FROM ranked WHERE crank = 1
    ),
    probes AS (
      SELECT vec_id, centroid_id AS cell, e AS q_e, nrm AS q_nrm
      FROM ranked WHERE crank <= {_IVF_NPROBE}
    ),
    cand AS (
      SELECT p.vec_id, a.cand_id AS neighbor_id,
             round(list_dot_product(p.q_e, a.cand_e)
                   / (p.q_nrm * a.cand_nrm), 6) AS cosine_sim
      FROM probes p JOIN assign a ON a.cell = p.cell AND a.cand_id != p.vec_id
    ),
    ivf_topk AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY cosine_sim DESC, neighbor_id) AS rank
        FROM cand
      ) t
      WHERE rank <= 5
    )
"""


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH {_SQL_IVF_TOPK}
    SELECT vec_id, neighbor_id, cosine_sim, CAST(rank AS INT) AS rank
    FROM ivf_topk
    ORDER BY vec_id, rank
    """,
    doc="IVF-style ANN: deterministic md5-seeded coarse centroids, "
    "one-pass cell assignment (broadcast join), nprobe-cell probing — "
    "the learned-index scale path where probe cost is n/cells·nprobe.",
    bench=True,
)
def ann_ivf_topk(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    return S.ivf_topk(
        e, k=5, n_cells=_IVF_CELLS, nprobe=_IVF_NPROBE
    ).orderBy("vec_id", "rank")


@register(
    "dedup_keep_canonical",
    oracle=f"""
    WITH {_SQL_SHINGLES}, {_SQL_JACCARD}
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_b FROM verified)
    ORDER BY d.doc_id
    """,
    doc="Dedup materialization: keep-first canonical selection via "
    "anti-join against the near-dup pair set (the production shape: "
    "corpus LEFT ANTI JOIN dup-ids).",
)
def dedup_keep_canonical(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    sh = D.shingles(d)
    dups = D.jaccard_pairs(sh, threshold=0.8).select("doc_b").distinct()
    return (
        d.join(dups, d.doc_id == dups.doc_b, "left_anti")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


@register(
    "embedding_centroids",
    oracle="""
    WITH v AS (
      SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    )
    SELECT label, CAST(i AS INT) AS pos,
           CAST(SUM(CAST(CAST(e[i + 1] AS VARCHAR) AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)
             AS centroid
    FROM v CROSS JOIN (SELECT unnest(range(0, 64)) AS i) dims
    GROUP BY label, i
    ORDER BY label, pos
    """,
    doc="Per-label embedding centroids (the IVF-training primitive): "
    "posexplode + exact decimal mean per dimension — array aggregation "
    "without Python.",
)
def embedding_centroids(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    # embeddings are fixed 64-dim (oracle mirrors range(0,64))
    exploded = e.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    )
    return (
        exploded.groupBy("label", F.col("pos").cast("int").alias("pos"))
        .agg(
            (
                F.sum(
                    F.col("val").cast("double").cast("decimal(18,9)")
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("centroid")
        )
        .orderBy("label", "pos")
    )


# Text analysis ---------------------------------------------------------------


@register(
    "text_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, n_chars, {_SQL_TOKENS} AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_actual,
           n_chars AS n_chars_declared,
           CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
             / len(toks) AS avg_word_len,
           CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1) AS digit_ratio
    FROM t
    ORDER BY doc_id
    """,
    doc="Token counting + basic text statistics, all JVM-side Column "
    "expressions (no Python UDFs).",
)
def text_stats(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    c = F.col("text")
    return d.select(
        "doc_id",
        TX.token_count(c).cast("long").alias("n_tokens"),
        F.length(c).cast("long").alias("n_chars_actual"),
        F.col("n_chars").alias("n_chars_declared"),
        TX.avg_word_len(c).alias("avg_word_len"),
        TX.digit_ratio(c).alias("digit_ratio"),
    ).orderBy("doc_id")


_PII_EMAIL = TX.PII_PATTERNS["email"][0]
_PII_PHONE = TX.PII_PATTERNS["phone"][0]
_PII_IP = TX.PII_PATTERNS["ipv4"][0]


@register(
    "text_pii_redact",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or call +628'
                  || lpad(CAST(doc_id AS VARCHAR), 8, '0')
                  || ' from 10.0.' || CAST(doc_id % 200 AS VARCHAR)
                  || '.' || CAST(doc_id % 250 AS VARCHAR) AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(t, '{_PII_IP}')) AS BIGINT) AS n_ips,
           regexp_replace(regexp_replace(regexp_replace(t,
               '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g'),
               '{_PII_IP}', '<IP>', 'g') AS redacted
    FROM aug
    ORDER BY doc_id
    """,
    doc="PII scrubbing: count + redact emails/phones/IPv4s with "
    "RE2-compatible regexes identical on both engines (no lookaround). "
    "The synthetic corpus carries no organic PII, so deterministic "
    "doc_id-derived PII is injected first — counts and redacted text "
    "are nonzero and oracle-checked. Pure Column regexp ops; at scale "
    "this is a map-only stage, no shuffle at all.",
)
def text_pii_redact(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call +628"),
        F.lpad(F.col("doc_id").cast("string"), 8, "0"),
        F.lit(" from 10.0."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit("."),
        (F.col("doc_id") % 250).cast("string"),
    )
    return d.select(
        "doc_id",
        TX.pii_count(t, "email").cast("long").alias("n_emails"),
        TX.pii_count(t, "phone").cast("long").alias("n_phones"),
        TX.pii_count(t, "ipv4").cast("long").alias("n_ips"),
        TX.redact_pii(t).alias("redacted"),
    ).orderBy("doc_id")


@register(
    "text_unigram_logprob",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
      FROM documents
    ),
    tf AS (SELECT term, COUNT(*) AS tf FROM tok GROUP BY term),
    tot AS (SELECT COUNT(*) AS n FROM tok),
    w AS (
      SELECT t.doc_id,
             round(ln(CAST(tf.tf AS DOUBLE) / tot.n), 6) AS lp
      FROM tok t JOIN tf USING (term) CROSS JOIN tot
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           round({o_dsum('lp')} / COUNT(*), 6) AS avg_logprob
    FROM w GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Corpus unigram LM surprisal: per-doc mean log-probability of "
    "its tokens under the corpus unigram distribution — the classic "
    "cheap quality/outlier signal (low avg logprob = rare-token-heavy "
    "docs). The term-frequency table is vocabulary-sized, the total is "
    "a 1-row broadcast, and the only corpus-scale shuffle is the "
    "term-key join; per-term logprobs round at 6 and accumulate in "
    "DECIMAL so the mean is order-independent (bit-exact vs oracle).",
)
def text_unigram_logprob(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(TX.tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = tok.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    tot = tok.agg(F.count(F.lit(1)).alias("n"))
    w = (
        tok.join(tf, "term")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.round(
                F.log(F.col("tf").cast("double") / F.col("n")), 6
            ).alias("lp"),
        )
    )
    return (
        w.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(dsum(F.col("lp")) / F.count(F.lit(1)), 6).alias(
                "avg_logprob"
            ),
        )
        .orderBy("doc_id")
    )


_BIGRAM_LAMBDA = 0.7
# 1-lambda as an exact literal: `1 - 0.7` is 0.30000000000000004 in
# IEEE double, and the oracle SQL must multiply by the SAME constant
_BIGRAM_BACKOFF = 0.3
_BIGRAM_MIN_COUNT = 2


@register(
    "text_bigram_logprob",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t) + 1),
               i -> struct_pack(
                 prev := CASE WHEN i > 1 THEN t[i-1] ELSE NULL END,
                 cur := t[i])), recursive := true)
      FROM tok
    ),
    tf AS (SELECT cur AS w, COUNT(*) AS tf FROM g GROUP BY cur),
    tot AS (SELECT COUNT(*) AS n FROM g),
    cf AS (
      SELECT prev AS v, COUNT(*) AS cf FROM g
      WHERE prev IS NOT NULL GROUP BY prev
    ),
    cb AS (
      SELECT prev, cur, COUNT(*) AS cb FROM g
      WHERE prev IS NOT NULL GROUP BY prev, cur
      HAVING COUNT(*) >= {_BIGRAM_MIN_COUNT}
    ),
    rb AS (
      SELECT cb.prev, cb.cur, CAST(cb.cb AS DOUBLE) / cf.cf AS ratio
      FROM cb JOIN cf ON cf.v = cb.prev
    ),
    w AS (
      SELECT g.doc_id,
             round(ln({_BIGRAM_LAMBDA} * coalesce(rb.ratio, 0)
                      + {_BIGRAM_BACKOFF}
                      * CAST(tf.tf AS DOUBLE) / tot.n), 6) AS lp
      FROM g JOIN tf ON tf.w = g.cur
      LEFT JOIN rb ON rb.prev = g.prev AND rb.cur = g.cur
      CROSS JOIN tot
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           round({o_dsum('lp')} / COUNT(*), 6) AS avg_logprob
    FROM w GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Interpolated bigram LM surprisal (the CCNet/Wenzek et al. "
    "2020 cheap-LM quality signal, one order up from the unigram "
    "score): per-token p = lambda*p(w|prev) + (1-lambda)*p(w), with "
    "the first token scored unigram-only and bigrams below a "
    "min-count pruned from the model (lookup miss backs off to the "
    "unigram term). Scale shape: the gram stream is per-row array "
    "math (no window, no self-join); unigram and continuation tables "
    "are vocabulary-sized and the PRUNED bigram table is what keeps "
    "the pair model broadcastable at web scale — raise min_count as "
    "the corpus grows, exactly how production LM filters bound their "
    "tables. All model joins broadcast; the only corpus-scale "
    "shuffle is the per-doc rollup. Per-token logs round at 6dp and "
    "accumulate in DECIMAL — bit-exact vs the oracle.",
    bench=True,
)
def text_bigram_logprob(spark, sf_dir):
    from optimus_any2any_spark.operators.util import ensure_parallelism

    # tokenize+explode is CPU-bound per row; a one-file table must not
    # single-thread it (no-op at real scale — partition-count check)
    d = ensure_parallelism(load(spark, sf_dir, "documents"), "doc_id")
    t = TX.tokens(F.lower(F.col("text")))
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t)),
        lambda i: F.struct(
            F.when(i > 1, F.element_at(t, i - 1)).alias("prev"),
            F.element_at(t, i).alias("cur"),
        ),
    )
    # the gram stream feeds FIVE consumers (tf/tot/cf/cb and the
    # scoring join) — without persist each one re-tokenizes and
    # re-explodes the corpus (this + input parallelization + the
    # ratio-table fold: 9.9s -> 1.4s at sf0.1)
    g = d.select("doc_id", F.explode(grams).alias("g")).select(
        "doc_id", F.col("g.prev").alias("prev"), F.col("g.cur").alias("cur")
    ).persist()
    tf = g.groupBy("cur").agg(F.count(F.lit(1)).alias("tf"))
    tot = g.agg(F.count(F.lit(1)).alias("n"))
    cf = (
        g.filter(F.col("prev").isNotNull())
        .groupBy("prev")
        .agg(F.count(F.lit(1)).alias("cf"))
        .withColumnRenamed("prev", "v")
    )
    cb = (
        g.filter(F.col("prev").isNotNull())
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("cb"))
        .filter(F.col("cb") >= _BIGRAM_MIN_COUNT)
        .withColumnRenamed("prev", "bv")
        .withColumnRenamed("cur", "bw")
    )
    lam, bk = _BIGRAM_LAMBDA, _BIGRAM_BACKOFF
    # fold cb/cf into ONE ratio table on the (vocab-bounded) aggregates
    # so the corpus-scale gram stream pays two broadcast joins, not
    # three; the per-pair division happens once per distinct bigram
    rb = cb.join(F.broadcast(cf), F.col("bv") == F.col("v")).select(
        "bv", "bw", (F.col("cb").cast("double") / F.col("cf")).alias("ratio")
    )
    w = (
        g.join(F.broadcast(tf), "cur")
        .join(
            F.broadcast(rb),
            (F.col("prev") == F.col("bv")) & (F.col("cur") == F.col("bw")),
            "left",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.round(
                F.log(
                    F.lit(lam) * F.coalesce(F.col("ratio"), F.lit(0.0))
                    + F.lit(bk)
                    * F.col("tf").cast("double")
                    / F.col("n")
                ),
                6,
            ).alias("lp"),
        )
    )
    return (
        w.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(dsum(F.col("lp")) / F.count(F.lit(1)), 6).alias(
                "avg_logprob"
            ),
        )
        .orderBy("doc_id")
    )


def _sql_lang_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in TX.LANG_STOPWORDS[lang])
    return (
        f"len(list_filter({_SQL_TOKENS.replace('text', 'lower(text)')}, "
        f"x -> list_contains([{words}], x)))"
    )


@register(
    "text_lang_quality",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang AS lang_declared, text,
             {_sql_lang_hits('en')} AS s_en,
             {_sql_lang_hits('de')} AS s_de,
             {_sql_lang_hits('fr')} AS s_fr,
             {_sql_lang_hits('es')} AS s_es,
             CAST(len({_SQL_TOKENS}) AS DOUBLE) AS n_tok,
             CAST({_sql_lang_hits('en')} AS DOUBLE)
               / len({_SQL_TOKENS}) AS stop_ratio,
             CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
               / greatest(length(text), 1) AS digit_r,
             CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)
               / greatest(length(text), 1) AS punct_r
      FROM documents
    )
    SELECT doc_id, lang_declared,
           CASE WHEN s_en = greatest(s_en, s_de, s_fr, s_es) AND s_en > 0 THEN 'en'
                WHEN s_de = greatest(s_en, s_de, s_fr, s_es) AND s_de > 0 THEN 'de'
                WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) AND s_fr > 0 THEN 'fr'
                WHEN s_es = greatest(s_en, s_de, s_fr, s_es) AND s_es > 0 THEN 'es'
                ELSE 'unknown' END AS predicted_lang,
           round(stop_ratio, 6) AS stopword_ratio,
           round(least(n_tok / 200.0, 1.0) * 0.3
                 + least(stop_ratio * 4.0, 1.0) * 0.4
                 + greatest(0.0, 1.0 - digit_r * 5.0 - punct_r * 5.0) * 0.3,
                 6) AS quality_score
    FROM scored
    ORDER BY doc_id
    """,
    doc="Language-ID (stopword-hit argmax heuristic) + quality scoring "
    "(length/stopword/noise mix — C4/Gopher-style cheap prefilter).",
)
def text_lang_quality(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    c = F.col("text")
    return d.select(
        "doc_id",
        F.col("lang").alias("lang_declared"),
        TX.predicted_lang(c).alias("predicted_lang"),
        F.round(TX.stopword_ratio(c), 6).alias("stopword_ratio"),
        F.round(TX.quality_score(c), 6).alias("quality_score"),
    ).orderBy("doc_id")


@register(
    "doc_fingerprints",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
           md5(substr(text, 1, 80)) AS prefix_fp
    FROM documents
    ORDER BY doc_id
    """,
    doc="Document fingerprinting: md5 over whitespace-normalized "
    "lowercase text + head fingerprint.",
)
def doc_fingerprints(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    c = F.col("text")
    return d.select(
        "doc_id",
        TX.fingerprint(c).alias("fingerprint"),
        TX.prefix_fingerprint(c, 80).alias("prefix_fp"),
    ).orderBy("doc_id")


_SQL_GOPHER_STOP_HITS = " + ".join(
    f"CASE WHEN list_contains(ltoks, '{w}') THEN 1 ELSE 0 END"
    for w in TX.QUALITY_STOPWORDS
)

_GOPHER_RULE_SQL = {
    "r_word_count": "wc BETWEEN 30 AND 80",
    "r_mean_word_len": "2 * sum_len >= 7 * wc AND sum_len <= 5 * wc",
    "r_symbol_ratio": "10 * (n_hash + n_ell) <= wc",
    "r_alpha_ratio": "5 * n_alpha >= 4 * wc",
    "r_stopwords": "stop_hits >= 2",
    "r_unique_ratio": "2 * dwc >= wc",
}


@register(
    "quality_gopher_rules",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text,
             {_SQL_TOKENS} AS toks,
             {_SQL_TOKENS.replace('text', 'lower(text)')} AS ltoks
      FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS wc,
             CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
               AS sum_len,
             CAST(len(list_distinct(toks)) AS BIGINT) AS dwc,
             CAST(len(list_filter(toks,
                  x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
             CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
               AS n_hash,
             CAST((length(text) - length(replace(text, '...', ''))) / 3
                  AS BIGINT) AS n_ell,
             ({_SQL_GOPHER_STOP_HITS}) AS stop_hits
      FROM t
    ), r AS (
      SELECT doc_id,
             {', '.join(f"({sql}) AS {name}"
                        for name, sql in _GOPHER_RULE_SQL.items())}
      FROM m
    )
    SELECT doc_id, {', '.join(_GOPHER_RULE_SQL)},
           ({' AND '.join(_GOPHER_RULE_SQL)}) AS passes,
           CAST({' + '.join(f'CASE WHEN {n} THEN 0 ELSE 1 END'
                            for n in _GOPHER_RULE_SQL)} AS INTEGER)
             AS n_failed,
           COALESCE(array_to_string(list_filter([
               {', '.join(f"CASE WHEN NOT {n} THEN '{n}' END"
                          for n in _GOPHER_RULE_SQL)}
           ], x -> x IS NOT NULL), ','), '') AS reasons
    FROM r
    ORDER BY doc_id
    """,
    doc="Gopher-style composite quality-rule filter (Rae et al. 2021 "
    "app. A): word-count bounds, mean-word-length bounds, symbol "
    "ratio, alphabetic-word ratio, stopword presence, unique-word "
    "(repetition) ratio — each reported per-document with the failed "
    "rule names, the production shape for explainable corpus pruning. "
    "Every threshold is cross-multiplied integer arithmetic so both "
    "engines agree bit-for-bit; pure Column expressions, map-only at "
    "scale (zero shuffle).",
)
def quality_gopher_rules(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    rules = TX.gopher_rules(F.col("text"))
    names = list(rules)
    passes = None
    n_failed = None
    for n in names:
        passes = rules[n] if passes is None else passes & rules[n]
        bad = (~rules[n]).cast("int")
        n_failed = bad if n_failed is None else n_failed + bad
    reasons = F.concat_ws(
        ",",
        F.filter(
            F.array(*[F.when(~rules[n], F.lit(n)) for n in names]),
            lambda x: x.isNotNull(),
        ),
    )
    return d.select(
        "doc_id",
        *[rules[n].alias(n) for n in names],
        passes.alias("passes"),
        n_failed.cast("int").alias("n_failed"),
        reasons.alias("reasons"),
    ).orderBy("doc_id")


@register(
    "split_train_valid_test",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
               AS fingerprint
      FROM documents
    ), b AS (
      SELECT doc_id, fingerprint,
             list_reduce(list_transform(range(1, 8),
               p -> CAST(strpos('0123456789abcdef',
                                substr(md5(fingerprint), p, 1)) - 1
                    AS BIGINT)),
               (a, b) -> a * 16 + b) % 100 AS bucket
      FROM fp
    )
    SELECT doc_id, fingerprint, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'valid'
                ELSE 'test' END AS split
    FROM b
    ORDER BY doc_id
    """,
    doc="Deterministic 80/10/10 train/valid/test assignment keyed on "
    "the CONTENT fingerprint (md5 of whitespace-normalized lowercase "
    "text), not the doc id — byte-identical documents provably land "
    "in the same split, closing the exact-dup train/test leakage "
    "channel. Portable md5-fold bucketing (same digits both engines); "
    "map-only at scale, no shuffle, and stable under re-partitioning "
    "or re-ingestion since the key derives from content alone.",
)
def split_train_valid_test(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    fp = TX.fingerprint(F.col("text"))
    bucket = TX.split_bucket(fp, 100)
    return d.select(
        "doc_id",
        fp.alias("fingerprint"),
        bucket.alias("bucket"),
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("valid"))
        .otherwise(F.lit("test"))
        .alias("split"),
    ).orderBy("doc_id")


@register(
    "split_leakage_audit",
    oracle=f"""
    WITH {_SQL_SHINGLES}, {_sql_shingle_cap(D.DEFAULT_MAX_SHINGLE_FREQ)},
    sizes AS (SELECT id, COUNT(*) AS set_size FROM shc GROUP BY id),
    inter AS (
      SELECT a.id AS doc_a, b.id AS doc_b, COUNT(*) AS n_common
      FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b,
             round(CAST(n_common AS DOUBLE) /
                   (sa.set_size + sb.set_size - n_common), 4) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.id = doc_a
      JOIN sizes sb ON sb.id = doc_b
      WHERE round(CAST(n_common AS DOUBLE) /
                  (sa.set_size + sb.set_size - n_common), 4) >= 0.8
    ),
    fp AS (
      SELECT doc_id,
             list_reduce(list_transform(range(1, 8),
               p -> CAST(strpos('0123456789abcdef', substr(md5(
                      md5(lower(trim(regexp_replace(text, '\\s+', ' ',
                      'g'))))), p, 1)) - 1 AS BIGINT)),
               (a, b) -> a * 16 + b) % 100 AS bucket
      FROM documents
    ),
    assign AS (
      SELECT doc_id,
             CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'valid'
                  ELSE 'test' END AS split
      FROM fp
    )
    SELECT p.doc_a, p.doc_b, p.jaccard,
           sa.split AS split_a, sb.split AS split_b,
           (sa.split <> sb.split) AS leaks
    FROM pairs p
    JOIN assign sa ON sa.doc_id = p.doc_a
    JOIN assign sb ON sb.doc_id = p.doc_b
    ORDER BY p.doc_a, p.doc_b
    """,
    doc="Cross-split leakage audit: content-keyed splitting provably "
    "co-assigns EXACT duplicates, but NEAR-duplicates (Jaccard >= "
    "0.8) can still straddle train/test — each such pair leaks "
    "evaluation signal. Joins the verified near-dup pair set to the "
    "deterministic split assignment and flags straddling pairs — the "
    "audit every eval pipeline should run before trusting held-out "
    "numbers. Scale: the pair set is LSH-bounded and tiny relative to "
    "the corpus; the assignment join is two broadcast-size hash joins "
    "on doc ids.",
)
def split_leakage_audit(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    sh = D.shingles(d)
    pairs = D.jaccard_pairs(sh, threshold=0.8)
    fp = TX.fingerprint(F.col("text"))
    bucket = TX.split_bucket(fp, 100)
    assign = d.select(
        "doc_id",
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("valid"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    sa = assign.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
        "split", "split_a"
    )
    sb = assign.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
        "split", "split_b"
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            "split_a",
            "split_b",
            (F.col("split_a") != F.col("split_b")).alias("leaks"),
        )
        .orderBy("doc_a", "doc_b")
    )


@register(
    "mix_source_kl_divergence",
    oracle=f"""
    WITH tok AS (
      SELECT source,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
      FROM documents
    ),
    st AS (SELECT source, term, COUNT(*) AS c_st FROM tok GROUP BY 1, 2),
    t AS (SELECT term, SUM(c_st) AS c_t FROM st GROUP BY term),
    ns AS (SELECT source, SUM(c_st) AS n_s FROM st GROUP BY source),
    tot AS (SELECT SUM(c_st) AS n FROM st),
    contrib AS (
      SELECT st.source,
             round((CAST(c_st AS DOUBLE) / n_s)
                   * ln((CAST(c_st AS DOUBLE) * n)
                        / (CAST(c_t AS DOUBLE) * n_s)), 9) AS kl_term
      FROM st JOIN t USING (term) JOIN ns USING (source) CROSS JOIN tot
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           round({o_dsum('kl_term')}, 6) AS kl_to_corpus
    FROM contrib
    GROUP BY source
    ORDER BY source
    """,
    doc="Per-source KL divergence to the corpus unigram distribution — "
    "the data-mixing diagnostic (which sources are distributionally "
    "far from the blend they feed): KL(P_source || P_corpus) = "
    "sum_w P_s(w) ln(P_s(w)/Q(w)). Cross-engine exactness: both "
    "engines evaluate the IDENTICAL IEEE expression per term (same "
    "multiplication/division shape), round at 9, and accumulate in "
    "DECIMAL so the per-source sum is order-independent. Scale shape: "
    "one (source, term) aggregate over the token explode, a "
    "vocabulary-sized term join, broadcast per-source totals — the "
    "corpus never crosses more than the one token-key exchange.",
)
def mix_source_kl_divergence(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(TX.tokens(F.lower(F.col("text")))).alias("term")
    )
    st = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c_st"))
    t = st.groupBy("term").agg(F.sum("c_st").alias("c_t"))
    ns = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    tot = st.agg(F.sum("c_st").alias("n"))
    contrib = (
        st.join(t, "term")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.round(
                (F.col("c_st").cast("double") / F.col("n_s"))
                * F.log(
                    (F.col("c_st").cast("double") * F.col("n"))
                    / (F.col("c_t").cast("double") * F.col("n_s"))
                ),
                9,
            ).alias("kl_term"),
        )
    )
    return (
        contrib.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("vocab"),
            F.round(dsum(F.col("kl_term")), 6).alias("kl_to_corpus"),
        )
        .orderBy("source")
    )


@register(
    "dedup_containment",
    oracle=f"""
    WITH {_SQL_SHINGLES}, {_sql_shingle_cap(D.DEFAULT_MAX_SHINGLE_FREQ)},
    sizes AS (SELECT id, COUNT(*) AS set_size FROM shc GROUP BY id),
    inter AS (
      SELECT a.id AS doc_a, b.id AS doc_b, COUNT(*) AS n_common
      FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(n_common AS DOUBLE) / sa.set_size, 4) AS c_ab,
           round(CAST(n_common AS DOUBLE) / sb.set_size, 4) AS c_ba
    FROM inter
    JOIN sizes sa ON sa.id = doc_a
    JOIN sizes sb ON sb.id = doc_b
    WHERE greatest(round(CAST(n_common AS DOUBLE) / sa.set_size, 4),
                   round(CAST(n_common AS DOUBLE) / sb.set_size, 4)) >= 0.9
    ORDER BY doc_a, doc_b
    """,
    doc="Asymmetric containment |A∩B|/|A| — the quote/boilerplate "
    "superset detector: a small document nearly contained in a large "
    "one scores high here while its Jaccard stays low (size imbalance "
    "sinks the union ratio), the near-dup class Jaccard dedup misses. "
    "Same scale shape as the capped Jaccard path: one posting-list "
    "shuffle with cap^2-bounded pair expansion, one pair-key "
    "aggregate; sizes shrink consistently with the cap on both sides "
    "of the ratio.",
)
def dedup_containment(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    sh = D.shingles(d)
    return D.containment_pairs(sh, threshold=0.9).orderBy(
        "doc_a", "doc_b"
    )


@register(
    "url_normalize_domain_stats",
    oracle="""
    WITH src AS (
      SELECT doc_id,
             'https://WWW.Domain' || CAST(doc_id % 50 AS VARCHAR)
               || '.COM:443/Path/' || CAST(doc_id % 10 AS VARCHAR)
               || '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR)
               || '&b=2&a=1' AS url
      FROM documents
    ), parsed AS (
      SELECT doc_id,
             lower(regexp_extract(url, '^https?://([^/:?]+)', 1)) AS host,
             regexp_extract(url, '^[a-z]+://[^/?]+(/[^?]*)', 1) AS path,
             array_to_string(list_sort(list_filter(
               string_split(regexp_extract(url, '\\?(.*)$', 1), '&'),
               p -> NOT starts_with(p, 'utm_'))), '&') AS q
      FROM src
    ), canon AS (
      SELECT doc_id,
             regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS domain,
             host || path || CASE WHEN q = '' THEN '' ELSE '?' || q END
               AS canonical_url
      FROM parsed
    ), flagged AS (
      SELECT doc_id, domain, canonical_url,
             (list_reduce(list_transform(range(1, 8),
               p -> CAST(strpos('0123456789abcdef',
                                substr(md5(domain), p, 1)) - 1 AS BIGINT)),
               (a, b) -> a * 16 + b) % 7) = 0 AS blocked
      FROM canon
    ), stats AS (
      SELECT domain, CAST(COUNT(*) AS BIGINT) AS domain_docs
      FROM flagged GROUP BY domain
    )
    SELECT f.doc_id, f.canonical_url, f.domain, f.blocked, s.domain_docs
    FROM flagged f JOIN stats s USING (domain)
    ORDER BY f.doc_id
    """,
    doc="URL curation (the RefinedWeb/CCNet ingest step): canonicalize "
    "(lowercase host, strip default port, drop utm_* tracking params, "
    "sort the query string), extract the registered domain, flag "
    "blocklisted domains via the portable md5-fold hash (a stand-in "
    "for the blocklist broadcast-semi-join), and attach per-domain "
    "document counts. The synthetic corpus has no URL column, so "
    "deterministic doc_id-derived URLs are injected first (the "
    "text_pii_redact precedent). Both engines use the same regex "
    "parser (no parse_url vs regex divergence); the only shuffle at "
    "scale is the domain-count aggregate, which re-joins on the "
    "domain key.",
)
def url_normalize_domain_stats(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://WWW.Domain"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit(".COM:443/Path/"),
        (F.col("doc_id") % 10).cast("string"),
        F.lit("?utm_source=feed&id="),
        F.col("doc_id").cast("string"),
        F.lit("&b=2&a=1"),
    )
    host = F.lower(F.regexp_extract(url, r"^https?://([^/:?]+)", 1))
    path = F.regexp_extract(url, r"^[a-z]+://[^/?]+(/[^?]*)", 1)
    q = F.array_join(
        F.sort_array(
            F.filter(
                F.split(F.regexp_extract(url, r"\?(.*)$", 1), "&", -1),
                lambda p: ~p.startswith("utm_"),
            )
        ),
        "&",
    )
    domain = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    canonical = F.concat(
        host, path, F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q))
    )
    flagged = d.select(
        "doc_id",
        canonical.alias("canonical_url"),
        domain.alias("domain"),
        (TX.split_bucket(domain, 7) == 0).alias("blocked"),
    )
    stats = flagged.groupBy("domain").agg(
        F.count(F.lit(1)).cast("long").alias("domain_docs")
    )
    return (
        flagged.join(F.broadcast(stats), "domain")
        .select("doc_id", "canonical_url", "domain", "blocked", "domain_docs")
        .orderBy("doc_id")
    )


@register(
    "embedding_quantize_int8",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), m AS (
      SELECT vec_id, e, list_min(e) AS mn, list_max(e) AS mx FROM v
    ), c AS (
      SELECT vec_id, e, mn, mx,
             list_transform(e, x -> CASE WHEN mx = mn THEN 0
               ELSE CAST(round((x - mn) * 255.0 / (mx - mn)) AS INTEGER)
               END) AS codes
      FROM m
    ), err AS (
      SELECT vec_id, mn, mx, codes,
             list_transform(range(1, len(e) + 1),
               i -> round(abs(e[i] - (mn + CAST(codes[i] AS DOUBLE)
                              * (mx - mn) / 255.0)), 9)) AS errs
      FROM c
    )
    SELECT vec_id, mn AS qmin, mx AS qmax,
           md5(array_to_string(codes, ',')) AS codes_fp,
           round(CAST(list_reduce(list_transform(errs,
                   x -> CAST(x AS DECIMAL(28,9))),
                   (a, b) -> CAST(a + b AS DECIMAL(28,9)))
                 AS DOUBLE) / len(errs), 6) AS mae
    FROM err
    ORDER BY vec_id
    """,
    doc="Int8 scalar quantization of the embedding table (FAISS SQ8): "
    "4x smaller vector storage for corpus-scale ANN, verified "
    "bit-exact — float->double promotion is exact, both engines "
    "compute the identical IEEE quantization expression, and the "
    "integer codes are fingerprinted (md5 of the joined code string) "
    "so the oracle checks every dimension of every vector. "
    "Reconstruction MAE rounds per element and accumulates in DECIMAL "
    "(order-independent). Map-only: zero shuffle at any scale.",
)
def embedding_quantize_int8(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    return S.quantize_int8(e).orderBy("vec_id")


# Multimodal plumbing ---------------------------------------------------------


@register(
    "multimodal_features",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           sha256(text) AS sha256,
           64 + (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) AS width,
           64 + (strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1) AS height
    FROM documents WHERE text IS NOT NULL
    ORDER BY doc_id
    """,
    doc="Multimodal-column plumbing: opaque binary payload + "
    "Arrow-batched mapInPandas feature extraction (decode stubbed "
    "deterministically — no imaging libs in this environment; the "
    "schema/batching/partitioning is the real scale path).",
)
def multimodal_features(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    feats = extract_features(attach_payload(d), fake_decode=True)
    return feats.select(
        "doc_id",
        "byte_len",
        "sha256",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
    ).orderBy("doc_id")


@register(
    "multimodal_resize",
    oracle="""
    SELECT doc_id, 224 AS width, 224 AS height,
           CAST(length(substr(repeat(text, 784 // greatest(length(text), 1) + 1),
                              1, 784)) AS BIGINT) AS byte_len,
           sha256(substr(repeat(text, 784 // greatest(length(text), 1) + 1),
                         1, 784)) AS payload_sha
    FROM documents WHERE text IS NOT NULL
    ORDER BY doc_id
    """,
    doc="Multimodal resize plumbing: binary→binary mapInPandas with "
    "bounded output size (decode stubbed as deterministic byte "
    "tile/truncate — no imaging libs here); 1:1 rows, no shuffle, "
    "payload hash verified against the oracle.",
)
def multimodal_resize(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    r = resize_images(attach_payload(d), target_w=224, target_h=224)
    return r.select(
        "doc_id",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.length(F.col("payload")).cast("long").alias("byte_len"),
        F.sha2(F.col("payload"), 256).alias("payload_sha"),
    ).orderBy("doc_id")


@register(
    "multimodal_png_roundtrip",
    oracle="""
    SELECT doc_id, 8 AS width, 8 AS height, 3 AS channels,
           sha256(repeat(md5(text), 6)) AS raw_sha256
    FROM documents WHERE text IS NOT NULL
    ORDER BY doc_id
    """,
    doc="REAL compressed-image codec round trip (formats/png.py, "
    "stdlib zlib): each doc's md5 hex tiles an 8x8 RGB sample plane, "
    "encoded as a valid PNG on the executors (scanline filters cycle "
    "through all five predictors), then fully decoded — inflate + "
    "unfilter — and the reconstructed plane hashed. The oracle "
    "recomputes the plane hash without ever seeing a PNG byte, so any "
    "codec defect flips raw_sha256. Map-only, zero shuffle; payload "
    "bytes never leave the Arrow batch.",
)
def multimodal_png_roundtrip(spark, sf_dir):
    from optimus_any2any_spark.operators.multimodal import (
        attach_png_payload,
        extract_image_raw_features,
    )

    d = load(spark, sf_dir, "documents")
    return (
        extract_image_raw_features(attach_png_payload(d))
        .orderBy("doc_id")
    )


@register(
    "multimodal_jpeg_roundtrip",
    oracle="""
    SELECT doc_id, 16 AS width, 16 AS height,
           112 + 2 * (strpos('0123456789abcdef',
                             substr(md5(text), 1, 1)) - 1) AS level_0,
           112 + 2 * (strpos('0123456789abcdef',
                             substr(md5(text), 2, 1)) - 1) AS level_1,
           112 + 2 * (strpos('0123456789abcdef',
                             substr(md5(text), 3, 1)) - 1) AS level_2,
           112 + 2 * (strpos('0123456789abcdef',
                             substr(md5(text), 4, 1)) - 1) AS level_3
    FROM documents WHERE text IS NOT NULL
    ORDER BY doc_id
    """,
    doc="REAL baseline-JPEG codec round trip (formats/jpeg.py, T.81 on "
    "stdlib+numpy): four flat 8x8 gray blocks with md5-derived even "
    "levels encode on the executors, then fully decode — Huffman, "
    "dequant, IDCT, YCbCr->RGB — and the per-block levels come back "
    "bit-exact because even offsets from 128 are fixed points of the "
    "Annex K quantizer (DC=8*(v-128) divides step 16; all AC vanish). "
    "The UDF additionally asserts every decoded block is perfectly "
    "flat, so ANY codec defect fails the query rather than shifting a "
    "statistic. The oracle predicts the decoded pixels of a LOSSY "
    "codec from md5 alone. Map-only, zero shuffle.",
)
def multimodal_jpeg_roundtrip(spark, sf_dir):
    from optimus_any2any_spark.operators.multimodal import (
        attach_jpeg_payload,
        extract_jpeg_block_levels,
    )

    d = load(spark, sf_dir, "documents")
    lv = extract_jpeg_block_levels(attach_jpeg_payload(d))
    return lv.select(
        "doc_id",
        "width",
        "height",
        *[
            # the oracle's strpos arithmetic yields BIGINT — match it
            F.col(f"level_{i}").cast("long").alias(f"level_{i}")
            for i in range(4)
        ],
    ).orderBy("doc_id")


@register(
    "multimodal_image_ahash",
    oracle="""
    WITH v AS (
      SELECT doc_id,
             112 + 2 * (strpos('0123456789abcdef',
                               substr(md5(text), 1, 1)) - 1) AS v0,
             112 + 2 * (strpos('0123456789abcdef',
                               substr(md5(text), 2, 1)) - 1) AS v1,
             112 + 2 * (strpos('0123456789abcdef',
                               substr(md5(text), 3, 1)) - 1) AS v2,
             112 + 2 * (strpos('0123456789abcdef',
                               substr(md5(text), 4, 1)) - 1) AS v3
      FROM documents WHERE text IS NOT NULL
    ),
    bits AS (
      SELECT doc_id,
             CASE WHEN 4 * v0 > v0+v1+v2+v3 THEN 'f' ELSE '0' END AS b0,
             CASE WHEN 4 * v1 > v0+v1+v2+v3 THEN 'f' ELSE '0' END AS b1,
             CASE WHEN 4 * v2 > v0+v1+v2+v3 THEN 'f' ELSE '0' END AS b2,
             CASE WHEN 4 * v3 > v0+v1+v2+v3 THEN 'f' ELSE '0' END AS b3
      FROM v
    ),
    hx AS (
      SELECT doc_id,
             repeat(b0 || b1, 4) || repeat(b2 || b3, 4) AS ahash_hex
      FROM bits
    )
    SELECT doc_id, ahash_hex,
           CAST(COUNT(*) OVER (PARTITION BY ahash_hex) AS BIGINT)
             AS n_sharing
    FROM hx ORDER BY doc_id
    """,
    doc="Perceptual image dedup key over REALLY decoded JPEGs: each "
    "doc's four-flat-block payload is JPEG-encoded, fully decoded "
    "(Huffman+IDCT), grayscaled, 8x8-downsampled, and average-hashed "
    "— bit i set iff pixel_i*64 > sum (strict integer compare). The "
    "oracle predicts the 64-bit fingerprint from md5 digits alone: "
    "each 8x8 quadrant of the decoded image is one flat level, so the "
    "hash is four quadrant bits expanded to hex — any codec or "
    "downsample defect flips hex chars. n_sharing counts docs with "
    "identical perceptual keys (exact-dedup on the hash; at corpus "
    "scale near-dup goes through the SimHash banded-Hamming "
    "machinery, which consumes exactly this fingerprint). Codec work "
    "is map-only; the key count is one map-side-combinable aggregate.",
)
def multimodal_image_ahash(spark, sf_dir):
    from optimus_any2any_spark.operators.multimodal import (
        attach_jpeg_payload,
        image_ahash,
    )

    d = load(spark, sf_dir, "documents")
    # the hash table feeds the count aggregate AND the join back —
    # persist, or the JPEG encode+decode chain runs twice; the count
    # table is fingerprint-keyed (corpus-scale at size), so NO
    # broadcast hint — AQE picks the strategy
    h = image_ahash(attach_jpeg_payload(d)).persist()
    counts = h.groupBy("ahash_hex").agg(
        F.count(F.lit(1)).cast("long").alias("n_sharing")
    )
    return (
        h.join(counts, "ahash_hex")
        .select("doc_id", "ahash_hex", "n_sharing")
        .orderBy("doc_id")
    )


@register(
    "multimodal_video_metadata",
    oracle="""
    SELECT doc_id, 'isom' AS brand,
           CAST(length(text) AS BIGINT) AS duration_ms,
           1 AS n_tracks,
           16 * (strpos('0123456789abcdef',
                        substr(md5(text), 1, 1))) AS width,
           16 * (strpos('0123456789abcdef',
                        substr(md5(text), 2, 1))) AS height
    FROM documents WHERE text IS NOT NULL
    ORDER BY doc_id
    """,
    doc="REAL MP4 container metadata round trip (formats/mp4.py, "
    "ISO-BMFF box walking on stdlib struct): a sample-free container "
    "is built per doc (duration ticks = n_chars at timescale 1000, "
    "one video track with md5-derived tkhd dimensions), then parsed "
    "back — ftyp brand, mvhd duration math, trak/tkhd 16.16 "
    "fixed-point dims — and the oracle predicts every field from the "
    "doc alone. Frame DECODE stays honestly stubbed (needs ffmpeg); "
    "this is the metadata half a curation pipeline actually reads. "
    "Map-only, zero shuffle.",
)
def multimodal_video_metadata(spark, sf_dir):
    from optimus_any2any_spark.operators.multimodal import (
        attach_mp4_payload,
        extract_video_metadata,
    )

    d = load(spark, sf_dir, "documents")
    meta = extract_video_metadata(attach_mp4_payload(d))
    return meta.select(
        "doc_id",
        "brand",
        "duration_ms",
        F.col("n_tracks").cast("int").alias("n_tracks"),
        # oracle strpos arithmetic: 16*(digit+1) == 16*strpos (1-based)
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
    ).orderBy("doc_id")


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH f AS (
      SELECT doc_id, CAST(i AS INT) AS frame_index,
             substr(text, CAST(i AS INT) * 128 + 1, 128) AS frame_txt
      FROM documents
      CROSS JOIN (SELECT unnest(range(0, 8)) AS i) ii
      WHERE CAST(i AS INT) * 128 < length(text)
    )
    SELECT doc_id, frame_index,
           sha256(frame_txt) AS frame_sha256,
           CAST(length(frame_txt) AS BIGINT) AS frame_len
    FROM f
    ORDER BY doc_id, frame_index
    """,
    doc="Video frame-sample plumbing: 1:N fan-out INSIDE mapInPandas "
    "(decode stubbed as deterministic byte slices) — a large payload "
    "becomes per-frame rows before any shuffle, so downstream work "
    "partitions on (doc_id, frame_index), never on whole payloads.",
)
def multimodal_frame_sample(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    fr = sample_frames(
        attach_payload(d), every_n=1, max_frames=8, frame_bytes=128
    )
    return fr.select(
        "doc_id",
        "frame_index",
        "frame_sha256",
        F.length(F.col("frame")).cast("long").alias("frame_len"),
    ).orderBy("doc_id", "frame_index")


@register(
    "corpus_clean_pipeline",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, lang, source, text,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
      FROM documents
    ),
    canonical AS (
      SELECT *, row_number() OVER (
        PARTITION BY fingerprint ORDER BY doc_id) AS rn
      FROM fp
    ),
    kept AS (
      SELECT doc_id, lang, source, text FROM canonical WHERE rn = 1
    ),
    scored AS (
      SELECT doc_id, lang, source,
             CAST(len({_SQL_TOKENS}) AS DOUBLE) AS n_tok,
             CAST({_sql_lang_hits('en')} AS DOUBLE)
               / len({_SQL_TOKENS}) AS stop_ratio,
             CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
               / greatest(length(text), 1) AS digit_r,
             CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)
               / greatest(length(text), 1) AS punct_r
      FROM kept
    ),
    quality AS (
      SELECT doc_id, lang, source,
             round(least(n_tok / 200.0, 1.0) * 0.3
                   + least(stop_ratio * 4.0, 1.0) * 0.4
                   + greatest(0.0, 1.0 - digit_r * 5.0 - punct_r * 5.0) * 0.3,
                   6) AS q
      FROM scored
    )
    SELECT source, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN q >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_high_quality
    FROM quality
    GROUP BY source, lang
    ORDER BY source, lang
    """,
    doc="Composite production shape: exact-dedup (keep-min-id canonical "
    "per whitespace-normalized fingerprint) -> quality scoring -> "
    "per-source/lang corpus accounting. One pipeline, three operator "
    "families, still one Catalyst plan — the operators compose as "
    "DataFrames, not as materialization steps.",
    bench=True,
)
def corpus_clean_pipeline(spark, sf_dir):
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    kept = (
        d.withColumn("fingerprint", TX.fingerprint(F.col("text")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    q = F.round(TX.quality_score(F.col("text")), 6)
    return (
        kept.select("source", "lang", q.alias("q"))
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("q") >= 0.5, 1).otherwise(0))
            .cast("long")
            .alias("n_high_quality"),
        )
        .orderBy("source", "lang")
    )


@register(
    "sample_stratified",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, lang, source,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('sample|' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS sample_rank
      FROM documents
    )
    SELECT doc_id, lang, source, CAST(sample_rank AS BIGINT) AS sample_rank
    FROM ranked
    WHERE sample_rank <= 20
    ORDER BY lang, sample_rank
    """,
    doc="Deterministic stratified sampling: per-stratum uniform sample "
    "by seeded-md5 order (content-addressed, so the SAME sample comes "
    "out on any partitioning, any engine, any rerun — what "
    "df.sample() cannot promise). The per-stratum top-k is a bounded "
    "window; at scale swap rank for a hash-threshold cut "
    "(md5 < k/N_stratum) to avoid the window entirely.",
)
def sample_stratified(spark, sf_dir):
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.lit("sample|"), F.col("doc_id").cast("string")).cast("binary")),
        "doc_id",
    )
    return (
        d.select(
            "doc_id", "lang", "source",
            F.row_number().over(w).cast("long").alias("sample_rank"),
        )
        .filter(F.col("sample_rank") <= 20)
        .orderBy("lang", "sample_rank")
    )


@register(
    "mix_by_source_weights",
    oracle="""
    WITH weights(source, weight) AS (VALUES
      ('src0', 3), ('src1', 2), ('src2', 1), ('src3', 1), ('src4', 1)
    ),
    ranked AS (
      SELECT d.doc_id, d.source, w.weight,
             row_number() OVER (
               PARTITION BY d.source
               ORDER BY md5('mix|' || CAST(d.doc_id AS VARCHAR)), d.doc_id
             ) AS rnk
      FROM documents d JOIN weights w ON w.source = d.source
    )
    SELECT source, COUNT(*) AS n_sampled, MIN(doc_id) AS min_id,
           MAX(doc_id) AS max_id
    FROM ranked
    WHERE rnk <= weight * 10
    GROUP BY source
    ORDER BY source
    """,
    doc="Training-mixture construction: per-source quotas (weight x "
    "base) filled by deterministic hash order — the data-mixing step "
    "of corpus assembly as one broadcast join + bounded window, "
    "reproducible across engines and partitionings.",
)
def mix_by_source_weights(spark, sf_dir):
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    from optimus_any2any_spark.localrel import local_rows_df

    weights = local_rows_df(
        d.sparkSession,
        [("src0", 3), ("src1", 2), ("src2", 1), ("src3", 1), ("src4", 1)],
        "source string, weight bigint",
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("mix|"), F.col("doc_id").cast("string")).cast("binary")),
        "doc_id",
    )
    return (
        d.join(F.broadcast(weights), "source")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= F.col("weight") * 10)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("source")
    )


@register(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct({_SQL_TOKENS.replace("text", "lower(text)")})) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, 1 AS present FROM tok
    ),
    df AS (SELECT term, COUNT(*) AS n_docs_with FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(ln(CAST(n.n_docs AS DOUBLE) / df.n_docs_with), 6) AS idf
      FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY idf DESC, term) AS rnk
      FROM scored
    )
    SELECT doc_id, term, idf, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 3
    ORDER BY doc_id, rnk
    """,
    doc="Per-document top-3 distinctive terms by IDF (set-of-terms "
    "model): inverted term index joined back to docs — the shuffle is "
    "on the term key (bounded by vocabulary), never doc x doc. Rounded "
    "ln keeps Spark and DuckDB bit-identical.",
)
def text_tfidf_top_terms(spark, sf_dir):
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.array_distinct(TX.tokens(F.lower(F.col("text"))))).alias("term"),
    )
    df_counts = tok.groupBy("term").agg(F.count(F.lit(1)).alias("n_docs_with"))
    n_docs = d.count()
    scored = tok.join(df_counts, "term").select(
        "doc_id",
        "term",
        F.round(F.log(F.lit(float(n_docs)) / F.col("n_docs_with")), 6).alias("idf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("idf").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "idf", F.col("rnk").cast("int").alias("rnk"))
        .orderBy("doc_id", "rnk")
    )


@register(
    "text_inverted_index",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct({_SQL_TOKENS.replace("text", "lower(text)")})) AS term
      FROM documents
    )
    SELECT term,
           COUNT(*) AS df,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
    FROM tok
    GROUP BY term
    HAVING COUNT(*) >= 100
    ORDER BY term
    """,
    doc="Inverted-index construction (term -> ordered posting list): "
    "one shuffle on the term key; postings assembled with "
    "sorted-collect so the list is deterministic on any partitioning. "
    "At 100 TB, posting lists for stopword-like terms are the skew "
    "risk — the HAVING here models the common-term cut.",
)
def text_inverted_index(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.array_distinct(TX.tokens(F.lower(F.col("text"))))).alias("term"),
    )
    return (
        tok.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.array_sort(F.collect_list(F.col("doc_id"))).cast("array<string>"),
                ",",
            ).alias("postings"),
        )
        .filter(F.col("df") >= 100)
        .orderBy("term")
    )


@register(
    "text_repetition_filter",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
    ),
    occ AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
                                   i -> array_to_string(t[i:i+1], ' '))) AS gram
      FROM tok WHERE len(t) >= 2
    ),
    counts AS (SELECT doc_id, gram, COUNT(*) AS c FROM occ GROUP BY 1, 2),
    stats AS (
      SELECT doc_id, SUM(c) AS total, COUNT(*) AS nd, MAX(c) AS mx
      FROM counts GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(total AS BIGINT) AS total_2grams,
           CAST(nd AS BIGINT) AS distinct_2grams,
           round(1 - CAST(nd AS DOUBLE) / total, 4) AS dup_frac,
           round(CAST(mx AS DOUBLE) / total, 4) AS top_frac,
           (1 - CAST(nd AS DOUBLE) / total) > 0.05 AS flagged
    FROM stats
    ORDER BY doc_id
    """,
    doc="Gopher-style repetition quality filter: per-document duplicate-"
    "2-gram fraction and top-2-gram fraction. The gram expansion is a "
    "per-row array transform; the only shuffles are the (doc, gram) "
    "count and the per-doc rollup, both map-side combinable. The "
    "flag comparison runs on the unrounded double, which both engines "
    "derive from the same two integers — bit-identical.",
    bench=True,
)
def text_repetition_filter(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    occ = TX.ngram_rows(d, n=2)
    counts = occ.groupBy("id", "gram").agg(F.count(F.lit(1)).alias("c"))
    stats = counts.groupBy("id").agg(
        F.sum("c").alias("total"),
        F.count(F.lit(1)).alias("nd"),
        F.max("c").alias("mx"),
    )
    dup = F.lit(1.0) - F.col("nd").cast("double") / F.col("total")
    return stats.select(
        F.col("id").alias("doc_id"),
        F.col("total").cast("long").alias("total_2grams"),
        F.col("nd").cast("long").alias("distinct_2grams"),
        F.round(dup, 4).alias("dup_frac"),
        F.round(F.col("mx").cast("double") / F.col("total"), 4).alias("top_frac"),
        (dup > 0.05).alias("flagged"),
    ).orderBy("doc_id")


@register(
    "contamination_4gram",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS t
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, source, gram FROM (
        SELECT doc_id, source,
               unnest(list_transform(range(1, len(t) - 2),
                                     i -> array_to_string(t[i:i+3], ' '))) AS gram
        FROM tok WHERE len(t) >= 4
      )
    ),
    ev AS (SELECT DISTINCT gram FROM sh WHERE source = 'src0'),
    tr AS (
      SELECT doc_id, COUNT(*) AS n_grams,
             COUNT(*) FILTER (gram IN (SELECT gram FROM ev)) AS n_hits
      FROM sh WHERE source <> 'src0'
      GROUP BY doc_id
    )
    SELECT doc_id, n_grams, n_hits,
           round(CAST(n_hits AS DOUBLE) / n_grams, 4) AS contamination_frac,
           CAST(n_hits AS DOUBLE) / n_grams >= 0.8 AS flagged
    FROM tr WHERE n_hits > 0
    ORDER BY doc_id
    """,
    doc="Benchmark-decontamination check: distinct 4-gram overlap of "
    "every training doc (source <> src0) against the eval set's "
    "(source = src0) gram universe. One gram expansion: the eval gram "
    "set left-joins as a hit marker on the gram key — broadcast when "
    "the benchmark is small, plain shuffle join at 100 TB — and a "
    "single per-doc aggregate derives total and hit counts together. "
    "flagged >= 0.8 marks near-total containment (train copies of "
    "eval docs).",
    bench=True,
)
def contamination_4gram(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    train = D.shingles(d.filter(F.col("source") != "src0"), n=4)
    ev = (
        D.shingles(d.filter(F.col("source") == "src0"), n=4)
        .select("shingle")
        .distinct()
    )
    # one gram expansion + one per-doc shuffle: a left join against the
    # (distinct) eval gram set marks hits per gram row, and a single
    # aggregate derives both counts — instead of scanning/expanding the
    # train grams twice for separate n_grams and n_hits aggregates
    marked = train.join(ev.withColumn("_hit", F.lit(1)), "shingle", "left")
    stats = marked.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count("_hit").alias("n_hits"),
    )
    frac = F.col("n_hits").cast("double") / F.col("n_grams")
    return (
        stats.filter(F.col("n_hits") > 0)
        .select(
            F.col("id").alias("doc_id"),
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("n_hits").cast("long").alias("n_hits"),
            F.round(frac, 4).alias("contamination_frac"),
            (frac >= 0.8).alias("flagged"),
        )
        .orderBy("doc_id")
    )


# Sequence packing & leakage accounting ---------------------------------------


_NFD_CAP = 512
_NFD_CHUNKS = 8


@register(
    "seq_packing_bins",
    oracle=rf"""
    WITH RECURSIVE tok AS (
      SELECT doc_id,
             CAST(coalesce(len(string_split_regex(trim(text), '\s+')), 0)
               AS BIGINT) AS n
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, n,
             CAST(row_number() OVER (ORDER BY n DESC, doc_id) - 1
               AS BIGINT) AS rank
      FROM tok
    ),
    tot AS (SELECT COUNT(*) AS N FROM ranked),
    ch AS (
      SELECT r.doc_id, r.n, r.rank,
             CAST(r.rank * {_NFD_CHUNKS} // tot.N AS INT) AS chunk,
             CAST(row_number() OVER (
               PARTITION BY CAST(r.rank * {_NFD_CHUNKS} // tot.N AS INT)
               ORDER BY r.rank) - 1 AS BIGINT) AS p
      FROM ranked r CROSS JOIN tot
    ),
    st AS (
      SELECT chunk, p, doc_id, n, rank,
             CAST(0 AS BIGINT) AS bin_local, n AS fill
      FROM ch WHERE p = 0
      UNION ALL
      SELECT c.chunk, c.p, c.doc_id, c.n, c.rank,
             CASE WHEN s.fill > 0 AND s.fill + c.n > {_NFD_CAP}
                  THEN s.bin_local + 1 ELSE s.bin_local END,
             CASE WHEN s.fill > 0 AND s.fill + c.n > {_NFD_CAP}
                  THEN c.n ELSE s.fill + c.n END
      FROM st s JOIN ch c ON c.chunk = s.chunk AND c.p = s.p + 1
    )
    SELECT doc_id, n AS n_tokens, rank, chunk,
           CAST(chunk * 1000000 + bin_local AS BIGINT) AS bin
    FROM st ORDER BY doc_id
    """,
    doc="Next-fit-decreasing bin packing for UNSPLITTABLE documents — "
    "the example-packing/multipack layout (one bin = one context "
    "window, no doc straddles a boundary, oversize docs get their own "
    "over-full bin, never a silent truncation). Docs rank globally by "
    "(tokens DESC, id) via the shuffle-free offset rank, the rank "
    "splits into contiguous chunks with closed-form boundaries, and "
    "the inherently sequential next-fit scan runs per chunk inside "
    "one Arrow batch with two integers of state — bins never cross "
    "chunks, so parallelizing costs at most one partial bin per "
    "chunk. The oracle replays the identical scan as a recursive CTE, "
    "proving the distributed decomposition changes nothing.",
)
def seq_packing_bins(spark, sf_dir):
    from optimus_any2any_spark.operators.packing import pack_bins_nfd

    d = load(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    counts = d.select(
        "doc_id",
        # NULL text packs as a 0-token doc (mirrored by the oracle's
        # coalesce) instead of poisoning the scan with NaN fill state
        F.coalesce(F.size(toks), F.lit(0)).cast("long").alias("n_tokens"),
    )
    return pack_bins_nfd(
        counts,
        ntok_col="n_tokens",
        capacity=_NFD_CAP,
        n_chunks=_NFD_CHUNKS,
    ).orderBy("id").withColumnRenamed("id", "doc_id")


@register(
    "seq_packing_4096",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id,
             len(string_split_regex(trim(text), '\s+')) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gend
      FROM tok
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(gend - n_tokens AS BIGINT) AS global_offset,
           CAST((gend - n_tokens) // 4096 AS BIGINT) AS chunk_id,
           CAST((gend - n_tokens) % 4096 AS BIGINT) AS offset_in_chunk,
           (n_tokens > 0 AND (gend - n_tokens) // 4096 <> (gend - 1) // 4096)
             AS spans_boundary
    FROM c
    ORDER BY doc_id
    """,
    doc="Concat-and-chunk sequence packing: documents laid end-to-end "
    "in doc_id order and cut into 4096-token context windows; each doc "
    "gets its window id, in-window offset, and a boundary-straddle "
    "flag. The global running sum is a two-phase distributed prefix "
    "sum (range-partition sort + per-partition cumsum + broadcast "
    "partition offsets) — never a single-partition window, so the "
    "layout of a 100 TB corpus distributes like any other shuffle.",
)
def seq_packing_4096(spark, sf_dir):
    from optimus_any2any_spark.operators.packing import pack_concat_chunks

    d = load(spark, sf_dir, "documents").select(
        "doc_id", TX.token_count(F.col("text")).alias("n_tok")
    )
    return pack_concat_chunks(
        d, "n_tok", window_tokens=4096, order_by=["doc_id"]
    ).orderBy("doc_id")


@register(
    "leakage_cross_source",
    oracle="""
    WITH fp AS (
      SELECT DISTINCT source, md5(substr(text, 1, 80)) AS fingerprint
      FROM documents
    )
    SELECT a.source AS source_a, b.source AS source_b,
           COUNT(*) AS n_shared_fingerprints
    FROM fp a JOIN fp b
      ON a.fingerprint = b.fingerprint AND a.source < b.source
    GROUP BY source_a, source_b
    ORDER BY source_a, source_b
    """,
    doc="Cross-source leakage matrix: how many exact content "
    "fingerprints each pair of sources shares (train/eval overlap "
    "accounting at the split level). Inverted-index self-join on the "
    "fingerprint key after a per-source distinct — pair blowup per "
    "fingerprint is bounded by the number of sources, never by corpus "
    "size.",
)
def leakage_cross_source(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    fp = d.select(
        "source", TX.prefix_fingerprint(F.col("text"), 80).alias("fingerprint")
    ).distinct()
    a = fp.alias("a")
    b = fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_fingerprints"))
        .orderBy("source_a", "source_b")
    )


@register(
    "tfidf_cosine_pairs",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    dfc AS (SELECT term, COUNT(*) AS df_ FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    w AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * round(ln(CAST(n.n_docs AS DOUBLE) / dfc.df_), 6) AS w
      FROM tf JOIN dfc USING (term) CROSS JOIN n
      WHERE dfc.df_ <= 1000
    ),
    norms AS (
      SELECT doc_id,
             sqrt(CAST(SUM(CAST(w * w AS DECIMAL(18,6))) AS DOUBLE)) AS nrm
      FROM w GROUP BY doc_id
    ),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(SUM(CAST(a.w * b.w AS DECIMAL(18,6))) AS DOUBLE) AS dot
      FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(dot / (na.nrm * nb.nrm), 4) AS cosine
    FROM dots
    JOIN norms na ON na.doc_id = doc_a
    JOIN norms nb ON nb.doc_id = doc_b
    WHERE round(dot / (na.nrm * nb.nrm), 4) >= 0.9
    ORDER BY doc_a, doc_b
    """,
    doc="Sparse TF-IDF cosine similarity pairs over the term inverted "
    "index: candidate pairs come from shared terms (shuffle on the "
    "term key, df-capped at 1000 so no stopword-grade term forms a "
    "quadratic block), dot products and norms accumulate in DECIMAL "
    "(order-independent — bit-identical on any partitioning), rounded "
    "idf keeps ln() engine-agnostic. The weighted counterpart of the "
    "Jaccard near-dedup path.",
)
def tfidf_cosine_pairs(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum

    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(TX.tokens(F.lower(F.col("text")))).alias("term"),
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfc = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_"))
    n_docs = d.count()
    w = (
        tf.join(dfc.filter(F.col("df_") <= 1000), "term")
        .select(
            "doc_id",
            "term",
            (
                F.col("tf")
                * F.round(F.log(F.lit(float(n_docs)) / F.col("df_")), 6)
            ).alias("w"),
        )
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(dsum(F.col("w") * F.col("w"))).alias("nrm")
    )
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(dsum(F.col("a.w") * F.col("b.w")).alias("dot"))
    )
    na = norms.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("nrm", "na")
    nb = norms.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("nrm", "nb")
    cos = F.round(F.col("dot") / (F.col("na") * F.col("nb")), 4)
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(cos >= 0.9)
        .select("doc_a", "doc_b", cos.alias("cosine"))
        .orderBy("doc_a", "doc_b")
    )


@register(
    "dedup_incremental",
    oracle="""
    WITH corpus AS (
      SELECT md5(substr(text, 1, 80)) AS fingerprint
      FROM documents WHERE source <> 'src1'
    ),
    batch AS (
      SELECT doc_id, md5(substr(text, 1, 80)) AS fingerprint
      FROM documents WHERE source = 'src1'
    )
    SELECT b.doc_id, b.fingerprint
    FROM batch b
    WHERE b.fingerprint NOT IN (SELECT fingerprint FROM corpus)
      AND b.doc_id = (
        SELECT MIN(doc_id) FROM batch b2 WHERE b2.fingerprint = b.fingerprint
      )
    ORDER BY b.doc_id
    """,
    doc="Incremental-ingest dedup: an incoming batch (source = src1) is "
    "admitted only where its content fingerprint is (a) absent from "
    "the existing corpus — a left-anti join on the fingerprint key, "
    "the streaming-ingest shape where the corpus side is a bloom/"
    "fingerprint store — and (b) the first occurrence within the "
    "batch itself (min-doc_id per fingerprint). Both steps shuffle "
    "on the fingerprint only; document text never re-shuffles.",
)
def dedup_incremental(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    fp = TX.prefix_fingerprint(F.col("text"), 80)
    corpus = d.filter(F.col("source") != "src1").select(fp.alias("fingerprint"))
    batch = d.filter(F.col("source") == "src1").select(
        "doc_id", fp.alias("fingerprint")
    )
    first_in_batch = batch.groupBy("fingerprint").agg(
        F.min("doc_id").alias("doc_id")
    )
    return (
        first_in_batch.join(corpus, "fingerprint", "left_anti")
        .select("doc_id", "fingerprint")
        .orderBy("doc_id")
    )


@register(
    "dedup_cluster_stats",
    oracle=f"""
    WITH RECURSIVE {_SQL_SHINGLES}, {_SQL_JACCARD},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM verified
      UNION
      SELECT doc_b, doc_a FROM verified
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b != r.a
    ),
    comp AS (
      SELECT a AS doc_id, least(a, MIN(b)) AS component_id
      FROM reach GROUP BY a
    ),
    csizes AS (
      SELECT component_id, COUNT(*) AS cluster_size FROM comp
      GROUP BY component_id
    )
    SELECT cluster_size,
           COUNT(*) AS n_clusters,
           CAST((cluster_size - 1) * COUNT(*) AS BIGINT) AS n_docs_removable
    FROM csizes GROUP BY cluster_size
    ORDER BY cluster_size
    """,
    doc="Near-dup cluster-size histogram + dedup savings: how many "
    "duplicate clusters of each size exist and how many documents a "
    "keep-one-per-cluster pass removes. Two tiny aggregates over the "
    "post-LSH component labels — the accounting report that sizes a "
    "dedup run before committing to it.",
)
def dedup_cluster_stats(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(D.shingles(d), threshold=0.8)
    comp = D.connected_components(pairs)
    sizes = comp.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            ((F.col("cluster_size") - 1) * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs_removable"),
        )
        .orderBy("cluster_size")
    )


@register(
    "doc_rolling_hash",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents
    )
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(t, tk ->
                 list_reduce(
                   list_transform(range(1, 8),
                     p -> CAST(strpos('0123456789abcdef',
                                      substr(md5(tk), p, 1)) - 1 AS BIGINT)),
                   (a, b) -> a * 16 + b))),
             (acc, th) -> (acc * 31 + th) % 2147483647) AS rolling_hash
    FROM tok
    ORDER BY doc_id
    """,
    doc="Polynomial rolling-hash document fingerprint (Rabin-Karp "
    "shape): fold token hashes as (acc*31 + h) mod 2^31-1 over the "
    "token stream. Token hash = first 7 md5 hex digits as int, so "
    "every intermediate stays < 2^36 — safe under DuckDB's checked "
    "int64 arithmetic AND Spark's wrapping int64, hence bit-identical. "
    "Pure per-row Column fold: zero shuffles, zero Python.",
)
def doc_rolling_hash(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    th = lambda t: F.conv(  # noqa: E731
        F.substring(F.md5(t.cast("binary")), 1, 7), 16, 10
    ).cast("long")
    h = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * 31 + th(t)) % 2147483647,
    )
    return d.select("doc_id", h.alias("rolling_hash")).orderBy("doc_id")


@register(
    "dedup_passage",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents
    ),
    words AS (
      SELECT doc_id, unnest(t) AS w, unnest(range(len(t))) AS i FROM tok
    ),
    chunks AS (
      SELECT doc_id, i // 20 AS chunk_idx,
             string_agg(w, ' ' ORDER BY i) AS chunk
      FROM words GROUP BY doc_id, i // 20
    ),
    keep AS (
      SELECT *, row_number() OVER (
        PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
      FROM chunks
    )
    SELECT doc_id,
           string_agg(chunk, ' ' ORDER BY chunk_idx) AS clean_text,
           CAST(COUNT(*) AS BIGINT) AS n_chunks_kept
    FROM keep WHERE rn = 1
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="Passage-level exact dedup (repeated-span removal): every "
    "20-word passage is kept only at its first (doc, position) "
    "occurrence corpus-wide and documents are rebuilt from surviving "
    "passages. Chunking is per-row array math (no per-token explode); "
    "the global first-occurrence is ONE map-side-combined min-struct "
    "aggregate keyed by passage text (hot boilerplate collapses to one "
    "partial row per upstream partition before the shuffle); rebuild "
    "is one shuffle on doc_id.",
    bench=True,
)
def dedup_passage(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return D.passage_dedup(d, chunk_words=20).orderBy("doc_id")


_CDC_P = 8

# token hash = first 7 md5 hex digits as int (mirror of dedup._base_hash)
_SQL_TOKEN_HASH = (
    "list_reduce(list_transform(range(1, 8), "
    "p -> CAST(strpos('0123456789abcdef', substr(md5(w), p, 1)) - 1 "
    "AS BIGINT)), (a, b) -> a * 16 + b)"
)


@register(
    "dedup_cdc_chunks",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents
    ),
    words AS (
      SELECT doc_id, unnest(t) AS w, unnest(range(len(t))) AS pos FROM tok
    ),
    cutf AS (
      SELECT doc_id, pos, w,
             CASE WHEN {_SQL_TOKEN_HASH} % {_CDC_P} = 0
                  THEN 1 ELSE 0 END AS cut
      FROM words
    ),
    chunked AS (
      SELECT doc_id, pos, w,
             CAST(coalesce(SUM(cut) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS INT) AS chunk_idx
      FROM cutf
    ),
    chunks AS (
      SELECT doc_id, chunk_idx, string_agg(w, ' ' ORDER BY pos) AS chunk
      FROM chunked GROUP BY doc_id, chunk_idx
    ),
    keep AS (
      SELECT *, row_number() OVER (
        PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
      FROM chunks
    )
    SELECT doc_id,
           coalesce(string_agg(chunk, ' ' ORDER BY chunk_idx)
                      FILTER (rn = 1), '') AS clean_text,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(*) FILTER (rn = 1) AS BIGINT) AS n_chunks_kept
    FROM keep
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="Content-defined chunking dedup (LBFS/Rabin CDC restated for "
    "corpus curation): chunk boundaries cut after tokens whose hash "
    "is 0 mod 8, so boundaries move WITH the content — one inserted "
    "word near the start of a near-copy perturbs only its own chunk "
    "and every later chunk re-aligns, where fixed 20-word windows "
    "(dedup_passage) misalign the whole remainder. First occurrence "
    "per distinct chunk is the same map-side-combined min-struct "
    "aggregate; the chunk-index prefix sum is a DOC-keyed window "
    "(per-task work = one document, the partition key cannot be "
    "hot). Returns rebuilt clean text + chunk counts per doc.",
    bench=True,
)
def dedup_cdc_chunks(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return D.cdc_chunk_dedup(d, avg_chunk_words=_CDC_P).orderBy("doc_id")


@register(
    "sample_temperature_lang",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, lang,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
      FROM documents
    ),
    alloc AS (
      SELECT lang,
             CAST(round(sqrt(CAST(SUM(n_tok) AS DOUBLE))) AS BIGINT) AS w
      FROM toks GROUP BY lang
    ),
    budget AS (
      SELECT lang,
             CAST(floor(CAST(w AS DOUBLE) /
                        (SELECT CAST(SUM(w) AS DOUBLE) FROM alloc)
                        * 20000.0) AS BIGINT) AS budget_tok
      FROM alloc
    ),
    ordered AS (
      SELECT t.doc_id, t.lang, t.n_tok,
             SUM(t.n_tok) OVER (
               PARTITION BY t.lang
               ORDER BY md5('t|' || CAST(t.doc_id AS VARCHAR)), t.doc_id
               ROWS UNBOUNDED PRECEDING) AS cum_tok
      FROM toks t
    )
    SELECT o.lang, b.budget_tok,
           CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
           CAST(SUM(o.n_tok) AS BIGINT) AS tokens_kept
    FROM ordered o JOIN budget b USING (lang)
    WHERE o.cum_tok <= b.budget_tok
    GROUP BY o.lang, b.budget_tok
    ORDER BY o.lang
    """,
    doc="Temperature-scaled language-balanced sampling (the mC4/XLM-R "
    "mixture step, alpha=0.5): per-language token budgets proportional "
    "to sqrt(total tokens), filled in content-addressed md5 order via a "
    "running-sum window. Weights are rounded to integers before the "
    "share division so the allocation is bit-identical across engines. "
    "Shuffles: one map-side-combined agg for stats, one window keyed by "
    "lang; budgets broadcast. At 100 TB the exact prefix-sum order "
    "would be swapped for hash-threshold selection (keep docs with "
    "md5 < budget-derived cutoff) to avoid the per-language sort — the "
    "budget allocation stage is identical.",
)
def sample_temperature_lang(spark, sf_dir):
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        TX.token_count(F.col("text")).cast("long").alias("n_tok"),
    )
    alloc = toks.groupBy("lang").agg(
        F.round(F.sqrt(F.sum("n_tok").cast("double"))).cast("long").alias("w")
    )
    sum_w = alloc.agg(F.sum("w").cast("double").alias("sum_w"))
    budget = alloc.crossJoin(F.broadcast(sum_w)).select(
        "lang",
        F.floor(F.col("w").cast("double") / F.col("sum_w") * F.lit(20000.0))
        .cast("long")
        .alias("budget_tok"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(
            F.md5(
                F.concat(F.lit("t|"), F.col("doc_id").cast("string")).cast(
                    "binary"
                )
            ),
            "doc_id",
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ordered = toks.withColumn("cum_tok", F.sum("n_tok").over(w))
    return (
        ordered.join(F.broadcast(budget), "lang")
        .filter(F.col("cum_tok") <= F.col("budget_tok"))
        .groupBy("lang", "budget_tok")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_tok").alias("tokens_kept"),
        )
        .select("lang", "budget_tok", "n_docs_kept", "tokens_kept")
        .orderBy("lang")
    )


_SQL_QUALITY_Q = f"""
    q AS (
      SELECT doc_id,
             CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tok,
             round(least(CAST(len({_SQL_TOKENS}) AS DOUBLE) / 200.0, 1.0) * 0.3
                   + least(CAST({_sql_lang_hits('en')} AS DOUBLE)
                           / len({_SQL_TOKENS}) * 4.0, 1.0) * 0.4
                   + greatest(0.0, 1.0
                       - CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
                              AS DOUBLE) / greatest(length(text), 1) * 5.0
                       - CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g'))
                              AS DOUBLE) / greatest(length(text), 1) * 5.0) * 0.3,
                   6) AS q
      FROM documents
    )
"""


@register(
    "curriculum_quality_bins",
    oracle=f"""
    WITH {_SQL_QUALITY_Q},
    binned AS (
      SELECT doc_id, n_tok, q,
             ntile(4) OVER (ORDER BY q, doc_id) AS bin
      FROM q
    )
    SELECT CAST(bin AS INT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(q) AS min_score, MAX(q) AS max_score,
           CAST(SUM(n_tok) AS BIGINT) AS tokens
    FROM binned GROUP BY bin ORDER BY bin
    """,
    doc="Curriculum binning: quartile buckets over the heuristic "
    "quality score (rounded to 6dp so Spark/DuckDB order ties "
    "identically, tie-broken by doc_id). ntile-EXACT at scale with no "
    "global window: a range-partitioned sort + per-partition offset "
    "rank (with_record_index_and_total — every partition windows only "
    "its own rows; the offsets job is num-partitions rows on the "
    "driver) and ntile's deterministic bucket-size formula applied to "
    "the global rank. Bit-identical to the oracle's ntile(4), "
    "including tie-splitting at bucket boundaries, which broadcast "
    "approx-quantile cutpoints could not reproduce.",
)
def curriculum_quality_bins(spark, sf_dir):
    from optimus_any2any_spark.metadata import with_record_index_and_total

    d = load(spark, sf_dir, "documents")
    c = F.col("text")
    scored = d.select(
        "doc_id",
        TX.token_count(c).cast("long").alias("n_tok"),
        F.round(TX.quality_score(c), 6).alias("q"),
    )
    ranked, n = with_record_index_and_total(
        scored, "rn0", order_by=["q", "doc_id"]
    )
    # ntile(k) closed form over the 1-based global rank: the first
    # (n mod k) buckets hold ceil(n/k) rows, the rest floor(n/k).
    rn = F.col("rn0") + 1
    base, rem = divmod(n, 4)
    cut = rem * (base + 1)
    if base == 0:  # fewer rows than buckets: one row per bucket
        bin_expr = rn
    else:
        bin_expr = F.when(
            rn <= cut, F.floor((rn - 1) / (base + 1)) + 1
        ).otherwise(F.lit(rem) + F.floor((rn - cut - 1) / base) + 1)
    binned = ranked.withColumn("bin", bin_expr.cast("int"))
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("q").alias("min_score"),
            F.max("q").alias("max_score"),
            F.sum("n_tok").alias("tokens"),
        )
        .orderBy("bin")
    )


@register(
    "shard_balanced_assignment",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, n_tok,
             row_number() OVER (ORDER BY n_tok DESC, doc_id) AS rn
      FROM toks
    )
    SELECT CAST((rn - 1) % 8 AS INT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS shard_tokens,
           MIN(n_tok) AS min_doc_tokens,
           MAX(n_tok) AS max_doc_tokens
    FROM ranked GROUP BY shard ORDER BY shard
    """,
    doc="Training-shard assignment balanced by token count: docs "
    "ranked by size descending and dealt round-robin across 8 shards "
    "(the LPT greedy — shard token totals within one max-doc of each "
    "other). No global window: the size rank comes from a "
    "range-partitioned sort plus per-partition offsets "
    "(with_record_index_and_total), so the deal is done on sorted "
    "partition runs in parallel — same assignment as a global "
    "row_number, no single-task sort.",
)
def shard_balanced_assignment(spark, sf_dir):
    from optimus_any2any_spark.metadata import with_record_index_and_total

    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", TX.token_count(F.col("text")).cast("long").alias("n_tok")
    )
    ranked, _n = with_record_index_and_total(
        toks, "rn0", order_by=[F.desc("n_tok"), F.asc("doc_id")]
    )
    return (
        ranked.withColumn("shard", (F.col("rn0") % 8).cast("int"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("shard_tokens"),
            F.min("n_tok").alias("min_doc_tokens"),
            F.max("n_tok").alias("max_doc_tokens"),
        )
        .orderBy("shard")
    )


@register(
    "minhash_estimate_vs_exact",
    oracle=f"""
    WITH {_SQL_SHINGLES}, {_SQL_MINHASH_SIG}, {_SQL_BANDS},
    cand AS (
      SELECT DISTINCT a.id AS doc_a, b.id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    ),
    est AS (
      SELECT c.doc_a, c.doc_b,
             round(({" + ".join(
                 f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)"
                 for i in range(_NUM_HASHES)
             )}) / {_NUM_HASHES}.0, 4) AS est_jaccard
      FROM cand c
      JOIN sig sa ON sa.id = c.doc_a
      JOIN sig sb ON sb.id = c.doc_b
    ),
    sizes AS (SELECT id, COUNT(*) AS set_size FROM sh GROUP BY id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c
      JOIN sh a ON a.id = c.doc_a
      JOIN sh b ON b.id = c.doc_b AND b.shingle = a.shingle
      GROUP BY c.doc_a, c.doc_b
    ),
    exact AS (
      SELECT i.doc_a, i.doc_b,
             round(CAST(i.n_common AS DOUBLE)
                   / (sa.set_size + sb.set_size - i.n_common), 4) AS jaccard
      FROM inter i
      JOIN sizes sa ON sa.id = i.doc_a
      JOIN sizes sb ON sb.id = i.doc_b
    )
    SELECT e.doc_a, e.doc_b, e.est_jaccard,
           coalesce(x.jaccard, 0.0) AS jaccard,
           round(abs(e.est_jaccard - coalesce(x.jaccard, 0.0)), 4) AS abs_err
    FROM est e
    LEFT JOIN exact x ON x.doc_a = e.doc_a AND x.doc_b = e.doc_b
    ORDER BY e.doc_a, e.doc_b
    """,
    doc="Sketch calibration: MinHash-estimated Jaccard (matching-hash "
    "fraction, a k/16 binary fraction — engine-exact) against the "
    "exact value for every LSH candidate pair. The knob-tuning query "
    "you run on a sample before committing num_hashes/bands for a "
    "corpus-wide dedup; exact verification touches candidates only.",
)
def minhash_estimate_vs_exact(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return D.minhash_estimate_vs_exact(d).orderBy("doc_a", "doc_b")


@register(
    "doc_char_entropy",
    oracle=r"""
    WITH chars AS (
      SELECT doc_id, unnest(string_split(text, '')) AS ch
      FROM documents
    ),
    freq AS (
      SELECT doc_id, ch, COUNT(*) AS n FROM chars GROUP BY doc_id, ch
    ),
    tot AS (SELECT doc_id, SUM(n) AS total FROM freq GROUP BY doc_id),
    terms AS (
      SELECT f.doc_id,
             CAST(-(CAST(f.n AS DOUBLE) / t.total)
                  * ln(CAST(f.n AS DOUBLE) / t.total) / ln(2)
                  AS DECIMAL(18, 12)) AS term
      FROM freq f JOIN tot t ON t.doc_id = f.doc_id
    )
    SELECT s.doc_id,
           round(CAST(SUM(s.term) AS DOUBLE), 4) AS char_entropy_bits,
           round(CAST(len(string_split_regex(trim(d.text), '\s+')) AS DOUBLE)
                 / greatest(length(d.text), 1), 4) AS tokens_per_char
    FROM terms s JOIN documents d ON d.doc_id = s.doc_id
    GROUP BY s.doc_id, d.text
    ORDER BY s.doc_id
    """,
    doc="Per-document Shannon character entropy (bits) + token density "
    "— the cheap compressibility/noise signal used to screen boiler- "
    "plate and binary junk in pretraining corpora. Each -p*log2(p) "
    "term is cast to DECIMAL(18,12) before summing so the aggregate is "
    "order-independent and engine-exact despite IEEE addition; the "
    "distribution fits per-row (groupBy doc,char then doc — two "
    "map-side-combinable aggregates, no Python).",
)
def doc_char_entropy(spark, sf_dir):
    from pyspark.sql import types as T

    d = load(spark, sf_dir, "documents")
    chars = d.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("ch")
    )
    freq = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("n"))
    tot = freq.groupBy("doc_id").agg(F.sum("n").alias("total"))
    p = F.col("n").cast("double") / F.col("total")
    terms = freq.join(tot, "doc_id").select(
        "doc_id",
        (-p * F.log(p) / F.log(F.lit(2.0))).cast(T.DecimalType(18, 12)).alias("term"),
    )
    ent = terms.groupBy("doc_id").agg(
        F.round(F.sum("term").cast("double"), 4).alias("char_entropy_bits")
    )
    density = d.select(
        "doc_id",
        F.round(
            TX.token_count(F.col("text")).cast("double")
            / F.greatest(F.length("text"), F.lit(1)),
            4,
        ).alias("tokens_per_char"),
    )
    return (
        ent.join(density, "doc_id")
        .select("doc_id", "char_entropy_bits", "tokens_per_char")
        .orderBy("doc_id")
    )


@register(
    "lang_id_confusion",
    oracle=f"""
    WITH scored AS (
      SELECT lang AS lang_declared,
             {_sql_lang_hits('en')} AS s_en,
             {_sql_lang_hits('de')} AS s_de,
             {_sql_lang_hits('fr')} AS s_fr,
             {_sql_lang_hits('es')} AS s_es
      FROM documents
    ),
    pred AS (
      SELECT lang_declared,
             CASE WHEN s_en = greatest(s_en, s_de, s_fr, s_es) AND s_en > 0 THEN 'en'
                  WHEN s_de = greatest(s_en, s_de, s_fr, s_es) AND s_de > 0 THEN 'de'
                  WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) AND s_fr > 0 THEN 'fr'
                  WHEN s_es = greatest(s_en, s_de, s_fr, s_es) AND s_es > 0 THEN 'es'
                  ELSE 'unknown' END AS predicted_lang
      FROM scored
    )
    SELECT lang_declared, predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred
    GROUP BY lang_declared, predicted_lang
    ORDER BY lang_declared, predicted_lang
    """,
    doc="Language-ID evaluation: confusion matrix of declared vs "
    "heuristic-predicted language — the accuracy accounting you run "
    "before trusting a classifier to route a corpus. One map-side-"
    "combinable aggregate over per-row Column scoring; zero Python.",
)
def lang_id_confusion(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return (
        d.select(
            F.col("lang").alias("lang_declared"),
            TX.predicted_lang(F.col("text")).alias("predicted_lang"),
        )
        .groupBy("lang_declared", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang_declared", "predicted_lang")
    )


@register(
    "ann_mutual_topk",
    oracle=f"""
    WITH {_SQL_IVF_TOPK}
    SELECT t1.vec_id AS vec_a, t1.neighbor_id AS vec_b, t1.cosine_sim
    FROM ivf_topk t1
    JOIN ivf_topk t2 ON t2.vec_id = t1.neighbor_id
                    AND t2.neighbor_id = t1.vec_id
    WHERE t1.vec_id < t1.neighbor_id
    ORDER BY vec_a, vec_b
    """,
    doc="Mutual-kNN graph: pairs where each vector appears in the "
    "other's cosine top-5 — the edge set for SemDeDup-style semantic "
    "clustering and diversity pruning. Composed over the IVF top-k "
    "(VERDICT r2: the brute-force inner top-k was the one O(n²) "
    "headline operator; brute force remains available as the recall "
    "oracle in tests). The mutual screen itself is one self-equi-join "
    "on the (vec, neighbor) key over the n·k ranked table.",
)
def ann_mutual_topk(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    topk = S.ivf_topk(e, k=5, n_cells=_IVF_CELLS, nprobe=_IVF_NPROBE)
    return mutual_edges(topk)


def mutual_edges(topk) -> "DataFrame":  # noqa: F821
    """Mutual screen over ANY (vec_id, neighbor_id, cosine_sim) top-k
    table — one self-equi-join on the (vec, neighbor) key; pluggable
    over the IVF/LSH scale paths or the brute-force oracle."""
    t1, t2 = topk.alias("t1"), topk.alias("t2")
    return (
        t1.join(
            t2,
            (F.col("t2.vec_id") == F.col("t1.neighbor_id"))
            & (F.col("t2.neighbor_id") == F.col("t1.vec_id")),
        )
        .filter(F.col("t1.vec_id") < F.col("t1.neighbor_id"))
        .select(
            F.col("t1.vec_id").alias("vec_a"),
            F.col("t1.neighbor_id").alias("vec_b"),
            F.col("t1.cosine_sim"),
        )
        .orderBy("vec_a", "vec_b")
    )


def _hybrid_oracle_sql(dim: int = 64, num_planes: int = 6, tau: float = 0.4) -> str:
    planes = S.hyperplanes(dim, num_planes)
    values = ", ".join(
        "({p}, [{vals}])".format(
            p=p, vals=", ".join(f"{v:.1f}" for v in row)
        )
        for p, row in enumerate(planes)
    )
    return f"""
    WITH {_SQL_SHINGLES}, {_SQL_JACCARD}, {_SQL_MINHASH_SIG}, {_SQL_BANDS},
    cand AS (
      SELECT DISTINCT a.id AS doc_a, b.id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    ),
    lex AS (
      SELECT c.doc_a, c.doc_b, v.jaccard
      FROM cand c JOIN verified v
        ON v.doc_a = c.doc_a AND v.doc_b = c.doc_b
    ),
    ve AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    planes(p, plane) AS (VALUES {values}),
    bits AS (
      SELECT vec_id, p,
             CASE WHEN round(list_dot_product(e, plane), 6) > 0
                  THEN '1' ELSE '0' END AS bit
      FROM ve CROSS JOIN planes
    ),
    buckets AS (
      SELECT vec_id, string_agg(bit, '' ORDER BY p) AS bucket
      FROM bits GROUP BY vec_id
    ),
    nv AS (
      SELECT ve.vec_id, e, sqrt(list_dot_product(e, e)) AS nrm, bucket
      FROM ve JOIN buckets USING (vec_id)
    ),
    sem AS (
      SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
             round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) AS cosine_sim
      FROM nv a JOIN nv b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) >= {tau}
    )
    SELECT coalesce(l.doc_a, s.doc_a) AS doc_a,
           coalesce(l.doc_b, s.doc_b) AS doc_b,
           coalesce(l.jaccard, 0.0) AS jaccard,
           coalesce(s.cosine_sim, 0.0) AS cosine_sim,
           CASE WHEN l.doc_a IS NOT NULL AND s.doc_a IS NOT NULL THEN 'both'
                WHEN l.doc_a IS NOT NULL THEN 'lexical'
                ELSE 'semantic' END AS signal
    FROM lex l
    FULL OUTER JOIN sem s ON s.doc_a = l.doc_a AND s.doc_b = l.doc_b
    ORDER BY doc_a, doc_b
    """


@register(
    "dedup_hybrid_consensus",
    oracle=_hybrid_oracle_sql(),
    doc="Multi-signal dedup consensus: the full-outer union of lexical "
    "near-dup pairs (MinHash+LSH, exact-Jaccard verified at 0.8) and "
    "semantic near-dup pairs (hyperplane-LSH cosine at 0.4), labeled "
    "'both'/'lexical'/'semantic'. 'both' is the high-precision kill "
    "set, the union the high-recall review set — the precision/recall "
    "tuning step of a production dedup. Each arm keeps its own "
    "bucketed candidate bound; the consensus join is pair-keyed "
    "(bounded by the two candidate sets, never the corpus).",
)
def dedup_hybrid_consensus(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    lex = D.minhash_dedup_pairs(d, threshold=0.8).select(
        F.col("doc_a").alias("la"),
        F.col("doc_b").alias("lb"),
        "jaccard",
    )
    sem = S.cosine_pairs(emb, threshold=0.4, dim=64).select(
        F.col("doc_a").alias("sa"),
        F.col("doc_b").alias("sb"),
        "cosine_sim",
    )
    return (
        lex.join(
            sem,
            (F.col("sa") == F.col("la")) & (F.col("sb") == F.col("lb")),
            "full_outer",
        )
        .select(
            F.coalesce("la", "sa").alias("doc_a"),
            F.coalesce("lb", "sb").alias("doc_b"),
            F.coalesce("jaccard", F.lit(0.0)).alias("jaccard"),
            F.coalesce("cosine_sim", F.lit(0.0)).alias("cosine_sim"),
            F.when(
                F.col("la").isNotNull() & F.col("sa").isNotNull(), "both"
            )
            .when(F.col("la").isNotNull(), "lexical")
            .otherwise("semantic")
            .alias("signal"),
        )
        .orderBy("doc_a", "doc_b")
    )


@register(
    "corpus_report_card",
    oracle=f"""
    WITH {_SQL_QUALITY_Q},
    base AS (
      SELECT d.doc_id, d.source, d.lang, q.n_tok, q.q,
             md5(substr(d.text, 1, 80)) AS fp
      FROM documents d JOIN q ON q.doc_id = d.doc_id
    ),
    flagged AS (
      SELECT *, CASE WHEN row_number() OVER (
               PARTITION BY fp ORDER BY doc_id) > 1 THEN 1 ELSE 0 END AS is_dup
      FROM base
    ),
    per_source AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
             CAST(SUM(is_dup) AS BIGINT) AS n_dup_docs,
             round(CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*), 6) AS mean_quality
      FROM flagged GROUP BY source
    ),
    lang_counts AS (
      SELECT source, lang, COUNT(*) AS n FROM base GROUP BY source, lang
    ),
    top_lang AS (
      SELECT source, lang AS top_lang FROM (
        SELECT *, row_number() OVER (
          PARTITION BY source ORDER BY n DESC, lang) AS rn
        FROM lang_counts
      ) t WHERE rn = 1
    )
    SELECT p.source, p.n_docs, p.total_tokens, p.n_dup_docs,
           p.mean_quality, t.top_lang
    FROM per_source p JOIN top_lang t USING (source)
    ORDER BY p.source
    """,
    doc="Per-source corpus report card: doc/token counts, exact-dup "
    "docs (fingerprint first-occurrence accounting), DECIMAL-exact "
    "mean quality, and the dominant language — the single-pass "
    "curation dashboard. Two aggregates over one scan lineage plus a "
    "fingerprint window; every number engine-exact.",
)
def corpus_report_card(spark, sf_dir):
    from pyspark.sql import types as T
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    c = F.col("text")
    base = d.select(
        "doc_id",
        "source",
        "lang",
        TX.token_count(c).cast("long").alias("n_tok"),
        F.round(TX.quality_score(c), 6).alias("q"),
        F.md5(F.substring(c, 1, 80).cast("binary")).alias("fp"),
    )
    flagged = base.withColumn(
        "is_dup",
        (
            F.row_number().over(Window.partitionBy("fp").orderBy("doc_id"))
            > 1
        ).cast("long"),
    )
    per_source = flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.sum("is_dup").alias("n_dup_docs"),
        F.round(
            F.sum(F.col("q").cast(T.DecimalType(18, 6))).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_quality"),
    )
    lang_counts = base.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    top_lang = (
        lang_counts.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("source").orderBy(F.desc("n"), "lang")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    return (
        per_source.join(top_lang, "source")
        .select(
            "source", "n_docs", "total_tokens", "n_dup_docs",
            "mean_quality", "top_lang",
        )
        .orderBy("source")
    )


@register(
    "text_ngram_novelty",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    firsts AS (SELECT shingle, MIN(id) AS first_doc FROM sh GROUP BY shingle)
    SELECT s.id AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = s.id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           round(CAST(SUM(CASE WHEN f.first_doc = s.id THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 4) AS novelty
    FROM sh s JOIN firsts f USING (shingle)
    GROUP BY s.id
    ORDER BY doc_id
    """,
    doc="Per-document n-gram novelty: the fraction of a doc's distinct "
    "3-gram shingles first introduced by that doc (global MIN(doc_id) "
    "attribution). The corpus-ordering diagnostic — a falling novelty "
    "curve quantifies how much of the tail is boilerplate and predicts "
    "dedup payoff. One aggregate on the shingle key plus one per-doc "
    "rollup; the shingle table is the same lineage every dedup "
    "operator shares.",
)
def text_ngram_novelty(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    sh = D.shingles(d)
    firsts = sh.groupBy("shingle").agg(F.min("id").alias("first_doc"))
    is_novel = (F.col("first_doc") == F.col("id")).cast("long")
    return (
        sh.join(firsts, "shingle")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(is_novel).alias("n_novel"),
            F.round(
                F.sum(is_novel).cast("double") / F.count(F.lit(1)), 4
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


@register(
    "bpe_pair_counts",
    oracle=r"""
    WITH words AS (
      SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
      FROM documents
    ),
    wc AS (SELECT w, COUNT(*) AS n FROM words GROUP BY w),
    pairs AS (
      SELECT unnest(list_transform(range(1, length(w)),
                                   i -> substr(w, i, 2))) AS pair, n
      FROM wc WHERE length(w) >= 2
    )
    SELECT pair, CAST(SUM(n) AS BIGINT) AS n_occurrences
    FROM pairs GROUP BY pair
    ORDER BY n_occurrences DESC, pair
    LIMIT 20
    """,
    doc="BPE training's first merge step: corpus-wide adjacent-symbol "
    "pair frequencies. The classic scale trick is in the plan: counts "
    "aggregate over DISTINCT words first (vocabulary-sized, one "
    "shuffle), then pairs expand per distinct word weighted by its "
    "frequency — pair expansion work is O(vocabulary), not O(corpus "
    "tokens). Top-20 compiles to TakeOrderedAndProject (distributed "
    "top-k, no global sort).",
)
def bpe_pair_counts(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    words = d.select(F.explode(TX.tokens(F.col("text"))).alias("w"))
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    w = F.col("w")
    pairs = (
        wc.filter(F.length(w) >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length(w) - 1),
                    lambda i: w.substr(i, F.lit(2)),
                )
            ).alias("pair"),
            "n",
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "pair")
        .limit(20)
    )


# Embedding-space clustering --------------------------------------------------

_KM_K = 8

# Lloyd-round CTE chain shared by the kmeans queries: deterministic
# md5-seeded init -> assign (round 1) -> decimal-exact mean recompute ->
# assign (round 2). Mirrors operators/clustering.py bit-for-bit: rounded
# cosine with cluster tie-breaks, DECIMAL(38,12) element sums, one
# double division.
_SQL_KMEANS = f"""
    v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
    seeds AS (
      SELECT CAST(row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INT)
               AS cluster,
             e AS cv
      FROM v
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {_KM_K}
    ),
    c0 AS (SELECT cluster, cv, sqrt(list_dot_product(cv, cv)) AS cnrm FROM seeds),
    s1 AS (
      SELECT n.vec_id, n.e, c.cluster,
             round(list_dot_product(n.e, c.cv) / (n.nrm * c.cnrm), 6) AS sim
      FROM n CROSS JOIN c0 c
    ),
    a1 AS (
      SELECT vec_id, e, cluster FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY sim DESC, cluster) AS rn
        FROM s1
      ) t WHERE rn = 1
    ),
    m1 AS (
      SELECT cluster, p.pos,
             CAST(SUM(CAST(CAST(e[p.pos] AS VARCHAR) AS DECIMAL(38,12))) AS DOUBLE)
               / COUNT(*) AS mv
      FROM a1 CROSS JOIN (SELECT unnest(range(1, 65)) AS pos) p
      GROUP BY cluster, p.pos
    ),
    c1pre AS (
      SELECT cluster, list(mv ORDER BY pos) AS cv FROM m1 GROUP BY cluster
    ),
    c1 AS (
      SELECT cluster, cv, sqrt(list_dot_product(cv, cv)) AS cnrm FROM c1pre
    ),
    s2 AS (
      SELECT n.vec_id, c.cluster,
             round(list_dot_product(n.e, c.cv) / (n.nrm * c.cnrm), 6) AS sim
      FROM n CROSS JOIN c1 c
    ),
    a2 AS (
      SELECT vec_id, cluster, sim FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY sim DESC, cluster) AS rn
        FROM s2
      ) t WHERE rn = 1
    )
"""


@register(
    "embedding_kmeans",
    oracle=f"""
    WITH {_SQL_KMEANS}
    SELECT vec_id, CAST(cluster AS INT) AS cluster, sim AS centroid_sim
    FROM a2 ORDER BY vec_id
    """,
    doc="Distributed Lloyd's k-means (2 rounds, k=8) over the embedding "
    "corpus — the trainer behind a real IVF coarse quantizer and the "
    "bucketing step SemDeDup prescribes (Abbas et al. 2023 §3). "
    "Assignment is map-only (broadcast k-row centroids); recompute "
    "shuffles only k*dim DECIMAL partial-sum cells, so the corpus is "
    "never exchanged. Exact-decimal means make the iteration "
    "partition-layout-independent — verified here by a DuckDB oracle "
    "running the identical rounds.",
    bench=True,
)
def embedding_kmeans(spark, sf_dir):
    from optimus_any2any_spark.operators.clustering import kmeans_assign

    e = load(spark, sf_dir, "embeddings")
    return kmeans_assign(e, k=_KM_K, iterations=2).orderBy("vec_id")


@register(
    "kmeans_cluster_profile",
    oracle=f"""
    WITH {_SQL_KMEANS},
    lbl AS (
      SELECT a2.cluster, a2.sim, emb.label
      FROM a2 JOIN embeddings emb USING (vec_id)
    ),
    stats AS (
      SELECT cluster,
             CAST(COUNT(*) AS BIGINT) AS size,
             round(CAST(SUM(CAST(sim AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*), 6) AS mean_sim,
             MIN(sim) AS min_sim
      FROM lbl GROUP BY cluster
    ),
    lc AS (
      SELECT cluster, label AS lbl, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lbl GROUP BY cluster, label
    ),
    top AS (
      SELECT cluster, lbl AS majority_label, cnt AS majority_count FROM (
        SELECT *, row_number() OVER (
          PARTITION BY cluster ORDER BY cnt DESC, lbl) AS rn
        FROM lc
      ) t WHERE rn = 1
    )
    SELECT CAST(s.cluster AS INT) AS cluster, s.size, s.mean_sim, s.min_sim,
           top.majority_label, top.majority_count
    FROM stats s JOIN top USING (cluster)
    ORDER BY cluster
    """,
    doc="Per-cluster curation report over the k-means assignment: size, "
    "mean/min centroid similarity (cluster tightness — SemDeDup prunes "
    "loose clusters first) and majority-label purity. One extra k-row "
    "aggregate on top of embedding_kmeans; the corpus is read once.",
)
def kmeans_cluster_profile(spark, sf_dir):
    from optimus_any2any_spark.operators.clustering import (
        kmeans_cluster_profile as profile,
    )

    e = load(spark, sf_dir, "embeddings")
    return (
        profile(e, label_col="label", k=_KM_K, iterations=2)
        .withColumn("cluster", F.col("cluster").cast("int"))
        .orderBy("cluster")
    )


@register(
    "embedding_covariance",
    oracle="""
    WITH v AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    pos AS (SELECT unnest(range(1, 65)) AS p),
    cells AS (
      SELECT p1.p - 1 AS i, p2.p - 1 AS j, v.e[p1.p] AS xi, v.e[p2.p] AS xj
      FROM v, pos p1, pos p2 WHERE p1.p <= p2.p
    )
    SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
           round(CAST(SUM(CAST(xi AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(*), 6) + 0.0 AS mean_i,
           round(CAST(SUM(CAST(xj AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(*), 6) + 0.0 AS mean_j,
           round((CAST(SUM(CAST(xi * xj AS DECIMAL(38,12))) AS DOUBLE)
                  - CAST(SUM(CAST(xi AS DECIMAL(38,12))) AS DOUBLE)
                    * CAST(SUM(CAST(xj AS DECIMAL(38,12))) AS DOUBLE)
                    / COUNT(*))
                 / COUNT(*), 6) + 0.0 AS cov
    FROM cells GROUP BY i, j ORDER BY i, j
    """,
    doc="Corpus embedding covariance (upper triangle, population form) "
    "— the statistic behind whitening, OPQ rotation training, and "
    "drift monitoring. Each row contributes its d(d+1)/2 products; "
    "map-side combine collapses every partition to <=2080 cells, so "
    "the ONLY shuffle is cell-keyed — corpus rows never move. Sums in "
    "DECIMAL(38,12): bit-identical on any partitioning and vs the "
    "oracle.",
)
def embedding_covariance(spark, sf_dir):
    from optimus_any2any_spark.operators.linalg import embedding_mean_cov

    e = load(spark, sf_dir, "embeddings")
    return embedding_mean_cov(e).orderBy("i", "j")


@register(
    "embedding_whiten_identity",
    oracle="""
    WITH pos AS (SELECT unnest(range(0, 64)) AS p)
    SELECT CAST(p1.p AS INT) AS i, CAST(p2.p AS INT) AS j,
           CASE WHEN p1.p = p2.p THEN 1.0 ELSE 0.0 END AS cov_w
    FROM pos p1, pos p2 WHERE p1.p <= p2.p ORDER BY i, j
    """,
    doc="ZCA whitening verified by its defining identity: the corpus "
    "is whitened (driver-side 64x64 eigh of the DECIMAL-exact "
    "covariance; one numpy matmul per Arrow batch) and the WHITENED "
    "corpus's covariance is re-measured distributed — it must be the "
    "identity matrix to 3 decimals, which the oracle states literally. "
    "This checks the whole chain (covariance, eigh, transform, "
    "re-aggregation) without pinning eigenvector sign conventions. "
    "Scale: two corpus scans, cell-keyed shuffles only, d x d driver "
    "work.",
)
def embedding_whiten_identity(spark, sf_dir):
    from optimus_any2any_spark.operators.linalg import (
        embedding_mean_cov,
        whiten_embeddings,
    )

    e = load(spark, sf_dir, "embeddings")
    w = whiten_embeddings(e, eps=1e-9)
    cells = embedding_mean_cov(w, id_col="id", vec_col="whitened")
    return cells.select(
        "i",
        "j",
        # +0.0 folds IEEE -0.0 into 0.0 before the value hash
        (F.round(F.col("cov"), 3) + F.lit(0.0)).alias("cov_w"),
    ).orderBy("i", "j")


_SEMDEDUP_EPS = 0.4


@register(
    "dedup_semantic_trained",
    oracle=f"""
    WITH {_SQL_KMEANS},
    p AS (
      SELECT x.vec_id AS ia, y.vec_id AS ib, x.sim AS sa, y.sim AS sb,
             round(list_dot_product(na.e, nb.e) / (na.nrm * nb.nrm), 6) AS c
      FROM a2 x JOIN a2 y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
      JOIN n na ON na.vec_id = x.vec_id
      JOIN n nb ON nb.vec_id = y.vec_id
    ),
    ed AS (
      SELECT ia AS id, ib AS nb_id, sa AS my_sim, sb AS nb_sim
      FROM p WHERE c >= {_SEMDEDUP_EPS}
      UNION ALL
      SELECT ib, ia, sb, sa FROM p WHERE c >= {_SEMDEDUP_EPS}
    ),
    agg AS (
      SELECT id, CAST(COUNT(*) AS BIGINT) AS n_dup,
             bool_or(nb_sim < my_sim
                     OR (nb_sim = my_sim AND nb_id < id)) AS removed
      FROM ed GROUP BY id
    )
    SELECT a2.vec_id, CAST(a2.cluster AS INT) AS cluster,
           a2.sim AS centroid_sim,
           coalesce(agg.n_dup, 0) AS dup_neighbors,
           NOT coalesce(agg.removed, FALSE) AS keep
    FROM a2 LEFT JOIN agg ON agg.id = a2.vec_id
    ORDER BY a2.vec_id
    """,
    doc="SemDeDup over TRAINED clusters (Abbas et al. 2023 §3 prescribes\n    k-means bucketing; dedup_semantic is the untrained seed-quantizer\n    variant): Lloyd rounds bucket the corpus, "
    "cluster members are compared pairwise, and within every cosine-eps "
    "duplicate pair the member farther from the centroid survives "
    "(the paper's diversity-preserving rule, applied per edge). The "
    "pairwise stage shuffles on the cluster key only — per-task cost "
    "is max-cluster-size², the paper's own budget, bounded by choosing "
    "k ∝ corpus size; a hot cluster is an equi-JOIN so AQE skew-split "
    "applies. Survivor verdicts roll up in one map-side-combinable "
    "aggregate. Cosines and centroid sims round at 6dp with id "
    "tie-breaks — bit-exact vs the DuckDB oracle running the identical "
    "Lloyd rounds.",
    bench=True,
)
def dedup_semantic_trained(spark, sf_dir):
    from optimus_any2any_spark.operators.clustering import semdedup_trained

    e = load(spark, sf_dir, "embeddings")
    return semdedup_trained(
        e, k=_KM_K, iterations=2, eps=_SEMDEDUP_EPS
    ).orderBy("vec_id")


# Exact substring-span dedup + hashed linear quality ---------------------------

_SPAN_N = 6
_SPAN_THRESHOLD = 0.5


@register(
    "dedup_span_exact",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents
    ),
    sp AS (
      SELECT doc_id, md5(gram) AS h FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) - {_SPAN_N - 2}),
                      i -> array_to_string(t[i:i+{_SPAN_N - 1}], ' '))) AS gram
        FROM tok WHERE len(t) >= {_SPAN_N}
      )
    ),
    cnt AS (SELECT h, COUNT(*) AS c FROM sp GROUP BY h),
    dup AS (SELECT h FROM cnt WHERE c > 1),
    per AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(COUNT(*) FILTER (h IN (SELECT h FROM dup)) AS BIGINT)
               AS dup_spans
      FROM sp GROUP BY doc_id
    )
    SELECT doc_id, n_spans, dup_spans,
           round(CAST(dup_spans AS DOUBLE) / n_spans, 4) AS dup_frac,
           CAST(dup_spans AS DOUBLE) / n_spans >= {_SPAN_THRESHOLD} AS flagged
    FROM per WHERE dup_spans > 0
    ORDER BY doc_id
    """,
    doc="Exact substring-span duplication (Lee et al. 2022, "
    "arXiv:2107.06499 ExactSubstr, hashed form): word 6-gram "
    "occurrences (multiplicity kept) keyed by md5; a span repeated "
    "anywhere in the corpus marks every occurrence. Per-doc duplicated "
    "fraction + threshold flag. Per-(doc,span) counts and corpus span "
    "totals are both map-side-combined aggregates on the fixed-width "
    "key (totals re-attach via an AQE-splittable equi-join on the "
    "reduced frame, never a window) — span length changes compute, "
    "never shuffle bytes.",
    bench=True,
)
def dedup_span_exact(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return D.span_exact_stats(
        d, n=_SPAN_N, threshold=_SPAN_THRESHOLD
    ).orderBy("doc_id")


@register(
    "text_quality_linear",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents
    ),
    scored AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_tokens,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(t, tk ->
                   ((list_reduce(
                       list_transform(range(1, 8),
                         p -> CAST(strpos('0123456789abcdef',
                                          substr(md5(tk), p, 1)) - 1
                              AS BIGINT)),
                       (a, b) -> a * 16 + b) % 512)
                    * 2654435761) % 2001 - 1000)),
               (a, b) -> a + b) AS weight_sum
      FROM tok
    )
    SELECT doc_id, n_tokens, weight_sum,
           CAST(weight_sum AS DOUBLE) / (1000.0 * n_tokens) AS score
    FROM scored
    ORDER BY doc_id
    """,
    doc="fastText-style linear quality classifier over hashed "
    "bag-of-words features: token -> 28-bit md5 bucket (mod 512) -> "
    "deterministic integer weight, doc score = mean weight. The "
    "production shape (hash features + broadcast weights + in-row dot "
    "product) with a stand-in weight table; pure Column fold — zero "
    "shuffles, zero Python, linear in bytes scanned.",
)
def text_quality_linear(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    n_tokens, wsum, score = TX.hashed_linear_score(F.col("text"))
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        wsum.alias("weight_sum"),
        score.alias("score"),
    ).orderBy("doc_id")


_TIVF_CELLS = 16
_TIVF_NPROBE = 2

# Trained-IVF CTE chain: one Lloyd refinement round over 16 seed cells
# (the FAISS train step), then the IVF probe against the REFINED
# centroids. Mirrors kmeans_centroids(rounds=1) +
# ivf_topk_with_centroids exactly.
_SQL_TRAINED_IVF = f"""
    v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
    seeds AS (
      SELECT CAST(row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INT)
               AS cluster,
             e AS cv
      FROM v
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {_TIVF_CELLS}
    ),
    c0 AS (SELECT cluster, cv, sqrt(list_dot_product(cv, cv)) AS cnrm FROM seeds),
    s1 AS (
      SELECT n.vec_id, n.e, c.cluster,
             round(list_dot_product(n.e, c.cv) / (n.nrm * c.cnrm), 6) AS sim
      FROM n CROSS JOIN c0 c
    ),
    a1 AS (
      SELECT vec_id, e, cluster FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY sim DESC, cluster) AS rn
        FROM s1
      ) t WHERE rn = 1
    ),
    m1 AS (
      SELECT cluster, p.pos,
             CAST(SUM(CAST(CAST(e[p.pos] AS VARCHAR) AS DECIMAL(38,12))) AS DOUBLE)
               / COUNT(*) AS mv
      FROM a1 CROSS JOIN (SELECT unnest(range(1, 65)) AS pos) p
      GROUP BY cluster, p.pos
    ),
    c1pre AS (
      SELECT cluster, list(mv ORDER BY pos) AS cv FROM m1 GROUP BY cluster
    ),
    c1 AS (
      SELECT cluster AS centroid_id, cv,
             sqrt(list_dot_product(cv, cv)) AS cnrm
      FROM c1pre
    ),
    scored AS (
      SELECT n.vec_id, n.e, n.nrm, c.centroid_id,
             round(list_dot_product(n.e, c.cv) / (n.nrm * c.cnrm), 6) AS sim
      FROM n CROSS JOIN c1 c
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS crank
      FROM scored
    ),
    assign AS (
      SELECT vec_id AS cand_id, centroid_id AS cell, e AS cand_e,
             nrm AS cand_nrm
      FROM ranked WHERE crank = 1
    ),
    probes AS (
      SELECT vec_id, centroid_id AS cell, e AS qe, nrm AS q_nrm
      FROM ranked WHERE crank <= {_TIVF_NPROBE}
    ),
    cand AS (
      SELECT p.vec_id, a.cand_id AS neighbor_id,
             round(list_dot_product(p.qe, a.cand_e)
                   / (p.q_nrm * a.cand_nrm), 6) AS cosine_sim
      FROM probes p JOIN assign a
        ON p.cell = a.cell AND p.vec_id != a.cand_id
    )
"""


@register(
    "ann_ivf_trained_topk",
    oracle=f"""
    WITH {_SQL_TRAINED_IVF}
    SELECT vec_id, neighbor_id, cosine_sim, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM cand
    ) t WHERE rank <= 5
    ORDER BY vec_id, rank
    """,
    doc="IVF top-5 served from a TRAINED coarse quantizer: one Lloyd "
    "refinement round over 16 seed cells (kmeans_centroids), then the "
    "standard broadcast-assign / nprobe-probe / cell-local candidate "
    "join against the refined centroids — FAISS's train-then-index "
    "split, end-to-end oracle-verified. Same scale shape as "
    "ann_ivf_topk: the corpus never crosses a quantizer exchange.",
)
def ann_ivf_trained_topk(spark, sf_dir):
    from optimus_any2any_spark.operators.clustering import kmeans_centroids

    e = load(spark, sf_dir, "embeddings")
    cent = kmeans_centroids(e, k=_TIVF_CELLS, rounds=1)
    return S.ivf_topk_with_centroids(
        e, cent, k=5, nprobe=_TIVF_NPROBE
    ).orderBy("vec_id", "rank")


_BUDGET_TOKENS = 100_000
_MIX_PARTS = [("src0", 5), ("src1", 3), ("src2", 1), ("src3", 1)]
_MIX_TOTAL_PARTS = sum(p for _, p in _MIX_PARTS)


@register(
    "mix_token_budget_plan",
    oracle=f"""
    WITH parts(source, part) AS (VALUES
      {", ".join(f"('{s}', {p})" for s, p in _MIX_PARTS)}
    ),
    avail AS (
      SELECT d.source,
             CAST(SUM(len(string_split_regex(trim(d.text), '\\s+')))
                  AS BIGINT) AS available_tokens
      FROM documents d JOIN parts USING (source)
      GROUP BY d.source
    )
    SELECT a.source,
           a.available_tokens,
           CAST(({_BUDGET_TOKENS} * p.part) // {_MIX_TOTAL_PARTS} AS BIGINT)
             AS target_tokens,
           CAST(CEIL(CAST(({_BUDGET_TOKENS} * p.part) // {_MIX_TOTAL_PARTS}
                          AS DOUBLE) / a.available_tokens) AS BIGINT)
             AS epochs,
           CAST(({_BUDGET_TOKENS} * p.part) // {_MIX_TOTAL_PARTS} AS DOUBLE)
             / a.available_tokens AS sample_rate
    FROM avail a JOIN parts p USING (source)
    ORDER BY a.source
    """,
    doc="Training-mixture token-budget planner (the DoReMi-style "
    "planning step before sampling): per-source available tokens (one "
    "aggregate over the corpus), integer-exact target allocation "
    "(budget * part // total_parts — no float weight drift), epochs = "
    "ceil(target/available) (how many passes, i.e. the upsampling "
    "factor), and the sampling rate. One corpus scan + a broadcast "
    "parts table; output is |sources| rows.",
)
def mix_token_budget_plan(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    from optimus_any2any_spark.localrel import local_rows_df

    parts = local_rows_df(
        d.sparkSession, _MIX_PARTS, "source string, part bigint"
    )
    avail = (
        d.join(F.broadcast(parts), "source")
        .groupBy("source")
        .agg(F.sum(TX.token_count(F.col("text"))).alias("available_tokens"))
    )
    target = (
        (F.lit(_BUDGET_TOKENS) * F.col("part"))
        / F.lit(_MIX_TOTAL_PARTS)
    ).cast("long")  # floor division: both operands positive ints
    out = avail.join(F.broadcast(parts), "source").select(
        "source",
        "available_tokens",
        target.alias("target_tokens"),
        F.ceil(
            target.cast("double") / F.col("available_tokens")
        ).alias("epochs"),
        (target.cast("double") / F.col("available_tokens")).alias(
            "sample_rate"
        ),
    )
    return out.orderBy("source")


_DSIR_B = 256  # hashed-feature buckets (Xie et al. use 10k at web scale)


@register(
    "mix_dsir_importance",
    oracle=f"""
    WITH tok AS (SELECT doc_id, lang, {_SQL_TOKENS} AS t FROM documents),
    gr AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, len(t)),
                    i -> array_to_string(t[i:i+1], ' '))) AS gram
      FROM tok WHERE len(t) >= 2
    ),
    hb AS (
      SELECT doc_id, lang,
             list_reduce(list_transform(range(1, 8),
               p -> CAST(strpos('0123456789abcdef',
                                substr(md5(gram), p, 1)) - 1 AS BIGINT)),
               (a, b) -> a * 16 + b) % {_DSIR_B} AS b
      FROM gr
    ),
    tgt AS (SELECT b, COUNT(*) AS ct FROM hb WHERE lang = 'en' GROUP BY b),
    raw AS (SELECT b, COUNT(*) AS cr FROM hb GROUP BY b),
    tots AS (
      SELECT (SELECT COUNT(*) FROM hb WHERE lang = 'en') AS tt,
             (SELECT COUNT(*) FROM hb) AS rt
    ),
    lr AS (
      SELECT r.b,
             round(ln(CAST(coalesce(t.ct, 0) + 1 AS DOUBLE)
                      / CAST(tots.tt + {_DSIR_B} AS DOUBLE))
                   - ln(CAST(r.cr + 1 AS DOUBLE)
                        / CAST(tots.rt + {_DSIR_B} AS DOUBLE)), 6) AS w
      FROM raw r LEFT JOIN tgt t USING (b) CROSS JOIN tots
    )
    SELECT hb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
           CAST(round(SUM(CAST(lr.w AS DECIMAL(18,6))), 4) AS DOUBLE)
             AS dsir_logweight,
           SUM(CAST(lr.w AS DECIMAL(18,6))) > 0 AS selected
    FROM hb JOIN lr USING (b)
    GROUP BY hb.doc_id ORDER BY hb.doc_id
    """,
    doc="DSIR importance resampling (Xie et al. 2023, arXiv:2302.03169 "
    "§3): documents weighted by how target-like their hashed bigram "
    "features are — log p_target/p_raw summed over occurrences, with "
    "add-1-smoothed bucket distributions (target = lang='en' here). "
    "The published cheap alternative to classifier-based selection. "
    "Scale shape: feature expansion is per-row; both bucket "
    "distributions are B-row aggregates with map-side combine; the "
    "log-ratio table (≤B rows) BROADCASTS back onto the occurrence "
    "stream, so the only corpus-scale shuffle is the per-doc rollup. "
    "Per-bucket ratios round at 6dp and per-doc sums accumulate in "
    "DECIMAL — bit-exact vs the oracle.",
    bench=True,
)
def mix_dsir_importance(spark, sf_dir):
    from optimus_any2any_spark.operators.dedup import _base_hash
    from optimus_any2any_spark.operators.util import ensure_parallelism

    # per-gram md5 hashing is CPU-bound; parallelize a one-file input
    d = ensure_parallelism(load(spark, sf_dir, "documents"), "doc_id")
    t = TX.tokens(F.col("text"))
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - 1),
        lambda i: F.concat_ws(" ", F.slice(t, i, 2)),
    )
    # the hashed-feature stream feeds FOUR consumers (raw/target
    # distributions, totals, and the final scoring join) — persist it
    # or Catalyst re-runs the tokenize+explode lineage per consumer
    # (this + input parallelization: 5.2s -> 1.2s at sf0.1)
    hb = (
        d.filter(F.size(t) >= 2)
        .select("doc_id", "lang", F.explode(grams).alias("gram"))
        .select(
            "doc_id",
            "lang",
            (_base_hash(F.col("gram")) % _DSIR_B).alias("b"),
        )
        .persist()
    )
    raw = hb.groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    tgt = (
        hb.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    tots = hb.agg(
        F.count(F.lit(1)).alias("rt"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("tt"),
    )
    lr = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "b",
            F.round(
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
                    / (F.col("tt") + _DSIR_B).cast("double")
                )
                - F.log(
                    (F.col("cr") + 1).cast("double")
                    / (F.col("rt") + _DSIR_B).cast("double")
                ),
                6,
            ).alias("w"),
        )
    )
    # round the DECIMAL sum BEFORE casting to double: Spark's
    # round(double) rounds the shortest decimal string
    # (BigDecimal.valueOf) while DuckDB rounds the binary value, and
    # they disagree exactly on .xxxx5-boundary sums (hit at sf0.1).
    # Decimal rounding is exact in both engines.
    logw_dec = F.sum(F.col("w").cast("decimal(18,6)"))
    return (
        hb.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            F.round(logw_dec, 4).cast("double").alias("dsir_logweight"),
            (logw_dec > 0).alias("selected"),
        )
        .orderBy("doc_id")
    )
