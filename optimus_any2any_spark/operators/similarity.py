"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k via a self-join — correct at any
recall, O(n²) pairs; usable for test scale and as the verification
oracle for approximate variants.

Scale path: random-hyperplane LSH bucketing — hyperplane signs derived
from seeded md5 parity so buckets are deterministic and reproducible in
any engine; candidate search is confined to same-bucket pairs, turning
the O(n²) cross join into a bucket-local join. (IVF with learned
centroids needs an iterative trainer; the LSH variant gives the same
join shape without training state.)

Numeric discipline: elements cast to double before multiply-accumulate;
final similarity rounded to 6 decimals with id tie-breaks so ranking is
deterministic and engine-portable.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from optimus_any2any_spark.operators.util import ensure_parallelism


def _dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right double dot product."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for every vector (self-join).

    Returns (vec_id, neighbor_id, cosine_sim, rank) with deterministic
    ordering: rounded similarity desc, neighbor id asc.
    """
    df = ensure_parallelism(df, F.col(id_col))
    a = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vb"))
    pairs = a.join(b, F.col("vec_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "vec_id",
        "neighbor_id",
        F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hyperplanes(dim: int, num_planes: int, seed: str = "simsearch") -> list[list[float]]:
    """Deterministic ±1 hyperplanes from md5 parity — reproducible
    anywhere (Python, Spark, SQL) without RNG state."""
    planes = []
    for p in range(num_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}|{p}|{d}".encode()).hexdigest()
            row.append(1.0 if int(h[0], 16) % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Bucket id = bit-string of hyperplane sign tests."""
    bits = []
    for row in planes:
        plane = F.array(*[F.lit(v) for v in row])
        bits.append(F.when(F.round(_dot(vec, plane), 6) > 0, "1").otherwise("0"))
    return F.concat(*bits)


def cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    num_planes: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (LSH-bucketed).

    Candidate pairs come from the same deterministic hyperplane bucket
    (so the join is bucket-local, never the n² cross join); each
    candidate is verified with the exact rounded cosine against the
    threshold. Returns (doc_a, doc_b, cosine_sim) with doc_a < doc_b.
    Recall < 1 by construction — the standard embedding near-dedup
    trade; raise ``num_planes`` bands or OR multiple tables for recall.
    """
    if dim is None:
        # one-row probe; pass `dim` to skip the extra driver action
        first = df.select(vec_col).first()
        dim = len(first[0]) if first else 0
    planes = hyperplanes(dim, num_planes)
    df = ensure_parallelism(df, F.col(id_col))
    with_bucket = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    a = with_bucket.alias("a")
    b = with_bucket.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.round(cosine(F.col("a.v"), F.col("b.v")), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def ivf_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    persist_index: bool = True,
) -> DataFrame:
    """IVF-style approximate top-k cosine neighbors.

    ``persist_index=True`` caches the n·nprobe-row cell index so both
    sides of the candidate self-join read one materialization (2× on
    the dominant stage). The cache lives until Spark evicts it — a
    long-lived session issuing many ivf_topk calls should either pass
    ``persist_index=False`` or unpersist via ``spark.catalog.clearCache``.

    Coarse quantizer: ``n_cells`` deterministic seed centroids (the
    vectors with the smallest md5(id) — portable, no RNG/training
    state). Every vector is assigned to its nearest centroid (one pass,
    broadcast join against the tiny centroid table); a query probes its
    ``nprobe`` nearest cells and ranks only the vectors in those cells.
    At scale the assignment is the IVF index build (cells ≙ partition
    pruning); probe-side work is n/cells · nprobe instead of n.
    """
    ranked = _ivf_ranked(df, id_col, vec_col, n_cells, nprobe)
    if persist_index:
        ranked = ranked.persist()
    return _topk_from_ranked(ranked, k)


def _ivf_ranked(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int,
    nprobe: int,
) -> DataFrame:
    """The n·nprobe IVF ranking table (quantizer + cell assignment)."""
    df = ensure_parallelism(df, F.col(id_col))
    # Norms are computed ONCE per vector and carried through the joins:
    # cosine per candidate pair is then one dot product + a divide, not
    # three (pair dot + two norms) — a 3× cut in the dominant cost.
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("nrm"),
    )
    # orderBy+limit compiles to TakeOrderedAndProject — a distributed
    # top-k, unlike a global row_number window (single-partition sort).
    centroids = (
        base.withColumn("h", F.md5(F.col("id").cast("string").cast("binary")))
        .orderBy("h", "id")
        .limit(n_cells)
        .select(
            F.col("id").alias("centroid_id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cnrm"),
        )
    )
    scored = base.crossJoin(F.broadcast(centroids)).select(
        "id",
        "v",
        "nrm",
        "centroid_id",
        F.round(
            _dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cnrm")), 6
        ).alias("sim"),
    )
    cw = Window.partitionBy("id").orderBy(F.col("sim").desc(), F.col("centroid_id"))
    # The ≤nprobe ranking IS the IVF index — persist it so the cell
    # assignment (crank==1 ⊂ crank<=nprobe) and the probe list read one
    # materialization instead of re-running the quantizer cross join on
    # both sides of the candidate self-join (2× the dominant stage).
    # Size is n·nprobe rows — index-scale, not corpus-scale.
    return scored.withColumn("crank", F.row_number().over(cw)).filter(
        F.col("crank") <= nprobe
    )


def _topk_from_ranked(ranked: DataFrame, k: int) -> DataFrame:
    """Top-k neighbors from an IVF ranking table
    (id, centroid_id, v, nrm, crank<=nprobe) — shared by the in-session
    and persisted-index paths."""
    assign = ranked.filter(F.col("crank") == 1).select(
        F.col("id").alias("cand_id"),
        F.col("centroid_id").alias("cell"),
        F.col("v").alias("cand_v"),
        F.col("nrm").alias("cand_nrm"),
    )
    probes = ranked.select(
        F.col("id").alias("vec_id"),
        F.col("centroid_id").alias("cell"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("q_nrm"),
    )
    cand = probes.join(
        assign,
        (probes.cell == assign.cell) & (F.col("vec_id") != F.col("cand_id")),
    ).select(
        "vec_id",
        F.col("cand_id").alias("neighbor_id"),
        F.round(
            _dot(F.col("qv"), F.col("cand_v"))
            / (F.col("q_nrm") * F.col("cand_nrm")),
            6,
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def build_ivf_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    nprobe: int = 4,
) -> None:
    """Materialize the IVF index to parquet, partitioned by cell.

    Build once, query many times across sessions: the index is the
    n·nprobe ranking table ``ivf_topk`` computes in-session, written
    with ``partitionBy(centroid_id)`` so a probe of one cell is a
    partition-pruned scan (the on-disk analogue of FAISS's inverted
    lists). Rebuild when the corpus changes — the quantizer is
    deterministic, so a rebuild over identical data is byte-stable.
    """
    ranked = _ivf_ranked(df, id_col, vec_col, n_cells, nprobe)
    ranked.write.mode("overwrite").partitionBy("centroid_id").parquet(path)


def ivf_topk_from_index(spark, path: str, k: int = 5) -> DataFrame:
    """Top-k neighbors served from a :func:`build_ivf_index` parquet
    index — identical output to the in-session ``ivf_topk`` on the same
    corpus, without re-running the quantizer."""
    ranked = spark.read.parquet(path)
    return _topk_from_ranked(ranked, k)


def semdedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    tau: float = 0.45,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then drop
    within-cluster near-duplicates, keeping the member of each
    duplicate pair that sits FARTHEST from its centroid (the paper's
    keep rule — extreme points carry more information than the cluster
    core they duplicate).

    Quantizer: ``n_cells`` deterministic seed centroids (smallest
    md5(id) — portable, no RNG/training state, same trick as
    :func:`ivf_topk`); assignment is one pass over a broadcast centroid
    table. The near-dup check is the within-cluster self-join — pair
    count is Σ cell², never n², which is exactly SemDeDup's scale
    argument: the quadratic term is bounded by cluster size, and each
    cell's join is hash-local after one shuffle on the cell key. At
    corpus scale grow ``n_cells`` ~ √n to hold cell sizes flat.

    Drop rule (pairwise, no transitive closure needed): a vector is
    dropped iff some same-cell vector within ``tau`` cosine has
    strictly lower centroid similarity (ties broken by smaller id).
    Per duplicate group this keeps exactly the minimal element of that
    ordering, deterministically in any engine.

    Returns (vec_id, cell, centroid_sim, kept) for every input vector.
    """
    base = ensure_parallelism(df, F.col(id_col)).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("nrm"),
    )
    centroids = (
        base.withColumn("h", F.md5(F.col("id").cast("string").cast("binary")))
        .orderBy("h", "id")
        .limit(n_cells)
        .select(
            F.col("id").alias("centroid_id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cnrm"),
        )
    )
    scored = base.crossJoin(F.broadcast(centroids)).select(
        "id",
        "v",
        "nrm",
        "centroid_id",
        F.round(
            _dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cnrm")), 6
        ).alias("sim"),
    )
    cw = Window.partitionBy("id").orderBy(F.col("sim").desc(), F.col("centroid_id"))
    # The assignment feeds both sides of the pair join AND the final
    # projection — persist it so the quantizer cross join runs once.
    assign = (
        scored.withColumn("crank", F.row_number().over(cw))
        .filter(F.col("crank") == 1)
        .drop("crank")
        .persist()
    )
    a = assign.alias("a")
    b = assign.alias("b")
    dropped = (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.id") != F.col("b.id"))
            & (
                (F.col("b.sim") < F.col("a.sim"))
                | ((F.col("b.sim") == F.col("a.sim")) & (F.col("b.id") < F.col("a.id")))
            ),
        )
        .filter(F.round(cosine(F.col("a.v"), F.col("b.v")), 6) >= tau)
        .select(F.col("a.id").alias("dropped_id"))
        .distinct()
    )
    return assign.join(
        dropped, assign.id == dropped.dropped_id, "left"
    ).select(
        F.col("id").alias("vec_id"),
        F.col("centroid_id").alias("cell"),
        F.col("sim").alias("centroid_sim"),
        F.when(F.col("dropped_id").isNotNull(), F.lit(0))
        .otherwise(F.lit(1))
        .cast("int")
        .alias("kept"),
    )


def lsh_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_planes: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: neighbors searched within the same LSH bucket.

    Recall < 1 by construction (bucket boundaries); at scale this is the
    join-shape win — each bucket joins only with itself, so the pair
    count drops from n² to Σ bucket².
    """
    if dim is None:
        # one-row probe; pass `dim` to skip the extra driver action
        first = df.select(vec_col).first()
        dim = len(first[0]) if first else 0
    planes = hyperplanes(dim, num_planes)
    df = ensure_parallelism(df, F.col(id_col))
    with_bucket = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    a = with_bucket.alias("a")
    b = with_bucket.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") != F.col("b.id")),
    ).select(
        F.col("a.id").alias("vec_id"),
        F.col("b.id").alias("neighbor_id"),
        F.round(cosine(F.col("a.v"), F.col("b.v")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_topk_with_centroids(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF top-k cosine neighbors served from a TRAINED quantizer —
    ``centroids`` is the ``(cluster, cv)`` table
    :func:`..clustering.kmeans_centroids` produces (FAISS's
    train-then-index split: Lloyd rounds refine the cells, then the
    index assigns and probes against the refined centroids).

    Identical join shape to :func:`ivf_topk` — broadcast quantizer
    scoring, per-vector nprobe ranking, cell-local candidate join —
    with the centroid table swapped for the trained one, so every
    scale property (corpus never crosses a quantizer exchange,
    candidates bounded by cell occupancy) carries over.
    """
    df = ensure_parallelism(df, F.col(id_col))
    base = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    ).withColumn("nrm", _norm(F.col("v")))
    cn = centroids.select(
        F.col("cluster").alias("centroid_id"),
        F.col("cv"),
        _norm(F.col("cv")).alias("cnrm"),
    )
    scored = base.crossJoin(F.broadcast(cn)).select(
        "id",
        "v",
        "nrm",
        "centroid_id",
        F.round(
            _dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cnrm")), 6
        ).alias("sim"),
    )
    cw = Window.partitionBy("id").orderBy(
        F.col("sim").desc(), F.col("centroid_id")
    )
    ranked = scored.withColumn("crank", F.row_number().over(cw)).filter(
        F.col("crank") <= nprobe
    ).persist()
    return _topk_from_ranked(ranked, k)


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-vector int8 scalar quantization (the FAISS SQ8 idea): map
    each dimension to round((x - min) * 255 / (max - min)), carrying
    (qmin, qmax) for dequantization — 4x smaller embedding storage for
    corpus-scale ANN, with the reconstruction error reported per
    vector.

    Cross-engine exactness: float -> double promotion is exact, both
    engines then compute the identical IEEE expression and round
    half-away-from-zero, so the integer codes match bit-for-bit; the
    mean absolute error rounds per element at 9 and accumulates in
    DECIMAL so it is order-independent. Map-only — zero shuffle, and
    O(d) per vector: the double array, its min/max and the codes are
    each bound to a column once, and the error pass walks the vector
    and its codes side by side (``zip_with``).
    """
    v = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("arr"),
    ).select(
        id_col,
        "arr",
        F.array_min("arr").alias("qmin"),
        F.array_max("arr").alias("qmax"),
    )
    mn, rng = F.col("qmin"), F.col("qmax") - F.col("qmin")

    def code(x):
        return (
            F.when(rng == 0, F.lit(0))
            .otherwise(F.round((x - mn) * 255.0 / rng).cast("int"))
        )

    coded = v.select(
        id_col, "arr", "qmin", "qmax", F.transform("arr", code).alias("codes")
    )

    def deq(c):
        return mn + c.cast("double") * rng / 255.0

    errs = F.zip_with(
        "arr", "codes", lambda x, c: F.round(F.abs(x - deq(c)), 9)
    )
    # the accumulator type must be invariant across fold steps
    # (decimal '+' widens precision by one), so every step casts back
    # to DECIMAL(28,9) — exact for 64 error terms < 2.0 at 9 dp
    mae = F.round(
        F.aggregate(
            errs,
            F.lit(0).cast("decimal(28,9)"),
            lambda a, x: (a + x.cast("decimal(28,9)")).cast("decimal(28,9)"),
        ).cast("double")
        / F.size("arr"),
        6,
    )
    return coded.select(
        F.col(id_col),
        "qmin",
        "qmax",
        F.md5(
            F.array_join(
                F.transform("codes", lambda c: c.cast("string")), ","
            ).cast("binary")
        ).alias("codes_fp"),
        mae.alias("mae"),
    )
