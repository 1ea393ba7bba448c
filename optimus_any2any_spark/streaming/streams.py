"""Streaming pipelines: file/Kafka stream → windowed aggs → sinks.

Shapes provided:

- :func:`stream_source` — ``readStream`` over an NDJSON directory (the
  streaming twin of the FILE source) or Kafka.
- :func:`windowed_counts` — event-time tumbling windows with a
  watermark for late data.
- :func:`sessionized` — session windows per key.
- :func:`run_to_memory` — drive a stream to completion against the
  currently-available data (processingTime trigger availableNow), for
  tests and backfills.

At scale these run exactly like the batch operators (same Catalyst
plans) with incremental state in the state store; watermark delay
bounds state size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def stream_source(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    fmt: str = "json",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.format(fmt).load(path)


def windowed_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling event-time window counts with late-data watermark."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n_events",
        )
    )


def sessionized(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows (inactivity gap) per key — the streaming twin of
    the batch sessionization query."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("s"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            key_col,
            "n_events",
        )
    )


def deduplicated(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: drop repeats of ``key_cols`` arriving
    within the watermark delay — the streaming twin of the batch
    exact-dedup operator (operators/dedup.py). State holds one entry
    per key seen inside the watermark horizon, so state size is bounded
    by key arrival rate × delay, not by stream length (the unbounded
    ``dropDuplicates`` alternative grows forever)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def interval_joined(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "rts",
    max_delay: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join within a time interval: right events at
    most ``max_delay`` before each left event, same key.

    Both sides carry watermarks so the state store can evict rows older
    than watermark + interval — without them a stream-stream join
    buffers forever. This is the streaming twin of the batch bucketed
    range join (operators/temporal.py)."""
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = (
        (l[on] == r[on])
        & (F.col(right_ts) < F.col(left_ts))
        & (F.col(right_ts) >= F.col(left_ts) - F.expr(f"INTERVAL {max_delay}"))
    )
    return l.join(r, cond).drop(r[on])


def run_to_memory(
    result: DataFrame, name: str, output_mode: str = "append"
) -> DataFrame:
    """Process all currently-available input (availableNow trigger),
    block until done, return the materialized result table."""
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return result.sparkSession.table(name)


def upsert_to_parquet(
    stream: DataFrame,
    path: str,
    key_col: str,
    ts_col: str,
    checkpoint: str,
):
    """foreachBatch MERGE-style upsert into a keyed parquet snapshot —
    the streaming twin of the batch SCD build (queries/relational_tpch2
    ``scd2_customer_status``) and of the reference's MC REPLACE load
    (ext/maxcompute/sink.go:52-59, temp-table + INSERT OVERWRITE ≙
    atomic snapshot swap).

    Each micro-batch reduces to its latest row per key (row_number over
    ts desc), anti-joins the current snapshot to drop superseded rows,
    and atomically rewrites the snapshot. ``localCheckpoint`` cuts the
    lineage so the read side is materialized before the overwrite
    touches the same path. foreachBatch gives at-least-once batch
    delivery; the merge is idempotent (same batch re-applied yields the
    same snapshot), which upgrades the sink to effectively-once.

    At scale the snapshot rewrite is the cost — a real lakehouse table
    format (Delta/Iceberg MERGE) turns it into a file-level upsert; the
    plan shape (dedup-in-batch, anti-join, union) is identical.
    """
    from pyspark.sql.window import Window

    def merge(batch: DataFrame, _batch_id: int):
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        w = Window.partitionBy(key_col).orderBy(F.col(ts_col).desc())
        latest = (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        # Only a genuinely-absent snapshot may fall back to merged=latest:
        # swallowing arbitrary read errors here would let one transient
        # failure overwrite the snapshot with a single micro-batch,
        # silently dropping every previously merged key. Any other error
        # propagates so the batch retries against the intact snapshot.
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        staging = jvm.org.apache.hadoop.fs.Path(path + "__staging")
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        # crash recovery: a missing snapshot with a COMPLETED staging dir
        # means a previous batch died between delete and rename — the
        # staging dir IS the snapshot, so finish the rename first.
        # Completion is proven by the committer's _SUCCESS marker: on the
        # first-ever batch a crash mid-staging-write leaves a partial
        # staging dir (no snapshot has existed yet), and renaming THAT
        # would wedge the sink on a permanently unreadable snapshot
        # (ADVICE r2) — delete the incomplete dir instead and rebuild.
        if not fs.exists(jpath) and fs.exists(staging):
            marker = jvm.org.apache.hadoop.fs.Path(
                path + "__staging/_SUCCESS"
            )
            if fs.exists(marker):
                fs.rename(staging, jpath)
            else:
                fs.delete(staging, True)
        if fs.exists(jpath):
            current = spark.read.parquet(path).alias("cur")
            new_keys = latest.select(key_col).alias("nk")
            # null-safe key match: a plain equi-anti-join would never
            # drop a superseded NULL-key row (NULL = NULL is NULL)
            merged = current.join(
                new_keys,
                F.col(f"cur.{key_col}").eqNullSafe(F.col(f"nk.{key_col}")),
                "left_anti",
            ).unionByName(latest)
        else:
            merged = latest
        # Writing mode("overwrite") directly on the snapshot path would
        # DELETE it before the (long) write — a crash mid-write destroys
        # every previously merged key. Stage the full write first, then
        # swap with two metadata-only renames; the only remaining crash
        # window (between delete and rename) is covered by the recovery
        # above. A lakehouse table format would make this a true atomic
        # commit.
        if fs.exists(staging):
            fs.delete(staging, True)
        merged.localCheckpoint(eager=False).write.parquet(path + "__staging")
        if fs.exists(jpath):
            fs.delete(jpath, True)
        fs.rename(staging, jpath)

    return (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def upsert_to_parquet_partitioned(
    stream: DataFrame,
    path: str,
    key_col: str,
    ts_col: str,
    checkpoint: str,
    n_buckets: int = 64,
):
    """Partition-pruned MERGE upsert: the file-level refinement of
    :func:`upsert_to_parquet` (VERDICT r2 item 6 — the documented
    Delta/Iceberg MERGE seam, filled with plain parquet).

    The snapshot lives as ``bucket=N`` partition dirs where
    ``N = md5(key) % n_buckets`` — deterministic, so a key always lives
    in exactly one partition. Each micro-batch reduces to its latest
    row per key, computes the AFFECTED bucket set (≤ distinct keys in
    the batch), reads ONLY those partitions back (partition-pruned
    scan), anti-joins, unions, and swaps ONLY those bucket dirs.
    Unchanged partitions are neither read nor written — per-batch IO is
    proportional to the update footprint, not the table. For FILE-level
    (rather than bucket-level) copy-on-write with atomic manifest
    commits and exactly-once batch replay, see
    :mod:`optimus_any2any_spark.streaming.manifest_table` — the next
    refinement; at 100 TB its rewrite amplification is one data file
    per touched key range instead of one bucket.

    Crash-safety contract (same as the snapshot-swap sink): affected
    buckets stage under ``path__staging`` and bucket swaps begin only
    after the staging write's ``_SUCCESS`` marker exists. Recovery at
    batch start: staging WITHOUT the marker is garbage (snapshot
    intact) and is deleted; staging WITH the marker holds the
    authoritative new content for its buckets — its swaps are
    completed first, because a crash between delete and rename means a
    bucket's only copy is the staged one. The merge itself is
    idempotent (re-applying a batch to an already-merged bucket yields
    identical content), so foreachBatch redelivery upgrades to
    effectively-once.
    """
    from pyspark.sql.window import Window

    staging = path + "__staging"

    def bucket_of(col: Column) -> Column:
        # NULL keys hash through a sentinel so they land in a REAL
        # bucket dir: md5(NULL) is NULL, which would stage rows under
        # the Hive default-partition dir that the swap loop never
        # renames — silently dropping every null-key row
        keyed = F.coalesce(col.cast("string"), F.lit("\x00__NULL_KEY__"))
        return (
            F.conv(F.substring(F.md5(keyed.cast("binary")), 1, 7), 16, 10)
            .cast("long") % n_buckets
        ).cast("int")

    def merge(batch: DataFrame, _batch_id: int):
        spark = batch.sparkSession
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        jstaging = jvm.org.apache.hadoop.fs.Path(staging)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())

        def swap(src, dst):
            # Hadoop rename reports failure via its RETURN VALUE; an
            # unchecked False here would be followed by deleting the
            # staging dir — destroying the only copy of those rows
            if fs.exists(dst):
                fs.delete(dst, True)
            fs.mkdirs(jpath)
            if not fs.rename(src, dst):
                raise IOError(f"bucket swap failed: {src} -> {dst}")

        # --- recovery (see contract above) ---
        if fs.exists(jstaging):
            marker = jvm.org.apache.hadoop.fs.Path(staging + "/_SUCCESS")
            if fs.exists(marker):
                for st in fs.listStatus(jstaging):
                    name = st.getPath().getName()
                    if not name.startswith("bucket="):
                        continue
                    swap(
                        st.getPath(),
                        jvm.org.apache.hadoop.fs.Path(path + "/" + name),
                    )
            fs.delete(jstaging, True)

        if batch.isEmpty():
            return
        w = Window.partitionBy(key_col).orderBy(F.col(ts_col).desc())
        latest = (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .withColumn("bucket", bucket_of(F.col(key_col)))
            .localCheckpoint(eager=False)
        )
        affected = [r["bucket"] for r in latest.select("bucket").distinct().collect()]
        if fs.exists(jpath):
            current = (
                spark.read.option("basePath", path)
                .parquet(*[f"{path}/bucket={b}" for b in affected if
                           fs.exists(jvm.org.apache.hadoop.fs.Path(f"{path}/bucket={b}"))])
                if any(
                    fs.exists(jvm.org.apache.hadoop.fs.Path(f"{path}/bucket={b}"))
                    for b in affected
                )
                else None
            )
        else:
            current = None
        if current is not None:
            cur = current.alias("cur")
            new_keys = latest.select(key_col).alias("nk")
            # null-safe match, as in upsert_to_parquet: NULL keys must
            # supersede like any other key
            merged = cur.join(
                new_keys,
                F.col(f"cur.{key_col}").eqNullSafe(F.col(f"nk.{key_col}")),
                "left_anti",
            ).unionByName(latest)
        else:
            merged = latest
        # stage ONLY the affected buckets, then swap each dir; the
        # metadata-only renames are the commit
        merged.localCheckpoint(eager=False).write.partitionBy(
            "bucket"
        ).parquet(staging)
        for b in affected:
            swap(
                jvm.org.apache.hadoop.fs.Path(f"{staging}/bucket={b}"),
                jvm.org.apache.hadoop.fs.Path(f"{path}/bucket={b}"),
            )
        fs.delete(jstaging, True)

    return (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def kafka_stream_sink(
    df: DataFrame, bootstrap_servers: str, topic: str, checkpoint: str
):
    """Streaming Kafka producer (the reference's Kafka sink is batch
    produce-only — ext/kafka/sink.go:21; this is the continuous twin)."""
    payload = df.select(F.to_json(F.struct(*df.columns)).alias("value"))
    return (
        payload.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def trending_topk_to_parquet(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "2 hours",
    k: int = 3,
) -> "StreamingQuery":  # noqa: F821
    """Per-window trending top-k keys, maintained incrementally.

    Ranking inside a streaming aggregate needs the window's complete
    counts, which append mode only finalizes at watermark expiry — so
    the rank runs in ``foreachBatch`` over each batch's finalized
    windows (tiny: one row per (window, key)), and results append to a
    parquet log carrying the window columns. State stays bounded by the
    watermark exactly as in :func:`windowed_counts`; the per-batch rank
    is a window function over finalized rows only, never the stream.

    Output layout: ``path/batch=<id>`` partition dirs (idempotent
    per-batch overwrite — at-least-once redelivery rewrites the same
    dir). Readers of ``path`` therefore see an extra ``batch``
    partition column; drop it (or read a single batch dir) if the
    log's provenance isn't wanted. Don't point this sink at a
    directory holding pre-partitioned flat parquet — partition
    discovery would reject the mixed layout.
    """
    from pyspark.sql.window import Window

    counts = windowed_counts(stream, ts_col, key_col, window, watermark)

    def rank_and_append(batch: DataFrame, batch_id: int):
        if batch.isEmpty():
            return
        w = Window.partitionBy("window_start").orderBy(
            F.desc("n_events"), key_col
        )
        top = (
            batch.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .withColumn("rank", F.col("rank").cast("int"))
        )
        # foreachBatch is at-least-once: a retry after a successful
        # write but before checkpoint commit would duplicate this
        # batch's rows under mode("append"). Overwriting a
        # deterministic per-batch dir makes redelivery rewrite the same
        # partition instead — the same idempotence discipline as
        # streaming_minhash_dedup's stores (ADVICE r2).
        top.write.mode("overwrite").parquet(f"{path}/batch={batch_id}")

    return (
        counts.writeStream.foreachBatch(rank_and_append)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def _minhash_family() -> str:
    """Tag of the signature family band buckets are built with: the
    28-bit md5 base hash, the hash and band counts and every affine
    coefficient."""
    import hashlib
    import json

    from optimus_any2any_spark.operators import dedup as D

    spec = [D.DEFAULT_NUM_HASHES, D.DEFAULT_BANDS,
            D._affine_params(D.DEFAULT_NUM_HASHES)]
    digest = hashlib.sha256(json.dumps(spec).encode()).hexdigest()
    return "md5-28:" + digest[:16]


def _has_batches(fs, root) -> bool:
    """Whether a ``batch=<id>`` store under ``root`` holds any batch."""
    return fs.exists(root) and any(
        st.getPath().getName().startswith("batch=")
        for st in fs.listStatus(root)
    )


def _claim_bucket_store(spark: SparkSession, store_path: str) -> None:
    """Tag a band-bucket store that holds no batch yet with the current
    MinHash family, or refuse one whose batches carry another tag or
    none (written before stores were tagged): the same document gets
    different buckets under two families, so near-duplicates of stored
    documents would be missed without an error."""
    from optimus_any2any_spark.streaming.manifest_table import (
        _fs,
        _read_text,
    )

    jvm, fs = _fs(spark, store_path)
    tag = jvm.org.apache.hadoop.fs.Path(store_path + "/_minhash_family")
    family = _minhash_family()
    if not _has_batches(fs, jvm.org.apache.hadoop.fs.Path(store_path)):
        out = fs.create(tag, True)
        try:
            out.write(bytearray(family.encode()))
        finally:
            out.close()
    elif not fs.exists(tag) or _read_text(spark, fs, jvm, tag) != family:
        raise ValueError(
            f"band-bucket store {store_path} was not built with the "
            f"current MinHash hash family {family}; rebuild it: delete "
            "the store, its _text store and the stream checkpoint, then "
            "replay the source"
        )


def streaming_minhash_dedup(
    stream: DataFrame,
    store_path: str,
    pairs_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    verify_threshold: float | None = None,
) -> "StreamingQuery":  # noqa: F821
    """Streaming near-dup detection: MinHash band buckets with a
    cross-batch signature store.

    Each micro-batch computes band buckets for its new documents (the
    same md5-fold + affine-permutation signatures as the batch
    operator), joins them against the accumulated bucket store to emit
    candidate pairs — new-vs-old AND new-vs-new — then appends its own
    buckets to the store. State lives in parquet keyed by (band,
    bucket), so it survives restarts and scales as O(docs × bands)
    rows, independent of document length; the per-batch join touches
    only the new docs' buckets on the probe side. Candidates carry the
    same guarantee as batch LSH (same-bucket collision).

    With ``verify_threshold`` set, each batch also maintains a text
    store (``store_path + "_text"``) and verifies candidates with the
    exact Jaccard before logging: only candidate-pair members' texts
    are read back (id-pushdown on the parquet scan), so verification
    stays candidate-bounded — the streaming form of
    ``minhash_dedup_pairs``'s discipline. Output gains a ``jaccard``
    column and drops sub-threshold band collisions.

    The store is tagged with the MinHash hash family its buckets were
    built with (``store_path/_minhash_family``). Starting on a store
    built with another family — including any store written before the
    tag existed — raises ``ValueError``: such a store must be rebuilt.
    """
    from optimus_any2any_spark.operators.dedup import (
        _jaccard_verify,
        minhash_signatures,
        shingles,
    )

    text_store = store_path + "_text"

    def per_batch(batch: DataFrame, batch_id: int):
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        sig = minhash_signatures(
            shingles(batch, text_col=text_col, id_col=id_col)
        )
        # reuse the banding inside lsh_candidate_pairs by exposing its
        # bucketed form: band columns -> (id, band, bucket) rows
        from optimus_any2any_spark.operators import dedup as D

        rows = D.DEFAULT_NUM_HASHES // D.DEFAULT_BANDS
        band_cols = [
            F.concat_ws(
                "|",
                *[
                    F.col(f"h{b * rows + r}").cast("string")
                    for r in range(rows)
                ],
            ).alias(f"band{b}")
            for b in range(D.DEFAULT_BANDS)
        ]
        new_buckets = (
            sig.select("id", *band_cols)
            .selectExpr(
                "id",
                "stack({n}, {args}) as (band, bucket)".format(
                    n=D.DEFAULT_BANDS,
                    args=", ".join(
                        f"{b}, band{b}" for b in range(D.DEFAULT_BANDS)
                    ),
                ),
            )
            .localCheckpoint(eager=False)  # cut lineage; read twice below
        )
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(store_path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        # stores are laid out as batch=<id> partition dirs written with
        # overwrite: foreachBatch is at-least-once, and a plain append
        # would double this batch's rows on retry — doubling shingle
        # rows inflates later Jaccard verification. Overwriting the
        # deterministic per-batch dir makes the whole sink idempotent.
        if _has_batches(fs, jpath):
            known = spark.read.parquet(store_path).drop("batch")
            probe_universe = known.unionByName(new_buckets)
        else:
            probe_universe = new_buckets
        a, b = new_buckets.alias("a"), probe_universe.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.id") != F.col("b.id")),
            )
            .select(
                F.least("a.id", "b.id").alias("doc_a"),
                F.greatest("a.id", "b.id").alias("doc_b"),
            )
            .distinct()
        )
        if verify_threshold is not None:
            pairs = pairs.localCheckpoint(eager=False)
            new_texts = batch.select(
                F.col(id_col).alias("id"), F.col(text_col).alias("text")
            ).localCheckpoint(eager=False)
            tpath = jvm.org.apache.hadoop.fs.Path(text_store)
            if fs.exists(tpath):
                corpus = (
                    spark.read.parquet(text_store)
                    .drop("batch")
                    .unionByName(new_texts)
                )
            else:
                corpus = new_texts
            # candidate-bounded verification: only pair members' texts
            member_ids = (
                pairs.select(F.col("doc_a").alias("id"))
                .unionByName(pairs.select(F.col("doc_b").alias("id")))
                .distinct()
            )
            sh = shingles(
                corpus.join(F.broadcast(member_ids), "id", "left_semi"),
                text_col="text",
                id_col="id",
            )
            sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("set_size"))
            a_sh, b_sh = sh.alias("sa"), sh.alias("sb")
            inter = (
                F.broadcast(pairs)
                .join(a_sh, F.col("sa.id") == F.col("doc_a"))
                .join(
                    b_sh,
                    (F.col("sb.id") == F.col("doc_b"))
                    & (F.col("sa.shingle") == F.col("sb.shingle")),
                )
                .groupBy("doc_a", "doc_b")
                .agg(F.count(F.lit(1)).alias("n_common"))
            )
            verified = _jaccard_verify(inter, sizes, verify_threshold)
            verified.write.mode("overwrite").parquet(
                f"{pairs_path}/batch={batch_id}"
            )
            new_texts.write.mode("overwrite").parquet(
                f"{text_store}/batch={batch_id}"
            )
        else:
            pairs.write.mode("overwrite").parquet(
                f"{pairs_path}/batch={batch_id}"
            )
        new_buckets.write.mode("overwrite").parquet(
            f"{store_path}/batch={batch_id}"
        )

    _claim_bucket_store(stream.sparkSession, store_path)
    return (
        stream.writeStream.foreachBatch(per_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def streaming_passage_dedup(
    stream: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 20,
) -> "StreamingQuery":  # noqa: F821
    """Streaming EXACT passage dedup: the cross-batch twin of
    ``operators.dedup.passage_dedup``.

    Each micro-batch chunks its documents into ``chunk_words``-word
    passages, keeps each passage's first occurrence — first within the
    batch (the same min-struct aggregate as the batch operator, never a
    content-keyed window), and only if its md5 is NOT already in the
    accumulated passage store — then rebuilds cleaned documents from
    the survivors and appends the batch's novel passage hashes to the
    store.

    State is the passage-HASH store (parquet, ``batch=<id>`` overwrite
    dirs → at-least-once foreachBatch retries are idempotent, same
    discipline as :func:`streaming_minhash_dedup`): O(distinct
    passages) rows of 32-byte hashes, independent of document length —
    passages' text never enters state. The per-batch anti-join probes
    the store with only the NEW batch's (hash) keys; at 100 TB of
    accumulated state that is a shuffle of batch-sized probe keys
    against a bucketable store, and the store layout can move to the
    manifest table (:mod:`.manifest_table`) unchanged.

    Ingesting live crawl + backfill through the SAME dedup state is
    the operational win over batch passage dedup: a passage seen in
    any earlier batch is boilerplate for every later one.
    """

    def per_batch(batch: DataFrame, batch_id: int):
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        cw = chunk_words
        toks = F.split(F.trim(F.col(text_col)), r"\s+")
        n_chunks = F.ceil(F.size(toks) / F.lit(cw)).cast("int")
        chunks = F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i * cw + 1, cw)),
        )
        exploded = (
            batch.select(
                F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "chunk")
            )
            .withColumn("h", F.md5(F.col("chunk").cast("binary")))
            .localCheckpoint(eager=False)  # feeds first-occ, flags, store
        )
        first = exploded.groupBy("h").agg(
            F.min(F.struct(F.col(id_col), F.col("chunk_idx"))).alias("__f")
        )
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(store_path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(jpath):
            known = spark.read.parquet(store_path).select("h")
            fresh = first.join(known, "h", "left_anti")
        else:
            fresh = first
        fresh = fresh.localCheckpoint(eager=False)  # flags join + store
        flagged = exploded.join(fresh, "h", "left").select(
            F.col(id_col),
            "chunk_idx",
            "chunk",
            (
                F.col("__f").isNotNull()
                & (F.col(f"__f.{id_col}") == F.col(id_col))
                & (F.col("__f.chunk_idx") == F.col("chunk_idx"))
            ).cast("int").alias("keep"),
        )
        out = (
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
        )
        out.write.mode("overwrite").parquet(f"{out_path}/batch={batch_id}")
        fresh.select("h").write.mode("overwrite").parquet(
            f"{store_path}/batch={batch_id}"
        )

    return (
        stream.writeStream.foreachBatch(per_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def curation_pipeline_to_parquet(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    text_col: str = "text",
) -> "StreamingQuery":
    """Streaming twin of the batch curation path: apply the
    Gopher-rule quality filter and the content-fingerprint train/valid/
    test assignment to documents as they arrive, landing accepted
    records under ``path/split=<s>/batch=<id>`` parquet.

    Semantics match the batch operators exactly (same integer-exact
    rules from :func:`operators.text.gopher_rules`, same md5-fold split
    bucket), so a document is assigned identically whether it flows
    through ingestion or a backfill — the property that makes the
    split stable under re-ingestion. Output is effectively-once: each
    micro-batch writes deterministic ``batch=<id>`` partition dirs with
    overwrite, so redelivery after a crash rewrites the same dirs
    instead of duplicating (the store discipline streaming_minhash_dedup
    established). Map-only per batch — zero shuffle beyond the
    partitioned write.
    """
    from optimus_any2any_spark.operators import text as TX

    rules = TX.gopher_rules(F.col(text_col))
    passes = None
    for r in rules.values():
        passes = r if passes is None else passes & r
    fp = TX.fingerprint(F.col(text_col))
    bucket = TX.split_bucket(fp, 100)
    curated = (
        stream.filter(passes)
        .withColumn("fingerprint", fp)
        .withColumn(
            "split",
            F.when(bucket < 80, F.lit("train"))
            .when(bucket < 90, F.lit("valid"))
            .otherwise(F.lit("test")),
        )
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").partitionBy("split").parquet(
            f"{path}/batch={batch_id}"
        )

    return (
        curated.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
