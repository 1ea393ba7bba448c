"""File-level MERGE upsert over plain parquet via manifest commits.

The copy-on-write core of a lakehouse table format (Delta/Iceberg),
hand-rolled on parquet + JSON manifests because neither format's jar is
installable in this environment (VERDICT r3 item 4; the reference has
no MERGE at all — its warehouse sink is APPEND/REPLACE only,
ext/maxcompute/sink.go — so this is part of the beyond-reference
streaming layer, SURVEY.md §7's documented end state).

Layout::

    path/
      data/v<version>-<i>.parquet     immutable data files
      _manifests/v<version>.json      snapshot: live files + key stats

A manifest lists the table's LIVE data files with per-file key stats
(min/max key, null-key flag, row count). The highest-numbered manifest
is the table; everything not referenced by it is garbage.

MERGE(batch) — copy-on-write at FILE granularity; steps 1-3 are the
format-neutral core in ``streaming/merge_core.py`` (shared with the
Delta and Iceberg writers), step 4 is this module's. The table path
may be any Hadoop path: files are listed, moved and committed through
the Hadoop FileSystem.

1. reduce the batch to its latest row per key (ts tiebreak);
2. prune: a data file is *affected* only if some batch key can fall
   inside its [min_key, max_key] range (exact membership check against
   the batch's sorted key list when it fits on the driver, range
   overlap otherwise). Files outside the update footprint are NOT
   read and NOT written — their manifest entries carry over verbatim;
3. read ONLY affected files, null-safe anti-join on the batch keys,
   union the batch, range-repartition on the key (tight, mostly
   disjoint per-file key ranges keep future pruning sharp) and write
   NEW immutable files;
4. commit = write manifest v(N+1) to a temp name and RENAME it into
   place — the one atomic step. A crash before the rename leaves
   orphan data files and the old manifest intact (the table never
   sees a partial merge); orphans are swept opportunistically at the
   next merge.

Exactly-once on redelivery: the manifest records the last applied
``batch_id``; re-applying an already-committed batch is a no-op (the
Delta transactional-sink txnVersion pattern). This is what
foreachBatch's at-least-once needs to become effectively-once.

At 100 TB: per-merge IO is proportional to the update FOOTPRINT
(affected files), never the table; ``target_rows_per_file`` sizes data
files near the scan sweet spot; the manifest is O(files) JSON on the
driver — at ~1e5 files swap it for a parquet manifest, same protocol.
Single-writer per table path (a streaming query IS single-writer).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from optimus_any2any_spark.streaming.merge_core import (
    _affected,
    group_key_stats,
    merge_rows,
    reduce_batch,
    with_pid,
    write_merged,
)


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, jpath.getFileSystem(spark._jsc.hadoopConfiguration())


def _read_text(spark, fs, jvm, jpath) -> str:
    # NB: stream.read(buffer) would fill the JAVA copy of a py4j
    # bytearray, not the Python one — IOUtils returns the bytes
    stream = fs.open(jpath)
    try:
        return bytes(
            jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        ).decode()
    finally:
        stream.close()


def _write_text_atomic(spark, fs, jvm, dir_path: str, name: str, text: str):
    tmp = jvm.org.apache.hadoop.fs.Path(f"{dir_path}/.tmp-{name}")
    final = jvm.org.apache.hadoop.fs.Path(f"{dir_path}/{name}")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode()))
    finally:
        out.close()
    if not fs.rename(tmp, final):
        fs.delete(tmp, False)
        raise IOError(f"manifest commit failed: {name} already exists?")


def latest_manifest(spark: SparkSession, path: str) -> dict | None:
    """Highest-version committed manifest, or None for an empty table."""
    jvm, fs = _fs(spark, path)
    mdir = jvm.org.apache.hadoop.fs.Path(path + "/_manifests")
    if not fs.exists(mdir):
        return None
    best, best_v = None, -1
    for st in fs.listStatus(mdir):
        name = st.getPath().getName()
        if name.startswith("v") and name.endswith(".json"):
            try:
                v = int(name[1:-5])
            except ValueError:
                continue
            if v > best_v:
                best, best_v = st.getPath(), v
    if best is None:
        return None
    return json.loads(_read_text(spark, fs, jvm, best))


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """The table = the union of the latest manifest's live files."""
    m = latest_manifest(spark, path)
    if m is None or not m["files"]:
        raise FileNotFoundError(f"no committed manifest under {path}")
    return spark.read.parquet(*[f"{path}/{f['path']}" for f in m["files"]])


def _sweep_orphans(spark, fs, jvm, path: str, live: set[str]):
    """Delete data files no manifest references (crash leftovers).
    Safe under the single-writer assumption: anything in data/ that the
    LATEST manifest does not list can only be debris from an
    uncommitted merge."""
    ddir = jvm.org.apache.hadoop.fs.Path(path + "/data")
    if not fs.exists(ddir):
        return
    for st in fs.listStatus(ddir):
        rel = "data/" + st.getPath().getName()
        if rel not in live:
            fs.delete(st.getPath(), False)


def merge_batch(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    key_col: str,
    ts_col: str,
    batch_id: int | None = None,
    target_rows_per_file: int = 1_000_000,
) -> dict:
    """One file-level MERGE commit; returns the new (or unchanged, on
    an idempotent skip) manifest dict."""
    jvm, fs = _fs(spark, path)
    manifest = latest_manifest(spark, path)
    version = (manifest["version"] + 1) if manifest else 1
    if (
        manifest is not None
        and batch_id is not None
        and manifest.get("batch_id") is not None
        and batch_id <= manifest["batch_id"]
    ):
        return manifest  # redelivery of an applied batch: no-op
    live = {f["path"] for f in manifest["files"]} if manifest else set()
    _sweep_orphans(spark, fs, jvm, path, live)

    latest, gstats = reduce_batch(batch, key_col, ts_col, [])
    if gstats[0]["n"] == 0:
        return manifest or {"version": 0, "batch_id": batch_id, "files": []}
    st = group_key_stats(latest, key_col, [], gstats)[()]
    old_files = manifest["files"] if manifest else []
    hit, miss = _affected(
        old_files, st["keys"], st["kmin"], st["kmax"], st["has_null"]
    )

    latest_p = with_pid(latest, None, [], latest.columns)
    cur = None
    if hit:
        cur = spark.read.parquet(
            *[f"{path}/{f['path']}" for f in hit]
        ).withColumn("__pid", F.lit(0).cast("int"))
    merged, _, _ = merge_rows(
        cur, latest_p, key_col, latest.schema, (None, None, None)
    )

    tmp = f"{path}/.tmp-commit-v{version}"
    write_merged(
        merged, key_col, st["n"] + sum(f["rows"] for f in hit),
        target_rows_per_file, tmp, True,
    )
    # move parts into data/ under deterministic names; listed through
    # the Hadoop FS so any Hadoop path (file://, hdfs://, s3a://) works
    parts = sorted(
        (
            status.getPath()
            for status in fs.listStatus(jvm.org.apache.hadoop.fs.Path(tmp))
            if status.getPath().getName().endswith(".parquet")
        ),
        key=lambda p: p.getName(),
    )
    if not parts:
        # the batch has rows, so the write must have left parts:
        # committing without them would drop the hit files' rows
        raise IOError(f"merge write left no part files under {tmp}")
    fs.mkdirs(jvm.org.apache.hadoop.fs.Path(path + "/data"))
    new_rel: list[str] = []
    for i, part in enumerate(parts):
        rel = f"data/v{version}-{i}.parquet"
        if not fs.rename(
            part, jvm.org.apache.hadoop.fs.Path(f"{path}/{rel}")
        ):
            raise IOError(f"data file move failed: {rel}")
        new_rel.append(rel)
    fs.delete(jvm.org.apache.hadoop.fs.Path(tmp), True)
    # stats for the manifest come from the parquet FOOTERS when every
    # value is provably exact (zero data I/O over files this commit
    # just wrote — the same contract as the Delta/Iceberg writers,
    # formats/footer_stats.py); the Spark aggregate below is the
    # fallback, which additionally paid a schema-INFERENCE job because
    # the read passed no schema. Both sides normalize ±0.0 so they
    # stay interchangeable.
    from optimus_any2any_spark.formats.footer_stats import (
        footer_file_stats,
        kind_of_spark_type,
        norm_float_zero,
    )

    by_name: dict[str, dict] = {}
    out_schema = merged.drop("__pid").schema
    ft = footer_file_stats(
        [f"{path}/{r}" for r in new_rel],
        [key_col],
        {key_col: kind_of_spark_type(out_schema[key_col].dataType)},
        session_tz=spark.conf.get("spark.sql.session.timeZone", "UTC"),
    )
    if ft is not None:
        by_name = {
            name: {
                "rows": s["rows"],
                "min_key": s["min"].get(key_col),
                "max_key": s["max"].get(key_col),
                "has_null": s["nulls"].get(key_col, 0) > 0,
            }
            for name, s in ft.items()
        }
    else:
        per_file = (
            spark.read.schema(out_schema)
            .parquet(*[f"{path}/{r}" for r in new_rel])
            .select(key_col)
            .withColumn("__f", F.input_file_name())
            .groupBy("__f")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.min(key_col).alias("min_key"),
                F.max(key_col).alias("max_key"),
                F.max(F.col(key_col).isNull().cast("int")).alias(
                    "has_null"
                ),
            )
            .collect()
        )
        by_name = {
            r["__f"].rsplit("/", 1)[-1]: {
                "rows": r["rows"],
                "min_key": norm_float_zero(r["min_key"]),
                "max_key": norm_float_zero(r["max_key"]),
                "has_null": r["has_null"],
            }
            for r in per_file
        }
    new_entries = []
    for rel in new_rel:
        r = by_name.get(rel.rsplit("/", 1)[-1])
        if r is None:  # empty part file: skip from the manifest
            continue
        prunable = isinstance(
            r["min_key"], (str, int, float, type(None))
        ) and not isinstance(r["min_key"], bool)
        new_entries.append(
            {
                "path": rel,
                "rows": r["rows"],
                "min_key": r["min_key"] if prunable else None,
                "max_key": r["max_key"] if prunable else None,
                "has_null_key": bool(r["has_null"]),
                "prunable": prunable,
            }
        )
    new_manifest = {
        "version": version,
        "batch_id": batch_id,
        "files": miss + new_entries,  # untouched entries carry over
    }
    fs.mkdirs(jvm.org.apache.hadoop.fs.Path(path + "/_manifests"))
    _write_text_atomic(
        spark,
        fs,
        jvm,
        path + "/_manifests",
        f"v{version:06d}.json",
        json.dumps(new_manifest, default=str),
    )
    # superseded files are garbage now; sweep them eagerly (crash here
    # just defers to the next merge's sweep)
    _sweep_orphans(
        spark, fs, jvm, path, {f["path"] for f in new_manifest["files"]}
    )
    return new_manifest


def upsert_to_manifest_table(
    stream: DataFrame,
    path: str,
    key_col: str,
    ts_col: str,
    checkpoint: str,
    target_rows_per_file: int = 1_000_000,
):
    """Streaming wrapper: file-level MERGE per micro-batch with the
    manifest batch_id making redelivery exactly-once."""

    def merge(batch: DataFrame, batch_id: int):
        merge_batch(
            batch.sparkSession,
            batch,
            path,
            key_col,
            ts_col,
            batch_id=batch_id,
            target_rows_per_file=target_rows_per_file,
        )

    return (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
