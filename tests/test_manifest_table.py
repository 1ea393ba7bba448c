"""File-level MERGE via manifest commits (streaming/manifest_table.py):
copy-on-write correctness, file-level pruning (untouched files are NOT
rewritten — VERDICT r3 item 4's IO assertion), restart/redelivery
idempotence, crash recovery, null keys."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from optimus_any2any_spark.streaming.manifest_table import (
    latest_manifest,
    merge_batch,
    read_table,
    upsert_to_manifest_table,
)


def rows_of(df):
    return sorted(
        (r["k"], r["v"], str(r["ts"])) for r in df.collect()
    )


def make_batch(spark, triples):
    return spark.createDataFrame(
        [(k, v, ts) for k, v, ts in triples], "k int, v string, ts long"
    )


class TestManifestMerge:
    def test_merge_sequence_is_upsert(self, spark, tmp_path):
        path = str(tmp_path / "t1")
        merge_batch(
            spark,
            make_batch(spark, [(1, "a", 1), (2, "b", 1), (3, "c", 1)]),
            path, "k", "ts", batch_id=0, target_rows_per_file=2,
        )
        merge_batch(
            spark,
            make_batch(spark, [(2, "B", 2), (4, "d", 2)]),
            path, "k", "ts", batch_id=1, target_rows_per_file=2,
        )
        got = {
            (r["k"], r["v"]) for r in read_table(spark, path).collect()
        }
        assert got == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}

    def test_within_batch_latest_per_key_wins(self, spark, tmp_path):
        path = str(tmp_path / "t2")
        merge_batch(
            spark,
            make_batch(spark, [(1, "old", 1), (1, "new", 9), (2, "x", 1)]),
            path, "k", "ts", batch_id=0,
        )
        got = {(r["k"], r["v"]) for r in read_table(spark, path).collect()}
        assert got == {(1, "new"), (2, "x")}

    def test_untouched_files_not_rewritten(self, spark, tmp_path):
        # keys 0..99 range-partitioned into ~10 files; a later merge
        # touching ONE key must carry every other file over verbatim
        # (same path, same bytes on disk — file-level copy-on-write)
        path = str(tmp_path / "t3")
        merge_batch(
            spark,
            make_batch(spark, [(i, f"v{i}", 1) for i in range(100)]),
            path, "k", "ts", batch_id=0, target_rows_per_file=10,
        )
        m1 = latest_manifest(spark, path)
        assert len(m1["files"]) >= 8
        mtimes1 = {
            f["path"]: os.path.getmtime(f"{path}/{f['path']}")
            for f in m1["files"]
        }
        merge_batch(
            spark,
            make_batch(spark, [(42, "UPDATED", 2)]),
            path, "k", "ts", batch_id=1, target_rows_per_file=10,
        )
        m2 = latest_manifest(spark, path)
        carried = [f for f in m2["files"] if f["path"] in mtimes1]
        fresh = [f for f in m2["files"] if f["path"] not in mtimes1]
        # exactly the one file whose range held key 42 was replaced
        # (its 11 merged rows may split across target_rows_per_file)
        assert len(m1["files"]) - len(carried) == 1, (m1, m2)
        assert 1 <= len(fresh) <= 2
        for f in carried:  # physically identical, not rewritten
            assert (
                os.path.getmtime(f"{path}/{f['path']}")
                == mtimes1[f["path"]]
            )
        got = {(r["k"], r["v"]) for r in read_table(spark, path).collect()}
        assert got == {(i, "UPDATED" if i == 42 else f"v{i}") for i in range(100)}

    def test_redelivery_is_noop(self, spark, tmp_path):
        path = str(tmp_path / "t4")
        b = make_batch(spark, [(1, "a", 1)])
        m1 = merge_batch(spark, b, path, "k", "ts", batch_id=7)
        m2 = merge_batch(
            spark, make_batch(spark, [(1, "STALE", 9)]),
            path, "k", "ts", batch_id=7,
        )
        assert m2["version"] == m1["version"]  # no new commit
        got = {(r["k"], r["v"]) for r in read_table(spark, path).collect()}
        assert got == {(1, "a")}

    def test_crash_orphans_ignored_and_swept(self, spark, tmp_path):
        path = str(tmp_path / "t5")
        merge_batch(
            spark, make_batch(spark, [(1, "a", 1)]), path, "k", "ts",
            batch_id=0,
        )
        # simulate a crash after data-file moves but before the
        # manifest commit: an unreferenced file sits in data/
        orphan = f"{path}/data/v99-0.parquet"
        make_batch(spark, [(9, "GHOST", 1)]).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / "ghost"))
        part = next(
            p for p in os.listdir(tmp_path / "ghost")
            if p.endswith(".parquet")
        )
        os.replace(str(tmp_path / "ghost" / part), orphan)
        # the table never sees the ghost...
        got = {(r["k"], r["v"]) for r in read_table(spark, path).collect()}
        assert got == {(1, "a")}
        # ...and the next merge sweeps it
        merge_batch(
            spark, make_batch(spark, [(2, "b", 1)]), path, "k", "ts",
            batch_id=1,
        )
        assert not os.path.exists(orphan)
        got = {(r["k"], r["v"]) for r in read_table(spark, path).collect()}
        assert got == {(1, "a"), (2, "b")}

    def test_null_keys_upsert(self, spark, tmp_path):
        path = str(tmp_path / "t6")
        spark.createDataFrame(
            [(None, "n1", 1), (1, "a", 1)], "k int, v string, ts long"
        ).createOrReplaceTempView("_b1")
        merge_batch(
            spark, spark.table("_b1"), path, "k", "ts", batch_id=0
        )
        spark.createDataFrame(
            [(None, "n2", 2)], "k int, v string, ts long"
        ).createOrReplaceTempView("_b2")
        merge_batch(
            spark, spark.table("_b2"), path, "k", "ts", batch_id=1
        )
        got = {(r["k"], r["v"]) for r in read_table(spark, path).collect()}
        assert got == {(None, "n2"), (1, "a")}

    def test_streaming_wrapper_end_to_end(self, spark, tmp_path):
        path = str(tmp_path / "t7")
        src = str(tmp_path / "src")
        ckpt = str(tmp_path / "ckpt")
        make_batch(
            spark, [(1, "a", 1), (2, "b", 1), (1, "A", 5)]
        ).write.parquet(src)
        stream = spark.readStream.schema(
            "k int, v string, ts long"
        ).parquet(src)
        q = upsert_to_manifest_table(stream, path, "k", "ts", ckpt)
        q.awaitTermination(120)
        got = {(r["k"], r["v"]) for r in read_table(spark, path).collect()}
        assert got == {(1, "A"), (2, "b")}
        # restart with no new data: no new commit
        v1 = latest_manifest(spark, path)["version"]
        stream2 = spark.readStream.schema(
            "k int, v string, ts long"
        ).parquet(src)
        q2 = upsert_to_manifest_table(stream2, path, "k", "ts", ckpt)
        q2.awaitTermination(120)
        assert latest_manifest(spark, path)["version"] == v1

    def test_string_keys_prune(self, spark, tmp_path):
        path = str(tmp_path / "t8")
        spark.createDataFrame(
            [(f"k{i:03d}", "x", 1) for i in range(40)],
            "k string, v string, ts long",
        ).createOrReplaceTempView("_s1")
        merge_batch(
            spark, spark.table("_s1"), path, "k", "ts",
            batch_id=0, target_rows_per_file=10,
        )
        m1 = latest_manifest(spark, path)
        merge_batch(
            spark,
            spark.createDataFrame(
                [("k001", "y", 2)], "k string, v string, ts long"
            ),
            path, "k", "ts", batch_id=1, target_rows_per_file=10,
        )
        m2 = latest_manifest(spark, path)
        carried = {f["path"] for f in m1["files"]} & {
            f["path"] for f in m2["files"]
        }
        assert len(carried) == len(m1["files"]) - 1
        assert ("k001", "y") in {
            (r["k"], r["v"]) for r in read_table(spark, path).collect()
        }

    def test_hadoop_uri_path_merges(self, spark, tmp_path):
        """A ``file://`` table path: parts are listed and moved through
        the Hadoop FS, so the second merge keeps the hit file's
        untouched rows."""
        path = "file://" + str(tmp_path / "t9")
        merge_batch(
            spark, make_batch(spark, [(1, "a", 1), (2, "b", 1)]),
            path, "k", "ts", batch_id=0,
        )
        merge_batch(
            spark, make_batch(spark, [(2, "B", 2), (3, "c", 2)]),
            path, "k", "ts", batch_id=1,
        )
        got = {
            (r["k"], r["v"]) for r in read_table(spark, path).collect()
        }
        assert got == {(1, "a"), (2, "B"), (3, "c")}
