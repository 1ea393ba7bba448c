"""Delta Lake log-protocol reader (sources/delta.py): log replay,
remove tombstones, partitions from partitionValues, checkpoint
parquet, and protocol-version honesty."""

from __future__ import annotations

import json
import os

import pytest

from optimus_any2any_spark.sources.delta import read_delta
from optimus_any2any_spark.streaming.delta_table import write_delta_commit


def _rows(spark, vals):
    return spark.createDataFrame(vals, "id long, v string")


class TestLogReplay:
    def test_multi_commit_append(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        write_delta_commit(_rows(spark, [(1, "a"), (2, "b")]), t)
        write_delta_commit(_rows(spark, [(3, "c")]), t)
        got = sorted(read_delta(spark, t).collect())
        assert [(r.id, r.v) for r in got] == [(1, "a"), (2, "b"), (3, "c")]
        # appended adds carry stats, so a range read skips a file
        with open(os.path.join(t, "_delta_log", "%020d.json" % 1)) as f:
            (add,) = [json.loads(x)["add"] for x in f if '"add"' in x]
        st = json.loads(add["stats"])
        assert st["numRecords"] == 1
        assert (st["minValues"]["id"], st["maxValues"]["id"]) == (3, 3)
        df = read_delta(spark, t, key_range=("id", 3, 9))
        assert [r.id for r in df.collect()] == [3]
        assert len(df.inputFiles()) == 1

    def test_remove_tombstones_win(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        write_delta_commit(_rows(spark, [(1, "old")]), t)
        # compaction-style commit: rewrite and tombstone the old file
        old = [
            f for f in os.listdir(t)
            if f.endswith(".parquet") and not f.startswith("_")
        ]
        write_delta_commit(
            _rows(spark, [(1, "new")]), t, remove_paths=old
        )
        got = read_delta(spark, t).collect()
        assert [(r.id, r.v) for r in got] == [(1, "new")]

    def test_partition_values_from_log_not_paths(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        df = spark.createDataFrame(
            [(1, "x", "2024-01-01"), (2, "y", "2024-01-02")],
            "id long, v string, day string",
        )
        write_delta_commit(df, t, partition_by=["day"])
        got = {r.id: r for r in read_delta(spark, t).collect()}
        assert got[1].day == "2024-01-01"
        assert got[2].day == "2024-01-02"
        # files are FLAT (no hive dirs): values really come from the log
        assert not any(p.startswith("day=") for p in os.listdir(t))

    def test_typed_partition_column(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        df = spark.createDataFrame(
            [(1, 10), (2, 20)], "id long, bucket int"
        )
        write_delta_commit(df, t, partition_by=["bucket"])
        got = {r.id: r.bucket for r in read_delta(spark, t).collect()}
        # partitionValues are strings in the log; reader casts to INT
        assert got == {1: 10, 2: 20}

    def test_checkpoint_parquet_plus_tail_commits(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        v0 = write_delta_commit(_rows(spark, [(1, "a")]), t)
        write_delta_commit(_rows(spark, [(2, "b")]), t)
        # build a version-1 checkpoint: replay actions into parquet
        from optimus_any2any_spark.sources.delta import _snapshot_actions

        meta, live = _snapshot_actions(spark, t)
        cp_rows = [
            {"metaData": meta},
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        ] + [{"add": a} for a in live.values()]
        # checkpoints are plain parquet of the action structs; build
        # one via JSON inference (schemas with null-only columns choke
        # pandas inference)
        cp_df = spark.read.json(
            spark.sparkContext.parallelize(
                [json.dumps(r) for r in cp_rows]
            )
        )
        cp_path = os.path.join(t, "_delta_log", "%020d.checkpoint.parquet" % 1)
        tmp = cp_path + ".d"
        cp_df.coalesce(1).write.mode("overwrite").parquet(tmp)
        import glob, shutil

        os.replace(glob.glob(tmp + "/part-*.parquet")[0], cp_path)
        shutil.rmtree(tmp)
        with open(os.path.join(t, "_delta_log", "_last_checkpoint"), "w") as f:
            f.write(json.dumps({"version": 1, "size": len(cp_rows)}))
        # a post-checkpoint commit must still apply
        write_delta_commit(_rows(spark, [(3, "c")]), t)
        got = sorted((r.id, r.v) for r in read_delta(spark, t).collect())
        assert got == [(1, "a"), (2, "b"), (3, "c")]
        assert v0 == 0

    def test_higher_reader_version_rejected(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        write_delta_commit(_rows(spark, [(1, "a")]), t)
        log = os.path.join(t, "_delta_log")
        with open(os.path.join(log, "%020d.json" % 1), "w") as f:
            f.write(json.dumps({"protocol": {"minReaderVersion": 3}}) + "\n")
        with pytest.raises(NotImplementedError, match="reader version"):
            read_delta(spark, t)

    def test_missing_log_rejected(self, spark, tmp_path):
        with pytest.raises(ValueError, match="_delta_log"):
            read_delta(spark, str(tmp_path / "nope"))

    def test_empty_table_after_full_remove(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        write_delta_commit(_rows(spark, [(1, "a")]), t)
        old = [
            f for f in os.listdir(t)
            if f.endswith(".parquet") and not f.startswith("_")
        ]
        write_delta_commit(
            _rows(spark, []).limit(0), t, remove_paths=old
        )
        df = read_delta(spark, t)
        assert df.count() == 0
        assert [f.name for f in df.schema.fields] == ["id", "v"]


class TestPipelineSource:
    def test_incremental_sources_through_pipeline(self, spark, tmp_path):
        from optimus_any2any_spark.config import Config
        from optimus_any2any_spark.pipeline import Pipeline
        from optimus_any2any_spark.streaming.delta_table import (
            merge_delta_batch,
        )

        t = str(tmp_path / "tbl")
        kv = lambda rows: spark.createDataFrame(
            rows, "k long, v string, ts long"
        )
        merge_delta_batch(spark, kv([(1, "a", 0)]), t, "k", "ts",
                          change_data=True)
        merge_delta_batch(spark, kv([(1, "A", 1), (2, "b", 1)]), t,
                          "k", "ts", change_data=True)
        # appends tail of commit 0 only
        cfg = Config.from_env(
            env_args=[
                f"DELTA__SOURCE_URI=file://{t}",
                "DELTA__APPENDS_FROM=-1",
                "DELTA__VERSION_TO=0",
            ],
            environ={},
        )
        df = Pipeline(spark, "DELTA", ["IO"], cfg).dataframe()
        assert [(r.k, r.v) for r in df.collect()] == [(1, "a")]
        # CDF of the update commit through the CLI surface
        cfg2 = Config.from_env(
            env_args=[
                f"DELTA__SOURCE_URI=file://{t}",
                "DELTA__CDF_FROM=0",
            ],
            environ={},
        )
        df2 = Pipeline(spark, "DELTA", ["IO"], cfg2).dataframe()
        got = sorted(
            (r._change_type, r.k, r.v) for r in df2.collect()
        )
        assert got == [
            ("insert", 2, "b"),
            ("update_postimage", 1, "A"),
            ("update_preimage", 1, "a"),
        ]

    def test_delta_source_through_pipeline(self, spark, tmp_path):
        from optimus_any2any_spark.config import Config
        from optimus_any2any_spark.pipeline import Pipeline

        t = str(tmp_path / "tbl")
        write_delta_commit(_rows(spark, [(1, "a"), (2, "b")]), t)
        cfg = Config.from_env(
            env_args=[f"DELTA__SOURCE_URI=file://{t}"], environ={}
        )
        df = Pipeline(spark, "DELTA", ["IO"], cfg).dataframe()
        assert df.count() == 2
