"""File-level Delta-protocol MERGE (streaming/delta_table.py): copy-on-
write footprint, stats-based pruning, txn idempotence, checkpoint
compaction, crash recovery, vacuum, and stats-pruned reads."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from optimus_any2any_spark.sources.delta import (
    read_delta,
    replay_log,
)
from optimus_any2any_spark.streaming.delta_table import (
    compact_delta,
    delete_delta_keys,
    merge_delta_batch,
    upsert_to_delta_table,
    vacuum_delta,
)


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, ts long")


def _snap(spark, path):
    return sorted(
        ((r.k, r.v) for r in read_delta(spark, path).collect()),
        key=lambda t: (t[0] is None, t[0] if t[0] is not None else 0, t[1]),
    )


def _live_files(spark, path):
    return sorted(replay_log(spark, path)["live"])


class TestMergeSemantics:
    def test_insert_then_upsert(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        merge_delta_batch(
            spark, _kv(spark, [(1, "a", 0), (2, "b", 0)]), t, "k", "ts"
        )
        merge_delta_batch(
            spark, _kv(spark, [(2, "B", 1), (3, "c", 1)]), t, "k", "ts"
        )
        assert _snap(spark, t) == [(1, "a"), (2, "B"), (3, "c")]

    def test_latest_per_key_within_batch(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        merge_delta_batch(
            spark,
            _kv(spark, [(1, "old", 0), (1, "new", 5), (1, "mid", 3)]),
            t, "k", "ts",
        )
        assert _snap(spark, t) == [(1, "new")]

    def test_null_key_upsert(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        merge_delta_batch(
            spark, _kv(spark, [(None, "n0", 0), (1, "a", 0)]), t, "k", "ts"
        )
        merge_delta_batch(
            spark, _kv(spark, [(None, "n1", 1)]), t, "k", "ts"
        )
        assert _snap(spark, t) == [(1, "a"), (None, "n1")]

    def test_empty_batch_is_noop(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        v0 = merge_delta_batch(
            spark, _kv(spark, [(1, "a", 0)]), t, "k", "ts"
        )
        v1 = merge_delta_batch(
            spark, _kv(spark, []).limit(0), t, "k", "ts"
        )
        assert v1 == v0
        assert _snap(spark, t) == [(1, "a")]

    def test_schema_mismatch_rejected(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        merge_delta_batch(spark, _kv(spark, [(1, "a", 0)]), t, "k", "ts")
        bad = spark.createDataFrame([(1, 2)], "k long, other int")
        with pytest.raises(ValueError, match="batch columns"):
            merge_delta_batch(spark, bad, t, "k", "ts")


class TestCopyOnWriteFootprint:
    def _seed_two_files(self, spark, t):
        """Base table split into two files with disjoint key ranges."""
        base = _kv(
            spark, [(k, f"v{k}", 0) for k in range(1, 9)]
        )
        merge_delta_batch(
            spark, base, t, "k", "ts", target_rows_per_file=4
        )
        files = _live_files(spark, t)
        assert len(files) == 2
        return files

    def test_untouched_file_not_rewritten(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        before = self._seed_two_files(spark, t)
        stats = {
            f: os.stat(os.path.join(t, f)).st_mtime_ns for f in before
        }
        # touch only the low range: keys 1-2 live in the first file
        merge_delta_batch(
            spark, _kv(spark, [(1, "A", 1), (2, "B", 1)]), t, "k", "ts"
        )
        after = set(_live_files(spark, t))
        untouched = [f for f in before if f in after]
        assert len(untouched) == 1  # high-range file carried over
        f = untouched[0]
        assert os.stat(os.path.join(t, f)).st_mtime_ns == stats[f]
        assert _snap(spark, t) == [
            (1, "A"), (2, "B"), (3, "v3"), (4, "v4"),
            (5, "v5"), (6, "v6"), (7, "v7"), (8, "v8"),
        ]

    def test_remove_tombstones_for_rewritten_files(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        before = self._seed_two_files(spark, t)
        merge_delta_batch(spark, _kv(spark, [(1, "A", 1)]), t, "k", "ts")
        log = os.path.join(t, "_delta_log", "%020d.json" % 1)
        actions = [json.loads(l) for l in open(log) if l.strip()]
        removed = {a["remove"]["path"] for a in actions if "remove" in a}
        assert len(removed) == 1 and removed < set(before)

    def test_add_actions_carry_delta_stats(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        merge_delta_batch(
            spark, _kv(spark, [(1, "a", 0), (None, "n", 0)]), t, "k", "ts"
        )
        adds = replay_log(spark, t)["live"]
        st = json.loads(next(iter(adds.values()))["stats"])
        assert st["numRecords"] == 2
        assert st["minValues"]["k"] == 1 and st["maxValues"]["k"] == 1
        assert st["nullCount"]["k"] == 1


class TestIdempotence:
    def test_txn_skips_redelivered_batch(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        merge_delta_batch(
            spark, _kv(spark, [(1, "a", 0)]), t, "k", "ts", batch_id=0
        )
        v1 = merge_delta_batch(
            spark, _kv(spark, [(1, "b", 1)]), t, "k", "ts", batch_id=1
        )
        # redeliver batch 1 with DIFFERENT content: must be a no-op
        v2 = merge_delta_batch(
            spark, _kv(spark, [(1, "XXX", 9)]), t, "k", "ts", batch_id=1
        )
        assert v2 == v1
        assert _snap(spark, t) == [(1, "b")]

    def test_distinct_app_ids_do_not_collide(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        merge_delta_batch(
            spark, _kv(spark, [(1, "a", 0)]), t, "k", "ts",
            app_id="app1", batch_id=7,
        )
        merge_delta_batch(
            spark, _kv(spark, [(2, "b", 0)]), t, "k", "ts",
            app_id="app2", batch_id=0,
        )
        assert _snap(spark, t) == [(1, "a"), (2, "b")]


class TestCrashRecoveryAndVacuum:
    def test_orphan_data_file_invisible_and_vacuumed(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        merge_delta_batch(spark, _kv(spark, [(1, "a", 0)]), t, "k", "ts")
        # simulate a crash between data write and log rename: an orphan
        orphan = os.path.join(t, "part-99999-0000-merge.parquet")
        src = os.path.join(t, _live_files(spark, t)[0])
        with open(src, "rb") as fin, open(orphan, "wb") as fout:
            fout.write(fin.read())
        assert _snap(spark, t) == [(1, "a")]  # log, not listing, rules
        gone = vacuum_delta(spark, t)
        assert "part-99999-0000-merge.parquet" in gone
        assert _snap(spark, t) == [(1, "a")]

    def test_vacuum_sweeps_tombstoned_files(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        merge_delta_batch(spark, _kv(spark, [(1, "a", 0)]), t, "k", "ts")
        old = _live_files(spark, t)
        merge_delta_batch(spark, _kv(spark, [(1, "b", 1)]), t, "k", "ts")
        gone = vacuum_delta(spark, t)
        assert set(old) <= set(gone)
        assert _snap(spark, t) == [(1, "b")]

    def test_commit_is_put_if_absent(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import _commit

        t = str(tmp_path / "tbl")
        merge_delta_batch(spark, _kv(spark, [(1, "a", 0)]), t, "k", "ts")
        log = os.path.join(t, "_delta_log")
        # racing for an existing version must FAIL, not overwrite
        with pytest.raises(IOError, match="lost the race"):
            _commit(log, 0, [{"add": {"path": "x.parquet"}}])
        assert _snap(spark, t) == [(1, "a")]

    def test_partial_commit_tmp_is_ignored(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        merge_delta_batch(spark, _kv(spark, [(1, "a", 0)]), t, "k", "ts")
        log = os.path.join(t, "_delta_log")
        with open(os.path.join(log, "%020d.json.tmp" % 1), "w") as f:
            f.write(json.dumps({"add": {"path": "bogus.parquet"}}) + "\n")
        assert _snap(spark, t) == [(1, "a")]
        # the next merge commits version 1 normally over the stale tmp
        merge_delta_batch(spark, _kv(spark, [(2, "b", 0)]), t, "k", "ts")
        assert _snap(spark, t) == [(1, "a"), (2, "b")]


class TestCheckpointCompaction:
    def test_checkpoint_written_and_replayed(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        for i in range(5):
            merge_delta_batch(
                spark, _kv(spark, [(i, f"v{i}", i)]), t, "k", "ts",
                batch_id=i, checkpoint_interval=4,
            )
        log = os.path.join(t, "_delta_log")
        assert os.path.exists(
            os.path.join(log, "%020d.checkpoint.parquet" % 4)
        )
        last = json.loads(
            open(os.path.join(log, "_last_checkpoint")).read()
        )
        assert last["version"] == 4
        # replay must come out identical with the checkpoint in play
        assert _snap(spark, t) == [(i, f"v{i}") for i in range(5)]
        # txn state survives the checkpoint: redelivery still no-ops
        v = merge_delta_batch(
            spark, _kv(spark, [(0, "XXX", 99)]), t, "k", "ts",
            batch_id=4, checkpoint_interval=4,
        )
        assert v == 4
        assert _snap(spark, t) == [(i, f"v{i}") for i in range(5)]


class TestMultiPartCheckpoint:
    def test_parts_written_and_replayed(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            _write_checkpoint,
        )

        t = str(tmp_path / "tbl")
        for i in range(4):
            merge_delta_batch(
                spark, _kv(spark, [(i, f"v{i}", 0)]), t, "k", "ts",
                batch_id=i, checkpoint_interval=0,
            )
        # force a tiny part size: protocol/metaData/txn + 4 adds split
        _write_checkpoint(spark, t, 3, max_actions_per_part=3)
        log = os.path.join(t, "_delta_log")
        last = json.loads(open(os.path.join(log, "_last_checkpoint")).read())
        assert last["parts"] >= 2
        part_files = [
            f for f in os.listdir(log)
            if ".checkpoint." in f and f.endswith(".parquet")
        ]
        assert len(part_files) == last["parts"]
        # replay from the multi-part checkpoint + empty tail
        assert _snap(spark, t) == [(i, f"v{i}") for i in range(4)]
        # txn state survives: redelivery still no-ops
        v = merge_delta_batch(
            spark, _kv(spark, [(0, "XXX", 9)]), t, "k", "ts",
            batch_id=3, checkpoint_interval=0,
        )
        assert v == 3
        assert _snap(spark, t) == [(i, f"v{i}") for i in range(4)]


class TestStatsPrunedRead:
    def test_key_range_read_skips_files_and_filters(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        merge_delta_batch(
            spark,
            _kv(spark, [(k, f"v{k}", 0) for k in range(1, 9)]),
            t, "k", "ts", target_rows_per_file=4,
        )
        assert len(_live_files(spark, t)) == 2
        df = read_delta(spark, t, key_range=("k", 2, 3))
        assert sorted((r.k, r.v) for r in df.collect()) == [
            (2, "v2"), (3, "v3"),
        ]
        # the out-of-range file is PRUNED, not just filtered: only one
        # parquet file appears in the scan
        files = {
            os.path.basename(f)
            for f in df.inputFiles()
        }
        assert len(files) == 1

    def test_skipping_on_non_key_column(self, spark, tmp_path):
        # merges record stats for the leading data columns too, so a
        # range read can skip files on a column that is NOT the merge
        # key — Delta's per-column data skipping
        t = str(tmp_path / "tbl")
        merge_delta_batch(
            spark,
            _kv(spark, [(k, f"v{k:02d}", 0) for k in range(1, 9)]),
            t, "k", "ts", target_rows_per_file=4,
        )
        df = read_delta(spark, t, key_range=("v", "v01", "v02"))
        assert sorted(r.v for r in df.collect()) == ["v01", "v02"]
        assert len({os.path.basename(f) for f in df.inputFiles()}) == 1

    def test_range_read_keeps_statless_files(self, spark, tmp_path):
        import glob
        import shutil

        t = str(tmp_path / "tbl")
        # an add WITHOUT stats, as foreign writers may commit one
        df = spark.createDataFrame([(1, "a"), (9, "z")], "k long, v string")
        df.coalesce(1).write.parquet(os.path.join(t, "_w"))
        os.replace(
            glob.glob(os.path.join(t, "_w", "part-*.parquet"))[0],
            os.path.join(t, "f.parquet"),
        )
        shutil.rmtree(os.path.join(t, "_w"))
        os.makedirs(os.path.join(t, "_delta_log"))
        actions = [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {
                "id": "statless", "format": {"provider": "parquet"},
                "schemaString": df.schema.json(),
                "partitionColumns": [], "configuration": {},
            }},
            {"add": {
                "path": "f.parquet", "partitionValues": {},
                "size": os.path.getsize(os.path.join(t, "f.parquet")),
                "modificationTime": 0, "dataChange": True,
            }},
        ]
        with open(os.path.join(t, "_delta_log", "%020d.json" % 0), "w") as f:
            f.write("\n".join(json.dumps(a) for a in actions) + "\n")
        got = read_delta(spark, t, key_range=("k", 0, 5)).collect()
        assert [(r.k, r.v) for r in got] == [(1, "a")]


class TestTimeTravel:
    def _three_versions(self, spark, t):
        merge_delta_batch(
            spark, _kv(spark, [(1, "a0", 0), (2, "b0", 0)]), t, "k", "ts"
        )
        merge_delta_batch(spark, _kv(spark, [(1, "a1", 1)]), t, "k", "ts")
        merge_delta_batch(spark, _kv(spark, [(3, "c2", 2)]), t, "k", "ts")

    def test_version_as_of(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        self._three_versions(spark, t)
        as_of = lambda v: sorted(
            (r.k, r.v)
            for r in read_delta(spark, t, version=v).collect()
        )
        assert as_of(0) == [(1, "a0"), (2, "b0")]
        assert as_of(1) == [(1, "a1"), (2, "b0")]
        assert as_of(2) == [(1, "a1"), (2, "b0"), (3, "c2")]
        assert _snap(spark, t) == [(1, "a1"), (2, "b0"), (3, "c2")]

    def test_time_travel_behind_a_checkpoint(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        for i in range(3):
            merge_delta_batch(
                spark, _kv(spark, [(i, f"v{i}", i)]), t, "k", "ts",
                checkpoint_interval=2,
            )
        # checkpoint sits at version 2; version 0 must replay the JSON
        got = sorted(
            (r.k, r.v)
            for r in read_delta(spark, t, version=0).collect()
        )
        assert got == [(0, "v0")]

    def test_missing_history_raises(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        self._three_versions(spark, t)
        os.remove(os.path.join(t, "_delta_log", "%020d.json" % 1))
        with pytest.raises(ValueError, match="history cleaned"):
            read_delta(spark, t, version=2)

    def test_vacuum_destroys_time_travel_not_snapshot(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        self._three_versions(spark, t)
        vacuum_delta(spark, t)
        assert _snap(spark, t) == [(1, "a1"), (2, "b0"), (3, "c2")]
        with pytest.raises(Exception):
            read_delta(spark, t, version=0).collect()


class TestPartitionedMerge:
    def _pkv(self, spark, rows):
        return spark.createDataFrame(
            rows, "k long, v string, day string, ts long"
        )

    def _seed(self, spark, t):
        merge_delta_batch(
            spark,
            self._pkv(spark, [
                (1, "a", "2024-01-01", 0), (2, "b", "2024-01-01", 0),
                (1, "x", "2024-01-02", 0), (3, "y", "2024-01-02", 0),
            ]),
            t, "k", "ts", partition_by=["day"],
        )

    def test_partition_scoped_upsert(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        self._seed(spark, t)
        # same key 1 exists in BOTH partitions; update only day-02
        merge_delta_batch(
            spark,
            self._pkv(spark, [(1, "X", "2024-01-02", 1)]),
            t, "k", "ts",
        )
        got = sorted(
            (r.k, r.v, r.day) for r in read_delta(spark, t).collect()
        )
        assert got == [
            (1, "X", "2024-01-02"), (1, "a", "2024-01-01"),
            (2, "b", "2024-01-01"), (3, "y", "2024-01-02"),
        ]

    def test_untouched_partition_files_not_rewritten(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        self._seed(spark, t)
        live0 = replay_log(spark, t)["live"]
        day1_files = {
            p for p, a in live0.items()
            if a["partitionValues"]["day"] == "2024-01-01"
        }
        stats = {
            f: os.stat(os.path.join(t, f)).st_mtime_ns for f in day1_files
        }
        merge_delta_batch(
            spark,
            self._pkv(spark, [(3, "Y", "2024-01-02", 1)]),
            t, "k", "ts",
        )
        live1 = replay_log(spark, t)["live"]
        for f in day1_files:  # day-01 carried over byte-identical
            assert f in live1
            assert os.stat(os.path.join(t, f)).st_mtime_ns == stats[f]

    def test_partition_values_in_log_and_typed_read(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        df = spark.createDataFrame(
            [(1, "a", 10, 0), (2, "b", 20, 0)],
            "k long, v string, bucket int, ts long",
        )
        merge_delta_batch(spark, df, t, "k", "ts", partition_by=["bucket"])
        adds = replay_log(spark, t)["live"]
        assert {a["partitionValues"]["bucket"] for a in adds.values()} == {
            "10", "20",
        }
        got = {r.k: r.bucket for r in read_delta(spark, t).collect()}
        assert got == {1: 10, 2: 20}

    def test_key_as_partition_column_rejected(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        with pytest.raises(ValueError, match="partition column"):
            merge_delta_batch(
                spark,
                self._pkv(spark, [(1, "a", "d", 0)]),
                t, "k", "ts", partition_by=["k"],
            )

    def test_partitioned_appends_and_cdf(self, spark, tmp_path):
        from optimus_any2any_spark.sources.delta import (
            read_delta_appends,
            read_delta_cdf,
        )

        t = str(tmp_path / "tbl")
        merge_delta_batch(
            spark,
            self._pkv(spark, [(1, "a", "2024-01-01", 0)]),
            t, "k", "ts", partition_by=["day"], change_data=True,
        )
        merge_delta_batch(
            spark,
            self._pkv(spark, [
                (1, "A", "2024-01-01", 1), (2, "n", "2024-01-02", 1),
            ]),
            t, "k", "ts", change_data=True,
        )
        apps = read_delta_appends(spark, t, -1, 0).collect()
        assert [(r.k, r.day) for r in apps] == [(1, "2024-01-01")]
        cdf = sorted(
            (r._change_type, r.k, r.v, r.day)
            for r in read_delta_cdf(spark, t, 0, 1).collect()
        )
        assert cdf == [
            ("insert", 2, "n", "2024-01-02"),
            ("update_postimage", 1, "A", "2024-01-01"),
            ("update_preimage", 1, "a", "2024-01-01"),
        ]


class TestIncrementalReads:
    def _three_with_cdf(self, spark, t):
        merge_delta_batch(
            spark, _kv(spark, [(1, "a0", 0), (2, "b0", 0)]), t, "k", "ts",
            change_data=True,
        )
        merge_delta_batch(
            spark, _kv(spark, [(1, "a1", 1), (3, "c1", 1)]), t, "k", "ts",
            change_data=True,
        )

    def test_appends_tail_read(self, spark, tmp_path):
        from optimus_any2any_spark.sources.delta import read_delta_appends

        t = str(tmp_path / "tbl")
        merge_delta_batch(spark, _kv(spark, [(1, "a", 0)]), t, "k", "ts")
        merge_delta_batch(spark, _kv(spark, [(2, "b", 0)]), t, "k", "ts")
        got = sorted(
            (r.k, r.v)
            for r in read_delta_appends(spark, t, 0, 1).collect()
        )
        assert got == [(2, "b")]
        # whole history from the beginning
        allrows = sorted(
            (r.k, r.v)
            for r in read_delta_appends(spark, t, -1, 1).collect()
        )
        assert allrows == [(1, "a"), (2, "b")]

    def test_appends_reject_rewrites(self, spark, tmp_path):
        from optimus_any2any_spark.sources.delta import read_delta_appends

        t = str(tmp_path / "tbl")
        merge_delta_batch(spark, _kv(spark, [(1, "a", 0)]), t, "k", "ts")
        merge_delta_batch(spark, _kv(spark, [(1, "A", 1)]), t, "k", "ts")
        with pytest.raises(ValueError, match="rewrites data"):
            read_delta_appends(spark, t, 0, 1)

    def test_missing_history_raises(self, spark, tmp_path):
        from optimus_any2any_spark.sources.delta import read_delta_appends

        t = str(tmp_path / "tbl")
        merge_delta_batch(spark, _kv(spark, [(1, "a", 0)]), t, "k", "ts")
        with pytest.raises(ValueError, match="missing from the log"):
            read_delta_appends(spark, t, 0, 5)

    def test_cdf_change_types(self, spark, tmp_path):
        from optimus_any2any_spark.sources.delta import read_delta_cdf

        t = str(tmp_path / "tbl")
        self._three_with_cdf(spark, t)
        rows = read_delta_cdf(spark, t, 0, 1).collect()
        got = sorted(
            (r.k, r.v, r._change_type, r._commit_version) for r in rows
        )
        assert got == [
            (1, "a0", "update_preimage", 1),
            (1, "a1", "update_postimage", 1),
            (3, "c1", "insert", 1),
        ]

    def test_cdf_synthesizes_inserts_for_plain_appends(self, spark, tmp_path):
        from optimus_any2any_spark.sources.delta import read_delta_cdf

        t = str(tmp_path / "tbl")
        # commit 0 WITHOUT change_data (pure insert) is synthesized
        merge_delta_batch(spark, _kv(spark, [(1, "a", 0)]), t, "k", "ts")
        rows = read_delta_cdf(spark, t, -1, 0).collect()
        assert [(r.k, r._change_type) for r in rows] == [(1, "insert")]

    def test_cdf_rejects_uninstrumented_rewrites(self, spark, tmp_path):
        from optimus_any2any_spark.sources.delta import read_delta_cdf

        t = str(tmp_path / "tbl")
        merge_delta_batch(spark, _kv(spark, [(1, "a", 0)]), t, "k", "ts")
        merge_delta_batch(spark, _kv(spark, [(1, "A", 1)]), t, "k", "ts")
        with pytest.raises(ValueError, match="without change data"):
            read_delta_cdf(spark, t, 0, 1)

    def test_cdf_null_key_update_classified(self, spark, tmp_path):
        from optimus_any2any_spark.sources.delta import read_delta_cdf

        t = str(tmp_path / "tbl")
        merge_delta_batch(
            spark, _kv(spark, [(None, "n0", 0)]), t, "k", "ts",
            change_data=True,
        )
        merge_delta_batch(
            spark, _kv(spark, [(None, "n1", 1), (5, "e", 1)]), t, "k", "ts",
            change_data=True,
        )
        rows = read_delta_cdf(spark, t, 0, 1).collect()
        by_type = sorted((r._change_type, r.v) for r in rows)
        assert by_type == [
            ("insert", "e"),
            ("update_postimage", "n1"),
            ("update_preimage", "n0"),
        ]

    def test_cdf_files_not_in_snapshot_reads(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        self._three_with_cdf(spark, t)
        # the snapshot must NOT include change-data rows
        assert _snap(spark, t) == [(1, "a1"), (2, "b0"), (3, "c1")]
        df = read_delta(spark, t)
        assert not any(
            "_change_data" in f for f in df.inputFiles()
        )


class TestDelete:
    def _kdf(self, spark, ks):
        return spark.createDataFrame([(k,) for k in ks], "k long")

    def test_delete_by_key(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            delete_delta_keys,
        )

        t = str(tmp_path / "tbl")
        merge_delta_batch(
            spark,
            _kv(spark, [(k, f"v{k}", 0) for k in range(1, 7)]),
            t, "k", "ts", target_rows_per_file=3,
        )
        delete_delta_keys(spark, t, "k", self._kdf(spark, [2, 5]))
        assert _snap(spark, t) == [
            (1, "v1"), (3, "v3"), (4, "v4"), (6, "v6"),
        ]

    def test_delete_prunes_untouched_files(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            delete_delta_keys,
        )

        t = str(tmp_path / "tbl")
        merge_delta_batch(
            spark,
            _kv(spark, [(k, f"v{k}", 0) for k in range(1, 9)]),
            t, "k", "ts", target_rows_per_file=4,
        )
        before = _live_files(spark, t)
        stats = {
            f: os.stat(os.path.join(t, f)).st_mtime_ns for f in before
        }
        delete_delta_keys(spark, t, "k", self._kdf(spark, [1]))
        after = set(_live_files(spark, t))
        untouched = [f for f in before if f in after]
        assert len(untouched) == 1
        f = untouched[0]
        assert os.stat(os.path.join(t, f)).st_mtime_ns == stats[f]

    def test_delete_all_rows_of_a_file_leaves_no_add(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            delete_delta_keys,
        )

        t = str(tmp_path / "tbl")
        merge_delta_batch(
            spark, _kv(spark, [(1, "a", 0)]), t, "k", "ts"
        )
        delete_delta_keys(spark, t, "k", self._kdf(spark, [1]))
        assert _snap(spark, t) == []
        assert _live_files(spark, t) == []

    def test_delete_noop_burns_no_version(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            delete_delta_keys,
        )

        t = str(tmp_path / "tbl")
        merge_delta_batch(spark, _kv(spark, [(1, "a", 0)]), t, "k", "ts")
        v0 = replay_log(spark, t)["version"]
        v = delete_delta_keys(spark, t, "k", self._kdf(spark, [99]))
        assert v == v0
        assert replay_log(spark, t)["version"] == v0

    def test_delete_cdf_records_erased_rows(self, spark, tmp_path):
        from optimus_any2any_spark.sources.delta import read_delta_cdf
        from optimus_any2any_spark.streaming.delta_table import (
            delete_delta_keys,
        )

        t = str(tmp_path / "tbl")
        merge_delta_batch(
            spark, _kv(spark, [(1, "a", 0), (2, "b", 0)]), t, "k", "ts"
        )
        v = delete_delta_keys(
            spark, t, "k", self._kdf(spark, [2]), change_data=True
        )
        rows = read_delta_cdf(spark, t, v - 1, v).collect()
        assert [(r.k, r.v, r._change_type) for r in rows] == [
            (2, "b", "delete"),
        ]

    def test_delete_idempotent_by_batch_id(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            delete_delta_keys,
        )

        t = str(tmp_path / "tbl")
        merge_delta_batch(
            spark, _kv(spark, [(1, "a", 0), (2, "b", 0)]), t, "k", "ts",
            batch_id=0,
        )
        delete_delta_keys(
            spark, t, "k", self._kdf(spark, [1]), batch_id=1
        )
        # redelivery: no second rewrite
        v = delete_delta_keys(
            spark, t, "k", self._kdf(spark, [2]), batch_id=1
        )
        assert _snap(spark, t) == [(2, "b")]
        assert v == replay_log(spark, t)["version"]

    def test_delete_partitioned_scopes_rewrite(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            delete_delta_keys,
        )

        t = str(tmp_path / "tbl")
        pkv = lambda rows: spark.createDataFrame(
            rows, "k long, v string, day string, ts long"
        )
        merge_delta_batch(
            spark,
            pkv([(1, "a", "d1", 0), (1, "x", "d2", 0), (2, "b", "d2", 0)]),
            t, "k", "ts", partition_by=["day"],
        )
        # key 1 exists in BOTH partitions: a bare key delete erases both
        delete_delta_keys(spark, t, "k", self._kdf(spark, [1]))
        got = sorted(
            (r.k, r.day) for r in read_delta(spark, t).collect()
        )
        assert got == [(2, "d2")]


class TestSchemaEvolution:
    def test_merge_schema_appends_column(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        merge_delta_batch(
            spark, _kv(spark, [(1, "a", 0), (2, "b", 0)]), t, "k", "ts"
        )
        wide = spark.createDataFrame(
            [(2, "B", 1, 9.5), (3, "c", 1, 7.0)],
            "k long, v string, ts long, score double",
        )
        merge_delta_batch(spark, wide, t, "k", "ts", merge_schema=True)
        got = sorted(
            ((r.k, r.v, r.score) for r in read_delta(spark, t).collect()),
            key=lambda x: x[0],
        )
        # untouched row 1 reads the NEW column as null
        assert got == [(1, "a", None), (2, "B", 9.5), (3, "c", 7.0)]

    def test_mismatch_without_flag_still_raises(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        merge_delta_batch(spark, _kv(spark, [(1, "a", 0)]), t, "k", "ts")
        wide = spark.createDataFrame(
            [(2, "b", 0, 1.0)], "k long, v string, ts long, score double"
        )
        with pytest.raises(ValueError, match="merge_schema=True"):
            merge_delta_batch(spark, wide, t, "k", "ts")

    def test_narrow_batch_null_fills(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        wide = spark.createDataFrame(
            [(1, "a", 0, 1.5)], "k long, v string, ts long, score double"
        )
        merge_delta_batch(spark, wide, t, "k", "ts")
        narrow = _kv(spark, [(2, "b", 0)])
        merge_delta_batch(spark, narrow, t, "k", "ts", merge_schema=True)
        got = {r.k: r.score for r in read_delta(spark, t).collect()}
        assert got == {1: 1.5, 2: None}

    def test_time_travel_keeps_old_schema(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        merge_delta_batch(spark, _kv(spark, [(1, "a", 0)]), t, "k", "ts")
        wide = spark.createDataFrame(
            [(2, "b", 1, 3.0)], "k long, v string, ts long, score double"
        )
        merge_delta_batch(spark, wide, t, "k", "ts", merge_schema=True)
        assert read_delta(spark, t, version=0).columns == ["k", "v", "ts"]
        assert "score" in read_delta(spark, t).columns


class TestCompaction:
    def test_optimize_rewrites_small_files_invisibly(self, spark, tmp_path):
        from optimus_any2any_spark.sources.delta import (
            read_delta_appends,
            read_delta_cdf,
        )
        from optimus_any2any_spark.streaming.delta_table import (
            compact_delta,
        )

        t = str(tmp_path / "tbl")
        for i in range(3):
            merge_delta_batch(
                spark, _kv(spark, [(i, f"v{i}", 0)]), t, "k", "ts"
            )
        assert len(_live_files(spark, t)) == 3
        v = compact_delta(spark, t)
        assert v == 3
        assert len(_live_files(spark, t)) == 1
        # snapshot identical; time travel still sees the small files
        assert _snap(spark, t) == [(0, "v0"), (1, "v1"), (2, "v2")]
        assert _snap(spark, t) == sorted(
            ((r.k, r.v) for r in __import__(
                "optimus_any2any_spark.sources.delta", fromlist=["read_delta"]
            ).read_delta(spark, t, version=2).collect()),
            key=lambda x: (x[0], x[1]),
        )
        # streaming readers skip the dataChange:false commit entirely
        assert read_delta_appends(spark, t, 2, 3).count() == 0
        assert read_delta_cdf(spark, t, 2, 3).count() == 0
        # compacted file carries usable stats for future merges
        adds = replay_log(spark, t)["live"]
        st = json.loads(next(iter(adds.values()))["stats"])
        assert st["numRecords"] == 3
        assert st["minValues"]["k"] == 0 and st["maxValues"]["k"] == 2

    def test_optimize_reclusters_for_skipping(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            compact_delta,
        )

        t = str(tmp_path / "tbl")
        # disjoint key ranges → four small files survive the merges
        for i in range(4):
            merge_delta_batch(
                spark,
                _kv(spark, [(k, "x", 0)
                            for k in range(i * 10, i * 10 + 10)]),
                t, "k", "ts",
            )
        assert len(_live_files(spark, t)) == 4
        compact_delta(spark, t, target_rows_per_file=11)
        live = replay_log(spark, t)["live"]
        ranges = []
        for a in live.values():
            st = json.loads(a["stats"])
            ranges.append((st["minValues"]["k"], st["maxValues"]["k"]))
        ranges.sort()
        assert len(ranges) >= 2
        # re-clustered: consecutive file ranges must not overlap
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 < lo2, ranges
        # a narrow range read now touches ONE file
        df = read_delta(spark, t, key_range=("k", 0, 3))
        assert len(set(df.inputFiles())) == 1

    def test_optimize_noop_returns_none(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            compact_delta,
        )

        t = str(tmp_path / "tbl")
        merge_delta_batch(spark, _kv(spark, [(1, "a", 0)]), t, "k", "ts")
        v_before = replay_log(spark, t)["version"]
        assert compact_delta(spark, t) is None
        assert replay_log(spark, t)["version"] == v_before

    def test_optimize_respects_partitions(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            compact_delta,
        )

        t = str(tmp_path / "tbl")
        pkv = lambda rows: spark.createDataFrame(
            rows, "k long, v string, day string, ts long"
        )
        merge_delta_batch(
            spark, pkv([(1, "a", "d1", 0), (2, "b", "d2", 0)]),
            t, "k", "ts", partition_by=["day"],
        )
        merge_delta_batch(
            spark, pkv([(3, "c", "d1", 0), (4, "d", "d2", 0)]),
            t, "k", "ts",
        )
        compact_delta(spark, t)
        live = replay_log(spark, t)["live"]
        by_day = {}
        for a in live.values():
            by_day.setdefault(a["partitionValues"]["day"], []).append(a)
        # one compacted file per partition, rows never mixed across days
        assert {d: len(fs) for d, fs in by_day.items()} == {
            "d1": 1, "d2": 1,
        }
        got = sorted(
            (r.k, r.day) for r in read_delta(spark, t).collect()
        )
        assert got == [(1, "d1"), (2, "d2"), (3, "d1"), (4, "d2")]


class TestDeltaSink:
    def test_pipeline_to_delta_append_then_merge(self, spark, tmp_path):
        from optimus_any2any_spark.config import Config
        from optimus_any2any_spark.pipeline import Pipeline

        t = str(tmp_path / "tbl")
        src = tmp_path / "in.json"
        src.write_text(
            '{"k": 1, "v": "a", "ts": 0}\n{"k": 2, "v": "b", "ts": 0}\n'
        )
        cfg = Config.from_env(
            env_args=[
                f"FILE__SOURCE_URI=file://{src}",
                f"DELTA__SINK_URI=file://{t}",
            ],
            environ={},
        )
        Pipeline(spark, "FILE", ["DELTA"], cfg).run()
        assert _snap(spark, t) == [(1, "a"), (2, "b")]
        # second pipeline run in MERGE mode upserts
        src2 = tmp_path / "in2.json"
        src2.write_text('{"k": 2, "v": "B", "ts": 1}\n')
        cfg2 = Config.from_env(
            env_args=[
                f"FILE__SOURCE_URI=file://{src2}",
                f"DELTA__SINK_URI=file://{t}",
                "DELTA__MODE=MERGE",
                "DELTA__MERGE_KEY=k",
                "DELTA__MERGE_TS=ts",
            ],
            environ={},
        )
        Pipeline(spark, "FILE", ["DELTA"], cfg2).run()
        assert _snap(spark, t) == [(1, "a"), (2, "B")]

    def test_sink_maintenance_riders(self, spark, tmp_path):
        from optimus_any2any_spark.config import Config
        from optimus_any2any_spark.pipeline import Pipeline

        t = str(tmp_path / "tbl")
        for i in range(3):
            src = tmp_path / f"in{i}.json"
            src.write_text(f'{{"k": {i}, "v": "x", "ts": 0}}\n')
            cfg = Config.from_env(
                env_args=[
                    f"FILE__SOURCE_URI=file://{src}",
                    f"DELTA__SINK_URI=file://{t}",
                ]
                + (
                    [
                        "DELTA__OPTIMIZE_ROWS=100000",
                        "DELTA__VACUUM=true",
                    ]
                    if i == 2
                    else []
                ),
                environ={},
            )
            Pipeline(spark, "FILE", ["DELTA"], cfg).run()
        # three appends compacted to one live file, garbage vacuumed
        live = _live_files(spark, t)
        assert len(live) == 1
        data_files = [
            f for f in os.listdir(t)
            if f.endswith(".parquet") and os.path.isfile(os.path.join(t, f))
        ]
        assert sorted(data_files) == sorted(live)
        assert _snap(spark, t) == [(0, "x"), (1, "x"), (2, "x")]

    def test_delete_mode_erases_keys(self, spark, tmp_path):
        from optimus_any2any_spark.config import Config
        from optimus_any2any_spark.pipeline import Pipeline

        t = str(tmp_path / "tbl")
        merge_delta_batch(
            spark, _kv(spark, [(1, "a", 0), (2, "b", 0)]), t, "k", "ts"
        )
        src = tmp_path / "erase.json"
        src.write_text('{"k": 1}\n')
        cfg = Config.from_env(
            env_args=[
                f"FILE__SOURCE_URI=file://{src}",
                f"DELTA__SINK_URI=file://{t}",
                "DELTA__MODE=DELETE",
                "DELTA__MERGE_KEY=k",
            ],
            environ={},
        )
        Pipeline(spark, "FILE", ["DELTA"], cfg).run()
        assert _snap(spark, t) == [(2, "b")]

    def test_restore_version_rider(self, spark, tmp_path):
        # VERDICT r8 item 8: DELTA__RESTORE_VERSION drives
        # restore_delta end-to-end through --to=DELTA
        from optimus_any2any_spark.config import Config
        from optimus_any2any_spark.pipeline import Pipeline

        t = str(tmp_path / "tbl")
        merge_delta_batch(
            spark, _kv(spark, [(1, "a", 0)]), t, "k", "ts"
        )
        src = tmp_path / "in.json"
        src.write_text('{"k": 9, "v": "z", "ts": 0}\n')
        cfg = Config.from_env(
            env_args=[
                f"FILE__SOURCE_URI=file://{src}",
                f"DELTA__SINK_URI=file://{t}",
                "DELTA__RESTORE_VERSION=0",
            ],
            environ={},
        )
        # the append lands as v1, then the rider restores to v0 as a
        # NEW commit (v2) — history preserved, state rolled back
        Pipeline(spark, "FILE", ["DELTA"], cfg).run()
        assert _snap(spark, t) == [(1, "a")]
        from optimus_any2any_spark.sources.delta import replay_log

        assert replay_log(spark, t)["version"] == 2

    def test_restore_timestamp_rider(self, spark, tmp_path):
        from optimus_any2any_spark.config import Config
        from optimus_any2any_spark.pipeline import Pipeline

        t = str(tmp_path / "tbl")
        merge_delta_batch(
            spark, _kv(spark, [(1, "a", 0)]), t, "k", "ts"
        )
        merge_delta_batch(
            spark, _kv(spark, [(2, "b", 0)]), t, "k", "ts"
        )
        log = os.path.join(t, "_delta_log")
        for v in range(2):
            p = os.path.join(log, "%020d.json" % v)
            os.utime(p, ((v + 1) * 1000, (v + 1) * 1000))
        src = tmp_path / "in.json"
        src.write_text('{"k": 9, "v": "z", "ts": 0}\n')
        cfg = Config.from_env(
            env_args=[
                f"FILE__SOURCE_URI=file://{src}",
                f"DELTA__SINK_URI=file://{t}",
                "DELTA__RESTORE_TIMESTAMP=1500000",  # epoch-ms: at v0
            ],
            environ={},
        )
        Pipeline(spark, "FILE", ["DELTA"], cfg).run()
        assert _snap(spark, t) == [(1, "a")]

    def test_merge_mode_requires_keys(self, spark, tmp_path):
        from optimus_any2any_spark.config import Config
        from optimus_any2any_spark.pipeline import Pipeline

        t = str(tmp_path / "tbl")
        src = tmp_path / "in.json"
        src.write_text('{"k": 1, "v": "a", "ts": 0}\n')
        cfg = Config.from_env(
            env_args=[
                f"FILE__SOURCE_URI=file://{src}",
                f"DELTA__SINK_URI=file://{t}",
                "DELTA__MODE=MERGE",
            ],
            environ={},
        )
        with pytest.raises(Exception, match="MERGE_KEY"):
            Pipeline(spark, "FILE", ["DELTA"], cfg).run()


class TestStreamingUpsert:
    def test_streaming_merge_with_cdf_and_partitions(self, spark, tmp_path):
        import time

        from optimus_any2any_spark.sources.delta import read_delta_cdf

        t = str(tmp_path / "tbl")
        src = str(tmp_path / "src")
        ckpt = str(tmp_path / "ckpt")
        spark.createDataFrame(
            [(1, "a", "d1", 0), (2, "b", "d2", 0)],
            "k long, v string, day string, ts long",
        ).write.parquet(src)
        stream = spark.readStream.schema(
            "k long, v string, day string, ts long"
        ).parquet(src)
        q = upsert_to_delta_table(
            stream, t, "k", "ts", ckpt,
            partition_by=["day"], change_data=True,
        )
        q.awaitTermination(60)
        time.sleep(0.2)
        live = replay_log(spark, t)["live"]
        assert {a["partitionValues"]["day"] for a in live.values()} == {
            "d1", "d2",
        }
        cdf = read_delta_cdf(spark, t, -1, 0).collect()
        assert sorted(r._change_type for r in cdf) == ["insert", "insert"]

    def test_streaming_merge_available_now(self, spark, tmp_path):
        import time

        t = str(tmp_path / "tbl")
        src = str(tmp_path / "src")
        ckpt = str(tmp_path / "ckpt")
        _kv(spark, [(1, "a", 0), (2, "b", 0)]).write.parquet(src)
        stream = spark.readStream.schema("k long, v string, ts long").parquet(src)
        q = upsert_to_delta_table(stream, t, "k", "ts", ckpt)
        q.awaitTermination(60)
        time.sleep(0.2)
        assert _snap(spark, t) == [(1, "a"), (2, "b")]
        # second micro-batch upserts through the same table
        _kv(spark, [(2, "B", 1), (3, "c", 1)]).write.mode("append").parquet(src)
        q2 = upsert_to_delta_table(stream, t, "k", "ts", ckpt)
        q2.awaitTermination(60)
        time.sleep(0.2)
        assert _snap(spark, t) == [(1, "a"), (2, "B"), (3, "c")]


class TestAppendOnly:
    """delta.appendOnly=true (the appendOnly writer feature): writers
    may only add data — data-changing removes refuse; dataChange:false
    rewrites (OPTIMIZE) stay allowed, as in delta-spark."""

    def _seed(self, spark, t):
        import json as _json
        import os as _os

        merge_delta_batch(
            spark, _kv(spark, [(1, "a", 0), (2, "b", 0)]), t, "k", "ts"
        )
        # flip the table to appendOnly via a metaData re-statement
        from optimus_any2any_spark.sources.delta import replay_log

        meta = dict(replay_log(spark, t)["meta"])
        cfg = dict(meta.get("configuration") or {})
        cfg["delta.appendOnly"] = "true"
        meta["configuration"] = cfg
        log = _os.path.join(t, "_delta_log")
        with open(_os.path.join(log, "%020d.json" % 1), "w") as f:
            f.write(_json.dumps({"metaData": meta}) + "\n")

    def test_insert_only_merge_still_appends(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        self._seed(spark, t)
        merge_delta_batch(
            spark, _kv(spark, [(9, "z", 1)]), t, "k", "ts"
        )
        assert _snap(spark, t) == [(1, "a"), (2, "b"), (9, "z")]

    def test_updating_merge_refused(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        self._seed(spark, t)
        with pytest.raises(ValueError, match="appendOnly"):
            merge_delta_batch(
                spark, _kv(spark, [(1, "A", 1)]), t, "k", "ts"
            )

    def test_delete_refused_optimize_allowed(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        self._seed(spark, t)
        with pytest.raises(ValueError, match="appendOnly"):
            delete_delta_keys(
                spark, t, "k", spark.createDataFrame([(1,)], "k long")
            )
        with pytest.raises(ValueError, match="appendOnly"):
            delete_delta_keys(
                spark, t, "k", spark.createDataFrame([(1,)], "k long"),
                use_deletion_vectors=True,
            )
        # two more appends → compactable small files; OPTIMIZE's
        # removes are dataChange:false and stay legal
        merge_delta_batch(spark, _kv(spark, [(8, "y", 1)]), t, "k", "ts")
        v = compact_delta(spark, t, key_col="k")
        assert v is not None
        assert _snap(spark, t) == [(1, "a"), (2, "b"), (8, "y")]


class TestRestore:
    """restore_delta: Delta's RESTORE ... VERSION AS OF as a new commit
    — the current snapshot becomes the historical one, history stays
    time-travelable, vacuumed history refuses."""

    def test_restore_rolls_back_an_update(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            restore_delta,
        )

        t = str(tmp_path / "tbl")
        merge_delta_batch(
            spark, _kv(spark, [(1, "a", 0), (2, "b", 0)]), t, "k", "ts"
        )
        merge_delta_batch(spark, _kv(spark, [(1, "A", 1)]), t, "k", "ts")
        v = restore_delta(spark, t, 0)
        assert v == 2
        assert _snap(spark, t) == [(1, "a"), (2, "b")]
        # history preserved: the restored-over state still time-travels
        from optimus_any2any_spark.sources.delta import read_delta

        assert sorted(
            (r.k, r.v) for r in read_delta(spark, t, version=1).collect()
        ) == [(1, "A"), (2, "b")]

    def test_restore_after_delete_resurrects(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            restore_delta,
        )

        t = str(tmp_path / "tbl")
        merge_delta_batch(
            spark, _kv(spark, [(k, f"v{k}", 0) for k in range(4)]),
            t, "k", "ts",
        )
        delete_delta_keys(
            spark, t, "k", spark.createDataFrame([(1,)], "k long")
        )
        restore_delta(spark, t, 0)
        assert _snap(spark, t) == [
            (0, "v0"), (1, "v1"), (2, "v2"), (3, "v3"),
        ]

    def test_restore_noop_when_identical(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            restore_delta,
        )

        t = str(tmp_path / "tbl")
        merge_delta_batch(spark, _kv(spark, [(1, "a", 0)]), t, "k", "ts")
        assert restore_delta(spark, t, 0) == 0  # no version burn

    def test_restore_refuses_vacuumed_history(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            restore_delta,
        )

        t = str(tmp_path / "tbl")
        merge_delta_batch(spark, _kv(spark, [(1, "a", 0)]), t, "k", "ts")
        merge_delta_batch(spark, _kv(spark, [(1, "A", 1)]), t, "k", "ts")
        vacuum_delta(spark, t)  # v0's file is now gone
        with pytest.raises(ValueError, match="vacuumed"):
            restore_delta(spark, t, 0)

    def test_restore_rolls_back_schema_evolution(self, spark, tmp_path):
        from optimus_any2any_spark.sources.delta import read_delta
        from optimus_any2any_spark.streaming.delta_table import (
            restore_delta,
        )

        t = str(tmp_path / "tbl")
        merge_delta_batch(spark, _kv(spark, [(1, "a", 0)]), t, "k", "ts")
        merge_delta_batch(
            spark,
            spark.createDataFrame(
                [(2, "b", 1, "x")], "k long, v string, ts long, e string"
            ),
            t, "k", "ts", merge_schema=True,
        )
        assert "e" in read_delta(spark, t).columns
        restore_delta(spark, t, 0)
        out = read_delta(spark, t)
        assert "e" not in out.columns
        assert sorted((r.k, r.v) for r in out.collect()) == [(1, "a")]

    def test_restore_dv_table_round_trip(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            restore_delta,
        )

        t = str(tmp_path / "tbl")
        merge_delta_batch(
            spark, _kv(spark, [(k, f"v{k}", 0) for k in range(4)]),
            t, "k", "ts",
        )
        delete_delta_keys(
            spark, t, "k", spark.createDataFrame([(1,)], "k long"),
            use_deletion_vectors=True,
        )
        # restore PAST the DV delete, then back to it: both directions
        # must reconcile by (path, DV uniqueId)
        restore_delta(spark, t, 0)
        assert len(_snap(spark, t)) == 4
        restore_delta(spark, t, 1)
        assert _snap(spark, t) == [(0, "v0"), (2, "v2"), (3, "v3")]


class TestDescribeHistory:
    """commitInfo provenance + delta_history (DESCRIBE HISTORY):
    every engine commit records operation/parameters/engineInfo; the
    history view resolves timestamps with the SAME rules as TIMESTAMP
    AS OF."""

    def test_operations_recorded_and_surfaced(self, spark, tmp_path):
        from optimus_any2any_spark.sources.delta import delta_history
        from optimus_any2any_spark.streaming.delta_table import (
            compact_delta,
            create_delta_table,
            delete_delta_keys,
            set_delta_constraint,
        )

        t = str(tmp_path / "tbl")
        create_delta_table(spark, t, "k long, v string, ts long")
        merge_delta_batch(
            spark, _kv(spark, [(1, "a", 0), (2, "b", 0), (3, "c", 0)]),
            t, "k", "ts", target_rows_per_file=2,
        )
        delete_delta_keys(
            spark, t, "k", spark.createDataFrame([(2,)], "k long")
        )
        set_delta_constraint(spark, t, "pos", "k > 0")
        compact_delta(spark, t)
        hist = delta_history(spark, t).orderBy("version").collect()
        ops = [r.operation for r in hist]
        assert ops == [
            "CREATE TABLE", "MERGE", "DELETE", "ADD CONSTRAINT",
            "OPTIMIZE",
        ]
        assert all(r.engine_info == "optimus-any2any-spark" for r in hist)
        assert [r.version for r in hist] == list(range(5))
        # timestamps come from the SAME resolution as time travel
        from optimus_any2any_spark.sources.delta import (
            commit_timestamps,
        )

        assert [r.timestamp for r in hist] == [
            ts for _v, ts in commit_timestamps(t)
        ]
        import json as _json

        params = _json.loads(hist[1].operation_parameters)
        assert params == {"key": "k"}

    def test_foreign_commit_shows_null_operation(self, spark, tmp_path):
        from optimus_any2any_spark.sources.delta import delta_history

        t = str(tmp_path / "tbl")
        merge_delta_batch(spark, _kv(spark, [(1, "a", 0)]), t, "k", "ts")
        # strip the commitInfo, as a foreign writer that records none
        log = os.path.join(t, "_delta_log")
        p = os.path.join(log, "%020d.json" % 0)
        lines = [
            ln for ln in open(p) if '"commitInfo"' not in ln
        ]
        with open(p, "w") as f:
            f.writelines(lines)
        hist = delta_history(spark, t).collect()
        assert hist[0].operation is None
        assert hist[0].engine_info is None

    def test_append_and_dv_delete_ops(self, spark, tmp_path):
        from optimus_any2any_spark.sources.delta import delta_history
        from optimus_any2any_spark.streaming.delta_table import (
            delete_delta_keys,
            write_delta_commit,
        )

        t = str(tmp_path / "tbl")
        write_delta_commit(_kv(spark, [(1, "a", 0), (2, "b", 0)]), t)
        delete_delta_keys(
            spark, t, "k", spark.createDataFrame([(2,)], "k long"),
            use_deletion_vectors=True,
        )
        hist = delta_history(spark, t).orderBy("version").collect()
        assert [r.operation for r in hist] == ["WRITE", "DELETE"]
        import json as _json

        assert _json.loads(hist[1].operation_parameters)["mode"] == (
            "deletion-vectors"
        )

    def test_history_source_rider(self, spark, tmp_path):
        from optimus_any2any_spark.config import Config
        from optimus_any2any_spark.pipeline import (
            SOURCE_BUILDERS,
            _load_builtin_components,
        )

        _load_builtin_components()
        t = str(tmp_path / "tbl")
        merge_delta_batch(spark, _kv(spark, [(1, "a", 0)]), t, "k", "ts")
        cfg = Config.from_env(
            env_args=[
                f"DELTA__SOURCE_URI=file://{t}",
                "DELTA__HISTORY=true",
            ],
            environ={},
        )
        df = SOURCE_BUILDERS["DELTA"](spark, cfg)
        rows = df.collect()
        assert len(rows) == 1 and rows[0].operation == "MERGE"


class TestConditionalMergeClauses:
    """VERDICT r9 item 5: delta-spark's conditional MERGE clause
    builder — whenMatchedUpdate(cond, set) / whenMatchedDelete(cond) /
    whenNotMatchedBySource* — over the single-job merge plan."""

    def _base(self, spark, path):
        base = spark.createDataFrame(
            [(1, "a", 10, 0), (2, "b", 20, 0), (3, "c", 30, 0),
             (4, "d", 40, 0), (11, "e", 50, 0)],
            "k long, name string, val long, ts long",
        )
        merge_delta_batch(spark, base, str(path), "k", "ts", batch_id=0)

    def _rows(self, spark, path):
        return sorted(
            (r.k, r.name, r.val)
            for r in read_delta(spark, str(path)).collect()
        )

    def test_update_delete_insert_nmbs(self, spark, tmp_path):
        t = tmp_path / "t"
        self._base(spark, t)
        src = spark.createDataFrame(
            [(1, "A", 100, 1),   # matched → update (2nd clause)
             (3, "C", 999, 1),   # matched, s.val > 500 → delete
             (9, "I", 900, 1)],  # unmatched → insert
            "k long, name string, val long, ts long",
        )
        merge_delta_batch(
            spark, src, str(t), "k", "ts", batch_id=1,
            when_matched=[
                ("delete", "s.val > 500"),
                ("update", "s.val <= 150",
                 {"name": "s.name", "val": "t.val + s.val"}),
            ],
            when_not_matched_by_source=[("delete", "t.k % 10 = 1")],
        )
        # k=1 matched+updated BEFORE the nmbs clause could see it;
        # k=11 unmatched-by-source and k%10=1 → deleted; k=2,4 pass
        # through untouched; k=3 deleted; k=9 inserted
        assert self._rows(spark, t) == [
            (1, "A", 110), (2, "b", 20), (4, "d", 40), (9, "I", 900),
        ]

    def test_first_matching_clause_wins(self, spark, tmp_path):
        t = tmp_path / "t"
        self._base(spark, t)
        src = spark.createDataFrame(
            [(2, "x", 5, 1)], "k long, name string, val long, ts long"
        )
        # both clauses' conditions hold; declaration order decides
        merge_delta_batch(
            spark, src, str(t), "k", "ts", batch_id=1,
            when_matched=[
                ("update", "s.val < 10", {"val": "-1"}),
                ("delete", "s.val < 10"),
            ],
        )
        got = self._rows(spark, t)
        assert (2, "b", -1) in got  # updated, NOT deleted

    def test_matched_rows_without_clause_pass_through(
        self, spark, tmp_path
    ):
        t = tmp_path / "t"
        self._base(spark, t)
        src = spark.createDataFrame(
            [(2, "zzz", 999, 1)],
            "k long, name string, val long, ts long",
        )
        merge_delta_batch(
            spark, src, str(t), "k", "ts", batch_id=1,
            when_matched=[("update", "s.val < 10", {"val": "-1"})],
        )
        # condition false → NOT upserted, target row unchanged
        assert (2, "b", 20) in self._rows(spark, t)

    def test_empty_source_nmbs_deletes(self, spark, tmp_path):
        t = tmp_path / "t"
        self._base(spark, t)
        empty = spark.createDataFrame(
            [], "k long, name string, val long, ts long"
        )
        v = merge_delta_batch(
            spark, empty, str(t), "k", "ts", batch_id=1,
            when_not_matched_by_source=[("delete", "t.val > 25")],
        )
        assert v == 1
        assert self._rows(spark, t) == [(1, "a", 10), (2, "b", 20)]

    def test_nmbs_update_supported(self, spark, tmp_path):
        t = tmp_path / "t"
        self._base(spark, t)
        src = spark.createDataFrame(
            [(1, "A", 1, 1)], "k long, name string, val long, ts long"
        )
        merge_delta_batch(
            spark, src, str(t), "k", "ts", batch_id=1,
            when_matched=[("update", None, {"val": "s.val"})],
            when_not_matched_by_source=[
                ("update", "t.val >= 30", {"name": "'stale'"})
            ],
        )
        got = self._rows(spark, t)
        assert (1, "a", 1) in got
        assert (3, "stale", 30) in got and (4, "stale", 40) in got
        assert (2, "b", 20) in got  # nmbs condition false: unchanged

    def test_predicates_recorded_in_history(self, spark, tmp_path):
        from optimus_any2any_spark.sources.delta import delta_history

        t = tmp_path / "t"
        self._base(spark, t)
        src = spark.createDataFrame(
            [(1, "A", 1, 1)], "k long, name string, val long, ts long"
        )
        merge_delta_batch(
            spark, src, str(t), "k", "ts", batch_id=1,
            when_matched=[("delete", "s.val > 500")],
        )
        h = {
            r.version: json.loads(r.operation_parameters)
            for r in delta_history(spark, str(t)).collect()
        }
        preds = json.loads(h[1]["matchedPredicates"])
        assert preds == [
            {"predicate": "s.val > 500", "actionType": "delete"}
        ]

    def test_idempotent_redelivery(self, spark, tmp_path):
        t = tmp_path / "t"
        self._base(spark, t)
        src = spark.createDataFrame(
            [(1, "A", 100, 1)], "k long, name string, val long, ts long"
        )
        kw = dict(
            when_matched=[
                ("update", None, {"val": "t.val + s.val"})
            ],
        )
        v1 = merge_delta_batch(
            spark, src, str(t), "k", "ts", batch_id=1, **kw
        )
        v2 = merge_delta_batch(
            spark, src, str(t), "k", "ts", batch_id=1, **kw
        )
        assert v2 == v1  # redelivered: NOT applied twice
        assert (1, "a", 110) in self._rows(spark, t)

    def test_partitioned_matched_clauses_work(self, spark, tmp_path):
        t = tmp_path / "t"
        base = spark.createDataFrame(
            [(1, "p1", 10, 0), (2, "p1", 20, 0), (3, "p2", 30, 0)],
            "k long, pt string, val long, ts long",
        )
        merge_delta_batch(
            spark, base, str(t), "k", "ts", batch_id=0,
            partition_by=["pt"],
        )
        src = spark.createDataFrame(
            [(1, "p1", 100, 1), (3, "p2", 999, 1)],
            "k long, pt string, val long, ts long",
        )
        merge_delta_batch(
            spark, src, str(t), "k", "ts", batch_id=1,
            when_matched=[
                ("delete", "s.val > 500"),
                ("update", None, {"val": "t.val + s.val"}),
            ],
        )
        got = sorted(
            (r.k, r.pt, r.val)
            for r in read_delta(spark, str(t)).collect()
        )
        assert got == [(1, "p1", 110), (2, "p1", 20)]

    def test_constraints_gate_updated_values(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            set_delta_constraint,
        )

        t = tmp_path / "t"
        self._base(spark, t)
        set_delta_constraint(spark, str(t), "val_pos", "val > 0")
        src = spark.createDataFrame(
            [(1, "A", 5, 1)], "k long, name string, val long, ts long"
        )
        with pytest.raises(ValueError, match="val_pos"):
            merge_delta_batch(
                spark, src, str(t), "k", "ts", batch_id=1,
                when_matched=[
                    ("update", None, {"val": "t.val - 100"})
                ],
            )

    def test_refusals(self, spark, tmp_path):
        t = tmp_path / "t"
        self._base(spark, t)
        src = spark.createDataFrame(
            [(1, "A", 1, 1)], "k long, name string, val long, ts long"
        )
        with pytest.raises(ValueError, match="merge key"):
            merge_delta_batch(
                spark, src, str(t), "k", "ts",
                when_matched=[("update", None, {"k": "0"})],
            )
        with pytest.raises(ValueError, match="clause kind"):
            merge_delta_batch(
                spark, src, str(t), "k", "ts",
                when_matched=[("upsert", None)],
            )

    def test_merge_schema_composes_with_clauses(self, spark, tmp_path):
        """VERDICT r10 item 6: schema evolution + conditional clauses.
        The batch evolves first, so clause values may reference the
        new column on both sides; pre-evolution rows read it null."""
        t = tmp_path / "t"
        self._base(spark, t)
        wide = spark.createDataFrame(
            [(1, "A", 100, 1, "tag1"), (9, "I", 900, 1, "tag9")],
            "k long, name string, val long, ts long, tag string",
        )
        merge_delta_batch(
            spark, wide, str(t), "k", "ts", batch_id=1,
            merge_schema=True,
            when_matched=[
                ("update", "s.tag = 'tag1'",
                 {"name": "s.name", "tag": "s.tag"}),
            ],
        )
        got = sorted(
            (r.k, r.name, r.val, r.tag)
            for r in read_delta(spark, str(t)).collect()
        )
        assert (1, "A", 10, "tag1") in got       # updated + new col
        assert (2, "b", 20, None) in got         # pass-through, null
        assert (9, "I", 900, "tag9") in got      # inserted with col

    def _pbase(self, spark, path):
        base = spark.createDataFrame(
            [(1, "p1", 10, 0), (2, "p1", 20, 0),
             (3, "p2", 30, 0), (4, "p3", 41, 0)],
            "k long, pt string, val long, ts long",
        )
        merge_delta_batch(
            spark, base, str(path), "k", "ts", batch_id=0,
            partition_by=["pt"],
        )

    def test_partitioned_nmbs_across_partitions(self, spark, tmp_path):
        """VERDICT r10 item 6: partitioned not-matched-by-source. The
        clause reaches rows in live partitions the batch never
        touches (minted pids), and survivors stay in their own
        partitions."""
        t = tmp_path / "t"
        self._pbase(spark, t)
        src = spark.createDataFrame(
            [(1, "p1", 100, 1)], "k long, pt string, val long, ts long"
        )
        merge_delta_batch(
            spark, src, str(t), "k", "ts", batch_id=1,
            when_matched=[("update", None, {"val": "s.val"})],
            when_not_matched_by_source=[("delete", "t.val % 2 = 1")],
        )
        got = sorted(
            (r.k, r.pt, r.val)
            for r in read_delta(spark, str(t)).collect()
        )
        # k=1 matched+updated; k=2 (p1), k=3 (p2) even vals pass
        # through; k=4 (p3, untouched partition) odd val deleted
        assert got == [(1, "p1", 100), (2, "p1", 20), (3, "p2", 30)]
        # partition pruning still works on the result
        from optimus_any2any_spark.sources.delta import read_delta as rd
        p2 = rd(spark, str(t), key_range=None)
        assert sorted(
            r.k for r in p2.filter("pt = 'p2'").collect()
        ) == [3]

    def test_partitioned_nmbs_empty_source(self, spark, tmp_path):
        t = tmp_path / "t"
        self._pbase(spark, t)
        empty = spark.createDataFrame(
            [], "k long, pt string, val long, ts long"
        )
        merge_delta_batch(
            spark, empty, str(t), "k", "ts", batch_id=1,
            when_not_matched_by_source=[("delete", "t.val >= 30")],
        )
        got = sorted(
            (r.k, r.pt, r.val)
            for r in read_delta(spark, str(t)).collect()
        )
        assert got == [(1, "p1", 10), (2, "p1", 20)]

    def test_partitioned_nmbs_cdf(self, spark, tmp_path):
        """CDF rows from minted-pid partitions carry their typed
        partition columns (pid_df_all extension)."""
        from optimus_any2any_spark.sources.delta import read_delta_cdf

        t = tmp_path / "t"
        self._pbase(spark, t)
        src = spark.createDataFrame(
            [(1, "p1", 100, 1)], "k long, pt string, val long, ts long"
        )
        merge_delta_batch(
            spark, src, str(t), "k", "ts", batch_id=1,
            change_data=True,
            when_matched=[("update", None, {"val": "s.val"})],
            when_not_matched_by_source=[("delete", "t.val % 2 = 1")],
        )
        cdf = sorted(
            (r._change_type, r.k, r.pt, r.val)
            for r in read_delta_cdf(spark, str(t), 0, 1).collect()
        )
        assert cdf == [
            ("delete", 4, "p3", 41),
            ("update_postimage", 1, "p1", 100),
            ("update_preimage", 1, "p1", 10),
        ]


class TestConditionalMergeSinkRider:
    def test_when_matched_rider(self, spark, tmp_path):
        from optimus_any2any_spark.config import Config
        from optimus_any2any_spark.pipeline import Pipeline

        t = str(tmp_path / "tbl")
        src = tmp_path / "in.json"
        src.write_text(
            '{"k": 1, "v": "a", "ts": 0}\n{"k": 2, "v": "b", "ts": 0}\n'
        )
        cfg = Config.from_env(
            env_args=[
                f"FILE__SOURCE_URI=file://{src}",
                f"DELTA__SINK_URI=file://{t}",
            ],
            environ={},
        )
        Pipeline(spark, "FILE", ["DELTA"], cfg).run()
        src2 = tmp_path / "in2.json"
        src2.write_text(
            '{"k": 2, "v": "DEL", "ts": 1}\n{"k": 9, "v": "i", "ts": 1}\n'
        )
        clauses = (
            '[["delete", "s.v = \'DEL\'"], '
            '["update", null, {"v": "s.v"}]]'
        )
        cfg2 = Config.from_env(
            env_args=[
                f"FILE__SOURCE_URI=file://{src2}",
                f"DELTA__SINK_URI=file://{t}",
                "DELTA__MODE=MERGE",
                "DELTA__MERGE_KEY=k",
                "DELTA__MERGE_TS=ts",
                f"DELTA__WHEN_MATCHED={clauses}",
            ],
            environ={},
        )
        Pipeline(spark, "FILE", ["DELTA"], cfg2).run()
        assert _snap(spark, t) == [(1, "a"), (9, "i")]


class TestConditionalMergeCDF:
    """change_data=True composes with conditional clauses: update
    clauses emit pre/post images, delete clauses emit delete rows,
    inserts emit insert, pass-through rows emit NOTHING."""

    def test_clause_cdf_row_set(self, spark, tmp_path):
        from optimus_any2any_spark.sources.delta import read_delta_cdf

        t = str(tmp_path / "t")
        base = spark.createDataFrame(
            [(1, "a", 10, 0), (2, "b", 20, 0), (3, "c", 30, 0),
             (4, "d", 40, 0)],
            "k long, name string, val long, ts long",
        )
        merge_delta_batch(
            spark, base, str(t), "k", "ts", batch_id=0,
            change_data=True,
        )
        src = spark.createDataFrame(
            [(1, "A", 100, 1),   # matched → update
             (3, "C", 999, 1),   # matched → delete (s.val > 500)
             (9, "I", 900, 1)],  # unmatched → insert
            "k long, name string, val long, ts long",
        )
        merge_delta_batch(
            spark, src, str(t), "k", "ts", batch_id=1,
            change_data=True,
            when_matched=[
                ("delete", "s.val > 500"),
                ("update", None, {"val": "t.val + s.val"}),
            ],
            when_not_matched_by_source=[("delete", "t.k = 4")],
        )
        cdf = sorted(
            (r._change_type, r.k, r.name, r.val)
            for r in read_delta_cdf(spark, t, 0, 1).collect()
        )
        assert cdf == [
            ("delete", 3, "c", 30),
            ("delete", 4, "d", 40),
            ("insert", 9, "I", 900),
            ("update_postimage", 1, "a", 110),
            ("update_preimage", 1, "a", 10),
        ]
        # k=2 passed through: no change row (asserted by the exact
        # set above), and the table itself is consistent
        got = sorted(
            (r.k, r.val) for r in read_delta(spark, str(t)).collect()
        )
        assert got == [(1, 110), (2, 20), (9, 900)]


class TestConditionalInsertClauses:
    """whenNotMatchedInsert(cond, values): the third side of the
    delta-spark clause builder — conditional, value-specifying
    inserts; unmatched source rows with no matching clause are NOT
    inserted."""

    def _base(self, spark, path):
        base = spark.createDataFrame(
            [(1, "a", 10, 0), (2, "b", 20, 0)],
            "k long, name string, val long, ts long",
        )
        merge_delta_batch(spark, base, str(path), "k", "ts", batch_id=0)

    def _rows(self, spark, path):
        return sorted(
            (r.k, r.name, r.val)
            for r in read_delta(spark, str(path)).collect()
        )

    def test_conditional_insert_filters_and_maps(self, spark, tmp_path):
        t = tmp_path / "t"
        self._base(spark, t)
        src = spark.createDataFrame(
            [(1, "A", 100, 1),   # matched → upserted? NO: no matched
             #                     clause given → passes through
             (8, "i8", 800, 1),  # unmatched, val>500 → custom values
             (9, "i9", 5, 1)],   # unmatched, no clause matches → drop
            "k long, name string, val long, ts long",
        )
        merge_delta_batch(
            spark, src, str(t), "k", "ts", batch_id=1,
            when_not_matched=[
                ("insert", "s.val > 500",
                 {"k": "s.k", "name": "upper(s.name)", "val": "s.val"}),
            ],
        )
        got = self._rows(spark, t)
        # ts unspecified in the value set → null; matched k=1 passed
        # through unchanged (no when_matched clause)
        assert got == [(1, "a", 10), (2, "b", 20), (8, "I8", 800)]

    def test_insert_all_clause_and_ordering(self, spark, tmp_path):
        t = tmp_path / "t"
        self._base(spark, t)
        src = spark.createDataFrame(
            [(8, "x", 800, 1), (9, "y", 5, 1)],
            "k long, name string, val long, ts long",
        )
        merge_delta_batch(
            spark, src, str(t), "k", "ts", batch_id=1,
            when_not_matched=[
                ("insert", "s.val > 500", {"k": "s.k", "val": "-1"}),
                ("insert", None, None),  # insertAll fallback
            ],
        )
        got = self._rows(spark, t)
        assert (8, None, -1) in got     # first clause won
        assert (9, "y", 5) in got       # fallback insertAll

    def test_no_hits_path_applies_insert_clauses(self, spark, tmp_path):
        # batch keys miss every file: the no-affected-files shortcut
        # must still run the insert clauses
        t = tmp_path / "t"
        self._base(spark, t)
        src = spark.createDataFrame(
            [(100, "hi", 1, 1), (200, "lo", 2, 1)],
            "k long, name string, val long, ts long",
        )
        merge_delta_batch(
            spark, src, str(t), "k", "ts", batch_id=1,
            when_not_matched=[("insert", "s.k = 100", None)],
        )
        assert self._rows(spark, t) == [
            (1, "a", 10), (2, "b", 20), (100, "hi", 1),
        ]

    def test_cdf_reflects_filtered_inserts(self, spark, tmp_path):
        from optimus_any2any_spark.sources.delta import read_delta_cdf

        t = tmp_path / "t"
        base = spark.createDataFrame(
            [(1, "a", 10, 0)], "k long, name string, val long, ts long"
        )
        merge_delta_batch(
            spark, base, str(t), "k", "ts", batch_id=0,
            change_data=True,
        )
        src = spark.createDataFrame(
            [(8, "x", 800, 1), (9, "y", 5, 1)],
            "k long, name string, val long, ts long",
        )
        merge_delta_batch(
            spark, src, str(t), "k", "ts", batch_id=1,
            change_data=True,
            when_not_matched=[("insert", "s.val > 500", None)],
        )
        cdf = sorted(
            (r._change_type, r.k)
            for r in read_delta_cdf(spark, str(t), 0, 1).collect()
        )
        assert cdf == [("insert", 8)]

    def test_validation(self, spark, tmp_path):
        t = tmp_path / "t"
        self._base(spark, t)
        src = spark.createDataFrame(
            [(8, "x", 1, 1)], "k long, name string, val long, ts long"
        )
        with pytest.raises(ValueError, match="must be 'insert'"):
            merge_delta_batch(
                spark, src, str(t), "k", "ts",
                when_not_matched=[("update", None, {"val": "1"})],
            )
        with pytest.raises(ValueError, match="insert clause needs"):
            merge_delta_batch(
                spark, src, str(t), "k", "ts",
                when_not_matched=[("insert", None, {})],
            )


class TestEvolvedSchemaDmlComposes:
    def test_dml_and_cdf_on_evolved_table(self, spark, tmp_path):
        """After a merge_schema evolution, UPDATE/DELETE WHERE
        referencing the NEW column and the CDF read compose."""
        from optimus_any2any_spark.sources.delta import read_delta_cdf
        from optimus_any2any_spark.streaming.delta_table import (
            delete_delta_where,
            update_delta_where,
        )

        t = str(tmp_path / "t")
        base = spark.createDataFrame(
            [(i, 10.0 * i, 0) for i in range(1, 7)],
            "k long, price double, ts long",
        )
        merge_delta_batch(spark, base, str(t), "k", "ts", batch_id=0)
        wide = spark.createDataFrame(
            [(9, 90.0, 1, "hot")],
            "k long, price double, ts long, tag string",
        )
        merge_delta_batch(
            spark, wide, str(t), "k", "ts", batch_id=1,
            merge_schema=True,
        )
        update_delta_where(
            spark, str(t), {"tag": "'cold'"}, where="k % 2 = 0",
            change_data=True,
        )
        delete_delta_where(spark, str(t), "tag = 'hot'")
        got = sorted(
            (r.k, r.tag) for r in read_delta(spark, str(t)).collect()
        )
        assert got == [
            (1, None), (2, "cold"), (3, None),
            (4, "cold"), (5, None), (6, "cold"),
        ]
        cdf = sorted(
            (r._change_type, r.k)
            for r in read_delta_cdf(spark, str(t), 1, 2).collect()
        )
        assert cdf == [
            ("update_postimage", 2), ("update_postimage", 4),
            ("update_postimage", 6), ("update_preimage", 2),
            ("update_preimage", 4), ("update_preimage", 6),
        ]
