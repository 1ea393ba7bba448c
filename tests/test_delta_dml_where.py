"""Predicate DML: DELETE FROM t WHERE ... / UPDATE t SET ... WHERE ...
(streaming/delta_table.delete_delta_where / update_delta_where) —
two-phase copy-on-write: one scan finds touched files, only those
rewrite; SQL three-valued predicate semantics; CDF integration."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from optimus_any2any_spark.sources.delta import read_delta, replay_log
from optimus_any2any_spark.streaming.delta_table import (
    delete_delta_where,
    merge_delta_batch,
    set_delta_constraint,
    update_delta_where,
)


def _mk(spark, t, rows=None, partition_by=None):
    rows = rows or [
        (1, "a", 10, 0), (2, "b", 20, 0), (3, "c", 30, 0),
        (4, "d", 40, 0),
    ]
    df = spark.createDataFrame(
        rows, "k long, name string, val long, ts long"
    )
    merge_delta_batch(
        spark, df, t, "k", "ts", batch_id=0, partition_by=partition_by
    )


def _rows(spark, t):
    return sorted(
        (r.k, r.name, r.val) for r in read_delta(spark, t).collect()
    )


class TestDeleteWhere:
    def test_basic_delete(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        v = delete_delta_where(spark, t, "val >= 30")
        assert v == 1
        assert _rows(spark, t) == [(1, "a", 10), (2, "b", 20)]

    def test_no_match_is_a_noop(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        assert delete_delta_where(spark, t, "val > 1000") is None
        assert replay_log(spark, t)["version"] == 0  # no version burned

    def test_null_predicate_keeps_the_row(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t, rows=[(1, None, 10, 0), (2, "b", 20, 0)])
        delete_delta_where(spark, t, "name = 'b'")
        # name null → predicate null → row NOT deleted (SQL 3VL)
        assert _rows(spark, t) == [(1, None, 10)]

    def test_untouched_files_not_rewritten(self, spark, tmp_path):
        t = str(tmp_path / "t")
        # two files with disjoint key ranges
        df = spark.createDataFrame(
            [(k, "x", k, 0) for k in range(1, 9)],
            "k long, name string, val long, ts long",
        )
        merge_delta_batch(
            spark, df, t, "k", "ts", batch_id=0, target_rows_per_file=4
        )
        before = dict(replay_log(spark, t)["live"])
        assert len(before) >= 2
        delete_delta_where(spark, t, "k = 1")
        after = replay_log(spark, t)["live"]
        survived = set(before) & set(after)
        assert survived  # the high-range file(s) were not touched
        assert sorted(r.k for r in read_delta(spark, t).collect()) == (
            list(range(2, 9))
        )

    def test_partition_predicate(self, spark, tmp_path):
        t = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(1, "p1", 10, 0), (2, "p1", 20, 0), (3, "p2", 30, 0)],
            "k long, pt string, val long, ts long",
        )
        merge_delta_batch(
            spark, df, t, "k", "ts", batch_id=0, partition_by=["pt"]
        )
        before = dict(replay_log(spark, t)["live"])
        delete_delta_where(spark, t, "pt = 'p1' AND val > 15")
        after = replay_log(spark, t)["live"]
        # the p2 file is untouched byte-for-byte
        p2 = [
            p for p, a in before.items()
            if (a.get("partitionValues") or {}).get("pt") == "p2"
        ]
        assert p2 and all(p in after for p in p2)
        got = sorted(
            (r.k, r.pt) for r in read_delta(spark, t).collect()
        )
        assert got == [(1, "p1"), (3, "p2")]

    def test_dv_table_does_not_resurrect(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            delete_delta_keys,
        )

        t = str(tmp_path / "t")
        _mk(spark, t)
        delete_delta_keys(
            spark, t, "k",
            spark.createDataFrame([(2,)], "k long"),
            use_deletion_vectors=True,
        )
        delete_delta_where(spark, t, "val >= 30")
        # k=2 (DV-deleted) must not come back when its file rewrites
        assert _rows(spark, t) == [(1, "a", 10)]

    def test_cdf_records_deletes(self, spark, tmp_path):
        from optimus_any2any_spark.sources.delta import read_delta_cdf

        t = str(tmp_path / "t")
        _mk(spark, t)
        delete_delta_where(spark, t, "k >= 3", change_data=True)
        cdf = sorted(
            (r._change_type, r.k)
            for r in read_delta_cdf(spark, t, 0, 1).collect()
        )
        assert cdf == [("delete", 3), ("delete", 4)]

    def test_history_records_operation(self, spark, tmp_path):
        from optimus_any2any_spark.sources.delta import delta_history

        t = str(tmp_path / "t")
        _mk(spark, t)
        delete_delta_where(spark, t, "k = 1")
        h = {
            r.version: (r.operation, json.loads(r.operation_parameters))
            for r in delta_history(spark, t).collect()
        }
        assert h[1][0] == "DELETE"
        assert h[1][1]["predicate"] == "k = 1"


class TestUpdateWhere:
    def test_basic_update(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        v = update_delta_where(
            spark, t,
            {"val": "val * 10", "name": "upper(name)"},
            where="k <= 2",
        )
        assert v == 1
        assert _rows(spark, t) == [
            (1, "A", 100), (2, "B", 200), (3, "c", 30), (4, "d", 40),
        ]

    def test_update_without_where_touches_all(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        update_delta_where(spark, t, {"val": "val + 1"})
        assert [v for _, _, v in _rows(spark, t)] == [11, 21, 31, 41]

    def test_constraints_gate_updates(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        set_delta_constraint(spark, t, "val_pos", "val > 0")
        with pytest.raises(ValueError, match="val_pos"):
            update_delta_where(
                spark, t, {"val": "val - 100"}, where="k = 1"
            )

    def test_refusals(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            create_delta_table,
            write_delta_commit,
        )

        t = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(1, "p1", 10, 0)], "k long, pt string, val long, ts long"
        )
        merge_delta_batch(
            spark, df, t, "k", "ts", batch_id=0, partition_by=["pt"]
        )
        with pytest.raises(ValueError, match="partition"):
            update_delta_where(spark, t, {"pt": "'p9'"})
        with pytest.raises(ValueError, match="unknown column"):
            update_delta_where(spark, t, {"nope": "1"})
        with pytest.raises(ValueError, match="SET needs"):
            update_delta_where(spark, t, {})
        # generated columns are not assignable
        t2 = str(tmp_path / "t2")
        create_delta_table(
            spark, t2,
            "k long, val long, dbl long, ts long",
            generated={"dbl": "val * 2"},
        )
        write_delta_commit(
            spark.createDataFrame(
                [(1, 5, 0)], "k long, val long, ts long"
            ),
            t2,
        )
        with pytest.raises(ValueError, match="generated"):
            update_delta_where(spark, t2, {"dbl": "1"})

    def test_cdf_pre_and_post_images(self, spark, tmp_path):
        from optimus_any2any_spark.sources.delta import read_delta_cdf

        t = str(tmp_path / "t")
        _mk(spark, t)
        update_delta_where(
            spark, t, {"val": "val + 5"}, where="k = 2",
            change_data=True,
        )
        cdf = sorted(
            (r._change_type, r.k, r.val)
            for r in read_delta_cdf(spark, t, 0, 1).collect()
        )
        assert cdf == [
            ("update_postimage", 2, 25),
            ("update_preimage", 2, 20),
        ]

    def test_append_only_refuses(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            create_delta_table,
            write_delta_commit,
        )

        t = str(tmp_path / "t")
        create_delta_table(
            spark, t, "k long, val long, ts long",
            configuration={"delta.appendOnly": "true"},
        )
        write_delta_commit(
            spark.createDataFrame([(1, 5, 0)], "k long, val long, ts long"),
            t,
        )
        with pytest.raises(ValueError, match="appendOnly"):
            delete_delta_where(spark, t, "k = 1")
        with pytest.raises(ValueError, match="appendOnly"):
            update_delta_where(spark, t, {"val": "1"}, where="k = 1")


class TestDmlSinkRiders:
    def test_delete_where_and_update_where_riders(self, spark, tmp_path):
        from optimus_any2any_spark.config import Config
        from optimus_any2any_spark.pipeline import Pipeline

        t = str(tmp_path / "tbl")
        _mk(spark, t)
        trigger = tmp_path / "trigger.json"
        trigger.write_text('{"go": 1}\n')
        cfg = Config.from_env(
            env_args=[
                f"FILE__SOURCE_URI=file://{trigger}",
                f"DELTA__SINK_URI=file://{t}",
                "DELTA__MODE=DELETE_WHERE",
                "DELTA__PREDICATE=val >= 40",
            ],
            environ={},
        )
        Pipeline(spark, "FILE", ["DELTA"], cfg).run()
        assert _rows(spark, t) == [
            (1, "a", 10), (2, "b", 20), (3, "c", 30),
        ]
        cfg2 = Config.from_env(
            env_args=[
                f"FILE__SOURCE_URI=file://{trigger}",
                f"DELTA__SINK_URI=file://{t}",
                "DELTA__MODE=UPDATE_WHERE",
                'DELTA__SET={"val": "val * 2"}',
                "DELTA__PREDICATE=k = 1",
            ],
            environ={},
        )
        Pipeline(spark, "FILE", ["DELTA"], cfg2).run()
        assert _rows(spark, t) == [
            (1, "a", 20), (2, "b", 20), (3, "c", 30),
        ]
