"""Delta CHECK constraints (PROTOCOL.md "CHECK Constraints", the
checkConstraints writer feature): ``delta.constraints.<name>`` SQL
expressions that every written row must evaluate TRUE under — false
AND null violate (delta-spark's enforcement). Writers gate added rows
(merge + append); ADD CONSTRAINT validates existing data first and
declares the writer feature through the protocol merge."""

from __future__ import annotations

import json
import os

import pytest

from optimus_any2any_spark.sources.delta import (
    read_delta,
    replay_log,
)
from optimus_any2any_spark.streaming.delta_table import (
    drop_delta_constraint,
    merge_delta_batch,
    set_delta_constraint,
    write_delta_commit,
)


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, ts long")


def _mk(spark, t, rows=((1, "a", 0), (2, "b", 0))):
    merge_delta_batch(spark, _kv(spark, list(rows)), t, "k", "ts")


class TestAddDropConstraint:
    def test_add_commits_config_and_protocol(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        _mk(spark, t)
        v = set_delta_constraint(spark, t, "pos_k", "k > 0")
        assert v == 1
        state = replay_log(spark, t)
        assert (
            state["meta"]["configuration"]["delta.constraints.pos_k"]
            == "k > 0"
        )
        assert "checkConstraints" in (
            state["protocol"].get("writerFeatures") or []
        )
        # legacy-implied features survive the upgrade (merge, never
        # overwrite)
        assert "appendOnly" in state["protocol"]["writerFeatures"]

    def test_add_refuses_when_existing_data_violates(
        self, spark, tmp_path
    ):
        t = str(tmp_path / "tbl")
        _mk(spark, t, [(1, "a", 0), (-5, "neg", 0)])
        with pytest.raises(ValueError, match="violated by 1 row"):
            set_delta_constraint(spark, t, "pos_k", "k > 0")
        # nothing committed
        assert replay_log(spark, t)["version"] == 0

    def test_duplicate_add_refuses(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        _mk(spark, t)
        set_delta_constraint(spark, t, "pos_k", "k > 0")
        with pytest.raises(ValueError, match="already exists"):
            set_delta_constraint(spark, t, "pos_k", "k > 1")

    def test_drop_restores_writability(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        _mk(spark, t)
        set_delta_constraint(spark, t, "pos_k", "k > 0")
        drop_delta_constraint(spark, t, "pos_k")
        merge_delta_batch(
            spark, _kv(spark, [(-9, "neg", 1)]), t, "k", "ts"
        )
        got = sorted(r.k for r in read_delta(spark, t).collect())
        assert got == [-9, 1, 2]
        with pytest.raises(ValueError, match="does not exist"):
            drop_delta_constraint(spark, t, "pos_k")


class TestEnforcement:
    def test_merge_refuses_violating_rows(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        _mk(spark, t)
        set_delta_constraint(spark, t, "pos_k", "k > 0")
        before = replay_log(spark, t)["version"]
        with pytest.raises(ValueError, match="pos_k"):
            merge_delta_batch(
                spark, _kv(spark, [(3, "c", 1), (-1, "bad", 1)]),
                t, "k", "ts",
            )
        assert replay_log(spark, t)["version"] == before  # no commit
        merge_delta_batch(spark, _kv(spark, [(3, "c", 1)]), t, "k", "ts")
        assert sorted(r.k for r in read_delta(spark, t).collect()) == [
            1, 2, 3,
        ]

    def test_null_evaluation_violates(self, spark, tmp_path):
        # PROTOCOL.md: the expression must evaluate to TRUE — a null
        # result is a violation (stricter than SQL-standard CHECK)
        t = str(tmp_path / "tbl")
        _mk(spark, t)
        set_delta_constraint(spark, t, "has_v", "length(v) > 0")
        with pytest.raises(ValueError, match="has_v"):
            merge_delta_batch(
                spark, _kv(spark, [(7, None, 1)]), t, "k", "ts"
            )

    def test_append_writer_enforces(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        _mk(spark, t)
        set_delta_constraint(spark, t, "pos_k", "k > 0")
        with pytest.raises(ValueError, match="pos_k"):
            write_delta_commit(_kv(spark, [(-2, "bad", 1)]), t)
        write_delta_commit(_kv(spark, [(9, "ok", 1)]), t)
        assert 9 in {r.k for r in read_delta(spark, t).collect()}

    def test_multi_constraint_single_aggregate(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        _mk(spark, t)
        set_delta_constraint(spark, t, "pos_k", "k > 0")
        set_delta_constraint(spark, t, "k_bound", "k < 1000")
        with pytest.raises(ValueError, match="k_bound"):
            merge_delta_batch(
                spark, _kv(spark, [(5000, "big", 1)]), t, "k", "ts"
            )
        merge_delta_batch(spark, _kv(spark, [(500, "ok", 1)]), t, "k", "ts")
        assert 500 in {r.k for r in read_delta(spark, t).collect()}

    def test_external_table_with_constraint_honored(
        self, spark, tmp_path
    ):
        # a table whose constraint was written by ANOTHER writer (we
        # only read the config) still gates our merges — the writer
        # feature is honored, not just round-tripped
        t = str(tmp_path / "tbl")
        _mk(spark, t)
        log = os.path.join(t, "_delta_log")
        with open(os.path.join(log, "%020d.json" % 0)) as fh:
            meta = next(
                json.loads(ln)["metaData"]
                for ln in fh
                if '"metaData"' in ln
            )
        meta = dict(meta)
        meta["configuration"] = {"delta.constraints.ext": "ts >= 0"}
        with open(os.path.join(log, "%020d.json" % 1), "w") as fh:
            fh.write(json.dumps({"metaData": meta}) + "\n")
        with pytest.raises(ValueError, match="ext"):
            merge_delta_batch(
                spark, _kv(spark, [(4, "d", -3)]), t, "k", "ts"
            )


class TestSinkRider:
    def test_add_constraint_rider_then_violation(self, spark, tmp_path):
        from optimus_any2any_spark.config import Config
        from optimus_any2any_spark.pipeline import Pipeline

        t = str(tmp_path / "tbl")
        src = tmp_path / "in.json"
        src.write_text('{"k": 1, "v": "a", "ts": 0}\n')
        cfg = Config.from_env(
            env_args=[
                f"FILE__SOURCE_URI=file://{src}",
                f"DELTA__SINK_URI=file://{t}",
                "DELTA__ADD_CONSTRAINT=pos_k:k > 0",
            ],
            environ={},
        )
        Pipeline(spark, "FILE", ["DELTA"], cfg).run()
        src2 = tmp_path / "bad.json"
        src2.write_text('{"k": -1, "v": "bad", "ts": 1}\n')
        cfg2 = Config.from_env(
            env_args=[
                f"FILE__SOURCE_URI=file://{src2}",
                f"DELTA__SINK_URI=file://{t}",
            ],
            environ={},
        )
        with pytest.raises(Exception, match="pos_k"):
            Pipeline(spark, "FILE", ["DELTA"], cfg2).run()
