"""Delta IDENTITY columns (PROTOCOL.md "Identity Columns", the
identityColumns writer feature / legacy minWriterVersion 6):
``delta.identity.{start,step,highWaterMark,allowExplicitInsert}``
field metadata; writers assign values from the high watermark via the
distributed record-index sequence and re-state the advanced watermark
in the SAME commit."""

from __future__ import annotations

import json

import pytest

from optimus_any2any_spark.sources.delta import (
    identity_columns,
    read_delta,
    replay_log,
)
from optimus_any2any_spark.streaming.delta_table import (
    create_delta_table,
    merge_delta_batch,
    write_delta_commit,
)


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, ts long")


def _mk(spark, t, start=1, step=1, allow_explicit=False):
    create_delta_table(
        spark, t,
        "id long, k long, v string, ts long",
        identity={
            "id": {
                "start": start,
                "step": step,
                "allow_explicit": allow_explicit,
            }
        },
    )


def _hwm(spark, t):
    return identity_columns(replay_log(spark, t)["meta"])["id"][
        "high_water_mark"
    ]


class TestAssignment:
    def test_merge_assigns_sequence_and_advances_watermark(
        self, spark, tmp_path
    ):
        t = str(tmp_path / "tbl")
        _mk(spark, t)
        merge_delta_batch(
            spark, _kv(spark, [(10, "a", 0), (20, "b", 0), (30, "c", 0)]),
            t, "k", "ts",
        )
        ids = sorted(r.id for r in read_delta(spark, t).collect())
        assert ids == [1, 2, 3]
        assert _hwm(spark, t) == 3
        # the next batch continues from the watermark
        merge_delta_batch(
            spark, _kv(spark, [(40, "d", 0), (50, "e", 0)]), t, "k", "ts"
        )
        ids = sorted(r.id for r in read_delta(spark, t).collect())
        assert ids == [1, 2, 3, 4, 5]
        assert _hwm(spark, t) == 5

    def test_start_and_step(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        _mk(spark, t, start=100, step=10)
        merge_delta_batch(
            spark, _kv(spark, [(1, "a", 0), (2, "b", 0)]), t, "k", "ts"
        )
        ids = sorted(r.id for r in read_delta(spark, t).collect())
        assert ids == [100, 110]
        assert _hwm(spark, t) == 110

    def test_append_writer_assigns_too(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        _mk(spark, t)
        merge_delta_batch(spark, _kv(spark, [(1, "a", 0)]), t, "k", "ts")
        write_delta_commit(_kv(spark, [(2, "b", 0), (3, "c", 0)]), t)
        ids = sorted(r.id for r in read_delta(spark, t).collect())
        assert ids == [1, 2, 3]
        assert _hwm(spark, t) == 3

    def test_generated_always_refuses_explicit(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        _mk(spark, t)
        explicit = spark.createDataFrame(
            [(99, 1, "a", 0)], "id long, k long, v string, ts long"
        )
        with pytest.raises(ValueError, match="GENERATED ALWAYS"):
            merge_delta_batch(spark, explicit, t, "k", "ts")

    def test_by_default_accepts_explicit_and_advances(
        self, spark, tmp_path
    ):
        # GENERATED BY DEFAULT: explicit values accepted, watermark
        # advances past them so later assignments never collide
        t = str(tmp_path / "tbl")
        _mk(spark, t, allow_explicit=True)
        explicit = spark.createDataFrame(
            [(50, 1, "a", 0)], "id long, k long, v string, ts long"
        )
        merge_delta_batch(spark, explicit, t, "k", "ts")
        assert _hwm(spark, t) == 50
        merge_delta_batch(spark, _kv(spark, [(2, "b", 0)]), t, "k", "ts")
        ids = sorted(r.id for r in read_delta(spark, t).collect())
        assert ids == [50, 51]

    def test_watermark_restated_in_same_commit(self, spark, tmp_path):
        import os

        t = str(tmp_path / "tbl")
        _mk(spark, t)
        merge_delta_batch(spark, _kv(spark, [(1, "a", 0)]), t, "k", "ts")
        # version 1 (the merge) must carry BOTH the adds and the
        # watermark-bearing metaData — not a separate commit
        log = os.path.join(t, "_delta_log")
        acts = [
            json.loads(ln)
            for ln in open(os.path.join(log, "%020d.json" % 1))
            if ln.strip()
        ]
        kinds = {next(iter(a)) for a in acts}
        assert "add" in kinds and "metaData" in kinds
        # commitInfo provenance rides every engine commit now
        assert "commitInfo" in kinds
        meta = next(a["metaData"] for a in acts if "metaData" in a)
        f = next(
            x
            for x in json.loads(meta["schemaString"])["fields"]
            if x["name"] == "id"
        )
        assert f["metadata"]["delta.identity.highWaterMark"] == 1

    def test_create_guards(self, spark, tmp_path):
        with pytest.raises(ValueError, match="BIGINT"):
            create_delta_table(
                spark, str(tmp_path / "t1"), "id string, k long",
                identity={"id": {}},
            )
        with pytest.raises(ValueError, match="both"):
            create_delta_table(
                spark, str(tmp_path / "t2"), "id long, k long",
                identity={"id": {}}, generated={"id": "k"},
            )
        t3 = str(tmp_path / "t3")
        create_delta_table(
            spark, t3, "id long, k long, ts long", identity={"id": {}}
        )
        assert replay_log(spark, t3)["protocol"]["minWriterVersion"] == 6
