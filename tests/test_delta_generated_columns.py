"""Delta GENERATED columns (PROTOCOL.md "Generated Columns", the
generatedColumns writer feature / legacy minWriterVersion 4):
``delta.generationExpression`` field metadata declared at CREATE
TABLE; writers COMPUTE absent generated columns and refuse provided
values that diverge from the expression."""

from __future__ import annotations

import json
import os

import pytest

from optimus_any2any_spark.sources.delta import (
    generated_columns,
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


def _mk_gen(spark, t, partitioned=False):
    create_delta_table(
        spark, t,
        "k long, v string, ts long, day string",
        partition_by=["day"] if partitioned else None,
        generated={
            "day": "date_format(timestamp_seconds(ts), 'yyyy-MM-dd')"
        },
    )


class TestCreateTable:
    def test_metadata_and_protocol(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        _mk_gen(spark, t)
        state = replay_log(spark, t)
        assert state["protocol"]["minWriterVersion"] == 4
        gens = generated_columns(state["meta"])
        assert "day" in gens and "date_format" in gens["day"]
        # schema field metadata carries the expression verbatim
        fields = {
            f["name"]: f
            for f in json.loads(state["meta"]["schemaString"])["fields"]
        }
        assert (
            fields["day"]["metadata"]["delta.generationExpression"]
            == gens["day"]
        )

    def test_create_guards(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        _mk_gen(spark, t)
        with pytest.raises(ValueError, match="already exists"):
            _mk_gen(spark, t)
        with pytest.raises(ValueError, match="not in schema"):
            create_delta_table(
                spark, str(tmp_path / "t2"), "k long",
                generated={"zz": "k + 1"},
            )


class TestWriterEnforcement:
    def test_merge_computes_absent_generated(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        _mk_gen(spark, t)
        # the batch does NOT carry the generated column
        merge_delta_batch(
            spark, _kv(spark, [(1, "a", 0), (2, "b", 86400)]),
            t, "k", "ts",
        )
        got = sorted(
            (r.k, r.day) for r in read_delta(spark, t).collect()
        )
        assert got == [(1, "1970-01-01"), (2, "1970-01-02")]

    def test_merge_validates_provided_generated(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        _mk_gen(spark, t)
        good = spark.createDataFrame(
            [(1, "a", 0, "1970-01-01")],
            "k long, v string, ts long, day string",
        )
        merge_delta_batch(spark, good, t, "k", "ts")
        bad = spark.createDataFrame(
            [(2, "b", 0, "2999-12-31")],
            "k long, v string, ts long, day string",
        )
        before = replay_log(spark, t)["version"]
        with pytest.raises(ValueError, match="generated column 'day'"):
            merge_delta_batch(spark, bad, t, "k", "ts")
        assert replay_log(spark, t)["version"] == before

    def test_partition_on_generated_column(self, spark, tmp_path):
        # the classic shape: partition by a generated date — writers
        # compute it, so partition pruning never trusts the producer
        t = str(tmp_path / "tbl")
        _mk_gen(spark, t, partitioned=True)
        merge_delta_batch(
            spark, _kv(spark, [(1, "a", 0), (2, "b", 86400)]),
            t, "k", "ts",
        )
        state = replay_log(spark, t)
        pvs = {
            a["partitionValues"]["day"] for a in state["live"].values()
        }
        assert pvs == {"1970-01-01", "1970-01-02"}
        got = sorted(
            (r.k, r.day) for r in read_delta(spark, t).collect()
        )
        assert got == [(1, "1970-01-01"), (2, "1970-01-02")]

    def test_append_writer_computes_and_validates(
        self, spark, tmp_path
    ):
        t = str(tmp_path / "tbl")
        _mk_gen(spark, t)
        merge_delta_batch(spark, _kv(spark, [(1, "a", 0)]), t, "k", "ts")
        write_delta_commit(_kv(spark, [(5, "e", 86400)]), t)
        got = sorted(
            (r.k, r.day) for r in read_delta(spark, t).collect()
        )
        assert got == [(1, "1970-01-01"), (5, "1970-01-02")]
        bad = spark.createDataFrame(
            [(6, "f", 0, "wrong")],
            "k long, v string, ts long, day string",
        )
        with pytest.raises(ValueError, match="generated column"):
            write_delta_commit(bad, t)

    def test_constraints_compose_with_generated(self, spark, tmp_path):
        # constraints evaluate AFTER generation (they may reference
        # the generated column)
        t = str(tmp_path / "tbl")
        create_delta_table(
            spark, t, "k long, v string, ts long, k2 long",
            generated={"k2": "k * 2"},
            configuration={"delta.constraints.k2_pos": "k2 > 0"},
        )
        with pytest.raises(ValueError, match="k2_pos"):
            merge_delta_batch(
                spark, _kv(spark, [(-3, "neg", 0)]), t, "k", "ts"
            )
        merge_delta_batch(spark, _kv(spark, [(3, "ok", 0)]), t, "k", "ts")
        got = [(r.k, r.k2) for r in read_delta(spark, t).collect()]
        assert got == [(3, 6)]

    def test_append_inherits_table_partitioning(self, spark, tmp_path):
        # appends to a partitioned table land with the TABLE's
        # partitionValues even when the caller passes none
        t = str(tmp_path / "tbl")
        _mk_gen(spark, t, partitioned=True)
        write_delta_commit(_kv(spark, [(1, "a", 0), (2, "b", 86400)]), t)
        state = replay_log(spark, t)
        pvs = {
            a["partitionValues"].get("day")
            for a in state["live"].values()
        }
        assert pvs == {"1970-01-01", "1970-01-02"}
        with pytest.raises(ValueError, match="partition columns"):
            write_delta_commit(
                _kv(spark, [(3, "c", 0)]), t, partition_by=["v"]
            )
