"""Iceberg predicate DML: DELETE FROM t WHERE ... / UPDATE t SET ...
WHERE ... (streaming/iceberg_table.delete_iceberg_where /
update_iceberg_where) — merge-on-read: the delete commits positional
delete files (or v3 DVs) for the matched rows, the update adds ONE
snapshot of positional deletes + re-appended updated rows. No data
file is ever rewritten; partition migration falls out of the
delete+append shape."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from optimus_any2any_spark.sources.iceberg import (
    _snapshot_entries,
    load_table_metadata,
    read_iceberg,
)
from optimus_any2any_spark.streaming.iceberg_table import (
    delete_iceberg_keys,
    delete_iceberg_where,
    merge_iceberg_batch,
    update_iceberg_where,
    write_iceberg_commit,
)


def _mk(spark, t, rows=None, partition_by=None, per_file=1_000_000):
    rows = rows or [
        (1, "a", 10, 0), (2, "b", 20, 0), (3, "c", 30, 0),
        (4, "d", 40, 0),
    ]
    df = spark.createDataFrame(
        rows, "k long, name string, val long, ts long"
    )
    merge_iceberg_batch(
        spark, df, t, "k", "ts", batch_id=0,
        partition_by=partition_by, target_rows_per_file=per_file,
    )


def _rows(spark, t, **kw):
    return sorted(
        (r.k, r.name, r.val)
        for r in read_iceberg(spark, t, **kw).collect()
    )


def _entries(t):
    meta = load_table_metadata(t)
    return _snapshot_entries(t, meta)


def _cur_version(t):
    return int(
        open(os.path.join(t, "metadata", "version-hint.text"))
        .read()
        .strip()
    )


class TestDeleteWhere:
    def test_basic_delete(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        v0 = _cur_version(t)
        v = delete_iceberg_where(spark, t, "val >= 30")
        assert v == v0 + 1
        assert _rows(spark, t) == [(1, "a", 10), (2, "b", 20)]

    def test_no_data_file_rewritten(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        before, _, _ = _entries(t)
        delete_iceberg_where(spark, t, "val >= 30")
        after, pos, _ = _entries(t)
        # merge-on-read: the data files are untouched, a delete file
        # carrying exactly the matched row count appears
        assert sorted(d["orig"] for d in after) == sorted(
            d["orig"] for d in before
        )
        assert sum(int(d.get("record_count") or 0) for d in pos) == 2

    def test_no_match_is_a_noop(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        v0 = _cur_version(t)
        assert delete_iceberg_where(spark, t, "val > 1000") is None
        assert _cur_version(t) == v0  # no version burned

    def test_null_predicate_keeps_the_row(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t, rows=[(1, None, 10, 0), (2, "b", 20, 0)])
        delete_iceberg_where(spark, t, "name = 'b'")
        # name null → predicate null → row NOT deleted (SQL 3VL)
        assert _rows(spark, t) == [(1, None, 10)]

    def test_already_deleted_rows_not_relisted(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        delete_iceberg_keys(
            spark, t, "k",
            spark.createDataFrame([(3,)], "k long"),
        )
        # the predicate matches row 3 too — but it is already erased
        # by the equality delete, so the positional file must list
        # only the two still-live matches
        delete_iceberg_where(spark, t, "val >= 20")
        _, pos, _ = _entries(t)
        assert sum(int(d.get("record_count") or 0) for d in pos) == 2
        assert _rows(spark, t) == [(1, "a", 10)]

    def test_dv_variant(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        delete_iceberg_where(
            spark, t, "val >= 30", use_deletion_vectors=True
        )
        meta = load_table_metadata(t)
        assert int(meta["format-version"]) == 3
        _, pos, _ = _entries(t)
        assert any(d.get("dv") for d in pos)
        assert _rows(spark, t) == [(1, "a", 10), (2, "b", 20)]

    def test_predicate_in_summary(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        delete_iceberg_where(spark, t, "val >= 30")
        meta = load_table_metadata(t)
        snap = meta["snapshots"][-1]
        assert snap["summary"]["operation"] == "delete"
        assert snap["summary"]["predicate"] == "val >= 30"

    def test_time_travel_sees_pre_delete(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        meta0 = load_table_metadata(t)
        sid0 = meta0["current-snapshot-id"]
        delete_iceberg_where(spark, t, "val >= 30")
        assert len(_rows(spark, t, snapshot_id=sid0)) == 4

    def test_no_table_raises(self, spark, tmp_path):
        with pytest.raises(ValueError, match="no table"):
            delete_iceberg_where(
                spark, str(tmp_path / "missing"), "true"
            )


class TestUpdateWhere:
    def test_basic_update(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        v0 = _cur_version(t)
        v = update_iceberg_where(
            spark, t, {"val": "val * 2"}, where="k <= 2"
        )
        assert v == v0 + 1
        assert _rows(spark, t) == [
            (1, "a", 20), (2, "b", 40), (3, "c", 30), (4, "d", 40),
        ]

    def test_original_files_untouched(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        before, _, _ = _entries(t)
        update_iceberg_where(spark, t, {"val": "0"}, where="k = 1")
        after, pos, _ = _entries(t)
        # merge-on-read UPDATE: old files still listed, plus new
        # update files; matched rows positional-deleted
        assert set(d["orig"] for d in before) <= set(
            d["orig"] for d in after
        )
        assert any("-update" in d["orig"] for d in after)
        assert sum(int(d.get("record_count") or 0) for d in pos) == 1

    def test_no_where_updates_all(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        update_iceberg_where(spark, t, {"val": "val + 1"})
        assert [v for _, _, v in _rows(spark, t)] == [11, 21, 31, 41]

    def test_set_reads_pre_update_values(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t, rows=[(1, "a", 10, 7)])
        # swap val and ts: both assignments must see the OLD row
        update_iceberg_where(spark, t, {"val": "ts", "ts": "val"})
        r = read_iceberg(spark, t).collect()[0]
        assert (r.val, r.ts) == (7, 10)

    def test_no_match_is_a_noop(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        v0 = _cur_version(t)
        assert (
            update_iceberg_where(
                spark, t, {"val": "0"}, where="k > 100"
            )
            is None
        )
        assert _cur_version(t) == v0

    def test_unknown_column_raises(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        with pytest.raises(ValueError, match="unknown column"):
            update_iceberg_where(spark, t, {"nope": "1"})

    def test_empty_set_raises(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        with pytest.raises(ValueError, match="SET needs"):
            update_iceberg_where(spark, t, {})

    def test_null_predicate_keeps_row_unchanged(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t, rows=[(1, None, 10, 0), (2, "b", 20, 0)])
        update_iceberg_where(
            spark, t, {"val": "99"}, where="name = 'b'"
        )
        assert _rows(spark, t) == [(1, None, 10), (2, "b", 99)]

    def test_partitioned_update_same_partition(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(
            spark, t,
            rows=[
                (1, "a", 10, 0), (2, "a", 20, 0),
                (3, "b", 30, 0), (4, "b", 40, 0),
            ],
            partition_by=["name"],
        )
        update_iceberg_where(
            spark, t, {"val": "val + 5"}, where="name = 'a'"
        )
        assert _rows(spark, t) == [
            (1, "a", 15), (2, "a", 25), (3, "b", 30), (4, "b", 40),
        ]
        # the re-appended rows carry their partition tuple in the
        # manifest (data-skipping keeps working)
        data, _, _ = _entries(t)
        upd = [d for d in data if "-update" in d["orig"]]
        assert upd

    def test_partition_row_migration(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(
            spark, t,
            rows=[(1, "a", 10, 0), (2, "b", 20, 0)],
            partition_by=["name"],
        )
        # UPDATE assigns the partition SOURCE column: merge-on-read
        # migrates the row to its new partition natively (the Delta
        # CoW twin must refuse this)
        update_iceberg_where(
            spark, t, {"name": "'b'"}, where="k = 1"
        )
        assert _rows(spark, t) == [(1, "b", 10), (2, "b", 20)]

    def test_update_then_merge_composes(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        update_iceberg_where(
            spark, t, {"val": "val * 10"}, where="k = 2"
        )
        batch = spark.createDataFrame(
            [(2, "B", 999, 1), (5, "e", 50, 1)],
            "k long, name string, val long, ts long",
        )
        merge_iceberg_batch(spark, batch, t, "k", "ts", batch_id=1)
        assert _rows(spark, t) == [
            (1, "a", 10), (2, "B", 999), (3, "c", 30),
            (4, "d", 40), (5, "e", 50),
        ]

    def test_update_then_delete_where_composes(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        update_iceberg_where(
            spark, t, {"val": "val * 10"}, where="k <= 2"
        )
        # the predicate sees the UPDATED values (k=2 is 200 now)
        delete_iceberg_where(spark, t, "val >= 150")
        assert _rows(spark, t) == [
            (1, "a", 100), (3, "c", 30), (4, "d", 40),
        ]

    def test_summary_records_predicate_and_columns(
        self, spark, tmp_path
    ):
        t = str(tmp_path / "t")
        _mk(spark, t)
        update_iceberg_where(
            spark, t, {"val": "0"}, where="k = 1"
        )
        snap = load_table_metadata(t)["snapshots"][-1]
        assert snap["summary"]["operation"] == "overwrite"
        assert snap["summary"]["predicate"] == "k = 1"
        assert json.loads(snap["summary"]["updated-columns"]) == ["val"]

    def test_dv_variant(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        update_iceberg_where(
            spark, t, {"val": "val + 1"}, where="k = 1",
            use_deletion_vectors=True,
        )
        assert int(load_table_metadata(t)["format-version"]) == 3
        assert _rows(spark, t) == [
            (1, "a", 11), (2, "b", 20), (3, "c", 30), (4, "d", 40),
        ]

    def test_time_travel_sees_pre_update(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        sid0 = load_table_metadata(t)["current-snapshot-id"]
        update_iceberg_where(spark, t, {"val": "0"})
        assert _rows(spark, t, snapshot_id=sid0) == [
            (1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40),
        ]


class TestDeleteSourceMix:
    def test_update_where_over_dv_deleted_file(self, spark, tmp_path):
        # a v3 DV already erases rows of the touched file; the UPDATE
        # must not resurrect them, must not re-delete them, and its
        # parquet positional deletes must coexist with the DV on read
        t = str(tmp_path / "t")
        _mk(spark, t)
        delete_iceberg_keys(
            spark, t, "k",
            spark.createDataFrame([(3,)], "k long"),
        )
        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_positions,
        )

        delete_iceberg_positions(
            spark, t, "k", spark.createDataFrame([(4,)], "k long"),
            use_deletion_vectors=True,
        )
        update_iceberg_where(
            spark, t, {"val": "val * 100"}, where="k <= 2"
        )
        assert _rows(spark, t) == [(1, "a", 1000), (2, "b", 2000)]


class TestSinkRiders:
    def _run(self, spark, tmp_path, t, extra):
        from optimus_any2any_spark.config import Config
        from optimus_any2any_spark.pipeline import Pipeline

        src = tmp_path / "trigger.json"
        src.write_text('{"k": 0}\n')
        cfg = Config.from_env(
            env_args=[
                f"FILE__SOURCE_URI=file://{src}",
                f"ICEBERG__SINK_URI=file://{t}",
            ]
            + extra,
            environ={},
        )
        Pipeline(spark, "FILE", ["ICEBERG"], cfg).run()

    def test_delete_where_rider(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        _mk(spark, t)
        self._run(
            spark, tmp_path, t,
            ["ICEBERG__MODE=DELETE_WHERE",
             "ICEBERG__PREDICATE=val >= 30"],
        )
        assert _rows(spark, t) == [(1, "a", 10), (2, "b", 20)]

    def test_delete_where_rider_needs_predicate(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        _mk(spark, t)
        with pytest.raises(ValueError, match="ICEBERG__PREDICATE"):
            self._run(spark, tmp_path, t, ["ICEBERG__MODE=DELETE_WHERE"])

    def test_update_where_rider(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        _mk(spark, t)
        self._run(
            spark, tmp_path, t,
            ["ICEBERG__MODE=UPDATE_WHERE",
             'ICEBERG__SET={"val": "val + 1"}',
             "ICEBERG__PREDICATE=k <= 2"],
        )
        assert _rows(spark, t) == [
            (1, "a", 11), (2, "b", 21), (3, "c", 30), (4, "d", 40),
        ]

    def test_update_where_rider_needs_set(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        _mk(spark, t)
        with pytest.raises(ValueError, match="ICEBERG__SET"):
            self._run(spark, tmp_path, t, ["ICEBERG__MODE=UPDATE_WHERE"])
