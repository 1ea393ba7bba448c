"""Iceberg v2 row-level deletes on the snapshot-read path
(sources/iceberg.py): positional and equality delete files apply as
sequence-gated anti-joins (merge-on-read); a row re-inserted AFTER a
delete stays alive; the append-tail surfaces still reject deletes."""

from __future__ import annotations

import json
import os

import pytest

from optimus_any2any_spark.sources.iceberg import (
    _snapshot_entries,
    load_table_metadata,
    read_iceberg,
    read_iceberg_appends,
)
from optimus_any2any_spark.streaming.iceberg_table import (
    write_iceberg_commit,
    write_iceberg_delete_commit,
)


def _rows(spark, vals):
    return spark.createDataFrame(vals, "k long, v string")


def _snap(spark, t):
    return sorted((r.k, r.v) for r in read_iceberg(spark, t).collect())


def _data_paths(t):
    meta = load_table_metadata(t)
    data, _pos, _eq = _snapshot_entries(t, meta)
    return sorted(d["orig"] for d in data)


class TestPositionalDeletes:
    def test_rows_removed_by_file_and_position(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        write_iceberg_commit(
            _rows(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1), t
        )
        (path,) = _data_paths(t)
        # delete row positions 0 and 2 of the single (sorted-write)
        # data file
        write_iceberg_delete_commit(
            spark, t, pos_deletes=[(path, 0), (path, 2)]
        )
        kept = read_iceberg(spark, t).collect()
        assert len(kept) == 1

    def test_delete_only_targets_named_file(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a")]).coalesce(1), t)
        write_iceberg_commit(_rows(spark, [(2, "b")]).coalesce(1), t)
        p1, p2 = _data_paths(t)
        write_iceberg_delete_commit(spark, t, pos_deletes=[(p1, 0)])
        kept = {(r.k, r.v) for r in read_iceberg(spark, t).collect()}
        assert len(kept) == 1  # only the named file's row 0 went

    def test_reinsert_after_delete_survives(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "old")]).coalesce(1), t)
        (path,) = _data_paths(t)
        write_iceberg_delete_commit(spark, t, pos_deletes=[(path, 0)])
        # append AFTER the delete: higher sequence number, must live
        write_iceberg_commit(_rows(spark, [(1, "new")]).coalesce(1), t)
        assert _snap(spark, t) == [(1, "new")]
        # the delete snapshot continues the parent chain, so the
        # changelog walks every snapshot
        from optimus_any2any_spark.sources.iceberg import (
            iceberg_main_chain,
            read_iceberg_changes,
        )

        meta = load_table_metadata(t)
        assert [s.get("parent-snapshot-id") for s in meta["snapshots"]] == [
            None, 1, 2
        ]
        assert [s["snapshot-id"] for s in iceberg_main_chain(meta)] == [
            1, 2, 3
        ]
        got = sorted(
            (r._change_type, r.v)
            for r in read_iceberg_changes(spark, t).collect()
        )
        assert got == [("DELETE", "old"), ("INSERT", "new"), ("INSERT", "old")]

    def test_time_travel_before_delete_sees_rows(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        write_iceberg_commit(
            _rows(spark, [(1, "a"), (2, "b")]).coalesce(1), t
        )
        (path,) = _data_paths(t)
        write_iceberg_delete_commit(spark, t, pos_deletes=[(path, 0)])
        assert len(read_iceberg(spark, t).collect()) == 1
        assert len(read_iceberg(spark, t, snapshot_id=1).collect()) == 2


class TestEqualityDeletes:
    def test_matching_rows_removed(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        write_iceberg_commit(
            _rows(spark, [(1, "a"), (2, "b"), (3, "a")]).coalesce(1), t
        )
        write_iceberg_delete_commit(
            spark, t, eq_deletes=(["v"], [("a",)])
        )
        assert _snap(spark, t) == [(2, "b")]

    def test_multi_column_equality(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        write_iceberg_commit(
            _rows(spark, [(1, "a"), (1, "b"), (2, "a")]).coalesce(1), t
        )
        write_iceberg_delete_commit(
            spark, t, eq_deletes=(["k", "v"], [(1, "a")])
        )
        assert _snap(spark, t) == [(1, "b"), (2, "a")]

    def test_equality_reinsert_survives(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(5, "x")]).coalesce(1), t)
        write_iceberg_delete_commit(
            spark, t, eq_deletes=(["k"], [(5,)])
        )
        write_iceberg_commit(_rows(spark, [(5, "back")]).coalesce(1), t)
        assert _snap(spark, t) == [(5, "back")]

    def test_both_kinds_in_one_commit(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        write_iceberg_commit(
            _rows(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1), t
        )
        (path,) = _data_paths(t)
        write_iceberg_delete_commit(
            spark, t,
            pos_deletes=[(path, 0)],
            eq_deletes=(["v"], [("c",)]),
        )
        assert _snap(spark, t) == [(2, "b")]


class TestAppendPreservesV2Metadata:
    def test_append_after_delete_keeps_format_and_sequence(
        self, spark, tmp_path
    ):
        # ADVICE r6: an append after a row-level delete must NOT
        # downgrade the table to format-version 1 or drop the
        # sequence chain — external readers would resurrect rows
        t = str(tmp_path / "tbl")
        write_iceberg_commit(
            _rows(spark, [(1, "a"), (2, "b")]).coalesce(1), t
        )
        write_iceberg_delete_commit(
            spark, t, eq_deletes=(["k"], [(1,)])
        )
        write_iceberg_commit(_rows(spark, [(9, "z")]).coalesce(1), t)
        meta = load_table_metadata(t)
        assert int(meta["format-version"]) == 2
        snaps = {s["snapshot-id"]: s for s in meta["snapshots"]}
        cur = snaps[meta["current-snapshot-id"]]
        assert cur["sequence-number"] == meta["last-sequence-number"]
        # the append outranks the delete snapshot's sequence number
        delete_seq = next(
            s["sequence-number"]
            for s in meta["snapshots"]
            if s.get("summary", {}).get("operation") == "delete"
        )
        assert cur["sequence-number"] > delete_seq
        assert _snap(spark, t) == [(2, "b"), (9, "z")]


class TestAppendSurfacesStillReject:
    def test_appends_reader_rejects_delete_manifests(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a")]).coalesce(1), t)
        (path,) = _data_paths(t)
        write_iceberg_delete_commit(spark, t, pos_deletes=[(path, 0)])
        with pytest.raises((NotImplementedError, ValueError)):
            read_iceberg_appends(spark, t, None, 2).collect()


class TestEqualityDeleteWriter:
    """delete_iceberg_keys: one distributed equality-delete file per
    commit, no data file read or rewritten, seq-gated so later appends
    with the same keys survive."""

    def test_rows_gone_files_untouched(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_keys,
        )

        t = str(tmp_path / "tbl")
        write_iceberg_commit(
            _rows(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1), t
        )
        before = {
            p: os.path.getmtime(
                os.path.join(t, p)
            )
            for p in _data_paths(t)
        }
        delete_iceberg_keys(
            spark, t, "k", spark.createDataFrame([(2,)], "k long")
        )
        assert _snap(spark, t) == [(1, "a"), (3, "c")]
        for p, mt in before.items():
            assert os.path.getmtime(os.path.join(t, p)) == mt

    def test_later_append_with_same_key_survives(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_keys,
        )

        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(5, "old")]).coalesce(1), t)
        delete_iceberg_keys(
            spark, t, "k", spark.createDataFrame([(5,)], "k long")
        )
        write_iceberg_commit(_rows(spark, [(5, "new")]).coalesce(1), t)
        assert _snap(spark, t) == [(5, "new")]

    def test_idempotent_by_batch_id(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_keys,
        )

        t = str(tmp_path / "tbl")
        write_iceberg_commit(
            _rows(spark, [(1, "a"), (2, "b")]).coalesce(1), t
        )
        v1 = delete_iceberg_keys(
            spark, t, "k", spark.createDataFrame([(1,)], "k long"),
            batch_id=7,
        )
        v2 = delete_iceberg_keys(
            spark, t, "k", spark.createDataFrame([(2,)], "k long"),
            batch_id=7,  # redelivery: must be a no-op
        )
        assert v2 == v1
        assert _snap(spark, t) == [(2, "b")]

    def test_empty_key_set_is_noop(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_keys,
        )

        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a")]).coalesce(1), t)
        v = delete_iceberg_keys(
            spark, t, "k",
            spark.createDataFrame([], "k long"),
        )
        assert v == 1
        assert _snap(spark, t) == [(1, "a")]

    def test_merge_composes_with_equality_deletes(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_keys,
            merge_iceberg_batch,
        )

        t = str(tmp_path / "tbl")
        write_iceberg_commit(
            spark.createDataFrame(
                [(1, "a", 0), (2, "b", 0)], "k long, v string, ts long"
            ).coalesce(1),
            t,
        )
        delete_iceberg_keys(
            spark, t, "k", spark.createDataFrame([(1,)], "k long")
        )
        # the merge rewrites the file both keys share: the deleted
        # row must NOT resurrect, the upsert must land
        merge_iceberg_batch(
            spark,
            spark.createDataFrame(
                [(2, "B", 1), (3, "c", 1)], "k long, v string, ts long"
            ),
            t, "k", "ts",
        )
        assert sorted(
            (r.k, r.v) for r in read_iceberg(spark, t).collect()
        ) == [(2, "B"), (3, "c")]
        # a re-insert of the deleted key via merge outranks the delete
        merge_iceberg_batch(
            spark,
            spark.createDataFrame(
                [(1, "back", 2)], "k long, v string, ts long"
            ),
            t, "k", "ts",
        )
        assert sorted(
            (r.k, r.v) for r in read_iceberg(spark, t).collect()
        ) == [(1, "back"), (2, "B"), (3, "c")]


class TestMergeOverDeletedTables:
    """Copy-on-write MERGE over tables carrying delete manifests
    (VERDICT r5 item 6): affected files read with deletes applied,
    rewrites outrank consumed deletes, survivor entries keep their
    ORIGINAL data-sequence numbers so carried deletes still gate
    them."""

    def _kv(self, spark, rows):
        return spark.createDataFrame(rows, "k long, v string, ts long")

    def test_survivor_entries_keep_original_sequence(
        self, spark, tmp_path
    ):
        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_keys,
            merge_iceberg_batch,
        )

        t = str(tmp_path / "tbl")
        # one merge commit → ONE manifest holding two files with
        # disjoint key ranges
        merge_iceberg_batch(
            spark,
            self._kv(spark, [(k, f"v{k}", 0) for k in range(1, 9)]),
            t, "k", "ts", target_rows_per_file=4,
        )
        # equality-delete a key that lives in the HIGH-range file
        delete_iceberg_keys(
            spark, t, "k", spark.createDataFrame([(8,)], "k long")
        )
        # merge touches only the LOW range: the high-range file is a
        # survivor re-listed under the new manifest — if it inherited
        # the NEW sequence, k=8 would resurrect
        merge_iceberg_batch(
            spark, self._kv(spark, [(1, "A", 1)]), t, "k", "ts"
        )
        got = sorted(
            (r.k, r.v) for r in read_iceberg(spark, t).collect()
        )
        assert (8, "v8") not in got
        assert (1, "A") in got and (7, "v7") in got
        assert len(got) == 7  # keys 1..7, the deleted 8 stays gone

    def test_positional_delete_not_resurrected_by_rewrite(
        self, spark, tmp_path
    ):
        from optimus_any2any_spark.streaming.iceberg_table import (
            merge_iceberg_batch,
        )

        t = str(tmp_path / "tbl")
        write_iceberg_commit(
            spark.createDataFrame(
                [(1, "a", 0), (2, "b", 0)], "k long, v string, ts long"
            ).coalesce(1).orderBy("k"),
            t,
        )
        # positional delete of row 0 (k=1) in the single data file
        (path,) = _data_paths(t)
        write_iceberg_delete_commit(spark, t, pos_deletes=[(path, 0)])
        # merge upserting k=2 rewrites that same file — with the
        # positional delete applied during the read
        merge_iceberg_batch(
            spark,
            spark.createDataFrame(
                [(2, "B", 1)], "k long, v string, ts long"
            ),
            t, "k", "ts",
        )
        assert sorted(
            (r.k, r.v) for r in read_iceberg(spark, t).collect()
        ) == [(2, "B")]

    def test_delete_then_merge_then_delete_again(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_keys,
            merge_iceberg_batch,
        )

        t = str(tmp_path / "tbl")
        merge_iceberg_batch(
            spark,
            self._kv(spark, [(k, f"v{k}", 0) for k in range(1, 5)]),
            t, "k", "ts",
        )
        delete_iceberg_keys(
            spark, t, "k", spark.createDataFrame([(1,)], "k long")
        )
        merge_iceberg_batch(
            spark, self._kv(spark, [(2, "B", 1)]), t, "k", "ts"
        )
        delete_iceberg_keys(
            spark, t, "k", spark.createDataFrame([(3,)], "k long")
        )
        assert sorted(
            (r.k, r.v) for r in read_iceberg(spark, t).collect()
        ) == [(2, "B"), (4, "v4")]

    def test_full_rewrite_merge_retires_delete_manifest(
        self, spark, tmp_path
    ):
        from optimus_any2any_spark.formats.avrobin import read_container
        from optimus_any2any_spark.sources.iceberg import _localize
        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_keys,
            merge_iceberg_batch,
        )

        t = str(tmp_path / "tbl")
        merge_iceberg_batch(
            spark, self._kv(spark, [(1, "a", 0), (2, "b", 0)]),
            t, "k", "ts",
        )
        delete_iceberg_keys(
            spark, t, "k", spark.createDataFrame([(1,)], "k long")
        )
        # this merge rewrites the only data file → the delete can
        # never apply again and its manifest must NOT carry forward
        merge_iceberg_batch(
            spark, self._kv(spark, [(2, "B", 1)]), t, "k", "ts"
        )
        meta = load_table_metadata(t)
        snap = next(
            s for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        _, manifests = read_container(_localize(t, snap["manifest-list"]))
        assert all(int(m.get("content") or 0) == 0 for m in manifests)
        assert sorted(
            (r.k, r.v) for r in read_iceberg(spark, t).collect()
        ) == [(2, "B")]


class TestPositionalDeleteWriter:
    """delete_iceberg_positions (VERDICT r7 item 2): merge-on-read
    DELETE that WRITES a positional delete file — the Iceberg twin of
    the Delta DV delete."""

    def _mk(self, spark, t, rows):
        write_iceberg_commit(_rows(spark, rows).coalesce(1), t)

    def test_delete_by_key_removes_rows(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_positions,
        )

        t = str(tmp_path / "tbl")
        self._mk(spark, t, [(1, "a"), (2, "b"), (3, "c")])
        v = delete_iceberg_positions(
            spark, t, "k", spark.createDataFrame([(2,), (3,)], "k long")
        )
        assert v == 2
        assert _snap(spark, t) == [(1, "a")]
        # no data file was rewritten
        assert _data_paths(t) == _data_paths(t)
        meta = load_table_metadata(t)
        data, pos, eq = _snapshot_entries(t, meta)
        assert len(pos) == 1 and not eq
        assert len(data) == 1  # original data file untouched

    def test_delete_file_sorted_and_manifest_paths(self, spark, tmp_path):
        import pyarrow.parquet as pq

        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_positions,
        )

        t = str(tmp_path / "tbl")
        self._mk(spark, t, [(1, "a"), (2, "b")])
        self._mk(spark, t, [(3, "c"), (4, "d")])
        delete_iceberg_positions(
            spark, t, "k",
            spark.createDataFrame([(2,), (3,), (4,)], "k long"),
        )
        meta = load_table_metadata(t)
        _d, pos, _e = _snapshot_entries(t, meta)
        tbl = pq.read_table(pos[0]["path"])
        rows = list(
            zip(tbl.column("file_path").to_pylist(),
                tbl.column("pos").to_pylist())
        )
        assert rows == sorted(rows)  # spec sort: file_path, then pos
        assert set(r[0] for r in rows) <= set(_data_paths(t))
        assert _snap(spark, t) == [(1, "a")]

    def test_already_deleted_rows_not_relisted(self, spark, tmp_path):
        import pyarrow.parquet as pq

        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_positions,
        )

        t = str(tmp_path / "tbl")
        self._mk(spark, t, [(1, "a"), (2, "b"), (3, "c")])
        delete_iceberg_positions(
            spark, t, "k", spark.createDataFrame([(2,)], "k long")
        )
        delete_iceberg_positions(
            spark, t, "k", spark.createDataFrame([(2,), (3,)], "k long")
        )
        meta = load_table_metadata(t)
        _d, pos, _e = _snapshot_entries(t, meta)
        assert len(pos) == 2
        newest = max(pos, key=lambda d: d["seq"])
        tbl = pq.read_table(newest["path"])
        # the second delete re-reads through the first: only key 3's
        # position is listed
        assert len(tbl) == 1
        assert _snap(spark, t) == [(1, "a")]

    def test_noop_delete_burns_no_version(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_positions,
        )

        t = str(tmp_path / "tbl")
        self._mk(spark, t, [(1, "a")])
        v0 = int(open(os.path.join(t, "metadata",
                                   "version-hint.text")).read())
        v = delete_iceberg_positions(
            spark, t, "k", spark.createDataFrame([(99,)], "k long")
        )
        assert v == v0
        assert _snap(spark, t) == [(1, "a")]

    def test_reinsert_after_positional_delete_survives(
        self, spark, tmp_path
    ):
        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_positions,
        )

        t = str(tmp_path / "tbl")
        self._mk(spark, t, [(7, "old")])
        delete_iceberg_positions(
            spark, t, "k", spark.createDataFrame([(7,)], "k long")
        )
        self._mk(spark, t, [(7, "new")])
        assert _snap(spark, t) == [(7, "new")]

    def test_compaction_consumes_positional_deletes(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.iceberg_table import (
            compact_iceberg,
            delete_iceberg_positions,
        )

        t = str(tmp_path / "tbl")
        self._mk(spark, t, [(1, "a"), (2, "b")])
        self._mk(spark, t, [(3, "c"), (4, "d")])
        delete_iceberg_positions(
            spark, t, "k", spark.createDataFrame([(2,), (3,)], "k long")
        )
        compact_iceberg(spark, t)
        assert _snap(spark, t) == [(1, "a"), (4, "d")]
        meta = load_table_metadata(t)
        _d, pos, eq = _snapshot_entries(t, meta)
        assert not pos and not eq  # delete manifests retired

    def test_merge_after_positional_delete(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_positions,
            merge_iceberg_batch,
        )

        t = str(tmp_path / "tbl")
        write_iceberg_commit(
            spark.createDataFrame(
                [(1, "a", 0), (2, "b", 0), (3, "c", 0)],
                "k long, v string, ts long",
            ).coalesce(1),
            t,
        )
        delete_iceberg_positions(
            spark, t, "k", spark.createDataFrame([(2,)], "k long")
        )
        merge_iceberg_batch(
            spark,
            spark.createDataFrame(
                [(3, "C", 1), (9, "z", 1)], "k long, v string, ts long"
            ),
            t, "k", "ts",
        )
        got = sorted(
            (r.k, r.v) for r in read_iceberg(spark, t).collect()
        )
        assert got == [(1, "a"), (3, "C"), (9, "z")]

    def test_idempotent_redelivery(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_positions,
        )

        t = str(tmp_path / "tbl")
        self._mk(spark, t, [(1, "a"), (2, "b")])
        v1 = delete_iceberg_positions(
            spark, t, "k", spark.createDataFrame([(2,)], "k long"),
            batch_id=5,
        )
        v2 = delete_iceberg_positions(
            spark, t, "k", spark.createDataFrame([(1,)], "k long"),
            batch_id=5,
        )
        assert v2 == v1  # redelivered batch: no-op
        assert _snap(spark, t) == [(1, "a")]

    def test_mass_delete_range_splits_files(
        self, spark, tmp_path, monkeypatch
    ):
        # VERDICT r8 item 7: past _MAX_DELETE_FILE_ROWS the writer
        # emits one spec-sorted delete file per file_path range
        # instead of funnelling every position through coalesce(1);
        # reader and compaction consume all of them
        import pyarrow.parquet as pq

        from optimus_any2any_spark.streaming import iceberg_table
        from optimus_any2any_spark.streaming.iceberg_table import (
            compact_iceberg,
            delete_iceberg_positions,
        )

        monkeypatch.setattr(
            iceberg_table, "_MAX_DELETE_FILE_ROWS", 10
        )
        t = str(tmp_path / "tbl")
        rows = [(i, f"v{i}") for i in range(100)]
        # two data files so file_path ranges have something to split
        self._mk(spark, t, rows[:50])
        self._mk(spark, t, rows[50:])
        dels = spark.createDataFrame(
            [(i,) for i in range(100) if i % 2 == 0], "k long"
        )
        delete_iceberg_positions(spark, t, "k", dels)
        meta = load_table_metadata(t)
        _d, pos, _e = _snapshot_entries(t, meta)
        assert len(pos) >= 5  # 50 positions / 10-row bound
        # each delete file is spec-sorted within itself
        for entry in pos:
            tbl = pq.read_table(entry["path"])
            prs = list(
                zip(tbl.column("file_path").to_pylist(),
                    tbl.column("pos").to_pylist())
            )
            assert prs == sorted(prs)
        got = sorted(r.k for r in read_iceberg(spark, t).collect())
        assert got == [i for i in range(100) if i % 2 == 1]
        # compaction retires ALL the split delete files
        compact_iceberg(spark, t, target_rows_per_file=1000)
        meta = load_table_metadata(t)
        _d, pos, _e = _snapshot_entries(t, meta)
        assert not pos
        got = sorted(r.k for r in read_iceberg(spark, t).collect())
        assert got == [i for i in range(100) if i % 2 == 1]

    def test_mass_key_erasure_range_splits_eq_files(
        self, spark, tmp_path, monkeypatch
    ):
        # VERDICT r9 item 4: the equality-delete writer gets the same
        # treatment as the positional one — past _MAX_DELETE_FILE_ROWS
        # distinct keys, one spec-legal content=2 file per key range
        # instead of funnelling every key through coalesce(1). The
        # anti-join reader consumes all of them.
        import pyarrow.parquet as pq

        from optimus_any2any_spark.streaming import iceberg_table
        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_keys,
        )

        monkeypatch.setattr(
            iceberg_table, "_MAX_DELETE_FILE_ROWS", 10
        )
        t = str(tmp_path / "tbl")
        rows = [(i, f"v{i}") for i in range(100)]
        self._mk(spark, t, rows)
        dels = spark.createDataFrame(
            [(i,) for i in range(100) if i % 2 == 0], "k long"
        )
        delete_iceberg_keys(spark, t, "k", dels)
        meta = load_table_metadata(t)
        _d, _pos, eq = _snapshot_entries(t, meta)
        assert len(eq) >= 5  # 50 keys / 10-row bound
        seen: list[int] = []
        for entry in eq:
            assert entry["equality_ids"]
            ks = pq.read_table(entry["path"]).column("k").to_pylist()
            assert ks == sorted(ks)  # sorted within each file
            seen += ks
        assert sorted(seen) == [i for i in range(100) if i % 2 == 0]
        got = sorted(r.k for r in read_iceberg(spark, t).collect())
        assert got == [i for i in range(100) if i % 2 == 1]

    def test_v3_tagged_table_not_downgraded_by_delete(
        self, spark, tmp_path
    ):
        # ADVICE r8: a readable v3-tagged table (v2 features only)
        # keeps format-version 3 through BOTH delete writers
        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_keys,
            delete_iceberg_positions,
        )

        t = str(tmp_path / "tbl")
        self._mk(spark, t, [(1, "a"), (2, "b"), (3, "c")])
        hint = os.path.join(t, "metadata", "version-hint.text")
        md = os.path.join(
            t, "metadata",
            "v%d.metadata.json" % int(open(hint).read()),
        )
        meta = json.loads(open(md).read())
        meta["format-version"] = 3
        with open(md, "w") as f:
            f.write(json.dumps(meta))
        delete_iceberg_positions(
            spark, t, "k", spark.createDataFrame([(2,)], "k long")
        )
        meta = load_table_metadata(t)
        assert int(meta["format-version"]) == 3
        delete_iceberg_keys(
            spark, t, "k", spark.createDataFrame([(3,)], "k long")
        )
        meta = load_table_metadata(t)
        assert int(meta["format-version"]) == 3
        assert _snap(spark, t) == [(1, "a")]


class TestPuffinDeletionVectors:
    """Iceberg v3 deletion-vector READ (VERDICT r8 item 9): Puffin
    blobs decode through formats/puffin.py and apply as the same
    seq-gated anti-join as positional delete rows; merge and
    compaction compose; unknown blob types refuse by name."""

    def _mk(self, spark, t, rows):
        write_iceberg_commit(_rows(spark, rows).coalesce(1), t)

    def test_dv_rows_removed(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        self._mk(spark, t, [(1, "a"), (2, "b"), (3, "c")])
        f0 = _data_paths(t)[0]
        write_iceberg_delete_commit(
            spark, t, dv_deletes={f0: [0, 2]}
        )
        meta = load_table_metadata(t)
        assert int(meta["format-version"]) == 3
        assert _snap(spark, t) == [(2, "b")]

    def test_dv_per_referenced_file(self, spark, tmp_path):
        # one blob per referenced file in ONE puffin file; each
        # vector only erases its own file's positions
        t = str(tmp_path / "tbl")
        self._mk(spark, t, [(1, "a"), (2, "b")])
        self._mk(spark, t, [(3, "c"), (4, "d")])
        f0, f1 = sorted(_data_paths(t))
        write_iceberg_delete_commit(
            spark, t, dv_deletes={f0: [0], f1: [1]}
        )
        assert _snap(spark, t) == [(2, "b"), (3, "c")]

    def test_reinsert_after_dv_survives(self, spark, tmp_path):
        # a row re-inserted AFTER the DV commit lives in a new file
        # the vector does not reference
        t = str(tmp_path / "tbl")
        self._mk(spark, t, [(1, "a"), (2, "b")])
        f0 = _data_paths(t)[0]
        write_iceberg_delete_commit(spark, t, dv_deletes={f0: [1]})
        self._mk(spark, t, [(2, "b2")])
        assert _snap(spark, t) == [(1, "a"), (2, "b2")]

    def test_merge_over_dv_table(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.iceberg_table import (
            merge_iceberg_batch,
        )

        t = str(tmp_path / "tbl")
        write_iceberg_commit(
            spark.createDataFrame(
                [(1, "a", 0), (2, "b", 0), (3, "c", 0)],
                "k long, v string, ts long",
            ).coalesce(1),
            t,
        )
        f0 = _data_paths(t)[0]
        write_iceberg_delete_commit(spark, t, dv_deletes={f0: [1]})
        merge_iceberg_batch(
            spark,
            spark.createDataFrame(
                [(3, "c2", 1), (9, "z", 1)], "k long, v string, ts long"
            ),
            t, "k", "ts",
        )
        got = sorted(
            (r.k, r.v) for r in read_iceberg(spark, t).collect()
        )
        # k=2 stays deleted (the merge read applied the DV and did not
        # resurrect it in the rewrite); k=3 updated; k=9 inserted
        assert got == [(1, "a"), (3, "c2"), (9, "z")]

    def test_compaction_consumes_dv(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.iceberg_table import (
            compact_iceberg,
        )

        t = str(tmp_path / "tbl")
        self._mk(spark, t, [(1, "a"), (2, "b")])
        self._mk(spark, t, [(3, "c"), (4, "d")])
        f0 = sorted(_data_paths(t))[0]
        write_iceberg_delete_commit(spark, t, dv_deletes={f0: [0]})
        compact_iceberg(spark, t, target_rows_per_file=1000)
        meta = load_table_metadata(t)
        _d, pos, _e = _snapshot_entries(t, meta)
        assert not pos  # the DV manifest retired with the rewrite
        assert _snap(spark, t) == [(2, "b"), (3, "c"), (4, "d")]

    def test_unknown_puffin_blob_type_refuses(self, spark, tmp_path):
        from optimus_any2any_spark.formats.puffin import write_puffin

        t = str(tmp_path / "tbl")
        self._mk(spark, t, [(1, "a")])
        f0 = _data_paths(t)[0]
        write_iceberg_delete_commit(spark, t, dv_deletes={f0: [0]})
        # rewrite the puffin file with a non-DV blob type at the same
        # offset the manifest references
        import glob as g

        puf = g.glob(os.path.join(t, "data", "*.puffin"))[0]
        write_puffin(
            puf,
            [(b"\x00" * 32, {"type": "apache-datasketches-theta-v1",
                             "fields": [1]})],
        )
        with pytest.raises(NotImplementedError, match="blob type"):
            _snapshot_entries(t, load_table_metadata(t))

    def test_dv_expire_removes_puffin_file(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.iceberg_table import (
            expire_iceberg_snapshots,
        )

        t = str(tmp_path / "tbl")
        self._mk(spark, t, [(1, "a"), (2, "b")])
        self._mk(spark, t, [(3, "c"), (4, "d")])
        f0 = sorted(_data_paths(t))[0]
        write_iceberg_delete_commit(spark, t, dv_deletes={f0: [0]})
        # compact away the DV (needs >=2 undersized files), then
        # expire history: the puffin file is only referenced by
        # expired snapshots and must be reclaimed
        from optimus_any2any_spark.streaming.iceberg_table import (
            compact_iceberg,
        )

        assert compact_iceberg(
            spark, t, target_rows_per_file=1000
        ) is not None
        gone = expire_iceberg_snapshots(spark, t, keep_last=1)
        assert any(p.endswith(".puffin") for p in gone)
        assert _snap(spark, t) == [(2, "b"), (3, "c"), (4, "d")]


class TestPuffinContainer:
    def test_roundtrip_footer_and_blob(self, tmp_path):
        from optimus_any2any_spark.formats.puffin import (
            dv_puffin_blob,
            dv_puffin_blob_decode,
            read_puffin_blob,
            read_puffin_footer,
            write_puffin,
        )

        p = str(tmp_path / "x.puffin")
        b1 = dv_puffin_blob([5, 70000, 2**33 + 7])
        b2 = dv_puffin_blob(list(range(100)))
        rows = write_puffin(
            p,
            [
                (b1, {"type": "deletion-vector-v1", "fields": []}),
                (b2, {"type": "deletion-vector-v1", "fields": []}),
            ],
        )
        footer = read_puffin_footer(p)
        assert [b["offset"] for b in footer["blobs"]] == [
            r["offset"] for r in rows
        ]
        got1 = dv_puffin_blob_decode(
            read_puffin_blob(p, rows[0]["offset"], rows[0]["length"])
        )
        assert got1 == [5, 70000, 2**33 + 7]
        got2 = dv_puffin_blob_decode(
            read_puffin_blob(p, rows[1]["offset"], rows[1]["length"])
        )
        assert got2 == list(range(100))

    def test_delta_magic_accepted_crc_gated(self):
        import struct
        import zlib

        from optimus_any2any_spark.formats.puffin import (
            DV_MAGIC_DELTA,
            dv_puffin_blob_decode,
        )
        from optimus_any2any_spark.formats.roaring import (
            serialize_rbm_array,
        )

        vec = DV_MAGIC_DELTA + serialize_rbm_array([1, 2, 3])
        blob = (
            struct.pack(">i", len(vec))
            + vec
            + struct.pack(">I", zlib.crc32(vec) & 0xFFFFFFFF)
        )
        assert dv_puffin_blob_decode(blob) == [1, 2, 3]
        # corrupt one byte: the CRC must catch it
        bad = bytearray(blob)
        bad[10] ^= 0xFF
        with pytest.raises(ValueError, match="checksum|magic|roaring"):
            dv_puffin_blob_decode(bytes(bad))

    def test_compressed_footer_refused(self, tmp_path):
        from optimus_any2any_spark.formats.puffin import (
            MAGIC,
            read_puffin_footer,
            write_puffin,
        )

        p = str(tmp_path / "x.puffin")
        write_puffin(p, [(b"abc", {"type": "deletion-vector-v1"})])
        raw = bytearray(open(p, "rb").read())
        raw[-8] |= 0x01  # set the footer-compressed flag bit
        open(p, "wb").write(bytes(raw))
        with pytest.raises(NotImplementedError, match="LZ4"):
            read_puffin_footer(p)
        assert MAGIC == b"PFA1"


class TestPosDeleteBoundsPruning:
    def test_delete_read_scans_only_bound_matching_files(
        self, spark, tmp_path, monkeypatch
    ):
        # VERDICT r8 item 7: the DELETE's internal read must be
        # bounds-pruned — only data files whose Appendix-D
        # lower/upper bounds can hold a deleted key are scanned
        import optimus_any2any_spark.sources.iceberg as srcice
        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_positions,
            merge_iceberg_batch,
        )

        t = str(tmp_path / "tbl")
        # one merge, small target → multiple files range-split by k,
        # each with recorded key bounds
        merge_iceberg_batch(
            spark,
            spark.createDataFrame(
                [(i, f"v{i}", 0) for i in range(300)],
                "k long, v string, ts long",
            ),
            t, "k", "ts", target_rows_per_file=50,
        )
        meta = srcice.load_table_metadata(t)
        data, _p, _e = srcice._snapshot_entries(t, meta)
        assert len(data) >= 4  # the fixture actually split

        seen = {}
        orig = srcice.read_entries_with_deletes

        def spy(spark_, meta_, schema_, data_, pos_, eq_, **kw):
            seen["n_data"] = len(data_)
            return orig(spark_, meta_, schema_, data_, pos_, eq_, **kw)

        monkeypatch.setattr(
            srcice, "read_entries_with_deletes", spy
        )
        delete_iceberg_positions(
            spark, t, "k",
            spark.createDataFrame([(5,), (7,)], "k long"),
        )
        assert seen["n_data"] < len(data)  # pruned, not the table
        assert seen["n_data"] >= 1
        got = sorted(r.k for r in read_iceberg(spark, t).collect())
        assert got == [i for i in range(300) if i not in (5, 7)]


class TestDVDeleteWriter:
    """delete_iceberg_positions(use_deletion_vectors=True): the
    engine WRITES format-v3 Puffin deletion vectors — the true twin
    of the Delta DV delete; its own reader, merge, and compaction
    consume them."""

    def _mk(self, spark, t, rows):
        write_iceberg_commit(_rows(spark, rows).coalesce(1), t)

    def test_dv_delete_roundtrip(self, spark, tmp_path):
        import glob as g

        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_positions,
        )

        t = str(tmp_path / "tbl")
        self._mk(spark, t, [(1, "a"), (2, "b"), (3, "c")])
        delete_iceberg_positions(
            spark, t, "k", spark.createDataFrame([(2,), (3,)], "k long"),
            use_deletion_vectors=True,
        )
        meta = load_table_metadata(t)
        assert int(meta["format-version"]) == 3
        assert g.glob(os.path.join(t, "data", "*.puffin"))
        assert _snap(spark, t) == [(1, "a")]
        # the manifest entry carries the v3 reference triple
        _d, pos, _e = _snapshot_entries(t, meta)
        assert len(pos) == 1 and pos[0].get("dv")

    def test_dv_delete_one_blob_per_file(self, spark, tmp_path):
        from optimus_any2any_spark.formats.puffin import (
            read_puffin_footer,
        )
        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_positions,
        )

        t = str(tmp_path / "tbl")
        self._mk(spark, t, [(1, "a"), (2, "b")])
        self._mk(spark, t, [(3, "c"), (4, "d")])
        delete_iceberg_positions(
            spark, t, "k",
            spark.createDataFrame([(1,), (4,)], "k long"),
            use_deletion_vectors=True,
        )
        import glob as g

        puf = g.glob(os.path.join(t, "data", "*.puffin"))[0]
        footer = read_puffin_footer(puf)
        assert len(footer["blobs"]) == 2  # one per referenced file
        refs = {
            b["properties"]["referenced-data-file"]
            for b in footer["blobs"]
        }
        assert refs == set(_data_paths(t))
        assert _snap(spark, t) == [(2, "b"), (3, "c")]

    def test_second_dv_delete_reads_through_first(
        self, spark, tmp_path
    ):
        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_positions,
        )

        t = str(tmp_path / "tbl")
        self._mk(spark, t, [(1, "a"), (2, "b"), (3, "c")])
        delete_iceberg_positions(
            spark, t, "k", spark.createDataFrame([(2,)], "k long"),
            use_deletion_vectors=True,
        )
        delete_iceberg_positions(
            spark, t, "k", spark.createDataFrame([(2,), (3,)], "k long"),
            use_deletion_vectors=True,
        )
        meta = load_table_metadata(t)
        _d, pos, _e = _snapshot_entries(t, meta)
        # the second DV only lists key 3's position (2 never re-listed)
        newest = max(pos, key=lambda d: d["seq"])
        from optimus_any2any_spark.formats.puffin import (
            dv_puffin_blob_decode,
            read_puffin_blob,
        )

        blob = read_puffin_blob(
            newest["path"], newest["dv"]["offset"], newest["dv"]["size"]
        )
        assert len(dv_puffin_blob_decode(blob)) == 1
        assert _snap(spark, t) == [(1, "a")]

    def test_dv_delete_then_merge_and_compact(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.iceberg_table import (
            compact_iceberg,
            delete_iceberg_positions,
            merge_iceberg_batch,
        )

        t = str(tmp_path / "tbl")
        write_iceberg_commit(
            spark.createDataFrame(
                [(1, "a", 0), (2, "b", 0)], "k long, v string, ts long"
            ).coalesce(1),
            t,
        )
        write_iceberg_commit(
            spark.createDataFrame(
                [(3, "c", 0), (4, "d", 0)], "k long, v string, ts long"
            ).coalesce(1),
            t,
        )
        delete_iceberg_positions(
            spark, t, "k", spark.createDataFrame([(2,)], "k long"),
            use_deletion_vectors=True,
        )
        merge_iceberg_batch(
            spark,
            spark.createDataFrame(
                [(9, "z", 1)], "k long, v string, ts long"
            ),
            t, "k", "ts",
        )
        got = sorted(
            (r.k, r.v) for r in read_iceberg(spark, t).collect()
        )
        assert got == [(1, "a"), (3, "c"), (4, "d"), (9, "z")]
        compact_iceberg(spark, t, target_rows_per_file=1000)
        meta = load_table_metadata(t)
        _d, pos, _e = _snapshot_entries(t, meta)
        assert not pos  # DV retired by the rewrite
        got = sorted(
            (r.k, r.v) for r in read_iceberg(spark, t).collect()
        )
        assert got == [(1, "a"), (3, "c"), (4, "d"), (9, "z")]

    def test_use_dv_sink_rider(self, spark, tmp_path):
        import glob as g

        from optimus_any2any_spark.config import Config
        from optimus_any2any_spark.pipeline import Pipeline

        t = str(tmp_path / "tbl")
        self._mk(spark, t, [(1, "a"), (2, "b")])
        src = tmp_path / "del.json"
        src.write_text('{"k": 2}\n')
        cfg = Config.from_env(
            env_args=[
                f"FILE__SOURCE_URI=file://{src}",
                f"ICEBERG__SINK_URI=file://{t}",
                "ICEBERG__MODE=DELETE_POS",
                "ICEBERG__MERGE_KEY=k",
                "ICEBERG__USE_DV=true",
            ],
            environ={},
        )
        Pipeline(spark, "FILE", ["ICEBERG"], cfg).run()
        assert g.glob(os.path.join(t, "data", "*.puffin"))
        assert _snap(spark, t) == [(1, "a")]


class TestGlobalDeleteSpecId:
    """Delete files here carry an EMPTY partition record — per the
    spec that is only legal under an UNPARTITIONED spec, so on a
    partitioned table the delete writers append one to
    partition-specs and stamp ITS id, never the partitioned default
    (spec rule: global deletes use an unpartitioned spec)."""

    def test_partitioned_table_gets_unpartitioned_spec(
        self, spark, tmp_path
    ):
        from optimus_any2any_spark.formats.avrobin import read_container
        from optimus_any2any_spark.sources.iceberg import _localize
        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_keys,
            merge_iceberg_batch,
        )

        t = str(tmp_path / "t")
        base = spark.createDataFrame(
            [(1, "p1", 0), (2, "p2", 0), (3, "p1", 0)],
            "k long, pt string, ts long",
        )
        merge_iceberg_batch(
            spark, base, t, "k", "ts", batch_id=0, partition_by=["pt"]
        )
        delete_iceberg_keys(
            spark, t, "k", spark.createDataFrame([(2,)], "k long")
        )
        meta = load_table_metadata(t)
        unpart = [
            s["spec-id"]
            for s in meta["partition-specs"]
            if not (s.get("fields") or [])
        ]
        assert unpart, meta["partition-specs"]
        snap = next(
            s for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        _, ml = read_container(
            _localize(t, snap["manifest-list"])
        )
        del_rows = [m for m in ml if int(m.get("content") or 0) == 1]
        assert del_rows
        assert all(
            m["partition_spec_id"] == unpart[0] for m in del_rows
        )
        # default spec unchanged; reads still correct
        assert meta["default-spec-id"] == 0
        got = sorted(r.k for r in read_iceberg(spark, t).collect())
        assert got == [1, 3]

    def test_unpartitioned_table_keeps_spec_zero(self, spark, tmp_path):
        from optimus_any2any_spark.formats.avrobin import read_container
        from optimus_any2any_spark.sources.iceberg import _localize
        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_positions,
            merge_iceberg_batch,
        )

        t = str(tmp_path / "t")
        base = spark.createDataFrame(
            [(1, 0), (2, 0)], "k long, ts long"
        )
        merge_iceberg_batch(spark, base, t, "k", "ts", batch_id=0)
        delete_iceberg_positions(
            spark, t, "k", spark.createDataFrame([(1,)], "k long")
        )
        meta = load_table_metadata(t)
        snap = next(
            s for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        _, ml = read_container(_localize(t, snap["manifest-list"]))
        del_rows = [m for m in ml if int(m.get("content") or 0) == 1]
        assert del_rows
        assert all(m["partition_spec_id"] == 0 for m in del_rows)
        assert [s["spec-id"] for s in meta["partition-specs"]] == [0]
