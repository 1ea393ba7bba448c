"""Iceberg changelog scan (sources/iceberg.read_iceberg_changes):
per-snapshot row-level changes derived from the MANIFEST DIFF — the
Iceberg twin of Delta CDF, with Iceberg's create_changelog_view
column contract (_change_type INSERT/DELETE, _change_ordinal,
_commit_snapshot_id). Appends read only added files; MoR deletes
evaluate only the new delete files against the prior state;
copy-on-write rewrites NET both sides so carried rows cancel;
compaction emits nothing."""

from __future__ import annotations

import pytest

from optimus_any2any_spark.sources.iceberg import (
    load_table_metadata,
    read_iceberg_changes,
)
from optimus_any2any_spark.streaming.iceberg_table import (
    compact_iceberg,
    delete_iceberg_keys,
    delete_iceberg_positions,
    delete_iceberg_where,
    merge_iceberg_batch,
    rollback_iceberg,
    update_iceberg_where,
    write_iceberg_commit,
)


def _df(spark, vals):
    return spark.createDataFrame(vals, "k long, v string, ts long")


def _changes(spark, t, **kw):
    return sorted(
        (r._change_ordinal, r._change_type, r.k, r.v)
        for r in read_iceberg_changes(spark, t, **kw).collect()
    )


def _sid(t):
    return load_table_metadata(t)["current-snapshot-id"]


class TestAppendChanges:
    def test_appends_are_inserts(self, spark, tmp_path):
        t = str(tmp_path / "t")
        write_iceberg_commit(_df(spark, [(1, "a", 0)]), t)
        write_iceberg_commit(_df(spark, [(2, "b", 0)]), t)
        assert _changes(spark, t) == [
            (0, "INSERT", 1, "a"),
            (1, "INSERT", 2, "b"),
        ]

    def test_window_selection(self, spark, tmp_path):
        t = str(tmp_path / "t")
        write_iceberg_commit(_df(spark, [(1, "a", 0)]), t)
        sid1 = _sid(t)
        write_iceberg_commit(_df(spark, [(2, "b", 0)]), t)
        sid2 = _sid(t)
        write_iceberg_commit(_df(spark, [(3, "c", 0)]), t)
        got = _changes(
            spark, t, from_snapshot_id=sid1, to_snapshot_id=sid2
        )
        assert got == [(0, "INSERT", 2, "b")]

    def test_commit_snapshot_id_column(self, spark, tmp_path):
        t = str(tmp_path / "t")
        write_iceberg_commit(_df(spark, [(1, "a", 0)]), t)
        rows = read_iceberg_changes(spark, t).collect()
        assert {r._commit_snapshot_id for r in rows} == {_sid(t)}

    def test_unknown_snapshot_raises(self, spark, tmp_path):
        t = str(tmp_path / "t")
        write_iceberg_commit(_df(spark, [(1, "a", 0)]), t)
        with pytest.raises(ValueError, match="not in table metadata"):
            read_iceberg_changes(spark, t, to_snapshot_id=999)


class TestDeleteChanges:
    def test_eq_delete_emits_deletes(self, spark, tmp_path):
        t = str(tmp_path / "t")
        merge_iceberg_batch(
            spark, _df(spark, [(1, "a", 0), (2, "b", 0)]), t, "k", "ts"
        )
        delete_iceberg_keys(
            spark, t, "k", spark.createDataFrame([(1,)], "k long")
        )
        got = _changes(spark, t)
        assert (len(got), got[-1][1:]) == (3, ("DELETE", 1, "a"))

    def test_pos_delete_where_emits_deletes(self, spark, tmp_path):
        t = str(tmp_path / "t")
        merge_iceberg_batch(
            spark, _df(spark, [(1, "a", 0), (2, "b", 0)]), t, "k", "ts"
        )
        delete_iceberg_where(spark, t, "k = 2")
        assert _changes(spark, t)[-1] == (2, "DELETE", 2, "b")

    def test_dv_delete_emits_deletes(self, spark, tmp_path):
        t = str(tmp_path / "t")
        merge_iceberg_batch(
            spark, _df(spark, [(1, "a", 0), (2, "b", 0)]), t, "k", "ts"
        )
        delete_iceberg_positions(
            spark, t, "k", spark.createDataFrame([(2,)], "k long"),
            use_deletion_vectors=True,
        )
        assert _changes(spark, t)[-1] == (2, "DELETE", 2, "b")

    def test_already_deleted_rows_never_rereport(self, spark, tmp_path):
        t = str(tmp_path / "t")
        merge_iceberg_batch(
            spark, _df(spark, [(1, "a", 0), (2, "b", 0)]), t, "k", "ts"
        )
        delete_iceberg_keys(
            spark, t, "k", spark.createDataFrame([(1,)], "k long")
        )
        # second delete matches BOTH keys, but row 1 is already dead —
        # its changelog DELETE must appear exactly once (ordinal 2)
        delete_iceberg_where(spark, t, "k <= 2")
        got = _changes(spark, t)
        dels = [g for g in got if g[1] == "DELETE"]
        assert dels == [
            (2, "DELETE", 1, "a"),
            (3, "DELETE", 2, "b"),
        ]


class TestRewriteChanges:
    def test_cow_merge_nets_carried_rows(self, spark, tmp_path):
        t = str(tmp_path / "t")
        merge_iceberg_batch(
            spark,
            _df(spark, [(1, "a", 0), (2, "b", 0), (3, "c", 0)]),
            t, "k", "ts", batch_id=0,
        )
        # rewrite: update k=2, carry 1 and 3 unchanged in the same file
        merge_iceberg_batch(
            spark, _df(spark, [(2, "B", 1)]), t, "k", "ts", batch_id=1
        )
        got = _changes(spark, t)
        tail = [g for g in got if g[0] >= 2]
        # carried rows (1,a) and (3,c) cancel; only the real update
        # survives as DELETE pre-image + INSERT post-image
        assert tail == [
            (2, "DELETE", 2, "b"),
            (2, "INSERT", 2, "B"),
        ]

    def test_update_where_emits_pre_and_post(self, spark, tmp_path):
        t = str(tmp_path / "t")
        merge_iceberg_batch(
            spark, _df(spark, [(1, "a", 0), (2, "b", 0)]), t, "k", "ts"
        )
        update_iceberg_where(spark, t, {"v": "'B'"}, where="k = 2")
        tail = [g for g in _changes(spark, t) if g[0] >= 2]
        assert tail == [
            (2, "DELETE", 2, "b"),
            (2, "INSERT", 2, "B"),
        ]

    def test_compaction_emits_nothing(self, spark, tmp_path):
        t = str(tmp_path / "t")
        merge_iceberg_batch(
            spark, _df(spark, [(1, "a", 0), (2, "b", 0)]), t, "k", "ts"
        )
        delete_iceberg_keys(
            spark, t, "k", spark.createDataFrame([(1,)], "k long")
        )
        n_before = len(_changes(spark, t))
        compact_iceberg(spark, t, target_rows_per_file=1000)
        # the replace snapshot adds no changelog rows
        assert len(_changes(spark, t)) == n_before

    def test_rollback_reports_net_reversal(self, spark, tmp_path):
        t = str(tmp_path / "t")
        merge_iceberg_batch(
            spark, _df(spark, [(1, "a", 0)]), t, "k", "ts", batch_id=0
        )
        good = _sid(t)
        merge_iceberg_batch(
            spark, _df(spark, [(2, "b", 1)]), t, "k", "ts", batch_id=1
        )
        rollback_iceberg(spark, t, good)
        tail = [g for g in _changes(spark, t) if g[0] >= 3]
        # the rollback undoes the (2,b) insert
        assert tail == [(3, "DELETE", 2, "b")]

    def test_empty_window_returns_typed_empty(self, spark, tmp_path):
        t = str(tmp_path / "t")
        write_iceberg_commit(_df(spark, [(1, "a", 0)]), t)
        sid = _sid(t)
        df = read_iceberg_changes(
            spark, t, from_snapshot_id=sid, to_snapshot_id=sid
        )
        assert df.count() == 0
        assert "_change_type" in df.columns


class TestLineageComposition:
    def test_changelog_over_row_lineage_table(self, spark, tmp_path):
        # lineage tables' rewritten files carry materialized lineage
        # columns — the changelog's schema-bound reads ignore them,
        # and the net step still cancels carried rows by value
        from optimus_any2any_spark.streaming.iceberg_table import (
            update_iceberg_where,
        )

        t = str(tmp_path / "t")
        write_iceberg_commit(
            _df(spark, [(1, "a", 0), (2, "b", 0)])
            .repartitionByRange(1, "k")
            .sortWithinPartitions("k"),
            t,
            row_lineage=True,
        )
        merge_iceberg_batch(
            spark, _df(spark, [(2, "B", 1)]), t, "k", "ts", batch_id=0
        )
        update_iceberg_where(spark, t, {"v": "'C'"}, where="k = 1")
        got = _changes(spark, t)
        tail = [g for g in got if g[0] >= 1]
        assert tail == [
            (1, "DELETE", 2, "b"),
            (1, "INSERT", 2, "B"),
            (2, "DELETE", 1, "a"),
            (2, "INSERT", 1, "C"),
        ]


class TestSourceRider:
    def test_changes_source(self, spark, tmp_path):
        from optimus_any2any_spark.config import Config
        from optimus_any2any_spark.sources.builders import (
            iceberg_source,
        )

        t = str(tmp_path / "t")
        merge_iceberg_batch(
            spark, _df(spark, [(1, "a", 0), (2, "b", 0)]), t, "k", "ts"
        )
        delete_iceberg_where(spark, t, "k = 1")
        cfg = Config.from_env(
            env_args=[
                f"ICEBERG__SOURCE_URI=file://{t}",
                "ICEBERG__CHANGES=true",
            ],
            environ={},
        )
        got = sorted(
            (r._change_type, r.k)
            for r in iceberg_source(spark, cfg).collect()
        )
        assert got == [
            ("DELETE", 1), ("INSERT", 1), ("INSERT", 2),
        ]


class TestScaleShape:
    def test_eq_delete_changelog_io_is_o_touched_files(
        self, spark, tmp_path
    ):
        """VERDICT r10 item 2: an equality-delete snapshot's changelog
        window must read only the data files the keys can touch
        (bounds-pruned against the delete files' footer key ranges),
        never every surviving prior file."""
        t = str(tmp_path / "t")
        # six merge commits with DISJOINT key ranges -> six data files
        # whose manifest entries carry k bounds
        for i in range(6):
            merge_iceberg_batch(
                spark,
                _df(
                    spark,
                    [(i * 10 + j, f"v{i}", 0) for j in range(5)],
                ),
                t,
                "k",
                "ts",
            )
        sid_before = _sid(t)
        delete_iceberg_keys(
            spark, t, "k", spark.createDataFrame([(12,)], "k long")
        )
        df = read_iceberg_changes(
            spark, t, from_snapshot_id=sid_before
        )
        got = sorted(
            (r._change_type, r.k, r.v) for r in df.collect()
        )
        assert got == [("DELETE", 12, "v1")]
        data_files = [
            f
            for f in df.inputFiles()
            if "delete" not in f.rsplit("/", 1)[-1]
        ]
        # only the one file whose k bounds cover 12 — not all six
        assert len(data_files) == 1, data_files

    def test_long_history_window_stays_plannable(
        self, spark, tmp_path
    ):
        """VERDICT r10 item 3: a >=32-snapshot window cuts lineage
        every K pieces (localCheckpoint) instead of building one
        giant union/exceptAll chain; result stays exact."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = str(tmp_path / "t")
        # 33 one-row append snapshots, registered as files written by
        # pyarrow (add_files: no Spark job per snapshot)
        empty = _df(spark, [])
        for i in range(33):
            p = str(tmp_path / f"f{i:02d}.parquet")
            pq.write_table(
                pa.table({"k": [i], "v": [f"v{i}"], "ts": [0]}), p
            )
            write_iceberg_commit(empty, t, add_files=[p])
        delete_iceberg_keys(
            spark, t, "k", spark.createDataFrame([(7,)], "k long")
        )
        got = _changes(spark, t)
        assert len(got) == 34  # 33 inserts + 1 delete
        assert (got[-1][1], got[-1][2]) == ("DELETE", 7)
        ords = {o for o, *_ in got}
        assert ords == set(range(34))
