"""rewrite_manifests (Iceberg manifest compaction): the current
snapshot's data manifests merge into one per spec — driver metadata
work only; entries re-list EXISTING with explicit original sequence
numbers (still gated by older delete files) and preserved lineage;
the replace snapshot emits nothing to the changelog/streams."""

from __future__ import annotations

import pytest

from optimus_any2any_spark.formats.avrobin import read_container
from optimus_any2any_spark.sources.iceberg import (
    _localize,
    load_table_metadata,
    read_iceberg,
    read_iceberg_changes,
)
from optimus_any2any_spark.streaming.iceberg_table import (
    delete_iceberg_keys,
    merge_iceberg_batch,
    rewrite_iceberg_manifests,
    write_iceberg_commit,
)


def _rows(spark, vals):
    return spark.createDataFrame(vals, "id long, v string")


def _data_manifests(t):
    meta = load_table_metadata(t)
    cur = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, ml = read_container(_localize(t, cur["manifest-list"]))
    return [m for m in ml if int(m.get("content") or 0) == 0]


class TestRewriteManifests:
    def test_merges_to_one_and_reads_identical(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        for i in range(4):
            write_iceberg_commit(
                _rows(spark, [(i * 2, f"v{i*2}"), (i * 2 + 1, f"v{i*2+1}")]),
                t,
            )
        assert len(_data_manifests(t)) == 4
        before = sorted(
            (r.id, r.v) for r in read_iceberg(spark, t).collect()
        )
        v = rewrite_iceberg_manifests(spark, t)
        assert v is not None
        assert len(_data_manifests(t)) == 1
        got = sorted(
            (r.id, r.v) for r in read_iceberg(spark, t).collect()
        )
        assert got == before
        # idempotent-ish: one manifest left → nothing to do
        assert rewrite_iceberg_manifests(spark, t) is None

    def test_delete_gating_survives_rewrite(self, spark, tmp_path):
        """Explicit original sequences keep the seq-gate exact: an
        eq-delete committed BETWEEN two appends must keep applying to
        the first append's rows and never to the second's, before and
        after the manifest rewrite."""
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "old"), (2, "old")]), t)
        delete_iceberg_keys(
            spark, t, "id", spark.createDataFrame([(1,)], "id long")
        )
        write_iceberg_commit(_rows(spark, [(1, "new")]), t)  # re-insert
        before = sorted(
            (r.id, r.v) for r in read_iceberg(spark, t).collect()
        )
        assert before == [(1, "new"), (2, "old")]
        assert rewrite_iceberg_manifests(spark, t) is not None
        got = sorted(
            (r.id, r.v) for r in read_iceberg(spark, t).collect()
        )
        assert got == before

    def test_changelog_and_history_unaffected(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a")]), t)
        write_iceberg_commit(_rows(spark, [(2, "b")]), t)
        ch_before = sorted(
            (r._change_type, r.id)
            for r in read_iceberg_changes(spark, t).collect()
        )
        rewrite_iceberg_manifests(spark, t)
        ch_after = sorted(
            (r._change_type, r.id)
            for r in read_iceberg_changes(spark, t).collect()
        )
        assert ch_after == ch_before  # the replace snapshot is silent
        # time travel to the pre-rewrite snapshot still works
        meta = load_table_metadata(t)
        prev_sid = meta["snapshots"][-2]["snapshot-id"]
        assert read_iceberg(
            spark, t, snapshot_id=prev_sid
        ).count() == 2

    def test_lineage_ids_survive(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        df1 = (
            spark.createDataFrame(
                [(1, "a", 0), (2, "b", 0)], "k long, v string, ts long"
            ).repartitionByRange(1, "k").sortWithinPartitions("k")
        )
        write_iceberg_commit(df1, t, row_lineage=True)
        df2 = (
            spark.createDataFrame(
                [(3, "c", 0)], "k long, v string, ts long"
            ).repartitionByRange(1, "k")
        )
        write_iceberg_commit(df2, t)
        before = sorted(
            (r.k, r._row_id)
            for r in read_iceberg(spark, t, row_lineage=True).collect()
        )
        rewrite_iceberg_manifests(spark, t)
        got = sorted(
            (r.k, r._row_id)
            for r in read_iceberg(spark, t, row_lineage=True).collect()
        )
        assert got == before == [(1, 0), (2, 1), (3, 2)]

    def test_partitioned_merge_manifests(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        for b in range(3):
            merge_iceberg_batch(
                spark,
                spark.createDataFrame(
                    [(b * 10 + i, float(i), b * 10 + i, 0)
                     for i in range(4)],
                    "k long, price double, bucketsrc long, ts long",
                ),
                t, "k", "ts", batch_id=b,
                partition_by=["bucket(2, bucketsrc)"],
            )
        n0 = len(_data_manifests(t))
        assert n0 >= 2
        before = sorted(
            r.k for r in read_iceberg(spark, t).collect()
        )
        rewrite_iceberg_manifests(spark, t)
        assert len(_data_manifests(t)) == 1
        assert sorted(
            r.k for r in read_iceberg(spark, t).collect()
        ) == before
