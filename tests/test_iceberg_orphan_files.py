"""remove_orphan_files (VERDICT r12 item 6): sweep files under the
table location that NO metadata version references — crashed writes,
abandoned staging — with a grace period and dry-run mode. Live files
(any snapshot, any branch, any retained metadata version) and foreign
(outside-location) files are never touched — the add_files
discipline."""

from __future__ import annotations

import glob
import os
import time

import pytest

from optimus_any2any_spark.sources.iceberg import (
    add_iceberg_files,
    read_iceberg,
)
from optimus_any2any_spark.streaming.iceberg_table import (
    delete_iceberg_keys,
    merge_iceberg_batch,
    remove_iceberg_orphan_files,
    write_iceberg_commit,
)


def _rows(spark, vals):
    return spark.createDataFrame(vals, "id long, v string, ts long")


def _age(path, seconds=4 * 86400):
    old = time.time() - seconds
    os.utime(path, (old, old))


def _plant_orphans(t):
    d1 = os.path.join(t, "data", "orphan-crashed-write.parquet")
    d2 = os.path.join(t, "metadata", "orphan-manifest.avro")
    tmpd = os.path.join(t, "_tmp-ice-v99")
    os.makedirs(tmpd, exist_ok=True)
    d3 = os.path.join(tmpd, "part-00000-dead.parquet")
    for p in (d1, d2, d3):
        with open(p, "wb") as f:
            f.write(b"junk")
        _age(p)
    return [d1, d2, d3]


class TestRemoveOrphanFiles:
    def test_live_files_never_touched(self, spark, tmp_path):
        """A table with history (delete + merge, older metadata
        versions still on disk) yields ZERO orphans — every byte the
        metadata can reach survives, and reads are identical."""
        t = str(tmp_path / "tbl")
        write_iceberg_commit(
            _rows(spark, [(i, f"v{i}", 0) for i in range(1, 7)]), t
        )
        delete_iceberg_keys(
            spark, t, "id", spark.createDataFrame([(3,)], "id long")
        )
        merge_iceberg_batch(
            spark, _rows(spark, [(2, "B", 1), (9, "new", 1)]),
            t, "id", "ts", batch_id=1,
        )
        before = sorted(
            (r.id, r.v) for r in read_iceberg(spark, t).collect()
        )
        # age EVERYTHING so the grace period hides nothing
        for p in glob.glob(os.path.join(t, "**", "*"), recursive=True):
            if os.path.isfile(p):
                _age(p)
        gone = remove_iceberg_orphan_files(spark, t)
        assert gone == []
        after = sorted(
            (r.id, r.v) for r in read_iceberg(spark, t).collect()
        )
        assert after == before

    def test_orphans_swept_and_staging_dir_removed(
        self, spark, tmp_path
    ):
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a", 0)]), t)
        planted = _plant_orphans(t)
        gone = remove_iceberg_orphan_files(spark, t)
        assert sorted(gone) == sorted(
            os.path.relpath(p, t) for p in planted
        )
        assert not any(os.path.exists(p) for p in planted)
        assert not os.path.isdir(os.path.join(t, "_tmp-ice-v99"))
        assert read_iceberg(spark, t).count() == 1

    def test_grace_period_keeps_young_files(self, spark, tmp_path):
        """A file younger than older_than is a presumed in-flight
        write — kept this sweep, swept once it ages out."""
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a", 0)]), t)
        young = os.path.join(t, "data", "orphan-young.parquet")
        with open(young, "wb") as f:
            f.write(b"junk")  # mtime = now
        assert remove_iceberg_orphan_files(spark, t) == []
        assert os.path.exists(young)
        _age(young)
        assert remove_iceberg_orphan_files(spark, t) == [
            os.path.join("data", "orphan-young.parquet")
        ]

    def test_dry_run_deletes_nothing(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a", 0)]), t)
        planted = _plant_orphans(t)
        listed = remove_iceberg_orphan_files(spark, t, dry_run=True)
        assert sorted(listed) == sorted(
            os.path.relpath(p, t) for p in planted
        )
        assert all(os.path.exists(p) for p in planted)

    def test_foreign_registered_files_out_of_scope(
        self, spark, tmp_path
    ):
        """add_files-registered absolute paths live OUTSIDE the table
        location: the sweep never lists or touches them, and the
        registered bytes keep reading."""
        lake = str(tmp_path / "lake")
        spark.createDataFrame(
            [(1, "a", 0), (2, "b", 0)], "id long, v string, ts long"
        ).coalesce(1).write.parquet(lake)
        files = sorted(glob.glob(os.path.join(lake, "*.parquet")))
        t = str(tmp_path / "tbl")
        add_iceberg_files(spark, t, files)
        for p in glob.glob(os.path.join(t, "**", "*"), recursive=True):
            if os.path.isfile(p):
                _age(p)
        for p in files:
            _age(p)
        gone = remove_iceberg_orphan_files(spark, t)
        assert gone == []
        assert all(os.path.exists(p) for p in files)
        assert read_iceberg(spark, t).count() == 2

    def test_branch_staged_files_survive(self, spark, tmp_path):
        """Unpublished WAP-branch snapshots reference their files
        through the metadata refs walk — never orphans."""
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a", 0)]), t)
        write_iceberg_commit(
            _rows(spark, [(2, "b", 0)]), t, branch="w"
        )
        for p in glob.glob(os.path.join(t, "**", "*"), recursive=True):
            if os.path.isfile(p):
                _age(p)
        assert remove_iceberg_orphan_files(spark, t) == []
        assert read_iceberg(spark, t, ref="w").count() == 2

    def test_older_than_explicit_and_no_table(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        with pytest.raises(ValueError, match="no table"):
            remove_iceberg_orphan_files(spark, t)
        write_iceberg_commit(_rows(spark, [(1, "a", 0)]), t)
        orphan = os.path.join(t, "data", "orphan-x.parquet")
        with open(orphan, "wb") as f:
            f.write(b"junk")
        _age(orphan, seconds=3600)  # one hour old
        # cutoff two hours ago: the file is YOUNGER than the cutoff
        # (inside the explicit grace window) — kept
        assert (
            remove_iceberg_orphan_files(
                spark, t, older_than=(time.time() - 7200) * 1000
            )
            == []
        )
        assert os.path.exists(orphan)
        # cutoff now: the hour-old file is older than it — swept
        assert remove_iceberg_orphan_files(
            spark, t, older_than=time.time() * 1000
        ) == [os.path.join("data", "orphan-x.parquet")]
        assert not os.path.exists(orphan)
