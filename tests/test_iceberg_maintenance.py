"""Iceberg maintenance ops (streaming/iceberg_table.py): compaction
(``rewrite_data_files`` — a ``replace`` snapshot merging undersized
files per partition, row-level deletes applied and consumed) and
snapshot expiration (``expire_snapshots`` — metadata trim + orphaned
file removal, the Iceberg twin of vacuum_delta)."""

from __future__ import annotations

import os

import pytest

from optimus_any2any_spark.sources.iceberg import (
    load_table_metadata,
    read_iceberg,
)
from optimus_any2any_spark.streaming.iceberg_table import (
    compact_iceberg,
    delete_iceberg_keys,
    expire_iceberg_snapshots,
    merge_iceberg_batch,
    write_iceberg_commit,
)


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, ts long")


def _snap(spark, t):
    return sorted((r.k, r.v) for r in read_iceberg(spark, t).collect())


def _live_data_files(t):
    from optimus_any2any_spark.sources.iceberg import _snapshot_entries

    meta = load_table_metadata(t)
    data, _p, _e = _snapshot_entries(t, meta)
    return sorted(d["orig"] for d in data)


class TestCompaction:
    def test_small_files_merge_reads_unchanged(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        for k in range(6):  # six single-row files via appends
            write_iceberg_commit(
                _kv(spark, [(k, f"v{k}", 0)]).coalesce(1), t
            )
        before = _snap(spark, t)
        assert len(_live_data_files(t)) == 6
        v = compact_iceberg(spark, t, key_col="k")
        assert v is not None
        assert len(_live_data_files(t)) == 1
        assert _snap(spark, t) == before
        meta = load_table_metadata(t)
        cur = next(
            s for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        assert cur["summary"]["operation"] == "replace"

    def test_noop_when_nothing_undersized(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        write_iceberg_commit(
            _kv(spark, [(1, "a", 0), (2, "b", 0)]).coalesce(1), t
        )
        # one file only: nothing to pair up
        assert compact_iceberg(spark, t, key_col="k") is None

    def test_compaction_consumes_equality_deletes(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        for k in range(4):
            write_iceberg_commit(
                _kv(spark, [(k, f"v{k}", 0)]).coalesce(1), t
            )
        delete_iceberg_keys(
            spark, t, "k", spark.createDataFrame([(1,)], "k long")
        )
        v = compact_iceberg(spark, t, key_col="k")
        assert v is not None
        # deleted row stays gone through the rewrite (deletes applied
        # during the compaction read, rewrite outranks the delete)
        assert _snap(spark, t) == [(0, "v0"), (2, "v2"), (3, "v3")]
        # full-table compaction RETIRES the delete manifest: every
        # remaining data file outranks it, so carrying it would be a
        # dead anti-join on every future read
        from optimus_any2any_spark.formats.avrobin import read_container
        from optimus_any2any_spark.sources.iceberg import _localize

        meta = load_table_metadata(t)
        snap = next(
            s for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        _, manifests = read_container(
            _localize(t, snap["manifest-list"])
        )
        assert all(int(m.get("content") or 0) == 0 for m in manifests)
        # and a post-compaction merge still behaves
        merge_iceberg_batch(
            spark, _kv(spark, [(2, "B", 1)]), t, "k", "ts"
        )
        assert _snap(spark, t) == [(0, "v0"), (2, "B"), (3, "v3")]

    def test_partitioned_compaction_scoped(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        merge_iceberg_batch(
            spark,
            spark.createDataFrame(
                [(1, "a", 0, "d1"), (2, "b", 0, "d2")],
                "k long, v string, ts long, d string",
            ),
            t, "k", "ts", partition_by=["d"],
        )
        # two more single-row files in d1 via merges of new keys
        for k in (3, 5):
            merge_iceberg_batch(
                spark,
                spark.createDataFrame(
                    [(k, f"v{k}", 0, "d1")],
                    "k long, v string, ts long, d string",
                ),
                t, "k", "ts",
            )
        before = sorted(
            (r.k, r.v, r.d) for r in read_iceberg(spark, t).collect()
        )
        v = compact_iceberg(spark, t, key_col="k")
        assert v is not None
        after = sorted(
            (r.k, r.v, r.d) for r in read_iceberg(spark, t).collect()
        )
        assert after == before
        # manifest partition tuples survive on the compacted files
        from optimus_any2any_spark.formats.avrobin import read_container
        from optimus_any2any_spark.sources.iceberg import _localize

        meta = load_table_metadata(t)
        snap = next(
            s for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        _, manifests = read_container(
            _localize(t, snap["manifest-list"])
        )
        parts = set()
        for m in manifests:
            _, entries = read_container(_localize(t, m["manifest_path"]))
            for e in entries:
                if int(e.get("status") or 0) != 2:
                    parts.add(e["data_file"]["partition"].get("d"))
        assert parts == {"d1", "d2"}


class TestExpiration:
    def test_expire_trims_metadata_and_files(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        merge_iceberg_batch(spark, _kv(spark, [(1, "a", 0)]), t, "k", "ts")
        merge_iceberg_batch(spark, _kv(spark, [(1, "A", 1)]), t, "k", "ts")
        meta = load_table_metadata(t)
        old_ids = [s["snapshot-id"] for s in meta["snapshots"]][:-1]
        gone = expire_iceberg_snapshots(spark, t, keep_last=1)
        assert gone  # the superseded v0 data file (at least) went
        meta2 = load_table_metadata(t)
        assert len(meta2["snapshots"]) == 1
        assert _snap(spark, t) == [(1, "A")]
        # time travel to an expired snapshot now raises
        with pytest.raises(ValueError, match="not in table metadata"):
            read_iceberg(spark, t, snapshot_id=old_ids[-1]).collect()

    def test_expire_keeps_shared_files(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_kv(spark, [(1, "a", 0)]).coalesce(1), t)
        write_iceberg_commit(_kv(spark, [(2, "b", 0)]).coalesce(1), t)
        # the append's snapshot 2 still references snapshot 1's file
        files_before = _live_data_files(t)
        gone = expire_iceberg_snapshots(spark, t, keep_last=1)
        # the expired snapshot's own manifest LIST may be reclaimed,
        # but its data files are shared with the kept snapshot
        data_gone = [g for g in gone if g.startswith("data/")]
        assert data_gone == []
        assert _live_data_files(t) == files_before
        assert _snap(spark, t) == [(1, "a"), (2, "b")]

    def test_expire_noop_when_few_snapshots(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_kv(spark, [(1, "a", 0)]).coalesce(1), t)
        assert expire_iceberg_snapshots(spark, t, keep_last=5) == []
        assert _snap(spark, t) == [(1, "a")]

    def test_expire_then_compact_then_expire(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        for k in range(4):
            write_iceberg_commit(
                _kv(spark, [(k, f"v{k}", 0)]).coalesce(1), t
            )
        compact_iceberg(spark, t, key_col="k")
        # expiring history reclaims the four pre-compaction files
        gone = expire_iceberg_snapshots(spark, t, keep_last=1)
        assert sum(1 for g in gone if g.startswith("data/")) == 4
        assert len(_live_data_files(t)) == 1
        assert _snap(spark, t) == [
            (0, "v0"), (1, "v1"), (2, "v2"), (3, "v3"),
        ]


class TestSinkRiders:
    def test_optimize_and_expire_riders(self, spark, tmp_path):
        from optimus_any2any_spark.config import Config
        from optimus_any2any_spark.pipeline import Pipeline

        t = str(tmp_path / "tbl")
        for k in range(3):
            write_iceberg_commit(
                _kv(spark, [(k, f"v{k}", 0)]).coalesce(1), t
            )
        src = tmp_path / "in.json"
        src.write_text('{"k": 9, "v": "z", "ts": 0}\n')
        cfg = Config.from_env(
            env_args=[
                f"FILE__SOURCE_URI=file://{src}",
                f"ICEBERG__SINK_URI=file://{t}",
                "ICEBERG__OPTIMIZE_ROWS=100000",
                "ICEBERG__MERGE_KEY=k",
                "ICEBERG__EXPIRE_KEEP=1",
            ],
            environ={},
        )
        Pipeline(spark, "FILE", ["ICEBERG"], cfg).run()
        assert _snap(spark, t) == [
            (0, "v0"), (1, "v1"), (2, "v2"), (9, "z"),
        ]
        # optimize merged the small files; expire reclaimed history
        assert len(_live_data_files(t)) == 1
        assert len(load_table_metadata(t)["snapshots"]) == 1

    def test_delete_pos_mode(self, spark, tmp_path):
        from optimus_any2any_spark.config import Config
        from optimus_any2any_spark.pipeline import Pipeline
        from optimus_any2any_spark.sources.iceberg import (
            _snapshot_entries,
        )

        t = str(tmp_path / "tbl")
        write_iceberg_commit(
            _kv(spark, [(1, "a", 0), (2, "b", 0), (3, "c", 0)])
            .coalesce(1),
            t,
        )
        src = tmp_path / "del.json"
        src.write_text('{"k": 2}\n{"k": 3}\n')
        cfg = Config.from_env(
            env_args=[
                f"FILE__SOURCE_URI=file://{src}",
                f"ICEBERG__SINK_URI=file://{t}",
                "ICEBERG__MODE=DELETE_POS",
                "ICEBERG__MERGE_KEY=k",
            ],
            environ={},
        )
        Pipeline(spark, "FILE", ["ICEBERG"], cfg).run()
        assert _snap(spark, t) == [(1, "a")]
        meta = load_table_metadata(t)
        _d, pos, eq = _snapshot_entries(t, meta)
        assert len(pos) == 1 and not eq  # positional, not equality
        assert len(_live_data_files(t)) == 1  # no rewrite

    def test_rollback_rider(self, spark, tmp_path):
        # VERDICT r8 item 8: ICEBERG__ROLLBACK_SNAPSHOT drives
        # rollback_iceberg end-to-end through --to=ICEBERG
        from optimus_any2any_spark.config import Config
        from optimus_any2any_spark.pipeline import Pipeline

        t = str(tmp_path / "tbl")
        write_iceberg_commit(_kv(spark, [(1, "a", 0)]).coalesce(1), t)
        seed_snap = load_table_metadata(t)["current-snapshot-id"]
        src = tmp_path / "in.json"
        src.write_text('{"k": 9, "v": "z", "ts": 0}\n')
        cfg = Config.from_env(
            env_args=[
                f"FILE__SOURCE_URI=file://{src}",
                f"ICEBERG__SINK_URI=file://{t}",
                f"ICEBERG__ROLLBACK_SNAPSHOT={seed_snap}",
            ],
            environ={},
        )
        # the append lands, then the rider rolls the table back to the
        # seed snapshot as a new history-preserving commit
        Pipeline(spark, "FILE", ["ICEBERG"], cfg).run()
        assert _snap(spark, t) == [(1, "a")]
        snaps = load_table_metadata(t)["snapshots"]
        assert snaps[-1]["summary"]["operation"] == "rollback"

    def test_expire_older_than_rider(self, spark, tmp_path):
        from optimus_any2any_spark.config import Config
        from optimus_any2any_spark.pipeline import Pipeline
        from optimus_any2any_spark.sources.iceberg import set_clock

        t = str(tmp_path / "tbl")
        state = {"t": 0}

        def tick():
            state["t"] += 1_000_000
            return state["t"]

        set_clock(tick)
        try:
            for k in range(3):
                write_iceberg_commit(
                    _kv(spark, [(k, f"v{k}", 0)]).coalesce(1), t
                )
            src = tmp_path / "in.json"
            src.write_text('{"k": 9, "v": "z", "ts": 0}\n')
            cfg = Config.from_env(
                env_args=[
                    f"FILE__SOURCE_URI=file://{src}",
                    f"ICEBERG__SINK_URI=file://{t}",
                    "ICEBERG__EXPIRE_OLDER_THAN=2500000",
                ],
                environ={},
            )
            Pipeline(spark, "FILE", ["ICEBERG"], cfg).run()
        finally:
            set_clock(None)
        stamps = [
            s["timestamp-ms"]
            for s in load_table_metadata(t)["snapshots"]
        ]
        # snapshots stamped 1M/2M are expired; 3M + the append remain
        assert min(stamps) >= 3_000_000
        assert _snap(spark, t) == [
            (0, "v0"), (1, "v1"), (2, "v2"), (9, "z"),
        ]

    def test_as_of_timestamp_source(self, spark, tmp_path):
        from optimus_any2any_spark.config import Config
        from optimus_any2any_spark.pipeline import (
            SOURCE_BUILDERS,
            _load_builtin_components,
        )
        from optimus_any2any_spark.sources.iceberg import set_clock

        _load_builtin_components()

        t = str(tmp_path / "tbl")
        state = {"t": 0}

        def tick():
            state["t"] += 1_000_000
            return state["t"]

        set_clock(tick)
        try:
            write_iceberg_commit(
                _kv(spark, [(1, "a", 0)]).coalesce(1), t
            )
            write_iceberg_commit(
                _kv(spark, [(2, "b", 0)]).coalesce(1), t
            )
        finally:
            set_clock(None)
        cfg = Config.from_env(
            env_args=[
                f"ICEBERG__SOURCE_URI=file://{t}",
                "ICEBERG__AS_OF_TIMESTAMP=1500000",
            ],
            environ={},
        )
        df = SOURCE_BUILDERS["ICEBERG"](spark, cfg)
        assert sorted(r.k for r in df.collect()) == [1]


class TestSkippingRead:
    def test_key_range_prunes_files_before_scan(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        merge_iceberg_batch(
            spark,
            spark.createDataFrame(
                [(k, f"v{k}", 0) for k in range(1, 41)],
                "k long, v string, ts long",
            ),
            t, "k", "ts", target_rows_per_file=10,
        )
        full = read_iceberg(spark, t)
        assert len(full.inputFiles()) >= 4
        pruned = read_iceberg(spark, t, key_range=("k", 35, 39))
        # range-disjoint files never reach the scan
        assert len(pruned.inputFiles()) == 1
        assert sorted(r.k for r in pruned.collect()) == [
            35, 36, 37, 38, 39,
        ]

    def test_key_range_keeps_boundless_files(self, spark, tmp_path):
        # files without recorded bounds (fixture appends carry none on
        # the key... write_iceberg_commit records none) must still be
        # read — pruning may only drop PROVABLY disjoint files
        t = str(tmp_path / "tbl")
        write_iceberg_commit(
            _kv(spark, [(1, "a", 0), (50, "b", 0)]).coalesce(1), t
        )
        got = read_iceberg(spark, t, key_range=("k", 40, 60)).collect()
        assert [r.k for r in got] == [50]

    def test_key_range_composes_with_deletes(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        merge_iceberg_batch(
            spark,
            spark.createDataFrame(
                [(k, f"v{k}", 0) for k in range(1, 21)],
                "k long, v string, ts long",
            ),
            t, "k", "ts", target_rows_per_file=5,
        )
        delete_iceberg_keys(
            spark, t, "k", spark.createDataFrame([(7,)], "k long")
        )
        got = sorted(
            r.k
            for r in read_iceberg(
                spark, t, key_range=("k", 6, 9)
            ).collect()
        )
        assert got == [6, 8, 9]


class TestRollback:
    """rollback_iceberg (VERDICT r7 item 3): roll back to a retained
    snapshot as a NEW history-preserving commit."""

    def test_rollback_restores_content_keeps_history(
        self, spark, tmp_path
    ):
        from optimus_any2any_spark.streaming.iceberg_table import (
            rollback_iceberg,
        )

        t = str(tmp_path / "tbl")
        write_iceberg_commit(_kv(spark, [(1, "a", 0)]).coalesce(1), t)
        write_iceberg_commit(_kv(spark, [(2, "b", 0)]).coalesce(1), t)
        v = rollback_iceberg(spark, t, snapshot_id=1)
        assert v == 3
        assert _snap(spark, t) == [(1, "a")]
        meta = load_table_metadata(t)
        snaps = meta["snapshots"]
        assert len(snaps) == 3  # rollback is a commit, not a rewrite
        newest = snaps[-1]
        assert newest["parent-snapshot-id"] == 2
        assert newest["summary"]["operation"] == "rollback"
        # the rolled-over snapshot stays time-travelable
        got = sorted(
            (r.k, r.v)
            for r in read_iceberg(spark, t, snapshot_id=2).collect()
        )
        assert got == [(1, "a"), (2, "b")]

    def test_rollback_undoes_row_level_delete(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_positions,
            rollback_iceberg,
        )

        t = str(tmp_path / "tbl")
        write_iceberg_commit(
            _kv(spark, [(1, "a", 0), (2, "b", 0)]).coalesce(1), t
        )
        delete_iceberg_positions(
            spark, t, "k", spark.createDataFrame([(2,)], "k long")
        )
        assert _snap(spark, t) == [(1, "a")]
        rollback_iceberg(spark, t, snapshot_id=1)
        assert _snap(spark, t) == [(1, "a"), (2, "b")]

    def test_rollback_to_expired_refuses(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.iceberg_table import (
            rollback_iceberg,
        )

        t = str(tmp_path / "tbl")
        for k in range(3):
            write_iceberg_commit(
                _kv(spark, [(k, f"v{k}", 0)]).coalesce(1), t
            )
        expire_iceberg_snapshots(spark, t, keep_last=1)
        with pytest.raises(ValueError, match="expired|not in the"):
            rollback_iceberg(spark, t, snapshot_id=1)

    def test_rollback_to_current_noop(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.iceberg_table import (
            rollback_iceberg,
        )

        t = str(tmp_path / "tbl")
        write_iceberg_commit(_kv(spark, [(1, "a", 0)]).coalesce(1), t)
        v0 = int(open(os.path.join(t, "metadata",
                                   "version-hint.text")).read())
        assert rollback_iceberg(spark, t, snapshot_id=1) == v0

    def test_merge_after_rollback(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.iceberg_table import (
            rollback_iceberg,
        )

        t = str(tmp_path / "tbl")
        write_iceberg_commit(
            _kv(spark, [(1, "a", 0), (2, "b", 0)]).coalesce(1), t
        )
        merge_iceberg_batch(
            spark, _kv(spark, [(2, "B", 1), (9, "z", 1)]), t, "k", "ts"
        )
        rollback_iceberg(spark, t, snapshot_id=1)
        merge_iceberg_batch(
            spark, _kv(spark, [(3, "c", 2)]), t, "k", "ts"
        )
        assert _snap(spark, t) == [(1, "a"), (2, "b"), (3, "c")]


class TestSnapshotRefs:
    """Spec "Snapshot References": tags/branches in the metadata refs
    map — named time travel, expire protection, main kept in step."""

    def test_tag_read_and_unknown_ref(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.iceberg_table import (
            set_iceberg_ref,
        )

        t = str(tmp_path / "tbl")
        write_iceberg_commit(_kv(spark, [(1, "a", 0)]).coalesce(1), t)
        set_iceberg_ref(spark, t, "v1-release")
        write_iceberg_commit(_kv(spark, [(2, "b", 0)]).coalesce(1), t)
        got = sorted(
            r.k for r in read_iceberg(spark, t, ref="v1-release")
            .collect()
        )
        assert got == [1]  # the tagged snapshot, not current
        assert _snap(spark, t) == [(1, "a"), (2, "b")]
        with pytest.raises(ValueError, match="unknown ref"):
            read_iceberg(spark, t, ref="nope")
        with pytest.raises(ValueError, match="mutually exclusive"):
            read_iceberg(spark, t, ref="v1-release", snapshot_id=1)

    def test_tag_protects_from_expiration(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.iceberg_table import (
            drop_iceberg_ref,
            set_iceberg_ref,
        )

        t = str(tmp_path / "tbl")
        write_iceberg_commit(_kv(spark, [(1, "a", 0)]).coalesce(1), t)
        set_iceberg_ref(spark, t, "keep-me")
        write_iceberg_commit(_kv(spark, [(2, "b", 0)]).coalesce(1), t)
        write_iceberg_commit(_kv(spark, [(3, "c", 0)]).coalesce(1), t)
        expire_iceberg_snapshots(spark, t, keep_last=1)
        meta = load_table_metadata(t)
        ids = {s["snapshot-id"] for s in meta["snapshots"]}
        # the tagged snapshot survived; the untagged middle one went
        from optimus_any2any_spark.sources.iceberg import (
            resolve_iceberg_ref,
        )

        assert resolve_iceberg_ref(meta, "keep-me") in ids
        assert len(meta["snapshots"]) == 2
        got = sorted(
            r.k for r in read_iceberg(spark, t, ref="keep-me").collect()
        )
        assert got == [1]
        # dropping the tag makes it expirable
        drop_iceberg_ref(spark, t, "keep-me")
        expire_iceberg_snapshots(spark, t, keep_last=1)
        assert len(load_table_metadata(t)["snapshots"]) == 1
        assert _snap(spark, t) == [(1, "a"), (2, "b"), (3, "c")]

    def test_main_branch_advances_with_commits(self, spark, tmp_path):
        from optimus_any2any_spark.sources.iceberg import (
            resolve_iceberg_ref,
        )
        from optimus_any2any_spark.streaming.iceberg_table import (
            set_iceberg_ref,
        )

        t = str(tmp_path / "tbl")
        write_iceberg_commit(_kv(spark, [(1, "a", 0)]).coalesce(1), t)
        set_iceberg_ref(spark, t, "main", ref_type="branch")
        write_iceberg_commit(_kv(spark, [(2, "b", 0)]).coalesce(1), t)
        merge_iceberg_batch(
            spark, _kv(spark, [(3, "c", 0)]), t, "k", "ts"
        )
        meta = load_table_metadata(t)
        assert (
            resolve_iceberg_ref(meta, "main")
            == meta["current-snapshot-id"]
        )
        got = sorted(
            r.k for r in read_iceberg(spark, t, ref="main").collect()
        )
        assert got == [1, 2, 3]

    def test_ref_guards(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.iceberg_table import (
            drop_iceberg_ref,
            set_iceberg_ref,
        )

        t = str(tmp_path / "tbl")
        write_iceberg_commit(_kv(spark, [(1, "a", 0)]).coalesce(1), t)
        with pytest.raises(ValueError, match="tag or branch"):
            set_iceberg_ref(spark, t, "x", ref_type="bogus")
        with pytest.raises(ValueError, match="not in the table"):
            set_iceberg_ref(spark, t, "x", snapshot_id=999)
        with pytest.raises(ValueError, match="unknown ref"):
            drop_iceberg_ref(spark, t, "x")

    def test_tag_rider_and_ref_source(self, spark, tmp_path):
        from optimus_any2any_spark.config import Config
        from optimus_any2any_spark.pipeline import (
            SOURCE_BUILDERS,
            Pipeline,
        )

        t = str(tmp_path / "tbl")
        src = tmp_path / "in.json"
        src.write_text('{"k": 1, "v": "a", "ts": 0}\n')
        cfg = Config.from_env(
            env_args=[
                f"FILE__SOURCE_URI=file://{src}",
                f"ICEBERG__SINK_URI=file://{t}",
                "ICEBERG__TAG=first-load",
            ],
            environ={},
        )
        Pipeline(spark, "FILE", ["ICEBERG"], cfg).run()
        src2 = tmp_path / "in2.json"
        src2.write_text('{"k": 2, "v": "b", "ts": 0}\n')
        cfg2 = Config.from_env(
            env_args=[
                f"FILE__SOURCE_URI=file://{src2}",
                f"ICEBERG__SINK_URI=file://{t}",
            ],
            environ={},
        )
        Pipeline(spark, "FILE", ["ICEBERG"], cfg2).run()
        rcfg = Config.from_env(
            env_args=[
                f"ICEBERG__SOURCE_URI=file://{t}",
                "ICEBERG__REF=first-load",
            ],
            environ={},
        )
        df = SOURCE_BUILDERS["ICEBERG"](spark, rcfg)
        assert sorted(r.k for r in df.collect()) == [1]


class TestMetadataTables:
    """Iceberg inspection surface (the spec's metadata tables):
    snapshots / history / refs / manifests / files as DataFrames."""

    def _mk(self, spark, tmp_path):
        from optimus_any2any_spark.sources.iceberg import set_clock
        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_positions,
            set_iceberg_ref,
        )

        t = str(tmp_path / "tbl")
        state = {"t": 0}

        def tick():
            state["t"] += 1_000_000
            return state["t"]

        set_clock(tick)
        try:
            write_iceberg_commit(
                _kv(spark, [(1, "a", 0), (2, "b", 0)]).coalesce(1), t
            )
            set_iceberg_ref(spark, t, "v1")
            write_iceberg_commit(
                _kv(spark, [(3, "c", 0)]).coalesce(1), t
            )
            delete_iceberg_positions(
                spark, t, "k", spark.createDataFrame([(2,)], "k long")
            )
        finally:
            set_clock(None)
        return t

    def test_snapshots_and_history(self, spark, tmp_path):
        from optimus_any2any_spark.sources.iceberg import (
            read_iceberg_metadata,
        )

        t = self._mk(spark, tmp_path)
        snaps = read_iceberg_metadata(spark, t, "snapshots").collect()
        # every commit reads the clock once: set_iceberg_ref's tick
        # (2_000_000) stamps that version's last-updated-ms
        assert [r.committed_at for r in snaps] == [
            1_000_000, 3_000_000, 4_000_000,
        ]
        assert [r.operation for r in snaps] == [
            "append", "append", "delete",
        ]
        hist = read_iceberg_metadata(spark, t, "history").collect()
        assert [r.made_current_at for r in hist] == [
            1_000_000, 3_000_000, 4_000_000,
        ]
        assert all(r.is_current_ancestor is not None for r in hist)

    def test_refs_manifests_files(self, spark, tmp_path):
        from optimus_any2any_spark.sources.iceberg import (
            read_iceberg_metadata,
        )

        t = self._mk(spark, tmp_path)
        refs = read_iceberg_metadata(spark, t, "refs").collect()
        assert [(r.name, r.type) for r in refs] == [("v1", "tag")]
        mans = read_iceberg_metadata(spark, t, "manifests").collect()
        assert len(mans) >= 2  # data manifests + the delete manifest
        assert any(r.content == 1 for r in mans)
        files = read_iceberg_metadata(spark, t, "files").collect()
        data = [r for r in files if r.content == 0]
        dels = [r for r in files if r.content == 1]
        assert len(data) == 2 and len(dels) == 1
        assert sum(r.record_count for r in data) == 3
        assert dels[0].record_count == 1
        with pytest.raises(ValueError, match="unknown kind"):
            read_iceberg_metadata(spark, t, "bogus")

    def test_metadata_table_source_rider(self, spark, tmp_path):
        from optimus_any2any_spark.config import Config
        from optimus_any2any_spark.pipeline import (
            SOURCE_BUILDERS,
            _load_builtin_components,
        )

        _load_builtin_components()
        t = self._mk(spark, tmp_path)
        cfg = Config.from_env(
            env_args=[
                f"ICEBERG__SOURCE_URI=file://{t}",
                "ICEBERG__METADATA_TABLE=snapshots",
            ],
            environ={},
        )
        df = SOURCE_BUILDERS["ICEBERG"](spark, cfg)
        assert df.count() == 3
        assert "snapshot_id" in df.columns


class TestSortOrders:
    def test_fresh_table_declares_unsorted_order_zero(
        self, spark, tmp_path
    ):
        t = str(tmp_path / "t")
        write_iceberg_commit(_kv(spark, [(1, "a", 0)]), t)
        meta = load_table_metadata(t)
        assert meta["sort-orders"] == [{"order-id": 0, "fields": []}]
        assert meta["default-sort-order-id"] == 0

    def test_keyed_compaction_declares_and_stamps_order(
        self, spark, tmp_path
    ):
        import pyarrow.parquet as pq

        from optimus_any2any_spark.formats.avrobin import read_container
        from optimus_any2any_spark.sources.iceberg import (
            _localize,
            _snapshot_entries,
        )

        t = str(tmp_path / "t")
        write_iceberg_commit(
            _kv(spark, [(3, "c", 0), (1, "a", 0)]), t
        )
        write_iceberg_commit(
            _kv(spark, [(2, "b", 0), (4, "d", 0)]), t
        )
        assert compact_iceberg(
            spark, t, target_rows_per_file=1000, key_col="k"
        )
        meta = load_table_metadata(t)
        fid = next(
            f["id"]
            for f in meta["schemas"][0]["fields"]
            if f["name"] == "k"
        )
        declared = next(
            o for o in meta["sort-orders"] if o["order-id"] != 0
        )
        assert declared["fields"] == [
            {
                "transform": "identity",
                "source-id": fid,
                "direction": "asc",
                "null-order": "nulls-first",
            }
        ]
        assert meta["default-sort-order-id"] == declared["order-id"]
        # the manifest entries stamp the order id AND the file bytes
        # really are key-sorted (the declaration must be TRUE)
        data, _p, _e = _snapshot_entries(t, meta)
        compacted = [d for d in data if "compact" in d["orig"]]
        assert compacted
        snap = next(
            s
            for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        _, mls = read_container(_localize(t, snap["manifest-list"]))
        stamped = []
        for m in mls:
            _, entries = read_container(
                _localize(t, m["manifest_path"])
            )
            for e in entries:
                df_ = e["data_file"]
                if "compact" in df_["file_path"]:
                    stamped.append(df_.get("sort_order_id"))
                    ks = pq.read_table(
                        _localize(t, df_["file_path"]),
                        columns=["k"],
                    ).column(0).to_pylist()
                    assert ks == sorted(ks)
        assert stamped and all(
            s == declared["order-id"] for s in stamped
        )

    def test_compaction_reuses_declared_order(self, spark, tmp_path):
        t = str(tmp_path / "t")
        write_iceberg_commit(_kv(spark, [(1, "a", 0)]), t)
        write_iceberg_commit(_kv(spark, [(2, "b", 0)]), t)
        compact_iceberg(spark, t, target_rows_per_file=1000, key_col="k")
        first = load_table_metadata(t)["default-sort-order-id"]
        write_iceberg_commit(_kv(spark, [(3, "c", 0)]), t)
        write_iceberg_commit(_kv(spark, [(4, "d", 0)]), t)
        compact_iceberg(spark, t, target_rows_per_file=1000, key_col="k")
        meta = load_table_metadata(t)
        assert meta["default-sort-order-id"] == first
        assert (
            len([o for o in meta["sort-orders"] if o["order-id"] != 0])
            == 1
        )


class TestPartitionsMetadataTable:
    def test_partitions_counts_and_deletes(self, spark, tmp_path):
        """`partitions` metadata table: per-tuple data record/file
        totals; delete files count against their gating partition."""
        from optimus_any2any_spark.sources.iceberg import read_iceberg_metadata
        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_keys,
            merge_iceberg_batch,
            write_iceberg_commit,
        )

        t = str(tmp_path / "tbl")
        write_iceberg_commit(
            spark.createDataFrame(
                [], "k long, v string, ts long, p string"
            ),
            t,
            partition_by=["p"],
        )
        merge_iceberg_batch(
            spark,
            spark.createDataFrame(
                [
                    (1, "a", 0, "x"),
                    (2, "b", 0, "x"),
                    (3, "c", 0, "y"),
                ],
                "k long, v string, ts long, p string",
            ),
            t, "k", "ts", batch_id=1,
        )
        rows = {
            tuple(sorted(r.partition.items())): (
                r.record_count, r.file_count
            )
            for r in read_iceberg_metadata(
                spark, t, "partitions"
            ).collect()
        }
        assert rows[(("p", "x"),)][0] == 2
        assert rows[(("p", "y"),)][0] == 1
        assert all(fc >= 1 for _rc, fc in rows.values())
        # a MoR delete adds a delete file; record_count tracks DATA
        # entries (the spec's data_record_count), so it is unchanged
        # until a rewrite erases the rows physically
        delete_iceberg_keys(
            spark, t, "k", spark.createDataFrame([(1,)], "k long")
        )
        got = read_iceberg_metadata(spark, t, "partitions").collect()
        assert sum(
            r.position_delete_file_count + r.equality_delete_file_count
            for r in got
        ) >= 1

    def test_unpartitioned_single_row(self, spark, tmp_path):
        from optimus_any2any_spark.sources.iceberg import read_iceberg_metadata
        from optimus_any2any_spark.streaming.iceberg_table import (
            write_iceberg_commit,
        )

        t = str(tmp_path / "tbl")
        write_iceberg_commit(
            spark.createDataFrame(
                [(1, "a"), (2, "b")], "k long, v string"
            ),
            t,
        )
        got = read_iceberg_metadata(spark, t, "partitions").collect()
        assert len(got) == 1
        assert got[0].partition == {}
        assert got[0].record_count == 2


class TestMaxRefAge:
    """Spec max-ref-age-ms: bounded-life refs age out during snapshot
    expiration, releasing their snapshots to ordinary retention."""

    def test_aged_tag_drops_and_releases(self, spark, tmp_path):
        from optimus_any2any_spark.sources.iceberg import (
            load_table_metadata,
        )
        from optimus_any2any_spark.streaming.iceberg_table import (
            set_iceberg_ref,
        )

        t = str(tmp_path / "tbl")
        write_iceberg_commit(_kv(spark, [(1, "a", 0)]).coalesce(1), t)
        set_iceberg_ref(
            spark, t, "audit-v1", ref_type="tag",
            max_ref_age_ms=1000,
        )
        write_iceberg_commit(_kv(spark, [(2, "b", 0)]).coalesce(1), t)
        meta = load_table_metadata(t)
        assert meta["refs"]["audit-v1"]["max-ref-age-ms"] == 1000
        s1_ts = int(meta["snapshots"][0]["timestamp-ms"])
        # young ref: protected, nothing expires
        gone = expire_iceberg_snapshots(
            spark, t, keep_last=1, now_ms=s1_ts + 500
        )
        assert gone == []
        assert "audit-v1" in load_table_metadata(t)["refs"]
        # aged past the limit: the ref drops and the tagged snapshot
        # expires under keep_last=1 in the SAME run
        gone = expire_iceberg_snapshots(
            spark, t, keep_last=1, now_ms=s1_ts + 5000
        )
        assert gone  # the released snapshot's files were reclaimed
        meta = load_table_metadata(t)
        assert "audit-v1" not in (meta.get("refs") or {})
        assert len(meta["snapshots"]) == 1
        assert _snap(spark, t) == [(1, "a"), (2, "b")]

    def test_ref_only_aging_persists(self, spark, tmp_path):
        """A run where the aged ref points AT the retained snapshot:
        no snapshot expires, but the ref drop still commits."""
        from optimus_any2any_spark.sources.iceberg import (
            load_table_metadata,
        )
        from optimus_any2any_spark.streaming.iceberg_table import (
            set_iceberg_ref,
        )

        t = str(tmp_path / "tbl")
        write_iceberg_commit(_kv(spark, [(1, "a", 0)]).coalesce(1), t)
        set_iceberg_ref(
            spark, t, "old-tag", ref_type="tag", max_ref_age_ms=10
        )
        meta = load_table_metadata(t)
        ts = int(meta["snapshots"][0]["timestamp-ms"])
        gone = expire_iceberg_snapshots(
            spark, t, keep_last=1, now_ms=ts + 999_999
        )
        assert gone == []
        meta = load_table_metadata(t)
        assert "old-tag" not in (meta.get("refs") or {})
        assert len(meta["snapshots"]) == 1  # current stays

    def test_no_limit_means_forever(self, spark, tmp_path):
        from optimus_any2any_spark.sources.iceberg import (
            load_table_metadata,
        )
        from optimus_any2any_spark.streaming.iceberg_table import (
            set_iceberg_ref,
        )

        t = str(tmp_path / "tbl")
        write_iceberg_commit(_kv(spark, [(1, "a", 0)]).coalesce(1), t)
        set_iceberg_ref(spark, t, "keep-me", ref_type="tag")
        write_iceberg_commit(_kv(spark, [(2, "b", 0)]).coalesce(1), t)
        meta = load_table_metadata(t)
        ts = int(meta["snapshots"][0]["timestamp-ms"])
        expire_iceberg_snapshots(
            spark, t, keep_last=1, now_ms=ts + 10**12
        )
        assert "keep-me" in load_table_metadata(t)["refs"]
        assert len(load_table_metadata(t)["snapshots"]) == 2

    def test_validation(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.iceberg_table import (
            set_iceberg_ref,
        )

        t = str(tmp_path / "tbl")
        write_iceberg_commit(_kv(spark, [(1, "a", 0)]).coalesce(1), t)
        with pytest.raises(ValueError, match="positive"):
            set_iceberg_ref(
                spark, t, "bad", ref_type="tag", max_ref_age_ms=0
            )


class TestEntriesMetadataTable:
    def test_entries_sequence_and_partition(self, spark, tmp_path):
        """`entries`: live manifest entries with effective sequence
        numbers — a MoR delete's entry outranks the data files it
        gates (seq inheritance), partition tuples render decoded."""
        from optimus_any2any_spark.sources.iceberg import read_iceberg_metadata
        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_keys,
            merge_iceberg_batch,
            write_iceberg_commit,
        )

        t = str(tmp_path / "tbl")
        write_iceberg_commit(
            spark.createDataFrame(
                [], "k long, v string, ts long, p string"
            ),
            t,
            partition_by=["p"],
        )
        merge_iceberg_batch(
            spark,
            spark.createDataFrame(
                [(1, "a", 0, "x"), (2, "b", 0, "y")],
                "k long, v string, ts long, p string",
            ),
            t, "k", "ts", batch_id=1,
        )
        delete_iceberg_keys(
            spark, t, "k", spark.createDataFrame([(1,)], "k long")
        )
        ents = read_iceberg_metadata(spark, t, "entries").collect()
        data = [e for e in ents if e.content == 0]
        dels = [e for e in ents if e.content in (1, 2)]
        assert len(data) >= 2 and len(dels) >= 1
        assert {e.partition.get("p") for e in data} == {"x", "y"}
        # the delete entry's sequence outranks every data entry it
        # gates (v2 sequence-number ordering)
        assert max(e.sequence_number for e in dels) > min(
            e.sequence_number for e in data
        )
        assert all(
            e.record_count >= 1 for e in data
        )

    def test_entries_empty_table(self, spark, tmp_path):
        from optimus_any2any_spark.sources.iceberg import read_iceberg_metadata
        from optimus_any2any_spark.streaming.iceberg_table import (
            write_iceberg_commit,
        )

        t = str(tmp_path / "tbl")
        write_iceberg_commit(
            spark.createDataFrame([], "k long, v string"), t
        )
        assert (
            read_iceberg_metadata(spark, t, "entries").count() == 0
        )
