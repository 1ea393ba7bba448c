"""Iceberg timestamp semantics (VERDICT r8 item 2): every snapshot
this engine writes stamps a real ``timestamp-ms`` from the injectable
clock seam (sources/iceberg.py ``set_clock``) and appends a
``snapshot-log`` entry; ``read_iceberg(as_of_timestamp=)`` resolves
TIMESTAMP AS OF through the log (SnapshotUtil.snapshotIdAsOfTime
rules) and ``expire_iceberg_snapshots(older_than=)`` expires by age.
The twin of tests/test_delta_timestamp_travel.py."""

from __future__ import annotations

import json
import os

import pytest

from optimus_any2any_spark.sources import iceberg as ice
from optimus_any2any_spark.sources.iceberg import (
    load_table_metadata,
    read_iceberg,
    resolve_iceberg_timestamp,
    set_clock,
)
from optimus_any2any_spark.streaming.iceberg_table import (
    compact_iceberg,
    delete_iceberg_positions,
    expire_iceberg_snapshots,
    merge_iceberg_batch,
    rollback_iceberg,
    write_iceberg_commit,
)


@pytest.fixture
def stepping_clock():
    """Deterministic clock: 1_000_000, 2_000_000, 3_000_000, ..."""
    state = {"t": 0}

    def tick():
        state["t"] += 1_000_000
        return state["t"]

    set_clock(tick)
    yield state
    set_clock(None)


def _rows(spark, vals):
    return spark.createDataFrame(vals, "k long, v string")


def _kv_ts(spark, vals):
    return spark.createDataFrame(vals, "k long, v string, ts long")


class TestStamping:
    def test_every_writer_stamps_and_logs(
        self, spark, tmp_path, stepping_clock
    ):
        t = str(tmp_path / "tbl")
        write_iceberg_commit(
            _kv_ts(spark, [(1, "a", 0), (2, "b", 0)]), t
        )
        merge_iceberg_batch(
            spark, _kv_ts(spark, [(3, "c", 0)]), t, "k", "ts"
        )
        delete_iceberg_positions(
            spark, t, "k", spark.createDataFrame([(2,)], "k long")
        )
        compact_iceberg(spark, t, target_rows_per_file=1000)
        meta = load_table_metadata(t)
        snaps = meta["snapshots"]
        stamps = [int(s["timestamp-ms"]) for s in snaps]
        assert all(ts > 0 for ts in stamps)
        assert stamps == sorted(stamps)
        log = meta["snapshot-log"]
        assert [e["snapshot-id"] for e in log] == [
            s["snapshot-id"] for s in snaps
        ]
        assert [e["timestamp-ms"] for e in log] == stamps
        # every metadata version stamps last-updated-ms: the instant of
        # the snapshot it added
        for v in range(1, len(snaps) + 1):
            with open(os.path.join(t, "metadata", f"v{v}.metadata.json")) as f:
                mv = json.loads(f.read())
            assert mv["last-updated-ms"] == stamps[v - 1]

    def test_rollback_appends_log_entry(
        self, spark, tmp_path, stepping_clock
    ):
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a")]), t)
        first = load_table_metadata(t)["current-snapshot-id"]
        write_iceberg_commit(_rows(spark, [(2, "b")]), t)
        rollback_iceberg(spark, t, first)
        meta = load_table_metadata(t)
        log = meta["snapshot-log"]
        assert len(log) == 3
        assert log[-1]["snapshot-id"] == meta["current-snapshot-id"]
        assert log[-1]["timestamp-ms"] > log[-2]["timestamp-ms"]

    def test_fixed_clock_keeps_log_chronological(
        self, spark, tmp_path
    ):
        # a FIXED clock (or a wall-clock step backwards) must never
        # produce a decreasing snapshot-log: snapshot_timestamp_ms
        # floors at the newest existing stamp
        set_clock(lambda: 5_000_000)
        try:
            t = str(tmp_path / "tbl")
            write_iceberg_commit(_rows(spark, [(1, "a")]), t)
            set_clock(lambda: 4_000_000)  # clock regressed
            write_iceberg_commit(_rows(spark, [(2, "b")]), t)
        finally:
            set_clock(None)
        log = load_table_metadata(t)["snapshot-log"]
        assert log[0]["timestamp-ms"] == 5_000_000
        assert log[1]["timestamp-ms"] == 5_000_000  # floored, not 4M

    def test_wall_clock_default(self, spark, tmp_path):
        # without injection the stamp is real wall time
        import time

        t = str(tmp_path / "tbl")
        before = int(time.time() * 1000)
        write_iceberg_commit(_rows(spark, [(1, "a")]), t)
        after = int(time.time() * 1000)
        ts = load_table_metadata(t)["snapshots"][-1]["timestamp-ms"]
        assert before <= ts <= after


class TestResolution:
    def _mk(self, spark, t):
        # snapshots at 1_000_000 / 2_000_000 / 3_000_000
        write_iceberg_commit(_rows(spark, [(1, "a")]), t)
        write_iceberg_commit(_rows(spark, [(2, "b")]), t)
        write_iceberg_commit(_rows(spark, [(3, "c")]), t)
        return load_table_metadata(t)

    def test_latest_at_or_before(self, spark, tmp_path, stepping_clock):
        t = str(tmp_path / "tbl")
        meta = self._mk(spark, t)
        ids = [s["snapshot-id"] for s in meta["snapshots"]]
        assert resolve_iceberg_timestamp(meta, 2_500_000) == ids[1]
        # boundary: a snapshot exactly AT the timestamp is included
        assert resolve_iceberg_timestamp(meta, 2_000_000) == ids[1]
        assert resolve_iceberg_timestamp(meta, 1_999_999) == ids[0]
        # past the end of history: clamp to current (Iceberg's rule —
        # unlike Delta reads, which raise)
        assert resolve_iceberg_timestamp(meta, 9_999_999) == ids[2]

    def test_before_first_raises(self, spark, tmp_path, stepping_clock):
        t = str(tmp_path / "tbl")
        meta = self._mk(spark, t)
        with pytest.raises(ValueError, match="older than"):
            resolve_iceberg_timestamp(meta, 999_999)

    def test_iso_string_and_datetime(
        self, spark, tmp_path, stepping_clock
    ):
        import datetime as dt

        t = str(tmp_path / "tbl")
        meta = self._mk(spark, t)
        ids = [s["snapshot-id"] for s in meta["snapshots"]]
        # 2_500s epoch = 1970-01-01T00:41:40Z
        assert (
            resolve_iceberg_timestamp(meta, "1970-01-01T00:41:40")
            == ids[1]
        )
        assert (
            resolve_iceberg_timestamp(
                meta,
                dt.datetime(
                    1970, 1, 1, 0, 41, 40, tzinfo=dt.timezone.utc
                ),
            )
            == ids[1]
        )

    def test_external_metadata_without_snapshot_log(
        self, spark, tmp_path, stepping_clock
    ):
        # externally-written metadata may omit snapshot-log: resolve
        # falls back to the snapshots' own timestamp-ms stamps
        t = str(tmp_path / "tbl")
        self._mk(spark, t)
        hint = os.path.join(t, "metadata", "version-hint.text")
        md = os.path.join(
            t, "metadata", "v%d.metadata.json" % int(open(hint).read())
        )
        meta = json.loads(open(md).read())
        del meta["snapshot-log"]
        with open(md, "w") as f:
            f.write(json.dumps(meta))
        meta = load_table_metadata(t)
        ids = [s["snapshot-id"] for s in meta["snapshots"]]
        assert resolve_iceberg_timestamp(meta, 2_500_000) == ids[1]

    def test_read_as_of_timestamp(self, spark, tmp_path, stepping_clock):
        t = str(tmp_path / "tbl")
        self._mk(spark, t)
        got = sorted(
            r.k
            for r in read_iceberg(
                spark, t, as_of_timestamp=2_500_000
            ).collect()
        )
        assert got == [1, 2]
        with pytest.raises(ValueError, match="mutually exclusive"):
            read_iceberg(
                spark, t, snapshot_id=1, as_of_timestamp=2_500_000
            )


class TestAgeExpiration:
    def test_older_than_expires_and_trims_log(
        self, spark, tmp_path, stepping_clock
    ):
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a")]), t)  # 1M
        write_iceberg_commit(_rows(spark, [(2, "b")]), t)  # 2M
        write_iceberg_commit(_rows(spark, [(3, "c")]), t)  # 3M
        gone = expire_iceberg_snapshots(
            spark, t, keep_last=1, older_than=2_500_000
        )
        assert gone  # the first two snapshots' exclusive files
        meta = load_table_metadata(t)
        stamps = [s["timestamp-ms"] for s in meta["snapshots"]]
        assert stamps == [3_000_000]
        assert [e["timestamp-ms"] for e in meta["snapshot-log"]] == [
            3_000_000
        ]
        # timestamp travel into the expired range now fails cleanly
        with pytest.raises(ValueError, match="older than"):
            resolve_iceberg_timestamp(meta, 2_500_000)

    def test_retain_last_overrides_age(
        self, spark, tmp_path, stepping_clock
    ):
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a")]), t)
        write_iceberg_commit(_rows(spark, [(2, "b")]), t)
        write_iceberg_commit(_rows(spark, [(3, "c")]), t)
        # cutoff after everything, but keep_last=2 retains the newest 2
        expire_iceberg_snapshots(
            spark, t, keep_last=2, older_than=9_999_999
        )
        meta = load_table_metadata(t)
        assert [s["timestamp-ms"] for s in meta["snapshots"]] == [
            2_000_000,
            3_000_000,
        ]

    def test_nothing_old_enough_is_noop(
        self, spark, tmp_path, stepping_clock
    ):
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a")]), t)
        write_iceberg_commit(_rows(spark, [(2, "b")]), t)
        hint = os.path.join(t, "metadata", "version-hint.text")
        v0 = int(open(hint).read())
        assert (
            expire_iceberg_snapshots(
                spark, t, keep_last=1, older_than=500_000
            )
            == []
        )
        assert int(open(hint).read()) == v0  # no version burned
