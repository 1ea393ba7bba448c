"""Iceberg table as a readStream source (sources/iceberg_stream.py):
snapshot-ordinal offsets, incremental micro-batches, append contract."""

from __future__ import annotations

import time

import pytest

from optimus_any2any_spark.streaming.iceberg_table import write_iceberg_commit
from optimus_any2any_spark.sources.iceberg_stream import (
    IcebergTailDataSource,
)


def _rows(spark, vals):
    return spark.createDataFrame(vals, "id long, v string")


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(IcebergTailDataSource)
    return spark


def _run_available(spark, t, ckpt, out):
    q = (
        spark.readStream.format("iceberg_tail")
        .option("path", t)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    time.sleep(0.2)


class TestIcebergTailSource:
    def test_incremental_snapshots_across_runs(self, registered, tmp_path):
        spark = registered
        t = str(tmp_path / "tbl")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        write_iceberg_commit(_rows(spark, [(1, "a")]), t)
        write_iceberg_commit(_rows(spark, [(2, "b")]), t)
        _run_available(spark, t, ckpt, out)
        got = sorted(
            (r.id, r.v) for r in spark.read.parquet(out).collect()
        )
        assert got == [(1, "a"), (2, "b")]
        write_iceberg_commit(_rows(spark, [(3, "c")]), t)
        _run_available(spark, t, ckpt, out)
        got = sorted(
            (r.id, r.v) for r in spark.read.parquet(out).collect()
        )
        assert got == [(1, "a"), (2, "b"), (3, "c")]

    def test_starting_snapshot_skips_history(self, registered, tmp_path):
        spark = registered
        t = str(tmp_path / "tbl")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        write_iceberg_commit(_rows(spark, [(1, "a")]), t)
        write_iceberg_commit(_rows(spark, [(2, "b")]), t)
        q = (
            spark.readStream.format("iceberg_tail")
            .option("path", t)
            .option("startingSnapshotId", 1)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        import time as _t

        _t.sleep(0.2)
        got = [(r.id, r.v) for r in spark.read.parquet(out).collect()]
        assert got == [(2, "b")]

    def test_overwrite_snapshot_fails_stream(self, registered, tmp_path):
        from optimus_any2any_spark.streaming.iceberg_table import (
            merge_iceberg_batch,
        )

        spark = registered
        t = str(tmp_path / "tbl")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        kv = spark.createDataFrame([(1, "a", 0)], "k long, v string, ts long")
        merge_iceberg_batch(spark, kv, t, "k", "ts")
        kv2 = spark.createDataFrame(
            [(1, "A", 1)], "k long, v string, ts long"
        )
        merge_iceberg_batch(spark, kv2, t, "k", "ts")  # overwrite snap
        q = (
            spark.readStream.format("iceberg_tail")
            .option("path", t)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(Exception, match="append stream contract"):
            q.awaitTermination(120)
            if q.exception() is not None:
                raise q.exception()


class TestSnapshotIdOffsets:
    """Offsets are keyed by snapshot-id, not lineage position — stable
    under snapshot expiration; an id gone from the lineage raises
    instead of silently re-delivering/skipping (ADVICE r4)."""

    def test_offsets_carry_snapshot_ids(self, registered, tmp_path):
        from optimus_any2any_spark.sources.iceberg_stream import (
            IcebergTailStreamReader,
        )

        spark = registered
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a")]), t)
        write_iceberg_commit(_rows(spark, [(2, "b")]), t)
        rdr = IcebergTailStreamReader.__new__(IcebergTailStreamReader)
        rdr.table_path = t
        rdr.start_sid = None
        assert rdr.initialOffset() == {"sid": None}
        latest = rdr.latestOffset()
        assert isinstance(latest["sid"], int)
        # full window: both snapshots' files
        full = rdr.partitions({"sid": None}, latest)
        assert len(full) >= 2
        # resuming AT the latest id yields an empty window
        assert rdr.partitions(latest, latest) == []

    def test_expired_snapshot_id_raises(self, registered, tmp_path):
        from optimus_any2any_spark.sources.iceberg_stream import (
            IcebergTailStreamReader,
        )

        spark = registered
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a")]), t)
        rdr = IcebergTailStreamReader.__new__(IcebergTailStreamReader)
        rdr.table_path = t
        rdr.start_sid = None
        latest = rdr.latestOffset()
        gone = {"sid": 999999999}  # never in the lineage
        with pytest.raises(ValueError, match="no longer in the table"):
            rdr.partitions(gone, latest)

    def test_legacy_positional_offsets_still_accepted(
        self, registered, tmp_path
    ):
        from optimus_any2any_spark.sources.iceberg_stream import (
            IcebergTailStreamReader,
        )

        spark = registered
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a")]), t)
        write_iceberg_commit(_rows(spark, [(2, "b")]), t)
        rdr = IcebergTailStreamReader.__new__(IcebergTailStreamReader)
        rdr.table_path = t
        rdr.start_sid = None
        latest = rdr.latestOffset()
        full = rdr.partitions({"sid": None}, latest)
        part = rdr.partitions({"pos": 1}, latest)  # skip snapshot 1
        assert 0 < len(part) < len(full)


class TestIcebergChangesSource:
    """iceberg_changes: streaming CDC over the snapshot lineage — the
    Structured Streaming twin of read_iceberg_changes. Appends emit
    INSERTs, MoR deletes (eq / positional / Puffin DV) emit DELETE
    pre-images computed purely (pyarrow + Puffin/Roaring codecs) with
    the batch reader's pruning; rewrites fail the stream by name."""

    @pytest.fixture()
    def chg(self, spark):
        from optimus_any2any_spark.sources.iceberg_stream import (
            IcebergChangesDataSource,
        )

        spark.dataSource.register(IcebergChangesDataSource)
        return spark

    def _run(self, spark, t, ckpt, out):
        q = (
            spark.readStream.format("iceberg_changes")
            .option("path", t)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        time.sleep(0.2)

    def test_appends_then_eq_delete_incremental(self, chg, tmp_path):
        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_keys,
        )

        spark = chg
        t = str(tmp_path / "tbl")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        write_iceberg_commit(_rows(spark, [(1, "a"), (2, "b")]), t)
        write_iceberg_commit(_rows(spark, [(3, "c")]), t)
        self._run(spark, t, ckpt, out)
        got = sorted(
            (r._change_type, r.id, r.v)
            for r in spark.read.parquet(out).collect()
        )
        assert got == [
            ("INSERT", 1, "a"), ("INSERT", 2, "b"), ("INSERT", 3, "c"),
        ]
        # second run: only the delete snapshot's changes arrive
        delete_iceberg_keys(
            spark, t, "id", spark.createDataFrame([(2,)], "id long")
        )
        self._run(spark, t, ckpt, out)
        got = sorted(
            (r._change_type, r.id, r.v)
            for r in spark.read.parquet(out).collect()
        )
        assert got == [
            ("DELETE", 2, "b"),
            ("INSERT", 1, "a"), ("INSERT", 2, "b"), ("INSERT", 3, "c"),
        ]

    def test_eq_delete_unknown_field_id_named_refusal(
        self, spark, tmp_path
    ):
        """An equality delete referencing a field id absent from the
        current schema must raise the batch reader's named
        NotImplementedError, not a bare KeyError."""
        import json
        import os

        from optimus_any2any_spark.sources.iceberg_stream import (
            IcebergChangesStreamReader,
        )
        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_keys,
        )

        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a"), (2, "b")]), t)
        delete_iceberg_keys(
            spark, t, "id", spark.createDataFrame([(2,)], "id long")
        )
        # simulate a dropped column: re-id the schema fields so the
        # delete's equality id (1 = "id") no longer resolves
        md = os.path.join(t, "metadata")
        hint = int(open(os.path.join(md, "version-hint.text")).read())
        mpath = os.path.join(md, f"v{hint}.metadata.json")
        meta = json.load(open(mpath))
        schemas = meta.get("schemas") or []
        if meta.get("schema"):
            schemas = schemas + [meta["schema"]]
        for sch in schemas:
            for f in sch["fields"]:
                f["id"] += 100
        json.dump(meta, open(mpath, "w"))
        reader = IcebergChangesStreamReader(None, {"path": t})
        with pytest.raises(
            NotImplementedError, match="unknown field id"
        ):
            reader.partitions(
                reader.initialOffset(), reader.latestOffset()
            )

    def test_dv_delete_and_never_rereport(self, chg, tmp_path):
        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_keys,
            delete_iceberg_positions,
        )

        spark = chg
        t = str(tmp_path / "tbl")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        write_iceberg_commit(
            _rows(spark, [(1, "a"), (2, "b"), (3, "c"), (4, "d")]), t
        )
        delete_iceberg_positions(
            spark, t, "id", spark.createDataFrame([(2,)], "id long"),
            use_deletion_vectors=True,
        )
        # second delete: 2 is already gone and must not re-report
        delete_iceberg_keys(
            spark, t, "id",
            spark.createDataFrame([(2,), (4,)], "id long"),
        )
        self._run(spark, t, ckpt, out)
        got = sorted(
            (r._change_type, r.id, r._change_ordinal)
            for r in spark.read.parquet(out).collect()
        )
        assert got == [
            ("DELETE", 2, 1), ("DELETE", 4, 2),
            ("INSERT", 1, 0), ("INSERT", 2, 0),
            ("INSERT", 3, 0), ("INSERT", 4, 0),
        ]

    def test_matches_batch_changelog(self, chg, tmp_path):
        """Differential: the stream's full-lineage window equals the
        batch read_iceberg_changes row set (append + delete ops)."""
        from optimus_any2any_spark.sources.iceberg import (
            read_iceberg_changes,
        )
        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_keys,
        )

        spark = chg
        t = str(tmp_path / "tbl")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        write_iceberg_commit(
            _rows(spark, [(i, f"v{i}") for i in range(1, 9)]), t
        )
        write_iceberg_commit(_rows(spark, [(9, "v9")]), t)
        delete_iceberg_keys(
            spark, t, "id",
            spark.createDataFrame([(3,), (9,)], "id long"),
        )
        self._run(spark, t, ckpt, out)
        got = sorted(
            (r._change_type, r.id, r.v, r._commit_snapshot_id)
            for r in spark.read.parquet(out).collect()
        )
        exp = sorted(
            (r._change_type, r.id, r.v, r._commit_snapshot_id)
            for r in read_iceberg_changes(spark, t).collect()
        )
        assert got == exp

    def test_rewrite_fails_stream_by_name(self, chg, tmp_path):
        from optimus_any2any_spark.streaming.iceberg_table import (
            merge_iceberg_batch,
        )

        spark = chg
        t = str(tmp_path / "tbl")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        kv = spark.createDataFrame(
            [(1, "a", 0)], "k long, v string, ts long"
        )
        merge_iceberg_batch(spark, kv, t, "k", "ts")
        kv2 = spark.createDataFrame(
            [(1, "A", 1)], "k long, v string, ts long"
        )
        merge_iceberg_batch(spark, kv2, t, "k", "ts")
        q = (
            spark.readStream.format("iceberg_changes")
            .option("path", t)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(Exception, match="batch changelog reader"):
            q.awaitTermination(120)
            if q.exception() is not None:
                raise q.exception()


def test_encrypted_table_refused_by_name(spark, tmp_path):
    """Both streams load metadata through the batch reader's loader,
    so its v3 refusals apply to them too."""
    import json
    import os

    from optimus_any2any_spark.sources.iceberg_stream import (
        IcebergChangesStreamReader,
        IcebergTailStreamReader,
    )

    t = str(tmp_path / "tbl")
    write_iceberg_commit(_rows(spark, [(1, "a")]), t)
    md = os.path.join(t, "metadata", "v1.metadata.json")
    with open(md) as f:
        meta = json.loads(f.read())
    meta["format-version"] = 3
    meta["encryption-keys"] = [{"key-id": "k0"}]
    with open(md, "w") as f:
        f.write(json.dumps(meta))
    for cls in (IcebergTailStreamReader, IcebergChangesStreamReader):
        rdr = cls.__new__(cls)
        rdr.table_path = t
        rdr.start_sid = None
        with pytest.raises(NotImplementedError, match="encryption"):
            rdr.partitions({"sid": None}, {"sid": 1})


def test_source_unpickles_without_the_package(tmp_path):
    """The data-source runner has no package on its path: the pickled
    source must carry every package module it reaches by value. Loads
    it in a fresh interpreter outside the checkout, no PYTHONPATH."""
    import os
    import subprocess
    import sys

    from pyspark import cloudpickle

    blob = tmp_path / "source.pkl"
    blob.write_bytes(cloudpickle.dumps(IcebergTailDataSource))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [
            sys.executable, "-c",
            "import pickle, sys; "
            "pickle.loads(open(sys.argv[1], 'rb').read())",
            str(blob),
        ],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=120,
    )
    assert r.returncode == 0, r.stderr[-2000:]
