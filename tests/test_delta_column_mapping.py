"""Delta column mapping (sources/delta.py): reader-version-2 tables
whose parquet files use physical column names
(``delta.columnMapping.physicalName``) translate back to the logical
schema; partitionValues and stats are keyed by physical names. Tables
asking for features this reader does NOT know still guard-raise
(VERDICT r4 item 5)."""

from __future__ import annotations

import json
import os

import pytest

from optimus_any2any_spark.sources.delta import read_delta, replay_log

PHYS_K = "col-9a1f0e2d"
PHYS_V = "col-7b3c5a88"
PHYS_D = "col-1e4f6c77"


def _schema_string(with_partition=False, nested_mapped=False):
    fields = [
        {
            "name": "k",
            "type": "long",
            "nullable": True,
            "metadata": {
                "delta.columnMapping.id": 1,
                "delta.columnMapping.physicalName": PHYS_K,
            },
        },
        {
            "name": "v",
            "type": "string",
            "nullable": True,
            "metadata": {
                "delta.columnMapping.id": 2,
                "delta.columnMapping.physicalName": PHYS_V,
            },
        },
    ]
    if with_partition:
        fields.append(
            {
                "name": "d",
                "type": "string",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 3,
                    "delta.columnMapping.physicalName": PHYS_D,
                },
            }
        )
    if nested_mapped:
        fields.append(
            {
                "name": "m",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 4,
                    "delta.columnMapping.physicalName": "col-m",
                },
                "type": {
                    "type": "struct",
                    "fields": [
                        {
                            "name": "x",
                            "type": "long",
                            "nullable": True,
                            "metadata": {
                                "delta.columnMapping.id": 5,
                                "delta.columnMapping.physicalName":
                                    "col-x",
                            },
                        }
                    ],
                },
            }
        )
    return json.dumps({"type": "struct", "fields": fields})


def _commit(log, version, actions):
    os.makedirs(log, exist_ok=True)
    with open(os.path.join(log, "%020d.json" % version), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")


def _write_mapped_table(spark, t, partitioned=False, nested=False):
    """A name-mapped table the way a current Delta writer lays it out:
    physical column names in the parquet, logical names only in the
    schemaString."""
    os.makedirs(t, exist_ok=True)
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "cm-test",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": _schema_string(
                    with_partition=partitioned, nested_mapped=nested
                ),
                "partitionColumns": ["d"] if partitioned else [],
                "configuration": {
                    "delta.columnMapping.mode": "name",
                    "delta.columnMapping.maxColumnId": "5",
                },
            }
        },
    ]
    groups = (
        [("d1", [(1, "a"), (2, "b")]), ("d2", [(3, "c")])]
        if partitioned
        else [(None, [(1, "a"), (2, "b"), (3, "c")])]
    )
    import glob as _glob
    import shutil

    for gi, (d, rows) in enumerate(groups):
        df = spark.createDataFrame(
            rows, f"`{PHYS_K}` long, `{PHYS_V}` string"
        )
        tmp = os.path.join(t, f"_tmp{gi}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        rel = f"part-0000{gi}-mapped.parquet"
        os.replace(
            _glob.glob(os.path.join(tmp, "part-*.parquet"))[0],
            os.path.join(t, rel),
        )
        shutil.rmtree(tmp)
        ks = [r[0] for r in rows]
        add = {
            "path": rel,
            "partitionValues": {PHYS_D: d} if partitioned else {},
            "size": os.path.getsize(os.path.join(t, rel)),
            "modificationTime": 0,
            "dataChange": True,
            "stats": json.dumps(
                {
                    "numRecords": len(rows),
                    "minValues": {PHYS_K: min(ks)},
                    "maxValues": {PHYS_K: max(ks)},
                    "nullCount": {PHYS_K: 0},
                }
            ),
        }
        actions.append({"add": add})
    _commit(os.path.join(t, "_delta_log"), 0, actions)


class TestColumnMappingRead:
    def test_logical_names_come_back(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        _write_mapped_table(spark, t)
        df = read_delta(spark, t)
        assert sorted(df.columns) == ["k", "v"]
        assert sorted((r.k, r.v) for r in df.collect()) == [
            (1, "a"), (2, "b"), (3, "c"),
        ]

    def test_partition_values_translate(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        _write_mapped_table(spark, t, partitioned=True)
        df = read_delta(spark, t)
        assert sorted((r.k, r.d) for r in df.collect()) == [
            (1, "d1"), (2, "d1"), (3, "d2"),
        ]

    def test_key_range_skips_on_physical_stats(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        _write_mapped_table(spark, t, partitioned=True)
        # d1 file holds k in [1,2]; d2 file k=3 — range [3,9] must
        # prune the d1 file via the PHYSICAL-keyed stats
        df = read_delta(spark, t, key_range=("k", 3, 9))
        files = {
            os.path.basename(f)
            for f in df.inputFiles()
        }
        assert files == {"part-00001-mapped.parquet"}
        assert [r.k for r in df.collect()] == [3]

    def test_replay_log_accepts_v2_mapped(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        _write_mapped_table(spark, t)
        state = replay_log(spark, t)
        assert len(state["live"]) == 1


class TestGuards:
    def test_v2_without_mapping_rejected(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        os.makedirs(t)
        _commit(
            os.path.join(t, "_delta_log"),
            0,
            [
                {"protocol": {"minReaderVersion": 2,
                              "minWriterVersion": 5}},
                {
                    "metaData": {
                        "id": "x",
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": json.dumps(
                            {"type": "struct", "fields": []}
                        ),
                        "partitionColumns": [],
                        "configuration": {},
                    }
                },
            ],
        )
        with pytest.raises(NotImplementedError, match="columnMapping"):
            read_delta(spark, t)

    def test_v3_still_rejected(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        os.makedirs(t)
        _commit(
            os.path.join(t, "_delta_log"),
            0,
            [
                {"protocol": {"minReaderVersion": 3,
                              "minWriterVersion": 7}},
                {
                    "metaData": {
                        "id": "x",
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": json.dumps(
                            {"type": "struct", "fields": []}
                        ),
                        "partitionColumns": [],
                        "configuration": {},
                    }
                },
            ],
        )
        with pytest.raises(NotImplementedError, match="reader version"):
            read_delta(spark, t)

    def test_nested_mapping_reads_logical(self, spark, tmp_path):
        # the nested mapped column is declared in the schema but
        # absent from the data files: reads surface it as null under
        # its LOGICAL name (schema'd parquet read + positional cast)
        t = str(tmp_path / "tbl")
        _write_mapped_table(spark, t, nested=True)
        out = read_delta(spark, t)
        assert set(out.columns) == {"k", "v", "m"}
        assert out.schema["m"].dataType.fieldNames() == ["x"]
        rows = sorted(
            (r.k, r.v, r.m) for r in out.collect()
        )
        assert rows == [(1, "a", None), (2, "b", None), (3, "c", None)]

    def test_unmapped_batch_mismatch_still_raises(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            merge_delta_batch,
        )

        t = str(tmp_path / "tbl")
        _write_mapped_table_ts(spark, t)
        batch = spark.createDataFrame(
            [(9, "z", 0, "extra")], "k long, v string, ts long, e string"
        )
        # without merge_schema the column mismatch is an error, mapped
        # or not
        with pytest.raises(ValueError, match="merge_schema"):
            merge_delta_batch(spark, batch, t, "k", "ts")


PHYS_T = "col-5d2ea9bc"


def _write_mapped_table_ts(spark, t, partitioned=False):
    """A name-mapped (k, v, ts[, d]) table — physical parquet names,
    logical schemaString — for exercising the WRITE paths."""
    import glob as _glob
    import shutil

    os.makedirs(t, exist_ok=True)
    fields = [
        {
            "name": n,
            "type": ty,
            "nullable": True,
            "metadata": {
                "delta.columnMapping.id": i + 1,
                "delta.columnMapping.physicalName": pn,
            },
        }
        for i, (n, ty, pn) in enumerate(
            [("k", "long", PHYS_K), ("v", "string", PHYS_V),
             ("ts", "long", PHYS_T)]
            + ([("d", "string", PHYS_D)] if partitioned else [])
        )
    ]
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "cm-w-test",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(
                    {"type": "struct", "fields": fields}
                ),
                "partitionColumns": ["d"] if partitioned else [],
                "configuration": {
                    "delta.columnMapping.mode": "name",
                    "delta.columnMapping.maxColumnId": "4",
                },
            }
        },
    ]
    groups = (
        [("d1", [(1, "a"), (2, "b")]), ("d2", [(3, "c")])]
        if partitioned
        else [(None, [(1, "a"), (2, "b"), (3, "c")])]
    )
    for gi, (d, rows) in enumerate(groups):
        df = spark.createDataFrame(
            [(k, v, 0) for k, v in rows],
            f"`{PHYS_K}` long, `{PHYS_V}` string, `{PHYS_T}` long",
        )
        tmp = os.path.join(t, f"_tmp{gi}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        rel = f"part-0000{gi}-mapped.parquet"
        os.replace(
            _glob.glob(os.path.join(tmp, "part-*.parquet"))[0],
            os.path.join(t, rel),
        )
        shutil.rmtree(tmp)
        ks = [r[0] for r in rows]
        actions.append(
            {
                "add": {
                    "path": rel,
                    "partitionValues": {PHYS_D: d} if partitioned else {},
                    "size": os.path.getsize(os.path.join(t, rel)),
                    "modificationTime": 0,
                    "dataChange": True,
                    "stats": json.dumps(
                        {
                            "numRecords": len(rows),
                            "minValues": {PHYS_K: min(ks)},
                            "maxValues": {PHYS_K: max(ks)},
                            "nullCount": {PHYS_K: 0},
                        }
                    ),
                }
            }
        )
    _commit(os.path.join(t, "_delta_log"), 0, actions)


def _snap_kv(spark, t):
    return sorted((r.k, r.v) for r in read_delta(spark, t).collect())


def _last_adds(t):
    log = os.path.join(t, "_delta_log")
    last = sorted(os.listdir(log))[-1]
    adds = []
    for line in open(os.path.join(log, last)):
        a = json.loads(line)
        if a.get("add"):
            adds.append(a["add"])
    return adds


class TestColumnMappingWrites:
    """Writers over name-mapped tables (VERDICT r5 item 7): internal
    algebra stays logical; parquet names, add-action stats keys, and
    partitionValues translate to physical at the storage boundary."""

    def test_merge_upsert_mapped(self, spark, tmp_path):
        import pyarrow.parquet as pq

        from optimus_any2any_spark.streaming.delta_table import (
            merge_delta_batch,
        )

        t = str(tmp_path / "tbl")
        _write_mapped_table_ts(spark, t)
        merge_delta_batch(
            spark,
            spark.createDataFrame(
                [(2, "B", 1), (9, "z", 1)],
                "k long, v string, ts long",
            ),
            t, "k", "ts",
        )
        assert _snap_kv(spark, t) == [
            (1, "a"), (2, "B"), (3, "c"), (9, "z"),
        ]
        adds = _last_adds(t)
        assert adds
        for add in adds:
            st = json.loads(add["stats"])
            assert PHYS_K in st["minValues"]  # stats keyed physically
            assert "k" not in st["minValues"]
            cols = pq.read_schema(os.path.join(t, add["path"])).names
            assert PHYS_K in cols and "k" not in cols

    def test_cow_delete_mapped(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            delete_delta_keys,
        )

        t = str(tmp_path / "tbl")
        _write_mapped_table_ts(spark, t)
        delete_delta_keys(
            spark, t, "k", spark.createDataFrame([(2,)], "k long")
        )
        assert _snap_kv(spark, t) == [(1, "a"), (3, "c")]

    def test_compact_mapped(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            compact_delta,
            merge_delta_batch,
        )

        t = str(tmp_path / "tbl")
        _write_mapped_table_ts(spark, t)
        merge_delta_batch(
            spark,
            spark.createDataFrame(
                [(9, "z", 1)], "k long, v string, ts long"
            ),
            t, "k", "ts",
        )
        v = compact_delta(spark, t, key_col="k")
        assert v is not None
        assert _snap_kv(spark, t) == [
            (1, "a"), (2, "b"), (3, "c"), (9, "z"),
        ]
        # post-compaction merge must still prune on the physical stats
        merge_delta_batch(
            spark,
            spark.createDataFrame(
                [(1, "A", 2)], "k long, v string, ts long"
            ),
            t, "k", "ts",
        )
        assert _snap_kv(spark, t) == [
            (1, "A"), (2, "b"), (3, "c"), (9, "z"),
        ]

    def test_dv_delete_and_cdf_mapped(self, spark, tmp_path):
        from optimus_any2any_spark.sources.delta import read_delta_cdf
        from optimus_any2any_spark.streaming.delta_table import (
            delete_delta_keys,
            purge_deletion_vectors,
        )

        t = str(tmp_path / "tbl")
        _write_mapped_table_ts(spark, t)
        v = delete_delta_keys(
            spark, t, "k", spark.createDataFrame([(1,)], "k long"),
            use_deletion_vectors=True, change_data=True,
        )
        assert _snap_kv(spark, t) == [(2, "b"), (3, "c")]
        ch = read_delta_cdf(spark, t, v - 1, v).collect()
        assert [(r.k, r.v, r._change_type) for r in ch] == [
            (1, "a", "delete")
        ]
        # purge converts the DV back to clean files, still logical
        assert purge_deletion_vectors(spark, t, key_col="k") is not None
        assert _snap_kv(spark, t) == [(2, "b"), (3, "c")]

    def test_partitioned_merge_mapped(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            merge_delta_batch,
            write_delta_commit,
        )

        t = str(tmp_path / "tbl")
        _write_mapped_table_ts(spark, t, partitioned=True)
        merge_delta_batch(
            spark,
            spark.createDataFrame(
                [(1, "A", 1, "d1"), (9, "z", 1, "d2")],
                "k long, v string, ts long, d string",
            ),
            t, "k", "ts",
        )
        got = sorted(
            (r.k, r.v, r.d) for r in read_delta(spark, t).collect()
        )
        assert got == [
            (1, "A", "d1"), (2, "b", "d1"), (3, "c", "d2"),
            (9, "z", "d2"),
        ]
        for add in _last_adds(t):
            pv = add["partitionValues"]
            assert set(pv) == {PHYS_D}  # keyed physically
        # an APPEND writes physical names too
        write_delta_commit(
            spark.createDataFrame(
                [(4, "d", 2, "d2"), (5, "e", 2, "d3")],
                "k long, v string, ts long, d string",
            ),
            t,
        )
        got = sorted(
            (r.k, r.v, r.d) for r in read_delta(spark, t).collect()
        )
        assert got == [
            (1, "A", "d1"), (2, "b", "d1"), (3, "c", "d2"),
            (4, "d", "d2"), (5, "e", "d3"), (9, "z", "d2"),
        ]
        for add in _last_adds(t):
            assert set(add["partitionValues"]) == {PHYS_D}
            assert PHYS_K in json.loads(add["stats"])["minValues"]


PHYS_M, PHYS_X = "col-m-77aa", "col-x-33bb"


def _write_nested_mapped_table(spark, t):
    """(k, v, ts, m struct<x>) — EVERY level name-mapped, physical
    names in the parquet at every depth, like delta-spark lays out
    mode=name tables with struct columns."""
    import glob as _glob
    import shutil

    os.makedirs(t, exist_ok=True)
    fields = [
        {"name": "k", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": PHYS_K}},
        {"name": "v", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": PHYS_V}},
        {"name": "ts", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 3,
                      "delta.columnMapping.physicalName": PHYS_T}},
        {
            "name": "m",
            "nullable": True,
            "metadata": {"delta.columnMapping.id": 4,
                         "delta.columnMapping.physicalName": PHYS_M},
            "type": {
                "type": "struct",
                "fields": [
                    {"name": "x", "type": "long", "nullable": True,
                     "metadata": {
                         "delta.columnMapping.id": 5,
                         "delta.columnMapping.physicalName": PHYS_X,
                     }}
                ],
            },
        },
    ]
    df = spark.createDataFrame(
        [(1, "a", 0, (10,)), (2, "b", 0, (20,))],
        f"`{PHYS_K}` long, `{PHYS_V}` string, `{PHYS_T}` long, "
        f"`{PHYS_M}` struct<`{PHYS_X}`: long>",
    )
    tmp = os.path.join(t, "_tmp0")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    rel = "part-00000-nested.parquet"
    os.replace(
        _glob.glob(os.path.join(tmp, "part-*.parquet"))[0],
        os.path.join(t, rel),
    )
    shutil.rmtree(tmp)
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "cm-nested",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(
                    {"type": "struct", "fields": fields}
                ),
                "partitionColumns": [],
                "configuration": {
                    "delta.columnMapping.mode": "name",
                    "delta.columnMapping.maxColumnId": "5",
                },
            }
        },
        {
            "add": {
                "path": rel,
                "partitionValues": {},
                "size": os.path.getsize(os.path.join(t, rel)),
                "modificationTime": 0,
                "dataChange": True,
            }
        },
    ]
    _commit(os.path.join(t, "_delta_log"), 0, actions)


class TestNestedColumnMapping:
    """Name mapping on NESTED fields: parquet carries physical names
    at every depth; reads/writes translate with ONE positional struct
    cast per column (Spark struct casts match by position)."""

    def test_nested_read_logical_names_all_levels(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        _write_nested_mapped_table(spark, t)
        out = read_delta(spark, t)
        got = sorted((r.k, r.v, r.m.x) for r in out.collect())
        assert got == [(1, "a", 10), (2, "b", 20)]

    def test_nested_merge_and_reread(self, spark, tmp_path):
        import pyarrow.parquet as pq

        from optimus_any2any_spark.streaming.delta_table import (
            merge_delta_batch,
        )

        t = str(tmp_path / "tbl")
        _write_nested_mapped_table(spark, t)
        merge_delta_batch(
            spark,
            spark.createDataFrame(
                [(2, "B", 1, (99,)), (3, "c", 1, (30,))],
                "k long, v string, ts long, m struct<x: long>",
            ),
            t, "k", "ts",
        )
        got = sorted(
            (r.k, r.v, r.m.x) for r in read_delta(spark, t).collect()
        )
        assert got == [(1, "a", 10), (2, "B", 99), (3, "c", 30)]
        # the rewritten parquet carries PHYSICAL names at every level
        adds = _last_adds(t)
        assert adds
        sch = pq.read_schema(os.path.join(t, adds[-1]["path"]))
        assert PHYS_M in sch.names
        mfield = sch.field(PHYS_M)
        assert mfield.type.field(0).name == PHYS_X

    def test_nested_cow_delete(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            delete_delta_keys,
        )

        t = str(tmp_path / "tbl")
        _write_nested_mapped_table(spark, t)
        delete_delta_keys(
            spark, t, "k", spark.createDataFrame([(1,)], "k long")
        )
        got = sorted(
            (r.k, r.m.x) for r in read_delta(spark, t).collect()
        )
        assert got == [(2, 20)]


class TestMappedIncrementalReads:
    def test_appends_read_logical_not_null(self, spark, tmp_path):
        """A logical-schema'd parquet read over physical-named files
        silently returns null columns — the append tail must read
        physical and cast back (same boundary as read_delta)."""
        from optimus_any2any_spark.sources.delta import (
            read_delta_appends,
        )
        from optimus_any2any_spark.streaming.delta_table import (
            merge_delta_batch,
        )

        t = str(tmp_path / "tbl")
        _write_mapped_table_ts(spark, t)
        v = merge_delta_batch(
            spark,
            spark.createDataFrame(
                [(9, "z", 1)], "k long, v string, ts long"
            ),
            t, "k", "ts",
        )
        got = sorted(
            (r.k, r.v)
            for r in read_delta_appends(spark, t, v - 1, v).collect()
        )
        assert got == [(9, "z")]

    def test_cdf_over_mapped_update(self, spark, tmp_path):
        from optimus_any2any_spark.sources.delta import read_delta_cdf
        from optimus_any2any_spark.streaming.delta_table import (
            merge_delta_batch,
        )

        t = str(tmp_path / "tbl")
        _write_mapped_table_ts(spark, t)
        v = merge_delta_batch(
            spark,
            spark.createDataFrame(
                [(2, "B", 1)], "k long, v string, ts long"
            ),
            t, "k", "ts", change_data=True,
        )
        ch = sorted(
            (r.k, r.v, r._change_type)
            for r in read_delta_cdf(spark, t, v - 1, v).collect()
        )
        assert ch == [
            (2, "B", "update_postimage"), (2, "b", "update_preimage"),
        ]


class TestMappedSchemaEvolution:
    """mergeSchema over a column-mapped table (VERDICT r7 item 1):
    added columns get fresh physicalName/column-id metadata under
    maxColumnId bookkeeping; time travel keeps the old schema."""

    def _evolve(self, spark, t, rows=((9, "z", 1, "extra"),)):
        from optimus_any2any_spark.streaming.delta_table import (
            merge_delta_batch,
        )

        return merge_delta_batch(
            spark,
            spark.createDataFrame(
                list(rows), "k long, v string, ts long, e string"
            ),
            t, "k", "ts", merge_schema=True,
        )

    def _meta(self, t):
        log = os.path.join(t, "_delta_log")
        meta = None
        for name in sorted(os.listdir(log)):
            if not name.endswith(".json"):
                continue
            for line in open(os.path.join(log, name)):
                a = json.loads(line)
                if a.get("metaData"):
                    meta = a["metaData"]
        return meta

    def test_evolve_mints_metadata_and_reads_back(self, spark, tmp_path):
        import pyarrow.parquet as pq

        t = str(tmp_path / "tbl")
        _write_mapped_table_ts(spark, t)
        self._evolve(spark, t)
        meta = self._meta(t)
        fields = {
            f["name"]: f
            for f in json.loads(meta["schemaString"])["fields"]
        }
        # existing fields keep their metadata untouched
        assert fields["k"]["metadata"][
            "delta.columnMapping.physicalName"
        ] == PHYS_K
        e_md = fields["e"]["metadata"]
        assert e_md["delta.columnMapping.id"] == 5  # maxColumnId was 4
        assert e_md["delta.columnMapping.physicalName"].startswith("col-")
        assert meta["configuration"][
            "delta.columnMapping.maxColumnId"
        ] == "5"
        # the new file carries PHYSICAL names only
        adds = _last_adds(t)
        assert adds
        phys_e = e_md["delta.columnMapping.physicalName"]
        for add in adds:
            cols = pq.read_schema(os.path.join(t, add["path"])).names
            assert phys_e in cols and "e" not in cols
        # logical read: old rows null-fill the new column
        out = sorted(
            (r.k, r.v, r.e) for r in read_delta(spark, t).collect()
        )
        assert out == [
            (1, "a", None), (2, "b", None), (3, "c", None),
            (9, "z", "extra"),
        ]

    def test_time_travel_keeps_old_schema(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        _write_mapped_table_ts(spark, t)
        self._evolve(spark, t)
        old = read_delta(spark, t, version=0)
        assert sorted(old.columns) == ["k", "ts", "v"]

    def test_second_evolution_never_reuses_ids(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            merge_delta_batch,
        )

        t = str(tmp_path / "tbl")
        _write_mapped_table_ts(spark, t)
        self._evolve(spark, t)
        merge_delta_batch(
            spark,
            spark.createDataFrame(
                [(10, "y", 2, "x2", 7)],
                "k long, v string, ts long, e string, n long",
            ),
            t, "k", "ts", merge_schema=True,
        )
        meta = self._meta(t)
        fields = {
            f["name"]: f
            for f in json.loads(meta["schemaString"])["fields"]
        }
        ids = [
            f["metadata"]["delta.columnMapping.id"]
            for f in fields.values()
        ]
        assert len(set(ids)) == len(ids)  # no id reuse
        assert fields["n"]["metadata"]["delta.columnMapping.id"] == 6
        assert meta["configuration"][
            "delta.columnMapping.maxColumnId"
        ] == "6"
        out = sorted(
            (r.k, r.e, r.n) for r in read_delta(spark, t).collect()
        )
        assert out == [
            (1, None, None), (2, None, None), (3, None, None),
            (9, "extra", None), (10, "x2", 7),
        ]

    def test_evolve_nested_struct_column(self, spark, tmp_path):
        from pyspark.sql import types as T

        from optimus_any2any_spark.streaming.delta_table import (
            merge_delta_batch,
        )

        t = str(tmp_path / "tbl")
        _write_mapped_table_ts(spark, t)
        batch_schema = T.StructType([
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("ts", T.LongType()),
            T.StructField("m", T.StructType([
                T.StructField("x", T.LongType()),
                T.StructField("y", T.StringType()),
            ])),
        ])
        merge_delta_batch(
            spark,
            spark.createDataFrame([(9, "z", 1, (5, "in"))], batch_schema),
            t, "k", "ts", merge_schema=True,
        )
        meta = self._meta(t)
        fields = {
            f["name"]: f
            for f in json.loads(meta["schemaString"])["fields"]
        }
        m = fields["m"]
        # every nesting level minted: m itself + x + y
        minted = [m["metadata"]["delta.columnMapping.id"]] + [
            sf["metadata"]["delta.columnMapping.id"]
            for sf in m["type"]["fields"]
        ]
        assert sorted(minted) == [5, 6, 7]
        assert all(
            sf["metadata"]["delta.columnMapping.physicalName"].startswith(
                "col-"
            )
            for sf in m["type"]["fields"]
        )
        assert meta["configuration"][
            "delta.columnMapping.maxColumnId"
        ] == "7"
        out = {r.k: r.m for r in read_delta(spark, t).collect()}
        assert out[1] is None
        assert (out[9].x, out[9].y) == (5, "in")

    def test_evolved_then_cow_delete(self, spark, tmp_path):
        # later writers must handle the evolved mapping transparently
        from optimus_any2any_spark.streaming.delta_table import (
            delete_delta_keys,
        )

        t = str(tmp_path / "tbl")
        _write_mapped_table_ts(spark, t)
        self._evolve(spark, t)
        delete_delta_keys(
            spark, t, "k", spark.createDataFrame([(2,), (9,)], "k long")
        )
        out = sorted(
            (r.k, r.e) for r in read_delta(spark, t).collect()
        )
        assert out == [(1, None), (3, None)]

    def test_empty_batch_still_evolves_schema(self, spark, tmp_path):
        # delta-spark withSchemaEvolution() parity: a widening merge
        # whose batch has zero rows is STILL a schema-change commit —
        # the table must gain the new column (VERDICT r8 item 1; the
        # degenerate-input sweep caught the old early-return skipping
        # the metaData commit)
        t = str(tmp_path / "tbl")
        _write_mapped_table_ts(spark, t)
        v = self._evolve(spark, t, rows=())
        assert v == 1  # a real commit, not the idempotent no-op path
        meta = self._meta(t)
        fields = {
            f["name"]: f
            for f in json.loads(meta["schemaString"])["fields"]
        }
        assert "e" in fields
        assert fields["e"]["metadata"][
            "delta.columnMapping.id"
        ] == 5
        snap = read_delta(spark, t)
        assert "e" in snap.columns
        assert [r.e for r in snap.collect()] == [None, None, None]

    def test_empty_batch_evolution_unmapped(self, spark, tmp_path):
        # same contract on a plain (unmapped) table
        from optimus_any2any_spark.streaming.delta_table import (
            merge_delta_batch,
        )

        t = str(tmp_path / "plain")
        merge_delta_batch(
            spark,
            spark.createDataFrame(
                [(1, "a", 1)], "k long, v string, ts long"
            ),
            t, "k", "ts",
        )
        empty = spark.createDataFrame(
            [], "k long, v string, ts long, e string"
        )
        merge_delta_batch(spark, empty, t, "k", "ts", merge_schema=True)
        snap = read_delta(spark, t)
        assert sorted(snap.columns) == ["e", "k", "ts", "v"]
        assert [(r.k, r.e) for r in snap.collect()] == [(1, None)]
