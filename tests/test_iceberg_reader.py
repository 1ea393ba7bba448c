"""Iceberg spec reader (sources/iceberg.py) + the stdlib Avro codec it
rides on (formats/avrobin.py), cross-checked against the JVM Avro
library bundled in pyspark's jars."""

from __future__ import annotations

import json
import os

import pytest

from optimus_any2any_spark.formats.avrobin import (
    read_container,
    write_container,
)
from optimus_any2any_spark.sources.iceberg import (
    load_table_metadata,
    read_iceberg,
)
from optimus_any2any_spark.streaming.iceberg_table import write_iceberg_commit


def _rows(spark, vals):
    return spark.createDataFrame(vals, "id long, v string, score double")


def _snap(spark, path, snapshot_id=None):
    return sorted(
        (r.id, r.v, r.score)
        for r in read_iceberg(spark, path, snapshot_id=snapshot_id).collect()
    )


class TestAvroCodec:
    SCHEMA = {
        "type": "record",
        "name": "rec",
        "fields": [
            {"name": "s", "type": "string"},
            {"name": "n", "type": "long"},
            {"name": "maybe", "type": ["null", "double"], "default": None},
            {"name": "tags", "type": {"type": "array", "items": "string"}},
            {"name": "m", "type": ["null", {"type": "map", "values": "long"}],
             "default": None},
            {"name": "b", "type": "bytes"},
            {"name": "ok", "type": "boolean"},
        ],
    }
    RECS = [
        {"s": "héllo", "n": -(2**45), "maybe": 1.25,
         "tags": ["a", "b"], "m": {"x": 1, "y": -2}, "b": b"\x00\xff",
         "ok": True},
        {"s": "", "n": 0, "maybe": None, "tags": [], "m": None, "b": b"",
         "ok": False},
    ]

    def test_python_round_trip(self, tmp_path):
        p = str(tmp_path / "t.avro")
        write_container(p, self.SCHEMA, self.RECS)
        schema, got = read_container(p)
        assert got == self.RECS
        assert schema["name"] == "rec"

    def test_null_codec_round_trip(self, tmp_path):
        p = str(tmp_path / "t.avro")
        write_container(p, self.SCHEMA, self.RECS, codec="null")
        _, got = read_container(p)
        assert got == self.RECS

    def test_jvm_reads_python_written_file(self, spark, tmp_path):
        p = str(tmp_path / "t.avro")
        write_container(p, self.SCHEMA, self.RECS)
        jvm = spark._jvm
        reader = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(p),
            jvm.org.apache.avro.generic.GenericDatumReader(),
        )
        got = []
        while reader.hasNext():
            got.append(json.loads(reader.next().toString()))
        reader.close()
        assert len(got) == 2
        assert got[0]["s"] == "héllo"
        assert got[0]["n"] == -(2**45)
        assert got[0]["m"] == {"x": 1, "y": -2}
        assert got[1]["maybe"] is None and got[1]["ok"] is False

    def test_python_reads_jvm_written_file(self, spark, tmp_path):
        p = str(tmp_path / "jvm.avro")
        jvm = spark._jvm
        schema = jvm.org.apache.avro.Schema.Parser().parse(
            json.dumps(self.SCHEMA)
        )
        writer = jvm.org.apache.avro.file.DataFileWriter(
            jvm.org.apache.avro.generic.GenericDatumWriter(schema)
        )
        # the JVM writer defaults to the null codec; also exercise
        # deflate, which Iceberg manifests commonly use
        writer.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
        writer.create(schema, jvm.java.io.File(p))
        rec = jvm.org.apache.avro.generic.GenericData.Record(schema)
        rec.put("s", "from-jvm")
        rec.put("n", 1234567890123)
        rec.put("maybe", 0.5)
        tags = jvm.java.util.ArrayList()
        tags.add("t1")
        rec.put("tags", tags)
        m = jvm.java.util.HashMap()
        m.put("k", 7)
        rec.put("m", m)
        rec.put("b", jvm.java.nio.ByteBuffer.wrap(bytes([1, 2, 3])))
        rec.put("ok", True)
        writer.append(rec)
        writer.close()
        _, got = read_container(p)
        assert got == [
            {"s": "from-jvm", "n": 1234567890123, "maybe": 0.5,
             "tags": ["t1"], "m": {"k": 7}, "b": b"\x01\x02\x03",
             "ok": True}
        ]


class TestIcebergSnapshots:
    def test_two_appends_accumulate(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a", 0.5)]), t)
        write_iceberg_commit(_rows(spark, [(2, "b", 1.5)]), t)
        assert _snap(spark, t) == [(1, "a", 0.5), (2, "b", 1.5)]

    def test_snapshot_time_travel(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a", 0.5)]), t)
        write_iceberg_commit(_rows(spark, [(2, "b", 1.5)]), t)
        assert _snap(spark, t, snapshot_id=1) == [(1, "a", 0.5)]
        meta = load_table_metadata(t)
        assert [s["snapshot-id"] for s in meta["snapshots"]] == [1, 2]

    def test_unknown_snapshot_rejected(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a", 0.5)]), t)
        with pytest.raises(ValueError, match="snapshot 99"):
            read_iceberg(spark, t, snapshot_id=99)

    def test_typed_schema_from_metadata(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a", 0.5)]), t)
        df = read_iceberg(spark, t)
        assert [f.dataType.simpleString() for f in df.schema.fields] == [
            "bigint", "string", "double",
        ]

    def test_deleted_status_entries_skipped(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a", 0.5)]), t)
        write_iceberg_commit(_rows(spark, [(2, "b", 1.5)]), t)
        # flip the FIRST manifest's entries to status=DELETED in place
        meta = load_table_metadata(t)
        snap = meta["snapshots"][-1]
        from optimus_any2any_spark.sources.iceberg import _localize

        _, manifests = read_container(_localize(t, snap["manifest-list"]))
        first = _localize(t, manifests[0]["manifest_path"])
        schema, entries = read_container(first)
        for e in entries:
            e["status"] = 2
        write_container(first, schema, entries)
        assert _snap(spark, t) == [(2, "b", 1.5)]

    def test_delete_manifest_routes_to_merge_on_read(self, spark, tmp_path):
        # round 5: the SNAPSHOT reader now APPLIES delete manifests
        # (merge-on-read) instead of rejecting them; a data-file entry
        # reached through a content=1 manifest with no equality_ids is
        # treated as a positional delete file, so the data rows it
        # held no longer read as data. The APPEND surfaces still
        # reject (tests/test_iceberg_deletes.py). Here: flipping the
        # only manifest to content=1 leaves the snapshot with zero
        # DATA files -> empty read, not resurrected rows.
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a", 0.5)]), t)
        meta = load_table_metadata(t)
        snap = meta["snapshots"][-1]
        from optimus_any2any_spark.sources.iceberg import _localize

        ml = _localize(t, snap["manifest-list"])
        schema, manifests = read_container(ml)
        manifests[0]["content"] = 1
        write_container(ml, schema, manifests)
        assert read_iceberg(spark, t).collect() == []

    def test_format_version_3_with_v2_features_reads(
        self, spark, tmp_path
    ):
        # VERDICT r7 item 9: the version NUMBER is not a refusal —
        # a v3-tagged table using only v2 features reads normally
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a", 0.5)]), t)
        md = os.path.join(t, "metadata", "v1.metadata.json")
        meta = json.loads(open(md).read())
        meta["format-version"] = 3
        with open(md, "w") as f:
            f.write(json.dumps(meta))
        got = read_iceberg(spark, t).collect()
        assert [(r.id, r.v) for r in got] == [(1, "a")]

    def test_v3_row_lineage_reads(self, spark, tmp_path):
        # row lineage is IMPLEMENTED now (tests/test_iceberg_row_
        # lineage.py): plain reads ignore it safely; a lineage read
        # over foreign entries that rely on manifest-level
        # first_row_id INHERITANCE (no explicit per-entry value)
        # still refuses by name
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a", 0.5)]), t)
        md = os.path.join(t, "metadata", "v1.metadata.json")
        meta = json.loads(open(md).read())
        meta["format-version"] = 3
        meta["row-lineage"] = True
        meta["next-row-id"] = 100
        with open(md, "w") as f:
            f.write(json.dumps(meta))
        got = read_iceberg(spark, t).collect()
        assert len(got) == 1
        with pytest.raises(
            NotImplementedError, match="first_row_id"
        ):
            read_iceberg(spark, t, row_lineage=True).collect()

    def test_v3_column_defaults_unparseable_refused_by_name(
        self, spark, tmp_path
    ):
        """r13: SUPPORTED top-level primitive defaults now read
        (tests/test_iceberg_default_values.py); a default whose JSON
        value does not parse as the field's type still refuses by
        name — never half-apply."""
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a", 0.5)]), t)
        md = os.path.join(t, "metadata", "v1.metadata.json")
        meta = json.loads(open(md).read())
        meta["format-version"] = 3
        schemas = meta.get("schemas") or [meta["schema"]]
        # a string default on a string field is fine now
        schemas[0]["fields"][1]["initial-default"] = "zz"
        with open(md, "w") as f:
            f.write(json.dumps(meta))
        assert read_iceberg(spark, t).count() == 1
        # a non-number default on a double field refuses by name
        schemas[0]["fields"][2]["initial-default"] = "zz"
        with open(md, "w") as f:
            f.write(json.dumps(meta))
        with pytest.raises(
            NotImplementedError, match="not a JSON number"
        ):
            read_iceberg(spark, t)

    def test_v3_defaults_nested_in_map_and_list_refused(
        self, spark, tmp_path
    ):
        # ADVICE r8: defaults on struct fields nested inside map
        # values (or deeper list nesting) must refuse too — the old
        # walker only descended structs and list-of-struct
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a", 0.5)]), t)
        md = os.path.join(t, "metadata", "v1.metadata.json")
        meta = json.loads(open(md).read())
        meta["format-version"] = 3
        schemas = meta.get("schemas") or [meta["schema"]]
        schemas[0]["fields"].append(
            {
                "id": 90, "name": "attrs", "required": False,
                "type": {
                    "type": "map", "key-id": 91, "key": "string",
                    "value-id": 92, "value-required": False,
                    "value": {
                        "type": "list", "element-id": 93,
                        "element-required": False,
                        "element": {
                            "type": "struct",
                            "fields": [
                                {"id": 94, "name": "w",
                                 "required": False, "type": "int",
                                 "initial-default": 7}
                            ],
                        },
                    },
                },
            }
        )
        with open(md, "w") as f:
            f.write(json.dumps(meta))
        with pytest.raises(NotImplementedError, match="default values"):
            read_iceberg(spark, t)

    def test_v3_format_4_still_rejected(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a", 0.5)]), t)
        md = os.path.join(t, "metadata", "v1.metadata.json")
        meta = json.loads(open(md).read())
        meta["format-version"] = 4
        with open(md, "w") as f:
            f.write(json.dumps(meta))
        with pytest.raises(NotImplementedError, match="format-version"):
            read_iceberg(spark, t)

    def test_v3_puffin_dv_refused_by_name(self, spark, tmp_path):
        from optimus_any2any_spark.sources.iceberg import _snapshot_entries
        from optimus_any2any_spark.streaming.iceberg_table import (
            write_iceberg_delete_commit,
        )

        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a", 0.5)]), t)
        write_iceberg_delete_commit(
            spark, t, eq_deletes=(["id"], [(1,)])
        )
        # retag the delete entry as a v3 Puffin deletion vector
        meta = load_table_metadata(t)
        snap = meta["snapshots"][-1]
        from optimus_any2any_spark.sources.iceberg import _localize

        ml = _localize(t, snap["manifest-list"])
        _, manifests = read_container(ml)
        dm = next(m for m in manifests if int(m.get("content") or 0) == 1)
        mp = _localize(t, dm["manifest_path"])
        schema, entries = read_container(mp)
        schema = json.loads(json.dumps(schema))
        for f in schema["fields"]:
            if f["name"] == "data_file":
                f["type"]["fields"].append(
                    {"name": "referenced_data_file",
                     "type": ["null", "string"], "default": None,
                     "field-id": 143}
                )
        for e in entries:
            e["data_file"]["referenced_data_file"] = "data/x.parquet"
        write_container(mp, schema, entries)
        meta["format-version"] = 3
        md = os.path.join(
            t, "metadata",
            "v%d.metadata.json" % int(open(os.path.join(
                t, "metadata", "version-hint.text")).read()),
        )
        with open(md, "w") as f:
            f.write(json.dumps(meta))
        with pytest.raises(NotImplementedError, match="Puffin"):
            _snapshot_entries(t, load_table_metadata(t))

    def test_empty_table_no_snapshots(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, []).limit(0), t)
        df = read_iceberg(spark, t)
        assert df.count() == 0
        assert [f.name for f in df.schema.fields] == ["id", "v", "score"]

    def test_absolute_file_uris_localized(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a", 0.5)]), t)
        # rewrite the metadata to carry absolute file:// URIs, the way
        # real catalogs write them
        md = os.path.join(t, "metadata", "v1.metadata.json")
        meta = json.loads(open(md).read())
        snap = meta["snapshots"][0]
        ml_abs = os.path.join(t, snap["manifest-list"])
        snap["manifest-list"] = f"file://{ml_abs}"
        with open(md, "w") as f:
            f.write(json.dumps(meta))
        schema, manifests = read_container(ml_abs)
        for m in manifests:
            m["manifest_path"] = (
                f"file://{os.path.join(t, m['manifest_path'])}"
            )
        write_container(ml_abs, schema, manifests)
        assert _snap(spark, t) == [(1, "a", 0.5)]

    def test_incremental_append_scan(self, spark, tmp_path):
        from optimus_any2any_spark.sources.iceberg import (
            read_iceberg_appends,
        )

        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a", 0.5)]), t)
        write_iceberg_commit(_rows(spark, [(2, "b", 1.5)]), t)
        write_iceberg_commit(_rows(spark, [(3, "c", 2.5)]), t)
        inc = sorted(
            r.id for r in read_iceberg_appends(spark, t, 1, 3).collect()
        )
        assert inc == [2, 3]
        full = sorted(
            r.id
            for r in read_iceberg_appends(spark, t, None, 3).collect()
        )
        assert full == [1, 2, 3]

    def test_incremental_scan_rejects_merge_snapshots(self, spark, tmp_path):
        from optimus_any2any_spark.sources.iceberg import (
            read_iceberg_appends,
        )
        from optimus_any2any_spark.streaming.iceberg_table import (
            merge_iceberg_batch,
        )

        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a", 0.5)]), t)
        kv = spark.createDataFrame([(1, "A", 1)], "k long, v string, ts long")
        # schema differs → build a merge table separately
        t2 = str(tmp_path / "tbl2")
        merge_iceberg_batch(spark, kv, t2, "k", "ts")
        merge_iceberg_batch(
            spark,
            spark.createDataFrame([(1, "B", 2)], "k long, v string, ts long"),
            t2, "k", "ts",
        )
        meta = load_table_metadata(t2)
        last = meta["snapshots"][-1]["snapshot-id"]
        with pytest.raises(ValueError, match="not an append"):
            read_iceberg_appends(spark, t2, None, last)

    def test_iceberg_source_through_pipeline(self, spark, tmp_path):
        from optimus_any2any_spark.config import Config
        from optimus_any2any_spark.pipeline import Pipeline

        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a", 0.5), (2, "b", 1.5)]), t)
        write_iceberg_commit(_rows(spark, [(3, "c", 2.5)]), t)
        cfg = Config.from_env(
            env_args=[f"ICEBERG__SOURCE_URI=file://{t}"], environ={}
        )
        df = Pipeline(spark, "ICEBERG", ["IO"], cfg).dataframe()
        assert df.count() == 3
        cfg1 = Config.from_env(
            env_args=[
                f"ICEBERG__SOURCE_URI=file://{t}",
                "ICEBERG__SNAPSHOT_ID=1",
            ],
            environ={},
        )
        df1 = Pipeline(spark, "ICEBERG", ["IO"], cfg1).dataframe()
        assert df1.count() == 2

    def test_iceberg_sink_append_and_merge(self, spark, tmp_path):
        from optimus_any2any_spark.config import Config
        from optimus_any2any_spark.pipeline import Pipeline

        t = str(tmp_path / "tbl")
        src = tmp_path / "in.json"
        src.write_text(
            '{"k": 1, "v": "a", "ts": 0}\n{"k": 2, "v": "b", "ts": 0}\n'
        )
        cfg = Config.from_env(
            env_args=[
                f"FILE__SOURCE_URI=file://{src}",
                f"ICEBERG__SINK_URI=file://{t}",
            ],
            environ={},
        )
        Pipeline(spark, "FILE", ["ICEBERG"], cfg).run()
        got = sorted(
            (r.k, r.v) for r in read_iceberg(spark, t).collect()
        )
        assert got == [(1, "a"), (2, "b")]
        src2 = tmp_path / "in2.json"
        src2.write_text('{"k": 2, "v": "B", "ts": 1}\n')
        cfg2 = Config.from_env(
            env_args=[
                f"FILE__SOURCE_URI=file://{src2}",
                f"ICEBERG__SINK_URI=file://{t}",
                "ICEBERG__MODE=MERGE",
                "ICEBERG__MERGE_KEY=k",
                "ICEBERG__MERGE_TS=ts",
            ],
            environ={},
        )
        Pipeline(spark, "FILE", ["ICEBERG"], cfg2).run()
        got = sorted(
            (r.k, r.v) for r in read_iceberg(spark, t).collect()
        )
        assert got == [(1, "a"), (2, "B")]

    def test_delta_to_iceberg_conversion_pipeline(self, spark, tmp_path):
        """Lakehouse format conversion as a one-hop pipeline:
        --from DELTA --to ICEBERG."""
        from optimus_any2any_spark.config import Config
        from optimus_any2any_spark.pipeline import Pipeline
        from optimus_any2any_spark.streaming.delta_table import (
            merge_delta_batch,
        )

        src = str(tmp_path / "delta")
        dst = str(tmp_path / "iceberg")
        merge_delta_batch(
            spark,
            spark.createDataFrame(
                [(1, "a", 0), (2, "b", 0)], "k long, v string, ts long"
            ),
            src, "k", "ts",
        )
        cfg = Config.from_env(
            env_args=[
                f"DELTA__SOURCE_URI=file://{src}",
                f"ICEBERG__SINK_URI=file://{dst}",
            ],
            environ={},
        )
        Pipeline(spark, "DELTA", ["ICEBERG"], cfg).run()
        got = sorted(
            (r.k, r.v) for r in read_iceberg(spark, dst).collect()
        )
        assert got == [(1, "a"), (2, "b")]

    def test_relocated_table_paths_reanchored(self, spark, tmp_path):
        import shutil

        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a", 0.5)]), t)
        # absolute URIs pointing at the ORIGINAL location...
        md = os.path.join(t, "metadata", "v1.metadata.json")
        meta = json.loads(open(md).read())
        snap = meta["snapshots"][0]
        fake_home = "/nonexistent/warehouse/tbl"
        snap["manifest-list"] = (
            f"file://{fake_home}/{snap['manifest-list']}"
        )
        with open(md, "w") as f:
            f.write(json.dumps(meta))
        # ...must re-anchor via the /metadata/ marker after a move
        moved = str(tmp_path / "moved")
        shutil.move(t, moved)
        got = sorted(
            (r.id, r.v, r.score)
            for r in read_iceberg(spark, moved).collect()
        )
        assert got == [(1, "a", 0.5)]
