"""Iceberg v3 column default values (VERDICT r12 item 2): readers
fill ``initial-default`` for files that physically lack the column;
appends materialize ``write-default`` when the df omits it; nested or
unsupported defaults keep refusing by name.

Spec: format v3 "Default values" — initial-default applies to rows
written before the column existed, write-default to new rows whose
writer does not supply the column (iceberg spec.md; JSON single-value
serialization per Appendix D).
"""

from __future__ import annotations

import json
import os

import pytest

from optimus_any2any_spark.sources.iceberg import (
    add_iceberg_column_with_default,
    load_table_metadata,
    read_iceberg,
)
from optimus_any2any_spark.streaming.iceberg_table import (
    delete_iceberg_where,
    merge_iceberg_batch,
    write_iceberg_commit,
)


def _mk(spark, tmp_path, rows, ddl):
    t = str(tmp_path / "tbl")
    write_iceberg_commit(spark.createDataFrame(rows, ddl), t)
    return t


class TestInitialDefault:
    def test_pre_evolution_rows_fill(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(1, "a"), (2, "b")], "k long, v string")
        add_iceberg_column_with_default(
            t, "segment string", initial_default="LEGACY",
            write_default="NEW",
        )
        got = sorted(
            (r.k, r.segment) for r in read_iceberg(spark, t).collect()
        )
        assert got == [(1, "LEGACY"), (2, "LEGACY")]
        meta = load_table_metadata(t)
        assert meta["format-version"] == 3
        f = meta["schema"]["fields"][-1]
        assert f["initial-default"] == "LEGACY"
        assert f["write-default"] == "NEW"

    def test_physical_nulls_are_not_filled(self, spark, tmp_path):
        """The fill applies to files MISSING the column; a file that
        contains it keeps its stored values, nulls included."""
        t = _mk(spark, tmp_path, [(1, "a")], "k long, v string")
        add_iceberg_column_with_default(
            t, "segment string", initial_default="LEGACY"
        )
        write_iceberg_commit(
            spark.createDataFrame(
                [(2, "b", None)], "k long, v string, segment string"
            ),
            t,
        )
        got = sorted(
            [(r.k, r.segment) for r in read_iceberg(spark, t).collect()],
            key=str,
        )
        assert got == [(1, "LEGACY"), (2, None)]

    def test_typed_defaults(self, spark, tmp_path):
        import datetime
        from decimal import Decimal

        t = _mk(spark, tmp_path, [(1,)], "k long")
        add_iceberg_column_with_default(t, "n long", initial_default=42)
        add_iceberg_column_with_default(
            t, "x double", initial_default=1.5
        )
        add_iceberg_column_with_default(
            t, "ok boolean", initial_default=True
        )
        add_iceberg_column_with_default(
            t, "d date", initial_default=datetime.date(2026, 1, 1)
        )
        add_iceberg_column_with_default(
            t, "amt decimal(10,2)", initial_default=Decimal("9.99")
        )
        r = read_iceberg(spark, t).collect()[0]
        assert (r.n, r.x, r.ok, r.d, r.amt) == (
            42, 1.5, True, datetime.date(2026, 1, 1), Decimal("9.99")
        )

    def test_foreign_layout_metadata(self, spark, tmp_path):
        """A v3 table whose metadata was evolved by ANOTHER writer:
        the defaults live in raw schema JSON, not anything this
        engine wrote — the reader must fill from the spec fields
        alone."""
        t = _mk(spark, tmp_path, [(1, "a"), (2, "b")], "k long, v string")
        md = os.path.join(t, "metadata")
        meta = json.loads(open(os.path.join(md, "v1.metadata.json")).read())
        sch = dict(meta["schema"])
        sch = {
            "type": "struct",
            "schema-id": 7,
            "fields": list(sch["fields"])
            + [
                {
                    "id": 99,
                    "name": "tier",
                    "required": False,
                    "type": "int",
                    "initial-default": 3,
                    "write-default": 5,
                }
            ],
        }
        meta["format-version"] = 3
        meta["schema"] = sch
        meta["schemas"] = [meta.get("schemas", [sch])[0], sch] if meta.get("schemas") else [sch]
        meta["schemas"] = [s for s in meta["schemas"] if s.get("schema-id") != 7] + [sch]
        meta["current-schema-id"] = 7
        meta["last-column-id"] = 99
        with open(os.path.join(md, "v2.metadata.json"), "w") as f:
            f.write(json.dumps(meta))
        with open(os.path.join(md, "version-hint.text"), "w") as f:
            f.write("2")
        got = sorted(
            (r.k, r.tier) for r in read_iceberg(spark, t).collect()
        )
        assert got == [(1, 3), (2, 3)]


class TestWriteDefault:
    def test_append_omitting_column_materializes(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(1, "a")], "k long, v string")
        add_iceberg_column_with_default(
            t, "segment string", initial_default="LEGACY",
            write_default="NEW",
        )
        write_iceberg_commit(
            spark.createDataFrame([(2, "b")], "k long, v string"), t
        )
        got = dict(
            (r.k, r.segment) for r in read_iceberg(spark, t).collect()
        )
        assert got == {1: "LEGACY", 2: "NEW"}
        # the new file physically contains the column (write-default
        # is a WRITER fill, not a read-time projection)
        import glob

        import pyarrow.parquet as pq

        newest = max(
            glob.glob(os.path.join(t, "data", "*.parquet")),
            key=os.path.getmtime,
        )
        assert "segment" in pq.read_schema(newest).names

    def test_supplied_column_wins(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(1, "a")], "k long, v string")
        add_iceberg_column_with_default(
            t, "segment string", write_default="NEW"
        )
        write_iceberg_commit(
            spark.createDataFrame(
                [(2, "b", "X")], "k long, v string, segment string"
            ),
            t,
        )
        got = dict(
            (r.k, r.segment) for r in read_iceberg(spark, t).collect()
        )
        assert got == {1: None, 2: "X"}  # no initial-default declared


class TestDefaultsCompose:
    def test_mor_delete_and_merge_over_filled_values(
        self, spark, tmp_path
    ):
        """DML predicates evaluate over the FILLED values: deleting
        segment='LEGACY' must hit exactly the pre-evolution rows."""
        t = _mk(
            spark, tmp_path,
            [(i, f"v{i}", 0) for i in range(1, 5)],
            "k long, v string, ts long",
        )
        add_iceberg_column_with_default(
            t, "segment string", initial_default="LEGACY",
            write_default="NEW",
        )
        write_iceberg_commit(
            spark.createDataFrame(
                [(10, "w", 0)], "k long, v string, ts long"
            ),
            t,
        )
        delete_iceberg_where(spark, t, "segment = 'LEGACY'")
        got = sorted(
            (r.k, r.segment) for r in read_iceberg(spark, t).collect()
        )
        assert got == [(10, "NEW")]
        merge_iceberg_batch(
            spark,
            spark.createDataFrame(
                [(10, "W", 1, "NEW"), (11, "x", 1, "NEW")],
                "k long, v string, ts long, segment string",
            ),
            t, "k", "ts", batch_id=1,
        )
        got = {r.k: r.v for r in read_iceberg(spark, t).collect()}
        assert got == {10: "W", 11: "x"}

    def test_evolution_guards(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(1,)], "k long")
        with pytest.raises(ValueError, match="already in the schema"):
            add_iceberg_column_with_default(t, "k long", initial_default=1)
        with pytest.raises(NotImplementedError, match="beyond this reader"):
            add_iceberg_column_with_default(
                t, "u uuid", initial_default="0-0-0-0-0"
            )
        with pytest.raises(NotImplementedError, match="not a JSON integer"):
            add_iceberg_column_with_default(t, "n long", initial_default="7")

    def test_nested_defaults_still_refuse(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(1,)], "k long")
        md = os.path.join(t, "metadata")
        meta = json.loads(open(os.path.join(md, "v1.metadata.json")).read())
        sch = {
            "type": "struct",
            "schema-id": 5,
            "fields": list(meta["schema"]["fields"])
            + [
                {
                    "id": 50,
                    "name": "s",
                    "required": False,
                    "type": {
                        "type": "struct",
                        "fields": [
                            {
                                "id": 51,
                                "name": "inner",
                                "required": False,
                                "type": "int",
                                "initial-default": 1,
                            }
                        ],
                    },
                }
            ],
        }
        meta["format-version"] = 3
        meta["schema"] = sch
        meta["schemas"] = [sch]
        meta["current-schema-id"] = 5
        with open(os.path.join(md, "v2.metadata.json"), "w") as f:
            f.write(json.dumps(meta))
        with open(os.path.join(md, "version-hint.text"), "w") as f:
            f.write("2")
        with pytest.raises(NotImplementedError, match="NESTED field"):
            read_iceberg(spark, t)


class TestReviewR13Pins:
    def test_footer_cache_hits(self, spark, tmp_path, monkeypatch):
        """Review finding: the default-fill footer check re-read every
        parquet footer on each call (O(window x files) in changelog
        builds). One footer read per path per process."""
        import pyarrow.parquet as pq

        from optimus_any2any_spark.sources import iceberg as ice

        t = _mk(spark, tmp_path, [(1, "a")], "k long, v string")
        add_iceberg_column_with_default(
            t, "segment string", initial_default="LEGACY"
        )
        read_iceberg(spark, t).collect()  # warm the cache
        calls = {"n": 0}
        real = pq.read_schema

        def counting(path, *a, **kw):
            calls["n"] += 1
            return real(path, *a, **kw)

        monkeypatch.setattr(pq, "read_schema", counting)
        got = sorted(
            (r.k, r.segment)
            for r in read_iceberg(spark, t).collect()
        )
        assert got == [(1, "LEGACY")]
        assert calls["n"] == 0  # every footer served from the cache

    def test_default_fill_streams(self, spark, tmp_path):
        """Review finding: the stream readers yielded None for
        defaulted columns absent from pre-evolution files — batch and
        stream must agree."""
        import time

        from optimus_any2any_spark.sources.iceberg_stream import (
            IcebergTailDataSource,
        )

        spark.dataSource.register(IcebergTailDataSource)
        t = _mk(spark, tmp_path, [(1, "a")], "k long, v string")
        add_iceberg_column_with_default(
            t, "segment string", initial_default="LEGACY",
            write_default="NEW",
        )
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
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
        got = sorted(
            (r.k, r.segment)
            for r in spark.read.parquet(out).collect()
        )
        assert got == [(1, "LEGACY")]

    def test_footer_cache_not_stale_across_rebuild(
        self, spark, tmp_path
    ):
        """Review finding: a path-keyed footer cache served the OLD
        footer shape after a fixture-style rmtree+rebuild reused the
        same file names — the default fill would then override real
        stored values. The cache keys on (path, size, mtime)."""
        import shutil

        t = str(tmp_path / "tbl")
        write_iceberg_commit(
            spark.createDataFrame([(1, "a")], "k long, v string"), t
        )
        add_iceberg_column_with_default(
            t, "segment string", initial_default="LEGACY"
        )
        assert [
            r.segment for r in read_iceberg(spark, t).collect()
        ] == ["LEGACY"]  # cache warms on the column-less file
        shutil.rmtree(t)
        # rebuild at the SAME path, now with the column PRESENT in
        # the (same-named) data file
        write_iceberg_commit(
            spark.createDataFrame(
                [(1, "a", "REAL")], "k long, v string, segment string"
            ),
            t,
        )
        got = [r.segment for r in read_iceberg(spark, t).collect()]
        assert got == ["REAL"]  # stored value, never the stale fill
