"""In-place migration surfaces: CONVERT TO DELTA (delta-spark) and
Iceberg add_files — existing parquet enters the table as driver-side
metadata work (footer-read counts, zero data movement); every writer
then applies."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from optimus_any2any_spark.sources.delta import read_delta, replay_log
from optimus_any2any_spark.sources.iceberg import (
    add_iceberg_files,
    load_table_metadata,
    read_iceberg,
)
from optimus_any2any_spark.streaming.iceberg_table import write_iceberg_commit
from optimus_any2any_spark.streaming.delta_table import (
    convert_parquet_to_delta,
    delete_delta_where,
    merge_delta_batch,
)
from optimus_any2any_spark.streaming.iceberg_table import (
    delete_iceberg_keys,
    merge_iceberg_batch,
)


class TestConvertToDelta:
    def test_unpartitioned_convert_and_write(self, spark, tmp_path):
        d = str(tmp_path / "lake")
        src = spark.createDataFrame(
            [(i, f"v{i}", 0) for i in range(1, 9)],
            "k long, v string, ts long",
        )
        src.repartition(3).write.parquet(d)
        before = sorted((r.k, r.v) for r in spark.read.parquet(d).collect())
        n_files = len(glob.glob(os.path.join(d, "*.parquet")))
        convert_parquet_to_delta(spark, d)
        got = sorted((r.k, r.v) for r in read_delta(spark, d).collect())
        assert got == before
        # zero data movement: the same files, now registered
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == n_files
        st = replay_log(spark, d)
        assert len(st["live"]) == n_files
        # a real writer applies immediately
        merge_delta_batch(
            spark,
            spark.createDataFrame(
                [(2, "B", 1), (99, "new", 1)],
                "k long, v string, ts long",
            ),
            d, "k", "ts", batch_id=1,
        )
        got = {r.k: r.v for r in read_delta(spark, d).collect()}
        assert got[2] == "B" and got[99] == "new" and len(got) == 9
        # time travel to the conversion snapshot
        assert read_delta(spark, d, version=0).count() == 8

    def test_partitioned_convert(self, spark, tmp_path):
        d = str(tmp_path / "lake")
        src = spark.createDataFrame(
            [(i, f"v{i}", ["a", "b", None][i % 3]) for i in range(12)],
            "k long, v string, part string",
        )
        src.write.partitionBy("part").parquet(d)
        before = sorted(
            (r.k, r.part) for r in spark.read.parquet(d).collect()
        )
        convert_parquet_to_delta(spark, d, partition_by=["part"])
        got = sorted(
            (r.k, r.part) for r in read_delta(spark, d).collect()
        )
        assert got == before
        # partition values came through the directory names (null
        # included) and the DML writers resolve them
        delete_delta_where(spark, d, "part = 'a'")
        assert sorted(
            set(
                r.part for r in read_delta(spark, d).collect()
            ),
            key=str,
        ) == [None, "b"]

    def test_guards(self, spark, tmp_path):
        d = str(tmp_path / "lake")
        spark.createDataFrame([(1,)], "k long").write.parquet(d)
        convert_parquet_to_delta(spark, d)
        with pytest.raises(ValueError, match="already a Delta table"):
            convert_parquet_to_delta(spark, d)
        with pytest.raises(ValueError, match="no parquet files"):
            convert_parquet_to_delta(
                spark, str(tmp_path / "empty" / "x")
            )
        d2 = str(tmp_path / "lake2")
        spark.createDataFrame(
            [(1, "a")], "k long, p string"
        ).write.partitionBy("p").parquet(d2)
        with pytest.raises(ValueError, match="does not match"):
            convert_parquet_to_delta(spark, d2)  # missing partition_by


class TestIcebergAddFiles:
    def test_register_then_write(self, spark, tmp_path):
        lake = str(tmp_path / "lake")
        spark.createDataFrame(
            [(i, f"v{i}", 0) for i in range(1, 7)],
            "id long, v string, ts long",
        ).repartition(2).write.parquet(lake)
        files = sorted(glob.glob(os.path.join(lake, "*.parquet")))
        t = str(tmp_path / "tbl")
        add_iceberg_files(spark, t, files)
        got = sorted(
            (r.id, r.v) for r in read_iceberg(spark, t).collect()
        )
        assert got == [(i, f"v{i}") for i in range(1, 7)]
        meta = load_table_metadata(t)
        assert meta["current-snapshot-id"] == 1
        # the registered bytes never moved
        assert sorted(
            glob.glob(os.path.join(lake, "*.parquet"))
        ) == files
        assert glob.glob(os.path.join(t, "data", "*.parquet")) == []
        # MoR delete + merge apply to registered files
        delete_iceberg_keys(
            spark, t, "id", spark.createDataFrame([(3,)], "id long")
        )
        merge_iceberg_batch(
            spark,
            spark.createDataFrame(
                [(2, "B", 1)], "id long, v string, ts long"
            ),
            t, "id", "ts", batch_id=1,
        )
        got = {r.id: r.v for r in read_iceberg(spark, t).collect()}
        assert 3 not in got and got[2] == "B" and len(got) == 5

    def test_register_into_existing_and_type_guard(
        self, spark, tmp_path
    ):
        t = str(tmp_path / "tbl")
        write_iceberg_commit(
            spark.createDataFrame([(1, "a")], "id long, v string"), t
        )
        extra = str(tmp_path / "extra")
        spark.createDataFrame(
            [(2, "b")], "id long, v string"
        ).coalesce(1).write.parquet(extra)
        add_iceberg_files(
            spark, t, glob.glob(os.path.join(extra, "*.parquet"))
        )
        assert read_iceberg(spark, t).count() == 2
        bad = str(tmp_path / "bad")
        spark.createDataFrame(
            [(3, 9)], "id long, v int"
        ).coalesce(1).write.parquet(bad)
        with pytest.raises(ValueError, match="types drifted"):
            add_iceberg_files(
                spark, t, glob.glob(os.path.join(bad, "*.parquet"))
            )

    def test_lineage_composes(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        df = (
            spark.createDataFrame(
                [(1, "a")], "id long, v string"
            ).coalesce(1)
        )
        write_iceberg_commit(df, t, row_lineage=True)
        extra = str(tmp_path / "extra")
        spark.createDataFrame(
            [(2, "b"), (3, "c")], "id long, v string"
        ).coalesce(1).write.parquet(extra)
        add_iceberg_files(
            spark, t, glob.glob(os.path.join(extra, "*.parquet"))
        )
        got = sorted(
            (r.id, r._row_id)
            for r in read_iceberg(
                spark, t, row_lineage=True
            ).collect()
        )
        assert got[0] == (1, 0)
        assert {rid for _i, rid in got[1:]} == {1, 2}
        assert load_table_metadata(t)["next-row-id"] == 3

    def test_partitioned_hive_layout_registers(self, spark, tmp_path):
        """VERDICT r12 item 1: a hive-layout lake (dt=.../part-*)
        registers into a partitioned Iceberg table — identity values
        derive from the path, land as partition-tupled manifest
        entries, and the reader serves the column via the
        identity-constant projection (the files never contain it)."""
        lake = str(tmp_path / "lake")
        src = spark.createDataFrame(
            [(i, f"v{i}", ["a", "b", None][i % 3]) for i in range(12)],
            "k long, v string, dt string",
        )
        src.write.partitionBy("dt").parquet(lake)
        files = sorted(
            glob.glob(os.path.join(lake, "*", "*.parquet"))
        )
        n_files = len(files)
        t = str(tmp_path / "tbl")
        add_iceberg_files(spark, t, files, partition_schema=["dt string"])
        got = sorted(
            [(r.k, r.dt) for r in read_iceberg(spark, t).collect()],
            key=str,
        )
        want = sorted([(r.k, r.dt) for r in src.collect()], key=str)
        assert got == want  # null partition included
        # zero data movement: same file count in the lake (same-dir
        # de-collision renames allowed), nothing copied into the table
        assert (
            len(glob.glob(os.path.join(lake, "*", "*.parquet")))
            == n_files
        )
        assert glob.glob(os.path.join(t, "data", "*.parquet")) == []
        meta = load_table_metadata(t)
        spec = meta["partition-specs"][0]
        assert [f["transform"] for f in spec["fields"]] == ["identity"]

    def test_partitioned_pruning_reads_only_matching_files(
        self, spark, tmp_path
    ):
        """Bounds-pruning pin over the migrated table: hive files have
        no column stats, so the identity partition tuple must drive
        the skip — key_range on the partition column reads ONLY the
        matching partition's files."""
        lake = str(tmp_path / "lake")
        spark.createDataFrame(
            [(i, ["a", "b", "c"][i % 3]) for i in range(12)],
            "k long, dt string",
        ).write.partitionBy("dt").parquet(lake)
        files = sorted(
            glob.glob(os.path.join(lake, "*", "*.parquet"))
        )
        t = str(tmp_path / "tbl")
        add_iceberg_files(spark, t, files, partition_schema=["dt string"])
        out = read_iceberg(spark, t, key_range=("dt", "b", "b"))
        read_files = out.inputFiles()
        assert read_files and all("dt=b" in f for f in read_files)
        assert sorted(r.k for r in out.collect()) == [1, 4, 7, 10]
        # a typed (long) partition prunes numerically, not textually
        lake2 = str(tmp_path / "lake2")
        spark.createDataFrame(
            [(i, i % 3) for i in range(12)], "k long, p long"
        ).write.partitionBy("p").parquet(lake2)
        t2 = str(tmp_path / "tbl2")
        add_iceberg_files(
            spark,
            t2,
            sorted(glob.glob(os.path.join(lake2, "*", "*.parquet"))),
            partition_schema=["p long"],
        )
        out2 = read_iceberg(spark, t2, key_range=("p", 2, 9))
        assert all("p=2" in f for f in out2.inputFiles())
        assert sorted(r.k for r in out2.collect()) == [2, 5, 8, 11]

    def test_partitioned_dml_and_second_registration(
        self, spark, tmp_path
    ):
        lake = str(tmp_path / "lake")
        spark.createDataFrame(
            [(i, f"v{i}", 0, ["a", "b", None][i % 3]) for i in range(12)],
            "k long, v string, ts long, dt string",
        ).write.partitionBy("dt").parquet(lake)
        t = str(tmp_path / "tbl")
        add_iceberg_files(
            spark,
            t,
            sorted(glob.glob(os.path.join(lake, "*", "*.parquet"))),
            partition_schema=["dt string"],
        )
        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_where,
        )

        delete_iceberg_where(spark, t, "dt = 'b'")
        assert sorted(
            {r.dt for r in read_iceberg(spark, t).collect()}, key=str
        ) == [None, "a"]
        merge_iceberg_batch(
            spark,
            spark.createDataFrame(
                [(0, "Z", 1, "a"), (99, "new", 1, None)],
                "k long, v string, ts long, dt string",
            ),
            t, "k", "ts", batch_id=1,
        )
        got = {r.k: (r.v, r.dt) for r in read_iceberg(spark, t).collect()}
        assert got[0] == ("Z", "a") and got[99] == ("new", None)
        # a later hive export registers into the now-partitioned table
        # under its existing spec (no partition_schema)
        lake2 = str(tmp_path / "lake2")
        spark.createDataFrame(
            [(100, "w", 0, "c")], "k long, v string, ts long, dt string"
        ).write.partitionBy("dt").parquet(lake2)
        add_iceberg_files(
            spark,
            t,
            sorted(glob.glob(os.path.join(lake2, "*", "*.parquet"))),
        )
        assert (
            read_iceberg(spark, t)
            .filter("dt = 'c'")
            .count()
            == 1
        )

    def test_partitioned_lineage_composes(self, spark, tmp_path):
        lake = str(tmp_path / "lake")
        spark.createDataFrame(
            [(i, ["a", "b"][i % 2]) for i in range(4)],
            "k long, dt string",
        ).write.partitionBy("dt").parquet(lake)
        t = str(tmp_path / "tbl")
        write_iceberg_commit(
            spark.createDataFrame([], "k long, dt string"),
            t,
            partition_by=["dt"],
            row_lineage=True,
        )
        add_iceberg_files(
            spark, t, sorted(glob.glob(os.path.join(lake, "*", "*.parquet")))
        )
        rows = read_iceberg(spark, t, row_lineage=True).collect()
        assert sorted(r._row_id for r in rows) == [0, 1, 2, 3]
        assert all(r.dt in ("a", "b") for r in rows)
        assert load_table_metadata(t)["next-row-id"] == 4

    def test_partitioned_guards(self, spark, tmp_path):
        lake = str(tmp_path / "lake")
        spark.createDataFrame(
            [(1, "a")], "k long, dt string"
        ).write.partitionBy("dt").parquet(lake)
        files = sorted(glob.glob(os.path.join(lake, "*", "*.parquet")))
        # partition type beyond the identity registration (date IS
        # supported since the hive-date extension; binary is not)
        with pytest.raises(NotImplementedError, match="partition type"):
            add_iceberg_files(
                spark, str(tmp_path / "t1"), files,
                partition_schema=["dt binary"],
            )
        # date-typed declaration over non-date path values refuses
        with pytest.raises(ValueError, match="cannot parse path value"):
            add_iceberg_files(
                spark, str(tmp_path / "t1b"), files,
                partition_schema=["dt date"],
            )
        # declared partition column missing from every file path
        with pytest.raises(ValueError, match="no 'region=.*' path"):
            add_iceberg_files(
                spark, str(tmp_path / "t2"), files,
                partition_schema=["region string"],
            )
        # unparseable path value for the declared type
        with pytest.raises(ValueError, match="cannot parse path value"):
            add_iceberg_files(
                spark, str(tmp_path / "t3"), files,
                partition_schema=["dt long"],
            )
        # partition_schema on an existing table
        t4 = str(tmp_path / "t4")
        write_iceberg_commit(
            spark.createDataFrame([(1, "x")], "k long, dt string"), t4
        )
        with pytest.raises(ValueError, match="fresh-table bootstrap"):
            add_iceberg_files(
                spark, t4, files, partition_schema=["dt string"]
            )
        # non-identity default spec cannot derive from a hive path
        t5 = str(tmp_path / "t5")
        write_iceberg_commit(
            spark.createDataFrame([], "k long, dt string"),
            t5,
            partition_by=["bucket(4, k)"],
        )
        with pytest.raises(NotImplementedError, match="identity specs"):
            add_iceberg_files(spark, t5, files)
        # files that physically contain the declared partition column
        flat = str(tmp_path / "flat")
        spark.createDataFrame(
            [(1, "a")], "k long, dt string"
        ).coalesce(1).write.parquet(flat)
        # fake a hive segment above the flat files
        hive = str(tmp_path / "hive" / "dt=a")
        os.makedirs(os.path.dirname(hive), exist_ok=True)
        os.rename(flat, hive)
        with pytest.raises(ValueError, match="also present in the data"):
            add_iceberg_files(
                spark,
                str(tmp_path / "t6"),
                sorted(glob.glob(os.path.join(hive, "*.parquet"))),
                partition_schema=["dt string"],
            )

    def test_cross_call_basename_collision_refuses(
        self, spark, tmp_path
    ):
        """Review finding: the collision guard must span files
        ALREADY registered — two copied exports share part names."""
        import shutil

        t = str(tmp_path / "tbl")
        a = str(tmp_path / "a")
        spark.createDataFrame(
            [(1, "a")], "id long, v string"
        ).coalesce(1).write.parquet(a)
        fa = sorted(glob.glob(os.path.join(a, "*.parquet")))
        add_iceberg_files(spark, t, fa)
        b = str(tmp_path / "b")
        os.makedirs(b)
        # same basename, different directory (a copied export)
        shutil.copy(fa[0], os.path.join(b, os.path.basename(fa[0])))
        with pytest.raises(
            NotImplementedError, match="already registered"
        ):
            add_iceberg_files(
                spark, t, glob.glob(os.path.join(b, "*.parquet"))
            )


class TestReviewR13Pins:
    def test_hive_date_partition_migration(self, spark, tmp_path):
        """Review finding: identity partition constants of logical
        types reached Spark as raw Avro physical values and crashed
        row construction. ``dt=YYYY-MM-DD/`` lakes (the most common
        hive layout) now register with a DATE-typed partition column:
        path values parse to int days in the manifest, reads decode
        them back to dates."""
        import datetime

        lake = str(tmp_path / "lake")
        spark.createDataFrame(
            [
                (1, "a", datetime.date(2026, 1, 1)),
                (2, "b", datetime.date(2026, 1, 1)),
                (3, "c", datetime.date(2026, 1, 2)),
            ],
            "k long, v string, dt date",
        ).write.partitionBy("dt").parquet(lake)
        files = sorted(
            glob.glob(os.path.join(lake, "dt=*", "*.parquet"))
        )
        t = str(tmp_path / "tbl")
        add_iceberg_files(
            spark, t, files, partition_schema=["dt date"]
        )
        got = sorted(
            (r.k, r.dt) for r in read_iceberg(spark, t).collect()
        )
        assert got == [
            (1, datetime.date(2026, 1, 1)),
            (2, datetime.date(2026, 1, 1)),
            (3, datetime.date(2026, 1, 2)),
        ]
        # partition pruning over the derived date constants
        sub = read_iceberg(
            spark, t,
            key_range=("dt", datetime.date(2026, 1, 2),
                       datetime.date(2026, 1, 2)),
        )
        assert sorted(r.k for r in sub.collect()) == [3]

    def test_decode_partition_const_types(self):
        """Foreign-table partition constants: Avro physical form →
        the Python value Spark's row construction expects."""
        import datetime
        import decimal

        from optimus_any2any_spark.sources.iceberg import (
            _decode_partition_const,
        )

        assert _decode_partition_const("date", 20089) == datetime.date(
            1970, 1, 1
        ) + datetime.timedelta(days=20089)
        ts = _decode_partition_const("timestamptz", 86_400_000_000)
        assert ts == datetime.datetime(
            1970, 1, 2, tzinfo=datetime.timezone.utc
        )
        nt = _decode_partition_const("timestamp", 1_000_000)
        assert nt == datetime.datetime(1970, 1, 1, 0, 0, 1)
        d = _decode_partition_const(
            "decimal(9,2)", (12345).to_bytes(3, "big", signed=True)
        )
        assert d == decimal.Decimal("123.45")
        assert _decode_partition_const("long", 7) == 7
        assert _decode_partition_const("date", None) is None
        # v3 nanosecond variants: timestamp_ns is the tz-LESS type
        ns = _decode_partition_const("timestamp_ns", 1_500)
        assert ns == datetime.datetime(1970, 1, 1, 0, 0, 0, 1)
        assert ns.tzinfo is None
        tzns = _decode_partition_const("timestamptz_ns", 1_500)
        assert tzns.tzinfo is datetime.timezone.utc

    def test_failed_registration_leaves_lake_untouched(
        self, spark, tmp_path
    ):
        """Review finding: the same-call basename de-collision renamed
        source files BEFORE validation, so a refused registration
        left the lake permanently mutated. Renames must revert when
        the commit refuses."""
        d1 = str(tmp_path / "a")
        d2 = str(tmp_path / "b")
        spark.createDataFrame(
            [(1, "x")], "k long, v string"
        ).coalesce(1).write.parquet(d1)
        spark.createDataFrame(
            [(2, "y")], "k long, v string"
        ).coalesce(1).write.parquet(d2)
        f1 = sorted(glob.glob(os.path.join(d1, "*.parquet")))[0]
        f2 = sorted(glob.glob(os.path.join(d2, "*.parquet")))[0]
        # same basename in both dirs → de-collision renames kick in
        bn = os.path.basename(f1)
        f2b = os.path.join(d2, bn)
        os.rename(f2, f2b)
        # force a refusal AFTER the renames: partition_schema against
        # an EXISTING table is the fresh-bootstrap-only error
        t = str(tmp_path / "tbl")
        write_iceberg_commit(
            spark.createDataFrame([(9, "z")], "k long, v string"), t
        )
        with pytest.raises(ValueError, match="fresh-table bootstrap"):
            add_iceberg_files(
                spark, t, [f1, f2b],
                partition_schema=["k long"],
            )
        assert os.path.exists(f1) and os.path.exists(f2b)
        # no de-collision residue left behind in either directory
        assert not glob.glob(os.path.join(d1, "*-part-*"))
        assert not glob.glob(os.path.join(d2, "*-part-*"))
        # a successful retry still works afterwards
        t2 = str(tmp_path / "tbl2")
        add_iceberg_files(spark, t2, [f1, f2b])
        assert read_iceberg(spark, t2).count() == 2

    def test_hive_partition_column_streams(self, spark, tmp_path):
        """Review finding: the stream readers yielded None for
        columns absent from the data file — a hive-migrated partition
        column must stream with its path-derived value, identical to
        the batch read."""
        import time

        from optimus_any2any_spark.sources.iceberg_stream import (
            IcebergTailDataSource,
        )

        spark.dataSource.register(IcebergTailDataSource)
        lake = str(tmp_path / "lake")
        spark.createDataFrame(
            [(1, "a", "p1"), (2, "b", "p2")],
            "k long, v string, prio string",
        ).write.partitionBy("prio").parquet(lake)
        files = sorted(
            glob.glob(os.path.join(lake, "prio=*", "*.parquet"))
        )
        t = str(tmp_path / "tbl")
        add_iceberg_files(
            spark, t, files, partition_schema=["prio string"]
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
            (r.k, r.prio)
            for r in spark.read.parquet(out).collect()
        )
        assert got == [(1, "p1"), (2, "p2")]

    def test_merge_into_migrated_date_table(self, spark, tmp_path):
        """The post-migration user journey: a dt=DATE/ hive lake
        registers, then merge_iceberg_batch writes into the
        date-identity-partitioned table — identity date tuples ride
        as int days (Avro physical form) and read back as dates."""
        import datetime

        from optimus_any2any_spark.sources.iceberg import (
            read_iceberg_metadata,
        )

        d1 = datetime.date(2026, 1, 1)
        d2 = datetime.date(2026, 1, 2)
        lake = str(tmp_path / "lake")
        spark.createDataFrame(
            [(1, "a", 0, d1), (2, "b", 0, d1), (3, "c", 0, d2)],
            "k long, v string, ts long, dt date",
        ).write.partitionBy("dt").parquet(lake)
        files = sorted(
            glob.glob(os.path.join(lake, "dt=*", "*.parquet"))
        )
        t = str(tmp_path / "tbl")
        add_iceberg_files(
            spark, t, files, partition_schema=["dt date"]
        )
        # a merge writes THROUGH the date identity spec: one update,
        # one insert into a brand-new date partition
        merge_iceberg_batch(
            spark,
            spark.createDataFrame(
                [(2, "B", 1, d1), (9, "z", 1, datetime.date(2026, 2, 1))],
                "k long, v string, ts long, dt date",
            ),
            t, "k", "ts", batch_id=1,
        )
        got = sorted(
            (r.k, r.v, r.dt)
            for r in read_iceberg(spark, t).collect()
        )
        assert got == [
            (1, "a", d1),
            (2, "B", d1),
            (3, "c", d2),
            (9, "z", datetime.date(2026, 2, 1)),
        ]
        # pruning still works over the mixed migrated+written files
        sub = read_iceberg(spark, t, key_range=("dt", d2, d2))
        assert sorted(r.k for r in sub.collect()) == [3]
        # partitions metadata decodes the int-days tuples to dates
        parts = {
            r.partition["dt"]: r.record_count
            for r in read_iceberg_metadata(
                spark, t, "partitions"
            ).collect()
        }
        assert parts["2026-01-01"] == 2
        assert parts["2026-02-01"] == 1
        # delete in one date partition leaves the others untouched
        delete_iceberg_keys(
            spark, t, "k", spark.createDataFrame([(3,)], "k long")
        )
        assert sorted(
            r.k for r in read_iceberg(spark, t).collect()
        ) == [1, 2, 9]

    def test_hive_timestamp_partition_migration(self, spark, tmp_path):
        """Identity timestamp/timestamptz hive partitions: path values
        ('yyyy-MM-dd HH:mm:ss') parse to exact long micros, reads
        decode back, and a merge writes through the spec."""
        import datetime

        from optimus_any2any_spark.sources.iceberg import (
            read_iceberg_metadata,
        )

        t1 = datetime.datetime(2026, 1, 1, 12, 30, 0)
        t2 = datetime.datetime(2026, 1, 1, 13, 0, 0)
        lake = str(tmp_path / "lake")
        spark.createDataFrame(
            [(1, "a", 0, t1), (2, "b", 0, t1), (3, "c", 0, t2)],
            "k long, v string, ts long, evt timestamp_ntz",
        ).write.partitionBy("evt").parquet(lake)
        files = sorted(
            glob.glob(os.path.join(lake, "evt=*", "*.parquet"))
        )
        t = str(tmp_path / "tbl")
        add_iceberg_files(
            spark, t, files, partition_schema=["evt timestamp"]
        )
        got = sorted(
            (r.k, r.evt) for r in read_iceberg(spark, t).collect()
        )
        assert got == [(1, t1), (2, t1), (3, t2)]
        # prune to one hour partition
        sub = read_iceberg(spark, t, key_range=("evt", t2, t2))
        assert sorted(r.k for r in sub.collect()) == [3]
        # merge through the timestamp identity spec
        merge_iceberg_batch(
            spark,
            spark.createDataFrame(
                [(2, "B", 1, t1)],
                "k long, v string, ts long, evt timestamp_ntz",
            ),
            t, "k", "ts", batch_id=1,
        )
        got = {r.k: (r.v, r.evt) for r in read_iceberg(spark, t).collect()}
        assert got[2] == ("B", t1) and len(got) == 3
        # partitions metadata renders decoded timestamps
        parts = {
            r.partition["evt"]: r.record_count
            for r in read_iceberg_metadata(
                spark, t, "partitions"
            ).collect()
        }
        assert parts[str(t1)] == 2

    def test_round13_lifecycle_composition(self, spark, tmp_path):
        """The round's features composed end-to-end: DATE-hive
        migration -> WAP branch write + publish -> bounded-life tag ->
        expiration with ref aging -> orphan sweep -> inspection
        tables, with batch reads consistent throughout."""
        import datetime

        from optimus_any2any_spark.sources.iceberg import (
            load_table_metadata,
            read_iceberg_metadata,
        )
        from optimus_any2any_spark.streaming.iceberg_table import (
            expire_iceberg_snapshots,
            publish_iceberg_branch,
            remove_iceberg_orphan_files,
            set_iceberg_ref,
        )

        d1 = datetime.date(2026, 1, 1)
        d2 = datetime.date(2026, 1, 2)
        lake = str(tmp_path / "lake")
        spark.createDataFrame(
            [(1, "a", 0, d1), (2, "b", 0, d2)],
            "k long, v string, ts long, dt date",
        ).write.partitionBy("dt").parquet(lake)
        t = str(tmp_path / "tbl")
        add_iceberg_files(
            spark, t,
            sorted(glob.glob(os.path.join(lake, "dt=*", "*.parquet"))),
            partition_schema=["dt date"],
        )
        # WAP: stage on a branch, audit, publish
        write_iceberg_commit(
            spark.createDataFrame(
                [(3, "c", 0, d2)], "k long, v string, ts long, dt date"
            ),
            t, branch="audit",
        )
        assert read_iceberg(spark, t).count() == 2  # staged invisible
        assert read_iceberg(spark, t, ref="audit").count() == 3
        publish_iceberg_branch(spark, t, "audit", drop_branch=True)
        assert read_iceberg(spark, t).count() == 3
        # bounded-life tag on the published state, then more commits
        set_iceberg_ref(
            spark, t, "nightly", ref_type="tag", max_ref_age_ms=1000
        )
        merge_iceberg_batch(
            spark,
            spark.createDataFrame(
                [(2, "B", 1, d2)], "k long, v string, ts long, dt date"
            ),
            t, "k", "ts", batch_id=1,
        )
        meta = load_table_metadata(t)
        tag_ts = int(
            next(
                s for s in meta["snapshots"]
                if s["snapshot-id"]
                == meta["refs"]["nightly"]["snapshot-id"]
            )["timestamp-ms"]
        )
        # expire with the tag aged out: ref drops, history trims
        expire_iceberg_snapshots(
            spark, t, keep_last=1, now_ms=tag_ts + 10_000
        )
        meta = load_table_metadata(t)
        assert "nightly" not in (meta.get("refs") or {})
        assert len(meta["snapshots"]) == 1
        # orphan sweep finds nothing unexpected (grace 0, dry run)
        orphans = remove_iceberg_orphan_files(
            spark, t, older_than=0, dry_run=True
        )
        assert orphans == []
        # final state consistent, inspection surfaces agree
        got = {r.k: r.v for r in read_iceberg(spark, t).collect()}
        assert got == {1: "a", 2: "B", 3: "c"}
        parts = {}
        for r in read_iceberg_metadata(spark, t, "partitions").collect():
            # rows without a dt tuple: the global delete spec
            key = r.partition.get("dt", "<untupled>")
            parts[key] = parts.get(key, 0) + r.record_count
        assert parts["2026-01-01"] == 1
        assert parts["2026-01-02"] >= 1
        ents = read_iceberg_metadata(spark, t, "entries").collect()
        assert sum(
            e.record_count for e in ents if e.content == 0
        ) >= 3
