"""Footer-statistics fast path: provably identical to the Spark
aggregate it replaces, with fail-closed fallback.

The lakehouse writers used to re-read every byte of the files a commit
had just written to compute per-file min/max/nullCount. The footer
path (``formats/footer_stats.py``) must return EXACTLY what the Spark
aggregate returns — same Python types, same JSON serialization — or
return ``None`` so the caller falls back.
"""

from __future__ import annotations

import datetime
import decimal
import glob
import json
import math
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from optimus_any2any_spark.formats.footer_stats import (
    footer_file_stats,
    kind_of_iceberg_type,
    kind_of_spark_type,
)
from optimus_any2any_spark.streaming.delta_table import _collect_file_stats
from optimus_any2any_spark.streaming.iceberg_table import _file_stats


MIXED_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("f", T.DoubleType()),
        T.StructField("s", T.StringType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("dt", T.DateType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("tsn", T.TimestampNTZType()),
        T.StructField("dec", T.DecimalType(10, 2)),
    ]
)


def _mixed_rows():
    return [
        (
            3,
            2.5,
            "mango",
            True,
            datetime.date(2024, 3, 1),
            datetime.datetime(2024, 3, 1, 12, 0, 0, 250000),
            datetime.datetime(2024, 3, 1, 12, 0, 0, 250000),
            decimal.Decimal("10.50"),
        ),
        (
            1,
            -7.25,
            "apple",
            False,
            datetime.date(2023, 1, 15),
            datetime.datetime(2023, 1, 15, 1, 2, 3),
            datetime.datetime(2023, 1, 15, 1, 2, 3),
            decimal.Decimal("-3.07"),
        ),
        (
            9,
            None,
            None,
            None,
            None,
            None,
            None,
            None,
        ),
    ]


def _write_mixed(spark, path: str) -> list[str]:
    df = spark.createDataFrame(_mixed_rows(), MIXED_SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(path)
    return sorted(
        os.path.basename(p) for p in glob.glob(f"{path}/part-*.parquet")
    )


class TestDeltaFooterStats:
    def test_footer_matches_spark_aggregate(self, spark, tmp_path):
        """The delta stats wrapper must produce byte-identical JSON
        through the footer path and the Spark-aggregate path."""
        table = str(tmp_path / "t")
        rels = _write_mixed(spark, table)
        footer = _collect_file_stats(spark, table, rels, "k", MIXED_SCHEMA)

        # force the fallback by claiming an unprovable column type
        bad = T.StructType(
            [T.StructField("k", T.ArrayType(T.LongType()))]
            + [f for f in MIXED_SCHEMA.fields if f.name != "k"]
        )
        # ArrayType is not orderable so it would change stat_cols; use
        # the module seam instead: unprovable kinds return None
        assert (
            footer_file_stats(
                [os.path.join(table, r) for r in rels], ["k"], {"k": None}
            )
            is None
        )
        del bad

        # independent Spark aggregate, the pre-footer implementation
        stat_cols = ["k", "f", "s", "b", "dt", "ts", "tsn", "dec"]
        aggs = [F.count(F.lit(1)).alias("rows")]
        for c in stat_cols:
            aggs += [
                F.min(c).alias(f"__mn_{c}"),
                F.max(c).alias(f"__mx_{c}"),
                F.sum(F.col(c).isNull().cast("long")).alias(f"__nn_{c}"),
            ]
        (r,) = (
            spark.read.parquet(*[os.path.join(table, p) for p in rels])
            .select(*stat_cols)
            .agg(*aggs)
            .collect()
        )
        expected = {
            "numRecords": int(r["rows"]),
            "minValues": {},
            "maxValues": {},
            "nullCount": {},
        }
        for c in stat_cols:
            if r[f"__mn_{c}"] is not None:
                expected["minValues"][c] = r[f"__mn_{c}"]
                expected["maxValues"][c] = r[f"__mx_{c}"]
            expected["nullCount"][c] = int(r[f"__nn_{c}"])

        assert list(footer) == rels
        got = footer[rels[0]]
        assert got == expected
        # the stats string that lands in the add action must match too
        assert json.dumps(got, default=str) == json.dumps(
            expected, default=str
        )

    def test_footer_path_runs_zero_spark_jobs(self, spark, tmp_path):
        """The whole point: stats no longer re-scan the written data."""
        table = str(tmp_path / "t")
        rels = _write_mixed(spark, table)
        sc = spark.sparkContext
        sc.setJobGroup("footer-stats-probe", "probe", False)
        before = len(sc.statusTracker().getJobIdsForGroup(
            "footer-stats-probe"))
        _collect_file_stats(spark, table, rels, "k", MIXED_SCHEMA)
        after = len(sc.statusTracker().getJobIdsForGroup(
            "footer-stats-probe"))
        sc.setJobGroup("", "", False)
        assert after == before == 0

    def test_nan_floats_fall_back(self, spark, tmp_path):
        """NaN poisons footer float bounds — must go to the aggregate,
        which orders NaN greatest (Spark semantics)."""
        table = str(tmp_path / "nan")
        schema = T.StructType(
            [
                T.StructField("k", T.LongType()),
                T.StructField("f", T.DoubleType()),
            ]
        )
        spark.createDataFrame(
            [(1, 1.5), (2, float("nan"))], schema
        ).coalesce(1).write.mode("overwrite").parquet(table)
        rels = [
            os.path.basename(p)
            for p in glob.glob(f"{table}/part-*.parquet")
        ]
        assert (
            footer_file_stats(
                [os.path.join(table, r) for r in rels],
                ["f"],
                {"f": kind_of_spark_type(T.DoubleType())},
            )
            is None
        )
        # and the wrapper still answers correctly via the fallback
        st = _collect_file_stats(spark, table, rels, "k", schema)[rels[0]]
        assert st["minValues"]["f"] == 1.5
        import math

        assert math.isnan(st["maxValues"]["f"])

    def test_zero_float_bounds_stay_on_footer_path(self, spark, tmp_path):
        """A ±0.0 float bound is sign-ambiguous in footers but the two
        zeros compare equal everywhere stats are consumed, so the fast
        path canonicalizes to +0.0 instead of forcing a full re-scan
        of the commit. Footer and fallback must agree exactly."""
        table = str(tmp_path / "zero")
        schema = T.StructType(
            [
                T.StructField("k", T.LongType()),
                T.StructField("f", T.DoubleType()),
            ]
        )
        spark.createDataFrame(
            [(1, 0.0), (2, -0.0), (3, 7.5)], schema
        ).coalesce(1).write.mode("overwrite").parquet(table)
        rels = [
            os.path.basename(p)
            for p in glob.glob(f"{table}/part-*.parquet")
        ]
        ft = footer_file_stats(
            [os.path.join(table, r) for r in rels],
            ["f"],
            {"f": kind_of_spark_type(T.DoubleType())},
        )
        assert ft is not None, "zero bound must not force the fallback"
        got = ft[rels[0]]
        assert got["min"]["f"] == 0.0
        assert math.copysign(1.0, got["min"]["f"]) == 1.0  # +0.0, not -0.0
        assert got["max"]["f"] == 7.5
        # the wrapper (footer path) and a forced fallback agree
        st = _collect_file_stats(spark, table, rels, "k", schema)[rels[0]]
        assert st["minValues"]["f"] == 0.0
        assert math.copysign(1.0, st["minValues"]["f"]) == 1.0
        import optimus_any2any_spark.streaming.delta_table as _dt

        orig = _dt.footer_file_stats
        _dt.footer_file_stats = lambda *a, **k: None
        try:
            fb = _collect_file_stats(spark, table, rels, "k", schema)[
                rels[0]
            ]
        finally:
            _dt.footer_file_stats = orig
        assert fb == st
        assert math.copysign(1.0, fb["minValues"]["f"]) == 1.0

    def test_zero_row_file_absent(self, spark, tmp_path):
        """Zero-row parts contribute no stats entry (callers delete
        them), exactly like the grouped aggregate."""
        table = str(tmp_path / "empty")
        os.makedirs(table)
        schema = T.StructType([T.StructField("k", T.LongType())])
        spark.createDataFrame([], schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(table)
        rels = [
            os.path.basename(p)
            for p in glob.glob(f"{table}/part-*.parquet")
        ]
        if rels:  # spark may skip the empty part entirely
            got = footer_file_stats(
                [os.path.join(table, r) for r in rels],
                ["k"],
                {"k": "int"},
            )
            assert got == {}

    def test_multi_row_group_aggregation(self, spark, tmp_path):
        """min/max/nulls aggregate across row groups within a file."""
        table = str(tmp_path / "rg")
        df = spark.range(0, 100000).select(
            F.col("id").alias("k"),
            F.when(F.col("id") % 100 == 0, None)
            .otherwise(F.concat(F.lit("v"), F.col("id")))
            .alias("s"),
        )
        df.coalesce(1).write.mode("overwrite").option(
            "parquet.block.size", 64 * 1024
        ).parquet(table)
        rels = [
            os.path.basename(p)
            for p in glob.glob(f"{table}/part-*.parquet")
        ]
        import pyarrow.parquet as pq

        n_rg = pq.ParquetFile(
            os.path.join(table, rels[0])
        ).metadata.num_row_groups
        assert n_rg > 1, "fixture must span multiple row groups"
        schema = T.StructType(
            [
                T.StructField("k", T.LongType()),
                T.StructField("s", T.StringType()),
            ]
        )
        st = _collect_file_stats(spark, table, rels, "k", schema)[rels[0]]
        assert st["numRecords"] == 100000
        assert st["minValues"]["k"] == 0
        assert st["maxValues"]["k"] == 99999
        assert st["nullCount"]["s"] == 1000
        assert st["minValues"]["s"] == "v1"  # byte order: "v1" < "v10..."
        assert st["maxValues"]["s"] == "v99999"


def _paths(table, rels):
    return [os.path.join(table, r) for r in rels]


class TestIcebergFooterStats:
    def test_key_stats_match_aggregate(self, spark, tmp_path):
        table = str(tmp_path / "ice")
        os.makedirs(os.path.join(table, "data"), exist_ok=True)
        df = spark.createDataFrame(
            [(5, "x"), (2, "y"), (None, "z")],
            T.StructType(
                [
                    T.StructField("k", T.LongType()),
                    T.StructField("v", T.StringType()),
                ]
            ),
        )
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(table, "data")
        )
        rels = [
            f"data/{os.path.basename(p)}"
            for p in glob.glob(f"{table}/data/part-*.parquet")
        ]
        got = _file_stats(spark, _paths(table, rels), [("k", 1, "long")])
        (st,) = got.values()
        assert st == {"rows": 3, "cols": {"k": (2, 5, 1)}}

    def test_string_key_and_no_key(self, spark, tmp_path):
        table = str(tmp_path / "ice2")
        os.makedirs(os.path.join(table, "data"), exist_ok=True)
        df = spark.createDataFrame(
            [("b", 1), ("a", 2)],
            T.StructType(
                [
                    T.StructField("k", T.StringType()),
                    T.StructField("v", T.LongType()),
                ]
            ),
        )
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(table, "data")
        )
        rels = [
            f"data/{os.path.basename(p)}"
            for p in glob.glob(f"{table}/data/part-*.parquet")
        ]
        (st,) = _file_stats(
            spark, _paths(table, rels), [("k", 1, "string")]
        ).values()
        assert st == {"rows": 2, "cols": {"k": ("a", "b", 0)}}
        (st,) = _file_stats(spark, _paths(table, rels), []).values()
        assert st == {"rows": 2, "cols": {}}

    def test_unbounded_type_nulls_only(self, spark, tmp_path):
        """Types encode_bound can't serialize still get exact rows and
        null counts from footers (no Spark job, no bounds)."""
        table = str(tmp_path / "ice3")
        os.makedirs(os.path.join(table, "data"), exist_ok=True)
        df = spark.createDataFrame(
            [(datetime.date(2024, 1, 1),), (None,)],
            T.StructType([T.StructField("k", T.DateType())]),
        )
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(table, "data")
        )
        rels = [
            f"data/{os.path.basename(p)}"
            for p in glob.glob(f"{table}/data/part-*.parquet")
        ]
        assert kind_of_iceberg_type("date") == "nulls_only"
        sc = spark.sparkContext
        sc.setJobGroup("ice-footer-probe", "probe", False)
        (st,) = _file_stats(
            spark, _paths(table, rels), [("k", 1, "date")]
        ).values()
        n_jobs = len(
            sc.statusTracker().getJobIdsForGroup("ice-footer-probe")
        )
        sc.setJobGroup("", "", False)
        assert st == {"rows": 2, "cols": {"k": (None, None, 1)}}
        assert n_jobs == 0
