"""Test-table loading helpers (driver testdata, TESTDATA.md).

Tables are plain parquet; at 100 TB these reads become partitioned /
bucketed table scans, and everything downstream (predicate pushdown,
column pruning) is unchanged because all queries go through the
DataFrame API.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

#: Dimension tables small enough to broadcast at any realistic scale
#: (region/nation are bounded by geography; supplier/customer/part are
#: broadcastable at test SFs but shuffle-join at 100 TB — AQE decides).
ALWAYS_BROADCAST = {"region", "nation"}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


#: Inferred-schema cache: (absolute path, content signature) → StructType.
#: Without it EVERY ``spark.read.parquet`` call runs a footer-reading
#: schema-inference Spark job — per-query driver latency a real
#: deployment keeps in a catalog/metastore instead (at 100 TB the
#: inference job touches every footer). The signature (mtime_ns + size
#: of the file, or of every data file for a directory table) changes on
#: any rewrite, so this caches schema METADATA of unchanged inputs,
#: never data or query results; a fresh process always re-infers.
_SCHEMA_CACHE: dict[tuple, object] = {}


def _content_signature(path: str):
    """Cheap driver-side identity of a parquet file/dir: None (→ no
    caching) when the path cannot be statted."""
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return (st.st_mtime_ns, st.st_size)
        entries = []
        with os.scandir(path) as it:
            for e in it:
                if e.name.startswith(("_", ".")):
                    continue
                es = e.stat()
                entries.append((e.name, es.st_mtime_ns, es.st_size))
        return tuple(sorted(entries))
    except OSError:
        return None


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, normalizing parquet TIMESTAMP(NANOS).

    Spark 4 has no TIMESTAMP_NS type (PARQUET_TYPE_ILLEGAL without the
    legacy conf); we read nanos as long and truncate to microseconds with
    exact integer division — the same ns→us truncation DuckDB applies —
    so both engines see identical TIMESTAMP values.
    """
    # Runtime-settable confs the driver's session may not carry: nanos
    # parquet timestamps (Spark 4 rejects them otherwise) and UTC
    # session time so timestamp functions match the naive DuckDB oracle.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    p = table_path(sf_dir, name)
    sig = _content_signature(p)
    key = (os.path.abspath(p), sig)
    cached = _SCHEMA_CACHE.get(key) if sig is not None else None
    if cached is not None:
        # identical files (signature-matched): supplying the schema we
        # inferred from them skips the inference job, nothing else
        df = spark.read.schema(cached).parquet(p)
    else:
        df = spark.read.parquet(p)
        if sig is not None:
            _SCHEMA_CACHE[key] = df.schema
    if name == "events":
        from pyspark.sql import functions as F

        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: read_table(spark, sf_dir, t) for t in TABLES}
