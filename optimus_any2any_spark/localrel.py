"""Driver-local lookup DataFrames without a Python-worker job.

``spark.createDataFrame(list)`` in PySpark always parallelizes the rows
into a ``defaultParallelism``-sliced Python RDD — so every broadcast
join against a tiny metadata lookup (a path→sequence table, a
partition-tuple→pid table) pays a full job whose EVERY task launches a
Python worker just to ship a handful of rows (measured: 0.8–2 s per
lookup when several broadcast builds queue concurrently on ``local[32]``).

``local_rows_df`` builds the same rows as a Catalyst ``LocalRelation``
via an inline ``VALUES`` table instead: no parallelized RDD and no
Python workers (a broadcast of it still runs one small JVM-side job to
collect the rows). String values are hex-escaped
(``CAST(X'…' AS STRING)``) so no quoting/escaping rule of the SQL
parser can mangle a path. The VALUES text costs driver time per row,
so a large lookup is cheaper through ``createDataFrame``; it falls back
there above :data:`_MAX_SQL_ROWS` rows and for value types the
SQL-literal route would make lossy (the caller's semantics never
change)"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: Above this many rows building and parsing the VALUES text costs
#: more than the fallback's job: a (path string, long) lookup built
#: and broadcast-joined took 0.36-0.48 s against createDataFrame's
#: 0.47-0.52 s at 1,000-2,000 rows, and 0.77 s against 0.43 s at 5,000
#: (local[4], 4 vCPUs).
_MAX_SQL_ROWS = 2_000


def _sql_literal(v, dt: T.DataType) -> str | None:
    """SQL literal producing exactly ``v`` typed ``dt``; None = give up."""
    if v is None:
        return f"CAST(NULL AS {dt.simpleString()})"
    if isinstance(dt, T.StringType):
        if not isinstance(v, str):
            return None
        if v == "":
            return "CAST('' AS STRING)"
        return f"CAST(X'{v.encode('utf-8').hex()}' AS STRING)"
    if isinstance(dt, T.LongType):
        if isinstance(v, bool) or not isinstance(v, int):
            return None
        return f"{v}L"
    if isinstance(dt, T.IntegerType):
        if isinstance(v, bool) or not isinstance(v, int):
            return None
        return f"CAST({v} AS INT)"
    if isinstance(dt, T.BooleanType):
        if not isinstance(v, bool):
            return None
        return "true" if v else "false"
    if isinstance(dt, T.DoubleType):
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            return None
        f = float(v)
        if math.isnan(f):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(f):
            s = "Infinity" if f > 0 else "-Infinity"
            return f"CAST('{s}' AS DOUBLE)"
        # repr() is the shortest round-trip form; Double.parseDouble
        # reads it back to the identical IEEE-754 value
        return f"CAST('{f!r}' AS DOUBLE)"
    if isinstance(dt, T.BinaryType):
        if not isinstance(v, (bytes, bytearray)):
            return None
        return f"X'{bytes(v).hex()}'"
    return None


def local_rows_df(
    spark: SparkSession, rows: list, schema
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` as a LocalRelation.

    ``rows`` is a list of tuples; ``schema`` a DDL string or
    StructType of scalar fields. Any unsupported type/value falls back
    to the plain (RDD-backed) path transparently.
    """
    if isinstance(schema, str):
        struct = T._parse_datatype_string(schema)
    else:
        struct = schema
    if (
        not isinstance(struct, T.StructType)
        or not rows
        or len(rows) > _MAX_SQL_ROWS
    ):
        return spark.createDataFrame(rows, schema)
    dts = [f.dataType for f in struct.fields]
    names = list(struct.fieldNames())
    vals: list[str] = []
    for r in rows:
        if len(r) != len(dts):
            return spark.createDataFrame(rows, schema)
        lits = []
        for v, f in zip(r, struct.fields):
            s = _sql_literal(v, f.dataType)
            if s is None:
                return spark.createDataFrame(rows, schema)
            if f.nullable and v is not None:
                # match createDataFrame's nullability: a bare literal
                # infers non-nullable, which would make the produced
                # schema differ from the fallback path's
                s = f"IF(true, {s}, NULL)"
            lits.append(s)
        vals.append("(" + ",".join(lits) + ")")
    df = spark.sql(f"SELECT * FROM VALUES {','.join(vals)}")
    return df.toDF(*names)
