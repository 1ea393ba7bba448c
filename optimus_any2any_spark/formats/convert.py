"""JSON⇄CSV value-conversion semantics (SURVEY.md §1.3, §2.5).

Reproduces the reference's converters as Column expressions:

- JSON→CSV stringification (internal/ext/fileconverter/json2csv.go:116-148
  ``convertValueToString``): bools as ``true``/``false``, whole floats
  printed without decimals, arrays/objects re-marshaled as JSON text,
  null → empty string. Header = union of keys across the batch
  (json2csv.go:33-48) — free here, a DataFrame schema is already the
  union.
- CSV→JSON string typing (csv2json.go:226-229): every field is a string;
  with skipHeader the columns are named "0","1",… (csv2json.go:68-77).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def value_to_csv_string(col: Column, dtype: T.DataType) -> Column:
    """Column-level port of convertValueToString (json2csv.go:116-148)."""
    if isinstance(dtype, T.BooleanType):
        return F.when(col.isNull(), "").when(col, "true").otherwise("false")
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        as_long = col.cast("long")
        return (
            F.when(col.isNull(), "")
            .when(col == as_long.cast(dtype), as_long.cast("string"))
            .otherwise(col.cast("string"))
        )
    if isinstance(dtype, (T.ArrayType, T.MapType, T.StructType)):
        return F.when(col.isNull(), "").otherwise(F.to_json(col))
    return F.when(col.isNull(), "").otherwise(col.cast("string"))


def csv_index_columns(n: int) -> list[str]:
    """skipHeader naming: "0","1",… (csv2json.go:68-77)."""
    return [str(i) for i in range(n)]
