"""Iceberg partition transforms (spec §Partition Transforms).

Pure functions from a source column to a partition value — the spec
pins them exactly so that every engine buckets/truncates/date-slices
identically:

==============  =============================================  ========
transform       definition                                     result
==============  =============================================  ========
identity        the value                                      source
bucket[N]       ``(murmur3_x86_32(serialized v) & MAX_INT)     int
                % N`` — Appendix B hash with seed 0 over the
                single-value serialization (int/long/date/
                timestamp as 8-byte little-endian long,
                string as UTF-8 bytes)
truncate[W]     numbers: ``v - (((v % W) + W) % W)`` (floor);   source
                strings: first W code points
year/month/     calendar units since 1970 (timestamps reduced  int
day/hour        via epoch micros, never the session timezone)  (day →
                                                                date)
==============  =============================================  ========

The Spark expressions here stay timezone-independent on purpose: a
timestamp reduces through ``unix_micros`` (epoch) and calendar parts
come from tz-free DATE arithmetic, so the same rows land in the same
partitions whatever ``spark.sql.session.timeZone`` the session runs
under. ``murmur3_32`` is implemented from the public MurmurHash3
x86_32 algorithm and verified against the spec's Appendix B test
vectors (``tests/test_iceberg_transforms.py``).

Reference parity note: the reference engine has no table formats at
all — this is the beyond-reference lakehouse layer (SURVEY.md §7).
"""

from __future__ import annotations

import re
import struct

from pyspark.sql import Column
from pyspark.sql import functions as F

_EPOCH = "1970-01-01"

# transforms this writer can compute, keyed by canonical name
_TEMPORAL = {"year", "month", "day", "hour"}
# historic plural spellings appear in metadata written by some engines
_ALIASES = {
    "years": "year", "months": "month", "days": "day", "hours": "hour",
}


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """MurmurHash3 x86 32-bit (public algorithm), unsigned result —
    Iceberg's bucket hash uses seed 0 (spec Appendix B)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data)
    nblocks = n // 4
    for i in range(nblocks):
        k = int.from_bytes(data[4 * i:4 * i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = data[nblocks * 4:]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def bucket_of(value, src_ice_type: str, n: int) -> int | None:
    """Driver/executor-side bucket id for one value (spec: hash the
    single-value serialization, mask to non-negative, mod N)."""
    if value is None:
        return None
    if src_ice_type in ("int", "long"):
        data = struct.pack("<q", int(value))
    elif src_ice_type == "date":
        data = struct.pack("<q", int(value))  # days from epoch
    elif src_ice_type in ("timestamp", "timestamptz"):
        data = struct.pack("<q", int(value))  # micros from epoch
    elif src_ice_type == "string":
        data = str(value).encode("utf-8")
    else:
        raise NotImplementedError(
            f"iceberg bucket transform over source type {src_ice_type!r}"
        )
    return (murmur3_32(data) & 0x7FFFFFFF) % n


def normalize_transform(t: str) -> str:
    """Canonical transform string: plural temporal aliases fold to the
    spec's singular names; bucket/truncate keep their bracket params."""
    t = t.strip()
    return _ALIASES.get(t, t)


def parse_spec_item(item: str) -> tuple[str, str]:
    """One ``partition_by`` item → (canonical transform, source col).

    Accepts the bare column (identity) and the SQL-function forms
    Iceberg DDL uses: ``days(ts)``, ``hours(ts)``, ``months(ts)``,
    ``years(ts)``, ``bucket(16, k)``, ``truncate(3, v)``."""
    m = re.fullmatch(r"\s*(\w+)\s*\(\s*([^)]*)\)\s*", item)
    if not m:
        return "identity", item.strip()
    fn, args = m.group(1).lower(), [
        a.strip() for a in m.group(2).split(",")
    ]
    fn = _ALIASES.get(fn, fn)
    if fn in _TEMPORAL and len(args) == 1:
        return fn, args[0]
    if fn == "bucket" and len(args) == 2 and args[0].isdigit():
        return f"bucket[{int(args[0])}]", args[1]
    if fn == "truncate" and len(args) == 2 and args[0].isdigit():
        return f"truncate[{int(args[0])}]", args[1]
    raise ValueError(f"iceberg: cannot parse partition spec item {item!r}")


def partition_field_name(transform: str, src: str) -> str:
    """Iceberg's conventional partition-field naming."""
    if transform == "identity":
        return src
    if transform.startswith("bucket["):
        return f"{src}_bucket"
    if transform.startswith("truncate["):
        return f"{src}_trunc"
    return f"{src}_{transform}"


def result_type(transform: str, src_ice_type: str) -> str:
    """Iceberg type of the partition value a transform produces."""
    if transform == "identity" or transform.startswith("truncate["):
        return src_ice_type
    if transform.startswith("bucket["):
        return "int"
    if transform == "day":
        return "date"  # stored as int days-from-epoch
    if transform in _TEMPORAL:
        return "int"
    raise NotImplementedError(f"iceberg partition transform {transform!r}")


_BUCKET_SOURCES = {"int", "long", "date", "timestamp", "timestamptz",
                   "string"}
_TRUNC_SOURCES = {"int", "long", "string"}


def validate_source(transform: str, src_ice_type: str) -> None:
    """Refuse (never mis-partition) source types the spec or this
    writer does not cover for the transform."""
    ok = (
        src_ice_type in ("timestamp", "timestamptz", "date")
        if transform in _TEMPORAL
        else src_ice_type in _BUCKET_SOURCES
        if transform.startswith("bucket[")
        else src_ice_type in _TRUNC_SOURCES
        if transform.startswith("truncate[")
        else True  # identity validated by the caller's primitive check
    )
    if transform in ("year", "month") and src_ice_type not in (
        "timestamp", "timestamptz", "date",
    ):
        ok = False
    if transform == "hour" and src_ice_type not in (
        "timestamp", "timestamptz",
    ):
        ok = False
    if not ok:
        raise NotImplementedError(
            f"iceberg: partition transform {transform!r} over source "
            f"type {src_ice_type!r} is beyond this writer"
        )


def _epoch_micros(col: Column, src_ice_type: str) -> Column:
    """Epoch microseconds of a timestamp column, timezone-free.

    Iceberg ``timestamp`` maps to Spark TIMESTAMP_NTZ (a wall clock):
    ``unix_micros`` rejects NTZ, and every NTZ→LTZ conversion Spark
    offers reads the session timezone — so the wall-clock micros are
    assembled from calendar parts, which are tz-free on NTZ. Iceberg
    ``timestamptz`` is an absolute instant; ``unix_micros`` IS its
    spec reduction."""
    if src_ice_type == "timestamptz":
        return F.unix_micros(col)
    days = F.datediff(
        F.to_date(col), F.to_date(F.lit(_EPOCH))
    ).cast("long")
    return (
        days * F.lit(86_400_000_000)
        + F.hour(col).cast("long") * F.lit(3_600_000_000)
        + F.minute(col).cast("long") * F.lit(60_000_000)
        # date_part SECOND carries the fractional micros exactly
        + (
            F.date_part(F.lit("SECOND"), col) * F.lit(1_000_000)
        ).cast("long")
    )


def transform_column(
    transform: str, col: Column, src_ice_type: str
) -> Column:
    """The Spark expression computing a transform's partition value —
    JVM-side for everything except bucket (whose murmur3-over-
    serialized-bytes has no Catalyst builtin; it runs as an
    Arrow-batched pandas UDF)."""
    if transform == "identity":
        if src_ice_type == "date":
            # the manifest partition record stores the Avro PHYSICAL
            # form (int days-from-epoch); readers decode back via
            # _decode_partition_const — same convention as day()
            return F.datediff(col, F.to_date(F.lit(_EPOCH))).cast(
                "int"
            )
        if src_ice_type in ("timestamp", "timestamptz"):
            # long epoch micros, the timestamps' physical form
            return _epoch_micros(col, src_ice_type)
        return col
    if transform in _TEMPORAL:
        if src_ice_type == "date":
            days = F.datediff(col, F.to_date(F.lit(_EPOCH)))
        else:
            # floor-divide epoch micros: timezone-free, pre-1970-safe
            days = F.floor(
                _epoch_micros(col, src_ice_type) / F.lit(86_400_000_000)
            )
        if transform == "day":
            return days.cast("int")
        if transform == "hour":
            return F.floor(
                _epoch_micros(col, src_ice_type) / F.lit(3_600_000_000)
            ).cast("int")
        d = F.date_add(F.to_date(F.lit(_EPOCH)), days.cast("int"))
        if transform == "month":
            return (
                (F.year(d) - F.lit(1970)) * F.lit(12)
                + F.month(d) - F.lit(1)
            ).cast("int")
        return (F.year(d) - F.lit(1970)).cast("int")  # year
    m = re.fullmatch(r"truncate\[(\d+)\]", transform)
    if m:
        w = int(m.group(1))
        if src_ice_type == "string":
            return F.substring(col, 1, w)
        out = col - F.pmod(col, F.lit(w))
        return out.cast("int") if src_ice_type == "int" else out
    m = re.fullmatch(r"bucket\[(\d+)\]", transform)
    if m:
        n = int(m.group(1))
        return _bucket_column(col, src_ice_type, n)
    raise NotImplementedError(f"iceberg partition transform {transform!r}")


def _bucket_column(col: Column, src_ice_type: str, n: int) -> Column:
    import pandas  # noqa: F401  (pandas_udf annotation resolution)
    from pyspark.sql.functions import pandas_udf

    from optimus_any2any_spark import ship_by_value

    globals().setdefault("pandas", pandas)
    import optimus_any2any_spark.sources.iceberg_transforms as _self

    ship_by_value(_self)
    _bucket_of = bucket_of

    # timestamps reduce to epoch micros JVM-side so the UDF sees plain
    # int64 (no tz-dependent datetime round trip through Arrow)
    if src_ice_type in ("timestamp", "timestamptz"):
        col = _epoch_micros(col, src_ice_type)
    elif src_ice_type == "date":
        col = F.datediff(col, F.to_date(F.lit(_EPOCH)))

    if src_ice_type == "string":

        @pandas_udf("int")
        def _bucket_str(s: pandas.Series) -> pandas.Series:
            return s.map(
                lambda v: None
                if v is None
                else _bucket_of(v, "string", n)
            ).astype("Int32")

        return _bucket_str(col)

    @pandas_udf("int")
    def _bucket_long(s: pandas.Series) -> pandas.Series:
        return s.map(
            lambda v: None
            if v is None or (isinstance(v, float) and v != v)
            else _bucket_of(int(v), "long", n)
        ).astype("Int32")

    return _bucket_long(col)


def spark_type_of_result(res_ice_type: str) -> str:
    """Spark DDL type of a transform's partition value as this writer
    materializes it (day → int days-from-epoch, timestamps → long
    epoch micros)."""
    return {
        "int": "int", "date": "int", "long": "long", "string": "string",
        "double": "double", "float": "float", "boolean": "boolean",
        "timestamp": "long", "timestamptz": "long",
    }[res_ice_type]


def avro_type_of_result(res_ice_type: str) -> str:
    """Avro primitive backing a transform's partition value in the
    manifest entry's partition record."""
    if res_ice_type == "date":
        return "int"
    if res_ice_type in ("timestamp", "timestamptz"):
        return "long"
    return res_ice_type
