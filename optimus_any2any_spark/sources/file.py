"""FILE source: NDJSON / CSV / TSV files → DataFrame with metadata cols.

Reference: ext/file/source.go:28 (NewSource), :83 (process), :99
(filename metadata), :116-137 (recursive dir walk) — one record per
NDJSON line, ``__METADATA__filename`` injected, global record index.

Spark shape: ``spark.read.json``/``csv`` with recursive lookup;
``input_file_name()`` replaces the hand-threaded filename; the record
index uses the distributed two-pass pattern in
:mod:`optimus_any2any_spark.metadata`. CSV semantics follow the
reference's csv2json converter (FIXTURES.md F6): every value is a
string, ``skip_header`` names columns "0","1",…, ``skip_rows`` drops N
raw lines per file before parsing, CRLF behaves as LF (Spark's line
reader already normalizes line endings).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from optimus_any2any_spark import metadata as M
from optimus_any2any_spark.formats.convert import csv_index_columns


def _strip_scheme(uri: str) -> str:
    return uri[len("file://"):] if uri.startswith("file://") else uri


def _format_of(uri: str, fmt: str | None) -> str:
    if fmt:
        return fmt
    u = uri.lower()
    if u.endswith(".csv"):
        return "csv"
    if u.endswith(".tsv"):
        return "tsv"
    if u.endswith(".parquet") or u.endswith(".pq"):
        # beyond-reference: training-data pipelines are parquet-first;
        # a parquet path (file or directory of parts) reads natively
        # with full pushdown/pruning instead of NDJSON line parsing
        return "parquet"
    return "json"


class FileSource:
    """Batch file source with the reference's metadata conventions."""

    def __init__(
        self,
        spark: SparkSession,
        uri: str,
        fmt: str | None = None,
        schema=None,
        skip_header: bool = False,
        skip_rows: int = 0,
        delimiter: str | None = None,
        add_filename: bool = True,
        add_record_index: bool = True,
    ):
        self.spark = spark
        self.path = _strip_scheme(uri)
        self.fmt = _format_of(uri, fmt)
        self.schema = schema
        self.skip_header = skip_header
        self.skip_rows = skip_rows
        self.delimiter = delimiter or ("\t" if self.fmt == "tsv" else ",")
        self.add_filename = add_filename
        self.add_record_index = add_record_index

    def read(self) -> DataFrame:
        if self.fmt == "json":
            df = self._read_json()
        elif self.fmt == "parquet":
            reader = self.spark.read.option("recursiveFileLookup", "true")
            if self.schema is not None:
                reader = reader.schema(self.schema)
            df = reader.parquet(self.path)
        else:
            df = self._read_csv()
        if self.add_filename:
            df = M.with_filename(df)
        if self.add_record_index:
            df = M.with_record_index(df)
        return df

    def _read_json(self) -> DataFrame:
        reader = self.spark.read.option("recursiveFileLookup", "true")
        if self.schema is not None:
            return reader.schema(self.schema).json(self.path)
        df = reader.json(self.path)
        # Schema inference sorts keys alphabetically; the reference's
        # record is an *ordered* map (model/record.go:9) and column order
        # is user-visible (CSV headers). Restore first-seen key order
        # from the first record, remaining inferred columns after.
        order = self._first_record_key_order()
        if order:
            front = [c for c in order if c in df.columns]
            rest = [c for c in df.columns if c not in front]
            df = df.select(*front, *rest)
        return df

    def _first_record_key_order(self) -> list[str]:
        import json as _json

        first = (
            self.spark.read.option("recursiveFileLookup", "true")
            .text(self.path)
            .limit(1)
            .collect()
        )
        if not first or not first[0]["value"].strip():
            return []
        try:
            rec = _json.loads(
                first[0]["value"],
                object_pairs_hook=lambda pairs: [k for k, _ in pairs],
            )
        except ValueError:
            return []
        return rec if isinstance(rec, list) else []

    def _read_csv(self) -> DataFrame:
        if self.skip_rows > 0:
            return self._read_csv_skip_rows()
        has_header = not self.skip_header
        df = (
            self.spark.read.option("recursiveFileLookup", "true")
            .option("header", "true")  # first line consumed either way
            .option("sep", self.delimiter)
            .option("inferSchema", "false")
            .csv(self.path)
        )
        if not has_header:
            df = df.toDF(*csv_index_columns(len(df.columns)))
        return df

    def _read_csv_skip_rows(self) -> DataFrame:
        """skip_rows drops N raw lines per file before parsing
        (csv2json.go:32-57): a per-file positional filter over a text
        read, then from_csv parsing. Positions come from
        :meth:`_with_file_positions` — per-slice arithmetic, never a
        per-file Window (VERDICT r2: the Window variant made one
        multi-GB CSV file one task)."""
        text = (
            self.spark.read.option("recursiveFileLookup", "true")
            .text(self.path)
            .select(F.col("value"), F.input_file_name().alias("__file"))
        )
        text = self._with_file_positions(text).filter(
            F.col("__pos") >= self.skip_rows
        )
        # header = first surviving line (assumed uniform across files)
        first = (
            text.filter(F.col("__pos") == self.skip_rows)
            .select("value")
            .limit(1)
            .collect()
        )
        if not first:
            return self.spark.createDataFrame([], "value string").drop("value")
        header_fields = first[0]["value"].split(self.delimiter)
        names = (
            csv_index_columns(len(header_fields))
            if self.skip_header
            else [h.strip() for h in header_fields]
        )
        body = text.filter(F.col("__pos") > self.skip_rows)
        schema_str = ", ".join(f"`{n}` string" for n in names)
        parsed = body.select(
            F.from_csv(F.col("value"), schema_str, {"sep": self.delimiter}).alias("r")
        )
        return parsed.select("r.*")

    @staticmethod
    def _with_file_positions(text: DataFrame) -> DataFrame:
        """``__pos`` = 0-based line position within each ``__file``,
        computed without shuffling the data or funneling a file into
        one task.

        ``monotonically_increasing_id`` is consecutive within a scan
        partition, so ``mid - min(mid)`` over each (partition, file)
        slice is the row's offset inside that slice; slice row-counts
        prefix-sum into per-file slice starts. Slices of one file are
        ordered by partition id: Spark plans a file's splits in byte
        order, and the stable size-descending bin packing keeps
        equal-size splits in byte order with the smaller tail split
        last — both preserve per-file pid order. One tiny aggregate
        job (one row per scan slice) feeds two broadcast maps. If a
        slice's ids are not consecutive (a future Spark re-packing),
        the per-file Window fallback keeps correctness (same
        defensive pattern as metadata.with_record_index)."""
        # Pin ONE evaluation: the stats job, the header probe, and the
        # final parse are separate jobs, and split planning can shift
        # between jobs (maxSplitBytes derives from defaultParallelism,
        # which moves under dynamic allocation) — drifted pid/mid
        # assignments would miss the broadcast-map keys, which raises
        # below. localCheckpoint materializes the marked
        # text (MEMORY_AND_DISK, spillable) so later jobs reuse these
        # exact partitions.
        # lazy: the stats collect right below is the first action and
        # materializes the checkpoint — an eager pre-pass would read
        # the files twice (same invariant as the lakehouse writers)
        marked = (
            text.withColumn("__pid", F.spark_partition_id())
            .withColumn("__mid", F.monotonically_increasing_id())
            .localCheckpoint(eager=False)
        )
        stats = (
            marked.groupBy("__pid", "__file")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("__mid").alias("mn"),
                F.max("__mid").alias("mx"),
            )
            .collect()
        )
        consecutive = all(r["mx"] - r["mn"] + 1 == r["n"] for r in stats)
        if not consecutive:  # pragma: no cover — defensive fallback
            w = Window.partitionBy("__file").orderBy(
                F.monotonically_increasing_id()
            )
            return text.withColumn("__pos", F.row_number().over(w) - 1)
        starts: dict[tuple[int, str], int] = {}
        by_file: dict[str, list] = {}
        for r in stats:
            by_file.setdefault(r["__file"], []).append(r)
        for file, rows in by_file.items():
            acc = 0
            for r in sorted(rows, key=lambda r: r["__pid"]):
                starts[(r["__pid"], file)] = acc
                acc += r["n"]
        key = F.concat_ws("|", F.col("__pid").cast("string"), F.col("__file"))
        start_map = F.create_map(
            *[
                x
                for (pid, file), s in starts.items()
                for x in (F.lit(f"{pid}|{file}"), F.lit(s))
            ]
        )
        min_map = F.create_map(
            *[
                x
                for r in stats
                for x in (F.lit(f"{r['__pid']}|{r['__file']}"), F.lit(r["mn"]))
            ]
        )
        # a row whose slice the stats never saw (its job planned other
        # splits) has no position: fail loudly rather than let the
        # caller's position filter drop it
        return marked.withColumn(
            "__pos",
            F.when(
                start_map[key].isNull(),
                F.raise_error(
                    F.concat(
                        F.lit("file source: no line position for scan "
                              "slice "),
                        key,
                        F.lit(" — split planning changed between jobs"),
                    )
                ),
            ).otherwise(
                (start_map[key] + (F.col("__mid") - min_map[key])).cast("long")
            ),
        ).drop("__pid", "__mid")
