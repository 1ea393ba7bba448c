"""FILE sink: templated per-record destinations, format conversion.

Reference: ext/file/sink.go:32 (NewSink), :72 (process), :83 (per-record
URI compiled from record fields), :96-103 (JSONPath projection);
metadata stripped before write (internal/component/common/common.go:281);
shared write handler internal/ext/fs/write_handler.go:40-60.

Spark shape: the destination template compiles to a Column
(:mod:`optimus_any2any_spark.compiler.template`); records are written in
ONE distributed job partitioned by destination (``partitionBy`` on a
hidden routing column — the dynamic-partitioning equivalent of the
reference's per-record templated URIs, docs/rfc_005), then the driver
renames Spark's committed partition dirs onto the final URIs. The
rename-on-commit mirrors the reference's ``_inprogress``-then-rename
dance (ext/oss/handler.go:34-81) which is exactly Spark's output
committer. gzip compression is native; JSON output preserves nulls and
column order (the reference's ordered-map JSON, model/record.go:13).
"""

from __future__ import annotations

import gzip
import os
import shutil
import tempfile
import urllib.parse
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from optimus_any2any_spark import metadata as M
from optimus_any2any_spark.compiler.template import compile_template
from optimus_any2any_spark.formats.convert import value_to_csv_string

DEST_COL = "__destination__"


def _strip_scheme(uri: str) -> str:
    return uri[len("file://"):] if uri.startswith("file://") else uri


def _observed(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a row-count observation: read ``obs.get["n"]`` after
    the write that runs it succeeds — the count rides that job (the
    ``policy.ActionMetrics`` path), so no separate count job runs."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


@dataclass
class WriteResult:
    files: dict[str, int]  # destination path -> record count


class FileSink:
    """Batch file sink with templated routing and format conversion."""

    def __init__(
        self,
        destination_uri: str,
        fmt: str | None = None,
        delimiter: str | None = None,
        compression: str | None = None,  # None|gzip|gz|zip|tar.gz|auto
        jsonpath_selector: str | None = None,
        metadata_prefix: str = M.METADATA_PREFIX,
        batch_size: int | None = None,
        max_records_per_file: int | None = None,
        compression_password: str | None = None,
        skip_header: bool = False,
        append: bool = False,
    ):
        base = _strip_scheme(destination_uri)
        # zip/tar.gz archive the committed data files post-write
        # (write_handler.go:352-407); the data files themselves carry
        # the destination name MINUS the archive extension, exactly the
        # reference's auto-mode TrimSuffix(rightExt) staging
        # (write_handler.go:278-282).
        self.archive_type: str | None = None
        self.compression_password = compression_password
        if compression in ("zip", "tar.gz"):
            self.archive_type = compression
            compression = None
        elif compression in (None, "auto"):
            for arc_ext, arc_type in ((".tar.gz", "tar.gz"), (".zip", "zip")):
                if base.lower().endswith(arc_ext):
                    self.archive_type = arc_type
                    base = base[: -len(arc_ext)]
                    break
        # explicit gz appends .gz to every destination, as the
        # reference names per-file gzip archives <file>.gz
        # (write_handler.go:328-331)
        self.gz_append = (
            compression in ("gz", "gzip") and not base.lower().endswith(".gz")
        )
        if compression == "gz":
            compression = "gzip"
        self.template = compile_template(base)
        ext = base.rsplit(".", 1)[-1].lower() if "." in os.path.basename(base) else "json"
        if ext == "gz":
            # auto compression from extra extension (write_option.go:176-210)
            compression = compression or "gzip"
            stem = base[: -len(".gz")]
            ext = stem.rsplit(".", 1)[-1].lower() if "." in os.path.basename(stem) else "json"
        self.fmt = fmt or (
            "csv"
            if ext == "csv"
            else "tsv"
            if ext == "tsv"
            else "parquet"
            if ext in ("parquet", "pq")
            else "json"
        )
        self.delimiter = delimiter or ("\t" if self.fmt == "tsv" else ",")
        self.compression = compression
        self.jsonpath_selector = jsonpath_selector
        self.metadata_prefix = metadata_prefix
        # Legacy batch splitting (ext/oss/sink.go:54,117-124): with
        # BATCH_SIZE=N the destination becomes <base>.<(idx//N)*N><ext>,
        # one output file per N-record window of the global record_index.
        self.batch_size = batch_size
        # OSS__MAX_TEMP_FILE_RECORD_NUMBER (50k default in the reference):
        # bounds records per staged part file; Spark's maxRecordsPerFile
        # is the exact knob.
        self.max_records_per_file = max_records_per_file
        # <COMP>__SKIP_HEADER on sinks omits the CSV header row
        # (chunk_writer.go:153-154 -> JSON2CSV skipHeader)
        self.skip_header = skip_header
        # The reference FILE sink opens destinations O_APPEND
        # (ext/file/handler.go:31) — successive runs append; object
        # stores overwrite (copy replaces). Each appended run writes
        # what a fresh run would (including a CSV header — matching
        # the reference, whose per-process written-counter resets).
        # gzip appends are valid multi-member streams.
        self.append = append

    def write(self, df: DataFrame) -> WriteResult:
        result = self._write_data(df)
        if self.archive_type and result.files:
            result = self._archive_result(result)
        return result

    def _archive_result(self, result: WriteResult) -> WriteResult:
        """Post-commit zip/tar.gz step: ALL committed files into ONE
        archive at their nearest common parent — named archive.<type>,
        or <stem>.<type> when there is exactly one file
        (write_handler.go:383-407). Password applies to zip only; the
        reference logs-and-ignores it for tar.gz (:321-323)."""
        from optimus_any2any_spark.formats.archive import (
            archive_files,
            nearest_common_parent,
        )

        paths = sorted(result.files)
        parent = nearest_common_parent(paths)
        if len(paths) == 1:
            stem = os.path.splitext(os.path.basename(paths[0]))[0]
            name = f"{stem}.{self.archive_type}"
        else:
            name = f"archive.{self.archive_type}"
        arc = archive_files(
            paths,
            self.archive_type,
            archive_path=os.path.join(parent, name),
            password=(
                self.compression_password
                if self.archive_type == "zip"
                else None
            ),
        )
        return WriteResult(files={arc: sum(result.files.values())})

    def _write_data(self, df: DataFrame) -> WriteResult:
        # Specialized metadata records configure, never get written
        # (rfc_009; ext/file/sink.go:78-81).
        if M.metadata_columns(df, self.metadata_prefix):
            df, _meta = M.split_specialized_metadata(df, self.metadata_prefix)

        routed = df.withColumn(DEST_COL, self.template.column(df))
        if self.gz_append:
            routed = routed.withColumn(
                DEST_COL, F.concat(F.col(DEST_COL), F.lit(".gz"))
            )
        if self.batch_size:
            if M.RECORD_INDEX not in routed.columns:
                raise ValueError(
                    "batch_size splitting needs the record_index metadata "
                    "column (metadata.with_record_index)"
                )
            routed = routed.withColumn(
                DEST_COL,
                self._batch_split_dest(
                    F.col(DEST_COL), F.col(M.RECORD_INDEX), self.batch_size
                ),
            )
        data_cols = M.data_columns(routed.drop(DEST_COL), self.metadata_prefix)

        if self.jsonpath_selector:
            from optimus_any2any_spark.compiler.jsonpath import apply_jsonpath

            routed = apply_jsonpath(routed, self.jsonpath_selector, keep=[DEST_COL])
            data_cols = [c for c in routed.columns if c != DEST_COL]

        if self.fmt == "parquet":
            return self._write_parquet(routed, data_cols)

        if self.fmt == "json":
            lines = routed.select(
                F.to_json(F.struct(*data_cols), {"ignoreNullFields": "false"}).alias(
                    "value"
                ),
                F.col(DEST_COL),
            )
            return self._write_lines(lines, header=None)

        # CSV/TSV: stringify per §1.3 then render lines with proper quoting
        dtypes = {f.name: f.dataType for f in routed.schema.fields}
        stringified = routed.select(
            *[
                value_to_csv_string(F.col(c), dtypes[c]).alias(c)
                for c in data_cols
            ],
            F.col(DEST_COL),
        )
        quoted = [self._csv_quote(F.col(c)).alias(c) for c in data_cols]
        lines = stringified.select(
            F.concat_ws(self.delimiter, *quoted).alias("value"), F.col(DEST_COL)
        )
        header = None if self.skip_header else self.delimiter.join(data_cols)
        return self._write_lines(lines, header=header)

    @staticmethod
    def _batch_split_dest(dest, idx, n: int):
        """Legacy batch-splitting destination rewrite
        (ext/oss/sink.go:117-124): ``<base>.<(idx//n)*n><ext>`` where
        ``<ext>`` is the supported-format extension plus any trailing
        extras (fs.SplitExtension, internal/ext/fs/util.go:36-50 —
        supported formats .csv/.json/.txt/.tsv/.xlsx). Pure Column
        arithmetic, so the rewrite runs executor-side in codegen.

        The reference strips the suffix with Go's ``strings.TrimRight``
        *cutset* semantics (a character-set trim that can eat trailing
        filename chars); we strip the exact suffix instead — the
        documented intent of the deprecated feature, not its quirk."""
        fmt_suffix = F.regexp_extract(
            dest, r"(\.(?:csv|json|txt|tsv|xlsx)(?:\.[^./]+)*)$", 1
        )
        any_suffix = F.regexp_extract(dest, r"(\.[^./]+)$", 1)
        suffix = F.when(fmt_suffix != "", fmt_suffix).otherwise(any_suffix)
        base = dest.substr(F.lit(1), F.length(dest) - F.length(suffix))
        start = (idx - (idx % F.lit(n))).cast("string")
        return F.concat(base, F.lit("."), start, suffix)

    def _csv_quote(self, col):
        needs = (
            col.contains(self.delimiter)
            | col.contains('"')
            | col.contains("\n")
            | col.contains("\r")
        )
        escaped = F.replace(col, F.lit('"'), F.lit('""'))
        return F.when(needs, F.concat(F.lit('"'), escaped, F.lit('"'))).otherwise(col)

    def _write_lines(self, lines: DataFrame, header: str | None) -> WriteResult:
        """One distributed text write partitioned by destination, then a
        driver-side commit/rename onto the templated URIs.

        Scale shape: ``repartition(DEST_COL)`` lands every destination in a
        single shuffle partition, so the staged dir holds exactly one part
        file per destination and the commit is a *rename*, not a byte
        stream through the driver. gzip output is compressed by Spark
        executors (native codec); the only driver-side byte movement left
        is the header prepend for CSV (buffered ``copyfileobj``, and for
        gzip it appends *compressed* bytes — a valid gzip stream is a
        concatenation of gzip members)."""
        if self.template.is_static and not self.batch_size:
            # Constant destination: no routing shuffle at all — a narrow
            # parallel write (json/gzip encode on all cores, input order
            # preserved by part-file numbering) followed by a driver
            # concat of the parts. Producing ONE output file is inherently
            # O(bytes) somewhere; this serializes only raw IO, never the
            # encode, and never forces the 1-partition shuffle the
            # templated path would.
            return self._write_static(lines, header)
        tmpdir = tempfile.mkdtemp(prefix="any2any_sink_")
        staging = os.path.join(tmpdir, "staged")
        lines = lines.persist()
        try:
            counts = {
                r[DEST_COL]: r["count"]
                for r in lines.groupBy(DEST_COL).count().collect()
            }
            writer = (
                lines.repartition(F.col(DEST_COL))
                .write.partitionBy(DEST_COL)
                .mode("overwrite")
            )
            if self.compression == "gzip":
                writer = writer.option("compression", "gzip")
            if self.max_records_per_file:
                # OSS__MAX_TEMP_FILE_RECORD_NUMBER ≙ bounded staged files
                # (50k default in the reference's chunk writer).
                writer = writer.option(
                    "maxRecordsPerFile", self.max_records_per_file
                )
            writer.text(staging)
        finally:
            lines.unpersist()
        result: dict[str, int] = {}
        for entry in os.listdir(staging):
            if not entry.startswith(DEST_COL + "="):
                continue
            dest = urllib.parse.unquote(entry[len(DEST_COL) + 1 :])
            os.makedirs(os.path.dirname(dest) or ".", exist_ok=True)
            parts = sorted(
                os.path.join(staging, entry, p)
                for p in os.listdir(os.path.join(staging, entry))
                if p.startswith("part-")
            )
            self._commit_destination(dest, parts, header)
            result[dest] = counts.get(dest, 0)
        shutil.rmtree(tmpdir, ignore_errors=True)
        return WriteResult(files=result)

    def _write_parquet(self, routed: DataFrame, data_cols: list[str]) -> WriteResult:
        """Parquet destinations (beyond-reference; training pipelines are
        parquet-first). The destination is a *directory* in Spark's
        native layout — columnar parts + `_SUCCESS` — committed by
        Spark's own output committer with zero driver byte movement
        (unlike line formats, parquet parts cannot be concatenated, and
        a single giant file would be an anti-goal anyway: per-part
        parallel reads are the point). Templated URIs still fan out in
        ONE job via ``partitionBy`` on the routing column; each staged
        ``DEST_COL=<uri>`` dir is renamed onto its destination."""
        typed = routed.select(*data_cols, F.col(DEST_COL))
        writer_opts = {}
        if self.max_records_per_file:
            writer_opts["maxRecordsPerFile"] = str(self.max_records_per_file)
        if self.template.is_static and not self.batch_size:
            dest = self.template.render({})
            df, obs = _observed(typed.drop(DEST_COL))
            df.write.mode("overwrite").options(**writer_opts).parquet(dest)
            return WriteResult(files={dest: obs.get["n"]})
        tmpdir = tempfile.mkdtemp(prefix="any2any_sink_")
        staging = os.path.join(tmpdir, "staged")
        typed = typed.persist()
        try:
            counts = {
                r[DEST_COL]: r["count"]
                for r in typed.groupBy(DEST_COL).count().collect()
            }
            (
                typed.repartition(F.col(DEST_COL))
                .write.partitionBy(DEST_COL)
                .mode("overwrite")
                .options(**writer_opts)
                .parquet(staging)
            )
        finally:
            typed.unpersist()
        result: dict[str, int] = {}
        for entry in os.listdir(staging):
            if not entry.startswith(DEST_COL + "="):
                continue
            dest = urllib.parse.unquote(entry[len(DEST_COL) + 1 :])
            if os.path.exists(dest):
                shutil.rmtree(dest, ignore_errors=True)
            os.makedirs(os.path.dirname(dest) or ".", exist_ok=True)
            shutil.move(os.path.join(staging, entry), dest)
            result[dest] = counts.get(dest, 0)
        shutil.rmtree(tmpdir, ignore_errors=True)
        return WriteResult(files=result)

    def _write_static(self, lines: DataFrame, header: str | None) -> WriteResult:
        """Single fixed destination: parallel narrow write, ordered concat."""
        dest = self.template.render({})
        if self.gz_append:
            dest += ".gz"
        tmpdir = tempfile.mkdtemp(prefix="any2any_sink_")
        staging = os.path.join(tmpdir, "staged")
        lines = lines.select("value")
        writer_opts = {}
        if self.compression == "gzip":
            # gzip parts cannot be line-counted without decompressing
            lines, obs = _observed(lines)
            writer_opts["compression"] = "gzip"
        if self.max_records_per_file:
            writer_opts["maxRecordsPerFile"] = str(self.max_records_per_file)
        lines.write.mode("overwrite").options(**writer_opts).text(staging)
        parts = sorted(
            os.path.join(staging, p)
            for p in os.listdir(staging)
            if p.startswith("part-")
        )
        os.makedirs(os.path.dirname(dest) or ".", exist_ok=True)
        n = 0
        header_bytes = header.encode() + b"\n" if header is not None else None
        if self.compression == "gzip":
            # Parts are executor-compressed; concatenated gzip members form
            # a valid stream, so only compressed bytes move through here.
            n = obs.get["n"]
            mode = "ab" if self.append and os.path.exists(dest) else "wb"
            with open(dest, mode) as out:
                if header_bytes is not None:
                    out.write(gzip.compress(header_bytes))
                for p in parts:
                    with open(p, "rb") as src:
                        shutil.copyfileobj(src, out, 1 << 20)
        else:
            mode = "ab" if self.append and os.path.exists(dest) else "wb"
            with open(dest, mode) as out:
                if header_bytes is not None:
                    out.write(header_bytes)
                for p in parts:
                    with open(p, "rb") as src:
                        while chunk := src.read(1 << 20):
                            out.write(chunk)
                            n += chunk.count(b"\n")
        shutil.rmtree(tmpdir, ignore_errors=True)
        return WriteResult(files={dest: n})

    def _commit_destination(
        self, dest: str, parts: list[str], header: str | None
    ) -> None:
        """Move the staged part(s) onto ``dest``; byte movement only when a
        header must be prepended or >1 part must be concatenated."""
        header_bytes = header.encode() + b"\n" if header is not None else None
        appending = self.append and os.path.exists(dest)
        if header_bytes is None and len(parts) == 1 and not appending:
            # Fast path: pure rename (copy fallback only across devices).
            if os.path.exists(dest):
                os.remove(dest)
            shutil.move(parts[0], dest)
            return
        with open(dest, "ab" if appending else "wb") as out:
            if header_bytes is not None:
                if self.compression == "gzip":
                    out.write(gzip.compress(header_bytes))
                else:
                    out.write(header_bytes)
            for p in parts:
                with open(p, "rb") as src:
                    shutil.copyfileobj(src, out, 1 << 20)
