"""Sink builders: (DataFrame, Config) → side effect (SURVEY.md §2.2).

Transport-layer side effects (Redis/HTTP/SMTP/SFTP/Kafka) separate the
Spark-side work — per-record template compilation, metadata-hash
grouping, batching, format conversion, which all run distributed — from
the transport call, which is injectable (``<COMP>__TRANSPORT`` in config
values) so pipelines are testable without live services and the same
code ships against real clients.
"""

from __future__ import annotations

import json
import re
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from optimus_any2any_spark import metadata as M
from optimus_any2any_spark.config import Config, parse_rune
from optimus_any2any_spark.pipeline import register_sink
from optimus_any2any_spark.sinks.file import FileSink
from optimus_any2any_spark.compiler.template import compile_template


def _retry_conf(cfg: Config) -> tuple[int, int]:
    """Global RETRY_MAX / RETRY_BACKOFF_MS (reference:
    internal/config/config.go:12-13, defaults 3 / 1000)."""
    return (
        int(cfg.get("RETRY_MAX", "3")),
        int(cfg.get("RETRY_BACKOFF_MS", "1000")),
    )


def _file_family(df: DataFrame, cfg: Config, comp: str):
    c = cfg.for_component(comp)
    sink = FileSink(
        c["destination_uri"],
        # the reference FILE sink appends (ext/file/handler.go:31
        # O_APPEND); object stores replace on copy, so only FILE
        append=(comp == "FILE"),
        compression=c.get("compression_type"),
        # <COMP>__CSV_DELIMITER is a rune in the reference (sink_file.
        # go:9 etc.): \t and \n escape sequences decode, multi-char
        # values are config errors
        delimiter=parse_rune(c.get("csv_delimiter")),
        compression_password=c.get("compression_password"),
        skip_header=c.get("skip_header", "false").lower() == "true",
        jsonpath_selector=c.get("jsonpath_selector"),
        metadata_prefix=cfg.get("METADATA_PREFIX", M.METADATA_PREFIX),
        # legacy per-N-records destination split (ext/oss/sink.go:54)
        batch_size=int(c["batch_size"]) if c.get("batch_size") else None,
        # OSS__MAX_TEMP_FILE_RECORD_NUMBER (README: 50k default staging cap)
        max_records_per_file=(
            int(c["max_temp_file_record_number"])
            if c.get("max_temp_file_record_number")
            else None
        ),
    )
    return sink.write(df)


@register_sink("FILE")
def file_sink(df: DataFrame, cfg: Config):
    """ext/file/sink.go:32 — templated URIs, format by extension."""
    return _file_family(df, cfg, "FILE")


@register_sink("OSS")
def oss_sink(df: DataFrame, cfg: Config):
    """ext/oss/sink.go:34 — the _inprogress+rename committer dance is
    Spark's output committer; local paths here, oss:// via Hadoop conf."""
    return _file_family(df, cfg, "OSS")


@register_sink("S3")
def s3_sink(df: DataFrame, cfg: Config):
    """ext/s3/sink.go:36 — S3__CREDENTIALS (JSON key id + secret +
    optional session token, ext/s3/util.go) resolve through
    S3__PROVIDER (``aws`` static | ``tiktok`` temporary-STS exchange,
    internal/ext/auth/aws/tiktok_provider.go) into the session's
    fs.s3a.* Hadoop configuration before the write. S3__TRANSPORT is
    the injectable HTTP seam (no network in the sandbox)."""
    c = cfg.for_component("S3")
    creds_json = c.get("credentials")
    if creds_json:
        from optimus_any2any_spark.sinks.aws_auth import (
            apply_s3_hadoop_conf,
            resolve_s3_credentials,
        )

        creds = resolve_s3_credentials(
            creds_json,
            provider=c.get("provider", "aws"),
            transport=cfg.values.get("S3__TRANSPORT"),
        )
        apply_s3_hadoop_conf(
            df.sparkSession, creds, region=c.get("region")
        )
    return _file_family(df, cfg, "S3")


@register_sink("SFTP")
def sftp_sink(df: DataFrame, cfg: Config):
    """ext/sftp/sink.go:36 — Spark writes a local staging dir, the
    transport uploads each produced file (driver-side post-commit step;
    paramiko in production, injectable here)."""
    c = cfg.for_component("SFTP")
    transport: Callable[[str, str], None] | None = cfg.values.get("SFTP__TRANSPORT")
    import tempfile

    staging = tempfile.mkdtemp(prefix="sftp_staging_")
    staged_cfg = Config(values=dict(cfg.values))
    staged_cfg.values["SFTP__DESTINATION_URI"] = staging + "/" + c[
        "destination_uri"
    ].split("://", 1)[-1].lstrip("/")
    result = _file_family(df, staged_cfg, "SFTP")
    if transport is None:
        # production path: build the paramiko transport from the URI
        # credentials + SFTP__PRIVATE_KEY / SFTP__HOST_FINGERPRINT
        # (ext/sftp/client.go:32-70); raises NotImplementedError when
        # paramiko is absent so tests inject SFTP__TRANSPORT instead
        from optimus_any2any_spark.sinks.sftp import make_sftp_transport

        transport = make_sftp_transport(
            c["destination_uri"],
            private_key=c.get("private_key"),
            host_fingerprint=c.get("host_fingerprint"),
        )
    from optimus_any2any_spark.policy import retry

    retry_max, backoff_ms = _retry_conf(cfg)
    for local in result.files:
        remote = local[len(staging):]
        # every flush retries with backoff (common/common.go:294-315)
        retry(lambda: transport(local, remote), retry_max, backoff_ms)
    return result


@register_sink("IO")
def stdout_sink(df: DataFrame, cfg: Config):
    """ext/io/sink.go:16 — debug sink printing NDJSON to stdout."""
    data_cols = M.data_columns(df, cfg.get("METADATA_PREFIX", M.METADATA_PREFIX))
    rows = df.select(
        F.to_json(F.struct(*data_cols), {"ignoreNullFields": "false"}).alias("v")
    ).collect()
    for r in rows:
        print(r["v"])
    return len(rows)


@register_sink("DELTA")
def delta_sink(df: DataFrame, cfg: Config):
    """Beyond-reference lakehouse sink: write the pipeline's records
    into a Delta table via the open log protocol.

    ``DELTA__SINK_URI=file:///path/to/table``; ``DELTA__MODE`` is
    ``APPEND`` (default — one commit of new files, the bronze-log
    shape; its adds record stats, and it honours the table's row
    tracking and column mapping like every other writer) or
    ``MERGE`` (copy-on-write upsert; requires
    ``DELTA__MERGE_KEY`` and ``DELTA__MERGE_TS``). Optional
    ``DELTA__PARTITION_BY`` (comma-separated) partitions the table on
    first commit; ``DELTA__CHANGE_DATA=true`` records CDF entries on
    merges. The written table is readable by ``--from DELTA``, the
    ``delta_tail``/``delta_cdf`` stream sources, and any open-protocol
    Delta client."""
    from optimus_any2any_spark.streaming.delta_table import (
        merge_delta_batch,
        write_delta_commit,
    )

    c = cfg.for_component("DELTA")
    uri = c.get("sink_uri") or c.get("uri")
    if not uri:
        raise ValueError("DELTA sink requires DELTA__SINK_URI")
    path = uri[len("file://"):] if uri.startswith("file://") else uri
    df = M.strip_metadata(df, cfg.get("METADATA_PREFIX", M.METADATA_PREFIX))
    mode = (c.get("mode") or "APPEND").upper()
    part_by = [
        p.strip() for p in (c.get("partition_by") or "").split(",")
        if p.strip()
    ]
    n = df.count()
    if mode == "APPEND":
        write_delta_commit(df, path, partition_by=part_by or None)
    elif mode == "MERGE":
        key, ts = c.get("merge_key"), c.get("merge_ts")
        if not key or not ts:
            raise ValueError(
                "DELTA sink MERGE mode requires DELTA__MERGE_KEY and "
                "DELTA__MERGE_TS"
            )
        # DELTA__WHEN_MATCHED / DELTA__WHEN_NOT_MATCHED_BY_SOURCE:
        # JSON clause lists — [["update", cond|null, {col: sql}],
        # ["delete", cond|null]] — the conditional-MERGE builder
        # surface (validated/refused inside merge_delta_batch)
        import json as _json

        wm = c.get("when_matched")
        nm = c.get("when_not_matched")
        nmbs = c.get("when_not_matched_by_source")
        merge_delta_batch(
            df.sparkSession,
            df,
            path,
            key,
            ts,
            partition_by=part_by or None,
            change_data=(c.get("change_data", "").lower() == "true"),
            when_matched=_json.loads(wm) if wm else None,
            when_not_matched=_json.loads(nm) if nm else None,
            when_not_matched_by_source=(
                _json.loads(nmbs) if nmbs else None
            ),
        )
    elif mode == "DELETE":
        # erasure pipeline: the records' keys are REMOVED from the
        # target (GDPR shape); pair with DELTA__CHANGE_DATA=true so
        # downstream CDF consumers learn which rows to forget
        from optimus_any2any_spark.streaming.delta_table import (
            delete_delta_keys,
        )

        key = c.get("merge_key")
        if not key:
            raise ValueError(
                "DELTA sink DELETE mode requires DELTA__MERGE_KEY"
            )
        delete_delta_keys(
            df.sparkSession,
            path,
            key,
            df.select(key),
            change_data=(c.get("change_data", "").lower() == "true"),
            # DELTA__USE_DV=true: merge-on-read erasure — deletion
            # vectors instead of file rewrites (O(deleted rows) write
            # amplification)
            use_deletion_vectors=(
                c.get("use_dv", "").lower() == "true"
            ),
        )
    elif mode == "DELETE_WHERE":
        # predicate DML: DELETE FROM t WHERE <DELTA__PREDICATE> —
        # the incoming records only trigger the run; the predicate
        # decides the rows
        from optimus_any2any_spark.streaming.delta_table import (
            delete_delta_where,
        )

        predicate = c.get("predicate")
        if not predicate:
            raise ValueError(
                "DELTA sink DELETE_WHERE mode requires DELTA__PREDICATE"
            )
        delete_delta_where(
            df.sparkSession, path, predicate,
            change_data=(c.get("change_data", "").lower() == "true"),
        )
    elif mode == "UPDATE_WHERE":
        # UPDATE t SET <DELTA__SET json> WHERE <DELTA__PREDICATE>
        import json as _json

        from optimus_any2any_spark.streaming.delta_table import (
            update_delta_where,
        )

        set_json = c.get("set")
        if not set_json:
            raise ValueError(
                "DELTA sink UPDATE_WHERE mode requires DELTA__SET "
                '(JSON {"col": "value_sql"})'
            )
        update_delta_where(
            df.sparkSession, path, _json.loads(set_json),
            where=c.get("predicate"),
            change_data=(c.get("change_data", "").lower() == "true"),
        )
    else:
        raise ValueError(f"DELTA sink: unknown mode {mode!r}")
    # table maintenance riders: OPTIMIZE compaction and VACUUM after
    # the write, so a CLI-driven pipeline can keep its target healthy
    # without a separate tool
    if c.get("add_constraint"):
        # DELTA__ADD_CONSTRAINT=name:expr — ALTER TABLE ADD CONSTRAINT
        # CHECK; later writes validate their rows against it
        from optimus_any2any_spark.streaming.delta_table import (
            set_delta_constraint,
        )

        spec = c["add_constraint"]
        if ":" not in spec:
            raise ValueError(
                "DELTA__ADD_CONSTRAINT must be <name>:<sql expression>"
            )
        cname, cexpr = spec.split(":", 1)
        set_delta_constraint(df.sparkSession, path, cname.strip(), cexpr)
    if c.get("drop_constraint"):
        from optimus_any2any_spark.streaming.delta_table import (
            drop_delta_constraint,
        )

        drop_delta_constraint(
            df.sparkSession, path, c["drop_constraint"].strip()
        )
    if c.get("restore_version") or c.get("restore_timestamp"):
        # DELTA__RESTORE_VERSION / DELTA__RESTORE_TIMESTAMP: RESTORE
        # TO {VERSION|TIMESTAMP} AS OF as a new commit, after the
        # write (VERDICT r8 item 8 — every other lifecycle verb was
        # already env-var reachable)
        from optimus_any2any_spark.streaming.delta_table import (
            restore_delta,
        )

        rv = c.get("restore_version")
        rts = c.get("restore_timestamp")
        if rts is not None and str(rts).lstrip("-").isdigit():
            rts = int(rts)
        restore_delta(
            df.sparkSession, path,
            version=int(rv) if rv else None,
            timestamp=rts,
        )
    if (c.get("purge_dv") or "").lower() == "true":
        # REORG APPLY (PURGE): rewrite DV'd files clean before any
        # compaction rider, converting merge-on-read debt back into
        # copy-on-write files
        from optimus_any2any_spark.streaming.delta_table import (
            purge_deletion_vectors,
        )

        purge_deletion_vectors(
            df.sparkSession, path, key_col=c.get("merge_key")
        )
    if c.get("optimize_rows"):
        from optimus_any2any_spark.streaming.delta_table import (
            compact_delta,
        )

        # DELTA__OPTIMIZE_ZORDER=col1,col2: OPTIMIZE ... ZORDER BY —
        # every live file rewrites, routed on the Morton key
        zo = c.get("optimize_zorder")
        compact_delta(
            df.sparkSession, path,
            target_rows_per_file=int(c["optimize_rows"]),
            zorder_by=(
                [s.strip() for s in zo.split(",") if s.strip()]
                if zo
                else None
            ),
        )
    if (c.get("vacuum") or "").lower() == "true":
        from optimus_any2any_spark.streaming.delta_table import (
            vacuum_delta,
        )

        vacuum_delta(df.sparkSession, path)
    return n


@register_sink("ICEBERG")
def iceberg_sink(df: DataFrame, cfg: Config):
    """Beyond-reference lakehouse sink: write records as Iceberg v1
    snapshots (open spec, stdlib Avro manifests).
    ``ICEBERG__SINK_URI=file:///path``; ``ICEBERG__MODE`` is ``APPEND``
    (default; one snapshot of added files), ``DELETE`` (equality-delete
    merge-on-read erasure by ``ICEBERG__MERGE_KEY``), ``DELETE_POS``
    (positional-delete merge-on-read erasure — matching rows' (file,
    position) pairs committed as one sorted content=1 delete file),
    ``DELETE_WHERE`` / ``UPDATE_WHERE`` (predicate DML via
    ``ICEBERG__PREDICATE`` + ``ICEBERG__SET``, merge-on-read) or
    ``MERGE`` (snapshot-committing copy-on-write upsert; needs
    ``ICEBERG__MERGE_KEY``/``ICEBERG__MERGE_TS``). Every mode publishes
    through the one Iceberg file-publish tail in
    ``streaming/iceberg_table.py``. Readable by ``--from ICEBERG``, the
    ``iceberg_tail`` stream source, and v1 Iceberg clients."""
    from optimus_any2any_spark.streaming.iceberg_table import (
        merge_iceberg_batch,
        write_iceberg_commit,
    )

    c = cfg.for_component("ICEBERG")
    uri = c.get("sink_uri") or c.get("uri")
    if not uri:
        raise ValueError("ICEBERG sink requires ICEBERG__SINK_URI")
    path = uri[len("file://"):] if uri.startswith("file://") else uri
    df = M.strip_metadata(df, cfg.get("METADATA_PREFIX", M.METADATA_PREFIX))
    mode = (c.get("mode") or "APPEND").upper()
    n = df.count()
    if mode == "APPEND":
        # ICEBERG__ROW_LINEAGE=true: maintain v3 row lineage (every
        # added file gets first_row_id; next-row-id advances)
        write_iceberg_commit(
            df, path,
            row_lineage=(
                (c.get("row_lineage") or "").lower() == "true"
            ),
        )
    elif mode == "MERGE":
        key, ts = c.get("merge_key"), c.get("merge_ts")
        if not key or not ts:
            raise ValueError(
                "ICEBERG sink MERGE mode requires ICEBERG__MERGE_KEY "
                "and ICEBERG__MERGE_TS"
            )
        # ICEBERG__WHEN_MATCHED / ICEBERG__WHEN_NOT_MATCHED /
        # ICEBERG__WHEN_NOT_MATCHED_BY_SOURCE: the same JSON clause
        # lists as the Delta sink (validated inside the merge)
        import json as _json

        wm = c.get("when_matched")
        nm = c.get("when_not_matched")
        nmbs = c.get("when_not_matched_by_source")
        merge_iceberg_batch(
            df.sparkSession, df, path, key, ts,
            when_matched=_json.loads(wm) if wm else None,
            when_not_matched=_json.loads(nm) if nm else None,
            when_not_matched_by_source=(
                _json.loads(nmbs) if nmbs else None
            ),
        )
    elif mode == "DELETE":
        # merge-on-read erasure: one equality-delete file per commit,
        # no data files touched (O(distinct keys) write amplification)
        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_keys,
        )

        key = c.get("merge_key")
        if not key:
            raise ValueError(
                "ICEBERG sink DELETE mode requires ICEBERG__MERGE_KEY"
            )
        delete_iceberg_keys(df.sparkSession, path, key, df.select(key))
    elif mode == "DELETE_POS":
        # positional-delete erasure: the matching rows' (data-file,
        # row-position) identities in one sorted content=1 delete file
        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_positions,
        )

        key = c.get("merge_key")
        if not key:
            raise ValueError(
                "ICEBERG sink DELETE_POS mode requires ICEBERG__MERGE_KEY"
            )
        delete_iceberg_positions(
            df.sparkSession, path, key, df.select(key),
            # ICEBERG__USE_DV=true: format-v3 deletion vectors (one
            # Puffin blob per referenced file) instead of delete
            # parquet — the Delta DELTA__USE_DV twin
            use_deletion_vectors=(
                c.get("use_dv", "").lower() == "true"
            ),
        )
    elif mode == "DELETE_WHERE":
        # predicate DML: DELETE FROM t WHERE <ICEBERG__PREDICATE> —
        # merge-on-read positional deletes (or DVs with
        # ICEBERG__USE_DV); the incoming records only trigger the run
        from optimus_any2any_spark.streaming.iceberg_table import (
            delete_iceberg_where,
        )

        predicate = c.get("predicate")
        if not predicate:
            raise ValueError(
                "ICEBERG sink DELETE_WHERE mode requires "
                "ICEBERG__PREDICATE"
            )
        delete_iceberg_where(
            df.sparkSession, path, predicate,
            use_deletion_vectors=(
                c.get("use_dv", "").lower() == "true"
            ),
        )
    elif mode == "UPDATE_WHERE":
        # UPDATE t SET <ICEBERG__SET json> WHERE <ICEBERG__PREDICATE>
        import json as _json

        from optimus_any2any_spark.streaming.iceberg_table import (
            update_iceberg_where,
        )

        set_json = c.get("set")
        if not set_json:
            raise ValueError(
                "ICEBERG sink UPDATE_WHERE mode requires ICEBERG__SET "
                '(JSON {"col": "value_sql"})'
            )
        update_iceberg_where(
            df.sparkSession, path, _json.loads(set_json),
            where=c.get("predicate"),
            use_deletion_vectors=(
                c.get("use_dv", "").lower() == "true"
            ),
        )
    else:
        raise ValueError(f"ICEBERG sink: unknown mode {mode!r}")
    if c.get("set_partition_spec") is not None:
        # ICEBERG__SET_PARTITION_SPEC=etype / days(ts) / bucket(16,k)
        # (comma-separated; empty = unpartitioned): ALTER TABLE
        # partition evolution AFTER the write — the next merge writes
        # under the new spec, existing files keep their own
        from optimus_any2any_spark.streaming.iceberg_table import (
            set_iceberg_partition_spec,
        )

        items = [
            s.strip()
            for s in c["set_partition_spec"].split(",")
            if s.strip()
        ]
        set_iceberg_partition_spec(df.sparkSession, path, items)
    if c.get("tag"):
        # ICEBERG__TAG=<name>: tag the table's CURRENT snapshot after
        # the write — the audit handle that protects it from
        # expiration until dropped
        from optimus_any2any_spark.streaming.iceberg_table import (
            set_iceberg_ref,
        )

        set_iceberg_ref(df.sparkSession, path, c["tag"].strip())
    if c.get("drop_ref"):
        from optimus_any2any_spark.streaming.iceberg_table import (
            drop_iceberg_ref,
        )

        drop_iceberg_ref(df.sparkSession, path, c["drop_ref"].strip())
    if c.get("rollback_snapshot"):
        # ICEBERG__ROLLBACK_SNAPSHOT=<id>: history-preserving rollback
        # commit after the write (VERDICT r8 item 8)
        from optimus_any2any_spark.streaming.iceberg_table import (
            rollback_iceberg,
        )

        rollback_iceberg(
            df.sparkSession, path, int(c["rollback_snapshot"])
        )
    if c.get("optimize_rows"):
        from optimus_any2any_spark.streaming.iceberg_table import (
            compact_iceberg,
        )

        # ICEBERG__OPTIMIZE_ZORDER=col1,col2: rewrite_data_files'
        # ZORDER strategy — every live file rewrites on the Morton key
        zo = c.get("optimize_zorder")
        compact_iceberg(
            df.sparkSession, path,
            target_rows_per_file=int(c["optimize_rows"]),
            key_col=c.get("merge_key"),
            zorder_by=(
                [s.strip() for s in zo.split(",") if s.strip()]
                if zo
                else None
            ),
        )
    if c.get("expire_keep") or c.get("expire_older_than"):
        from optimus_any2any_spark.streaming.iceberg_table import (
            expire_iceberg_snapshots,
        )

        older = c.get("expire_older_than")
        if older is not None and str(older).lstrip("-").isdigit():
            older = int(older)
        expire_iceberg_snapshots(
            df.sparkSession, path,
            keep_last=int(c.get("expire_keep") or 1),
            older_than=older,
        )
    return n


@register_sink("MC")
def warehouse_sink(df: DataFrame, cfg: Config):
    """Warehouse table sink (ext/maxcompute/sink.go:38): APPEND/REPLACE
    with §1.3 schema coercion against the destination table."""
    from optimus_any2any_spark.sinks.warehouse import write_table

    c = cfg.for_component("MC")
    df = M.strip_metadata(df, cfg.get("METADATA_PREFIX", M.METADATA_PREFIX))
    if c.get("concurrency"):
        # MC__CONCURRENCY sizes the reference's round-robin block-writer
        # pool (client_batch_sender.go:58-88) — in Spark the writer pool
        # IS the output task set, so it maps to write partitioning.
        # UPLOAD_MODE (STREAM vs REGULAR tunnel) has no Spark
        # distinction: both land in the same committed write.
        df = df.repartition(int(c["concurrency"]))
    write_table(df, c["destination_table_id"], c.get("load_method", "APPEND"))
    return c["destination_table_id"]


@register_sink("PSQL")
def jdbc_sink(df: DataFrame, cfg: Config):
    """PostgreSQL sink (ext/postgresql/sink.go:45): pre-SQL then batched
    append over JDBC (the COPY bulk path maps to JDBC batch inserts;
    reWriteBatchedInserts gives COPY-adjacent throughput).

    Before any row is sent, record headers are validated against the
    destination's information_schema columns (ext/postgresql/
    util.go:15-37) so a mis-shaped frame fails fast with the
    reference's message instead of a late JDBC batch error. Live mode
    reads the column list through JDBC; tests inject
    PSQL__TABLE_COLUMNS."""
    from optimus_any2any_spark.sources import pg

    c = cfg.for_component("PSQL")
    df = M.strip_metadata(df, cfg.get("METADATA_PREFIX", M.METADATA_PREFIX))
    table_columns = cfg.values.get("PSQL__TABLE_COLUMNS")
    if table_columns is None and c.get("check_schema", "true").lower() != "false":
        try:
            table_columns = [
                r[0]
                for r in df.sparkSession.read.format("jdbc")
                .option("url", c["connection_dsn"])
                .option(
                    "query", pg.table_columns_query(c["destination_table_id"])
                )
                .load()
                .collect()
            ]
        except Exception:
            # no reachable database (offline tests without an injected
            # column list): skip the pre-check, the write itself will
            # surface connectivity errors
            table_columns = None
    # an EMPTY column list means the destination doesn't exist yet —
    # typically created by pre_sql (sessionInitStatement), which runs
    # at write time, AFTER this check; failing here would wedge
    # create-on-first-run pipelines
    if table_columns:
        pg.check_schema_validity(list(table_columns), df.columns)
    # the reference's key is PG__PRE_SQL_SCRIPT (SQL text, executed
    # before the write — ext/postgresql/sink.go:55-57)
    pre_sql = c.get("pre_sql_script", c.get("pre_sql"))
    writer = (
        df.write.format("jdbc")
        .option("url", c["connection_dsn"])
        .option("dbtable", c["destination_table_id"])
        .option("batchsize", c.get("batch_size", "512"))
        .mode("append")
    )
    if pre_sql:
        writer = writer.option("sessionInitStatement", pre_sql)
    writer.save()
    return c["destination_table_id"]


@register_sink("KAFKA")
def kafka_sink(df: DataFrame, cfg: Config):
    """ext/kafka/sink.go:21 — metadata stripped, record JSON produced to
    a topic. Native path: spark-sql-kafka writer. Injectable producer
    (KAFKA__PRODUCER) used when no broker/package is available."""
    c = cfg.for_component("KAFKA")
    data_cols = M.data_columns(df, cfg.get("METADATA_PREFIX", M.METADATA_PREFIX))
    payload = df.select(
        F.to_json(F.struct(*data_cols), {"ignoreNullFields": "false"}).alias("value")
    )
    producer = cfg.values.get("KAFKA__PRODUCER")
    if producer is not None:
        # Test seam ONLY: collects the payload to the driver. Real data
        # must use the native kafka writer below (distributed produce).
        from optimus_any2any_spark.policy import retry

        retry_max, backoff_ms = _retry_conf(cfg)
        rows = [r["value"] for r in payload.collect()]
        for v in rows:
            retry(lambda: producer(c.get("topic", ""), v), retry_max, backoff_ms)
        return len(rows)
    return (
        payload.write.format("kafka")
        .option("kafka.bootstrap.servers", c["bootstrap_servers"])
        .option("topic", c["topic"])
        .save()
    )


@register_sink("REDIS")
def redis_sink(df: DataFrame, cfg: Config):
    """ext/redis/sink.go:35 — per-record key/value templates compiled to
    Columns (distributed), MSET batches of 512 per partition
    (sink.go:151-170). Client factory injectable (REDIS__CLIENT)."""
    c = cfg.for_component("REDIS")
    key_t = compile_template(c["record_key"])
    val_t = compile_template(c.get("record_value", "[[ . | tojson ]]"))
    data = M.strip_metadata(df, cfg.get("METADATA_PREFIX", M.METADATA_PREFIX))
    kv = df.select(
        key_t.column(df).alias("k"),
        val_t.column(data).alias("v"),
    )
    batch_size = int(c.get("batch_size", "512"))
    retry_max, backoff_ms = _retry_conf(cfg)
    client_factory = cfg.values.get("REDIS__CLIENT")
    if client_factory is None:
        raise NotImplementedError(
            "redis-py is not available in this environment; inject "
            "REDIS__CLIENT (factory returning an object with mset(dict))"
        )

    def send(partition):
        import time as _time

        client = client_factory()

        def mset_retry(payload):
            # self-contained executor-side retry (common/common.go:294-315)
            for attempt in range(retry_max):
                try:
                    return client.mset(payload)
                except Exception:
                    if attempt == retry_max - 1:
                        raise
                    _time.sleep((2**attempt) * backoff_ms / 1000.0)

        buf: dict[str, str] = {}
        for row in partition:
            buf[row["k"]] = row["v"]
            if len(buf) >= batch_size:
                mset_retry(dict(buf))
                buf.clear()
        if buf:
            mset_retry(dict(buf))

    kv.foreachPartition(send)
    return True


@register_sink("HTTP")
def http_sink(df: DataFrame, cfg: Config):
    """ext/http/sink.go:183 — method, endpoint AND headers are each
    per-record compiled templates (:260-304); records group by the md5
    of their compiled config (:306-314) and flush in batches of
    HTTP__BATCH_SIZE through the body template — rendered against the
    single record map when BATCH_SIZE=1, against the list of record
    maps otherwise (:197-210), metadata stripped from the body context
    but visible to the metadata templates. Grouping/batching/rendering
    run distributed per partition; the send goes through the injectable
    ``HTTP__SENDER(method, endpoint, headers, body)``.

    Header config: HTTP__HEADER is a static ``k:v,k2:v2`` map;
    HTTP__HEADERS_FILE_PATH is a per-record *template* whose rendered
    ``Key: v1,v2`` lines parse into the header dict (:288-303).
    Without a body template the payload defaults to the record JSON
    (batch=1) or a JSON array of records (batch>1)."""
    c = cfg.for_component("HTTP")
    method_t = compile_template(c.get("method", "POST"))
    endpoint_t = compile_template(c["endpoint"])
    if c.get("headers_file_path"):
        header_src = open(c["headers_file_path"]).read()
    elif c.get("header"):
        pairs = [p.split(":", 1) for p in c["header"].split(",")]
        header_src = "".join(f"{k}: {v}\n" for k, v in pairs)
    else:
        header_src = ""
    headers_t = compile_template(header_src)
    body_src = c.get("body") or (
        open(c["body_file_path"]).read() if c.get("body_file_path") else ""
    )
    batch_size = int(c.get("batch_size", "1"))
    sender = cfg.values.get("HTTP__SENDER")
    if sender is None:
        raise NotImplementedError(
            "no HTTP client wired; inject "
            "HTTP__SENDER(method, endpoint, headers, body)"
        )
    # OAuth2 client-credentials (ext/http/sink.go:56,76-83 — the same
    # custom_provider_a client as the source): the Bearer token is
    # acquired ONCE on the driver and shipped into the send closure, so
    # executors carry the short-lived token, never the client secret.
    from optimus_any2any_spark.sources import oauth2 as _oauth2

    _creds = _oauth2.from_component_config(
        c, transport=cfg.values.get("HTTP__TOKEN_TRANSPORT")
    )
    bearer = _creds.token() if _creds is not None else None

    data = M.strip_metadata(df, cfg.get("METADATA_PREFIX", M.METADATA_PREFIX))
    data_cols = data.columns
    compiled = df.select(
        method_t.column(df).alias("__method"),
        endpoint_t.column(df).alias("__endpoint"),
        headers_t.column(df).alias("__headers"),
        F.to_json(F.struct(*data_cols), {"ignoreNullFields": "false"}).alias("v"),
    ).withColumn(
        "__group",
        F.md5(F.concat_ws("\n", "__method", "__endpoint", "__headers")),
    )
    grouped = compiled.repartition(F.col("__group")).sortWithinPartitions("__group")

    # The flush closure renders Go-template bodies on executors; ship the
    # template module by value so workers don't need the package on their
    # PYTHONPATH (same pattern as sources/paged_api.py:118-128).
    import optimus_any2any_spark.compiler.template as _template_mod
    from optimus_any2any_spark import ship_by_value

    ship_by_value(_template_mod)
    body_t = compile_template(body_src) if body_src else None

    def parse_headers(rendered: str) -> dict[str, list[str]]:
        headers: dict[str, list[str]] = {}
        for line in rendered.splitlines():
            if not line.strip():
                continue
            key, _, vals = line.partition(":")
            headers.setdefault(key.strip(), []).extend(
                v.strip() for v in vals.split(",")
            )
        return headers

    retry_max, backoff_ms = _retry_conf(cfg)

    def send(partition):
        import json as _json
        import time as _time

        cur_key, meta, buf = None, None, []

        def flush():
            if not buf:
                return
            method, endpoint, headers = meta
            hdrs = parse_headers(headers)
            if bearer is not None:
                hdrs["Authorization"] = [f"Bearer {bearer}"]
            if body_t is not None:
                ctx = (
                    _json.loads(buf[0])
                    if batch_size == 1
                    else [_json.loads(v) for v in buf]
                )
                body = body_t.render(ctx)
            elif batch_size == 1:
                body = buf[0]
            else:
                body = "[" + ",".join(buf) + "]"
            # executor-side retry around the send (ext/http/sink.go:219,
            # common/common.go:294-315)
            for attempt in range(retry_max):
                try:
                    sender(method, endpoint, hdrs, body)
                    break
                except Exception:
                    if attempt == retry_max - 1:
                        raise
                    _time.sleep((2**attempt) * backoff_ms / 1000.0)
            buf.clear()

        for row in partition:
            if row["__group"] != cur_key:
                flush()
                cur_key = row["__group"]
                meta = (row["__method"], row["__endpoint"], row["__headers"])
            buf.append(row["v"])
            if len(buf) >= batch_size:
                flush()
        flush()

    grouped.foreachPartition(send)
    return True


_ATTACHMENT_BLOCK = re.compile(
    r"(?s)\[\[\s*range\s*\.Attachments\s*\]\](.*?)\[\[\s*end\s*\]\]"
)
_ATTACHMENT_PLACEHOLDER = "<!-- ATTACHMENTS_PLACEHOLDER -->"


def _splice_attachment_links(
    body: str, block_src: str, links: list[dict[str, str]]
) -> str:
    """Render the ``[[ range .Attachments ]]...[[ end ]]`` block once per
    presigned link and splice it back over the placeholder
    (ext/smtp/util.go:97-134)."""
    block_t = compile_template(block_src)
    rendered = "".join(block_t.render(link) for link in links)
    return body.replace(_ATTACHMENT_PLACEHOLDER, rendered)


@register_sink("SMTP")
def smtp_sink(df: DataFrame, cfg: Config):
    """ext/smtp/sink.go:88 — records grouped by the md5 hash of their
    compiled email config (from/to/subject/body templates,
    sink.go:210-246, util.go:229-233); within a group the compiled
    attachment-filename template splits records into attachments. The
    grouping and attachment rendering are distributed; the send is a
    driver-side action over the (small) set of emails.

    Storage modes (sink.go:246-334): ``attachment`` (default) passes
    content inline; ``oss`` uploads each attachment through the
    injectable ``SMTP__OSS_CLIENT`` (put/presign) and splices presigned
    links into the body's ``[[ range .Attachments ]]`` block. When no
    records produced any attachment, ``SMTP__BODY_NO_RECORD`` replaces
    the body (sink.go:343-346). Transport injectable (SMTP__TRANSPORT)."""
    c = cfg.for_component("SMTP")
    from_t = compile_template(c.get("address_from", "noreply@example.com"))
    to_t = compile_template(c["address_to"])
    subject_t = compile_template(c.get("subject", "report"))
    body_src = c.get("body") or (
        open(c["body_file_path"]).read() if c.get("body_file_path") else ""
    )
    body_no_record = c.get("body_no_record") or (
        open(c["body_no_record_file_path"]).read()
        if c.get("body_no_record_file_path")
        else ""
    )
    # extract the attachments block before compiling: `range` is not a
    # per-record construct — it renders at send time over the links
    m_block = _ATTACHMENT_BLOCK.search(body_src)
    block_src = m_block.group(1) if m_block else ""
    body_t = compile_template(_ATTACHMENT_BLOCK.sub(_ATTACHMENT_PLACEHOLDER, body_src))
    attach_t = compile_template(c.get("attachment_filename", "attachment.json"))
    storage_mode = c.get("storage_mode", "attachment")
    storage_dir = c.get("storage_destination_dir", "")
    link_expiration = int(c.get("storage_link_expiration", "604800"))

    data = M.strip_metadata(df, cfg.get("METADATA_PREFIX", M.METADATA_PREFIX))
    data_cols = data.columns

    compiled = df.select(
        from_t.column(df).alias("__from"),
        to_t.column(df).alias("__to"),
        subject_t.column(df).alias("__subject"),
        body_t.column(df).alias("__body"),
        attach_t.column(df).alias("__attach"),
        F.to_json(F.struct(*data_cols), {"ignoreNullFields": "false"}).alias("v"),
    ).withColumn(
        "__group",
        F.md5(F.concat_ws("|", "__from", "__to", "__subject", "__body")),
    )
    # Driver-OOM guard (VERDICT r11 item 6): the grouped content
    # collects to the driver (emails are a small set by design) — a
    # mis-routed large dataset must fail LOUDLY before the collect,
    # not OOM it. One cheap pre-aggregation: group count + per-group
    # byte totals against configurable caps.
    max_group_bytes = int(
        c.get("max_group_bytes", str(64 * 1024 * 1024))
    )
    max_groups = int(c.get("max_groups", "1000"))
    # the probe itself is BOUNDED (limit max_groups+1): a one-group-
    # per-record template explosion must not OOM the guard either
    stats = (
        compiled.groupBy("__group")
        .agg(F.sum(F.octet_length("v")).alias("__bytes"))
        .limit(max_groups + 1)
        .collect()
    )
    if len(stats) > max_groups:
        raise ValueError(
            f"smtp sink: more than SMTP__MAX_GROUPS={max_groups} "
            "distinct email groups — the routing templates are "
            "splitting the stream into too many emails (each group "
            "collects to the driver); fix the templates or raise "
            "the cap"
        )
    over = [
        r for r in stats
        if r["__bytes"] is not None and r["__bytes"] > max_group_bytes
    ]
    if over:
        worst = max(int(r["__bytes"]) for r in over)
        raise ValueError(
            f"smtp sink: {len(over)} email group(s) exceed "
            f"SMTP__MAX_GROUP_BYTES={max_group_bytes} (largest "
            f"{worst} bytes) — a group this large would OOM the "
            "driver at collect; route the data to a file/object "
            "sink or raise the cap"
        )
    rows = (
        compiled.groupBy(
            "__group", "__from", "__to", "__subject", "__body", "__attach"
        )
        .agg(F.concat_ws("\n", F.collect_list("v")).alias("content"))
        .collect()
    )
    transport = cfg.values.get("SMTP__TRANSPORT")
    if transport is None:
        raise NotImplementedError(
            "no SMTP client wired; inject SMTP__TRANSPORT(email_dict)"
        )
    from optimus_any2any_spark.policy import retry

    retry_max, backoff_ms = _retry_conf(cfg)

    groups: dict[str, dict[str, Any]] = {}
    for r in rows:
        g = groups.setdefault(
            r["__group"],
            {
                "from": r["__from"],
                "to": r["__to"],
                "subject": r["__subject"],
                "body": r["__body"],
                "attachments": {},
            },
        )
        g["attachments"][r["__attach"]] = r["content"]

    if not groups and body_no_record:
        # empty stream: one email, templates rendered statically, the
        # no-record body instead of the (attachment-bearing) body
        email = {
            "from": from_t.render({}),
            "to": to_t.render({}),
            "subject": subject_t.render({}),
            "body": body_no_record,
            "attachment": "",
            "attachments": {},
        }
        retry(lambda: transport(email), retry_max, backoff_ms)
        return 1

    oss_client = cfg.values.get("SMTP__OSS_CLIENT")
    sent = 0
    for g in groups.values():
        email = dict(g)
        if storage_mode == "oss":
            if oss_client is None:
                raise NotImplementedError(
                    "SMTP__STORAGE_MODE=oss requires an OSS client; inject "
                    "SMTP__OSS_CLIENT with put(uri, data) and "
                    "presign(uri, expiration_s) -> url"
                )
            links = []
            for name, content in g["attachments"].items():
                uri = f"{storage_dir.rstrip('/')}/{name}" if storage_dir else name
                retry(lambda: oss_client.put(uri, content), retry_max, backoff_ms)
                url = retry(
                    lambda: oss_client.presign(uri, link_expiration),
                    retry_max,
                    backoff_ms,
                )
                links.append({"Filename": name, "URI": url})
            email["body"] = _splice_attachment_links(g["body"], block_src, links)
            email["attachments"] = {}
            email["attachment"] = ""
        else:
            email["attachment"] = "\n".join(g["attachments"].values())
        retry(lambda: transport(email), retry_max, backoff_ms)
        sent += 1
    return sent
