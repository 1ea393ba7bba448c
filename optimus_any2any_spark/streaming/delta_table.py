"""File-level MERGE upsert committing the open Delta log protocol.

VERDICT r3 item 4's documented end state: the copy-on-write MERGE that
``manifest_table.py`` proves out against a hand-rolled JSON manifest,
re-targeted at a REAL table format — the Delta Lake transaction log
(delta.io protocol; no delta-spark jar exists in this environment, so
the commits are written directly, and ``sources/delta.py`` replays
them). The reference has no MERGE at all (its warehouse sink is
APPEND/REPLACE only, ext/maxcompute/sink.go:171), so this whole layer
is beyond-reference — SURVEY.md §7.

Protocol mapping (manifest concept → Delta action):

========================  =====================================
manifest ``files`` entry  ``add`` action with ``stats`` JSON
                          (numRecords/minValues/maxValues/
                          nullCount — Delta's data-skipping form)
superseded file           ``remove`` tombstone (kept in the log;
                          the file itself is garbage until VACUUM)
``batch_id`` idempotence  ``txn`` action (appId, version) — the
                          protocol's SetTransaction, exactly the
                          transactional-sink pattern real Delta
                          streaming writers use
manifest rewrite          one ``%020d.json`` commit, put-if-absent
                          through the log store
bounded replay            parquet checkpoint + ``_last_checkpoint``
                          every ``checkpoint_interval`` commits
==========================================================

MERGE(batch) — copy-on-write at FILE granularity. The format-neutral
steps (batch reduction, key stats, file pruning, pid routing, row
algebra, the write) live in ``streaming/merge_core.py``, shared with
the Iceberg and manifest-table writers; ``merge_delta_batch`` adapts
them to the log:

1. idempotence: if the log's ``txn`` state already covers
   (app_id, batch_id), return without touching anything;
2. prune: partition pruning on each live ``add``'s
   ``partitionValues``, then the core's key-stats rule on its
   ``stats`` (files without usable stats are conservatively
   affected; files outside the footprint stay live untouched);
3. read ONLY affected files (deletion-vector aware), hand them to the
   core's row algebra and write, and derive CDF rows and new-file
   stats;
4. commit = one JSON log entry (txn + adds + removes) written to a
   temp name and put-if-absent into the log (``merge_core``'s log
   store, shared with Iceberg) — the atomic step; a second writer that
   lost the race gets ``IOError``. A crash before the put leaves
   orphan parquet files and an unchanged table; ``vacuum_delta``
   sweeps them.

Every writer that lays down data — APPEND (``write_delta_commit``, the
DELTA sink's default mode), MERGE, OPTIMIZE, DV purge, key delete and
UPDATE/DELETE WHERE — ends in one publish tail: ``_publish_parts``
names each part writer-uniquely and puts it through the data store,
``_add_actions`` measures it into an ``add`` (stats, row-tracking ids,
rowless parts dropped), ``_cdc_actions`` writes and publishes the
change rows, and ``_commit`` lands the log entry.

At 100 TB: per-merge IO is proportional to the update FOOTPRINT, never
the table; checkpoints keep log replay O(files) instead of O(history);
stats-pruned reads (``read_delta(key_range=...)``) skip the same files
Delta's data skipping would. Single-writer per table path (a streaming
query IS single-writer); this local-fs implementation notes where a
real deployment swaps in the Hadoop FileSystem API (rename-atomicity
on object stores is the log store's problem, per the Delta paper
§3.2 — Armbrust et al., VLDB 2020).
"""

from __future__ import annotations

from optimus_any2any_spark.localrel import local_rows_df

import glob as _glob
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from optimus_any2any_spark.formats.footer_stats import (
    footer_file_stats,
    norm_float_zero,
    kind_of_spark_type,
)
from optimus_any2any_spark.sources.delta import (
    _log_dir,
    _read_files_dv_aware,
    dv_descriptor,
    replay_log,
)
from optimus_any2any_spark.streaming import merge_core
from optimus_any2any_spark.streaming.merge_core import (
    _MAX_DRIVER_KEYS,
    _affected,
    clause_predicates,
    conditional_merge,
    group_key_stats,
    local_parts,
    merge_rows,
    pid_space,
    pid_table,
    reduce_batch,
    set_data_store,  # the public seams, re-exported for Delta callers
    set_log_store,
    sorted_keys,
    touched,
    with_pid,
    write_merged,
)

DEFAULT_APP_ID = "optimus-any2any-merge"


def _phys_of(meta: dict | None):
    """Logical→physical translation for column-mapped tables.

    Returns ``(phys, mapped, pfields)``: ``phys`` translates a
    top-level logical column name to the physical parquet name
    (identity on unmapped tables), ``mapped`` says whether the table
    declares ``delta.columnMapping.mode``, and ``pfields`` maps each
    logical top-level name to its full PHYSICAL StructField (physical
    names at every nesting level — None when unmapped). Writers run
    their INTERNAL algebra on logical names and translate only at the
    storage boundary: parquet reads/writes, add-action stats keys, and
    partitionValues keys are physical; everything else (windows,
    joins, CDF schemas as the reader surfaces them) stays logical.
    Struct casts are positional in Spark, so one cast per column
    renames all nesting levels in either direction."""
    from optimus_any2any_spark.sources.delta import (
        column_mapping,
        physical_fields,
    )

    cmap = column_mapping(meta) if meta else None
    if not cmap:
        return (lambda c: c), False, None
    return (lambda c: cmap.get(c, c)), True, physical_fields(meta)


def _phys_schema(schema: T.StructType, pfields) -> T.StructType:
    return T.StructType([pfields[f.name] for f in schema.fields])


def _mint_mapped_field(fjson: dict, next_id: list[int]) -> dict:
    """A Spark field-JSON with fresh ``delta.columnMapping.id`` /
    ``physicalName: col-<uuid>`` metadata minted at EVERY nesting
    level — the metadata delta-spark stamps on a mergeSchema-added
    column of a mapped table. ``next_id`` is a one-cell counter so
    nested struct fields consume consecutive ids."""
    import uuid

    def walk_type(t):
        if isinstance(t, dict):
            k = t.get("type")
            if k == "struct":
                return {
                    "type": "struct",
                    "fields": [walk_field(f) for f in t["fields"]],
                }
            if k == "array":
                return {**t, "elementType": walk_type(t["elementType"])}
            if k == "map":
                return {
                    **t,
                    "keyType": walk_type(t["keyType"]),
                    "valueType": walk_type(t["valueType"]),
                }
        return t

    def walk_field(f):
        # the field's own id is assigned BEFORE descending into its
        # type (nested struct fields consume the ids after it)
        next_id[0] += 1
        fid = next_id[0]
        return {
            **f,
            "type": walk_type(f["type"]),
            "metadata": {
                **(f.get("metadata") or {}),
                "delta.columnMapping.id": fid,
                "delta.columnMapping.physicalName": f"col-{uuid.uuid4()}",
            },
        }

    return walk_field(fjson)


def _evolve_mapped_meta(
    meta: dict, new_fields: list[T.StructField]
) -> dict:
    """The evolved metaData action for appending ``new_fields`` to a
    column-mapped table: each new column (and every nested struct
    field inside it) gets a fresh column id above
    ``delta.columnMapping.maxColumnId`` and a ``col-<uuid>`` physical
    name, and the configuration's maxColumnId advances — the
    bookkeeping real delta-spark performs on mergeSchema over a
    mapped table (Delta PROTOCOL.md §Column Mapping: writers must
    never reuse ids, so the counter only moves forward). Existing
    fields keep their metadata untouched; replay picks the LAST
    metaData, so time travel to older versions keeps the old schema."""
    sjson = json.loads(meta["schemaString"])
    conf = dict(meta.get("configuration") or {})
    declared = conf.get("delta.columnMapping.maxColumnId")

    def max_id(t, cur):
        if isinstance(t, dict):
            if t.get("type") == "struct":
                for f in t["fields"]:
                    md = f.get("metadata") or {}
                    cur = max(cur, int(md.get("delta.columnMapping.id", 0)))
                    cur = max_id(f["type"], cur)
            elif t.get("type") == "array":
                cur = max_id(t["elementType"], cur)
            elif t.get("type") == "map":
                cur = max_id(t["keyType"], cur)
                cur = max_id(t["valueType"], cur)
        return cur

    next_id = [max(int(declared or 0), max_id(sjson, 0))]
    minted = [
        _mint_mapped_field(f.jsonValue(), next_id) for f in new_fields
    ]
    conf["delta.columnMapping.maxColumnId"] = str(next_id[0])
    out = dict(meta)
    out["schemaString"] = json.dumps(
        {"type": "struct", "fields": sjson["fields"] + minted}
    )
    out["configuration"] = conf
    return out


def _to_phys(
    df: DataFrame, cols: list[str], pfields, keep=()
) -> DataFrame:
    """Cast logical columns to their physical fields (names at every
    nesting level — the storage boundary before a parquet write);
    ``keep`` columns pass through."""
    return df.select(
        *[
            F.col("`" + c + "`")
            .cast(pfields[c].dataType)
            .alias(pfields[c].name)
            for c in cols
        ],
        *[F.col(k) for k in keep],
    )


def _pid_cols(single: bool, path_pids) -> tuple | None:
    """The ``file_cols`` of :func:`_read_files_dv_aware` that route
    each file's rows to its output partition: ``__pid`` per log path
    from ``(path, pid)`` pairs, or None when one partition is
    touched (the caller adds a constant)."""
    if single:
        return None
    return "__pid int", {p: (pid,) for p, pid in path_pids}


def _row_tracking_of(meta: dict | None) -> tuple[str, str] | None:
    """The table's materialized row-tracking column names
    ``(rowId, rowCommitVersion)``, or None when row tracking is off
    (PROTOCOL.md Row Tracking; delta-spark stores the physical names
    in the table configuration at enablement)."""
    if not meta:
        return None
    conf = meta.get("configuration") or {}
    if (conf.get("delta.enableRowTracking") or "").lower() != "true":
        return None
    rid = conf.get("delta.rowTracking.materializedRowIdColumnName")
    rcv = conf.get(
        "delta.rowTracking.materializedRowCommitVersionColumnName"
    )
    if not rid or not rcv:
        raise NotImplementedError(
            "delta row tracking: enabled without materialized column "
            "names in the table configuration — beyond this writer"
        )
    return rid, rcv


def _rt_high_watermark(state: dict) -> int:
    """The row-id high watermark from the ``delta.rowTracking``
    domain metadata (-1 on a fresh table)."""
    cfg = (state.get("domains") or {}).get("delta.rowTracking")
    if cfg is None:
        raise ValueError(
            "delta row tracking: enabled table without the "
            "delta.rowTracking domain metadata — corrupt enablement"
        )
    return int(json.loads(cfg)["rowIdHighWaterMark"])


def _rt_domain_action(hwm: int) -> dict:
    return {
        "domainMetadata": {
            "domain": "delta.rowTracking",
            "configuration": json.dumps({"rowIdHighWaterMark": hwm}),
            "removed": False,
        }
    }


# Writer-feature sets implied by the legacy (pre-table-features)
# protocol versions — when a protocol upgrades to reader 3 / writer 7,
# the spec requires every feature the OLD version numbers implied to be
# listed explicitly, or external writers silently stop enforcing them.
_LEGACY_WRITER_FEATURES = {
    2: ["appendOnly", "invariants"],
    3: ["checkConstraints"],
    4: ["changeDataFeed", "generatedColumns"],
    5: ["columnMapping"],
    6: ["identityColumns"],
}
_LEGACY_READER_FEATURES = {2: ["columnMapping"]}


def _merged_protocol(
    existing: dict | None,
    reader_features: list[str],
    writer_features: list[str],
) -> dict | None:
    """The protocol action for a commit that needs ``reader_features``/
    ``writer_features``: existing versions are raised (never lowered)
    to 3/7, existing features — including those IMPLIED by legacy
    version numbers — are unioned in, and ``None`` means the table's
    protocol already covers the need (emit nothing). Overwriting with
    a fixed protocol would silently drop features like timestampNtz or
    v2Checkpoint that another writer had declared."""
    existing = existing or {"minReaderVersion": 1, "minWriterVersion": 2}
    old_r = int(existing.get("minReaderVersion", 1))
    old_w = int(existing.get("minWriterVersion", 2))
    r_feats = set(existing.get("readerFeatures") or [])
    w_feats = set(existing.get("writerFeatures") or [])
    if old_r < 3:
        for v, feats in _LEGACY_READER_FEATURES.items():
            if old_r >= v:
                r_feats.update(feats)
    if old_w < 7:
        for v, feats in _LEGACY_WRITER_FEATURES.items():
            if old_w >= v:
                w_feats.update(feats)
    new_r_feats = r_feats | set(reader_features)
    new_w_feats = w_feats | set(writer_features)
    new = {
        "minReaderVersion": max(old_r, 3),
        "minWriterVersion": max(old_w, 7),
        "readerFeatures": sorted(new_r_feats),
        "writerFeatures": sorted(new_w_feats),
    }
    unchanged = (
        old_r == new["minReaderVersion"]
        and old_w == new["minWriterVersion"]
        and set(existing.get("readerFeatures") or []) == new_r_feats
        and set(existing.get("writerFeatures") or []) == new_w_feats
    )
    return None if unchanged else new


def _check_append_only(meta: dict | None, verb: str) -> None:
    """``delta.appendOnly=true`` (the appendOnly writer feature):
    writers may only ADD data — a data-changing remove (delete, DV
    delete, merge rewriting affected files) violates the table's own
    contract and must refuse. ``dataChange: false`` rewrites
    (OPTIMIZE, PURGE) stay allowed, as in delta-spark."""
    if meta is None:
        return
    if (meta.get("configuration") or {}).get(
        "delta.appendOnly"
    ) == "true":
        raise ValueError(
            f"delta {verb}: table is appendOnly "
            "(delta.appendOnly=true) — data-changing removes are "
            "forbidden by the table's own configuration"
        )


def _remove_action(path: str, add: dict, data_change: bool) -> dict:
    """The remove tombstone for a live add — carrying the add's
    deletionVector descriptor when it has one, because Delta
    reconciliation keys file actions by (path, DV uniqueId): a bare
    path-only remove does NOT cancel a DV-carrying add, and external
    readers would keep both versions live (duplicate/resurrected
    rows)."""
    rm: dict = {
        "path": path,
        "deletionTimestamp": 0,
        "dataChange": data_change,
    }
    if add.get("deletionVector"):
        rm["deletionVector"] = add["deletionVector"]
        rm["extendedFileMetadata"] = True
        if add.get("partitionValues") is not None:
            rm["partitionValues"] = add["partitionValues"]
        if add.get("size") is not None:
            rm["size"] = add["size"]
    return rm


def _entry_from_add(path: str, add: dict, key_col: str) -> dict:
    """Map a Delta add action to the manifest-table pruning entry shape
    so ``_affected`` (the shared file-pruning rule) applies verbatim."""
    raw = add.get("stats")
    try:
        st = json.loads(raw) if isinstance(raw, str) else (raw or {})
    except ValueError:
        st = {}
    n = st.get("numRecords")
    fmin = (st.get("minValues") or {}).get(key_col)
    fmax = (st.get("maxValues") or {}).get(key_col)
    nulls = (st.get("nullCount") or {}).get(key_col)

    def _scalar(x):
        return isinstance(x, (str, int, float)) and not isinstance(x, bool)

    has_stats = n is not None
    # a key absent from minValues proves "all null" ONLY when the
    # nullCount says so explicitly — stats written by another writer
    # (or an OPTIMIZE that indexed different columns) may simply not
    # cover the key, and treating that as prunable silently skips
    # live rows on the next merge/delete
    all_null = (
        has_stats and nulls is not None and int(nulls) == int(n)
    )
    prunable = has_stats and (
        (fmin is None and fmax is None and all_null)
        or (_scalar(fmin) and _scalar(fmax))
    )
    return {
        "path": path,
        "rows": int(n) if has_stats else -1,  # -1 ⇒ never the rows==0 skip
        "min_key": fmin,
        "max_key": fmax,
        "has_null_key": bool(nulls and int(nulls) > 0),
        "prunable": prunable,
    }


_MAX_STAT_COLS = 8  # real Delta records the first 32; 8 keeps the
#                     footer scan cheap while covering typical filters


def _collect_file_stats(
    spark: SparkSession,
    table_path: str,
    new_rel: list[str],
    key_col: str | None,
    data_schema: T.StructType,
    lead_cols: list[str] | None = None,
) -> dict[str, dict]:
    """Per-file stats for the merge key (when given) PLUS the leading
    data columns (capped) — Delta's per-column minValues/maxValues/
    nullCount, which is what makes ``read_delta(key_range=...)`` skip
    files on ANY recorded column, not just the merge key. Rowless files
    get no entry.

    Fast path: parquet FOOTER statistics via pyarrow, driver-side —
    zero data I/O over files this commit just wrote (re-reading every
    byte of merge output for stats would double write-path I/O at
    100 TB merge throughput). Falls back to one grouped Spark
    aggregate whenever any footer value is not provably identical
    (``formats/footer_stats.py`` documents the exactness contract)."""
    orderable = (
        T.NumericType, T.StringType, T.DateType, T.TimestampType,
        T.TimestampNTZType, T.BooleanType,
    )
    # lead_cols (the ZORDER BY set) jump the cap queue: z-ordering a
    # column is useless unless its min/max are recorded per file
    lead = ([key_col] if key_col else []) + [
        c for c in (lead_cols or []) if c != key_col
    ]
    stat_cols = lead + [
        f.name
        for f in data_schema.fields
        if f.name not in lead and isinstance(f.dataType, orderable)
    ][: max(0, _MAX_STAT_COLS - len(lead))]
    type_of = {f.name: f.dataType for f in data_schema.fields}
    ft = footer_file_stats(
        [os.path.join(table_path, r) for r in new_rel],
        stat_cols,
        {c: kind_of_spark_type(type_of[c]) for c in stat_cols if c in type_of}
        if all(c in type_of for c in stat_cols)
        else {},
        session_tz=spark.conf.get("spark.sql.session.timeZone", "UTC"),
    )
    if ft is not None:
        return {
            name: {
                "numRecords": s["rows"],
                "minValues": s["min"],
                "maxValues": s["max"],
                "nullCount": s["nulls"],
            }
            for name, s in ft.items()
        }
    aggs = [F.count(F.lit(1)).alias("rows")]
    for c in stat_cols:
        aggs += [
            F.min(c).alias(f"__mn_{c}"),
            F.max(c).alias(f"__mx_{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nn_{c}"),
        ]
    per_file = (
        # explicit schema: the files were written with data_schema this
        # commit — inferring it back costs one extra footer-reading job
        # per fallback trigger
        spark.read.schema(data_schema)
        .parquet(
            *[
                merge_core.glob_escape(os.path.join(table_path, r))
                for r in new_rel
            ]
        )
        .select(*stat_cols)
        .withColumn("__f", F.input_file_name())
        .groupBy("__f")
        .agg(*aggs)
        .collect()
    )
    out: dict[str, dict] = {}
    for r in per_file:
        st: dict = {
            "numRecords": int(r["rows"]),
            "minValues": {},
            "maxValues": {},
            "nullCount": {},
        }
        for c in stat_cols:
            mn, mx = (
                norm_float_zero(r[f"__mn_{c}"]),
                norm_float_zero(r[f"__mx_{c}"]),
            )
            if mn is not None:
                st["minValues"][c] = mn
                st["maxValues"][c] = mx
            st["nullCount"][c] = int(r[f"__nn_{c}"])
        out[r["__f"].rsplit("/", 1)[-1]] = st
    return out


def _commit(
    log: str,
    version: int,
    actions: list[dict],
    operation: str | None = None,
    operation_params: dict | None = None,
) -> None:
    """The atomic step: put-if-absent of one JSON log entry. The temp
    name is writer-unique (pid + a random suffix) — a shared name like
    ``final + '.tmp'`` would let the LOSER of a version race reopen
    and truncate the very inode the winner just committed.

    ``operation`` prepends a ``commitInfo`` action (the protocol's
    provenance record, what DESCRIBE HISTORY surfaces): the operation
    name, delta-spark-shaped operationParameters, a wall-clock
    timestamp, and the engine tag."""
    import time as _time
    import uuid

    os.makedirs(log, exist_ok=True)
    final = os.path.join(log, "%020d.json" % version)
    tmp = f"{final}.{os.getpid()}-{uuid.uuid4().hex[:8]}.tmp"
    if operation is not None:
        actions = [
            {
                "commitInfo": {
                    "timestamp": int(_time.time() * 1000),
                    "operation": operation,
                    "operationParameters": operation_params or {},
                    "engineInfo": "optimus-any2any-spark",
                }
            }
        ] + list(actions)
    with open(tmp, "w") as f:
        for a in actions:
            f.write(json.dumps(a, default=str) + "\n")
    try:
        if not merge_core._put_if_absent(tmp, final):
            raise IOError(
                f"delta: commit {version} already exists — lost the "
                "race to a concurrent writer; replay the log and retry"
            )
    finally:
        os.unlink(tmp)


def _open_state(spark: SparkSession, table_path: str) -> dict:
    """The replayed log, or the empty state of a table no commit has
    created yet."""
    if os.path.isdir(_log_dir(table_path)):
        return replay_log(spark, table_path)
    return {"meta": None, "live": {}, "txns": {}, "version": -1}


def _create_actions(
    table_path: str, schema: T.StructType, part_cols: list[str]
) -> list[dict]:
    """The version-0 ``protocol`` and ``metaData`` actions of a table a
    merge or an append creates."""
    return [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": str(uuid.uuid5(uuid.NAMESPACE_URL, table_path)),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema.json(),
                "partitionColumns": list(part_cols),
                "configuration": {},
            }
        },
    ]


# The publish tail every data-writing commit ends in — one place
# decides how a Delta data file is named, published, measured and
# logged:
#   parts — the files a Spark write left in its staging dir get
#           writer-unique names and go through the data store;
#   adds  — footer stats, rowless parts dropped, ``add`` actions with
#           row-tracking ids and the watermark domain;
#   cdc   — the change rows are written and published under
#           ``_change_data/`` and logged as ``cdc`` actions.
def _publish_parts(
    table_path: str,
    tmp: str,
    single: bool,
    version: int,
    tok: str,
    tag: str,
    pv_of_pid: dict[int, dict],
) -> list[tuple[str, dict]]:
    """Publish each part a write left under ``tmp`` (plain when
    ``single``, else ``__pid=`` dirs) as
    ``part-{version:05d}-{seq:04d}-{tok}-{tag}.parquet`` and remove
    ``tmp``; returns ``(rel, partitionValues)`` per part."""
    files = []
    for seq, (part, pid) in enumerate(local_parts(tmp, single)):
        rel = f"part-{version:05d}-{seq:04d}-{tok}-{tag}.parquet"
        merge_core._put_data(part, os.path.join(table_path, rel))
        files.append((rel, pv_of_pid[pid]))
    shutil.rmtree(tmp)
    return files


def _pv_by_pid(ptuples: list, part_cols: list[str], phys) -> dict:
    """Each pid's ``partitionValues`` (physical keys) for partition
    tuples that already hold the log's value strings."""
    return {
        pid: {phys(c): v for c, v in zip(part_cols, pt)}
        for pid, pt in enumerate(ptuples)
    }


def _add_actions(
    spark: SparkSession,
    table_path: str,
    state: dict,
    version: int,
    files: list[tuple[str, dict]],
    data_schema: T.StructType,
    key_col: str | None = None,
    data_change: bool = True,
    lead_cols: list[str] | None = None,
) -> list[dict]:
    """The ``add`` actions for the published ``files`` of a table whose
    (possibly evolved) metaData is ``state["meta"]``: per-file stats
    led by ``key_col`` and ``lead_cols`` (logical names), rowless parts
    deleted instead of added, and on row-tracking tables a fresh
    ``baseRowId`` reservation per add from the watermark (rows with
    materialized ids leave theirs unused — the spec only needs
    uniqueness) plus the advanced ``delta.rowTracking`` domain."""
    phys, mapped, pfields = _phys_of(state["meta"])
    rt = _row_tracking_of(state["meta"])
    by_name = _collect_file_stats(
        spark, table_path, [r for r, _ in files],
        phys(key_col) if key_col else None,
        _phys_schema(data_schema, pfields) if mapped else data_schema,
        lead_cols=[phys(c) for c in lead_cols or []],
    ) if files else {}
    rt_base = _rt_high_watermark(state) + 1 if rt is not None else None
    actions: list[dict] = []
    for rel, pv in files:
        full = os.path.join(table_path, rel)
        st = by_name.get(rel)
        if st is None:  # a rowless part: not worth an add action
            os.remove(full)
            continue
        add = {
            "path": rel,
            "partitionValues": pv,
            "size": os.path.getsize(full),
            "modificationTime": 0,
            "dataChange": data_change,
            "stats": json.dumps(st, default=str),
        }
        if rt is not None:
            add["baseRowId"] = rt_base
            add["defaultRowCommitVersion"] = version
            rt_base += int(st["numRecords"])
        actions.append({"add": add})
    if rt is not None:
        actions.append(_rt_domain_action(rt_base - 1))
    return actions


def _cdc_actions(
    table_path: str,
    state: dict,
    version: int,
    tok: str,
    changes: DataFrame,
    cols: list[str],
) -> list[dict]:
    """Write ``changes``' ``cols`` (logical names, physical on the
    parquet of mapped tables) plus ``_change_type``, publish each part
    as ``_change_data/cdc-{version:05d}-{seq:04d}-{tok}.parquet`` and
    return the ``cdc`` actions. Every part is kept, rowless ones too:
    a commit that rewrites data without a ``cdc`` action reads as one
    written without CDF."""
    _phys, mapped, pfields = _phys_of(state["meta"])
    changes = changes.select(*cols, "_change_type")
    if mapped:
        changes = _to_phys(changes, cols, pfields, keep=("_change_type",))
    tmp = os.path.join(table_path, f"_tmp-cdc-v{version}-{tok}")
    changes.write.mode("overwrite").parquet(tmp)
    os.makedirs(os.path.join(table_path, "_change_data"), exist_ok=True)
    actions = []
    for seq, (part, _pid) in enumerate(local_parts(tmp, True)):
        rel = f"_change_data/cdc-{version:05d}-{seq:04d}-{tok}.parquet"
        size = os.path.getsize(part)
        merge_core._put_data(part, os.path.join(table_path, rel))
        actions.append(
            {
                "cdc": {
                    "path": rel,
                    "partitionValues": {},
                    "size": size,
                    "dataChange": False,
                }
            }
        )
    shutil.rmtree(tmp)
    return actions


def _checkpoint_rows(state: dict) -> tuple[list[str], list[str]]:
    """A snapshot as checkpoint rows ``(head, adds)``: protocol,
    metaData, txns and domain metadata (row tracking keeps its high
    watermark there — dropping it would reset row ids), then one row
    per live add."""
    head = [
        json.dumps({"protocol": state.get("protocol")
                    or {"minReaderVersion": 1, "minWriterVersion": 2}}),
        json.dumps({"metaData": state["meta"]}, default=str),
    ]
    head += [
        json.dumps({"txn": {"appId": a, "version": v}})
        for a, v in sorted(state["txns"].items())
    ]
    head += [
        json.dumps(
            {
                "domainMetadata": {
                    "domain": d,
                    "configuration": cfg,
                    "removed": False,
                }
            }
        )
        for d, cfg in sorted((state.get("domains") or {}).items())
    ]
    adds = [
        json.dumps({"add": add}, default=str)
        for _, add in sorted(state["live"].items())
    ]
    return head, adds


def _rows_to_parquet(
    spark: SparkSession,
    rows: list[str],
    dest: str,
    schema: T.StructType | None = None,
) -> None:
    """One parquet file at ``dest`` holding the JSON action ``rows``
    (schema inferred from them unless given), published through the
    data seam."""
    if schema is None:
        schema = spark.read.json(
            spark.sparkContext.parallelize(rows, 1)
        ).schema
    df = spark.read.schema(schema).json(
        spark.sparkContext.parallelize(rows, 1)
    )
    tmp = f"{dest}.{uuid.uuid4().hex}.d"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    merge_core._put_data(
        _glob.glob(os.path.join(_glob.escape(tmp), "part-*.parquet"))[0], dest
    )
    shutil.rmtree(tmp)


def _publish_last_checkpoint(log: str, pointer: dict) -> None:
    """``_last_checkpoint`` is an OVERWRITE pointer (the spec's one
    non-conditional log write): a writer-unique temp published through
    the data seam."""
    last = os.path.join(log, "_last_checkpoint")
    tmp = f"{last}.{os.getpid()}-{uuid.uuid4().hex[:8]}.tmp"
    with open(tmp, "w") as f:
        f.write(json.dumps(pointer))
    merge_core._put_data(tmp, last)


def _write_checkpoint(
    spark: SparkSession,
    table_path: str,
    version: int,
    max_actions_per_part: int = 100_000,
) -> None:
    """Materialize the snapshot as a parquet checkpoint so future
    replays read one parquet file + the JSON tail, not all history.
    Past ``max_actions_per_part`` actions the checkpoint splits into
    the protocol's multi-part form
    (``%020d.checkpoint.%010d.%010d.parquet`` + ``parts`` in
    ``_last_checkpoint``) — a million-file table cannot round-trip one
    giant driver-side parquet, and the reader already handles parts.
    Single-writer note: tombstones already applied to the live set are
    dropped (real Delta retains them for VACUUM retention windows;
    ``vacuum_delta`` here works from the live set directly)."""
    head, adds = _checkpoint_rows(replay_log(spark, table_path))
    rows = head + adds
    log = _log_dir(table_path)
    n_parts = max(1, -(-len(rows) // max_actions_per_part))
    chunk = -(-len(rows) // n_parts)
    # one schema inferred over ALL actions, shared by every part — a
    # per-part inference would give parts disjoint schemas (protocol/
    # metaData rows vs add rows) and a parts read drops the columns
    # missing from the first file
    full_schema = spark.read.json(
        spark.sparkContext.parallelize(rows, 1)
    ).schema
    for i in range(n_parts):
        if n_parts == 1:
            name = "%020d.checkpoint.parquet" % version
        else:
            name = "%020d.checkpoint.%010d.%010d.parquet" % (
                version, i + 1, n_parts
            )
        _rows_to_parquet(
            spark, rows[i * chunk:(i + 1) * chunk],
            os.path.join(log, name), full_schema,
        )
    pointer = {"version": version, "size": len(rows)}
    if n_parts > 1:
        pointer["parts"] = n_parts
    _publish_last_checkpoint(log, pointer)


def create_delta_table(
    spark: SparkSession,
    table_path: str,
    schema_ddl: str,
    partition_by: list[str] | None = None,
    generated: dict[str, str] | None = None,
    identity: dict[str, dict] | None = None,
    configuration: dict[str, str] | None = None,
    row_tracking: bool = False,
) -> int:
    """CREATE TABLE as a data-free commit 0 (protocol + metaData
    only) — the surface that lets a table declare GENERATED columns
    (``generated={col: sql_expr}`` records
    ``delta.generationExpression`` in the field metadata and stamps
    legacy ``minWriterVersion`` 4, the generatedColumns writer
    feature) or arbitrary configuration (``delta.appendOnly``,
    ``delta.constraints.*``, CDF) before the first data arrives.
    Subsequent merges/appends COMPUTE absent generated columns from
    their expressions and refuse provided values that diverge
    (``apply_generated_columns``); partitioning a table on a generated
    date column is the classic shape — writers then get partition
    pruning for free without trusting the producer to send the
    column."""
    import uuid

    if os.path.isdir(_log_dir(table_path)):
        raise ValueError(
            f"delta create: table already exists at {table_path}"
        )
    schema = T.StructType.fromDDL(schema_ddl)
    generated = generated or {}
    identity = identity or {}
    missing = [
        c
        for c in list(generated) + list(identity)
        if c not in schema.fieldNames()
    ]
    if missing:
        raise ValueError(
            f"delta create: generated/identity columns {missing} not "
            "in schema"
        )
    both = set(generated) & set(identity)
    if both:
        raise ValueError(
            f"delta create: columns {sorted(both)} cannot be both "
            "generated and identity"
        )
    for c in identity:
        if not isinstance(schema[c].dataType, T.LongType):
            raise ValueError(
                f"delta create: identity column {c!r} must be BIGINT "
                "(delta-spark restriction)"
            )
    fields = []
    for f in schema.fields:
        d = f.jsonValue()
        if f.name in generated:
            md = dict(d.get("metadata") or {})
            md["delta.generationExpression"] = generated[f.name]
            d["metadata"] = md
        if f.name in identity:
            spec = identity[f.name]
            md = dict(d.get("metadata") or {})
            md["delta.identity.start"] = int(spec.get("start", 1))
            md["delta.identity.step"] = int(spec.get("step", 1))
            md["delta.identity.allowExplicitInsert"] = bool(
                spec.get("allow_explicit", False)
            )
            d["metadata"] = md
        fields.append(d)
    schema_json = json.dumps({"type": "struct", "fields": fields})
    part_cols = list(partition_by or [])
    bad = [c for c in part_cols if c not in schema.fieldNames()]
    if bad:
        raise ValueError(
            f"delta create: partition columns {bad} not in schema"
        )
    conf = dict(configuration or {})
    protocol: dict = {
        "minReaderVersion": 1,
        # legacy writer-version ladder: 6 implies
        # identityColumns, 4 implies generatedColumns
        "minWriterVersion": (
            6 if identity else 4 if generated else 2
        ),
    }
    actions: list[dict] = []
    if row_tracking:
        # ROW TRACKING (PROTOCOL.md "Row Tracking"): writer feature +
        # domainMetadata support; fresh row ids derive from
        # add.baseRowId + position, stable ids from the MATERIALIZED
        # columns rewrites carry (their PHYSICAL parquet names live in
        # the table configuration, delta-spark's shape); the high
        # watermark rides the delta.rowTracking domain
        protocol = {
            "minReaderVersion": 1,
            "minWriterVersion": 7,
            "writerFeatures": sorted(
                {"rowTracking", "domainMetadata"}
                | ({"identityColumns"} if identity else set())
                | ({"generatedColumns"} if generated else set())
            ),
        }
        conf["delta.enableRowTracking"] = "true"
        suffix = str(
            uuid.uuid5(uuid.NAMESPACE_URL, f"{table_path}|rowid")
        )
        conf["delta.rowTracking.materializedRowIdColumnName"] = (
            f"_row-id-col-{suffix}"
        )
        conf[
            "delta.rowTracking.materializedRowCommitVersionColumnName"
        ] = f"_row-commit-version-col-{suffix}"
        actions.append(
            {
                "domainMetadata": {
                    "domain": "delta.rowTracking",
                    "configuration": json.dumps(
                        {"rowIdHighWaterMark": -1}
                    ),
                    "removed": False,
                }
            }
        )
    actions = [
        {"protocol": protocol},
        {
            "metaData": {
                "id": str(uuid.uuid5(uuid.NAMESPACE_URL, table_path)),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_json,
                "partitionColumns": part_cols,
                "configuration": conf,
            }
        },
    ] + actions
    _commit(
        _log_dir(table_path), 0, actions, operation="CREATE TABLE"
    )
    return 0


def set_delta_constraint(
    spark: SparkSession, table_path: str, name: str, expr: str
) -> int:
    """ALTER TABLE ADD CONSTRAINT ... CHECK (expr): validates the
    EXISTING rows first (delta-spark refuses to add a constraint the
    table already violates), then commits a metaData re-statement
    carrying ``delta.constraints.<name>`` plus the protocol upgrade
    declaring the ``checkConstraints`` writer feature (merged, never
    overwritten — other declared features survive). Every subsequent
    merge/append validates its added rows against the expression
    (PROTOCOL.md "CHECK Constraints"). Returns the committed
    version."""
    from optimus_any2any_spark.sources.delta import (
        check_delta_constraints,
        read_delta,
        table_constraints,
    )

    state = replay_log(spark, table_path)
    if state["meta"] is None:
        raise ValueError(f"delta constraint: no table at {table_path}")
    if name in table_constraints(state["meta"]):
        raise ValueError(
            f"delta constraint: {name!r} already exists (drop it first)"
        )
    probe_meta = {
        "configuration": {f"delta.constraints.{name}": expr}
    }
    check_delta_constraints(
        probe_meta, read_delta(spark, table_path), "add constraint"
    )
    meta = dict(state["meta"])
    conf = dict(meta.get("configuration") or {})
    conf[f"delta.constraints.{name}"] = expr
    meta["configuration"] = conf
    actions: list[dict] = []
    proto = _merged_protocol(
        state.get("protocol"), [], ["checkConstraints"]
    )
    if proto is not None:
        actions.append({"protocol": proto})
    actions.append({"metaData": meta})
    version = state["version"] + 1
    _commit(
        _log_dir(table_path), version, actions,
        operation="ADD CONSTRAINT", operation_params={"name": name},
    )
    return version


def drop_delta_constraint(
    spark: SparkSession, table_path: str, name: str
) -> int:
    """ALTER TABLE DROP CONSTRAINT: re-states metaData without the
    named ``delta.constraints.`` entry. Raises when the constraint
    does not exist (delta-spark's default; there is no IF EXISTS
    here)."""
    state = replay_log(spark, table_path)
    if state["meta"] is None:
        raise ValueError(f"delta constraint: no table at {table_path}")
    key = f"delta.constraints.{name}"
    conf = dict((state["meta"].get("configuration") or {}))
    if key not in conf:
        raise ValueError(
            f"delta constraint: {name!r} does not exist on the table"
        )
    del conf[key]
    meta = dict(state["meta"])
    meta["configuration"] = conf
    version = state["version"] + 1
    _commit(
        _log_dir(table_path), version, [{"metaData": meta}],
        operation="DROP CONSTRAINT", operation_params={"name": name},
    )
    return version


def restore_delta(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
    timestamp=None,
) -> int:
    """RESTORE TABLE ... TO VERSION AS OF: commit the adds/removes
    that make the CURRENT state equal the table as of ``version`` —
    Delta's time-travel write. History is preserved (the restore is a
    new commit on top; the restored-over commits remain time-travelable
    until vacuum). Refuses when a needed historical file was already
    vacuumed — restoring to silently-missing data would corrupt the
    table. The metaData in force at the target version is re-stated
    when it differs (schema rollback travels with the restore).

    ``timestamp=`` is RESTORE ... TO TIMESTAMP AS OF: resolves to the
    latest commit at-or-before the timestamp (same rule as the
    time-travel read) — mutually exclusive with ``version``."""
    if timestamp is not None:
        if version is not None:
            raise ValueError(
                "delta restore: version and timestamp are mutually "
                "exclusive"
            )
        from optimus_any2any_spark.sources.delta import (
            resolve_delta_timestamp,
        )

        version = resolve_delta_timestamp(table_path, timestamp)
    if version is None:
        raise ValueError(
            "delta restore: a version or timestamp is required"
        )
    state_now = replay_log(spark, table_path)
    if state_now["meta"] is None:
        raise ValueError(f"delta restore: no table at {table_path}")
    if version > state_now["version"] or version < 0:
        raise ValueError(
            f"delta restore: version {version} not in history "
            f"(current is {state_now['version']})"
        )
    _check_append_only(state_now["meta"], "restore")
    state_then = replay_log(spark, table_path, version=version)
    new_version = state_now["version"] + 1

    then_live = state_then["live"]
    now_live = state_now["live"]
    from optimus_any2any_spark.sources.delta import dv_unique_id

    def _key(p, a):
        return (p, dv_unique_id(a))

    then_keys = {_key(p, a) for p, a in then_live.items()}
    now_keys = {_key(p, a) for p, a in now_live.items()}
    actions: list[dict] = []
    missing = []
    for p, a in sorted(then_live.items()):
        if _key(p, a) in now_keys:
            continue
        full = os.path.join(table_path, p)
        if not os.path.exists(full):
            missing.append(p)
            continue
        dv = a.get("deletionVector") or {}
        if dv.get("storageType") == "u":
            # the re-added file's vector blob must still exist too
            if not os.path.exists(dv_descriptor(table_path, a)[2]):
                missing.append(f"{p} (deletion vector)")
                continue
        add = dict(a)
        add["dataChange"] = True
        actions.append({"add": add})
    if missing:
        raise ValueError(
            "delta restore: files of version "
            f"{version} were vacuumed: {missing[:5]} — the restore "
            "would resurrect a table with silent holes"
        )
    for p, a in sorted(now_live.items()):
        if _key(p, a) not in then_keys:
            actions.append(
                {"remove": _remove_action(p, a, data_change=True)}
            )
    if json.dumps(state_then["meta"], sort_keys=True) != json.dumps(
        state_now["meta"], sort_keys=True
    ):
        actions.append({"metaData": state_then["meta"]})
    if not actions:
        return state_now["version"]  # already identical: no-op
    _commit(
        _log_dir(table_path), new_version, actions,
        operation="RESTORE",
        operation_params={"version": str(version)},
    )
    return new_version


def write_checkpoint_v2(
    spark: SparkSession,
    table_path: str,
    sidecar_threshold: int = 10_000,
) -> str:
    """Write a V2-SPEC checkpoint of the current snapshot: a
    uuid-named ``<version>.checkpoint.<uuid>.parquet`` whose rows are
    the non-file actions plus ONE ``checkpointMetadata`` marker, with
    the file actions split into ``_delta_log/_sidecars/<uuid>.parquet``
    sidecar files (referenced by ``sidecar`` actions) once the table
    exceeds ``sidecar_threshold`` adds — the layout that lets a
    million-file table's checkpoint parallelize instead of funneling
    through one driver-side parquet. Upgrades the protocol with the
    ``v2Checkpoint`` reader+writer feature in its own commit first
    (the spec requires tables to DECLARE the feature before any reader
    can be expected to resolve uuid-named checkpoints). Returns the
    checkpoint file's log-relative name. The classic writer
    (``_write_checkpoint``) remains the default on merge's
    ``checkpoint_interval`` — v2 is the opt-in for metadata-scale
    tables."""
    state = replay_log(spark, table_path)
    if state["meta"] is None:
        raise ValueError(f"delta checkpoint: no table at {table_path}")
    proto = _merged_protocol(
        state.get("protocol"), ["v2Checkpoint"], ["v2Checkpoint"]
    )
    version = state["version"]
    if proto is not None:
        # feature declaration is a COMMIT; the checkpoint then
        # describes the state as of that commit
        version += 1
        _commit(_log_dir(table_path), version, [{"protocol": proto}])
        state = replay_log(spark, table_path)

    log = _log_dir(table_path)
    head, add_rows = _checkpoint_rows(state)
    top_rows = [
        json.dumps({"checkpointMetadata": {"version": version}})
    ] + head
    if len(add_rows) > sidecar_threshold:
        os.makedirs(os.path.join(log, "_sidecars"), exist_ok=True)
        n_parts = -(-len(add_rows) // sidecar_threshold)
        chunk = -(-len(add_rows) // n_parts)
        for i in range(n_parts):
            sc_name = f"{uuid.uuid4()}.parquet"
            sc_path = os.path.join(log, "_sidecars", sc_name)
            _rows_to_parquet(
                spark, add_rows[i * chunk:(i + 1) * chunk], sc_path
            )
            top_rows.append(
                json.dumps(
                    {
                        "sidecar": {
                            "path": sc_name,
                            "sizeInBytes": os.path.getsize(sc_path),
                            "modificationTime": 0,
                        }
                    }
                )
            )
    else:
        top_rows += add_rows

    cp_name = f"%020d.checkpoint.{uuid.uuid4()}.parquet" % version
    _rows_to_parquet(spark, top_rows, os.path.join(log, cp_name))
    _publish_last_checkpoint(
        log, {"version": version, "size": len(top_rows)}
    )
    return cp_name


def vacuum_delta(spark: SparkSession, table_path: str) -> list[str]:
    """Delete data files the current snapshot does not reference —
    tombstoned files and crash orphans. Returns the deleted names.
    Real Delta gates this on a tombstone-age retention window to
    protect concurrent readers; under the single-writer-single-reader
    session model here the live set is the whole truth."""
    state = replay_log(spark, table_path)
    live = set(state["live"])
    # DV .bin files still referenced by a live add's descriptor stay;
    # vectors consumed by a later merge/delete/purge are garbage like
    # the parquet files they annotated
    ref_bins = {
        os.path.abspath(d[2])
        for a in state["live"].values()
        if (d := dv_descriptor(table_path, a)) is not None and d[2]
    }
    gone = []
    for name in sorted(os.listdir(table_path)):
        full = os.path.join(table_path, name)
        if not os.path.isfile(full):
            continue
        if name.endswith(".parquet") and name not in live:
            os.remove(full)
            gone.append(name)
        elif (
            name.startswith("deletion_vector_")
            and name.endswith(".bin")
            and os.path.abspath(full) not in ref_bins
        ):
            os.remove(full)
            gone.append(name)
    return gone


def _with_zorder_value(
    cur: DataFrame, zorder_by: list[str], data_schema: T.StructType
) -> DataFrame:
    """Append a ``__zv`` Morton (Z-curve) key: per column, the value
    maps to a QUANTILE bucket (one ``approxQuantile`` sample job for
    ALL columns — never a global sort per dimension), and the bucket
    ids' bits interleave into one long. Range-partitioning the write
    on ``__zv`` then gives every output file a compact hyper-rectangle
    of the value space, so a filter on ANY z-ordered column (not just
    the leading one — linear clustering's blind spot) prunes ~N^(1-1/d)
    of N files via the ordinary min/max stats. The whole computation
    is Column arithmetic inside codegen; nulls sort to bucket 0.

    Total bit budget 12 (4096 z-cells), split evenly — beyond ~4
    columns the curve degrades like real Z-ORDER does, which is the
    honest behavior to inherit."""
    ncols = len(zorder_by)
    bits = max(1, 12 // ncols)
    n_buckets = 1 << bits
    type_of = {f.name: f.dataType for f in data_schema.fields}

    def _as_double(c: str):
        dt = type_of[c]
        if isinstance(dt, T.NumericType):
            return F.col(c).cast("double")
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            return F.col(c).cast("double")
        if isinstance(dt, T.DateType):
            return F.col(c).cast("timestamp").cast("double")
        raise NotImplementedError(
            f"delta optimize: ZORDER BY over {dt.simpleString()} "
            f"column {c!r} is beyond this writer (numeric / "
            "timestamp / date only)"
        )

    qcols = [f"__zq{i}" for i in range(ncols)]
    zsrc = cur.select(
        *[_as_double(c).alias(q) for c, q in zip(zorder_by, qcols)]
    )
    probs = [i / n_buckets for i in range(1, n_buckets)]
    all_bounds = zsrc.approxQuantile(qcols, probs, 0.001)
    zdf = cur
    for c, q, bounds in zip(zorder_by, qcols, all_bounds):
        zdf = zdf.withColumn(q, _as_double(c))
        # drop duplicate quantiles (skewed data); the bucket id is the
        # count of distinct bounds strictly below the value. Built as
        # ONE aggregate over an array literal instead of a chain of
        # n_buckets when()/otherwise() Columns: the old shape cost ~4
        # py4j round-trips per bound (~2,000 per ZORDER call, ~0.4 s of
        # pure driver latency) and produced an expression tree whose
        # analysis cost scaled with the bucket count. Null values yield
        # null comparisons -> IF takes the else branch -> bucket 0,
        # exactly as the when-chain did.
        dedup: list[float] = []
        for bd in bounds:
            if not dedup or bd != dedup[-1]:
                dedup.append(bd)
        if dedup:
            b = F.aggregate(
                F.lit(dedup),
                F.lit(0),
                lambda acc, x: acc
                + F.when(F.col(q) > x, 1).otherwise(0),
            )
        else:
            b = F.lit(0)
        zdf = zdf.withColumn(q, b.cast("long"))
    zv = F.lit(0).cast("long")
    for bit in range(bits):
        for j, q in enumerate(qcols):
            zv = zv.bitwiseOR(
                F.shiftleft(
                    F.shiftright(F.col(q), bit).bitwiseAND(F.lit(1)),
                    bit * ncols + j,
                )
            )
    return zdf.withColumn("__zv", zv).drop(*qcols)


def compact_delta(
    spark: SparkSession,
    table_path: str,
    target_rows_per_file: int = 1_000_000,
    key_col: str | None = None,
    zorder_by: list[str] | None = None,
) -> int | None:
    """OPTIMIZE: rewrite small files into ``target_rows_per_file``-
    sized ones, per partition, committing adds+removes with
    ``dataChange: false`` — so streaming/CDF readers skip the commit
    entirely (the protocol's compaction contract) while snapshot
    readers see fewer, larger files. Returns the committed version, or
    None when no partition had at least two undersized files (nothing
    to do ⇒ no commit, no version burn). The rewritten bytes become
    garbage for ``vacuum_delta``; time travel before the compaction
    still sees the small files.

    ``zorder_by=[col, ...]`` is OPTIMIZE ... ZORDER BY: EVERY live
    file rewrites (re-clustering is the point — real Delta does the
    same), routed by a Morton key over quantile buckets of the named
    columns (:func:`_with_zorder_value`) so each output file covers a
    compact hyper-rectangle and min/max stats prune on ANY z-ordered
    dimension. commitInfo records ``zOrderBy``, the delta-spark
    operationParameters shape."""
    state = replay_log(spark, table_path)
    if state["meta"] is None:
        return None
    phys, mapped, pfields = _phys_of(state["meta"])
    rt = _row_tracking_of(state["meta"])
    schema = T.StructType.fromJson(
        json.loads(state["meta"]["schemaString"])
    )
    part_cols = state["meta"].get("partitionColumns") or []
    data_schema = T.StructType(
        [f for f in schema.fields if f.name not in part_cols]
    )
    if zorder_by:
        names = {f.name for f in data_schema.fields}
        for c in zorder_by:
            if c in part_cols:
                raise ValueError(
                    f"delta optimize: ZORDER BY partition column "
                    f"{c!r} is meaningless — files never span "
                    "partitions"
                )
            if c not in names:
                raise ValueError(
                    f"delta optimize: unknown ZORDER column {c!r}"
                )
    groups: dict[tuple, list[tuple[str, dict]]] = {}
    for p, a in sorted(state["live"].items()):
        pv = a.get("partitionValues") or {}
        key = tuple(pv.get(phys(c)) for c in part_cols)
        try:
            n = json.loads(a.get("stats") or "{}").get("numRecords")
        except ValueError:
            n = None
        # ZORDER rewrites every live file — re-clustering is the point
        if zorder_by or n is None or n < target_rows_per_file:
            groups.setdefault(key, []).append((p, a))
    version = state["version"] + 1
    actions: list[dict] = []
    # lead stats (and re-clustering) with the caller's merge key when
    # given, else the first data column
    stat_col = key_col or (
        data_schema.fields[0].name if data_schema.fields else None
    )
    # keep only partitions with >= 2 undersized files; everything else
    # is already optimal. From here the whole compaction is FOUR jobs
    # (count, range sample, write, stats) regardless of how many files
    # or partitions are being compacted — the old shape ran a count +
    # write per partition and a stats aggregate PER FILE.
    ptuples = sorted(
        (
            k
            for k, fs in groups.items()
            if len(fs) >= (1 if zorder_by else 2)
        ),
        key=str,
    )
    if not ptuples:
        return None
    pid_of = {pt: i for i, pt in enumerate(ptuples)}
    src: list[tuple[str, int]] = [
        (p, pid_of[pt]) for pt in ptuples for p, _ in groups[pt]
    ]
    for p, _pid in src:
        actions.append(
            {
                "remove": _remove_action(
                    p, state["live"][p], data_change=False
                )
            }
        )
    single = len(ptuples) == 1
    cur = _read_files_dv_aware(
        spark, table_path, data_schema, [p for p, _ in src],
        state["live"], pfields=pfields, row_tracking=rt,
        file_cols=_pid_cols(single, src),
    )
    if rt is not None:
        # OPTIMIZE preserves lineage: the rewritten files carry every
        # row's id AND commit version materialized (a rewrite is not
        # an update — both survive byte-for-byte)
        cur = cur.withColumnRenamed(
            "__rt_id", rt[0]
        ).withColumnRenamed("__rt_cv", rt[1])
    if single:
        cur = cur.withColumn("__pid", F.lit(0).cast("int"))
    if zorder_by:
        cur = _with_zorder_value(cur, zorder_by, data_schema)
    total = cur.count()
    n_files = max(1, -(-total // target_rows_per_file))
    tok = uuid.uuid4().hex  # writer-unique staged and published names
    tmp = os.path.join(table_path, f"_tmp-compact-v{version}-{tok}")
    # re-cluster while compacting: range-partitioning on (__pid, the
    # leading stat column) keeps post-OPTIMIZE file ranges mostly
    # disjoint within each partition, so data skipping stays sharp
    # (the linear cousin of Delta's Z-ORDER-on-OPTIMIZE). File sizes
    # are approximate when a range partition spans a __pid boundary.
    data_cols = [f.name for f in data_schema.fields]
    if single:
        out_df = cur.drop("__pid")
        if zorder_by:
            out_df = out_df.repartitionByRange(
                n_files, F.col("__zv")
            ).sortWithinPartitions("__zv")
        elif stat_col is not None:
            out_df = out_df.repartitionByRange(n_files, F.col(stat_col))
        else:
            out_df = out_df.coalesce(n_files)
        if mapped:
            keep_ = ("__zv",) if zorder_by else ()
            if rt is not None:
                keep_ = keep_ + rt
            out_df = _to_phys(out_df, data_cols, pfields, keep=keep_)
        if zorder_by:
            out_df = out_df.drop("__zv")
        out_df.write.mode("overwrite").parquet(tmp)
    else:
        if zorder_by:
            range_cols = [F.col("__pid"), F.col("__zv")]
        else:
            range_cols = [F.col("__pid")] + (
                [F.col(stat_col)] if stat_col is not None else []
            )
        out_df = cur.repartitionByRange(n_files, *range_cols)
        if zorder_by:
            out_df = out_df.sortWithinPartitions("__pid", "__zv")
        if mapped:
            keep_ = ("__pid", "__zv") if zorder_by else ("__pid",)
            if rt is not None:
                keep_ = keep_ + rt
            out_df = _to_phys(out_df, data_cols, pfields, keep=keep_)
        if zorder_by:
            out_df = out_df.drop("__zv")
        (
            out_df.write.partitionBy("__pid")
            .mode("overwrite")
            .parquet(tmp)
        )
    new_files = _publish_parts(
        table_path, tmp, single, version, tok, "compact",
        _pv_by_pid(ptuples, part_cols, phys),
    )
    if not new_files:
        return None
    # ONE stats pass over ALL compacted output (merge-key + leading
    # columns, same shape the merge path records) — full per-column
    # stats mean a later merge/delete can still prune (and never
    # mis-prunes) on ANY recorded column, the ADVICE-r4 post-OPTIMIZE
    # correctness trap
    actions += _add_actions(
        spark, table_path, state, version, new_files, data_schema,
        key_col=stat_col, data_change=False, lead_cols=zorder_by,
    )
    _commit(
        _log_dir(table_path), version, actions,
        operation="OPTIMIZE",
        operation_params=(
            {"zOrderBy": json.dumps(list(zorder_by))}
            if zorder_by
            else None
        ),
    )
    return version


def write_delta_commit(
    df: DataFrame,
    table_path: str,
    partition_by: list[str] | None = None,
    remove_paths: list[str] | None = None,
) -> int:
    """APPEND — the DELTA sink's default mode: one ``WRITE`` commit of
    ``df``'s rows as new data files plus explicit remove tombstones for
    ``remove_paths``; the first commit also creates the table
    (``partition_by`` sets its partition columns). Returns the
    committed version.

    An append to an existing table honours its writer features:
    generated columns are computed and checked, identity columns
    assigned (the advanced watermark re-states metaData), CHECK
    constraints gate the rows, the table's own partition columns
    decide the layout, ``delta.appendOnly`` refuses the removes,
    column-mapped tables get physical parquet names, and row-tracking
    tables reserve ``baseRowId``s. One write lays down one file per
    partition value, and every add carries stats."""
    from optimus_any2any_spark.sources.delta import (
        apply_generated_columns,
        apply_identity_columns,
        check_delta_constraints,
    )

    spark = df.sparkSession
    state = _open_state(spark, table_path)
    version = state["version"] + 1
    part_cols = list(partition_by or [])
    if state["meta"] is None:
        actions = _create_actions(table_path, df.schema, part_cols)
    else:
        df = apply_generated_columns(state["meta"], df, "append")
        df, id_meta = apply_identity_columns(state["meta"], df, "append")
        check_delta_constraints(state["meta"], df, "append")
        # the layout is the TABLE's, not the caller's: adds without the
        # right partitionValues would break pruning for every reader
        table_parts = list(state["meta"].get("partitionColumns") or [])
        if partition_by and part_cols != table_parts:
            raise ValueError(
                f"delta append: partition_by {partition_by} != "
                f"the table's partition columns {table_parts}"
            )
        part_cols = table_parts
        if remove_paths:
            _check_append_only(state["meta"], "append")
        actions = []
        if id_meta is not None:
            state = {**state, "meta": id_meta}
            actions.append({"metaData": id_meta})
    phys, mapped, pfields = _phys_of(state["meta"])
    data_schema = T.StructType(
        [f for f in df.schema.fields if f.name not in part_cols]
    )
    data_cols = data_schema.fieldNames()
    if mapped and not set(df.columns) <= set(pfields):
        raise ValueError(
            "delta append: columns "
            f"{sorted(set(df.columns) - set(pfields))} are not in the "
            "column-mapped table's schema"
        )
    ptuples = (
        sorted(
            {tuple(r) for r in df.select(*part_cols).distinct().collect()},
            key=str,
        )
        if part_cols
        else [()]
    )
    new_files: list[tuple[str, dict]] = []
    if ptuples:
        single = len(ptuples) == 1
        body = with_pid(
            df,
            None if single else pid_table(spark, df, part_cols, ptuples),
            part_cols, data_cols,
        )
        if mapped:
            body = _to_phys(body, data_cols, pfields, keep=("__pid",))
        # one task writes every file: one per partition value
        body = body.coalesce(1)
        tok = uuid.uuid4().hex  # writer-unique staged and published names
        tmp = os.path.join(table_path, f"_tmp-append-v{version}-{tok}")
        if single:
            body.drop("__pid").write.mode("overwrite").parquet(tmp)
        else:
            body.write.partitionBy("__pid").mode("overwrite").parquet(tmp)
        new_files = _publish_parts(
            table_path, tmp, single, version, tok, "append",
            _pv_by_pid(
                [
                    tuple(None if v is None else str(v) for v in pt)
                    for pt in ptuples
                ],
                part_cols, phys,
            ),
        )
    actions += _add_actions(
        spark, table_path, state, version, new_files, data_schema
    )
    actions += [
        {
            "remove": _remove_action(
                rp, state["live"].get(rp) or {}, data_change=True
            )
        }
        for rp in remove_paths or []
    ]
    _commit(
        _log_dir(table_path), version, actions,
        operation="WRITE", operation_params={"mode": "Append"},
    )
    return version


def merge_delta_batch(
    spark: SparkSession,
    batch: DataFrame,
    table_path: str,
    key_col: str,
    ts_col: str,
    app_id: str = DEFAULT_APP_ID,
    batch_id: int | None = None,
    target_rows_per_file: int = 1_000_000,
    checkpoint_interval: int = 10,
    change_data: bool = False,
    partition_by: list[str] | None = None,
    merge_schema: bool = False,
    when_matched: list | None = None,
    when_not_matched_by_source: list | None = None,
    when_not_matched: list | None = None,
) -> int:
    """One file-level MERGE commit against a Delta table; returns the
    committed (or already-current, on an idempotent skip) version.

    ``change_data=True`` additionally writes this commit's row-level
    changes (``_change_type`` ∈ insert / update_preimage /
    update_postimage) under ``_change_data/`` and records them as
    ``cdc`` actions — the Delta Change Data Feed protocol shape — so
    incremental consumers read O(changes) per commit instead of
    diffing snapshots (``sources.delta.read_delta_cdf``).

    ``partition_by`` (first commit only) creates a PARTITIONED table;
    later merges read it from the log. Partitioned-merge semantics are
    partition-scoped: a batch row upserts the row with the same key IN
    ITS OWN PARTITION — the date-partitioned 100 TB shape, where
    partition pruning happens before key-stats pruning, and a merge's
    IO footprint is O(affected files in touched partitions), never the
    table. A key that migrates partitions is two logical rows under
    this contract (document shared with the reference-free manifest
    table); cross-partition key moves need the full-join MERGE real
    Delta runs, which is exactly the shuffle this merge exists to
    avoid.

    ``merge_schema=True`` is Delta's mergeSchema: batch columns not in
    the table are APPENDED to the schema (this commit carries the new
    metaData action; existing files read the new columns as null), and
    table columns missing from the batch are null-filled. Without it,
    any column mismatch raises.

    ``when_matched`` / ``when_not_matched_by_source`` (VERDICT r9
    item 5) switch the matched/unmatched-target row algebra from the
    default latest-wins upsert to delta-spark's conditional clause
    builder: ordered lists of ``("update", cond_sql|None, {col:
    value_sql})`` / ``("delete", cond_sql|None)``; conditions and
    values reference ``t.<col>`` (target row) and ``s.<col>`` (source
    row), first matching clause wins, no-clause rows pass through
    UNCHANGED (not upserted), and unmatched source rows always insert
    (whenNotMatchedInsertAll). ``when_not_matched_by_source`` scans
    every live row by definition — on a partitioned table that means
    every live FILE participates (the full scan is inherent to the
    clause, exactly as delta-spark runs it): files route to their own
    partition's pid, and live partitions the batch does not touch
    mint fresh pids whose typed values cast from the log's
    partitionValues strings (the reader's own typing rule).
    ``merge_schema=True`` composes with clauses: the batch evolves
    first, so clause conditions/values may reference the new columns
    on both sides (pre-evolution target rows read them as null).
    ``change_data=True``
    composes: update-clause rows emit update_preimage/postimage,
    delete-clause rows emit delete, inserts emit insert, pass-through
    rows emit nothing. The commitInfo records the clause predicates
    in operationParameters."""
    clauses = (when_matched, when_not_matched, when_not_matched_by_source)
    conditional = conditional_merge(key_col, *clauses)

    state = _open_state(spark, table_path)
    phys, mapped, pfields = _phys_of(state["meta"])
    rt = _row_tracking_of(state["meta"])
    version = state["version"] + 1
    if (
        batch_id is not None
        and state["txns"].get(app_id) is not None
        and batch_id <= state["txns"][app_id]
    ):
        return state["version"]  # redelivery of an applied batch: no-op

    evolved = False
    meta_restate = False
    if state["meta"] is not None:
        # generated columns: compute the absent ones from their
        # generation expressions, validate the provided ones;
        # identity columns: assign from the high watermark (the
        # advanced watermark re-states metaData in this commit)
        from optimus_any2any_spark.sources.delta import (
            apply_generated_columns,
            apply_identity_columns,
        )

        batch = apply_generated_columns(state["meta"], batch, "merge")
        batch, id_meta = apply_identity_columns(
            state["meta"], batch, "merge"
        )
        if id_meta is not None:
            state = dict(state)
            state["meta"] = id_meta
            meta_restate = True
        schema = T.StructType.fromJson(
            json.loads(state["meta"]["schemaString"])
        )
        part_cols = list(state["meta"].get("partitionColumns") or [])
        if set(schema.fieldNames()) != set(batch.columns):
            if not merge_schema:
                raise ValueError(
                    "delta merge: batch columns "
                    f"{sorted(batch.columns)} != table schema "
                    f"{sorted(schema.fieldNames())} "
                    "(pass merge_schema=True to evolve)"
                )
            table_cols = set(schema.fieldNames())
            extra = [c for c in batch.columns if c not in table_cols]
            missing = [
                c for c in schema.fieldNames() if c not in batch.columns
            ]
            if any(c in part_cols for c in missing):
                raise ValueError(
                    "delta merge: batch must carry the partition "
                    f"columns {part_cols}"
                )
            if extra:
                if mapped:
                    # mint physicalName/column-id metadata for the new
                    # columns and advance maxColumnId; the evolved
                    # metaData rides this commit, and phys/pfields are
                    # rebuilt so the write lands under the fresh
                    # physical names (pre-evolution files null-fill
                    # the new physical columns on read)
                    state = dict(state)
                    state["meta"] = _evolve_mapped_meta(
                        state["meta"], [batch.schema[c] for c in extra]
                    )
                    phys, mapped, pfields = _phys_of(state["meta"])
                else:
                    # append the new field JSON to the EXISTING
                    # schemaString verbatim — rebuilding from the
                    # batch schema would silently drop the old
                    # fields' metadata (generation expressions,
                    # identity watermarks, constraints context)
                    state = dict(state)
                    meta2 = dict(state["meta"])
                    old_fields = json.loads(
                        meta2["schemaString"]
                    )["fields"]
                    meta2["schemaString"] = json.dumps(
                        {
                            "type": "struct",
                            "fields": old_fields
                            + [
                                batch.schema[c].jsonValue()
                                for c in extra
                            ],
                        }
                    )
                    state["meta"] = meta2
                schema = T.StructType(
                    list(schema.fields)
                    + [batch.schema[c] for c in extra]
                )
                evolved = True
            for c in missing:
                batch = batch.withColumn(
                    c, F.lit(None).cast(schema[c].dataType)
                )
        batch = batch.select(*schema.fieldNames())
    else:
        part_cols = list(partition_by or [])
        missing = [c for c in part_cols if c not in batch.columns]
        if missing:
            raise ValueError(
                f"delta merge: partition columns {missing} not in batch"
            )
    if key_col in part_cols:
        raise ValueError(
            "delta merge: the merge key cannot be a partition column "
            "(every key group would be a one-row partition)"
        )
    # CHECK-constraint violation counts ride the key-stats aggregate
    # (rows the merge ADDS must satisfy them; rows re-written from
    # affected files already did)
    from optimus_any2any_spark.sources.delta import (
        constraint_violation_aggs,
        raise_constraint_violations,
    )

    ck_names, ck_aggs = (
        constraint_violation_aggs(state["meta"])
        if state["meta"] is not None
        else ([], [])
    )
    latest, gstats = reduce_batch(
        batch, key_col, ts_col, part_cols, ck_aggs
    )
    n_total = sum(int(r["n"]) for r in gstats)
    if n_total > 0 and ck_names:
        raise_constraint_violations(
            state["meta"],
            ck_names,
            [
                sum(int(r[f"__ck{i}"] or 0) for r in gstats)
                for i in range(len(ck_names))
            ],
            "merge",
        )
    if n_total == 0 and not when_not_matched_by_source:
        # (an EMPTY source with when_not_matched_by_source is still a
        # full clause evaluation: every live row is unmatched)
        if not evolved:
            return state["version"]
        # A widening merge whose batch has zero rows is still a legal
        # schema-change commit (delta-spark withSchemaEvolution()
        # parity): commit the evolved metaData with no file actions so
        # the table gains the new columns even on an empty batch.
        # state["meta"] already carries the evolved schemaString
        # (minted columnMapping metadata on mapped tables, verbatim
        # old-field JSON + new fields otherwise).
        actions: list[dict] = [{"metaData": dict(state["meta"])}]
        if batch_id is not None:
            actions.append(
                {"txn": {"appId": app_id, "version": batch_id}}
            )
        _commit(
            _log_dir(table_path), version, actions,
            operation="MERGE", operation_params={'key': key_col},
        )
        if checkpoint_interval and version > 0 and (
            version % checkpoint_interval == 0
        ):
            _write_checkpoint(spark, table_path, version)
        return version
    data_cols = [c for c in latest.columns if c not in part_cols]
    data_schema = T.StructType(
        [f for f in latest.schema.fields if f.name not in part_cols]
    )

    # Per-partition batch key stats come from ONE job for ALL touched
    # partitions; file pruning is pure driver metadata work; then ONE
    # anti-join + ONE partitionBy write (on a surrogate __pid column,
    # so partition VALUES never round-trip through directory-name
    # string encoding) covers every partition.
    pstats = group_key_stats(
        latest, key_col, part_cols, gstats,
        empty_group=bool(when_not_matched_by_source),
    )
    ptuples, pid_of = pid_space(pstats)
    # partitionValues (and stats) in add actions are keyed by PHYSICAL
    # names on mapped tables — identity otherwise
    pv_str_of = {
        pt: {
            phys(c): (None if v is None else str(v))
            for c, v in zip(part_cols, pt)
        }
        for pt in ptuples
    }

    # partition pruning FIRST (exact partitionValues match), then
    # key-stats pruning inside each partition — all driver-side
    live_by_pv: dict[tuple, list[tuple[str, dict]]] = {}
    for p, a in sorted(state["live"].items()):
        apv = a.get("partitionValues") or {}
        live_by_pv.setdefault(
            tuple(apv.get(phys(c)) for c in part_cols), []
        ).append((p, a))
    hit_by_pid: dict[int, list[dict]] = {}
    hit_paths: list[str] = []
    for pt in ptuples:
        st = pstats[pt]
        pv_key = tuple(pv_str_of[pt].get(phys(c)) for c in part_cols)
        entries = [
            _entry_from_add(p, a, phys(key_col))
            for p, a in live_by_pv.get(pv_key, [])
        ]
        hit, _miss = _affected(
            entries, st["keys"], st["kmin"], st["kmax"], st["has_null"]
        )
        if hit:
            hit_by_pid[pid_of[pt]] = hit
            hit_paths.extend(e["path"] for e in hit)
    # the write loop keys partitionValues by pid (minted NMBS pids
    # have no typed batch tuple)
    pv_of_pid: dict[int, dict] = {
        pid_of[pt]: pv_str_of[pt] for pt in ptuples
    }
    minted: list[tuple[tuple, int]] = []  # (pv string tuple, pid)
    if when_not_matched_by_source and state["live"]:
        # the clause touches every live row by definition: no file is
        # prunable (key stats say nothing about NOT-matched rows).
        # Each file routes to ITS OWN partition's pid; live partitions
        # the batch does not touch mint fresh pids.
        pid_by_str = {
            tuple(pv_str_of[pt].get(phys(c)) for c in part_cols):
                pid_of[pt]
            for pt in ptuples
        }
        next_pid = len(ptuples)
        hit_by_pid = {}
        hit_paths = []
        for pv_key, pairs in sorted(live_by_pv.items(), key=str):
            pid = pid_by_str.get(pv_key)
            if pid is None:
                pid = next_pid
                next_pid += 1
                minted.append((pv_key, pid))
                pv_of_pid[pid] = {
                    phys(c): v for c, v in zip(part_cols, pv_key)
                }
            entries = [
                _entry_from_add(p, a, phys(key_col)) for p, a in pairs
            ]
            hit_by_pid[pid] = entries
            hit_paths.extend(e["path"] for e in entries)

    # A batch touching ONE partition (including every unpartitioned
    # merge) needs no routing at all — constant pid, no broadcast join,
    # and a plain write instead of the dynamic-partition write with its
    # per-task sort (~1s on the benched sf0.1 merge).
    single = len(ptuples) + len(minted) == 1
    pid_df = (
        pid_table(spark, latest, part_cols, ptuples)
        if part_cols else None
    )
    # constraint re-attachment needs partition values for EVERY pid;
    # minted pids type their values by casting the log's
    # partitionValues strings — the reader's own typing rule. Batch
    # pids keep their exact typed values (pid_df), so batch-row
    # routing never rides a string round-trip.
    pid_df_all = pid_df
    if minted and part_cols:
        mint_schema = T.StructType(
            [T.StructField(c, T.StringType(), True) for c in part_cols]
            + [T.StructField("__pid", T.IntegerType(), False)]
        )
        mint_df = local_rows_df(spark, 
            [pv + (pid,) for pv, pid in minted], mint_schema
        ).select(
            *[
                F.col(c).cast(latest.schema[c].dataType).alias(c)
                for c in part_cols
            ],
            "__pid",
        )
        pid_df_all = pid_df.unionByName(mint_df)
    latest_p = with_pid(
        latest, None if single else pid_df, part_cols, data_cols
    )

    cur = None
    total_hit_rows = 0
    if hit_paths:
        # an insert-only merge is an append; touching existing keys
        # rewrites files (data-changing removes) — appendOnly forbids
        _check_append_only(state["meta"], "merge")
        rel_pid_rows = [
            (e["path"], pid)
            for pid, hits in sorted(hit_by_pid.items())
            for e in hits
        ]
        # explicit schema: pre-evolution files read new columns
        # as null (Delta mergeSchema read semantics); files carrying
        # deletion vectors read through the DV anti-join so the merge
        # consumes the vectors instead of resurrecting deleted rows
        cur = _read_files_dv_aware(
            spark, table_path, data_schema,
            [r for r, _ in rel_pid_rows], state["live"],
            pfields=pfields, row_tracking=rt,
            file_cols=_pid_cols(single, rel_pid_rows),
        )
        if single:
            cur = cur.withColumn("__pid", F.lit(0).cast("int"))
        total_hit_rows = sum(
            max(e["rows"], 0)
            for hits in hit_by_pid.values()
            for e in hits
        )
        hit_paths = sorted(set(hit_paths))
    # row tracking: a batch row replacing a matched target row KEEPS
    # that row's id (a null materialized cv derives from the new add's
    # defaultRowCommitVersion); inserts derive from baseRowId + pos
    merged, batch_side, cond_changes = merge_rows(
        cur, latest_p, key_col, data_schema, clauses,
        want_changes=change_data,
        carry_cols=("__rt_id", "__rt_cv") if rt is not None else None,
    )
    pre = None
    if cur is not None and conditional:
        # UPDATE SET mints NEW values — constraints must gate them
        # too (pass-through and insert rows re-check for free;
        # zero jobs when no constraints are declared). Partition
        # columns re-attach from the pid lookup so constraints
        # referencing them resolve.
        from optimus_any2any_spark.sources.delta import (
            check_delta_constraints as _ck,
        )

        merged_ck = merged
        if pid_df_all is not None:
            merged_ck = merged.join(F.broadcast(pid_df_all), "__pid")
        _ck(state["meta"], merged_ck.drop("__pid"), "merge")
    elif cur is not None and change_data:
        # preimages: current rows whose (key, partition) the batch
        # touches — checkpointed once, consumed twice below (row-
        # tracking columns stay out of the CDF row set: CDF rows
        # are logical)
        pre_src = cur.drop("__rt_id", "__rt_cv") if rt is not None else cur
        pre = (
            touched(pre_src, latest_p, key_col, "inner")
            .drop("__bk", "__bpid")
            .localCheckpoint(eager=False)
        )

    tok = uuid.uuid4().hex  # writer-unique staged and published names
    tmp = os.path.join(table_path, f"_tmp-merge-v{version}-{tok}")
    if rt is not None:
        if "__rt_id" not in merged.columns:
            # insert-only merge (no affected files): every row is
            # fresh — null materialized values derive from the new
            # adds' baseRowId + position
            merged = merged.withColumn(
                "__rt_id", F.lit(None).cast("long")
            ).withColumn("__rt_cv", F.lit(None).cast("long"))
        merged = merged.withColumnRenamed(
            "__rt_id", rt[0]
        ).withColumnRenamed("__rt_cv", rt[1])
    write_key = key_col
    if mapped:
        merged = _to_phys(
            merged, data_cols, pfields, keep=("__pid", *(rt or ()))
        )
        write_key = pfields[key_col].name
    write_merged(
        merged, write_key, n_total + total_hit_rows, target_rows_per_file,
        tmp, single,
    )
    new_files = _publish_parts(
        table_path, tmp, single, version, tok, "merge", pv_of_pid
    )

    actions: list[dict] = []
    if version == 0:
        actions += _create_actions(table_path, latest.schema, part_cols)
    elif evolved or meta_restate:
        # schema evolution / identity-watermark advance: this commit
        # re-states metaData; replay picks the LAST metaData, so older
        # versions time-travel with their original schema.
        # state["meta"] carries the correct schemaString in every
        # branch (minted columnMapping metadata on mapped tables,
        # old-field JSON preserved verbatim otherwise — a Spark-schema
        # rebuild would DROP field metadata like generation
        # expressions and identity watermarks).
        actions.append({"metaData": dict(state["meta"])})
    if batch_id is not None:
        actions.append({"txn": {"appId": app_id, "version": batch_id}})
    actions += _add_actions(
        spark, table_path, state, version, new_files, data_schema,
        key_col=key_col,
    )
    for path in hit_paths:
        actions.append(
            {
                "remove": _remove_action(
                    path, state["live"][path], data_change=True
                )
            }
        )
    if change_data:
        if cond_changes is not None:
            # conditional clauses: the CDF row set came out of the
            # clause algebra itself (pre/post images for update-clause
            # rows, delete rows, inserts; pass-through rows silent)
            changes = cond_changes
        elif pre is not None:
            # marker column makes "matched" null-key-safe: eqNullSafe
            # joins null==null but the joined key itself is null there
            pk = (
                pre.select(
                    F.col(key_col).alias("__pk"),
                    F.col("__pid").alias("__ppid"),
                )
                .distinct()
                .withColumn("__m", F.lit(1))
            )
            matched = F.col(f"b.{key_col}").eqNullSafe(
                F.col("__pk")
            ) & (F.col("b.__pid") == F.col("__ppid"))
            post = (
                batch_side.alias("b")
                .join(pk, matched, "left")
                .select(
                    *[F.col(f"b.{c}") for c in data_cols],
                    F.col("b.__pid"),
                    F.when(
                        F.col("__m").isNotNull(),
                        F.lit("update_postimage"),
                    )
                    .otherwise(F.lit("insert"))
                    .alias("_change_type"),
                )
            )
            changes = pre.withColumn(
                "_change_type", F.lit("update_preimage")
            ).unionByName(post)
        else:
            changes = latest_p.withColumn(
                "_change_type", F.lit("insert")
            )
        # re-attach the typed partition columns from the pid lookup
        if pid_df_all is not None:
            changes = changes.join(F.broadcast(pid_df_all), "__pid")
        actions += _cdc_actions(
            table_path, state, version, tok, changes, list(latest.columns)
        )
    # delta-spark records the clause predicates in commitInfo's
    # operationParameters the same way (an empty not-matched list too)
    op_params: dict = {"key": key_col, **clause_predicates([
        ("matchedPredicates", when_matched or None),
        ("notMatchedPredicates", when_not_matched),
        ("notMatchedBySourcePredicates", when_not_matched_by_source or None),
    ])}
    _commit(
        _log_dir(table_path), version, actions,
        operation="MERGE", operation_params=op_params,
    )
    if checkpoint_interval and version > 0 and (
        version % checkpoint_interval == 0
    ):
        _write_checkpoint(spark, table_path, version)
    return version


def delete_delta_where(
    spark: SparkSession,
    table_path: str,
    where: str,
    change_data: bool = False,
    target_rows_per_file: int = 1_000_000,
) -> int | None:
    """``DELETE FROM t WHERE <predicate>`` — predicate DML, the other
    half of Delta's row-level surface next to key erasure
    (``delete_delta_keys``) and MERGE. Two-phase copy-on-write, the
    same shape real engines run for arbitrary predicates: ONE scan
    finds the files that contain matching rows (per-file match
    counts — an untouched file is never rewritten), then only those
    files rewrite without their matching rows (null predicates keep
    the row, SQL three-valued DELETE semantics). The predicate sees
    data AND partition columns (partition values re-attach typed from
    the log). Returns the committed version, or None when nothing
    matched (no version burned). ``change_data=True`` records the
    deleted rows as CDF ``delete`` entries."""
    return _dml_where(
        spark, table_path, where, None, change_data,
        target_rows_per_file,
    )


def update_delta_where(
    spark: SparkSession,
    table_path: str,
    set: dict,
    where: str | None = None,
    change_data: bool = False,
    target_rows_per_file: int = 1_000_000,
) -> int | None:
    """``UPDATE t SET col = expr[, ...] WHERE <predicate>`` —
    predicate UPDATE over the same two-phase copy-on-write plan as
    :func:`delete_delta_where` (scan for touched files, rewrite only
    those; rows whose predicate is false or null pass through
    unchanged). Assignments may not touch partition columns (row
    migration — use MERGE), generated columns (their values are
    derived), or identity columns. CHECK constraints gate the updated
    rows. ``change_data=True`` records update_preimage/postimage CDF
    rows."""
    if not set or not isinstance(set, dict):
        raise ValueError("delta update: SET needs {col: value_sql}")
    return _dml_where(
        spark, table_path, where, dict(set), change_data,
        target_rows_per_file,
    )


def _dml_where(
    spark: SparkSession,
    table_path: str,
    where: str | None,
    set_exprs: dict | None,
    change_data: bool,
    target_rows_per_file: int,
) -> int | None:
    """Shared core of DELETE WHERE / UPDATE WHERE (``set_exprs`` None
    means delete). See the public wrappers for semantics."""
    if not os.path.isdir(_log_dir(table_path)):
        raise ValueError(f"delta dml: no table at {table_path}")
    state = replay_log(spark, table_path)
    phys, mapped, pfields = _phys_of(state["meta"])
    rt = _row_tracking_of(state["meta"])
    live = state["live"]
    if not live:
        return None
    schema = T.StructType.fromJson(
        json.loads(state["meta"]["schemaString"])
    )
    part_cols = list(state["meta"].get("partitionColumns") or [])
    data_schema = T.StructType(
        [f for f in schema.fields if f.name not in part_cols]
    )
    data_cols = [f.name for f in data_schema.fields]
    _check_append_only(state["meta"], "update" if set_exprs else "delete")
    if set_exprs:
        fields_meta = {
            f["name"]: f.get("metadata") or {}
            for f in json.loads(state["meta"]["schemaString"])["fields"]
        }
        for c in set_exprs:
            if c in part_cols:
                raise ValueError(
                    f"delta update: SET may not assign partition "
                    f"column {c!r} (row migration — use MERGE)"
                )
            if c not in data_cols:
                raise ValueError(f"delta update: unknown column {c!r}")
            md_ = fields_meta.get(c) or {}
            if "delta.generationExpression" in md_:
                raise ValueError(
                    f"delta update: {c!r} is a generated column — its "
                    "value is derived, not assignable"
                )
            if any(k.startswith("delta.identity.") for k in md_):
                raise ValueError(
                    f"delta update: {c!r} is an identity column"
                )

    pred = F.expr(where) if where else F.lit(True)
    hit = F.coalesce(pred, F.lit(False))  # null predicate: row keeps

    # partition tuple per file (Delta partitionValues are strings
    # keyed by physical names)
    type_of = {f.name: f.dataType for f in schema.fields}
    pv_of = {
        p: tuple(
            (a.get("partitionValues") or {}).get(phys(c))
            for c in part_cols
        )
        for p, a in live.items()
    }

    def _read(paths: list[str], file_cols):
        return _read_files_dv_aware(
            spark, table_path, data_schema, paths, live,
            pfields=pfields, row_tracking=rt,
            part_fields=[schema[c] for c in part_cols],
            file_cols=file_cols,
        )

    # ---- phase 1: which files contain matching rows? (one scan) ----
    per_file = (
        _read(sorted(live), ("__rel string", {p: (p,) for p in live}))
        .groupBy("__rel")
        .agg(F.sum(hit.cast("long")).alias("__hits"))
        .collect()
    )
    touched = sorted(
        r["__rel"] for r in per_file if int(r["__hits"] or 0) > 0
    )
    if not touched:
        return None  # nothing matched: no version burned

    version = state["version"] + 1
    ptuples = sorted({pv_of[p] for p in touched}, key=str)
    pid_of = {pt: i for i, pt in enumerate(ptuples)}
    single = len(ptuples) == 1

    # ---- phase 2: rewrite ONLY the touched files ----
    cur = _read(
        touched,
        _pid_cols(single, [(p, pid_of[pv_of[p]]) for p in touched]),
    )
    route = [] if single else ["__pid"]
    if set_exprs is None:
        out = cur.filter(~hit)
    else:
        out = cur.select(
            *[
                F.when(hit, F.expr(set_exprs[c]).cast(type_of[c]))
                .otherwise(F.col(c))
                .alias(c)
                if c in set_exprs
                else F.col(c)
                for c in data_cols
            ],
            *[F.col(c) for c in route + part_cols],
            *(
                [
                    # row tracking's UPDATE contract: the row KEEPS
                    # its id; a null materialized commit version
                    # derives from this add's defaultRowCommitVersion
                    F.col("__rt_id"),
                    F.when(hit, F.lit(None).cast("long"))
                    .otherwise(F.col("__rt_cv"))
                    .alias("__rt_cv"),
                ]
                if rt is not None
                else []
            ),
        )
        if state["meta"] is not None:
            from optimus_any2any_spark.sources.delta import (
                check_delta_constraints,
            )

            check_delta_constraints(
                state["meta"], out.drop(*route), "update"
            )

    pre = None
    if change_data:
        # CDF rows are logical — no routing or lineage columns
        pre = cur.drop(*route, "__rt_id", "__rt_cv").filter(
            hit
        ).localCheckpoint(eager=False)

    if rt is not None:
        out = out.withColumnRenamed(
            "__rt_id", rt[0]
        ).withColumnRenamed("__rt_cv", rt[1])

    # route rows back to their files' partitions and write
    total_rows = sum(
        max(_entry_from_add(p, live[p], phys(data_cols[0]))["rows"], 0)
        for p in touched
    )
    n_files = max(1, -(-total_rows // target_rows_per_file))
    body = out.drop(*part_cols).repartitionByRange(
        n_files, *[F.col(c) for c in route], F.col(data_cols[0])
    )
    if mapped:
        body = _to_phys(
            body, data_cols, pfields,
            keep=(*route, *(rt if rt is not None else ())),
        )

    tok = uuid.uuid4().hex  # writer-unique staged and published names
    tmp = os.path.join(table_path, f"_tmp-dml-v{version}-{tok}")
    op = "UPDATE" if set_exprs else "DELETE"
    if single:
        body.write.mode("overwrite").parquet(tmp)
    else:
        body.write.partitionBy("__pid").mode("overwrite").parquet(tmp)
    new_files = _publish_parts(
        table_path, tmp, single, version, tok, op.lower(),
        _pv_by_pid(ptuples, part_cols, phys),
    )
    # a part whose every row matched a DELETE is rowless: no add
    actions = _add_actions(
        spark, table_path, state, version, new_files, data_schema,
        key_col=data_cols[0],
    )
    for p in touched:
        actions.append(
            {"remove": _remove_action(p, live[p], data_change=True)}
        )
    if change_data and pre is not None:
        if set_exprs is None:
            changes = pre.withColumn(
                "_change_type", F.lit("delete")
            )
        else:
            pre_rows = pre.withColumn(
                "_change_type", F.lit("update_preimage")
            )
            post_rows = pre.select(
                *[
                    F.when(
                        hit, F.expr(set_exprs[c]).cast(type_of[c])
                    )
                    .otherwise(F.col(c))
                    .alias(c)
                    if c in set_exprs
                    else F.col(c)
                    for c in data_cols
                ],
                *[F.col(c) for c in part_cols],
            ).withColumn("_change_type", F.lit("update_postimage"))
            changes = pre_rows.unionByName(post_rows)
        actions += _cdc_actions(
            table_path, state, version, tok, changes,
            [f.name for f in schema.fields],
        )
    _commit(
        _log_dir(table_path), version, actions,
        operation=op,
        operation_params={"predicate": where or "true"},
    )
    return version


def enable_delta_row_tracking(
    spark: SparkSession, table_path: str
) -> int:
    """Enable ROW TRACKING on an EXISTING table — the BACKFILL the
    merge reader used to refuse (PROTOCOL.md Row Tracking; delta-spark
    ``ALTER TABLE ... SET TBLPROPERTIES('delta.enableRowTracking' =
    'true')`` plus its backfill job). Done the protocol's cheap way:
    ONE metadata commit that upgrades the protocol to v7
    (rowTracking + domainMetadata writer features), records the
    materialized column names in the configuration, and RE-COMMITS
    every live add action with a fresh ``baseRowId`` reservation and
    ``defaultRowCommitVersion`` = the backfill version
    (``dataChange: false`` — zero data IO; ids derive from baseRowId +
    position exactly like fresh writes). Reservation sizes come from
    each add's ``stats.numRecords``, falling back to a driver-side
    parquet footer read. Idempotent: an already-enabled table returns
    its current version."""
    import uuid as _uuid

    state = replay_log(spark, table_path)
    if state["meta"] is None:
        raise ValueError(
            f"delta row tracking: no table at {table_path}"
        )
    if _row_tracking_of(state["meta"]) is not None:
        return state["version"]
    version = state["version"] + 1
    meta2 = dict(state["meta"])
    conf = dict(meta2.get("configuration") or {})
    conf["delta.enableRowTracking"] = "true"
    suffix = str(
        _uuid.uuid5(_uuid.NAMESPACE_URL, f"{table_path}|rowid")
    )
    conf["delta.rowTracking.materializedRowIdColumnName"] = (
        f"_row-id-col-{suffix}"
    )
    conf[
        "delta.rowTracking.materializedRowCommitVersionColumnName"
    ] = f"_row-commit-version-col-{suffix}"
    meta2["configuration"] = conf
    prev_protocol = state.get("protocol") or {
        "minReaderVersion": 1,
        "minWriterVersion": 2,
    }
    features = set(prev_protocol.get("writerFeatures") or [])
    # A legacy-versioned protocol (minWriterVersion 2-6) implies writer
    # features by NUMBER; the v7 upgrade must list them explicitly or
    # external writers silently stop enforcing appendOnly/invariants/
    # checkConstraints/CDF/generated/identity on this table.
    old_w = int(prev_protocol.get("minWriterVersion", 2))
    if old_w < 7:
        for v, feats in _LEGACY_WRITER_FEATURES.items():
            if old_w >= v:
                features.update(feats)
    features |= {"rowTracking", "domainMetadata"}
    old_r = int(prev_protocol.get("minReaderVersion", 1))
    protocol = {
        "minReaderVersion": old_r,
        "minWriterVersion": 7,
        "writerFeatures": sorted(features),
    }
    if old_r >= 3:
        # readerFeatures is REQUIRED at reader >= 3 — dropping it
        # (e.g. a deletionVectors table's) would let external readers
        # resurrect DV-deleted rows
        protocol["readerFeatures"] = sorted(
            set(prev_protocol.get("readerFeatures") or [])
        )
    actions: list[dict] = [
        {"protocol": protocol},
        {"metaData": meta2},
    ]
    base = 0
    for p, a in sorted(state["live"].items()):
        n = None
        st = a.get("stats")
        if st:
            try:
                n = int(json.loads(st).get("numRecords"))
            except (ValueError, TypeError):
                n = None
        if n is None:
            import pyarrow.parquet as _pq

            n = int(
                _pq.read_metadata(
                    os.path.join(table_path, p)
                ).num_rows
            )
        a2 = dict(a)
        a2["baseRowId"] = base
        a2["defaultRowCommitVersion"] = version
        a2["dataChange"] = False
        base += n
        actions.append({"add": a2})
    actions.append(_rt_domain_action(base - 1))
    _commit(
        _log_dir(table_path), version, actions,
        operation="ROW TRACKING BACKFILL",
    )
    return version


def convert_parquet_to_delta(
    spark: SparkSession,
    directory: str,
    partition_by: list[str] | None = None,
) -> int:
    """CONVERT TO DELTA (delta-spark's in-place migration): commit 0
    written INTO the existing parquet directory registers every data
    file as an add action — zero data movement, footer-read record
    counts, zero Spark jobs beyond one schema inference. The 100 TB
    migration story: a parquet lake becomes a Delta table as
    driver-side metadata work, and every writer here (merge, DML,
    OPTIMIZE, DV deletes) then applies.

    ``partition_by`` names the hive-partition directory levels in
    nesting order (``col=value`` components); values parse from the
    directory names into partitionValues strings exactly as Delta
    stores them (``__HIVE_DEFAULT_PARTITION__`` → null), and readers
    re-type them from the schema — the same typing rule as every
    partitioned write. Entries may carry an explicit type
    (``"part string"`` — delta-spark's ``PARTITIONED BY (part
    STRING)``), which overrides Spark's directory-name type
    inference; a bare name keeps the inferred type."""
    import urllib.parse as _up
    import uuid as _uuid_mod

    import pyarrow.parquet as _pq

    if os.path.isdir(_log_dir(directory)):
        raise ValueError(
            f"delta convert: {directory} is already a Delta table"
        )
    part_cols: list[str] = []
    part_types: dict[str, T.DataType] = {}
    for item in partition_by or []:
        bits = item.split()
        part_cols.append(bits[0])
        if len(bits) > 1:
            part_types[bits[0]] = T.StructType.fromDDL(
                item
            ).fields[0].dataType
    files: list[tuple[str, dict]] = []
    for root, _dirs, names in sorted(os.walk(directory)):
        rel_root = os.path.relpath(root, directory)
        comps = [] if rel_root == "." else rel_root.split(os.sep)
        pv: dict[str, str | None] = {}
        for c in comps:
            if "=" in c:
                k, v = c.split("=", 1)
                pv[k] = (
                    None
                    if v == "__HIVE_DEFAULT_PARTITION__"
                    else _up.unquote(v)
                )
        for n in sorted(names):
            if not n.endswith(".parquet"):
                continue
            rel = n if rel_root == "." else f"{rel_root}/{n}"
            files.append((rel, pv))
    # Spark's partitioned writes reuse one task's file name across
    # partition directories, so hive layouts routinely repeat
    # basenames; keep every converted file's basename table-unique.
    # De-collide IN PLACE: an os.rename inside the same
    # directory is metadata-only (still zero data copy), prefixing a
    # short hash of the partition path.
    seen: dict[str, int] = {}
    for rel, _pv in files:
        bn = rel.rsplit("/", 1)[-1]
        seen[bn] = seen.get(bn, 0) + 1
    renamed: list[tuple[str, dict]] = []
    for rel, pv in files:
        bn = rel.rsplit("/", 1)[-1]
        if seen[bn] > 1 and "/" in rel:
            sub = rel.rsplit("/", 1)[0]
            tok = _uuid_mod.uuid5(
                _uuid_mod.NAMESPACE_URL, sub
            ).hex[:8]
            new_rel = f"{sub}/{tok}-{bn}"
            os.rename(
                os.path.join(directory, rel),
                os.path.join(directory, new_rel),
            )
            renamed.append((new_rel, pv))
        else:
            renamed.append((rel, pv))
    files = renamed
    if not files:
        raise ValueError(
            f"delta convert: no parquet files under {directory}"
        )
    bad = [
        pv for _r, pv in files if sorted(pv) != sorted(part_cols)
    ]
    if bad:
        raise ValueError(
            "delta convert: directory layout does not match "
            f"partition_by={part_cols} (found partition keys "
            f"{sorted(set(k for pv in bad for k in pv))})"
        )
    schema = spark.read.parquet(directory).schema
    if part_types:
        # explicit partition types override directory-name inference
        # (delta-spark requires the explicit schema for this reason)
        schema = T.StructType(
            [
                T.StructField(
                    f.name, part_types.get(f.name, f.dataType),
                    f.nullable,
                )
                for f in schema.fields
            ]
        )
    missing = [c for c in part_cols if c not in schema.fieldNames()]
    if missing:
        raise ValueError(
            f"delta convert: partition columns {missing} not "
            "discovered in the directory layout"
        )
    import uuid as _uuid

    actions: list[dict] = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": str(
                    _uuid.uuid5(
                        _uuid.NAMESPACE_URL, f"{directory}|convert"
                    )
                ),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema.json(),
                "partitionColumns": part_cols,
                "configuration": {},
            }
        },
    ]
    for rel, pv in files:
        full = os.path.join(directory, rel)
        n = int(_pq.read_metadata(full).num_rows)
        if n == 0:
            continue  # a rowless file adds nothing (and stays put)
        actions.append(
            {
                "add": {
                    "path": rel,
                    "partitionValues": dict(pv),
                    "size": os.path.getsize(full),
                    "modificationTime": 0,
                    "dataChange": True,
                    "stats": json.dumps({"numRecords": n}),
                }
            }
        )
    _commit(
        _log_dir(directory), 0, actions,
        operation="CONVERT",
        operation_params={"partitionBy": json.dumps(part_cols)},
    )
    return 0


def shallow_clone_delta(
    spark: SparkSession,
    source_path: str,
    target_path: str,
    version: int | None = None,
) -> int:
    """SHALLOW CLONE (delta-spark ``CREATE TABLE ... SHALLOW CLONE``):
    a NEW table whose commit 0 re-states the source snapshot's live
    adds with ABSOLUTE paths into the source directory — zero data
    copy. Later writes land in the clone's own directory (file names
    carry a table-unique token, so they never collide with source
    basenames) and never touch the source; VACUUM only scans the
    clone's directory, so source files are structurally out of reach.
    The metaData copies schema/partitioning/configuration under a
    FRESH table id; the protocol and the ``delta.rowTracking`` domain
    (watermark) carry, so row ids stay stable across the clone
    boundary. DV descriptors convert to absolute ``p``-storage form.
    Time travel on the clone starts at the clone (version 0), exactly
    like delta-spark. ``version=`` clones a historical source
    snapshot (CLONE ... VERSION AS OF)."""
    import uuid as _uuid

    from optimus_any2any_spark.formats.roaring import z85_decode

    state = replay_log(spark, source_path, version=version)
    if state["meta"] is None:
        raise ValueError(
            f"delta clone: no table at {source_path}"
        )
    if os.path.isdir(_log_dir(target_path)):
        raise ValueError(
            f"delta clone: table already exists at {target_path}"
        )
    src_abs = os.path.abspath(source_path)
    meta2 = dict(state["meta"])
    meta2["id"] = str(
        _uuid.uuid5(_uuid.NAMESPACE_URL, f"{target_path}|clone")
    )
    actions: list[dict] = [
        {
            "protocol": state.get("protocol")
            or {"minReaderVersion": 1, "minWriterVersion": 2}
        },
        {"metaData": meta2},
    ]
    for p, a in sorted(state["live"].items()):
        a2 = dict(a)
        a2["path"] = (
            p if p.startswith("/") else os.path.join(src_abs, p)
        )
        a2["dataChange"] = True
        dv = a2.get("deletionVector")
        if dv:
            st_ = dv["storageType"]
            if st_ == "u":
                enc = dv["pathOrInlineDv"]
                prefix, uid_txt = enc[:-20], enc[-20:]
                uid = _uuid.UUID(bytes=z85_decode(uid_txt))
                rel = f"deletion_vector_{uid}.bin"
                fpath = (
                    os.path.join(src_abs, prefix, rel)
                    if prefix
                    else os.path.join(src_abs, rel)
                )
                a2["deletionVector"] = {
                    **dv, "storageType": "p", "pathOrInlineDv": fpath,
                }
            elif st_ == "p" and not dv["pathOrInlineDv"].startswith(
                ("/", "file://")
            ):
                a2["deletionVector"] = {
                    **dv,
                    "pathOrInlineDv": os.path.join(
                        src_abs, dv["pathOrInlineDv"]
                    ),
                }
            # inline ('i') descriptors carry their bytes — verbatim
        actions.append({"add": a2})
    for dom, conf in sorted((state.get("domains") or {}).items()):
        actions.append(
            {
                "domainMetadata": {
                    "domain": dom,
                    "configuration": conf,
                    "removed": False,
                }
            }
        )
    os.makedirs(target_path, exist_ok=True)
    _commit(
        _log_dir(target_path), 0, actions,
        operation="CLONE",
        operation_params={
            "source": src_abs,
            "sourceVersion": str(state["version"]),
        },
    )
    return 0


def purge_deletion_vectors(
    spark: SparkSession,
    table_path: str,
    target_rows_per_file: int = 1_000_000,
    key_col: str | None = None,
) -> int | None:
    """REORG ... APPLY (PURGE): rewrite every DV'd file WITHOUT its
    deleted rows and drop the vectors — the operation that converts
    merge-on-read debt back into clean copy-on-write files, and the
    bulk form of paying that debt down (MERGE/DELETE/OPTIMIZE also
    work over DV'd tables directly, consuming vectors as they touch
    each file — purge clears ALL of them at once). ``dataChange: false``
    (like OPTIMIZE): streaming/CDF readers skip the commit. Returns
    the committed version, or None when no live file carries a vector.

    One read of the DV'd files (+ the executor-side vector decode),
    one anti-join, one write split per partition tuple, one grouped
    stats pass — constant jobs in files and partitions."""
    state = replay_log(spark, table_path)
    if state["meta"] is None:
        return None
    phys, mapped, pfields = _phys_of(state["meta"])
    dv_adds = {
        p: a
        for p, a in state["live"].items()
        if a.get("deletionVector")
    }
    if not dv_adds:
        return None
    version = state["version"] + 1
    schema = T.StructType.fromJson(
        json.loads(state["meta"]["schemaString"])
    )
    part_cols = state["meta"].get("partitionColumns") or []
    data_schema = T.StructType(
        [f for f in schema.fields if f.name not in part_cols]
    )
    stat_col = key_col or (
        data_schema.fields[0].name if data_schema.fields else None
    )

    pt_of = {
        p: tuple(
            (a.get("partitionValues") or {}).get(phys(c)) for c in part_cols
        )
        for p, a in dv_adds.items()
    }
    ptuples = sorted(set(pt_of.values()), key=str)
    pid_of = {pt: i for i, pt in enumerate(ptuples)}
    single = len(ptuples) == 1
    rt = _row_tracking_of(state["meta"])
    kept = _read_files_dv_aware(
        spark, table_path, data_schema, sorted(dv_adds), dv_adds,
        pfields=pfields, row_tracking=rt,
        file_cols=_pid_cols(
            single, [(p, pid_of[pt]) for p, pt in pt_of.items()]
        ),
    )
    if rt is not None:
        # the purge rewrite must not re-mint ids: every surviving row
        # materializes its id and commit version
        kept = kept.withColumnRenamed(
            "__rt_id", rt[0]
        ).withColumnRenamed("__rt_cv", rt[1])

    total_rows = sum(
        max(_entry_from_add(p, a, phys(stat_col) if stat_col else "")
            ["rows"], 0)
        for p, a in dv_adds.items()
    )
    n_files = max(1, -(-total_rows // target_rows_per_file))
    tok = uuid.uuid4().hex  # writer-unique staged and published names
    tmp = os.path.join(table_path, f"_tmp-purge-v{version}-{tok}")
    data_cols = [f.name for f in data_schema.fields]
    if single:
        out_df = (
            kept.repartitionByRange(n_files, F.col(stat_col))
            if stat_col is not None
            else kept.coalesce(n_files)
        )
        if mapped:
            out_df = _to_phys(
                out_df, data_cols, pfields,
                keep=rt if rt is not None else (),
            )
        out_df.write.mode("overwrite").parquet(tmp)
    else:
        range_cols = [F.col("__pid")] + (
            [F.col(stat_col)] if stat_col is not None else []
        )
        out_df = kept.repartitionByRange(n_files, *range_cols)
        if mapped:
            out_df = _to_phys(
                out_df, data_cols, pfields,
                keep=("__pid", *rt) if rt is not None else ("__pid",),
            )
        (
            out_df.write.partitionBy("__pid")
            .mode("overwrite")
            .parquet(tmp)
        )
    new_files = _publish_parts(
        table_path, tmp, single, version, tok, "purge",
        _pv_by_pid(ptuples, part_cols, phys),
    )
    # fully-deleted content is rowless: no replacement
    actions = _add_actions(
        spark, table_path, state, version, new_files, data_schema,
        key_col=stat_col, data_change=False,
    )
    for p in sorted(dv_adds):
        actions.append(
            {"remove": _remove_action(p, dv_adds[p], data_change=False)}
        )
    _commit(
        _log_dir(table_path), version, actions,
        operation="REORG", operation_params={"applyPurge": "true"},
    )
    return version


def _delete_via_dv(
    spark, table_path, key_col, kdf, state, hits, version,
    app_id, batch_id, change_data, part_cols, data_schema, schema,
    pfields=None, n_keys=None,
):
    """Merge-on-read DELETE: matching row positions per affected file
    become deletion vectors; files are RE-ADDED with DV descriptors,
    never rewritten. One scan of the affected files (with Spark's
    ``_metadata.row_index``); the Roaring blobs are ENCODED ON
    EXECUTORS (``applyInPandas`` over the per-file position groups, so
    no position list ever crosses to the driver) and only the
    already-compressed blobs — bounded by ~rows_per_file/8 bytes each
    — are collected to assemble the commit's single ``.bin``. Each
    re-added file's PRIOR (path, DV) version gets a remove action in
    the same commit: Delta reconciliation keys file actions by
    (path, DV uniqueId), so without the remove external readers would
    keep both versions live."""
    import uuid as _uuid

    from optimus_any2any_spark import ship_by_value
    from optimus_any2any_spark.formats import roaring as _roaring
    from optimus_any2any_spark.formats.roaring import (
        dv_file_write,
        z85_encode,
    )

    live = state["live"]
    hit_paths = [p for p, _ in hits]
    # everything downstream keys rows by their file's full scan path
    # (what _metadata.file_path yields); map back to the log's paths
    path_of = {
        merge_core.scan_path_key(
            os.path.abspath(os.path.join(table_path, p))
        ): p
        for p in hit_paths
    }

    # existing vectors on the affected files decode on EXECUTORS (the
    # same Arrow path the reader uses) — never as driver position lists
    prior_rows = [
        (fp, *d, None)
        for fp, p in path_of.items()
        if (d := dv_descriptor(table_path, live[p])) is not None
    ]
    prior_df = (
        merge_core.deleted_positions_df(spark, prior_rows).select(
            F.col("file_path").alias("__fp"), F.col("pos").alias("__pos")
        )
        if prior_rows
        else None
    )

    # the affected files' rows that no EXISTING vector already deleted
    # (re-deleting them would double-report in the CDF and inflate
    # cardinality), each with its scan path and row position; the CDF
    # rows carry the partition values
    cur = _read_files_dv_aware(
        spark, table_path, data_schema, hit_paths, live,
        pfields=pfields,
        part_fields=[schema[c] for c in part_cols] if change_data else (),
        positions=True,
    )
    nk = kdf.select(F.col(key_col).alias("__nk"))
    # the caller already knows the distinct key count — re-counting
    # kdf here was a whole redundant job per DV delete commit
    if n_keys is None:
        n_keys = kdf.count()
    matched = cur.join(
        F.broadcast(nk) if n_keys <= _MAX_DRIVER_KEYS else nk,
        F.col(key_col).eqNullSafe(F.col("__nk")),
        "inner",
    ).drop("__nk")
    matched = matched.persist()
    try:
        # merged position set per touched file = new matches ∪ the
        # file's prior vector (files with a vector but NO new match
        # keep their old DV untouched — semi-join restricts the union)
        positions = matched.select("__fp", "__pos")
        if prior_df is not None:
            touched_fps = matched.select("__fp").distinct()
            positions = positions.unionByName(
                prior_df.join(
                    F.broadcast(touched_fps), "__fp", "left_semi"
                )
            )

        ship_by_value()
        dv_blob = _roaring.dv_blob

        # encode placement is a latency/scale trade with the SAME
        # one-shuffle plan either way: small deletes collect raw
        # positions and encode on the driver — no Python-worker spin-up
        # on the common interactive path; big deletes encode per file
        # on EXECUTORS via applyInPandas so only pre-compressed blobs
        # (≤ ~rows_per_file/8 bytes each) ever cross to the driver,
        # which is what removed the old 5M-row cap. ONE bounded probe
        # decides the placement AND fetches the positions when they
        # fit: limit(cap+1) short-circuits, so the driver holds at most
        # cap+1 (bn, pos) rows — the old shape ran a full
        # matched.count() job first and then re-fetched the same rows.
        # Arrow toPandas, not collect(): the pickled-row path
        # materializes a Row object per position (measured ~0.5 s of
        # pure driver CPU at ~70k positions).
        pos_pdf = positions.limit(_MAX_DRIVER_KEYS + 1).toPandas()
        if len(pos_pdf) <= _MAX_DRIVER_KEYS:
            per_file = []
            for fp, grp in pos_pdf.groupby("__fp", sort=False):
                ps = sorted(set(int(p) for p in grp["__pos"]))
                per_file.append(
                    {
                        "__fp": fp,
                        "__blob": dv_blob(ps),
                        "__card": len(ps),
                    }
                )
        else:

            def _encode_file_dv(pdf):
                import pandas as _pd

                poss = sorted(set(int(x) for x in pdf["__pos"]))
                return _pd.DataFrame(
                    {
                        "__fp": [pdf["__fp"].iloc[0]],
                        "__blob": [dv_blob(poss)],
                        "__card": [len(poss)],
                    }
                )

            per_file = (
                positions.groupBy("__fp")
                .applyInPandas(
                    _encode_file_dv,
                    "__fp string, __blob binary, __card long",
                )
                .collect()
            )
        if not per_file:
            return state["version"]  # stats false-positive: no-op
        per_file.sort(key=lambda r: path_of[r["__fp"]])

        uid = _uuid.uuid4()
        bin_rel = f"deletion_vector_{uid}.bin"
        blobs = [bytes(r["__blob"]) for r in per_file]
        order = [(path_of[r["__fp"]], int(r["__card"])) for r in per_file]
        # write the blob file locally, then publish through the
        # data-store seam (object-store parity with the parquet puts)
        bin_tmp = os.path.join(
            table_path, f"_tmp-{bin_rel}.{os.getpid()}"
        )
        offsets = dv_file_write(bin_tmp, blobs)
        merge_core._put_data(bin_tmp, os.path.join(table_path, bin_rel))
        if os.path.exists(bin_tmp):  # a copying store leaves the src
            os.unlink(bin_tmp)

        actions: list[dict] = []
        proto = _merged_protocol(
            state.get("protocol"),
            ["deletionVectors"],
            ["deletionVectors"],
        )
        if proto is not None:
            actions.append({"protocol": proto})
        if batch_id is not None:
            actions.append(
                {"txn": {"appId": app_id, "version": batch_id}}
            )
        for (p, card), blob, off in zip(order, blobs, offsets):
            old = live[p]
            actions.append(
                {
                    "remove": _remove_action(
                        old["path"], old, data_change=True
                    )
                }
            )
            add = dict(old)
            add["dataChange"] = True
            add["deletionVector"] = {
                "storageType": "u",
                "pathOrInlineDv": z85_encode(uid.bytes),
                "offset": off,
                "sizeInBytes": len(blob),
                "cardinality": card,
            }
            actions.append({"add": add})

        if change_data:
            deleted = matched.drop("__fp", "__pos")
            actions += _cdc_actions(
                table_path, state, version, uid.hex,
                deleted.withColumn("_change_type", F.lit("delete")),
                schema.fieldNames(),
            )
        _commit(
            _log_dir(table_path), version, actions,
            operation="DELETE", operation_params={"mode": "deletion-vectors"},
        )
        return version
    finally:
        matched.unpersist()


def delete_delta_keys(
    spark: SparkSession,
    table_path: str,
    key_col: str,
    keys: DataFrame,
    app_id: str = DEFAULT_APP_ID,
    batch_id: int | None = None,
    change_data: bool = False,
    target_rows_per_file: int = 1_000_000,
    use_deletion_vectors: bool = False,
) -> int:
    """DELETE by key — the third verb of the CRUD story (merge covers
    insert/update). Affected files are pruned exactly like a merge
    (partition group, then key stats).

    Default (copy-on-write): each affected file is rewritten without
    the matching rows; a file whose every row matched simply gets no
    replacement.

    ``use_deletion_vectors=True`` (merge-on-read): NO file is
    rewritten — the matching ROW POSITIONS per file are serialized as
    Delta deletion vectors (RoaringBitmapArray blobs in one ``.bin``
    per commit) and each file is re-added with its DV descriptor,
    upgrading the protocol to readerVersion 3 + deletionVectors. Write
    amplification drops from O(affected file bytes) to O(deleted row
    indexes) — the GDPR-erasure shape at 100 TB. A file that already
    carries a DV has its positions MERGED (the update form real
    writers commit).

    ``change_data=True`` records the removed rows as ``delete`` CDF
    entries either way. Returns the committed version (or the current
    one when nothing matched — no-op deletes burn no version)."""
    state = replay_log(spark, table_path)
    if state["meta"] is None:
        raise ValueError(f"delta delete: no table at {table_path}")
    _check_append_only(state["meta"], "delete")
    phys, mapped, pfields = _phys_of(state["meta"])
    version = state["version"] + 1
    if (
        batch_id is not None
        and state["txns"].get(app_id) is not None
        and batch_id <= state["txns"][app_id]
    ):
        return state["version"]
    schema = T.StructType.fromJson(
        json.loads(state["meta"]["schemaString"])
    )
    part_cols = state["meta"].get("partitionColumns") or []
    data_schema = T.StructType(
        [f for f in schema.fields if f.name not in part_cols]
    )
    type_of = {f.name: f.dataType for f in schema.fields}
    kdf = keys.select(key_col).distinct().localCheckpoint(eager=False)
    # One bounded probe replaces the stats aggregate + full collect:
    # limit(cap+1) tells us in a single job whether the distinct key
    # set fits on the driver, and when it does the rows ARE the key
    # list (n / null-flag derived locally; _affected's key_list branch
    # never reads kmin/kmax). Only an over-cap key set pays the stats
    # aggregate, whose collected bytes stay O(1).
    probe = kdf.limit(_MAX_DRIVER_KEYS + 1).collect()
    n_keys = len(probe)
    if n_keys == 0:
        return state["version"]
    key_list = None
    kmin = kmax = None
    if n_keys <= _MAX_DRIVER_KEYS:
        has_null = any(r[0] is None for r in probe)
        key_list = sorted_keys(r[0] for r in probe)
    else:
        kstats = kdf.agg(
            F.count(F.lit(1)).alias("n"),
            F.min(key_col).alias("kmin"),
            F.max(key_col).alias("kmax"),
            F.max(F.col(key_col).isNull().cast("int")).alias(
                "null_key"
            ),
        ).collect()[0]
        n_keys = kstats["n"]
        has_null = bool(kstats["null_key"])
        kmin, kmax = kstats["kmin"], kstats["kmax"]

    # ---- single-job partitioned delete ------------------------------
    # DELETE keys are not partition-scoped, so pruning is a flat pass
    # over the live files (driver metadata, zero jobs); the rewrite is
    # then ONE anti-join + ONE partitionBy("__pid") write covering
    # every touched partition — the output file's partitionValues are
    # carried VERBATIM from its source file's add action, so no value
    # ever round-trips through a directory-name string encoding.
    hits: list[tuple[str, tuple]] = []  # (path, pv tuple)
    hit_rows_total = 0
    for p, a in sorted(state["live"].items()):
        pv = a.get("partitionValues") or {}
        pt = tuple(pv.get(phys(c)) for c in part_cols)
        e = _entry_from_add(p, a, phys(key_col))
        h, _miss = _affected([e], key_list, kmin, kmax, has_null)
        if h:
            hits.append((p, pt))
            hit_rows_total += max(e["rows"], 0)
    if not hits:
        return state["version"]  # no file matched: nothing to commit

    if use_deletion_vectors:
        return _delete_via_dv(
            spark, table_path, key_col, kdf, state, hits, version,
            app_id, batch_id, change_data, part_cols, data_schema,
            schema, pfields, n_keys=n_keys,
        )

    ptuples = sorted({pt for _, pt in hits}, key=str)
    pid_of = {pt: i for i, pt in enumerate(ptuples)}
    hit_paths = [p for p, _ in hits]
    single = len(ptuples) == 1
    rt = _row_tracking_of(state["meta"])
    cur = _read_files_dv_aware(
        spark, table_path, data_schema, hit_paths, state["live"],
        pfields=pfields, row_tracking=rt,
        file_cols=_pid_cols(single, [(p, pid_of[pt]) for p, pt in hits]),
    )
    if single:
        cur = cur.withColumn("__pid", F.lit(0).cast("int"))
    cur = cur.alias("cur")
    nk = kdf.alias("nk")
    match = F.col(f"cur.{key_col}").eqNullSafe(F.col(f"nk.{key_col}"))
    keep = cur.join(nk, match, "left_anti")
    if rt is not None:
        # survivors keep id AND commit version (a delete rewrite is
        # not an update of the surviving rows)
        keep = keep.withColumnRenamed(
            "__rt_id", rt[0]
        ).withColumnRenamed("__rt_cv", rt[1])

    tok = uuid.uuid4().hex  # writer-unique staged and published names
    tmp = os.path.join(table_path, f"_tmp-delete-v{version}-{tok}")
    write_key = key_col
    if mapped:
        keep = _to_phys(
            keep, [f.name for f in data_schema.fields], pfields,
            keep=("__pid", *(rt or ())),
        )
        write_key = pfields[key_col].name
    write_merged(
        keep, write_key, hit_rows_total, target_rows_per_file, tmp, single
    )
    new_files = _publish_parts(
        table_path, tmp, single, version, tok, "delete",
        _pv_by_pid(ptuples, part_cols, phys),
    )
    actions: list[dict] = []
    if batch_id is not None:
        actions.append({"txn": {"appId": app_id, "version": batch_id}})
    # a part whose every source row matched is rowless: no add
    actions += _add_actions(
        spark, table_path, state, version, new_files, data_schema,
        key_col=key_col,
    )
    for path in hit_paths:
        actions.append(
            {
                "remove": _remove_action(
                    path, state["live"][path], data_change=True
                )
            }
        )
    if change_data:
        deleted = cur.join(nk, match, "left_semi").withColumn(
            "_change_type", F.lit("delete")
        )
        # typed partition columns come from casting the verbatim
        # partitionValues strings through the table schema (the same
        # rule the snapshot reader applies)
        if part_cols:
            pid_typed = local_rows_df(spark, 
                [(pid_of[pt],) + pt for pt in ptuples],
                T.StructType(
                    [T.StructField("__pid", T.IntegerType(), False)]
                    + [
                        T.StructField(c, T.StringType(), True)
                        for c in part_cols
                    ]
                ),
            ).select(
                "__pid",
                *[
                    F.col(c).cast(type_of[c]).alias(c)
                    for c in part_cols
                ],
            )
            deleted = deleted.join(F.broadcast(pid_typed), "__pid")
        actions += _cdc_actions(
            table_path, state, version, tok, deleted, schema.fieldNames()
        )
    _commit(
        _log_dir(table_path), version, actions,
        operation="DELETE", operation_params={"mode": "copy-on-write"},
    )
    return version


def upsert_to_delta_table(
    stream: DataFrame,
    path: str,
    key_col: str,
    ts_col: str,
    checkpoint: str,
    app_id: str = DEFAULT_APP_ID,
    target_rows_per_file: int = 1_000_000,
    partition_by: list[str] | None = None,
    change_data: bool = False,
    merge_schema: bool = False,
):
    """Streaming wrapper: file-level Delta MERGE per micro-batch, with
    the log's txn action making foreachBatch redelivery exactly-once —
    the same transactional-sink idempotence real Delta streaming
    writers implement. ``partition_by``/``change_data``/
    ``merge_schema`` pass through to every micro-batch merge, so a
    stream can feed a partitioned table, emit CDF, or absorb schema
    drift."""

    def merge(batch: DataFrame, batch_id: int):
        merge_delta_batch(
            batch.sparkSession,
            batch,
            path,
            key_col,
            ts_col,
            app_id=app_id,
            batch_id=batch_id,
            target_rows_per_file=target_rows_per_file,
            partition_by=partition_by,
            change_data=change_data,
            merge_schema=merge_schema,
        )

    return (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
