"""Apache Iceberg table READER — the open spec, no iceberg-spark jar.

An Iceberg table (iceberg.apache.org/spec) is parquet data files plus
a ``metadata/`` directory: ``v<N>.metadata.json`` (schemas, partition
specs, snapshot list, current snapshot id; ``version-hint.text`` names
the latest N in the HadoopCatalog layout), a *manifest list* Avro file
per snapshot, and *manifest* Avro files listing data files with per-
file stats. Reconstructing a snapshot is: metadata JSON → manifest
list → manifests → data-file entries with ``status != DELETED``. The
Avro layer is :mod:`optimus_any2any_spark.formats.avrobin` (stdlib
codec, JVM-cross-checked); data files are read by Spark as parquet.

Scope (spec-honest): format versions 1 and 2, INCLUDING v2 row-level
deletes on the snapshot-read path — positional delete files apply as
an anti-join on ``(file, row position)`` via Spark's
``_metadata.file_path``/``row_index`` hidden columns, equality delete
files as null-safe anti-joins over their ``equality_ids`` columns,
both gated on the spec's data-sequence-number ordering (a row
re-inserted after a delete stays alive). The APPEND-tail surfaces
(``read_iceberg_appends``, the ``iceberg_tail`` stream) still reject
delete manifests — an append stream cannot express removals. A
format-version 3 table READS when it uses only v2-compatible
features, and Puffin DELETION VECTORS (the v3 merge-on-read form)
decode through the same seq-gated anti-join as delete-parquet rows
(:mod:`..formats.puffin`); the remaining v3 constructs (row lineage,
column defaults, encryption, new types, non-DV Puffin blob types)
guard-raise by name — never mis-read (docs/ICEBERG_V3.md). Unlike Delta, Iceberg
data files physically contain their partition columns, so no
literal-column reattachment is needed.

Scale shape: metadata decode is driver-side over KB–MB Avro manifests
(every Iceberg client starts there; the manifest list exists precisely
so a reader opens O(manifests touched), not O(history)); the data read
is one ``spark.read.parquet`` over the surviving file set.

This module writes no file. Every Iceberg writer — the ICEBERG sink's
APPEND (``write_iceberg_commit``), MERGE, DML, deletes and maintenance —
lives in ``streaming/iceberg_table.py`` on one publish tail, and commits
through :func:`commit_iceberg_snapshot` / :func:`publish_iceberg_metadata`
here.
"""

from __future__ import annotations

from optimus_any2any_spark.localrel import local_rows_df

import glob as _glob
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from optimus_any2any_spark.formats.puffin import (
    DV_V1,
    read_puffin_footer,
)
from optimus_any2any_spark.formats.avrobin import (
    read_container,
    write_container,
)
from optimus_any2any_spark.streaming import merge_core

_STATUS_DELETED = 2


def _meta_dir(table_path: str) -> str:
    return os.path.join(table_path, "metadata")


def _localize(table_path: str, uri: str) -> str:
    """Manifest/data paths in real tables are absolute URIs; strip the
    scheme and, for relocated tables, re-anchor at the local root."""
    p = uri
    if "://" in p:
        p = p.split("://", 1)[1]
        # file://host/path → /path ; s3://bucket/key → /bucket/key-ish:
        # re-anchoring below handles both
        if not p.startswith("/"):
            p = "/" + p
    if not os.path.isabs(p):
        return os.path.join(table_path, p)  # table-relative (fixtures)
    if os.path.exists(p):
        return p
    # re-anchor: find the table-relative suffix (…/data/x, …/metadata/x)
    for marker in ("/data/", "/metadata/"):
        if marker in p:
            cand = os.path.join(
                table_path, marker.strip("/"), p.split(marker, 1)[1]
            )
            if os.path.exists(cand):
                return cand
    return p


# The clock seam: every snapshot this engine commits stamps a real
# ``timestamp-ms`` from here (and appends a ``snapshot-log`` entry),
# so age-based expiration and TIMESTAMP AS OF travel work on
# self-written tables. Fixtures inject a fixed or stepping clock for
# deterministic metadata — the same injection pattern as the Delta
# log/data-store seams (streaming/merge_core.py set_log_store).
def _default_clock() -> int:
    import time

    return int(time.time() * 1000)


_clock = _default_clock


def set_clock(clock) -> None:
    """Inject the commit-timestamp source: a zero-arg callable
    returning epoch milliseconds. Pass ``None`` to restore wall
    time."""
    global _clock
    _clock = clock or _default_clock


def snapshot_timestamp_ms(meta: dict | None) -> int:
    """The next snapshot's ``timestamp-ms``: the injected clock,
    floored at the newest existing snapshot's stamp so the snapshot
    log stays chronological even under a fixed test clock or a
    wall-clock step backwards."""
    ts = int(_clock())
    prev = 0
    for s in (meta or {}).get("snapshots") or []:
        prev = max(prev, int(s.get("timestamp-ms") or 0))
    return max(ts, prev)


def append_snapshot_log(
    meta: dict, prev: dict | None, ts_ms: int, snapshot_id: int
) -> None:
    """Append this commit's ``snapshot-log`` entry (spec: the
    chronological ``{timestamp-ms, snapshot-id}`` list timestamp
    travel resolves against) onto ``meta``, carrying ``prev``'s log
    forward."""
    meta["snapshot-log"] = list((prev or {}).get("snapshot-log") or []) + [
        {"timestamp-ms": ts_ms, "snapshot-id": snapshot_id}
    ]


def advance_main_ref(meta: dict, snapshot_id: int) -> None:
    """Keep the ``main`` branch ref in step with
    ``current-snapshot-id`` when the table carries a refs map —
    Iceberg writes ``refs.main`` on every commit, and a stale main
    would make branch reads diverge from the current snapshot."""
    refs = meta.get("refs")
    if refs and "main" in refs:
        refs = dict(refs)
        refs["main"] = dict(refs["main"])
        refs["main"]["snapshot-id"] = snapshot_id
        meta["refs"] = refs


def resolve_iceberg_ref(meta: dict, name: str) -> int:
    """Snapshot ref (spec "Snapshot References": the metadata ``refs``
    map of named tags and branches) → snapshot-id. Raises on an
    unknown ref, like Iceberg's VERSION AS OF a missing branch/tag."""
    refs = meta.get("refs") or {}
    r = refs.get(name)
    if r is None:
        raise ValueError(
            f"iceberg: unknown ref {name!r} "
            f"(known: {sorted(refs) or 'none'})"
        )
    return int(r["snapshot-id"])


def resolve_iceberg_timestamp(meta: dict, timestamp) -> int:
    """TIMESTAMP AS OF → snapshot-id: the LATEST snapshot-log entry
    whose ``timestamp-ms <= timestamp`` — Iceberg's
    ``SnapshotUtil.snapshotIdAsOfTime`` rule, which clamps to the
    current snapshot past the end of history but raises before the
    first ("Cannot find a snapshot older than ..."). Accepts epoch
    millis, an ISO string, or a datetime. Externally-written metadata
    without a ``snapshot-log`` resolves against the snapshots' own
    ``timestamp-ms`` stamps in list order."""
    from optimus_any2any_spark.sources.delta import _to_epoch_millis

    millis = _to_epoch_millis(timestamp)
    log = meta.get("snapshot-log") or [
        {
            "timestamp-ms": int(s.get("timestamp-ms") or 0),
            "snapshot-id": s["snapshot-id"],
        }
        for s in meta.get("snapshots") or []
    ]
    if not log:
        raise ValueError("iceberg: table has no snapshots to travel to")
    best = None
    for e in log:
        if int(e["timestamp-ms"]) <= millis:
            best = e["snapshot-id"]
    if best is None:
        raise ValueError(
            f"iceberg: cannot find a snapshot older than {timestamp!r} "
            f"(first snapshot at epoch-ms {log[0]['timestamp-ms']})"
        )
    return int(best)


def _newest_version(md: str) -> int:
    """The newest committed metadata version under ``md`` (0 when there
    is none): the ``version-hint.text`` value (without a hint, the
    highest ``v<N>.metadata.json``), stepped forward past every newer
    ``v<N+1>.metadata.json`` — the spec's Hadoop-table rule. A commit
    replaces the hint only after its metadata put, so a crash between
    the two, or a slow winner's late hint, leaves the hint behind;
    it is never ahead."""
    try:
        with open(os.path.join(md, "version-hint.text")) as f:
            version = int(f.read().strip())
    except FileNotFoundError:
        version = max(
            (
                int(os.path.basename(f)[1:-len(".metadata.json")])
                for f in _glob.glob(os.path.join(md, "v*.metadata.json"))
            ),
            default=0,
        )
    while os.path.exists(os.path.join(md, f"v{version + 1}.metadata.json")):
        version += 1
    return version


def load_table_metadata(table_path: str, version: int | None = None) -> dict:
    md = _meta_dir(table_path)
    if version is None:
        version = _newest_version(md)
        if not version:
            raise ValueError(f"iceberg: no metadata under {table_path}")
    path = os.path.join(md, f"v{version}.metadata.json")
    with open(path) as f:
        meta = json.loads(f.read())
    _refuse_v3_constructs(meta)
    return meta


def open_iceberg_table(table_path: str) -> tuple[int, dict | None]:
    """A writer's view of the table: ``(version, metadata)`` of the
    newest committed version, or ``(0, None)`` when no table exists.
    The writer's commit is ``publish_iceberg_metadata(table_path,
    version + 1, ...)``, which fails if another writer got there
    first."""
    version = _newest_version(_meta_dir(table_path))
    if not version:
        return 0, None
    return version, load_table_metadata(table_path, version)


def publish_iceberg_metadata(
    table_path: str,
    version: int,
    meta: dict,
    updated_ms: int | None = None,
) -> int:
    """Commit ``meta`` as ``v<version>.metadata.json`` — the one commit
    step of every Iceberg writer here (the spec's Hadoop-table commit),
    and return ``version``.

    The bytes go to a writer-unique temp, then land through the
    put-if-absent log store shared with the Delta log
    (``merge_core.set_log_store``): when another writer already took
    ``version`` this raises ``IOError`` and publishes nothing. Then
    ``version-hint.text`` is replaced through a writer-unique temp;
    readers step past a stale hint (:func:`_newest_version`).

    ``last-updated-ms`` is stamped on every version: ``updated_ms``
    (the stamp of the snapshot this commit adds) or, for a
    metadata-only commit, the clock — never below the previous
    stamp."""
    if updated_ms is None:
        updated_ms = snapshot_timestamp_ms(meta)
    meta["last-updated-ms"] = max(
        updated_ms, int(meta.get("last-updated-ms") or 0)
    )
    md = _meta_dir(table_path)
    final = os.path.join(md, f"v{version}.metadata.json")
    suffix = f"{os.getpid()}-{uuid.uuid4().hex[:8]}.tmp"
    tmp = f"{final}.{suffix}"
    with open(tmp, "w") as f:
        f.write(json.dumps(meta, indent=2))
    try:
        if not merge_core._put_if_absent(tmp, final):
            raise IOError(
                f"iceberg: metadata v{version} already exists — lost "
                "the race to a concurrent writer; reopen the table and "
                "retry"
            )
    finally:
        os.unlink(tmp)
    hint = os.path.join(md, "version-hint.text")
    with open(f"{hint}.{suffix}", "w") as f:
        f.write(str(version))
    os.replace(f"{hint}.{suffix}", hint)
    return version


def commit_iceberg_snapshot(
    table_path: str, version: int, meta: dict, snap: dict,
    branch: str | None = None,
) -> int:
    """Make ``snap`` the new main head of ``meta`` — its
    ``parent-snapshot-id`` stamped from the pre-commit head when unset,
    appended to the snapshot list and the ``snapshot-log``,
    ``refs.main`` and ``current-snapshot-id`` advanced — and publish
    ``meta`` as ``version`` (:func:`publish_iceberg_metadata`). A WAP
    ``branch`` write advances that branch ref instead and leaves main,
    the snapshot log and every default reader where they were. The
    parent pointer is what lets readers window history by ANCESTRY
    (multi-branch WAP — :func:`iceberg_main_chain`) instead of list
    position. A None/-1 head leaves the key out: an explicit null
    parent would demote a heuristic-governed table to list-order
    history (:func:`_chain_authoritative`)."""
    sid = snap["snapshot-id"]
    head = meta.get("current-snapshot-id")
    if snap.get("parent-snapshot-id") is None and head not in (None, -1):
        snap["parent-snapshot-id"] = head
    meta["snapshots"] = list(meta.get("snapshots") or []) + [snap]
    if branch is not None:
        meta["refs"] = {
            **(meta.get("refs") or {}),
            branch: {"snapshot-id": sid, "type": "branch"},
        }
    else:
        append_snapshot_log(meta, meta, snap["timestamp-ms"], sid)
        advance_main_ref(meta, sid)
        meta["current-snapshot-id"] = sid
    return publish_iceberg_metadata(
        table_path, version, meta, snap["timestamp-ms"]
    )


def _refuse_v3_constructs(meta: dict) -> None:
    """Format-version 3 scoping (docs/ICEBERG_V3.md): v3 tables that
    use only v2-compatible features READ normally — the version number
    alone is not a reason to refuse (plenty of v3 tables are just v2
    tables after a format bump). Actual v3 constructs guard-raise BY
    NAME, never mis-read:

    - table encryption (``encryption-keys``),
    - column default values on NESTED fields or of unsupported value
      types (top-level primitive ``initial-default``/``write-default``
      — boolean/int/long/float/double/string/date/decimal — are READ:
      the reader fills ``initial-default`` for files that physically
      lack the column, and appends fill ``write-default`` when the df
      omits it; row lineage is FULLY read too, explicit per-entry
      first_row_id and the spec's manifest-level inheritance rule
      both resolve in _snapshot_entries),
    - new v3 types (``timestamp_ns``, ``variant``, ``geometry``…)
      raise from the type mapper with the type name.

    Puffin DELETION VECTORS are NO LONGER refused: entries carrying
    ``referenced_data_file``/``content_offset`` decode through
    :func:`_puffin_dv_ref` + the merge-on-read anti-join. Non-DV
    Puffin blob types and non-Puffin referenced entries still refuse
    by name there."""
    fmt = int(meta.get("format-version", 1))
    if fmt > 3:
        raise NotImplementedError(
            f"iceberg: format-version {meta['format-version']} > 3"
        )
    if fmt < 3:
        return
    # row lineage (next-row-id / first_row_id) NO LONGER refuses:
    # plain reads ignore it safely (data files are unaffected), and
    # read_iceberg(row_lineage=True) synthesizes _row_id /
    # _last_updated_sequence_number per the spec — including tables
    # whose entries rely on manifest-level first_row_id INHERITANCE
    # (null per-entry values resolve in _snapshot_entries from the
    # snapshot's first-row-id + manifest row counts). Only a lineage
    # read under a snapshot with NO first-row-id still refuses.
    if meta.get("encryption-keys"):
        raise NotImplementedError(
            "iceberg v3: table encryption is beyond this reader"
        )
    schemas = meta.get("schemas") or (
        [meta["schema"]] if meta.get("schema") else []
    )
    for s in schemas:
        _validate_default_values(s.get("fields") or [])


def _default_value_of(ice_t, raw):
    """Parse a JSON single-value serialized default (spec Appendix D)
    into the Python value the Spark row machinery consumes. Supported:
    the primitive types whose serialization is unambiguous; everything
    else (uuid, binary/fixed, timestamps, nested types) refuses BY
    NAME — a misparsed default would silently corrupt every
    pre-evolution row."""
    import datetime as _dt
    import decimal as _dec

    if ice_t == "boolean":
        if not isinstance(raw, bool):
            raise NotImplementedError(
                f"iceberg v3: boolean default {raw!r} is not a JSON "
                "boolean"
            )
        return raw
    if ice_t in ("int", "long"):
        if isinstance(raw, bool) or not isinstance(raw, int):
            raise NotImplementedError(
                f"iceberg v3: {ice_t} default {raw!r} is not a JSON "
                "integer"
            )
        return int(raw)
    if ice_t in ("float", "double"):
        if isinstance(raw, bool) or not isinstance(raw, (int, float)):
            raise NotImplementedError(
                f"iceberg v3: {ice_t} default {raw!r} is not a JSON "
                "number"
            )
        return float(raw)
    if ice_t == "string":
        if not isinstance(raw, str):
            raise NotImplementedError(
                f"iceberg v3: string default {raw!r} is not a JSON "
                "string"
            )
        return raw
    if ice_t == "date":
        try:
            return _dt.date.fromisoformat(raw)
        except (TypeError, ValueError):
            raise NotImplementedError(
                f"iceberg v3: date default {raw!r} is not an ISO "
                "date string"
            ) from None
    if isinstance(ice_t, str) and ice_t.startswith("decimal("):
        try:
            return _dec.Decimal(str(raw))
        except _dec.InvalidOperation:
            raise NotImplementedError(
                f"iceberg v3: decimal default {raw!r} does not parse"
            ) from None
    raise NotImplementedError(
        f"iceberg v3: default values for type {ice_t!r} are beyond "
        "this reader"
    )


def _validate_default_values(fields: list) -> None:
    """Top-level primitive defaults must PARSE at metadata-load time
    (so a read never half-applies them); defaults on struct fields
    nested anywhere in the schema — any depth of struct/list/map
    nesting — still refuse by name instead of silently null-filling
    (ADVICE r8)."""
    for f in fields:
        for key in ("initial-default", "write-default"):
            if f.get(key) is not None:
                _default_value_of(f.get("type"), f[key])
        _refuse_default_values_in_type(f.get("type"))


def _refuse_nested_default_values(fields: list) -> None:
    for f in fields:
        if (
            f.get("initial-default") is not None
            or f.get("write-default") is not None
        ):
            raise NotImplementedError(
                "iceberg v3: column default values on NESTED field "
                f"{f.get('name')!r} are beyond this reader"
            )
        _refuse_default_values_in_type(f.get("type"))


def _refuse_default_values_in_type(t) -> None:
    if not isinstance(t, dict):
        return
    kind = t.get("type")
    if kind == "struct":
        _refuse_nested_default_values(t.get("fields") or [])
    elif kind == "list":
        _refuse_default_values_in_type(t.get("element"))
    elif kind == "map":
        _refuse_default_values_in_type(t.get("key"))
        _refuse_default_values_in_type(t.get("value"))


def _current_schema(meta: dict) -> dict:
    if "schemas" in meta:
        sid = meta.get("current-schema-id", 0)
        for s in meta["schemas"]:
            if s.get("schema-id") == sid:
                return s
        return meta["schemas"][0]
    return meta["schema"]


_PRIM_TO_SPARK = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "date": T.DateType(),
    "string": T.StringType(),
    "uuid": T.StringType(),
    "binary": T.BinaryType(),
    "timestamp": T.TimestampNTZType(),
    "timestamptz": T.TimestampType(),
}


def _iceberg_type_to_spark(t) -> T.DataType:
    if isinstance(t, str):
        if t in _PRIM_TO_SPARK:
            return _PRIM_TO_SPARK[t]
        if t.startswith("decimal("):
            p, s = t[len("decimal("):-1].split(",")
            return T.DecimalType(int(p), int(s))
        if t.startswith("fixed["):
            return T.BinaryType()
        raise NotImplementedError(f"iceberg: type {t!r}")
    k = t["type"]
    if k == "struct":
        return T.StructType(
            [
                T.StructField(
                    f["name"],
                    _iceberg_type_to_spark(f["type"]),
                    not f.get("required", False),
                )
                for f in t["fields"]
            ]
        )
    if k == "list":
        return T.ArrayType(
            _iceberg_type_to_spark(t["element"]),
            not t.get("element-required", False),
        )
    if k == "map":
        return T.MapType(
            _iceberg_type_to_spark(t["key"]),
            _iceberg_type_to_spark(t["value"]),
            not t.get("value-required", False),
        )
    raise NotImplementedError(f"iceberg: type {k!r}")


def iceberg_spark_schema(meta: dict) -> T.StructType:
    sch = _current_schema(meta)
    return _iceberg_type_to_spark(
        {"type": "struct", "fields": sch["fields"]}
    )


def _snapshot_entries(
    table_path: str, meta: dict, snapshot_id: int | None = None
) -> tuple[list[dict], list[dict], list[dict]]:
    """Full entry walk of a snapshot: ``(data, pos_deletes,
    eq_deletes)`` — each entry ``{"path": localized, "orig":
    manifest file_path string, "seq": sequence number,
    "equality_ids": [...]}``. Sequence numbers follow v2 inheritance:
    the entry's own ``sequence_number`` when present, else the
    manifest-list row's, else 0 (v1 tables carry none and every file
    shares seq 0 — correct, since v1 has no row-level deletes)."""
    snaps = meta.get("snapshots") or []
    if snapshot_id is None:
        snapshot_id = meta.get("current-snapshot-id")
    if snapshot_id is None or snapshot_id == -1 or not snaps:
        return [], [], []
    snap = next(
        (s for s in snaps if s["snapshot-id"] == snapshot_id), None
    )
    if snap is None:
        raise ValueError(
            f"iceberg: snapshot {snapshot_id} not in table metadata"
        )
    if "manifest-list" in snap:
        _, manifests = read_container(
            _localize(table_path, snap["manifest-list"])
        )
    else:
        manifests = [
            {"manifest_path": p, "content": 0}
            for p in snap.get("manifests", [])
        ]
    data: list[dict] = []
    pos_del: list[dict] = []
    eq_del: list[dict] = []
    _puffin_footers: dict = {}  # one footer parse per Puffin file
    # v3 row-lineage first_row_id INHERITANCE (spec "Row Lineage"):
    # a data manifest with null first_row_id is assigned the
    # snapshot's first-row-id plus the added+existing row counts of
    # the preceding null-first_row_id data manifests in list order;
    # a data file entry with null first_row_id is assigned the
    # manifest's first_row_id plus the record_count of the preceding
    # null-first_row_id entries in that manifest. Counts come from
    # the manifest-list row when present, else are recomputed from
    # the entries (added_rows_count + existing_rows_count is exactly
    # the non-deleted record_count total).
    _sfri = snap.get("first-row-id")
    rl_running = int(_sfri) if _sfri is not None else None
    for m in manifests:
        is_data_manifest = int(m.get("content") or 0) == 0
        m_first = m.get("first_row_id")
        if (
            is_data_manifest
            and m_first is None
            and rl_running is not None
        ):
            m_first = rl_running
        rl_ent_acc = 0   # ids consumed by assigned entries
        rl_live_rows = 0  # added+existing record_count (counts fallback)
        _, entries = read_container(
            _localize(table_path, m["manifest_path"])
        )
        for e in entries:
            if int(e.get("status") or 0) == _STATUS_DELETED:
                continue
            kind, ent = _classify_entry(table_path, m, e, _puffin_footers)
            if kind != "data":
                (pos_del if kind == "pos" else eq_del).append(ent)
                continue
            n = int(e["data_file"].get("record_count") or 0)
            if is_data_manifest:
                rl_live_rows += n
                if ent["first_row_id"] is None and m_first is not None:
                    ent["first_row_id"] = m_first + rl_ent_acc
                    rl_ent_acc += n
            data.append(ent)
        if (
            is_data_manifest
            and m.get("first_row_id") is None
            and rl_running is not None
        ):
            a = m.get("added_rows_count")
            x = m.get("existing_rows_count")
            rl_running += (
                int(a) + int(x)
                if a is not None and x is not None
                else rl_live_rows
            )
    return data, pos_del, eq_del


def _classify_entry(
    table_path: str, m: dict, e: dict, footers: dict
) -> tuple[str, dict]:
    """``(kind, entry)`` for one live manifest entry ``e`` of
    manifest-list row ``m`` — the one classifier under the reader's
    snapshot walk and the merge and compaction walks. ``kind`` is
    ``data``, ``pos`` (positional delete files, and v3 deletion
    vectors with their validated Puffin slice under ``dv``) or ``eq``
    (equality deletes). The entry carries the localized ``path``, the
    manifest's ``orig`` path, the data sequence ``seq`` (v2
    inheritance: the entry's own number, else ``m``'s, else 0 — v1
    tables carry none, and v1 has no row-level deletes), and what
    pruning, identity constants and lineage read."""
    df_ = e["data_file"]
    seq = e.get("sequence_number")
    if seq is None:
        seq = m.get("sequence_number")
    ent = {
        "path": _localize(table_path, df_["file_path"]),
        "orig": df_["file_path"],
        "seq": int(seq or 0),
        "equality_ids": list(df_.get("equality_ids") or []),
        # Appendix-D bounds + null counts, kept for the key_range
        # data-skipping read (field-id keyed)
        "lower_bounds": df_.get("lower_bounds"),
        "upper_bounds": df_.get("upper_bounds"),
        "null_value_counts": df_.get("null_value_counts"),
        "record_count": df_.get("record_count"),
        # v3 row lineage: _row_id = first_row_id + position
        "first_row_id": df_.get("first_row_id"),
        # identity-constant projection + partition pruning: the
        # manifest partition tuple, keyed by partition field name,
        # under the manifest's spec
        "partition": dict(df_.get("partition") or {}),
        "spec_id": m.get("partition_spec_id"),
    }
    content = int(df_.get("content") or 0)
    if int(m.get("content") or 0) != 1 and content not in (1, 2):
        return "data", ent
    if (
        df_.get("referenced_data_file") is not None
        or df_.get("content_offset") is not None
        or df_.get("content_size_in_bytes") is not None
    ):
        # v3 deletion vector: positions live in a Puffin blob slice,
        # not delete-parquet rows — reading the entry as a (file_path,
        # pos) parquet would silently delete nothing. Known
        # deletion-vector blobs decode through the merge-on-read path;
        # anything else refuses by name.
        ent["dv"] = _puffin_dv_ref(table_path, df_, footers)
        return "pos", ent
    if content == 2 or ent["equality_ids"]:
        return "eq", ent
    return "pos", ent


def _puffin_dv_ref(
    table_path: str, df_: dict, footer_cache: dict
) -> dict:
    """Validate a v3 deletion-vector manifest entry against its Puffin
    footer and return the ``{referenced, offset, size}`` slice the
    reader's executor-side decode consumes. Non-Puffin referenced
    entries and unknown Puffin blob types refuse by name — a DV the
    reader cannot decode must never silently delete nothing."""
    fmt_name = str(df_.get("file_format") or "").upper()
    rel = df_.get("file_path")
    if fmt_name != "PUFFIN" and not str(rel).endswith(".puffin"):
        raise NotImplementedError(
            "iceberg v3: deletion vectors (Puffin delete blobs) in "
            f"format {fmt_name!r} are beyond this reader — delete "
            f"file {rel!r}"
        )
    referenced = df_.get("referenced_data_file")
    offset = df_.get("content_offset")
    size = df_.get("content_size_in_bytes")
    if referenced is None or offset is None or size is None:
        raise NotImplementedError(
            "iceberg v3: Puffin deletion vector entry missing "
            "referenced_data_file/content_offset/"
            f"content_size_in_bytes — delete file {rel!r}"
        )
    path = _localize(table_path, rel)
    if path not in footer_cache:
        footer_cache[path] = read_puffin_footer(path)
    blob = next(
        (
            b
            for b in footer_cache[path].get("blobs") or []
            if int(b.get("offset")) == int(offset)
        ),
        None,
    )
    if blob is None:
        raise ValueError(
            f"iceberg v3: no Puffin blob at offset {offset} in {rel!r}"
        )
    if blob.get("type") != DV_V1:
        raise NotImplementedError(
            f"iceberg v3: Puffin blob type {blob.get('type')!r} is "
            f"beyond this reader — delete file {rel!r}"
        )
    return {
        "referenced": referenced,
        "offset": int(offset),
        "size": int(size),
    }


def read_iceberg(
    spark: SparkSession,
    table_path: str,
    snapshot_id: int | None = None,
    key_range: tuple | None = None,
    as_of_timestamp=None,
    ref: str | None = None,
    row_lineage: bool = False,
) -> DataFrame:
    """Snapshot read of an Iceberg table; ``snapshot_id`` time-travels
    to any retained snapshot (the spec's SNAPSHOT AS OF), and
    ``as_of_timestamp`` (epoch-ms / ISO string / datetime) resolves
    through the metadata's ``snapshot-log`` to the latest snapshot at
    or before that time — Iceberg's TIMESTAMP AS OF
    (``SnapshotUtil.snapshotIdAsOfTime``; clamps to current past the
    end of history, raises before the first snapshot). ``ref`` reads
    a named TAG or BRANCH from the metadata ``refs`` map (the spec's
    VERSION AS OF 'name'). The three selectors are mutually
    exclusive.

    ``key_range=(col, lo, hi)`` applies the range predicate AND skips
    data files whose Appendix-D ``lower_bounds``/``upper_bounds`` for
    that column prove no row can match — Iceberg's manifest-level data
    skipping, the twin of ``read_delta(key_range=...)``. Files without
    recorded bounds are read (and still filtered); all-null files skip
    via ``null_value_counts`` (a range predicate never matches null).

    v2 MERGE-ON-READ: positional and equality delete files apply as
    anti-joins — positional deletes match ``(file, row position)``
    via Spark's ``_metadata.file_path``/``row_index`` hidden columns
    (a delete applies when its sequence number >= the data file's);
    equality deletes null-safe-match their equality columns (apply
    when seq > the data file's). The sequence comparison is what keeps
    a row RE-INSERTED after a delete alive — ignoring it would
    over-delete. Per-file values join on each file's full scan path.

    ``row_lineage=True`` (v3 ROW LINEAGE) appends ``_row_id`` and
    ``_last_updated_sequence_number``: each data file's manifest
    entry carries its ``first_row_id`` and rows derive
    ``first_row_id + position`` — stable across MERGE-ON-READ deletes
    (positions never move) and minted fresh by delete+insert updates,
    exactly the spec's lineage contract. Requires ``next-row-id`` in
    the table metadata; entries relying on manifest-level
    inheritance refuse by name."""
    from pyspark.sql import functions as F

    meta = load_table_metadata(table_path)
    if (
        sum(
            x is not None
            for x in (snapshot_id, as_of_timestamp, ref)
        )
        > 1
    ):
        raise ValueError(
            "iceberg read: snapshot_id / as_of_timestamp / ref are "
            "mutually exclusive"
        )
    if ref is not None:
        snapshot_id = resolve_iceberg_ref(meta, ref)
    if as_of_timestamp is not None:
        snapshot_id = resolve_iceberg_timestamp(meta, as_of_timestamp)
    schema = iceberg_spark_schema(meta)
    data, pos_del, eq_del = _snapshot_entries(
        table_path, meta, snapshot_id
    )
    if key_range is not None:
        col, lo, hi = key_range
        data = _prune_by_bounds(meta, data, col, lo, hi)
    if row_lineage:
        # v3 ROW LINEAGE: _row_id = the file's first_row_id + the
        # row's raw parquet position; _last_updated_sequence_number =
        # the file's data sequence. Both derive from the file lookup
        # the scan already joins — zero extra jobs.
        if meta.get("next-row-id") is None:
            raise ValueError(
                "iceberg read: row_lineage=True on a table without "
                "next-row-id — not a row-lineage table"
            )
        if any(f.name in _LINEAGE_COLS for f in schema.fields):
            raise NotImplementedError(
                "iceberg v3: table schema shadows the reserved "
                "lineage column names — beyond this reader"
            )
    # files REWRITTEN by maintenance carry MATERIALIZED lineage
    # columns (the spec's preservation mechanism) and keep them
    out = read_entries_with_deletes(
        spark, meta, schema, data, pos_del, eq_del, lineage=row_lineage
    )
    if key_range is not None:
        col, lo, hi = key_range
        out = out.filter(
            (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
        )
    return out


def read_iceberg_metadata(
    spark: SparkSession, table_path: str, kind: str
) -> DataFrame:
    """Iceberg METADATA tables (the spec's inspection surface —
    ``SELECT * FROM tbl.snapshots`` etc.) as DataFrames:

    - ``snapshots``: committed_at (ms), snapshot_id, parent_id,
      operation, manifest_list;
    - ``history``: made_current_at (ms), snapshot_id, parent_id,
      is_current_ancestor — from the metadata ``snapshot-log``;
    - ``refs``: name, type, snapshot_id;
    - ``manifests``: path, length, partition_spec_id, content,
      added_snapshot_id;
    - ``files``: content, file_path, file_format, record_count,
      file_size_in_bytes (current snapshot; delete files included
      with their spec content codes);
    - ``partitions``: per live partition tuple (values rendered as
      strings, identity constants decoded first), spec_id, data
      record/file totals and gating position/equality delete-file
      counts — the skew/compaction inspection surface;
    - ``entries``: the live manifest entries of the current snapshot
      (content code, file path, effective sequence number, record
      count, partition tuple as strings) — the debugging surface for
      delete-gating questions ("which files does this delete still
      gate?"), one row per live entry.

    All driver-side metadata decode (KB–MB of JSON/Avro — the same
    scale every Iceberg client pays), emitted as a DataFrame so the
    inspection composes with the relational surface."""
    meta = load_table_metadata(table_path)
    snaps = meta.get("snapshots") or []
    by_id = {s["snapshot-id"]: s for s in snaps}
    if kind == "snapshots":
        return local_rows_df(spark, 
            [
                (
                    int(s.get("timestamp-ms") or 0),
                    int(s["snapshot-id"]),
                    (
                        None
                        if s.get("parent-snapshot-id") is None
                        else int(s["parent-snapshot-id"])
                    ),
                    (s.get("summary") or {}).get("operation"),
                    s.get("manifest-list"),
                )
                for s in snaps
            ],
            "committed_at long, snapshot_id long, parent_id long, "
            "operation string, manifest_list string",
        )
    if kind == "history":
        cur = meta.get("current-snapshot-id")
        # ancestors of the current snapshot via parent links
        ancestors: set[int] = set()
        sid = cur
        while sid in by_id:
            ancestors.add(sid)
            sid = by_id[sid].get("parent-snapshot-id")
        log = meta.get("snapshot-log") or [
            {
                "timestamp-ms": int(s.get("timestamp-ms") or 0),
                "snapshot-id": s["snapshot-id"],
            }
            for s in snaps
        ]
        return local_rows_df(spark, 
            [
                (
                    int(e["timestamp-ms"]),
                    int(e["snapshot-id"]),
                    (
                        None
                        if by_id.get(e["snapshot-id"], {}).get(
                            "parent-snapshot-id"
                        )
                        is None
                        else int(
                            by_id[e["snapshot-id"]][
                                "parent-snapshot-id"
                            ]
                        )
                    ),
                    e["snapshot-id"] in ancestors,
                )
                for e in log
            ],
            "made_current_at long, snapshot_id long, parent_id long, "
            "is_current_ancestor boolean",
        )
    if kind == "refs":
        return local_rows_df(spark, 
            [
                (name, r.get("type"), int(r["snapshot-id"]))
                for name, r in sorted(
                    (meta.get("refs") or {}).items()
                )
            ],
            "name string, type string, snapshot_id long",
        )
    if kind == "manifests":
        rows = []
        cur_id = meta.get("current-snapshot-id")
        snap = by_id.get(cur_id)
        manifests = []
        if snap is not None:
            ml = snap.get("manifest-list")
            if ml is not None:
                _, manifests = read_container(_localize(table_path, ml))
            else:
                manifests = [
                    {"manifest_path": p}
                    for p in snap.get("manifests", [])
                ]
        for m in manifests:
            rows.append(
                (
                    m.get("manifest_path"),
                    (
                        None
                        if m.get("manifest_length") is None
                        else int(m["manifest_length"])
                    ),
                    int(m.get("partition_spec_id") or 0),
                    int(m.get("content") or 0),
                    (
                        None
                        if m.get("added_snapshot_id") is None
                        else int(m["added_snapshot_id"])
                    ),
                )
            )
        return local_rows_df(spark, 
            rows,
            "path string, length long, partition_spec_id int, "
            "content int, added_snapshot_id long",
        )
    if kind == "files":
        data, pos_del, eq_del = _snapshot_entries(table_path, meta)
        rows = []
        for content, ents in ((0, data), (1, pos_del), (2, eq_del)):
            for e in ents:
                c = content
                if content == 1 and e.get("equality_ids"):
                    c = 2
                rows.append(
                    (
                        c,
                        e["orig"],
                        (
                            None
                            if e.get("record_count") is None
                            else int(e["record_count"])
                        ),
                    )
                )
        return local_rows_df(spark, 
            rows, "content int, file_path string, record_count long"
        )
    if kind == "partitions":
        # the spec's partitions inspection table: per live partition
        # tuple, data file/record totals plus gating delete-file
        # counts — the skew/compaction surface (a 100 TB table's hot
        # partitions show up here before they show up as stragglers).
        # Values render as strings keyed by partition field name
        # (identity constants decode first, so dt=2026-01-01 prints
        # as the date, not int days); the unpartitioned table is one
        # row with an empty map.
        data, pos_del, eq_del = _snapshot_entries(table_path, meta)
        id_specs = _identity_spec_fields(meta)
        typed = {
            sid: {name: ice_t for name, _src, ice_t in fields}
            for sid, fields in id_specs.items()
        }

        def _pkey(e: dict) -> tuple[int, tuple]:
            sid = e.get("spec_id")
            if sid is None:
                sid = int(meta.get("default-spec-id", 0))
            sid = int(sid)
            p = e.get("partition") or {}
            tmap = typed.get(sid, {})
            vals = []
            for name in sorted(p):
                v = p[name]
                if name in tmap:
                    v = _decode_partition_const(tmap[name], v)
                vals.append(
                    (name, None if v is None else str(v))
                )
            return sid, tuple(vals)

        agg: dict[tuple, list[int]] = {}
        for e in data:
            k = _pkey(e)
            a = agg.setdefault(k, [0, 0, 0, 0])
            a[0] += int(e.get("record_count") or 0)
            a[1] += 1
        for e in pos_del:
            agg.setdefault(_pkey(e), [0, 0, 0, 0])[2] += 1
        for e in eq_del:
            agg.setdefault(_pkey(e), [0, 0, 0, 0])[3] += 1
        rows = [
            (
                dict(vals),
                sid,
                a[0],
                a[1],
                a[2],
                a[3],
            )
            for (sid, vals), a in sorted(
                agg.items(),
                # nulls first within a field, stable across specs
                key=lambda kv: (
                    kv[0][0],
                    tuple(
                        (n, v is not None, v or "")
                        for n, v in kv[0][1]
                    ),
                ),
            )
        ]
        return local_rows_df(spark, 
            rows,
            "partition map<string,string>, spec_id int, "
            "record_count long, file_count long, "
            "position_delete_file_count long, "
            "equality_delete_file_count long",
        )
    if kind == "entries":
        data, pos_del, eq_del = _snapshot_entries(table_path, meta)
        id_specs = _identity_spec_fields(meta)
        typed = {
            sid: {name: ice_t for name, _src, ice_t in fields}
            for sid, fields in id_specs.items()
        }

        def _pstr(e: dict) -> dict:
            sid = e.get("spec_id")
            if sid is None:
                sid = int(meta.get("default-spec-id", 0))
            tmap = typed.get(int(sid), {})
            out = {}
            for name, v in sorted((e.get("partition") or {}).items()):
                if name in tmap:
                    v = _decode_partition_const(tmap[name], v)
                out[name] = None if v is None else str(v)
            return out

        rows = []
        for content, ents in ((0, data), (1, pos_del), (2, eq_del)):
            for e in ents:
                c = content
                if content == 1 and e.get("equality_ids"):
                    c = 2
                rows.append(
                    (
                        c,
                        e["orig"],
                        int(e["seq"]),
                        (
                            None
                            if e.get("record_count") is None
                            else int(e["record_count"])
                        ),
                        _pstr(e),
                    )
                )
        return local_rows_df(spark, 
            rows,
            "content int, file_path string, sequence_number long, "
            "record_count long, partition map<string,string>",
        )
    raise ValueError(
        f"iceberg metadata table: unknown kind {kind!r} (snapshots / "
        "history / refs / manifests / files / partitions / entries)"
    )


def encode_bound(iceberg_type: str, v) -> bytes | None:
    """Appendix-D single-value bound serialization (shared with the
    writers in streaming/iceberg_table, which re-exports these —
    defined HERE so manifest pruning works inside the pure-python
    data-source runner without a by-name runtime import)."""
    import struct

    if v is None:
        return None
    if iceberg_type == "int":
        return struct.pack("<i", v)
    if iceberg_type == "long":
        return struct.pack("<q", v)
    if iceberg_type == "double":
        return struct.pack("<d", float(v))
    if iceberg_type == "float":
        return struct.pack("<f", float(v))
    if iceberg_type == "string":
        return str(v).encode()
    return None  # unbounded type: no stats, conservatively affected


def decode_bound(iceberg_type: str, b: bytes | None):
    import struct

    if b is None:
        return None
    if iceberg_type == "int":
        return struct.unpack("<i", b)[0]
    if iceberg_type == "long":
        return struct.unpack("<q", b)[0]
    if iceberg_type == "double":
        return struct.unpack("<d", b)[0]
    if iceberg_type == "float":
        return struct.unpack("<f", b)[0]
    if iceberg_type == "string":
        return b.decode()
    return None


# identity partition source types whose manifest-tuple values this
# reader can turn into the Spark column value. The Avro container
# decodes logical types as their PHYSICAL representation (date as int
# days, timestamps as long micros, decimal as big-endian unscaled
# bytes) — _decode_partition_const converts. Types outside this set
# (uuid, fixed, binary, time) are skipped entirely: their files keep
# their stored column values (value-identical per the projection
# rule), which is also the pre-substitution behavior.
_CONST_RAW = {"int", "long", "string", "double", "float", "boolean"}


def _decodable_partition_type(ice_t: str) -> bool:
    return (
        ice_t in _CONST_RAW
        or ice_t in (
            "date", "timestamp", "timestamptz",
            "timestamp_ns", "timestamptz_ns",
        )
        or ice_t.startswith("decimal(")
    )


def _decode_partition_const(ice_t: str, v):
    """Manifest partition tuple value → the Python value Spark's row
    construction expects for the column's read type (spec: Column
    Projection; Avro logical-type physical forms)."""
    import datetime as _dt
    import decimal as _dec

    if v is None or ice_t in _CONST_RAW:
        return v
    if ice_t == "date":
        return _dt.date(1970, 1, 1) + _dt.timedelta(days=int(v))
    if ice_t == "timestamptz":
        return _dt.datetime(
            1970, 1, 1, tzinfo=_dt.timezone.utc
        ) + _dt.timedelta(microseconds=int(v))
    if ice_t == "timestamp":
        return _dt.datetime(1970, 1, 1) + _dt.timedelta(
            microseconds=int(v)
        )
    if ice_t == "timestamp_ns":  # v3 tz-LESS; Spark stores micros
        return _dt.datetime(1970, 1, 1) + _dt.timedelta(
            microseconds=int(v) // 1000
        )
    if ice_t == "timestamptz_ns":  # v3 instant variant
        return _dt.datetime(
            1970, 1, 1, tzinfo=_dt.timezone.utc
        ) + _dt.timedelta(microseconds=int(v) // 1000)
    if ice_t.startswith("decimal("):
        scale = int(ice_t[:-1].split(",")[1])
        unscaled = (
            int.from_bytes(v, "big", signed=True)
            if isinstance(v, (bytes, bytearray))
            else int(v)
        )
        return _dec.Decimal(unscaled).scaleb(-scale)
    raise NotImplementedError(
        f"iceberg: identity partition constant of type {ice_t!r}"
    )


def _identity_spec_fields(
    meta: dict,
) -> dict[int, list[tuple[str, str, str]]]:
    """Per partition-spec-id, the IDENTITY fields as ``(partition
    field name, source column name, iceberg type)`` triples — the
    spec's Column Projection constants map: for an identity partition
    field, a row's source-column value IS the manifest entry's
    partition tuple value. That rule is what makes hive-layout files
    registered by ``add_iceberg_files`` readable (the partition
    column lives in the directory name, not the file), and it is
    value-identical for files that do carry the column (a file under
    partition ``p`` contains exactly ``p``'s rows). Non-identity
    fields, fields whose source column left the current schema, and
    source types without a partition-constant decoding contribute
    nothing (their files' stored values remain authoritative)."""
    by_id = {
        int(f["id"]): f for f in _current_schema(meta)["fields"]
    }
    out: dict[int, list[tuple[str, str, str]]] = {}
    for spec in meta.get("partition-specs") or []:
        fields: list[tuple[str, str, str]] = []
        for pf in spec.get("fields") or []:
            if str(pf.get("transform") or "") != "identity":
                continue
            src = by_id.get(int(pf["source-id"]))
            if (
                src is None
                or not isinstance(src["type"], str)
                or not _decodable_partition_type(src["type"])
            ):
                continue
            fields.append(
                (pf.get("name") or src["name"], src["name"],
                 src["type"])
            )
        out[int(spec.get("spec-id") or 0)] = fields
    return out


def _entry_identity_consts(
    meta: dict, id_specs: dict[int, list[tuple[str, str, str]]],
    ent: dict
) -> dict[str, object]:
    """One data entry's identity constants: ``{source column:
    decoded partition value}`` under the entry's manifest spec
    (default spec when the manifest-list row carries none — the v1
    fallback)."""
    p = ent.get("partition") or {}
    if not p:
        return {}
    sid = ent.get("spec_id")
    if sid is None:
        sid = int(meta.get("default-spec-id", 0))
    return {
        src: _decode_partition_const(ice_t, p[name])
        for name, src, ice_t in id_specs.get(int(sid), [])
        if name in p
    }


def _reader_default_fills(meta: dict) -> dict[str, object]:
    """Current-schema top-level ``initial-default`` values, parsed —
    the fill the spec mandates for rows in files written BEFORE the
    column existed. Empty below format v3 (defaults are a v3
    construct)."""
    if int(meta.get("format-version", 1)) < 3:
        return {}
    out: dict[str, object] = {}
    for f in _current_schema(meta)["fields"]:
        if f.get("initial-default") is not None:
            out[f["name"]] = _default_value_of(
                f["type"], f["initial-default"]
            )
    return out


# footer column-name cache for the default-fill check: iceberg data
# files are immutable (writers never rewrite a path in place), so one
# footer read per path per process suffices — the changelog walks
# overlapping entry sets up to 3x per snapshot and would otherwise
# re-fetch the same footers every call. Bounded LRU, same discipline
# as the jq/template compile caches.
_FOOTER_NAMES_CACHE: "OrderedDict[tuple, frozenset]" = (
    __import__("collections").OrderedDict()
)
_FOOTER_NAMES_CAP = 65536


def _footer_column_names(path: str) -> frozenset | None:
    """Top-level column names of one parquet footer, or None when the
    file is unreadable (the data read will raise with the real
    error). Cached per (path, size, mtime) — a same-path rebuild
    (fixtures rmtree + recreate deterministic file names) must never
    serve the old footer's shape; the stat is ~100× cheaper than the
    footer read it saves."""
    import os as _os

    try:
        st = _os.stat(path)
    except OSError:
        return None
    key = (path, st.st_size, st.st_mtime_ns)
    c = _FOOTER_NAMES_CACHE
    if key in c:
        c.move_to_end(key)
        return c[key]
    import pyarrow.parquet as _pq

    try:
        names = frozenset(_pq.read_schema(path).names)
    except (OSError, ValueError):
        # ValueError covers pyarrow's ArrowInvalid (corrupt footer):
        # defer to the executor data read for the real error.
        # Transient: do NOT cache unreadable.
        return None
    c[key] = names
    if len(c) > _FOOTER_NAMES_CAP:
        c.popitem(last=False)
    return names


def _projection_consts(
    meta: dict, data: list[dict]
) -> dict[str, dict[str, object]]:
    """Per-file (manifest path) constants the read must project over
    the raw parquet columns: identity partition values (always
    authoritative; none on the common unpartitioned table) plus
    ``initial-default`` fills for files whose FOOTER schema lacks a
    defaulted column. The footer check is a metadata-only read and
    runs only on default-carrying (v3) tables — a file that contains
    the column keeps its stored values, nulls included (the spec fills
    ONLY missing columns)."""
    consts: dict[str, dict[str, object]] = {}
    id_specs = _identity_spec_fields(meta)
    if any(id_specs.values()):
        for d in data:
            m = _entry_identity_consts(meta, id_specs, d)
            if m:
                consts[d["orig"]] = m
    fills = _reader_default_fills(meta)
    if fills:
        for d in data:
            names = _footer_column_names(d["path"])
            if names is None:
                continue  # unreadable file: the data read will raise
            missing = {
                c: v for c, v in fills.items() if c not in names
            }
            if missing:
                m = consts.setdefault(d["orig"], {})
                for c, v in missing.items():
                    # identity constants outrank defaults (a
                    # partition value IS the column value)
                    m.setdefault(c, v)
    return consts


def _prune_by_bounds(
    meta: dict, data: list[dict], col: str, lo, hi
) -> list[dict]:
    """Drop data entries whose Appendix-D bounds PROVE the range
    predicate cannot match (or that are provably all-null for the
    column — a range predicate never matches null). Entries without
    decodable bounds are conservatively kept.

    When ``col`` is an IDENTITY partition source, the entry's
    partition tuple value is authoritative (every row in the file has
    exactly that value — the Column Projection constant), so it
    decides inclusion outright: this is Iceberg's partition pruning,
    and the only pruning available for hive-migrated files, which
    carry no per-column bounds at all."""
    id_specs = _identity_spec_fields(meta)
    field = next(
        (
            f
            for f in _current_schema(meta)["fields"]
            if f["name"] == col
        ),
        None,
    )
    if field is None or not isinstance(field["type"], str):
        return data
    fid, ice_t = int(field["id"]), field["type"]

    def _kv(pairs, key):
        for p in pairs or []:
            if int(p["key"]) == key:
                return p["value"]
        return None

    kept: list[dict] = []
    for d in data:
        consts = _entry_identity_consts(meta, id_specs, d)
        if col in consts:
            v = consts[col]
            if v is None:
                continue  # null partition: range never matches
            try:
                if v < lo or v > hi:
                    continue  # whole file provably outside the range
            except TypeError:
                pass  # incomparable types: keep conservatively
            kept.append(d)
            continue
        nulls = _kv(d.get("null_value_counts"), fid)
        n = d.get("record_count")
        if (
            nulls is not None
            and n is not None
            and len(nulls) == 8
            and int.from_bytes(nulls, "little") == int(n)
        ):
            continue  # provably all-null: range never matches
        blo = _kv(d.get("lower_bounds"), fid)
        bhi = _kv(d.get("upper_bounds"), fid)
        if blo is not None and bhi is not None:
            try:
                vlo, vhi = decode_bound(ice_t, blo), decode_bound(
                    ice_t, bhi
                )
            except Exception:
                kept.append(d)
                continue
            if vlo is not None and vhi is not None and (
                vlo > hi or vhi < lo
            ):
                continue  # provably disjoint
        kept.append(d)
    return kept


def _seq_keyed_scan(
    spark: SparkSession, schema, entries: list[dict], seq_col: str
) -> DataFrame:
    """One scan over delete files with each row's delete-file sequence
    ``seq_col`` attached through a broadcast lookup keyed by the
    file's full scan path."""
    from pyspark.sql import functions as F

    paths = [os.path.abspath(d["path"]) for d in entries]
    lk = local_rows_df(
        spark,
        [
            (merge_core.scan_path_key(p), d["seq"])
            for p, d in zip(paths, entries)
        ],
        f"__fp string, {seq_col} long",
    )
    return (
        spark.read.schema(schema)
        .parquet(*paths)
        .select("*", F.col("_metadata.file_path").alias("__fp"))
        .join(F.broadcast(lk), "__fp")
        .drop("__fp")
    )


def _pos_delete_rows_df(spark: SparkSession, pos_del: list[dict]):
    """Every ``(file_path, pos, __pseq)`` row the given positional-
    delete entries assert — parquet pos-delete files (spec field ids
    2147483546/2147483545) unioned with v3 deletion vectors, whose
    Puffin blob slices decode on EXECUTORS
    (:func:`merge_core.deleted_positions_df`, the Delta DV decoder).
    Returns None when there are no positional deletes."""
    dv_del = [d for d in pos_del if d.get("dv")]
    pq_del = [d for d in pos_del if not d.get("dv")]
    pdel = None
    if pq_del:
        pd_schema = T.StructType(
            [
                T.StructField("file_path", T.StringType(), True),
                T.StructField("pos", T.LongType(), True),
            ]
        )
        pdel = _seq_keyed_scan(spark, pd_schema, pq_del, "__pseq")
    if dv_del:
        dvdf = merge_core.deleted_positions_df(
            spark,
            [
                (
                    d["dv"]["referenced"], "puffin", "", d["path"],
                    d["dv"]["offset"], d["dv"]["size"], d["seq"],
                )
                for d in dv_del
            ],
        )
        pdel = dvdf if pdel is None else pdel.unionByName(dvdf)
    return pdel


def _eq_delete_sets(
    spark: SparkSession, meta: dict, schema, eq_del: list[dict]
) -> list[tuple[list[str], DataFrame]]:
    """Equality-delete files grouped by their equality column set:
    per set, the column names and ONE scan of the set's files giving
    ``__eq_<col>`` values and the delete sequence ``__eseq``."""
    from pyspark.sql import functions as F

    by_id = {
        int(f["id"]): f["name"] for f in _current_schema(meta)["fields"]
    }
    sets: dict[tuple, list[dict]] = {}
    for d in eq_del:
        ids = tuple(sorted(d["equality_ids"]))
        if not ids:
            raise NotImplementedError(
                "iceberg: equality delete file without equality_ids"
            )
        sets.setdefault(ids, []).append(d)
    out = []
    for ids, dels in sorted(sets.items()):
        try:
            cols = [by_id[i] for i in ids]
        except KeyError as e:
            raise NotImplementedError(
                f"iceberg: equality delete on unknown field id {e}"
            ) from None
        eq_schema = T.StructType(
            [T.StructField(c, schema[c].dataType, True) for c in cols]
        )
        edel = _seq_keyed_scan(spark, eq_schema, dels, "__eseq").select(
            *[F.col(c).alias(f"__eq_{c}") for c in cols], "__eseq"
        )
        out.append((cols, edel))
    return out


_LINEAGE_COLS = ("_row_id", "_last_updated_sequence_number")


def read_entries_with_deletes(
    spark: SparkSession,
    meta: dict,
    schema,
    data: list[dict],
    pos_del: list[dict],
    eq_del: list[dict],
    file_cols: tuple[str, dict[str, tuple]] | None = None,
    position_cols: tuple[str, str] | None = None,
    lineage: bool = False,
) -> DataFrame:
    """The one Iceberg scan under :func:`read_iceberg`, reusable over a
    SUBSET of a snapshot's data entries: read the given data files as
    ONE parquet scan and anti-join away the rows the given
    positional/equality delete files erase, sequence-gated per the
    spec. The copy-on-write writers read their affected files through
    this so a rewrite never resurrects rows a delete had already
    removed.

    Each row's ``(_metadata.file_path, _metadata.row_index)`` is
    captured once, straight off the scan (metadata columns are
    unreliable once rows cross an exchange), and joins ONE broadcast
    per-file lookup keyed by the file's FULL scan path
    (:func:`merge_core.scan_path_key`) — files that share a basename in
    different directories never mix. The lookup carries the manifest
    path, the data sequence, identity-partition and default-value
    constants, ``first_row_id`` and caller constants:

    - ``file_cols=(ddl, {manifest path: values})``: caller constants
      per data file (a routing ``__pid``, a sequence);
    - ``position_cols=(path_col, pos_col)`` appends each surviving
      row's manifest-listed data-file path and raw parquet row
      position — the identity a positional-delete WRITER needs
      (``delete_iceberg_positions``);
    - ``lineage=True`` (v3 ROW LINEAGE) appends ``_row_id`` and
      ``_last_updated_sequence_number``: the materialized columns of
      files rewritten by maintenance, else ``first_row_id + position``
      and the file's data sequence (Spark null-fills requested
      columns absent from a parquet file).

    A plain read with nothing to attach is the bare schema'd scan."""
    from pyspark.sql import functions as F

    extra = (
        list(T._parse_datatype_string(file_cols[0]).fields)
        if file_cols else []
    )
    read_schema = T.StructType(
        list(schema.fields)
        + [T.StructField(c, T.LongType(), True)
           for c in (_LINEAGE_COLS if lineage else ())]
    )
    out_cols = (
        list(read_schema.fieldNames())
        + [f.name for f in extra]
        + list(position_cols or ())
    )
    missing = [
        d["orig"] for d in data if d.get("first_row_id") is None
    ] if lineage else []
    if missing:
        # inheritance (_snapshot_entries) already resolved every null
        # it could — a residue means the snapshot itself lacks
        # first-row-id
        raise NotImplementedError(
            "iceberg v3: data files under a snapshot without "
            "first-row-id — their first_row_id is unassignable even by "
            f"inheritance: {missing[:3]}"
        )
    if not data:
        out = spark.createDataFrame([], read_schema)
        for f in extra:
            out = out.withColumn(f.name, F.lit(None).cast(f.dataType))
        if position_cols:
            out = out.withColumn(
                position_cols[0], F.lit(None).cast("string")
            ).withColumn(position_cols[1], F.lit(None).cast("long"))
        return out
    # absolute paths: the scan and the lookup key resolve them alike
    paths = [os.path.abspath(d["path"]) for d in data]
    df = spark.read.schema(read_schema).parquet(*paths)
    consts = _projection_consts(meta, data)
    ccols = sorted(
        {c for m in consts.values() for c in m if c in schema.fieldNames()}
    )
    if not (
        ccols or pos_del or eq_del or file_cols or position_cols or lineage
    ):
        return df
    ftypes = {f.name: f.dataType for f in schema.fields}
    lk_fields = [
        T.StructField("__fp", T.StringType(), False),
        T.StructField("__orig", T.StringType(), False),
        T.StructField("__dseq", T.LongType(), True),
        T.StructField("__rl_first", T.LongType(), True),
    ]
    for c in ccols:
        # a per-column presence flag: a file without a constant for
        # the column (an older unpartitioned spec) keeps its own
        # values, while a null partition value substitutes as null
        lk_fields.append(T.StructField(f"__pc_{c}", ftypes[c], True))
        lk_fields.append(T.StructField(f"__pcs_{c}", T.BooleanType(), False))
    lk_fields += extra
    rows: dict[str, tuple] = {}
    for d, path in zip(data, paths):
        fp = merge_core.scan_path_key(path)
        m = consts.get(d["orig"], {})
        row = [fp, d["orig"], d.get("seq"), d.get("first_row_id")]
        for c in ccols:
            row += [m.get(c), c in m]
        if file_cols:
            row += list(file_cols[1][d["orig"]])
        rows.setdefault(fp, tuple(row))
    lk = local_rows_df(spark, list(rows.values()), T.StructType(lk_fields))
    df = df.select(
        "*",
        F.col("_metadata.file_path").alias("__fp"),
        F.col("_metadata.row_index").alias("__pos"),
    ).join(F.broadcast(lk), "__fp")
    for c in ccols:
        df = df.withColumn(
            c,
            F.when(F.col(f"__pcs_{c}"), F.col(f"__pc_{c}")).otherwise(
                F.col(c)
            ),
        )

    pdel = _pos_delete_rows_df(spark, pos_del)
    if pdel is not None:
        df = df.alias("d").join(
            pdel.alias("x"),
            (F.col("d.__orig") == F.col("x.file_path"))
            & (F.col("d.__pos") == F.col("x.pos"))
            & (F.col("x.__pseq") >= F.col("d.__dseq")),
            "left_anti",
        )
    for cols, edel in _eq_delete_sets(spark, meta, schema, eq_del):
        cond = F.col("__eseq") > F.col("d.__dseq")
        for c in cols:
            cond = cond & F.col(f"d.{c}").eqNullSafe(F.col(f"__eq_{c}"))
        df = df.alias("d").join(edel, cond, "left_anti")

    if lineage:
        df = df.withColumn(
            "_row_id",
            F.coalesce(
                F.col("_row_id"), F.col("__rl_first") + F.col("__pos")
            ),
        ).withColumn(
            "_last_updated_sequence_number",
            F.coalesce(
                F.col("_last_updated_sequence_number"), F.col("__dseq")
            ),
        )
    if position_cols:
        df = df.withColumn(
            position_cols[0], F.col("__orig")
        ).withColumn(position_cols[1], F.col("__pos"))
    return df.select(*out_cols)


def read_iceberg_appends(
    spark: SparkSession,
    table_path: str,
    from_snapshot_id: int | None,
    to_snapshot_id: int,
) -> DataFrame:
    """Rows APPENDED by snapshots after ``from_snapshot_id`` up to and
    including ``to_snapshot_id`` — Iceberg's incremental append scan
    (the spec's ``incremental read``): per snapshot, the manifest
    entries with ``status == ADDED`` and that snapshot's id. A
    snapshot whose summary says ``overwrite`` (a merge) rewrote rows
    and is NOT an append stream, so it raises — the same honesty rule
    as ``read_delta_appends``. ``from_snapshot_id=None`` starts from
    the beginning of history."""
    from pyspark.sql import functions as F

    meta = load_table_metadata(table_path)
    schema = iceberg_spark_schema(meta)
    snaps = meta.get("snapshots") or []
    ids = [s["snapshot-id"] for s in snaps]
    if to_snapshot_id not in ids:
        raise ValueError(
            f"iceberg: snapshot {to_snapshot_id} not in table metadata"
        )
    # ancestry window, not list slice: unpublished WAP-branch
    # snapshots interleave the list but are not appends to main
    chain = iceberg_main_chain(meta, to_snapshot_id)
    cids = [s["snapshot-id"] for s in chain]
    start = 0
    if from_snapshot_id is not None:
        if from_snapshot_id not in cids:
            if from_snapshot_id in ids:
                raise ValueError(
                    f"iceberg: snapshot {from_snapshot_id} is not an "
                    f"ancestor of {to_snapshot_id} — no linear "
                    "append window between them"
                )
            raise ValueError(
                f"iceberg: snapshot {from_snapshot_id} not in table "
                "metadata"
            )
        start = cids.index(from_snapshot_id) + 1
    window = chain[start:]
    files: list[dict] = []
    for snap in window:
        op = (snap.get("summary") or {}).get("operation", "append")
        if op not in ("append",):
            raise ValueError(
                f"iceberg: snapshot {snap['snapshot-id']} is "
                f"{op!r}, not an append — no incremental append scan"
            )
        _, manifests = read_container(
            _localize(table_path, snap["manifest-list"])
        )
        for m in manifests:
            _, entries = read_container(
                _localize(table_path, m["manifest_path"])
            )
            for e in entries:
                if (
                    int(e.get("status") or 0) == 1  # ADDED
                    and e.get("snapshot_id") == snap["snapshot-id"]
                ):
                    df_ = e["data_file"]
                    files.append(
                        {
                            "path": _localize(
                                table_path, df_["file_path"]
                            ),
                            "orig": df_["file_path"],
                            "partition": dict(
                                df_.get("partition") or {}
                            ),
                            "spec_id": m.get("partition_spec_id"),
                        }
                    )
    if not files:
        return spark.createDataFrame([], schema)
    return read_entries_with_deletes(spark, meta, schema, files, [], [])


def _delete_entry_key(ent: dict) -> tuple:
    """Identity of a delete entry across snapshots: file path + seq,
    plus the blob offset for Puffin DVs (one sidecar can carry many
    blobs)."""
    dv = ent.get("dv")
    return (ent["orig"], ent["seq"], dv["offset"] if dv else None)


def _pos_delete_referenced_paths(
    pos_entries: list[dict],
) -> set[str] | None:
    """The data-file paths a set of positional-delete entries can
    touch: DV entries name theirs in the manifest; delete-parquet
    entries are read driver-side from their (small) files' file_path
    column. Returns None when any file cannot be enumerated (caller
    falls back to all-files-conservative)."""
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow is baked in
        return None
    refs: set[str] = set()
    for ent in pos_entries:
        dv = ent.get("dv")
        if dv:
            refs.add(dv["referenced"])
            continue
        path = ent["path"]
        local = path[7:] if path.startswith("file://") else path
        try:
            col = pq.read_table(local, columns=["file_path"])
        except Exception:
            return None
        refs.update(str(v) for v in col.column(0).to_pylist())
    return refs


# changelog windows cut lineage (localCheckpoint) once this many
# unioned pieces accumulate — each snapshot contributes at most two
_CHANGELOG_CHECKPOINT_EVERY = 16


def _eq_delete_key_ranges(
    eq_entries: list[dict], cols: list[str]
) -> list[dict | None]:
    """Per equality-delete entry, the key range its parquet FOOTER
    stats prove it can touch: ``{col: (min, max) | None}`` (None =
    no provable bound for that column → full range). Footer-only
    reads, no Spark job. An unreadable footer yields ``None`` for the
    whole entry (conservative: touches everything). Parquet truncated
    binary stats remain valid bounds (min truncated down, max
    incremented up), so pruning against them never loses a match."""
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow is baked in
        return [None] * len(eq_entries)
    out: list[dict | None] = []
    for ent in eq_entries:
        path = ent["path"]
        local = path[7:] if path.startswith("file://") else path
        try:
            md = pq.read_metadata(local)
        except Exception:
            out.append(None)
            continue
        names = list(md.schema.names)
        ranges: dict = {}
        for c in cols:
            if c not in names:
                ranges[c] = None
                continue
            ci = names.index(c)
            lo = hi = None
            ok = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            ranges[c] = (lo, hi) if ok and lo is not None else None
        out.append(ranges)
    return out


def _prune_eq_candidates(
    meta: dict, survivors: list[dict], new_eq: list[dict]
) -> list[dict]:
    """The surviving prior data files a set of NEW equality-delete
    files can actually shrink: sequence-gated (a delete applies only
    when its seq > the data file's) and bounds-pruned — a data file
    whose Appendix-D bounds for the equality columns are provably
    disjoint from every new delete file's footer-stat key range
    cannot lose a row. Undecodable bounds on either side keep the
    file (conservative). This is what makes the changelog's
    equality-delete branch O(files the keys touch), not O(table)."""
    fields = {
        f["name"]: f for f in _current_schema(meta)["fields"]
    }
    by_id = {int(f["id"]): f["name"] for f in fields.values()}

    # group the new delete entries by equality column set; resolve
    # each set's footer key ranges once
    groups: dict[tuple, list[dict]] = {}
    for e in new_eq:
        groups.setdefault(tuple(sorted(e["equality_ids"])), []).append(e)
    ranged: list[tuple[list[str], list[dict], list[dict | None]]] = []
    for ids, ents in groups.items():
        try:
            cols = [by_id[i] for i in ids]
        except KeyError:
            # unknown equality field: cannot reason about bounds
            return list(survivors)
        ranged.append((cols, ents, _eq_delete_key_ranges(ents, cols)))

    def _kv(pairs, key):
        for p in pairs or []:
            if int(p["key"]) == key:
                return p["value"]
        return None

    def _file_bounds(d: dict, col: str):
        f = fields.get(col)
        if f is None or not isinstance(f["type"], str):
            return None
        blo = _kv(d.get("lower_bounds"), int(f["id"]))
        bhi = _kv(d.get("upper_bounds"), int(f["id"]))
        if blo is None or bhi is None:
            return None
        try:
            vlo = decode_bound(f["type"], blo)
            vhi = decode_bound(f["type"], bhi)
        except Exception:
            return None
        if vlo is None or vhi is None:
            return None
        return (vlo, vhi)

    kept: list[dict] = []
    for d in survivors:
        touched = False
        for cols, ents, rngs in ranged:
            for ent, rng in zip(ents, rngs):
                if ent["seq"] <= d["seq"]:
                    continue  # sequence-gated: cannot apply
                if rng is None:
                    touched = True
                    break
                overlap = True
                for c in cols:
                    kr = rng.get(c)
                    fb = _file_bounds(d, c)
                    if kr is None or fb is None:
                        continue  # no provable bound: may overlap
                    try:
                        if kr[0] > fb[1] or kr[1] < fb[0]:
                            overlap = False
                            break
                    except TypeError:
                        continue  # incomparable types: keep
                if overlap:
                    touched = True
                    break
            if touched:
                break
        if touched:
            kept.append(d)
    return kept


def _dseq_cols(entries: list[dict]) -> tuple:
    """``file_cols`` giving each row its data file's sequence
    ``__cl_dseq`` — the gate a changelog's new deletes compare with."""
    return "__cl_dseq long", {d["orig"]: (d["seq"],) for d in entries}


def _eq_deleted_rows(
    spark: SparkSession,
    meta: dict,
    schema,
    candidates: list[dict],
    prev_pos: list[dict],
    prev_eq: list[dict],
    new_eq: list[dict],
) -> DataFrame | None:
    """Rows the NEW equality-delete files erase, computed DIRECTLY: the
    prior-state before-image of the candidate files (prior deletes
    applied — already-deleted rows never re-report) semi-joined
    against the new delete files' key sets, sequence-gated
    (``eseq > dseq``). One scan of the candidate files per equality
    column set — no full-table before/after ``exceptAll``. With
    several column sets, each set consumes the rows the earlier sets
    did not match, so a row matching two sets reports once."""
    from pyspark.sql import functions as F

    if not candidates or not new_eq:
        return None
    before = read_entries_with_deletes(
        spark, meta, schema, candidates, prev_pos, prev_eq,
        file_cols=_dseq_cols(candidates),
    )
    return _eq_deleted_from_before(spark, meta, schema, before, new_eq)


def _eq_deleted_from_before(
    spark: SparkSession,
    meta: dict,
    schema,
    before: DataFrame,
    new_eq: list[dict],
) -> DataFrame:
    """The equality-delete semi-join core of :func:`_eq_deleted_rows`,
    over an already-built before-image carrying ``__cl_dseq`` (each
    row's data-file sequence) — reusable for rows whose before-image
    the positional branch already read."""
    from pyspark.sql import functions as F

    pieces: list[DataFrame] = []
    remaining = before
    items = _eq_delete_sets(spark, meta, schema, new_eq)
    for si, (cols, edel) in enumerate(items):
        cond = F.col("__eseq") > F.col("d.__cl_dseq")
        for c in cols:
            cond = cond & F.col(f"d.{c}").eqNullSafe(
                F.col(f"__eq_{c}")
            )
        pieces.append(
            remaining.alias("d").join(edel, cond, "left_semi")
        )
        if si + 1 < len(items):
            remaining = remaining.alias("d").join(
                edel, cond, "left_anti"
            )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out.select(*schema.fieldNames())


def read_iceberg_changes(
    spark: SparkSession,
    table_path: str,
    from_snapshot_id: int | None = None,
    to_snapshot_id: int | None = None,
) -> DataFrame:
    """Changelog scan — the row-level changes each snapshot after
    ``from_snapshot_id`` (exclusive; None = beginning of history) up
    to ``to_snapshot_id`` (inclusive; None = current) made to the
    table, as Iceberg's ``create_changelog_view`` emits them: the
    table columns plus ``_change_type`` (``INSERT`` / ``DELETE`` —
    an update appears as its DELETE pre-image + INSERT post-image),
    ``_change_ordinal`` (the snapshot's position in the window) and
    ``_commit_snapshot_id``. This is the Iceberg twin of Delta CDF
    (``read_delta_cdf``) computed the Iceberg way: there are no
    change files — changes derive from the MANIFEST DIFF between each
    snapshot and its predecessor, so only added/removed/delete-
    affected files are ever read:

    - ``append`` snapshots read just their added data files (with any
      same-snapshot deletes applied) as INSERTs.
    - ``delete`` snapshots (merge-on-read DML) evaluate only the NEW
      delete files against the prior state — positional/DV deletes
      prune to their referenced data files; equality deletes
      sequence-gate + bounds-prune candidate files against the delete
      files' footer key ranges and semi-join the keys directly (no
      full-table before/after); already-deleted rows never re-report
      (the before-image applies the prior deletes).
    - ``overwrite`` / ``rollback`` snapshots NET the two sides
      (``exceptAll`` both ways), so a copy-on-write rewrite that
      carries 990 of 1000 rows unchanged reports only the 10 real
      updates — carried rows cancel, matching the changelog
      procedure's update carve-out.
    - ``replace`` (compaction) snapshots are physical rewrites with
      no logical change and emit nothing.

    At 100 TB the manifest diff is the point: changelog IO is
    O(changed files per snapshot), never O(table)."""
    from pyspark.sql import functions as F

    meta = load_table_metadata(table_path)
    schema = iceberg_spark_schema(meta)
    snaps = meta.get("snapshots") or []
    ids = [s["snapshot-id"] for s in snaps]
    if to_snapshot_id is None:
        to_snapshot_id = meta.get("current-snapshot-id")
    if to_snapshot_id not in ids:
        raise ValueError(
            f"iceberg: snapshot {to_snapshot_id} not in table metadata"
        )
    # history = the main-ancestry chain ending at `to`, NOT list
    # order: snapshots staged on unpublished WAP branches live in the
    # list but are not changes until published
    chain = iceberg_main_chain(meta, to_snapshot_id)
    cids = [s["snapshot-id"] for s in chain]
    start = 0
    if from_snapshot_id is not None:
        if from_snapshot_id not in cids:
            if from_snapshot_id in ids:
                raise ValueError(
                    f"iceberg: snapshot {from_snapshot_id} is not an "
                    f"ancestor of {to_snapshot_id} — no linear "
                    "changelog window between them"
                )
            raise ValueError(
                f"iceberg: snapshot {from_snapshot_id} not in table "
                "metadata"
            )
        start = cids.index(from_snapshot_id) + 1
    window = chain[start:]

    def _tag(df: DataFrame, change: str, ordinal: int, sid: int):
        return df.select(
            *schema.fieldNames(),
            F.lit(change).alias("_change_type"),
            F.lit(ordinal).cast("int").alias("_change_ordinal"),
            F.lit(sid).cast("long").alias("_commit_snapshot_id"),
        )

    pieces: list[DataFrame] = []
    prev_id = cids[start - 1] if start > 0 else None
    prev_state = (
        _snapshot_entries(table_path, meta, prev_id)
        if prev_id is not None
        else ([], [], [])
    )
    for ordinal, snap in enumerate(window):
        s_id = snap["snapshot-id"]
        op = (snap.get("summary") or {}).get("operation", "append")
        cur_state = _snapshot_entries(table_path, meta, s_id)
        if op == "replace":
            # compaction: a physical rewrite, zero logical change
            prev_state = cur_state
            continue
        if op not in ("append", "delete", "overwrite", "rollback"):
            raise NotImplementedError(
                f"iceberg changelog: snapshot {s_id} operation "
                f"{op!r} is beyond this reader"
            )
        prev_d, prev_p, prev_e = prev_state
        cur_d, cur_p, cur_e = cur_state
        prev_orig = {e["orig"] for e in prev_d}
        cur_orig = {e["orig"] for e in cur_d}
        added_data = [e for e in cur_d if e["orig"] not in prev_orig]
        removed_data = [e for e in prev_d if e["orig"] not in cur_orig]
        prev_dkeys = {_delete_entry_key(e) for e in prev_p + prev_e}
        new_pos = [
            e for e in cur_p if _delete_entry_key(e) not in prev_dkeys
        ]
        new_eq = [
            e for e in cur_e if _delete_entry_key(e) not in prev_dkeys
        ]

        ins = (
            read_entries_with_deletes(
                spark, meta, schema, added_data, cur_p, cur_e
            )
            if added_data
            else None
        )

        # the files whose VISIBLE rows can have shrunk: removed files,
        # plus surviving files a new positional delete references
        # (equality deletes are evaluated DIRECTLY below — never via a
        # full-table before/after)
        # surviving files a new positional/DV delete references: their
        # erased rows are identified DIRECTLY by (path, pos) — one
        # read of the prior state semi-joined against the new delete
        # rows, never a before/after exceptAll (which read the same
        # files twice and paid two whole-row aggregation shuffles)
        pos_hit: list[dict] = []
        if new_pos:
            refs = _pos_delete_referenced_paths(new_pos)
            if refs is None:
                pos_hit = [
                    e for e in prev_d if e["orig"] in cur_orig
                ]
            else:
                pos_hit = [
                    e
                    for e in prev_d
                    if e["orig"] in cur_orig and e["orig"] in refs
                ]
        dels = None
        if removed_data:
            # files the snapshot removed outright: every visible prior
            # row is a delete pre-image (overwrite netting below
            # cancels the carried ones against the added files)
            dels = read_entries_with_deletes(
                spark, meta, schema, removed_data, prev_p, prev_e
            )
        rem_before = None  # pos-hit rows that survived the new deletes
        if pos_hit:
            before = read_entries_with_deletes(
                spark, meta, schema, pos_hit, prev_p, prev_e,
                file_cols=_dseq_cols(pos_hit),
                position_cols=("__cl_path", "__cl_pos"),
            )
            pos_rows = _pos_delete_rows_df(spark, new_pos)
            cond = (
                (F.col("d.__cl_path") == F.col("x.file_path"))
                & (F.col("d.__cl_pos") == F.col("x.pos"))
                & (F.col("x.__pseq") >= F.col("d.__cl_dseq"))
            )
            hit_rows = before.alias("d").join(
                pos_rows.alias("x"), cond, "left_semi"
            )
            hit_rows = hit_rows.select(*schema.fieldNames())
            dels = (
                hit_rows
                if dels is None
                else dels.unionByName(hit_rows)
            )
            if new_eq:
                # rows the pos deletes did NOT erase are still
                # equality-delete candidates (their before-image is
                # already in hand — no second read)
                rem_before = (
                    before.alias("d")
                    .join(pos_rows.alias("x"), cond, "left_anti")
                    .drop("__cl_path", "__cl_pos")
                )
        if new_eq:
            # new equality deletes: evaluate the keys directly against
            # the prior state — candidate files are sequence-gated and
            # bounds-pruned against the delete files' footer key
            # ranges, then a seq-gated semi-join emits the erased
            # rows. IO stays O(files the keys touch), never O(table).
            # Files in `pos_hit` are covered via rem_before above.
            pos_hit_orig = {e["orig"] for e in pos_hit}
            survivors = [
                e
                for e in prev_d
                if e["orig"] in cur_orig
                and e["orig"] not in pos_hit_orig
            ]
            cand = _prune_eq_candidates(meta, survivors, new_eq)
            eq_dels = _eq_deleted_rows(
                spark, meta, schema, cand, prev_p, prev_e, new_eq
            )
            if rem_before is not None:
                eq_rem = _eq_deleted_from_before(
                    spark, meta, schema, rem_before, new_eq
                )
                eq_dels = (
                    eq_rem
                    if eq_dels is None
                    else eq_dels.unionByName(eq_rem)
                )
            if eq_dels is not None:
                dels = (
                    eq_dels
                    if dels is None
                    else dels.unionByName(eq_dels)
                )

        if op in ("overwrite", "rollback") and ins is not None \
                and dels is not None:
            # net the rewrite: rows a copy-on-write carried over
            # appear on both sides and cancel; real updates survive
            # as DELETE pre-image + INSERT post-image. Computed as ONE
            # signed-count aggregation rather than exceptAll both ways:
            # Catalyst rewrites each exceptAll to union+aggregate+
            # generate, so the pair evaluated the ins and dels subtrees
            # (full file reads + delete anti-joins) TWICE each; the
            # fused form reads each side once and one hash aggregate
            # yields both directions (net>0 = surviving INSERT copies,
            # net<0 = surviving DELETE copies — exactly the multiset
            # differences exceptAll defines).
            cols = schema.fieldNames()
            u = ins.select(
                *cols, F.lit(1).alias("__sgn")
            ).unionByName(
                dels.select(*cols, F.lit(-1).alias("__sgn"))
            )
            net = (
                u.groupBy(*cols)
                .agg(F.sum("__sgn").alias("__net"))
                .filter(F.col("__net") != 0)
            )
            pieces.append(
                net.select(
                    *cols,
                    F.when(F.col("__net") > 0, F.lit("INSERT"))
                    .otherwise(F.lit("DELETE"))
                    .alias("_change_type"),
                    F.lit(ordinal).cast("int").alias("_change_ordinal"),
                    F.lit(s_id).cast("long").alias(
                        "_commit_snapshot_id"
                    ),
                    F.explode(
                        F.array_repeat(
                            F.lit(1),
                            F.abs(F.col("__net")).cast("int"),
                        )
                    ).alias("__rep"),
                ).drop("__rep")
            )
            ins = dels = None
        if ins is not None:
            pieces.append(_tag(ins, "INSERT", ordinal, s_id))
        if dels is not None:
            pieces.append(_tag(dels, "DELETE", ordinal, s_id))
        # bound plan growth: a long-history window otherwise builds one
        # giant union/exceptAll chain whose analysis cost is linear in
        # snapshot count — cut lineage every K pieces so a
        # thousand-commit table stays plannable
        if len(pieces) >= _CHANGELOG_CHECKPOINT_EVERY:
            merged = pieces[0]
            for p in pieces[1:]:
                merged = merged.unionByName(p)
            pieces = [merged.localCheckpoint(eager=False)]
        prev_state = cur_state
        prev_id = s_id

    if not pieces:
        empty = spark.createDataFrame([], schema)
        return _tag(empty, "INSERT", 0, 0).limit(0)
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def make_lineage_inherited(table_path: str) -> None:
    """FIXTURE TRANSFORMER: rewrite a row-lineage table this module's
    writer produced into the INHERITANCE-RELIANT layout foreign v3
    writers (iceberg-java) produce — data-file entries carry NULL
    ``first_row_id``, and each snapshot's manifest list carries an
    EXPLICIT (preserved) ``first_row_id`` for manifests added by
    earlier snapshots and NULL plus ``added_rows_count`` /
    ``existing_rows_count`` for the manifests that snapshot added.
    Reading the result exercises the spec's first_row_id inheritance
    rule (Iceberg spec v3, Row Lineage) end-to-end; the derived ids
    must equal the pre-transformation explicit ones."""
    meta = load_table_metadata(table_path)
    if meta.get("next-row-id") is None:
        raise ValueError(
            "make_lineage_inherited: not a row-lineage table "
            "(no next-row-id)"
        )
    mls = [
        (s, _localize(table_path, s["manifest-list"]))
        for s in meta.get("snapshots") or []
        if s.get("manifest-list")
    ]
    # pass 1: record each data manifest's ASSIGNED first_row_id (the
    # min of its explicit entry values — this writer assigns them
    # contiguously in entry order) and its added-row total, then null
    # the entries so readers must re-derive by inheritance.
    assigned: dict[str, int] = {}
    added_rows: dict[str, int] = {}
    seen: set[str] = set()
    for _s, ml_path in mls:
        _, manifests = read_container(ml_path)
        for m in manifests:
            mp = m["manifest_path"]
            if int(m.get("content") or 0) != 0 or mp in seen:
                continue
            seen.add(mp)
            local = _localize(table_path, mp)
            schema, entries = read_container(local)
            firsts, rows = [], 0
            for e in entries:
                if int(e.get("status") or 0) == _STATUS_DELETED:
                    continue
                df_ = e["data_file"]
                if int(df_.get("content") or 0) != 0:
                    continue
                rows += int(df_.get("record_count") or 0)
                if df_.get("first_row_id") is not None:
                    firsts.append(int(df_["first_row_id"]))
                df_["first_row_id"] = None
            if not firsts:
                continue
            assigned[mp] = min(firsts)
            added_rows[mp] = rows
            write_container(local, schema, entries)
    # pass 2: manifest lists — a manifest the snapshot itself added
    # goes NULL (readers inherit from the snapshot's first-row-id),
    # a prior manifest keeps its assigned value explicitly (the
    # spec's preservation rule for rewritten manifest lists).
    for s, ml_path in mls:
        schema, manifests = read_container(ml_path)
        names = {f["name"] for f in schema["fields"]}
        for nm, fid in (
            ("added_rows_count", 512),
            ("existing_rows_count", 513),
            ("first_row_id", 520),
        ):
            if nm not in names:
                schema["fields"].append(
                    {"name": nm, "type": ["null", "long"],
                     "default": None, "field-id": fid}
                )
        for m in manifests:
            mp = m["manifest_path"]
            m.setdefault("added_rows_count", None)
            m.setdefault("existing_rows_count", None)
            m.setdefault("first_row_id", None)
            if int(m.get("content") or 0) != 0 or mp not in assigned:
                continue
            if m.get("added_snapshot_id") == s["snapshot-id"]:
                m["first_row_id"] = None
                m["added_rows_count"] = added_rows[mp]
                m["existing_rows_count"] = 0
            else:
                m["first_row_id"] = assigned[mp]
        write_container(ml_path, schema, manifests)


def _spark_type_to_iceberg(dt: T.DataType) -> str:
    m = {
        T.BooleanType(): "boolean",
        T.IntegerType(): "int",
        T.LongType(): "long",
        T.FloatType(): "float",
        T.DoubleType(): "double",
        T.DateType(): "date",
        T.StringType(): "string",
        T.BinaryType(): "binary",
        T.TimestampType(): "timestamptz",
        T.TimestampNTZType(): "timestamp",
    }
    if dt in m:
        return m[dt]
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    raise NotImplementedError(f"iceberg fixture writer: type {dt}")


def _chain_authoritative(meta: dict) -> bool:
    """True when EVERY snapshot except the list head carries a
    ``parent-snapshot-id`` — then the parent walk is the table's real
    history and list order is just storage. Legacy tables written
    before parent stamping (their merge/DML snapshots carry no
    pointer) are NOT authoritative: for them list order remains
    history and the WAP discipline stays single-flight.

    Tables CREATED by this writer carry ``optimus.parent-stamped``
    in their properties and are authoritative by construction — the
    structural heuristic below cannot tell a legitimate second
    genesis (the first MAIN commit after a branch-first bootstrap,
    which per spec has no parent) from a legacy unstamped snapshot,
    and would demote such a table to list-order history, leaking the
    unpublished branch into changelog/stream windows."""
    props = meta.get("properties") or {}
    if str(props.get("optimus.parent-stamped", "")).lower() == "true":
        return True
    snaps = meta.get("snapshots") or []
    return all(
        s.get("parent-snapshot-id") is not None for s in snaps[1:]
    )


def iceberg_main_chain(
    meta: dict, head: int | None = None
) -> list[dict]:
    """The snapshots that ARE history up to ``head`` (default: the
    main head), oldest→newest. On an authoritative table this is the
    ``parent-snapshot-id`` ancestor walk — snapshots staged on
    unpublished WAP branches (or orphaned by a dropped branch) are in
    the LIST but not on the chain, and every changelog/stream/appends
    window must skip them. The walk ends at the genesis or at a
    parent expired out of the metadata (history before that point is
    gone — same contract as snapshot expiration). Legacy tables fall
    back to the list prefix ending at ``head``, which under their
    single-flight discipline is identical."""
    snaps = meta.get("snapshots") or []
    if head is None:
        head = meta.get("current-snapshot-id")
    if head is None or head == -1 or not snaps:
        return []
    by_id = {s["snapshot-id"]: s for s in snaps}
    if head not in by_id:
        raise ValueError(
            f"iceberg: snapshot {head} not in table metadata"
        )
    if not _chain_authoritative(meta):
        ids = [s["snapshot-id"] for s in snaps]
        return snaps[: ids.index(head) + 1]
    chain: list[dict] = []
    sid, seen = head, set()
    while sid is not None and sid in by_id and sid not in seen:
        seen.add(sid)
        chain.append(by_id[sid])
        sid = by_id[sid].get("parent-snapshot-id")
    return list(reversed(chain))


def _refuse_unpublished_branches(
    meta: dict | None, allow: str | None = None
) -> None:
    """WAP staging discipline. On an AUTHORITATIVE table (every
    snapshot parent-stamped) this is a no-op: readers window by the
    main-ancestry chain, so any number of branches can stage
    concurrently and main can advance while they do — nothing
    unpublished ever reaches a stream. On a LEGACY table (pre-stamp
    merge snapshots, where list order is history) the single-flight
    rule stands: while a branch ref points at commits main has not
    published, a main-advancing write or a second branch would leak
    into stream history. ``allow`` names the one branch being written
    or published. Refuse by name; publish_iceberg_branch (or
    drop_iceberg_ref) clears it."""
    if not meta:
        return
    if _chain_authoritative(meta):
        return
    refs = meta.get("refs") or {}
    cur = meta.get("current-snapshot-id")
    ids = [s["snapshot-id"] for s in meta.get("snapshots") or []]
    cpos = ids.index(cur) if cur in ids else -1
    for name, r in refs.items():
        if name == "main" or (r.get("type") or "branch") != "branch":
            continue
        if allow is not None and name == allow:
            continue
        sid = r.get("snapshot-id")
        if sid in ids and ids.index(sid) > cpos:
            raise ValueError(
                f"iceberg: branch {name!r} has unpublished commits — "
                "publish_iceberg_branch (or drop_iceberg_ref) before "
                "writing to main or another branch"
            )


def _apply_write_defaults(df: DataFrame, prev: dict) -> DataFrame:
    """v3 ``write-default``: a df omitting a defaulted column appends
    with the default MATERIALIZED (the spec's writer contract — the
    new files physically contain the value, so readers never confuse
    it with ``initial-default``, which fills only pre-evolution
    files). Columns the df does supply pass through untouched."""
    from pyspark.sql import functions as F

    cur = _current_schema(prev)
    missing = [
        f
        for f in cur["fields"]
        if f.get("write-default") is not None
        and f["name"] not in df.columns
    ]
    if not missing:
        return df
    for f in missing:
        v = _default_value_of(f["type"], f["write-default"])
        df = df.withColumn(
            f["name"],
            F.lit(v).cast(_iceberg_type_to_spark(f["type"])),
        )
    order = [
        f["name"] for f in cur["fields"] if f["name"] in df.columns
    ]
    extras = [c for c in df.columns if c not in order]
    return df.select(*order, *extras)


def add_iceberg_column_with_default(
    table_path: str,
    column: str,
    initial_default=None,
    write_default=None,
) -> int:
    """v3 schema evolution — ADD COLUMN with default values: appends
    the ``"name type"`` column to the current schema carrying
    ``initial-default`` (the value readers project for every
    pre-evolution row — their files lack the column) and
    ``write-default`` (the value writers materialize when an append
    omits the column). Pure metadata commit: a new schema (fresh
    schema-id, fresh field id past last-column-id), format-version
    floored at 3, zero data IO. Defaults serialize per the spec's
    JSON single-value rules (date → ISO string, decimal → string) and
    must round-trip through the reader's parser — unsupported types
    refuse by name, never half-apply."""
    import datetime as _dt
    import decimal as _dec

    toks = column.strip().split(None, 1)
    if len(toks) != 2:
        raise ValueError(
            f"iceberg add column: {column!r} is not 'name type'"
        )
    name, ice_t = toks[0], toks[1].strip()
    prev_version, meta = open_iceberg_table(table_path)
    if meta is None:
        raise ValueError(f"iceberg add column: no table at {table_path}")
    cur = _current_schema(meta)
    if any(f["name"] == name for f in cur["fields"]):
        raise ValueError(
            f"iceberg add column: {name!r} already in the schema"
        )

    def _ser(v):
        if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
            return v.isoformat()
        if isinstance(v, _dec.Decimal):
            return str(v)
        return v

    field = {
        "id": int(meta.get("last-column-id") or len(cur["fields"])) + 1,
        "name": name,
        "required": False,
        "type": ice_t,
    }
    for key, v in (
        ("initial-default", initial_default),
        ("write-default", write_default),
    ):
        if v is not None:
            sv = _ser(v)
            _default_value_of(ice_t, sv)  # refuse-by-name gate
            field[key] = sv
    schemas = list(meta.get("schemas") or [cur])
    new_sid = max(
        [int(s.get("schema-id") or 0) for s in schemas], default=0
    ) + 1
    new_schema = {
        "type": "struct",
        "schema-id": new_sid,
        "fields": list(cur["fields"]) + [field],
    }
    meta = dict(meta)
    meta["schemas"] = schemas + [new_schema]
    meta["current-schema-id"] = new_sid
    meta["schema"] = new_schema
    meta["last-column-id"] = field["id"]
    meta["format-version"] = max(3, int(meta.get("format-version", 1)))
    return publish_iceberg_metadata(table_path, prev_version + 1, meta)


def add_iceberg_files(
    spark: SparkSession,
    table_path: str,
    files: list[str],
    partition_schema: list[str] | None = None,
) -> int:
    """Spark's ``add_files`` procedure — register EXISTING parquet
    files into an Iceberg table as one append snapshot: absolute-path
    manifest entries with footer-read record counts, zero data
    movement and zero Spark jobs. This is the migration story at
    scale: a 100 TB parquet lake enters the table as driver-side
    metadata work. The files' schema must match the table's by name
    AND type (the append guard); a fresh table bootstraps its schema
    from the files. Row lineage composes (the registered rows take
    fresh ids from next-row-id).

    PARTITIONED hive layouts (``dt=2026-01-01/part-*.parquet``)
    register too: identity partition values derive from each file's
    ``src=value`` path segments (percent-decoded,
    ``__HIVE_DEFAULT_PARTITION__`` → null) and land as
    partition-tupled manifest entries under the table's spec — the
    reader's identity-constant projection then serves the column from
    the manifest, since hive files don't physically contain it.
    ``partition_schema=['"dt string"', ...]``-style ``"name type"``
    items declare the spec when bootstrapping a FRESH table (an
    existing table's default spec governs; non-identity transforms
    refuse by name — a hive path can't encode them).

    Spark's partitioned writes reuse one task's file name across
    partition directories, so hive layouts routinely repeat
    basenames — and this engine's per-file write stats key files by
    basename. Same-call collisions de-collide IN PLACE exactly like
    ``convert_parquet_to_delta``: an ``os.rename`` inside the same
    directory is metadata-only (still zero data copy), prefixing a
    short hash of the directory. Cross-call collisions (a copied
    export re-registered from elsewhere) still refuse — those are a
    genuine identity ambiguity, not a naming artifact."""
    if not files:
        raise ValueError("iceberg add_files: no files given")
    paths = [os.path.abspath(f) for f in files]
    n_by_bn: dict[str, int] = {}
    for p in paths:
        bn = os.path.basename(p)
        n_by_bn[bn] = n_by_bn.get(bn, 0) + 1
    renamed: list[tuple[str, str]] = []  # (new, original)
    # anything past this point can fail (a rename itself, schema
    # mismatch, cross-call basename collision, unparseable hive path
    # value) — a failed call must leave the SOURCE lake untouched, so
    # every performed rename reverts before the error propagates
    try:
        if any(c > 1 for c in n_by_bn.values()):
            decollided = []
            for p in paths:
                bn = os.path.basename(p)
                if n_by_bn[bn] > 1:
                    tok = uuid.uuid5(
                        uuid.NAMESPACE_URL, os.path.dirname(p)
                    ).hex[:8]
                    np = os.path.join(
                        os.path.dirname(p), f"{tok}-{bn}"
                    )
                    os.rename(p, np)
                    renamed.append((np, p))
                    decollided.append(np)
                else:
                    decollided.append(p)
            paths = decollided
        from optimus_any2any_spark.streaming.iceberg_table import (
            write_iceberg_commit,
        )

        df = spark.read.parquet(*paths)
        return write_iceberg_commit(
            df,
            table_path,
            add_files=paths,
            add_partition_schema=partition_schema,
        )
    except BaseException:
        for np, orig in renamed:
            if os.path.exists(np) and not os.path.exists(orig):
                os.rename(np, orig)
        raise
