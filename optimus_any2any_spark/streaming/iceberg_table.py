"""Every Apache Iceberg writer — APPEND (the ICEBERG sink's default
mode), file-level MERGE upsert, predicate DML, row-level deletes and
maintenance — committing Iceberg snapshots.

The Iceberg adapter of the engine's copy-on-write MERGE core
(``streaming/merge_core.py``, shared with the Delta log and the
JSON-manifest table): each merge appends an Iceberg
snapshot in the v1 HadoopCatalog layout (iceberg.apache.org/spec) —
read by :mod:`optimus_any2any_spark.sources.iceberg` and by any real
Iceberg client that can open v1 tables. The reference engine has no
MERGE (warehouse sink is APPEND/REPLACE only, ext/maxcompute/
sink.go:171); SURVEY.md §7.

Iceberg mapping of the shared algorithm:

=========================  ====================================
affected-file pruning      per-entry ``lower_bounds`` /
                           ``upper_bounds`` on the merge key —
                           the spec's field-id-keyed bounds maps
                           in single-value serialization
                           (Appendix D: int/long/double LE bytes,
                           string UTF-8)
untouched file carry-over  TWO granularities: a prior manifest
                           with no affected files carries over
                           VERBATIM in the new manifest list
                           (zero IO); a touched manifest is
                           rewritten with surviving entries as
                           ``status=EXISTING`` still pointing at
                           the same data files
superseded file            dropped from the rewritten manifest
                           (older snapshots still reference it —
                           that is what makes time travel work)
idempotence                ``optimus-app-id``/``optimus-batch-id``
                           in the snapshot summary (Iceberg's
                           summary is the spec's home for writer
                           metadata)
publish                    one tail for every writer that adds
                           files (APPEND, MERGE, DML, deletes,
                           compaction): parts → entries →
                           manifests → commit. Staged parts get
                           writer-unique ``data/`` names through
                           the data seam shared with Delta
                           (``merge_core.set_data_store``);
                           entries carry footer stats, partition
                           tuples and ``first_row_id``
commit                     ``publish_iceberg_metadata``: new
                           ``v<N>.metadata.json`` put-if-absent
                           (the log store shared with Delta),
                           then ``version-hint.text``
=========================  ====================================

At 100 TB the two-level carry-over is the point: merge IO is
O(affected data files) and merge *metadata* IO is O(affected
manifests), which is how Iceberg keeps planning cheap on million-file
tables. One writer per table path at a time: every staged and
published name carries a random per-commit token, so a second writer
that opened the same version fails loudly at the publish
(``IOError``) having overwritten nothing the winner committed.
"""

from __future__ import annotations

from optimus_any2any_spark.localrel import local_rows_df

import glob as _glob
import json
import os
import shutil
import struct
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from optimus_any2any_spark.formats.avrobin import (
    read_container,
    write_container,
)
from optimus_any2any_spark.formats.footer_stats import (
    footer_file_stats,
    kind_of_iceberg_type,
    norm_float_zero,
)
from optimus_any2any_spark.sources import iceberg as _ice
from optimus_any2any_spark.sources.iceberg import (
    _apply_write_defaults,
    _classify_entry,
    _current_schema,
    _localize,
    _meta_dir,
    _refuse_unpublished_branches,
    _snapshot_entries,
    _spark_type_to_iceberg,
    advance_main_ref,
    append_snapshot_log,
    commit_iceberg_snapshot,
    decode_bound,
    encode_bound,
    iceberg_spark_schema,
    publish_iceberg_metadata,
    snapshot_timestamp_ms,
)
from optimus_any2any_spark.streaming import merge_core
from optimus_any2any_spark.streaming.merge_core import (
    _MAX_DRIVER_KEYS,
    _affected,
    clause_predicates,
    combine_key_stats,
    conditional_merge,
    empty_key_stats,
    group_key_stats,
    local_parts,
    merge_rows,
    pid_space,
    pid_table,
    reduce_batch,
    sorted_keys,
    with_pid,
    write_merged,
)

# One positional-delete file per commit is the normal erasure shape;
# past this many deleted positions the writer range-splits into one
# spec-sorted file per file_path range so no single task funnels a
# mass delete (the spec allows many delete files per commit).
_MAX_DELETE_FILE_ROWS = 5_000_000

DEFAULT_APP_ID = "optimus-any2any-merge"

_ST_EXISTING, _ST_ADDED, _ST_DELETED = 0, 1, 2

# manifest-entry schema with the spec's bounds maps (Avro encodes
# Iceberg's map<int, bytes> as an array of key/value records)
_BOUNDS = [
    "null",
    {
        "type": "array",
        "items": {
            "type": "record",
            "name": "kv",
            "fields": [
                {"name": "key", "type": "int"},
                {"name": "value", "type": "bytes"},
            ],
        },
    },
]

MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"],
         "default": None, "field-id": 1},
        # v2: an entry's own data-sequence number. Survivor entries
        # re-listed under a NEW manifest must carry their ORIGINAL
        # sequence explicitly — inheriting the new manifest's would
        # let them escape still-applicable delete files.
        {"name": "sequence_number", "type": ["null", "long"],
         "default": None, "field-id": 3},
        {
            "name": "data_file",
            "field-id": 2,
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "file_path", "type": "string",
                     "field-id": 100},
                    {"name": "file_format", "type": "string",
                     "field-id": 101},
                    {"name": "partition",
                     "type": {"type": "record", "name": "r102",
                              "fields": []},
                     "field-id": 102},
                    {"name": "record_count", "type": "long",
                     "field-id": 103},
                    {"name": "file_size_in_bytes", "type": "long",
                     "field-id": 104},
                    {"name": "null_value_counts", "type": _BOUNDS,
                     "default": None, "field-id": 110},
                    {"name": "lower_bounds", "type": _BOUNDS,
                     "default": None, "field-id": 125},
                    {"name": "upper_bounds", "type": _BOUNDS,
                     "default": None, "field-id": 128},
                    # the sort order the file was written under
                    # (spec data_file field 140)
                    {"name": "sort_order_id", "type": ["null", "int"],
                     "default": None, "field-id": 140},
                    # v3 row lineage (spec data_file field 142)
                    {"name": "first_row_id", "type": ["null", "long"],
                     "default": None, "field-id": 142},
                ],
            },
        },
    ],
}

MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517, "default": 0},
        {"name": "added_snapshot_id", "type": ["null", "long"],
         "default": None, "field-id": 503},
        # v2: data-sequence number inherited by the manifest's entries
        # (a merge's new files must outrank earlier equality deletes)
        {"name": "sequence_number", "type": ["null", "long"],
         "default": None, "field-id": 515},
        # v3 row lineage: the starting _row_id for rows added by this
        # manifest's ADDED files (null = inherit from the snapshot);
        # the row counts drive the manifest-level inheritance walk
        # (_preserve_manifest_lineage)
        {"name": "added_rows_count", "type": ["null", "long"],
         "default": None, "field-id": 512},
        {"name": "existing_rows_count", "type": ["null", "long"],
         "default": None, "field-id": 513},
        {"name": "first_row_id", "type": ["null", "long"],
         "default": None, "field-id": 520},
    ],
}


# delete-manifest entries (v2): data_file carries content (1 =
# position deletes, 2 = equality deletes) and equality_ids
DELETE_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"],
         "default": None, "field-id": 1},
        {
            "name": "data_file",
            "field-id": 2,
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int", "field-id": 134},
                    {"name": "file_path", "type": "string",
                     "field-id": 100},
                    {"name": "file_format", "type": "string",
                     "field-id": 101},
                    {"name": "partition",
                     "type": {"type": "record", "name": "r102",
                              "fields": []},
                     "field-id": 102},
                    {"name": "record_count", "type": "long",
                     "field-id": 103},
                    {"name": "file_size_in_bytes", "type": "long",
                     "field-id": 104},
                    {"name": "equality_ids",
                     "type": ["null",
                              {"type": "array", "items": "int"}],
                     "default": None, "field-id": 135},
                    # v3 deletion-vector reference (null on v2
                    # delete-parquet entries)
                    {"name": "referenced_data_file",
                     "type": ["null", "string"],
                     "default": None, "field-id": 143},
                    {"name": "content_offset",
                     "type": ["null", "long"],
                     "default": None, "field-id": 144},
                    {"name": "content_size_in_bytes",
                     "type": ["null", "long"],
                     "default": None, "field-id": 145},
                ],
            },
        },
    ],
}


# identity-partition tuple values ride in the manifest entry's
# ``partition`` record (spec: one field per partition field); only
# these primitive types are supported as partition sources
_AVRO_PRIM = {
    "int": "int",
    "long": "long",
    "string": "string",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
}


# logical types an identity partition may also take (their Avro
# physical forms: date → int days, timestamps → long micros)
_IDENTITY_LOGICAL = ("date", "timestamp", "timestamptz")


def _identity_type(t) -> bool:
    """Whether an identity partition field may have source type ``t``."""
    return isinstance(t, str) and (t in _AVRO_PRIM or t in _IDENTITY_LOGICAL)


def manifest_entry_schema(part_fields: list[tuple[str, str]]) -> dict:
    """MANIFEST_ENTRY_SCHEMA with the partition record populated for an
    identity-partitioned table — ``part_fields`` is [(name, iceberg
    primitive type)] in spec order."""
    import copy

    if not part_fields:
        return MANIFEST_ENTRY_SCHEMA
    sch = copy.deepcopy(MANIFEST_ENTRY_SCHEMA)
    data_file = next(
        f for f in sch["fields"] if f["name"] == "data_file"
    )
    part = next(
        f for f in data_file["type"]["fields"] if f["name"] == "partition"
    )
    part["type"]["fields"] = [
        {
            "name": n,
            "type": ["null", _AVRO_PRIM[t]],
            "default": None,
            "field-id": 1000 + i,
        }
        for i, (n, t) in enumerate(part_fields)
    ]
    return sch


# ---------------------------------------------------------------------------
# The publish tail every Iceberg writer that adds files ends in — one
# place decides how an Iceberg file is named, published, measured and
# listed:
#   parts   — the files a write left in its staging dir get writer-unique
#             ``data/{stem}-{seq:04d}-{tag}`` names and go through the
#             data store (``merge_core.set_data_store``, shared with
#             Delta);
#   entries — per-file stats from the footers (one grouped aggregate as
#             the fallback), rowless parts dropped, one ADDED entry per
#             file with its partition tuple, bounds, null counts and
#             ``first_row_id``;
#   commit  — the new manifests, the manifest list over the base
#             snapshot's manifests, the snapshot, and
#             ``commit_iceberg_snapshot``.


def _commit_seq(meta: dict, version: int) -> int:
    """The data-sequence number the commit at ``version`` stamps: one
    past both the table's ``last-sequence-number`` and the previous
    version."""
    return max(int(meta.get("last-sequence-number", 0)), version - 1) + 1


def _staging(table_path: str, tag: str, stem: str) -> str:
    """A writer-unique local staging dir under the table root."""
    os.makedirs(os.path.join(table_path, "data"), exist_ok=True)
    return os.path.join(table_path, f"_tmp-{tag}-{stem}")


def _publish_parts(
    table_path: str,
    tmp: str,
    parts: list[tuple[str, int]],
    stem: str,
    tag: str,
    part_names: list[str] = (),
    ptuples: list[tuple] = ((),),
) -> list[tuple[str, dict]]:
    """Publish each staged ``(part, pid)`` as
    ``data/{stem}-{seq:04d}-{tag}.{parquet|puffin}`` through the data
    store, then remove the staging dir ``tmp``; returns ``(rel,
    partition record)`` per part, the record built from
    ``ptuples[pid]``."""
    files = []
    for seq, (part, pid) in enumerate(parts):
        rel = f"data/{stem}-{seq:04d}-{tag}{os.path.splitext(part)[1]}"
        merge_core._put_data(part, os.path.join(table_path, rel))
        files.append((rel, dict(zip(part_names, ptuples[pid]))))
    shutil.rmtree(tmp)
    return files


def _file_stats(
    spark: SparkSession,
    paths: list[str],
    stat_fields: list[tuple[str, int, str]],
) -> dict[str, dict]:
    """Per-basename ``{"rows", "cols": {name: (min, max, nulls)}}`` over
    just-written files for the stat columns ``[(name, field id, iceberg
    type)]``. Fast path reads parquet FOOTER statistics driver-side
    (zero data I/O; exactness contract in ``formats/footer_stats.py``);
    the fallback is ONE grouped Spark aggregate over all files.
    Zero-row files are absent from the result either way."""
    names = [n for n, _f, _t in stat_fields]
    ft = footer_file_stats(
        paths,
        names,
        {n: kind_of_iceberg_type(t) for n, _f, t in stat_fields},
        session_tz=spark.conf.get("spark.sql.session.timeZone", "UTC"),
    )
    if ft is not None:
        return {
            bn: {
                "rows": s["rows"],
                "cols": {
                    n: (s["min"].get(n), s["max"].get(n),
                        s["nulls"].get(n, 0))
                    for n in names
                },
            }
            for bn, s in ft.items()
        }
    aggs = [F.count(F.lit(1)).alias("rows")]
    for n in names:
        aggs += [
            F.min(n).alias(f"__mn_{n}"),
            F.max(n).alias(f"__mx_{n}"),
            F.sum(F.col(n).isNull().cast("long")).alias(f"__nn_{n}"),
        ]
    rows = (
        spark.read.parquet(*paths)
        .select(*names, F.input_file_name().alias("__f"))
        .groupBy("__f")
        .agg(*aggs)
        .collect()
    )
    return {
        r["__f"].rsplit("/", 1)[-1]: {
            "rows": int(r["rows"]),
            "cols": {
                n: (
                    norm_float_zero(r[f"__mn_{n}"]),
                    norm_float_zero(r[f"__mx_{n}"]),
                    int(r[f"__nn_{n}"]),
                )
                for n in names
            },
        }
        for r in rows
    }


def _file_entries(
    spark: SparkSession,
    table_path: str,
    files: list[tuple[str, dict]],
    snapshot_id: int,
    stat_fields: list[tuple[str, int, str]] = (),
    row_id: int | None = None,
    **data_file,
) -> tuple[list[dict], int | None]:
    """The ADDED manifest entries of the published ``files`` ``[(rel,
    partition record)]`` and the next free row id: record counts,
    bounds and null counts for ``stat_fields`` from :func:`_file_stats`,
    rowless parts deleted (a registered file outside the table, listed
    by absolute path, is left alone), and — from ``row_id`` on — a
    running ``first_row_id``. ``data_file`` adds fixed fields (a delete
    file's ``content``/``equality_ids``, a sorted file's
    ``sort_order_id``)."""
    stats = _file_stats(
        spark, [os.path.join(table_path, r) for r, _ in files], stat_fields
    ) if files else {}
    entries = []
    for rel, part in files:
        full = os.path.join(table_path, rel)
        st = stats.get(os.path.basename(rel))
        if st is None:  # a rowless part: not worth an entry
            if not os.path.isabs(rel):
                os.remove(full)
            continue
        dfe = {
            "file_path": rel,
            "file_format": "PARQUET",
            "partition": part,
            "record_count": int(st["rows"]),
            "file_size_in_bytes": os.path.getsize(full),
            **data_file,
        }
        if stat_fields:
            nvc, lb, ub = [], [], []
            for n, fid, ice_t in stat_fields:
                mn, mx, nn = st["cols"][n]
                nvc.append({"key": fid, "value": struct.pack("<q", int(nn))})
                for out, v in ((lb, mn), (ub, mx)):
                    b = encode_bound(ice_t, v)
                    if b is not None:
                        out.append({"key": fid, "value": b})
            dfe["null_value_counts"] = nvc
            dfe["lower_bounds"] = lb or None
            dfe["upper_bounds"] = ub or None
        if row_id is not None:
            dfe["first_row_id"] = row_id
            row_id += int(st["rows"])
        entries.append(
            {"status": _ST_ADDED, "snapshot_id": snapshot_id,
             "data_file": dfe}
        )
    return entries, row_id


def _write_delete_parquet(
    table_path: str, frame: DataFrame, stem: str, tag: str,
    snapshot_id: int, sort_cols: tuple = (), n_rows: int = 0,
    **data_file,
) -> list[dict]:
    """Write ``frame`` as delete parquet through the tail; returns the
    manifest entries. With ``sort_cols`` the rows are sorted within
    each file (sortWithinPartitions, not a global orderBy feeding
    coalesce, makes the per-file sort a guarantee), in one file — or,
    past _MAX_DELETE_FILE_ROWS of its ``n_rows``, range-split into one
    file per range, since a mass delete funnelled through one
    coalesce(1) task would bottleneck and the spec allows many delete
    files per commit. Without, ``frame`` is written as shaped."""
    if sort_cols:
        n_files = max(1, -(-n_rows // _MAX_DELETE_FILE_ROWS))
        frame = (
            frame.coalesce(1)
            if n_files == 1
            else frame.repartitionByRange(n_files, *sort_cols)
        ).sortWithinPartitions(*sort_cols)
    tmp = _staging(table_path, tag, stem)
    frame.write.mode("overwrite").parquet(tmp)
    files = _publish_parts(
        table_path, tmp, local_parts(tmp, True), stem, tag
    )
    return _file_entries(
        frame.sparkSession, table_path, files, snapshot_id, **data_file
    )[0]


def _write_dv_file(
    table_path: str, stem: str, snapshot_id: int, seq: int,
    blobs: list[tuple[str, bytes, int]],
) -> list[dict]:
    """One Puffin sidecar holding a deletion-vector-v1 blob per
    ``(referenced data file, blob, cardinality)``, published through
    the tail; returns one manifest entry per blob."""
    from optimus_any2any_spark.formats.puffin import DV_V1, write_puffin

    tmp = _staging(table_path, "delete-dv", stem)
    os.makedirs(tmp)
    staged = os.path.join(tmp, "dv.puffin")
    blob_meta = write_puffin(
        staged,
        [
            (
                blob,
                {
                    "type": DV_V1,
                    "fields": [],
                    "snapshot-id": snapshot_id,
                    "sequence-number": seq,
                    "properties": {
                        "referenced-data-file": ref,
                        "cardinality": str(int(card)),
                    },
                },
            )
            for ref, blob, card in blobs
        ],
    )
    fsize = os.path.getsize(staged)
    [(rel, _part)] = _publish_parts(
        table_path, tmp, [(staged, 0)], stem, "delete-dv"
    )
    return [
        {
            "status": _ST_ADDED,
            "snapshot_id": snapshot_id,
            "data_file": {
                "content": 1,  # POSITION_DELETES (vector form)
                "file_path": rel,
                "file_format": "PUFFIN",
                "partition": {},
                "record_count": int(bm["properties"]["cardinality"]),
                "file_size_in_bytes": fsize,
                "equality_ids": None,
                "referenced_data_file": bm["properties"][
                    "referenced-data-file"
                ],
                "content_offset": bm["offset"],
                "content_size_in_bytes": bm["length"],
            },
        }
        for bm in blob_meta
    ]


def _write_manifest(
    table_path: str,
    rel: str,
    schema: dict,
    entries: list[dict],
    spec_id: int,
    content: int,
    snapshot_id: int,
    seq: int | None,
    **row,
) -> dict:
    """Write ``entries`` as the manifest ``rel``; returns its
    manifest-list row (``row`` adds fields such as the row-lineage
    counts)."""
    full = os.path.join(table_path, rel)
    write_container(full, schema, entries)
    return {
        "manifest_path": rel,
        "manifest_length": os.path.getsize(full),
        "partition_spec_id": spec_id,
        "content": content,
        "added_snapshot_id": snapshot_id,
        # v2: the data-sequence number the manifest's entries inherit
        "sequence_number": seq,
        **row,
    }


def _delete_manifest(
    table_path: str, meta: dict, version: int, stem: str,
    entries: list[dict],
) -> dict:
    """The delete manifest of a commit's delete-file ``entries``, under
    the table's global (unpartitioned) delete spec."""
    return _write_manifest(
        table_path, f"metadata/{stem}-m0.avro", DELETE_ENTRY_SCHEMA,
        entries, _global_delete_spec_id(meta), 1, version,
        _commit_seq(meta, version),
    )


def _summary(operation: str, app_id: str, batch_id: int | None,
             **extra) -> dict:
    """A snapshot summary; a ``batch_id`` records the writer's
    idempotence pair."""
    summary = {"operation": operation, **extra}
    if batch_id is not None:
        summary["optimus-app-id"] = app_id
        summary["optimus-batch-id"] = str(batch_id)
    return summary


def _applied(meta: dict, app_id: str, batch_id: int | None) -> bool:
    """Whether ``app_id`` already committed ``batch_id`` or a later
    batch: the idempotence pair in the summary of the newest snapshot
    it wrote."""
    if batch_id is None:
        return False
    for s in reversed(meta.get("snapshots") or []):
        summ = s.get("summary") or {}
        if summ.get("optimus-app-id") == app_id:
            last = summ.get("optimus-batch-id")
            return last is not None and batch_id <= int(last)
    return False


def _commit_files(
    table_path: str,
    version: int,
    meta: dict,
    stem: str,
    added: list[dict],
    summary: dict,
    carried: list[dict] | None = None,
    fmt_floor: int = 1,
    first_row_id: int | None = None,
    next_row_id: int | None = None,
    branch: str | None = None,
) -> int:
    """Commit snapshot ``version`` of ``meta``: a manifest list of the
    ``carried`` manifest-list rows (default: every manifest of the base
    snapshot — the branch head for a WAP ``branch`` write, else the
    main head) followed by the ``added`` ones, then the snapshot with
    its parent, sequence number and row-lineage ids, through
    ``commit_iceberg_snapshot``.

    The format version floors at ``fmt_floor`` (row-level deletes need
    2, deletion vectors and row lineage 3) and is never lowered; the
    snapshot stamps ``sequence-number`` exactly when it is >= 2. On a
    row-lineage table the snapshot's ``first-row-id`` is
    ``first_row_id`` (default: ``next-row-id``) and ``next_row_id``
    becomes the table's."""
    _refuse_unpublished_branches(meta, allow=branch)
    base = meta.get("current-snapshot-id")
    ref = (meta.get("refs") or {}).get(branch) if branch else None
    if ref is not None:
        if (ref.get("type") or "branch") != "branch":
            raise ValueError(
                f"iceberg append: ref {branch!r} is a tag, not a branch"
            )
        base = ref.get("snapshot-id")
    if base == -1:
        base = None
    if carried is None:
        carried = []
        if base is not None:
            snap = next(
                s for s in meta["snapshots"] if s["snapshot-id"] == base
            )
            _, carried = read_container(
                _localize(table_path, snap["manifest-list"])
            )
    for r in carried:
        r.setdefault("sequence_number", None)
    _preserve_manifest_lineage(table_path, meta, carried, base_sid=base)
    ml_rel = f"metadata/snap-{version}-1-{stem}.avro"
    write_container(
        os.path.join(table_path, ml_rel), MANIFEST_FILE_SCHEMA,
        list(carried) + list(added),
    )
    meta = dict(meta)
    fmt = max(fmt_floor, int(meta.get("format-version", 1)))
    meta["format-version"] = fmt
    snap = {
        "snapshot-id": version,
        "timestamp-ms": snapshot_timestamp_ms(meta),
        "manifest-list": ml_rel,
        "summary": summary,
    }
    if base is not None:
        snap["parent-snapshot-id"] = base
    if fmt >= 2:
        snap["sequence-number"] = _commit_seq(meta, version)
        meta["last-sequence-number"] = snap["sequence-number"]
    if first_row_id is None and meta.get("next-row-id") is not None:
        first_row_id = int(meta["next-row-id"])
    if first_row_id is not None:
        snap["first-row-id"] = first_row_id
    if next_row_id is not None:
        meta["next-row-id"] = next_row_id
    return commit_iceberg_snapshot(
        table_path, version, meta, snap, branch=branch
    )


def _preserve_manifest_lineage(
    table_path: str,
    prev_meta: dict,
    prior_manifests: list[dict],
    base_sid: int | None = None,
) -> None:
    """Spec v3 preservation rule (Row Lineage): a manifest row
    re-emitted into a NEW manifest list must carry its ASSIGNED
    ``first_row_id`` explicitly — inheritance is only defined under
    the snapshot that ADDED the manifest, so a null cannot survive
    into a later list without shifting every derived row id. Resolves
    in place (walking the base snapshot's inheritance exactly like
    ``_snapshot_entries``); a no-op on non-lineage tables."""
    if prev_meta.get("next-row-id") is None:
        return
    sid = (
        base_sid if base_sid is not None
        else prev_meta.get("current-snapshot-id")
    )
    snap = next(
        (
            s
            for s in prev_meta.get("snapshots") or []
            if s["snapshot-id"] == sid
        ),
        None,
    )
    first = snap.get("first-row-id") if snap else None
    running = int(first) if first is not None else None
    for m in prior_manifests:
        if int(m.get("content") or 0) != 0:
            continue
        if m.get("first_row_id") is not None or running is None:
            continue
        m["first_row_id"] = running
        a = m.get("added_rows_count")
        x = m.get("existing_rows_count")
        if a is not None and x is not None:
            running += int(a) + int(x)
        else:
            _, entries = read_container(
                _localize(table_path, m["manifest_path"])
            )
            running += sum(
                int(e["data_file"].get("record_count") or 0)
                for e in entries
                if int(e.get("status") or 0) != _ST_DELETED
                and int(e["data_file"].get("content") or 0) == 0
            )


def _kvmap(pairs) -> dict[int, bytes]:
    return {p["key"]: p["value"] for p in pairs or []}


def _key_field(meta: dict, key_col: str) -> tuple[int, str]:
    """(field-id, iceberg type) of the merge key in the current schema."""
    sch = meta.get("schemas", [meta.get("schema")])
    cur = None
    if "schemas" in meta:
        sid = meta.get("current-schema-id", 0)
        cur = next(
            (s for s in meta["schemas"] if s.get("schema-id") == sid),
            meta["schemas"][0],
        )
    else:
        cur = meta["schema"]
    del sch
    for f in cur["fields"]:
        if f["name"] == key_col:
            t = f["type"]
            return int(f["id"]), t if isinstance(t, str) else "complex"
    raise ValueError(f"iceberg merge: no column {key_col!r} in schema")


def _entry_to_prune_shape(e: dict, fid: int, ice_t: str) -> dict:
    df = e["data_file"]
    lo = decode_bound(ice_t, _kvmap(df.get("lower_bounds")).get(fid))
    hi = decode_bound(ice_t, _kvmap(df.get("upper_bounds")).get(fid))
    nulls = _kvmap(df.get("null_value_counts")).get(fid)
    n_null = (
        struct.unpack("<q", nulls)[0]
        if isinstance(nulls, bytes) and len(nulls) == 8
        else None
    )
    has_bounds = lo is not None and hi is not None
    all_null = (
        n_null is not None and n_null == df["record_count"]
    )
    return {
        "path": df["file_path"],
        "rows": int(df["record_count"]),
        "min_key": lo,
        "max_key": hi,
        "has_null_key": bool(n_null) if n_null is not None else True,
        # prunable iff bounds decode OR the file is provably all-null
        "prunable": has_bounds or all_null,
        "__entry": e,
    }


def _eff_seq(e: dict, m: dict) -> int:
    """A manifest entry's data-sequence number under v2 inheritance:
    the entry's own number when present, else its manifest-list row
    ``m``'s, else 0 (v1)."""
    s = e.get("sequence_number")
    if s is None:
        s = m.get("sequence_number")
    return int(s) if s is not None else 0


def _parse_pspec(
    default_spec: dict | None, by_id: dict, verb: str
) -> list[dict]:
    """Partition spec → computed-value descriptors
    ``{name, transform, src, src_type, res_type}`` (spec §Partition
    Transforms; unknown transforms and unsupported source types raise,
    never mis-partition)."""
    from optimus_any2any_spark.sources.iceberg_transforms import (
        normalize_transform,
        partition_field_name,
        result_type,
        validate_source,
    )

    pspec: list[dict] = []
    if not (default_spec and default_spec.get("fields")):
        return pspec
    for pf in default_spec["fields"]:
        tr = normalize_transform(str(pf.get("transform") or ""))
        src = by_id.get(int(pf["source-id"]))
        if src is None:
            raise ValueError(
                f"iceberg {verb}: partition source-id "
                f"{pf['source-id']} not in the current schema"
            )
        t = src["type"]
        if not isinstance(t, str):
            raise NotImplementedError(
                f"iceberg {verb}: partition source type {t!r} is "
                "beyond this writer"
            )
        if tr == "identity":
            if not _identity_type(t):
                raise NotImplementedError(
                    f"iceberg {verb}: partition source type {t!r} "
                    "is beyond the identity writer"
                )
            res_t = t
        else:
            res_t = result_type(tr, t)  # unknown transform raises
            validate_source(tr, t)
        pspec.append(
            {
                "name": pf.get("name")
                or partition_field_name(tr, src["name"]),
                "transform": tr,
                "src": src["name"],
                "src_type": t,
                "res_type": res_t,
            }
        )
    return pspec


def _with_pvs(frame: DataFrame, pspec: list[dict]) -> DataFrame:
    """``frame`` plus ``__pv{i}``: each row's value under the i-th field
    of ``pspec`` (a :func:`_parse_pspec` result)."""
    from optimus_any2any_spark.sources.iceberg_transforms import (
        transform_column,
    )

    return frame.select("*", *[
        transform_column(
            p["transform"], F.col(p["src"]), p["src_type"]
        ).alias(f"__pv{i}")
        for i, p in enumerate(pspec)
    ])


def _route(
    frame: DataFrame, pspec: list[dict], cols: list[str]
) -> tuple[DataFrame, list, bool]:
    """``(routed, ptuples, single)`` for writing ``frame`` under the
    partitioned spec ``pspec``: ``routed`` is ``frame``'s ``cols`` plus
    ``__pid``, the position of the row's partition tuple in
    ``ptuples``; ``single`` when there is one tuple (a constant pid,
    no routing join).

    ``frame`` is pinned first (a lazy ``localCheckpoint``), so the
    distinct job that collects the tuples and the write that routes
    by them read the same rows, and the upstream runs once: a
    partition value that differs between runs (a nondeterministic
    source, ``current_timestamp()`` across a day boundary) can neither
    drop a row nor file it under a wrong tuple."""
    pv_cols = [f"__pv{i}" for i in range(len(pspec))]
    pinned = _with_pvs(frame, pspec).localCheckpoint(eager=False)
    ptuples, _ = pid_space({
        tuple(r): None
        for r in pinned.select(*pv_cols).distinct().collect()
    })
    single = len(ptuples) == 1
    pid_df = (
        None if single
        else pid_table(frame.sparkSession, pinned, pv_cols, ptuples)
    )
    return with_pid(pinned, pid_df, pv_cols, cols), ptuples, single


def _current_schema_fields(meta: dict) -> dict[int, dict]:
    if "schemas" in meta:
        sid = meta.get("current-schema-id", 0)
        cur = next(
            (sc for sc in meta["schemas"] if sc.get("schema-id") == sid),
            meta["schemas"][0],
        )
    else:
        cur = meta["schema"]
    return {int(f["id"]): f for f in cur["fields"]}


def _hive_partition_values(
    path: str, part_fields: list[tuple[str, str, str]]
) -> dict[str, object]:
    """Identity partition values of one hive-layout file, derived from
    its ``src=value`` directory segments (Spark's ``add_files``
    procedure does the same walk). ``__HIVE_DEFAULT_PARTITION__`` is
    hive's null marker; values are percent-decoded (hive escapes
    ``/``, ``=`` etc. in partition values) and parsed to the source
    column's Iceberg type — unparseable values refuse rather than
    registering a tuple that disagrees with the path."""
    from urllib.parse import unquote

    segs: dict[str, str] = {}
    for seg in os.path.dirname(os.path.abspath(path)).split(os.sep):
        if "=" in seg:
            k, _, v = seg.partition("=")
            segs[k] = unquote(v)
    out: dict[str, object] = {}
    for pname, src, t in part_fields:
        if src not in segs:
            raise ValueError(
                f"iceberg add_files: file {path!r} has no "
                f"'{src}=...' path segment for the table's identity "
                "partition field"
            )
        raw = segs[src]
        if raw == "__HIVE_DEFAULT_PARTITION__":
            out[pname] = None
            continue
        try:
            if t in ("int", "long"):
                out[pname] = int(raw)
            elif t in ("float", "double"):
                out[pname] = float(raw)
            elif t == "boolean":
                if raw.lower() not in ("true", "false"):
                    raise ValueError(raw)
                out[pname] = raw.lower() == "true"
            elif t == "date":
                import datetime as _dt

                out[pname] = (
                    _dt.date.fromisoformat(raw)
                    - _dt.date(1970, 1, 1)
                ).days  # Avro physical form: int days-from-epoch
            elif t in ("timestamp", "timestamptz"):
                import datetime as _dt

                # Spark hive layouts render timestamps as
                # 'yyyy-MM-dd HH:mm:ss[.ffffff]' (tz-free wall
                # clock; the UTC-pinned session makes timestamptz
                # values UTC instants). Physical form: long micros.
                dt = _dt.datetime.fromisoformat(raw)
                if dt.tzinfo is not None:
                    dt = dt.astimezone(_dt.timezone.utc).replace(
                        tzinfo=None
                    )
                d = dt - _dt.datetime(1970, 1, 1)
                out[pname] = (
                    d.days * 86_400_000_000
                    + d.seconds * 1_000_000
                    + d.microseconds
                )  # exact integer micros, no float round-trip
            else:
                out[pname] = raw
        except ValueError:
            raise ValueError(
                f"iceberg add_files: cannot parse path value "
                f"{src}={raw!r} as iceberg {t}"
            ) from None
    return out


def write_iceberg_commit(
    df: DataFrame,
    table_path: str,
    partition_by: list[str] | None = None,
    row_lineage: bool = False,
    branch: str | None = None,
    add_files: list[str] | None = None,
    add_partition_schema: list[str] | None = None,
) -> int:
    """APPEND — the ICEBERG sink's default mode: one snapshot of added
    files through the publish tail (writer-unique names, the data
    store, footer record counts, the put-if-absent commit); returns the
    new metadata version. A new table is created from ``df``'s schema
    in the v1 HadoopCatalog layout; an existing table's metadata is
    carried forward as it is (identity, location, evolved schemas and
    specs, refs, properties and every other key), with ``df`` checked
    against the current schema by name and type — appends do not
    evolve schemas, merges do. Columns with a v3 ``write-default``
    that ``df`` omits are materialized. ``partition_by`` (empty first
    commit only) declares the partition spec in the new table's
    metadata — the bootstrap for ``merge_iceberg_batch``'s partitioned
    tables, which write the actual partition-grouped files and
    manifest partition tuples. Appending to a table whose default
    spec is partitioned routes the rows to their partition tuples the
    same way (the frame is pinned; one extra distinct job).

    ``row_lineage=True`` (or appending to a table that already
    carries ``next-row-id``) maintains v3 ROW LINEAGE: every added
    data entry gets an explicit ``first_row_id`` (this snapshot's
    ``first-row-id`` plus the running record count of the files
    before it), the metadata's ``next-row-id`` advances by the total
    added records, and the format version floors at 3. Row-id
    assignment is pure driver bookkeeping over the record counts the
    commit already collects — zero extra jobs.

    ``branch="name"`` is the WRITE half of WAP (write-audit-publish,
    Iceberg's spark.wap.branch): the snapshot appends on top of the
    BRANCH head (created from the main head on first use), the
    ``refs`` map advances the branch, and ``current-snapshot-id`` /
    ``refs.main`` stay put — main readers see nothing until
    ``publish_iceberg_branch`` fast-forwards.

    ``add_files`` is the METADATA-ONLY registration path (Spark's
    add_files procedure, :func:`sources.iceberg.add_iceberg_files`):
    existing parquet files enter the table as absolute-path entries
    with footer-read record counts — zero data movement, zero Spark
    jobs. On a table whose default spec is identity-partitioned, or a
    new one declared with ``add_partition_schema`` (``"name type"``
    items), the partition values come from the files' hive
    ``src=value`` path segments."""
    from optimus_any2any_spark.sources.iceberg_transforms import (
        avro_type_of_result,
        parse_spec_item,
        partition_field_name,
    )

    parsed_spec: list[tuple[str, str]] = []
    if add_partition_schema and add_files is None:
        raise ValueError(
            "iceberg commit: add_partition_schema only applies to "
            "add_files registration"
        )
    if partition_by:
        if add_files is not None:
            raise NotImplementedError(
                "iceberg add_files: partition_by is the empty-df "
                "bootstrap — declare hive partition columns with "
                "add_partition_schema instead"
            )
        if not df.isEmpty():
            raise NotImplementedError(
                "iceberg fixture writer: partition_by is the empty-"
                "table bootstrap only; data commits into a partitioned "
                "table go through merge_iceberg_batch"
            )
        # items are bare columns (identity) or the DDL transform
        # forms: days(ts), hours(ts), bucket(16, k), truncate(3, v)
        parsed_spec = [parse_spec_item(s) for s in partition_by]
        missing = [
            src for _, src in parsed_spec if src not in df.columns
        ]
        if missing:
            raise ValueError(
                f"iceberg fixture writer: partition columns {missing} "
                "not in the schema"
            )
    os.makedirs(_meta_dir(table_path), exist_ok=True)
    prev_version, prev = _ice.open_iceberg_table(table_path)
    if prev is not None and parsed_spec:
        raise ValueError(
            "iceberg append: partition_by declares a NEW table's spec — "
            "evolve an existing table with set_iceberg_partition_spec"
        )
    pspec: list[dict] = []  # the default spec an APPEND routes rows by
    if prev is not None:
        dspec = next(
            (
                s
                for s in prev.get("partition-specs") or []
                if s.get("spec-id") == int(prev.get("default-spec-id", 0))
            ),
            None,
        )
        by_fid = {int(f["id"]): f for f in _current_schema(prev)["fields"]}
    if prev is not None and add_files is None:
        # v3 write-default: fill columns the df omits BEFORE the data
        # write, so the new files physically carry the value
        df = _apply_write_defaults(df, prev)
        pspec = _parse_pspec(dspec, by_fid, "append")
    version = prev_version + 1
    stem = f"{version:05d}-{uuid.uuid4().hex}"  # writer-unique names

    # identity partition fields of a hive-layout registration:
    # (partition name, source column, iceberg type)
    add_part_fields: list[tuple[str, str, str]] = []
    if add_files is not None and prev is not None:
        if add_partition_schema:
            raise ValueError(
                "iceberg add_files: add_partition_schema is the "
                "fresh-table bootstrap only — an existing table "
                "already declares its spec"
            )
        # partitioned registration: values derive from the files' hive
        # path segments, so only IDENTITY fields (whose value IS the
        # path value) are derivable
        for pf in (dspec or {}).get("fields") or []:
            tr = str(pf.get("transform") or "")
            if tr != "identity":
                raise NotImplementedError(
                    "iceberg add_files: partition transform "
                    f"{tr!r} cannot be derived from a hive path — "
                    "identity specs only"
                )
            src = by_fid.get(int(pf["source-id"]))
            if src is None or not _identity_type(src["type"]):
                raise NotImplementedError(
                    "iceberg add_files: partition source type "
                    f"{(src or {}).get('type')!r} is beyond the "
                    "identity registration"
                )
            add_part_fields.append(
                (pf.get("name") or src["name"], src["name"], src["type"])
            )
    elif add_files is not None:
        # fresh-table bootstrap of an identity-partitioned table from a
        # hive layout: '"col type"' items, like
        # convert_parquet_to_delta's partition schema
        for item in add_partition_schema or []:
            toks = item.strip().split()
            if len(toks) != 2:
                raise ValueError(
                    "iceberg add_files: add_partition_schema "
                    f"item {item!r} is not 'name type'"
                )
            nm, t = toks
            if not _identity_type(t):
                raise NotImplementedError(
                    "iceberg add_files: partition type "
                    f"{t!r} is beyond the identity registration "
                    f"({sorted(_AVRO_PRIM) + list(_IDENTITY_LOGICAL)})"
                )
            add_part_fields.append((nm, nm, t))

    # the table metadata this commit starts from. An EXISTING table's
    # is carried forward whole; a df that does not match its current
    # schema refuses. A partitioned registration's files carry the
    # table schema MINUS the identity partition columns (hive layout:
    # the value lives in the directory name)
    psrcs = {src for _pn, src, _t in add_part_fields}
    if prev is not None:
        prev_fields = [
            f for f in _current_schema(prev)["fields"]
            if f["name"] not in psrcs
        ]
        prev_names = [f["name"] for f in prev_fields]
        if prev_names != df.columns:
            raise ValueError(
                f"iceberg append: df columns {df.columns} != table "
                f"schema {prev_names} — appends do not evolve "
                "schemas (merge with merge_schema=True does)"
            )
        # Names matching is not enough: a type-drifted df would write
        # parquet files that silently disagree with the (preserved)
        # field types the readers trust.
        drift = []
        for f, pf in zip(df.schema.fields, prev_fields):
            try:
                got = _spark_type_to_iceberg(f.dataType)
            except NotImplementedError:
                continue  # nested type: name match is the best check
            if got != pf["type"]:
                drift.append((f.name, got, pf["type"]))
        if drift:
            raise ValueError(
                "iceberg append: df column types drifted from the "
                "table schema — "
                + ", ".join(
                    f"{n}: df={got!r} != table={want!r}"
                    for n, got, want in drift
                )
                + " (appends do not evolve schemas)"
            )
        meta = dict(prev)
    else:
        clash = sorted(psrcs & set(df.columns))
        if clash:
            raise ValueError(
                f"iceberg add_files: partition columns {clash} are also "
                "present in the data files — a hive layout keeps them "
                "in the path only"
            )
        # hive-layout bootstrap: the declared partition columns join
        # the table schema and become spec 0 (they are real columns —
        # their values just live in the manifests, not the files)
        fields = [
            {"id": i + 1, "name": n, "required": False, "type": t}
            for i, (n, t) in enumerate(
                [(f.name, _spark_type_to_iceberg(f.dataType))
                 for f in df.schema.fields]
                + [(src, t) for _pn, src, t in add_part_fields]
            )
        ]
        parsed_spec += [
            ("identity", src) for _pn, src, _t in add_part_fields
        ]
        schema0 = {"type": "struct", "schema-id": 0, "fields": fields}
        meta = {
            "format-version": 1,
            "table-uuid": str(uuid.uuid5(uuid.NAMESPACE_URL, table_path)),
            "location": table_path,
            "last-column-id": len(fields),
            "schema": schema0,
            "schemas": [schema0],
            "current-schema-id": 0,
            "partition-spec": [],
            "partition-specs": [
                {
                    "spec-id": 0,
                    "fields": [
                        {
                            "name": partition_field_name(tr, src),
                            "transform": tr,
                            "source-id": next(
                                f["id"] for f in fields if f["name"] == src
                            ),
                            "field-id": 1000 + i,
                        }
                        for i, (tr, src) in enumerate(parsed_spec)
                    ],
                }
            ],
            "default-spec-id": 0,
            # spec-required sort-order metadata: order 0 = unsorted; a
            # compaction with key_col appends a real order
            "sort-orders": [{"order-id": 0, "fields": []}],
            "default-sort-order-id": 0,
            # tables CREATED here are marked parent-stamped at birth:
            # every later snapshot records its parent (or is a genuine
            # genesis, e.g. the first main commit after a branch-first
            # bootstrap), so ancestry — never list order — is history
            # (sources.iceberg._chain_authoritative)
            "properties": {"optimus.parent-stamped": "true"},
            "current-snapshot-id": -1,
            "snapshots": [],
        }

    if add_files is None:
        tmp = _staging(table_path, "append", stem)
        if pspec:
            # rows go to their partition tuples under the default spec,
            # as a merge routes them
            routed, ptuples, single = _route(df, pspec, df.columns)
            (
                routed.drop("__pid").write if single
                else routed.write.partitionBy("__pid")
            ).mode("overwrite").parquet(tmp)
        else:
            ptuples, single = [()], True
            df.write.mode("overwrite").parquet(tmp)
        files = _publish_parts(
            table_path, tmp, local_parts(tmp, single), stem, "append",
            [p["name"] for p in pspec], ptuples,
        )
    else:
        # the collision guard spans the files ALREADY in the table too:
        # per-file write stats key files by basename, so a second
        # add_files call bringing a same-named file from another
        # directory would mix their stats
        seen_bn: set[str] = set()
        if prev is not None:
            seen_bn.update(
                d["orig"].rsplit("/", 1)[-1]
                for d in _snapshot_entries(table_path, prev)[0]
            )
        files = []
        for f in add_files:
            ap = os.path.abspath(f)
            bn = os.path.basename(ap)
            if bn in seen_bn:
                raise NotImplementedError(
                    "iceberg add_files: the basename "
                    f"{bn!r} is already registered (or repeated in "
                    "this call) — per-file stats key by basename"
                )
            seen_bn.add(bn)
            files.append((
                ap,
                _hive_partition_values(ap, add_part_fields)
                if add_part_fields else {},
            ))

    lineage = row_lineage or meta.get("next-row-id") is not None
    snap_first_row = first_row_base = None
    if lineage and prev is not None and prev.get("next-row-id") is None:
        # v3 UPGRADE of a table that already holds rows: this snapshot
        # assigns ids to EVERY existing row via the spec's inheritance
        # walk (the prior manifests, still null, consume 0..E-1 in
        # manifest-list order under this snapshot's first-row-id = 0),
        # so the NEW files' explicit ids must start at E — starting
        # them at 0 would collide with the inherited ids.
        snap_first_row = 0
        first_row_base = sum(
            int(d.get("record_count") or 0)
            for d in _snapshot_entries(table_path, prev)[0]
        )
    elif lineage:
        snap_first_row = first_row_base = int(meta.get("next-row-id", 0))
    entries, next_row_id = _file_entries(
        df.sparkSession, table_path, files, version, row_id=first_row_base
    )
    # the manifest-level assignment, written explicitly so later
    # manifest lists can re-emit this row verbatim
    lineage_row = dict(
        first_row_id=first_row_base,
        added_rows_count=next_row_id - first_row_base,
        existing_rows_count=0,
    ) if lineage else {}
    manifest = _write_manifest(
        table_path, f"metadata/{stem}-m0.avro",
        # logical types ride as their Avro physical form (date → int
        # days, timestamps → long micros), as in the transform writers
        manifest_entry_schema(
            [(pn, avro_type_of_result(t)) for pn, _s, t in add_part_fields]
            + [(p["name"], avro_type_of_result(p["res_type"]))
               for p in pspec]
        ),
        entries,
        # the entries live under the table's default spec (readers key
        # the constants map off this id)
        int(meta.get("default-spec-id", 0)),
        0, version,
        # v2 sequence inheritance: a file appended AFTER a delete
        # outranks it (a re-inserted row must stay alive)
        _commit_seq(meta, version),
        **lineage_row,
    )
    return _commit_files(
        table_path, version, meta, stem, [manifest],
        {"operation": "append"},
        fmt_floor=3 if lineage else 1,  # row lineage is a v3 construct
        first_row_id=snap_first_row, next_row_id=next_row_id,
        branch=branch,
    )


def write_iceberg_delete_commit(
    spark: SparkSession,
    table_path: str,
    pos_deletes: list[tuple[str, int]] | None = None,
    eq_deletes: tuple[list[str], list[tuple]] | None = None,
    dv_deletes: dict[str, list[int]] | None = None,
) -> int:
    """Append one ROW-LEVEL-DELETE snapshot (fixture surface):
    positional deletes are ``(data-file path as listed in the
    manifests, row position)`` rows in a delete parquet; equality
    deletes are rows over the named columns with the spec's
    ``equality_ids``. The delete manifest lands under the table's
    global (unpartitioned) delete spec, its manifest-list row stamps
    this commit's data-sequence number (v2 inheritance), and the table
    metadata upgrades to format-version 2 — exercising
    ``read_iceberg``'s merge-on-read path against real table bytes.

    ``dv_deletes`` maps a data file's manifest-listed path to its
    deleted row positions, written as format-v3 DELETION VECTORS: one
    Puffin file carrying one ``deletion-vector-v1`` blob per
    referenced file, manifest entries with ``referenced_data_file`` /
    ``content_offset`` / ``content_size_in_bytes``, and the table
    metadata tagged format-version 3 (VERDICT r8 item 9)."""
    from optimus_any2any_spark.formats.puffin import dv_puffin_blob

    prev_version, meta = _ice.open_iceberg_table(table_path)
    version = prev_version + 1
    stem = f"{version:05d}-{uuid.uuid4().hex}"  # writer-unique names
    entries = []
    if pos_deletes:
        entries += _write_delete_parquet(
            table_path,
            local_rows_df(
                spark, list(pos_deletes), "file_path string, pos long"
            ).orderBy("file_path", "pos").coalesce(1),
            stem, "delete-pos", version, content=1, equality_ids=None,
        )
    if eq_deletes:
        cols, rows = eq_deletes
        id_of = {
            f["name"]: int(f["id"]) for f in _current_schema(meta)["fields"]
        }
        missing = [c for c in cols if c not in id_of]
        if missing:
            raise ValueError(
                f"iceberg delete fixture: columns {missing} not in "
                "the schema"
            )
        spark_schema = iceberg_spark_schema(meta)
        edf = local_rows_df(
            spark,
            list(rows),
            T.StructType(
                [
                    T.StructField(c, spark_schema[c].dataType, True)
                    for c in cols
                ]
            ),
        )
        entries += _write_delete_parquet(
            table_path, edf.coalesce(1), stem, "delete-eq", version,
            content=2, equality_ids=[id_of[c] for c in cols],
        )
    if dv_deletes:
        entries += _write_dv_file(
            table_path, stem, version, _commit_seq(meta, version),
            [
                (ref, dv_puffin_blob(positions), len(set(positions)))
                for ref, positions in sorted(dv_deletes.items())
            ],
        )
    if not entries:
        return prev_version
    return _commit_files(
        table_path, version, meta, stem,
        [_delete_manifest(table_path, meta, version, stem, entries)],
        {"operation": "delete"},
        # row-level deletes need v2; deletion vectors are a v3 construct
        fmt_floor=3 if dv_deletes else 2,
    )


def _hit_files(
    table_path: str, entries: list[dict], seqs: list[int], sids: list[int]
) -> list[dict]:
    """Raw manifest entries of the files a rewrite reads, shaped for
    ``read_entries_with_deletes``: localized path, manifest path,
    effective data sequence, manifest spec id (the identity-constant
    projection keys off it — migrated hive files carry their partition
    column only in the manifest tuple) and ``first_row_id``."""
    return [
        {
            "path": _localize(table_path, e["data_file"]["file_path"]),
            "orig": e["data_file"]["file_path"],
            "seq": s,
            "partition": dict(e["data_file"].get("partition") or {}),
            "spec_id": sid,
            "first_row_id": e["data_file"].get("first_row_id"),
        }
        for e, s, sid in zip(entries, seqs, sids)
    ]


def merge_iceberg_batch(
    spark: SparkSession,
    batch: DataFrame,
    table_path: str,
    key_col: str,
    ts_col: str,
    app_id: str = DEFAULT_APP_ID,
    batch_id: int | None = None,
    target_rows_per_file: int = 1_000_000,
    partition_by: list[str] | None = None,
    when_matched: list | None = None,
    when_not_matched: list | None = None,
    when_not_matched_by_source: list | None = None,
    merge_schema: bool = False,
) -> int:
    """One file-level MERGE commit as a new Iceberg snapshot; returns
    the committed (or already-current, on an idempotent skip) metadata
    version.

    The batch reduction, key stats, pid routing, row algebra
    (latest-wins or the ``when_*`` clauses, with the same surface as
    ``merge_delta_batch``) and the write are ``streaming/merge_core``'s;
    this function owns the metadata replay and idempotence, schema
    evolution, the manifest walk (partition tuples, spec evolution,
    delete files), the delete-aware read of the affected files, row
    lineage, the new files' stats and the snapshot commit.

    ``merge_schema=True`` is the Delta mergeSchema twin, done the
    Iceberg way (spec §Schema Evolution): batch columns not in the
    table APPEND as optional fields with fresh column ids
    (``last-column-id`` advances), recorded as a NEW schema in
    ``schemas`` with a fresh ``schema-id`` that becomes
    ``current-schema-id`` — pre-evolution data files read the new
    columns as null. Table columns missing from the batch null-fill.
    Without it, any column mismatch raises. A widening merge whose
    batch deduplicates to zero rows still commits the evolved schema
    as a data-free metadata version (ALTER TABLE ADD COLUMN).

    ``partition_by`` (first commit only) creates an IDENTITY-
    partitioned table; later merges read the spec from the metadata.
    Partitioned-merge semantics are partition-scoped — a batch row
    upserts the row with the same key IN ITS OWN PARTITION, the same
    contract as ``merge_delta_batch`` — and the whole merge is a
    constant number of Spark jobs however many partitions the batch
    touches: driver-side manifest pruning (partition-tuple match
    first, Appendix-D key bounds inside) sits between the core's
    key-stats pass and its single write (Iceberg data files
    physically CONTAIN their partition source columns, so the
    surrogate pid only routes rows to files — nothing is stripped).
    Non-identity transforms
    (``bucket[N]``/``truncate[W]``/``year|month|day|hour``, spec
    §Partition Transforms) partition-scope the merge through the same
    shape: the transforms are pure functions, computed once per row as
    ``__pv*`` columns (``sources/iceberg_transforms.py``), and the
    manifest partition tuples carry the TRANSFORMED values keyed by
    the spec's field names. Unknown transforms and non-primitive
    partition sources are rejected, not mis-read."""
    prev_version, meta = _ice.open_iceberg_table(table_path)
    if meta is None:
        # first commit: bootstrap an EMPTY table (with the identity
        # spec when partitioned) and merge into it
        write_iceberg_commit(
            batch.limit(0), table_path, partition_by=partition_by
        )
        prev_version, meta = _ice.open_iceberg_table(table_path)
    # ROW LINEAGE composes with the CoW merge the same way it does
    # with compaction: affected files read WITH their lineage
    # (materialized-or-derived), carried rows MATERIALIZE id+sequence
    # into the rewrite, batch rows replacing a matched key KEEP that
    # row's id (the spec's update contract), inserts derive fresh ids
    # from the new entries' first_row_id
    _refuse_unpublished_branches(meta)
    lineage = meta.get("next-row-id") is not None
    lineage_cols = (
        ("_row_id", "_last_updated_sequence_number") if lineage else ()
    )
    specs = meta.get("partition-specs") or []
    default_spec = next(
        (s for s in specs if s.get("spec-id") == meta.get(
            "default-spec-id", 0)),
        None,
    )
    schema = iceberg_spark_schema(meta)
    cur_schema = None
    if "schemas" in meta:
        sid = meta.get("current-schema-id", 0)
        cur_schema = next(
            (sc for sc in meta["schemas"] if sc.get("schema-id") == sid),
            meta["schemas"][0],
        )
    else:
        cur_schema = meta["schema"]
    by_id = {int(f["id"]): f for f in cur_schema["fields"]}

    from optimus_any2any_spark.sources.iceberg_transforms import (
        avro_type_of_result,
    )

    # partition spec → one computed partition-VALUE column per field.
    # The spec's transforms are pure functions (bucket = Appendix-B
    # murmur3, truncate = floor, day/hour/month/year = epoch units),
    # so a days(ts)-partitioned table merges through exactly the same
    # single-job __pid shape as an identity one — the transform just
    # decides which rows share a tuple.
    pspec = _parse_pspec(default_spec, by_id, "merge")
    part_names = [p["name"] for p in pspec]
    # conditional clauses: the same surface and row algebra as
    # merge_delta_batch (streaming/merge_core.py); the snapshot summary
    # records the predicates
    clauses = (when_matched, when_not_matched, when_not_matched_by_source)
    conditional = conditional_merge(key_col, *clauses)
    if conditional and pspec:
        # a clause assigning a partition SOURCE column would put
        # rewritten rows in files whose manifest tuple disagrees with
        # their contents — refuse, like the Delta partition-column rule
        srcs = {pp["src"] for pp in pspec}
        for cls in (when_matched or []) + (when_not_matched or []):
            vset = cls[2] if len(cls) == 3 else None
            if vset and srcs & set(vset):
                raise ValueError(
                    "iceberg merge: clause assignments may not "
                    f"touch partition source columns {sorted(srcs)}"
                )
    part_fields = [
        (p["name"], avro_type_of_result(p["res_type"])) for p in pspec
    ]
    if any(
        p["transform"] == "identity" and p["src"] == key_col
        for p in pspec
    ):
        # identity only: bucket(key)/truncate(key) give each key ONE
        # partition, so partition-scoped merge == global merge there
        raise ValueError(
            "iceberg merge: the merge key cannot be an identity "
            "partition column"
        )
    pv_cols = [f"__pv{i}" for i in range(len(pspec))]
    if _applied(meta, app_id, batch_id):
        return prev_version
    snaps = meta.get("snapshots") or []

    evolved = False
    if set(schema.fieldNames()) != set(batch.columns):
        if not merge_schema:
            raise ValueError(
                f"iceberg merge: batch columns {sorted(batch.columns)}"
                f" != table schema {sorted(schema.fieldNames())} "
                "(pass merge_schema=True to evolve)"
            )
        table_cols = set(schema.fieldNames())
        extra = [c for c in batch.columns if c not in table_cols]
        if any(c in lineage_cols for c in extra):
            raise NotImplementedError(
                "iceberg merge: merge_schema would shadow the "
                "reserved lineage column names — beyond this writer"
            )
        missing = [
            c for c in schema.fieldNames() if c not in batch.columns
        ]
        if key_col in missing or any(
            p["src"] in missing for p in pspec
        ):
            raise ValueError(
                "iceberg merge: batch must carry the merge key and "
                "every partition source column"
            )
        if extra:
            from optimus_any2any_spark.sources.iceberg import (
                _spark_type_to_iceberg,
            )

            last_id = int(
                meta.get("last-column-id")
                or (max(by_id) if by_id else 0)
            )
            new_fields = []
            for c in extra:
                last_id += 1
                new_fields.append(
                    {
                        "id": last_id,
                        "name": c,
                        "required": False,
                        "type": _spark_type_to_iceberg(
                            batch.schema[c].dataType
                        ),
                    }
                )
            old_schemas = list(
                meta.get("schemas")
                or ([meta["schema"]] if meta.get("schema") else [])
            )
            new_sid = (
                max(
                    int(s.get("schema-id", 0)) for s in old_schemas
                )
                + 1
                if old_schemas
                else 1
            )
            new_schema = {
                "type": "struct",
                "schema-id": new_sid,
                "fields": list(cur_schema["fields"]) + new_fields,
            }
            meta = dict(meta)
            meta["schemas"] = old_schemas + [new_schema]
            meta["current-schema-id"] = new_sid
            if "schema" in meta:  # v1 mirror
                meta["schema"] = new_schema
            meta["last-column-id"] = last_id
            schema = iceberg_spark_schema(meta)
            cur_schema = new_schema
            by_id = {int(f["id"]): f for f in cur_schema["fields"]}
            evolved = True
        for c in missing:
            batch = batch.withColumn(
                c, F.lit(None).cast(schema[c].dataType)
            )
    batch = batch.select(*schema.fieldNames())
    fid, ice_t = _key_field(meta, key_col)

    # the dedupe window and every partition-scoped step below key on
    # the TRANSFORMED partition values (__pv*), computed once here and
    # pinned by the checkpoint — identity specs make them plain copies
    latest, gstats = reduce_batch(
        _with_pvs(batch, pspec), key_col, ts_col, pv_cols
    )
    n_total = sum(int(r["n"]) for r in gstats)
    if n_total == 0 and not when_not_matched_by_source:
        # (an EMPTY source with when_not_matched_by_source is still a
        # full clause evaluation: every live row is unmatched)
        if not evolved:
            return prev_version
        # a widening merge whose batch dedupes to zero rows is still
        # a legal schema-change commit: a data-free metadata version
        # carrying the evolved schemas (ALTER TABLE ADD COLUMN — the
        # same no-snapshot shape as set_iceberg_partition_spec)
        return publish_iceberg_metadata(table_path, prev_version + 1, meta)

    pstats = group_key_stats(
        latest, key_col, pv_cols, gstats,
        empty_group=bool(when_not_matched_by_source),
    )
    ptuples, pid_of = pid_space(pstats)

    # PARTITION EVOLUTION (spec "Partition Evolution", VERDICT r9
    # item 6): manifests written under a NON-default spec id prune by
    # key bounds ONLY (their partition tuples are in another spec's
    # coordinates — tuple-matching them against the batch's
    # current-spec tuples would silently mis-prune live files), and
    # their untouched entries re-list under their OWN spec id, one
    # extra manifest per old spec. Rewritten rows always land under
    # the CURRENT default spec — the format's evolution contract.
    default_sid = int(meta.get("default-spec-id", 0))
    specs_by_id = {int(s["spec-id"]): s for s in specs} or {
        0: {"spec-id": 0, "fields": meta.get("partition-spec") or []}
    }
    table_stats = combine_key_stats(list(pstats.values()))

    # current snapshot's manifests, each with its entries
    cur_snap_id = meta.get("current-snapshot-id")
    manifests: list[dict] = []
    if cur_snap_id not in (None, -1) and snaps:
        snap = next(s for s in snaps if s["snapshot-id"] == cur_snap_id)
        _, manifests = read_container(
            _localize(table_path, snap["manifest-list"])
        )

    carried: list[dict] = []   # manifest-list rows carried verbatim
    # delete manifests carry forward UNLESS this rewrite retires them
    # (every remaining data file outranking a delete file means it can
    # never apply again — carrying it would cost a dead anti-join on
    # every future read); decided after the walk, like compaction
    del_manifests: list[tuple[dict, int, bool]] = []
    hit_entries: list[dict] = []
    hit_seqs: list[int] = []   # effective data-sequence per hit entry
    hit_sids: list[int] = []   # manifest spec id per hit entry (the
    # identity-constant projection keys off it — migrated hive files
    # carry their partition column only in the manifest tuple)
    has_foreign_hit = False    # any hit under a non-default spec
    survivors: list[tuple[dict, int]] = []  # (entry, its spec id)
    untouched_seqs: list[int] = []  # live data entries NOT rewritten
    pos_del: list[dict] = []   # live positional/equality delete files:
    eq_del: list[dict] = []    # they gate the affected-file read below
    _pf_cache: dict = {}       # one Puffin footer parse per DV file
    for m in manifests:
        if int(m.get("content") or 0) == 1:
            _, dentries = read_container(
                _localize(table_path, m["manifest_path"])
            )
            dmax = 0
            has_pos = False
            for e in dentries:
                if int(e.get("status") or 0) == _ST_DELETED:
                    continue
                # a v3 deletion vector applies like positional rows
                kind, ent = _classify_entry(table_path, m, e, _pf_cache)
                dmax = max(dmax, ent["seq"])
                has_pos = has_pos or kind == "pos"
                (pos_del if kind == "pos" else eq_del).append(ent)
            del_manifests.append((m, dmax, has_pos))
            continue
        mpath = _localize(table_path, m["manifest_path"])
        _, entries = read_container(mpath)
        msid = int(m.get("partition_spec_id") or 0)
        foreign_spec = msid != default_sid
        if foreign_spec and msid not in specs_by_id:
            raise ValueError(
                f"iceberg merge: manifest {m['manifest_path']!r} "
                f"carries spec id {msid} which is not in the table's "
                "partition-specs — refusing to rewrite"
            )
        live = [
            e for e in entries if int(e.get("status") or 0) != _ST_DELETED
        ]
        hits: list[dict] = []
        misses: list[dict] = []
        for e in live:
            if when_not_matched_by_source:
                # the clause touches every live row by definition:
                # no file is prunable
                hits.append({"__entry": e})
                continue
            # partition-tuple pruning FIRST: a file in a partition the
            # batch does not touch survives without a bounds check —
            # but only for entries under the CURRENT spec; an old-spec
            # tuple says nothing, so those prune on key bounds against
            # the WHOLE batch
            if foreign_spec:
                st = table_stats
            elif pspec:
                pdict = e["data_file"].get("partition") or {}
                pt = tuple(pdict.get(n) for n in part_names)
                st = pstats.get(pt)
                if st is None:
                    misses.append({"__entry": e})
                    continue
            else:
                st = pstats[()]
            shaped = _entry_to_prune_shape(e, fid, ice_t)
            h, _m = _affected(
                [shaped], st["keys"], st["kmin"], st["kmax"],
                st["has_null"],
            )
            (hits if h else misses).append({"__entry": e})
        for mi in misses:
            untouched_seqs.append(_eff_seq(mi["__entry"], m))
        if not hits:
            carried.append(m)  # whole manifest untouched: zero IO
        else:
            for hh in hits:
                hit_entries.append(hh["__entry"])
                hit_seqs.append(_eff_seq(hh["__entry"], m))
                hit_sids.append(msid)
                if foreign_spec:
                    has_foreign_hit = True
            for mi in misses:
                # survivors re-list under the NEW manifest: their
                # ORIGINAL sequence must ride along explicitly, or
                # they would inherit the new (higher) sequence and
                # escape delete files that still apply to them —
                # keyed by their manifest's spec id so old-spec
                # entries re-serialize under their own spec
                e2 = dict(mi["__entry"])
                e2["sequence_number"] = _eff_seq(mi["__entry"], m)
                survivors.append((e2, msid))

    if lineage:
        # inheritance-reliant tables: resolve the ids BEFORE any entry
        # re-lists under a new manifest (reader-identical walk)
        _resolve_entry_lineage(
            table_path, meta,
            hit_entries + [e2 for e2, _sid in survivors],
        )

    version = prev_version + 1
    snapshot_id = version
    stem = f"{version:05d}-{uuid.uuid4().hex}"  # writer-unique names
    seq = _commit_seq(meta, version)

    # retire delete manifests nothing can match anymore (equality
    # gates strictly-lower data sequences; positional lower-or-equal)
    min_data_seq = min([seq] + untouched_seqs)
    for m, dmax, has_pos in del_manifests:
        dead = min_data_seq > dmax if has_pos else min_data_seq >= dmax
        if not dead:
            carried.append(m)

    # PARTITION EVOLUTION: rows in old-spec hit files may land in
    # CURRENT-spec partitions the batch does not touch, so the pid set
    # must extend to every tuple those rows produce — one distinct
    # aggregate over the affected rows, run ONLY when a non-default
    # spec was actually hit (zero extra jobs on non-evolved tables).
    def _read_hit_files():
        # row lineage: affected rows read WITH their id + sequence
        # (materialized-or-derived, same coalesce as the lineage read)
        return _ice.read_entries_with_deletes(
            spark, meta, schema,
            _hit_files(table_path, hit_entries, hit_seqs, hit_sids),
            pos_del, eq_del, lineage=lineage,
        )

    cur0 = None
    if pspec and hit_entries and (
        has_foreign_hit or when_not_matched_by_source
    ):
        # when_not_matched_by_source touches every live row, so rows
        # may land in current-spec partitions the batch does not
        # touch — the same pid-space extension partition evolution
        # needs (one distinct aggregate over the affected rows)
        cur0 = _read_hit_files()
        pvs = _with_pvs(cur0, pspec).select(*pv_cols)
        for r in pvs.distinct().collect():
            pt = tuple(r[c] for c in pv_cols)
            if pt not in pid_of:
                pstats[pt] = empty_key_stats()
        ptuples, pid_of = pid_space(pstats)

    # One touched partition (incl. every unpartitioned merge) skips
    # the routing AND the dynamic-partition write below. Iceberg data
    # files keep every column, so __pid only routes rows to files.
    single = len(ptuples) == 1
    pid_df = (
        pid_table(spark, latest, pv_cols, ptuples)
        if pspec and not single else None
    )
    data_cols = schema.fieldNames()
    latest_p = with_pid(latest, pid_df, pv_cols, data_cols)

    cur_p = None
    hit_rows = 0
    if hit_entries:
        # affected files read WITH any delete files applied (sequence-
        # gated, same plan as read_iceberg) — a copy-on-write rewrite
        # must never resurrect rows a delete had already removed
        # (cur0 is the same frame, already built for the evolved-table
        # pid extension above)
        cur = cur0 if cur0 is not None else _read_hit_files()
        cur_p = with_pid(
            _with_pvs(cur, pspec) if pid_df is not None else cur,
            pid_df, pv_cols, [*data_cols, *lineage_cols],
        )
        hit_rows = sum(
            int(e["data_file"]["record_count"]) for e in hit_entries
        )
    # row lineage: a batch row replacing a matched target row KEEPS
    # that row's id; its sequence derives fresh from the new file
    merged, _, _ = merge_rows(
        cur_p, latest_p, key_col, schema, clauses,
        carry_cols=lineage_cols or None,
    )

    tmp = _staging(table_path, "merge", stem)
    write_merged(
        merged, key_col, n_total + hit_rows, target_rows_per_file, tmp,
        single,
    )
    files = _publish_parts(
        table_path, tmp, local_parts(tmp, single), stem, "merge",
        part_names, ptuples,
    )
    new_entries, lin_next = _file_entries(
        spark, table_path, files, snapshot_id, [(key_col, fid, ice_t)],
        row_id=int(meta["next-row-id"]) if lineage else None,
    )
    # survivors keep their entries, re-marked EXISTING under this
    # commit: same-spec ones ride the new manifest; old-spec ones go
    # into ONE extra manifest per spec id, serialized under THAT
    # spec's partition record schema and list-stamped with its id —
    # the format's mixed-spec representation (partition evolution)
    foreign_by_sid: dict[int, list[dict]] = {}
    for e, sid in survivors:
        e = dict(e)
        e["status"] = _ST_EXISTING
        if sid == default_sid:
            new_entries.append(e)
        else:
            foreign_by_sid.setdefault(sid, []).append(e)
    added = []
    for sid in sorted(foreign_by_sid):
        old_pspec = _parse_pspec(specs_by_id[sid], by_id, "merge")
        old_fields = [
            (p["name"], avro_type_of_result(p["res_type"]))
            for p in old_pspec
        ]
        # entries carry their ORIGINAL sequence explicitly
        added.append(_write_manifest(
            table_path, f"metadata/{stem}-m0-s{sid}.avro",
            manifest_entry_schema(old_fields), foreign_by_sid[sid], sid,
            0, snapshot_id, seq,
        ))
    # the new files inherit ``seq``: it outranks every existing delete
    # file, so consumed deletes stop applying to them
    added.append(_write_manifest(
        table_path, f"metadata/{stem}-m0.avro",
        manifest_entry_schema(part_fields), new_entries, default_sid, 0,
        snapshot_id, seq,
    ))
    summary = _summary("overwrite", app_id, batch_id, **clause_predicates([
        ("matched-predicates", when_matched or None),
        ("not-matched-predicates", when_not_matched or None),
        ("not-matched-by-source-predicates",
         when_not_matched_by_source or None),
    ]))
    return _commit_files(
        table_path, version, meta, stem, added, summary, carried=carried,
        next_row_id=lin_next,
    )


def delete_iceberg_keys(
    spark: SparkSession,
    table_path: str,
    key_col: str,
    keys: DataFrame,
    app_id: str = DEFAULT_APP_ID,
    batch_id: int | None = None,
) -> int:
    """MERGE-ON-READ DELETE by key: commit ONE equality-delete file
    (the distinct key set, written distributed — never collected) and
    a delete manifest; no data file is read or rewritten. The snapshot
    reader applies it as a sequence-gated anti-join, so rows appended
    AFTER this commit with the same keys stay alive — write
    amplification is O(distinct keys), the Iceberg-native GDPR-erasure
    shape. Upgrades the table metadata to format-version 2. Returns
    the committed metadata version (unchanged on a no-op or an
    idempotent redelivery).

    The copy-on-write alternative for Iceberg is ``merge_iceberg_batch``
    (rewrite the affected files); it composes with this one — a later
    merge reads its affected files with the deletes applied, stamps a
    higher data-sequence number on the rewrite, and carries the delete
    manifests forward for the files it did not touch."""
    prev_version, meta = _ice.open_iceberg_table(table_path)
    if meta is None:
        raise ValueError(f"iceberg delete: no table at {table_path}")
    _refuse_unpublished_branches(meta)
    if _applied(meta, app_id, batch_id):
        return prev_version
    fid, _ice_t = _key_field(meta, key_col)
    schema = iceberg_spark_schema(meta)
    kdf = keys.select(
        F.col(key_col).cast(schema[key_col].dataType).alias(key_col)
    ).distinct()
    version = prev_version + 1
    stem = f"{version:05d}-{uuid.uuid4().hex}"  # writer-unique names
    # Write amplification is O(distinct keys): one sorted file is the
    # normal erasure shape, a mass key erasure range-splits (VERDICT r9
    # item 4) and the anti-join reader consumes any number of
    # content=2 entries.
    kdf = kdf.localCheckpoint(eager=False)
    n_keys = int(kdf.count())
    if n_keys == 0:
        return prev_version
    entries = _write_delete_parquet(
        table_path, kdf, stem, "delete-eq", version, (key_col,), n_keys,
        content=2, equality_ids=[fid],  # EQUALITY_DELETES
    )
    return _commit_files(
        table_path, version, meta, stem,
        [_delete_manifest(table_path, meta, version, stem, entries)],
        _summary("delete", app_id, batch_id), fmt_floor=2,
    )


def delete_iceberg_positions(
    spark: SparkSession,
    table_path: str,
    key_col: str,
    keys: DataFrame,
    app_id: str = DEFAULT_APP_ID,
    batch_id: int | None = None,
    use_deletion_vectors: bool = False,
) -> int:
    """MERGE-ON-READ DELETE writing a POSITIONAL delete file (spec
    content=1): locate the matching rows' ``(data-file path, row
    position)`` identities and commit them as one sorted delete
    parquet + delete manifest — no data file is rewritten. This is the
    Iceberg twin of the Delta deletion-vector DELETE
    (streaming/delta_table.py ``use_deletion_vectors=True``), closing
    VERDICT-r7 item 2: write amplification is O(deleted positions).

    Shape: bounds-prune the data entries on the key (Appendix-D
    lower/upper bounds — only files that can hold a key are scanned),
    read the affected files through the merge-on-read path (existing
    positional/equality deletes APPLIED, so already-deleted rows are
    never re-listed), semi-join the keys, and project
    ``(_metadata-derived file path, row_index)``. One scan + one
    semi-join + one small write — constant jobs in file count.

    The delete file's rows are ``(file_path, pos)`` sorted by file
    then position as the spec requires (field-ids 2147483546 /
    2147483545); its manifest-list row stamps this commit's sequence
    number, and the reader's ``pseq >= dseq`` gate applies it to every
    current data file while rows appended AFTER this commit stay
    alive. Compaction (``compact_iceberg``) consumes and retires the
    file like any fixture-written positional delete."""
    from optimus_any2any_spark.sources.iceberg import (
        _prune_by_bounds,
        read_entries_with_deletes,
    )

    prev_version, meta = _ice.open_iceberg_table(table_path)
    if meta is None:
        raise ValueError(f"iceberg delete: no table at {table_path}")
    _refuse_unpublished_branches(meta)
    if _applied(meta, app_id, batch_id):
        return prev_version
    schema = iceberg_spark_schema(meta)
    kdf = (
        keys.select(
            F.col(key_col).cast(schema[key_col].dataType).alias(key_col)
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    # One bounded probe replaces the stats aggregate in the common
    # driver-sized case: limit(cap+1) both answers "does the distinct
    # key set fit" and, when it does, yields the rows to derive
    # n/kmin/kmax locally (NaN ordered greatest, exactly Spark's
    # float ordering). Only an over-cap key set pays the aggregate.
    probe = kdf.limit(_MAX_DRIVER_KEYS + 1).collect()
    n_keys = len(probe)
    if n_keys == 0:
        return prev_version
    if n_keys <= _MAX_DRIVER_KEYS:
        nonnull = sorted_keys(r[0] for r in probe)
        kmin = nonnull[0] if nonnull else None
        kmax = nonnull[-1] if nonnull else None
    else:
        krow = kdf.agg(
            F.count(F.lit(1)).alias("n"),
            F.min(key_col).alias("kmin"),
            F.max(key_col).alias("kmax"),
        ).collect()[0]
        n_keys = krow["n"]
        kmin, kmax = krow["kmin"], krow["kmax"]

    data, pos_del, eq_del = _snapshot_entries(table_path, meta)
    if kmin is not None:
        data = _prune_by_bounds(meta, data, key_col, kmin, kmax)
    if not data:
        return prev_version
    # guarded names: the table schema may itself have file_path/pos
    cur = read_entries_with_deletes(
        spark, meta, schema, data, pos_del, eq_del,
        position_cols=("__del_fp", "__del_pos"),
    )
    matching = (
        cur.join(F.broadcast(kdf), key_col, "left_semi")
        if n_keys <= _MAX_DRIVER_KEYS
        else cur.join(kdf, key_col, "left_semi")
    ).select(
        F.col("__del_fp").alias("file_path"),
        F.col("__del_pos").alias("pos"),
    )

    version = prev_version + 1
    stem = f"{version:05d}-{uuid.uuid4().hex}"  # writer-unique names
    matching = matching.localCheckpoint(eager=False)
    n_pos = matching.count()
    if n_pos == 0:  # no row matched: burn no version
        return prev_version
    return _commit_position_deletes(
        table_path, version, meta, stem, matching, n_pos,
        use_deletion_vectors, _summary("delete", app_id, batch_id),
    )


def _commit_position_deletes(
    table_path, version, meta, stem, matching, n_pos,
    use_deletion_vectors, summary, added=(), next_row_id=None,
):
    """Commit the ``(file_path, pos)`` rows of ``matching`` as
    positional-delete parquet or (``use_deletion_vectors``) a Puffin
    deletion-vector file, after any ``added`` manifest-list rows (the
    MoR UPDATE's new-data manifest, whose rows advance the table's
    ``next-row-id`` to ``next_row_id``)."""
    if use_deletion_vectors:
        # FORMAT-V3 DELETION VECTORS: the true v3 twin of the Delta DV
        # delete; the reader side shipped first (_puffin_dv_ref), so
        # self-written DVs round-trip through merge/compaction like
        # fixture ones
        entries = _write_dv_delete_files(
            table_path, matching, stem, version, _commit_seq(meta, version)
        )
    else:
        # the spec requires delete rows sorted by (file_path, pos)
        # WITHIN each delete file; a mass delete range-splits by
        # (file_path, pos) and reader and compaction consume any
        # number of content=1 entries (VERDICT r8 item 7)
        entries = _write_delete_parquet(
            table_path, matching, stem, "delete-pos", version,
            ("file_path", "pos"), n_pos,
            content=1, equality_ids=None,  # POSITION_DELETES
        )
    return _commit_files(
        table_path, version, meta, stem,
        list(added)
        + [_delete_manifest(table_path, meta, version, stem, entries)],
        summary, fmt_floor=3 if use_deletion_vectors else 2,
        next_row_id=next_row_id,
    )


def _write_dv_delete_files(table_path, matching, stem, snapshot_id, seq):
    """The v3 deletion-vector form: per referenced data file, the
    deleted positions encode as one Roaring portable64 bitmap framed
    as a deletion-vector-v1 blob (formats/puffin.py), all blobs in
    ONE Puffin sidecar. Encode runs on executors; the driver only
    sees (file_path, compressed blob, cardinality) — one row per
    DV'd file."""
    import pandas  # noqa: F401  (annotation resolution)

    globals().setdefault("pandas", pandas)
    from optimus_any2any_spark import ship_by_value
    from optimus_any2any_spark.formats import puffin as _puffin

    ship_by_value()
    dv_puffin_blob = _puffin.dv_puffin_blob

    def _encode(pdf: pandas.DataFrame) -> pandas.DataFrame:
        import pandas as _pd

        positions = sorted(int(v) for v in pdf["pos"])
        return _pd.DataFrame(
            {
                "file_path": [pdf["file_path"].iloc[0]],
                "blob": [dv_puffin_blob(positions)],
                "cardinality": [len(set(positions))],
            }
        )

    enc_rows = sorted(
        matching.groupBy("file_path")
        .applyInPandas(
            _encode, "file_path string, blob binary, cardinality long"
        )
        .collect(),
        key=lambda r: r["file_path"],
    )
    return _write_dv_file(
        table_path, stem, snapshot_id, seq,
        [(r["file_path"], bytes(r["blob"]), r["cardinality"])
         for r in enc_rows],
    )


def _global_delete_spec_id(meta: dict) -> int:
    """The spec id a GLOBAL delete manifest must reference. Delete
    files written here carry an EMPTY partition record, which per the
    format is only legal under an UNPARTITIONED spec — on a
    partitioned table the writer appends one to ``partition-specs``
    (mutating ``meta``, which the delete commit re-serializes anyway)
    rather than mis-stamping the partitioned default (the spec's
    "global deletes are written as delete files with an unpartitioned
    spec" rule)."""
    specs = list(meta.get("partition-specs") or [])
    if not specs:
        legacy = meta.get("partition-spec") or []
        if not legacy:
            return int(meta.get("default-spec-id", 0))
        specs = [{"spec-id": 0, "fields": legacy}]
        meta["partition-specs"] = specs
    for sp in specs:
        if not (sp.get("fields") or []):
            return int(sp["spec-id"])
    new_sid = max(int(sp["spec-id"]) for sp in specs) + 1
    meta["partition-specs"] = specs + [{"spec-id": new_sid,
                                        "fields": []}]
    return new_sid


def _resolve_entry_lineage(
    table_path: str, meta: dict, entries: list[dict]
) -> None:
    """Materialize inherited ``first_row_id`` on RAW manifest entries
    (data files only) before a rewrite re-lists them: under the NEW
    manifest a null would mis-inherit from the new snapshot's
    first-row-id, shifting every derived row id. One reader-identical
    metadata walk (sources.iceberg._snapshot_entries resolves the
    spec's inheritance) fills the values in place; entries that stay
    null afterwards are genuinely unassignable and the callers'
    guards refuse by name."""
    missing = [
        e
        for e in entries
        if int(e["data_file"].get("content") or 0) == 0
        and e["data_file"].get("first_row_id") is None
    ]
    if not missing:
        return
    from optimus_any2any_spark.sources.iceberg import (
        _snapshot_entries,
    )

    data, _pd, _ed = _snapshot_entries(table_path, meta)
    by_path = {d["orig"]: d.get("first_row_id") for d in data}
    for e in missing:
        fri = by_path.get(e["data_file"]["file_path"])
        if fri is not None:
            e["data_file"]["first_row_id"] = int(fri)


def delete_iceberg_where(
    spark: SparkSession,
    table_path: str,
    where: str,
    use_deletion_vectors: bool = False,
) -> int | None:
    """``DELETE FROM t WHERE <predicate>`` — predicate DML, the
    Iceberg twin of ``delete_delta_where`` expressed the
    Iceberg-native way: MERGE-ON-READ. One scan evaluates the
    predicate over the live rows (prior positional/equality deletes
    applied, so an already-deleted row is never re-deleted) and the
    matching rows' ``(data-file path, position)`` identities commit
    as positional-delete files (spec content=1) — or format-v3
    deletion vectors with ``use_deletion_vectors=True`` — without
    rewriting a single data byte. Write amplification is O(matched
    rows); an untouched data file is never read twice because the
    positions come from the same scan that evaluated the predicate.
    Null predicates keep the row (SQL three-valued DELETE). Returns
    the committed metadata version, or None when nothing matched (no
    version burned). The snapshot summary records the predicate."""
    from optimus_any2any_spark.sources.iceberg import (
        read_entries_with_deletes,
    )

    prev_version, meta = _ice.open_iceberg_table(table_path)
    if meta is None:
        raise ValueError(f"iceberg delete: no table at {table_path}")
    schema = iceberg_spark_schema(meta)
    data, pos_del, eq_del = _snapshot_entries(table_path, meta)
    if not data:
        return None
    cur = read_entries_with_deletes(
        spark, meta, schema, data, pos_del, eq_del,
        position_cols=("__del_fp", "__del_pos"),
    )
    hit = F.coalesce(F.expr(where), F.lit(False))
    matching = (
        cur.filter(hit)
        .select(
            F.col("__del_fp").alias("file_path"),
            F.col("__del_pos").alias("pos"),
        )
        .localCheckpoint(eager=False)
    )
    n_pos = matching.count()
    if n_pos == 0:
        return None
    version = prev_version + 1
    return _commit_position_deletes(
        table_path, version, meta, f"{version:05d}-{uuid.uuid4().hex}",
        matching, n_pos, use_deletion_vectors,
        {"operation": "delete", "predicate": where},
    )


def update_iceberg_where(
    spark: SparkSession,
    table_path: str,
    set: dict,
    where: str | None = None,
    use_deletion_vectors: bool = False,
    target_rows_per_file: int = 1_000_000,
) -> int | None:
    """``UPDATE t SET col = expr[, ...] WHERE <predicate>`` — the
    Iceberg twin of ``update_delta_where``, expressed as the spec's
    merge-on-read UPDATE: ONE snapshot that (a) positional-deletes the
    matched rows from their current files and (b) appends new data
    files holding the updated rows. No unmatched byte rewrites; write
    amplification is O(matched rows) on both sides. One scan feeds
    both halves (the matched frame is checkpointed once). SET
    expressions all read the PRE-update row (a single projection), and
    rows whose predicate is false or null pass through untouched
    because their files are not rewritten at all — merge-on-read makes
    the Delta twin's "untouched files carry over byte-identical"
    property trivially true for MATCHED files too.

    Partition handling falls out of the delete+append shape: appended
    rows recompute their partition tuple from the UPDATED values under
    the DEFAULT spec, so assigning a partition source column performs
    row migration natively (the Delta twin must refuse that — its
    copy-on-write rewrite pins rows to their files' partitions).
    Returns the committed version, or None when nothing matched."""
    from optimus_any2any_spark.sources.iceberg import (
        read_entries_with_deletes,
    )
    from optimus_any2any_spark.sources.iceberg_transforms import (
        avro_type_of_result,
    )

    if not set or not isinstance(set, dict):
        raise ValueError("iceberg update: SET needs {col: value_sql}")
    prev_version, meta = _ice.open_iceberg_table(table_path)
    if meta is None:
        raise ValueError(f"iceberg update: no table at {table_path}")
    schema = iceberg_spark_schema(meta)
    for c in set:
        if c not in schema.fieldNames():
            raise ValueError(f"iceberg update: unknown column {c!r}")
    by_id = _current_schema_fields(meta)
    specs = meta.get("partition-specs") or []
    default_sid = int(meta.get("default-spec-id", 0))
    default_spec = next(
        (s for s in specs if int(s.get("spec-id", 0)) == default_sid),
        None,
    )
    if default_spec is None and meta.get("partition-spec"):
        default_spec = {"spec-id": 0,
                        "fields": meta["partition-spec"]}
    pspec = _parse_pspec(default_spec, by_id, "update")
    part_names = [p["name"] for p in pspec]
    part_fields = [
        (p["name"], avro_type_of_result(p["res_type"])) for p in pspec
    ]

    data, pos_del, eq_del = _snapshot_entries(table_path, meta)
    if not data:
        return None
    cur = read_entries_with_deletes(
        spark, meta, schema, data, pos_del, eq_del,
        position_cols=("__del_fp", "__del_pos"),
    )
    pred = F.expr(where) if where else F.lit(True)
    hit = F.coalesce(pred, F.lit(False))
    matched = cur.filter(hit).localCheckpoint(eager=False)
    n_upd = matched.count()
    if n_upd == 0:
        return None

    version = prev_version + 1
    stem = f"{version:05d}-{uuid.uuid4().hex}"  # writer-unique names

    # ---- append half: the updated rows, routed by their (possibly
    # new) partition tuple under the default spec ----
    type_of = {f.name: f.dataType for f in schema.fields}
    updated = matched.select(
        *[
            F.expr(set[c]).cast(type_of[c]).alias(c)
            if c in set
            else F.col(c)
            for c in schema.fieldNames()
        ]
    )
    if pspec:
        routed, ptuples, single = _route(
            updated, pspec, schema.fieldNames()
        )
    else:
        ptuples, single = [()], True
        routed = with_pid(updated, None, [], schema.fieldNames())
    tmp = _staging(table_path, "update", stem)
    write_merged(
        routed, schema.fieldNames()[0], n_upd, target_rows_per_file, tmp,
        single,
    )
    files = _publish_parts(
        table_path, tmp, local_parts(tmp, single), stem, "update",
        part_names, ptuples,
    )
    # v3 row lineage: delete+insert UPDATE legitimately mints fresh
    # row ids for the re-appended rows (the spec's lineage contract
    # for MoR updates); survivors' ids never move because their
    # files and positions are untouched
    lineage = meta.get("next-row-id") is not None
    new_entries, nxt_row = _file_entries(
        spark, table_path, files, version,
        row_id=int(meta["next-row-id"]) if lineage else None,
    )
    # new files inherit this commit's sequence: the delete half (same
    # seq) never touches them because its rows reference only the OLD
    # file paths
    data_row = _write_manifest(
        table_path, f"metadata/{stem}-m1.avro",
        manifest_entry_schema(part_fields), new_entries, default_sid, 0,
        version, _commit_seq(meta, version),
    )

    # ---- delete half: the matched rows' current identities ----
    positions = matched.select(
        F.col("__del_fp").alias("file_path"),
        F.col("__del_pos").alias("pos"),
    )
    return _commit_position_deletes(
        table_path, version, meta, stem, positions, n_upd,
        use_deletion_vectors,
        {
            "operation": "overwrite",
            "predicate": where or "true",
            "updated-columns": json.dumps(sorted(set)),
        },
        added=[data_row], next_row_id=nxt_row,
    )


def compact_iceberg(
    spark: SparkSession,
    table_path: str,
    target_rows_per_file: int = 1_000_000,
    key_col: str | None = None,
    zorder_by: list[str] | None = None,
) -> int | None:
    """Iceberg compaction (the spec's ``rewrite_data_files`` /
    OPTIMIZE): per partition, rewrite groups of ≥2 undersized live
    data files into ``target_rows_per_file``-sized ones and commit a
    ``replace`` snapshot. Row-level deletes COMPOSE: compacted files
    are read with their positional/equality deletes applied (the same
    sequence-gated anti-joins the reader runs) and the rewrite's
    higher data-sequence number retires the consumed deletes for those
    files; delete manifests carry forward verbatim for everything
    untouched, and survivor entries keep their ORIGINAL sequence
    numbers. One read + one ``partitionBy(__pid)`` write + one grouped
    stats pass — constant Spark jobs in files and partitions, the
    shape of ``compact_delta``. ``key_col`` leads the re-cluster sort
    and the recorded bounds so post-compaction merges keep pruning.
    Returns the committed version, or None when no partition had two
    undersized files.

    ``zorder_by=[col, ...]`` is the ZORDER strategy of Iceberg's
    ``rewrite_data_files``: EVERY live default-spec file rewrites
    (partition evolution still carries old-spec manifests whole),
    routed on the shared Morton key over quantile buckets
    (``streaming/delta_table._with_zorder_value`` — the row algebra
    is format-agnostic), and the manifest entries record Appendix-D
    lower/upper bounds for EVERY z-ordered column so
    ``read_iceberg(key_range=...)`` prunes on any of them. Identity
    partition sources refuse (files never span identity partitions);
    transform sources (days/bucket/truncate) z-order fine — the
    within-partition residual is exactly what the curve tightens.
    The snapshot summary records ``zorder-by``."""
    from optimus_any2any_spark.sources.iceberg_transforms import (
        avro_type_of_result,
    )

    prev_version, meta = _ice.open_iceberg_table(table_path)
    if meta is None:
        raise ValueError(f"iceberg optimize: no table at {table_path}")
    # row-lineage tables compact WITH lineage preservation: carried
    # rows' _row_id / _last_updated_sequence_number MATERIALIZE as
    # physical columns in the rewritten files (the spec's rewrite
    # contract) — the lineage read coalesces them over the derived
    # first_row_id + position values
    _refuse_unpublished_branches(meta)
    lineage = meta.get("next-row-id") is not None
    schema = iceberg_spark_schema(meta)
    by_id = _current_schema_fields(meta)
    specs = meta.get("partition-specs") or []
    default_spec = next(
        (s for s in specs if s.get("spec-id") == meta.get(
            "default-spec-id", 0)),
        None,
    )
    pspec = _parse_pspec(default_spec, by_id, "optimize")
    part_names = [p["name"] for p in pspec]
    part_fields = [
        (p["name"], avro_type_of_result(p["res_type"])) for p in pspec
    ]
    stat_fields: list[tuple[str, int, str]] = []
    if key_col is not None:
        fid, ice_t = _key_field(meta, key_col)
        stat_fields.append((key_col, fid, ice_t))
    if zorder_by:
        names = set(schema.fieldNames())
        for c in zorder_by:
            if c not in names:
                raise ValueError(
                    f"iceberg optimize: unknown ZORDER column {c!r}"
                )
            for pp in pspec:
                if pp["transform"] == "identity" and pp["src"] == c:
                    raise ValueError(
                        f"iceberg optimize: ZORDER BY identity "
                        f"partition source {c!r} is meaningless — "
                        "files never span identity partitions"
                    )
        # bounds for EVERY z-ordered column — without them the curve
        # cannot prune anything
        for c in zorder_by:
            if c not in [n for n, _f, _t in stat_fields]:
                stat_fields.append((c, *_key_field(meta, c)))

    snaps = meta.get("snapshots") or []
    cur_snap_id = meta.get("current-snapshot-id")
    manifests: list[dict] = []
    if cur_snap_id not in (None, -1) and snaps:
        snap = next(s for s in snaps if s["snapshot-id"] == cur_snap_id)
        _, manifests = read_container(
            _localize(table_path, snap["manifest-list"])
        )

    # first pass: which (partition tuple) groups have >=2 undersized
    # live data files
    sizes: dict[tuple, int] = {}
    # (ml row, entries, max delete seq, any positional delete)
    walked: list[tuple[dict, list[dict], int, bool]] = []
    pos_del: list[dict] = []
    eq_del: list[dict] = []
    _pf_cache: dict = {}  # one Puffin footer parse per DV file
    for m in manifests:
        _, entries = read_container(
            _localize(table_path, m["manifest_path"])
        )
        dmax, has_pos = 0, False
        for e in entries:
            if int(e.get("status") or 0) == _ST_DELETED:
                continue
            kind, ent = _classify_entry(table_path, m, e, _pf_cache)
            if kind != "data":
                (pos_del if kind == "pos" else eq_del).append(ent)
                dmax = max(dmax, ent["seq"])
                has_pos = has_pos or kind == "pos"
                continue
            df_ = e["data_file"]
            # ZORDER rewrites every live default-spec file —
            # re-clustering is the point (rewrite_data_files zorder)
            if zorder_by or (
                int(df_.get("record_count") or 0) < target_rows_per_file
            ):
                pdict = df_.get("partition") or {}
                pt = tuple(pdict.get(n) for n in part_names)
                sizes[pt] = sizes.get(pt, 0) + 1
        walked.append((m, entries, dmax, has_pos))
    todo = {
        pt
        for pt, n in sizes.items()
        if n >= (1 if zorder_by else 2)
    }
    if not todo:
        return None

    ptuples = sorted(todo, key=str)
    pid_of = {pt: i for i, pt in enumerate(ptuples)}
    single = len(ptuples) == 1

    carried: list[dict] = []
    # delete manifests carry forward UNLESS the rewrite retires them:
    # after compaction every remaining data file may outrank a delete
    # file, at which point carrying it means one dead anti-join on
    # every future read — record (row, max seq, kinds) to decide below
    del_manifests: list[tuple[dict, int, bool]] = []
    hit_entries: list[dict] = []
    hit_seqs: list[int] = []
    hit_sids: list[int] = []
    hit_pids: list[int] = []
    survivors: list[dict] = []
    untouched_seqs: list[int] = []  # live data entries NOT rewritten
    total_rows = 0
    for m, entries, dmax, has_pos in walked:
        if int(m.get("content") or 0) == 1:
            del_manifests.append((m, dmax, has_pos))
            continue
        if int(m.get("partition_spec_id") or 0) != int(
            meta.get("default-spec-id", 0)
        ):
            # partition evolution: an old-spec file's tuple is in
            # another spec's coordinates — tuple-matching it against
            # the current spec's bins would misroute rows into wrong
            # partitions. Old-spec manifests carry whole (their seqs
            # still gate delete-manifest retirement); a MERGE rewrite
            # migrates their files to the current spec.
            for e in entries:
                if int(e.get("status") or 0) != _ST_DELETED:
                    untouched_seqs.append(_eff_seq(e, m))
            carried.append(m)
            continue
        hits: list[tuple[dict, int]] = []
        misses: list[dict] = []
        for e in entries:
            if int(e.get("status") or 0) == _ST_DELETED:
                continue
            df_ = e["data_file"]
            pdict = df_.get("partition") or {}
            pt = tuple(pdict.get(n) for n in part_names)
            if pt in todo and (
                zorder_by
                or int(df_.get("record_count") or 0)
                < target_rows_per_file
            ):
                hits.append((e, pid_of[pt]))
            else:
                misses.append(e)
                untouched_seqs.append(_eff_seq(e, m))
        if not hits:
            carried.append(m)
        else:
            for e, pid in hits:
                hit_entries.append(e)
                hit_seqs.append(_eff_seq(e, m))
                hit_sids.append(int(m.get("partition_spec_id") or 0))
                hit_pids.append(pid)
                total_rows += int(e["data_file"]["record_count"])
            for e in misses:
                e2 = dict(e)
                e2["sequence_number"] = _eff_seq(e, m)
                survivors.append(e2)

    if lineage:
        _resolve_entry_lineage(
            table_path, meta, hit_entries + survivors
        )

    version = prev_version + 1
    snapshot_id = version
    stem = f"{version:05d}-{uuid.uuid4().hex}"  # writer-unique names
    seq = _commit_seq(meta, version)

    # a delete file gates data files with a LOWER sequence (equality:
    # strictly lower; positional: lower-or-equal). After this commit
    # the lowest data sequence is min(survivor seqs, the new seq) —
    # any delete manifest that can no longer apply to ANYTHING is
    # dropped here instead of anti-joining every future read
    min_data_seq = min([seq] + untouched_seqs)
    for m, dmax, has_pos in del_manifests:
        dead = (
            min_data_seq > dmax if has_pos else min_data_seq >= dmax
        )
        if not dead:
            carried.append(m)

    # read the compacted files (deletes applied) and route rows back
    # to their partition by source FILE — no transform recompute
    # needed, a file belongs to exactly one partition tuple
    cur = _ice.read_entries_with_deletes(
        spark, meta, schema,
        _hit_files(table_path, hit_entries, hit_seqs, hit_sids),
        pos_del, eq_del,
        file_cols=None if single else (
            "__pid int",
            {
                e["data_file"]["file_path"]: (pid,)
                for e, pid in zip(hit_entries, hit_pids)
            },
        ),
        lineage=lineage,
    )
    n_files = max(1, -(-max(total_rows, 1) // target_rows_per_file))
    tmp = _staging(table_path, "compact", stem)
    if zorder_by:
        from optimus_any2any_spark.streaming.delta_table import (
            _with_zorder_value,
        )

        cur = _with_zorder_value(cur, zorder_by, schema)
        sort_cols = [F.col("__zv")]
    else:
        sort_cols = [F.col(key_col)] if key_col is not None else []
    if single:
        out_df = cur
        if sort_cols:
            out_df = out_df.repartitionByRange(n_files, *sort_cols)
        else:
            out_df = out_df.coalesce(n_files)
        if zorder_by:
            out_df = out_df.sortWithinPartitions("__zv").drop("__zv")
        elif key_col is not None:
            # the declared sort order must be TRUE within each file,
            # not an artifact of range-partition concatenation
            out_df = out_df.sortWithinPartitions(key_col)
        out_df.write.mode("overwrite").parquet(tmp)
    else:
        out_df = cur.repartitionByRange(
            n_files, F.col("__pid"), *sort_cols
        )
        if zorder_by:
            out_df = out_df.sortWithinPartitions(
                "__pid", "__zv"
            ).drop("__zv")
        elif key_col is not None:
            out_df = out_df.sortWithinPartitions("__pid", key_col)
        (
            out_df
            .write.partitionBy("__pid")
            .mode("overwrite")
            .parquet(tmp)
        )
    files = _publish_parts(
        table_path, tmp, local_parts(tmp, single), stem, "compact",
        part_names, ptuples,
    )

    # declared SORT ORDER (spec §Sort Orders): a key_col compaction
    # writes files truly sorted by the key, so the table declares
    # (or reuses) the matching identity-asc order and the new entries
    # stamp its id — real clients can then plan merge-sorted reads
    sort_oid = None
    if key_col is not None and not zorder_by:
        orders = list(
            meta.get("sort-orders") or [{"order-id": 0, "fields": []}]
        )
        want = [
            {
                "transform": "identity",
                "source-id": fid,
                "direction": "asc",
                "null-order": "nulls-first",
            }
        ]
        ex = next(
            (o for o in orders if o.get("fields") == want), None
        )
        if ex is None:
            sort_oid = max(int(o["order-id"]) for o in orders) + 1
            orders = orders + [
                {"order-id": sort_oid, "fields": want}
            ]
        else:
            sort_oid = int(ex["order-id"])
        meta["sort-orders"] = orders
        meta["default-sort-order-id"] = sort_oid

    new_entries, lin_next = _file_entries(
        spark, table_path, files, snapshot_id, stat_fields,
        # spec formality: every row of a rewritten file carries a
        # materialized _row_id, so these fresh ids go unused — but
        # entries must still be assigned (and the lineage reader
        # requires explicit values)
        row_id=int(meta["next-row-id"]) if lineage else None,
        sort_order_id=sort_oid,
    )
    for e in survivors:
        e = dict(e)
        e["status"] = _ST_EXISTING
        new_entries.append(e)
    added = [_write_manifest(
        table_path, f"metadata/{stem}-m0.avro",
        manifest_entry_schema(part_fields), new_entries,
        int(meta.get("default-spec-id", 0)), 0, snapshot_id, seq,
    )]
    summary = {"operation": "replace"}
    if zorder_by:
        summary["zorder-by"] = json.dumps(list(zorder_by))
    return _commit_files(
        table_path, version, meta, stem, added, summary, carried=carried,
        next_row_id=lin_next,
    )


def rewrite_iceberg_manifests(
    spark: SparkSession,
    table_path: str,
    min_manifests: int = 2,
) -> int | None:
    """``rewrite_manifests`` (Iceberg's manifest compaction): merge
    the current snapshot's DATA manifests into ONE manifest per
    partition spec — pure driver metadata work, zero data IO. On a
    long-lived table every commit adds a manifest, and planning cost
    is O(manifests) avro opens; after the rewrite it is O(specs).
    Entries re-list with status EXISTING, their ORIGINAL data
    sequence numbers EXPLICIT (v2 inheritance would otherwise
    re-stamp them under the new snapshot and un-gate older delete
    files), their original snapshot ids kept, and row-lineage
    first_row_id resolved/preserved. Delete manifests carry verbatim.
    The commit is a ``replace`` snapshot with no data change — the
    changelog and the streams emit NOTHING for it. Returns the new
    metadata version, or None when fewer than ``min_manifests`` data
    manifests exist (nothing to gain ⇒ no version burn)."""
    prev_version, meta = _ice.open_iceberg_table(table_path)
    if meta is None:
        raise ValueError(
            f"iceberg rewrite_manifests: no table at {table_path}"
        )
    _refuse_unpublished_branches(meta)
    snaps = meta.get("snapshots") or []
    cur_id = meta.get("current-snapshot-id")
    if cur_id in (None, -1) or not snaps:
        return None
    cur = next(s for s in snaps if s["snapshot-id"] == cur_id)
    _, manifests = read_container(
        _localize(table_path, cur["manifest-list"])
    )
    data_rows = [
        m for m in manifests if int(m.get("content") or 0) == 0
    ]
    if len(data_rows) < min_manifests:
        return None
    other_rows = [
        m for m in manifests if int(m.get("content") or 0) != 0
    ]
    version = prev_version + 1
    stem = f"{version:05d}-{uuid.uuid4().hex}"  # writer-unique names
    lineage = meta.get("next-row-id") is not None

    # group by spec id: a manifest serializes ONE partition spec
    by_spec: dict[int, list[tuple[dict, dict, dict]]] = {}
    schema_of_spec: dict[int, dict] = {}
    for m in data_rows:
        sid = int(m.get("partition_spec_id") or 0)
        esch, entries = read_container(
            _localize(table_path, m["manifest_path"])
        )
        schema_of_spec.setdefault(sid, esch)
        for e in entries:
            if int(e.get("status") or 0) == 2:  # DELETED
                continue
            by_spec.setdefault(sid, []).append((e, m, esch))
    new_rows: list[dict] = []
    for sid, triples in sorted(by_spec.items()):
        merged = []
        for e, m, _esch in triples:
            e2 = dict(e)
            e2["status"] = 0  # EXISTING: explicit seq, kept snapshot
            e2["sequence_number"] = _eff_seq(e, m)
            merged.append(e2)
        if lineage:
            _resolve_entry_lineage(table_path, meta, merged)
        esch = json.loads(json.dumps(schema_of_spec[sid]))
        names = {f["name"] for f in esch["fields"]}
        if "sequence_number" not in names:
            esch["fields"].append(
                {"name": "sequence_number",
                 "type": ["null", "long"],
                 "default": None, "field-id": 3}
            )
        if lineage:
            # the resolved ids must SERIALIZE — a null under the new
            # manifest would mis-inherit from this snapshot's base
            dft = next(
                f for f in esch["fields"] if f["name"] == "data_file"
            )["type"]
            df_names = {f["name"] for f in dft["fields"]}
            if "first_row_id" not in df_names:
                dft["fields"].append(
                    {"name": "first_row_id",
                     "type": ["null", "long"],
                     "default": None, "field-id": 142}
                )
        new_rows.append(_write_manifest(
            table_path, f"metadata/{stem}-m0-s{sid}.avro", esch, merged,
            sid, 0, version,
            None,  # entries carry their seqs explicitly; none inherit
            added_rows_count=0,
            existing_rows_count=sum(
                int(e["data_file"].get("record_count") or 0)
                for e in merged
            ),
            first_row_id=None,
        ))
    return _commit_files(
        table_path, version, meta, stem, new_rows,
        {
            "operation": "replace",
            "rewritten-manifests": str(len(data_rows)),
            "added-manifests": str(len(new_rows)),
        },
        carried=other_rows,
    )


def expire_iceberg_snapshots(
    spark: SparkSession,
    table_path: str,
    keep_last: int = 1,
    older_than=None,
    now_ms: int | None = None,
) -> list[str]:
    """``expire_snapshots``: drop all but the newest ``keep_last``
    snapshots from the table metadata and DELETE every file (manifest
    list, manifest, data / delete file) referenced ONLY by the expired
    snapshots — the maintenance op that bounds metadata growth and
    reclaims compacted/rewritten bytes, the Iceberg twin of
    ``vacuum_delta``. Time travel to an expired snapshot then raises
    (its metadata row is gone), exactly like the spec's expiration;
    expired snapshots' ``snapshot-log`` entries are removed too, so
    timestamp travel never resolves to missing data. Returns the
    table-relative paths removed. Driver metadata work only — no
    Spark job.

    ``older_than`` (epoch-ms / ISO string / datetime) switches to
    AGE-based expiration — Iceberg's ``expireOlderThan`` composed with
    ``retainLast``: only snapshots whose ``timestamp-ms`` is strictly
    before the cutoff expire, and the newest ``keep_last`` are always
    retained regardless of age.

    Refs carrying the spec's ``max-ref-age-ms`` (``set_iceberg_ref``)
    age out FIRST: a non-main ref whose pointed-at snapshot is older
    than its limit (vs ``now_ms``, default wall clock) is dropped in
    the same expiration commit, releasing its snapshots to the
    ordinary retention rules — Iceberg's bounded-life tags."""
    if keep_last < 1:
        raise ValueError("iceberg expire: keep_last must be >= 1")
    prev_version, meta = _ice.open_iceberg_table(table_path)
    if meta is None:
        raise ValueError(f"iceberg expire: no table at {table_path}")
    snaps = meta.get("snapshots") or []
    # snapshots referenced by a tag or branch are PROTECTED (spec
    # "Snapshot References": expiration respects refs until dropped).
    # For a BRANCH the protection extends to its whole unpublished
    # ancestor closure (commits staged off main): expiring a mid-chain
    # branch snapshot would break the publish fast-forward walk.
    # Main-chain ancestors stay expirable under normal retention.
    from optimus_any2any_spark.sources.iceberg import (
        iceberg_main_chain,
    )

    by_sid = {s["snapshot-id"]: s for s in snaps}
    _chain_ids = [
        s["snapshot-id"] for s in iceberg_main_chain(meta)
    ]
    main_ids = set(_chain_ids)
    # max-ref-age-ms: aged-out non-main refs drop BEFORE protection,
    # so their snapshots fall through to the ordinary retention rules
    live_refs = dict(meta.get("refs") or {})
    aged_out: list[str] = []
    if any(
        r.get("max-ref-age-ms") is not None
        for n, r in live_refs.items()
        if n != "main"
    ):
        if now_ms is None:
            import time as _time

            now_ms = int(_time.time() * 1000)
        for name, r in list(live_refs.items()):
            mra = r.get("max-ref-age-ms")
            if name == "main" or mra is None:
                continue
            head = by_sid.get(int(r["snapshot-id"]))
            ts = int((head or {}).get("timestamp-ms") or 0)
            if int(now_ms) - ts > int(mra):
                aged_out.append(name)
                del live_refs[name]
    protected: set[int] = set()
    for r in live_refs.values():
        sid = int(r["snapshot-id"])
        protected.add(sid)
        while (
            sid in by_sid
            and sid not in main_ids
        ):
            protected.add(sid)
            sid = by_sid[sid].get("parent-snapshot-id")
            if sid is None:
                break
            sid = int(sid)
    # retention counts on MAIN history: the newest keep_last
    # main-chain snapshots stay; branch-staged snapshots don't consume
    # retention slots (they're ref-protected above) and orphans from
    # dropped branches are plain expiry candidates
    retain = set(_chain_ids[-keep_last:])
    candidates = [
        s
        for s in snaps
        if s["snapshot-id"] not in retain
        and s["snapshot-id"] not in protected
    ]
    if older_than is not None:
        from optimus_any2any_spark.sources.delta import _to_epoch_millis

        cutoff = _to_epoch_millis(older_than)
        expired = [
            s
            for s in candidates
            if int(s.get("timestamp-ms") or 0) < cutoff
        ]
    else:
        expired = candidates
    if not expired and not aged_out:
        return []
    if not expired:
        # only refs aged out this run: persist the ref drop as its
        # own metadata version (no files to delete)
        meta = dict(meta)
        meta["refs"] = live_refs
        publish_iceberg_metadata(table_path, prev_version + 1, meta)
        return []
    expired_ids = {s["snapshot-id"] for s in expired}
    keep = [s for s in snaps if s["snapshot-id"] not in expired_ids]
    cur_id = meta.get("current-snapshot-id")
    if cur_id not in {s["snapshot-id"] for s in keep}:
        raise ValueError(
            "iceberg expire: keep_last would expire the CURRENT "
            "snapshot"
        )

    def _refs(snapshot: dict) -> set[str]:
        out: set[str] = set()
        ml = snapshot.get("manifest-list")
        if ml is None:
            for p in snapshot.get("manifests", []):
                out.add(p)
            manifests = [
                {"manifest_path": p} for p in snapshot.get("manifests", [])
            ]
        else:
            out.add(ml)
            _, manifests = read_container(_localize(table_path, ml))
        for m in manifests:
            mp = m["manifest_path"]
            out.add(mp)
            _, entries = read_container(_localize(table_path, mp))
            for e in entries:
                if int(e.get("status") or 0) == _ST_DELETED:
                    continue
                out.add(e["data_file"]["file_path"])
        return out

    # compute EVERY reference set before deleting anything — expired
    # snapshots may share manifests, and reading one after its file
    # was removed for a sibling would crash mid-expire
    kept_refs: set[str] = set()
    for s in keep:
        kept_refs |= _refs(s)
    expired_refs: set[str] = set()
    for s in expired:
        expired_refs |= _refs(s)
    meta = dict(meta)
    meta["snapshots"] = keep
    if aged_out:
        meta["refs"] = live_refs
    kept_ids = {s["snapshot-id"] for s in keep}
    if meta.get("snapshot-log"):
        meta["snapshot-log"] = [
            e
            for e in meta["snapshot-log"]
            if e.get("snapshot-id") in kept_ids
        ]
    # commit first, delete after: a writer that loses the publish race
    # has removed nothing the winner's metadata may still reference
    publish_iceberg_metadata(table_path, prev_version + 1, meta)
    gone: list[str] = []
    for ref in sorted(expired_refs - kept_refs):
        full = _localize(table_path, ref)
        if os.path.exists(full):
            os.remove(full)
            gone.append(ref)
    return gone


def remove_iceberg_orphan_files(
    spark: SparkSession,
    table_path: str,
    older_than=None,
    dry_run: bool = False,
) -> list[str]:
    """``remove_orphan_files`` (VERDICT r12 item 6): delete files
    under the TABLE LOCATION that no table metadata references —
    crashed writes, abandoned ``_tmp-ice-*`` staging, files whose
    commit never landed. ``expire_iceberg_snapshots`` removes what
    expired snapshots referenced; this sweeps what NOTHING ever
    referenced. Returns the removed (or, with ``dry_run=True``, the
    would-be-removed) table-relative paths. Driver metadata work
    only — no Spark job.

    Safety discipline (the add_files twin rules):
    - The reference set unions EVERY on-disk metadata version's
      snapshot walk (manifest lists → manifests → all entries,
      deleted-status included) — anything any retained metadata can
      reach survives, branches and tags included.
    - Metadata control files (``*.metadata.json``,
      ``version-hint.text``) are never candidates.
    - Files OUTSIDE the table location are never touched — a
      hive-registered (add_files) absolute-path file lives in the
      source lake and is structurally out of scope.
    - ``older_than`` (epoch-ms / ISO string / datetime; default
      3 days ago) is the grace period: younger files are presumed
      in-flight writes and kept — Spark's procedure ships the same
      default for the same reason.
    """
    import time as _time

    md = _meta_dir(table_path)
    hint = os.path.join(md, "version-hint.text")
    if not os.path.exists(hint):
        raise ValueError(
            f"iceberg remove_orphan_files: no table at {table_path}"
        )
    if older_than is None:
        cutoff_ms = (_time.time() - 3 * 86400) * 1000.0
    else:
        from optimus_any2any_spark.sources.delta import _to_epoch_millis

        cutoff_ms = float(_to_epoch_millis(older_than))

    def _norm(ref: str) -> str:
        return os.path.realpath(_localize_path(table_path, ref))

    referenced: set[str] = set()
    for mpath in sorted(_glob.glob(os.path.join(md, "v*.metadata.json"))):
        referenced.add(os.path.realpath(mpath))
        try:
            meta = json.loads(open(mpath).read())
        except (OSError, ValueError):
            continue  # unreadable old metadata: protect only itself
        for snap in meta.get("snapshots") or []:
            ml = snap.get("manifest-list")
            if ml is None:
                manifests = [
                    {"manifest_path": p}
                    for p in snap.get("manifests", [])
                ]
            else:
                referenced.add(_norm(ml))
                try:
                    _, manifests = read_container(
                        _localize(table_path, ml)
                    )
                except OSError:
                    continue  # expired manifest list: nothing to walk
            for m in manifests:
                mp = m["manifest_path"]
                referenced.add(_norm(mp))
                try:
                    _, entries = read_container(
                        _localize(table_path, mp)
                    )
                except OSError:
                    continue
                for e in entries:
                    # ALL statuses: a deleted-status entry's file may
                    # be live under an older snapshot — never a
                    # candidate for the orphan sweep
                    referenced.add(_norm(e["data_file"]["file_path"]))
    referenced.add(os.path.realpath(hint))

    root = os.path.realpath(table_path)
    orphans: list[str] = []
    for dirpath, _dirs, names in sorted(os.walk(root)):
        for n in sorted(names):
            full = os.path.realpath(os.path.join(dirpath, n))
            if full in referenced:
                continue
            if n == "version-hint.text" or n.endswith(".metadata.json"):
                continue  # control files are never orphans
            if os.path.getmtime(full) * 1000.0 >= cutoff_ms:
                continue  # inside the grace period: presumed in-flight
            orphans.append(os.path.relpath(full, root))
    if not dry_run:
        for rel in orphans:
            os.remove(os.path.join(root, rel))
        # abandoned staging dirs left empty by the sweep go too
        for dirpath, dirs, names in sorted(
            os.walk(root, topdown=False)
        ):
            if (
                dirpath != root
                and not dirs
                and not names
                and os.path.basename(dirpath) not in ("data", "metadata")
            ):
                os.rmdir(dirpath)
    return orphans


def _localize_path(table_path: str, ref: str) -> str:
    """_localize, then strip any file:// scheme — orphan-sweep
    comparisons are realpath-based."""
    p = _localize(table_path, ref)
    return p[7:] if p.startswith("file://") else p


def set_iceberg_partition_spec(
    spark: SparkSession,
    table_path: str,
    partition_by: list[str],
) -> int:
    """ALTER TABLE ... partition evolution (spec "Partition
    Evolution", VERDICT r9 item 6): append a NEW partition spec and
    make it the default — a data-free metadata version, no snapshot.

    Existing data files keep their ORIGINAL spec: reads are unaffected
    (Iceberg data files physically carry the partition source
    columns, and this engine's reader prunes by field-id-keyed key
    bounds, not directory layout), and the next merge writes new and
    rewritten files under the NEW spec while re-listing untouched
    files under their own spec id — the manifest-list rows keep one
    ``partition_spec_id`` per manifest, exactly how the format
    represents a mixed-spec table.

    ``partition_by`` takes the same DDL items as table creation
    (``k``, ``days(ts)``, ``bucket(16, k)``, ``truncate(3, v)``); an
    empty list evolves to the UNPARTITIONED spec. Partition field ids
    stay unique ACROSS specs (fresh ids past every existing one, from
    1000)."""
    from optimus_any2any_spark.sources.iceberg_transforms import (
        parse_spec_item,
        partition_field_name,
    )

    prev_version, meta = _ice.open_iceberg_table(table_path)
    if meta is None:
        raise ValueError(
            f"iceberg partition spec: no table at {table_path}"
        )
    cur = (
        meta.get("schemas", [meta.get("schema")])[0]
        if "schemas" not in meta
        else next(
            s
            for s in meta["schemas"]
            if s.get("schema-id") == meta.get("current-schema-id", 0)
        )
    )
    name_to_id = {f["name"]: int(f["id"]) for f in cur["fields"]}
    parsed = [parse_spec_item(s) for s in partition_by]
    for _, src in parsed:
        if src not in name_to_id:
            raise ValueError(
                f"iceberg partition spec: no column {src!r} in schema"
            )
    specs = list(meta.get("partition-specs") or [])
    if not specs:  # legacy single-spec metadata: lift it to the list
        specs = [{"spec-id": 0, "fields": meta.get("partition-spec")
                  or []}]
    next_sid = max(int(s["spec-id"]) for s in specs) + 1
    next_fid = max(
        [999]
        + [
            int(f.get("field-id") or 999)
            for s in specs
            for f in s.get("fields") or []
        ]
    ) + 1
    new_spec = {
        "spec-id": next_sid,
        "fields": [
            {
                "name": partition_field_name(tr, src),
                "transform": tr,
                "source-id": name_to_id[src],
                "field-id": next_fid + i,
            }
            for i, (tr, src) in enumerate(parsed)
        ],
    }
    meta = dict(meta)
    meta["partition-specs"] = specs + [new_spec]
    meta["default-spec-id"] = next_sid
    meta.pop("partition-spec", None)  # the legacy field can only
    #                                   describe ONE spec — drop it
    return publish_iceberg_metadata(table_path, prev_version + 1, meta)


def set_iceberg_ref(
    spark: SparkSession,
    table_path: str,
    name: str,
    snapshot_id: int | None = None,
    ref_type: str = "tag",
    max_ref_age_ms: int | None = None,
) -> int:
    """CREATE TAG / CREATE BRANCH (spec "Snapshot References"): record
    ``refs[name] = {snapshot-id, type}`` in the table metadata as a
    data-free metadata version. ``snapshot_id`` defaults to the
    CURRENT snapshot. Ref'd snapshots are protected from
    ``expire_iceberg_snapshots`` until the ref is dropped — the
    retention contract that makes tags a durable audit surface.
    Writers keep ``refs.main`` in step with ``current-snapshot-id``
    (``advance_main_ref``).

    ``max_ref_age_ms`` stores the spec's ``max-ref-age-ms``: during
    snapshot expiration, a non-main ref older than this (measured
    from the timestamp of the snapshot it points to) is DROPPED and
    its snapshots become ordinary expiry candidates — bounded-life
    tags (`RETAIN n DAYS`) without a manual drop step."""
    if ref_type not in ("tag", "branch"):
        raise ValueError(
            f"iceberg ref: type must be tag or branch, not {ref_type!r}"
        )
    prev_version, meta = _ice.open_iceberg_table(table_path)
    if meta is None:
        raise ValueError(f"iceberg ref: no table at {table_path}")
    snaps = {s["snapshot-id"] for s in meta.get("snapshots") or []}
    if snapshot_id is None:
        snapshot_id = meta.get("current-snapshot-id")
        if snapshot_id in (None, -1):
            raise ValueError("iceberg ref: table has no snapshots")
    if snapshot_id not in snaps:
        raise ValueError(
            f"iceberg ref: snapshot {snapshot_id} is not in the table "
            "metadata (expired or never existed)"
        )
    meta = dict(meta)
    refs = dict(meta.get("refs") or {})
    ref: dict = {"snapshot-id": int(snapshot_id), "type": ref_type}
    if max_ref_age_ms is not None:
        if int(max_ref_age_ms) <= 0:
            raise ValueError(
                "iceberg ref: max_ref_age_ms must be positive"
            )
        ref["max-ref-age-ms"] = int(max_ref_age_ms)
    refs[name] = ref
    meta["refs"] = refs
    return publish_iceberg_metadata(table_path, prev_version + 1, meta)


def publish_iceberg_branch(
    spark: SparkSession,
    table_path: str,
    branch: str,
    drop_branch: bool = False,
) -> int:
    """The PUBLISH half of WAP (Iceberg ``fast_forward``): advance
    ``current-snapshot-id`` / ``refs.main`` to the branch head as a
    data-free metadata version — the audited snapshots become main
    history atomically. Fast-forward only: the current main head must
    be an ancestor of the branch head (walked via
    ``parent-snapshot-id``); anything else is a divergent history
    this writer refuses rather than merges. ``drop_branch=True``
    also removes the branch ref (the classic wap-branch cleanup).
    Publishing a branch already at main is a no-op (no version
    burn)."""
    prev_version, meta = _ice.open_iceberg_table(table_path)
    if meta is None:
        raise ValueError(f"iceberg publish: no table at {table_path}")
    refs = dict(meta.get("refs") or {})
    r = refs.get(branch)
    if r is None or (r.get("type") or "branch") != "branch":
        raise ValueError(
            f"iceberg publish: no branch {branch!r} "
            f"(known refs: {sorted(refs) or 'none'})"
        )
    # single-flight: publishing THIS branch while another holds
    # unpublished commits would bake the other branch's un-audited
    # snapshots into the positional stream history
    _refuse_unpublished_branches(meta, allow=branch)
    head = int(r["snapshot-id"])
    cur = meta.get("current-snapshot-id")
    if cur == -1:
        cur = None
    if head == cur and not drop_branch:
        return prev_version
    by_id = {
        s["snapshot-id"]: s for s in meta.get("snapshots") or []
    }
    if head != cur:
        sid, seen = head, set()
        while (
            sid is not None and sid != cur and sid not in seen
        ):
            seen.add(sid)
            sid = by_id.get(sid, {}).get("parent-snapshot-id")
        if sid != cur:
            raise ValueError(
                "iceberg publish: not a fast-forward — main is not "
                f"an ancestor of branch {branch!r} head {head}"
            )
    meta = dict(meta)
    ts_ms = None  # no main move: publish stamps the clock
    if head != cur:
        meta["current-snapshot-id"] = head
        ts_ms = snapshot_timestamp_ms(meta)
        append_snapshot_log(
            meta, {"snapshot-log": meta.get("snapshot-log")},
            ts_ms, head,
        )
        advance_main_ref(meta, head)
        refs = dict(meta.get("refs") or refs)
    if drop_branch:
        refs.pop(branch, None)
    meta["refs"] = refs
    return publish_iceberg_metadata(
        table_path, prev_version + 1, meta, ts_ms
    )


def drop_iceberg_ref(
    spark: SparkSession, table_path: str, name: str
) -> int:
    """DROP TAG / DROP BRANCH: remove ``refs[name]``; the snapshot it
    protected becomes expirable again. Raises on an unknown ref."""
    prev_version, meta = _ice.open_iceberg_table(table_path)
    if meta is None:
        raise ValueError(f"iceberg ref: no table at {table_path}")
    refs = dict(meta.get("refs") or {})
    if name not in refs:
        raise ValueError(f"iceberg ref: unknown ref {name!r}")
    del refs[name]
    meta = dict(meta)
    meta["refs"] = refs
    return publish_iceberg_metadata(table_path, prev_version + 1, meta)


def rollback_iceberg(
    spark: SparkSession, table_path: str, snapshot_id: int
) -> int:
    """Roll the table back to ``snapshot_id`` as a NEW snapshot — the
    Iceberg twin of ``restore_delta`` (spec ``rollback_to_snapshot``
    surfaced as a commit, so the rollback itself is in the history and
    the rolled-over snapshots stay time-travelable until expiration).

    The new snapshot re-references the target's manifest list
    VERBATIM: every data/delete file keeps its ORIGINAL data-sequence
    number via the manifest-list rows, so merge-on-read ordering is
    untouched — only the current-snapshot pointer moves, through a
    history-preserving commit with ``parent-snapshot-id`` set to the
    snapshot being rolled back from. The commit's own sequence number
    still advances (v2 requires commit sequence monotonicity).

    Refuses when the target snapshot is no longer in the metadata or
    its manifest list was deleted (``expire_iceberg_snapshots`` ran) —
    the twin of ``restore_delta``'s vacuumed-file refusal: rolling
    back to silently-missing data would corrupt the table."""
    prev_version, meta = _ice.open_iceberg_table(table_path)
    if meta is None:
        raise ValueError(f"iceberg rollback: no table at {table_path}")
    snaps = meta.get("snapshots") or []
    target = next(
        (s for s in snaps if s["snapshot-id"] == snapshot_id), None
    )
    if target is None:
        raise ValueError(
            f"iceberg rollback: snapshot {snapshot_id} is not in the "
            "table metadata (expired or never existed)"
        )
    cur_id = meta.get("current-snapshot-id")
    if snapshot_id == cur_id:
        return prev_version  # already current: no-op
    ml = target.get("manifest-list")
    if ml is not None and not os.path.exists(
        _localize(table_path, ml)
    ):
        raise ValueError(
            f"iceberg rollback: snapshot {snapshot_id}'s manifest "
            "list is gone (expired) — cannot roll back to missing data"
        )
    version = prev_version + 1
    new_snap_id = version
    seq = int(meta.get("last-sequence-number") or 0) + 1
    snap = {
        "snapshot-id": new_snap_id,
        "timestamp-ms": snapshot_timestamp_ms(meta),
        "sequence-number": seq,
        "summary": {
            "operation": "rollback",
            "rolled-back-to": str(snapshot_id),
        },
    }
    if ml is not None:
        snap["manifest-list"] = ml
    else:  # v1 inline-manifests form
        snap["manifests"] = list(target.get("manifests") or [])
    meta = dict(meta)
    if meta.get("format-version", 1) >= 2:
        meta["last-sequence-number"] = seq
    return commit_iceberg_snapshot(table_path, version, meta, snap)


def upsert_to_iceberg_table(
    stream: DataFrame,
    path: str,
    key_col: str,
    ts_col: str,
    checkpoint: str,
    app_id: str = DEFAULT_APP_ID,
    target_rows_per_file: int = 1_000_000,
):
    """Streaming wrapper: Iceberg-snapshot MERGE per micro-batch, with
    summary-recorded batch ids making redelivery exactly-once."""

    def merge(batch: DataFrame, batch_id: int):
        merge_iceberg_batch(
            batch.sparkSession,
            batch,
            path,
            key_col,
            ts_col,
            app_id=app_id,
            batch_id=batch_id,
            target_rows_per_file=target_rows_per_file,
        )

    return (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
