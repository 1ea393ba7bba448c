"""Iceberg table as a Structured Streaming SOURCE (Python DataSource).

``spark.readStream.format("iceberg_tail")`` over an open-spec Iceberg
table: stream offsets are positions in the snapshot lineage, each
micro-batch is the files ADDED by the snapshots in the window (the
spec's incremental append scan, ``read_iceberg_appends``), and
overwrite snapshots (merges) fail the stream — the append contract,
same as the Delta twin in :mod:`.delta_stream`. Offset planning is
driver-side over metadata JSON + Avro manifests (pure python — the
stdlib Avro codec needs no SparkSession); data files are read ON
EXECUTORS with pyarrow, one input partition per file.

Registration (per session)::

    from optimus_any2any_spark.sources.iceberg_stream import (
        IcebergTailDataSource,
    )
    spark.dataSource.register(IcebergTailDataSource)
    df = (spark.readStream.format("iceberg_tail")
          .option("path", "/path/to/table").load())
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql import types as T

# ship this module's code with the pickle — the data-source runner
# worker has no repo on PYTHONPATH (same gotcha as delta_stream). The
# Avro codec and the iceberg reader helpers run inside that runner
# during offset planning, so their MODULES are registered by value too
# and referenced through module-level names (a runtime import-by-name
# inside the runner would fail) — with every package module the reader
# imports at module level (``merge_core``, ``localrel``).
import sys as _sys

from optimus_any2any_spark import localrel as _localrel
from optimus_any2any_spark import ship_by_value
from optimus_any2any_spark.formats import avrobin as _avro
from optimus_any2any_spark.formats import puffin as _puffin
from optimus_any2any_spark.sources import iceberg as _ice
from optimus_any2any_spark.streaming import merge_core as _merge_core

ship_by_value(_localrel, _merge_core, _ice, _sys.modules[__name__])


def _file_consts(
    meta: dict,
    id_specs: dict,
    fills: dict,
    path: str,
    ent: dict,
) -> dict:
    """Column constants one streamed file must project — identity
    partition values (authoritative, override stored columns) plus
    v3 ``initial-default`` fills for files whose footer lacks the
    column. Mirrors the batch reader's ``_projection_consts`` so a
    table reads IDENTICALLY in batch and stream (hive-migrated
    partition columns, defaulted columns)."""
    consts = _ice._entry_identity_consts(meta, id_specs, ent)
    if fills:
        local = path[7:] if path.startswith("file://") else path
        names = _ice._footer_column_names(local)
        if names is None:
            return consts  # unreadable file: the data read raises
        for c, v in fills.items():
            if c not in names:
                consts.setdefault(c, v)
    return consts


def _added_files(
    table_path: str,
    snap: dict,
    meta: dict,
    id_specs: dict | None = None,
    fills: dict | None = None,
) -> list[tuple[str, dict]]:
    """``(data file, column constants)`` ADDED by one snapshot (spec
    incremental append scan); raises on non-append snapshots.
    ``id_specs``/``fills`` are meta-derived — pass them when calling
    per snapshot of a window so they compute once per planning call."""
    read_container = _avro.read_container
    _localize = _ice._localize

    op = (snap.get("summary") or {}).get("operation", "append")
    if op != "append":
        raise ValueError(
            f"iceberg_tail: snapshot {snap['snapshot-id']} is {op!r} — "
            "the append stream contract is broken"
        )
    if id_specs is None:
        id_specs = _ice._identity_spec_fields(meta)
    if fills is None:
        fills = _ice._reader_default_fills(meta)
    files: list[tuple[str, dict]] = []
    _, manifests = read_container(
        _localize(table_path, snap["manifest-list"])
    )
    for m in manifests:
        _, entries = read_container(
            _localize(table_path, m["manifest_path"])
        )
        for e in entries:
            if (
                int(e.get("status") or 0) == 1
                and e.get("snapshot_id") == snap["snapshot-id"]
            ):
                path = _localize(
                    table_path, e["data_file"]["file_path"]
                )
                ent = {
                    "partition": dict(
                        e["data_file"].get("partition") or {}
                    ),
                    "spec_id": m.get("partition_spec_id"),
                }
                files.append(
                    (path, _file_consts(meta, id_specs, fills,
                                        path, ent))
                )
    return files


class _ConstCol:
    """Constant pseudo-column: any index returns the value (identity
    partition / default fill overlay in the stream readers)."""

    def __init__(self, v):
        self.v = v

    def __getitem__(self, _i):
        return self.v


class _IceFile(InputPartition):
    def __init__(self, path: str, consts: dict | None = None):
        self.path = path
        self.consts = consts or {}


class IcebergTailStreamReader(DataSourceStreamReader):
    def __init__(self, schema: T.StructType, options: dict):
        self.table_path = options.get("path", "")
        if not self.table_path:
            raise ValueError("iceberg_tail: option 'path' is required")
        self.schema_ = schema
        # startingSnapshotId: consume strictly AFTER this snapshot
        # (the already-loaded-history case); default = full lineage
        start = options.get("startingsnapshotid")
        self.start_sid: int | None = None
        if start is not None:
            meta = _ice.load_table_metadata(self.table_path)
            ids = [
                s["snapshot-id"] for s in meta.get("snapshots") or []
            ]
            if int(start) not in ids:
                raise ValueError(
                    f"iceberg_tail: startingSnapshotId {start} not in "
                    "table lineage"
                )
            self.start_sid = int(start)

    # offsets: {"sid": S} = consumed through snapshot-id S (None =
    # nothing consumed). Snapshot-ids are STABLE across snapshot
    # expiration — a positional index ({"pos": N}, the r4 form, still
    # accepted from old checkpoints) silently re-delivers or skips
    # snapshots once history cleanup shifts positions; an id that has
    # left the lineage raises instead, matching delta_stream's
    # missing-commit error.
    def _chain(self, meta: dict) -> list[dict]:
        """The snapshots that are PUBLISHED history, oldest→newest:
        the main-ancestry walk (iceberg_main_chain). Snapshots staged
        on unpublished WAP branches sit in the metadata list but are
        NOT on the chain — windowing by the chain is what keeps every
        un-audited branch commit out of the stream, for any number of
        concurrent branches (the r12 single-branch head cap,
        generalized)."""
        cur = meta.get("current-snapshot-id")
        if cur in (None, -1):
            # no main head at all (a fresh table whose only commits
            # went straight to a branch): nothing is published
            return []
        return _ice.iceberg_main_chain(meta, cur)

    def _pos_after(self, chain: list[dict], off: dict) -> int:
        if "pos" in off:  # legacy checkpoint form
            return int(off["pos"])
        sid = off.get("sid")
        if sid is None:
            return 0
        ids = [s["snapshot-id"] for s in chain]
        if sid not in ids:
            raise ValueError(
                f"iceberg_tail: snapshot {sid} is no longer in the "
                "table's main lineage (expired?) — cannot resume "
                "without a gap; restart the stream from a fresh "
                "checkpoint"
            )
        return ids.index(sid) + 1

    def initialOffset(self) -> dict:
        return {"sid": self.start_sid}

    def latestOffset(self) -> dict:
        chain = self._chain(_ice.load_table_metadata(self.table_path))
        return {
            "sid": chain[-1]["snapshot-id"] if chain else None
        }

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        meta = _ice.load_table_metadata(self.table_path)
        chain = self._chain(meta)
        window = chain[
            self._pos_after(chain, start):self._pos_after(chain, end)
        ]
        out: list[InputPartition] = []
        id_specs = _ice._identity_spec_fields(meta)
        fills = _ice._reader_default_fills(meta)
        for snap in window:
            op = (snap.get("summary") or {}).get(
                "operation", "append"
            )
            if op == "replace":
                # physical rewrite (compaction / rewrite_manifests):
                # adds no logical rows — the tail stream skips it,
                # exactly like the changes reader
                continue
            for f, consts in _added_files(
                self.table_path, snap, meta, id_specs, fills
            ):
                out.append(_IceFile(f, consts))
        return out

    def read(self, partition: _IceFile) -> Iterator[tuple]:
        import pyarrow.parquet as pq

        table = pq.read_table(partition.path)
        cols = {
            name: table.column(name).to_pylist()
            for name in table.column_names
        }
        for c, v in partition.consts.items():
            cols[c] = _ConstCol(v)
        fields = [f.name for f in self.schema_.fields]
        for i in range(table.num_rows):
            yield tuple(cols[f][i] if f in cols else None for f in fields)

    def commit(self, end: dict) -> None:
        pass


class IcebergTailDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "iceberg_tail"

    def schema(self):
        meta = _ice.load_table_metadata(self.options.get("path", ""))
        sch = None
        if "schemas" in meta:
            sid = meta.get("current-schema-id", 0)
            sch = next(
                (s for s in meta["schemas"] if s.get("schema-id") == sid),
                meta["schemas"][0],
            )
        else:
            sch = meta["schema"]
        return _ice._iceberg_type_to_spark(
            {"type": "struct", "fields": sch["fields"]}
        )

    def streamReader(self, schema: T.StructType):
        return IcebergTailStreamReader(schema, self.options)


# ---------------------------------------------------------------------------
# Changelog stream: the CDC twin of the append tail


class _ChangeUnit(InputPartition):
    """One changelog work unit: an added file (INSERT events) or an
    affected data file + the delete entries that gate it (DELETE
    events), with the change-metadata values baked in."""

    def __init__(
        self,
        kind: str,
        path: str,
        orig: str,
        seq: int,
        ordinal: int,
        sid: int,
        prior_pos: list | None = None,
        prior_eq: list | None = None,
        new_pos: list | None = None,
        new_eq: list | None = None,
        consts: dict | None = None,
    ):
        self.kind = kind
        self.path = path
        self.orig = orig
        self.seq = seq
        self.ordinal = ordinal
        self.sid = sid
        self.prior_pos = prior_pos or []
        self.prior_eq = prior_eq or []
        self.new_pos = new_pos or []
        self.new_eq = new_eq or []
        self.consts = consts or {}


def _pos_erased(ent: dict, orig: str) -> set[int]:
    """Positions a positional-delete entry (delete parquet or Puffin
    DV) erases from the data file ``orig`` — pure python."""
    dv = ent.get("dv")
    if dv:
        if dv["referenced"] != orig:
            return set()
        local = ent["path"]
        local = local[7:] if local.startswith("file://") else local
        blob = _puffin.read_puffin_blob(local, dv["offset"], dv["size"])
        return set(_puffin.dv_puffin_blob_decode(blob))
    import pyarrow.parquet as pq

    local = ent["path"]
    local = local[7:] if local.startswith("file://") else local
    t = pq.read_table(local, columns=["file_path", "pos"])
    fps = t.column("file_path").to_pylist()
    poss = t.column("pos").to_pylist()
    return {p for fp, p in zip(fps, poss) if fp == orig}


def _eq_keysets(ents: list[dict]) -> list[tuple[list[str], set]]:
    """(columns, key-tuple set) per equality-delete entry — the entry
    carries its resolved column names (driver-side) as ``eq_cols``."""
    import pyarrow.parquet as pq

    out = []
    for ent in ents:
        cols = ent["eq_cols"]
        local = ent["path"]
        local = local[7:] if local.startswith("file://") else local
        t = pq.read_table(local, columns=cols)
        lists = [t.column(c).to_pylist() for c in cols]
        out.append((cols, set(zip(*lists)) if lists else set()))
    return out


class IcebergChangesStreamReader(IcebergTailStreamReader):
    """``readStream.format("iceberg_changes")`` — incremental CDC over
    an Iceberg table's snapshot lineage, the Structured Streaming twin
    of :func:`sources.iceberg.read_iceberg_changes`.

    Per micro-batch: ``append`` snapshots emit their added files' rows
    as INSERT events; ``delete`` snapshots (merge-on-read DML —
    positional, Puffin DV, equality) evaluate only the NEW delete
    files against the prior state, pruned exactly like the batch
    reader (positional refs; sequence-gate + footer-bounds for
    equality via ``_prune_eq_candidates``) — already-deleted rows
    never re-report; ``replace`` (compaction) emits nothing.
    ``overwrite``/``rollback`` snapshots FAIL the stream by name: a
    copy-on-write rewrite needs the batch reader's exceptAll netting,
    which has no bounded pure-python equivalent in the data-source
    runner. All evaluation is pyarrow + the pure-python Puffin/Roaring
    codecs — no SparkSession exists inside a DataSourceStreamReader.

    Output schema: the table columns plus ``_change_type``
    (INSERT / DELETE), ``_change_ordinal`` (snapshot position within
    the micro-batch window) and ``_commit_snapshot_id``."""

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        meta = _ice.load_table_metadata(self.table_path)
        chain = self._chain(meta)
        lo = self._pos_after(chain, start)
        hi = self._pos_after(chain, end)
        window = chain[lo:hi]
        by_id = {}
        sch = None
        if "schemas" in meta:
            sid_ = meta.get("current-schema-id", 0)
            sch = next(
                (
                    s
                    for s in meta["schemas"]
                    if s.get("schema-id") == sid_
                ),
                meta["schemas"][0],
            )
        else:
            sch = meta["schema"]
        by_id = {int(f["id"]): f["name"] for f in sch["fields"]}

        prev_sid = chain[lo - 1]["snapshot-id"] if lo > 0 else None
        prev_state = (
            _ice._snapshot_entries(self.table_path, meta, prev_sid)
            if prev_sid is not None
            else ([], [], [])
        )
        id_specs = _ice._identity_spec_fields(meta)
        fills = _ice._reader_default_fills(meta)

        def _consts(ent: dict) -> dict:
            return _file_consts(
                meta, id_specs, fills, ent["path"], ent
            )

        out: list[InputPartition] = []
        for ordinal, snap in enumerate(window):
            s_id = snap["snapshot-id"]
            op = (snap.get("summary") or {}).get(
                "operation", "append"
            )
            cur_state = _ice._snapshot_entries(
                self.table_path, meta, s_id
            )
            if op == "replace":
                prev_state = cur_state
                continue
            if op == "append":
                prev_orig = {e["orig"] for e in prev_state[0]}
                for e in cur_state[0]:
                    if e["orig"] not in prev_orig:
                        out.append(
                            _ChangeUnit(
                                "insert", e["path"], e["orig"],
                                e["seq"], ordinal, s_id,
                                consts=_consts(e),
                            )
                        )
                prev_state = cur_state
                continue
            if op != "delete":
                raise ValueError(
                    f"iceberg_changes: snapshot {s_id} is {op!r} — "
                    "rewrite netting needs the batch changelog "
                    "reader (read_iceberg_changes)"
                )
            prev_d, prev_p, prev_e = prev_state
            cur_d, cur_p, cur_e = cur_state
            prev_keys = {
                _ice._delete_entry_key(e) for e in prev_p + prev_e
            }
            new_pos = [
                e
                for e in cur_p
                if _ice._delete_entry_key(e) not in prev_keys
            ]
            new_eq = [
                e
                for e in cur_e
                if _ice._delete_entry_key(e) not in prev_keys
            ]
            for ents in (prev_e, new_eq):
                for e in ents:
                    try:
                        e["eq_cols"] = [
                            by_id[i] for i in e["equality_ids"]
                        ]
                    except KeyError as ke:
                        # Match the batch reader's named refusal —
                        # not a bare KeyError that kills the stream.
                        raise NotImplementedError(
                            "iceberg_changes: equality delete on "
                            f"unknown field id {ke.args[0]} (absent "
                            "from the current schema)"
                        ) from None
            affected: dict[str, dict] = {}
            if new_pos:
                refs = _ice._pos_delete_referenced_paths(new_pos)
                for e in prev_d:
                    if refs is None or e["orig"] in refs:
                        affected[e["orig"]] = e
            if new_eq:
                cand = _ice._prune_eq_candidates(
                    meta,
                    [
                        e
                        for e in prev_d
                        if e["orig"] not in affected
                    ],
                    new_eq,
                )
                for e in cand:
                    affected[e["orig"]] = e
            for e in affected.values():
                fseq = e["seq"]
                out.append(
                    _ChangeUnit(
                        "delete", e["path"], e["orig"], fseq,
                        ordinal, s_id,
                        prior_pos=[
                            p for p in prev_p if p["seq"] >= fseq
                        ],
                        prior_eq=[
                            q for q in prev_e if q["seq"] > fseq
                        ],
                        new_pos=[
                            p for p in new_pos if p["seq"] >= fseq
                        ],
                        new_eq=[
                            q for q in new_eq if q["seq"] > fseq
                        ],
                        consts=_consts(e),
                    )
                )
            prev_state = cur_state
        return out

    def read(self, partition: _ChangeUnit) -> Iterator[tuple]:
        import pyarrow.parquet as pq

        local = partition.path
        local = local[7:] if local.startswith("file://") else local
        table = pq.read_table(local)
        cols = {
            name: table.column(name).to_pylist()
            for name in table.column_names
        }
        # identity/default constants overlay BEFORE row building AND
        # eq-delete matching — a delete keyed on a hive-derived
        # partition column must compare the path value, not None
        for c, v in partition.consts.items():
            cols[c] = _ConstCol(v)
        data_fields = [
            f.name
            for f in self.schema_.fields
            if f.name
            not in (
                "_change_type", "_change_ordinal",
                "_commit_snapshot_id",
            )
        ]

        def row(i: int, ctype: str) -> tuple:
            return tuple(
                cols[f][i] if f in cols else None
                for f in data_fields
            ) + (ctype, partition.ordinal, partition.sid)

        if partition.kind == "insert":
            for i in range(table.num_rows):
                yield row(i, "INSERT")
            return

        def matches_eq(eq_sets, i) -> bool:
            for cols_, keys in eq_sets:
                if (
                    tuple(
                        cols.get(c, [None] * table.num_rows)[i]
                        for c in cols_
                    )
                    in keys
                ):
                    return True
            return False

        prior_positions: set[int] = set()
        for ent in partition.prior_pos:
            prior_positions |= _pos_erased(ent, partition.orig)
        prior_eq_sets = _eq_keysets(partition.prior_eq)
        new_positions: set[int] = set()
        for ent in partition.new_pos:
            new_positions |= _pos_erased(ent, partition.orig)
        new_eq_sets = _eq_keysets(partition.new_eq)

        for i in range(table.num_rows):
            if i in prior_positions or matches_eq(prior_eq_sets, i):
                continue  # already deleted: never re-report
            if i in new_positions or matches_eq(new_eq_sets, i):
                yield row(i, "DELETE")


class IcebergChangesDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "iceberg_changes"

    def schema(self):
        base = IcebergTailDataSource(self.options).schema()
        return T.StructType(
            list(base.fields)
            + [
                T.StructField("_change_type", T.StringType(), False),
                T.StructField(
                    "_change_ordinal", T.IntegerType(), False
                ),
                T.StructField(
                    "_commit_snapshot_id", T.LongType(), False
                ),
            ]
        )

    def streamReader(self, schema: T.StructType):
        return IcebergChangesStreamReader(schema, self.options)
