"""Delta table as a Structured Streaming SOURCE (Python DataSource).

``spark.readStream.format("delta_tail")`` over an open-protocol Delta
table: stream offsets ARE log versions, each micro-batch is the add
actions of the commit window, and non-append commits (remove with
``dataChange``) fail the stream — the same contract as real Delta's
streaming source without ``ignoreChanges``. This wires
``read_delta_appends``'s semantics into the actual ``readStream``
machinery via Spark 4's Python streaming DataSource API
(``DataSourceStreamReader``), so triggers/checkpoints/availableNow all
behave like any other source.

Scale shape: offset planning is driver-side over the JSON commit tail
(same as every Delta client); each data file becomes one input
partition whose rows are read ON EXECUTORS with pyarrow — parallelism
= files per batch. Partition-column values are attached from the
log's ``partitionValues`` (typed), exactly like the batch reader.

Registration (per session)::

    from optimus_any2any_spark.sources.delta_stream import (
        DeltaTailDataSource,
    )
    spark.dataSource.register(DeltaTailDataSource)
    df = (spark.readStream.format("delta_tail")
          .option("path", "/path/to/table").load())
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql import types as T

# The DataSource class is cloudpickled to the create-data-source worker,
# which does NOT have this repo on PYTHONPATH when the driver runs from
# another cwd (the same worker-closure gotcha as the multimodal codecs):
# register this module for BY-VALUE pickling so its code ships with the
# pickle instead of an import-by-name.
import sys as _sys

from optimus_any2any_spark import ship_by_value

ship_by_value(_sys.modules[__name__])


def _log_json_actions(table_path: str) -> dict[int, list[dict]]:
    """All JSON commit actions by version (driver-side, pure python —
    no SparkSession needed at planning time)."""
    log = os.path.join(table_path, "_delta_log")
    if not os.path.isdir(log):
        raise ValueError(f"delta_tail: no _delta_log under {table_path}")
    out: dict[int, list[dict]] = {}
    for f in sorted(os.listdir(log)):
        if f.endswith(".json") and f[:20].isdigit():
            with open(os.path.join(log, f)) as fh:
                out[int(f[:20])] = [
                    json.loads(line) for line in fh if line.strip()
                ]
    return out


def _table_meta(table_path: str) -> dict:
    meta = None
    for _, actions in sorted(_log_json_actions(table_path).items()):
        for a in actions:
            if a.get("metaData"):
                meta = a["metaData"]
    if meta is None:
        raise ValueError(
            f"delta_tail: no metaData in the JSON log of {table_path} "
            "(checkpoint-only history is not supported by the stream "
            "source)"
        )
    return meta


def _phys_tree(tjson):
    """A conversion tree for a NESTED-mapped Delta type: pyarrow
    surfaces struct values as dicts keyed by PHYSICAL inner names;
    converting each struct level to a POSITIONAL tuple (in schema
    field order) makes the row independent of the physical names —
    Spark maps tuples to struct fields by position. ``None`` means
    the value needs no conversion (primitives, or a subtree with no
    structs)."""
    if isinstance(tjson, dict):
        k = tjson.get("type")
        if k == "struct":
            return (
                "struct",
                [
                    (
                        (f.get("metadata") or {}).get(
                            "delta.columnMapping.physicalName", f["name"]
                        ),
                        _phys_tree(f["type"]),
                    )
                    for f in tjson["fields"]
                ],
            )
        if k == "array":
            sub = _phys_tree(tjson["elementType"])
            return ("array", sub) if sub is not None else None
        if k == "map":
            kt = _phys_tree(tjson["keyType"])
            vt = _phys_tree(tjson["valueType"])
            if kt is None and vt is None:
                return None
            return ("map", kt, vt)
    return None


def _convert_phys(val, tree):
    """Apply a :func:`_phys_tree` conversion to one pyarrow value."""
    if val is None or tree is None:
        return val
    tag = tree[0]
    if tag == "struct":
        return tuple(
            _convert_phys(val.get(pn), sub) for pn, sub in tree[1]
        )
    if tag == "array":
        return [_convert_phys(v, tree[1]) for v in val]
    # map: pyarrow to_pylist surfaces maps as lists of (k, v) pairs
    items = val.items() if isinstance(val, dict) else val
    return [
        (_convert_phys(k, tree[1]), _convert_phys(v, tree[2]))
        for k, v in items
    ]


def _mapped_name_and_trees(meta: dict):
    """``(phys_of, tree_of)`` for a mapped table's TOP-LEVEL fields:
    physical parquet name per logical name, and a nested conversion
    tree (None for fields needing none). Empty dicts when the table
    is unmapped. Self-contained (this module pickles by value to the
    data-source worker)."""
    phys_of: dict[str, str] = {}
    tree_of: dict[str, tuple | None] = {}
    mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode"
    )
    if mode in (None, "none"):
        return phys_of, tree_of
    for f in json.loads(meta["schemaString"]).get("fields", []):
        md = f.get("metadata") or {}
        phys_of[f["name"]] = md.get(
            "delta.columnMapping.physicalName", f["name"]
        )
        tree_of[f["name"]] = _phys_tree(f.get("type"))
    return phys_of, tree_of


def _typed_partition_value(dtype: T.DataType, raw: str | None):
    if raw is None:
        return None
    if isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType)):
        return int(raw)
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return float(raw)
    if isinstance(dtype, T.BooleanType):
        return raw == "true"
    return raw  # strings (and anything else the log stringified)


class _FileSlice(InputPartition):
    def __init__(self, path: str, pv: dict, version: int):
        self.path = path
        self.pv = pv  # partitionValues (raw strings)
        self.version = version


class DeltaTailStreamReader(DataSourceStreamReader):
    def __init__(self, schema: T.StructType, options: dict):
        self.table_path = options.get("path", "")
        if not self.table_path:
            raise ValueError("delta_tail: option 'path' is required")
        self.schema_ = schema
        meta = _table_meta(self.table_path)
        self.part_cols = meta.get("partitionColumns") or []
        # column-mapped tables: parquet (and partitionValues) carry
        # PHYSICAL names at EVERY nesting level — top level translates
        # by name; nested struct values (pyarrow dicts keyed by the
        # physical inner names) convert to POSITIONAL tuples via the
        # _phys_tree machinery, so the row never depends on inner
        # names. Self-contained (this module pickles by value to the
        # data-source worker).
        self.phys_of, self.tree_of = _mapped_name_and_trees(meta)
        # startingVersion: first UNCONSUMED version (Delta's own
        # startingVersion option); default 0 = full history
        self.starting_version = int(options.get("startingversion", 0))

    # offsets are dicts {"version": N} — committed versions ≤ N consumed
    def initialOffset(self) -> dict:
        return {"version": self.starting_version - 1}

    def latestOffset(self) -> dict:
        versions = _log_json_actions(self.table_path)
        return {"version": max(versions, default=-1)}

    def partitions(
        self, start: dict, end: dict
    ) -> list[InputPartition]:
        actions_by_v = _log_json_actions(self.table_path)
        out: list[InputPartition] = []
        for v in range(int(start["version"]) + 1, int(end["version"]) + 1):
            actions = actions_by_v.get(v)
            if actions is None:
                raise ValueError(
                    f"delta_tail: commit {v} missing — history cleaned "
                    "under a running stream"
                )
            for a in actions:
                rm = a.get("remove")
                if rm and rm.get("dataChange", True):
                    raise ValueError(
                        f"delta_tail: commit {v} rewrites data — the "
                        "append stream contract is broken (use the CDF "
                        "reader for merge commits)"
                    )
                add = a.get("add")
                if add and add.get("dataChange", True):
                    if add.get("deletionVector"):
                        raise ValueError(
                            f"delta_tail: commit {v} carries a "
                            "deletion vector — the append stream "
                            "contract is broken (row-level rewrite)"
                        )
                    out.append(
                        _FileSlice(
                            os.path.join(self.table_path, add["path"]),
                            add.get("partitionValues") or {},
                            v,
                        )
                    )
        return out

    def read(self, partition: _FileSlice) -> Iterator[tuple]:
        # EXECUTOR-side: one parquet file via pyarrow; partition
        # columns attached from the log's values, typed per schema
        import pyarrow.parquet as pq

        fields = self.schema_.fields
        phys = self.phys_of
        pname = {f.name: phys.get(f.name, f.name) for f in fields}
        in_file = {c.name for c in pq.read_schema(partition.path)}
        part_cols = {
            f.name for f in fields if pname[f.name] not in in_file
        }
        table = pq.read_table(partition.path)
        cols = {name: table.column(name).to_pylist()
                for name in table.column_names}
        n = table.num_rows
        const = {
            f.name: _typed_partition_value(
                f.dataType, partition.pv.get(pname[f.name])
            )
            for f in fields
            if f.name in part_cols
        }
        trees = {
            f.name: self.tree_of.get(f.name)
            for f in fields
            if self.tree_of.get(f.name) is not None
        }
        for i in range(n):
            yield tuple(
                const[f.name]
                if f.name in const
                else (
                    _convert_phys(cols[pname[f.name]][i], trees[f.name])
                    if f.name in trees
                    else cols[pname[f.name]][i]
                )
                for f in fields
            )

    def commit(self, end: dict) -> None:
        pass  # log retention is vacuum's problem, not the reader's


class DeltaTailDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "delta_tail"

    def schema(self):
        meta = _table_meta(self.options.get("path", ""))
        return T.StructType.fromJson(json.loads(meta["schemaString"]))

    def streamReader(self, schema: T.StructType):
        return DeltaTailStreamReader(schema, self.options)


# ---------------------------------------------------------------------------
# Change Data Feed as a stream: the continuous-consumer side of CDF


class _CdfSlice(InputPartition):
    def __init__(self, path: str, version: int, pv: dict,
                 synthesize_insert: bool):
        self.path = path
        self.version = version
        self.pv = pv
        self.synthesize_insert = synthesize_insert


class DeltaCdfStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("delta_cdf")``: micro-batches are the
    Change Data Feed of each commit window — ``_change_type`` +
    ``_commit_version`` columns, cdc files for instrumented commits,
    synthesized ``insert`` rows for plain appends, and an ERROR for
    rewriting commits without change data (the same contract as the
    batch ``read_delta_cdf``). This is what lets a downstream pipeline
    process updates/deletes continuously instead of re-reading
    snapshots."""

    def __init__(self, schema: T.StructType, options: dict):
        self.table_path = options.get("path", "")
        if not self.table_path:
            raise ValueError("delta_cdf: option 'path' is required")
        self.schema_ = schema
        self.starting_version = int(options.get("startingversion", 0))
        # mapped tables: cdc/data parquet and partitionValues carry
        # PHYSICAL names at every nesting level — same name/tree
        # translation as DeltaTailStreamReader
        meta = _table_meta(self.table_path)
        self.phys_of, self.tree_of = _mapped_name_and_trees(meta)

    def initialOffset(self) -> dict:
        return {"version": self.starting_version - 1}

    def latestOffset(self) -> dict:
        versions = _log_json_actions(self.table_path)
        return {"version": max(versions, default=-1)}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        actions_by_v = _log_json_actions(self.table_path)
        out: list[InputPartition] = []
        for v in range(int(start["version"]) + 1, int(end["version"]) + 1):
            actions = actions_by_v.get(v)
            if actions is None:
                raise ValueError(
                    f"delta_cdf: commit {v} missing — history cleaned "
                    "under a running stream"
                )
            cdc = [a["cdc"] for a in actions if a.get("cdc")]
            if cdc:
                for c in cdc:
                    out.append(
                        _CdfSlice(
                            os.path.join(self.table_path, c["path"]),
                            v,
                            c.get("partitionValues") or {},
                            synthesize_insert=False,
                        )
                    )
                continue
            if any(
                a.get("remove") and a["remove"].get("dataChange", True)
                for a in actions
            ):
                raise ValueError(
                    f"delta_cdf: commit {v} rewrote data without "
                    "change data — CDF was not enabled for that commit"
                )
            for a in actions:
                add = a.get("add")
                if add and add.get("dataChange", True):
                    if add.get("deletionVector"):
                        raise ValueError(
                            f"delta_cdf: commit {v} rewrote rows via "
                            "a deletion vector without change data — "
                            "CDF was not enabled for that commit"
                        )
                    out.append(
                        _CdfSlice(
                            os.path.join(self.table_path, add["path"]),
                            v,
                            add.get("partitionValues") or {},
                            synthesize_insert=True,
                        )
                    )
        return out

    def read(self, partition: _CdfSlice) -> Iterator[tuple]:
        import pyarrow.parquet as pq

        table = pq.read_table(partition.path)
        cols = {
            name: table.column(name).to_pylist()
            for name in table.column_names
        }
        fields = self.schema_.fields
        phys = self.phys_of
        pname = {
            f.name: phys.get(f.name, f.name) for f in fields
        }
        # _change_type/_commit_version are CDF columns, never mapped
        pname["_change_type"] = "_change_type"
        pname["_commit_version"] = "_commit_version"
        const: dict = {
            "_commit_version": partition.version,
        }
        if partition.synthesize_insert:
            const["_change_type"] = "insert"
        for f in fields:
            if pname[f.name] in cols or f.name in const:
                continue
            # log-carried partition column (synthesized appends only;
            # cdc files physically contain every schema column)
            const[f.name] = _typed_partition_value(
                f.dataType, partition.pv.get(pname[f.name])
            )
        trees = {
            f.name: self.tree_of.get(f.name)
            for f in fields
            if self.tree_of.get(f.name) is not None
        }
        for i in range(table.num_rows):
            yield tuple(
                const[f.name]
                if f.name in const
                else (
                    _convert_phys(cols[pname[f.name]][i], trees[f.name])
                    if f.name in trees
                    else cols[pname[f.name]][i]
                )
                for f in fields
            )

    def commit(self, end: dict) -> None:
        pass


class DeltaCdfDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "delta_cdf"

    def schema(self):
        meta = _table_meta(self.options.get("path", ""))
        base = T.StructType.fromJson(json.loads(meta["schemaString"]))
        return T.StructType(
            list(base.fields)
            + [
                T.StructField("_change_type", T.StringType(), True),
                T.StructField("_commit_version", T.LongType(), True),
            ]
        )

    def streamReader(self, schema: T.StructType):
        return DeltaCdfStreamReader(schema, self.options)

