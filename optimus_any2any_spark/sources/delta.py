"""Delta Lake table READER — the open log protocol, no delta-spark jar.

A Delta table is parquet data files plus a ``_delta_log`` of ordered
JSON commits (and optional parquet checkpoints), each a list of
actions: ``protocol``, ``metaData`` (schema + partition columns),
``add`` (a live file with its partition values), ``remove`` (a
tombstone). Reconstructing the current snapshot is pure log replay —
documented at delta.io as the Delta Transaction Log Protocol — so a
reader needs no Delta runtime: list the log, take the latest
checkpoint (plain parquet with ``add``/``remove`` structs), apply the
JSON commits after it (last action per path wins), and read the
surviving files.

Scope (protocol-honest): ``minReaderVersion`` 1 tables — no deletion
vectors, no column mapping; a higher reader version raises
``NotImplementedError`` rather than returning silently wrong rows.
Partition values come from the log's ``partitionValues`` (never from
path layout, which Delta does not guarantee) and are attached, typed,
through a broadcast lookup keyed by each file's full scan path.

Scale shape: the log replay is driver-side over the log's JSON tail
(checkpoints bound it — that is exactly why the protocol has them);
data reading is ONE ``spark.read.parquet`` over every live file,
whatever the number of partition values (:func:`_read_files_dv_aware`). The reference has no
lakehouse source; this extends §2.1 the same way the manifest MERGE
(streaming/manifest_table.py) extends §2.2, and the two formats share
the copy-on-write shape.
"""

from __future__ import annotations

from optimus_any2any_spark.localrel import local_rows_df

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _log_dir(table_path: str) -> str:
    return os.path.join(table_path, "_delta_log")


def _snapshot_actions(
    spark: SparkSession, table_path: str, version: int | None = None
):
    """Replay the log: returns (metaData dict, {path: add dict})."""
    state = replay_log(spark, table_path, version=version)
    return state["meta"], state["live"]


def _to_epoch_millis(timestamp) -> int:
    """Epoch milliseconds from an int/float (millis), datetime, or
    ISO-8601 string (naive strings are UTC — the engine pins its
    session timezone to UTC everywhere)."""
    import datetime as _dt

    if isinstance(timestamp, bool):
        raise TypeError("delta timestamp: bool is not a timestamp")
    if isinstance(timestamp, (int, float)):
        return int(timestamp)
    if isinstance(timestamp, str):
        timestamp = _dt.datetime.fromisoformat(timestamp)
    if isinstance(timestamp, _dt.datetime):
        if timestamp.tzinfo is None:
            timestamp = timestamp.replace(tzinfo=_dt.timezone.utc)
        return int(timestamp.timestamp() * 1000)
    raise TypeError(
        f"delta timestamp: unsupported type {type(timestamp).__name__}"
    )


def commit_timestamps(table_path: str) -> list[tuple[int, int]]:
    """``[(version, commit-timestamp-millis)]`` ascending, per Delta's
    TIMESTAMP AS OF rules: when the table declares
    ``delta.enableInCommitTimestamps`` each commit's
    ``commitInfo.inCommitTimestamp`` is authoritative (spec: In-Commit
    Timestamps; commits from before enablement fall back to file
    times); otherwise the commit FILE's modification time is used,
    adjusted to be strictly monotonic exactly as delta-spark adjusts
    (a commit whose mtime is <= its predecessor's reads as
    predecessor + 1ms), so history never appears reordered."""
    log = _log_dir(table_path)
    if not os.path.isdir(log):
        raise ValueError(f"delta: no _delta_log under {table_path}")
    versions = sorted(
        int(f[:20])
        for f in os.listdir(log)
        if f.endswith(".json") and f[:20].isdigit()
    )
    if not versions:
        raise ValueError(f"delta: empty log under {table_path}")
    # ONE parse per commit file (ADVICE r8: the old shape read every
    # file twice — once hunting the last metaData, once for ICT).
    # Each pass captures commitInfo.inCommitTimestamp AND the metaData
    # configuration together; ICT enablement is tracked in replay
    # order, so commits from before enablement fall back to mtime and
    # commits after use the authoritative in-commit value.
    parsed: list[tuple[int, int | None, int]] = []
    ict = False
    for v in versions:
        p = os.path.join(log, "%020d.json" % v)
        ict_ts = None
        with open(p) as fh:
            for line in fh:
                if not line.strip():
                    continue
                a = json.loads(line)
                ci = a.get("commitInfo")
                if ci and ci.get("inCommitTimestamp") is not None:
                    ict_ts = int(ci["inCommitTimestamp"])
                md = a.get("metaData")
                if md:
                    conf = md.get("configuration") or {}
                    ict = (
                        conf.get("delta.enableInCommitTimestamps")
                        == "true"
                    )
        parsed.append(
            (
                v,
                ict_ts if ict else None,
                int(os.path.getmtime(p) * 1000),
            )
        )
    out: list[tuple[int, int]] = []
    prev = -1
    for v, ict_ts, mtime in parsed:
        if ict_ts is not None:
            # authoritative (spec guarantees ICT monotonicity among
            # ICT commits) — never floored by a pre-enablement commit
            # whose FILE carries a late mtime (e.g. copied log files)
            ts = ict_ts
        else:
            ts = max(mtime, prev + 1)  # monotonic adjustment
        out.append((v, ts))
        prev = ts
    return out


def resolve_delta_timestamp(
    table_path: str, timestamp, *, after: bool = False,
    strict: bool = False,
) -> int:
    """TIMESTAMP AS OF → version: the LATEST commit whose timestamp is
    ``<= timestamp`` (Delta's time-travel rule). ``after=True`` flips
    to the EARLIEST commit ``>= timestamp`` — the CDF
    ``startingTimestamp`` rule. Raises when the timestamp falls before
    the first commit (before-mode) / after the last (after-mode).

    ``strict=True`` additionally raises in before-mode when the
    timestamp is AFTER the last commit — delta-spark's behavior for a
    plain ``TIMESTAMP AS OF`` read ("provided timestamp is after the
    latest version"). RESTORE and CDF ``endingTimestamp`` keep the
    default clamp-to-latest, which is where delta-spark clamps
    (ADVICE r8)."""
    millis = _to_epoch_millis(timestamp)
    stamps = commit_timestamps(table_path)
    if after:
        for v, ts in stamps:
            if ts >= millis:
                return v
        raise ValueError(
            f"delta: no commit at or after timestamp {timestamp!r} "
            f"(last commit at epoch-ms {stamps[-1][1]})"
        )
    if strict and millis > stamps[-1][1]:
        raise ValueError(
            f"delta: timestamp {timestamp!r} is after the latest "
            f"commit (epoch-ms {stamps[-1][1]}) — time travel cannot "
            "read past the end of history"
        )
    best = None
    for v, ts in stamps:
        if ts <= millis:
            best = v
    if best is None:
        raise ValueError(
            f"delta: timestamp {timestamp!r} is before the first "
            f"commit (epoch-ms {stamps[0][1]})"
        )
    return best


def delta_history(spark: SparkSession, table_path: str) -> DataFrame:
    """DESCRIBE HISTORY: one row per commit — the version, its
    resolved commit timestamp (the SAME in-commit-timestamp / mtime
    rules time travel uses, so history and TIMESTAMP AS OF never
    disagree), and the ``commitInfo`` provenance (operation,
    delta-spark-shaped operationParameters as a JSON string,
    engineInfo) when the commit recorded one — null otherwise, as
    delta-spark shows for foreign commits without commitInfo."""
    stamps = dict(commit_timestamps(table_path))
    log = _log_dir(table_path)
    rows = []
    for v in sorted(stamps):
        ci = None
        with open(os.path.join(log, "%020d.json" % v)) as fh:
            for line in fh:
                if not line.strip():
                    continue
                a = json.loads(line)
                if a.get("commitInfo") is not None:
                    ci = a["commitInfo"]
                    break
        rows.append(
            (
                v,
                stamps[v],
                None if ci is None else ci.get("operation"),
                (
                    None
                    if ci is None
                    else json.dumps(
                        ci.get("operationParameters") or {},
                        sort_keys=True,
                    )
                ),
                None if ci is None else ci.get("engineInfo"),
            )
        )
    return local_rows_df(spark, 
        rows,
        "version long, timestamp long, operation string, "
        "operation_parameters string, engine_info string",
    )


def table_constraints(meta: dict | None) -> dict[str, str]:
    """``name -> SQL expression`` from the table's
    ``delta.constraints.<name>`` configuration (the checkConstraints
    writer feature)."""
    conf = (meta or {}).get("configuration") or {}
    return {
        k[len("delta.constraints."):]: v
        for k, v in conf.items()
        if k.startswith("delta.constraints.")
    }


def constraint_violation_aggs(meta: dict | None):
    """Per-constraint violation-count aggregate COLUMNS, for writers
    that fold CHECK validation into an aggregate job they already run
    (one fewer driver action per commit — the standalone
    :func:`check_delta_constraints` pays a full batch pass of its
    own). Returns ``(names, agg_cols)``; zero columns when the table
    declares no constraints. Aggregate alias ``__ck<i>`` pairs with
    ``names[i]``; pass the collected totals to
    :func:`raise_constraint_violations`. Violation rule identical to
    the standalone check: false AND null violate."""
    constraints = table_constraints(meta)
    names = sorted(constraints)
    aggs = [
        F.count(
            F.when(
                ~F.coalesce(
                    F.expr(constraints[n]).cast("boolean"),
                    F.lit(False),
                ),
                1,
            )
        ).alias(f"__ck{i}")
        for i, n in enumerate(names)
    ]
    return names, aggs


def raise_constraint_violations(
    meta: dict | None, names: list[str], totals: list[int], verb: str
) -> None:
    """Raise exactly as :func:`check_delta_constraints` does, from
    violation counts a caller summed out of its own aggregate."""
    constraints = table_constraints(meta)
    for n, bad in zip(names, totals):
        if bad:
            raise ValueError(
                f"delta {verb}: CHECK constraint {n!r} "
                f"({constraints[n]}) violated by {bad} row(s)"
            )


def check_delta_constraints(
    meta: dict | None, batch: DataFrame, verb: str
) -> None:
    """Enforce the table's CHECK constraints on rows a writer is about
    to ADD (PROTOCOL.md "CHECK Constraints": the expression *must
    evaluate to true* for every written row — false AND null violate,
    delta-spark's enforcement semantics, stricter than SQL-standard
    CHECK). One aggregate over the batch covers every constraint; no
    job runs when the table declares none."""
    constraints = table_constraints(meta)
    if not constraints:
        return
    names = sorted(constraints)
    row = batch.agg(
        *[
            F.count(
                F.when(
                    ~F.coalesce(
                        F.expr(constraints[n]).cast("boolean"),
                        F.lit(False),
                    ),
                    1,
                )
            ).alias(f"__c{i}")
            for i, n in enumerate(names)
        ]
    ).collect()[0]
    for i, n in enumerate(names):
        bad = row[f"__c{i}"]
        if bad:
            raise ValueError(
                f"delta {verb}: CHECK constraint {n!r} "
                f"({constraints[n]}) violated by {bad} row(s)"
            )


def generated_columns(meta: dict | None) -> dict[str, str]:
    """``column -> generation expression`` from schemaString field
    metadata (``delta.generationExpression`` — the generatedColumns
    writer feature, PROTOCOL.md "Generated Columns")."""
    if not meta:
        return {}
    out: dict[str, str] = {}
    for f in json.loads(meta["schemaString"]).get("fields") or []:
        ge = (f.get("metadata") or {}).get("delta.generationExpression")
        if ge is not None:
            out[f["name"]] = ge
    return out


def apply_generated_columns(
    meta: dict | None, batch: DataFrame, verb: str
) -> DataFrame:
    """Honor the table's generated columns on rows a writer ADDS:
    columns ABSENT from the batch are computed from their generation
    expressions (cast to the declared type); columns PROVIDED must
    null-safe-equal the expression for every row, else the write
    refuses — delta-spark's enforcement (a silently-divergent provided
    value would corrupt the generation invariant downstream readers
    rely on, e.g. partition pruning on a generated date)."""
    gens = generated_columns(meta)
    if not gens:
        return batch
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    checks: list[tuple[str, Column]] = []
    for col in sorted(gens):
        gen = F.expr(gens[col]).cast(schema[col].dataType)
        if col not in batch.columns:
            batch = batch.withColumn(col, gen)
        else:
            checks.append((col, gen))
    if checks:
        row = batch.agg(
            *[
                F.count(
                    F.when(~F.col(c).eqNullSafe(g), 1)
                ).alias(f"__g{i}")
                for i, (c, g) in enumerate(checks)
            ]
        ).collect()[0]
        for i, (c, _g) in enumerate(checks):
            bad = row[f"__g{i}"]
            if bad:
                raise ValueError(
                    f"delta {verb}: generated column {c!r} was "
                    "provided with values that do not match its "
                    f"generation expression ({gens[c]}) for {bad} "
                    "row(s)"
                )
    return batch


def identity_columns(meta: dict | None) -> dict[str, dict]:
    """``column -> {start, step, high_water_mark, allow_explicit}``
    from ``delta.identity.*`` field metadata (the identityColumns
    writer feature, PROTOCOL.md "Identity Columns")."""
    if not meta:
        return {}
    out: dict[str, dict] = {}
    for f in json.loads(meta["schemaString"]).get("fields") or []:
        md = f.get("metadata") or {}
        if "delta.identity.start" not in md:
            continue
        hwm = md.get("delta.identity.highWaterMark")
        out[f["name"]] = {
            "start": int(md["delta.identity.start"]),
            "step": int(md.get("delta.identity.step", 1)),
            "high_water_mark": None if hwm is None else int(hwm),
            "allow_explicit": bool(
                md.get("delta.identity.allowExplicitInsert", False)
            ),
        }
    return out


def apply_identity_columns(
    meta: dict | None, batch: DataFrame, verb: str
) -> tuple[DataFrame, dict | None]:
    """Honor the table's IDENTITY columns on rows a writer ADDS: an
    ABSENT identity column is assigned ``highWaterMark + step,
    +2·step, ...`` (or ``start`` on the first write) via the
    shuffle-free distributed sequence
    (:func:`..metadata.with_record_index_and_total` — no window, no
    driver loop); a PROVIDED one refuses under GENERATED ALWAYS
    (``allowExplicitInsert`` false) and otherwise advances the
    watermark past the provided extreme. Returns the (possibly
    extended) batch and, when any watermark moved, the metaData to
    re-state IN THE SAME COMMIT — the protocol requires the high
    watermark to track issued values or a concurrent writer would
    re-issue them."""
    ids = identity_columns(meta)
    if not ids:
        return batch, None
    schema_json = json.loads(meta["schemaString"])
    new_hwm: dict[str, int] = {}
    for col in sorted(ids):
        spec = ids[col]
        start, step = spec["start"], spec["step"]
        hwm = spec["high_water_mark"]
        if col in batch.columns:
            if not spec["allow_explicit"]:
                raise ValueError(
                    f"delta {verb}: identity column {col!r} is "
                    "GENERATED ALWAYS (allowExplicitInsert=false) — "
                    "explicit values are forbidden"
                )
            m = batch.agg(
                (F.max(col) if step > 0 else F.min(col)).alias("m")
            ).collect()[0]["m"]
            if m is not None:
                cur = hwm if hwm is not None else start - step
                if (step > 0 and m > cur) or (step < 0 and m < cur):
                    new_hwm[col] = int(m)
            continue
        from optimus_any2any_spark.metadata import (
            with_record_index_and_total,
        )

        indexed, total = with_record_index_and_total(
            batch, col="__identity_idx"
        )
        if total == 0:
            batch = batch.withColumn(col, F.lit(None).cast("long"))
            continue
        base = (hwm + step) if hwm is not None else start
        batch = indexed.withColumn(
            col,
            (
                F.lit(base) + F.lit(step) * F.col("__identity_idx")
            ).cast("long"),
        ).drop("__identity_idx")
        new_hwm[col] = base + step * (total - 1)
    if not new_hwm:
        return batch, None
    for f in schema_json["fields"]:
        if f["name"] in new_hwm:
            md = dict(f.get("metadata") or {})
            md["delta.identity.highWaterMark"] = new_hwm[f["name"]]
            f["metadata"] = md
    out_meta = dict(meta)
    out_meta["schemaString"] = json.dumps(schema_json)
    return batch, out_meta


def replay_log(
    spark: SparkSession, table_path: str, version: int | None = None
) -> dict:
    """Full log replay: ``{"meta", "live", "txns", "version"}``.

    ``txns`` is the latest committed ``txn.version`` per ``appId`` —
    Delta's transactional-writer idempotence state (the protocol's
    SetTransaction action); ``version`` is the highest committed log
    version (-1 for an empty log dir).

    ``version=N`` replays only commits ``<= N`` — time travel (Delta's
    ``VERSION AS OF``). A checkpoint past N is ignored and the JSON
    commits replayed from 0; if commit files below N are missing the
    history has been cleaned and the request raises rather than
    returning a partial snapshot.
    """
    log = _log_dir(table_path)
    if not os.path.isdir(log):
        raise ValueError(f"delta: no _delta_log under {table_path}")
    checkpoint_version = -1
    checkpoint_files: list[str] = []
    last_cp = os.path.join(log, "_last_checkpoint")
    if os.path.exists(last_cp):
        cp = json.loads(open(last_cp).read())
        checkpoint_version = int(cp["version"])
        parts = cp.get("parts")
        if parts:
            checkpoint_files = [
                os.path.join(
                    log,
                    "%020d.checkpoint.%010d.%010d.parquet"
                    % (checkpoint_version, i + 1, parts),
                )
                for i in range(parts)
            ]
        else:
            classic = os.path.join(
                log, "%020d.checkpoint.parquet" % checkpoint_version
            )
            if os.path.exists(classic):
                checkpoint_files = [classic]
            else:
                # v2 spec: uuid-named
                # <version>.checkpoint.<uniqueStr>.{parquet|json}
                import glob as _cp_glob

                cands = sorted(
                    _cp_glob.glob(
                        os.path.join(
                            log,
                            "%020d.checkpoint.*.parquet"
                            % checkpoint_version,
                        )
                    )
                    + _cp_glob.glob(
                        os.path.join(
                            log,
                            "%020d.checkpoint.*.json"
                            % checkpoint_version,
                        )
                    )
                )
                # exclude classic multi-part names (two numeric parts)
                cands = [
                    c
                    for c in cands
                    if not __import__("re").fullmatch(
                        r".*\.checkpoint\.\d{10}\.\d{10}\.parquet",
                        c,
                    )
                ]
                if not cands:
                    raise ValueError(
                        f"delta: _last_checkpoint names version "
                        f"{checkpoint_version} but no checkpoint file "
                        "exists"
                    )
                checkpoint_files = [cands[-1]]
    if version is not None and checkpoint_version > version:
        # time travel behind the checkpoint: replay JSON from scratch
        checkpoint_version = -1
        checkpoint_files = []
    commits = sorted(
        f
        for f in os.listdir(log)
        if f.endswith(".json") and f[:20].isdigit()
        and int(f[:20]) > checkpoint_version
        and (version is None or int(f[:20]) <= version)
    )
    if version is not None:
        want = list(range(checkpoint_version + 1, version + 1))
        got = [int(f[:20]) for f in commits]
        if got != want:
            raise ValueError(
                f"delta: time travel to version {version} needs commits "
                f"{want} but the log holds {got} — history cleaned?"
            )
    meta = None
    protocol = None
    live: dict[str, dict] = {}
    txns: dict[str, int] = {}
    domains: dict[str, str] = {}

    def apply(action: dict):
        nonlocal meta, protocol
        if "metaData" in action and action["metaData"]:
            meta = action["metaData"]
        if "protocol" in action and action["protocol"]:
            protocol = action["protocol"]
        dm = action.get("domainMetadata")
        if dm and dm.get("domain"):
            # protocol DomainMetadata: last writer wins per domain;
            # removed=true tombstones it (row tracking keeps its
            # rowIdHighWaterMark here)
            if dm.get("removed"):
                domains.pop(dm["domain"], None)
            else:
                domains[dm["domain"]] = dm.get("configuration") or ""
        txn = action.get("txn")
        if txn and txn.get("appId") is not None:
            prev = txns.get(txn["appId"])
            v = int(txn.get("version", 0))
            if prev is None or v > prev:
                txns[txn["appId"]] = v
        add = action.get("add")
        if add and add.get("path"):
            live[add["path"]] = add
        remove = action.get("remove")
        if remove and remove.get("path"):
            # Delta reconciliation keys file actions by
            # (path, deletionVector uniqueId), not path alone: a DV
            # rewrite commits remove(path, oldDV) + add(path, newDV)
            # in the SAME commit, and the remove must tombstone only
            # the old (path, DV) version regardless of the order the
            # two actions appear in the commit file. A remove whose DV
            # id differs from the live add's is a tombstone for an
            # already-superseded version — ignore it.
            cur = live.get(remove["path"])
            if cur is not None and dv_unique_id(cur) == dv_unique_id(
                remove
            ):
                live.pop(remove["path"])

    if checkpoint_files:
        # classic checkpoints are PLAIN PARQUET of the action structs;
        # the v2 spec adds json checkpoints, a checkpointMetadata
        # marker row, and sidecar actions whose _sidecars/ parquet
        # files hold the file actions
        rows_: list[dict] = []
        for cf in checkpoint_files:
            if cf.endswith(".json"):
                with open(cf) as f:
                    rows_.extend(
                        json.loads(ln) for ln in f if ln.strip()
                    )
            else:
                rows_.extend(
                    {
                        k: v
                        for k, v in r.asDict(recursive=True).items()
                        if v is not None
                    }
                    for r in spark.read.parquet(cf).collect()
                )
        sidecars: list[str] = []
        for d in rows_:
            sc_ = d.get("sidecar")
            if sc_ and sc_.get("path"):
                sidecars.append(sc_["path"])
                continue
            cpm = d.get("checkpointMetadata")
            if cpm:
                if int(cpm.get("version", checkpoint_version)) != (
                    checkpoint_version
                ):
                    raise ValueError(
                        "delta: v2 checkpoint metadata names version "
                        f"{cpm.get('version')} but the file is for "
                        f"{checkpoint_version}"
                    )
                continue
            apply(d)
        for sp in sidecars:
            full = (
                sp
                if sp.startswith("/")
                else os.path.join(log, "_sidecars", sp)
            )
            for r in spark.read.parquet(full).collect():
                d = {
                    k: v
                    for k, v in r.asDict(recursive=True).items()
                    if v is not None
                }
                apply(d)
    for fname in commits:
        with open(os.path.join(log, fname)) as f:
            for line in f:
                if line.strip():
                    apply(json.loads(line))
    if meta is None or protocol is None:
        raise ValueError("delta: log replay found no metaData/protocol")
    mrv = int(protocol.get("minReaderVersion", 1))
    if mrv > 3:
        raise NotImplementedError(
            f"delta: reader version {mrv} is beyond this reader"
        )
    if mrv == 3:
        # v3 is feature-gated: accept iff every listed readerFeature
        # is one this reader implements; a v3 protocol WITHOUT the
        # feature list is malformed — reject rather than guess
        if protocol.get("readerFeatures") is None:
            raise NotImplementedError(
                "delta: reader version 3 without readerFeatures — "
                "malformed protocol, refusing to guess"
            )
        feats = set(protocol.get("readerFeatures") or [])
        unknown = feats - {
            "deletionVectors", "columnMapping", "timestampNtz",
            "v2Checkpoint",
        }
        if unknown:
            raise NotImplementedError(
                f"delta: reader features {sorted(unknown)} are beyond "
                "this reader"
            )
    if mrv == 2:
        # reader version 2 exists for exactly one feature: column
        # mapping. A v2 table WITHOUT the mapping declared is asking
        # for something this reader does not know — reject, don't
        # mis-read
        mode = (meta.get("configuration") or {}).get(
            "delta.columnMapping.mode"
        )
        if mode not in ("name", "id"):
            raise NotImplementedError(
                "delta: minReaderVersion 2 without "
                "delta.columnMapping.mode — unknown reader feature"
            )
    version = max(
        [int(f[:20]) for f in commits] + [checkpoint_version], default=-1
    )
    return {
        "meta": meta,
        "live": live,
        "txns": txns,
        "version": version,
        "protocol": protocol,
        "domains": domains,
    }


def dv_unique_id(file_action: dict) -> str | None:
    """The deletion vector's unique id per the Delta spec —
    ``storageType + pathOrInlineDv (+ '@' + offset when present)`` —
    or None for a DV-less file action. add/remove pairs for the same
    path reconcile by this id (see ``replay_log.apply``)."""
    dv = file_action.get("deletionVector")
    if not dv:
        return None
    uid = f"{dv.get('storageType', '')}{dv.get('pathOrInlineDv', '')}"
    off = dv.get("offset")
    # spec parity: delta-spark's DeletionVectorDescriptor.uniqueId
    # appends "@offset" whenever the offset is PRESENT — including an
    # explicit 0 — so a present-and-zero offset must not collapse to
    # the absent form (mixed-writer logs would reconcile differently)
    return uid if off is None else f"{uid}@{off}"


def _stats_exclude(add: dict, col: str, lo, hi) -> bool:
    """True iff the add action's ``stats`` JSON PROVES the file holds no
    row with ``lo <= col <= hi`` (Delta data skipping: per-file
    minValues/maxValues). No stats / unparseable / null-only ⇒ keep.
    Only trusted for types whose ordering survives the JSON round trip
    (strings and non-bool numerics), mirroring the manifest table's
    ``prunable`` rule."""
    raw = add.get("stats")
    if not raw:
        return False
    try:
        st = json.loads(raw) if isinstance(raw, str) else raw
        fmin = (st.get("minValues") or {}).get(col)
        fmax = (st.get("maxValues") or {}).get(col)
        nulls = (st.get("nullCount") or {}).get(col)
    except (ValueError, AttributeError):
        return False
    def _num(x):
        return isinstance(x, (int, float)) and not isinstance(x, bool)

    ok = (isinstance(fmin, str) and isinstance(fmax, str)) or (
        _num(fmin) and _num(fmax)
    )
    if not ok:
        return False
    # nulls never match a range predicate, so a file of nulls-plus-
    # out-of-range values is still safely excludable on the range test
    del nulls
    try:
        return bool(fmax < lo or fmin > hi)
    except TypeError:  # key type mismatch with stats: unusable
        return False


def dv_descriptor(table_path: str, add: dict) -> tuple | None:
    """``(kind, inline text, blob path, offset, size)`` of a live add's
    deletion vector for :func:`merge_core.deleted_positions_df`, or
    None for a DV-less add. Resolution follows the protocol: ``i`` =
    z85 blob inline; ``p`` = absolute path; ``u`` = <random prefix><z85
    uuid> -> <prefix>/deletion_vector_<uuid>.bin under the table
    root."""
    import uuid as _uuid

    from optimus_any2any_spark.formats.roaring import z85_decode

    dv = add.get("deletionVector")
    if not dv:
        return None
    st_ = dv["storageType"]
    size = int(dv["sizeInBytes"])
    if st_ == "i":
        return ("inline", dv["pathOrInlineDv"], "", 0, size)
    if st_ == "p":
        fpath = _localize_delta(table_path, dv["pathOrInlineDv"])
    elif st_ == "u":
        enc = dv["pathOrInlineDv"]
        prefix, uid_txt = enc[:-20], enc[-20:]
        uid = _uuid.UUID(bytes=z85_decode(uid_txt))
        fpath = os.path.join(
            table_path, prefix, f"deletion_vector_{uid}.bin"
        )
    else:
        raise NotImplementedError(
            f"delta: deletion vector storageType {st_!r}"
        )
    return ("bin", "", fpath, int(dv.get("offset") or 0), size)


def _read_files_dv_aware(
    spark: SparkSession,
    table_path: str,
    data_schema: T.StructType,
    paths: list[str],
    live: dict[str, dict],
    pfields=None,
    row_tracking: tuple | None = None,
    part_fields: list[T.StructField] = (),
    file_cols: tuple[str, dict[str, tuple]] | None = None,
    positions: bool = False,
) -> DataFrame:
    """The one Delta scan: the given live files (``live`` maps each
    log path to its add action) as ONE ``spark.read.parquet``, with
    each file's deletion-vector rows DROPPED. Every reader and the
    read half of every copy-on-write writer (merge, DML, delete,
    OPTIMIZE, DV purge) goes through it — a rewrite from raw parquet
    would resurrect deleted rows.

    Each row's ``(_metadata.file_path, _metadata.row_index)`` is
    captured once, straight off the scan (metadata columns are
    unreliable once rows cross an exchange). Per-file values ride ONE
    broadcast lookup keyed by the file's FULL scan path
    (:func:`merge_core.scan_path_key`), so live files that share a
    basename never mix:

    - ``part_fields``: the logical partition fields, re-attached
      typed from each add's ``partitionValues`` (strings keyed by
      physical names on mapped tables);
    - ``row_tracking=(rid_phys, rcv_phys)`` (the table's materialized
      column names) appends ``__rt_id`` / ``__rt_cv``:
      ``coalesce(materialized column, add.baseRowId + position)`` /
      ``coalesce(..., add.defaultRowCommitVersion)`` per PROTOCOL.md
      Row Tracking;
    - ``file_cols=(ddl, {path: values})``: caller constants per file
      (a routing ``__pid``, a file id).

    Deleted positions decode on executors
    (:func:`merge_core.deleted_positions_df`) and leave in one
    anti-join. ``positions=True`` keeps ``__fp`` / ``__pos`` (scan
    key and row index) for writers that address rows by position.
    ``pfields`` (mapped tables) reads physical names and casts back to
    the logical ``data_schema``. A plain read with nothing to attach is
    the bare schema'd scan."""
    from optimus_any2any_spark.streaming.merge_core import (
        deleted_positions_df,
        scan_path_key,
    )

    def phys(c: str) -> str:
        return pfields[c].name if pfields is not None else c

    read_schema = T.StructType(
        [pfields[f.name] if pfields is not None else f
         for f in data_schema.fields]
    )
    if row_tracking is not None:
        # files REWRITTEN under row tracking carry the materialized
        # columns; fresh appends do not and read them as null (Spark
        # null-fills requested columns absent from a parquet file)
        read_schema = T.StructType(
            list(read_schema.fields)
            + [T.StructField(c, T.LongType(), True) for c in row_tracking]
        )
    # absolute paths: the scan and the lookup key resolve them alike
    full = {p: os.path.abspath(os.path.join(table_path, p)) for p in paths}
    df = spark.read.schema(read_schema).parquet(*full.values())
    dv_rows = [
        (scan_path_key(full[p]), *d, None)
        for p in paths
        if (d := dv_descriptor(table_path, live[p])) is not None
    ]
    pvs = {
        p: tuple(
            (live[p].get("partitionValues") or {}).get(phys(f.name))
            for f in part_fields
        )
        for p in paths
    }
    # partition values every file shares (one partition, or none)
    # attach as typed literals: no lookup join and no broadcast job
    shared_pv = len(set(pvs.values())) == 1
    lookup = (
        not shared_pv or row_tracking is not None or bool(file_cols)
    )
    # column mapping: parquet carries physical names at every nesting
    # level — one positional struct cast per column renames them all.
    # Row-tracking materialized columns are outside the logical schema
    # and keep their configured names.
    cols = [
        F.col("`" + phys(f.name) + "`").cast(f.dataType).alias(f.name)
        for f in data_schema.fields
    ] + [F.col("`" + c + "`") for c in row_tracking or ()]
    if shared_pv:
        cols += [
            F.lit(v).cast(f.dataType).alias(f.name)
            for f, v in zip(part_fields, pvs[paths[0]])
        ]
    if not (lookup or dv_rows or positions):
        return df.select(*cols) if pfields is not None or part_fields else df
    df = df.select(
        *cols,
        F.col("_metadata.file_path").alias("__fp"),
        F.col("_metadata.row_index").alias("__pos"),
    )
    if lookup:
        fields = [T.StructField("__fp", T.StringType(), False)]
        if not shared_pv:
            fields += [
                T.StructField(f.name, T.StringType(), True)
                for f in part_fields
            ]
        if row_tracking is not None:
            fields += [
                T.StructField("__rt_base", T.LongType(), False),
                T.StructField("__rt_dcv", T.LongType(), False),
            ]
        if file_cols:
            fields += T._parse_datatype_string(file_cols[0]).fields
        rows = []
        for p in paths:
            a = live[p]
            row = [scan_path_key(full[p])]
            if not shared_pv:
                row += pvs[p]
            if row_tracking is not None:
                if (
                    a.get("baseRowId") is None
                    or a.get("defaultRowCommitVersion") is None
                ):
                    raise NotImplementedError(
                        "delta row tracking: live file "
                        f"{p!r} carries no baseRowId — backfill of "
                        "pre-enablement files is beyond this writer"
                    )
                row += [
                    int(a["baseRowId"]), int(a["defaultRowCommitVersion"])
                ]
            if file_cols:
                row += file_cols[1][p]
            rows.append(tuple(row))
        lk = local_rows_df(spark, rows, T.StructType(fields))
        df = df.join(F.broadcast(lk), "__fp")
        if not shared_pv:
            for f in part_fields:
                df = df.withColumn(
                    f.name, F.col("`" + f.name + "`").cast(f.dataType)
                )
    if dv_rows:
        deleted = deleted_positions_df(spark, dv_rows).select(
            F.col("file_path").alias("__fp"), F.col("pos").alias("__pos")
        )
        df = df.join(deleted, ["__fp", "__pos"], "left_anti")
    if row_tracking is not None:
        rid, rcv = row_tracking
        df = (
            df.withColumn(
                "__rt_id",
                F.coalesce(
                    F.col("`" + rid + "`"),
                    F.col("__rt_base") + F.col("__pos"),
                ),
            )
            .withColumn(
                "__rt_cv",
                F.coalesce(F.col("`" + rcv + "`"), F.col("__rt_dcv")),
            )
            .drop(rid, rcv, "__rt_base", "__rt_dcv")
        )
    return df if positions else df.drop("__fp", "__pos")


def _localize_delta(table_path: str, uri: str) -> str:
    if uri.startswith("file://"):
        return uri[len("file://"):]
    if uri.startswith("/"):
        return uri
    return os.path.join(table_path, uri)


def column_mapping(meta: dict) -> dict[str, str] | None:
    """``logical name -> physical name`` (TOP-LEVEL) when the table
    declares ``delta.columnMapping.mode`` (name or id), else None. The
    physical names come from each schema field's
    ``delta.columnMapping.physicalName`` metadata (the protocol's
    name-mapping form; id-mode tables also carry physicalName, which
    is what parquet files are written with). Nested fields translate
    through :func:`physical_fields` — structs cast POSITIONALLY in
    Spark, so one cast renames every nesting level."""
    mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode"
    )
    if mode in (None, "none"):
        return None
    schema = json.loads(meta["schemaString"])
    out: dict[str, str] = {}
    for f in schema.get("fields", []):
        md = f.get("metadata") or {}
        out[f["name"]] = md.get(
            "delta.columnMapping.physicalName", f["name"]
        )
    return out


def _phys_type_json(t):
    """A Delta schemaString type with every struct field renamed to
    its ``delta.columnMapping.physicalName`` (recursively)."""
    if isinstance(t, dict):
        k = t.get("type")
        if k == "struct":
            return {
                "type": "struct",
                "fields": [_phys_field_json(f) for f in t["fields"]],
            }
        if k == "array":
            return {**t, "elementType": _phys_type_json(t["elementType"])}
        if k == "map":
            return {
                **t,
                "keyType": _phys_type_json(t["keyType"]),
                "valueType": _phys_type_json(t["valueType"]),
            }
    return t


def _phys_field_json(f: dict) -> dict:
    md = f.get("metadata") or {}
    return {
        **f,
        "name": md.get("delta.columnMapping.physicalName", f["name"]),
        "type": _phys_type_json(f["type"]),
        "metadata": {},
    }


def physical_fields(meta: dict) -> dict[str, T.StructField] | None:
    """``logical top-level name -> physical StructField`` (physical
    names at EVERY nesting level) when the table declares column
    mapping, else None. Reading a mapped parquet file with the
    physical schema and casting each column to its logical type
    renames all levels in one positional struct cast — and the
    reverse cast physicalizes a logical frame before a write."""
    mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode"
    )
    if mode in (None, "none"):
        return None
    schema = json.loads(meta["schemaString"])
    return {
        f["name"]: T.StructField.fromJson(_phys_field_json(f))
        for f in schema.get("fields", [])
    }


def read_delta_row_tracking(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
) -> DataFrame:
    """Snapshot read of a ROW-TRACKING table with ``_row_id`` and
    ``_row_commit_version`` appended (PROTOCOL.md Row Tracking, the
    Delta twin of ``read_iceberg(row_lineage=True)``): each row's
    stable id is ``coalesce(materialized column, add.baseRowId +
    position)`` and its commit version ``coalesce(materialized,
    add.defaultRowCommitVersion)`` — fresh files derive, rewritten
    files carry their rows' history in the materialized columns. The
    file lookup of the one DV-aware scan carries each file's
    baseRowId/defaultRowCommitVersion; zero extra jobs."""
    from optimus_any2any_spark.streaming.delta_table import (
        _row_tracking_of,
    )

    state = replay_log(spark, table_path, version=version)
    meta = state["meta"]
    rt = _row_tracking_of(meta)
    if rt is None:
        raise ValueError(
            "delta read: row tracking is not enabled on this table"
        )
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    part_cols = meta.get("partitionColumns") or []
    live = state["live"]
    if not live:
        return spark.createDataFrame(
            [],
            T.StructType(
                list(schema.fields)
                + [
                    T.StructField("_row_id", T.LongType(), True),
                    T.StructField(
                        "_row_commit_version", T.LongType(), True
                    ),
                ]
            ),
        )
    cur = _read_files_dv_aware(
        spark, table_path,
        T.StructType([f for f in schema.fields if f.name not in part_cols]),
        sorted(live), live,
        pfields=physical_fields(meta),
        row_tracking=rt,
        part_fields=[schema[c] for c in part_cols],
    )
    return cur.select(
        *schema.fieldNames(),
        F.col("__rt_id").alias("_row_id"),
        F.col("__rt_cv").alias("_row_commit_version"),
    )


def read_delta(
    spark: SparkSession,
    table_path: str,
    key_range: tuple | None = None,
    version: int | None = None,
    timestamp=None,
) -> DataFrame:
    """Current-snapshot read of a Delta table (see module doc).

    ``version=N`` time-travels to committed version N (Delta's
    ``VERSION AS OF``): the replay simply stops at commit N, so the
    returned frame is exactly the table as that commit left it —
    tombstoned files that were live at N are read again (which is why
    ``vacuum_delta`` is the operation that *destroys* time travel, just
    like real Delta's retention window).

    ``timestamp=`` is ``TIMESTAMP AS OF`` (epoch millis, datetime, or
    ISO string): resolves to the LATEST commit whose commit timestamp
    is <= the given one (:func:`resolve_delta_timestamp` — in-commit
    timestamps when the table declares them, else monotonic-adjusted
    commit-file times) and time-travels there. Mutually exclusive
    with ``version``.

    ``key_range=(col, lo, hi)`` applies the range predicate AND uses
    each add action's ``stats`` (minValues/maxValues — written by
    :mod:`..streaming.delta_table` merges and by real Delta writers) to
    skip files the predicate provably cannot match: the open-protocol
    form of Delta data skipping. Files without stats are read and
    filtered normally, so the result is exactly
    ``snapshot.filter(lo <= col <= hi)`` either way.
    """
    if timestamp is not None:
        if version is not None:
            raise ValueError(
                "delta read: version and timestamp are mutually "
                "exclusive"
            )
        version = resolve_delta_timestamp(
            table_path, timestamp, strict=True
        )
    meta, live = _snapshot_actions(spark, table_path, version=version)
    cmap = column_mapping(meta)  # logical -> physical, or None
    phys = (lambda c: cmap.get(c, c)) if cmap else (lambda c: c)
    if key_range is not None:
        col, lo, hi = key_range
        # stats JSON is keyed by PHYSICAL names on mapped tables
        live = {
            p: a
            for p, a in live.items()
            if not _stats_exclude(a, phys(col), lo, hi)
        }
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    if not live:
        return spark.createDataFrame([], schema)
    out = _read_delta_files(spark, table_path, meta, schema, live)
    if key_range is not None:
        col, lo, hi = key_range
        out = out.filter((F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi)))
    return out


def _read_delta_files(
    spark: SparkSession,
    table_path: str,
    meta: dict,
    schema: T.StructType,
    adds: dict[str, dict],
) -> DataFrame:
    """The given add actions' rows in the table's logical column order:
    one scan, partition values re-attached and deletion vectors
    applied through the file lookup (:func:`_read_files_dv_aware`)."""
    part_cols = meta.get("partitionColumns") or []
    return _read_files_dv_aware(
        spark, table_path,
        T.StructType([f for f in schema.fields if f.name not in part_cols]),
        sorted(adds), adds,
        pfields=physical_fields(meta),
        part_fields=[schema[c] for c in part_cols],
    ).select(*[F.col("`" + c + "`") for c in schema.fieldNames()])


# ---------------------------------------------------------------------------
# Incremental reads: append tailing + Change Data Feed


def _commit_actions(
    table_path: str, from_version: int, to_version: int
) -> list[tuple[int, list[dict]]]:
    """Raw actions of commits ``from_version < v <= to_version``;
    raises if any commit file in the range is missing (cleaned
    history must not read as an empty change set)."""
    log = _log_dir(table_path)
    out = []
    for v in range(from_version + 1, to_version + 1):
        path = os.path.join(log, "%020d.json" % v)
        if not os.path.exists(path):
            raise ValueError(
                f"delta: commit {v} missing from the log — history "
                "cleaned? incremental read cannot skip versions"
            )
        with open(path) as f:
            actions = [
                json.loads(line) for line in f if line.strip()
            ]
        out.append((v, actions))
    return out


def read_delta_appends(
    spark: SparkSession,
    table_path: str,
    from_version: int,
    to_version: int,
) -> DataFrame:
    """Rows APPENDED in commits ``(from_version, to_version]`` — the
    batch form of Delta's streaming-source tail read. A commit that
    removed data (``remove`` with ``dataChange``) is not expressible
    as an append stream, so it raises — exactly Delta's
    failOnDataLoss/ignoreChanges contract — and ``read_delta_cdf`` is
    the reader for such commits. ``dataChange: false`` actions
    (compaction, checkpoint shuffling) are skipped, as streaming
    readers must."""
    meta, _ = _snapshot_actions(spark, table_path)
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    adds: dict[str, dict] = {}
    for v, actions in _commit_actions(
        table_path, from_version, to_version
    ):
        for a in actions:
            rm = a.get("remove")
            if rm and rm.get("dataChange", True):
                raise ValueError(
                    f"delta: commit {v} rewrites data (remove with "
                    "dataChange) — not an append stream; use "
                    "read_delta_cdf"
                )
            add = a.get("add")
            if add and add.get("dataChange", True):
                if add.get("deletionVector"):
                    # a DV'd add is an UPDATE of an existing file, not
                    # an append — reading its raw parquet would both
                    # double-count and resurrect deleted rows
                    raise ValueError(
                        f"delta: commit {v} carries a deletion vector "
                        "— not an append stream; use read_delta_cdf"
                    )
                adds[add["path"]] = add
    if not adds:
        return spark.createDataFrame([], schema)
    # mapped tables: the parquet carries PHYSICAL names at every
    # nesting level — the scan reads physical and casts back
    return _read_delta_files(spark, table_path, meta, schema, adds)


def read_delta_cdf(
    spark: SparkSession,
    table_path: str,
    from_version: int | None = None,
    to_version: int | None = None,
    from_timestamp=None,
    to_timestamp=None,
) -> DataFrame:
    """Change Data Feed read of commits ``(from_version, to_version]``:
    rows with ``_change_type`` (insert / update_preimage /
    update_postimage / delete) and ``_commit_version`` — the Delta CDF
    table-valued read. Commits that recorded ``cdc`` actions are read
    from their ``_change_data`` files; append-only commits synthesize
    ``insert`` rows from their add files (real Delta does exactly
    this); a data-rewriting commit WITHOUT change data raises rather
    than guessing.

    Timestamp variants (delta-spark's startingTimestamp /
    endingTimestamp rules): ``from_timestamp`` selects the EARLIEST
    commit at-or-after it as the first change window (so that commit's
    changes are included); ``to_timestamp`` the LATEST commit
    at-or-before it as the last. Each is mutually exclusive with its
    version twin."""
    if from_timestamp is not None:
        if from_version is not None:
            raise ValueError(
                "delta cdf: from_version and from_timestamp are "
                "mutually exclusive"
            )
        from_version = (
            resolve_delta_timestamp(
                table_path, from_timestamp, after=True
            )
            - 1
        )
    if to_timestamp is not None:
        if to_version is not None:
            raise ValueError(
                "delta cdf: to_version and to_timestamp are "
                "mutually exclusive"
            )
        to_version = resolve_delta_timestamp(table_path, to_timestamp)
    if from_version is None or to_version is None:
        raise ValueError(
            "delta cdf: a starting and an ending version (or "
            "timestamp) are required"
        )
    meta, _live = _snapshot_actions(spark, table_path)
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    cmap = column_mapping(meta)  # mapped tables: cdc files carry
    phys = (lambda c: cmap.get(c, c)) if cmap else (lambda c: c)
    pfields = physical_fields(meta)
    cdf_schema = T.StructType(
        list(schema.fields)
        + [T.StructField("_change_type", T.StringType(), True)]
    )
    read_schema = T.StructType(
        [pfields[f.name] if pfields else f for f in schema.fields]
        + [T.StructField("_change_type", T.StringType(), True)]
    )
    out: DataFrame | None = None
    for v, actions in _commit_actions(
        table_path, from_version, to_version
    ):
        cdc_files = [
            os.path.join(table_path, a["cdc"]["path"])
            for a in actions
            if a.get("cdc")
        ]
        if cdc_files:
            part = spark.read.schema(read_schema).parquet(*cdc_files)
            if cmap:  # physical parquet names → logical schema
                part = part.select(
                    *[
                        F.col("`" + phys(f.name) + "`")
                        .cast(f.dataType)
                        .alias(f.name)
                        for f in schema.fields
                    ],
                    F.col("_change_type"),
                )
        else:
            removes = any(
                a.get("remove") and a["remove"].get("dataChange", True)
                for a in actions
            )
            # a DV'd add is a row-level rewrite too: synthesizing
            # inserts from its raw parquet would resurrect deleted rows
            if removes or any(
                a.get("add") and a["add"].get("deletionVector")
                for a in actions
            ):
                raise ValueError(
                    f"delta: commit {v} rewrote data without change "
                    "data — CDF was not enabled for that commit"
                )
            if not any(
                a.get("add") and a["add"].get("dataChange", True)
                for a in actions
            ):
                continue
            # synthesize inserts via the append reader — it handles
            # partitioned tables' log-carried partition columns
            part = read_delta_appends(
                spark, table_path, v - 1, v
            ).withColumn("_change_type", F.lit("insert"))
        part = part.withColumn("_commit_version", F.lit(v).cast("long"))
        out = part if out is None else out.unionByName(part)
    if out is None:
        return spark.createDataFrame(
            [],
            T.StructType(
                list(cdf_schema.fields)
                + [T.StructField("_commit_version", T.LongType(), True)]
            ),
        )
    return out
