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
path layout, which Delta does not guarantee) and are attached as
typed literal columns per partition group.

Scale shape: the log replay is driver-side over the log's JSON tail
(checkpoints bound it — that is exactly why the protocol has them);
data reading is one ``spark.read.parquet`` per distinct partition
tuple (grouped, not per-file) unioned by name. The reference has no
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


def _dv_descriptor_rows(
    table_path: str, live: dict[str, dict]
) -> list[tuple]:
    """(file basename, storageType, inline text, resolved path, offset,
    size) per live add carrying a deletion vector. Resolution follows
    the protocol: ``i`` = z85 blob inline; ``p`` = absolute path;
    ``u`` = <random prefix><z85 uuid> -> <prefix>/deletion_vector_
    <uuid>.bin under the table root."""
    import uuid as _uuid

    from optimus_any2any_spark.formats.roaring import z85_decode

    # the position anti-join keys files by BASENAME (what
    # _metadata.file_path yields after the split) — two live files
    # with the same basename in different partition subdirectories
    # would cross-apply each other's deletions, so refuse outright
    # rather than mis-read (uuid part names make collisions all but
    # impossible for tables this engine wrote, but external tables
    # carry no such guarantee)
    seen_bn: dict[str, str] = {}
    for p in live:
        bn_ = p.rsplit("/", 1)[-1]
        if bn_ in seen_bn and seen_bn[bn_] != p:
            raise NotImplementedError(
                "delta: live files share the basename "
                f"{bn_!r} ({seen_bn[bn_]!r} vs {p!r}) — the deletion-"
                "vector row-index join would cross-apply deletions"
            )
        seen_bn[bn_] = p

    rows: list[tuple] = []
    for add in live.values():
        dv = add.get("deletionVector")
        if not dv:
            continue
        st_ = dv["storageType"]
        bn = add["path"].rsplit("/", 1)[-1]
        inline = ""
        fpath = ""
        if st_ == "i":
            inline = dv["pathOrInlineDv"]
        elif st_ == "p":
            fpath = _localize_delta(table_path, dv["pathOrInlineDv"])
        elif st_ == "u":
            enc = dv["pathOrInlineDv"]
            prefix, uid_txt = enc[:-20], enc[-20:]
            uid = _uuid.UUID(bytes=z85_decode(uid_txt))
            rel = f"deletion_vector_{uid}.bin"
            fpath = os.path.join(
                table_path, prefix, rel
            ) if prefix else os.path.join(table_path, rel)
        else:
            raise NotImplementedError(
                f"delta: deletion vector storageType {st_!r}"
            )
        rows.append(
            (
                bn,
                st_,
                inline,
                fpath,
                int(dv.get("offset") or 0),
                int(dv["sizeInBytes"]),
            )
        )
    return rows


def dv_positions_df(spark: SparkSession, dv_rows: list[tuple]):
    """Deleted ``(__dv_bn, __dv_pos)`` rows from DV descriptor tuples
    (see :func:`_dv_descriptor_rows`). The vectors decode on EXECUTORS
    through an Arrow-batched pandas UDF — the descriptor frame is tiny,
    the exploded positions are the only data moved."""
    import pandas  # noqa: F401  (annotation resolution)
    from pyspark.sql.functions import pandas_udf

    # get_type_hints resolves annotations from MODULE globals (the
    # `from __future__ import annotations` stringification), so pandas
    # must be visible there
    globals().setdefault("pandas", pandas)

    dv_df = local_rows_df(spark,
        dv_rows,
        "__dv_bn string, __st string, __inline string, "
        "__fpath string, __off long, __size long",
    )
    # one decode task PER DESCRIPTOR ROW spins one Python worker per
    # vector (~30-50 ms each for a few-KB blob — measured 1.5 s of a
    # 29-file delete commit). Slice by compressed-vector bytes instead:
    # ~1 MB of Roaring per task keeps executor-side parallelism for
    # big vector sets while a metadata-scale set decodes in one task.
    total_sz = sum(int(r[5]) for r in dv_rows)
    n_slices = max(1, min(len(dv_rows), total_sz // (1 << 20) + 1))
    dv_df = dv_df.coalesce(n_slices)

    # ship the codec module BY VALUE: python workers do not have the
    # repo on PYTHONPATH (the same gotcha as the streaming sources)
    from pyspark import cloudpickle as _cp

    from optimus_any2any_spark.formats import roaring as _roaring

    _cp.register_pickle_by_value(_roaring)
    dv_blob_decode = _roaring.dv_blob_decode
    dv_file_read = _roaring.dv_file_read
    z85_decode = _roaring.z85_decode

    @pandas_udf("array<long>")
    def _decode(
        st_: pandas.Series, inline: pandas.Series,
        fpath: pandas.Series, off: pandas.Series,
        size: pandas.Series,
    ) -> pandas.Series:
        import pandas as _pd

        out_vals = []
        for i in range(len(st_)):
            if st_.iloc[i] == "i":
                # inline blobs are zero-padded to the z85 4-byte
                # block; sizeInBytes carries the true length
                blob = z85_decode(inline.iloc[i])[: int(size.iloc[i])]
            else:
                blob = dv_file_read(
                    fpath.iloc[i], int(off.iloc[i]), int(size.iloc[i])
                )
            out_vals.append(dv_blob_decode(blob))
        return _pd.Series(out_vals)

    return dv_df.select(
        "__dv_bn",
        F.explode(
            _decode("__st", "__inline", "__fpath", "__off", "__size")
        ).alias("__dv_pos"),
    )


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
    files carry their rows' history in the materialized columns. One
    broadcast (basename → baseRowId/defaultRowCommitVersion) over the
    ordinary DV-aware read; zero extra jobs."""
    from optimus_any2any_spark.streaming.delta_table import (
        _read_files_dv_aware,
        _row_tracking_of,
    )

    state = replay_log(spark, table_path, version=version)
    meta = state["meta"]
    rt = _row_tracking_of(meta)
    if rt is None:
        raise ValueError(
            "delta read: row tracking is not enabled on this table"
        )
    cmap = column_mapping(meta)
    phys = (lambda c: cmap.get(c, c)) if cmap else (lambda c: c)
    pfields = physical_fields(meta) if cmap else None
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    part_cols = meta.get("partitionColumns") or []
    data_schema = T.StructType(
        [f for f in schema.fields if f.name not in part_cols]
    )
    live = state["live"]
    out_schema = T.StructType(
        list(schema.fields)
        + [
            T.StructField("_row_id", T.LongType(), True),
            T.StructField("_row_commit_version", T.LongType(), True),
        ]
    )
    if not live:
        return spark.createDataFrame([], out_schema)
    paths = sorted(live)
    cur = _read_files_dv_aware(
        spark, table_path, data_schema, paths, live,
        basename_col="__bn" if part_cols else None,
        pfields=pfields,
        row_tracking=rt,
    )
    if part_cols:
        # partitionValues are keyed by PHYSICAL names on mapped tables
        pv_of = {
            p.rsplit("/", 1)[-1]: tuple(
                (a.get("partitionValues") or {}).get(phys(c))
                for c in part_cols
            )
            for p, a in live.items()
        }
        if len(pv_of) != len(live):
            raise NotImplementedError(
                "delta row tracking: live files share a basename — "
                "the partition re-attach join would misattribute rows"
            )
        type_of = {f.name: f.dataType for f in schema.fields}
        lk = local_rows_df(spark, 
            [(bn,) + pv_of[bn] for bn in sorted(pv_of)],
            T.StructType(
                [T.StructField("__bn", T.StringType(), False)]
                + [
                    T.StructField(c, T.StringType(), True)
                    for c in part_cols
                ]
            ),
        )
        for c in part_cols:
            lk = lk.withColumn(c, F.col(c).cast(type_of[c]))
        cur = cur.join(F.broadcast(lk), "__bn")
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
    part_cols = meta.get("partitionColumns") or []
    data_fields = [f for f in schema.fields if f.name not in part_cols]
    # parquet files are written with physical column names AT EVERY
    # nesting level; read them that way and cast back to the logical
    # schema below (struct casts are positional — one cast renames
    # all levels)
    pfields = physical_fields(meta)
    data_schema = T.StructType(
        [
            pfields[f.name] if pfields else f
            for f in data_fields
        ]
    )
    if not live:
        return spark.createDataFrame([], schema)
    # group files by partition tuple; read each group once with typed
    # literal partition columns (Delta's partitionValues are strings,
    # keyed by physical names on mapped tables)
    groups: dict[tuple, list[str]] = {}
    for add in live.values():
        pv = add.get("partitionValues") or {}
        key = tuple(pv.get(phys(c)) for c in part_cols)
        groups.setdefault(key, []).append(
            os.path.join(table_path, add["path"])
        )
    type_of = {f.name: f.dataType for f in schema.fields}
    # the descriptor helper's basename-collision guard exists for the
    # DV row-index join; a DV-less table with colliding basenames is
    # perfectly readable and must not trip it
    dv_rows = (
        _dv_descriptor_rows(table_path, live)
        if any(a.get("deletionVector") for a in live.values())
        else []
    )
    meta_cols = (
        [
            F.element_at(
                F.split(F.col("_metadata.file_path"), "/"), -1
            ).alias("__dv_bn"),
            F.col("_metadata.row_index").alias("__dv_pos"),
        ]
        if dv_rows
        else []
    )
    out = None
    # key=str: partition tuples may hold None (hive default
    # partition) alongside strings, which plain tuple sort rejects
    for key, paths in sorted(groups.items(), key=lambda kv: str(kv)):
        df = spark.read.schema(data_schema).parquet(*paths)
        df = df.select(
            *[
                F.col("`" + phys(f.name) + "`")
                .cast(f.dataType)
                .alias(f.name)
                for f in data_fields
            ],
            *meta_cols,
        )
        for c, v in zip(part_cols, key):
            col = (
                F.lit(None).cast(type_of[c])
                if v is None
                else F.lit(v).cast(type_of[c])
            )
            df = df.withColumn(c, col)
        df = df.select(
            *[f.name for f in schema.fields],
            *(["__dv_bn", "__dv_pos"] if dv_rows else []),
        )
        out = df if out is None else out.unionByName(df)
    if dv_rows:
        # MERGE-ON-READ: each live add's deletion vector marks deleted
        # ROW INDEXES of its file; decode on executors (Arrow batch,
        # stdlib Roaring codec) and anti-join on (file basename,
        # _metadata.row_index). One anti-join total — no per-file jobs.
        deleted = dv_positions_df(spark, dv_rows)
        out = out.join(deleted, ["__dv_bn", "__dv_pos"], "left_anti")
    if dv_rows:
        out = out.drop("__dv_bn", "__dv_pos")
    if key_range is not None:
        col, lo, hi = key_range
        out = out.filter((F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi)))
    return out


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
    part_cols = meta.get("partitionColumns") or []
    # mapped tables: the parquet carries PHYSICAL names at every
    # nesting level — a logical-schema'd read would silently return
    # null columns; read physical and cast back like read_delta
    cmap = column_mapping(meta)
    phys = (lambda c: cmap.get(c, c)) if cmap else (lambda c: c)
    pfields = physical_fields(meta)
    data_fields = [f for f in schema.fields if f.name not in part_cols]
    data_schema = T.StructType(
        [pfields[f.name] if pfields else f for f in data_fields]
    )
    type_of = {f.name: f.dataType for f in schema.fields}
    groups: dict[tuple, list[str]] = {}
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
                pv = add.get("partitionValues") or {}
                key = tuple(pv.get(phys(c)) for c in part_cols)
                groups.setdefault(key, []).append(
                    os.path.join(table_path, add["path"])
                )
    if not groups:
        return spark.createDataFrame([], schema)
    out = None
    for key, paths in sorted(groups.items(), key=str):
        df = spark.read.schema(data_schema).parquet(*paths)
        if cmap:
            df = df.select(
                *[
                    F.col("`" + phys(f.name) + "`")
                    .cast(f.dataType)
                    .alias(f.name)
                    for f in data_fields
                ]
            )
        for c, val in zip(part_cols, key):
            col = (
                F.lit(None).cast(type_of[c])
                if val is None
                else F.lit(val).cast(type_of[c])
            )
            df = df.withColumn(c, col)
        df = df.select(*[f.name for f in schema.fields])
        out = df if out is None else out.unionByName(df)
    return out


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
