"""Format-neutral MERGE core under the Delta, Iceberg and manifest-table
writers.

Every MERGE target runs the same copy-on-write plan at FILE
granularity; this module owns each step that does not depend on the
format:

1. reduce the batch to its latest row per (key, partition group) —
   ts tiebreak — pinned by a lazy ``localCheckpoint``
   (:func:`reduce_batch`);
2. one grouped aggregate over it yields per-group row counts and key
   bounds, plus any aggregate a format rides along (Delta's
   CHECK-constraint violation counts); when the batch fits the driver
   cap, one more collect gives each group its exact sorted key list
   (:func:`group_key_stats`);
3. prune live files by those stats (:func:`_affected`) — the format
   lists its live files and their key stats;
4. route batch rows to a surrogate integer partition id ``__pid``: a
   constant when one group is touched, else a broadcast null-safe join
   (:func:`pid_table`, :func:`with_pid`);
5. row algebra over the affected rows: the latest-wins anti-join plus
   union, or the conditional clauses (:func:`merge_rows`);
6. one range-repartitioned write, plain or ``partitionBy("__pid")``
   (:func:`write_merged`; :func:`local_parts` lists its parts).

Each format keeps its own log or metadata replay, idempotence check,
schema evolution, live-file listing and partition pruning, hit-file
read, change rows and new-file stats. Both publish their data files
through the one data store here (:func:`set_data_store`) and commit
through the one put-if-absent primitive (:func:`set_log_store`): a
Delta log entry and an Iceberg ``v<N>.metadata.json`` land only if no
other writer took that version first.

Both formats' merge-on-read reads key each scanned row by its file's
full scan path (:func:`scan_path_key`, what ``_metadata.file_path``
reports) and decode deleted row positions through one executor-side
decoder (:func:`deleted_positions_df`): Delta deletion vectors and
Iceberg Puffin deletion vectors differ only in how a blob is read.

Keys order the way Spark orders them: NaN above every other float. A
file whose max-key stat is NaN therefore still covers every finite key
above its min, and sorted key lists stay bisectable (Python's ``<`` is
False both ways against NaN, so plain ``sorted`` leaves such lists
unsorted).
"""

from __future__ import annotations

import glob as _glob
import json
import os
import posixpath
import re
import unicodedata
from bisect import bisect_left

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from optimus_any2any_spark.localrel import local_rows_df

_MAX_DRIVER_KEYS = 100_000


def key_order(v):
    """Sort key placing NaN above every other value (Spark's float
    ordering); NaN keys compare equal to each other."""
    if isinstance(v, float) and v != v:
        return (1, 0.0)
    return (0, v)


def sorted_keys(vals) -> list:
    """The non-null values of ``vals`` in :func:`key_order`."""
    return sorted((v for v in vals if v is not None), key=key_order)


def _affected(files: list[dict], keys: list | None, kmin, kmax,
              has_null: bool) -> tuple[list[dict], list[dict]]:
    """Split pruning entries ``{rows, min_key, max_key, has_null_key,
    prunable}`` into (affected, untouched) by key stats: exact
    membership against ``keys`` (a :func:`sorted_keys` list) when the
    batch keys fit on the driver, range overlap with [kmin, kmax]
    otherwise."""
    hit, miss = [], []
    for f in files:
        if f["rows"] == 0:
            miss.append(f)
            continue
        if not f.get("prunable", True):
            # key type does not survive the stats round-trip (timestamp,
            # decimal, ...): stats are unusable, treat as affected
            hit.append(f)
            continue
        if has_null and f.get("has_null_key"):
            hit.append(f)
            continue
        fmin, fmax = f["min_key"], f["max_key"]
        if fmin is None:  # file holds only null keys
            miss.append(f)
            continue
        lo, hi = key_order(fmin), key_order(fmax)
        if keys is not None:
            i = bisect_left(keys, lo, key=key_order)
            covered = i < len(keys) and key_order(keys[i]) <= hi
        else:  # too many batch keys for the driver: range overlap
            covered = kmin is not None and (
                lo <= key_order(kmax) and hi >= key_order(kmin)
            )
        (hit if covered else miss).append(f)
    return hit, miss


def empty_key_stats() -> dict:
    """Key stats of a group no batch row falls in."""
    return {"n": 0, "keys": [], "kmin": None, "kmax": None,
            "has_null": False}


def reduce_batch(
    batch: DataFrame,
    key_col: str,
    ts_col: str,
    group_cols: list[str],
    extra_aggs: list[Column] = (),
) -> tuple[DataFrame, list]:
    """``(latest, gstats)``: the batch's latest row per (key, group),
    and the rows of ONE grouped aggregate over it (``n``, ``kmin``,
    ``kmax``, ``null_key`` and ``extra_aggs``). The aggregate doubles
    as the lazy checkpoint's materializer."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(key_col, *group_cols).orderBy(
        F.col(ts_col).desc()
    )
    latest = (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .localCheckpoint(eager=False)
    )
    gstats = (
        latest.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(key_col).alias("kmin"),
            F.max(key_col).alias("kmax"),
            F.max(F.col(key_col).isNull().cast("int")).alias("null_key"),
            *extra_aggs,
        )
        .collect()
    )
    return latest, gstats


def group_key_stats(
    latest: DataFrame,
    key_col: str,
    group_cols: list[str],
    gstats: list,
    empty_group: bool = False,
) -> dict[tuple, dict]:
    """Per-group ``{n, keys, kmin, kmax, has_null}``. Exact sorted key
    lists (the sharper file pruner) cost one collect and are taken only
    under the driver cap; above it the grouped aggregate's bounds serve
    (``keys`` None). ``empty_group`` adds the ``()`` group an
    unpartitioned not-matched-by-source pass routes through when the
    batch is empty."""
    if sum(int(r["n"]) for r in gstats) <= _MAX_DRIVER_KEYS:
        # ``latest`` is one row per (key, group) by construction, so
        # this collect IS the distinct key set, split per group
        grouped: dict[tuple, list] = {}
        for r in latest.select(*group_cols, key_col).collect():
            grouped.setdefault(
                tuple(r[c] for c in group_cols), []
            ).append(r[key_col])
        pstats: dict[tuple, dict] = {}
        for pt, vals in grouped.items():
            nn = sorted_keys(vals)
            pstats[pt] = {
                "n": len(vals),
                "keys": nn,
                "kmin": nn[0] if nn else None,
                "kmax": nn[-1] if nn else None,
                "has_null": len(nn) < len(vals),
            }
    else:
        pstats = {
            tuple(r[c] for c in group_cols): {
                "n": r["n"],
                "keys": None,
                "kmin": r["kmin"],
                "kmax": r["kmax"],
                "has_null": bool(r["null_key"]),
            }
            for r in gstats
            if r["n"]
        }
    if empty_group and not pstats and not group_cols:
        pstats = {(): empty_key_stats()}
    return pstats


def combine_key_stats(stats: list[dict]) -> dict:
    """One table-wide key-stats dict from per-group ones."""
    keys: list | None = []
    for st in stats:
        if st["keys"] is None:
            keys = None
            break
        keys.extend(st["keys"])
    mins = [st["kmin"] for st in stats if st["kmin"] is not None]
    maxs = [st["kmax"] for st in stats if st["kmax"] is not None]
    return {
        "n": sum(st["n"] for st in stats),
        "keys": sorted(keys, key=key_order) if keys is not None else None,
        "kmin": min(mins, key=key_order) if mins else None,
        "kmax": max(maxs, key=key_order) if maxs else None,
        "has_null": any(st["has_null"] for st in stats),
    }


def pid_space(pstats: dict[tuple, dict]) -> tuple[list, dict]:
    """``(ptuples, pid_of)``: the touched groups in a fixed order and
    each one's integer pid."""
    ptuples = sorted(pstats, key=str)
    return ptuples, {pt: i for i, pt in enumerate(ptuples)}


def pid_table(
    spark: SparkSession, latest: DataFrame, group_cols: list[str],
    ptuples: list,
) -> DataFrame:
    """Group values → ``__pid`` (the position in ``ptuples``) as a
    driver-local lookup (zero jobs), typed like ``latest``'s group
    columns."""
    schema = T.StructType(
        [latest.schema[c] for c in group_cols]
        + [T.StructField("__pid", T.IntegerType(), False)]
    )
    return local_rows_df(
        spark, [pt + (i,) for i, pt in enumerate(ptuples)], schema
    )


def with_pid(
    frame: DataFrame, pid_df: DataFrame | None, group_cols: list[str],
    cols: list[str],
) -> DataFrame:
    """``frame``'s ``cols`` plus ``__pid``: a broadcast null-safe join
    on the group columns, or the constant pid 0 when ``pid_df`` is
    None (one touched group needs no routing)."""
    if pid_df is None:
        return frame.select(*cols).withColumn(
            "__pid", F.lit(0).cast("int")
        )
    pcond = None
    for c in group_cols:
        e = F.col(f"b.{c}").eqNullSafe(F.col(f"pd.{c}"))
        pcond = e if pcond is None else (pcond & e)
    return (
        frame.alias("b")
        .join(F.broadcast(pid_df.alias("pd")), pcond, "inner")
        .select(*[F.col(f"b.{c}") for c in cols], F.col("pd.__pid"))
    )


def touched(
    cur: DataFrame, latest_p: DataFrame, key_col: str, how: str
) -> DataFrame:
    """``cur`` joined (``how``) with the batch's (key, pid) pairs —
    null-safe on the key. ``inner`` keeps the matched target rows
    (``__bk``/``__bpid`` ride along), ``left_anti`` the rest."""
    bk = latest_p.select(
        F.col(key_col).alias("__bk"), F.col("__pid").alias("__bpid")
    )
    on = F.col(f"cur.{key_col}").eqNullSafe(F.col("__bk")) & (
        F.col("cur.__pid") == F.col("__bpid")
    )
    return cur.alias("cur").join(bk, on, how)


def merge_rows(
    cur: DataFrame | None,
    latest_p: DataFrame,
    key_col: str,
    data_schema: T.StructType,
    clauses: tuple,
    want_changes: bool = False,
    carry_cols: tuple | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame | None]:
    """The row algebra of one MERGE: ``(merged, batch_side, changes)``.

    ``cur`` holds the affected target rows (None when no file is
    affected) and ``latest_p`` the routed batch; both carry ``__pid``
    and ``data_schema``'s columns. ``clauses`` is ``(when_matched,
    when_not_matched, when_not_matched_by_source)``.

    Without clauses, batch rows win: target rows whose (key, pid) the
    batch touches drop and ``batch_side`` unions in. ``carry_cols=(id,
    version)`` names lineage columns on ``cur``; a batch row replacing
    a matched target row keeps that row's id and takes a null version,
    and unmatched batch rows get null ids. With clauses, the clause
    algebra decides (:func:`_apply_merge_clauses`); ``changes`` is its
    change-row set when ``want_changes``. With no affected file, only
    the insert clauses apply."""
    when_matched, when_not_matched, when_not_matched_by_source = clauses
    data_cols = data_schema.fieldNames()
    changes = None
    if cur is None:
        merged = latest_p
        if when_not_matched is not None:
            # every batch row is unmatched — the insert clauses still
            # decide which rows (and values) land
            merged = _apply_insert_clauses(
                latest_p, data_cols,
                {f.name: f.dataType for f in data_schema.fields},
                when_not_matched,
            )
            if want_changes:
                changes = merged.withColumn("_change_type", F.lit("insert"))
        return merged, latest_p, changes
    if _is_conditional(clauses):
        merged, changes = _apply_merge_clauses(
            cur, latest_p, key_col, data_cols,
            when_matched, when_not_matched_by_source,
            want_changes=want_changes,
            when_not_matched=when_not_matched,
            carry_cols=carry_cols,
        )
        return merged, latest_p, changes
    batch_side = latest_p
    if carry_cols is not None:
        id_c, cv_c = carry_cols
        cur_ids = cur.select(
            F.col(key_col).alias("__ck"),
            F.col("__pid").alias("__cpid"),
            F.col(id_c).alias("__id_prev"),
        )
        m2 = F.col(f"b.{key_col}").eqNullSafe(F.col("__ck")) & (
            F.col("b.__pid") == F.col("__cpid")
        )
        batch_side = (
            latest_p.alias("b")
            .join(cur_ids, m2, "left")
            .select(
                *[F.col(f"b.{c}") for c in data_cols],
                F.col("b.__pid"),
                F.col("__id_prev").alias(id_c),
                F.lit(None).cast("long").alias(cv_c),
            )
        )
    merged = touched(cur, latest_p, key_col, "left_anti").unionByName(
        batch_side
    )
    return merged, batch_side, None


def write_merged(
    merged: DataFrame,
    key_col: str,
    n_rows: int,
    target_rows_per_file: int,
    tmp: str,
    single: bool,
) -> None:
    """Range-repartition ``merged`` to ``ceil(n_rows / target)`` files
    and write it under ``tmp``: one plain write when ``single`` (every
    row has pid 0), else one ``partitionBy("__pid")`` write. The caller
    lists the parts (:func:`local_parts` on the local filesystem), then
    names, moves and removes them."""
    n_files = max(1, -(-n_rows // target_rows_per_file))
    if single:
        merged.drop("__pid").repartitionByRange(
            n_files, F.col(key_col)
        ).write.mode("overwrite").parquet(tmp)
    else:
        merged.repartitionByRange(
            n_files, F.col("__pid"), F.col(key_col)
        ).write.partitionBy("__pid").mode("overwrite").parquet(tmp)


def local_parts(tmp: str, single: bool) -> list[tuple[str, int]]:
    """``(part file, pid)`` for each part :func:`write_merged` left in
    the local directory ``tmp``, in a fixed order (pid directory name,
    then part name)."""
    if single:
        pdirs = [(tmp, 0)]
    else:
        pdirs = [
            (d, int(os.path.basename(d).split("=", 1)[1]))
            for d in sorted(_glob.glob(os.path.join(tmp, "__pid=*")))
        ]
    return [
        (part, pid)
        for d, pid in pdirs
        for part in sorted(_glob.glob(os.path.join(d, "part-*.parquet")))
    ]


def clause_predicates(named: list[tuple[str, list | None]]) -> dict[str, str]:
    """``{name: JSON [{predicate, actionType}]}`` for each clause list
    that is not None — the shape Delta's commitInfo
    operationParameters and Iceberg's snapshot summary both record."""
    return {
        name: json.dumps(
            [{"predicate": cl[1] or "true", "actionType": cl[0]}
             for cl in clauses]
        )
        for name, clauses in named
        if clauses is not None
    }


def _validate_merge_clauses(
    when_matched: list | None,
    when_not_matched_by_source: list | None,
    key_col: str,
    when_not_matched: list | None = None,
) -> None:
    """Shape-check conditional-MERGE clause lists: each clause is
    ``("update", condition_sql_or_None, {col: value_sql})`` or
    ``("delete", condition_sql_or_None)``, evaluated in declaration
    order, first match wins (delta-spark's builder semantics).
    Assignments may not touch the merge key — key rewrites would break
    the key-pruning contract (and real Delta refuses them on the
    matched side for the same reason). ``when_not_matched`` takes
    ``("insert", condition_sql_or_None, {col: value_sql} | None)``
    clauses only (None values = insertAll); unmatched source rows that
    match no insert clause are NOT inserted."""
    for cl in when_not_matched or []:
        if not cl or cl[0] != "insert":
            raise ValueError(
                "delta merge: when_not_matched clause kind must be "
                f"'insert', got {cl!r}"
            )
        if len(cl) not in (2, 3) or (
            len(cl) == 3
            and cl[2] is not None
            and (not isinstance(cl[2], dict) or not cl[2])
        ):
            raise ValueError(
                "delta merge: when_not_matched insert clause needs "
                "('insert', condition|None[, {col: value_sql}|None])"
            )
    for label, clauses in (
        ("when_matched", when_matched),
        ("when_not_matched_by_source", when_not_matched_by_source),
    ):
        for cl in clauses or []:
            if not cl or cl[0] not in ("update", "delete"):
                raise ValueError(
                    f"delta merge: {label} clause kind must be "
                    f"'update' or 'delete', got {cl!r}"
                )
            if cl[0] == "update":
                if len(cl) != 3 or not isinstance(cl[2], dict) or not cl[2]:
                    raise ValueError(
                        f"delta merge: {label} update clause needs "
                        "('update', condition|None, {col: value_sql})"
                    )
                if key_col in cl[2]:
                    raise ValueError(
                        "delta merge: UPDATE SET may not assign the "
                        f"merge key {key_col!r}"
                    )
            elif len(cl) != 2:
                raise ValueError(
                    f"delta merge: {label} delete clause needs "
                    "('delete', condition|None)"
                )


def _apply_insert_clauses(
    inserts: DataFrame,
    data_cols: list[str],
    dtype_of: dict,
    when_not_matched: list,
) -> DataFrame:
    """Conditional insert clauses (delta-spark's
    whenNotMatchedInsert(cond, values)): the FIRST matching clause
    supplies the inserted values — ``{col: value_sql}`` assignments
    over the source row (``s.<col>``), unspecified columns null, a
    ``None`` value set meaning insertAll. Source rows matching no
    clause are NOT inserted. ``inserts`` carries ``data_cols`` +
    ``__pid``."""
    nmc = list(when_not_matched)
    s_ins = inserts.alias("s")
    ichain = None
    for i, cl in enumerate(nmc, start=1):
        cond = F.expr(cl[1]) if cl[1] is not None else F.lit(True)
        ichain = (
            F.when(cond, F.lit(i))
            if ichain is None
            else ichain.when(cond, F.lit(i))
        )
    iidx = ichain.otherwise(F.lit(0)) if ichain is not None else F.lit(0)
    ivals: list[Column] = []
    for c in data_cols:
        v = None
        for i, cl in enumerate(nmc, start=1):
            vset = cl[2] if len(cl) == 3 else None
            if vset is None:
                term_val: Column = F.col(f"s.{c}")
            elif c in vset:
                term_val = F.expr(vset[c]).cast(dtype_of[c])
            else:
                term_val = F.lit(None).cast(dtype_of[c])
            term = (iidx == i, term_val)
            v = F.when(*term) if v is None else v.when(*term)
        ivals.append(
            (v if v is not None
             else F.lit(None).cast(dtype_of[c])).alias(c)
        )
    return s_ins.filter(iidx != 0).select(*ivals, F.col("s.__pid"))


def _apply_merge_clauses(
    cur: DataFrame,
    latest_p: DataFrame,
    key_col: str,
    data_cols: list[str],
    when_matched: list | None,
    when_not_matched_by_source: list | None,
    want_changes: bool = False,
    when_not_matched: list | None = None,
    carry_cols: tuple | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """Conditional-MERGE row algebra (delta-spark's
    whenMatchedUpdate / whenMatchedDelete /
    whenNotMatchedBySourceUpdate / whenNotMatchedBySourceDelete):

    ONE left-outer join target←source decides matched-ness; a CASE
    chain computes the FIRST clause (declaration order) whose
    condition holds for each row; delete-clause rows drop, update
    clauses apply their ``{col: value_sql}`` assignments (conditions
    and values see ``t.<col>`` = target row and ``s.<col>`` = source
    row; on the not-matched-by-source side every ``s.`` read is
    null), unmatched-clause rows pass through unchanged, and source
    rows matching NO target row insert (whenNotMatchedInsertAll —
    the engine's standing upsert insert side). Still one shuffle
    join + one write: the clause algebra is pure Column CASE work on
    top of the existing single-job merge plan.

    ``want_changes=True`` additionally returns the Change Data Feed
    row set (``_change_type`` ∈ update_preimage / update_postimage /
    delete / insert; pass-through rows emit nothing) — the joined
    frame is checkpointed once so the derived frames share one
    evaluation instead of re-running the join per change type.

    ``carry_cols=(id_col, version_col)`` threads ROW TRACKING / ROW
    LINEAGE through the algebra: both live on ``cur``; kept target
    rows carry the id verbatim (updates too — the lineage contract),
    the version column nulls on update-clause rows (deriving to the
    new add's commit version / data sequence) and carries otherwise,
    and insert rows get null ids (fresh from the new files'
    reservations). CDF rows stay lineage-free."""
    wm = list(when_matched or [])
    nm = list(when_not_matched_by_source or [])
    t = cur.alias("t")
    s = latest_p.withColumn("__s_m", F.lit(1)).alias("s")
    on = F.col(f"t.{key_col}").eqNullSafe(F.col(f"s.{key_col}")) & (
        F.col("t.__pid") == F.col("s.__pid")
    )
    j = t.join(s, on, "left")
    matched = F.col("s.__s_m").isNotNull()

    def _first_match_idx(clauses: list, side: Column) -> Column:
        chain = None
        for i, cl in enumerate(clauses, start=1):
            cond = side & (
                F.expr(cl[1]) if cl[1] is not None else F.lit(True)
            )
            chain = (
                F.when(cond, F.lit(i))
                if chain is None
                else chain.when(cond, F.lit(i))
            )
        return chain.otherwise(F.lit(0)) if chain is not None else F.lit(0)

    midx = _first_match_idx(wm, matched)
    nidx = _first_match_idx(nm, ~matched)

    vals: list[Column] = []
    for c in data_cols:
        v = None
        for idx_col, clauses in ((midx, wm), (nidx, nm)):
            for i, cl in enumerate(clauses, start=1):
                if cl[0] == "update" and c in cl[2]:
                    term_cond = idx_col == i
                    term_val = F.expr(cl[2][c]).cast(
                        cur.schema[c].dataType
                    )
                    v = (
                        F.when(term_cond, term_val)
                        if v is None
                        else v.when(term_cond, term_val)
                    )
        col = (
            v.otherwise(F.col(f"t.{c}")) if v is not None
            else F.col(f"t.{c}")
        )
        vals.append(col.alias(c))

    drop_m = [i for i, cl in enumerate(wm, start=1) if cl[0] == "delete"]
    drop_n = [i for i, cl in enumerate(nm, start=1) if cl[0] == "delete"]
    upd_m = [i for i, cl in enumerate(wm, start=1) if cl[0] == "update"]
    upd_n = [i for i, cl in enumerate(nm, start=1) if cl[0] == "update"]
    keep = F.lit(True)
    if drop_m:
        keep = keep & ~midx.isin(drop_m)
    if drop_n:
        keep = keep & ~nidx.isin(drop_n)
    upd = F.lit(False)
    if upd_m:
        upd = upd | midx.isin(upd_m)
    if upd_n:
        upd = upd | nidx.isin(upd_n)

    carry_sel: list[Column] = []
    if carry_cols is not None:
        id_c, cv_c = carry_cols
        carry_sel = [
            F.col(f"t.{id_c}").alias(id_c),
            F.when(upd, F.lit(None).cast("long"))
            .otherwise(F.col(f"t.{cv_c}"))
            .alias(cv_c),
        ]
    base = j.select(
        *vals,  # post-clause values under the data_col names
        F.col("t.__pid").alias("__pid"),
        *carry_sel,
        *[F.col(f"t.{c}").alias(f"__old_{c}") for c in data_cols],
        keep.alias("__keep"),
        upd.alias("__upd"),
    )
    if want_changes:
        # four consumers below — evaluate the join once
        base = base.localCheckpoint(eager=False)
    target_rows = base.filter(F.col("__keep")).select(
        *data_cols, "__pid",
        *([carry_cols[0], carry_cols[1]] if carry_cols else []),
    )

    inserts = (
        latest_p.alias("b")
        .join(
            cur.select(
                F.col(key_col).alias("__tk"),
                F.col("__pid").alias("__tpid"),
            ),
            F.col(f"b.{key_col}").eqNullSafe(F.col("__tk"))
            & (F.col("b.__pid") == F.col("__tpid")),
            "left_anti",
        )
    )
    if when_not_matched is not None:
        inserts = _apply_insert_clauses(
            inserts, data_cols,
            {c: cur.schema[c].dataType for c in data_cols},
            when_not_matched,
        )
    if carry_cols is not None:
        inserts = inserts.withColumn(
            carry_cols[0], F.lit(None).cast("long")
        ).withColumn(carry_cols[1], F.lit(None).cast("long"))
    out = target_rows.unionByName(inserts)
    if not want_changes:
        return out, None
    old_sel = [F.col(f"__old_{c}").alias(c) for c in data_cols]
    pre = (
        base.filter(F.col("__upd"))
        .select(*old_sel, "__pid")
        .withColumn("_change_type", F.lit("update_preimage"))
    )
    post = (
        base.filter(F.col("__upd"))
        .select(*data_cols, "__pid")
        .withColumn("_change_type", F.lit("update_postimage"))
    )
    dele = (
        base.filter(~F.col("__keep"))
        .select(*old_sel, "__pid")
        .withColumn("_change_type", F.lit("delete"))
    )
    ins_c = inserts
    if carry_cols is not None:  # CDF rows are logical
        ins_c = ins_c.drop(*carry_cols)
    ins_c = ins_c.withColumn("_change_type", F.lit("insert"))
    changes = (
        pre.unionByName(post).unionByName(dele).unionByName(ins_c)
    )
    return out, changes


def _is_conditional(clauses: tuple) -> bool:
    when_matched, when_not_matched, when_not_matched_by_source = clauses
    return bool(
        when_matched or when_not_matched_by_source
        or when_not_matched is not None
    )


def conditional_merge(
    key_col: str,
    when_matched: list | None,
    when_not_matched: list | None,
    when_not_matched_by_source: list | None,
) -> bool:
    """Whether the clause lists switch MERGE from the latest-wins
    upsert to the conditional algebra; validates them when they do."""
    conditional = _is_conditional(
        (when_matched, when_not_matched, when_not_matched_by_source)
    )
    if conditional:
        _validate_merge_clauses(
            when_matched, when_not_matched_by_source, key_col,
            when_not_matched=when_not_matched,
        )
    return conditional


def _posix_put_if_absent(tmp: str, final: str) -> bool:
    """POSIX put-if-absent: hard-link ``tmp`` to ``final``; returns
    False when ``final`` already exists (the loser of a race).
    ``os.link`` (not rename) is the primitive — it FAILS if the target
    exists, so two writers racing for the same version cannot both
    win (the Delta paper's mutual-exclusion requirement on the log
    store; rename-with-overwrite would silently drop one commit)."""
    try:
        os.link(tmp, final)
        return True
    except FileExistsError:
        return False


# The log-store seam (Delta paper §3.2), shared by the Delta log and
# the Iceberg metadata publish: local/NFS deployments use the POSIX
# hard-link; an object-store deployment swaps in a conditional PUT (S3
# If-None-Match, GCS x-goog-if-generation-match: 0, ABFS ETag) via
# set_log_store(). The contract: atomically create ``final`` with
# ``tmp``'s bytes IFF it does not exist, returning the win/lose bool.
# Callers read it as ``merge_core._put_if_absent`` at call time, so a
# swap reaches both formats.
_put_if_absent = _posix_put_if_absent


def set_log_store(put_if_absent) -> None:
    """Inject the commit primitive (object-store conditional-PUT or a
    test double). Pass ``None`` to restore the POSIX default."""
    global _put_if_absent
    _put_if_absent = put_if_absent or _posix_put_if_absent


# The data-store seam, shared by both formats: every DATA byte a writer
# publishes under a table root (Delta data, cdc and deletion-vector
# files; Iceberg data, delete and Puffin files) goes through ONE
# injectable primitive, "upload local ``src`` to ``dst``". Data names
# and their staging dirs carry a random per-commit token, so they are
# writer-unique and no conditional PUT is needed: a file only becomes
# live when the commit referencing it wins, which is the log store's
# job. Callers read ``merge_core._put_data`` at call time.
def _posix_put_data(src: str, dst: str) -> None:
    os.replace(src, dst)


_put_data = _posix_put_data


def set_data_store(put_data) -> None:
    """Inject the data-file publisher (object-store upload or a test
    double); ``put_data(src_local_path, dst_path)`` must make ``dst``
    readable with ``src``'s bytes (and may remove ``src``). Pass
    ``None`` to restore the POSIX rename."""
    global _put_data
    _put_data = put_data or _posix_put_data


# ---------------------------------------------------------------------------
# Merge-on-read: the per-file scan key and the deleted-position decoder

# ASCII characters java.net.URI leaves unquoted in a path component
# (unreserved, the pchar punctuation, ';' and '/'); every other ASCII
# character is %XX-quoted, '%' included
_URI_PATH_SAFE = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    "-_.!~*'():@&=+$,;/"
)


def _uri_quote_char(ch: str) -> str:
    if ch in _URI_PATH_SAFE:
        return ch
    if ord(ch) < 0x80 or unicodedata.category(ch) in (
        "Zs", "Zl", "Zp", "Cc"
    ):
        return "".join(f"%{b:02X}" for b in ch.encode("utf-8"))
    return ch  # other non-ASCII characters stay literal


def scan_path_key(path: str) -> str:
    """The ``_metadata.file_path`` a parquet scan reports for a file it
    was given as ``path`` — Hadoop's
    ``new Path(fs.makeQualified(new Path(path)).toString()).toUri()
    .toString()``, computed without a JVM call: the scheme (``file``
    for bare paths, made absolute against the working directory), the
    authority, and the normalized path quoted the way
    ``java.net.URI`` quotes a path (spaces and ``%`` become ``%20`` and
    ``%25``; letters outside ASCII stay literal). Merge-on-read reads
    join their per-file lookups on this key, so two live files that
    share a basename in different directories never mix."""
    colon, slash = path.find(":"), path.find("/")
    scheme = authority = None
    rest = path
    if colon > 0 and (slash == -1 or colon < slash):
        scheme, rest = path[:colon], path[colon + 1:]
        if rest.startswith("//") and len(rest) > 2:
            end = rest.find("/", 2)
            end = len(rest) if end < 0 else end
            authority, rest = rest[2:end] or None, rest[end:]
    rest = re.sub("/+", "/", rest)
    if not rest.startswith("/"):
        rest = os.path.abspath(rest)
    rest = posixpath.normpath(rest)
    quoted = "".join(_uri_quote_char(c) for c in rest)
    scheme = scheme or "file"
    if authority:
        return f"{scheme}://{authority}{quoted}"
    return f"{scheme}:{quoted}"


def deleted_positions_df(spark: SparkSession, rows: list[tuple]):
    """Deleted ``(file_path, pos, __pseq)`` rows from deletion-vector
    descriptors ``(file_path, kind, inline, blob_path, offset, size,
    seq)`` — the one decoder under Delta deletion vectors and Iceberg
    v3 Puffin deletion vectors. ``kind`` names the blob reader:
    ``inline`` (a Delta z85 text, zero-padded to its 4-byte block;
    ``size`` is the true length), ``bin`` (a Delta ``.bin`` slice) or
    ``puffin`` (an Iceberg Puffin blob). The vectors decode on
    EXECUTORS through an Arrow-batched pandas UDF (SNIPPETS.md [1],
    [3]): the descriptor frame is O(vectors), the exploded positions
    are the only data moved."""
    import pandas  # noqa: F401  (annotation resolution)
    from pyspark.sql.functions import pandas_udf

    from optimus_any2any_spark import ship_by_value
    from optimus_any2any_spark.formats import puffin as _puffin
    from optimus_any2any_spark.formats import roaring as _roaring

    # get_type_hints resolves annotations from MODULE globals (the
    # `from __future__ import annotations` stringification), so pandas
    # must be visible there
    globals().setdefault("pandas", pandas)
    ship_by_value()
    z85_decode = _roaring.z85_decode
    dv_blob_decode = _roaring.dv_blob_decode
    dv_file_read = _roaring.dv_file_read
    read_puffin_blob = _puffin.read_puffin_blob
    dv_puffin_blob_decode = _puffin.dv_puffin_blob_decode

    ddf = local_rows_df(
        spark, rows,
        "file_path string, __kind string, __inline string, "
        "__bpath string, __off long, __size long, __pseq long",
    )
    # one decode task PER DESCRIPTOR ROW spins one Python worker per
    # vector (~30-50 ms each for a few-KB blob — measured 1.5 s of a
    # 29-file delete commit). Slice by compressed-vector bytes instead:
    # ~1 MB per task keeps executor-side parallelism for big vector
    # sets while a metadata-scale set decodes in one task.
    total_sz = sum(int(r[5]) for r in rows)
    ddf = ddf.coalesce(max(1, min(len(rows), total_sz // (1 << 20) + 1)))

    @pandas_udf("array<long>")
    def _decode(
        kind: pandas.Series, inline: pandas.Series, bpath: pandas.Series,
        off: pandas.Series, size: pandas.Series,
    ) -> pandas.Series:
        import pandas as _pd

        out = []
        for k, txt, p, o, n in zip(kind, inline, bpath, off, size):
            o, n = int(o), int(n)
            if k == "puffin":
                out.append(dv_puffin_blob_decode(read_puffin_blob(p, o, n)))
            elif k == "inline":
                out.append(dv_blob_decode(z85_decode(txt)[:n]))
            else:
                out.append(dv_blob_decode(dv_file_read(p, o, n)))
        return _pd.Series(out)

    return ddf.select(
        "file_path",
        F.explode(
            _decode("__kind", "__inline", "__bpath", "__off", "__size")
        ).alias("pos"),
        "__pseq",
    )
