"""Lakehouse-table queries: Delta-protocol MERGE + data-skipping read.

These gate :mod:`optimus_any2any_spark.streaming.delta_table` (file-
level copy-on-write MERGE committing the open Delta log protocol) and
:func:`optimus_any2any_spark.sources.delta.read_delta`'s stats-pruned
range read against the DuckDB oracle by re-expressing the merge result
as plain SQL over the same source table. The reference engine has no
MERGE (warehouse sink is APPEND/REPLACE only — ext/maxcompute/
sink.go:171); this is the beyond-reference lakehouse layer of
SURVEY.md §7.

The fixture table is rebuilt from ``orders`` on every call into a
deterministic temp dir, so the measured time includes the merge
commits themselves — that is the point: the query IS the operator.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import functions as F

from optimus_any2any_spark.queries import register
from optimus_any2any_spark.queries.util import load, o_dsum


def _fixture_dir(tag: str, sf_dir: str) -> str:
    h = hashlib.md5(f"{tag}|{sf_dir}".encode()).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), f"optimus_{tag}_{h}")
    if os.path.isdir(d):
        shutil.rmtree(d)
    return d


def _orders_kv(spark, sf_dir, ts: int):
    o = load(spark, sf_dir, "orders")
    return o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.lit(ts).cast("long").alias("ts"),
    )


_EMPTY_AGG = "k_mod long, n_rows long, sum_price double"


@register(
    "delta_merge_upsert",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 <> 0
    ),
    upd AS (
      SELECT o_orderkey AS k, o_totalprice + 1000.0 AS price
      FROM orders WHERE o_orderkey % 10 = 1
    ),
    ins AS (
      SELECT o_orderkey AS k, o_totalprice / 2 AS price
      FROM orders WHERE o_orderkey % 20 = 0
    ),
    merged AS (
      SELECT k, price FROM base WHERE k % 10 <> 1
      UNION ALL SELECT k, price FROM upd
      UNION ALL SELECT k, price FROM ins
    )
    SELECT k % 10 AS k_mod,
           COUNT(*) AS n_rows,
           {o_dsum('price')} AS sum_price
    FROM merged GROUP BY k_mod ORDER BY k_mod
    """,
    doc="File-level Delta-protocol MERGE (streaming/delta_table.py): "
    "seed a Delta table from orders (keys % 4 != 0), then upsert one "
    "batch of updates (% 10 = 1, price + 1000) and inserts (% 20 = 0, "
    "price / 2) through merge_delta_batch — copy-on-write rewrites "
    "only stats-affected files, commits add+remove+txn log actions — "
    "and aggregate the replayed snapshot. The oracle states the same "
    "merge as SQL set algebra over the source table. Beyond-reference "
    "(the reference warehouse sink is APPEND/REPLACE only).",
    bench=True,
)
def delta_merge_upsert(spark, sf_dir):
    from optimus_any2any_spark.sources.delta import read_delta
    from optimus_any2any_spark.streaming.delta_table import merge_delta_batch

    t = _fixture_dir("delta_merge", sf_dir)
    base = _orders_kv(spark, sf_dir, 0).filter(F.col("k") % 4 != 0)
    merge_delta_batch(
        spark, base, t, "k", "ts", batch_id=0, target_rows_per_file=4000
    )
    upd = _orders_kv(spark, sf_dir, 1).filter(F.col("k") % 10 == 1).withColumn(
        "price", F.col("price") + F.lit(1000.0)
    )
    ins = _orders_kv(spark, sf_dir, 1).filter(F.col("k") % 20 == 0).withColumn(
        "price", F.col("price") / F.lit(2)
    )
    merge_delta_batch(
        spark, upd.unionByName(ins), t, "k", "ts", batch_id=1,
        target_rows_per_file=4000,
    )
    if not os.path.isdir(os.path.join(t, "_delta_log")):
        return spark.createDataFrame([], _EMPTY_AGG)  # empty source table
    snap = read_delta(spark, t)
    from optimus_any2any_spark.queries.util import dsum

    return (
        snap.groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("k_mod")
    )


@register(
    "delta_partitioned_merge",
    oracle=f"""
    WITH base AS (
      SELECT event_id AS k, event_type AS etype, value
      FROM events WHERE event_id % 3 <> 0
    ),
    upd AS (
      SELECT event_id AS k, event_type AS etype, value + 10.0 AS value
      FROM events WHERE event_id % 5 = 1 AND event_id % 3 <> 0
    ),
    ins AS (
      SELECT event_id AS k, event_type AS etype, value / 2 AS value
      FROM events WHERE event_id % 15 = 0
    ),
    merged AS (
      SELECT k, etype, value FROM base WHERE k % 5 <> 1
      UNION ALL SELECT k, etype, value FROM upd
      UNION ALL SELECT k, etype, value FROM ins
    )
    SELECT etype,
           COUNT(*) AS n_rows,
           {o_dsum('value')} AS sum_value
    FROM merged GROUP BY etype ORDER BY etype
    """,
    doc="PARTITIONED Delta MERGE (merge_delta_batch partition_by): the "
    "events table committed partitioned by event_type, then one merge "
    "of updates (+10, same partitions) and inserts (/2). Pruning is "
    "two-level — exact partitionValues match first, key stats inside "
    "each touched partition — and untouched partitions carry over "
    "byte-identical. The oracle is the partition-scoped upsert as SQL "
    "set algebra; the read back re-attaches typed partition columns "
    "from the log. Round 5: the merge is a CONSTANT number of Spark "
    "jobs in touched partitions (one grouped key-stats pass, one "
    "anti-join, one partitionBy write on a surrogate pid).",
    bench=True,
)
def delta_partitioned_merge(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.delta import read_delta
    from optimus_any2any_spark.streaming.delta_table import merge_delta_batch

    t = _fixture_dir("delta_pmerge", sf_dir)
    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").alias("k"),
        F.col("event_type").alias("etype"),
        F.col("value"),
        F.lit(0).cast("long").alias("ts"),
    )
    base = ev.filter(F.col("k") % 3 != 0)
    merge_delta_batch(
        spark, base, t, "k", "ts", batch_id=0,
        target_rows_per_file=4000, partition_by=["etype"],
    )
    upd = (
        ev.filter((F.col("k") % 5 == 1) & (F.col("k") % 3 != 0))
        .withColumn("value", F.col("value") + F.lit(10.0))
        .withColumn("ts", F.lit(1).cast("long"))
    )
    ins = (
        ev.filter(F.col("k") % 15 == 0)
        .withColumn("value", F.col("value") / F.lit(2))
        .withColumn("ts", F.lit(1).cast("long"))
    )
    merge_delta_batch(
        spark, upd.unionByName(ins), t, "k", "ts", batch_id=1,
        target_rows_per_file=4000,
    )
    if not os.path.isdir(os.path.join(t, "_delta_log")):
        return spark.createDataFrame(
            [], "etype string, n_rows long, sum_value double"
        )
    snap = read_delta(spark, t)
    return (
        snap.groupBy("etype")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .orderBy("etype")
    )


@register(
    "delta_conditional_merge",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey % 4 <> 0
    ),
    src AS (
      SELECT o_orderkey AS k, o_totalprice + 1000.0 AS price,
             'I' AS status
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    result AS (
      SELECT b.k, b.price + s.price AS price, 'U' AS status
      FROM base b JOIN src s USING (k)
      WHERE s.price <= 150000
      UNION ALL
      SELECT b.k, b.price, b.status FROM base b
      WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.k = b.k)
        AND b.k % 10 <> 1
      UNION ALL
      SELECT s.k, s.price, s.status FROM src s
      WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.k = s.k)
    )
    SELECT k % 7 AS k_mod, COUNT(*) AS n_rows,
           {o_dsum('price')} AS sum_price,
           CAST(SUM(CASE WHEN status = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS n_upd
    FROM result GROUP BY k % 7 ORDER BY k_mod
    """,
    doc="CONDITIONAL Delta MERGE clauses (VERDICT r9 item 5 — "
    "delta-spark's whenMatchedDelete(cond) / whenMatchedUpdate(cond, "
    "set) / whenNotMatchedBySourceDelete(cond) builder surface): one "
    "merge whose matched rows DELETE when the source price exceeds a "
    "threshold, otherwise UPDATE two columns from both sides "
    "(t.price + s.price, status 'U'), whose target rows unmatched by "
    "the source DELETE on their own predicate, and whose unmatched "
    "source rows insert. First-matching-clause-wins in declaration "
    "order; one left-outer join + CASE algebra over the same "
    "single-job merge plan (streaming/merge_core.py "
    "_apply_merge_clauses); commitInfo records the predicates. The "
    "oracle states the same row algebra as SQL set operations.",
)
def delta_conditional_merge(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.delta import read_delta
    from optimus_any2any_spark.streaming.delta_table import (
        merge_delta_batch,
    )

    t = _fixture_dir("delta_cmerge", sf_dir)
    o = load(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 4 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
        F.lit(0).cast("long").alias("ts"),
    )
    merge_delta_batch(
        spark, base, t, "k", "ts", batch_id=0,
        target_rows_per_file=4000,
    )
    src = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice") + F.lit(1000.0)).alias("price"),
        F.lit("I").alias("status"),
        F.lit(1).cast("long").alias("ts"),
    )
    merge_delta_batch(
        spark, src, t, "k", "ts", batch_id=1,
        target_rows_per_file=4000,
        when_matched=[
            ("delete", "s.price > 150000"),
            ("update", None,
             {"price": "t.price + s.price", "status": "'U'"}),
        ],
        when_not_matched_by_source=[("delete", "t.k % 10 = 1")],
    )
    if not os.path.isdir(os.path.join(t, "_delta_log")):
        return spark.createDataFrame(
            [], "k_mod long, n_rows long, sum_price double, n_upd long"
        )
    snap = read_delta(spark, t)
    return (
        snap.groupBy((F.col("k") % 7).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
            F.sum(
                (F.col("status") == "U").cast("long")
            ).alias("n_upd"),
        )
        .orderBy("k_mod")
    )


@register(
    "delta_conditional_cdf",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey % 4 <> 0
    ),
    src AS (
      SELECT o_orderkey AS k, o_totalprice + 1000.0 AS price,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey % 3 = 0 AND o_orderstatus = 'O'
    ),
    matched AS (
      SELECT b.k, b.price AS t_price, s.price AS s_price, b.status
      FROM base b JOIN src s ON b.k = s.k AND b.status = s.status
    ),
    changes AS (
      SELECT 'delete' AS change_type, status, t_price AS price
      FROM matched WHERE s_price > 150000
      UNION ALL
      SELECT 'update_preimage', status, t_price
      FROM matched WHERE s_price <= 150000
      UNION ALL
      SELECT 'update_postimage', status, t_price + s_price
      FROM matched WHERE s_price <= 150000
      UNION ALL
      SELECT 'delete', b.status, b.price FROM base b
      WHERE NOT EXISTS (
        SELECT 1 FROM src s WHERE s.k = b.k AND s.status = b.status
      ) AND b.k % 10 = 1
      UNION ALL
      SELECT 'insert', s.status, s.price FROM src s
      WHERE NOT EXISTS (
        SELECT 1 FROM base b WHERE b.k = s.k AND b.status = s.status
      )
    )
    SELECT change_type, status, COUNT(*) AS n_rows,
           {o_dsum('price')} AS sum_price
    FROM changes GROUP BY change_type, status
    ORDER BY change_type, status
    """,
    doc="CDF after a PARTITIONED CONDITIONAL merge (VERDICT r10 "
    "item 6 — both lifted refusals in one row): a table partitioned "
    "by o_orderstatus takes one merge whose source touches only the "
    "'O' partition, with a matched-delete threshold clause, a "
    "matched-update clause, and a not-matched-by-source delete that "
    "reaches rows in partitions the batch never touches (minted "
    "pids), all with change_data=True. The Change Data Feed read "
    "then aggregates per change type and partition — update-clause "
    "rows emit pre/post images, both delete flavors emit pre-images "
    "with their typed partition column re-attached, inserts emit "
    "insert. The oracle restates the clause algebra + CDF emission "
    "contract as SQL set operations.",
)
def delta_conditional_cdf(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.delta import read_delta_cdf
    from optimus_any2any_spark.streaming.delta_table import (
        merge_delta_batch,
    )

    t = _fixture_dir("delta_ccdf", sf_dir)
    o = load(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 4 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
        F.lit(0).cast("long").alias("ts"),
    )
    v0 = merge_delta_batch(
        spark, base, t, "k", "ts", batch_id=0,
        target_rows_per_file=4000, partition_by=["status"],
    )
    src = o.filter(
        (F.col("o_orderkey") % 3 == 0) & (F.col("o_orderstatus") == "O")
    ).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice") + F.lit(1000.0)).alias("price"),
        F.col("o_orderstatus").alias("status"),
        F.lit(1).cast("long").alias("ts"),
    )
    v1 = merge_delta_batch(
        spark, src, t, "k", "ts", batch_id=1,
        target_rows_per_file=4000, change_data=True,
        when_matched=[
            ("delete", "s.price > 150000"),
            ("update", None, {"price": "t.price + s.price"}),
        ],
        when_not_matched_by_source=[("delete", "t.k % 10 = 1")],
    )
    if v1 <= v0:  # empty inputs: no conditional-merge commit to read
        return spark.createDataFrame(
            [],
            "change_type string, status string, n_rows long, "
            "sum_price double",
        )
    cdf = read_delta_cdf(spark, t, v1 - 1, v1)
    return (
        cdf.groupBy(
            F.col("_change_type").alias("change_type"),
            F.col("status"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("change_type", "status")
    )


@register(
    "delta_update_where",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey % 4 <> 0
    ),
    updated AS (
      SELECT k,
             CASE WHEN status = 'O' AND price < 100000
                  THEN price * 1.1 ELSE price END AS price,
             CASE WHEN status = 'O' AND price < 100000
                  THEN 'B' ELSE status END AS status
      FROM base
    ),
    final AS (
      SELECT k, price, status FROM updated WHERE NOT (k % 9 = 0)
    )
    SELECT status, COUNT(*) AS n_rows, {o_dsum('price')} AS sum_price
    FROM final GROUP BY status ORDER BY status
    """,
    doc="Predicate DML — UPDATE ... WHERE then DELETE ... WHERE "
    "(streaming/delta_table.update_delta_where / delete_delta_where, "
    "+ DELTA__MODE=UPDATE_WHERE/DELETE_WHERE riders): two-phase "
    "copy-on-write, ONE scan computing per-file match counts so only "
    "files that contain matching rows rewrite (untouched files carry "
    "over byte-identical — pinned in tests/test_delta_dml_where.py), "
    "SQL three-valued predicate semantics (null predicates keep the "
    "row in both verbs), commit stats from parquet footers, commitInfo "
    "operation UPDATE/DELETE with the predicate. The oracle restates "
    "the two statements as CASE projection + filter.",
)
def delta_update_where(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.delta import read_delta
    from optimus_any2any_spark.streaming.delta_table import (
        delete_delta_where,
        merge_delta_batch,
        update_delta_where,
    )

    t = _fixture_dir("delta_updwhere", sf_dir)
    o = load(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 4 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
        F.lit(0).cast("long").alias("ts"),
    )
    merge_delta_batch(
        spark, base, t, "k", "ts", batch_id=0,
        target_rows_per_file=4000,
    )
    if os.path.isdir(os.path.join(t, "_delta_log")):
        update_delta_where(
            spark, t,
            {"price": "price * 1.1", "status": "'B'"},
            where="status = 'O' AND price < 100000",
        )
        delete_delta_where(spark, t, "k % 9 = 0")
    if not os.path.isdir(os.path.join(t, "_delta_log")):
        return spark.createDataFrame(
            [], "status string, n_rows long, sum_price double"
        )
    snap = read_delta(spark, t)
    return (
        snap.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("status")
    )


@register(
    "delta_delete_erasure",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 <> 0
    ),
    kept AS (SELECT k, price FROM base WHERE k % 7 <> 0)
    SELECT k % 10 AS k_mod,
           COUNT(*) AS n_rows,
           {o_dsum('price')} AS sum_price
    FROM kept GROUP BY k_mod ORDER BY k_mod
    """,
    doc="Copy-on-write DELETE by key (streaming/delta_table.py "
    "delete_delta_keys — the GDPR-erasure path): seed a Delta table "
    "from orders, erase every key % 7 = 0, and aggregate the replayed "
    "snapshot. Only stats-affected files are rewritten; a "
    "fully-matched file gets no replacement. The oracle is the "
    "surviving set as SQL.",
)
def delta_delete_erasure(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.delta import read_delta
    from optimus_any2any_spark.streaming.delta_table import (
        delete_delta_keys,
        merge_delta_batch,
    )

    t = _fixture_dir("delta_delete", sf_dir)
    base = _orders_kv(spark, sf_dir, 0).filter(F.col("k") % 4 != 0)
    merge_delta_batch(
        spark, base, t, "k", "ts", batch_id=0, target_rows_per_file=4000
    )
    if not os.path.isdir(os.path.join(t, "_delta_log")):
        return spark.createDataFrame([], _EMPTY_AGG)  # empty source
    doomed = base.select("k").filter(F.col("k") % 7 == 0)
    delete_delta_keys(spark, t, "k", doomed, batch_id=1)
    snap = read_delta(spark, t)
    return (
        snap.groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("k_mod")
    )


@register(
    "delta_dv_delete_erasure",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 <> 0
    ),
    kept AS (SELECT k, price FROM base WHERE k % 7 <> 0 AND k % 9 <> 0)
    SELECT k % 10 AS k_mod,
           COUNT(*) AS n_rows,
           {o_dsum('price')} AS sum_price
    FROM kept GROUP BY k_mod ORDER BY k_mod
    """,
    doc="MERGE-ON-READ DELETE via deletion vectors "
    "(delete_delta_keys use_deletion_vectors=True): two successive "
    "erasures (k%7=0, then k%9=0) re-add the affected files with "
    "RoaringBitmapArray DV descriptors — no data file is rewritten, "
    "the second delete EXTENDS the first's vectors, write "
    "amplification is O(deleted row indexes). The snapshot read "
    "applies the vectors as one (_metadata.row_index) anti-join; the "
    "oracle is the doubly-erased set as SQL.",
    bench=True,
)
def delta_dv_delete_erasure(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.delta import read_delta
    from optimus_any2any_spark.streaming.delta_table import (
        delete_delta_keys,
        merge_delta_batch,
    )

    t = _fixture_dir("delta_dvdel", sf_dir)
    base = _orders_kv(spark, sf_dir, 0).filter(F.col("k") % 4 != 0)
    merge_delta_batch(
        spark, base, t, "k", "ts", batch_id=0, target_rows_per_file=4000
    )
    if not os.path.isdir(os.path.join(t, "_delta_log")):
        return spark.createDataFrame([], _EMPTY_AGG)  # empty source
    delete_delta_keys(
        spark, t, "k", base.select("k").filter(F.col("k") % 7 == 0),
        batch_id=1, use_deletion_vectors=True,
    )
    delete_delta_keys(
        spark, t, "k", base.select("k").filter(F.col("k") % 9 == 0),
        batch_id=2, use_deletion_vectors=True,
    )
    snap = read_delta(spark, t)
    return (
        snap.groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("k_mod")
    )


@register(
    "delta_dv_then_merge",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 <> 0
    ),
    survivors AS (SELECT k, price FROM base WHERE k % 7 <> 0),
    upd AS (
      SELECT o_orderkey AS k, o_totalprice + 1000.0 AS price
      FROM orders WHERE o_orderkey % 10 = 1
    ),
    ins AS (
      SELECT o_orderkey AS k, o_totalprice / 2 AS price
      FROM orders WHERE o_orderkey % 20 = 0
    ),
    merged AS (
      SELECT k, price FROM survivors WHERE k % 10 <> 1
      UNION ALL SELECT k, price FROM upd
      UNION ALL SELECT k, price FROM ins
    )
    SELECT k % 10 AS k_mod,
           COUNT(*) AS n_rows,
           {o_dsum('price')} AS sum_price
    FROM merged GROUP BY k_mod ORDER BY k_mod
    """,
    doc="The canonical merge-on-read LIFECYCLE: DV delete (k%7=0) "
    "followed directly by a MERGE upsert (k%10=1 updated +1000, "
    "k%20=0 inserted /2) with NO purge in between — the merge reads "
    "affected files THROUGH their deletion vectors (one Arrow-batched "
    "anti-join composed into the CoW read), consumes the vectors in "
    "the same commit (remove actions carrying the old DV descriptors, "
    "per (path, DV-id) reconciliation), and never resurrects an "
    "erased row. Deleted keys absent from the batch stay deleted; a "
    "deleted key the batch carries is re-inserted (upsert semantics). "
    "The oracle states the delete+merge set algebra as SQL.",
    bench=True,
)
def delta_dv_then_merge(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.delta import read_delta
    from optimus_any2any_spark.streaming.delta_table import (
        delete_delta_keys,
        merge_delta_batch,
    )

    t = _fixture_dir("delta_dvmerge", sf_dir)
    base = _orders_kv(spark, sf_dir, 0).filter(F.col("k") % 4 != 0)
    merge_delta_batch(
        spark, base, t, "k", "ts", batch_id=0, target_rows_per_file=4000
    )
    if not os.path.isdir(os.path.join(t, "_delta_log")):
        return spark.createDataFrame([], _EMPTY_AGG)  # empty source
    delete_delta_keys(
        spark, t, "k", base.select("k").filter(F.col("k") % 7 == 0),
        batch_id=1, use_deletion_vectors=True,
    )
    upd = _orders_kv(spark, sf_dir, 1).filter(
        F.col("k") % 10 == 1
    ).withColumn("price", F.col("price") + F.lit(1000.0))
    ins = _orders_kv(spark, sf_dir, 1).filter(
        F.col("k") % 20 == 0
    ).withColumn("price", F.col("price") / F.lit(2))
    merge_delta_batch(
        spark, upd.unionByName(ins), t, "k", "ts", batch_id=2,
        target_rows_per_file=4000,
    )
    snap = read_delta(spark, t)
    return (
        snap.groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("k_mod")
    )


def _write_mapped_orders(spark, t, sf_dir) -> None:
    """A NAME-MAPPED Delta table from orders: physical column names in
    the parquet, logical (k, price, ts) only in the schemaString —
    the layout delta-spark produces with delta.columnMapping.mode=name."""
    import glob as _glob
    import json as _json

    pk, pp, pt_ = "col-0f3a91d2", "col-8c47be15", "col-2d9e6a30"
    base = _orders_kv(spark, sf_dir, 0).filter(F.col("k") % 4 != 0)
    os.makedirs(t, exist_ok=True)
    tmpd = os.path.join(t, "_tmp0")
    base.select(
        F.col("k").alias(pk),
        F.col("price").alias(pp),
        F.col("ts").alias(pt_),
    ).repartition(2).write.mode("overwrite").parquet(tmpd)
    adds = []
    for i, part in enumerate(
        sorted(_glob.glob(os.path.join(tmpd, "part-*.parquet")))
    ):
        rel = f"part-00000-{i}-mapped.parquet"
        os.replace(part, os.path.join(t, rel))
        adds.append(
            {
                "add": {
                    "path": rel,
                    "partitionValues": {},
                    "size": os.path.getsize(os.path.join(t, rel)),
                    "modificationTime": 0,
                    "dataChange": True,
                }
            }
        )
    shutil.rmtree(tmpd)
    fields = [
        {
            "name": n,
            "type": ty,
            "nullable": True,
            "metadata": {
                "delta.columnMapping.id": i + 1,
                "delta.columnMapping.physicalName": pn,
            },
        }
        for i, (n, ty, pn) in enumerate(
            [("k", "long", pk), ("price", "double", pp),
             ("ts", "long", pt_)]
        )
    ]
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "mapped-orders",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": _json.dumps(
                    {"type": "struct", "fields": fields}
                ),
                "partitionColumns": [],
                "configuration": {
                    "delta.columnMapping.mode": "name",
                    "delta.columnMapping.maxColumnId": "3",
                },
            }
        },
    ] + adds
    log = os.path.join(t, "_delta_log")
    os.makedirs(log, exist_ok=True)
    with open(os.path.join(log, "%020d.json" % 0), "w") as f:
        for a in actions:
            f.write(_json.dumps(a) + "\n")


@register(
    "delta_mapped_merge",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 <> 0
    ),
    upd AS (
      SELECT o_orderkey AS k, o_totalprice + 1000.0 AS price
      FROM orders WHERE o_orderkey % 10 = 1
    ),
    ins AS (
      SELECT o_orderkey AS k, o_totalprice / 2 AS price
      FROM orders WHERE o_orderkey % 20 = 0
    ),
    merged AS (
      SELECT k, price FROM base WHERE k % 10 <> 1
      UNION ALL SELECT k, price FROM upd
      UNION ALL SELECT k, price FROM ins
    )
    SELECT k % 10 AS k_mod,
           COUNT(*) AS n_rows,
           {o_dsum('price')} AS sum_price
    FROM merged GROUP BY k_mod ORDER BY k_mod
    """,
    doc="MERGE into a COLUMN-MAPPED Delta table (VERDICT r5 item 7): "
    "the fixture is laid out exactly as delta-spark writes "
    "columnMapping.mode=name tables — physical col-uuid names in the "
    "parquet and stats, logical names only in the schemaString. The "
    "writer runs its algebra on logical names and translates at the "
    "storage boundary (parquet schema, stats keys, partitionValues), "
    "so the SAME single-job merge shape applies; the upsert is the "
    "delta_merge_upsert workload and the snapshot reads back through "
    "the mapping-aware reader.",
    bench=False,
)
def delta_mapped_merge(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.delta import read_delta
    from optimus_any2any_spark.streaming.delta_table import (
        merge_delta_batch,
    )

    t = _fixture_dir("delta_mapped", sf_dir)
    _write_mapped_orders(spark, t, sf_dir)
    upd = _orders_kv(spark, sf_dir, 1).filter(
        F.col("k") % 10 == 1
    ).withColumn("price", F.col("price") + F.lit(1000.0))
    ins = _orders_kv(spark, sf_dir, 1).filter(
        F.col("k") % 20 == 0
    ).withColumn("price", F.col("price") / F.lit(2))
    merge_delta_batch(
        spark, upd.unionByName(ins), t, "k", "ts", batch_id=1,
        target_rows_per_file=4000,
    )
    snap = read_delta(spark, t)
    return (
        snap.groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("k_mod")
    )


@register(
    "delta_mapped_evolve",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 <> 0
    ),
    upd AS (
      SELECT o_orderkey AS k, o_totalprice + 1000.0 AS price,
             o_orderkey % 3 AS flag
      FROM orders WHERE o_orderkey % 10 = 1
    ),
    ins AS (
      SELECT o_orderkey AS k, o_totalprice / 2 AS price,
             o_orderkey % 3 AS flag
      FROM orders WHERE o_orderkey % 20 = 0
    ),
    merged AS (
      SELECT k, price, CAST(NULL AS BIGINT) AS flag
      FROM base WHERE k % 10 <> 1
      UNION ALL SELECT k, price, flag FROM upd
      UNION ALL SELECT k, price, flag FROM ins
    )
    SELECT COALESCE(flag, -1) AS flag_g,
           COUNT(*) AS n_rows,
           {o_dsum('price')} AS sum_price
    FROM merged GROUP BY flag_g ORDER BY flag_g
    """,
    doc="Schema EVOLUTION on a column-mapped Delta table (VERDICT r7 "
    "item 1): the mapped orders fixture is merged with a batch "
    "carrying a NEW column (flag = k % 3) under merge_schema=True — "
    "the writer mints delta.columnMapping.id / col-<uuid> "
    "physicalName metadata for the added column under maxColumnId "
    "bookkeeping, re-states metaData in the same commit, and writes "
    "the new files under the fresh physical names. Pre-evolution "
    "files null-fill the new column on read (grouped here as "
    "flag -1); time travel to version 0 keeps the old schema "
    "(pinned in tests/test_delta_column_mapping.py).",
    bench=False,
)
def delta_mapped_evolve(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.delta import read_delta
    from optimus_any2any_spark.streaming.delta_table import (
        merge_delta_batch,
    )

    t = _fixture_dir("delta_mapped_evolve", sf_dir)
    _write_mapped_orders(spark, t, sf_dir)
    upd = _orders_kv(spark, sf_dir, 1).filter(
        F.col("k") % 10 == 1
    ).withColumn("price", F.col("price") + F.lit(1000.0))
    ins = _orders_kv(spark, sf_dir, 1).filter(
        F.col("k") % 20 == 0
    ).withColumn("price", F.col("price") / F.lit(2))
    batch = upd.unionByName(ins).withColumn("flag", F.col("k") % 3)
    merge_delta_batch(
        spark, batch, t, "k", "ts", batch_id=1,
        target_rows_per_file=4000, merge_schema=True,
    )
    snap = read_delta(spark, t)
    return (
        snap.groupBy(
            F.coalesce(F.col("flag"), F.lit(-1)).alias("flag_g")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("flag_g")
    )


@register(
    "iceberg_delete_then_merge",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 <> 0
    ),
    survivors AS (SELECT k, price FROM base WHERE k % 7 <> 0),
    upd AS (
      SELECT o_orderkey AS k, o_totalprice + 1000.0 AS price
      FROM orders WHERE o_orderkey % 10 = 1
    ),
    ins AS (
      SELECT o_orderkey AS k, o_totalprice / 2 AS price
      FROM orders WHERE o_orderkey % 20 = 0
    ),
    merged AS (
      SELECT k, price FROM survivors WHERE k % 10 <> 1
      UNION ALL SELECT k, price FROM upd
      UNION ALL SELECT k, price FROM ins
    )
    SELECT k % 10 AS k_mod,
           COUNT(*) AS n_rows,
           {o_dsum('price')} AS sum_price
    FROM merged GROUP BY k_mod ORDER BY k_mod
    """,
    doc="The Iceberg merge-on-read LIFECYCLE (VERDICT r5 item 6): an "
    "equality-delete commit (k%7=0, one distributed delete file, no "
    "data rewritten) followed directly by a copy-on-write MERGE "
    "(k%10=1 updated +1000, k%20=0 inserted /2). The merge reads its "
    "affected files WITH the delete applied (sequence-gated anti-join, "
    "the read path's own plan), stamps a higher data-sequence on the "
    "rewrite so the consumed delete stops applying to it, re-lists "
    "survivor entries with their ORIGINAL sequence numbers (so the "
    "carried delete manifest still gates them), and a deleted key the "
    "batch carries is re-inserted (upsert semantics outranking the "
    "delete). The oracle states the delete+merge set algebra as SQL.",
    bench=True,
)
def iceberg_delete_then_merge(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.iceberg import read_iceberg
    from optimus_any2any_spark.streaming.iceberg_table import (
        delete_iceberg_keys,
        merge_iceberg_batch,
    )

    t = _fixture_dir("iceberg_dtm", sf_dir)
    base = _orders_kv(spark, sf_dir, 0).filter(F.col("k") % 4 != 0)
    merge_iceberg_batch(
        spark, base, t, "k", "ts", batch_id=0, target_rows_per_file=4000
    )
    if not os.path.isdir(os.path.join(t, "metadata")):
        return spark.createDataFrame([], _EMPTY_AGG)  # empty source
    delete_iceberg_keys(
        spark, t, "k", base.select("k").filter(F.col("k") % 7 == 0),
        batch_id=1,
    )
    upd = _orders_kv(spark, sf_dir, 1).filter(
        F.col("k") % 10 == 1
    ).withColumn("price", F.col("price") + F.lit(1000.0))
    ins = _orders_kv(spark, sf_dir, 1).filter(
        F.col("k") % 20 == 0
    ).withColumn("price", F.col("price") / F.lit(2))
    merge_iceberg_batch(
        spark, upd.unionByName(ins), t, "k", "ts", batch_id=2,
        target_rows_per_file=4000,
    )
    snap = read_iceberg(spark, t)
    return (
        snap.groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("k_mod")
    )


@register(
    "iceberg_compact_after_delete",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 <> 0
    ),
    survivors AS (SELECT k, price FROM base WHERE k % 7 <> 0)
    SELECT k % 10 AS k_mod,
           COUNT(*) AS n_rows,
           {o_dsum('price')} AS sum_price
    FROM survivors GROUP BY k_mod ORDER BY k_mod
    """,
    doc="Iceberg COMPACTION over a deleted table (rewrite_data_files, "
    "a 'replace' snapshot): the table is seeded as many small files, "
    "an equality-delete erases k%7=0 without touching data, then "
    "compact_iceberg merges the undersized files — reading them WITH "
    "the delete applied (sequence-gated anti-join) and stamping a "
    "higher data-sequence so the consumed delete retires. The oracle "
    "is the plain survivor algebra: compaction must be LOSSLESS "
    "through row-level deletes, which is exactly what the hash gate "
    "proves. Constant Spark jobs in files/partitions (one read + one "
    "routed write + one stats pass — compact_delta's shape).",
    bench=False,
)
def iceberg_compact_after_delete(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.iceberg import read_iceberg
    from optimus_any2any_spark.streaming.iceberg_table import (
        compact_iceberg,
        delete_iceberg_keys,
        merge_iceberg_batch,
    )

    t = _fixture_dir("iceberg_compact", sf_dir)
    base = _orders_kv(spark, sf_dir, 0).filter(F.col("k") % 4 != 0)
    merge_iceberg_batch(
        spark, base, t, "k", "ts", batch_id=0, target_rows_per_file=800
    )
    if not os.path.isdir(os.path.join(t, "metadata")):
        return spark.createDataFrame([], _EMPTY_AGG)  # empty source
    delete_iceberg_keys(
        spark, t, "k", base.select("k").filter(F.col("k") % 7 == 0),
        batch_id=1,
    )
    compact_iceberg(spark, t, target_rows_per_file=100_000, key_col="k")
    snap = read_iceberg(spark, t)
    return (
        snap.groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("k_mod")
    )


@register(
    "delta_cdf_read",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 <> 0
    ),
    pre AS (
      SELECT k, price, 'update_preimage' AS change_type
      FROM base WHERE k % 10 = 1
    ),
    post AS (
      SELECT k, price + 1000.0 AS price, 'update_postimage' AS change_type
      FROM base WHERE k % 10 = 1
    ),
    ins AS (
      SELECT o_orderkey AS k, o_totalprice / 2 AS price,
             'insert' AS change_type
      FROM orders WHERE o_orderkey % 20 = 0
    ),
    changes AS (
      SELECT * FROM pre UNION ALL SELECT * FROM post
      UNION ALL SELECT * FROM ins
    )
    SELECT change_type,
           COUNT(*) AS n_rows,
           {o_dsum('price')} AS sum_price
    FROM changes GROUP BY change_type ORDER BY change_type
    """,
    doc="Delta Change Data Feed (sources/delta.py read_delta_cdf; "
    "merge_delta_batch change_data=True): the merge records its "
    "row-level changes as protocol cdc actions, and the CDF read of "
    "the update commit returns exactly the preimages (original "
    "prices), postimages (+1000), and inserts (/2) — which the oracle "
    "states directly as SQL set algebra over the source table. The "
    "O(changes)-per-commit contract incremental consumers need.",
)
def delta_cdf_read(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.delta import read_delta_cdf
    from optimus_any2any_spark.streaming.delta_table import merge_delta_batch

    t = _fixture_dir("delta_cdf", sf_dir)
    base = _orders_kv(spark, sf_dir, 0).filter(F.col("k") % 4 != 0)
    merge_delta_batch(
        spark, base, t, "k", "ts", batch_id=0,
        target_rows_per_file=4000, change_data=True,
    )
    upd = _orders_kv(spark, sf_dir, 1).filter(F.col("k") % 10 == 1).withColumn(
        "price", F.col("price") + F.lit(1000.0)
    )
    ins = _orders_kv(spark, sf_dir, 1).filter(F.col("k") % 20 == 0).withColumn(
        "price", F.col("price") / F.lit(2)
    )
    merge_delta_batch(
        spark, upd.unionByName(ins), t, "k", "ts", batch_id=1,
        target_rows_per_file=4000, change_data=True,
    )
    import os as _os

    if not _os.path.isdir(_os.path.join(t, "_delta_log")):
        return spark.createDataFrame(
            [], "change_type string, n_rows long, sum_price double"
        )
    changes = read_delta_cdf(spark, t, 0, 1)
    return (
        changes.groupBy(F.col("_change_type").alias("change_type"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("change_type")
    )


@register(
    "iceberg_changelog_read",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 <> 0
    ),
    del AS (SELECT k, price FROM base WHERE k % 7 = 0),
    upd AS (
      SELECT k, price FROM base WHERE k % 7 <> 0 AND k % 10 = 1
    ),
    changes AS (
      SELECT 'INSERT' AS change_type, price FROM base
      UNION ALL SELECT 'DELETE', price FROM del
      UNION ALL SELECT 'DELETE', price FROM upd
      UNION ALL SELECT 'INSERT', price + 1000.0 FROM upd
    )
    SELECT change_type,
           COUNT(*) AS n_rows,
           {o_dsum('price')} AS sum_price
    FROM changes GROUP BY change_type ORDER BY change_type
    """,
    doc="Iceberg CHANGELOG scan (sources/iceberg.read_iceberg_changes"
    " + ICEBERG__CHANGES rider) — the Delta CDF twin computed the "
    "Iceberg way: no change files, the per-snapshot INSERT/DELETE "
    "rows derive from the MANIFEST DIFF vs the predecessor (appends "
    "read only added files; MoR deletes evaluate only the NEW delete "
    "files against the prior state so already-dead rows never "
    "re-report; rewrites NET via exceptAll so carried rows cancel; "
    "compaction emits nothing) — changelog IO is O(changed files), "
    "never O(table). Fixture: seed merge (all INSERTs), equality-"
    "delete erasure (DELETEs), then UPDATE ... WHERE (DELETE "
    "pre-image + INSERT post-image). The oracle restates the three "
    "commits' change sets as SQL set algebra.",
    bench=True,
)
def iceberg_changelog_read(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.iceberg import (
        read_iceberg_changes,
    )
    from optimus_any2any_spark.streaming.iceberg_table import (
        delete_iceberg_keys,
        merge_iceberg_batch,
        update_iceberg_where,
    )

    t = _fixture_dir("iceberg_changelog", sf_dir)
    base = _orders_kv(spark, sf_dir, 0).filter(F.col("k") % 4 != 0)
    merge_iceberg_batch(
        spark, base, t, "k", "ts", batch_id=0,
        target_rows_per_file=4000,
    )
    if not os.path.isdir(os.path.join(t, "metadata")):
        return spark.createDataFrame(
            [], "change_type string, n_rows long, sum_price double"
        )
    delete_iceberg_keys(
        spark, t, "k", base.select("k").filter(F.col("k") % 7 == 0),
        batch_id=1,
    )
    update_iceberg_where(
        spark, t, {"price": "price + 1000.0"}, where="k % 10 = 1"
    )
    changes = read_iceberg_changes(spark, t)
    return (
        changes.groupBy(F.col("_change_type").alias("change_type"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("change_type")
    )


@register(
    "iceberg_row_lineage",
    oracle=f"""
    WITH s1 AS (
      SELECT o_orderkey AS k, o_totalprice AS price,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    s2 AS (
      SELECT o_orderkey AS k, o_totalprice AS price,
             (SELECT COUNT(*) FROM s1)
             + ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
      FROM orders WHERE o_orderkey % 3 = 1
    ),
    all_rows AS (
      SELECT k, price, rid, 1 AS last_seq FROM s1
      UNION ALL SELECT k, price, rid, 2 FROM s2
    ),
    live AS (SELECT * FROM all_rows WHERE k % 5 <> 0)
    SELECT last_seq,
           COUNT(*) AS n_rows,
           CAST(SUM(rid) AS BIGINT) AS sum_rid,
           {o_dsum('price')} AS sum_price
    FROM live GROUP BY last_seq ORDER BY last_seq
    """,
    doc="Iceberg v3 ROW LINEAGE (spec §Row Lineage — "
    "write_iceberg_commit(row_lineage=True) + "
    "read_iceberg(row_lineage=True), ICEBERG__ROW_LINEAGE riders): "
    "each append assigns its data files explicit first_row_id values "
    "and advances the table's next-row-id (driver bookkeeping over "
    "record counts the commit already collects — zero extra jobs); "
    "the lineage read derives _row_id = first_row_id + parquet "
    "position and _last_updated_sequence_number from the file's data "
    "sequence via the SAME full-path lookup the position read "
    "pays. Merge-on-read DELETE never moves ids (positions are "
    "stable — pinned in tests/test_iceberg_row_lineage.py); "
    "copy-on-write rewrites refuse by name. Two ordered single-file "
    "appends then DELETE WHERE k%5=0; the oracle restates row-id "
    "assignment as ROW_NUMBER() in commit order.",
    bench=True,
)
def iceberg_row_lineage(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.iceberg import read_iceberg
    from optimus_any2any_spark.streaming.iceberg_table import (
        delete_iceberg_where,
        write_iceberg_commit,
    )

    t = _fixture_dir("iceberg_rowlin", sf_dir)
    o = load(spark, sf_dir, "orders")

    def _slice(mod):
        return (
            o.filter(F.col("o_orderkey") % 3 == mod)
            .select(
                F.col("o_orderkey").alias("k"),
                F.col("o_totalprice").alias("price"),
                F.lit(0).cast("long").alias("ts"),
            )
            .repartitionByRange(1, "k")
            .sortWithinPartitions("k")
        )

    write_iceberg_commit(_slice(0), t, row_lineage=True)
    write_iceberg_commit(_slice(1), t)
    if not os.path.isdir(os.path.join(t, "metadata")):
        return spark.createDataFrame(
            [],
            "last_seq long, n_rows long, sum_rid long, "
            "sum_price double",
        )
    delete_iceberg_where(spark, t, "k % 5 = 0")
    snap = read_iceberg(spark, t, row_lineage=True)
    return (
        snap.groupBy(
            F.col("_last_updated_sequence_number").alias("last_seq")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("_row_id").alias("sum_rid"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("last_seq")
    )


@register(
    "iceberg_lineage_inherited",
    oracle=f"""
    WITH s1 AS (
      SELECT o_orderkey AS k, o_totalprice AS price,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    s2 AS (
      SELECT o_orderkey AS k, o_totalprice AS price,
             (SELECT COUNT(*) FROM s1)
             + ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
      FROM orders WHERE o_orderkey % 3 = 1
    ),
    all_rows AS (
      SELECT k, price, rid, 1 AS last_seq FROM s1
      UNION ALL SELECT k, price, rid, 2 FROM s2
    ),
    live AS (SELECT * FROM all_rows WHERE k % 5 <> 0)
    SELECT last_seq,
           COUNT(*) AS n_rows,
           CAST(SUM(rid) AS BIGINT) AS sum_rid,
           {o_dsum('price')} AS sum_price
    FROM live GROUP BY last_seq ORDER BY last_seq
    """,
    doc="Iceberg v3 row-lineage first_row_id INHERITANCE (spec "
    "§Row Lineage — the r11 VERDICT gap, lifted): the same workload "
    "as iceberg_row_lineage, but the table is transformed into the "
    "layout foreign writers (iceberg-java) produce — per-entry "
    "first_row_id NULL, manifest-list rows carrying an explicit "
    "preserved value for prior manifests and NULL + "
    "added/existing_rows_count for the snapshot's own. The reader "
    "re-derives every id by the spec's inheritance walk "
    "(_snapshot_entries): null manifests inherit the snapshot's "
    "first-row-id plus preceding null manifests' row counts; null "
    "entries inherit the manifest's value plus preceding null "
    "entries' record_count. The MoR DELETE after the transform also "
    "pins the writers' preservation rule (re-emitted manifest rows "
    "carry their assigned value explicitly). Result must equal "
    "iceberg_row_lineage exactly.",
    bench=False,
)
def iceberg_lineage_inherited(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.iceberg import (
        make_lineage_inherited,
        read_iceberg,
    )
    from optimus_any2any_spark.streaming.iceberg_table import (
        delete_iceberg_where,
        write_iceberg_commit,
    )

    t = _fixture_dir("iceberg_lininh", sf_dir)
    o = load(spark, sf_dir, "orders")

    def _slice(mod):
        return (
            o.filter(F.col("o_orderkey") % 3 == mod)
            .select(
                F.col("o_orderkey").alias("k"),
                F.col("o_totalprice").alias("price"),
                F.lit(0).cast("long").alias("ts"),
            )
            .repartitionByRange(1, "k")
            .sortWithinPartitions("k")
        )

    write_iceberg_commit(_slice(0), t, row_lineage=True)
    write_iceberg_commit(_slice(1), t)
    if not os.path.isdir(os.path.join(t, "metadata")):
        return spark.createDataFrame(
            [],
            "last_seq long, n_rows long, sum_rid long, "
            "sum_price double",
        )
    make_lineage_inherited(t)  # foreignize: ids now inheritance-only
    delete_iceberg_where(spark, t, "k % 5 = 0")
    snap = read_iceberg(spark, t, row_lineage=True)
    return (
        snap.groupBy(
            F.col("_last_updated_sequence_number").alias("last_seq")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("_row_id").alias("sum_rid"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("last_seq")
    )


@register(
    "iceberg_merge_upsert",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 <> 0
    ),
    upd AS (
      SELECT o_orderkey AS k, o_totalprice + 1000.0 AS price
      FROM orders WHERE o_orderkey % 10 = 1
    ),
    ins AS (
      SELECT o_orderkey AS k, o_totalprice / 2 AS price
      FROM orders WHERE o_orderkey % 20 = 0
    ),
    merged AS (
      SELECT k, price FROM base WHERE k % 10 <> 1
      UNION ALL SELECT k, price FROM upd
      UNION ALL SELECT k, price FROM ins
    )
    SELECT k % 10 AS k_mod,
           COUNT(*) AS n_rows,
           {o_dsum('price')} AS sum_price
    FROM merged GROUP BY k_mod ORDER BY k_mod
    """,
    doc="File-level MERGE committing Iceberg snapshots "
    "(streaming/iceberg_table.py): the same seed/update/insert workload "
    "as delta_merge_upsert, but the commits are v1 Iceberg snapshots — "
    "Avro manifests with spec Appendix-D bounds for pruning, untouched "
    "manifests carried VERBATIM in the new manifest list, survivors "
    "re-listed as EXISTING without rewriting their data files. Same "
    "oracle algebra; result read back via the spec reader.",
)
def iceberg_merge_upsert(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.iceberg import read_iceberg
    from optimus_any2any_spark.streaming.iceberg_table import (
        merge_iceberg_batch,
    )

    t = _fixture_dir("iceberg_merge", sf_dir)
    base = _orders_kv(spark, sf_dir, 0).filter(F.col("k") % 4 != 0)
    merge_iceberg_batch(
        spark, base, t, "k", "ts", batch_id=0, target_rows_per_file=4000
    )
    upd = _orders_kv(spark, sf_dir, 1).filter(F.col("k") % 10 == 1).withColumn(
        "price", F.col("price") + F.lit(1000.0)
    )
    ins = _orders_kv(spark, sf_dir, 1).filter(F.col("k") % 20 == 0).withColumn(
        "price", F.col("price") / F.lit(2)
    )
    merge_iceberg_batch(
        spark, upd.unionByName(ins), t, "k", "ts", batch_id=1,
        target_rows_per_file=4000,
    )
    if not os.path.isdir(os.path.join(t, "metadata")):
        return spark.createDataFrame([], _EMPTY_AGG)
    snap = read_iceberg(spark, t)
    return (
        snap.groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("k_mod")
    )


@register(
    "delta_column_mapping_read",
    oracle=f"""
    WITH src AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 7 = 0
    )
    SELECT k % 5 AS k_mod,
           COUNT(*) AS n_rows,
           {o_dsum('price')} AS sum_price
    FROM src WHERE k >= 50
    GROUP BY k_mod ORDER BY k_mod
    """,
    doc="Column-mapped Delta table READ (VERDICT r4 item 5): the "
    "fixture is laid out the way a current Delta writer with "
    "delta.columnMapping.mode=name does it — parquet columns carry "
    "PHYSICAL names (col-<uuid>), the logical names live only in the "
    "schemaString field metadata, minReaderVersion=2, and the add "
    "actions' stats are keyed by physical names. read_delta translates "
    "physical->logical and still APPLIES DATA SKIPPING through the "
    "physical-keyed stats (the k >= 50 range read prunes the low "
    "file). Deletion-vector tables (minReaderVersion 3) still "
    "guard-raise.",
)
def delta_column_mapping_read(spark, sf_dir):
    import glob as _glob
    import json as _json
    import shutil as _shutil

    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.delta import read_delta

    t = _fixture_dir("delta_cmap", sf_dir)
    os.makedirs(t, exist_ok=True)
    phys_k, phys_p = "col-2f9ab11e", "col-8c4d77a0"
    src = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 7 == 0)
        .select(
            F.col("o_orderkey").alias(phys_k),
            F.col("o_totalprice").alias(phys_p),
        )
    )
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "cmap-fixture",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": _json.dumps(
                    {
                        "type": "struct",
                        "fields": [
                            {
                                "name": "k",
                                "type": "long",
                                "nullable": True,
                                "metadata": {
                                    "delta.columnMapping.id": 1,
                                    "delta.columnMapping.physicalName":
                                        phys_k,
                                },
                            },
                            {
                                "name": "price",
                                "type": "double",
                                "nullable": True,
                                "metadata": {
                                    "delta.columnMapping.id": 2,
                                    "delta.columnMapping.physicalName":
                                        phys_p,
                                },
                            },
                        ],
                    }
                ),
                "partitionColumns": [],
                "configuration": {
                    "delta.columnMapping.mode": "name",
                    "delta.columnMapping.maxColumnId": "2",
                },
            }
        },
    ]
    # two files split on k < 50 so the range read has something to
    # prune through the physical-keyed stats
    for gi, frame in enumerate(
        (src.filter(F.col(phys_k) < 50), src.filter(F.col(phys_k) >= 50))
    ):
        tmp = os.path.join(t, f"_tmp{gi}")
        frame.coalesce(1).write.mode("overwrite").parquet(tmp)
        rel = f"part-0000{gi}-cmap.parquet"
        os.replace(
            _glob.glob(os.path.join(tmp, "part-*.parquet"))[0],
            os.path.join(t, rel),
        )
        _shutil.rmtree(tmp)
        st = frame.agg(
            F.count(F.lit(1)).alias("n"),
            F.min(phys_k).alias("mn"),
            F.max(phys_k).alias("mx"),
        ).collect()[0]
        add = {
            "path": rel,
            "partitionValues": {},
            "size": os.path.getsize(os.path.join(t, rel)),
            "modificationTime": 0,
            "dataChange": True,
        }
        if st["n"]:
            add["stats"] = _json.dumps(
                {
                    "numRecords": int(st["n"]),
                    "minValues": {phys_k: int(st["mn"])},
                    "maxValues": {phys_k: int(st["mx"])},
                    "nullCount": {phys_k: 0},
                }
            )
        else:
            add["stats"] = _json.dumps(
                {"numRecords": 0, "minValues": {}, "maxValues": {},
                 "nullCount": {phys_k: 0}}
            )
        actions.append({"add": add})
    log = os.path.join(t, "_delta_log")
    os.makedirs(log, exist_ok=True)
    with open(os.path.join(log, "%020d.json" % 0), "w") as f:
        for a in actions:
            f.write(_json.dumps(a) + "\n")
    snap = read_delta(spark, t, key_range=("k", 50, 2**62))
    return (
        snap.groupBy((F.col("k") % 5).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("k_mod")
    )


@register(
    "delta_deletion_vector_read",
    oracle=f"""
    WITH b1 AS (
      SELECT o_orderkey AS k, o_totalprice AS price,
             row_number() OVER (ORDER BY o_orderkey) AS rn
      FROM orders WHERE o_orderkey % 2 = 1
    ),
    b2 AS (
      SELECT o_orderkey AS k, o_totalprice AS price,
             row_number() OVER (ORDER BY o_orderkey) AS rn
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    merged AS (
      SELECT k, price FROM b1 WHERE rn > 100
      UNION ALL SELECT k, price FROM b2 WHERE rn > 50
    )
    SELECT k % 5 AS k_mod, COUNT(*) AS n_rows,
           {o_dsum('price')} AS sum_price
    FROM merged GROUP BY k_mod ORDER BY k_mod
    """,
    doc="Delta DELETION VECTORS read as merge-on-read "
    "(sources/delta.py + the stdlib RoaringBitmap codec in "
    "formats/roaring.py): a reader-version-3 table whose two add "
    "actions carry DV descriptors — one uuid-derived .bin file "
    "(storageType u, z85 uuid, CRC-framed blob) deleting the first "
    "100 row positions of the odd-key file, one INLINE z85 vector "
    "deleting the first 50 positions of the even-key file. Both "
    "files were written sorted by k, so the deleted positions ARE "
    "the smallest keys, which the oracle states with row_number. "
    "The vectors decode on executors (Arrow batch) and apply as one "
    "anti-join on (file, _metadata.row_index).",
)
def delta_deletion_vector_read(spark, sf_dir):
    import glob as _glob
    import json as _json
    import shutil as _shutil
    import uuid as _uuid

    from optimus_any2any_spark.formats.roaring import (
        dv_blob,
        dv_file_write,
        z85_encode,
    )
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.delta import read_delta

    t = _fixture_dir("delta_dv", sf_dir)
    os.makedirs(t, exist_ok=True)
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
    )
    actions = [
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors"],
                "writerFeatures": ["deletionVectors"],
            }
        },
        {
            "metaData": {
                "id": "dv-fixture",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": _json.dumps(
                    {
                        "type": "struct",
                        "fields": [
                            {"name": "k", "type": "long",
                             "nullable": True, "metadata": {}},
                            {"name": "price", "type": "double",
                             "nullable": True, "metadata": {}},
                        ],
                    }
                ),
                "partitionColumns": [],
                "configuration": {},
            }
        },
    ]

    def _pad(b: bytes) -> str:
        return z85_encode(b + b"\x00" * (-len(b) % 4))

    specs = [
        (o.filter(F.col("k") % 2 == 1), 100, "u"),
        (o.filter(F.col("k") % 2 == 0), 50, "i"),
    ]
    for gi, (frame, n_del, st_) in enumerate(specs):
        rel = f"part-0000{gi}-dv.parquet"
        tmp = os.path.join(t, f"_tmp{gi}")
        frame.repartition(1).sortWithinPartitions("k").write.mode(
            "overwrite"
        ).parquet(tmp)
        os.replace(
            _glob.glob(os.path.join(tmp, "part-*.parquet"))[0],
            os.path.join(t, rel),
        )
        _shutil.rmtree(tmp)
        blob = dv_blob(list(range(n_del)))
        if st_ == "i":
            dv = {
                "storageType": "i",
                "pathOrInlineDv": _pad(blob),
                "offset": 0,
                "sizeInBytes": len(blob),
                "cardinality": n_del,
            }
        else:
            uid = _uuid.uuid5(_uuid.NAMESPACE_URL, f"{t}|dv{gi}")
            (off,) = dv_file_write(
                os.path.join(t, f"deletion_vector_{uid}.bin"), [blob]
            )
            dv = {
                "storageType": "u",
                "pathOrInlineDv": z85_encode(uid.bytes),
                "offset": off,
                "sizeInBytes": len(blob),
                "cardinality": n_del,
            }
        actions.append(
            {
                "add": {
                    "path": rel,
                    "partitionValues": {},
                    "size": os.path.getsize(os.path.join(t, rel)),
                    "modificationTime": 0,
                    "dataChange": True,
                    "deletionVector": dv,
                }
            }
        )
    log = os.path.join(t, "_delta_log")
    os.makedirs(log, exist_ok=True)
    with open(os.path.join(log, "%020d.json" % 0), "w") as f:
        for a in actions:
            f.write(_json.dumps(a) + "\n")
    snap = read_delta(spark, t)
    return (
        snap.groupBy((F.col("k") % 5).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("k_mod")
    )


@register(
    "iceberg_partitioned_merge",
    oracle=f"""
    WITH base AS (
      SELECT event_id AS k, event_type AS etype, value
      FROM events WHERE event_id % 3 <> 0
    ),
    upd AS (
      SELECT event_id AS k, event_type AS etype, value + 10.0 AS value
      FROM events WHERE event_id % 5 = 1 AND event_id % 3 <> 0
    ),
    ins AS (
      SELECT event_id AS k, event_type AS etype, value / 2 AS value
      FROM events WHERE event_id % 15 = 0
    ),
    merged AS (
      SELECT k, etype, value FROM base WHERE k % 5 <> 1
      UNION ALL SELECT k, etype, value FROM upd
      UNION ALL SELECT k, etype, value FROM ins
    )
    SELECT etype,
           COUNT(*) AS n_rows,
           {o_dsum('value')} AS sum_value
    FROM merged GROUP BY etype ORDER BY etype
    """,
    doc="IDENTITY-PARTITIONED Iceberg MERGE (merge_iceberg_batch "
    "partition_by — VERDICT r4 item 4): the delta_partitioned_merge "
    "workload committed as v1 Iceberg snapshots. The partition tuple "
    "rides in each manifest entry's partition record, pruning is "
    "partition-tuple match first then Appendix-D key bounds, untouched "
    "manifests carry over VERBATIM, and the whole merge is a constant "
    "number of Spark jobs in touched partitions (single-job shape: one "
    "grouped key-stats pass, one anti-join, one partitionBy(__pid) "
    "write). Same oracle algebra as the Delta twin; read back through "
    "the spec reader (data files physically carry partition columns).",
    bench=True,
)
def iceberg_partitioned_merge(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.iceberg import read_iceberg
    from optimus_any2any_spark.streaming.iceberg_table import (
        merge_iceberg_batch,
    )

    t = _fixture_dir("iceberg_pmerge", sf_dir)
    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").alias("k"),
        F.col("event_type").alias("etype"),
        F.col("value"),
        F.lit(0).cast("long").alias("ts"),
    )
    base = ev.filter(F.col("k") % 3 != 0)
    merge_iceberg_batch(
        spark, base, t, "k", "ts", batch_id=0,
        target_rows_per_file=4000, partition_by=["etype"],
    )
    upd = (
        ev.filter((F.col("k") % 5 == 1) & (F.col("k") % 3 != 0))
        .withColumn("value", F.col("value") + F.lit(10.0))
        .withColumn("ts", F.lit(1).cast("long"))
    )
    ins = (
        ev.filter(F.col("k") % 15 == 0)
        .withColumn("value", F.col("value") / F.lit(2))
        .withColumn("ts", F.lit(1).cast("long"))
    )
    merge_iceberg_batch(
        spark, upd.unionByName(ins), t, "k", "ts", batch_id=1,
        target_rows_per_file=4000,
    )
    if not os.path.isdir(os.path.join(t, "metadata")):
        return spark.createDataFrame(
            [], "etype string, n_rows long, sum_value double"
        )
    snap = read_iceberg(spark, t)
    return (
        snap.groupBy("etype")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .orderBy("etype")
    )


@register(
    "iceberg_days_partitioned_merge",
    oracle=f"""
    WITH base AS (
      SELECT event_id AS k, event_type AS etype, value, ts
      FROM events WHERE event_id % 3 <> 0
    ),
    upd AS (
      SELECT k, etype, value + 10.0 AS value, ts
      FROM base WHERE k % 5 = 1
    ),
    ins AS (
      SELECT event_id AS k, event_type AS etype, value / 2 AS value, ts
      FROM events WHERE event_id % 15 = 0
    ),
    merged AS (
      SELECT k, etype, value, ts FROM base WHERE k % 5 <> 1
      UNION ALL SELECT k, etype, value, ts FROM upd
      UNION ALL SELECT k, etype, value, ts FROM ins
    )
    SELECT CAST(ts AS DATE) AS day,
           COUNT(*) AS n_rows,
           {o_dsum('value')} AS sum_value
    FROM merged GROUP BY day ORDER BY day
    """,
    doc="days(ts)-PARTITIONED Iceberg MERGE (VERDICT r5 item 3): the "
    "canonical real-world Iceberg layout — a non-identity partition "
    "transform (spec §Partition Transforms) on the write path. The "
    "day transform is computed per-row as a __pv column "
    "(sources/iceberg_transforms.py, pure epoch arithmetic, timezone-"
    "free), manifests carry the transformed int day tuples under the "
    "spec field name ts_day, and the merge keeps the identity writer's "
    "single-job shape (one grouped key-stats pass, one anti-join, one "
    "partitionBy(__pid) write) — 30 day-partitions at every SF, so "
    "partitions stay constant while data scales. Updates ride the "
    "SAME event timestamp, so each key upserts within its own day — "
    "the oracle restates that as plain set algebra over events.",
    bench=True,
)
def iceberg_days_partitioned_merge(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.iceberg import read_iceberg
    from optimus_any2any_spark.streaming.iceberg_table import (
        merge_iceberg_batch,
    )

    t = _fixture_dir("iceberg_dmerge", sf_dir)
    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").alias("k"),
        F.col("event_type").alias("etype"),
        F.col("value"),
        F.col("ts"),
        F.lit(0).cast("long").alias("rts"),
    )
    base = ev.filter(F.col("k") % 3 != 0)
    merge_iceberg_batch(
        spark, base, t, "k", "rts", batch_id=0,
        target_rows_per_file=4000, partition_by=["days(ts)"],
    )
    upd = (
        base.filter(F.col("k") % 5 == 1)
        .withColumn("value", F.col("value") + F.lit(10.0))
        .withColumn("rts", F.lit(1).cast("long"))
    )
    ins = (
        ev.filter(F.col("k") % 15 == 0)
        .withColumn("value", F.col("value") / F.lit(2))
        .withColumn("rts", F.lit(1).cast("long"))
    )
    merge_iceberg_batch(
        spark, upd.unionByName(ins), t, "k", "rts", batch_id=1,
        target_rows_per_file=4000,
    )
    if not os.path.isdir(os.path.join(t, "metadata")):
        return spark.createDataFrame(
            [], "day date, n_rows long, sum_value double"
        )
    snap = read_iceberg(spark, t)
    return (
        snap.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .orderBy("day")
    )


@register(
    "iceberg_spec_evolution_merge",
    oracle=f"""
    WITH base AS (
      SELECT event_id AS k, event_type AS etype, value, ts
      FROM events WHERE event_id % 3 <> 0
    ),
    upd AS (
      SELECT k, etype, value + 10.0 AS value, ts
      FROM base WHERE k % 5 = 1
    ),
    ins AS (
      SELECT event_id AS k, event_type AS etype, value / 2 AS value, ts
      FROM events WHERE event_id % 15 = 0
    ),
    merged AS (
      SELECT k, etype, value FROM base WHERE k % 5 <> 1
      UNION ALL SELECT k, etype, value FROM upd
      UNION ALL SELECT k, etype, value FROM ins
    )
    SELECT etype, COUNT(*) AS n_rows, {o_dsum('value')} AS sum_value
    FROM merged GROUP BY etype ORDER BY etype
    """,
    doc="Iceberg PARTITION EVOLUTION on the write path (VERDICT r9 "
    "item 6, spec §Partition Evolution): the table is created "
    "days(ts)-partitioned, evolved to identity(event_type) via "
    "set_iceberg_partition_spec (a data-free metadata version that "
    "appends the new spec and flips default-spec-id — partition "
    "field ids stay unique across specs), then merged. The merge "
    "prunes old-spec manifests by KEY BOUNDS only (their day tuples "
    "are another spec's coordinates — tuple-matching would silently "
    "mis-prune), extends the pid set with the current-spec tuples "
    "the rewritten old-spec rows actually produce (one distinct "
    "aggregate, run only on evolved tables), writes new and "
    "rewritten files under the NEW spec, and re-lists untouched "
    "old-spec files under their OWN spec id — one manifest per spec, "
    "the format's mixed-spec representation. Reads are spec-agnostic "
    "(data files physically carry the source columns). The oracle is "
    "the same upsert algebra grouped by the new partition column.",
)
def iceberg_spec_evolution_merge(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.iceberg import read_iceberg
    from optimus_any2any_spark.streaming.iceberg_table import (
        merge_iceberg_batch,
        set_iceberg_partition_spec,
    )

    t = _fixture_dir("iceberg_evmerge", sf_dir)
    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").alias("k"),
        F.col("event_type").alias("etype"),
        F.col("value"),
        F.col("ts"),
        F.lit(0).cast("long").alias("rts"),
    )
    base = ev.filter(F.col("k") % 3 != 0)
    merge_iceberg_batch(
        spark, base, t, "k", "rts", batch_id=0,
        target_rows_per_file=4000, partition_by=["days(ts)"],
    )
    if os.path.isdir(os.path.join(t, "metadata")):
        set_iceberg_partition_spec(spark, t, ["etype"])
    upd = (
        base.filter(F.col("k") % 5 == 1)
        .withColumn("value", F.col("value") + F.lit(10.0))
        .withColumn("rts", F.lit(1).cast("long"))
    )
    ins = (
        ev.filter(F.col("k") % 15 == 0)
        .withColumn("value", F.col("value") / F.lit(2))
        .withColumn("rts", F.lit(1).cast("long"))
    )
    merge_iceberg_batch(
        spark, upd.unionByName(ins), t, "k", "rts", batch_id=1,
        target_rows_per_file=4000,
    )
    if not os.path.isdir(os.path.join(t, "metadata")):
        return spark.createDataFrame(
            [], "etype string, n_rows long, sum_value double"
        )
    snap = read_iceberg(spark, t)
    return (
        snap.groupBy("etype")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .orderBy("etype")
    )


@register(
    "iceberg_merge_schema_evolve",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 <> 0
    ),
    src AS (
      SELECT o_orderkey AS k, o_totalprice + 1000.0 AS price,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    merged AS (
      SELECT k, price, CAST(NULL AS VARCHAR) AS status
      FROM base WHERE k % 3 <> 0
      UNION ALL SELECT k, price, status FROM src
    )
    SELECT status, COUNT(*) AS n_rows, {o_dsum('price')} AS sum_price
    FROM merged GROUP BY status ORDER BY status
    """,
    doc="Iceberg SCHEMA EVOLUTION on the merge path (spec §Schema "
    "Evolution — the Delta mergeSchema twin, done the Iceberg way): "
    "a second merge whose batch carries a NEW column commits an "
    "appended optional field with a fresh column id under a new "
    "schema-id that becomes current-schema-id; pre-evolution data "
    "files read the new column as null, matched rows take the "
    "widened batch row, unmatched batch rows insert with it. The "
    "oracle states the widened latest-wins upsert as SQL set "
    "algebra, grouped by the evolved column (null group = "
    "pre-evolution survivors).",
)
def iceberg_merge_schema_evolve(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.iceberg import read_iceberg
    from optimus_any2any_spark.streaming.iceberg_table import (
        merge_iceberg_batch,
    )

    t = _fixture_dir("iceberg_msevolve", sf_dir)
    o = load(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 4 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.lit(0).cast("long").alias("ts"),
    )
    merge_iceberg_batch(
        spark, base, t, "k", "ts", batch_id=0,
        target_rows_per_file=4000,
    )
    if not os.path.isdir(os.path.join(t, "metadata")):
        return spark.createDataFrame(
            [], "status string, n_rows long, sum_price double"
        )
    src = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice") + F.lit(1000.0)).alias("price"),
        F.lit(1).cast("long").alias("ts"),
        F.col("o_orderstatus").alias("status"),
    )
    merge_iceberg_batch(
        spark, src, t, "k", "ts", batch_id=1,
        target_rows_per_file=4000, merge_schema=True,
    )
    snap = read_iceberg(spark, t)
    return (
        snap.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("status")
    )


@register(
    "iceberg_delete_after_evolve",
    oracle=f"""
    WITH base AS (
      SELECT event_id AS k, event_type AS etype, value
      FROM events WHERE event_id % 3 <> 0
    ),
    live AS (
      SELECT * FROM base WHERE k % 7 <> 0 AND k % 11 <> 3
    ),
    src AS (
      SELECT k, etype, value + 10.0 AS value
      FROM base WHERE k % 5 = 1
    ),
    merged AS (
      SELECT k, etype, value FROM live WHERE k % 5 <> 1
      UNION ALL SELECT k, etype, value FROM src
    )
    SELECT etype, COUNT(*) AS n_rows, {o_dsum('value')} AS sum_value
    FROM merged GROUP BY etype ORDER BY etype
    """,
    doc="Row-level DELETES after PARTITION EVOLUTION (VERDICT r10 "
    "item 7 — the delete-writers-compose-with-evolved-specs gate): "
    "the table is created days(ts)-partitioned, evolved to "
    "identity(event_type), then takes an EQUALITY delete "
    "(delete_iceberg_keys — global delete files carry an empty "
    "partition record stamped under an appended UNPARTITIONED spec, "
    "never the partitioned default), a DELETION-VECTOR positional "
    "delete (delete_iceberg_positions use_deletion_vectors=True — "
    "Puffin blobs against files living under the OLD spec), and a "
    "latest-wins merge whose source re-inserts some deleted keys "
    "(sequence gating must keep the re-inserts alive while the "
    "deletes keep gating older files). The oracle is the same "
    "delete+upsert algebra grouped by the new partition column.",
)
def iceberg_delete_after_evolve(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.iceberg import read_iceberg
    from optimus_any2any_spark.streaming.iceberg_table import (
        delete_iceberg_keys,
        delete_iceberg_positions,
        merge_iceberg_batch,
        set_iceberg_partition_spec,
    )

    t = _fixture_dir("iceberg_delevolve", sf_dir)
    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").alias("k"),
        F.col("event_type").alias("etype"),
        F.col("value"),
        F.col("ts"),
        F.lit(0).cast("long").alias("rts"),
    )
    base = ev.filter(F.col("k") % 3 != 0)
    merge_iceberg_batch(
        spark, base, t, "k", "rts", batch_id=0,
        target_rows_per_file=4000, partition_by=["days(ts)"],
    )
    if not os.path.isdir(os.path.join(t, "metadata")):
        return spark.createDataFrame(
            [], "etype string, n_rows long, sum_value double"
        )
    set_iceberg_partition_spec(spark, t, ["etype"])
    delete_iceberg_keys(
        spark, t, "k", base.filter(F.col("k") % 7 == 0).select("k")
    )
    delete_iceberg_positions(
        spark, t, "k",
        base.filter(F.col("k") % 11 == 3).select("k"),
        use_deletion_vectors=True,
    )
    upd = (
        base.filter(F.col("k") % 5 == 1)
        .withColumn("value", F.col("value") + F.lit(10.0))
        .withColumn("rts", F.lit(1).cast("long"))
    )
    merge_iceberg_batch(
        spark, upd, t, "k", "rts", batch_id=1,
        target_rows_per_file=4000,
    )
    snap = read_iceberg(spark, t)
    return (
        snap.groupBy("etype")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .orderBy("etype")
    )


@register(
    "iceberg_conditional_merge",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey % 4 <> 0
    ),
    src AS (
      SELECT o_orderkey AS k, o_totalprice + 1000.0 AS price,
             'I' AS status
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    result AS (
      SELECT b.k, b.price + s.price AS price, 'U' AS status
      FROM base b JOIN src s USING (k)
      WHERE s.price <= 150000
      UNION ALL
      SELECT b.k, b.price, b.status FROM base b
      WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.k = b.k)
        AND b.k % 10 <> 1
      UNION ALL
      SELECT s.k, s.price, s.status FROM src s
      WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.k = s.k)
        AND s.price > 2000
    )
    SELECT k % 7 AS k_mod, COUNT(*) AS n_rows,
           {o_dsum('price')} AS sum_price,
           CAST(SUM(CASE WHEN status = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS n_upd
    FROM result GROUP BY k % 7 ORDER BY k_mod
    """,
    doc="CONDITIONAL Iceberg MERGE clauses — the Delta clause "
    "builder's Iceberg twin, sharing the format-agnostic row algebra "
    "(streaming/merge_core._apply_merge_clauses) over the Iceberg "
    "snapshot-merge plan: matched rows DELETE past a source-price "
    "threshold or UPDATE from both sides, unmatched-by-source rows "
    "DELETE on their own predicate, and unmatched source rows insert "
    "through a conditional when_not_matched INSERT clause (rows "
    "under the price floor are NOT inserted — the third builder "
    "side, exercised here and not in the Delta row). Snapshot "
    "summary records the predicates. Oracle: the same algebra as "
    "SQL set operations.",
)
def iceberg_conditional_merge(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.iceberg import read_iceberg
    from optimus_any2any_spark.streaming.iceberg_table import (
        merge_iceberg_batch,
    )

    t = _fixture_dir("iceberg_cmerge", sf_dir)
    o = load(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 4 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
        F.lit(0).cast("long").alias("ts"),
    )
    merge_iceberg_batch(
        spark, base, t, "k", "ts", batch_id=0,
        target_rows_per_file=4000,
    )
    src = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice") + F.lit(1000.0)).alias("price"),
        F.lit("I").alias("status"),
        F.lit(1).cast("long").alias("ts"),
    )
    merge_iceberg_batch(
        spark, src, t, "k", "ts", batch_id=1,
        target_rows_per_file=4000,
        when_matched=[
            ("delete", "s.price > 150000"),
            ("update", None,
             {"price": "t.price + s.price", "status": "'U'"}),
        ],
        when_not_matched=[("insert", "s.price > 2000", None)],
        when_not_matched_by_source=[("delete", "t.k % 10 = 1")],
    )
    if not os.path.isdir(os.path.join(t, "metadata")):
        return spark.createDataFrame(
            [], "k_mod long, n_rows long, sum_price double, n_upd long"
        )
    snap = read_iceberg(spark, t)
    return (
        snap.groupBy((F.col("k") % 7).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
            F.sum(
                (F.col("status") == "U").cast("long")
            ).alias("n_upd"),
        )
        .orderBy("k_mod")
    )


@register(
    "iceberg_row_level_deletes",
    oracle=f"""
    WITH b1 AS (
      SELECT o_orderkey AS k, o_totalprice AS price,
             o_orderkey % 7 AS c
      FROM orders WHERE o_orderkey % 2 = 1
    ),
    r1 AS (
      SELECT k, price, c, row_number() OVER (ORDER BY k) AS rn FROM b1
    ),
    b2 AS (
      SELECT o_orderkey AS k, o_totalprice AS price,
             o_orderkey % 7 AS c
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    merged AS (
      SELECT k, price, c FROM r1 WHERE rn > 100
      UNION ALL SELECT k, price, c FROM b2
    )
    SELECT c, COUNT(*) AS n_rows, {o_dsum('price')} AS sum_price
    FROM merged WHERE c NOT IN (2, 5)
    GROUP BY c ORDER BY c
    """,
    doc="Iceberg v2 ROW-LEVEL DELETES read as the spec's merge-on-read "
    "(sources/iceberg.py): a positional delete file erases the first "
    "100 row positions of the first data file (applied as an "
    "anti-join on (file, _metadata.row_index)), an equality delete "
    "file erases c IN (2,5) (null-safe anti-join over the "
    "equality_ids columns), both gated on data-sequence-number "
    "ordering so later appends would out-rank them. The oracle states "
    "the same removals as SQL set algebra (the positional file was "
    "written sorted by k, so positions 0..99 ARE the 100 smallest "
    "odd keys).",
)
def iceberg_row_level_deletes(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.iceberg import (
        _snapshot_entries,
        load_table_metadata,
        read_iceberg,
    )
    from optimus_any2any_spark.streaming.iceberg_table import (
        write_iceberg_commit,
        write_iceberg_delete_commit,
    )

    t = _fixture_dir("iceberg_rld", sf_dir)
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        (F.col("o_orderkey") % 7).alias("c"),
    )
    write_iceberg_commit(
        o.filter(F.col("k") % 2 == 1)
        .repartition(1)
        .sortWithinPartitions("k"),
        t,
    )
    write_iceberg_commit(
        o.filter(F.col("k") % 2 == 0)
        .repartition(1)
        .sortWithinPartitions("k"),
        t,
    )
    meta = load_table_metadata(t)
    data, _p, _e = _snapshot_entries(t, meta)
    files = sorted(d["orig"] for d in data)
    if files:  # an empty source table has nothing to delete from
        write_iceberg_delete_commit(
            spark,
            t,
            pos_deletes=[(files[0], i) for i in range(100)],
            eq_deletes=(["c"], [(2,), (5,)]),
        )
    snap = read_iceberg(spark, t)
    return (
        snap.groupBy("c")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("c")
    )


@register(
    "iceberg_eq_delete_erasure",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 <> 0
    ),
    kept AS (SELECT k, price FROM base WHERE k % 7 <> 0 AND k % 9 <> 0)
    SELECT k % 10 AS k_mod,
           COUNT(*) AS n_rows,
           {o_dsum('price')} AS sum_price
    FROM kept GROUP BY k_mod ORDER BY k_mod
    """,
    doc="Iceberg MERGE-ON-READ DELETE (delete_iceberg_keys): two "
    "successive erasures commit ONE equality-delete file each (the "
    "distinct key set, written distributed — never collected) plus a "
    "delete manifest; no data file is read or rewritten, so write "
    "amplification is O(distinct keys). The snapshot reader applies "
    "them as sequence-gated null-safe anti-joins over equality_ids. "
    "Delta twin: delta_dv_delete_erasure.",
    bench=True,
)
def iceberg_eq_delete_erasure(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.iceberg import read_iceberg
    from optimus_any2any_spark.streaming.iceberg_table import (
        delete_iceberg_keys,
        merge_iceberg_batch,
    )

    t = _fixture_dir("iceberg_eqdel", sf_dir)
    base = _orders_kv(spark, sf_dir, 0).filter(F.col("k") % 4 != 0)
    merge_iceberg_batch(
        spark, base, t, "k", "ts", batch_id=0, target_rows_per_file=4000
    )
    if not os.path.isdir(os.path.join(t, "metadata")):
        return spark.createDataFrame([], _EMPTY_AGG)  # empty source
    delete_iceberg_keys(
        spark, t, "k", base.select("k").filter(F.col("k") % 7 == 0),
        batch_id=1,
    )
    delete_iceberg_keys(
        spark, t, "k", base.select("k").filter(F.col("k") % 9 == 0),
        batch_id=2,
    )
    snap = read_iceberg(spark, t)
    return (
        snap.groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("k_mod")
    )


@register(
    "iceberg_update_where",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey % 4 <> 0
    ),
    updated AS (
      SELECT k,
             CASE WHEN status = 'O' AND price < 100000
                  THEN price * 1.1 ELSE price END AS price,
             CASE WHEN status = 'O' AND price < 100000
                  THEN 'B' ELSE status END AS status
      FROM base
    ),
    final AS (
      SELECT k, price, status FROM updated WHERE NOT (k % 9 = 0)
    )
    SELECT status, COUNT(*) AS n_rows, {o_dsum('price')} AS sum_price
    FROM final GROUP BY status ORDER BY status
    """,
    doc="Iceberg predicate DML — UPDATE ... WHERE then DELETE ... "
    "WHERE (streaming/iceberg_table.update_iceberg_where / "
    "delete_iceberg_where, + ICEBERG__MODE=UPDATE_WHERE/DELETE_WHERE "
    "riders): MERGE-ON-READ, the Iceberg-native shape — the UPDATE "
    "commits ONE snapshot of positional deletes (matched rows' "
    "(file,pos) identities) + re-appended updated rows, the DELETE "
    "commits positional-delete files only; NO data file is ever "
    "rewritten, write amplification is O(matched rows) "
    "(tests/test_iceberg_dml_where.py pins untouched-files-carry-"
    "over and partition row migration). SQL three-valued predicate "
    "semantics in both verbs; snapshot summary records the "
    "predicates. Delta CoW twin: delta_update_where. The oracle "
    "restates the two statements as CASE projection + filter.",
    bench=True,
)
def iceberg_update_where(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.iceberg import read_iceberg
    from optimus_any2any_spark.streaming.iceberg_table import (
        delete_iceberg_where,
        merge_iceberg_batch,
        update_iceberg_where,
    )

    t = _fixture_dir("iceberg_updwhere", sf_dir)
    o = load(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 4 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
        F.lit(0).cast("long").alias("ts"),
    )
    merge_iceberg_batch(
        spark, base, t, "k", "ts", batch_id=0,
        target_rows_per_file=4000,
    )
    if not os.path.isdir(os.path.join(t, "metadata")):
        return spark.createDataFrame(
            [], "status string, n_rows long, sum_price double"
        )
    update_iceberg_where(
        spark, t,
        {"price": "price * 1.1", "status": "'B'"},
        where="status = 'O' AND price < 100000",
    )
    delete_iceberg_where(spark, t, "k % 9 = 0")
    snap = read_iceberg(spark, t)
    return (
        snap.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("status")
    )


@register(
    "delta_row_tracking",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 <> 0
    ),
    cutoff AS (
      SELECT CAST(FLOOR(MAX(o_orderkey) / 2.0) AS BIGINT) AS c
      FROM orders
    ),
    s1 AS (
      SELECT k, price,
             ROW_NUMBER() OVER (ORDER BY k) - 1 AS rid, 1 AS cv
      FROM base WHERE k <= (SELECT c FROM cutoff)
    ),
    s2 AS (
      SELECT k, price,
             (SELECT COUNT(*) FROM s1)
             + ROW_NUMBER() OVER (ORDER BY k) - 1 AS rid, 2 AS cv
      FROM base WHERE k > (SELECT c FROM cutoff)
    ),
    allr AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2),
    upd AS (
      SELECT k,
             CASE WHEN k % 10 = 1 THEN price + 1000.0
                  ELSE price END AS price,
             rid,
             CASE WHEN k % 10 = 1 THEN 3 ELSE cv END AS cv
      FROM allr
    ),
    final AS (SELECT * FROM upd WHERE k % 9 <> 0)
    SELECT cv AS commit_version,
           COUNT(*) AS n_rows,
           CAST(SUM(rid) AS BIGINT) AS sum_rid,
           {o_dsum('price')} AS sum_price
    FROM final GROUP BY cv ORDER BY cv
    """,
    doc="Delta ROW TRACKING (PROTOCOL.md Row Tracking — "
    "create_delta_table(row_tracking=True) + "
    "read_delta_row_tracking): stable per-row ids across the whole "
    "write surface. Fresh rows derive add.baseRowId + position; the "
    "high watermark rides delta.rowTracking domain metadata "
    "(checkpoint-safe); UPDATE ... WHERE KEEPS the row's id and "
    "bumps _row_commit_version; DELETE never moves survivor ids; "
    "rewrites (OPTIMIZE/ZORDER/purge/CoW delete) MATERIALIZE the "
    "lineage columns under the configured physical names so ids "
    "survive byte-for-byte (tests/test_delta_row_tracking.py). "
    "Iceberg twin: iceberg_row_lineage. Two ordered appends + "
    "UPDATE WHERE + DELETE WHERE; the oracle restates id assignment "
    "as ROW_NUMBER() in commit order.",
    bench=True,
)
def delta_row_tracking(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.delta import (
        read_delta_row_tracking,
    )
    from optimus_any2any_spark.streaming.delta_table import (
        create_delta_table,
        delete_delta_where,
        merge_delta_batch,
        update_delta_where,
    )

    t = _fixture_dir("delta_rowtrack", sf_dir)
    o = load(spark, sf_dir, "orders")

    def _slice(cond):
        return (
            o.filter((F.col("o_orderkey") % 4 != 0) & cond)
            .select(
                F.col("o_orderkey").alias("k"),
                F.col("o_totalprice").alias("price"),
                F.lit(0).cast("long").alias("ts"),
            )
            .repartitionByRange(1, "k")
            .sortWithinPartitions("k")
        )

    create_delta_table(
        spark, t, "k long, price double, ts long", row_tracking=True
    )
    # the two appends must be RANGE-disjoint (the second lands as a
    # pure append, its files never touched by bounds pruning) — split
    # at half the max key so the shape holds at every SF
    max_k = o.agg(F.max("o_orderkey")).collect()[0][0]
    cutoff = int(max_k // 2) if max_k is not None else 0
    merge_delta_batch(
        spark, _slice(F.col("o_orderkey") <= cutoff), t, "k", "ts",
        batch_id=0,
    )
    merge_delta_batch(
        spark, _slice(F.col("o_orderkey") > cutoff), t, "k", "ts",
        batch_id=1,
    )
    update_delta_where(
        spark, t, {"price": "price + 1000.0"}, where="k % 10 = 1"
    )
    delete_delta_where(spark, t, "k % 9 = 0")
    snap = read_delta_row_tracking(spark, t)
    return (
        snap.groupBy(
            F.col("_row_commit_version").alias("commit_version")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("_row_id").alias("sum_rid"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("commit_version")
    )


@register(
    "delta_mapped_row_tracking",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 <> 0
    ),
    cutoff AS (
      SELECT CAST(FLOOR(MAX(o_orderkey) / 2.0) AS BIGINT) AS c
      FROM orders
    ),
    s1 AS (
      SELECT k, price, ROW_NUMBER() OVER (ORDER BY k) - 1 AS rid
      FROM base WHERE k <= (SELECT c FROM cutoff)
    ),
    s2 AS (
      SELECT k, price,
             (SELECT COUNT(*) FROM s1)
             + ROW_NUMBER() OVER (ORDER BY k) - 1 AS rid
      FROM base WHERE k > (SELECT c FROM cutoff)
    ),
    allr AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2),
    upd AS (
      SELECT k,
             CASE WHEN k % 10 = 1 THEN price + 1000.0
                  ELSE price END AS price,
             rid,
             CAST(CASE WHEN k % 10 = 1 THEN 2 ELSE 1 END
                  AS BIGINT) AS cv
      FROM allr
    ),
    final AS (SELECT * FROM upd WHERE k % 9 <> 0)
    SELECT cv AS commit_version,
           COUNT(*) AS n_rows,
           CAST(SUM(rid) AS BIGINT) AS sum_rid,
           {o_dsum('price')} AS sum_price
    FROM final GROUP BY cv ORDER BY cv
    """,
    doc="COLUMN MAPPING × ROW TRACKING composed (the r11 VERDICT "
    "composition gap, lifted): the fixture is a delta-spark-style "
    "columnMapping.mode=name table (physical col-uuid parquet "
    "names); enable_delta_row_tracking BACKFILLS it in one metadata "
    "commit (ids = position order over the sorted live files), then "
    "UPDATE WHERE keeps ids and bumps _row_commit_version and "
    "DELETE WHERE drops rows without moving survivor ids. "
    "Materialized lineage columns are NOT part of the logical "
    "schema, so their configured names pass the storage boundary "
    "verbatim while data columns ride the logical→physical walk "
    "(tests/test_delta_row_tracking.py::TestMappedRowTracking).",
    bench=False,
)
def delta_mapped_row_tracking(spark, sf_dir):
    import glob as _glob
    import json as _json

    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.delta import (
        read_delta_row_tracking,
    )
    from optimus_any2any_spark.streaming.delta_table import (
        delete_delta_where,
        enable_delta_row_tracking,
        update_delta_where,
    )

    t = _fixture_dir("delta_mapped_rt", sf_dir)
    pk, pp = "col-5b1fd8e3", "col-a940c77f"
    o = load(spark, sf_dir, "orders")
    max_k = o.agg(F.max("o_orderkey")).collect()[0][0]
    cutoff = int(max_k // 2) if max_k is not None else 0
    base = o.filter(F.col("o_orderkey") % 4 != 0).select(
        F.col("o_orderkey").alias(pk),
        F.col("o_totalprice").alias(pp),
    )
    os.makedirs(t, exist_ok=True)
    adds = []
    # two range-split, k-sorted single-file adds: the backfill's
    # position-order id assignment restates as ROW_NUMBER() per half
    for i, cond in enumerate(
        [F.col(pk) <= cutoff, F.col(pk) > cutoff]
    ):
        half = (
            base.filter(cond)
            .repartitionByRange(1, pk)
            .sortWithinPartitions(pk)
        )
        tmpd = os.path.join(t, f"_tmp{i}")
        half.coalesce(1).write.mode("overwrite").parquet(tmpd)
        parts = sorted(_glob.glob(os.path.join(tmpd, "part-*.parquet")))
        if not parts:  # empty half (degenerate inputs): no file
            shutil.rmtree(tmpd)
            continue
        rel = f"part-00000-{i}-mapped.parquet"
        os.replace(parts[0], os.path.join(t, rel))
        shutil.rmtree(tmpd)
        adds.append(
            {
                "add": {
                    "path": rel,
                    "partitionValues": {},
                    "size": os.path.getsize(os.path.join(t, rel)),
                    "modificationTime": 0,
                    "dataChange": True,
                }
            }
        )
    fields = [
        {
            "name": n,
            "type": ty,
            "nullable": True,
            "metadata": {
                "delta.columnMapping.id": i + 1,
                "delta.columnMapping.physicalName": pn,
            },
        }
        for i, (n, ty, pn) in enumerate(
            [("k", "long", pk), ("price", "double", pp)]
        )
    ]
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "mapped-rt-orders",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": _json.dumps(
                    {"type": "struct", "fields": fields}
                ),
                "partitionColumns": [],
                "configuration": {
                    "delta.columnMapping.mode": "name",
                    "delta.columnMapping.maxColumnId": "2",
                },
            }
        },
    ] + adds
    log = os.path.join(t, "_delta_log")
    os.makedirs(log, exist_ok=True)
    with open(os.path.join(log, "%020d.json" % 0), "w") as f:
        for a in actions:
            f.write(_json.dumps(a) + "\n")
    enable_delta_row_tracking(spark, t)          # version 1: backfill
    update_delta_where(                           # version 2
        spark, t, {"price": "price + 1000.0"}, where="k % 10 = 1"
    )
    delete_delta_where(spark, t, "k % 9 = 0")     # version 3
    snap = read_delta_row_tracking(spark, t)
    return (
        snap.groupBy(
            F.col("_row_commit_version").alias("commit_version")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("_row_id").alias("sum_rid"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("commit_version")
    )


@register(
    "delta_convert_in_place",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price,
             CAST(o_orderkey % 3 AS VARCHAR) AS part
      FROM orders WHERE o_orderkey % 4 <> 0
    ),
    kept AS (SELECT * FROM base WHERE part <> '1'),
    merged AS (
      -- survivors the batch does not touch
      SELECT k, price, part FROM kept WHERE k % 10 <> 1
      UNION ALL
      -- the update slice: matched rows update, rows the DELETE
      -- removed RE-INSERT (merge inserts unmatched batch rows)
      SELECT o_orderkey AS k, o_totalprice + 1000.0 AS price,
             CAST(o_orderkey % 3 AS VARCHAR) AS part
      FROM orders
      WHERE o_orderkey % 10 = 1 AND o_orderkey % 4 <> 0
      UNION ALL
      SELECT o_orderkey AS k, o_totalprice / 2 AS price,
             CAST(o_orderkey % 3 AS VARCHAR) AS part
      FROM orders
      WHERE o_orderkey % 20 = 0 AND o_orderkey % 10 <> 1
    )
    SELECT part, COUNT(*) AS n_rows,
           {o_dsum('price')} AS sum_price
    FROM merged GROUP BY part ORDER BY part
    """,
    doc="CONVERT TO DELTA (delta-spark's in-place migration): a "
    "hive-partitioned parquet directory becomes a Delta table as "
    "driver-side metadata work — commit 0 registers every file with "
    "footer-read record counts and directory-parsed partitionValues "
    "(colliding task basenames rename in place, still zero data "
    "copy). The full writer surface then applies: DELETE WHERE "
    "drops partition '1', a merge updates and inserts, and the "
    "registered bytes never moved. The 100 TB story: migration cost "
    "is O(files) driver metadata, not O(bytes).",
    bench=False,
)
def delta_convert_in_place(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.delta import read_delta
    from optimus_any2any_spark.streaming.delta_table import (
        convert_parquet_to_delta,
        delete_delta_where,
        merge_delta_batch,
    )

    d = _fixture_dir("delta_convert", sf_dir)
    base = load(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 4 != 0
    ).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.lit(0).cast("long").alias("ts"),
        (F.col("o_orderkey") % 3).cast("string").alias("part"),
    )
    if base.isEmpty():
        return spark.createDataFrame(
            [], "part string, n_rows long, sum_price double"
        )
    base.write.partitionBy("part").parquet(d)
    convert_parquet_to_delta(
        spark, d, partition_by=["part string"]
    )
    delete_delta_where(spark, d, "part = '1'")
    upd = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderkey") % 10 == 1)
        & (F.col("o_orderkey") % 4 != 0)
    ).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice") + F.lit(1000.0)).alias("price"),
        (F.col("o_orderkey") % 3).cast("string").alias("part"),
        F.lit(1).cast("long").alias("ts"),
    )
    ins = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderkey") % 20 == 0)
        & (F.col("o_orderkey") % 10 != 1)
    ).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice") / F.lit(2)).alias("price"),
        (F.col("o_orderkey") % 3).cast("string").alias("part"),
        F.lit(1).cast("long").alias("ts"),
    )
    merge_delta_batch(
        spark, upd.unionByName(ins), d, "k", "ts", batch_id=1,
        target_rows_per_file=4000,
    )
    snap = read_delta(spark, d)
    return (
        snap.groupBy("part")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("part")
    )


@register(
    "iceberg_add_files",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 <> 0
    ),
    kept AS (SELECT * FROM base WHERE k % 9 <> 0),
    merged AS (
      SELECT k, price FROM kept WHERE k % 10 <> 1
      UNION ALL
      -- update slice: matched rows update, MoR-deleted ones
      -- RE-INSERT (merge inserts unmatched batch rows)
      SELECT o_orderkey AS k, o_totalprice + 1000.0 AS price
      FROM orders
      WHERE o_orderkey % 10 = 1 AND o_orderkey % 4 <> 0
      UNION ALL
      SELECT o_orderkey AS k, o_totalprice / 2 AS price
      FROM orders
      WHERE o_orderkey % 20 = 0 AND o_orderkey % 10 <> 1
    )
    SELECT k % 10 AS k_mod, COUNT(*) AS n_rows,
           {o_dsum('price')} AS sum_price
    FROM merged GROUP BY k_mod ORDER BY k_mod
    """,
    doc="Iceberg add_files (the Spark procedure): existing parquet "
    "registers into the table as one append snapshot — absolute-path "
    "manifest entries, footer-read record counts, zero data movement "
    "and zero Spark jobs. Merge-on-read DELETE then vectors over the "
    "registered files and a merge updates/inserts on top; the "
    "original bytes never moved. Twin of delta_convert_in_place.",
    bench=False,
)
def iceberg_add_files(spark, sf_dir):
    import glob as _glob

    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.iceberg import (
        add_iceberg_files,
        read_iceberg,
    )
    from optimus_any2any_spark.streaming.iceberg_table import (
        delete_iceberg_where,
        merge_iceberg_batch,
    )

    lake = _fixture_dir("iceberg_addfiles_lake", sf_dir)
    t = _fixture_dir("iceberg_addfiles_tbl", sf_dir)
    base = load(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 4 != 0
    ).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.lit(0).cast("long").alias("ts"),
    )
    if base.isEmpty():
        return spark.createDataFrame(
            [], "k_mod long, n_rows long, sum_price double"
        )
    base.repartition(4).write.parquet(lake)
    files = sorted(_glob.glob(os.path.join(lake, "*.parquet")))
    add_iceberg_files(spark, t, files)
    delete_iceberg_where(spark, t, "k % 9 = 0")
    upd = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderkey") % 10 == 1)
        & (F.col("o_orderkey") % 4 != 0)
    ).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice") + F.lit(1000.0)).alias("price"),
        F.lit(1).cast("long").alias("ts"),
    )
    ins = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderkey") % 20 == 0)
        & (F.col("o_orderkey") % 10 != 1)
    ).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice") / F.lit(2)).alias("price"),
        F.lit(1).cast("long").alias("ts"),
    )
    batch = upd.unionByName(ins)
    merge_iceberg_batch(
        spark,
        batch.select("k", "price", "ts"),
        t, "k", "ts", batch_id=1, target_rows_per_file=4000,
    )
    snap = read_iceberg(spark, t)
    return (
        snap.groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("k_mod")
    )


@register(
    "iceberg_add_files_partitioned",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price,
             nullif(substr(o_orderpriority, 1, 1), '5') AS prio
      FROM orders
    ),
    alive AS (
      SELECT * FROM base WHERE prio IS NULL OR prio <> '3'
    ),
    upd AS (
      SELECT k, price + 500.0 AS price, prio
      FROM base WHERE k % 7 = 1
    ),
    merged AS (
      SELECT a.k, a.price, a.prio FROM alive a
      WHERE a.k NOT IN (SELECT k FROM upd)
      UNION ALL
      SELECT * FROM upd
    ),
    sel AS (
      SELECT * FROM merged WHERE prio >= '1' AND prio <= '4'
    )
    SELECT prio, COUNT(*) AS n_rows, {o_dsum('price')} AS sum_price
    FROM sel GROUP BY prio ORDER BY prio
    """,
    doc="Partitioned add_files (VERDICT r12 item 1): a hive-layout "
    "lake (prio=1/part-*.parquet, __HIVE_DEFAULT_PARTITION__ for "
    "null) registers into a partitioned Iceberg table — identity "
    "values derive from the path into partition-tupled manifest "
    "entries, O(files) driver metadata, zero data movement. The "
    "reader serves the column via the identity-constant projection "
    "(spec Column Projection: hive files don't contain it), "
    "key_range on the partition column prunes whole partitions "
    "(migrated files have no column stats — the tuple IS the "
    "bound), and MoR delete + merge compose on top.",
    bench=False,
)
def iceberg_add_files_partitioned(spark, sf_dir):
    import glob as _glob

    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.iceberg import (
        add_iceberg_files,
        read_iceberg,
    )
    from optimus_any2any_spark.streaming.iceberg_table import (
        delete_iceberg_where,
        merge_iceberg_batch,
    )

    lake = _fixture_dir("iceberg_paddfiles_lake", sf_dir)
    t = _fixture_dir("iceberg_paddfiles_tbl", sf_dir)
    prio = F.substring(F.col("o_orderpriority"), 1, 1)
    base = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.lit(0).cast("long").alias("ts"),
        F.when(prio == "5", F.lit(None).cast("string"))
        .otherwise(prio)
        .alias("prio"),
    )
    if base.isEmpty():
        return spark.createDataFrame(
            [], "prio string, n_rows long, sum_price double"
        )
    base.repartition(2).write.partitionBy("prio").parquet(lake)
    files = sorted(
        _glob.glob(os.path.join(lake, "*", "*.parquet"))
    )
    add_iceberg_files(spark, t, files, partition_schema=["prio string"])
    # partition-level MoR delete, then a merge whose updates ride the
    # partition routing and whose prio-3 keys re-insert as not-matched
    delete_iceberg_where(spark, t, "prio = '3'")
    upd = base.filter(F.col("k") % 7 == 1).select(
        "k",
        (F.col("price") + F.lit(500.0)).alias("price"),
        F.lit(1).cast("long").alias("ts"),
        "prio",
    )
    merge_iceberg_batch(
        spark, upd, t, "k", "ts", batch_id=1,
        target_rows_per_file=4000,
    )
    snap = read_iceberg(spark, t, key_range=("prio", "1", "4"))
    return (
        snap.groupBy("prio")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("prio")
    )


@register(
    "iceberg_add_files_hive_date",
    oracle=f"""
    WITH base AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS dt,
             o_totalprice AS price
      FROM orders
    )
    SELECT dt, COUNT(*) AS n_rows, {o_dsum('price')} AS sum_price
    FROM base
    WHERE dt BETWEEN DATE '1996-01-01' AND DATE '1996-12-01'
    GROUP BY dt ORDER BY dt
    """,
    doc="DATE-typed hive migration (review r13): a dt=YYYY-MM-01/ "
    "lake registers through add_iceberg_files with partition_schema "
    "['dt date'] — path values parse to int days in the manifest "
    "tuples (the Avro physical form), reads decode them back via "
    "the identity-constant projection, and key_range over the date "
    "column prunes whole month partitions (the tuple IS the bound; "
    "migrated files carry no dt column at all). The most common "
    "real-world lake layout: date-partitioned event logs.",
    bench=False,
)
def iceberg_add_files_hive_date(spark, sf_dir):
    import datetime as _dt
    import glob as _glob

    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.iceberg import (
        add_iceberg_files,
        read_iceberg,
    )

    lake = _fixture_dir("iceberg_hivedate_lake", sf_dir)
    t = _fixture_dir("iceberg_hivedate_tbl", sf_dir)
    base = load(spark, sf_dir, "orders").select(
        F.trunc(F.to_date(F.col("o_orderdate")), "month").alias("dt"),
        F.col("o_totalprice").alias("price"),
    )
    if base.isEmpty():
        return spark.createDataFrame(
            [], "dt date, n_rows long, sum_price double"
        )
    base.repartition(2).write.partitionBy("dt").parquet(lake)
    files = sorted(
        _glob.glob(os.path.join(lake, "*", "*.parquet"))
    )
    add_iceberg_files(spark, t, files, partition_schema=["dt date"])
    snap = read_iceberg(
        spark, t,
        key_range=(
            "dt", _dt.date(1996, 1, 1), _dt.date(1996, 12, 1)
        ),
    )
    return (
        snap.groupBy("dt")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("dt")
    )


@register(
    "iceberg_partitions_metadata",
    oracle="""
    WITH base AS (
      SELECT nullif(substr(o_orderpriority, 1, 1), '5') AS prio
      FROM orders
    )
    SELECT prio, COUNT(*) AS record_count
    FROM base GROUP BY prio ORDER BY prio NULLS FIRST
    """,
    doc="Iceberg `partitions` metadata table (spec inspection "
    "surface, Spark's tbl.partitions): per live partition tuple, "
    "data record/file totals plus gating delete-file counts — the "
    "skew/compaction surface at 100 TB. Driver-side metadata decode "
    "over the manifest entries (identity constants decode to their "
    "logical values first). The oracle checks the record counts per "
    "partition against a plain GROUP BY; file counts are physical "
    "layout and pytest-pinned instead.",
    bench=False,
)
def iceberg_partitions_metadata(spark, sf_dir):
    import glob as _glob

    from optimus_any2any_spark.sources.iceberg import (
        add_iceberg_files,
        read_iceberg_metadata,
    )

    lake = _fixture_dir("iceberg_pmeta_lake", sf_dir)
    t = _fixture_dir("iceberg_pmeta_tbl", sf_dir)
    prio = F.substring(F.col("o_orderpriority"), 1, 1)
    base = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.when(prio == "5", F.lit(None).cast("string"))
        .otherwise(prio)
        .alias("prio"),
    )
    if base.isEmpty():
        return spark.createDataFrame(
            [], "prio string, record_count long"
        )
    base.repartition(2).write.partitionBy("prio").parquet(lake)
    files = sorted(
        _glob.glob(os.path.join(lake, "*", "*.parquet"))
    )
    add_iceberg_files(
        spark, t, files, partition_schema=["prio string"]
    )
    return (
        read_iceberg_metadata(spark, t, "partitions")
        .select(
            F.col("partition")["prio"].alias("prio"),
            F.col("record_count"),
        )
        .orderBy(F.col("prio").asc_nulls_first())
    )


@register(
    "iceberg_default_values_read",
    oracle=f"""
    WITH tagged AS (
      SELECT o_orderkey AS k, o_totalprice AS price,
             CASE o_orderkey % 3
               WHEN 0 THEN 'LEGACY'  -- pre-evolution file: initial-default
               WHEN 1 THEN 'NEW'     -- append omitted the column: write-default
               ELSE 'GOLD'           -- append supplied it explicitly
             END AS segment
      FROM orders
    )
    SELECT segment, COUNT(*) AS n_rows, {o_dsum('price')} AS sum_price
    FROM tagged GROUP BY segment ORDER BY segment
    """,
    doc="Iceberg v3 column default values (VERDICT r12 item 2): a "
    "v2 table evolves ADD COLUMN segment WITH initial-default "
    "'LEGACY' / write-default 'NEW' (pure metadata commit, format "
    "floors at 3). Pre-evolution rows read 'LEGACY' (their files "
    "lack the column — the reader projects initial-default per the "
    "spec), an append omitting the column materializes 'NEW' into "
    "its files (write-default is a writer fill), and an append "
    "supplying the column keeps its values. "
    "tests/test_iceberg_default_values.py pins the foreign-layout "
    "metadata, physical-null, and nested-refusal corners.",
    bench=False,
)
def iceberg_default_values_read(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.iceberg import (
        add_iceberg_column_with_default,
        read_iceberg,
    )
    from optimus_any2any_spark.streaming.iceberg_table import (
        write_iceberg_commit,
    )

    t = _fixture_dir("iceberg_dflt_tbl", sf_dir)
    base = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
    )
    if base.isEmpty():
        return spark.createDataFrame(
            [], "segment string, n_rows long, sum_price double"
        )
    write_iceberg_commit(base.filter(F.col("k") % 3 == 0), t)
    add_iceberg_column_with_default(
        t, "segment string", initial_default="LEGACY",
        write_default="NEW",
    )
    write_iceberg_commit(base.filter(F.col("k") % 3 == 1), t)
    write_iceberg_commit(
        base.filter(F.col("k") % 3 == 2).withColumn(
            "segment", F.lit("GOLD")
        ),
        t,
    )
    return (
        read_iceberg(spark, t)
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("segment")
    )


@register(
    "iceberg_rewrite_manifests",
    oracle=f"""
    WITH s1 AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    s2 AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 3 = 1
    ),
    s3 AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 3 = 2
    ),
    -- the eq delete lands BETWEEN s2 and s3: k%5=0 rows from s1/s2
    -- erase, s3's arrive later and stay (sequence gating)
    live AS (
      SELECT * FROM s1 WHERE k % 5 <> 0
      UNION ALL SELECT * FROM s2 WHERE k % 5 <> 0
      UNION ALL SELECT * FROM s3
    )
    SELECT k % 10 AS k_mod, COUNT(*) AS n_rows,
           {o_dsum('price')} AS sum_price
    FROM live GROUP BY k_mod ORDER BY k_mod
    """,
    doc="rewrite_manifests (Iceberg manifest compaction): three "
    "appends + a mid-history equality delete leave four manifests; "
    "the rewrite merges the data manifests into ONE per spec — pure "
    "driver metadata work (planning on a million-file table drops "
    "from O(manifests) avro opens to O(specs)). Entries re-list "
    "EXISTING with their ORIGINAL sequence numbers explicit, so the "
    "delete's seq-gate still erases exactly the pre-delete rows and "
    "never the post-delete append; the replace snapshot is silent in "
    "the changelog/streams (tests/test_iceberg_rewrite_manifests.py).",
    bench=False,
)
def iceberg_rewrite_manifests(spark, sf_dir):
    from optimus_any2any_spark.formats.avrobin import read_container
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.iceberg import (
        _localize,
        load_table_metadata,
        read_iceberg,
    )
    from optimus_any2any_spark.streaming.iceberg_table import (
        delete_iceberg_where,
        rewrite_iceberg_manifests,
        write_iceberg_commit,
    )

    t = _fixture_dir("iceberg_rewritem", sf_dir)
    o = load(spark, sf_dir, "orders")

    def _slice(mod):
        return o.filter(F.col("o_orderkey") % 3 == mod).select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").alias("price"),
        )

    write_iceberg_commit(_slice(0), t)
    if not os.path.isdir(os.path.join(t, "metadata")):
        return spark.createDataFrame(
            [], "k_mod long, n_rows long, sum_price double"
        )
    write_iceberg_commit(_slice(1), t)
    delete_iceberg_where(spark, t, "k % 5 = 0")
    write_iceberg_commit(_slice(2), t)
    rewrite_iceberg_manifests(spark, t)
    # the merge really happened: one data manifest remains
    meta = load_table_metadata(t)
    cur = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, ml = read_container(_localize(t, cur["manifest-list"]))
    n_data = sum(1 for m in ml if int(m.get("content") or 0) == 0)
    if n_data > 1:  # degenerate inputs may leave 0 (empty appends)
        raise AssertionError(
            f"rewrite_manifests left {n_data} data manifests"
        )
    snap = read_iceberg(spark, t)
    return (
        snap.groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("k_mod")
    )


@register(
    "iceberg_orphan_sweep",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 6 <> 0
    ),
    live AS (SELECT * FROM base WHERE k % 11 <> 0)
    SELECT k % 10 AS k_mod, COUNT(*) AS n_rows,
           {o_dsum('price')} AS sum_price
    FROM live GROUP BY k_mod ORDER BY k_mod
    """,
    doc="remove_orphan_files (VERDICT r12 item 6): crashed-write "
    "junk planted in data/ + an abandoned _tmp-ice staging dir sweep "
    "out (grace-period-aged, dry-run verified first), while every "
    "file the metadata references — including the MoR delete's "
    "files — survives and the post-sweep read equals the logical "
    "state. tests/test_iceberg_orphan_files.py pins live/foreign/"
    "branch protection and the grace window.",
    bench=False,
)
def iceberg_orphan_sweep(spark, sf_dir):
    import time as _time

    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.iceberg import read_iceberg
    from optimus_any2any_spark.streaming.iceberg_table import (
        delete_iceberg_where,
        remove_iceberg_orphan_files,
        write_iceberg_commit,
    )

    t = _fixture_dir("iceberg_orphans_tbl", sf_dir)
    base = load(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 6 != 0
    ).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
    )
    if base.isEmpty():
        return spark.createDataFrame(
            [], "k_mod long, n_rows long, sum_price double"
        )
    write_iceberg_commit(base, t)
    delete_iceberg_where(spark, t, "k % 11 = 0")
    # plant crash debris: a junk data file + an abandoned staging dir
    old = _time.time() - 4 * 86400
    junk = os.path.join(t, "data", "orphan-crashed.parquet")
    with open(junk, "wb") as f:
        f.write(b"junk")
    os.utime(junk, (old, old))
    tmpd = os.path.join(t, "_tmp-ice-v99")
    os.makedirs(tmpd, exist_ok=True)
    j2 = os.path.join(tmpd, "part-dead.parquet")
    with open(j2, "wb") as f:
        f.write(b"junk")
    os.utime(j2, (old, old))
    listed = remove_iceberg_orphan_files(spark, t, dry_run=True)
    swept = remove_iceberg_orphan_files(spark, t)
    assert sorted(listed) == sorted(swept) and len(swept) == 2
    return (
        read_iceberg(spark, t)
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("k_mod")
    )


@register(
    "iceberg_wap_multibranch",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 = 0
    ),
    s1 AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 = 1
    ),
    s2 AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 = 2
    ),
    labelled AS (
      SELECT 'p1_staged' AS phase, k, price FROM base
      UNION ALL
      SELECT 'p2_pub_a' AS phase, k, price FROM base
      UNION ALL
      SELECT 'p2_pub_a' AS phase, k, price FROM s1
      UNION ALL
      SELECT 'p3_final' AS phase, k, price FROM base
      UNION ALL
      SELECT 'p3_final' AS phase, k, price FROM s1
      UNION ALL
      SELECT 'p3_final' AS phase, k, price FROM s2
    )
    SELECT phase, k % 10 AS k_mod,
           COUNT(*) AS n_rows,
           {o_dsum('price')} AS sum_price
    FROM labelled GROUP BY phase, k_mod ORDER BY phase, k_mod
    """,
    doc="Multi-branch WAP (VERDICT r12 item 5): TWO branches stage "
    "concurrently off the same main head — per-branch heads in "
    "refs, both invisible to main (phase 1 sees only the base; "
    "readers window by the main-ancestry chain, not list position). "
    "Publishing branch A is a fast-forward (phase 2); branch B's "
    "base is now stale, so its publish refuses (divergent histories "
    "never merge), it re-stages on the new head and publishes "
    "(phase 3). The orphaned first B snapshot stays in the metadata "
    "list but never enters reads, the changelog, or the streams — "
    "tests/test_iceberg_wap.py pins the two-branch stream-leak "
    "case.",
    bench=False,
)
def iceberg_wap_multibranch(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.iceberg import read_iceberg
    from optimus_any2any_spark.streaming.iceberg_table import (
        drop_iceberg_ref,
        publish_iceberg_branch,
        write_iceberg_commit,
    )

    t = _fixture_dir("iceberg_wap_mb", sf_dir)
    o = load(spark, sf_dir, "orders")

    def _slice(mod):
        return o.filter(F.col("o_orderkey") % 4 == mod).select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").alias("price"),
        )

    write_iceberg_commit(_slice(0), t)
    if not os.path.isdir(os.path.join(t, "metadata")):
        return spark.createDataFrame(
            [], "phase string, k_mod long, n_rows long, "
            "sum_price double"
        )
    write_iceberg_commit(_slice(1), t, branch="audit_a")
    write_iceberg_commit(_slice(2), t, branch="audit_b")
    p1 = read_iceberg(spark, t).withColumn("phase", F.lit("p1_staged"))
    publish_iceberg_branch(spark, t, "audit_a", drop_branch=True)
    p2 = read_iceberg(spark, t).withColumn("phase", F.lit("p2_pub_a"))
    # audit_b's base predates audit_a's publish — not a fast-forward;
    # re-stage it on the new head and publish
    try:
        publish_iceberg_branch(spark, t, "audit_b")
        raise AssertionError("divergent publish must refuse")
    except ValueError:
        pass
    drop_iceberg_ref(spark, t, "audit_b")
    write_iceberg_commit(_slice(2), t, branch="audit_b")
    publish_iceberg_branch(spark, t, "audit_b", drop_branch=True)
    p3 = read_iceberg(spark, t).withColumn("phase", F.lit("p3_final"))
    both = p1.unionByName(p2).unionByName(p3)
    return (
        both.groupBy("phase", (F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("phase", "k_mod")
    )


@register(
    "iceberg_wap_publish",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    staged AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 3 = 1
    ),
    labelled AS (
      SELECT 'before' AS phase, k, price FROM base
      UNION ALL
      SELECT 'after' AS phase, k, price FROM base
      UNION ALL
      SELECT 'after' AS phase, k, price FROM staged
    )
    SELECT phase, k % 10 AS k_mod,
           COUNT(*) AS n_rows,
           {o_dsum('price')} AS sum_price
    FROM labelled GROUP BY phase, k_mod ORDER BY phase, k_mod
    """,
    doc="Iceberg WAP — write-audit-publish (spark.wap.branch + "
    "fast_forward): the staged append lands on a BRANCH ref (the "
    "snapshot list grows, refs advance, current-snapshot-id stays), "
    "so the PRE-publish main read sees only the base; "
    "publish_iceberg_branch fast-forwards main (parent-snapshot-id "
    "ancestor walk — divergent histories refuse) and the POST read "
    "sees base + staged. Readers window history by the main-ancestry "
    "chain (iceberg_main_chain), so staged snapshots never reach "
    "main reads, the changelog, or the streams — "
    "tests/test_iceberg_wap.py. Both phases aggregate side-by-side: "
    "the 'before' frame is pinned at plan time, exactly like a real "
    "audit query running against main mid-WAP.",
    bench=False,
)
def iceberg_wap_publish(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.iceberg import read_iceberg
    from optimus_any2any_spark.streaming.iceberg_table import (
        publish_iceberg_branch,
        write_iceberg_commit,
    )

    t = _fixture_dir("iceberg_wap", sf_dir)
    o = load(spark, sf_dir, "orders")

    def _slice(mod):
        return o.filter(F.col("o_orderkey") % 3 == mod).select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").alias("price"),
        )

    write_iceberg_commit(_slice(0), t)
    if not os.path.isdir(os.path.join(t, "metadata")):
        return spark.createDataFrame(
            [], "phase string, k_mod long, n_rows long, "
            "sum_price double"
        )
    write_iceberg_commit(_slice(1), t, branch="audit")
    before = read_iceberg(spark, t).withColumn(
        "phase", F.lit("before")
    )
    publish_iceberg_branch(spark, t, "audit", drop_branch=True)
    after = read_iceberg(spark, t).withColumn("phase", F.lit("after"))
    both = before.unionByName(after)
    return (
        both.groupBy("phase", (F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("phase", "k_mod")
    )


@register(
    "delta_shallow_clone",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 <> 0
    ),
    cloned AS (  -- the clone diverges: update + insert
      SELECT k,
             CASE WHEN k % 10 = 1 THEN price + 1000.0
                  ELSE price END AS price
      FROM base
      UNION ALL
      SELECT o_orderkey AS k, o_totalprice / 2 AS price
      FROM orders WHERE o_orderkey % 20 = 0
    ),
    labelled AS (
      SELECT 'clone' AS side, k, price FROM cloned
      UNION ALL
      SELECT 'source' AS side, k, price FROM base
    )
    SELECT side, k % 10 AS k_mod,
           COUNT(*) AS n_rows,
           {o_dsum('price')} AS sum_price
    FROM labelled GROUP BY side, k_mod ORDER BY side, k_mod
    """,
    doc="Delta SHALLOW CLONE (delta-spark CREATE TABLE ... SHALLOW "
    "CLONE): commit 0 of the clone re-states the source's live adds "
    "with ABSOLUTE paths — zero data copy (the clone directory holds "
    "only a log); a post-clone merge (update + insert) lands new "
    "files in the clone's own directory under table-token names "
    "(never colliding with source basenames) and the SOURCE reads "
    "back untouched. Both sides aggregate side-by-side; vacuum "
    "isolation, DV conversion, row-tracking and column-mapping "
    "compositions pinned in tests/test_delta_clone.py.",
    bench=False,
)
def delta_shallow_clone(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.delta import read_delta
    from optimus_any2any_spark.streaming.delta_table import (
        merge_delta_batch,
        shallow_clone_delta,
    )

    src_t = _fixture_dir("delta_clone_src", sf_dir)
    tgt_t = _fixture_dir("delta_clone_tgt", sf_dir)
    base = _orders_kv(spark, sf_dir, 0).filter(F.col("k") % 4 != 0)
    merge_delta_batch(
        spark, base, src_t, "k", "ts", batch_id=0,
        target_rows_per_file=4000,
    )
    if not os.path.isdir(os.path.join(src_t, "_delta_log")):
        return spark.createDataFrame(
            [], "side string, k_mod long, n_rows long, "
            "sum_price double"
        )
    shallow_clone_delta(spark, src_t, tgt_t)
    upd = _orders_kv(spark, sf_dir, 1).filter(
        F.col("k") % 10 == 1
    ).withColumn("price", F.col("price") + F.lit(1000.0))
    ins = _orders_kv(spark, sf_dir, 1).filter(
        F.col("k") % 20 == 0
    ).withColumn("price", F.col("price") / F.lit(2))
    merge_delta_batch(
        spark, upd.unionByName(ins), tgt_t, "k", "ts", batch_id=1,
        target_rows_per_file=4000,
    )
    both = read_delta(spark, tgt_t).withColumn(
        "side", F.lit("clone")
    ).unionByName(
        read_delta(spark, src_t).withColumn("side", F.lit("source"))
    )
    return (
        both.groupBy("side", (F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("side", "k_mod")
    )


@register(
    "delta_restore_read",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 <> 0
    )
    SELECT k % 10 AS k_mod,
           COUNT(*) AS n_rows,
           {o_dsum('price')} AS sum_price
    FROM base GROUP BY k_mod ORDER BY k_mod
    """,
    doc="Delta RESTORE TABLE ... TO VERSION AS OF (restore_delta): "
    "seed the table from orders (version 0), upsert a batch of "
    "updates and inserts (version 1), then RESTORE to version 0 — a "
    "new commit whose adds/removes make the current state equal the "
    "historical snapshot, diffed by (path, DV uniqueId) so "
    "merge-on-read state round-trips. History is preserved (version "
    "1 stays time-travelable; pinned in tests/test_delta_merge.py); "
    "the read-back must equal the seed exactly. Iceberg twin: "
    "iceberg_rollback_read.",
    bench=False,
)
def delta_restore_read(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.delta import read_delta
    from optimus_any2any_spark.streaming.delta_table import (
        merge_delta_batch,
        restore_delta,
    )

    t = _fixture_dir("delta_restore", sf_dir)
    base = _orders_kv(spark, sf_dir, 0).filter(F.col("k") % 4 != 0)
    merge_delta_batch(
        spark, base, t, "k", "ts", batch_id=0, target_rows_per_file=4000
    )
    if not os.path.isdir(os.path.join(t, "_delta_log")):
        return spark.createDataFrame([], _EMPTY_AGG)  # empty source
    upd = _orders_kv(spark, sf_dir, 1).filter(
        F.col("k") % 10 == 1
    ).withColumn("price", F.col("price") + F.lit(1000.0))
    ins = _orders_kv(spark, sf_dir, 1).filter(
        F.col("k") % 20 == 0
    ).withColumn("price", F.col("price") / F.lit(2))
    merge_delta_batch(
        spark, upd.unionByName(ins), t, "k", "ts", batch_id=1,
        target_rows_per_file=4000,
    )
    restore_delta(spark, t, version=0)
    snap = read_delta(spark, t)
    return (
        snap.groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("k_mod")
    )


@register(
    "iceberg_rollback_read",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 <> 0
    )
    SELECT k % 10 AS k_mod,
           COUNT(*) AS n_rows,
           {o_dsum('price')} AS sum_price
    FROM base GROUP BY k_mod ORDER BY k_mod
    """,
    doc="Iceberg snapshot ROLLBACK (rollback_iceberg, VERDICT r7 item "
    "3): seed the table from orders (snapshot 1), upsert a batch "
    "(snapshot 2), then roll back to snapshot 1 as a NEW "
    "history-preserving commit that re-references the target's "
    "manifest list verbatim (original data-sequence numbers intact, "
    "parent-snapshot-id set to the rolled-over snapshot; expired "
    "snapshots refuse). The read-back must equal the seed exactly. "
    "Delta twin: delta_restore_read.",
    bench=False,
)
def iceberg_rollback_read(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.iceberg import (
        load_table_metadata,
        read_iceberg,
    )
    from optimus_any2any_spark.streaming.iceberg_table import (
        merge_iceberg_batch,
        rollback_iceberg,
    )

    t = _fixture_dir("iceberg_rollback", sf_dir)
    base = _orders_kv(spark, sf_dir, 0).filter(F.col("k") % 4 != 0)
    merge_iceberg_batch(
        spark, base, t, "k", "ts", batch_id=0, target_rows_per_file=4000
    )
    if not os.path.isdir(os.path.join(t, "metadata")):
        return spark.createDataFrame([], _EMPTY_AGG)  # empty source
    # the seed's CURRENT snapshot (the first merge bootstraps an empty
    # append snapshot first — snapshot ids are not version numbers)
    seed_snap = load_table_metadata(t)["current-snapshot-id"]
    upd = _orders_kv(spark, sf_dir, 1).filter(
        F.col("k") % 10 == 1
    ).withColumn("price", F.col("price") + F.lit(1000.0))
    ins = _orders_kv(spark, sf_dir, 1).filter(
        F.col("k") % 20 == 0
    ).withColumn("price", F.col("price") / F.lit(2))
    merge_iceberg_batch(
        spark, upd.unionByName(ins), t, "k", "ts", batch_id=1,
        target_rows_per_file=4000,
    )
    rollback_iceberg(spark, t, snapshot_id=seed_snap)
    snap = read_iceberg(spark, t)
    return (
        snap.groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("k_mod")
    )


@register(
    "delta_generated_partition_read",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price,
             CAST(o_orderkey % 5 AS VARCHAR) AS bucket
      FROM orders WHERE o_orderkey % 4 <> 0
    )
    SELECT bucket,
           COUNT(*) AS n_rows,
           {o_dsum('price')} AS sum_price
    FROM base GROUP BY bucket ORDER BY bucket
    """,
    doc="Delta GENERATED columns end-to-end (PROTOCOL.md Generated "
    "Columns, writer feature minWriterVersion 4): the table is "
    "CREATED data-free with bucket = cast(k % 5 as string) as a "
    "generated PARTITION column (create_delta_table), then orders "
    "rows are merged WITHOUT the column — the writer computes it "
    "from the generation expression, routes the rows into the "
    "generated partitions (partitionValues carry the computed "
    "values, so readers prune without trusting the producer), and "
    "refuses any provided value that diverges "
    "(tests/test_delta_generated_columns.py). The read-back "
    "aggregate must equal the plain SQL re-expression.",
    bench=False,
)
def delta_generated_partition_read(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.delta import read_delta
    from optimus_any2any_spark.streaming.delta_table import (
        create_delta_table,
        merge_delta_batch,
    )

    t = _fixture_dir("delta_genpart", sf_dir)
    create_delta_table(
        spark, t,
        "k long, price double, ts long, bucket string",
        partition_by=["bucket"],
        generated={"bucket": "cast(k % 5 as string)"},
    )
    base = _orders_kv(spark, sf_dir, 0).filter(F.col("k") % 4 != 0)
    merge_delta_batch(
        spark, base, t, "k", "ts", batch_id=0,
        target_rows_per_file=4000,
    )
    snap = read_delta(spark, t)
    return (
        snap.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("bucket")
    )


@register(
    "delta_identity_assign",
    oracle="""
    WITH base AS (
      SELECT o_orderkey FROM orders WHERE o_orderkey % 4 <> 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(1 AS BIGINT) AS min_id,
           CAST(COUNT(*) AS BIGINT) AS max_id,
           CAST(COUNT(*) AS BIGINT) AS n_distinct
    FROM base HAVING COUNT(*) > 0
    """,
    doc="Delta IDENTITY columns end-to-end (PROTOCOL.md Identity "
    "Columns, writer feature minWriterVersion 6): the table is "
    "created with id BIGINT GENERATED ALWAYS AS IDENTITY "
    "(create_delta_table identity=), orders rows are merged WITHOUT "
    "the column, and the writer assigns start..start+n-1 through the "
    "shuffle-free distributed record-index sequence while re-stating "
    "the advanced delta.identity.highWaterMark in the SAME commit. "
    "The row→id mapping is assignment-order-dependent, so the oracle "
    "checks the SET invariants a correct dense assignment must "
    "satisfy: n rows, min 1, max n, all distinct.",
    bench=False,
)
def delta_identity_assign(spark, sf_dir):
    from optimus_any2any_spark.sources.delta import read_delta
    from optimus_any2any_spark.streaming.delta_table import (
        create_delta_table,
        merge_delta_batch,
    )

    t = _fixture_dir("delta_identity", sf_dir)
    create_delta_table(
        spark, t,
        "id long, k long, price double, ts long",
        identity={"id": {"start": 1, "step": 1}},
    )
    base = _orders_kv(spark, sf_dir, 0).filter(F.col("k") % 4 != 0)
    merge_delta_batch(
        spark, base, t, "k", "ts", batch_id=0,
        target_rows_per_file=4000,
    )
    snap = read_delta(spark, t)
    return snap.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
        F.countDistinct("id").alias("n_distinct"),
    ).filter(F.col("n_rows") > 0)  # degenerate-input parity: both
    # engines emit zero rows on an empty source


@register(
    "iceberg_v3_dv_read",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 <> 0
    ),
    kept AS (SELECT k, price FROM base WHERE k % 7 <> 0)
    SELECT k % 10 AS k_mod,
           COUNT(*) AS n_rows,
           {o_dsum('price')} AS sum_price
    FROM kept GROUP BY k_mod ORDER BY k_mod
    """,
    doc="Iceberg FORMAT-V3 DELETION-VECTOR read (VERDICT r8 item 9): "
    "the fixture writes one sorted data file from orders, then a "
    "Puffin sidecar carrying a deletion-vector-v1 blob (length | "
    "magic | portable64 Roaring | crc32 framing, formats/puffin.py) "
    "for the positions of every k % 7 == 0 row, referenced from the "
    "manifest via referenced_data_file/content_offset/"
    "content_size_in_bytes. The reader validates the blob type "
    "against the Puffin footer (unknown types refuse by name), "
    "decodes the bitmap EXECUTOR-side (Arrow-batched pandas UDF — "
    "the Delta-DV pattern), and applies it through the same "
    "seq-gated (file, position) anti-join as positional delete "
    "rows. Vector serialization is deliberately Delta-compatible "
    "(shared roaring codec); both DV magic sequences are accepted.",
    bench=False,
)
def iceberg_v3_dv_read(spark, sf_dir):
    from pyspark.sql.window import Window

    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.iceberg import (
        _snapshot_entries,
        load_table_metadata,
        read_iceberg,
    )
    from optimus_any2any_spark.streaming.iceberg_table import (
        write_iceberg_commit,
        write_iceberg_delete_commit,
    )

    t = _fixture_dir("iceberg_v3dv", sf_dir)
    base = _orders_kv(spark, sf_dir, 0).filter(F.col("k") % 4 != 0)
    # ONE file sorted by k, so parquet row position == rank(k) — the
    # deterministic mapping the DV positions are computed against
    write_iceberg_commit(
        base.coalesce(1).sortWithinPartitions("k"), t
    )
    meta = load_table_metadata(t)
    data, _pos, _eq = _snapshot_entries(t, meta)
    if data:
        positions = [
            r["__p"]
            for r in base.withColumn(
                "__p", F.row_number().over(Window.orderBy("k")) - 1
            )
            .filter(F.col("k") % 7 == 0)
            .select("__p")
            .collect()
        ]
        if positions:
            write_iceberg_delete_commit(
                spark, t, dv_deletes={data[0]["orig"]: positions}
            )
    snap = read_iceberg(spark, t)
    return (
        snap.groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("k_mod")
    )


@register(
    "iceberg_timestamp_read",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 <> 0
    )
    SELECT k % 10 AS k_mod,
           COUNT(*) AS n_rows,
           {o_dsum('price')} AS sum_price
    FROM base GROUP BY k_mod ORDER BY k_mod
    """,
    doc="Iceberg TIMESTAMP AS OF travel (VERDICT r8 item 2): every "
    "snapshot stamps a real timestamp-ms from the injectable clock "
    "seam (sources/iceberg.py set_clock) and appends a snapshot-log "
    "entry; read_iceberg(as_of_timestamp=) resolves the LATEST "
    "log entry at-or-before the requested time — Iceberg's "
    "SnapshotUtil.snapshotIdAsOfTime rule (clamps to current past "
    "the end of history, raises before the first snapshot). The "
    "fixture seeds from orders under a stepping clock, upserts a "
    "later batch, then reads between the two commit stamps: the "
    "result must equal the seed exactly. Delta twin: "
    "delta_timestamp_read semantics in sources/delta.py.",
    bench=False,
)
def iceberg_timestamp_read(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.iceberg import (
        read_iceberg,
        set_clock,
    )
    from optimus_any2any_spark.streaming.iceberg_table import (
        merge_iceberg_batch,
    )

    t = _fixture_dir("iceberg_tstravel", sf_dir)
    state = {"t": 0}

    def tick():
        state["t"] += 1_000_000
        return state["t"]

    set_clock(tick)
    try:
        base = _orders_kv(spark, sf_dir, 0).filter(F.col("k") % 4 != 0)
        merge_iceberg_batch(
            spark, base, t, "k", "ts", batch_id=0,
            target_rows_per_file=4000,
        )
        if not os.path.isdir(os.path.join(t, "metadata")):
            return spark.createDataFrame([], _EMPTY_AGG)
        from optimus_any2any_spark.sources.iceberg import (
            load_table_metadata,
        )

        seed_ts = load_table_metadata(t)["snapshots"][-1][
            "timestamp-ms"
        ]
        upd = _orders_kv(spark, sf_dir, 1).filter(
            F.col("k") % 10 == 1
        ).withColumn("price", F.col("price") + F.lit(1000.0))
        ins = _orders_kv(spark, sf_dir, 1).filter(
            F.col("k") % 20 == 0
        ).withColumn("price", F.col("price") / F.lit(2))
        merge_iceberg_batch(
            spark, upd.unionByName(ins), t, "k", "ts", batch_id=1,
            target_rows_per_file=4000,
        )
        # strictly between the seed's stamp and the upsert's: resolves
        # to the seed snapshot (latest at-or-before)
        snap = read_iceberg(
            spark, t, as_of_timestamp=int(seed_ts) + 500_000
        )
    finally:
        set_clock(None)
    return (
        snap.groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("k_mod")
    )


@register(
    "iceberg_pos_delete_erasure",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 <> 0
    ),
    kept AS (SELECT k, price FROM base WHERE k % 7 <> 0 AND k % 9 <> 0)
    SELECT k % 10 AS k_mod,
           COUNT(*) AS n_rows,
           {o_dsum('price')} AS sum_price
    FROM kept GROUP BY k_mod ORDER BY k_mod
    """,
    doc="Iceberg MERGE-ON-READ DELETE writing POSITIONAL delete files "
    "(delete_iceberg_positions, VERDICT r7 item 2): two successive "
    "erasures each bounds-prune the data entries on the key, read the "
    "affected files through the merge-on-read path (prior deletes "
    "APPLIED — already-deleted rows are never re-listed), semi-join "
    "the keys, and commit the matching (data-file path, "
    "_metadata.row_index) pairs as ONE sorted positional-delete "
    "parquet + delete manifest. No data file is rewritten: write "
    "amplification is O(deleted positions), the spec's content=1 "
    "twin of the Delta deletion-vector DELETE "
    "(delta_dv_delete_erasure); the reader applies both files as the "
    "same single seq-gated anti-join.",
    bench=True,
)
def iceberg_pos_delete_erasure(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.iceberg import read_iceberg
    from optimus_any2any_spark.streaming.iceberg_table import (
        delete_iceberg_positions,
        merge_iceberg_batch,
    )

    t = _fixture_dir("iceberg_posdel", sf_dir)
    base = _orders_kv(spark, sf_dir, 0).filter(F.col("k") % 4 != 0)
    merge_iceberg_batch(
        spark, base, t, "k", "ts", batch_id=0, target_rows_per_file=4000
    )
    if not os.path.isdir(os.path.join(t, "metadata")):
        return spark.createDataFrame([], _EMPTY_AGG)  # empty source
    delete_iceberg_positions(
        spark, t, "k", base.select("k").filter(F.col("k") % 7 == 0),
        batch_id=1,
    )
    delete_iceberg_positions(
        spark, t, "k", base.select("k").filter(F.col("k") % 9 == 0),
        batch_id=2,
    )
    snap = read_iceberg(spark, t)
    return (
        snap.groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("k_mod")
    )


@register(
    "iceberg_dv_delete_erasure",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 <> 0
    ),
    kept AS (SELECT k, price FROM base WHERE k % 7 <> 0 AND k % 9 <> 0)
    SELECT k % 10 AS k_mod,
           COUNT(*) AS n_rows,
           {o_dsum('price')} AS sum_price
    FROM kept GROUP BY k_mod ORDER BY k_mod
    """,
    doc="Iceberg FORMAT-V3 DELETION-VECTOR WRITES "
    "(delete_iceberg_positions(use_deletion_vectors=True) / "
    "ICEBERG__USE_DV): two successive erasures each encode the "
    "matching rows' positions as one Roaring deletion-vector-v1 blob "
    "PER REFERENCED DATA FILE inside a Puffin sidecar "
    "(formats/puffin.py) — encode on executors via applyInPandas, "
    "only the compressed blobs cross the driver. The second erasure "
    "reads THROUGH the first vector (already-deleted rows never "
    "re-listed), the table metadata upgrades to format-version 3, "
    "and the reader applies the vectors through the same seq-gated "
    "anti-join as delete-parquet rows. The true twin of "
    "delta_dv_delete_erasure, closing the v3 DV write+read circle.",
    bench=False,
)
def iceberg_dv_delete_erasure(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.iceberg import read_iceberg
    from optimus_any2any_spark.streaming.iceberg_table import (
        delete_iceberg_positions,
        merge_iceberg_batch,
    )

    t = _fixture_dir("iceberg_dvdel", sf_dir)
    base = _orders_kv(spark, sf_dir, 0).filter(F.col("k") % 4 != 0)
    merge_iceberg_batch(
        spark, base, t, "k", "ts", batch_id=0, target_rows_per_file=4000
    )
    if not os.path.isdir(os.path.join(t, "metadata")):
        return spark.createDataFrame([], _EMPTY_AGG)  # empty source
    delete_iceberg_positions(
        spark, t, "k", base.select("k").filter(F.col("k") % 7 == 0),
        batch_id=1, use_deletion_vectors=True,
    )
    delete_iceberg_positions(
        spark, t, "k", base.select("k").filter(F.col("k") % 9 == 0),
        batch_id=2, use_deletion_vectors=True,
    )
    snap = read_iceberg(spark, t)
    return (
        snap.groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("k_mod")
    )


@register(
    "iceberg_snapshot_read",
    oracle=f"""
    WITH snap1 AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 2 = 1
    ),
    snap2 AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    tbl AS (SELECT * FROM snap1 UNION ALL SELECT * FROM snap2)
    SELECT k % 5 AS k_mod,
           COUNT(*) AS n_rows,
           MIN(k) AS min_k,
           {o_dsum('price')} AS sum_price
    FROM tbl GROUP BY k_mod ORDER BY k_mod
    """,
    doc="Apache Iceberg snapshot read via the open spec "
    "(sources/iceberg.py; ICEBERG CLI source): orders committed as two "
    "append snapshots (odd keys, then even keys) in the v1 "
    "HadoopCatalog layout — metadata JSON, Avro manifest list, Avro "
    "manifests (stdlib codec, JVM-Avro cross-checked in tests) — then "
    "the current snapshot reconstructed manifest-by-manifest and "
    "aggregated. The oracle is the same union in SQL. Beyond-reference "
    "(the reference has no lakehouse source).",
)
def iceberg_snapshot_read(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.iceberg import read_iceberg
    from optimus_any2any_spark.streaming.iceberg_table import (
        write_iceberg_commit,
    )

    t = _fixture_dir("iceberg_read", sf_dir)
    base = _orders_kv(spark, sf_dir, 0).select("k", "price")
    write_iceberg_commit(base.filter(F.col("k") % 2 == 1), t)
    write_iceberg_commit(base.filter(F.col("k") % 2 == 0), t)
    snap = read_iceberg(spark, t)
    return (
        snap.groupBy((F.col("k") % 5).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("k").alias("min_k"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("k_mod")
    )


@register(
    "iceberg_skipping_read",
    oracle=f"""
    SELECT COUNT(*) AS n_rows,
           MIN(o_orderkey) AS min_k,
           MAX(o_orderkey) AS max_k,
           {o_dsum('o_totalprice')} AS sum_price
    FROM orders
    WHERE o_orderkey BETWEEN 2000 AND 5999
    """,
    doc="Iceberg data skipping via manifest-entry Appendix-D bounds "
    "(read_iceberg key_range — the Delta skipping read's twin): the "
    "orders table committed as a multi-file merge whose entries carry "
    "lower/upper bounds and null counts on the key; a range read "
    "prunes provably-disjoint files at the manifest level BEFORE the "
    "scan and filters the rest. The pruning is what Iceberg's "
    "manifest design exists for: a key-range query on a million-file "
    "table plans from metadata, reads O(footprint).",
)
def iceberg_skipping_read(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.iceberg import read_iceberg
    from optimus_any2any_spark.streaming.iceberg_table import (
        merge_iceberg_batch,
    )

    t = _fixture_dir("iceberg_skip", sf_dir)
    merge_iceberg_batch(
        spark, _orders_kv(spark, sf_dir, 0), t, "k", "ts",
        batch_id=0, target_rows_per_file=2000,
    )
    if not os.path.isdir(os.path.join(t, "metadata")):
        return spark.createDataFrame(
            [], "n_rows long, min_k long, max_k long, sum_price double"
        )
    snap = read_iceberg(spark, t, key_range=("k", 2000, 5999))
    return snap.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        dsum(F.col("price")).alias("sum_price"),
    )


@register(
    "delta_zorder_read",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 <> 0
    )
    SELECT COUNT(*) AS n_rows,
           MIN(k) AS min_k,
           MAX(k) AS max_k,
           {o_dsum('price')} AS sum_price
    FROM base
    WHERE price BETWEEN 50000 AND 80000
    """,
    doc="Delta OPTIMIZE ... ZORDER BY (compact_delta zorder_by + "
    "DELTA__OPTIMIZE_ZORDER rider): the table seeds range-clustered "
    "on the MERGE KEY, so every file spans the full price range and "
    "a price query reads all of them; ZORDER BY (price, k) rewrites "
    "every live file routed on a Morton key over quantile buckets "
    "(one approxQuantile sample job — never a per-dimension sort), "
    "giving each file a compact (price, k) rectangle so min/max "
    "stats prune on EITHER column (tests/test_delta_zorder.py pins "
    "the file-overlap counts). The read is the ordinary stats-pruned "
    "key_range scan on the SECOND-class column; the oracle is a "
    "plain WHERE over the source.",
    bench=True,
)
def delta_zorder_read(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.delta import read_delta
    from optimus_any2any_spark.streaming.delta_table import (
        compact_delta,
        merge_delta_batch,
    )

    t = _fixture_dir("delta_zorder", sf_dir)
    base = _orders_kv(spark, sf_dir, 0).filter(F.col("k") % 4 != 0)
    merge_delta_batch(
        spark, base, t, "k", "ts", batch_id=0,
        target_rows_per_file=4000,
    )
    if not os.path.isdir(os.path.join(t, "_delta_log")):
        return spark.createDataFrame(
            [], "n_rows long, min_k long, max_k long, sum_price double"
        )
    compact_delta(
        spark, t, target_rows_per_file=4000,
        zorder_by=["price", "k"],
    )
    snap = read_delta(spark, t, key_range=("price", 50000.0, 80000.0))
    return snap.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        dsum(F.col("price")).alias("sum_price"),
    )


@register(
    "iceberg_zorder_read",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 <> 0
    )
    SELECT COUNT(*) AS n_rows,
           MIN(k) AS min_k,
           MAX(k) AS max_k,
           {o_dsum('price')} AS sum_price
    FROM base
    WHERE price BETWEEN 50000 AND 80000
    """,
    doc="Iceberg rewrite_data_files ZORDER strategy (compact_iceberg "
    "zorder_by + ICEBERG__OPTIMIZE_ZORDER rider): every live file "
    "rewrites routed on the SHARED Morton-over-quantile-buckets key "
    "(streaming/delta_table._with_zorder_value — format-agnostic row "
    "algebra), and the replace snapshot's manifest entries record "
    "Appendix-D lower/upper bounds for EVERY z-ordered column, so "
    "the ordinary bounds-pruned key_range read skips files on the "
    "second-class dimension (file-overlap pins in "
    "tests/test_iceberg_zorder.py). Delta twin: delta_zorder_read.",
    bench=True,
)
def iceberg_zorder_read(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.iceberg import read_iceberg
    from optimus_any2any_spark.streaming.iceberg_table import (
        compact_iceberg,
        merge_iceberg_batch,
    )

    t = _fixture_dir("iceberg_zorder", sf_dir)
    base = _orders_kv(spark, sf_dir, 0).filter(F.col("k") % 4 != 0)
    merge_iceberg_batch(
        spark, base, t, "k", "ts", batch_id=0,
        target_rows_per_file=4000,
    )
    if not os.path.isdir(os.path.join(t, "metadata")):
        return spark.createDataFrame(
            [], "n_rows long, min_k long, max_k long, sum_price double"
        )
    compact_iceberg(
        spark, t, target_rows_per_file=4000,
        zorder_by=["price", "k"],
    )
    snap = read_iceberg(
        spark, t, key_range=("price", 50000.0, 80000.0)
    )
    return snap.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        dsum(F.col("price")).alias("sum_price"),
    )


@register(
    "delta_skipping_read",
    oracle=f"""
    SELECT COUNT(*) AS n_rows,
           MIN(o_orderkey) AS min_k,
           MAX(o_orderkey) AS max_k,
           {o_dsum('o_totalprice')} AS sum_price
    FROM orders
    WHERE o_orderkey BETWEEN 2000 AND 5999
    """,
    doc="Delta data skipping via add-action stats (sources/delta.py "
    "read_delta key_range): the orders table committed as a multi-file "
    "Delta table whose add actions carry minValues/maxValues/nullCount "
    "stats; a range read prunes non-overlapping files BEFORE the scan "
    "(the open-protocol form of Delta data skipping) and filters the "
    "rest, so the result equals a plain WHERE over the source. At "
    "100 TB the pruning is what turns a key-range query from a "
    "full-table scan into an O(footprint) read.",
)
def delta_skipping_read(spark, sf_dir):
    from optimus_any2any_spark.sources.delta import read_delta
    from optimus_any2any_spark.streaming.delta_table import merge_delta_batch
    from optimus_any2any_spark.queries.util import dsum

    t = _fixture_dir("delta_skip", sf_dir)
    merge_delta_batch(
        spark, _orders_kv(spark, sf_dir, 0), t, "k", "ts",
        batch_id=0, target_rows_per_file=2000,
    )
    if not os.path.isdir(os.path.join(t, "_delta_log")):
        return spark.createDataFrame(
            [], "n_rows long, min_k long, max_k long, sum_price double"
        )
    snap = read_delta(spark, t, key_range=("k", 2000, 5999))
    return snap.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        dsum(F.col("price")).alias("sum_price"),
    )


@register(
    "iceberg_changes_stream",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 <> 0
    ),
    second AS (
      SELECT o_orderkey AS k, o_totalprice + 1000.0 AS price
      FROM orders WHERE o_orderkey % 4 = 0
    ),
    changes AS (
      SELECT 'INSERT' AS change_type, price FROM base
      UNION ALL SELECT 'INSERT', price FROM second
      UNION ALL
      SELECT 'DELETE', price FROM base WHERE k % 7 = 0
      UNION ALL
      SELECT 'DELETE', price FROM second WHERE k % 7 = 0
    )
    SELECT change_type, COUNT(*) AS n_rows,
           {o_dsum('price')} AS sum_price
    FROM changes GROUP BY change_type ORDER BY change_type
    """,
    doc="STREAMING CDC source over an Iceberg table "
    "(readStream.format('iceberg_changes'), "
    "sources/iceberg_stream.py — the Structured Streaming twin of "
    "read_iceberg_changes): two append snapshots then an equality "
    "delete, consumed with trigger(availableNow) into parquet via a "
    "checkpoint. Appends emit INSERT events from their added files; "
    "the delete snapshot emits DELETE pre-images evaluated PURELY "
    "(pyarrow + Puffin/Roaring codecs — no SparkSession exists "
    "inside a DataSourceStreamReader) against candidate files pruned "
    "by positional refs / sequence gates / footer key bounds, so "
    "streaming CDC IO is O(touched files) per micro-batch at 100 TB. "
    "Offsets are stable snapshot ids (checkpoint-safe across "
    "history expiration). The oracle states the same event algebra "
    "as SQL set operations.",
)
def iceberg_changes_stream(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.streaming.iceberg_table import (
        write_iceberg_commit,
    )
    from optimus_any2any_spark.sources.iceberg_stream import (
        IcebergChangesDataSource,
    )
    from optimus_any2any_spark.streaming.iceberg_table import (
        delete_iceberg_keys,
    )

    spark.dataSource.register(IcebergChangesDataSource)
    root = _fixture_dir("iceberg_chstream", sf_dir)
    t = os.path.join(root, "tbl")
    out = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
    )
    empty_out = spark.createDataFrame(
        [], "change_type string, n_rows long, sum_price double"
    )
    if o.isEmpty():
        return empty_out
    write_iceberg_commit(o.filter(F.col("k") % 4 != 0), t)
    write_iceberg_commit(
        o.filter(F.col("k") % 4 == 0).withColumn(
            "price", F.col("price") + F.lit(1000.0)
        ),
        t,
    )
    delete_iceberg_keys(
        spark, t, "k", o.select("k").filter(F.col("k") % 7 == 0)
    )
    q = (
        spark.readStream.format("iceberg_changes")
        .option("path", t)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    if q.exception() is not None:
        raise q.exception()
    got = spark.read.parquet(out)
    return (
        got.groupBy(F.col("_change_type").alias("change_type"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("change_type")
    )


@register(
    "delta_cdf_stream",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 <> 0
    ),
    src AS (
      SELECT o_orderkey AS k, o_totalprice + 1000.0 AS price
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    changes AS (
      SELECT 'insert' AS change_type, price FROM base
      UNION ALL
      SELECT 'update_preimage', b.price FROM base b
      JOIN src s ON b.k = s.k
      UNION ALL
      SELECT 'update_postimage', s.price FROM base b
      JOIN src s ON b.k = s.k
      UNION ALL
      SELECT 'insert', s.price FROM src s
      WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.k = s.k)
    )
    SELECT change_type, COUNT(*) AS n_rows,
           {o_dsum('price')} AS sum_price
    FROM changes GROUP BY change_type ORDER BY change_type
    """,
    doc="STREAMING Change Data Feed source over a Delta table "
    "(readStream.format('delta_cdf'), sources/delta_stream.py — the "
    "Structured Streaming twin of read_delta_cdf): a creating merge "
    "then an instrumented merge (change_data=True), consumed with "
    "trigger(availableNow) into parquet via a checkpoint. Commits "
    "with cdc actions stream their _change_data parquet "
    "(pre/post-images, deletes); append-only commits synthesize "
    "insert rows from their add files — exactly the batch reader's "
    "contract; a rewrite without change data fails the stream by "
    "name. Offsets ARE log versions. The oracle states the same "
    "event algebra as SQL set operations.",
)
def delta_cdf_stream(spark, sf_dir):
    from optimus_any2any_spark.queries.util import dsum
    from optimus_any2any_spark.sources.delta_stream import (
        DeltaCdfDataSource,
    )
    from optimus_any2any_spark.streaming.delta_table import (
        merge_delta_batch,
    )

    spark.dataSource.register(DeltaCdfDataSource)
    root = _fixture_dir("delta_cdfstream", sf_dir)
    t = os.path.join(root, "tbl")
    out = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    o = load(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 4 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.lit(0).cast("long").alias("ts"),
    )
    merge_delta_batch(
        spark, base, t, "k", "ts", batch_id=0,
        target_rows_per_file=4000,
    )
    empty_out = spark.createDataFrame(
        [], "change_type string, n_rows long, sum_price double"
    )
    if not os.path.isdir(os.path.join(t, "_delta_log")):
        return empty_out
    src = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice") + F.lit(1000.0)).alias("price"),
        F.lit(1).cast("long").alias("ts"),
    )
    merge_delta_batch(
        spark, src, t, "k", "ts", batch_id=1,
        target_rows_per_file=4000, change_data=True,
    )
    q = (
        spark.readStream.format("delta_cdf")
        .option("path", t)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    if q.exception() is not None:
        raise q.exception()
    got = spark.read.parquet(out)
    return (
        got.groupBy(F.col("_change_type").alias("change_type"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price")).alias("sum_price"),
        )
        .orderBy("change_type")
    )
