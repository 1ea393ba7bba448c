"""Iterative graph algorithms as bounded driver-side loops of joins.

Spark has no native iteration operator; the idiomatic shape for
fixed-point algorithms is a driver loop where each round is one
join+aggregate — the loop count is tiny (a fixed iteration budget)
while each round is fully distributed. This module holds weighted
PageRank. ``connected_components`` (operators/dedup.py) labels small
pair graphs on the driver and runs label propagation, this same
shape, only above its driver cap.

Determinism: rank contributions are summed through DECIMAL(28,12) so
every round's ranks are identical on any partitioning — which is what
lets a fixed-iteration run hash-match an unrolled SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_DEC = T.DecimalType(28, 12)


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    iterations: int = 3,
    damping: float = 0.85,
    checkpoint_interval: int = 5,
) -> DataFrame:
    """Weighted PageRank with a fixed iteration budget.

    ``pr_{t+1}(v) = (1-d)/N + d * Σ_u pr_t(u) · w(u,v)/outw(u)``; nodes
    are the union of sources and destinations; dangling nodes
    contribute nothing (their mass leaves the system, the standard
    simplification). Each iteration = one broadcast-friendly join on
    the edge list + one decimal-exact aggregate; the loop runs on the
    driver but every round's work is distributed.

    Every ``checkpoint_interval`` rounds the rank frame goes through a
    lazy ``localCheckpoint`` (it materializes with the first action
    that reads it), so lineage/plan size stays bounded for large
    iteration budgets instead of nesting one join+aggregate per round
    into a single ever-deeper plan.

    Returns (node, rank) after ``iterations`` rounds.
    """
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        (F.col(weight_col) if weight_col else F.lit(1.0))
        .cast("double")
        .alias("w"),
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()
    if n_nodes == 0:  # empty edge list: no nodes, empty rank table
        return nodes.select("node", F.lit(0.0).alias("rank"))
    out_w = e.groupBy("src").agg(
        F.sum(F.col("w").cast(_DEC)).cast("double").alias("outw")
    )
    norm = e.join(out_w, "src").select(
        "src", "dst", (F.col("w") / F.col("outw")).alias("share")
    )
    base = (1.0 - damping) / n_nodes
    pr = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    for i in range(iterations):
        contrib = norm.join(
            pr.withColumnRenamed("node", "src"), "src"
        ).select(
            F.col("dst").alias("node"),
            (F.col("rank") * F.col("share")).cast(_DEC).alias("c"),
        )
        summed = contrib.groupBy("node").agg(
            F.sum("c").cast("double").alias("in_mass")
        )
        pr = (
            nodes.join(summed, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce(F.col("in_mass"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        if (i + 1) % checkpoint_interval == 0 and i + 1 < iterations:
            pr = pr.localCheckpoint(eager=False)
    return pr
