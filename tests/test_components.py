"""connected_components: driver union-find for small pair graphs,
min-label propagation above the driver cap, and never a partial
answer."""

from __future__ import annotations

import uuid

import pytest

from optimus_any2any_spark.operators import dedup as D

PAIRS = "doc_a long, doc_b long, jaccard double"

GRAPHS = {
    # 13 nodes: thirteen propagation rounds
    "chain": ([(i, i + 1, 1.0) for i in range(12)], PAIRS),
    "star": ([(0, i, 1.0) for i in range(1, 9)], PAIRS),
    "two_triangles": (
        [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0),
         (7, 8, 1.0), (8, 9, 1.0), (9, 7, 1.0)],
        PAIRS,
    ),
    "string_ids": (
        [("d", "c", 1.0), ("c", "b", 1.0), ("x", "y", 1.0), ("b", "a", 1.0)],
        "doc_a string, doc_b string, jaccard double",
    ),
    "self_pair_and_null": (
        [(5, 5, 1.0), (3, 4, 1.0), (4, None, 1.0), (None, 2, 1.0)],
        PAIRS,
    ),
    "empty": ([], PAIRS),
}


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = f"cc-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _labels(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: (t[0] is None, t[0]),
    )


def test_chain_longer_than_budget_is_one_component(spark):
    # 61 nodes, diameter 60: spreading labels one hop a round would
    # need three times the default budget of 20
    pairs = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(60)], PAIRS
    )
    comps, call_jobs = _jobs(spark, lambda: D.connected_components(pairs))
    rows, read_jobs = _jobs(spark, lambda: _labels(comps))
    assert rows == [(i, 0) for i in range(61)]
    # the bounded collect: Spark's incremental take reads the 4 input
    # slices in two jobs (1 slice, then the rest); no round runs
    assert call_jobs <= 2
    assert read_jobs == 0  # a local relation


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_propagation_matches_union_find(spark, monkeypatch, name):
    pairs = spark.createDataFrame(*GRAPHS[name])
    small = D.connected_components(pairs)
    # -1: no graph fits the driver, not even the empty one
    monkeypatch.setattr(D, "_MAX_DRIVER_EDGES", -1)
    large = D.connected_components(pairs)
    assert "LocalRelation" not in (
        large._jdf.queryExecution().optimizedPlan().toString()
    )
    assert large.schema == small.schema
    assert _labels(large) == _labels(small)


def test_expected_labels(spark):
    got = {
        name: _labels(D.connected_components(spark.createDataFrame(*g)))
        for name, g in GRAPHS.items()
        if name in ("two_triangles", "string_ids", "self_pair_and_null")
    }
    assert got["two_triangles"] == [
        (1, 1), (2, 1), (3, 1), (7, 7), (8, 7), (9, 7)
    ]
    assert got["string_ids"] == [
        ("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"), ("x", "x"), ("y", "x")
    ]
    assert got["self_pair_and_null"] == [
        (2, 2), (3, 3), (4, 3), (5, 5), (None, None)
    ]


def test_exhausted_budget_raises(spark, monkeypatch):
    monkeypatch.setattr(D, "_MAX_DRIVER_EDGES", 0)
    # a 5-node chain needs five propagation rounds
    pairs = spark.createDataFrame([(i, i + 1, 1.0) for i in range(4)], PAIRS)
    with pytest.raises(RuntimeError, match="max_iterations=1"):
        D.connected_components(pairs, max_iterations=1)
