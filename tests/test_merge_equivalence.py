"""One upsert sequence through all three MERGE targets.

Delta, Iceberg and the manifest table share one MERGE core; each
table's snapshot after the sequence must equal a Python
latest-``ts``-wins model. The sequence covers duplicate keys within a
batch, a null key, a NaN key sharing a file with a finite key (its
file's max-key stat is NaN), updates mixed with inserts, and a
redelivered ``batch_id``.
"""

from __future__ import annotations

import math
from concurrent.futures import ThreadPoolExecutor

import pytest

from optimus_any2any_spark.localrel import local_rows_df
from optimus_any2any_spark.sources.delta import read_delta
from optimus_any2any_spark.sources.iceberg import read_iceberg
from optimus_any2any_spark.streaming.delta_table import merge_delta_batch
from optimus_any2any_spark.streaming.iceberg_table import merge_iceberg_batch
from optimus_any2any_spark.streaming.manifest_table import (
    merge_batch,
    read_table,
)

NAN = float("nan")
SCHEMA = "k double, v string, p int, ts long"

# (batch_id, rows): rows are (k, v, p, ts)
BATCHES = [
    (0, [(1.0, "a", 0, 1), (NAN, "n", 0, 1), (5.0, "e", 0, 1)]),
    (1, [
        (1.0, "A", 0, 2),               # update of a key in the NaN file
        (NAN, "N", 0, 2),               # update of the NaN key
        (2.0, "x", 1, 2), (2.0, "y", 1, 3),  # in-batch duplicate: y wins
        (None, "z", 1, 2),              # null key insert
        (3.0, "c", 0, 2),               # insert
    ]),
    (1, [(1.0, "redelivered", 0, 9)]),  # already applied: no-op
]


def _norm(k):
    return "NaN" if isinstance(k, float) and math.isnan(k) else k


def _model(partitioned: bool) -> list:
    table: dict = {}
    applied = -1
    for batch_id, rows in BATCHES:
        if batch_id <= applied:
            continue
        applied = batch_id
        latest: dict = {}
        for k, v, p, ts in rows:
            key = (_norm(k), p if partitioned else None)
            if key not in latest or ts > latest[key][3]:
                latest[key] = (k, v, p, ts)
        table.update(latest)
    return sorted(
        ((_norm(k), v, p, ts) for k, v, p, ts in table.values()), key=repr
    )


def _delta(spark, t, df, bid, partitioned):
    merge_delta_batch(
        spark, df, t, "k", "ts", batch_id=bid,
        partition_by=["p"] if partitioned else None,
    )


def _iceberg(spark, t, df, bid, partitioned):
    merge_iceberg_batch(
        spark, df, t, "k", "ts", batch_id=bid,
        partition_by=["p"] if partitioned else None,
    )


def _manifest(spark, t, df, bid, partitioned):
    merge_batch(spark, df, t, "k", "ts", batch_id=bid)


TARGETS = {
    "delta": (_delta, read_delta),
    "iceberg": (_iceberg, read_iceberg),
    "manifest": (_manifest, read_table),
}


CASES = [
    ("delta", False),
    ("delta", True),
    ("iceberg", False),
    ("iceberg", True),
    ("manifest", False),
]


def _run(spark, t, fmt, partitioned) -> list:
    merge, read = TARGETS[fmt]
    for bid, rows in BATCHES:
        # each commit writes one file (far below target_rows_per_file),
        # so the NaN key shares a file with finite keys
        df = local_rows_df(spark, rows, SCHEMA)
        merge(spark, t, df, bid, partitioned)
    return sorted(
        (
            (_norm(r["k"]), r["v"], r["p"], r["ts"])
            for r in read(spark, t).select("k", "v", "p", "ts").collect()
        ),
        key=repr,
    )


@pytest.fixture(scope="module")
def snapshots(spark, tmp_path_factory):
    """Each case's snapshot future. The cases write separate tables, so
    their merges run side by side: each is a chain of small Spark jobs,
    and running the chains concurrently keeps the cores busy."""
    with ThreadPoolExecutor(len(CASES)) as pool:
        futures = {
            case: pool.submit(
                _run, spark, str(tmp_path_factory.mktemp("eq") / "t"), *case
            )
            for case in CASES
        }
    return futures


@pytest.mark.parametrize("fmt,partitioned", CASES)
def test_snapshot_matches_latest_ts_model(snapshots, fmt, partitioned):
    assert snapshots[(fmt, partitioned)].result() == _model(partitioned)
