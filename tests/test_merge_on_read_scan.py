"""The one merge-on-read scan per format: per-file lookups keyed by the
FULL scan path (``merge_core.scan_path_key``), so files that share a
basename in different directories never mix, and a partitioned Delta
read plans one parquet scan whatever its number of partition values."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from optimus_any2any_spark.plans.inspect import plan_report
from optimus_any2any_spark.sources.delta import (
    read_delta,
    read_delta_appends,
)
from optimus_any2any_spark.streaming.merge_core import scan_path_key

ODD_DIRS = [
    "plain",
    "a b",
    "p%41",
    "ts=2024-01-01 00%3A00%3A00",
    "naïve ü",
    "x#y",
    "q?r",
    "tab\tx",
    "nbsp x",
    "pipe|caret^",
]


def test_scan_path_key_matches_the_scan(spark, tmp_path):
    """The pure-Python key equals Hadoop's qualified-path URI and the
    ``_metadata.file_path`` a scan reports, for directory names with
    spaces, ``%``, Hive ``%3A`` escapes and non-ASCII letters."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    Path = jvm.org.apache.hadoop.fs.Path
    files = []
    for d in ODD_DIRS:
        os.makedirs(tmp_path / d)
        f = str(tmp_path / d / "part-0.parquet")
        pq.write_table(pa.table({"x": [len(files)]}), f)
        files.append(f)
    seen = {
        r.x: r.fp
        for r in spark.read.parquet(*files)
        .selectExpr("x", "_metadata.file_path AS fp")
        .collect()
    }
    for i, f in enumerate(files):
        fs = Path(f).getFileSystem(conf)
        expected = Path(fs.makeQualified(Path(f)).toString()).toUri()
        assert scan_path_key(f) == expected.toString() == seen[i], f
    assert scan_path_key("file://" + files[0]) == seen[0]
    assert scan_path_key("file:" + files[1]) == seen[1]


def _delta_table(spark, t: str, n_parts: int) -> list[tuple]:
    """A ``day``-partitioned Delta table whose every file is named
    ``day=<d>/part-0.parquet`` — one shared basename across P
    partition values. Returns the expected rows."""
    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {}},
            {"name": "day", "type": "integer", "nullable": True,
             "metadata": {}},
        ],
    }
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": "shared-basename",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(schema),
                "partitionColumns": ["day"],
                "configuration": {},
            }
        },
    ]
    log = os.path.join(t, "_delta_log")
    os.makedirs(log)
    with open(os.path.join(log, "%020d.json" % 0), "w") as f:
        f.writelines(json.dumps(a) + "\n" for a in actions)
    adds, rows = [], []
    for d in range(n_parts):
        rel = f"day={d}/part-0.parquet"
        os.makedirs(os.path.join(t, f"day={d}"))
        ks = [10 * d + i for i in range(2)]
        pq.write_table(pa.table({"k": pa.array(ks, pa.int64())}),
                       os.path.join(t, rel))
        rows += [(k, d) for k in ks]
        adds.append(
            {
                "add": {
                    "path": rel,
                    "partitionValues": {"day": str(d)},
                    "size": os.path.getsize(os.path.join(t, rel)),
                    "modificationTime": 0,
                    "dataChange": True,
                }
            }
        )
    with open(os.path.join(log, "%020d.json" % 1), "w") as f:
        f.writelines(json.dumps(a) + "\n" for a in adds)
    return sorted(rows)


@pytest.mark.parametrize("n_parts", [1, 8])
def test_partitioned_delta_plans_one_scan(spark, tmp_path, n_parts):
    """``day=<d>/part-0.parquet`` for every d: each row keeps its own
    file's partition value (a basename-keyed lookup would give every
    row all P values), and the snapshot and the append reads each plan
    exactly one parquet scan."""
    t = str(tmp_path / "tbl")
    expected = _delta_table(spark, t, n_parts)
    for df in (read_delta(spark, t), read_delta_appends(spark, t, 0, 1)):
        # the plan before any action: an executed adaptive plan lists
        # its initial plan beside the final one
        assert len(plan_report(df).scan_locations()) == 1
        assert df.columns == ["k", "day"]
        assert sorted(tuple(r) for r in df.collect()) == expected


def _share_one_basename(t: str) -> None:
    """Move every live data file of an Iceberg table to
    ``<its dir>/p<i>/part-0.parquet`` and rewrite the manifests to
    match: live files that share one basename in different
    directories, as another writer may lay them out (this engine's
    add-time guard refuses such files, so the layout is made by
    hand)."""
    from optimus_any2any_spark.formats.avrobin import (
        read_container,
        write_container,
    )
    from optimus_any2any_spark.sources import iceberg as srcice

    meta = srcice.load_table_metadata(t)
    data, _p, _e = srcice._snapshot_entries(t, meta)
    moved = {}
    for i, d in enumerate(data):
        sub = os.path.join(os.path.dirname(d["path"]), f"p{i}")
        os.makedirs(sub)
        os.rename(d["path"], os.path.join(sub, "part-0.parquet"))
        moved[d["orig"]] = d["orig"].rsplit("/", 1)[0] + (
            f"/p{i}/part-0.parquet"
        )
    snap = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, manifests = read_container(
        srcice._localize(t, snap["manifest-list"])
    )
    for m in manifests:
        path = srcice._localize(t, m["manifest_path"])
        schema, entries = read_container(path)
        for e in entries:
            fp = e["data_file"]["file_path"]
            e["data_file"]["file_path"] = moved.get(fp, fp)
        write_container(path, schema, entries)


def test_iceberg_shared_basename_reads_per_file(spark, tmp_path):
    """Two identity-partitioned live files named ``part-0.parquet`` in
    different directories: each keeps its own partition constant, and
    a positional delete erases its rows once. A basename-keyed lookup gave both files the first file's
    partition value and duplicated every row once a delete was
    present. The table reads the same rows as the per-file union."""
    from optimus_any2any_spark.sources import iceberg as srcice
    from optimus_any2any_spark.streaming.iceberg_table import (
        delete_iceberg_positions,
        write_iceberg_commit,
    )

    t = str(tmp_path / "ice")
    rows = [(1, "a"), (2, "a"), (3, "a"), (4, "b"), (5, "b"), (6, "b")]
    df = spark.createDataFrame(rows, "k long, d string").coalesce(1)
    write_iceberg_commit(df.limit(0), t, partition_by=["d"])
    write_iceberg_commit(df, t)  # one file per partition value
    _share_one_basename(t)
    assert sorted(
        tuple(r) for r in srcice.read_iceberg(spark, t).collect()
    ) == rows
    delete_iceberg_positions(
        spark, t, "k", spark.createDataFrame([(2,), (5,)], "k long")
    )
    got = sorted(tuple(r) for r in srcice.read_iceberg(spark, t).collect())
    assert got == [(1, "a"), (3, "a"), (4, "b"), (6, "b")]
    meta = srcice.load_table_metadata(t)
    data, pos_del, eq_del = srcice._snapshot_entries(t, meta)
    assert len({d["path"].rsplit("/", 1)[-1] for d in data}) == 1
    per_file = [
        tuple(r)
        for d in data
        for r in srcice.read_entries_with_deletes(
            spark, meta, srcice.iceberg_spark_schema(meta), [d],
            pos_del, eq_del,
        ).collect()
    ]
    assert sorted(per_file) == got


def test_tables_under_glob_characters_read_back(spark, tmp_path):
    """A table under a directory named ``brace{1}``: ``spark.read``
    glob-expands its paths, so every scan escapes them
    (``merge_core.glob_escape``) and keys its lookups on the unescaped
    path; the writers' Python globs over staged parts escape the
    directory. Before, the reads failed with ``PATH_NOT_FOUND`` and a
    write under ``sq[2]`` published no file."""
    from optimus_any2any_spark.sources import iceberg as srcice
    from optimus_any2any_spark.streaming.delta_table import write_delta_commit
    from optimus_any2any_spark.streaming.iceberg_table import (
        delete_iceberg_positions,
        write_iceberg_commit,
    )

    base = tmp_path / "brace{1}" / "sq[2]"
    rows = [(1, "a"), (2, "a"), (3, "b")]
    df = spark.createDataFrame(rows, "k long, d string").coalesce(1)
    t = str(base / "delta")
    write_delta_commit(df, t, partition_by=["d"])
    got = sorted(tuple(r) for r in read_delta(spark, t).collect())
    assert got == rows

    t = str(base / "ice")
    write_iceberg_commit(df, t)
    delete_iceberg_positions(
        spark, t, "k", spark.createDataFrame([(2,)], "k long")
    )
    got = sorted(tuple(r) for r in srcice.read_iceberg(spark, t).collect())
    assert got == [(1, "a"), (3, "b")]
