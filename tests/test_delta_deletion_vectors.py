"""Delta deletion vectors (sources/delta.py + formats/roaring.py):
reader-version-3 tables whose add actions carry DV descriptors read
with the deleted row indexes removed (merge-on-read) — inline (z85),
path ("p"), and uuid ("u") storage forms; unknown v3 features still
guard-raise; CoW writers (merge/delete/optimize) read THROUGH the
vectors and consume them."""

from __future__ import annotations

import json
import os
import uuid as _uuid

import pytest

from optimus_any2any_spark.formats.roaring import (
    dv_blob,
    dv_file_write,
    z85_encode,
)


def _z85_padded(blob: bytes) -> str:
    return z85_encode(blob + b"\x00" * (-len(blob) % 4))
from optimus_any2any_spark.sources.delta import read_delta


def _commit(log, version, actions):
    os.makedirs(log, exist_ok=True)
    with open(os.path.join(log, "%020d.json" % version), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")


def _base_actions():
    return [
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
                "id": "dv-test",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(
                    {
                        "type": "struct",
                        "fields": [
                            {"name": "k", "type": "long",
                             "nullable": True, "metadata": {}},
                            {"name": "v", "type": "string",
                             "nullable": True, "metadata": {}},
                        ],
                    }
                ),
                "partitionColumns": [],
                "configuration": {},
            }
        },
    ]


def _write_file(spark, t, rel, rows):
    import glob as _glob
    import shutil

    df = spark.createDataFrame(rows, "k long, v string")
    tmp = os.path.join(t, "_tmp_" + rel)
    df.repartition(1).sortWithinPartitions("k").write.mode(
        "overwrite"
    ).parquet(tmp)
    os.replace(
        _glob.glob(os.path.join(tmp, "part-*.parquet"))[0],
        os.path.join(t, rel),
    )
    shutil.rmtree(tmp)


def _add(rel, t, dv=None):
    a = {
        "path": rel,
        "partitionValues": {},
        "size": os.path.getsize(os.path.join(t, rel)),
        "modificationTime": 0,
        "dataChange": True,
    }
    if dv:
        a["deletionVector"] = dv
    return a


class TestDeletionVectorReads:
    def test_inline_dv_removes_rows(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        os.makedirs(t)
        _write_file(
            spark, t, "f0.parquet",
            [(1, "a"), (2, "b"), (3, "c"), (4, "d")],
        )
        blob = dv_blob([0, 2])  # rows sorted by k: positions of k=1,3
        dv = {
            "storageType": "i",
            "pathOrInlineDv": _z85_padded(blob),
            "offset": 0,
            "sizeInBytes": len(blob),
            "cardinality": 2,
        }
        _commit(
            os.path.join(t, "_delta_log"), 0,
            _base_actions() + [{"add": _add("f0.parquet", t, dv)}],
        )
        got = sorted((r.k, r.v) for r in read_delta(spark, t).collect())
        assert got == [(2, "b"), (4, "d")]

    def test_path_dv_file(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        os.makedirs(t)
        _write_file(spark, t, "f0.parquet", [(1, "a"), (2, "b")])
        blob = dv_blob([1])
        (off,) = dv_file_write(os.path.join(t, "dv0.bin"), [blob])
        dv = {
            "storageType": "p",
            "pathOrInlineDv": os.path.join(t, "dv0.bin"),
            "offset": off,
            "sizeInBytes": len(blob),
            "cardinality": 1,
        }
        _commit(
            os.path.join(t, "_delta_log"), 0,
            _base_actions() + [{"add": _add("f0.parquet", t, dv)}],
        )
        assert [(r.k, r.v) for r in read_delta(spark, t).collect()] == [
            (1, "a")
        ]

    def test_uuid_dv_file(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        os.makedirs(t)
        _write_file(spark, t, "f0.parquet", [(1, "a"), (2, "b"), (3, "c")])
        uid = _uuid.UUID(int=0x1234567890ABCDEF1234567890ABCDEF)
        blob = dv_blob([0])
        (off,) = dv_file_write(
            os.path.join(t, f"deletion_vector_{uid}.bin"), [blob]
        )
        dv = {
            "storageType": "u",
            "pathOrInlineDv": z85_encode(uid.bytes),
            "offset": off,
            "sizeInBytes": len(blob),
            "cardinality": 1,
        }
        _commit(
            os.path.join(t, "_delta_log"), 0,
            _base_actions() + [{"add": _add("f0.parquet", t, dv)}],
        )
        got = sorted((r.k, r.v) for r in read_delta(spark, t).collect())
        assert got == [(2, "b"), (3, "c")]

    def test_dv_only_targets_its_file(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        os.makedirs(t)
        _write_file(spark, t, "f0.parquet", [(1, "a"), (2, "b")])
        _write_file(spark, t, "f1.parquet", [(10, "x"), (20, "y")])
        blob = dv_blob([0])
        dv = {
            "storageType": "i",
            "pathOrInlineDv": _z85_padded(blob),
            "offset": 0,
            "sizeInBytes": len(blob),
            "cardinality": 1,
        }
        _commit(
            os.path.join(t, "_delta_log"), 0,
            _base_actions()
            + [
                {"add": _add("f0.parquet", t, dv)},
                {"add": _add("f1.parquet", t)},
            ],
        )
        got = sorted(r.k for r in read_delta(spark, t).collect())
        assert got == [2, 10, 20]

    def test_readded_file_with_new_dv_wins(self, spark, tmp_path):
        # updating a DV = re-adding the same file with a new
        # descriptor (real writers' MERGE-on-read update shape)
        t = str(tmp_path / "tbl")
        os.makedirs(t)
        _write_file(
            spark, t, "f0.parquet", [(1, "a"), (2, "b"), (3, "c")]
        )
        b1 = dv_blob([0])
        _commit(
            os.path.join(t, "_delta_log"), 0,
            _base_actions()
            + [{"add": _add("f0.parquet", t, {
                "storageType": "i",
                "pathOrInlineDv": _z85_padded(b1),
                "offset": 0,
                "sizeInBytes": len(b1),
                "cardinality": 1,
            })}],
        )
        b2 = dv_blob([0, 1])
        _commit(
            os.path.join(t, "_delta_log"), 1,
            [{"add": _add("f0.parquet", t, {
                "storageType": "i",
                "pathOrInlineDv": _z85_padded(b2),
                "offset": 0,
                "sizeInBytes": len(b2),
                "cardinality": 2,
            })}],
        )
        assert [r.k for r in read_delta(spark, t).collect()] == [3]
        # time travel to version 0 sees the OLD vector's view
        assert sorted(
            r.k for r in read_delta(spark, t, version=0).collect()
        ) == [2, 3]


class TestGuards:
    def test_unknown_v3_feature_rejected(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        os.makedirs(t)
        acts = _base_actions()
        acts[0]["protocol"]["readerFeatures"] = ["typeWidening"]
        _commit(os.path.join(t, "_delta_log"), 0, acts)
        with pytest.raises(NotImplementedError, match="typeWidening"):
            read_delta(spark, t)

    def test_cow_writers_consume_dv_not_resurrect(self, spark, tmp_path):
        # merge / CoW delete / optimize over a DV-carrying file read
        # THROUGH the vector: the DV-deleted row (k=1) must never
        # come back, and the rewritten file carries no vector
        from optimus_any2any_spark.sources.delta import replay_log
        from optimus_any2any_spark.streaming.delta_table import (
            compact_delta,
            delete_delta_keys,
            merge_delta_batch,
        )

        def _dv_table(name):
            t = str(tmp_path / name)
            os.makedirs(t)
            _write_file(spark, t, "f0.parquet", [(1, "a"), (2, "b")])
            blob = dv_blob([0])
            _commit(
                os.path.join(t, "_delta_log"), 0,
                _base_actions()
                + [{"add": _add("f0.parquet", t, {
                    "storageType": "i",
                    "pathOrInlineDv": _z85_padded(blob),
                    "offset": 0,
                    "sizeInBytes": len(blob),
                    "cardinality": 1,
                })}],
            )
            return t

        t = _dv_table("merge")
        batch = spark.createDataFrame([(9, "z")], "k long, v string")
        merge_delta_batch(spark, batch, t, "k", "v")
        got = sorted((r.k, r.v) for r in read_delta(spark, t).collect())
        assert got == [(2, "b"), (9, "z")]
        live = replay_log(spark, t)["live"]
        assert not any(a.get("deletionVector") for a in live.values())

        t = _dv_table("delete")
        delete_delta_keys(
            spark, t, "k", spark.createDataFrame([(2,)], "k long")
        )
        assert read_delta(spark, t).collect() == []

        t = _dv_table("compact")
        _write_file(spark, t, "f1.parquet", [(10, "x")])
        _commit(
            os.path.join(t, "_delta_log"), 1,
            [{"add": _add("f1.parquet", t)}],
        )
        assert compact_delta(spark, t, key_col="k") is not None
        got = sorted(r.k for r in read_delta(spark, t).collect())
        assert got == [2, 10]
        live = replay_log(spark, t)["live"]
        assert not any(a.get("deletionVector") for a in live.values())


class TestIncrementalSurfacesReject:
    def test_appends_and_cdf_reject_dv_commits(self, spark, tmp_path):
        from optimus_any2any_spark.sources.delta import (
            read_delta_appends,
            read_delta_cdf,
        )

        t = str(tmp_path / "tbl")
        os.makedirs(t)
        _write_file(spark, t, "f0.parquet", [(1, "a"), (2, "b")])
        _commit(
            os.path.join(t, "_delta_log"), 0,
            _base_actions() + [{"add": _add("f0.parquet", t)}],
        )
        blob = dv_blob([0])
        _commit(
            os.path.join(t, "_delta_log"), 1,
            [{"add": _add("f0.parquet", t, {
                "storageType": "i",
                "pathOrInlineDv": _z85_padded(blob),
                "offset": 0,
                "sizeInBytes": len(blob),
                "cardinality": 1,
            })}],
        )
        with pytest.raises(ValueError, match="deletion vector"):
            read_delta_appends(spark, t, 0, 1).collect()
        with pytest.raises(ValueError, match="change data"):
            read_delta_cdf(spark, t, 0, 1).collect()


class TestDvWritingDelete:
    """delete_delta_keys(use_deletion_vectors=True): merge-on-read —
    files are re-added with DV descriptors, never rewritten; repeated
    deletes extend the vectors; CDF records exactly the newly-deleted
    rows."""

    def _seed(self, spark, t, partitioned=False):
        from optimus_any2any_spark.streaming.delta_table import (
            merge_delta_batch,
        )

        if partitioned:
            df = spark.createDataFrame(
                [(k, f"v{k}", 0, f"d{k % 2}") for k in range(8)],
                "k long, v string, ts long, d string",
            )
            merge_delta_batch(
                spark, df, t, "k", "ts", partition_by=["d"],
                change_data=True,
            )
        else:
            df = spark.createDataFrame(
                [(k, f"v{k}", 0) for k in range(8)],
                "k long, v string, ts long",
            )
            merge_delta_batch(spark, df, t, "k", "ts", change_data=True)

    def test_rows_gone_files_untouched(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            delete_delta_keys,
        )

        t = str(tmp_path / "tbl")
        self._seed(spark, t)
        before = {
            p: os.path.getmtime(os.path.join(t, p))
            for p in replay_log_live(spark, t)
        }
        delete_delta_keys(
            spark, t, "k",
            spark.createDataFrame([(2,), (5,)], "k long"),
            use_deletion_vectors=True,
        )
        after_live = replay_log_live(spark, t)
        # same data files, now carrying DV descriptors
        assert set(after_live) == set(before)
        for p in after_live:
            assert os.path.getmtime(os.path.join(t, p)) == before[p]
            assert after_live[p].get("deletionVector")
        assert sorted(r.k for r in read_delta(spark, t).collect()) == [
            0, 1, 3, 4, 6, 7,
        ]

    def test_second_delete_extends_the_vector(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            delete_delta_keys,
        )

        t = str(tmp_path / "tbl")
        self._seed(spark, t)
        delete_delta_keys(
            spark, t, "k", spark.createDataFrame([(2,)], "k long"),
            use_deletion_vectors=True,
        )
        delete_delta_keys(
            spark, t, "k", spark.createDataFrame([(5,)], "k long"),
            use_deletion_vectors=True,
        )
        assert sorted(r.k for r in read_delta(spark, t).collect()) == [
            0, 1, 3, 4, 6, 7,
        ]

    def test_cdf_records_only_new_deletes(self, spark, tmp_path):
        from optimus_any2any_spark.sources.delta import read_delta_cdf
        from optimus_any2any_spark.streaming.delta_table import (
            delete_delta_keys,
        )

        t = str(tmp_path / "tbl")
        self._seed(spark, t)
        v1 = delete_delta_keys(
            spark, t, "k", spark.createDataFrame([(2,)], "k long"),
            use_deletion_vectors=True, change_data=True,
        )
        # re-deleting 2 plus 5: only 5 is NEW
        v2 = delete_delta_keys(
            spark, t, "k",
            spark.createDataFrame([(2,), (5,)], "k long"),
            use_deletion_vectors=True, change_data=True,
        )
        ch1 = read_delta_cdf(spark, t, v1 - 1, v1).collect()
        ch2 = read_delta_cdf(spark, t, v2 - 1, v2).collect()
        assert sorted(r.k for r in ch1) == [2]
        assert sorted(r.k for r in ch2) == [5]
        assert all(r._change_type == "delete" for r in ch1 + ch2)

    def test_partitioned_cdf_carries_typed_partition_cols(
        self, spark, tmp_path
    ):
        from optimus_any2any_spark.sources.delta import read_delta_cdf
        from optimus_any2any_spark.streaming.delta_table import (
            delete_delta_keys,
        )

        t = str(tmp_path / "tbl")
        self._seed(spark, t, partitioned=True)
        v = delete_delta_keys(
            spark, t, "k",
            spark.createDataFrame([(3,), (4,)], "k long"),
            use_deletion_vectors=True, change_data=True,
        )
        ch = read_delta_cdf(spark, t, v - 1, v).collect()
        assert sorted((r.k, r.d) for r in ch) == [(3, "d1"), (4, "d0")]
        assert sorted(r.k for r in read_delta(spark, t).collect()) == [
            0, 1, 2, 5, 6, 7,
        ]

    def test_noop_burns_no_version(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            delete_delta_keys,
        )

        t = str(tmp_path / "tbl")
        self._seed(spark, t)
        from optimus_any2any_spark.sources.delta import replay_log

        v0 = replay_log(spark, t)["version"]
        v = delete_delta_keys(
            spark, t, "k", spark.createDataFrame([(999,)], "k long"),
            use_deletion_vectors=True,
        )
        assert v == v0


def replay_log_live(spark, t):
    from optimus_any2any_spark.sources.delta import replay_log

    return replay_log(spark, t)["live"]


def _last_commit_actions(t):
    log = os.path.join(t, "_delta_log")
    last = sorted(
        f for f in os.listdir(log)
        if f.endswith(".json") and f[:20].isdigit()
    )[-1]
    with open(os.path.join(log, last)) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


class TestSpecReconciliation:
    """Delta reconciliation keys file actions by (path, DV uniqueId):
    writers must pair every DV re-add with a remove of the prior
    version, and the replay must tolerate either in-commit order."""

    def test_dv_rewrite_commits_remove_of_prior_version(
        self, spark, tmp_path
    ):
        from optimus_any2any_spark.streaming.delta_table import (
            delete_delta_keys,
        )

        t = str(tmp_path / "tbl")
        TestDvWritingDelete()._seed(spark, t)
        delete_delta_keys(
            spark, t, "k", spark.createDataFrame([(2,)], "k long"),
            use_deletion_vectors=True,
        )
        acts = _last_commit_actions(t)
        adds = [a["add"] for a in acts if "add" in a]
        removes = [a["remove"] for a in acts if "remove" in a]
        assert adds and removes
        # first-time DV: remove tombstones the DV-less prior version
        assert {a["path"] for a in adds} == {r["path"] for r in removes}
        assert all(a.get("deletionVector") for a in adds)
        assert all(not r.get("deletionVector") for r in removes)
        # second delete: the remove must carry the FIRST vector's
        # descriptor, the add the merged one
        delete_delta_keys(
            spark, t, "k", spark.createDataFrame([(5,)], "k long"),
            use_deletion_vectors=True,
        )
        acts = _last_commit_actions(t)
        removes = [a["remove"] for a in acts if "remove" in a]
        assert any(r.get("deletionVector") for r in removes)

    def test_purge_removes_carry_dv_descriptor(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            delete_delta_keys,
            purge_deletion_vectors,
        )

        t = str(tmp_path / "tbl")
        TestDvWritingDelete()._seed(spark, t)
        delete_delta_keys(
            spark, t, "k", spark.createDataFrame([(2,)], "k long"),
            use_deletion_vectors=True,
        )
        purge_deletion_vectors(spark, t, key_col="k")
        acts = _last_commit_actions(t)
        removes = [a["remove"] for a in acts if "remove" in a]
        assert removes
        assert all(r.get("deletionVector") for r in removes)

    def test_replay_tolerates_add_before_remove(self, spark, tmp_path):
        # one commit holding add(path, dvB) BEFORE remove(path, dvA):
        # under (path, dvId) reconciliation the order must not matter
        t = str(tmp_path / "tbl")
        os.makedirs(t)
        _write_file(
            spark, t, "f0.parquet", [(1, "a"), (2, "b"), (3, "c")]
        )
        b1 = dv_blob([0])
        dv1 = {
            "storageType": "i",
            "pathOrInlineDv": _z85_padded(b1),
            "offset": 0,
            "sizeInBytes": len(b1),
            "cardinality": 1,
        }
        _commit(
            os.path.join(t, "_delta_log"), 0,
            _base_actions() + [{"add": _add("f0.parquet", t, dv1)}],
        )
        b2 = dv_blob([0, 1])
        dv2 = {
            "storageType": "i",
            "pathOrInlineDv": _z85_padded(b2),
            "offset": 0,
            "sizeInBytes": len(b2),
            "cardinality": 2,
        }
        rm = {
            "path": "f0.parquet",
            "deletionTimestamp": 0,
            "dataChange": True,
            "deletionVector": dv1,
        }
        _commit(
            os.path.join(t, "_delta_log"), 1,
            [{"add": _add("f0.parquet", t, dv2)}, {"remove": rm}],
        )
        assert [r.k for r in read_delta(spark, t).collect()] == [3]

    def test_stale_remove_does_not_kill_newer_version(
        self, spark, tmp_path
    ):
        # a remove naming an OLD dv id must not tombstone the live
        # newer (path, dv) version
        t = str(tmp_path / "tbl")
        os.makedirs(t)
        _write_file(spark, t, "f0.parquet", [(1, "a"), (2, "b")])
        b1 = dv_blob([0])
        dv1 = {
            "storageType": "i",
            "pathOrInlineDv": _z85_padded(b1),
            "offset": 0,
            "sizeInBytes": len(b1),
            "cardinality": 1,
        }
        _commit(
            os.path.join(t, "_delta_log"), 0,
            _base_actions() + [{"add": _add("f0.parquet", t)}],
        )
        _commit(
            os.path.join(t, "_delta_log"), 1,
            [
                {"add": _add("f0.parquet", t, dv1)},
                {
                    "remove": {
                        "path": "f0.parquet",
                        "deletionTimestamp": 0,
                        "dataChange": True,
                    }
                },
            ],
        )
        # the bare-path remove cancels the DV-less version only; the
        # dv1 add stays live
        assert [r.k for r in read_delta(spark, t).collect()] == [2]

    def test_protocol_merge_preserves_features(self, spark, tmp_path):
        from optimus_any2any_spark.sources.delta import replay_log
        from optimus_any2any_spark.streaming.delta_table import (
            delete_delta_keys,
        )

        t = str(tmp_path / "tbl")
        TestDvWritingDelete()._seed(spark, t)
        # simulate another writer having upgraded the protocol with a
        # feature this engine merely tolerates
        _commit(
            os.path.join(t, "_delta_log"),
            replay_log(spark, t)["version"] + 1,
            [{"protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["timestampNtz"],
                "writerFeatures": ["timestampNtz"],
            }}],
        )
        delete_delta_keys(
            spark, t, "k", spark.createDataFrame([(2,)], "k long"),
            use_deletion_vectors=True,
        )
        proto = replay_log(spark, t)["protocol"]
        assert "timestampNtz" in proto["readerFeatures"]
        assert "deletionVectors" in proto["readerFeatures"]
        assert "timestampNtz" in proto["writerFeatures"]
        assert "deletionVectors" in proto["writerFeatures"]
        # a second DV delete finds the protocol sufficient: no new
        # protocol action in that commit
        delete_delta_keys(
            spark, t, "k", spark.createDataFrame([(5,)], "k long"),
            use_deletion_vectors=True,
        )
        acts = _last_commit_actions(t)
        assert not any("protocol" in a for a in acts)

    def test_vacuum_sweeps_consumed_dv_bins(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            delete_delta_keys,
            purge_deletion_vectors,
            vacuum_delta,
        )

        t = str(tmp_path / "tbl")
        TestDvWritingDelete()._seed(spark, t)
        delete_delta_keys(
            spark, t, "k", spark.createDataFrame([(2,)], "k long"),
            use_deletion_vectors=True,
        )
        bins = [
            n for n in os.listdir(t)
            if n.startswith("deletion_vector_") and n.endswith(".bin")
        ]
        assert len(bins) == 1
        # still referenced: vacuum keeps it
        vacuum_delta(spark, t)
        assert os.path.exists(os.path.join(t, bins[0]))
        purge_deletion_vectors(spark, t, key_col="k")
        gone = vacuum_delta(spark, t)
        assert bins[0] in gone
        assert not os.path.exists(os.path.join(t, bins[0]))
        assert sorted(r.k for r in read_delta(spark, t).collect()) == [
            0, 1, 3, 4, 5, 6, 7,
        ]


class TestPurge:
    """purge_deletion_vectors (REORG APPLY PURGE): DV'd files rewrite
    clean, vectors drop, and the copy-on-write writers work again."""

    def test_purge_then_merge(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            delete_delta_keys,
            merge_delta_batch,
            purge_deletion_vectors,
        )

        t = str(tmp_path / "tbl")
        df = spark.createDataFrame(
            [(k, f"v{k}", 0) for k in range(6)],
            "k long, v string, ts long",
        )
        merge_delta_batch(spark, df, t, "k", "ts")
        delete_delta_keys(
            spark, t, "k", spark.createDataFrame([(1,), (4,)], "k long"),
            use_deletion_vectors=True,
        )
        v = purge_deletion_vectors(spark, t, key_col="k")
        assert v is not None
        state = replay_log_live(spark, t)
        assert not any(a.get("deletionVector") for a in state.values())
        assert sorted(r.k for r in read_delta(spark, t).collect()) == [
            0, 2, 3, 5,
        ]
        # the copy-on-write merge works again
        merge_delta_batch(
            spark,
            spark.createDataFrame(
                [(2, "X", 1)], "k long, v string, ts long"
            ),
            t, "k", "ts",
        )
        got = sorted((r.k, r.v) for r in read_delta(spark, t).collect())
        assert got == [(0, "v0"), (2, "X"), (3, "v3"), (5, "v5")]

    def test_purge_partitioned(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            delete_delta_keys,
            merge_delta_batch,
            purge_deletion_vectors,
        )

        t = str(tmp_path / "tbl")
        df = spark.createDataFrame(
            [(k, f"v{k}", 0, f"d{k % 2}") for k in range(8)],
            "k long, v string, ts long, d string",
        )
        merge_delta_batch(spark, df, t, "k", "ts", partition_by=["d"])
        delete_delta_keys(
            spark, t, "k",
            spark.createDataFrame([(2,), (3,)], "k long"),
            use_deletion_vectors=True,
        )
        purge_deletion_vectors(spark, t, key_col="k")
        got = sorted((r.k, r.d) for r in read_delta(spark, t).collect())
        assert got == [
            (0, "d0"), (1, "d1"), (4, "d0"), (5, "d1"),
            (6, "d0"), (7, "d1"),
        ]

    def test_purge_noop_without_vectors(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.delta_table import (
            merge_delta_batch,
            purge_deletion_vectors,
        )

        t = str(tmp_path / "tbl")
        merge_delta_batch(
            spark,
            spark.createDataFrame(
                [(1, "a", 0)], "k long, v string, ts long"
            ),
            t, "k", "ts",
        )
        assert purge_deletion_vectors(spark, t) is None

    def test_purge_invisible_to_cdf(self, spark, tmp_path):
        from optimus_any2any_spark.sources.delta import read_delta_cdf
        from optimus_any2any_spark.streaming.delta_table import (
            delete_delta_keys,
            merge_delta_batch,
            purge_deletion_vectors,
        )

        t = str(tmp_path / "tbl")
        merge_delta_batch(
            spark,
            spark.createDataFrame(
                [(k, "x", 0) for k in range(4)],
                "k long, v string, ts long",
            ),
            t, "k", "ts", change_data=True,
        )
        delete_delta_keys(
            spark, t, "k", spark.createDataFrame([(1,)], "k long"),
            use_deletion_vectors=True, change_data=True,
        )
        v = purge_deletion_vectors(spark, t, key_col="k")
        # the purge commit is dataChange:false — CDF over it is empty
        ch = read_delta_cdf(spark, t, v - 1, v).collect()
        assert ch == []


class TestAdviceR6Regressions:
    """Round-6 ADVICE items: uniqueId offset parity, per-file deletion
    on mixed DV'd/plain read sets that share a basename, vacuum over
    DV-less tables with colliding basenames."""

    def test_unique_id_keeps_explicit_zero_offset(self):
        from optimus_any2any_spark.sources.delta import dv_unique_id

        base = {"storageType": "u", "pathOrInlineDv": "X",
                "sizeInBytes": 4, "cardinality": 1}
        absent = dv_unique_id({"deletionVector": dict(base)})
        zero = dv_unique_id(
            {"deletionVector": dict(base, offset=0)}
        )
        five = dv_unique_id(
            {"deletionVector": dict(base, offset=5)}
        )
        # delta-spark appends "@offset" whenever the key is present —
        # an explicit 0 must NOT reconcile like an absent offset
        assert absent == "uX"
        assert zero == "uX@0"
        assert five == "uX@5"

    def test_mixed_dv_plain_shared_basename_reads_per_file(
        self, spark, tmp_path
    ):
        from pyspark.sql import types as T

        from optimus_any2any_spark.streaming.delta_table import (
            _read_files_dv_aware,
        )

        t = str(tmp_path / "tbl")
        os.makedirs(os.path.join(t, "a"))
        os.makedirs(os.path.join(t, "b"))
        _write_file(spark, t, "a/part-0.parquet", [(1, "x"), (2, "x2")])
        _write_file(spark, t, "b/part-0.parquet", [(3, "y"), (4, "y2")])
        blob = dv_blob([0])
        dv = {
            "storageType": "i",
            "pathOrInlineDv": _z85_padded(blob),
            "sizeInBytes": len(blob),
            "cardinality": 1,
        }
        live = {
            "a/part-0.parquet": _add("a/part-0.parquet", t, dv=dv),
            "b/part-0.parquet": _add("b/part-0.parquet", t),
        }
        schema = T.StructType(
            [T.StructField("k", T.LongType()),
             T.StructField("v", T.StringType())]
        )
        # only ONE file carries a DV and the plain file shares its
        # basename: the vector must delete position 0 of a/part-0
        # alone — keyed by basename it would also delete (3, "y")
        got = sorted(
            tuple(r)
            for r in _read_files_dv_aware(
                spark, t, schema, sorted(live), live
            ).collect()
        )
        assert got == [(2, "x2"), (3, "y"), (4, "y2")]
        _commit(
            os.path.join(t, "_delta_log"), 0,
            _base_actions() + [{"add": a} for a in live.values()],
        )
        assert sorted(
            (r.k, r.v) for r in read_delta(spark, t).collect()
        ) == got

    def test_vacuum_dvless_table_with_colliding_basenames(
        self, spark, tmp_path
    ):
        from optimus_any2any_spark.streaming.delta_table import (
            vacuum_delta,
        )

        t = str(tmp_path / "tbl")
        os.makedirs(os.path.join(t, "a"))
        os.makedirs(os.path.join(t, "b"))
        _write_file(spark, t, "a/part-0.parquet", [(1, "x")])
        _write_file(spark, t, "b/part-0.parquet", [(2, "y")])
        _commit(
            os.path.join(t, "_delta_log"), 0,
            _base_actions()
            + [{"add": _add("a/part-0.parquet", t)},
               {"add": _add("b/part-0.parquet", t)}],
        )
        # zero deletion vectors anywhere and colliding basenames:
        # this table is perfectly vacuumable
        gone = vacuum_delta(spark, t)
        assert gone == []
        got = sorted(
            (r.k, r.v) for r in read_delta(spark, t).collect()
        )
        assert got == [(1, "x"), (2, "y")]
