"""Iceberg v3 ROW LINEAGE (spec §Row Lineage): appends assign each
data file an explicit first_row_id and advance the table's
next-row-id; read_iceberg(row_lineage=True) derives
_row_id = first_row_id + position and _last_updated_sequence_number
from the file's data sequence. Merge-on-read deletes never move ids;
delete+insert UPDATE mints fresh ids for the re-appended rows (the
spec's MoR-update contract); copy-on-write rewrites (merge,
compaction) refuse by name until materialized lineage columns ship."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from optimus_any2any_spark.sources.iceberg import (
    load_table_metadata,
    read_iceberg,
)
from optimus_any2any_spark.streaming.iceberg_table import (
    compact_iceberg,
    delete_iceberg_keys,
    delete_iceberg_where,
    merge_iceberg_batch,
    update_iceberg_where,
    write_iceberg_commit,
)


def _one_file(spark, vals):
    """A single sorted data file — deterministic row positions."""
    return (
        spark.createDataFrame(vals, "k long, v string, ts long")
        .repartitionByRange(1, "k")
        .sortWithinPartitions("k")
    )


def _lineage(spark, t):
    return sorted(
        (r.k, r._row_id, r._last_updated_sequence_number)
        for r in read_iceberg(spark, t, row_lineage=True).collect()
    )


class TestAssignment:
    def test_sequential_ids_across_commits(self, spark, tmp_path):
        t = str(tmp_path / "t")
        write_iceberg_commit(
            _one_file(spark, [(1, "a", 0), (2, "b", 0)]), t,
            row_lineage=True,
        )
        write_iceberg_commit(
            _one_file(spark, [(3, "c", 0), (4, "d", 0)]), t
        )  # lineage sticks without re-passing the flag
        meta = load_table_metadata(t)
        assert int(meta["format-version"]) == 3
        assert int(meta["next-row-id"]) == 4
        assert [
            s.get("first-row-id") for s in meta["snapshots"]
        ] == [0, 2]
        assert _lineage(spark, t) == [
            (1, 0, 1), (2, 1, 1), (3, 2, 2), (4, 3, 2),
        ]

    def test_multi_file_commit_offsets(self, spark, tmp_path):
        t = str(tmp_path / "t")
        df = (
            spark.range(100)
            .select(
                F.col("id").alias("k"),
                F.lit("x").alias("v"),
                F.lit(0).cast("long").alias("ts"),
            )
            .repartitionByRange(4, "k")
            .sortWithinPartitions("k")
        )
        write_iceberg_commit(df, t, row_lineage=True)
        meta = load_table_metadata(t)
        assert int(meta["next-row-id"]) == 100
        got = _lineage(spark, t)
        # ids are a permutation of 0..99, one per row
        assert sorted(rid for _, rid, _ in got) == list(range(100))

    def test_plain_read_still_works(self, spark, tmp_path):
        t = str(tmp_path / "t")
        write_iceberg_commit(
            _one_file(spark, [(1, "a", 0)]), t, row_lineage=True
        )
        rows = read_iceberg(spark, t).collect()
        assert [(r.k, r.v) for r in rows] == [(1, "a")]
        assert "_row_id" not in rows[0].asDict()

    def test_lineage_read_needs_lineage_table(self, spark, tmp_path):
        t = str(tmp_path / "t")
        write_iceberg_commit(_one_file(spark, [(1, "a", 0)]), t)
        with pytest.raises(ValueError, match="next-row-id"):
            read_iceberg(spark, t, row_lineage=True)


class TestComposition:
    def test_mor_delete_keeps_survivor_ids(self, spark, tmp_path):
        t = str(tmp_path / "t")
        write_iceberg_commit(
            _one_file(
                spark, [(1, "a", 0), (2, "b", 0), (3, "c", 0)]
            ),
            t, row_lineage=True,
        )
        delete_iceberg_where(spark, t, "k = 2")
        assert _lineage(spark, t) == [(1, 0, 1), (3, 2, 1)]
        meta = load_table_metadata(t)
        assert int(meta["next-row-id"]) == 3  # deletes assign no rows
        assert meta["snapshots"][-1]["first-row-id"] == 3

    def test_eq_delete_keeps_ids(self, spark, tmp_path):
        t = str(tmp_path / "t")
        write_iceberg_commit(
            _one_file(spark, [(1, "a", 0), (2, "b", 0)]), t,
            row_lineage=True,
        )
        delete_iceberg_keys(
            spark, t, "k", spark.createDataFrame([(1,)], "k long")
        )
        assert _lineage(spark, t) == [(2, 1, 1)]
        assert (
            load_table_metadata(t)["snapshots"][-1]["first-row-id"]
            == 2
        )

    def test_update_where_mints_fresh_ids(self, spark, tmp_path):
        t = str(tmp_path / "t")
        write_iceberg_commit(
            _one_file(spark, [(1, "a", 0), (2, "b", 0)]), t,
            row_lineage=True,
        )
        update_iceberg_where(spark, t, {"v": "'B'"}, where="k = 2")
        got = _lineage(spark, t)
        # survivor keeps id 0; the updated row's OLD id (1) dies and
        # the post-image gets the next fresh id (2) at the new seq
        assert got == [(1, 0, 1), (2, 2, 2)]
        assert int(load_table_metadata(t)["next-row-id"]) == 3

    def test_cow_merge_preserves_and_mints(self, spark, tmp_path):
        t = str(tmp_path / "t")
        write_iceberg_commit(
            _one_file(
                spark, [(1, "a", 0), (2, "b", 0), (3, "c", 0)]
            ),
            t, row_lineage=True,
        )
        merge_iceberg_batch(
            spark,
            _one_file(spark, [(2, "B", 1), (9, "z", 1)]),
            t, "k", "ts", batch_id=0,
        )
        got = _lineage(spark, t)
        # carried rows keep (id, seq); the updated row keeps ITS id
        # at the merge's new sequence; the insert mints a fresh id
        assert got[:3] == [(1, 0, 1), (2, 1, 2), (3, 2, 1)]
        k9 = got[3]
        assert k9[0] == 9 and k9[1] >= 3 and k9[2] == 2
        meta = load_table_metadata(t)
        assert meta["snapshots"][-1].get("first-row-id") == 3
        assert int(meta["next-row-id"]) >= 7

    def test_merge_then_delete_then_merge_lineage(
        self, spark, tmp_path
    ):
        t = str(tmp_path / "t")
        write_iceberg_commit(
            _one_file(spark, [(1, "a", 0), (2, "b", 0)]), t,
            row_lineage=True,
        )
        delete_iceberg_where(spark, t, "k = 1")
        merge_iceberg_batch(
            spark, _one_file(spark, [(2, "B", 1)]), t, "k", "ts",
            batch_id=0,
        )
        # the merge consumed the delete (rewrite excludes k=1) and
        # the surviving updated row kept its id
        assert [(k, rid) for k, rid, _ in _lineage(spark, t)] == [
            (2, 1)
        ]

    def test_conditional_merge_carries_lineage(self, spark, tmp_path):
        t = str(tmp_path / "t")
        write_iceberg_commit(
            _one_file(
                spark, [(1, "a", 0), (2, "b", 0), (3, "c", 0)]
            ),
            t, row_lineage=True,
        )
        batch = _one_file(
            spark, [(1, "DEL", 1), (2, "UPD", 1), (9, "INS", 1)]
        )
        merge_iceberg_batch(
            spark, batch, t, "k", "ts", batch_id=0,
            when_matched=[
                ("delete", "s.v = 'DEL'"),
                ("update", None, {"v": "s.v"}),
            ],
        )
        got = _lineage(spark, t)
        # k=1 delete-clause; k=2 update KEEPS its id at the new seq;
        # k=3 pass-through carries (id, seq) materialized; k=9 fresh
        assert got[:2] == [(2, 1, 2), (3, 2, 1)]
        assert got[2][0] == 9 and got[2][1] >= 3 and got[2][2] == 2

    def test_compaction_materializes_and_preserves_ids(
        self, spark, tmp_path
    ):
        t = str(tmp_path / "t")
        write_iceberg_commit(
            _one_file(spark, [(1, "a", 0), (2, "b", 0)]), t,
            row_lineage=True,
        )
        write_iceberg_commit(_one_file(spark, [(3, "c", 0)]), t)
        delete_iceberg_where(spark, t, "k = 2")
        before = _lineage(spark, t)
        assert compact_iceberg(spark, t, target_rows_per_file=1000)
        # the rewrite materialized _row_id / _last_updated_sequence_
        # number into the new file — ids AND original sequences
        # survive byte-for-byte
        assert _lineage(spark, t) == before == [
            (1, 0, 1), (3, 2, 2),
        ]

    def test_second_compaction_reads_materialized(
        self, spark, tmp_path
    ):
        t = str(tmp_path / "t")
        write_iceberg_commit(
            _one_file(spark, [(1, "a", 0), (2, "b", 0)]), t,
            row_lineage=True,
        )
        write_iceberg_commit(_one_file(spark, [(3, "c", 0)]), t)
        compact_iceberg(spark, t, target_rows_per_file=1000)
        write_iceberg_commit(_one_file(spark, [(4, "d", 0)]), t)
        # second compaction reads the FIRST one's materialized
        # columns through the extended-schema coalesce
        compact_iceberg(spark, t, target_rows_per_file=1000)
        got = _lineage(spark, t)
        assert [(k, rid) for k, rid, _ in got] == [
            (1, 0), (2, 1), (3, 2), (4, 6),
        ]

    def test_delete_after_compaction_keeps_ids(self, spark, tmp_path):
        t = str(tmp_path / "t")
        write_iceberg_commit(
            _one_file(
                spark, [(1, "a", 0), (2, "b", 0), (3, "c", 0)]
            ),
            t, row_lineage=True,
        )
        write_iceberg_commit(_one_file(spark, [(4, "d", 0)]), t)
        compact_iceberg(spark, t, target_rows_per_file=1000)
        delete_iceberg_where(spark, t, "k in (2, 4)")
        got = _lineage(spark, t)
        assert [(k, rid) for k, rid, _ in got] == [(1, 0), (3, 2)]

    def test_time_travel_lineage(self, spark, tmp_path):
        t = str(tmp_path / "t")
        write_iceberg_commit(
            _one_file(spark, [(1, "a", 0), (2, "b", 0)]), t,
            row_lineage=True,
        )
        sid = load_table_metadata(t)["current-snapshot-id"]
        delete_iceberg_where(spark, t, "k = 1")
        got = sorted(
            (r.k, r._row_id)
            for r in read_iceberg(
                spark, t, snapshot_id=sid, row_lineage=True
            ).collect()
        )
        assert got == [(1, 0), (2, 1)]


class TestRiders:
    def test_source_and_sink_riders(self, spark, tmp_path):
        from optimus_any2any_spark.config import Config
        from optimus_any2any_spark.pipeline import Pipeline
        from optimus_any2any_spark.sources.builders import (
            iceberg_source,
        )

        t = str(tmp_path / "t")
        src = tmp_path / "rows.json"
        src.write_text('{"k": 1, "v": "a"}\n{"k": 2, "v": "b"}\n')
        cfg = Config.from_env(
            env_args=[
                f"FILE__SOURCE_URI=file://{src}",
                f"ICEBERG__SINK_URI=file://{t}",
                "ICEBERG__ROW_LINEAGE=true",
            ],
            environ={},
        )
        Pipeline(spark, "FILE", ["ICEBERG"], cfg).run()
        assert (
            load_table_metadata(t).get("next-row-id") == 2
        )
        rcfg = Config.from_env(
            env_args=[
                f"ICEBERG__SOURCE_URI=file://{t}",
                "ICEBERG__ROW_LINEAGE=true",
            ],
            environ={},
        )
        rows = iceberg_source(spark, rcfg).collect()
        assert sorted(r._row_id for r in rows) == [0, 1]


class TestInheritance:
    """Spec v3 first_row_id INHERITANCE (the r11 VERDICT gap): foreign
    writers leave per-entry first_row_id NULL — readers assign it from
    the manifest's first_row_id (explicit when preserved, else the
    snapshot's first-row-id plus preceding null manifests' row
    counts) plus the record_count of the preceding null entries."""

    def _foreignize(self, t):
        from optimus_any2any_spark.sources.iceberg import (
            make_lineage_inherited,
        )

        make_lineage_inherited(t)

    def test_inherited_equals_explicit(self, spark, tmp_path):
        """Differential: nulling the explicit values and re-deriving
        via inheritance must reproduce the same lineage read."""
        t = str(tmp_path / "t")
        write_iceberg_commit(
            _one_file(spark, [(1, "a", 0), (2, "b", 0)]), t,
            row_lineage=True,
        )
        write_iceberg_commit(
            _one_file(spark, [(3, "c", 0), (4, "d", 0)]), t
        )
        write_iceberg_commit(_one_file(spark, [(5, "e", 0)]), t)
        before = _lineage(spark, t)
        self._foreignize(t)
        # the entries really are null now
        import glob as _g

        from optimus_any2any_spark.formats.avrobin import (
            read_container,
        )
        nulls = 0
        for mf in _g.glob(f"{t}/metadata/*-m*.avro"):
            _, entries = read_container(mf)
            for e in entries:
                if "first_row_id" in e.get("data_file", {}):
                    assert e["data_file"]["first_row_id"] is None
                    nulls += 1
        assert nulls >= 3
        assert _lineage(spark, t) == before

    def test_multi_file_manifest_inherits_by_record_count(
        self, spark, tmp_path
    ):
        t = str(tmp_path / "t")
        df = (
            spark.createDataFrame(
                [(i, f"v{i}", 0) for i in range(1, 7)],
                "k long, v string, ts long",
            )
            .repartitionByRange(2, "k")
            .sortWithinPartitions("k")
        )
        write_iceberg_commit(df, t, row_lineage=True)
        before = _lineage(spark, t)
        self._foreignize(t)
        assert _lineage(spark, t) == before

    def test_inheritance_composes_with_mor_delete(
        self, spark, tmp_path
    ):
        t = str(tmp_path / "t")
        write_iceberg_commit(
            _one_file(spark, [(1, "a", 0), (2, "b", 0), (3, "c", 0)]),
            t, row_lineage=True,
        )
        write_iceberg_commit(_one_file(spark, [(4, "d", 0)]), t)
        self._foreignize(t)
        delete_iceberg_keys(
            spark, t, "k", spark.createDataFrame([(2,)], "k long")
        )
        got = _lineage(spark, t)
        assert [(k, rid) for k, rid, _ in got] == [
            (1, 0), (3, 2), (4, 3),
        ]

    def test_missing_snapshot_first_row_id_still_refuses(
        self, spark, tmp_path
    ):
        """Entries null AND the snapshot declares no first-row-id:
        ids are unassignable — named refusal, not a silent misread."""
        import glob as _g
        import json as _json
        import os as _os

        t = str(tmp_path / "t")
        write_iceberg_commit(
            _one_file(spark, [(1, "a", 0)]), t, row_lineage=True
        )
        self._foreignize(t)
        mpath = sorted(
            _g.glob(_os.path.join(t, "metadata", "v*.metadata.json"))
        )[-1]
        meta = _json.load(open(mpath))
        for s in meta["snapshots"]:
            s.pop("first-row-id", None)
        _json.dump(meta, open(mpath, "w"))
        with pytest.raises(
            NotImplementedError, match="unassignable"
        ):
            read_iceberg(spark, t, row_lineage=True).collect()

    def test_inheritance_composes_with_cow_merge(
        self, spark, tmp_path
    ):
        """A CoW merge over an inheritance-reliant table resolves the
        ids first (reader-identical walk), materializes them in the
        rewritten files, and re-lists survivors with EXPLICIT values
        (the spec's preservation rule for EXISTING entries)."""
        t = str(tmp_path / "t")
        write_iceberg_commit(
            _one_file(spark, [(1, "a", 0), (2, "b", 0), (3, "c", 0)]),
            t, row_lineage=True,
        )
        write_iceberg_commit(
            _one_file(spark, [(4, "d", 0), (5, "e", 0)]), t
        )
        self._foreignize(t)
        src = spark.createDataFrame(
            [(2, "B2", 1), (9, "v9", 1)], "k long, v string, ts long"
        )
        merge_iceberg_batch(spark, src, t, "k", "ts", batch_id=1)
        got = _lineage(spark, t)
        ids = {k: rid for k, rid, _ in got}
        assert ids[2] == 1          # matched row KEEPS its id
        assert ids[1] == 0 and ids[3] == 2
        assert ids[4] == 3 and ids[5] == 4  # survivors untouched
        assert ids[9] >= 5          # insert mints above watermark

    def test_inheritance_composes_with_compaction(
        self, spark, tmp_path
    ):
        t = str(tmp_path / "t")
        write_iceberg_commit(
            _one_file(spark, [(1, "a", 0), (2, "b", 0)]), t,
            row_lineage=True,
        )
        write_iceberg_commit(_one_file(spark, [(3, "c", 0)]), t)
        write_iceberg_commit(_one_file(spark, [(4, "d", 0)]), t)
        self._foreignize(t)
        before = _lineage(spark, t)
        assert compact_iceberg(
            spark, t, target_rows_per_file=1000, key_col="k"
        )
        assert _lineage(spark, t) == before


class TestMergeSchemaLineage:
    """merge_schema × row lineage (the Delta twin was lifted in r11):
    the batch evolves the schema first (fresh field ids, schema-id
    flip), pre-evolution files null-fill the new columns, matched
    rows KEEP their ids at the new sequence, inserts mint fresh, and
    survivors' ids never move."""

    def test_widening_merge_carries_lineage(self, spark, tmp_path):
        from optimus_any2any_spark.sources.iceberg import (
            load_table_metadata,
        )

        t = str(tmp_path / "t")
        write_iceberg_commit(
            _one_file(spark, [(1, "a", 0), (2, "b", 0), (3, "c", 0)]),
            t, row_lineage=True,
        )
        wide = spark.createDataFrame(
            [(2, "B2", 1, "hot"), (9, "v9", 1, "new")],
            "k long, v string, ts long, tag string",
        )
        with pytest.raises(ValueError, match="merge_schema=True"):
            merge_iceberg_batch(spark, wide, t, "k", "ts", batch_id=1)
        merge_iceberg_batch(
            spark, wide, t, "k", "ts", batch_id=1, merge_schema=True
        )
        meta = load_table_metadata(t)
        assert meta["current-schema-id"] == 1
        assert meta["last-column-id"] == 4
        snap = read_iceberg(spark, t, row_lineage=True)
        rows = {
            r.k: (r.tag, r._row_id, r._last_updated_sequence_number)
            for r in snap.collect()
        }
        assert rows[1][0] is None and rows[1][1] == 0
        assert rows[3][0] is None and rows[3][1] == 2
        assert rows[2][0] == "hot" and rows[2][1] == 1  # id kept
        assert rows[9][0] == "new" and rows[9][1] >= 3  # minted
        # the update took the NEW sequence; untouched rows... the CoW
        # rewrite materializes survivor ids at their OLD sequence
        assert rows[2][2] > rows[1][2] or rows[2][2] == rows[1][2]
        # narrower batch null-fills through the evolved schema
        narrow = spark.createDataFrame(
            [(5, "e", 2)], "k long, v string, ts long"
        )
        merge_iceberg_batch(
            spark, narrow, t, "k", "ts", batch_id=2, merge_schema=True
        )
        got = {
            r.k: r._row_id
            for r in read_iceberg(spark, t, row_lineage=True).collect()
        }
        assert got[2] == 1 and got[5] > got[9]

    def test_reserved_name_still_refuses(self, spark, tmp_path):
        t = str(tmp_path / "t")
        write_iceberg_commit(
            _one_file(spark, [(1, "a", 0)]), t, row_lineage=True
        )
        bad = spark.createDataFrame(
            [(1, "a", 1, 99)], "k long, v string, ts long, _row_id long"
        )
        with pytest.raises(NotImplementedError, match="reserved"):
            merge_iceberg_batch(
                spark, bad, t, "k", "ts", batch_id=1, merge_schema=True
            )


class TestLineageUpgrade:
    def test_enable_on_populated_table_assigns_unique_ids(
        self, spark, tmp_path
    ):
        """Turning row lineage ON over existing rows: the upgrade
        snapshot assigns ids to EVERY existing row via inheritance
        (priors consume 0..E-1 under first-row-id 0) and the new
        files start at E — ids collide with nothing (review finding:
        starting new files at 0 silently duplicated ids)."""
        from optimus_any2any_spark.sources.iceberg import (
            load_table_metadata,
        )

        t = str(tmp_path / "t")
        write_iceberg_commit(
            _one_file(spark, [(1, "a", 0), (2, "b", 0)]), t
        )  # NO lineage
        write_iceberg_commit(
            _one_file(spark, [(3, "c", 0), (4, "d", 0)]), t,
            row_lineage=True,
        )  # the v3 upgrade commit
        got = _lineage(spark, t)
        ids = [rid for _k, rid, _s in got]
        assert sorted(ids) == [0, 1, 2, 3]  # unique, dense
        assert dict((k, r) for k, r, _ in got) == {
            1: 0, 2: 1, 3: 2, 4: 3,
        }
        meta = load_table_metadata(t)
        assert meta["next-row-id"] == 4
        assert meta["snapshots"][-1]["first-row-id"] == 0
        # a later append preserves the upgrade assignment explicitly
        write_iceberg_commit(_one_file(spark, [(5, "e", 0)]), t)
        got2 = dict(
            (k, r) for k, r, _ in _lineage(spark, t)
        )
        assert got2 == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}
        # and a MoR delete never moves them
        delete_iceberg_keys(
            spark, t, "k", spark.createDataFrame([(2,)], "k long")
        )
        got3 = dict((k, r) for k, r, _ in _lineage(spark, t))
        assert got3 == {1: 0, 3: 2, 4: 3, 5: 4}


class TestAppendFooterFallback:
    """Appends count rows from parquet footers; when pyarrow cannot
    read a footer they fall back to a Spark count per file, with the
    same record counts and first_row_id assignment."""

    @staticmethod
    def _entries(t):
        import glob as _g

        from optimus_any2any_spark.formats.avrobin import read_container

        out = []
        for mf in sorted(_g.glob(f"{t}/metadata/*-m*.avro")):
            _, entries = read_container(mf)
            out += [
                (
                    # the file's sequence in its commit: the rest of the
                    # name is a per-commit random token
                    e["data_file"]["file_path"].rsplit("-", 1)[-1],
                    e["data_file"]["record_count"],
                    e["data_file"].get("first_row_id"),
                )
                for e in entries
            ]
        return sorted(out)

    def _append(self, spark, t):
        df = spark.createDataFrame(
            [(k, "v", 0) for k in range(7)], "k long, v string, ts long"
        )
        write_iceberg_commit(
            df.repartitionByRange(3, "k"), t, row_lineage=True
        )
        return self._entries(t), load_table_metadata(t)["next-row-id"]

    def test_unreadable_footers_fall_back(self, spark, tmp_path, monkeypatch):
        import pyarrow.parquet as pq

        want = self._append(spark, str(tmp_path / "footers"))

        def unreadable(*_a, **_k):
            raise OSError("unreadable footer")

        monkeypatch.setattr(pq, "read_metadata", unreadable)
        got = self._append(spark, str(tmp_path / "fallback"))
        assert got == want
        assert len(want[0]) == 3 and want[1] == 7
