"""Iceberg WAP — write-audit-publish (spark.wap.branch +
fast_forward): branch-targeted appends stay invisible to main until
publish_iceberg_branch fast-forwards. On authoritative tables (every
snapshot parent-stamped) MULTIPLE branches stage concurrently and
main advances alongside them — readers/streams window history by the
main-ancestry chain (iceberg_main_chain), never list position.
Legacy tables (pre-stamp merge snapshots) keep the r12 single-flight
refusals."""

from __future__ import annotations

import pytest

from optimus_any2any_spark.sources.iceberg import (
    load_table_metadata,
    read_iceberg,
    read_iceberg_changes,
)
from optimus_any2any_spark.streaming.iceberg_table import (
    compact_iceberg,
    delete_iceberg_keys,
    drop_iceberg_ref,
    merge_iceberg_batch,
    publish_iceberg_branch,
    write_iceberg_commit,
)


def _rows(spark, vals):
    return spark.createDataFrame(vals, "id long, v string")


def _read(spark, t, **kw):
    return sorted(
        (r.id, r.v) for r in read_iceberg(spark, t, **kw).collect()
    )


class TestWapFlow:
    def test_branch_write_audit_publish(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a"), (2, "b")]), t)
        write_iceberg_commit(
            _rows(spark, [(3, "c")]), t, branch="audit"
        )
        # main (and every default reader) sees NOTHING yet
        assert _read(spark, t) == [(1, "a"), (2, "b")]
        assert read_iceberg_changes(spark, t).count() == 2
        # the branch read sees the staged data
        assert _read(spark, t, ref="audit") == [
            (1, "a"), (2, "b"), (3, "c"),
        ]
        meta = load_table_metadata(t)
        assert meta["refs"]["audit"]["type"] == "branch"
        # publish: main fast-forwards atomically
        publish_iceberg_branch(spark, t, "audit", drop_branch=True)
        assert _read(spark, t) == [(1, "a"), (2, "b"), (3, "c")]
        assert "audit" not in (load_table_metadata(t).get("refs") or {})
        # the changelog now reports the published snapshot's inserts
        assert read_iceberg_changes(spark, t).count() == 3

    def test_branch_commits_stack(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a")]), t)
        write_iceberg_commit(_rows(spark, [(2, "b")]), t, branch="w")
        write_iceberg_commit(_rows(spark, [(3, "c")]), t, branch="w")
        assert _read(spark, t) == [(1, "a")]
        assert _read(spark, t, ref="w") == [
            (1, "a"), (2, "b"), (3, "c"),
        ]
        publish_iceberg_branch(spark, t, "w")
        assert _read(spark, t) == [(1, "a"), (2, "b"), (3, "c")]
        # publish again: no-op, no version burn
        v = publish_iceberg_branch(spark, t, "w")
        assert publish_iceberg_branch(spark, t, "w") == v

    def test_main_writers_advance_while_branch_staged(
        self, spark, tmp_path
    ):
        """Multi-branch WAP (VERDICT r12 item 5): on an authoritative
        table (every snapshot parent-stamped) main keeps advancing
        while a branch stages — readers window by the MAIN-ANCESTRY
        chain, so the staged snapshot never appears in main reads or
        the changelog until published."""
        t = str(tmp_path / "tbl")

        def _tsrows(vals):
            return spark.createDataFrame(
                vals, "id long, v string, ts long"
            )

        write_iceberg_commit(_tsrows([(1, "a", 0), (2, "b", 0)]), t)
        write_iceberg_commit(_tsrows([(3, "c", 0)]), t, branch="w")
        write_iceberg_commit(_tsrows([(9, "z", 0)]), t)  # main
        assert _read(spark, t) == [(1, "a"), (2, "b"), (9, "z")]
        merge_iceberg_batch(
            spark, _tsrows([(1, "A", 1)]), t, "id", "ts", batch_id=1,
        )
        delete_iceberg_keys(
            spark, t, "id",
            spark.createDataFrame([(2,)], "id long"),
        )
        assert _read(spark, t) == [(1, "A"), (9, "z")]
        # the changelog never mentions the staged branch row
        assert all(
            r.id != 3
            for r in read_iceberg_changes(spark, t).collect()
        )
        # the branch still holds its staged view (pre-main-advance)
        assert _read(spark, t, ref="w") == [
            (1, "a"), (2, "b"), (3, "c"),
        ]
        # main advanced past the branch base: a fast-forward publish
        # is no longer possible — refuse, never merge histories
        with pytest.raises(ValueError, match="not a fast-forward"):
            publish_iceberg_branch(spark, t, "w")
        drop_iceberg_ref(spark, t, "w")
        assert _read(spark, t) == [(1, "A"), (9, "z")]

    def test_legacy_table_stays_single_flight(self, spark, tmp_path):
        """A table whose history predates parent stamping (list order
        IS history there) keeps the r12 single-flight refusals: strip
        the parent pointers to simulate the legacy layout."""
        import json
        import os

        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a")]), t)
        write_iceberg_commit(_rows(spark, [(2, "b")]), t)
        md = os.path.join(t, "metadata")
        hint = int(open(os.path.join(md, "version-hint.text")).read())
        p = os.path.join(md, f"v{hint}.metadata.json")
        meta = json.loads(open(p).read())
        for s in meta["snapshots"]:
            s.pop("parent-snapshot-id", None)
        # a true legacy table was written before the creation-time
        # authoritative mark existed — strip that too
        (meta.get("properties") or {}).pop(
            "optimus.parent-stamped", None
        )
        with open(p, "w") as f:
            f.write(json.dumps(meta))
        write_iceberg_commit(_rows(spark, [(3, "c")]), t, branch="w")
        with pytest.raises(ValueError, match="unpublished"):
            write_iceberg_commit(_rows(spark, [(9, "z")]), t)
        with pytest.raises(ValueError, match="unpublished"):
            compact_iceberg(spark, t, target_rows_per_file=10)
        # dropping the branch clears the gate
        drop_iceberg_ref(spark, t, "w")
        write_iceberg_commit(_rows(spark, [(9, "z")]), t)
        assert _read(spark, t) == [(1, "a"), (2, "b"), (9, "z")]

    def test_publish_guards(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a")]), t)
        with pytest.raises(ValueError, match="no branch"):
            publish_iceberg_branch(spark, t, "nope")
        # a tag is not publishable
        from optimus_any2any_spark.streaming.iceberg_table import (
            set_iceberg_ref,
        )

        set_iceberg_ref(spark, t, "v1", ref_type="tag")
        with pytest.raises(ValueError, match="no branch"):
            publish_iceberg_branch(spark, t, "v1")

    def test_post_publish_lifecycle(self, spark, tmp_path):
        """After publish the table is an ordinary linear table: MoR
        delete, merge and the changelog all run."""
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a"), (2, "b")]), t)
        write_iceberg_commit(
            _rows(spark, [(3, "c"), (4, "d")]), t, branch="w"
        )
        publish_iceberg_branch(spark, t, "w", drop_branch=True)
        delete_iceberg_keys(
            spark, t, "id", spark.createDataFrame([(2,)], "id long")
        )
        assert _read(spark, t) == [(1, "a"), (3, "c"), (4, "d")]
        ch = sorted(
            (r._change_type, r.id)
            for r in read_iceberg_changes(spark, t).collect()
        )
        assert ch == [
            ("DELETE", 2),
            ("INSERT", 1), ("INSERT", 2),
            ("INSERT", 3), ("INSERT", 4),
        ]

    def test_lineage_table_branch_write(self, spark, tmp_path):
        """Row lineage composes: branch appends consume global
        next-row-id, so published ids are unique and ordered."""
        t = str(tmp_path / "tbl")
        df1 = (
            spark.createDataFrame(
                [(1, "a", 0), (2, "b", 0)], "k long, v string, ts long"
            ).repartitionByRange(1, "k").sortWithinPartitions("k")
        )
        write_iceberg_commit(df1, t, row_lineage=True)
        df2 = (
            spark.createDataFrame(
                [(3, "c", 0)], "k long, v string, ts long"
            ).repartitionByRange(1, "k")
        )
        write_iceberg_commit(df2, t, branch="w")
        publish_iceberg_branch(spark, t, "w", drop_branch=True)
        got = sorted(
            (r.k, r._row_id)
            for r in read_iceberg(
                spark, t, row_lineage=True
            ).collect()
        )
        assert got == [(1, 0), (2, 1), (3, 2)]
        assert load_table_metadata(t)["next-row-id"] == 3


class TestWapStreams:
    def test_stream_never_leaks_unpublished(self, spark, tmp_path):
        """iceberg_tail caps its offset window at the MAIN head:
        unpublished branch snapshots are invisible to the stream and
        flow only after publish."""
        import time

        from optimus_any2any_spark.sources.iceberg_stream import (
            IcebergTailDataSource,
        )

        spark.dataSource.register(IcebergTailDataSource)
        t = str(tmp_path / "tbl")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        write_iceberg_commit(_rows(spark, [(1, "a")]), t)
        write_iceberg_commit(_rows(spark, [(2, "b")]), t, branch="w")

        def run():
            q = (
                spark.readStream.format("iceberg_tail")
                .option("path", t)
                .load()
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            time.sleep(0.2)

        run()
        got = sorted(r.id for r in spark.read.parquet(out).collect())
        assert got == [1]  # the staged snapshot did NOT stream
        publish_iceberg_branch(spark, t, "w", drop_branch=True)
        run()
        got = sorted(r.id for r in spark.read.parquet(out).collect())
        assert got == [1, 2]  # delivered exactly once, after publish

    def test_stream_never_leaks_two_branches(self, spark, tmp_path):
        """Two concurrent branches + a main advance: the stream
        windows by the main-ancestry CHAIN, so it delivers main's
        rows while both branches stage, then each branch's rows only
        as its publish lands them on main — and never the orphaned
        snapshot of a dropped branch."""
        import time

        from optimus_any2any_spark.sources.iceberg_stream import (
            IcebergTailDataSource,
        )

        spark.dataSource.register(IcebergTailDataSource)
        t = str(tmp_path / "tbl")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        write_iceberg_commit(_rows(spark, [(1, "a")]), t)
        write_iceberg_commit(_rows(spark, [(2, "b")]), t, branch="x")
        write_iceberg_commit(_rows(spark, [(3, "c")]), t, branch="y")
        write_iceberg_commit(_rows(spark, [(4, "d")]), t)  # main

        def run():
            q = (
                spark.readStream.format("iceberg_tail")
                .option("path", t)
                .load()
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            time.sleep(0.2)

        run()
        got = sorted(r.id for r in spark.read.parquet(out).collect())
        assert got == [1, 4]  # neither staged branch leaked
        # x's base predates main's advance: drop it (orphan stays in
        # the metadata list but never on the chain)
        drop_iceberg_ref(spark, t, "x")
        write_iceberg_commit(_rows(spark, [(5, "e")]), t, branch="y2")
        run()
        got = sorted(r.id for r in spark.read.parquet(out).collect())
        assert got == [1, 4]
        publish_iceberg_branch(spark, t, "y2", drop_branch=True)
        run()
        got = sorted(r.id for r in spark.read.parquet(out).collect())
        assert got == [1, 4, 5]  # published rows only; orphan 2 never


class TestWapMultiBranch:
    def test_two_branches_stage_concurrently(self, spark, tmp_path):
        """VERDICT r12 item 5: per-branch heads in refs, independent
        staging. Publishing the first is a fast-forward; the second —
        now based on a stale main — refuses (divergent histories are
        never merged) and re-stages on the new head."""
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a")]), t)
        write_iceberg_commit(_rows(spark, [(2, "b")]), t, branch="a")
        write_iceberg_commit(_rows(spark, [(3, "c")]), t, branch="b")
        # both stack independently; main sees neither
        write_iceberg_commit(_rows(spark, [(4, "d")]), t, branch="a")
        assert _read(spark, t) == [(1, "a")]
        assert _read(spark, t, ref="a") == [
            (1, "a"), (2, "b"), (4, "d"),
        ]
        assert _read(spark, t, ref="b") == [(1, "a"), (3, "c")]
        assert read_iceberg_changes(spark, t).count() == 1
        publish_iceberg_branch(spark, t, "a", drop_branch=True)
        assert _read(spark, t) == [(1, "a"), (2, "b"), (4, "d")]
        # b's base predates a's publish: not a fast-forward
        with pytest.raises(ValueError, match="not a fast-forward"):
            publish_iceberg_branch(spark, t, "b")
        drop_iceberg_ref(spark, t, "b")
        # re-staged on the new main head, b publishes cleanly
        write_iceberg_commit(_rows(spark, [(5, "e")]), t, branch="b")
        publish_iceberg_branch(spark, t, "b", drop_branch=True)
        assert _read(spark, t) == [
            (1, "a"), (2, "b"), (4, "d"), (5, "e"),
        ]
        # the changelog never saw the ORPHANED first b-snapshot
        ch = sorted(
            r.id for r in read_iceberg_changes(spark, t).collect()
        )
        assert ch == [1, 2, 4, 5]

    def test_sequential_branches_publish_independently(
        self, spark, tmp_path
    ):
        """A branch created AFTER another published fast-forwards on
        top of it — overlapping branch lifetimes, linear publishes."""
        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a")]), t)
        write_iceberg_commit(_rows(spark, [(2, "b")]), t, branch="a")
        publish_iceberg_branch(spark, t, "a", drop_branch=True)
        write_iceberg_commit(_rows(spark, [(3, "c")]), t, branch="b")
        publish_iceberg_branch(spark, t, "b", drop_branch=True)
        assert _read(spark, t) == [(1, "a"), (2, "b"), (3, "c")]
        assert read_iceberg_changes(spark, t).count() == 3

    def test_expire_protects_unpublished_branch_chain(
        self, spark, tmp_path
    ):
        """Snapshot expiration keeps the whole unpublished ancestor
        closure of a branch alive — expiring a mid-branch snapshot
        would break the publish fast-forward walk."""
        from optimus_any2any_spark.streaming.iceberg_table import (
            expire_iceberg_snapshots,
        )

        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a")]), t)
        write_iceberg_commit(_rows(spark, [(2, "b")]), t)
        write_iceberg_commit(_rows(spark, [(3, "c")]), t, branch="w")
        write_iceberg_commit(_rows(spark, [(4, "d")]), t, branch="w")
        expire_iceberg_snapshots(spark, t, keep_last=1)
        # both staged branch snapshots survived the expiry
        publish_iceberg_branch(spark, t, "w", drop_branch=True)
        assert _read(spark, t) == [
            (1, "a"), (2, "b"), (3, "c"), (4, "d"),
        ]

    def test_fresh_table_branch_streams_nothing(self, spark, tmp_path):
        """Review finding: current-snapshot-id == -1 bypassed the
        stream's main-head cap — a fresh table whose only commits are
        on a branch must stream NOTHING before publish."""
        import time

        from optimus_any2any_spark.sources.iceberg_stream import (
            IcebergTailDataSource,
        )

        spark.dataSource.register(IcebergTailDataSource)
        t = str(tmp_path / "tbl")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        write_iceberg_commit(
            _rows(spark, [(1, "a")]), t, branch="w"
        )

        def run():
            q = (
                spark.readStream.format("iceberg_tail")
                .option("path", t)
                .load()
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            time.sleep(0.2)

        run()
        import glob as _g
        import os as _os
        files = [
            f for f in _g.glob(_os.path.join(out, "*.parquet"))
            if _os.path.getsize(f) > 0
        ]
        got = (
            sorted(r.id for r in spark.read.parquet(out).collect())
            if files
            else []
        )
        assert got == []
        publish_iceberg_branch(spark, t, "w")
        run()
        got = sorted(r.id for r in spark.read.parquet(out).collect())
        assert got == [1]

    def test_tail_stream_skips_replace_snapshots(self, spark, tmp_path):
        """Review finding: the tail stream raised on 'replace'
        snapshots — a running stream crossing a compaction or
        rewrite_manifests died. It now skips them (no logical rows),
        like the changes reader."""
        import time

        from optimus_any2any_spark.sources.iceberg_stream import (
            IcebergTailDataSource,
        )
        from optimus_any2any_spark.streaming.iceberg_table import (
            compact_iceberg,
            rewrite_iceberg_manifests,
        )

        spark.dataSource.register(IcebergTailDataSource)
        t = str(tmp_path / "tbl")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        write_iceberg_commit(_rows(spark, [(1, "a")]), t)
        write_iceberg_commit(_rows(spark, [(2, "b")]), t)

        def run():
            q = (
                spark.readStream.format("iceberg_tail")
                .option("path", t)
                .load()
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            time.sleep(0.2)

        run()
        assert compact_iceberg(
            spark, t, target_rows_per_file=1000, key_col="id"
        )
        assert rewrite_iceberg_manifests(spark, t, min_manifests=1)
        write_iceberg_commit(_rows(spark, [(3, "c")]), t)
        run()  # crosses the replace snapshots without dying
        got = sorted(r.id for r in spark.read.parquet(out).collect())
        assert got == [1, 2, 3]  # rewritten rows never re-deliver


class TestReviewR13Pins:
    def test_branch_first_bootstrap_never_leaks(self, spark, tmp_path):
        """Review finding: a FRESH table whose first commit targets a
        branch, followed by a main write, produced a parentless main
        snapshot that flipped the table to list-order history — the
        unpublished branch row leaked into the changelog. The
        creation-time ``optimus.parent-stamped`` mark keeps ancestry
        authoritative, so the chain is [main] and nothing leaks."""
        from optimus_any2any_spark.sources.iceberg import (
            _chain_authoritative,
            iceberg_main_chain,
        )

        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a")]), t, branch="w")
        write_iceberg_commit(_rows(spark, [(2, "b")]), t)
        meta = load_table_metadata(t)
        assert _chain_authoritative(meta)
        chain = [s["snapshot-id"] for s in iceberg_main_chain(meta)]
        assert chain == [meta["current-snapshot-id"]]
        assert _read(spark, t) == [(2, "b")]
        got = sorted(
            (r.id, r.v)
            for r in read_iceberg_changes(spark, t)
            .select("id", "v")
            .collect()
        )
        assert got == [(2, "b")]  # the staged (1,'a') never appears
        # main advanced past the branch head: publish is no longer a
        # fast-forward and refuses (real Iceberg's fast_forward
        # contract); dropping the divergent branch stays available
        with pytest.raises(ValueError, match="fast-forward"):
            publish_iceberg_branch(spark, t, "w")
        drop_iceberg_ref(spark, t, "w")
        assert _read(spark, t) == [(2, "b")]

    def test_rollback_omits_null_parent(self, spark, tmp_path):
        """Review finding: rollback stamped ``parent-snapshot-id:
        None`` when the main head was unset, which permanently demoted
        heuristic-governed tables to list-order history. The key must
        be OMITTED, never explicitly null."""
        import json
        import os

        from optimus_any2any_spark.streaming.iceberg_table import (
            rollback_iceberg,
        )

        t = str(tmp_path / "tbl")
        write_iceberg_commit(_rows(spark, [(1, "a")]), t, branch="w")
        md = os.path.join(t, "metadata")
        hint = int(open(os.path.join(md, "version-hint.text")).read())
        meta = json.loads(
            open(os.path.join(md, f"v{hint}.metadata.json")).read()
        )
        s1 = meta["snapshots"][0]["snapshot-id"]
        assert meta.get("current-snapshot-id") in (None, -1)
        rollback_iceberg(spark, t, s1)
        meta2 = load_table_metadata(t)
        rolled = meta2["snapshots"][-1]
        assert rolled["summary"]["operation"] == "rollback"
        assert "parent-snapshot-id" not in rolled
