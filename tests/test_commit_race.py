"""A second writer against the commit protocol, for both table formats.

The Delta log entry and the Iceberg ``v<N>.metadata.json`` land through
one put-if-absent log store (``streaming/merge_core.set_log_store``),
and every staged and published name carries a random per-commit
token. A writer that opened the table at an older version therefore
loses its commit with ``IOError`` and has overwritten nothing the
winner committed.
"""

from __future__ import annotations

import copy
import os
import threading

import pytest

from optimus_any2any_spark.sources import iceberg as ice
from optimus_any2any_spark.sources.iceberg import read_iceberg
from optimus_any2any_spark.streaming.iceberg_table import write_iceberg_commit
from optimus_any2any_spark.streaming import delta_table, merge_core
from optimus_any2any_spark.streaming.delta_table import (
    merge_delta_batch,
    set_data_store,
    set_log_store,
    write_delta_commit,
)


def _rows(spark, vals):
    return spark.createDataFrame(vals, "k long, v string").coalesce(1)


def _snap(df):
    return sorted((r.k, r.v) for r in df.collect())


def _file_bytes(d):
    out = {}
    for n in sorted(os.listdir(d)):
        with open(os.path.join(d, n), "rb") as f:
            out[n] = f.read()
    return out


class TestIcebergSecondWriter:
    def test_stale_writer_loses_and_overwrites_nothing(
        self, spark, tmp_path, monkeypatch
    ):
        t = str(tmp_path / "tbl")
        md = os.path.join(t, "metadata")
        write_iceberg_commit(_rows(spark, [(1, "base")]), t)
        stale = (1, ice.load_table_metadata(t))  # writer B opens at v1
        write_iceberg_commit(_rows(spark, [(2, "A")]), t)  # A: v2
        a_data = _file_bytes(os.path.join(t, "data"))
        with open(os.path.join(md, "v2.metadata.json")) as f:
            a_meta = f.read()
        # B's view stays at v1: its open returns the v1 state, and the
        # hint says 1 (a slow winner's late hint looks the same)
        monkeypatch.setattr(
            ice, "open_iceberg_table", lambda p: copy.deepcopy(stale),
            raising=False,
        )
        with open(os.path.join(md, "version-hint.text"), "w") as f:
            f.write("1")
        with pytest.raises(IOError, match="lost the race"):
            write_iceberg_commit(_rows(spark, [(3, "B")]), t)
        monkeypatch.undo()
        after = _file_bytes(os.path.join(t, "data"))
        assert {n: after[n] for n in a_data} == a_data
        with open(os.path.join(md, "v2.metadata.json")) as f:
            assert f.read() == a_meta
        # the hint is still one version behind: reads and the next
        # commit step past it
        assert _snap(read_iceberg(spark, t)) == [(1, "base"), (2, "A")]
        assert write_iceberg_commit(_rows(spark, [(3, "C")]), t) == 3
        with open(os.path.join(md, "version-hint.text")) as f:
            assert f.read() == "3"

    def test_injected_log_store_decides_the_race(self, spark, tmp_path):
        # one seam governs both formats: the Delta module's
        # set_log_store is the shared one
        t = str(tmp_path / "tbl")
        md = os.path.join(t, "metadata")
        write_iceberg_commit(_rows(spark, [(1, "a")]), t)
        calls = []

        def store_already_holds_it(tmp, final):
            # an object store whose conditional PUT found the version
            # taken by a writer this process cannot see
            calls.append(os.path.basename(final))
            return False

        set_log_store(store_already_holds_it)
        try:
            with pytest.raises(IOError, match="lost the race"):
                write_iceberg_commit(_rows(spark, [(2, "b")]), t)
        finally:
            set_log_store(None)
        assert merge_core._put_if_absent is merge_core._posix_put_if_absent
        assert calls == ["v2.metadata.json"]
        assert not os.path.exists(os.path.join(md, "v2.metadata.json"))
        with open(os.path.join(md, "version-hint.text")) as f:
            assert f.read() == "1"
        assert [n for n in os.listdir(md) if n.endswith(".tmp")] == []
        assert _snap(read_iceberg(spark, t)) == [(1, "a")]


class TestIcebergDataSeam:
    def test_every_file_goes_through_the_data_store(self, spark, tmp_path):
        # one set_data_store governs both formats: every data, delete
        # and Puffin file an Iceberg writer adds is published through it
        from optimus_any2any_spark.streaming.iceberg_table import (
            compact_iceberg,
            delete_iceberg_keys,
            delete_iceberg_positions,
            merge_iceberg_batch,
            update_iceberg_where,
        )

        t = str(tmp_path / "tbl")
        puts = []

        def put_data(src, dst):
            puts.append(os.path.normpath(dst))
            os.replace(src, dst)

        def kv(vals):
            return spark.createDataFrame(vals, "k long, v string, ts long")

        def keys(*ks):
            return spark.createDataFrame([(k,) for k in ks], "k long")

        set_data_store(put_data)
        try:
            write_iceberg_commit(
                kv([(1, "a", 0), (2, "a", 0)]).coalesce(1), t
            )
            merge_iceberg_batch(
                spark, kv([(2, "m", 1), (3, "m", 1), (4, "m", 1)]), t,
                "k", "ts",
            )
            update_iceberg_where(spark, t, {"v": "'u'"}, "k = 3")
            assert compact_iceberg(spark, t) is not None
            delete_iceberg_keys(spark, t, "k", keys(1))
            delete_iceberg_positions(
                spark, t, "k", keys(4), use_deletion_vectors=True
            )
        finally:
            set_data_store(None)
        data = os.path.join(t, "data")
        assert sorted(puts) == sorted(
            os.path.join(data, n) for n in os.listdir(data)
        )
        assert {os.path.splitext(p)[1] for p in puts} == {
            ".parquet", ".puffin"
        }
        assert _snap(read_iceberg(spark, t)) == [(2, "m"), (3, "u")]
        assert merge_core._put_data is merge_core._posix_put_data


class TestDeltaSecondWriter:
    def test_loser_data_puts_never_replace_winner_files(
        self, spark, tmp_path
    ):
        from optimus_any2any_spark.sources.delta import read_delta

        t = str(tmp_path / "tbl")

        def kv(vals):
            return spark.createDataFrame(vals, "k long, v string, ts long")

        merge_delta_batch(spark, kv([(1, "base", 0), (2, "base", 0)]), t,
                          "k", "ts")
        loser_opened = threading.Event()
        winner_committed = threading.Event()

        def put_data(src, dst):
            # the loser has replayed the log before its first data put;
            # hold its puts until the winner's commit has landed
            if threading.current_thread().name == "loser":
                loser_opened.set()
                if not winner_committed.wait(120):
                    raise TimeoutError("winner never committed")
            os.replace(src, dst)

        def link(tmp, final):
            try:
                os.link(tmp, final)
                return True
            except FileExistsError:
                return False

        def put_log(tmp, final):
            if threading.current_thread().name == "winner":
                if not loser_opened.wait(120):
                    raise TimeoutError("loser never reached its puts")
                try:
                    return link(tmp, final)
                finally:
                    winner_committed.set()
            return link(tmp, final)

        errors: dict[str, BaseException] = {}

        def run(name, v):
            try:
                merge_delta_batch(spark, kv([(1, v, 1)]), t, "k", "ts")
            except BaseException as e:  # recorded, asserted below
                errors[name] = e
                loser_opened.set()
                winner_committed.set()

        set_data_store(put_data)
        set_log_store(put_log)
        try:
            threads = [
                threading.Thread(target=run, args=(n, n), name=n)
                for n in ("winner", "loser")
            ]
            for th in threads:
                th.start()
            for th in threads:
                th.join(300)
            assert not any(th.is_alive() for th in threads)
        finally:
            set_data_store(None)
            set_log_store(None)
        assert set(errors) == {"loser"}, errors
        assert isinstance(errors["loser"], IOError)
        assert "lost the race" in str(errors["loser"])
        assert _snap(read_delta(spark, t)) == [(1, "winner"), (2, "base")]

    def test_stale_append_loses_and_shares_no_file_name(
        self, spark, tmp_path, monkeypatch
    ):
        from optimus_any2any_spark.sources.delta import (
            read_delta,
            replay_log,
        )

        t = str(tmp_path / "tbl")

        def data_files():
            out = {}
            for n in os.listdir(t):
                if n.endswith(".parquet"):
                    with open(os.path.join(t, n), "rb") as f:
                        out[n] = f.read()
            return out

        write_delta_commit(_rows(spark, [(1, "base")]), t)
        stale = replay_log(spark, t)  # writer B opens at v0
        write_delta_commit(_rows(spark, [(2, "A")]), t)  # A: v1
        a_files = data_files()
        monkeypatch.setattr(
            delta_table, "_open_state", lambda s, p: copy.deepcopy(stale)
        )
        with pytest.raises(IOError, match="lost the race"):
            write_delta_commit(_rows(spark, [(3, "B")]), t)
        monkeypatch.undo()
        after = data_files()
        # B published its file under its own name; nothing A committed
        # was replaced
        assert len(after) == len(a_files) + 1
        assert {n: after[n] for n in a_files} == a_files
        assert _snap(read_delta(spark, t)) == [(1, "base"), (2, "A")]
        # the append commits through the injected log store
        calls = []

        def store_already_holds_it(tmp, final):
            calls.append(os.path.basename(final))
            return False

        set_log_store(store_already_holds_it)
        try:
            with pytest.raises(IOError, match="lost the race"):
                write_delta_commit(_rows(spark, [(4, "C")]), t)
        finally:
            set_log_store(None)
        assert calls == ["%020d.json" % 2]
