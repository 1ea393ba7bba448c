"""Tests for xlsx/archive converters, policy layer, and streaming."""

from __future__ import annotations

import gzip
import os
import tarfile
import time
import zipfile

import pytest

from optimus_any2any_spark.formats.archive import (
    archive_files,
    nearest_common_parent,
    split_archive_extension,
)
from optimus_any2any_spark.formats.xlsx import write_xlsx
from optimus_any2any_spark.policy import check_connectivity, retry


class TestXlsx:
    def test_roundtrip_zip_structure(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(1, "alice", 3.5, True, None), (2, "bob", 2.0, False, "x")],
            "id long, name string, score double, flag boolean, note string",
        )
        out = tmp_path / "r.xlsx"
        n = write_xlsx(df, str(out))
        assert n == 2
        with zipfile.ZipFile(out) as z:
            names = set(z.namelist())
            assert "xl/worksheets/sheet1.xml" in names
            sheet = z.read("xl/worksheets/sheet1.xml").decode()
        assert "alice" in sheet and 'r="A1"' in sheet
        # header row + 2 data rows
        assert sheet.count("<row ") == 3


class TestArchive:
    def test_split_extension_auto(self):
        assert split_archive_extension("f.json.gz") == ("f.json", "gz")
        assert split_archive_extension("f.csv.zip") == ("f.csv", "zip")
        assert split_archive_extension("d.json.tar.gz") == ("d.json", "tar.gz")
        assert split_archive_extension("f.json") == ("f.json", None)

    def test_zip_many_at_common_parent(self, tmp_path):
        d = tmp_path / "out"
        (d / "a").mkdir(parents=True)
        f1 = d / "a" / "x.json"
        f2 = d / "y.json"
        f1.write_text("1")
        f2.write_text("2")
        arc = archive_files([str(f1), str(f2)], "zip")
        assert os.path.dirname(arc) == str(d)  # nearest common parent
        with zipfile.ZipFile(arc) as z:
            assert set(z.namelist()) == {"a/x.json", "y.json"}
        assert not f1.exists() and not f2.exists()  # sources removed

    def test_targz(self, tmp_path):
        f = tmp_path / "x.json"
        f.write_text("data")
        arc = archive_files([str(f)], "tar.gz")
        with tarfile.open(arc) as t:
            assert t.getnames() == ["x.json"]

    def test_gz_single(self, tmp_path):
        f = tmp_path / "x.json"
        f.write_text("hello")
        arc = archive_files([str(f)], "gz")
        assert gzip.open(arc).read() == b"hello"

    def test_password_zip_aes256(self, tmp_path):
        # WinZip AES-256 like the reference (file_archiver.go:203);
        # round-trip through our own authenticated reader.
        from optimus_any2any_spark.formats.zipsec import read_winzip_aes_entry

        f = tmp_path / "x.json"
        f.write_text("secret")
        arc = archive_files([str(f)], "zip", password="pw")
        with zipfile.ZipFile(arc) as z:  # container readable by stdlib
            info = z.getinfo("x.json")
            assert info.compress_type == 99  # WinZip AES method
            assert info.CRC == 0  # AE-2 zeroes the CRC
        assert read_winzip_aes_entry(arc, "x.json", "pw") == b"secret"
        with pytest.raises(ValueError, match="wrong password"):
            read_winzip_aes_entry(arc, "x.json", "nope")

    def test_password_zip_zipcrypto_stdlib_readable(self, tmp_path):
        # ZipCrypto mode is independently decryptable by the STDLIB
        # zipfile reader — a third-party oracle for the cipher.
        from optimus_any2any_spark.formats.zipsec import write_encrypted_zip

        arc = str(tmp_path / "t.zip")
        write_encrypted_zip(
            arc,
            [("a.json", b'{"k":1}\n'), ("b.csv", b"x,y\n1,2\n" * 100)],
            "hunter2",
            encryption="zipcrypto",
        )
        with zipfile.ZipFile(arc) as z:
            z.setpassword(b"hunter2")
            assert z.read("a.json") == b'{"k":1}\n'
            assert z.read("b.csv") == b"x,y\n1,2\n" * 100
            with pytest.raises(RuntimeError):
                zipfile.ZipFile(arc).read("a.json", pwd=b"wrong")

    def test_aes_entry_tampering_detected(self, tmp_path):
        from optimus_any2any_spark.formats.zipsec import (
            read_winzip_aes_entry,
            write_encrypted_zip,
        )

        arc = str(tmp_path / "t.zip")
        write_encrypted_zip(arc, [("d.bin", b"A" * 1000)], "pw")
        raw = bytearray(open(arc, "rb").read())
        # ciphertext starts after local header(30) + name(5) + extra(11)
        # + salt(16) + verify(2) = byte 64
        raw[66] ^= 0xFF  # flip a ciphertext byte
        open(arc, "wb").write(bytes(raw))
        with pytest.raises(ValueError, match="authentication failed"):
            read_winzip_aes_entry(arc, "d.bin", "pw")


class TestPolicy:
    def test_retry_backoff_sequence(self):
        sleeps: list[float] = []
        calls = {"n": 0}

        def flaky():
            calls["n"] += 1
            if calls["n"] < 3:
                raise RuntimeError("boom")
            return "ok"

        out = retry(flaky, max_attempts=3, backoff_ms=100, sleep=sleeps.append)
        assert out == "ok"
        assert sleeps == [0.1, 0.2]  # 2^i * backoff doubling

    def test_retry_exhausts(self):
        with pytest.raises(RuntimeError):
            retry(lambda: (_ for _ in ()).throw(RuntimeError("x")), 2, 1, sleep=lambda s: None)

    def test_observed_metrics_per_sink(self, spark, tmp_path):
        # Observation-based per-component metrics (commonmetric.go ≙):
        # JVM-side CollectMetrics, no Py4J callback server needed.
        import json

        from optimus_any2any_spark.config import Config
        from optimus_any2any_spark.pipeline import Pipeline
        from optimus_any2any_spark.policy import ActionMetrics

        src = tmp_path / "in.json"
        src.write_text(
            "".join(json.dumps({"id": i}) + "\n" for i in range(5))
        )
        out = tmp_path / "out.json"
        cfg = Config.from_env(
            env_args=[
                f"FILE__SOURCE_URI=file://{src}",
                f"FILE__DESTINATION_URI=file://{out}",
            ],
            environ={},
        )
        metrics = ActionMetrics()
        Pipeline(spark, "FILE", ["FILE"], cfg, metrics=metrics).run()
        assert len(metrics.records) == 1
        rec = metrics.records[0]
        assert rec["action"] == "sink_file"
        assert rec["rows"] == 5
        assert rec["duration_ms"] > 0

    def test_connectivity_check(self):
        import socket

        srv = socket.socket()
        srv.bind(("127.0.0.1", 0))
        srv.listen(1)
        port = srv.getsockname()[1]
        assert check_connectivity("127.0.0.1", port)
        srv.close()
        assert not check_connectivity("127.0.0.1", 1)  # closed port


class TestStreaming:
    def test_windowed_counts_with_late_data(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.streams import (
            run_to_memory,
            stream_source,
            windowed_counts,
        )

        src = tmp_path / "stream"
        src.mkdir()
        (src / "batch1.json").write_text(
            '{"ts": "2024-01-01T00:10:00Z", "event_type": "click"}\n'
            '{"ts": "2024-01-01T00:20:00Z", "event_type": "click"}\n'
            '{"ts": "2024-01-01T01:05:00Z", "event_type": "view"}\n'
        )
        stream = stream_source(
            spark, str(src), "ts timestamp, event_type string"
        )
        assert stream.isStreaming
        result = windowed_counts(stream, window="1 hour", watermark="2 hours")
        # with availableNow + append, windows would wait for the
        # watermark to pass; complete mode emits the final state
        table = run_to_memory(result, "win_counts", output_mode="complete")
        got = {
            (r["window_start"].hour, r["event_type"]): r["n_events"]
            for r in table.collect()
        }
        assert got == {(0, "click"): 2, (1, "view"): 1}

    def test_sessionized_stream(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.streams import (
            run_to_memory,
            sessionized,
            stream_source,
        )

        src = tmp_path / "stream2"
        src.mkdir()
        (src / "b.json").write_text(
            '{"ts": "2024-01-01T00:00:00Z", "user_id": 1}\n'
            '{"ts": "2024-01-01T00:10:00Z", "user_id": 1}\n'
            '{"ts": "2024-01-01T02:00:00Z", "user_id": 1}\n'
        )
        stream = stream_source(spark, str(src), "ts timestamp, user_id long")
        table = run_to_memory(
            sessionized(stream, gap="30 minutes"), "sessions",
            output_mode="complete",
        )
        rows = sorted(table.collect(), key=lambda r: r["session_start"])
        assert len(rows) == 2  # two sessions split by the 30-min gap
        assert rows[0]["n_events"] == 2 and rows[1]["n_events"] == 1


class TestStreamingDedup:
    def test_drop_duplicates_within_watermark(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.streams import (
            deduplicated,
            run_to_memory,
            stream_source,
        )

        src = tmp_path / "dedup_stream"
        src.mkdir()
        (src / "batch1.json").write_text(
            '{"ts": "2024-01-01T00:10:00Z", "k": "a", "v": 1}\n'
            '{"ts": "2024-01-01T00:11:00Z", "k": "a", "v": 2}\n'  # dup key
            '{"ts": "2024-01-01T00:12:00Z", "k": "b", "v": 3}\n'
        )
        stream = stream_source(
            spark, str(src), "ts timestamp, k string, v long"
        )
        result = deduplicated(stream, ["k"], watermark="1 hour")
        table = run_to_memory(result, "dedup_out", output_mode="append")
        rows = {r["k"]: r["v"] for r in table.collect()}
        assert set(rows) == {"a", "b"}
        assert rows["a"] == 1  # first arrival wins


class TestStreamStreamJoin:
    def test_interval_join_within_delay(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.streams import (
            interval_joined,
            run_to_memory,
            stream_source,
        )

        lsrc = tmp_path / "purchases"
        rsrc = tmp_path / "clicks"
        lsrc.mkdir(); rsrc.mkdir()
        (lsrc / "b1.json").write_text(
            '{"ts": "2024-01-01T10:00:00Z", "user": "u1", "order": 1}\n'
            '{"ts": "2024-01-01T12:00:00Z", "user": "u2", "order": 2}\n'
        )
        (rsrc / "b1.json").write_text(
            '{"rts": "2024-01-01T09:30:00Z", "user": "u1", "click": 10}\n'  # in window
            '{"rts": "2024-01-01T08:00:00Z", "user": "u1", "click": 11}\n'  # too old
            '{"rts": "2024-01-01T11:30:00Z", "user": "u2", "click": 12}\n'  # in window
        )
        purchases = stream_source(
            spark, str(lsrc), "ts timestamp, user string, order long"
        )
        clicks = stream_source(
            spark, str(rsrc), "rts timestamp, user string, click long"
        )
        joined = interval_joined(
            purchases, clicks, on="user", max_delay="1 hour"
        )
        table = run_to_memory(joined, "ssjoin", output_mode="append")
        got = sorted((r["order"], r["click"]) for r in table.collect())
        assert got == [(1, 10), (2, 12)]


class TestStreamingUpsert:
    def test_foreachbatch_merge_latest_wins(self, spark, tmp_path):
        from optimus_any2any_spark.streaming.streams import (
            stream_source,
            upsert_to_parquet,
        )

        src = tmp_path / "changes"
        src.mkdir()
        # two files -> with maxFilesPerTrigger=1, two micro-batches;
        # k=1 is updated in the second batch, k=3 arrives new
        (src / "b1.json").write_text(
            '{"k": 1, "v": "a", "ts": "2024-01-01T00:00:00Z"}\n'
            '{"k": 1, "v": "a2", "ts": "2024-01-01T00:05:00Z"}\n'
            '{"k": 2, "v": "b", "ts": "2024-01-01T00:01:00Z"}\n'
        )
        (src / "b2.json").write_text(
            '{"k": 1, "v": "a3", "ts": "2024-01-02T00:00:00Z"}\n'
            '{"k": 3, "v": "c", "ts": "2024-01-02T00:01:00Z"}\n'
        )
        stream = stream_source(
            spark,
            str(src),
            "k long, v string, ts timestamp",
            max_files_per_trigger=1,
        )
        out = tmp_path / "snapshot"
        q = upsert_to_parquet(
            stream, str(out), "k", "ts", str(tmp_path / "ckpt")
        )
        q.awaitTermination()
        snap = {
            r["k"]: r["v"]
            for r in spark.read.parquet(str(out)).collect()
        }
        assert snap == {1: "a3", 2: "b", 3: "c"}

    def test_merge_is_idempotent(self, spark, tmp_path):
        # re-applying the same batch must not change the snapshot —
        # this is what upgrades at-least-once delivery to effectively-once
        from optimus_any2any_spark.streaming.streams import upsert_to_parquet

        out = tmp_path / "snap"
        batch = spark.createDataFrame(
            [(1, "x", "2024-01-01 00:00:00"), (2, "y", "2024-01-01 00:01:00")],
            "k long, v string, ts string",
        ).selectExpr("k", "v", "CAST(ts AS TIMESTAMP) AS ts")

        # drive the inner merge directly, twice
        import optimus_any2any_spark.streaming.streams as S

        class FakeWriter:
            def __init__(self):
                self.fn = None

            def foreachBatch(self, fn):
                self.fn = fn
                return self

            def option(self, *a):
                return self

            def trigger(self, **k):
                return self

            def start(self):
                return self

        class FakeStream:
            writeStream = FakeWriter()

        sink = upsert_to_parquet(
            FakeStream, str(out), "k", "ts", str(tmp_path / "c")
        )
        merge = sink.fn
        merge(batch, 0)
        first = sorted(spark.read.parquet(str(out)).collect())
        merge(batch, 0)  # redelivery
        second = sorted(spark.read.parquet(str(out)).collect())
        assert first == second and len(second) == 2


class TestPartitionedUpsert:
    """Partition-pruned MERGE upsert (VERDICT r2 item 6): only buckets
    touched by a batch are rewritten; staged swaps keep the
    staged-swap sink's crash guarantees."""

    def _run(self, spark, tmp_path, rows, tag):
        import json

        from optimus_any2any_spark.streaming.streams import (
            stream_source,
            upsert_to_parquet_partitioned,
        )

        src = tmp_path / f"in_{tag}"
        src.mkdir(exist_ok=True)
        (src / f"{tag}.json").write_text(
            "\n".join(json.dumps(r) for r in rows)
        )
        q = upsert_to_parquet_partitioned(
            stream_source(
                spark, str(src), "k string, v string, ts timestamp"
            ),
            path=str(tmp_path / "snap"),
            key_col="k",
            ts_col="ts",
            checkpoint=str(tmp_path / f"ckpt_{tag}"),
            n_buckets=8,
        )
        q.awaitTermination()

    @staticmethod
    def _snapshot(spark, tmp_path):
        return {
            r["k"]: r["v"]
            for r in spark.read.parquet(str(tmp_path / "snap")).collect()
        }

    @staticmethod
    def _bucket_state(tmp_path):
        import os

        snap = tmp_path / "snap"
        state = {}
        for d in sorted(os.listdir(snap)):
            if not d.startswith("bucket="):
                continue
            files = sorted(os.listdir(snap / d))
            state[d] = [
                (f, os.stat(snap / d / f).st_mtime_ns) for f in files
            ]
        return state

    def test_merge_and_unchanged_partitions_untouched(self, spark, tmp_path):
        rows1 = [
            {"k": f"key{i}", "v": "old", "ts": "2024-01-01T00:00:00"}
            for i in range(16)
        ]
        self._run(spark, tmp_path, rows1, "b1")
        assert self._snapshot(spark, tmp_path) == {
            f"key{i}": "old" for i in range(16)
        }
        before = self._bucket_state(tmp_path)
        assert len(before) > 2  # keys spread over several buckets

        # batch 2 updates ONE key -> exactly one bucket may change
        rows2 = [{"k": "key3", "v": "new", "ts": "2024-01-02T00:00:00"}]
        self._run(spark, tmp_path, rows2, "b2")
        snap = self._snapshot(spark, tmp_path)
        assert snap["key3"] == "new"
        assert sum(1 for v in snap.values() if v == "old") == 15

        after = self._bucket_state(tmp_path)
        changed = [d for d in before if after.get(d) != before[d]]
        # the IO assertion: every bucket not holding key3 is untouched
        # on disk (same files, same mtimes)
        assert len(changed) == 1, changed

    def test_restart_is_idempotent(self, spark, tmp_path):
        rows = [
            {"k": "a", "v": "1", "ts": "2024-01-01T00:00:00"},
            {"k": "b", "v": "2", "ts": "2024-01-01T00:00:00"},
        ]
        self._run(spark, tmp_path, rows, "b1")
        first = self._snapshot(spark, tmp_path)
        # same source dir + same checkpoint -> no new input, no change
        self._run(spark, tmp_path, rows, "b1")
        second = self._snapshot(spark, tmp_path)
        assert first == second == {"a": "1", "b": "2"}

    def test_recovery_completes_marked_staging(self, spark, tmp_path):
        # a crash between bucket delete and rename leaves the bucket's
        # ONLY copy in a _SUCCESS-marked staging dir — the next batch
        # must finish the swap before merging
        import os

        rows = [{"k": "a", "v": "committed", "ts": "2024-01-01T00:00:00"}]
        self._run(spark, tmp_path, rows, "b1")
        snap = tmp_path / "snap"
        staging = tmp_path / "snap__staging"
        bucket = next(d for d in os.listdir(snap) if d.startswith("bucket="))
        # simulate the crash: staged new content, snapshot bucket gone
        (staging / bucket).mkdir(parents=True)
        for f in os.listdir(snap / bucket):
            os.rename(snap / bucket / f, staging / bucket / f)
        os.rmdir(snap / bucket)
        (staging / "_SUCCESS").write_text("")

        rows2 = [{"k": "zz", "v": "later", "ts": "2024-01-02T00:00:00"}]
        self._run(spark, tmp_path, rows2, "b2")
        got = self._snapshot(spark, tmp_path)
        assert got["a"] == "committed"  # restored from staging
        assert got["zz"] == "later"
        assert not staging.exists()

    def test_null_key_rows_survive(self, spark, tmp_path):
        # md5(NULL) is NULL: without the sentinel, null-key rows stage
        # under the Hive default-partition dir that the swap loop never
        # renames — and the staging delete would destroy their only
        # copy (code-review finding)
        rows = [
            {"k": None, "v": "nullkey", "ts": "2024-01-01T00:00:00"},
            {"k": "a", "v": "1", "ts": "2024-01-01T00:00:00"},
        ]
        self._run(spark, tmp_path, rows, "b1")
        snap = {
            r["k"]: r["v"]
            for r in spark.read.parquet(str(tmp_path / "snap")).collect()
        }
        assert snap == {None: "nullkey", "a": "1"}
        # and the null key upserts like any other key
        rows2 = [{"k": None, "v": "updated", "ts": "2024-01-02T00:00:00"}]
        self._run(spark, tmp_path, rows2, "b2")
        snap2 = {
            r["k"]: r["v"]
            for r in spark.read.parquet(str(tmp_path / "snap")).collect()
        }
        assert snap2 == {None: "updated", "a": "1"}

    def test_recovery_discards_unmarked_staging(self, spark, tmp_path):
        # staging without _SUCCESS is a partial write: the snapshot is
        # intact, so the garbage must be deleted, never swapped in
        rows = [{"k": "a", "v": "good", "ts": "2024-01-01T00:00:00"}]
        self._run(spark, tmp_path, rows, "b1")
        staging = tmp_path / "snap__staging"
        (staging / "bucket=0").mkdir(parents=True)
        (staging / "bucket=0" / "part-junk.parquet").write_text("junk")

        rows2 = [{"k": "b", "v": "2", "ts": "2024-01-02T00:00:00"}]
        self._run(spark, tmp_path, rows2, "b2")
        got = self._snapshot(spark, tmp_path)
        assert got == {"a": "good", "b": "2"}
        assert not staging.exists()


class TestTrendingTopK:
    def test_trending_topk_finalized_windows(self, spark, tmp_path):
        import json

        from optimus_any2any_spark.streaming.streams import (
            stream_source,
            trending_topk_to_parquet,
        )

        src = tmp_path / "in"
        src.mkdir()
        rows = []
        # hour-1 window: a=3, b=2, c=1, d=1 -> top3 = a, b, c (tie c<d)
        for i, et in enumerate(["a", "a", "a", "b", "b", "c", "d"]):
            rows.append({"ts": f"2024-01-01T01:00:{i:02d}", "event_type": et})
        # a late-hour event advances the watermark far enough to
        # finalize the hour-1 window under the 2h delay
        rows.append({"ts": "2024-01-01T09:00:00", "event_type": "zz"})
        (src / "a.json").write_text("\n".join(json.dumps(r) for r in rows))

        out = tmp_path / "out"
        q = trending_topk_to_parquet(
            stream_source(
                spark, str(src), "ts timestamp, event_type string"
            ),
            path=str(out),
            checkpoint=str(tmp_path / "ckpt"),
            window="1 hour",
            watermark="2 hours",
            k=3,
        )
        q.awaitTermination()
        got = {
            (r["event_type"], r["rank"]): r["n_events"]
            for r in spark.read.parquet(str(out)).collect()
        }
        assert got == {("a", 1): 3, ("b", 2): 2, ("c", 3): 1}


class TestStreamingMinhashDedup:
    def test_cross_batch_near_dups_detected(self, spark, tmp_path):
        import json

        from optimus_any2any_spark.streaming.streams import (
            stream_source,
            streaming_minhash_dedup,
        )

        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        src = tmp_path / "in"
        src.mkdir()
        # batch 1 (file a): docs 1 and 2 are near-identical; doc 3 distinct
        (src / "a.json").write_text(
            "\n".join(
                json.dumps(r)
                for r in [
                    {"doc_id": 1, "text": base + " one"},
                    {"doc_id": 2, "text": base + " two"},
                    {"doc_id": 3, "text": "totally different words here now"},
                ]
            )
        )
        # batch 2 (file b): doc 4 duplicates doc 1 across the batch gap
        (src / "b.json").write_text(
            json.dumps({"doc_id": 4, "text": base + " one"})
        )
        q = streaming_minhash_dedup(
            stream_source(
                spark,
                str(src),
                "doc_id long, text string",
                max_files_per_trigger=1,
            ),
            store_path=str(tmp_path / "store"),
            pairs_path=str(tmp_path / "pairs"),
            checkpoint=str(tmp_path / "ckpt"),
        )
        q.awaitTermination()
        got = {
            (r["doc_a"], r["doc_b"])
            for r in spark.read.parquet(str(tmp_path / "pairs")).collect()
        }
        assert (1, 2) in got, got          # within-batch pair
        assert (1, 4) in got, got          # CROSS-batch pair
        assert not any(3 in p for p in got), got

    def test_restart_is_idempotent(self, spark, tmp_path):
        """Re-running the stream over the same source with the same
        checkpoint must process nothing new: the pairs log is
        unchanged (checkpointed offsets make the store effectively
        append-once)."""
        import json

        from optimus_any2any_spark.streaming.streams import (
            stream_source,
            streaming_minhash_dedup,
        )

        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        src = tmp_path / "in"
        src.mkdir()
        (src / "a.json").write_text(
            "\n".join(
                json.dumps(r)
                for r in [
                    {"doc_id": 1, "text": base + " one"},
                    {"doc_id": 2, "text": base + " two"},
                ]
            )
        )

        def run():
            q = streaming_minhash_dedup(
                stream_source(spark, str(src), "doc_id long, text string"),
                store_path=str(tmp_path / "store"),
                pairs_path=str(tmp_path / "pairs"),
                checkpoint=str(tmp_path / "ckpt"),
            )
            q.awaitTermination()

        run()
        first = spark.read.parquet(str(tmp_path / "pairs")).count()
        run()  # same checkpoint: no new input -> no new pairs
        second = spark.read.parquet(str(tmp_path / "pairs")).count()
        assert first == second == 1

    def test_cross_batch_subthreshold_collision_rejected(self, spark, tmp_path):
        """VERDICT r2 item 8: a band collision across MICRO-BATCHES whose
        true Jaccard is below the threshold must be rejected by the
        exact verification, not trusted. Doc 4 (batch 2) shares 8 of 9
        shingles with doc 1 (batch 1) — enough to collide in a band
        (phase 1 proves it does), but J=0.8889 < 0.95 so verified mode
        must drop it while keeping the exact cross-batch dup."""
        import json

        from optimus_any2any_spark.streaming.streams import (
            stream_source,
            streaming_minhash_dedup,
        )

        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        src = tmp_path / "in"
        src.mkdir()
        (src / "a.json").write_text(
            "\n".join(
                json.dumps(r)
                for r in [
                    {"doc_id": 1, "text": base + " one"},
                    {"doc_id": 2, "text": "totally different words here now"},
                ]
            )
        )
        (src / "b.json").write_text(
            "\n".join(
                json.dumps(r)
                for r in [
                    {"doc_id": 4, "text": base},            # J(1,4)=8/9
                    {"doc_id": 5, "text": base + " one"},   # J(1,5)=1.0
                ]
            )
        )

        def run(tag, threshold):
            q = streaming_minhash_dedup(
                stream_source(
                    spark,
                    str(src),
                    "doc_id long, text string",
                    max_files_per_trigger=1,
                ),
                store_path=str(tmp_path / f"store_{tag}"),
                pairs_path=str(tmp_path / f"pairs_{tag}"),
                checkpoint=str(tmp_path / f"ckpt_{tag}"),
                verify_threshold=threshold,
            )
            q.awaitTermination()
            return {
                (r["doc_a"], r["doc_b"])
                for r in spark.read.parquet(
                    str(tmp_path / f"pairs_{tag}")
                ).collect()
            }

        # phase 1: raw band collisions — (1,4) must actually collide
        # across the batch gap, or phase 2 would pass vacuously
        raw = run("raw", None)
        assert (1, 4) in raw, raw
        # phase 2: verified at 0.95 — the sub-threshold collision is
        # rejected; the exact cross-batch dup survives
        verified = run("verified", 0.95)
        assert (1, 4) not in verified, verified
        assert (1, 5) in verified, verified

    def test_verified_mode_emits_jaccard_and_filters(self, spark, tmp_path):
        """verify_threshold: true near-dups pass with their exact
        jaccard; unrelated docs never reach the log even when sharing
        a coincidental bucket."""
        import json

        from optimus_any2any_spark.streaming.streams import (
            stream_source,
            streaming_minhash_dedup,
        )

        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        src = tmp_path / "in"
        src.mkdir()
        (src / "a.json").write_text(
            "\n".join(
                json.dumps(r)
                for r in [
                    {"doc_id": 1, "text": base + " one"},
                    {"doc_id": 2, "text": base + " one"},  # exact dup
                    {"doc_id": 3, "text": "unrelated words entirely here"},
                ]
            )
        )
        q = streaming_minhash_dedup(
            stream_source(spark, str(src), "doc_id long, text string"),
            store_path=str(tmp_path / "store"),
            pairs_path=str(tmp_path / "pairs"),
            checkpoint=str(tmp_path / "ckpt"),
            verify_threshold=0.8,
        )
        q.awaitTermination()
        rows = spark.read.parquet(str(tmp_path / "pairs")).collect()
        assert {(r["doc_a"], r["doc_b"]) for r in rows} == {(1, 2)}
        assert rows[0]["jaccard"] == 1.0

    @pytest.mark.parametrize("tag", [None, "md5-28:0000000000000000"])
    def test_store_of_another_hash_family_refused(
        self, spark, tmp_path, tag
    ):
        """A bucket store written before the family tag existed, or
        tagged with another family, never matches new documents'
        buckets: starting on it must raise, not miss duplicates."""
        from optimus_any2any_spark.streaming.streams import (
            stream_source,
            streaming_minhash_dedup,
        )

        src = tmp_path / "in"
        src.mkdir()
        store = tmp_path / "store"
        (store / "batch=0").mkdir(parents=True)
        if tag is not None:
            (store / "_minhash_family").write_text(tag)
        with pytest.raises(ValueError, match="MinHash hash family"):
            streaming_minhash_dedup(
                stream_source(spark, str(src), "doc_id long, text string"),
                store_path=str(store),
                pairs_path=str(tmp_path / "pairs"),
                checkpoint=str(tmp_path / "ckpt"),
            )

    def test_store_is_tagged_with_current_family(self, spark, tmp_path):
        import json

        from optimus_any2any_spark.streaming.streams import (
            _minhash_family,
            stream_source,
            streaming_minhash_dedup,
        )

        src = tmp_path / "in"
        src.mkdir()
        (src / "a.json").write_text(
            json.dumps({"doc_id": 1, "text": "alpha beta gamma delta"})
        )
        store = tmp_path / "store"
        q = streaming_minhash_dedup(
            stream_source(spark, str(src), "doc_id long, text string"),
            store_path=str(store),
            pairs_path=str(tmp_path / "pairs"),
            checkpoint=str(tmp_path / "ckpt"),
        )
        q.awaitTermination()
        assert (store / "_minhash_family").read_text() == _minhash_family()
        assert spark.read.parquet(str(store)).count() == 4  # one per band


class TestStreamingCuration:
    def test_streaming_matches_batch_curation(self, spark, tmp_path):
        """The streaming curation pipeline must assign exactly what the
        batch operators assign: same Gopher pass set, same split —
        stable under re-ingestion."""
        import json as _json

        from optimus_any2any_spark.operators import text as TX
        from optimus_any2any_spark.streaming.streams import (
            curation_pipeline_to_parquet,
            stream_source,
        )
        from pyspark.sql import functions as F

        src = tmp_path / "in"
        src.mkdir()
        docs = [
            {"doc_id": i,
             "text": " ".join(
                 ["the", "a", "for", "on"]
                 + [f"wd{j}" for j in range(30 + i)]
             ) if i % 3 else "tiny"}
            for i in range(12)
        ]
        with open(src / "d.json", "w") as f:
            for d in docs:
                f.write(_json.dumps(d) + "\n")

        q = curation_pipeline_to_parquet(
            stream_source(spark, str(src), "doc_id long, text string"),
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)

        got = (
            spark.read.option("basePath", str(tmp_path / "out"))
            .parquet(str(tmp_path / "out"))
            .select("doc_id", "split")
        )
        batch_df = spark.createDataFrame(
            [(d["doc_id"], d["text"]) for d in docs], "doc_id long, text string"
        )
        rules = TX.gopher_rules(F.col("text"))
        passes = None
        for r in rules.values():
            passes = r if passes is None else passes & r
        bucket = TX.split_bucket(TX.fingerprint(F.col("text")), 100)
        expect = batch_df.filter(passes).select(
            "doc_id",
            F.when(bucket < 80, F.lit("train"))
            .when(bucket < 90, F.lit("valid"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, expect.collect())
        )
        assert 0 < got.count() < len(docs)  # filter actually filtered


class TestStreamingPassageDedup:
    def test_cross_batch_passage_removed_and_first_kept(self, spark, tmp_path):
        import json

        from optimus_any2any_spark.streaming.streams import (
            stream_source,
            streaming_passage_dedup,
        )

        # 5-word chunks; P = one full boilerplate chunk
        P = "alpha beta gamma delta epsilon"
        src = tmp_path / "in"
        src.mkdir()
        # batch 1: doc 1 carries P + own tail chunk; doc 2 repeats P
        # IN-batch (must lose it to doc 1's first occurrence)
        (src / "a.json").write_text(
            "\n".join(
                json.dumps(r)
                for r in [
                    {"doc_id": 1, "text": P + " one two three four five"},
                    {"doc_id": 2, "text": P + " six seven eight nine ten"},
                ]
            )
        )
        # batch 2: doc 3 repeats P ACROSS the batch gap
        (src / "b.json").write_text(
            json.dumps(
                {"doc_id": 3, "text": P + " alt war cat dog fox"}
            )
        )
        q = streaming_passage_dedup(
            stream_source(
                spark,
                str(src),
                "doc_id long, text string",
                max_files_per_trigger=1,
            ),
            store_path=str(tmp_path / "store"),
            out_path=str(tmp_path / "out"),
            checkpoint=str(tmp_path / "ckpt"),
            chunk_words=5,
        )
        q.awaitTermination()
        got = {
            r["doc_id"]: r
            for r in spark.read.parquet(str(tmp_path / "out")).collect()
        }
        assert got[1].clean_text == P + " one two three four five"
        assert got[1].n_chunks == 2 and got[1].n_chunks_kept == 2
        # in-batch repeat dropped
        assert got[2].clean_text == "six seven eight nine ten"
        assert (got[2].n_chunks, got[2].n_chunks_kept) == (2, 1)
        # cross-batch repeat dropped
        assert got[3].clean_text == "alt war cat dog fox"
        assert (got[3].n_chunks, got[3].n_chunks_kept) == (2, 1)
        # store holds each distinct passage hash exactly once
        store = spark.read.parquet(str(tmp_path / "store"))
        assert store.count() == store.select("h").distinct().count() == 4

    def test_restart_is_idempotent(self, spark, tmp_path):
        import json

        from optimus_any2any_spark.streaming.streams import (
            stream_source,
            streaming_passage_dedup,
        )

        src = tmp_path / "in"
        src.mkdir()
        (src / "a.json").write_text(
            json.dumps({"doc_id": 1, "text": "p q r s t u v w x y"})
        )
        kwargs = dict(
            store_path=str(tmp_path / "store"),
            out_path=str(tmp_path / "out"),
            checkpoint=str(tmp_path / "ckpt"),
            chunk_words=5,
        )
        for _ in range(2):  # second run: checkpoint replays nothing
            q = streaming_passage_dedup(
                stream_source(
                    spark, str(src), "doc_id long, text string",
                    max_files_per_trigger=1,
                ),
                **kwargs,
            )
            q.awaitTermination()
        out = spark.read.parquet(str(tmp_path / "out"))
        assert out.count() == 1
        row = out.collect()[0]
        assert row.n_chunks == 2 and row.n_chunks_kept == 2
        assert spark.read.parquet(str(tmp_path / "store")).count() == 2


class TestConnCheckParity:
    """Address-format matrix from the reference's own check_test.go
    (internal/ext/net/check_test.go:10-26) plus the parse edges of
    check.go:11-40."""

    def test_url_format_default_port(self):
        from optimus_any2any_spark.policy import parse_conn_address

        assert parse_conn_address("http://localhost/hello") == (
            "localhost", 80,
        )
        assert parse_conn_address("https://example.com/x") == (
            "example.com", 443,
        )

    def test_url_format_explicit_port(self):
        from optimus_any2any_spark.policy import parse_conn_address

        assert parse_conn_address("http://localhost:8081") == (
            "localhost", 8081,
        )

    def test_host_port_format(self):
        from optimus_any2any_spark.policy import parse_conn_address

        assert parse_conn_address("localhost:8080") == ("localhost", 8080)
        assert parse_conn_address("[::1]:8080") == ("::1", 8080)

    def test_unsupported_scheme_errors(self):
        import pytest

        from optimus_any2any_spark.policy import parse_conn_address

        with pytest.raises(ValueError, match="unsupported scheme"):
            parse_conn_address("ftp://example.com/file")

    def test_missing_port_errors(self):
        import pytest

        from optimus_any2any_spark.policy import parse_conn_address

        with pytest.raises(ValueError, match="missing port"):
            parse_conn_address("localhost")

    def test_conn_check_refused_is_false(self):
        from optimus_any2any_spark.policy import conn_check

        # the reference's cases dial refused local ports; here the
        # parse succeeds and the dial cleanly reports unreachable
        assert conn_check("localhost:1", timeout_s=0.3) is False
        assert conn_check("http://localhost:1", timeout_s=0.3) is False
