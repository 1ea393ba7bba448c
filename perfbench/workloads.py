"""The benchmark's workloads. Each drives the engine only through its
public entry points and checks every pass against the Python models in
:mod:`gen`.

A workload is staged (untimed), then run pass by pass; ``run_pass`` is
the timed part and returns the number of input records it processed.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import checks
import gen
from optimus_any2any_spark.config import Config
from optimus_any2any_spark.operators import dedup as D
from optimus_any2any_spark.pipeline import Pipeline
from optimus_any2any_spark.sources.file import FileSource

ROUTE_PROGRAM = (
    ".[] | select(.value > 100) | "
    "{id, group, name: (.name|ascii_upcase), v2: (.value*2), ts}"
)
AGG_PROGRAM = (
    "[.[]|select(.value>100)] | group_by(.group) | "
    "map({group: .[0].group, n: length, total: (map(.value)|add)}) | .[]"
)


def _config(values: dict[str, str]) -> Config:
    # an explicit environ keeps the process environment out of the config
    return Config.from_env(environ=values)


class Workload:
    name = ""
    binary_records = 0  # records each pass sends through the jq binary

    def __init__(self, spark, work: str, seed: int, traced: bool = False):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.traced = traced
        self.pass_info: dict[int, dict] = {}

    def prepare(self) -> None:
        """Write inputs and precompute expectations (untimed)."""

    def stage(self, k: int) -> None:
        """Per-pass input staging before pass ``k`` is timed."""

    def run_pass(self, k: int) -> int:
        raise NotImplementedError

    def check_pass(self, k: int) -> None:
        raise NotImplementedError

    def finish(self) -> bool | None:
        """Work done once after the timed passes; returns its check result,
        or None when there is none."""
        return None

    def layer_metrics(self) -> dict[str, float]:
        return {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


class AnyToAnyMix(Workload):
    """One pass = the three kinds of any2any invocation, one after another:

    - route: 40k NDJSON records through a native-subset JQ program, fanned
      out to FILE (JSON routed on ``[[ .group ]]``, 16 destinations) and
      OSS (one static gzip CSV);
    - agg: 16k records through the real ``jq`` binary, one fork per
      512-record batch (per-batch ``group_by``), to one static JSON file;
    - merge: ``--from=FILE --to=DELTA`` MERGE (latest ``ts`` wins, change
      data feed on) of a 2k-row batch, 80 % updates and 20 % inserts, into
      a table seeded with 20k rows.

    The snapshot is read back once with ``--from=DELTA`` after the timed
    passes. The traced run commits nine untimed batches first, so that its
    warm-up pass commits version 10, where Delta writes its checkpoint, and
    the timed passes are ordinary commits (the untraced run never reaches
    it: one commit in ten, which its median would not see anyway).
    """

    name = "any2any_mix"
    N_ROUTE = 40_000
    N_AGG = 16_000
    binary_records = N_AGG
    SEED_ROWS = 20_000
    BATCH = 2_000
    INSERT_FRAC = 0.2
    TRACED_PRECOMMITS = 9

    def prepare(self) -> None:
        route = gen.event_records(self.seed, self.N_ROUTE)
        agg = gen.event_records(self.seed + 1, self.N_AGG)
        gen.write_ndjson(self.path("in", "route"), route, files=4)
        gen.write_ndjson(self.path("in", "agg"), agg, files=4)
        self.route_want = checks.route_digests(gen.route_expected(route))
        self.agg_expected = gen.agg_invariants(agg)

        self.table = self.path("table")
        rows = gen.upsert_seed(self.seed, self.SEED_ROWS)
        self.model = gen.UpsertModel(rows)
        gen.write_ndjson(self.path("in", "seed"), rows)
        Pipeline(self.spark, "FILE", ["DELTA"], _config({
            "FILE__SOURCE_URI": "file://" + self.path("in", "seed"),
            "DELTA__SINK_URI": "file://" + self.table,
        })).run()
        self.version = 0
        if self.traced:
            for _ in range(self.TRACED_PRECOMMITS):
                batch = self._stage_batch()
                self._merge()
                self._check_merge(batch)

    def _stage_batch(self) -> list[dict]:
        """Write the next MERGE batch; batch ``j`` carries ``ts = TS0 + j + 1``."""
        j = self.version
        live = self.SEED_ROWS + j * int(self.BATCH * self.INSERT_FRAC)
        batch = gen.upsert_batch(self.seed, j, live, self.BATCH, self.INSERT_FRAC)
        gen.write_ndjson(self.path("in", "batch"), batch)
        return batch

    def _merge(self) -> None:
        Pipeline(self.spark, "FILE", ["DELTA"], _config({
            "FILE__SOURCE_URI": "file://" + self.path("in", "batch"),
            "DELTA__SINK_URI": "file://" + self.table,
            "DELTA__MODE": "MERGE",
            "DELTA__MERGE_KEY": "id",
            "DELTA__MERGE_TS": "ts",
            "DELTA__CHANGE_DATA": "true",
        })).run()
        self.version += 1

    def _check_merge(self, batch: list[dict]) -> None:
        # the model advances even when the engine's commit is wrong, so one
        # bad commit fails its own pass, not every later one
        want = self.model.apply(batch)
        got = checks.cdf_rows(self.table, self.version)
        if got != want:
            raise checks.CheckFailed(f"delta v{self.version}: {got} CDF rows, model says {want}")

    def stage(self, k: int) -> None:
        self.batch = self._stage_batch()

    def run_pass(self, k: int) -> int:
        out = self.path("out", str(k))
        t0 = time.perf_counter()
        Pipeline(self.spark, "FILE", ["FILE", "OSS"], _config({
            "FILE__SOURCE_URI": "file://" + self.path("in", "route"),
            "JQ__QUERY": ROUTE_PROGRAM,
            "FILE__DESTINATION_URI": f"file://{out}/route/[[ .group ]].json",
            "OSS__DESTINATION_URI": f"file://{out}/route/all.csv.gz",
        })).run()
        t1 = time.perf_counter()
        Pipeline(self.spark, "FILE", ["FILE"], _config({
            "FILE__SOURCE_URI": "file://" + self.path("in", "agg"),
            "JQ__QUERY": AGG_PROGRAM,
            "FILE__DESTINATION_URI": f"file://{out}/agg.json",
        })).run()
        t2 = time.perf_counter()
        self._merge()
        t3 = time.perf_counter()
        self.pass_info[k] = {
            "route_s": t1 - t0, "agg_s": t2 - t1, "commit_s": t3 - t2, "version": self.version,
        }
        return self.N_ROUTE + self.N_AGG + self.BATCH

    def check_pass(self, k: int) -> None:
        out = self.path("out", str(k))
        try:
            checks.check_route(os.path.join(out, "route"), self.route_want)
            checks.check_agg(os.path.join(out, "agg.json"), *self.agg_expected)
        finally:
            shutil.rmtree(out, ignore_errors=True)
        self._check_merge(self.batch)

    def finish(self) -> bool:
        out = self.path("readback")
        Pipeline(self.spark, "DELTA", ["FILE"], _config({
            "DELTA__SOURCE_URI": "file://" + self.table,
            "FILE__DESTINATION_URI": f"file://{out}/snapshot.json",
        })).run()
        self.table_mb = _dir_mb(self.table)
        try:
            checks.check_rows(
                "delta snapshot",
                checks.read_json_lines(os.path.join(out, "snapshot.json")),
                list(self.model.rows.values()),
            )
        except checks.CheckFailed as e:
            print(f"read-back: check failed: {e}", file=sys.stderr)
            return False
        return True

    def layer_metrics(self) -> dict[str, float]:
        return {"table_mb": self.table_mb}


class DedupCorpus(Workload):
    """One pass = MinHash-LSH near-dedup then connected components over a
    200-document corpus (300 words each) with 10 planted clusters of an
    original, an exact copy and a one-word-changed copy. The persisted
    shingle table is dropped between passes.

    The engine's 16-hash, 4-band LSH misses a one-word-changed copy
    (Jaccard about 0.98) about 0.4 % of the time, measured over 300 seeds
    with a Python replica of its signatures: about 100 times what
    independent hash functions would give (its 16 hashes disagree
    together). A pass therefore has to find every exact
    copy but only 8 of the 10 near copies; ``dedup.planted_recall``
    reports how many were found."""

    name = "dedup_corpus"
    N_DOCS = 200
    DOC_TOKENS = 300
    PLANTED = 10
    THRESHOLD = 0.8
    MIN_NEAR_RECALL = 0.8

    def prepare(self) -> None:
        self.docs, self.clusters = gen.corpus(self.seed, self.N_DOCS, self.DOC_TOKENS, self.PLANTED)
        gen.write_ndjson(self.path("in", "corpus"), self.docs)

    def run_pass(self, k: int) -> int:
        df = FileSource(
            self.spark, self.path("in", "corpus"), add_filename=False, add_record_index=False
        ).read()
        pairs = D.minhash_dedup_pairs(df, threshold=self.THRESHOLD).persist()
        rows = pairs.collect()
        comps = D.connected_components(pairs).collect()
        self.spark.catalog.clearCache()
        pair_list = sorted((r["doc_a"], r["doc_b"]) for r in rows)
        self.pass_info[k] = {
            "n_pairs": len(rows),
            "planted_recall": checks.planted_recall(self.clusters, pair_list),
            "pairs": pair_list,
            "components": {r["doc_id"]: r["component_id"] for r in comps},
        }
        return len(self.docs)

    def check_pass(self, k: int) -> None:
        info = self.pass_info[k]
        checks.check_dedup(
            self.docs, self.clusters, info.pop("pairs"), info.pop("components"),
            self.THRESHOLD, self.MIN_NEAR_RECALL,
        )


def _dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / (1024 * 1024)


WORKLOADS = {w.name: w for w in (AnyToAnyMix, DedupCorpus)}
