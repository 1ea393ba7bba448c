"""Tracing for the per-layer run: spans, self time and Spark counters.

Spans are recorded by the benchmark around calls into each layer's public
function (see :func:`instrument`), kept in memory and written out when the
run ends. A span sets its own Spark job group, so the jobs, stages and
tasks it caused are read back from the status store by group id.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass, field

MB = 1024 * 1024


@dataclass
class Span:
    name: str
    sid: str
    parent: str | None
    start: float
    end: float = 0.0
    forced: bool = False  # a noop write the trace adds to force a lazy plan
    children: list["Span"] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        """Duration minus the part of it covered by child spans (children
        run one after another on the driver thread, so they never overlap)."""
        return self.duration - sum(c.duration for c in self.children)

    @property
    def net(self) -> float:
        """Duration minus the forced noop writes nested anywhere inside it:
        the layer's own time as an untraced run would pay it."""
        return self.duration - sum(s.duration for s in self.walk() if s.forced and s is not self)

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.roots: list[Span] = []
        self._stack: list[Span] = []
        self._n = 0

    @contextlib.contextmanager
    def span(self, name: str, forced: bool = False):
        self._n += 1
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, f"{self.run_id}-{self._n}", parent.sid if parent else None,
                  time.perf_counter(), forced=forced)
        (parent.children if parent else self.roots).append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.sid, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent.sid, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def force(self, name: str, df) -> None:
        """Run a lazy DataFrame to completion with Spark's noop writer."""
        with self.span(name, forced=True):
            df.write.format("noop").mode("overwrite").save()

    def write(self, out) -> None:
        """Write every span as one ``span: {json}`` line, parents first."""
        import json

        for root in self.roots:
            for s in root.walk():
                out.write("span: " + json.dumps({
                    "run": self.run_id, "id": s.sid, "parent": s.parent, "name": s.name,
                    "start": s.start, "end": s.end, "self_s": s.self_time, "net_s": s.net,
                    "forced": s.forced, **s.attrs,
                }) + "\n")


# ------------------------------------------------------------ status store

@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    input_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    gc_s: float = 0.0
    task_cpu_s: float = 0.0


def group_counters(spark, group: str) -> Counters:
    """Jobs, executed stages and task totals of one job group, read from
    the application status store. Stages skipped because their shuffle
    output was reused count nothing."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    c = Counters(jobs=len(jobs))
    for s in stage_ids:
        try:
            d = store.lastStageAttempt(s)
        except Py4JJavaError:  # evicted or never submitted: nothing to count
            continue
        if d.status().toString() == "SKIPPED":
            continue
        c.stages += 1
        c.tasks += d.numCompleteTasks()
        c.input_mb += d.inputBytes() / MB
        c.shuffle_write_mb += d.shuffleWriteBytes() / MB
        c.spill_mb += (d.memoryBytesSpilled() + d.diskBytesSpilled()) / MB
        c.gc_s += d.jvmGcTime() / 1e3
        c.task_cpu_s += d.executorCpuTime() / 1e9
    return c


def wait_for_listener(spark, timeout: float = 5.0) -> None:
    """Let the status store catch up with jobs that already returned."""
    tracker = spark.sparkContext.statusTracker()
    deadline = time.time() + timeout
    while tracker.getActiveStageIds() and time.time() < deadline:
        time.sleep(0.05)
    time.sleep(0.3)


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


# ------------------------------------------------------------ jq wrapper

JQ_WRAPPER = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jq")


def install_jq_wrapper(bin_dir: str, log_path: str) -> None:
    """Put the counting ``jq`` wrapper first on PATH. Must run before the
    session starts: Python workers inherit the JVM's environment."""
    import shutil

    real = shutil.which("jq")
    if real is None:
        raise RuntimeError("jq is not on PATH")
    os.makedirs(bin_dir, exist_ok=True)
    dst = os.path.join(bin_dir, "jq")
    shutil.copyfile(JQ_WRAPPER, dst)
    os.chmod(dst, 0o755)
    os.environ["PERFBENCH_REAL_JQ"] = real
    os.environ["PERFBENCH_JQ_LOG"] = log_path
    os.environ["PATH"] = bin_dir + os.pathsep + os.environ["PATH"]


def jq_calls(log_path: str, t0: float, t1: float) -> tuple[int, float]:
    """(calls, busy seconds) of wrapper calls that started in [t0, t1)."""
    if not os.path.exists(log_path):
        return 0, 0.0
    n, busy = 0, 0.0
    with open(log_path) as fh:
        for line in fh:
            parts = line.split()
            if len(parts) < 2:
                continue
            s, e = float(parts[0]), float(parts[1])
            if t0 <= s < t1:
                n += 1
                busy += e - s
    return n, busy


# ------------------------------------------------------------ instrumentation

@contextlib.contextmanager
def instrument(tr: Tracer):
    """Wrap each layer's public entry points with spans for the duration
    of the block; lazy results are forced inside the layer's span."""
    from optimus_any2any_spark import pipeline as P
    from optimus_any2any_spark.compiler import jq as JQ
    from optimus_any2any_spark.operators import dedup as D
    from optimus_any2any_spark.sources import delta as SD
    from optimus_any2any_spark.sources import file as SF
    from optimus_any2any_spark.sinks import builders as _registers_sinks  # noqa: F401
    from optimus_any2any_spark.streaming import delta_table as DT

    saved: list[tuple[object, str, object]] = []

    def patch(owner, attr, make):
        orig = getattr(owner, attr) if not isinstance(owner, dict) else owner[attr]
        saved.append((owner, attr, orig))
        new = make(orig)
        if isinstance(owner, dict):
            owner[attr] = new
        else:
            setattr(owner, attr, new)

    def pipeline_run(orig):
        def run(self):
            with tr.span("pipeline.run"):
                return orig(self)
        return run

    def pipeline_dataframe(orig):
        def dataframe(self):
            with tr.span("pipeline.dataframe"):
                return orig(self)
        return dataframe

    def file_read(orig):
        def read(self):
            with tr.span("source.read"):
                df = orig(self)
                tr.force("source.scan", df)
            return df
        return read

    def translate(orig):
        def translate_jq(df, program):
            with tr.span("jq.compile"):
                out = orig(df, program)
            tr.force("jq.native", out)
            return out
        return translate_jq

    def binary(orig):
        def jq_binary_transform(df, program, *a, **kw):
            with tr.span("jq.binary"):
                out = orig(df, program, *a, **kw)
                tr.force("jq.binary.run", out)
            return out
        return jq_binary_transform

    def sink(orig):
        def write(df, cfg):
            with tr.span("sink.write") as sp:
                res = orig(df, cfg)
            files = getattr(res, "files", {}) or {}
            sp.attrs["files"] = len(files)
            sp.attrs["output_mb"] = sum(
                os.path.getsize(f) for f in files if os.path.isfile(f)
            ) / MB
            return res
        return write

    def merge(orig):
        def merge_delta_batch(spark, batch, table_path, *a, **kw):
            with tr.span("delta.merge") as sp:
                v = orig(spark, batch, table_path, *a, **kw)
            sp.attrs.update(commit_actions(table_path, v))
            sp.attrs["version"] = v
            return v
        return merge_delta_batch

    def read_delta(orig):
        def read(spark, table_path, *a, **kw):
            with tr.span("delta.replay") as sp:
                df = orig(spark, table_path, *a, **kw)
                sp.attrs["files_scanned"] = len(df.inputFiles())
                tr.force("delta.scan", df)
            return df
        return read

    def signatures(orig):
        def minhash_signatures(sh, *a, **kw):
            with tr.span("dedup.signature"):
                out = orig(sh, *a, **kw)
                tr.force("dedup.signature.run", out)
            return out
        return minhash_signatures

    def candidates(orig):
        def lsh_candidate_pairs(sig, *a, **kw):
            with tr.span("dedup.candidates") as sp:
                out = orig(sig, *a, **kw)
                with tr.span("dedup.candidates.count", forced=True):
                    sp.attrs["candidates"] = out.count()
            return out
        return lsh_candidate_pairs

    def components(orig):
        def connected_components(pairs, *a, **kw):
            with tr.span("dedup.components"):
                out = orig(pairs, *a, **kw)
                tr.force("dedup.components.run", out)
            return out
        return connected_components

    patch(P.Pipeline, "run", pipeline_run)
    patch(P.Pipeline, "dataframe", pipeline_dataframe)
    patch(SF.FileSource, "read", file_read)
    patch(JQ, "translate_jq", translate)
    patch(JQ, "jq_binary_transform", binary)
    for name in ("FILE", "OSS"):
        patch(P.SINK_BUILDERS, name, sink)
    patch(DT, "merge_delta_batch", merge)
    patch(SD, "read_delta", read_delta)
    patch(D, "minhash_signatures", signatures)
    patch(D, "lsh_candidate_pairs", candidates)
    patch(D, "connected_components", components)
    try:
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            if isinstance(owner, dict):
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)


def commit_actions(table_path: str, version: int) -> dict:
    """Files added and removed, and MB written, by one Delta commit,
    read from its JSON log entry."""
    import json

    added = removed = 0
    written = 0
    path = os.path.join(table_path, "_delta_log", f"{version:020d}.json")
    with open(path) as fh:
        for line in fh:
            action = json.loads(line)
            if "add" in action:
                added += 1
                written += action["add"].get("size", 0)
            elif "remove" in action:
                removed += 1
            elif "cdc" in action:
                written += action["cdc"].get("size", 0)
    return {"files_added": added, "files_removed": removed, "written_mb": written / MB}

