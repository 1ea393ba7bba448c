"""any2any benchmark: one fresh process, one workload, one JSON result line.

    python3 perfbench/run.py --workload any2any_mix --seed 1 --seconds 5 --trace 0

Run from the root of a source checkout. The process times its own set-up
(process start until the Spark session is up and one trivial job is done),
stages the workload's inputs from ``--seed``, runs untimed warm-up passes,
then timed passes for ``--seconds`` (and at least the workload's minimum),
checks every pass's output against a Python model, and prints, as the last
line of stdout::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` splits the timed
window: the first half runs untraced (session counters, jq calls, the
untraced pass time), the second half with spans around every layer's entry
points (per-layer times and counts), and reports the per-layer metrics and
the tracing overhead. The environment (cores, heap, Spark local dir, no
console progress bar) is pinned by the flags below, whatever the caller's
environment says.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback


def _process_age() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


_T0 = time.perf_counter()
_AGE0 = _process_age()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# One untimed cold pass, then at least two timed ones: a pass is several
# pipelines (4-9 s), and the run budget leaves room for about three.
WARMUP_PASSES = 1
MIN_TIMED_PASSES = 2

END_TO_END_UNITS = {"setup_s": "s", "job_s": "s", "records_per_s": "1/s", "ok_frac": "frac"}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=4, help="Spark local[N] cores")
    p.add_argument("--heap", default="3g", help="driver JVM heap (spark.driver.memory)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import optimus_any2any_spark  # noqa: F401 — fail fast outside a checkout
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp  # the FILE sink stages under tempfile
    # SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no JVM perf-data files in /tmp, from the spark-submit launcher either
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData"
    ).strip()
    tempfile.tempdir = None
    jq_log = os.path.join(work, "jq-calls.log")
    if args.trace:
        import spans

        spans.install_jq_wrapper(os.path.join(work, "bin"), jq_log)

    spark = None
    try:
        spark = start_session(args, work)
        setup_s = _AGE0 + (time.perf_counter() - _T0)
        result = run(spark, args, work, jq_log, setup_s)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass  # other runs still use it
    print(json.dumps(result), flush=True)
    return 0


def start_session(args, work: str):
    from optimus_any2any_spark.session import get_spark

    conf = {
        "spark.driver.memory": args.heap,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Duser.timezone=UTC -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if args.trace:
        # keep every job and stage of the run in the status store
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    spark = get_spark(app_name="perfbench", master=f"local[{args.cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(100).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Passes:
    """Runs, times and checks passes; counts attempts and failures.

    With a tracer set, each pass runs as a ``pass`` span with the layer
    entry points instrumented; otherwise it runs untouched, in its own
    Spark job group when ``group_prefix`` is given."""

    def __init__(self, wl):
        self.wl = wl
        self.k = 0
        self.attempted = 0
        self.failed = 0
        self.tracer = None
        self.group_prefix = None

    def _traced(self):
        import spans

        if self.tracer is None:
            return contextlib.nullcontext()
        stack = contextlib.ExitStack()
        stack.enter_context(spans.instrument(self.tracer))
        stack.enter_context(self.tracer.span("pass"))
        return stack

    def one(self) -> tuple[float, int] | None:
        """Run pass ``k``; returns (seconds, records), or None if it failed."""
        k = self.k
        self.k += 1
        self.attempted += 1
        sc = self.wl.spark.sparkContext
        self.wl.stage(k)
        group = f"{self.group_prefix}{k}" if self.group_prefix else None
        if group:
            sc.setJobGroup(group, group)
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            with self._traced():
                records = self.wl.run_pass(k)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        finally:
            dt = time.perf_counter() - t0
            self.wl.pass_info.setdefault(k, {}).update(
                seconds=dt, wall=(w0, time.time()), traced=self.tracer is not None
            )
            if group:
                sc.setLocalProperty("spark.jobGroup.id", None)
        print(f"pass {k}: {dt:.3f} s", file=sys.stderr, flush=True)
        try:
            self.wl.check_pass(k)
        except Exception as e:
            print(f"pass {k}: check failed: {e}", file=sys.stderr)
            self.failed += 1
            return None
        return dt, records

    def window(self, seconds: float, min_passes: int, limit: float) -> list[tuple[int, float, int]]:
        """Passes until ``seconds`` have gone by and at least ``min_passes``
        have run, but never past ``limit`` seconds. Returns (k, seconds,
        records) of the verified passes."""
        out = []
        t0 = time.perf_counter()
        while True:
            elapsed = time.perf_counter() - t0
            if elapsed >= limit:
                break
            if elapsed >= seconds and len(out) >= min_passes:
                break
            k = self.k
            r = self.one()
            if r is not None:
                out.append((k,) + r)
        return out


def end_to_end_metrics(timed, attempted: int, failed: int, setup_s: float) -> dict:
    """The untraced run's result metrics, from its verified timed passes
    (k, seconds, records) and the attempt counts of the whole run."""
    job_s = statistics.median(dt for _k, dt, _n in timed) if timed else 0.0
    records = statistics.median(n for _k, _dt, n in timed) if timed else 0
    metrics = {
        "setup_s": setup_s,
        "job_s": job_s,
        "records_per_s": records / job_s if job_s else 0.0,
        "ok_frac": (attempted - failed) / attempted,
    }
    return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()}


def run(spark, args, work: str, jq_log: str, setup_s: float) -> dict:
    import spans
    import workloads

    wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, traced=bool(args.trace))
    wl.prepare()
    passes = Passes(wl)

    # untimed warm-up; the cold first pass is kept as a diagnostic
    for _ in range(WARMUP_PASSES):
        passes.one()
    first_pass_s = wl.pass_info[0]["seconds"]

    limit = max(3 * args.seconds, args.seconds + 60)
    if not args.trace:
        timed = passes.window(args.seconds, MIN_TIMED_PASSES, limit)
        end = wl.finish()
    else:
        half = args.seconds / 2
        passes.group_prefix = "u"
        untraced = passes.window(half, MIN_TIMED_PASSES, limit / 2)
        passes.group_prefix = None
        passes.tracer = tracer = spans.Tracer(spark, f"{args.workload}-{args.seed}-{os.getpid()}")
        traced = passes.window(half, MIN_TIMED_PASSES, limit / 2)
        with spans.instrument(tracer), tracer.span("finish"):
            end = wl.finish()
        timed = untraced + traced
    attempted = passes.attempted + (end is not None)
    failed = passes.failed + (end is False)

    if not args.trace:
        metrics = end_to_end_metrics(timed, attempted, failed, setup_s)
    else:
        import layers

        spans.wait_for_listener(spark)
        metrics = layers.per_layer_metrics(
            spark, wl, tracer, untraced, traced, jq_log, first_pass_s
        )
        tracer.write(sys.stderr)
    return {
        "correct": failed == 0 and bool(timed),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


if __name__ == "__main__":
    sys.exit(main())
