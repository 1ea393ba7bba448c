"""Per-layer metrics of a traced run, from its spans, the status store
and the jq wrapper's call log.

Every metric is reported on every workload; a layer the workload does not
exercise reads 0. Per-pass values are medians over the passes they come
from: spans over the traced half of the window, Spark counters and jq
calls over the untraced half (where no noop writes inflate them).
"""

from __future__ import annotations

import os
import statistics

import spans

# the engine's Delta checkpoint interval (merge_delta_batch's default)
DELTA_CHECKPOINT_INTERVAL = 10

# name -> (unit, better)
PER_LAYER = {
    "session.first_pass_s": ("s", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.input_mb": ("MB", "lower"),
    "spark.shuffle_write_mb": ("MB", "lower"),
    "spark.spill_mb": ("MB", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.task_cpu_s": ("s", "lower"),
    "pipeline.dataframe_s": ("s", "lower"),
    "source.read_s": ("s", "lower"),
    "source.read_jobs": ("count", "lower"),
    "source.scan_s": ("s", "lower"),
    "jq.compile_s": ("s", "lower"),
    "jq.native_s": ("s", "lower"),
    "jq.binary_s": ("s", "lower"),
    "jq.binary_calls": ("count", "lower"),
    "jq.binary_busy_s": ("s", "lower"),
    "jq.records_per_call": ("count", "higher"),
    "sink.write_s": ("s", "lower"),
    "sink.jobs": ("count", "lower"),
    "sink.output_mb": ("MB", "lower"),
    "sink.files": ("count", "lower"),
    "delta.merge_s": ("s", "lower"),
    "delta.merge_jobs": ("count", "lower"),
    "delta.files_added": ("count", "lower"),
    "delta.files_removed": ("count", "lower"),
    "delta.written_mb": ("MB", "lower"),
    "delta.checkpoint_commit_s": ("s", "lower"),
    "delta.replay_s": ("s", "lower"),
    "delta.scan_s": ("s", "lower"),
    "delta.files_scanned": ("count", "lower"),
    "dedup.signature_s": ("s", "lower"),
    "dedup.candidates": ("count", "lower"),
    "dedup.pairs": ("count", "higher"),
    "dedup.candidate_precision": ("frac", "higher"),
    "dedup.planted_recall": ("frac", "higher"),
    "dedup.components_s": ("s", "lower"),
    "route_s": ("s", "lower"),
    "agg_s": ("s", "lower"),
    "commit_s": ("s", "lower"),
    "read_s": ("s", "lower"),
    "table_mb": ("MB", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "trace.job_s": ("s", "lower"),
    "trace.untraced_job_s": ("s", "lower"),
    "trace.overhead_frac": ("frac", "lower"),
}


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _named(root: spans.Span, name: str):
    return [s for s in root.walk() if s.name == name]


def _pass_metrics(spark, root: spans.Span) -> dict[str, float]:
    """Layer metrics of one traced pass (or of the read-back)."""

    def net(name):
        return sum(s.net for s in _named(root, name))

    def dur(name):
        return sum(s.duration for s in _named(root, name))

    def jobs(name):
        return sum(spans.group_counters(spark, s.sid).jobs for s in _named(root, name))

    def attr(name, key):
        return sum(s.attrs.get(key, 0) for s in _named(root, name))

    return {
        "pipeline.dataframe_s": net("pipeline.dataframe"),
        "source.read_s": net("source.read"),
        "source.read_jobs": jobs("source.read"),
        "source.scan_s": dur("source.scan"),
        "jq.compile_s": dur("jq.compile"),
        "jq.native_s": dur("jq.native"),
        "jq.binary_s": dur("jq.binary"),
        "sink.write_s": net("sink.write"),
        "sink.jobs": jobs("sink.write"),
        "sink.output_mb": attr("sink.write", "output_mb"),
        "sink.files": attr("sink.write", "files"),
        "delta.merge_s": net("delta.merge"),
        "delta.merge_jobs": jobs("delta.merge"),
        "delta.files_added": attr("delta.merge", "files_added"),
        "delta.files_removed": attr("delta.merge", "files_removed"),
        "delta.written_mb": attr("delta.merge", "written_mb"),
        "delta.replay_s": net("delta.replay"),
        "delta.scan_s": dur("delta.scan"),
        "delta.files_scanned": attr("delta.replay", "files_scanned"),
        "dedup.signature_s": dur("dedup.signature"),
        "dedup.candidates": attr("dedup.candidates", "candidates"),
        "dedup.components_s": dur("dedup.components"),
    }


def per_layer_metrics(spark, wl, tracer, untraced, traced, jq_log, first_pass_s) -> dict:
    roots = [r for r in tracer.roots if r.name == "pass"]
    per_pass = [_pass_metrics(spark, r) for r in roots]
    m = {k: _median(p[k] for p in per_pass) for k in (per_pass[0] if per_pass else {})}

    # the read-back runs once, after the window
    finish = [r for r in tracer.roots if r.name == "finish"]
    if finish:
        once = _pass_metrics(spark, finish[0])
        for k in ("delta.replay_s", "delta.scan_s", "delta.files_scanned"):
            m[k] = once[k]
        m["read_s"] = sum(s.net for s in _named(finish[0], "pipeline.run"))

    counters = [spans.group_counters(spark, f"u{k}") for k, _dt, _n in untraced]
    for field in spans.Counters.__dataclass_fields__:
        m[f"spark.{field}"] = _median(getattr(c, field) for c in counters)

    calls = [spans.jq_calls(jq_log, *wl.pass_info[k]["wall"]) for k, _dt, _n in untraced]
    m["jq.binary_calls"] = _median(c for c, _busy in calls)
    m["jq.binary_busy_s"] = _median(busy for _c, busy in calls)
    m["jq.records_per_call"] = (
        wl.binary_records / m["jq.binary_calls"] if m["jq.binary_calls"] else 0.0
    )

    traced_info = [wl.pass_info[k] for k, _dt, _n in traced]
    m["dedup.pairs"] = _median(i["n_pairs"] for i in traced_info if "n_pairs" in i)
    m["dedup.planted_recall"] = _median(
        i["planted_recall"] for i in traced_info if "planted_recall" in i
    )
    m["dedup.candidate_precision"] = (
        m["dedup.pairs"] / m["dedup.candidates"] if m.get("dedup.candidates") else 0.0
    )

    untraced_info = [wl.pass_info[k] for k, _dt, _n in untraced]
    for part in ("route_s", "agg_s", "commit_s"):
        m[part] = _median(i[part] for i in untraced_info if part in i)
    m["delta.checkpoint_commit_s"] = _median(
        i["commit_s"] for i in wl.pass_info.values()
        if i.get("version", 1) % DELTA_CHECKPOINT_INTERVAL == 0
    )
    m.update(wl.layer_metrics())

    from pyspark import SparkContext

    jvm = SparkContext._gateway.proc.pid
    m["peak_rss_mb"] = spans.vm_hwm_mb(jvm) + spans.vm_hwm_mb(os.getpid())
    m["session.first_pass_s"] = first_pass_s
    m["trace.untraced_job_s"] = _median(dt for _k, dt, _n in untraced)
    m["trace.job_s"] = _median(dt for _k, dt, _n in traced)
    m["trace.overhead_frac"] = (
        m["trace.job_s"] / m["trace.untraced_job_s"] - 1 if m["trace.untraced_job_s"] else 0.0
    )
    return {k: {"value": float(m.get(k, 0.0)), "unit": unit} for k, (unit, _b) in PER_LAYER.items()}
