"""Steadiness report: run the benchmark in fresh processes, one seed each,
and summarise every metric across the runs.

    python3 perfbench/steadiness.py --workload delta_upsert --runs 10 [--trace 1]

For each metric it prints the median, the quartiles (as
``statistics.quantiles(values, n=4)`` gives them), min, max and the
quartile spread as a share of the median, and checks the spread of every
end-to-end metric against its bound in BENCHMARK.json. This is the
evidence behind the bounds recorded there. ``--json`` also writes the
raw per-run results.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def summarise(values: list[float]) -> dict[str, float]:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "min": min(values),
        "max": max(values),
        "spread": (q3 - q1) / med if med else 0.0,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--json", help="write the raw per-run results here")
    args = p.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    results = []
    for i in range(args.runs):
        seed = args.first_seed + i
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace),
        ]
        t0 = time.time()
        proc = subprocess.run(
            cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True
        )
        wall = time.time() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}, no result", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        res["seed"], res["wall_s"] = seed, wall
        res["passes_s"] = [
            float(line.split()[2]) for line in proc.stderr.splitlines()
            if line.startswith("pass ") and line.endswith(" s")
        ]
        results.append(res)
        print(f"seed {seed}: correct={res['correct']} wall={wall:.1f}s "
              f"passes={[round(p, 2) for p in res['passes_s']]} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                         if not args.trace),
              file=sys.stderr, flush=True)

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    names = list(results[0]["metrics"])
    ok = all(r["correct"] for r in results)
    print(f"{args.workload}: {len(results)} runs, trace={args.trace}, all correct: {ok}, "
          f"run wall median {statistics.median(r['wall_s'] for r in results):.1f}s")
    heads = ("median", "q1", "q3", "min", "max")
    print(f"{'metric':28} " + " ".join(f"{h:>12}" for h in heads) + f" {'spread':>8} bound")
    for name in names:
        s = summarise([r["metrics"][name]["value"] for r in results])
        bound = bounds.get(name)
        flag = ""
        if bound is not None and name != "setup_s":
            verdict = (
                "ok" if s["spread"] <= bound / 3 else "WIDE" if s["spread"] > bound else "ok<bound"
            )
            flag = f"{bound:g} {verdict}"
        elif bound is not None:
            flag = f"{bound:g} (median only)"
        print(f"{name:28} {s['median']:12.5g} {s['q1']:12.5g} {s['q3']:12.5g} "
              f"{s['min']:12.5g} {s['max']:12.5g} {s['spread']:8.3f} {flag}")
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(results, fh, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
