#!/usr/bin/env python3
"""Steadiness and tracing-overhead report over repeated benchmark runs.

Usage, from the repository root:

  python3 perfbench/steady.py --seeds 1-10 [--trace-seeds 1-3]

Runs perfbench/run.py once per seed on every workload of BENCHMARK.json
with tracing off, and prints for every end-to-end metric the median,
first and third quartile of its values, their spread ((q3 - q1) /
median) and the metric's bound. Each of --trace-seeds is also run traced, right
after its untraced run, and the median over those pairs of traced /
untraced - 1 is reported per end-to-end number (the tracing overhead).
The report is also written to .bench_work/steady.json.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from stats import quartile_spread  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
# Tracing overhead: each traced.* wall number against the same number
# in the untraced run's report (report.json, "wall"), per workload.
TRACED = {"etl_pipeline": ("run_ms_p50", "deploy_ms_p50", "increment_ms_p50", "setup_s"),
          "heavy_batch": ("dedup_s", "graph_s", "setup_s")}


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def run(workload, seed, seconds, trace):
    """The run's result line and its report."""
    r = subprocess.run([sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if r.returncode != 0:
        raise SystemExit(f"run failed: {workload} seed {seed} trace {trace}")
    report = json.loads((ROOT / ".bench_work" / f"{workload}-seed{seed}-trace{trace}" /
                         "report.json").read_text())
    return json.loads(r.stdout.strip().splitlines()[-1]), report


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace-seeds", default="")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    traced_seeds = set(seeds(a.trace_seeds)) if a.trace_seeds else set()
    for w in (x["name"] for x in bench["workloads"]):
        runs, pairs = [], []
        for s in seeds(a.seeds):
            runs.append(run(w, s, bench["run_seconds"], 0))
            if s in traced_seeds:
                pairs.append((runs[-1][1], run(w, s, bench["run_seconds"], 1)[0]))
        rows = {}
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r, _ in runs]
            med, q1, q3, spread = quartile_spread(vals)
            rows[name] = {"median": med, "q1": q1, "q3": q3, "spread": spread, "bound": bound,
                          "within_bound": spread <= bound, "within_third": spread <= bound / 3,
                          "values": vals}
            print(f"{w:14s} {name:12s} median {med:10.3f}  q1 {q1:10.3f}  q3 {q3:10.3f}  "
                  f"spread {spread:6.3f}  bound {bound}", flush=True)
        report[w] = {"metrics": rows, "correct": all(r["correct"] for r, _ in runs),
                     "failed": sum(r["failed"] for r, _ in runs),
                     "attempted": sum(r["attempted"] for r, _ in runs)}
        over = {}
        for name in TRACED[w] if pairs else ():
            ratios = sorted(t["metrics"][f"traced.{name}"]["value"] / u["wall"][name]
                            for u, t in pairs)
            over[name] = {"overhead": ratios[len(ratios) // 2] - 1, "pairs": len(pairs)}
            print(f"{w:14s} {name:24s} tracing overhead {over[name]['overhead']:+.3f} "
                  f"({len(pairs)} seed pairs)", flush=True)
        report[w]["tracing_overhead"] = over
    out = ROOT / ".bench_work" / "steady.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
