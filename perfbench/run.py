#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage, from the repository root:

  python3 perfbench/run.py --workload etl_pipeline --seed 1 --seconds 20 --trace 0

Builds the engine and harness if their sources changed (build.py),
runs the harness JVM for --seconds of closed-loop ops, checks every
op's output against DuckDB outside the timed region, and prints a
summary on stderr and, as the last stdout line, one JSON object with
`correct`, `attempted`, `failed` and `metrics`. --trace 0 reports the
end-to-end metrics; --trace 1 records spans and listener events and
reports the per-layer metrics. Work files go to .bench_work/.
"""
import argparse
import json
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402
import checks  # noqa: E402
import metrics  # noqa: E402
from stats import tail_percentile  # noqa: E402

WORKLOADS = ("etl_pipeline", "heavy_batch")
HEAP = "2g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# Everything the harness JVM adds beyond --seconds: generation, the
# set-up, the drain of the last op and the output write-out.
JVM_GRACE_S = 120


def jvm_command(classpath, work, args):
    # Compiler threads never exit: the harness's CPU clock subtracts the
    # live JIT and GC threads' time from the whole process's.
    opts = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", "-XX:+UseG1GC",
            "-XX:-UseDynamicNumberOfCompilerThreads", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dspark.local.dir={work / 'tmp'}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return ["java"] + opts + ["-cp", classpath, "perfbench.Main"] + [str(a) for a in args]


def run_jvm(classpath, work, args, timeout):
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    log = work / "jvm.log"
    with open(log, "w") as f:
        try:
            r = subprocess.run(jvm_command(classpath, work, args), cwd=work, stdout=f,
                               stderr=subprocess.STDOUT, timeout=timeout)
            code = r.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0:
        sys.stderr.write(log.read_text()[-6000:])
        raise SystemExit(f"perfbench: harness JVM failed ({code})")


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    classpath = build.build()
    work = build.ROOT / ".bench_work" / f"{a.workload}-seed{a.seed}-trace{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    run_jvm(classpath, work, ["run", a.workload, a.seed, a.seconds, a.trace, work],
            a.seconds + JVM_GRACE_S)
    raw = json.loads((work / "raw.json").read_text())

    bad, extra = checks.CHECKS[a.workload](raw, str(work))
    counted = [o for o in raw["ops"] if not o["kind"].endswith("_pass")]
    failed_ids = {o["req"] for o in counted if not o["ok"]} | set(bad)
    attempted, failed = len(counted), len(failed_ids)

    if a.trace:
        values = metrics.per_layer(raw, a.workload, failed, attempted, extra)
        units = metrics.PER_LAYER_UNITS
        (work / "self_times_ms.json").write_text(
            json.dumps(metrics.span_self_times_ms(raw), indent=1))
    else:
        values = metrics.end_to_end(raw, a.workload)
        units = metrics.E2E_UNITS
    out = {k: {"value": float(v), "unit": units[k]} for k, v in values.items()}

    # Human-readable report: every metric under its per-workload name too.
    samples = {k: len(metrics.ops_of(raw, k)) for k in metrics.OPS[a.workload]}
    report = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "attempted": attempted,
        "failed": failed, "error_rate": failed / attempted if attempted else 0.0,
        "samples": samples,
        "tail_percentile": {k: tail_percentile(n) for k, n in samples.items()},
        "gen_s": raw["info"]["gen_s"],
        "inputs": raw["info"]["inputs"], "cores": raw["info"]["cores"], "heap": HEAP,
        "setup_cpu_s": raw["info"]["setup_cpu_s"],
        "wall": {**metrics.workload_names(raw, a.workload), "setup_s": raw["info"]["setup_s"]},
        "checks": extra,
        "failures": {k: (bad.get(k) or next((o.get("error") for o in counted if o["req"] == k), ""))
                     for k in sorted(failed_ids)},
    }
    (work / "report.json").write_text(json.dumps(report, indent=1))
    print(json.dumps(report, indent=1), file=sys.stderr)

    for d in ("inputs", "out", "stream", "tmp", "warehouse"):
        shutil.rmtree(work / d, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
