"""Turns a harness run's raw record into the benchmark's metrics.

End-to-end metrics (untraced run) are per-run medians of the CPU time
the harness process's own threads (not the JVM's JIT compiler and GC
threads) spend on three op classes, plus the CPU time of the set-up:

  metric      etl_pipeline                  heavy_batch
  op1_cpu_ms  batch run request (*)         pair kernels (containment + ngram_jaccard) per pass
  op2_cpu_ms  deploy request                keep_representatives per pass
  op3_cpu_ms  stream increment              graph ops (pagerank + triangle_count) per pass
  setup_s     JVM start to the first timed op, without input generation

(*) the mean over the three batch templates of each one's median.

CPU time, unlike wall time, leaves out the time the host's other
tenants take from this machine's cores (see Clock.appCpuUs); the
wall-clock numbers are in the report and, traced, in the `traced.*`
per-layer metrics.

The per-layer metrics come from the traced run's spans and listener
records; a layer a workload does not call reports 0.
"""
import json
import statistics
from pathlib import Path

from stats import self_time, self_times, union_length

BENCH = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
E2E_UNITS = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
PER_LAYER_UNITS = {m["name"]: m["unit"] for m in BENCH["per_layer"]}

OPS = {"etl_pipeline": ("run", "deploy", "increment"),
       "heavy_batch": ("pairs_pass", "clusters_pass", "graph_pass")}


def dur_ms(op):
    """Wall time of an op."""
    return (op["dur_us"] if "dur_us" in op else op["end_us"] - op["start_us"]) / 1000.0


def cpu_ms(op):
    """CPU time the harness process's own threads spent during an op."""
    return op["cpu_us"] / 1000.0


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def ops_of(raw, kind, ok_only=True):
    return [o for o in raw["ops"] if o["kind"] == kind and (o["ok"] or not ok_only)]


def run_request_ms(raw, measure=dur_ms):
    """Mean over the batch templates of each template's median: a fixed
    mix, whatever share of each template fitted into the run."""
    by = {}
    for o in ops_of(raw, "run"):
        by.setdefault(o["template"], []).append(measure(o))
    return statistics.mean(statistics.median(v) for v in by.values()) if by else 0.0


def op_classes(raw, workload, measure):
    """Median of `measure` per op class: run requests, deploys and
    increments on etl_pipeline; the three groups per pass on heavy_batch."""
    m = [_med([measure(o) for o in ops_of(raw, k)]) for k in OPS[workload]]
    if workload == "etl_pipeline":
        m[0] = run_request_ms(raw, measure)
    return m


def end_to_end(raw, workload):
    m = {f"op{i + 1}_cpu_ms": v for i, v in enumerate(op_classes(raw, workload, cpu_ms))}
    m["setup_s"] = raw["info"]["setup_cpu_s"]
    return m


def workload_names(raw, workload):
    """Wall-clock numbers under their per-workload names."""
    out = {k: 0.0 for k in ("run_ms_p50", "deploy_ms_p50", "increment_ms_p50",
                            "catchup_events_per_s", "dedup_s", "graph_s")}
    a, b, c = op_classes(raw, workload, dur_ms)
    if workload == "etl_pipeline":
        rates = [o["events"] / (dur_ms(o) / 1000) for o in ops_of(raw, "catchup")]
        out.update(run_ms_p50=a, deploy_ms_p50=b, increment_ms_p50=c,
                   catchup_events_per_s=_med(rates))
    else:
        out.update(dedup_s=(a + b) / 1000, graph_s=c / 1000)
    return out


def _spans(raw, name):
    return [s for s in raw["spans"] if s["name"] == name]


def _span_ms(raw, name):
    return [(s["end_us"] - s["start_us"]) / 1000.0 for s in _spans(raw, name)]


def per_layer(raw, workload, failed, attempted, extra):
    m = {k: 0.0 for k in PER_LAYER_UNITS}
    # requests: every timed op; on heavy_batch the single op calls
    ops = [o for o in raw["ops"] if not o["kind"].endswith("_pass")]
    reqs = {o["req"]: o for o in ops}
    jobs_by_req, stages_by_req = {}, {}
    for j in raw["jobs"]:
        jobs_by_req.setdefault(j["req"], []).append(j)
    for s in raw["stages"]:
        stages_by_req.setdefault(s["req"], []).append(s)

    # pipeline layer
    run_reqs = {o["req"] for o in ops_of(raw, "run")}
    m["pipeline.parse_ms"] = _med([(s["end_us"] - s["start_us"]) / 1000.0
                                   for s in _spans(raw, "pipeline.parse") if s["req"] in run_reqs])
    m["pipeline.validate_ms"] = _med(_span_ms(raw, "pipeline.validate"))
    runs = [s for s in _spans(raw, "pipeline.run") if s["req"] in run_reqs]
    m["pipeline.run_ms"] = _med([(s["end_us"] - s["start_us"]) / 1000.0 for s in runs])
    m["pipeline.self_ms"] = _med([
        self_time((s["start_us"], s["end_us"]),
                  [(j["start_ms"] * 1000, j["end_ms"] * 1000) for j in jobs_by_req.get(s["req"], [])]) / 1000.0
        for s in runs])

    # dynamic layer: compiles counted as growth of the session's jar list
    deploys = ops_of(raw, "deploy", ok_only=False)
    m["dynamic.deploy_validate_ms"] = _med(_span_ms(raw, "dynamic.deploy_validate"))
    m["dynamic.compiles"] = sum(o.get("new_jars", 0) for o in raw["ops"])
    m["dynamic.compiles_per_deploy"] = (
        sum(o.get("new_jars", 0) for o in deploys) / len(deploys) if deploys else 0.0)
    m["dynamic.session_jars"] = raw["info"].get("session_jars", 0)

    # llm and operators layers
    from_op = {"llm.containment": "dedup_containment", "llm.ngram_jaccard": "dedup_ngram_jaccard",
               "llm.keep_representatives": "dedup_keep_representatives",
               "operators.graph_pagerank": "graph_pagerank", "operators.triangle_count": "triangle_count"}
    for layer, op in from_op.items():
        calls = ops_of(raw, op)
        if calls:
            m[f"{layer}.build_ms"] = _med([o["build_us"] / 1000.0 for o in calls])
            m[f"{layer}.exec_ms"] = _med([o["exec_us"] / 1000.0 for o in calls])
            if f"{layer}.rows" in m:
                m[f"{layer}.rows"] = _med([o["rows"] for o in calls])

    # streaming layer, from the harness's StreamingQueryListener
    batches = raw["batches"]
    data = [b for b in batches if b["rows"] > 0]
    m["streaming.batches"] = len(batches)
    sruns = _spans(raw, "pipeline.run")
    if batches:
        stream_reqs = [s for s in sruns if reqs.get(s["req"], {}).get("kind") in ("increment", "catchup")]
        gaps = []
        for s in stream_reqs:
            inside = [(b["start_ms"] * 1000, b["start_ms"] * 1000 + b["duration_ms"].get("triggerExecution", 0) * 1000)
                      for b in batches if s["start_us"] <= b["start_ms"] * 1000 <= s["end_us"]]
            gaps.append(((s["end_us"] - s["start_us"]) - union_length(inside)) / 1000.0)
        m["streaming.start_stop_ms"] = _med(gaps)
        for key, name in (("latestOffset", "latest_offset_ms"), ("queryPlanning", "planning_ms"),
                          ("addBatch", "add_batch_ms"), ("walCommit", "wal_commit_ms"),
                          ("commitOffsets", "commit_ms")):
            m[f"streaming.{name}"] = _med([b["duration_ms"].get(key, 0) for b in data])
        m["streaming.state_rows"] = max(b["state_rows"] for b in batches)
        m["streaming.state_mb"] = max(b["state_bytes"] for b in batches) / 1048576.0
        rows_in = sum(b["rows"] for b in data)
        dropped = sum(max(b["dropped_by_watermark"].values(), default=0) for b in data)
        late = dropped / rows_in if rows_in else 0.0
        m["streaming.late_drop_gap"] = abs(late - extra.get("late_expected_ratio", 0.0))
        busy = sum(b["duration_ms"].get("triggerExecution", 0) for b in data) / 1000.0
        m["streaming.input_rows_per_s"] = rows_in / busy if busy else 0.0

    # spark layer, per request (one op call on heavy_batch)
    n = max(len(reqs), 1)
    mine = [s for r in reqs for s in stages_by_req.get(r, [])]
    m["spark.jobs"] = sum(len(jobs_by_req.get(r, [])) for r in reqs) / n
    m["spark.stages"] = len(mine) / n
    m["spark.tasks"] = sum(s["tasks"] for s in mine) / n
    req_windows = [(o["start_us"], o["end_us"]) for o in reqs.values()]
    plans = [p for p in raw["planning"]
             if any(a <= p["start_ms"] * 1000 <= b for a, b in req_windows)]
    m["spark.planning_ms"] = sum(p["ms"] for p in plans) / n
    gaps = []
    for r in reqs:
        js = sorted(jobs_by_req.get(r, []), key=lambda j: j["start_ms"])
        gaps += [max(0, b["start_ms"] - a["end_ms"]) for a, b in zip(js, js[1:])]
    m["spark.job_gap_ms"] = _med(gaps)
    m["spark.task_ms"] = sum(sum(s["task_run_ms"]) for s in mine) / n
    m["spark.cpu_ms"] = sum(s["cpu_ms"] for s in mine) / n
    m["spark.gc_ms"] = sum(s["gc_ms"] for s in mine) / n
    m["spark.shuffle_read_mb"] = sum(s["shuffle_read_b"] for s in mine) / n / 1048576.0
    m["spark.shuffle_write_mb"] = sum(s["shuffle_write_b"] for s in mine) / n / 1048576.0
    m["spark.spill_mb"] = sum(s["spill_b"] for s in mine) / n / 1048576.0
    wall_ms = sum(dur_ms(o) for o in reqs.values())
    cores = raw["info"]["cores"]
    m["spark.core_busy"] = (sum(sum(s["task_run_ms"]) for s in mine) / (wall_ms * cores)) if wall_ms else 0.0
    skews = []
    for r in reqs:
        st = [s for s in stages_by_req.get(r, []) if s["task_run_ms"]]
        if st:
            top = max(st, key=lambda s: sum(s["task_run_ms"]))
            medt = statistics.median(top["task_run_ms"])
            skews.append(max(top["task_run_ms"]) / medt if medt > 0 else 1.0)
    m["spark.task_skew"] = _med(skews)
    m["spark.failed_tasks"] = sum(s["failed_tasks"] for s in raw["stages"])

    m["jvm.gc_ms"] = raw["info"]["jvm_gc_ms"]
    m["jvm.heap_max_mb"] = raw["info"]["heap_peak_mb"]
    m["jvm.peak_rss_mb"] = raw["info"]["vm_hwm_mb"]
    m["error_rate"] = failed / attempted if attempted else 0.0
    m["trace.spans"] = len(raw["spans"])
    for k, v in workload_names(raw, workload).items():
        m[f"traced.{k}"] = v
    m["traced.setup_s"] = raw["info"]["setup_s"]
    return m


def span_self_times_ms(raw):
    return {k: v / 1000.0 for k, v in sorted(self_times(raw["spans"]).items())}
