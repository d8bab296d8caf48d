#!/usr/bin/env python3
"""Tests of the benchmark harness itself.

  python3 perfbench/test_perfbench.py            # all tests
  python3 perfbench/test_perfbench.py Stats Targets  # no JVM

The `Seeds` tests build the harness and run its generator several times
(a few minutes).
"""
import json
import shutil
import statistics
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
from stats import beyond, quartile_spread, self_time, self_times, tail_percentile  # noqa: E402

WORK = build.ROOT / ".bench_work" / "tests"


class Stats(unittest.TestCase):
    def test_tail_rule_keeps_ten_samples_beyond(self):
        self.assertEqual(tail_percentile(1000), 99)
        self.assertEqual(tail_percentile(200), 95)
        self.assertEqual(tail_percentile(100), 90)
        self.assertEqual(tail_percentile(50), 80)
        self.assertEqual(tail_percentile(40), 75)
        self.assertIsNone(tail_percentile(30))
        for n in range(1, 400):
            p = tail_percentile(n)
            if p is not None:
                self.assertGreaterEqual(beyond(n, p), 10)
                higher = [q for q in (99, 95, 90, 80) if q > p]
                self.assertTrue(all(beyond(n, q) < 10 for q in higher))

    def test_quartile_spread_matches_statistics(self):
        xs = [10.0, 12.0, 11.0, 13.0, 9.0, 10.5, 11.5, 12.5, 10.2, 11.1]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        self.assertEqual(quartile_spread(xs), (med, q1, q3, (q3 - q1) / med))

    def test_self_time_subtracts_covered_part_once(self):
        # children overlap each other and stick out of the parent
        self.assertEqual(self_time((0, 100), [(10, 30), (20, 40), (90, 120)]), 60)
        self.assertEqual(self_time((0, 100), []), 100)
        self.assertEqual(self_time((0, 100), [(-5, 200)]), 0)

    def test_self_times_by_name(self):
        spans = [
            {"id": 1, "parent": 0, "name": "req", "start_us": 0, "end_us": 100},
            {"id": 2, "parent": 1, "name": "parse", "start_us": 0, "end_us": 10},
            {"id": 3, "parent": 1, "name": "run", "start_us": 20, "end_us": 90},
            {"id": 4, "parent": 3, "name": "parse", "start_us": 30, "end_us": 40},
        ]
        self.assertEqual(self_times(spans), {"req": 20, "parse": 20, "run": 60})

    def test_run_requests_weigh_each_template_once(self):
        ops = [{"kind": "run", "ok": True, "template": t, "start_us": 0, "end_us": ms * 1000}
               for t, ms in (("a", 100), ("a", 100), ("a", 130), ("b", 400), ("c", 50))]
        ops.append({"kind": "run", "ok": False, "template": "c", "start_us": 0, "end_us": 9000000})
        self.assertEqual(metrics.run_request_ms({"ops": ops}), (100 + 400 + 50) / 3)

    def test_end_to_end_is_cpu_time(self):
        ops = [{"kind": k, "ok": True, "template": "a", "start_us": 0, "end_us": 9000000, "cpu_us": c}
               for k, c in (("run", 200000), ("deploy", 300000), ("increment", 400000))]
        raw = {"ops": ops, "info": {"setup_cpu_s": 5.0, "setup_s": 2.0}}
        e2e = metrics.end_to_end(raw, "etl_pipeline")
        self.assertEqual(e2e, {"op1_cpu_ms": 200.0, "op2_cpu_ms": 300.0, "op3_cpu_ms": 400.0,
                               "setup_s": 5.0})
        self.assertEqual(set(e2e), set(metrics.E2E_UNITS))


class Targets(unittest.TestCase):
    """targets.json names, for every per-layer metric of BENCHMARK.json,
    the metrics it should move and the workloads it is measured on."""

    def test_every_per_layer_metric_has_a_target(self):
        targets = json.loads((build.ROOT / "perfbench" / "targets.json").read_text())
        self.assertEqual(set(targets), set(metrics.PER_LAYER_UNITS))
        known = set(metrics.E2E_UNITS) | set(metrics.PER_LAYER_UNITS) | {"failed"}
        workloads = {w["name"] for w in metrics.BENCH["workloads"]}
        for name, t in targets.items():
            self.assertLessEqual(set(t["moves"]), known, name)
            self.assertLessEqual(set(t["on"]), workloads, name)

    def test_per_layer_reports_every_metric(self):
        info = {"setup_s": 1.0, "cores": 4, "jvm_gc_ms": 0, "heap_peak_mb": 0, "vm_hwm_mb": 0}
        raw = {"info": info, "ops": [], "spans": [], "jobs": [], "stages": [], "planning": [],
               "batches": []}
        for w in metrics.OPS:
            self.assertEqual(set(metrics.per_layer(raw, w, 0, 1, {})), set(metrics.PER_LAYER_UNITS))


def generate(workload, seed, name):
    work = WORK / name
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    run.run_jvm(build.build(), work, ["gen", workload, seed, work], 600)
    return work, json.loads((work / "manifest.json").read_text())


def planted_duplicates(corpus_dir):
    """(exact, near): docs whose text repeats an earlier doc's, and docs
    one token away from an earlier doc of the same length."""
    import duckdb
    rows = duckdb.execute(
        f"SELECT doc_id, text FROM read_parquet('{corpus_dir}/*.parquet') ORDER BY doc_id").fetchall()
    seen, exact, near = set(), 0, 0
    by_len = {}
    for _, text in rows:
        toks = text.split(" ")
        if text in seen:
            exact += 1
        elif any(sum(a != b for a, b in zip(toks, o)) == 1 for o in by_len.get(len(toks), [])):
            near += 1
        seen.add(text)
        by_len.setdefault(len(toks), []).append(toks)
    return exact, near


class Seeds(unittest.TestCase):
    """Same seed, same bytes; another seed, another corpus with the same
    planted duplicate rate."""

    @classmethod
    def setUpClass(cls):
        cls.heavy = {n: generate("heavy_batch", s, n) for n, s in (("a", 3), ("b", 3), ("c", 4))}

    def test_heavy_inputs_repeat_bytewise(self):
        (_, a), (_, b) = self.heavy["a"], self.heavy["b"]
        self.assertEqual(a["input_files"], b["input_files"])
        self.assertEqual(a["inputs"], b["inputs"])

    def test_other_seed_other_corpus_same_planted_rate(self):
        (wa, a), (wc, c) = self.heavy["a"], self.heavy["c"]
        key = "corpus/documents.parquet/part-00000.parquet"
        self.assertNotEqual(a["input_files"][key]["sha256"], c["input_files"][key]["sha256"])
        da = planted_duplicates(wa / "inputs" / "corpus" / "documents.parquet")
        dc = planted_duplicates(wc / "inputs" / "corpus" / "documents.parquet")
        self.assertEqual(da, dc)
        self.assertGreater(da[0], 0)
        self.assertGreater(da[1], 0)

    def test_etl_inputs_repeat_bytewise(self):
        (_, a), (_, b) = (generate("etl_pipeline", 5, n) for n in ("etl-a", "etl-b"))
        self.assertEqual(a["input_files"], b["input_files"])
        self.assertIn("segments/seg-00000.parquet", a["input_files"])


class Contract(unittest.TestCase):
    def test_fails_without_engine_sources(self):
        bare = WORK / "bare"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        shutil.copy(build.ROOT / "BENCHMARK.json", bare)
        shutil.copytree(build.ROOT / "perfbench", bare / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "etl_pipeline",
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=bare, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                           timeout=180)
        self.assertNotEqual(r.returncode, 0)
        self.assertEqual(r.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
