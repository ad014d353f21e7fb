#!/usr/bin/env python3
"""The benchmark's own tests. Run from the repository root:

    python3 perfbench/test_perfbench.py

Each workload runs in fast mode (smallest inputs, two-second measuring time)
untraced and traced; the tests check the printed metric names and units
against BENCHMARK.json, the percentile rule on the recorded latencies, the
listener's attribution of jobs to spans, and that the benchmark refuses to
run without graft's sources.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
_runs = {}


def fast_run(workload, trace, repeat=0):
    """(detail, result) of one fast-mode run, cached per key."""
    key = (workload, trace, repeat)
    if key not in _runs:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "11", "--seconds", "2", "--trace", str(trace), "--fast"],
            cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600, check=True)
        lines = out.stdout.strip().splitlines()
        _runs[key] = (json.loads(lines[-2])["detail"], json.loads(lines[-1]))
    return _runs[key]


def beyond(n, p):
    """Samples strictly beyond the nearest-rank p-th percentile of n."""
    return n - min(n, max(1, -(-p * n // 100)))


class MetricsPrinted(unittest.TestCase):
    def check_metrics(self, trace, wanted):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                _, result = fast_run(w["name"], trace)
                self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(result["correct"], result)
                self.assertGreaterEqual(result["attempted"], 1)
                got = {k: v["unit"] for k, v in result["metrics"].items()}
                self.assertEqual(got, {m["name"]: m["unit"] for m in wanted})
                for v in result["metrics"].values():
                    self.assertIsInstance(v["value"], (int, float))

    def test_end_to_end_metrics_with_units(self):
        self.check_metrics(0, SPEC["end_to_end"])

    def test_per_layer_metrics_with_units(self):
        self.check_metrics(1, SPEC["per_layer"])

    def test_end_to_end_metrics_are_not_zero(self):
        for w in SPEC["workloads"]:
            _, result = fast_run(w["name"], 0)
            for name, v in result["metrics"].items():
                self.assertGreater(v["value"], 0, f"{w['name']} {name}")


class PercentileRule(unittest.TestCase):
    def test_reported_percentiles_have_ten_samples_beyond(self):
        for w in SPEC["workloads"]:
            detail, _ = fast_run(w["name"], 0)
            rec = detail["reads"]
            n = rec["n"]
            if rec["p90_ms"] is not None:
                self.assertGreaterEqual(beyond(n, 90), 10, (w["name"], n))
            else:
                self.assertLess(beyond(n, 90), 10, (w["name"], n))
            if rec["tail_pct"] is not None:
                self.assertGreaterEqual(beyond(n, rec["tail_pct"]), 10)


class ListenerAttribution(unittest.TestCase):
    def test_jobs_are_charged_to_the_span_that_issued_them(self):
        lines = run.run_jvm(run.build(), ["perfbench.SelfTest", "--work", run.WORK])
        res = json.loads(next(ln for ln in lines if ln.startswith("PERFBENCH_SELFTEST "))
                         .split(" ", 1)[1])
        failed = [k for k, ok in res["checks"].items() if not ok]
        self.assertEqual(failed, [])


class Determinism(unittest.TestCase):
    def test_same_seed_same_op_stream_and_spark_work(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                a, ra = fast_run(w["name"], 1)
                b, rb = fast_run(w["name"], 1, repeat=1)
                self.assertEqual(a["op_digest"], b["op_digest"])
                self.assertEqual(a["op_digest"], fast_run(w["name"], 0)[0]["op_digest"])
                counts = [k for k in ra["metrics"] if k.endswith((".jobs", ".tasks", ".calls"))]
                self.assertEqual({k: ra["metrics"][k]["value"] for k in counts},
                                 {k: rb["metrics"][k]["value"] for k in counts})


class RefusesWithoutSources(unittest.TestCase):
    def test_exits_nonzero_without_printing_a_result(self):
        bare = os.path.join(run.WORK, "bare_checkout")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "project/target", "__pycache__"))
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "asof_serving", "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=bare, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=180)
        shutil.rmtree(bare, ignore_errors=True)
        self.assertNotEqual(proc.returncode, 0)
        self.assertNotIn('"correct"', proc.stdout)


if __name__ == "__main__":
    unittest.main(verbosity=2)
