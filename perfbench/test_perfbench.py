#!/usr/bin/env python3
"""Self-tests of the benchmark: every workload on tiny inputs
(sf0.001-shaped tables, two arrivals), traced and untraced; the checks
must catch a corrupted digest and a wrong RBAC count; BENCHMARK.json must
agree with perfbench/metrics.json; and a tree without the program must
fail without printing a result.

    python3 perfbench/test_perfbench.py        (about ten minutes)
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["query_mix", "query_hot_sf1", "lake_lane"]
# per-layer metrics that are legitimately zero on tiny inputs: nothing
# spills, local shuffle reads do not wait, short runs may not collect
# garbage, and a maintained arrival need not be slower than a plain one
MAY_BE_ZERO = {"queries.spill_bytes", "queries.fetch_wait_s", "queries.gc_s",
               "lake.maintenance_stall_s", "failed_ratio"}


def run(workload, trace=0, fault="", cwd=ROOT, script=None):
    cmd = [sys.executable, script or os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace)]
    cmd += ["--arrivals", "2"] if workload == "lake_lane" else ["--tier", "tiny"]
    if fault:
        cmd += ["--fault", fault]
    r = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    return r.returncode, result, r.stderr


def load(name):
    with open(name) as f:
        return json.load(f)


class SpecTest(unittest.TestCase):
    def test_benchmark_json_matches_metric_catalog(self):
        bench = load(os.path.join(ROOT, "BENCHMARK.json"))
        spec = load(os.path.join(HERE, "metrics.json"))
        self.assertEqual(set(bench), {"command", "paths", "run_seconds",
                                      "workloads", "end_to_end", "per_layer"})
        self.assertEqual([w["name"] for w in bench["workloads"]],
                         [w["name"] for w in spec["workloads"]])
        for key, fields in (("end_to_end", ("name", "unit", "better", "bound")),
                            ("per_layer", ("name", "unit", "better"))):
            self.assertEqual(
                bench[key],
                [{f: m[f] for f in fields} for m in spec[key]])
        names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        e2e = {m["name"]: m for m in bench["end_to_end"]}
        self.assertEqual(e2e["setup_s"]["bound"],
                         max(m["bound"] for m in e2e.values()))
        for m in spec["per_layer"]:
            self.assertTrue(set(m["workloads"]) <= set(WORKLOADS), m)


class WorkloadTest(unittest.TestCase):
    def check_result(self, workload, trace):
        code, res, err = run(workload, trace)
        self.assertEqual(code, 0, err[-3000:])
        self.assertIsNotNone(res, err[-3000:])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], err[-3000:])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        spec = load(os.path.join(HERE, "metrics.json"))
        wanted = spec["per_layer"] if trace else spec["end_to_end"]
        self.assertEqual(set(res["metrics"]), {m["name"] for m in wanted})
        zero = []
        for m in wanted:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"])
            self.assertIsInstance(got["value"], float)
            if not trace:
                self.assertGreater(got["value"], 0, m["name"])
            elif workload in m["workloads"] and got["value"] == 0 \
                    and m["name"] not in MAY_BE_ZERO:
                zero.append(m["name"])
        self.assertEqual(zero, [], "exercised layers that measured 0")
        if trace:
            self.assertEqual(res["metrics"]["failed_ratio"]["value"], 0.0)
            spans = os.path.join(ROOT, ".bench_build", "traces",
                                 f"{workload}-seed7.spans.jsonl")
            with open(spans) as f:
                first = json.loads(f.readline())
            for k in ("trace_id", "span_id", "parent", "start_ms", "end_ms",
                      "self_s"):
                self.assertIn(k, first)

    def test_query_mix(self):
        self.check_result("query_mix", 0)

    def test_query_mix_traced(self):
        self.check_result("query_mix", 1)

    def test_query_hot(self):
        self.check_result("query_hot_sf1", 0)

    def test_query_hot_traced(self):
        self.check_result("query_hot_sf1", 1)

    def test_lake_lane(self):
        self.check_result("lake_lane", 0)

    def test_lake_lane_traced(self):
        self.check_result("lake_lane", 1)

    def test_corrupt_digest_counts_as_failure(self):
        code, res, err = run("query_mix", fault="digest")
        self.assertEqual(code, 0, err[-3000:])
        self.assertGreater(res["failed"], 0)
        self.assertFalse(res["correct"])

    def test_wrong_rbac_count_counts_as_failure(self):
        code, res, err = run("lake_lane", fault="rbac")
        self.assertEqual(code, 0, err[-3000:])
        self.assertGreater(res["failed"], 0)
        self.assertFalse(res["correct"])


class StandaloneTest(unittest.TestCase):
    def test_fails_without_the_program(self):
        tree = os.path.join(ROOT, ".bench_build", "selftest-bare")
        shutil.rmtree(tree, ignore_errors=True)
        os.makedirs(tree)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tree)
        shutil.copytree(HERE, os.path.join(tree, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        try:
            code, res, _ = run("query_mix", cwd=tree,
                               script=os.path.join(tree, "perfbench", "run.py"))
            self.assertNotEqual(code, 0)
            self.assertIsNone(res)
        finally:
            shutil.rmtree(tree, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
