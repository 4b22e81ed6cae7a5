"""Self-tests of the benchmark: its checks catch planted faults, and the
metric names it prints are BENCHMARK.json's. Each test makes real runs
(about a minute each, one Spark process at a time):

    python3 -m unittest discover -s perfbench/tests -v
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
RUN = [sys.executable, os.path.join(ROOT, "perfbench", "run.py")]


def bench(workload, trace=0, inject="none", seed=7):
    p = subprocess.run(RUN + ["--workload", workload, "--seed", str(seed), "--seconds", "1",
                              "--trace", str(trace), "--inject", inject],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines else None, lines


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class PlantedFaults(unittest.TestCase):
    def assert_caught(self, rc, result):
        self.assertNotEqual(rc, 0)
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)

    def test_dropped_frame_fails_the_run(self):
        self.assert_caught(*bench("ingest_backfill", inject="drop")[:2])

    def test_duplicated_frame_fails_the_run(self):
        self.assert_caught(*bench("ingest_backfill", inject="dup")[:2])

    def test_perturbed_query_result_fails_the_run(self):
        self.assert_caught(*bench("loops_standing", inject="perturb")[:2])


class MetricNames(unittest.TestCase):
    def test_printed_names_are_benchmark_json_names(self):
        s = spec()
        self.assertEqual([w["name"] for w in s["workloads"]],
                         ["ingest_backfill", "loops_standing"])
        produced = set()
        for w in s["workloads"]:
            for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
                rc, result, lines = bench(w["name"], trace=trace)
                self.assertEqual(rc, 0, lines[-3:])
                self.assertTrue(result["correct"])
                self.assertEqual(sorted(result["metrics"]), sorted(m["name"] for m in s[kind]))
                for name, m in result["metrics"].items():
                    self.assertEqual(m["unit"], next(x["unit"] for x in s[kind] if x["name"] == name))
                if trace:
                    report = json.loads(lines[-2])
                    produced |= set(report["per_layer_measured"])
        # every per-layer metric is measured by at least one workload
        self.assertEqual(produced, {m["name"] for m in s["per_layer"]})


if __name__ == "__main__":
    unittest.main()
