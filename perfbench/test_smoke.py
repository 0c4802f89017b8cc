"""Smoke tests of the benchmark itself, on the tiny sf0.001 tables.

    python3 -m unittest perfbench/test_smoke.py     # from the repository root

They check that every metric named in BENCHMARK.json prints with its unit,
that a tampered expected fingerprint fails the output check, and that the
exact counts of the traced run repeat from one run to the next.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    CONTRACT = json.load(f)
with open(os.path.join(HERE, "workloads.json")) as f:
    WORKLOADS = json.load(f)
QUERY = next(name for name, w in WORKLOADS.items() if "keys" in w)


def bench(workload, trace, *extra, seed=1):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--smoke", *extra],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    return r.returncode, json.loads(lines[-1]) if lines else None, r.stderr


class Smoke(unittest.TestCase):
    def assert_metrics(self, result, names_units):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        for name, unit in names_units:
            self.assertIn(name, result["metrics"])
            self.assertEqual(result["metrics"][name]["unit"], unit)
            self.assertIsInstance(result["metrics"][name]["value"], (int, float))

    def test_every_metric_prints_with_its_unit(self):
        e2e = [(m["name"], m["unit"]) for m in CONTRACT["end_to_end"]]
        layers = [(m["name"], m["unit"]) for m in CONTRACT["per_layer"]]
        for w in CONTRACT["workloads"]:
            rc, res, err = bench(w["name"], 0)
            self.assertEqual(rc, 0, err[-2000:])
            self.assertTrue(res["correct"])
            self.assert_metrics(res, e2e)
        rc, res, err = bench("ingest", 1)
        self.assertEqual(rc, 0, err[-2000:])
        self.assert_metrics(res, layers)

    def test_tampered_fingerprint_fails_the_check(self):
        with open(os.path.join(HERE, "expected.json")) as f:
            expected = json.load(f)
        key = WORKLOADS[QUERY]["keys"][0]
        entry = expected["sf0.001"][key]
        entry["hash"] = "0:0" if entry.get("hash") != "0:0" else "1:1"
        os.makedirs(WORK, exist_ok=True)
        tampered = os.path.join(WORK, "expected-tampered.json")
        with open(tampered, "w") as f:
            json.dump(expected, f)
        rc, res, _ = bench(QUERY, 0, "--expected", tampered)
        self.assertNotEqual(rc, 0)
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)

    def test_exact_counts_repeat(self):
        exact = ("exec.jobs", "plans.exchanges", "pipeline.write_mb")
        for w in (QUERY, "ingest"):
            runs = []
            for _ in range(2):
                rc, res, err = bench(w, 1)
                self.assertEqual(rc, 0, err[-2000:])
                runs.append({k: res["metrics"][k]["value"] for k in exact})
            self.assertEqual(runs[0], runs[1], w)


if __name__ == "__main__":
    unittest.main()
