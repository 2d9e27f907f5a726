"""Smoke test: a tiny run of every workload, plain and traced.

    python3 perfbench/tests/test_smoke.py

Run from the root of a checkout (the first run builds the engine). Each
run must print every metric of its mode — in the listing and in the JSON
result line — and finish with no failed operation. The metric lists in
run.py must match BENCHMARK.json.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402


def tiny(workload, trace):
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "5",
         "--seconds", "2", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-2000:]
    return out.stdout.strip().splitlines()


class Smoke(unittest.TestCase):
    def check(self, workload, trace):
        lines = tiny(workload, trace)
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0, lines[-12:])
        self.assertTrue(result["correct"])
        wanted = run.PER_LAYER if trace else run.END_TO_END
        self.assertEqual(set(result["metrics"]), {n for n, _, _ in wanted})
        listed = {ln.split()[0] for ln in lines[:-2]}
        for name, unit, better in wanted:
            self.assertIn(name, listed)
            self.assertEqual(result["metrics"][name]["unit"], unit)
        summary = lines[-2]
        self.assertTrue(summary.startswith("SUMMARY "))
        self.assertLessEqual(len(summary.encode()), 1024)
        return result["metrics"]

    def test_ask_miss(self):
        m = self.check("ask-miss", 0)
        self.assertGreater(m["latency_ms"]["value"], 0)

    def test_ask_miss_traced(self):
        m = self.check("ask-miss", 1)
        self.assertGreater(m["GraphIndex.walk_calls"]["value"], 0)
        self.assertGreater(m["AskServer.self_ms_p50"]["value"], 0)

    def test_ask_zipf(self):
        self.check("ask-zipf", 0)

    def test_batch_queries(self):
        m = self.check("batch-queries", 0)
        self.assertGreater(m["goodput_per_s"]["value"], 0)

    def test_batch_queries_traced(self):
        m = self.check("batch-queries", 1)
        self.assertGreater(m["q_join_revenue.jobs"]["value"], 0)

    def test_benchmark_json_matches(self):
        bench = json.loads((ROOT / "BENCHMARK.json").read_text())
        for key, ours in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
            self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench[key]], ours)
        registered = [w["name"] for w in bench["workloads"]]
        self.assertTrue(set(registered) <= set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
