"""Smoke test of the benchmark at its smallest size.

Runs every workload once untraced and once traced at the smoke size
(registry over sf0.001, a 2,000-document corpus for mr_sql and mr_api)
and checks that each run is correct and reports exactly the metrics
BENCHMARK.json names. Takes a few minutes.

Usage (from the repository root): python3 perfbench/test_smoke.py
"""

import json
import subprocess
import unittest

BENCH = json.load(open("BENCHMARK.json"))


def run(workload, trace):
    cmd = BENCH["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1",
                              "--trace", str(trace), "--size", "smoke"]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=400)
    assert res.returncode == 0, f"{workload} trace={trace}: exit {res.returncode}"
    lines = res.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


class Smoke(unittest.TestCase):
    def check(self, workload):
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            result, before = run(workload, trace)
            self.assertTrue(result["correct"], result)
            self.assertEqual(result["failed"], 0)
            self.assertGreaterEqual(result["attempted"], 1)
            want = {m["name"]: m["unit"] for m in BENCH[section]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            self.assertEqual(got, want)
            if trace:
                items = [json.loads(line) for line in before if line.startswith('{"trace_item"')]
                self.assertTrue(items, "traced run printed no per-item job counts")
            else:
                for name in ("setup_s", "wall_s", "query_p50_s", "peak_rss_mb"):
                    self.assertGreater(result["metrics"][name]["value"], 0, name)

    def test_registry(self):
        self.check("registry")

    def test_mr_sql(self):
        self.check("mr_sql")

    def test_mr_api(self):
        self.check("mr_api")


if __name__ == "__main__":
    unittest.main()
