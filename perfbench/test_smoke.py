"""The benchmark's own test: tiny-size smoke runs of every workload.

    python3 -m unittest perfbench/test_smoke.py     (from the repository root)

Checks that every metric named in BENCHMARK.json is emitted with its unit
(end-to-end ones with --trace 0, per-layer ones with --trace 1), that the
smoke joins pass their checks, and that a wrong expected checksum is counted
as a failed join.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, *extra):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke", *extra],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=300)
    assert p.returncode == 0, f"{workload} trace {trace} exited {p.returncode}"
    return json.loads(p.stdout.strip().splitlines()[-1])


class SmokeTest(unittest.TestCase):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    def check_metrics(self, result, declared):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        got = result["metrics"]
        self.assertEqual(set(got), {m["name"] for m in declared})
        for m in declared:
            self.assertEqual(got[m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(got[m["name"]]["value"], (int, float), m["name"])

    def test_every_metric_emitted_with_unit(self):
        for w in self.spec["workloads"]:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w["name"], trace=trace):
                    r = run(w["name"], trace)
                    self.assertTrue(r["correct"])
                    self.assertEqual(r["failed"], 0)
                    self.assertGreaterEqual(r["attempted"], 1)
                    self.check_metrics(r, self.spec[key])

    def test_wrong_checksum_counts_as_failed(self):
        r = run("uniform_pp_sql", 0, "--corrupt-checksum")
        self.assertFalse(r["correct"])
        self.assertGreaterEqual(r["attempted"], 1)
        self.assertEqual(r["failed"], r["attempted"])


if __name__ == "__main__":
    unittest.main()
