"""Toy-size self-test of the benchmark: every declared metric is printed with
its declared unit on every workload, the checks pass on the program as it
is, and a deliberately wrong expected answer drives failed_frac above 0.

    python3 perfbench/test_selftest.py      # from the root of a checkout
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join(ROOT, "perfbench", "run.py")
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(workload, trace, perturb=0):
    r = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", "3", "--seconds", "2",
                        "--trace", str(trace), "--toy", "1", "--perturb", str(perturb)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
    if r.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {r.returncode}:\n{r.stderr[-4000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


class SelfTest(unittest.TestCase):
    def assert_declared(self, result, kind):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        want = {m["name"]: m["unit"] for m in SPEC[kind]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        for k, v in result["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)

    def test_workloads(self):
        for w in [x["name"] for x in SPEC["workloads"]]:
            with self.subTest(workload=w):
                plain = run(w, 0)
                self.assert_declared(plain, "end_to_end")
                self.assertTrue(plain["correct"], plain)
                self.assertGreaterEqual(plain["attempted"], 1)
                self.assertEqual(plain["failed"], 0)
                for k, v in plain["metrics"].items():
                    self.assertGreater(v["value"], 0, k)
                broken = run(w, 1, perturb=1)
                self.assert_declared(broken, "per_layer")
                self.assertFalse(broken["correct"])
                self.assertGreater(broken["metrics"]["checks.failed_frac"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
