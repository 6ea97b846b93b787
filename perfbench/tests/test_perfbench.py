"""Self-test of the benchmark at sf0.001 (about two minutes at local[4]).

    python3 -m unittest discover -s perfbench/tests -v

Runs curation_cold twice, untraced with one seed and traced with
another, and checks that every metric BENCHMARK.json names is printed
with its unit, and that the seeds change the request order but not a
single result digest.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run(seed, trace):
    p = subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                        "--workload", "curation_cold", "--seed", str(seed), "--seconds", "1",
                        "--trace", str(trace), "--scale", "0.001"],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"run.py exited with {p.returncode}:\n{p.stderr[-3000:]}")
    lines = p.stdout.splitlines()
    return lines, json.loads(lines[-1])


class PerfbenchSelfTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)
        cls.plain = run(seed=1, trace=0)
        cls.traced = run(seed=2, trace=1)

    def check_metrics(self, lines, result, specs, prefix):
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(set(result["metrics"]), {m["name"] for m in specs})
        for m in specs:
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"], m["name"])
            printed = [ln.split() for ln in lines
                       if ln.startswith(f"[perfbench] {prefix}{m['name']} = ")]
            self.assertEqual(len(printed), 1, m["name"])
            self.assertEqual(printed[0][-1] if prefix else printed[0][4], m["unit"], m["name"])

    def test_end_to_end_metrics_have_units(self):
        self.check_metrics(*self.plain, self.spec["end_to_end"], "")

    def test_per_layer_metrics_have_units(self):
        self.check_metrics(*self.traced, self.spec["per_layer"], "layer ")

    def test_seed_changes_order_not_results(self):
        def orders(lines):
            """{pass: [request, ...]} from the `pass N order:` lines."""
            out = {}
            for ln in lines:
                if ln.startswith("[perfbench] pass ") and " order: " in ln:
                    head, names = ln.split(" order: ")
                    out[int(head.split()[-1])] = names.split()
            return out

        def digests(lines):
            return sorted(ln for ln in lines if ln.startswith("[perfbench] digest "))

        a, b = orders(self.plain[0]), orders(self.traced[0])
        # The cold pass keeps the declared order on every seed; passes 1
        # and 2, which both runs have, are shuffled by the seed.
        self.assertEqual(a[0], b[0])
        for p in (1, 2):
            self.assertEqual(sorted(a[p]), sorted(b[p]), f"pass {p}")
        self.assertNotEqual([a[1], a[2]], [b[1], b[2]])
        self.assertTrue(digests(self.plain[0]))
        self.assertEqual(digests(self.plain[0]), digests(self.traced[0]))


if __name__ == "__main__":
    unittest.main()
