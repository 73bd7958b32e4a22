"""Smoke test of the benchmark: short runs of every workload at two seeds.

    python3 perfbench/test_smoke.py        # from the root of a checkout

It asserts that every metric BENCHMARK.json names appears with its unit,
that no check failed, that no workload opened more connections than the
machine has cores, and that a traced run's span tree is well formed.
"""

import json
import os
import subprocess
import sys
import unittest

ROOT = os.getcwd()
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]
SEEDS = (101, 202)


def run(workload, seed, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "2", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=1200)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    path = os.path.join(ROOT, ".perfbench", "out",
                        f"{'trace' if trace else 'run'}-{workload}-{seed}.json")
    report = None
    if os.path.exists(path):
        with open(path) as f:
            report = json.load(f)
    return p, result, report


def span_tree_errors(spans):
    """Problems with the span tree, or [] when it is well formed."""
    errors = []
    by_id = {}
    roots = {}
    for i, s in enumerate(spans):
        if s["id"] != i:
            errors.append(f"span {i} has id {s['id']}")
        if s["end_ns"] < s["start_ns"]:
            errors.append(f"span {i} ends before it starts")
        if s["parent"] == -1:
            if s["layer"] != "statement":
                errors.append(f"root span {i} is {s['layer']}")
            roots[s["stmt"]] = roots.get(s["stmt"], 0) + 1
        else:
            p = by_id.get(s["parent"])
            if p is None:
                errors.append(f"span {i} has no earlier parent {s['parent']}")
            else:
                if p["stmt"] != s["stmt"]:
                    errors.append(f"span {i} and its parent are in different statements")
                if s["start_ns"] < p["start_ns"] or s["end_ns"] > p["end_ns"]:
                    errors.append(f"span {i} ({s['layer']}) leaves its parent's interval")
        by_id[i] = s
    errors += [f"statement {k} has {n} root spans" for k, n in roots.items() if n != 1]
    if not roots:
        errors.append("no statements were traced")
    return errors


class Smoke(unittest.TestCase):
    """Each run happens once; the tests below look at its result."""

    runs = {}

    @classmethod
    def setUpClass(cls):
        for w in WORKLOADS:
            for seed in SEEDS:
                cls.runs[(w, seed, 0)] = run(w, seed, 0)
            cls.runs[(w, SEEDS[0], 1)] = run(w, SEEDS[0], 1)

    def each(self):
        """(workload, seed, trace), result and report of every run that
        produced both."""
        return [(key, result, report)
                for key, (_, result, report) in self.runs.items()
                if result is not None and report is not None]

    def test_every_run_gives_a_result(self):
        for key, (p, result, report) in self.runs.items():
            with self.subTest(run=key):
                self.assertEqual(p.returncode, 0, p.stderr[-3000:])
                self.assertIsNotNone(result)
                self.assertIsNotNone(report)

    def test_metrics_and_units(self):
        for (w, seed, trace), result, _ in self.each():
            with self.subTest(workload=w, seed=seed, trace=trace):
                metrics = BENCH["per_layer" if trace else "end_to_end"]
                units = {k: v["unit"] for k, v in result["metrics"].items()}
                self.assertEqual(units, {m["name"]: m["unit"] for m in metrics})
                if not trace:
                    for name, m in result["metrics"].items():
                        self.assertGreater(m["value"], 0, name)

    def test_connections(self):
        for key, _, report in self.each():
            with self.subTest(run=key):
                self.assertLessEqual(report["meta"]["max_open_connections"],
                                     os.cpu_count())

    def test_span_tree(self):
        for (w, seed, trace), _, report in self.each():
            if trace:
                with self.subTest(workload=w):
                    self.assertEqual(span_tree_errors(report["spans"]), [])

    def test_no_failed_checks(self):
        for key, result, report in self.each():
            with self.subTest(run=key):
                self.assertEqual(result["failed"], 0, report["failures"][:3])
                self.assertTrue(result["correct"])
                self.assertEqual(report["meta"]["failed_ratio"], 0)


if __name__ == "__main__":
    unittest.main(verbosity=2)
