"""Self-tests of the benchmark: `python3 perfbench/run.py --selftest`.

Checks the tail-percentile rule, the names and limits of BENCHMARK.json,
that the runner prints exactly the metrics BENCHMARK.json names, that
the benchmark program knows exactly the workloads BENCHMARK.json lists,
and that the input generator is deterministic (builds the benchmark and
runs `perfbench.GenCheck`).
"""

import os
import re
import shutil
import subprocess
import sys
import unittest

import build
import run

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def fake_evidence(workload, layers):
    return {"workload": workload, "attempted": 3, "failed": 0,
            "unit_ns": [2_000_000_000, 1_500_000_000, 1_800_000_000], "unit_items": [1, 1, 1],
            "facts": {"setup_total_s": 20.5, "rss_peak_mb": 1400.0, "trace_overhead_ms": 3.0},
            "layers": {n: [1.0, 2.0, 3.0] for n in layers}}


class TailRule(unittest.TestCase):
    def test_too_few_samples_reports_the_max(self):
        self.assertEqual(run.tail([5.0, 1.0, 3.0]), (None, 5.0))
        self.assertEqual(run.tail(list(range(10))), (None, 9))

    def test_ten_samples_lie_beyond_the_reported_value(self):
        for n in (11, 12, 37, 100, 1000):
            xs = [float(i) for i in range(n)]
            pct, v = run.tail(xs)
            self.assertEqual(sum(1 for x in xs if x > v), 10)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)
        self.assertEqual(run.tail([float(i) for i in range(100)]), (90.0, 89.0))


class Spec(unittest.TestCase):
    def setUp(self):
        self.spec = run.load_spec()

    def test_keys_and_limits(self):
        s = self.spec
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"})
        self.assertTrue(1 <= s["run_seconds"] <= 60 and isinstance(s["run_seconds"], int))
        self.assertTrue(2 <= len(s["workloads"]) <= 8)
        self.assertTrue(1 <= len(s["end_to_end"]) <= 16 and 1 <= len(s["per_layer"]) <= 128)
        for p in s["paths"]:
            self.assertRegex(p, r"^[A-Za-z0-9_./-]{1,200}$")
            self.assertFalse(p.startswith("/") or ".." in p.split("/"))
        for w in s["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertTrue(len(w["why"]) <= 200 and "\n" not in w["why"])
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in s["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup, [{"name": "setup_s", "unit": "s", "better": "lower",
                                  "bound": max(m["bound"] for m in s["end_to_end"])}])

    def test_names_and_units(self):
        names = [x["name"] for k in ("workloads", "end_to_end", "per_layer") for x in self.spec[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in self.spec["end_to_end"] + self.spec["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))

    def test_runner_prints_exactly_the_named_metrics(self):
        e2e = [m["name"] for m in self.spec["end_to_end"]]
        layers = [m["name"] for m in self.spec["per_layer"]]
        for w in self.spec["workloads"]:
            r = run.result(fake_evidence(w["name"], layers), self.spec, traced=False)
            self.assertEqual(list(r["metrics"]), e2e)
            self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
            r = run.result(fake_evidence(w["name"], layers[:3]), self.spec, traced=True)
            self.assertEqual(list(r["metrics"]), layers)
            for name, m in r["metrics"].items():
                self.assertEqual(set(m), {"value", "unit"})
            self.assertTrue(all(v["value"] != 0 for v in
                                run.result(fake_evidence(w["name"], []), self.spec, False)["metrics"].values()))


class Generator(unittest.TestCase):
    def test_same_seed_gives_identical_inputs(self):
        build.ensure()
        out = os.path.join(build.BUILD_DIR, "selftest-gen")
        shutil.rmtree(out, ignore_errors=True)
        try:
            p = subprocess.run(["java", "-XX:-UsePerfData", "-Xmx1g", "-cp", build.classpath(), "perfbench.GenCheck", "7", out],
                               stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=300)
            self.assertEqual(p.returncode, 0, p.stderr[-2000:])
            rows = [line.split() for line in p.stdout.splitlines() if line.strip()]
            # the benchmark program knows exactly the workloads BENCHMARK.json lists
            self.assertEqual(sorted(r[0] for r in rows), sorted(w["name"] for w in run.load_spec()["workloads"]))
            for name, a, b, c in rows:
                self.assertEqual(a, b, f"{name}: the same seed gave different inputs")
                self.assertNotEqual(a, c, f"{name}: another seed gave the same inputs")
        finally:
            shutil.rmtree(out, ignore_errors=True)


def main():
    suite = unittest.defaultTestLoader.loadTestsFromModule(sys.modules[__name__])
    ok = unittest.TextTestRunner(verbosity=2).run(suite).wasSuccessful()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
