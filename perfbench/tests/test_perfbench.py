"""Self-tests of the benchmark. From the repository root:

    python3 -m unittest discover -s perfbench/tests -v
"""
import json
import locale
import os
import statistics
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import report  # noqa: E402


def load_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def fake_result(traced):
    """A minimal harness result: two untraced and two traced operations."""
    def op(i, phase, ms):
        return {"id": i, "kind": "insert", "phase": phase, "start_ms": 1000 * i,
                "end_ms": 1000 * i + ms, "ms": float(ms), "units": 1.0,
                "write_ms": float(ms), "read_ms": ms / 2.0, "space_amp": 1.5,
                "bind_ms": 1.0}
    ops = [op(0, "untraced", 100), op(1, "untraced", 120)]
    if traced:
        ops += [op(2, "traced", 130), op(3, "traced", 110)]
    return {"ops": ops, "parallelism": 4, "session_s": 5.0, "workload_setup_s": 2.0,
            "warmup_s": 4.0, "timed_steps": 0, "retained_heap_mb": 80.0, "checks": {},
            "trace": {"spans": [], "jobs": [{"start_ms": 2000, "end_ms": 2050}],
                      "tasks": [], "plans": [], "batches": []}}


class MetricNames(unittest.TestCase):
    def test_printed_names_equal_benchmark_json(self):
        b = load_benchmark()
        e2e = report.end_to_end(fake_result(False), gen_s=0.5)
        layer = report.per_layer(fake_result(True))
        self.assertEqual(list(e2e), [m["name"] for m in b["end_to_end"]])
        self.assertEqual(sorted(layer), sorted(m["name"] for m in b["per_layer"]))
        for m in b["end_to_end"]:
            self.assertEqual(e2e[m["name"]]["unit"], m["unit"])
        for m in b["per_layer"]:
            self.assertEqual(layer[m["name"]]["unit"], m["unit"])

    def test_workloads_equal_benchmark_json(self):
        import run
        self.assertEqual(list(run.WORKLOADS), [w["name"] for w in load_benchmark()["workloads"]])

    def test_timed_steps_cut_the_end_to_end_window(self):
        r = fake_result(False)
        r["timed_steps"] = 1
        e2e = report.end_to_end(r, gen_s=0.5)
        self.assertEqual(e2e["op_p50_ms"]["value"], 100.0)
        self.assertEqual(report.sample_counts(r), {"op": 1, "write": 1, "read": 1})

    def test_setup_is_generation_session_setup_and_warmup(self):
        e2e = report.end_to_end(fake_result(False), gen_s=0.5)
        self.assertAlmostEqual(e2e["setup_s"]["value"], 0.5 + 5.0 + 2.0 + 4.0)


class PercentileMath(unittest.TestCase):
    def test_percentile_fixed_vectors(self):
        self.assertEqual(report.percentile([3, 1, 2, 4], 50), 2.5)
        self.assertEqual(report.percentile([7], 90), 7)
        self.assertAlmostEqual(report.percentile(list(range(1, 11)), 90), 9.1)
        self.assertEqual(report.percentile([1, 2, 3, 4, 5], 0), 1)
        self.assertEqual(report.percentile([1, 2, 3, 4, 5], 100), 5)
        with self.assertRaises(ValueError):
            report.percentile([], 50)

    def test_quartile_spread_matches_statistics_quantiles(self):
        xs = [float(x) for x in range(1, 11)]
        self.assertEqual(statistics.quantiles(xs, n=4), [2.75, 5.5, 8.25])
        self.assertAlmostEqual(report.quartile_spread(xs), (8.25 - 2.75) / 5.5)
        self.assertAlmostEqual(report.quartile_spread([10.0, 10.0, 10.0, 10.0]), 0.0)

    def test_busy_time_is_the_union_of_job_intervals(self):
        self.assertEqual(report._union_ms([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(report._union_ms([(0, 10), (2, 3)]), 10)
        self.assertEqual(report._union_ms([]), 0)


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for workload in ("lake_lifecycle", "stream_ingest"):
            with tempfile.TemporaryDirectory() as d:
                a = gen.generate(11, workload, os.path.join(d, "a"))
                b = gen.generate(11, workload, os.path.join(d, "b"))
                c = gen.generate(12, workload, os.path.join(d, "c"))
                self.assertEqual(a, b)
                self.assertEqual(gen.digest(os.path.join(d, "a")),
                                 gen.digest(os.path.join(d, "b")), workload)
                self.assertNotEqual(gen.digest(os.path.join(d, "a")),
                                    gen.digest(os.path.join(d, "c")), workload)

    def test_statement_log_mix(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(3, "lake_lifecycle", d)
            with open(os.path.join(d, "statements.json")) as f:
                kinds = {s["kind"] for s in json.load(f)}
        self.assertEqual(kinds, {"ctas", "insert", "update", "delete", "merge",
                                 "select_point", "select_agg", "select_asof",
                                 "branch", "optimize", "expire", "orphans"})


class LocaleInvariantNumbers(unittest.TestCase):
    def test_python_output_ignores_comma_decimal_locales(self):
        old = locale.setlocale(locale.LC_ALL)
        try:
            for name in ("de_DE.UTF-8", "fr_FR.UTF-8", "de_DE", "C"):
                try:
                    locale.setlocale(locale.LC_ALL, name)
                except locale.Error:
                    continue
                line = json.dumps({"v": 1234.5, "w": 0.125})
                self.assertEqual(json.loads(line), {"v": 1234.5, "w": 0.125})
                self.assertIn("1234.5", line)
                self.assertEqual(oracle.canon(0.5), "0.500000")
                self.assertEqual(oracle.canon(3.0), "3")
        finally:
            locale.setlocale(locale.LC_ALL, old)

    @unittest.skipUnless(os.path.exists(os.path.join(build.CLASSES, "perfbench")),
                         "harness not built (run perfbench/build.py)")
    def test_harness_output_under_german_default_locale(self):
        cp = os.pathsep.join([build.CLASSES, os.path.join(build.spark_jars(), "*")])
        out = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Duser.language=de", "-Duser.country=DE", "-cp", cp,
             "perfbench.LocaleCheck"], capture_output=True, text=True, check=True).stdout
        doc = json.loads(out)
        self.assertEqual(doc["json"], {"half": 0.5, "big": 1234567.25})
        self.assertEqual(doc["canon"], [oracle.canon(0.5), oracle.canon(-2.0)])


if __name__ == "__main__":
    unittest.main()
