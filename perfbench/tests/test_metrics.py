"""Unit tests of the benchmark's own helpers; no Spark needed.

    python3 -m unittest discover -s perfbench/tests -p 'test_*.py'
"""
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import gen  # noqa: E402
import metrics  # noqa: E402


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def record(traced):
    """A minimal run record: two cycles, the second traced."""
    ms = 1_000_000
    rec = {"session_s": 2.0, "setup_rep_s": [5.0, 3.0, 4.0], "warmup_s": 1.5,
           "peak_live_mb": 2048.0, "loop_s": 10.0, "cores": 4,
           "attempted": 3, "failed": 0,
           "samples": {"op_ms": [100.0, 300.0, 200.0], "write_ms": [1500.0],
                       "stored_ratio": [0.25], "untraced_cycle_ms": [1000.0],
                       "traced_cycle_ms": [1100.0]},
           "counters": {"items": 42.0}, "notes": {}}
    if traced:
        rec["trace"] = {
            "clock_offset_ns": 0, "gc_ms": 10, "jit_ms": 20,
            "spans": [
                {"id": 0, "parent": -1, "name": "cycle", "op": 1, "start_ns": 0,
                 "end_ns": 100 * ms, "attrs": {}, "jobs": 2, "stages": 2, "tasks": 8,
                 "heap_mb": 100.0, "live_rdds": 1, "cached_bytes": 10},
                {"id": 1, "parent": 0, "name": "card.03", "op": 1, "start_ns": 10 * ms,
                 "end_ns": 50 * ms, "attrs": {}, "jobs": 1, "stages": 1, "tasks": 4,
                 "heap_mb": 120.0, "live_rdds": 2, "cached_bytes": 30}],
            "jobs": [{"start_ms": 10, "end_ms": 30}, {"start_ms": 20, "end_ms": 60}],
            "stages": [{"tasks": 1, "submitted_ms": 10, "completed_ms": 25, "run_ms": 15,
                        "shuffle_read": 5, "shuffle_write": 7},
                       {"tasks": 4, "submitted_ms": 30, "completed_ms": 60, "run_ms": 80,
                        "shuffle_read": 0, "shuffle_write": 3}],
            "actions": [{"name": "collect", "analysis_ms": 3, "optimization_ms": 4,
                         "planning_ms": 5, "planned_ms": 55}]}
    return rec


class TailTest(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(metrics.tail(list(range(10))))

    def test_eleven_samples_give_the_smallest(self):
        value, pct, n = metrics.tail(list(range(11)))
        self.assertEqual((value, n), (0, 11))
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_ten_samples_beyond_and_no_higher_percentile(self):
        xs = [float(x) for x in range(1, 101)]
        for n in (11, 37, 100, 250):
            sample = xs[:n] if n <= 100 else [x / 3 for x in range(1, n + 1)]
            value, pct, count = metrics.tail(sample)
            beyond = sum(1 for x in sample if x > value)
            self.assertEqual(beyond, 10, n)
            self.assertEqual(count, n)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)
            # the next sample up has only nine beyond it
            higher = sorted(sample)[sorted(sample).index(value) + 1]
            self.assertEqual(sum(1 for x in sample if x > higher), 9)

    def test_hundred_samples_is_p90(self):
        value, pct, _ = metrics.tail([float(x) for x in range(1, 101)])
        self.assertEqual((value, pct), (90.0, 90.0))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.0, 10.0, 11.0]
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "start_ns": start, "end_ns": end}

    def test_leaf_keeps_its_duration(self):
        self.assertEqual(metrics.self_times([self.span(0, -1, 0, 50)]), {0: 50})

    def test_children_are_subtracted_once_when_they_overlap(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 10, 40),
                 self.span(2, 0, 30, 60), self.span(3, 1, 15, 20)]
        own = metrics.self_times(spans)
        self.assertEqual(own[0], 100 - 50)   # children cover 10..60
        self.assertEqual(own[1], 30 - 5)     # grandchild counts for its parent only
        self.assertEqual(own[2], 30)
        self.assertEqual(own[3], 5)

    def test_child_outside_the_parent_is_clipped(self):
        own = metrics.self_times([self.span(0, -1, 0, 100), self.span(1, 0, 90, 130)])
        self.assertEqual(own[0], 90)

    def test_union(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 30), (30, 30)]), 25)


class MetricsMatchSpecTest(unittest.TestCase):
    def test_end_to_end_names_and_units(self):
        s = spec()
        block = metrics.metric_block(metrics.end_to_end(record(False)), s["end_to_end"])
        self.assertEqual(list(block), [m["name"] for m in s["end_to_end"]])
        for m in s["end_to_end"]:
            self.assertEqual(block[m["name"]]["unit"], m["unit"])
            self.assertIsInstance(block[m["name"]]["value"], float)

    def test_end_to_end_values(self):
        v = metrics.end_to_end(record(False))
        self.assertEqual(v["setup_s"], 2.0 + 4.0 + 1.5)
        self.assertEqual(v["op_p50_ms"], 200.0)
        self.assertEqual(v["items_per_s"], 4.2)
        self.assertEqual(v["peak_live_mb"], 2048.0)

    def test_per_layer_names_and_units(self):
        s = spec()
        block = metrics.metric_block(metrics.per_layer(record(True)), s["per_layer"])
        self.assertEqual(list(block), [m["name"] for m in s["per_layer"]])
        for m in s["per_layer"]:
            self.assertEqual(block[m["name"]]["unit"], m["unit"])

    def test_per_layer_values(self):
        v = metrics.per_layer(record(True))
        self.assertEqual(v["driver.jobs"], 2)
        self.assertEqual(v["driver.gap_ms"], 100 - 50)
        self.assertEqual(v["exec.single_task_stage_max_ms"], 15)
        self.assertEqual(v["exec.core_util"], 95 / (100 * 4))
        self.assertEqual(v["card.03.p50_ms"], 40.0)
        self.assertEqual(v["self.model_ms"], 40.0)
        self.assertEqual(v["self.harness_ms"], 60.0)
        self.assertEqual(v["trace.overhead_ms"], 100.0)

    def test_missing_metric_is_an_error(self):
        with self.assertRaises(KeyError):
            metrics.metric_block({}, spec()["end_to_end"])


class BenchmarkFileTest(unittest.TestCase):
    NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

    def test_benchmark_json(self):
        s = spec()
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertTrue(2 <= len(s["workloads"]) <= 8)
        names = [w["name"] for w in s["workloads"]] + \
            [m["name"] for m in s["end_to_end"] + s["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, self.NAME)
        for w in s["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
            self.assertIn(w["name"], gen.GENERATORS)
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
            self.assertRegex(m["unit"], self.UNIT)
        for m in s["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
            self.assertRegex(m["unit"], self.UNIT)
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in s["end_to_end"]))

    def test_fails_fast_without_the_engine(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "project/target",
                                                          "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                                "ufc_dashboard", "--seed", "1", "--seconds", "1",
                                "--trace", "0"], cwd=d, capture_output=True,
                               text=True, timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout, "")


class GeneratorTest(unittest.TestCase):
    def digest(self, workload, seed):
        import hashlib
        with tempfile.TemporaryDirectory() as d:
            gen.generate(workload, seed, d)
            h = hashlib.sha256()
            for f in sorted(os.listdir(d)):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
            return h.hexdigest()

    def test_same_seed_same_inputs(self):
        for w in ("ufc_dashboard", "corpus_pipeline"):
            self.assertEqual(self.digest(w, 7), self.digest(w, 7))
            self.assertNotEqual(self.digest(w, 7), self.digest(w, 8))


if __name__ == "__main__":
    unittest.main()
