"""Each correctness check fails when its expected value is corrupted.

Runs the whole benchmark once per workload with --corrupt (about a minute
each, after the build), so it is kept apart from the unit tests:

    python3 -m unittest perfbench/tests/test_checks.py
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
SEED = 901

EXPECTED_CHECKS = {
    "ufc_dashboard": {"refresh_stable", "fixture_goldens", "refresh_matches_earlier_runs"},
    "corpus_pipeline": {"shards_stable", "shards_cover_selection", "packing_conserves_tokens",
                        "prepare_matches_duckdb", "shards_match_earlier_runs"},
}


class CorruptedExpectationsFail(unittest.TestCase):
    def run_corrupted(self, workload):
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                            "--seed", str(SEED), "--seconds", "1", "--trace", "0",
                            "--corrupt"], cwd=ROOT, capture_output=True, text=True,
                           timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        with open(os.path.join(ROOT, ".bench_build", "reports",
                               f"{workload}-seed{SEED}-trace0.json")) as f:
            report = json.load(f)
        return result, report["checks"]

    def check_workload(self, workload):
        result, checks = self.run_corrupted(workload)
        self.assertFalse(result["correct"])
        self.assertEqual(set(checks), EXPECTED_CHECKS[workload])
        for name, ok in checks.items():
            self.assertFalse(ok, f"{workload}: check {name} passed a corrupted expectation")

    def test_ufc_dashboard(self):
        self.check_workload("ufc_dashboard")

    def test_corpus_pipeline(self):
        self.check_workload("corpus_pipeline")


if __name__ == "__main__":
    unittest.main()
