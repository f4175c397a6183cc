"""Tests of the benchmark itself.

    python3 -m unittest perfbench/test_perfbench.py

Each test runs the real harness, so the suite takes a few minutes.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")


def bench(workload, seed, trace, cwd=ROOT, script=RUN):
    proc = subprocess.run([sys.executable, script, "--workload", workload, "--seed", str(seed),
                           "--seconds", "1", "--trace", str(trace)],
                          cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, lines


class RepeatabilityTest(unittest.TestCase):
    def test_same_seed_repeats_stream_and_warehouse_accounting(self):
        runs = []
        for _ in range(2):
            code, lines = bench("dml_mixed", 5, 1)
            self.assertEqual(code, 0)
            result = json.loads(lines[-1])
            self.assertTrue(result["correct"])
            self.assertEqual(result["failed"], 0)
            runs.append((json.loads(lines[0])["stream_sha256"], result["metrics"]))
        (digest_a, a), (digest_b, b) = runs
        self.assertEqual(digest_a, digest_b)
        for name in ("warehouse.bytes_written", "warehouse.files_written",
                     "warehouse.bytes_live", "warehouse.space_amp"):
            self.assertGreater(a[name]["value"], 0, name)
            self.assertEqual(a[name], b[name], name)

    def test_traced_run_shows_the_planning_split(self):
        jobs = {}
        for workload in ("dialect_joins", "dialect_scans"):
            code, lines = bench(workload, 7, 1)
            self.assertEqual(code, 0)
            result = json.loads(lines[-1])
            self.assertTrue(result["correct"])
            jobs[workload] = result["metrics"]["sql.GraftDatabase.build_jobs"]["value"]
        self.assertGreater(jobs["dialect_joins"], 0)
        self.assertEqual(jobs["dialect_scans"], 0)

    def test_corpus_gates_repeat_across_passes(self):
        code, lines = bench("corpus_pipeline", 3, 1)
        self.assertEqual(code, 0)
        result = json.loads(lines[-1])
        self.assertTrue(result["correct"])
        for name in ("queries.op_cold_ms", "queries.op_warm_ms", "queries.jobs",
                     "queries.docs_per_s"):
            self.assertGreater(result["metrics"][name]["value"], 0, name)


class StandaloneTest(unittest.TestCase):
    def test_fails_without_the_engine_sources(self):
        lone = os.path.join(HERE, "work", "standalone")
        shutil.rmtree(lone, ignore_errors=True)
        shutil.copytree(HERE, os.path.join(lone, "perfbench"),
                        ignore=shutil.ignore_patterns("work", "target", "__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), lone)
        try:
            code, lines = bench("dialect_scans", 1, 0, cwd=lone,
                                script=os.path.join(lone, "perfbench", "run.py"))
            self.assertNotEqual(code, 0)
            self.assertFalse(any(l.startswith('{"correct"') for l in lines))
        finally:
            shutil.rmtree(lone, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
