"""End-to-end check of a traced batch_suite run: it must report a
non-zero codegen compile time (Spark records compile time in
milliseconds; reading it as nanoseconds reports zero) and write spans.
Builds the harness on first use, so the first run is slow.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


class TracedRunTest(unittest.TestCase):
    def test_batch_suite_traced(self):
        p = subprocess.run(
            [sys.executable, os.path.join("perfbench", "run.py"), "--workload",
             "batch_suite", "--seed", "1", "--seconds", "1", "--trace", "1"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        self.assertTrue(result["correct"], p.stdout)
        m = result["metrics"]
        self.assertGreater(m["codegen.compile_s"]["value"], 0.0)
        self.assertGreater(m["codegen.compiles"]["value"], 0.0)
        self.assertGreater(m["scheduler.jobs"]["value"], 0.0)
        self.assertGreater(m["trace.overhead_ratio"]["value"], 0.0)
        spans = next(l for l in lines if l.startswith("spans: "))[len("spans: "):]
        with open(spans) as f:
            rows = [json.loads(l) for l in f]
        names = {r["name"] for r in rows}
        self.assertTrue({"op", "queries.build_s", "catalyst.plan_s",
                         "scheduler.exec_s"} <= names, names)
        ids = {r["id"] for r in rows}
        self.assertTrue(all(r["parent"] == 0 or r["parent"] in ids for r in rows))


if __name__ == "__main__":
    unittest.main()
