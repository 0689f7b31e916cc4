"""Smoke run of every workload at tiny sizes on the sf0.001 fixture:
builds if needed, runs one JVM per workload, checks the result line.
Takes a few minutes."""
import json
import os
import subprocess
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
from pbench import metrics  # noqa: E402

TESTDATA = Path(os.environ.get("PERFBENCH_TESTDATA", Path.home() / "testdata"))


@unittest.skipUnless((TESTDATA / "sf0.001").is_dir(), "sf0.001 fixture not found")
class Smoke(unittest.TestCase):
    def run_bench(self, workload, trace):
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                            "--seed", "7", "--seconds", "1", "--trace", str(trace),
                            "--smoke"], cwd=ROOT, capture_output=True, text=True,
                           timeout=1200)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        out = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"], p.stdout[-3000:])
        self.assertGreaterEqual(out["attempted"], 1)
        return out["metrics"]

    def test_every_workload_untraced(self):
        for w in ["tpcds-sf0.1", "synth-sf0.01", "llm-curate"]:
            with self.subTest(workload=w):
                m = self.run_bench(w, 0)
                self.assertEqual(set(m), {k for k, _ in metrics.END_TO_END})
                self.assertTrue(all(v["value"] > 0 for v in m.values()), m)

    def test_traced_run_reports_every_layer_metric(self):
        m = self.run_bench("synth-sf0.01", 1)
        self.assertEqual(set(m), {k for k, _ in metrics.per_layer_spec()})
        self.assertGreater(m["runner.queries"]["value"], 0)
        self.assertGreater(m["engine.tasks"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
