"""BENCHMARK.json and the printed result object keep their format
rules, and name the same metrics the front end computes."""
import json
import re
import subprocess
import sys
import tempfile
import shutil
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
from pbench import metrics  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class BenchmarkJson(unittest.TestCase):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    def test_keys_and_limits(self):
        s = self.spec
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertTrue(1 <= s["run_seconds"] <= 60)
        self.assertTrue(2 <= len(s["workloads"]) <= 8)
        for w in s["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertRegex(w["name"], NAME)
            self.assertLessEqual(len(w["why"]), 200)
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in s["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        names = [m["name"] for m in s["end_to_end"] + s["per_layer"]] + \
            [w["name"] for w in s["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for m in s["end_to_end"] + s["per_layer"]:
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)
        setup = next(m for m in s["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in s["end_to_end"]))

    def test_metrics_match_the_front_end(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["per_layer"]],
                         metrics.per_layer_spec())

    def test_result_line_shape(self):
        line = {k: 1.5 for k, _ in metrics.END_TO_END}
        out = json.loads(json.dumps(metrics.result_line(line, 10, 0)))
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertIs(out["correct"], True)
        self.assertEqual(set(out["metrics"]), {k for k, _ in metrics.END_TO_END})
        for k, u in metrics.END_TO_END:
            self.assertEqual(out["metrics"][k], {"value": 1.5, "unit": u})
        self.assertIs(metrics.result_line(line, 10, 1)["correct"], False)


class BareDirectory(unittest.TestCase):
    def test_fails_without_the_library_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(BENCH, Path(d) / "perfbench",
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                                "llm-curate", "--seed", "1", "--seconds", "1"],
                               cwd=d, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
