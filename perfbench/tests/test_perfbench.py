"""The benchmark's own tests, at smoke size (one op or row, tiny inputs).

    python3 -m unittest discover -s perfbench/tests -v
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402


def smoke(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "5", "--trace", str(trace), "--smoke"],
        capture_output=True, text=True, timeout=300)
    if p.returncode != 0:
        raise AssertionError(f"run.py exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


class MetricsPrint(unittest.TestCase):
    """Every named metric prints with its unit, and the run is correct."""

    def check(self, workload: str, trace: int, names: dict):
        res = smoke(workload, trace)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], res)
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(set(res["metrics"]), set(names))
        for name, unit in names.items():
            m = res["metrics"][name]
            self.assertEqual(m["unit"], unit, name)
            self.assertIsInstance(m["value"], float, name)
        return res["metrics"]

    def test_end_to_end(self):
        for w in sorted(run.WORKLOADS):
            with self.subTest(workload=w):
                m = self.check(w, 0, run.END_TO_END)
                for name in run.END_TO_END:
                    self.assertGreater(m[name]["value"], 0, name)

    def test_per_layer(self):
        for w in sorted(run.WORKLOADS):
            with self.subTest(workload=w):
                m = self.check(w, 1, run.PER_LAYER_UNITS)
                self.assertGreater(m["operators.tokens"]["value"], 0)
                self.assertEqual(m["WordCountOutput.files"]["value"], run.REDUCERS)


class AlteredOutput(unittest.TestCase):
    """A sink output with one count altered makes the run incorrect."""

    def test_altered_count_is_a_failure(self):
        def alter(ops):
            out = Path(next(o["out"] for o in ops if o["ok"]))
            part = next(p for p in sorted(out.glob("bucket=*/*")) if not p.name.startswith((".", "_")))
            lines = part.read_text().splitlines()
            word, cnt = lines[0].split(" ")
            lines[0] = f"{word} {int(cnt) + 1}"
            part.write_text("\n".join(lines) + "\n")

        out = run.run("wc_wide", 4, 5, False, smoke=True, before_check=alter)
        self.assertFalse(out["result"]["correct"])
        self.assertGreater(out["result"]["failed"], 0)
        self.assertGreater(out["stamp"]["failed_frac"], 0)

    def test_unaltered_run_is_correct(self):
        out = run.run("wc_wide", 4, 5, False, smoke=True)
        self.assertTrue(out["result"]["correct"])
        self.assertEqual(out["stamp"]["failed_frac"], 0)


class Units(unittest.TestCase):
    def test_benchmark_json_names_the_metrics_run_prints(self):
        spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER_UNITS)
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))

    def test_tail_is_the_eleventh_largest_or_the_max(self):
        self.assertEqual(run.tail(list(range(1, 31))), 20)
        self.assertEqual(run.tail(list(range(1, 16))), 15)
        self.assertEqual(run.tail([3, 1, 2]), 3)

    def test_idle_is_wall_minus_stage_union(self):
        t = {"start_ms": 0, "end_ms": 1000, "stages": [
            {"submit_ms": 100, "complete_ms": 300}, {"submit_ms": 200, "complete_ms": 400},
            {"submit_ms": 900, "complete_ms": 1200}]}
        self.assertAlmostEqual(run._idle_s(t), 0.6)

    def test_registry_sample_is_the_middle_of_each_family(self):
        names = ["q1", "q3", "q5", "dd_a", "dd_b", "st_x", "wordcount", "wordcount_desc"]
        self.assertEqual(run.registry_sample(names, 2), ["dd_b", "q3", "st_x", "wordcount_desc"])
        self.assertEqual(run.registry_sample(names + ["dd_c"], 2),
                         ["dd_b", "q3", "st_x", "wordcount_desc"])

if __name__ == "__main__":
    unittest.main()
