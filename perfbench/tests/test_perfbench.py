"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests -v

The end-to-end cases run the real benchmark on the fixture_small workload,
so they take a few minutes and build the engine on first use.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import gen  # noqa: E402


def run_bench(*extra, cwd=ROOT):
    r = subprocess.run([sys.executable, str(Path(cwd) / "perfbench" / "run.py"),
                        "--workload", "fixture_small", "--seed", "7", "--seconds", "1", *extra],
                       cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=900)
    return r


def last_record(r):
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-1])


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_fingerprint(self):
        scratch = ROOT / ".bench_build" / "test"
        scratch.mkdir(parents=True, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=scratch) as d:
            a = gen.generate("fixture_small", 5, os.path.join(d, "a"))
            b = gen.generate("fixture_small", 5, os.path.join(d, "b"))
            c = gen.generate("fixture_small", 6, os.path.join(d, "c"))
        self.assertEqual(a["fingerprint"], b["fingerprint"])
        self.assertNotEqual(a["fingerprint"], c["fingerprint"])
        self.assertEqual(a["rows"], sum(t["rows"] for t in a["tables"].values()))
        self.assertGreater(a["bytes"], 0)


class RecordTest(unittest.TestCase):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    def check_metrics(self, trace, section):
        r = run_bench("--trace", str(trace))
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        rec = last_record(r)
        self.assertEqual(set(rec), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(rec["correct"])
        want = {m["name"]: m["unit"] for m in self.spec[section]}
        got = {k: v["unit"] for k, v in rec["metrics"].items()}
        self.assertEqual(got, want)
        for v in rec["metrics"].values():
            self.assertIsInstance(v["value"], (int, float))

    def test_end_to_end_metrics_printed_with_units(self):
        self.check_metrics(0, "end_to_end")

    def test_per_layer_metrics_printed_with_units(self):
        self.check_metrics(1, "per_layer")

    def test_forced_failure_counts(self):
        r = run_bench("--trace", "0", "--fail-query", "q1_pricing_summary")
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        rec = last_record(r)
        self.assertFalse(rec["correct"])
        self.assertGreater(rec["failed"], 0)
        self.assertLess(rec["failed"], rec["attempted"])

    def test_refuses_without_engine_sources(self):
        scratch = ROOT / ".bench_build" / "test"
        scratch.mkdir(parents=True, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=scratch) as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(HERE, Path(d) / "perfbench",
                            ignore=shutil.ignore_patterns("__pycache__"))
            r = run_bench("--trace", "0", cwd=d)
        self.assertNotEqual(r.returncode, 0)
        self.assertEqual(r.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
