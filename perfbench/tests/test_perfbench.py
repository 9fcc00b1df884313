"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests -v

The slow tests start benchmark JVMs (a few minutes in all, plus the first
build); the rest are quick.
"""
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import compare  # noqa: E402
import run  # noqa: E402


def bench_line(*args):
    """Run perfbench/run.py; return (exit code, parsed last stdout line)."""
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), *args],
                       cwd=ROOT, capture_output=True, text=True, timeout=1200)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


_runs = {}


def bench_run(workload, trace, corrupt=False):
    key = (workload, trace, corrupt)
    if key not in _runs:
        args = ["--workload", workload, "--seed", "5", "--seconds", "1",
                "--trace", str(trace)] + (["--corrupt"] if corrupt else [])
        _runs[key] = bench_line(*args)
    return _runs[key]


class MetricNames(unittest.TestCase):
    """Every metric the runner prints is declared in BENCHMARK.json, with
    the same unit, and the other way round."""

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def test_declared_tables_match_the_runner(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["per_layer"]},
                         run.PER_LAYER)
        self.assertEqual([w["name"] for w in self.spec["workloads"]],
                         list(run.WORKLOADS))
        self.assertEqual(len(run.PER_LAYER), 116)

    def test_printed_metrics_match(self):
        for workload, trace in (("migrate", 0), ("corpus", 1)):
            code, line, err = bench_run(workload, trace, corrupt=True)
            self.assertEqual(code, 0, err[-2000:])
            want = run.PER_LAYER if trace else run.END_TO_END
            got = {k: v["unit"] for k, v in line["metrics"].items()}
            self.assertEqual(got, want)
            self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})


class CorruptedOutput(unittest.TestCase):
    """The output checks flag one deliberately corrupted row."""

    def test_each_workload_flags_the_corrupted_row(self):
        for workload, trace in (("migrate", 0), ("corpus", 1)):
            code, line, err = bench_run(workload, trace, corrupt=True)
            self.assertEqual(code, 0, err[-2000:])
            self.assertFalse(line["correct"], workload)
            self.assertGreaterEqual(line["failed"], 1, workload)
            self.assertIn("check failed", err)


def data_bytes(path):
    """Every byte of a parquet file before its footer. parquet-mr lists each
    column chunk's encodings from a hash set, so two JVMs may write the same
    encodings in another order in the footer; the pages themselves and the
    key-value metadata do not vary."""
    with open(path, "rb") as f:
        raw = f.read()
    footer = int.from_bytes(raw[-8:-4], "little")
    return raw[:len(raw) - 8 - footer]


class SeededInputs(unittest.TestCase):
    """The same seed lands byte-identical inputs; another seed does not."""

    def generate(self, workload, seed, work):
        cp = run.build()
        os.makedirs(os.path.join(work, "tmp"))
        cmd = run.java_cmd(cp, work, [f"-XX:SharedArchiveFile={run.CLASS_ARCHIVE}"]) + [
            "--workload", workload, "--seed", str(seed), "--src", run.data_root(),
            "--work", work, "--generate-only", "1"]
        subprocess.run(cmd, cwd=work, env=run.jvm_env(work), check=True,
                       capture_output=True, timeout=600)
        digests = {}
        for path in sorted(glob.glob(os.path.join(work, "in", "*.parquet", "*.parquet"))):
            digests[os.path.relpath(path, work)] = hashlib.sha256(data_bytes(path)).hexdigest()
        with open(os.path.join(work, "result.json")) as f:
            return digests, json.load(f)["inputs"]

    def test_seed_determines_inputs(self):
        os.makedirs(os.path.join(BENCH, ".work"), exist_ok=True)
        tmp = tempfile.mkdtemp(dir=os.path.join(BENCH, ".work"), prefix="test-")
        try:
            for workload in run.WORKLOADS:
                a, caps = self.generate(workload, 7, os.path.join(tmp, f"{workload}-a"))
                b, _ = self.generate(workload, 7, os.path.join(tmp, f"{workload}-b"))
                c, _ = self.generate(workload, 8, os.path.join(tmp, f"{workload}-c"))
                self.assertTrue(a)
                self.assertEqual(a, b, f"{workload}: same seed, different bytes")
                self.assertEqual(set(a), set(c))
                self.assertNotEqual(a, c, f"{workload}: seed 8 landed seed 7's bytes")
                self.assertTrue(all(t["rows"] > 0 and t["bytes"] > 0 for t in caps))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


class Helpers(unittest.TestCase):
    def test_row_compare_tolerates_float_rounding_only(self):
        self.assertTrue(checks._same_rows([(1, "a", 0.1 + 0.2)], [(1, "a", 0.3)]))
        self.assertFalse(checks._same_rows([(1, "a", 0.31)], [(1, "a", 0.3)]))
        self.assertFalse(checks._same_rows([(1, None)], [(1, 0)]))
        self.assertFalse(checks._same_rows([(1,)], [(1,), (2,)]))

    def test_compare_reports_layer_changes(self):
        base = {"trace": 1, "layers": {"ops.Dedup": {"jobs": 10.0, "task_cpu_s": 2.0,
                                                     "shuffle_bytes": 100.0}},
                "counters": {}}
        new = {"trace": 1, "layers": {"ops.Dedup": {"jobs": 8.0, "task_cpu_s": 2.0,
                                                    "shuffle_bytes": 100.0}},
               "counters": {}}
        rows = {n: (a, b) for n, a, b in compare.rows(base, new, False)}
        self.assertEqual(rows["ops.Dedup.jobs"], (10.0, 8.0))
        self.assertEqual(compare.change(10.0, 8.0), "-20.0%")
        self.assertEqual(compare.change(2.0, 2.0), "=")


if __name__ == "__main__":
    unittest.main()
