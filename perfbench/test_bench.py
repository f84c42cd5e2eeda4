"""Tests of the benchmark harness itself.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The stdout test runs the benchmark end to end (it builds on first use), so
it takes about a minute.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".bench_build", "test")
sys.path.insert(0, HERE)

import gen_data  # noqa: E402
import inputs  # noqa: E402


class SeededInputs(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.data = os.path.join(SCRATCH, "data")
        gen_data.generate(cls.data, 0.001, 42)

    def run_dir(self, name):
        d = os.path.join(SCRATCH, name)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    def test_dashboard_sequence_follows_the_seed(self):
        a, b, c = (inputs.dashboard(s, 10) for s in (7, 7, 8))
        self.assertEqual(a, b)
        self.assertNotEqual(a["sequence"], c["sequence"])
        self.assertNotEqual(a["requests"], c["requests"])

    def test_cold_requests_never_repeat(self):
        d = inputs.dashboard(3, 10)
        cold = [r for r in d["requests"] if r["id"].startswith("c")]
        self.assertEqual(len({inputs._ident(r) for r in cold}), len(cold))
        hot = {inputs._ident(r) for r in d["requests"] if r["id"].startswith("h")}
        self.assertFalse(hot & {inputs._ident(r) for r in cold})

    def test_ingest_partition_follows_the_seed(self):
        def batches(seed, name):
            got = inputs.ingest(seed, 10, self.data, self.run_dir(name))
            rows = [sorted(pq.read_table(b["path"]).to_pylist(), key=repr)
                    for b in got["batches"]]
            return rows, got["expected"]
        a, b, c = batches(7, "a"), batches(7, "b"), batches(8, "c")
        self.assertEqual(a, b)
        self.assertNotEqual(a[0], c[0])
        # the batches are a partition of lineitem: every row in exactly one
        everything = sorted(pq.read_table(
            os.path.join(self.data, "lineitem.parquet")).to_pylist(), key=repr)
        self.assertEqual(sorted((r for batch in a[0] for r in batch), key=repr),
                         everything)

    def test_pipeline_orders_follow_the_seed(self):
        def orders(seed):
            return inputs.pipeline(seed, 10, self.data, self.run_dir("p"))["orders"]
        self.assertEqual(orders(5), orders(5))
        self.assertNotEqual(orders(5), orders(6))


class Command(unittest.TestCase):
    def test_last_stdout_line_is_the_result(self):
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                            "dashboard", "--seed", "1", "--seconds", "2",
                            "--trace", "0"], cwd=ROOT, capture_output=True,
                           text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        lines = r.stdout.strip().splitlines()
        self.assertFalse([l for l in lines if l.startswith("[info]")])
        res = json.loads(lines[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual(set(res["metrics"]), {m["name"] for m in spec["end_to_end"]})
        self.assertTrue(res["correct"])

    def test_fails_without_graft_sources(self):
        bare = os.path.join(SCRATCH, "bare")
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "project/target",
                                                      "__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                            "dashboard", "--seed", "1", "--seconds", "10",
                            "--trace", "0"], cwd=bare, capture_output=True,
                           text=True, timeout=180)
        self.assertNotEqual(r.returncode, 0)
        self.assertNotIn('"metrics"', r.stdout)


if __name__ == "__main__":
    unittest.main()
