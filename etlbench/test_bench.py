"""Smoke tests of the benchmark at the `smoke` input scale.

    python3 -m unittest etlbench/test_bench.py      (from the checkout root)

Every workload runs once untraced and twice traced. The tests assert that no operation fails, that every metric of
BENCHMARK.json is reported, that count metrics repeat exactly across the
two traced runs, and that the spans of each traced operation cover its wall
time. One more test checks that the command fails, without printing a
result, when the program is not there.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["etl_full_jdbc", "curation_ops"]
# Parent spans whose children make up the operation; their own (self) time
# is bookkeeping between child calls.
OP_SPANS = {"etl.run", "replay", "curation.batch"}


def bench(workload, seed, trace, cwd=ROOT):
    """Run the benchmark command of the checkout at `cwd`, from its root."""
    p = subprocess.run(
        [sys.executable, os.path.join("etlbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--scale", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=900)
    return p


def result(p):
    last = p.stdout.strip().splitlines()[-1]
    return json.loads(last)


class BenchSmoke(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def check_run(self, p, names):
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        r = result(p)
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"], p.stdout[-3000:] + p.stderr[-3000:])
        self.assertEqual(r["failed"], 0)
        self.assertGreaterEqual(r["attempted"], 1)
        self.assertEqual(set(r["metrics"]), names)
        return r

    def test_workloads(self):
        e2e = {m["name"] for m in self.spec["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in self.spec["per_layer"]}
        for w in WORKLOADS:
            with self.subTest(workload=w):
                r = self.check_run(bench(w, 3, 0), e2e)
                for m in e2e:
                    self.assertGreater(r["metrics"][m]["value"], 0, m)
                traced = []
                for _ in range(2):
                    traced.append(self.check_run(bench(w, 3, 1), set(layer))["metrics"])
                    self.check_spans(w)
                counts = [n for n, u in layer.items() if u == "count"]
                for n in counts:
                    self.assertEqual(traced[0][n]["value"], traced[1][n]["value"], n)

    def check_spans(self, workload):
        path = os.path.join(ROOT, ".etlbench", "results", f"{workload}-s3-t1", "spans.jsonl")
        with open(path) as f:
            spans = [json.loads(line) for line in f]
        ops = [s for s in spans if s["name"] in OP_SPANS]
        self.assertTrue(ops, "no traced operation")
        for s in ops:
            wall = (s["end_ns"] - s["start_ns"]) / 1e9
            kids = [k for k in spans if k["parent"] == s["id"]]
            self.assertTrue(kids, f"{s['name']} has no child spans")
            # children cover the operation's wall time, up to the benchmark's
            # own bookkeeping between calls
            self.assertLessEqual(s["self_s"], 0.1 * wall + 0.5, s)

    def test_fails_without_program(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "etlbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            p = bench("etl_full_jdbc", 1, 0, cwd=d)
            self.assertNotEqual(p.returncode, 0)
            self.assertFalse(p.stdout.strip())


if __name__ == "__main__":
    unittest.main()
