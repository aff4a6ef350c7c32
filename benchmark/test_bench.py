"""Tests of the benchmark itself: every workload runs in smoke mode, traced
and untraced, and prints a result line that matches BENCHMARK.json; input
generation is a function of the seed alone.

Run from anywhere: python3 benchmark/test_bench.py
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

import duckdb

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(workload, trace, seed=7):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    return out.returncode, json.loads(lines[-1]), json.loads(lines[-2])["detail"]


class SmokeRuns(unittest.TestCase):
    def check(self, workload, trace):
        code, result, detail = run(workload, trace)
        self.assertEqual(code, 0)
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        declared = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual({k: v["unit"] for k, v in result["metrics"].items()},
                         {m["name"]: m["unit"] for m in declared})
        self.assertEqual((detail["workload"], detail["seed"]), (workload, 7))
        return result["metrics"]

    def test_workloads(self):
        # a layer metric that must be non-zero on its workload and zero elsewhere
        own = {"ates_serve": "kmz.jobs_per_request", "corpus_curate": "operators.dup_pairs",
               "tpch_analytic": "tpch.q_tpch_q6_ms"}
        for w in (x["name"] for x in SPEC["workloads"]):
            with self.subTest(workload=w):
                e2e = self.check(w, 0)
                self.assertTrue(all(m["value"] > 0 for m in e2e.values()))
                layers = self.check(w, 1)
                self.assertGreater(layers["spark.jobs_per_request"]["value"], 0)
                for other, name in own.items():
                    if other == w:
                        self.assertGreater(layers[name]["value"], 0, name)
                    else:
                        self.assertEqual(layers[name]["value"], 0, name)


class Generation(unittest.TestCase):
    def tables(self, kind, seed, name):
        out = os.path.join(BENCH, ".work", "test-gen", name)
        shutil.rmtree(out, ignore_errors=True)
        gen.generate(kind, seed, "smoke", out)
        return out

    def test_same_seed_same_inputs(self):
        for kind in gen.GENERATORS:
            with self.subTest(kind=kind):
                a, b = self.tables(kind, 3, "a"), self.tables(kind, 3, "b")
                c = self.tables(kind, 4, "c")
                def load(d):
                    with open(os.path.join(d, "expected.json")) as f:
                        return {k: v for k, v in json.load(f).items() if k != "gen_s"}
                self.assertEqual(load(a), load(b))
                con = duckdb.connect()
                differs = False
                for f in sorted(os.listdir(a)):
                    if f.endswith(".parquet"):
                        diff = f"""SELECT count(*) FROM (
                            (SELECT * FROM '{a}/{f}' EXCEPT ALL SELECT * FROM '{b}/{f}')
                            UNION ALL
                            (SELECT * FROM '{b}/{f}' EXCEPT ALL SELECT * FROM '{a}/{f}'))"""
                        self.assertEqual(con.execute(diff).fetchone()[0], 0, f)
                        differs |= con.execute(diff.replace(b, c)).fetchone()[0] > 0
                self.assertTrue(differs, "another seed should change the inputs")


if __name__ == "__main__":
    unittest.main()
