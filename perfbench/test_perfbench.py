"""Tests of the benchmark itself (not of the engine).

Run from the root of a checkout:

    python3 -m unittest perfbench/test_perfbench.py

The generator tests take a second. The run tests start two real benchmark
runs on the `graph` workload, one traced, and take about three minutes.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        a, b = gen.tables(7, orders=600), gen.tables(7, orders=600)
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)

    def test_other_seed_other_tables(self):
        a, b = gen.tables(7, orders=600), gen.tables(8, orders=600)
        for name in a:
            self.assertFalse(a[name].equals(b[name]), name)
            if name != "lineitem":  # lines per order are drawn per seed
                self.assertEqual(a[name].num_rows, b[name].num_rows, name)

    def test_files_are_byte_identical(self):
        out = os.path.join(HERE, ".work", "tests")
        m1 = gen.generate(os.path.join(out, "a"), 5, orders=600)
        m2 = gen.generate(os.path.join(out, "b"), 5, orders=600)
        self.assertEqual(m1, m2)
        for name in m1["tables"]:
            with open(os.path.join(out, "a", f"{name}.parquet"), "rb") as f, \
                    open(os.path.join(out, "b", f"{name}.parquet"), "rb") as g:
                self.assertEqual(f.read(), g.read(), name)
            self.assertEqual(m1["tables"][name]["files"], 1)

    def test_every_week_range_is_valid(self):
        # whole-day dates: the fixture's week ranges all parse
        dates = gen.tables(3, orders=600)["orders"].column("o_orderdate").to_pylist()
        self.assertTrue(all(d.hour == d.minute == d.second == 0 for d in dates))


def bench(workload, seed, seconds, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=1200)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


class RunTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.traced = bench("graph", 1, 1, 1)
        with open(os.path.join(HERE, ".work", "graph-1", "results.json")) as f:
            cls.traced_run = json.load(f)

    def test_printed_metric_names_match_spec(self):
        for res, key in ((bench("graph", 1, 1, 0), "end_to_end"),
                         (self.traced, "per_layer")):
            self.assertTrue(res["correct"], res)
            self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
            want = {m["name"]: m["unit"] for m in SPEC[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            self.assertEqual(got, want)

    def test_counters_repeat_across_traced_passes(self):
        # the cold pass and the traced warm pass run the same jobs: every
        # pass writes its results the same way
        passes = self.traced_run["traced_passes"]
        self.assertGreaterEqual(len(passes), 2)
        for name in ("jobs", "tasks", "shuffle_write_mb"):
            self.assertGreater(passes[0][name], 0, name)
        for name in ("jobs", "tasks"):
            self.assertEqual(passes[0][name], passes[1][name], name)
        # compressed shuffle bytes depend on the order in which rows arrive
        # from the previous shuffle: on this workload four warm passes
        # spread over 46 bytes of 16.65 MB, so bytes repeat only to 1e-4
        self.assertAlmostEqual(passes[0]["shuffle_write_mb"],
                               passes[1]["shuffle_write_mb"],
                               delta=1e-4 * passes[0]["shuffle_write_mb"])


if __name__ == "__main__":
    unittest.main()
