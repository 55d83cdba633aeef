"""Tests of the benchmark's own tooling and input generators.

Run from the checkout root: python3 -m unittest discover -s perfbench/tests
The generator self-test builds the benchmark first (see perfbench/build.py).
"""
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import build  # noqa: E402
import tools  # noqa: E402


def record(nproc=4, workload="table_reads", seed=1, walls=(1.0, 1.2), traced_walls=(),
           per_layer=None, e2e=None):
    return {"workload": workload, "seed": seed, "host": {"nproc": nproc},
            "trace": bool(traced_walls),
            "pass_walls_s": list(walls), "traced_pass_walls_s": list(traced_walls),
            "per_layer": per_layer, "end_to_end": e2e or {}}


class ToolsTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(tools.union_us([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(tools.union_us([]), 0)

    def test_self_time_subtracts_children(self):
        sidecar = {"trace": {"spans": [
            {"id": 0, "name": "etl.window", "parent": -1, "start_us": 0, "end_us": 10000},
            {"id": 1, "name": "ops.plan", "parent": 0, "start_us": 0, "end_us": 2000},
            {"id": 2, "name": "ops.exec", "parent": 0, "start_us": 1000, "end_us": 6000},
        ]}}
        st = tools.self_times(sidecar)
        self.assertEqual(st["etl.window"], (1, 10.0, 4.0))
        self.assertEqual(st["ops.exec"], (1, 5.0, 5.0))

    def test_diff_is_layer_by_layer(self):
        a = record(per_layer={"lt.read_skip.ms": {"value": 10.0, "unit": "ms"},
                              "ops.jobs": {"value": 2.0, "unit": "jobs"}})
        b = record(per_layer={"lt.read_skip.ms": {"value": 5.0, "unit": "ms"},
                              "ops.jobs": {"value": 2.0, "unit": "jobs"}})
        rows = tools.diff(a, b)
        self.assertEqual([r[0] for r in rows], ["lt", "ops"])
        self.assertAlmostEqual(rows[0][5], -0.5)
        self.assertAlmostEqual(rows[1][5], 0.0)

    def test_overhead_from_traced_and_untraced_passes(self):
        traced = record(walls=(3.0, 2.0, 2.0), traced_walls=(2.2, 2.2))
        self.assertAlmostEqual(tools.overhead(traced), 0.1)
        with self.assertRaises(ValueError):
            tools.overhead(record())

    def test_pool_refuses_mixed_core_counts(self):
        with self.assertRaises(ValueError):
            tools.pool([record(nproc=4), record(nproc=32)])

    def test_pool_spread(self):
        recs = [record(e2e={"wall_s": {"value": v, "unit": "s"}}) for v in (1, 2, 3, 4, 5)]
        n, med, q1, q3, spread = tools.pool(recs)["wall_s"]
        self.assertEqual((n, med), (5, 3))
        self.assertAlmostEqual(spread, (q3 - q1) / 3)


class SeededInputsTest(unittest.TestCase):
    def test_one_seed_gives_byte_identical_inputs(self):
        build.build()
        out = subprocess.run([build.java_bin(), "-cp", build.classpath(), "graftbench.SelfTest",
                              "7"], stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        self.assertEqual(out.returncode, 0, out.stdout + out.stderr)
        lines = out.stdout.strip().splitlines()
        self.assertEqual(len(lines), 6)
        self.assertTrue(all(l.startswith("ok ") for l in lines), lines)


if __name__ == "__main__":
    unittest.main()
