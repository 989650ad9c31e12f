"""The benchmark's own tests. Run from the root of a checkout:

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import re
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import gen_linkage  # noqa: E402
import gen_tables  # noqa: E402
import stats  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_byte_identical_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            gen_linkage.generate(a, 7, stays=400)
            gen_linkage.generate(b, 7, stays=400)
            gen_linkage.generate(c, 8, stays=400)
            names = sorted(os.listdir(a))
            self.assertEqual(len(names), 10)
            _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            _, mismatch, _ = filecmp.cmpfiles(a, c, names, shallow=False)
            self.assertIn("encounter_summary.tsv", mismatch)

    def test_tables_are_deterministic_and_typed_like_the_test_data(self):
        one, two = gen_tables.tables(3, 0.001), gen_tables.tables(3, 0.001)
        for name, table in one.items():
            self.assertTrue(table.equals(two[name]), name)
        self.assertEqual(str(one["events"].schema.field("ts").type), "timestamp[us]")
        self.assertEqual(str(one["nation"].schema.field("n_nationkey").type), "int32")
        self.assertEqual(one["lineitem"].num_rows, 6000)

    def test_planted_rates_and_shapes(self):
        with tempfile.TemporaryDirectory() as d:
            truth = gen_linkage.generate(d, 11, stays=4000)
            planted, n = truth["planted"], 4000
            self.assertAlmostEqual(planted["split_stays"] / n, gen_linkage.SPLIT_RATE, delta=0.02)
            self.assertAlmostEqual(planted["cardiac_stays"] / n, gen_linkage.CARDIAC_RATE, delta=0.01)
            self.assertAlmostEqual(planted["ww_repairs"] / n, gen_linkage.WW_RATE, delta=0.005)
            frags = truth["input_rows"]["encounter_fragments"]
            self.assertAlmostEqual(planted["wrong_fragment_ids"] / frags,
                                   gen_linkage.WRONG_FRAGMENT_RATE, delta=0.007)
            rows = truth["input_rows"]
            self.assertAlmostEqual(rows["labresults"] / rows["chartevents"],
                                   gen_linkage.LAB_SHARE, delta=0.01)
            self.assertEqual(frags, n + planted["split_stays"])
            # every dictionary code appears in the CMP extract
            with open(os.path.join(d, "icnarc_cmp.xml")) as f:
                tags = set(re.findall(r"<([A-Z][A-Z0-9]{2,3})>", f.read()))
            with open(os.path.join(d, "cmp_dictionary.csv")) as f:
                codes = [line.split(",")[0] for line in f.read().splitlines()[1:]]
            self.assertEqual(len(codes), 205)
            self.assertEqual(set(codes) - tags, set())
            # the interventions key has the reference sheet's shape
            key = gen_linkage.interventions_key()
            self.assertEqual(len(key), 96)
            self.assertEqual(len({r[0] for r in key}), 33)
            self.assertEqual(len({(r[2], r[4]) for r in key}), 96)
            with open(os.path.join(d, "encounter_summary.tsv")) as f:
                self.assertTrue(f.read().splitlines()[-2].endswith("rows affected)"))
            self.assertLess(truth["cohort_rows"], truth["icustays_rows"])
            self.assertLess(truth["icustays_rows"], truth["philips_rows"])


class StatsTest(unittest.TestCase):
    def test_tail_is_the_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail(list(range(1, 101))), (90, 90.0, 10))
        self.assertEqual(stats.tail(list(range(11, 0, -1))), (1, 100.0 / 11, 10))
        value, pct, beyond = stats.tail([5.0, 1.0, 3.0])
        self.assertEqual((value, beyond), (1.0, 2))

    def test_self_time_with_overlapping_children(self):
        children = [(1, 4), (3, 6), (8, 12), (-5, -1)]
        self.assertEqual(stats.covered((0, 10), children), 7)
        self.assertEqual(stats.self_time((0, 10), children), 3)
        self.assertEqual(stats.self_time((0, 10), []), 10)
        self.assertEqual(stats.self_time((0, 10), [(0, 10), (2, 3)]), 0)


class LoopTest(unittest.TestCase):
    def test_cold_pays_the_build_and_warm_reuses_it(self):
        import run
        root = os.path.dirname(os.path.dirname(HERE))
        classpath = run.build(root)
        with tempfile.TemporaryDirectory() as out:
            run.scalac(classpath, os.path.join(out, "classes"),
                       [os.path.join(HERE, "LoopCheck.scala")])
            lines = subprocess.run(
                ["java", "-cp", os.path.join(out, "classes") + os.pathsep + classpath,
                 "graft.perfbench.LoopCheck"],
                check=True, capture_output=True, text=True).stdout.splitlines()
        self.assertEqual(lines[-1], "iterations 3")
        execs = [line.split() for line in lines[:-1]]
        self.assertEqual([(int(i), k) for i, k, _ in execs],
                         [(i, k) for i in range(3) for k in ("cold", "warm")])
        for _, kind, seconds in execs:
            if kind == "cold":
                self.assertGreaterEqual(float(seconds), 0.2)
            else:
                self.assertLess(float(seconds), 0.1)


if __name__ == "__main__":
    unittest.main()
