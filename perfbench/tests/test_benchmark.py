"""Tests of the benchmark's reductions, output check and result line.

Run from the root of a checkout:  python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
sys.dont_write_bytecode = True

import oracle  # noqa: E402
import reduce  # noqa: E402
import run  # noqa: E402


class Reductions(unittest.TestCase):
    def test_median_and_quartiles_follow_statistics_quantiles(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0, 6.0, 8.0, 10.0]
        self.assertEqual(reduce.median(xs), 5.5)
        q1, q2, q3 = reduce.quartiles(xs)
        self.assertEqual((q1, q2, q3), tuple(statistics.quantiles(xs, n=4)))
        self.assertAlmostEqual(reduce.spread(xs), (q3 - q1) / q2)
        self.assertEqual(reduce.quartiles([4.0]), (4.0, 4.0, 4.0))

    def test_geomean_is_over_per_kind_medians(self):
        # medians 2 and 8: the geometric mean is 4, whatever the sample counts
        got = reduce.geomean_of_medians({"a": [1.0, 2.0, 100.0], "b": [8.0]})
        self.assertAlmostEqual(got, 4.0)

    def test_mb_is_decimal(self):
        self.assertEqual(reduce.mb(30_081_930), 30.08193)

    def test_covered_and_self_time(self):
        self.assertEqual(reduce.covered_ms([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(reduce.covered_ms([]), 0)
        # children outside the span are clipped to it
        self.assertEqual(reduce.self_time((10, 110), [(0, 20), (50, 60), (55, 70), (100, 200)]), 60)
        self.assertEqual(reduce.self_time((0, 5), []), 5)


class ResultLine(unittest.TestCase):
    def test_shape(self):
        line = json.loads(reduce.result_line(True, 12, 0, {"wall_s": (1.5, "s")}))
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(line["metrics"]["wall_s"], {"value": 1.5, "unit": "s"})

    def test_rejects_bad_counts_and_values(self):
        with self.assertRaises(ValueError):
            reduce.result_line(True, 0, 0, {})
        with self.assertRaises(ValueError):
            reduce.result_line(True, 3, 4, {})
        with self.assertRaises(ValueError):
            reduce.result_line(True, 3, 0, {"x": (float("nan"), "s")})


class OutputCheck(unittest.TestCase):
    WANT = "SELECT * FROM (VALUES (1, 'a', 0.5::DOUBLE), (2, 'b', 1.25::DOUBLE)) t(k, s, v)"

    def setUp(self):
        self.con = oracle.duckdb.connect()

    def test_accepts_the_same_rows_in_any_order_and_float_rounding(self):
        got = "SELECT * FROM (VALUES (2, 'b', 1.2500000000001::DOUBLE), (1, 'a', 0.5::DOUBLE)) t(k, s, v)"
        self.assertIsNone(oracle.compare(self.con, got, self.WANT))

    def test_rejects_a_wrong_result(self):
        for wrong in ("SELECT * FROM (VALUES (1, 'a', 0.5::DOUBLE), (2, 'c', 1.25::DOUBLE)) t(k, s, v)",
                      "SELECT * FROM (VALUES (1, 'a', 0.5::DOUBLE), (2, 'b', 1.3::DOUBLE)) t(k, s, v)"):
            self.assertIsNotNone(oracle.compare(self.con, wrong, self.WANT))

    def test_rejects_a_missing_row_and_a_type_change(self):
        self.assertIsNotNone(oracle.compare(
            self.con, "SELECT * FROM (VALUES (1, 'a', 0.5)) t(k, s, v)", self.WANT))
        self.assertIsNotNone(oracle.compare(
            self.con, "SELECT k::HUGEINT AS k, s, v FROM (" + self.WANT + ")", self.WANT))

    def test_ignores_the_lineage_column(self):
        got = f"SELECT *, 'imp' AS {oracle.LINEAGE} FROM ({self.WANT})"
        self.assertIsNone(oracle.compare(self.con, got, self.WANT))


class Manifest(unittest.TestCase):
    def test_benchmark_json_names_every_reported_metric(self):
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..", "BENCHMARK.json")
        with open(path) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]], run.E2E)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]], run.layer_metrics())


if __name__ == "__main__":
    unittest.main()
