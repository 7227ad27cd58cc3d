"""Tests of the benchmark's own logic: python3 -m unittest discover -s loopbench/tests"""
import glob
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import run  # noqa: E402


def results(raw, trace):
    e2e, _ = run.end_to_end(raw["setup"]["setup_s"], raw["phase"])
    return run.result(raw, e2e, trace)


def fixtures():
    """Raw records printed by the JVM in traced runs, one per workload."""
    out = {}
    for path in sorted(glob.glob(os.path.join(HERE, "fixtures", "*.json"))):
        with open(path) as f:
            out[os.path.basename(path)[:-5]] = json.load(f)
    return out


class TailRule(unittest.TestCase):
    def test_at_least_ten_beyond_and_highest_such(self):
        for n in range(11, 200):
            xs = [float(i) for i in range(n)]
            value, pct, beyond = run.tail(xs)
            self.assertEqual(beyond, sum(1 for x in xs if x > value))
            self.assertGreaterEqual(beyond, 10)
            # the next higher sample has fewer than ten beyond it
            self.assertLess(sum(1 for x in xs if x > value + 1), 10)
            self.assertAlmostEqual(pct, 100.0 * value / (n - 1))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.0, 10.0, 11.0, 12.0]
        self.assertEqual(run.tail(xs), run.tail(sorted(xs)))
        self.assertEqual(run.tail(xs)[0], 2.0)

    def test_ten_or_fewer_samples_report_the_maximum(self):
        self.assertEqual(run.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 0))
        self.assertEqual(run.tail([float(i) for i in range(10)]), (9.0, 100.0, 0))

    def test_sample_count_is_reported(self):
        _, shape = run.end_to_end(1.0, {
            "op_s": [float(i) for i in range(40)], "run_s": 40.0, "cpu_s": 80.0,
            "heap_live_peak_mb": 100.0})
        self.assertEqual(shape, {"ops": 40, "tail_percentile": 74.36, "tail_beyond": 10})


class MetricNames(unittest.TestCase):
    def test_every_declared_name_is_emitted_and_no_other(self):
        recs = fixtures()
        self.assertEqual(sorted(recs), sorted(run.WORKLOADS))
        e2e, layers = run.declared()
        for name, raw in recs.items():
            for trace, want in ((0, e2e), (1, layers)):
                with self.subTest(workload=name, trace=trace):
                    res = results(raw, trace)
                    got = {k: v["unit"] for k, v in res["metrics"].items()}
                    self.assertEqual(got, want)

    def test_an_undeclared_or_missing_name_is_refused(self):
        raw = next(iter(fixtures().values()))
        _, layers = run.declared()
        extra = dict(raw["traced"]["layers"], **{"spark.unknown": 1.0})
        missing = dict(raw["traced"]["layers"])
        missing.pop("jvm.gc_s")
        for metrics in (extra, missing):
            with self.assertRaises(SystemExit):
                run.check_names(metrics, layers)

    def test_end_to_end_metrics_are_never_zero(self):
        for name, raw in fixtures().items():
            res = results(raw, 0)
            for k, v in res["metrics"].items():
                self.assertGreater(v["value"], 0, f"{name} {k}")

    def test_result_shape(self):
        for raw in fixtures().values():
            res = results(raw, 0)
            self.assertEqual(sorted(res), ["attempted", "correct", "failed", "metrics"])
            self.assertIsInstance(res["attempted"], int)
            self.assertGreaterEqual(res["attempted"], 1)
            self.assertEqual(res["correct"], res["failed"] == 0)


if __name__ == "__main__":
    unittest.main()
