#!/usr/bin/env python3
"""Self-tests for the lakehouse benchmark.

    python3 perfbench/selftest.py          # everything (about five minutes)
    python3 perfbench/selftest.py --unit   # the summary helpers only

Checks the summary helpers; runs every workload once on the sf0.001
fixture, untraced and traced, and requires correct outputs and every metric;
plants a wrong expected result and requires the run to count a failure;
and runs the Scala specs (call-site attribution, interval union, result
digest) with sbt. Run from the root of a checkout.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402


def bench(workload, trace, *extra):
    r = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--dataset", "sf0.001", *extra],
        cwd=HERE.parent, capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        raise AssertionError(f"{workload} exited {r.returncode}:\n"
                             f"{r.stderr[-3000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


class TailTest(unittest.TestCase):
    def test_ten_or_fewer_samples_report_the_maximum(self):
        self.assertEqual(run.tail([3, 1, 2]), (3, 100, 3))
        self.assertEqual(run.tail(list(range(10))), (9, 100, 10))

    def test_exactly_ten_samples_lie_beyond_the_tail(self):
        xs = list(range(100))
        value, pct, n = run.tail(xs)
        self.assertEqual((value, pct, n), (89, 90, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        value, pct, n = run.tail(list(range(25)))
        self.assertEqual((value, pct, n), (14, 60, 25))

    def test_no_samples(self):
        self.assertEqual(run.tail([]), (0.0, 100, 0))


class SummaryTest(unittest.TestCase):
    def test_items_are_summarised_by_name_before_across_names(self):
        got = run.by_name([("a", 1), ("b", 10), ("a", 3), ("b", 30), ("a", 2)])
        self.assertEqual(got, {"a": 2, "b": 20})

    def test_slow_end_is_the_mean_of_the_slowest_five(self):
        times = {"a": 1, "b": 9, "c": 3, "d": 6, "e": 2, "f": 5}
        self.assertEqual(run.slow_end(times), 5.0)
        self.assertEqual(run.slow_end({"a": 4}), 4.0)

    def test_geomean(self):
        self.assertAlmostEqual(run.geomean([1, 100]), 10.0)
        self.assertEqual(run.geomean([]), 0.0)


class WorkloadTest(unittest.TestCase):
    def check(self, workload):
        for trace, names in ((0, run.END_TO_END), (1, run.PER_LAYER)):
            out = bench(workload, trace)
            self.assertTrue(out["correct"], out)
            self.assertEqual(out["failed"], 0)
            self.assertGreaterEqual(out["attempted"], 1)
            self.assertEqual(set(out["metrics"]), set(names))
            if trace == 0:
                for k, m in out["metrics"].items():
                    self.assertGreater(m["value"], 0, k)

    def test_pipeline_build(self):
        self.check("pipeline_build")

    def test_dashboard_queries(self):
        self.check("dashboard_queries")

    def test_cdc_merge(self):
        self.check("cdc_merge")

    def test_planted_wrong_expected_result_counts_as_failed(self):
        for workload in ("dashboard_queries", "pipeline_build"):
            out = bench(workload, 0, "--plant-fault")
            self.assertFalse(out["correct"], workload)
            self.assertGreater(out["failed"], 0, workload)


class ScalaSpecs(unittest.TestCase):
    def test_sbt(self):
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "test"], cwd=HERE, env=run.sbt_env(),
                           capture_output=True,
                           text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stdout[-3000:])


if __name__ == "__main__":
    if "--unit" in sys.argv:
        sys.argv.remove("--unit")
        unittest.main(defaultTest=["TailTest", "SummaryTest"])
    else:
        unittest.main()
