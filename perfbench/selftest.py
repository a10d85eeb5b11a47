"""Self-tests of the benchmark; run from the repository root:

    python3 perfbench/selftest.py           # unit checks and a smoke run of every workload
    python3 perfbench/selftest.py --quick   # unit checks without Spark

The smoke runs use the sf0.001 fixtures and check that every metric the
benchmark declares in BENCHMARK.json is reported, with no failed or
wrong operation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import lower_median_pass, per_op_medians  # noqa: E402
from tracing import Span, parse_metric, self_times  # noqa: E402
from workloads import CLOSING_POLL, WORKLOADS, _log_offset, expected_for  # noqa: E402

QUICK = "--quick" in sys.argv


class SpanArithmetic(unittest.TestCase):
    def test_self_time_subtracts_union_of_children(self):
        spans = [
            Span(0, "op", None, 0.0, 10.0),
            Span(1, "build", 0, 1.0, 4.0),
            Span(2, "action", 0, 3.0, 6.0),  # overlaps build by 1 s
            Span(3, "late", 0, 9.0, 12.0),  # runs past its parent
            Span(4, "inner", 1, 1.5, 2.0),
        ]
        st = self_times(spans)
        self.assertAlmostEqual(st[0], 10.0 - (6.0 - 1.0) - (10.0 - 9.0))
        self.assertAlmostEqual(st[1], 3.0 - 0.5)
        self.assertAlmostEqual(st[2], 3.0)
        self.assertAlmostEqual(st[4], 0.5)

    def test_leaf_self_time_is_its_duration(self):
        self.assertAlmostEqual(self_times([Span(0, "x", None, 2.0, 2.5)])[0], 0.5)


class MetricParsing(unittest.TestCase):
    def test_formats(self):
        self.assertEqual(parse_metric("1,234"), 1234)
        self.assertAlmostEqual(parse_metric("9 ms"), 0.009)
        self.assertAlmostEqual(parse_metric("79.0 KiB"), 79.0 * 1024)
        self.assertAlmostEqual(
            parse_metric("total (min, med, max (stageId: taskId))\n14.7 s (0 ms, 1.2 s, 3.4 s (stage 3.0: task 7))"),
            14.7,
        )


class IngestExpectation(unittest.TestCase):
    def test_only_windows_closed_by_the_watermark_count(self):
        windows = [(100, 5), (200, 7), (300, 11)]
        self.assertEqual(expected_for(windows, 99), (0, 0))
        self.assertEqual(expected_for(windows, 200), (2, 12))

    def test_closing_poll_is_the_first_past_window_end_plus_watermark(self):
        # 30 s polls, 30 min window, 10 min watermark: poll 80 starts at 2400 s
        self.assertEqual(CLOSING_POLL, 80)

    def test_file_source_offset_forms(self):
        self.assertEqual(_log_offset('{"logOffset":3}'), 3)
        self.assertEqual(_log_offset({"logOffset": 12}), 12)
        self.assertEqual(_log_offset(None), -1)


class PerOperationMedians(unittest.TestCase):
    def test_one_slow_sample_does_not_move_its_operation(self):
        passes = [{"ops": [{"op": "a", "lat": 1.0}, {"op": "b", "lat": 2.0}]},
                  {"ops": [{"op": "b", "lat": 2.2}, {"op": "a", "lat": 9.0}]},
                  {"ops": [{"op": "a", "lat": 1.2}, {"op": "b", "lat": 2.1}]}]
        self.assertEqual(per_op_medians(passes, "lat"), {"a": 1.2, "b": 2.1})

    def test_pass_statistic_is_the_lower_median_of_pass_sums(self):
        two = [{"ops": [{"op": "a", "lat": 5.0}]}, {"ops": [{"op": "a", "lat": 4.0}]}]
        self.assertEqual(lower_median_pass(two, "lat"), 4.0)
        three = two + [{"ops": [{"op": "a", "lat": 1.0}, {"op": "b", "lat": 3.5}]}]
        self.assertEqual(lower_median_pass(three, "lat"), 4.5)


@unittest.skipIf(QUICK, "needs Spark")
class DigestOrderInsensitive(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        import run

        run.prepare_env()
        cls.spark, _ = run.start_session()

    @classmethod
    def tearDownClass(cls):
        import run

        run.stop_session(cls.spark)

    def test_row_order_and_partitioning_do_not_change_the_digest(self):
        from pyspark.sql import functions as F

        from digest import digest

        df = self.spark.range(500).select(
            F.col("id"),
            (F.col("id") % 7).cast("double").alias("x"),
            F.create_map(F.lit("k"), F.col("id")).alias("m"),
            F.array(F.col("id"), F.col("id") * 2).alias("a"),
        )
        base = digest(df)
        self.assertEqual(base[0], 500)
        self.assertEqual(digest(df.orderBy(F.desc("id"))), base)
        self.assertEqual(digest(df.repartition(7)), base)
        changed = df.withColumn("x", F.when(F.col("id") == 3, 0.5).otherwise(F.col("x")))
        self.assertNotEqual(digest(changed), base)


@unittest.skipIf(QUICK, "needs Spark")
class Smoke(unittest.TestCase):
    """Every workload end to end at sf0.001, traced and untraced."""

    def _run(self, workload: str, trace: int) -> dict:
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
             "--seconds", "1", "--trace", str(trace), "--scale", "0.001"],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        return json.loads(p.stdout.strip().splitlines()[-1])

    def test_every_workload(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        declared = {0: {m["name"] for m in bench["end_to_end"]}, 1: {m["name"] for m in bench["per_layer"]}}
        for workload in WORKLOADS:
            for trace in (0, 1):
                with self.subTest(workload=workload, trace=trace):
                    r = self._run(workload, trace)
                    self.assertTrue(r["correct"])
                    self.assertEqual(r["failed"], 0)
                    self.assertEqual(set(r["metrics"]), declared[trace])


if __name__ == "__main__":
    unittest.main(argv=[a for a in sys.argv if a != "--quick"])
