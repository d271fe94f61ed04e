"""Tests of the benchmark's own arithmetic, plus a tiny smoke run.

    python3 -m unittest discover -s perfbench          # arithmetic only
    PERFBENCH_SMOKE=1 python3 -m unittest discover -s perfbench   # + smoke runs
"""
import json
import os
import statistics
import subprocess
import sys
import unittest
from pathlib import Path

import run
import stats

HERE = Path(__file__).resolve().parent


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = [10, 20, 30, 40]
        self.assertEqual(stats.percentile(xs, 0), 10)
        self.assertEqual(stats.percentile(xs, 100), 40)
        self.assertAlmostEqual(stats.percentile(xs, 50), 25)
        self.assertAlmostEqual(stats.percentile(xs, 90), 37)

    def test_order_of_input_does_not_matter(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([5]), 5)

    def test_empty_input_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_spread_uses_statistics_quartiles(self):
        xs = [1.0, 1.1, 0.9, 1.05, 0.95, 1.2, 1.0, 0.98, 1.02, 1.01]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)
        self.assertEqual(stats.spread([2.0] * 10), 0.0)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_gaps(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(5, 6), (0, 10)]), 10)
        self.assertEqual(stats.union_length([(3, 3), (4, 2)]), 0)  # empty and reversed

    def test_self_time_subtracts_children_once(self):
        # span [0, 10]; children overlap each other and one sticks out
        self.assertEqual(stats.self_time((0, 10), [(1, 4), (3, 6), (9, 12)]), 4)
        self.assertEqual(stats.self_time((0, 10), []), 10)

    def test_driver_time_is_time_without_any_job(self):
        # two parallel jobs and one outside the span entirely
        self.assertEqual(stats.driver_time((100, 200), [(110, 150), (120, 160), (250, 300)]), 50)
        self.assertEqual(stats.driver_time((0, 5), [(0, 5)]), 0)


class PerLayerTest(unittest.TestCase):
    """Self time, driver time and attribution over synthetic spans and jobs."""

    def test_flow_metrics_cover_the_span_subtree(self):
        spans = [
            {"id": 1, "name": "flows.etl", "parent": 0, "pass": 0, "start_ms": 0, "end_ms": 1000},
            {"id": 2, "name": "flows.replay", "parent": 0, "pass": 0, "start_ms": 1000, "end_ms": 3000},
            {"id": 3, "name": "replay.etl", "parent": 2, "pass": 0, "start_ms": 1100, "end_ms": 2000},
        ]
        job = dict(tasks=2, cpu_s=0.5, shuffle_bytes=0, input_bytes=10, input_rows=1, output_bytes=7)
        jobs = [
            dict(job, id=0, span=1, site="incremental.slicestore", start_ms=100, end_ms=300),
            dict(job, id=1, span=1, site="incremental.watermarks", start_ms=400, end_ms=500),
            dict(job, id=2, span=3, site="incremental.slicestore", start_ms=1200, end_ms=1700),
        ]
        res = {"passes": [{"index": 0, "ops": [{"name": "flows.etl", "ms": 1000.0, "rows": 0}]}],
               "extras": {"final_sink_bytes": 7}}
        run.annotate(spans, jobs)
        self.assertEqual([s["self_ms"] for s in spans], [1000, 1100, 900])
        self.assertEqual([s["driver_ms"] for s in spans], [700, 1500, 400])
        m = run.per_layer(res, spans, jobs)
        self.assertEqual(set(m), set(run.per_layer_units()))
        self.assertAlmostEqual(m["flows.etl.wall_s"], 1.0)
        self.assertAlmostEqual(m["flows.etl.driver_s"], 0.7)
        self.assertEqual(m["flows.etl.jobs"], 2)
        self.assertEqual(m["flows.replay.jobs"], 1)  # the child's job counts for the parent
        self.assertAlmostEqual(m["flows.replay.driver_s"], 1.5)
        self.assertEqual(m["incremental.slicestore.jobs"], 2)
        self.assertAlmostEqual(m["incremental.slicestore.job_s"], 0.7)
        self.assertEqual(m["incremental.slicestore.write_amp"], 2.0)
        self.assertEqual(m["incremental.watermarks.jobs"], 1)
        self.assertEqual(m["sources.bytes_read"], 30)
        self.assertEqual(m["trace.pass_s"], 1.0)


@unittest.skipUnless(os.environ.get("PERFBENCH_SMOKE"), "set PERFBENCH_SMOKE=1 to run the JVM smoke runs")
class SmokeTest(unittest.TestCase):
    """Both workloads at tiny size, traced and untraced: the last line is
    the result object, outputs check out and every metric is present."""

    def run_one(self, workload, trace):
        out = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                              "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
                             capture_output=True, text=True, timeout=900)
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        return json.loads(out.stdout.strip().splitlines()[-1])

    def test_workloads(self):
        for w in run.WORKLOADS:
            for trace, names in ((0, run.END_TO_END_UNITS), (1, run.per_layer_units())):
                with self.subTest(workload=w, trace=trace):
                    r = self.run_one(w, trace)
                    self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(r["correct"], r)
                    self.assertGreater(r["attempted"], 0)
                    self.assertEqual(set(r["metrics"]), set(names))


if __name__ == "__main__":
    unittest.main()
