"""Tail selection, interval arithmetic and per-op attribution on synthetic
spans.

    python3 -m unittest discover perfbench/tests
"""

import json
import os
import sys
import unittest

HERE = os.path.dirname(__file__)
sys.path.insert(0, os.path.join(HERE, ".."))

import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_ladder(self):
        for n, p in [(1, 100.0), (19, 100.0), (20, 50.0), (39, 50.0),
                     (40, 75.0), (99, 75.0), (100, 90.0), (199, 90.0),
                     (200, 95.0), (999, 95.0), (1000, 99.0)]:
            self.assertEqual(stats.tail_percentile(n), p, n)

    def test_at_least_ten_beyond(self):
        for n in range(20, 2000, 7):
            p = stats.tail_percentile(n)
            self.assertGreaterEqual(n * (100 - p), 100 * stats.TAIL_MIN_BEYOND)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (100.0, 3.0))
        self.assertEqual(stats.tail([float(i) for i in range(40)]), (75.0, 29.0))


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_union_clips(self):
        self.assertEqual(stats.union_length([(-5, 5), (8, 20)], 0, 10), 7)

    def test_self_time_is_driver_gap(self):
        # op 0..100; jobs cover 10..40 (two overlapping) and 60..70
        spans = [(10, 30), (20, 40), (60, 70), (95, 130)]
        self.assertEqual(stats.self_time(0, 100, spans), 100 - 30 - 10 - 5)
        self.assertEqual(stats.self_time(0, 100, []), 100)


def job(i, start, end, site, stages=(), props=None):
    return {"id": i, "start_ms": start, "end_ms": end, "stages": list(stages),
            "call_site": site, "props": props or {}}


DIMS = ("org.apache.spark.sql.Dataset.head(Dataset.scala:1)\n"
        "app//graft.etl.Dims$.upsert(Dims.scala:66)\n"
        "app//graft.etl.StarStore.attemptBatch(Pipeline.scala:612)")
PIPE = ("org.apache.spark.sql.DataFrameWriter.save(DataFrameWriter.scala:1)\n"
        "app//graft.ext.CacheScope.own(CacheScope.scala:9)\n"
        "app//graft.etl.StarStore.attemptBatch(Pipeline.scala:640)")
CC = "graft.ext.Dedup$.duplicateClusters(Dedup.scala:1600)"
OWN = "perfbench.Harness$.main(Harness.scala:1)"


class AttributionTest(unittest.TestCase):
    def test_module_of(self):
        self.assertEqual(stats.module_of(DIMS), "etl.Dims")
        self.assertEqual(stats.module_of(PIPE), "etl.Pipeline")  # skips CacheScope
        self.assertEqual(stats.module_of(CC), "ext.Dedup")
        self.assertIsNone(stats.module_of(OWN))

    def test_op_layers(self):
        op = {"start_ms": 1000, "end_ms": 2000, "x": {}}
        jobs = [
            job(1, 1100, 1300, DIMS, [1]),
            job(2, 1200, 1400, "", [2],
                {"spark.job.tags": "broadcast exchange (runId x)"}),
            job(3, 1500, 1900, PIPE, [3, 1]),
            job(4, 1950, 2100, OWN, [4]),
            job(5, 2500, 2600, DIMS, [5]),  # after the op: not its child
        ]
        st = {i: {"tasks": i, "cpu_ns": 1e9, "gc_ms": 10, "input_bytes": 1 << 20,
                  "input_records": 100, "shuffle_write_bytes": 0,
                  "spill_bytes": 0, "output_bytes": 0} for i in range(1, 6)}
        progress = [{"start_ms": 1010, "trigger_ms": 900, "add_batch_ms": 700,
                     "input_rows": 5}]
        r = stats.op_layers(op, jobs, st, progress)
        self.assertEqual(r["spark.jobs"], 4)
        self.assertEqual(r["spark.broadcast_jobs"], 1)
        self.assertEqual(r["spark.tasks"], 1 + 2 + 3 + 4)  # stage 1 counted once
        self.assertAlmostEqual(r["spark.job_busy_s"], 0.3 + 0.4 + 0.05)
        self.assertAlmostEqual(r["spark.driver_gap_s"], 1.0 - 0.75)
        self.assertAlmostEqual(r["etl.Dims.busy_s"], 0.2)
        self.assertEqual(r["etl.Dims.jobs"], 1)
        self.assertAlmostEqual(r["etl.Pipeline.busy_s"], 0.4)
        self.assertEqual(r["op.jobs"], 2)  # the broadcast job and the op's own
        self.assertAlmostEqual(r["op.busy_s"], 0.2 + 0.05)
        self.assertAlmostEqual(r["etl.Incremental.overhead_s"], 0.2)
        self.assertAlmostEqual(r["etl.Pipeline.add_batch_s"], 0.7)
        self.assertEqual(r["input_records"], 400)


class BenchmarkJsonTest(unittest.TestCase):
    def test_metric_lists_match_run(self):
        path = os.path.join(HERE, "..", "..", "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json next to perfbench/")
        import run
        with open(path) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["end_to_end"]],
                         run.E2E)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         run.LAYERS)
        self.assertEqual({w["name"] for w in b["workloads"]} - set(run.WORKLOADS),
                         set())


if __name__ == "__main__":
    unittest.main()
