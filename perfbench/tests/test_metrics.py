"""Self-tests of the benchmark's arithmetic on a fixed synthetic span set.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


def span(id, parent, layer, start, end):
    return {"id": id, "parent": parent, "layer": layer, "name": layer, "epoch": 0, "start": start, "end": end}


# One traced iteration, times in ms. The stream span covers the whole
# ingest; two stages and a merge run inside it, one after another, and a
# scan follows it.
SPANS = [
    span(1, -1, "stream", 0.0, 100.0),
    span(2, 1, "smt", 10.0, 30.0),
    span(3, 1, "schema", 30.0, 50.0),
    span(4, 3, "smt", 35.0, 40.0),      # a stage nested in the schema span
    span(5, 1, "merge", 50.0, 90.0),
    span(6, -1, "sources", 100.0, 120.0),
]
JOBS = [
    {"id": 0, "group": "smt", "start": 12.0, "end": 28.0},
    {"id": 1, "group": "schema", "start": 31.0, "end": 45.0},
    {"id": 2, "group": "merge", "start": 55.0, "end": 60.0},
    {"id": 3, "group": "merge", "start": 70.0, "end": 85.0},
    {"id": 4, "group": "0b6c-runid", "start": 92.0, "end": 95.0},   # not a layer
    {"id": 5, "group": None, "start": 101.0, "end": 119.0},
]


def task(job, stage, ms, cpu_ms=0.0, records=0):
    return {"job": job, "stage": stage, "ms": ms, "cpu_ns": cpu_ms * 1e6, "gc_ms": 1.0, "shuffle_w": 1e6,
            "shuffle_r": 0.0, "spill": 0.0, "records": records}


TASKS = [
    task(0, 10, 8.0, cpu_ms=8.0, records=100),
    task(0, 10, 8.0, cpu_ms=8.0, records=100),
    task(2, 20, 2.0), task(2, 20, 2.0),
    task(3, 21, 4.0, cpu_ms=4.0), task(3, 21, 4.0, cpu_ms=4.0), task(3, 21, 12.0, cpu_ms=12.0),
    task(4, 30, 3.0),
]


class OrderStatistics(unittest.TestCase):
    def test_median_and_quartiles(self):
        xs = [9, 1, 8, 2, 7, 3, 6, 4, 5]
        self.assertEqual(metrics.median(xs), 5)
        self.assertEqual(metrics.quartiles(xs), [2.5, 5.0, 7.5])
        self.assertAlmostEqual(metrics.spread(xs), 1.0)

    def test_percentile_needs_ten_samples_beyond_it(self):
        self.assertFalse(metrics.reportable(19, 50))
        self.assertTrue(metrics.reportable(20, 50))
        self.assertFalse(metrics.reportable(99, 90))
        self.assertTrue(metrics.reportable(100, 90))
        self.assertIsNone(metrics.percentile(list(range(1, 100)), 90))
        self.assertEqual(metrics.percentile(list(range(1, 101)), 90), 90)
        self.assertEqual(metrics.percentile(list(range(1, 21)), 50), 10)


class Intervals(unittest.TestCase):
    def test_union_and_subtract(self):
        self.assertEqual(metrics.union([(5, 8), (0, 2), (1, 3), (8, 9)]), [(0, 3), (5, 9)])
        self.assertEqual(metrics.subtract([(0, 10)], [(2, 3), (5, 12)]), [(0, 2), (3, 5)])
        self.assertEqual(metrics.length(metrics.subtract([(0, 10)], [(-1, 11)])), 0)


class SpanSelfTime(unittest.TestCase):
    def test_self_time_excludes_children(self):
        selfs = metrics.self_intervals(SPANS)
        self.assertEqual(selfs[1], [(0.0, 10.0), (90.0, 100.0)])
        self.assertEqual(metrics.length(selfs[3]), 15.0)
        self.assertEqual(metrics.length(selfs[4]), 5.0)

    def test_self_times_sum_to_wall(self):
        selfs = metrics.self_intervals(SPANS)
        self.assertEqual(sum(metrics.length(v) for v in selfs.values()), 120.0)


class JobAttribution(unittest.TestCase):
    def test_job_group_names_the_layer(self):
        layer = metrics.attribute(JOBS)
        self.assertEqual([layer[j] for j in range(6)], ["smt", "schema", "merge", "merge", None, None])

    def test_layer_metrics(self):
        m = metrics.layer_metrics(SPANS, JOBS, TASKS, cores=4, iterations=1)
        self.assertAlmostEqual(m["smt.self_s"], 0.025)           # 20 ms + 5 ms nested stage
        self.assertAlmostEqual(m["smt.driver_s"], 0.004)         # 10-12, 28-30
        self.assertAlmostEqual(m["merge.self_s"], 0.040)
        self.assertAlmostEqual(m["merge.driver_s"], 0.020)       # 50-55, 60-70, 85-90
        self.assertAlmostEqual(m["stream.driver_s"], 0.017)      # 0-10, 90-92, 95-100
        self.assertEqual(m["merge.jobs"], 2)
        self.assertEqual(m["merge.tasks"], 5)
        self.assertAlmostEqual(m["merge.task_cpu_s"], 0.020)
        self.assertAlmostEqual(m["merge.core_util"], 0.020 / (0.040 * 4))
        self.assertAlmostEqual(m["merge.task_skew"], 3.0)        # stage 21: max 12 / median 4
        self.assertAlmostEqual(m["smt.shuffle_mb"], 2.0)
        self.assertAlmostEqual(m["smt.gc_s"], 0.002)
        self.assertEqual(m["trace.unattributed_jobs"], 2)
        self.assertAlmostEqual(sum(m[f"{l}.self_s"] for l in metrics.LAYERS), 0.120)

    def test_per_iteration_normalization(self):
        m = metrics.layer_metrics(SPANS, JOBS, TASKS, cores=4, iterations=2)
        self.assertAlmostEqual(m["merge.self_s"], 0.020)
        self.assertEqual(m["merge.jobs"], 1)


class TraceRunSplit(unittest.TestCase):
    """A trace run records the jobs of traced and untraced iterations."""

    UNTRACED_JOBS = [
        {"id": 10, "group": "ingest-7", "start": 200.0, "end": 210.0},   # untraced fused ingest
        {"id": 11, "group": "untraced", "start": 211.0, "end": 215.0},   # untraced read-back
    ]

    def test_traced_jobs(self):
        traced = metrics.traced_jobs(JOBS + self.UNTRACED_JOBS, [{"ingest_groups": ["0b6c-runid"]}])
        self.assertEqual([j["id"] for j in traced], [0, 1, 2, 3, 4])

    def test_source_reads_per_event(self):
        tasks = TASKS + [task(10, 40, 1.0, records=200), task(10, 41, 1.0, records=70),
                         task(11, 42, 1.0, records=999)]
        untraced = [{"ingest_groups": ["ingest-7", "ingest-8"], "events": 100.0, "rows_replaced": 50.0}]
        jobs = JOBS + self.UNTRACED_JOBS + [{"id": 12, "group": "ingest-8", "start": 216.0, "end": 220.0}]
        tasks.append(task(12, 43, 1.0, records=30))
        reads = metrics.source_reads_per_event(tasks, jobs, untraced)
        self.assertAlmostEqual(reads, (300 - 50) / 100)


class Memory(unittest.TestCase):
    def test_peak_memory_counts_heap_use_not_pretouched_pages(self):
        raw = {"heap_peak_mb": 700.0, "heap_committed_mb": 2048.0, "vm_hwm_mb": 2700.0}
        self.assertAlmostEqual(metrics.peak_memory_mb(raw), 700.0 + 652.0)


if __name__ == "__main__":
    unittest.main()
