"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import report  # noqa: E402
import stats  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))                  # 100 samples
        v, q, n = stats.tail_percentile(xs, 0.9)
        self.assertEqual((v, q, n), (90, 0.9, 100))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_fewer_samples_lower_the_percentile(self):
        xs = list(range(1, 51))                   # 50 samples: p90 has 5 beyond
        v, q, n = stats.tail_percentile(xs, 0.9)
        self.assertAlmostEqual(q, 0.8)
        self.assertEqual(v, 40)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_median_is_unchanged_when_enough_samples(self):
        v, q, _ = stats.tail_percentile([5, 1, 4, 2, 3] * 10, 0.5)
        self.assertEqual((v, q), (3, 0.5))

    def test_too_few_samples_is_nan(self):
        v, q, n = stats.tail_percentile(list(range(10)), 0.9)
        self.assertTrue(math.isnan(v))
        self.assertEqual(n, 10)


class Geomean(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10.0)
        self.assertAlmostEqual(stats.geomean([2, 8, 4]), 4.0)

    def test_empty_or_nonpositive_is_nan(self):
        self.assertTrue(math.isnan(stats.geomean([])))
        self.assertTrue(math.isnan(stats.geomean([3, 0])))


class FailedSamples(unittest.TestCase):
    samples = [
        {"query": "a", "ok": True, "wall_ms": 50.0},
        {"query": "a", "ok": False, "wall_ms": 1.0},   # failed fast
        {"query": "b", "ok": True, "wall_ms": 20.0},
    ]

    def test_failed_sample_counts_as_failed(self):
        self.assertEqual(stats.count_failed(self.samples), 1)

    def test_failed_sample_is_never_a_timing(self):
        walls = stats.ok_walls(self.samples)
        self.assertEqual(walls, {"a": [50.0], "b": [20.0]})
        self.assertEqual(min(walls["a"]), 50.0)


class SelfTime(unittest.TestCase):
    def test_overlapping_children(self):
        span = {"start": 0.0, "end": 100.0}
        kids = [{"start": 10.0, "end": 40.0}, {"start": 30.0, "end": 60.0},
                {"start": 80.0, "end": 90.0}]
        # union of children = [10, 60) + [80, 90) = 60
        self.assertAlmostEqual(stats.self_time(span, kids), 40.0)

    def test_children_clipped_to_span(self):
        span = {"start": 0.0, "end": 10.0}
        kids = [{"start": -5.0, "end": 4.0}, {"start": 8.0, "end": 20.0}]
        self.assertAlmostEqual(stats.self_time(span, kids), 4.0)

    def test_union_length(self):
        self.assertAlmostEqual(stats.union_length([(0, 5), (1, 2), (5, 7), (9, 10)]), 8)


class JobAttachment(unittest.TestCase):
    def span(i, name, parent, start, end, group=None):
        return {"id": i, "name": name, "parent": parent, "group": group,
                "start": start, "end": end}

    spans = [
        span(0, "run", -1, 0, 100),
        span(1, "pass:0", 0, 0, 50),
        span(2, "query:q_a", 1, 0, 20),
        span(3, "build", 2, 0, 5, "p0:q_a:build"),
        span(4, "exec", 2, 5, 20, "p0:q_a:exec"),
        span(5, "query:q_b", 1, 20, 50),
        span(6, "build", 5, 20, 30, "p0:q_b:build"),
        span(7, "exec", 5, 30, 50, "p0:q_b:exec"),
        span(8, "job:text", 0, 50, 60),
        span(9, "drain", 8, 50, 60, "job:text:drain"),
        span(10, "waves", 0, 60, 80),
        span(11, "start:text", 10, 60, 61, "job:text:waves"),
        span(12, "wave:0", 10, 61, 70),
        span(13, "wave:1", 10, 70, 80),
    ]
    del span

    def test_jobs_follow_their_group(self):
        jobs = [
            {"job": 0, "group": "p0:q_a:build", "start": 1},
            {"job": 1, "group": "p0:q_a:exec", "start": 6},
            # a job of q_b that starts while q_a's span is still open
            # belongs to q_b: the group decides, not the clock
            {"job": 2, "group": "p0:q_b:exec", "start": 19},
            {"job": 3, "group": "job:text:drain", "start": 55},
            {"job": 5, "group": None, "start": 3},
        ]
        got = {sid: [j["job"] for j in js]
               for sid, js in stats.attach_jobs(self.spans, jobs).items()}
        self.assertEqual(got, {3: [0], 4: [1], 7: [2], 9: [3], None: [5]})

    def test_streaming_jobs_land_in_their_wave(self):
        # the stream thread keeps the group set when its query started,
        # so its jobs climb out of the start span and into the wave
        jobs = [{"job": 0, "group": "job:text:waves", "start": 72}]
        got = stats.attach_jobs(self.spans, jobs)
        self.assertEqual(list(got), [13])


class PipelineOps(unittest.TestCase):
    recs = ([{"kind": "drain", "job": j, "drain_ms": 1000.0} for j in ("text", "parquet", "hive")]
            + [{"kind": "wave", "job": j, "latency_ms": 100.0 + k}
               for j in ("text", "parquet", "hive") for k in range(10)]
            + [{"kind": "commit", "commit_ms": 1.0, "compact_ms": 999.0},
               {"kind": "curation", "run_ms": 8000.0},
               {"kind": "stream_curation", "run_ms": 4000.0}])

    def test_each_job_counts_once(self):
        ops = report.pipeline_ops(self.recs)
        # three drains, three wave medians, commit + compaction, two jobs
        self.assertEqual(len(ops), 9)
        self.assertIn(104.5, ops)
        self.assertIn(1000.0, ops)

    def test_a_slower_job_moves_the_geomean_by_its_ninth_root(self):
        slow = [dict(r, run_ms=16000.0) if r["kind"] == "curation" else r for r in self.recs]
        ratio = (stats.geomean(report.pipeline_ops(slow))
                 / stats.geomean(report.pipeline_ops(self.recs)))
        self.assertAlmostEqual(ratio, 2 ** (1 / 9))


class EngineDrops(unittest.TestCase):
    def test_rows_read_less_rows_written_by_the_jobs_queries(self):
        tr = {"progress": [{"job": "hive", "rows": 100}, {"job": "hive", "rows": 50},
                           {"job": "text", "rows": 70}],
              "jobs": [{"stream_query": "h1", "stages": [1, 2]},
                       {"stream_query": "h2", "stages": [3]},
                       {"stream_query": "t1", "stages": [4]},
                       {"stream_query": None, "stages": [5]}],
              "stages": [{"stage": 1, "records_written": 0},
                         {"stage": 2, "records_written": 96},
                         {"stage": 3, "records_written": 49},
                         {"stage": 4, "records_written": 70},
                         {"stage": 5, "records_written": 145}]}
        queries = {"h1": "hive", "h2": "hive", "t1": "text"}
        self.assertEqual(report.engine_drops(tr, queries, "hive"), 5)
        self.assertEqual(report.engine_drops(tr, queries, "text"), 0)


if __name__ == "__main__":
    unittest.main()
