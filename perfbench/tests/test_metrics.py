"""Tests of the benchmark's own arithmetic: the tail-percentile rule,
open-loop latency timed from the due time, and per-layer self time.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics as M  # noqa: E402
import run  # noqa: E402


class TailRule(unittest.TestCase):
    def test_tail_has_ten_samples_beyond_it(self):
        xs = list(range(1, 101))  # 1..100
        value, beyond = M.tail(xs, 90)
        self.assertEqual(value, 90)
        self.assertEqual(beyond, 10)
        self.assertEqual(sum(x > value for x in xs), beyond)

    def test_too_few_samples_reports_no_tail(self):
        # 13 samples: p75 would leave 3 beyond it, so the "tail" would sit
        # next to the median; refuse instead.
        with self.assertRaises(M.TooFewSamples):
            M.tail(list(range(13)), 75)
        with self.assertRaises(M.TooFewSamples):
            M.tail([], 50)

    def test_min_samples_is_the_threshold(self):
        for pct in (50, 60, 75, 90, 95, 99):
            n = M.min_samples(pct)
            M.tail(list(range(n)), pct)
            with self.assertRaises(M.TooFewSamples):
                M.tail(list(range(n - 1)), pct)
        self.assertEqual(M.min_samples(99), 1000)
        self.assertEqual(M.min_samples(75), 40)


class OpenLoopLatency(unittest.TestCase):
    def test_latency_runs_from_due_time(self):
        # two episodes of table 7, due at 100 and 5000 ms after t0; the
        # generator stalled, so the first was only written at 600 ms and
        # dispatched at 650 ms: its latency is 550, not 50.
        t0 = 1_000_000.0
        samples, wrong, early = M.pair_dispatches(
            [(7, 100.0), (7, 5000.0)], [(7, t0 + 650), (7, t0 + 5200)], t0)
        self.assertEqual(samples, [(100.0, 550.0), (5000.0, 200.0)])
        self.assertEqual((wrong, early), (0, 0))

    def test_missing_and_extra_dispatches_count_as_failures(self):
        t0 = 0.0
        _, wrong, _ = M.pair_dispatches(
            [(1, 10.0), (1, 20.0), (2, 5.0)], [(1, 30.0), (3, 40.0)], t0)
        self.assertEqual(wrong, 3)  # table 1 short by one, 2 by one, 3 extra

    def test_dispatch_before_due_is_flagged(self):
        _, _, early = M.pair_dispatches([(1, 100.0)], [(1, 50.0)], 0.0)
        self.assertEqual(early, 1)

    def test_run_reports_generator_lateness_and_window(self):
        with tempfile.TemporaryDirectory() as d:
            with open(os.path.join(d, "episodes.tsv"), "w") as f:
                # (table, crossing due us, replace due us)
                f.write("1\t500000\t4000000\n1\t9000000\t12000000\n"
                        "2\t2500000\t5500000\n")
            res = {"t0_ms": 0.0, "trace_at_ms": 1e18, "checks": [],
                   "late_ms": [0.5] * 98 + [40.0, 80.0],
                   "dispatches": [[1, 700.0, 0.01], [2, 2900.0, 0.01],
                                  [1, 9300.0, 0.01]]}
            run.stream_samples(d, res, warmup_s=1, seconds=10)
        # the episode due at 0.5 s is warm-up; the others are measured
        self.assertEqual(res["samples_ms"], [400.0, 300.0])
        self.assertEqual(res["failed"], 0)
        self.assertEqual(res["layers"]["stream.generator_late_p99_ms"], 40.0)
        self.assertEqual(res["layers"]["stream.dispatch_ratio"], 1.0)


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_covered_children(self):
        spans = M.attach_spans([
            {"id": 1, "parent": 0, "layer": "graft.engine", "start": 0.0,
             "end": 100.0},
            {"id": 2, "parent": 0, "layer": "spark", "start": 10.0,
             "end": 40.0},
            {"id": 3, "parent": 0, "layer": "spark", "start": 30.0,
             "end": 50.0},
            {"id": 4, "parent": 0, "layer": "planning", "start": 5.0,
             "end": 9.0},
        ])
        self.assertEqual([s["parent"] for s in spans], [0, 1, 1, 1])
        selfs = M.self_times(spans)
        self.assertEqual(selfs["graft.engine"], 60.0)  # 100 - union(10..50)
        self.assertEqual(selfs["spark"], 50.0)
        self.assertNotIn("planning", selfs)

    def test_observed_spans_nest_by_containment(self):
        spans = M.attach_spans([
            {"id": 1, "parent": 0, "layer": "graft.stream", "start": 0.0,
             "end": 400.0},
            {"id": 2, "parent": 0, "layer": "graft.engine", "start": 390.0,
             "end": 390.5},
            {"id": 3, "parent": 0, "layer": "spark", "start": 100.0,
             "end": 300.0},
        ])
        self.assertEqual([s["parent"] for s in spans], [0, 1, 1])


if __name__ == "__main__":
    unittest.main()
