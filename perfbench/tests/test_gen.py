"""Generator determinism and the stream schedule's invariants.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import re
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402

STREAM = dict(tables=300, gap_ms=3000, rate_events_per_s=100,
              noise_frac=0.1, zipf_s=0.8, append_spacing_ms=200, slice_ms=50)
COMPACT = dict(hot_tables=2, files_per_table=3, rows_per_file=50,
               background_tables=20)
DECIDE = dict(commits=2000, tables=50, zipf_s=0.8)


def digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            p = os.path.join(d, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def make(seed, tmp, tag):
    out = os.path.join(tmp, f"{tag}-{seed}")
    gen.stream_inputs(os.path.join(out, "s"), seed, STREAM, 12)
    gen.compaction_inputs(os.path.join(out, "c"), seed, COMPACT)
    gen.decision_events(os.path.join(out, "d"), seed, DECIDE)
    return digest(out)


class Determinism(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        with tempfile.TemporaryDirectory() as tmp:
            self.assertEqual(make(5, tmp, "a"), make(5, tmp, "b"))

    def test_other_seed_gives_other_inputs(self):
        with tempfile.TemporaryDirectory() as tmp:
            self.assertNotEqual(make(5, tmp, "a"), make(6, tmp, "a"))


class Threshold(unittest.TestCase):
    def test_generator_threshold_mirrors_the_program(self):
        # the harness also refuses to run on a mismatch; this catches it
        # without a JVM
        root = os.path.dirname(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))))
        model = os.path.join(root, "src/main/scala/graft/model/Model.scala")
        with open(model) as f:
            m = re.search(r"DefaultCommitThreshold\s*=\s*(\d+)", f.read())
        self.assertIsNotNone(m)
        self.assertEqual(int(m.group(1)), gen.COMMIT_THRESHOLD)


class StreamSchedule(unittest.TestCase):
    def test_configured_workload_can_be_scheduled(self):
        # the workload as run: its parameters over warm-up plus the
        # benchmark's window; a seed that cannot be scheduled fails a run
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(here, "workloads.json")) as f:
            w = json.load(f)["stream_steady"]
        with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
            seconds = json.load(f)["run_seconds"]
        for seed in range(1, 5):
            _, episodes = gen.stream_plan(
                seed, w["params"], w["warmup_s"] + seconds)
            self.assertGreater(len(episodes), 0)

    def test_episodes_are_separated_by_the_gap(self):
        (due, tab, op), episodes = gen.stream_plan(3, STREAM, 30)
        gap = STREAM["gap_ms"] * 1000
        self.assertTrue((due[1:] >= due[:-1]).all())
        by_table = {}
        for t, cross, replace in episodes:
            self.assertGreaterEqual(replace - cross, gap)
            by_table.setdefault(t, []).append((cross, replace))
        for eps in by_table.values():
            for (_, r), (c, _) in zip(eps, eps[1:]):
                self.assertGreaterEqual(c - r, gap)

    def test_offered_rate_is_exact_and_capacity_is_checked(self):
        (due, _, _), _ = gen.stream_plan(3, STREAM, 30)
        self.assertAlmostEqual(len(due) / 30, STREAM["rate_events_per_s"],
                               delta=STREAM["rate_events_per_s"] * 0.02)
        with self.assertRaises(ValueError):
            gen.stream_plan(3, dict(STREAM, rate_events_per_s=5000), 30)

    def test_each_episode_has_threshold_appends_before_its_crossing(self):
        (due, tab, op), episodes = gen.stream_plan(3, STREAM, 30)
        for t, cross, _ in episodes[:50]:
            mine = [(d, o) for d, x, o in zip(due, tab, op)
                    if x == t and o != 2 and d <= cross]
            # appends since the table's last replace
            since = 0
            for _, o in mine:
                since = 0 if o == 1 else since + 1
            self.assertEqual(since, gen.COMMIT_THRESHOLD)


if __name__ == "__main__":
    unittest.main()
