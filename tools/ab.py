#!/usr/bin/env python3
"""Paired A/B of the benchmark: a base revision against the working tree.

    python3 tools/ab.py --base REV --workload W --pairs N --seed0 S

Run from the repository root. REV is exported with `git archive` into a
temporary directory (under --workdir), so the repository's .git gains no
worktree entry; the directory is removed on exit. Pair i runs
`perfbench/run.py --workload W --seed S+i --trace 0` (the command and
`run_seconds` from BENCHMARK.json) once in the base tree and once in the
working tree, alternating which side runs first. Each run's last stdout
line is its JSON record.

For every end-to-end metric in BENCHMARK.json it prints both medians, the
base's quartiles, the ratio head/base and how many pairs the head won. A
metric is flagged "unresolved" when the medians are closer than the base's
interquartile range: the pairs cannot tell the trees apart. Beside the
ratio it prints a 95% percentile-bootstrap interval `lo..hi` of that ratio:
the pairs are resampled with replacement (2,000 resamples, fixed seed, so
one set of runs always prints one interval) and the ratio of medians taken
on each resample.

Before each run it times a fixed single-thread CPU loop five times and
keeps the fastest time with the run (the calibration): one preemption
during a timing then does not move it. It prints each side's median
calibration and flags a pair "noisy" when its two calibrations differ by
more than 10%: the host ran at a different speed for the two sides of that
pair, so the pair's difference is partly the host's. Flagged pairs are
still counted.
"""
import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_TIMEOUT_S = 900
BOOT_RESAMPLES = 2000
BOOT_SEED = 8
CALIB_N = 400_000
CALIB_REPS = 5
NOISY = 0.10


def export(rev, workdir):
    """Write the tree of `rev` into a fresh directory and return its path."""
    d = tempfile.mkdtemp(prefix="ab-base-", dir=workdir)
    archive = subprocess.run(["git", "-C", ROOT, "archive", rev],
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", d], input=archive, check=True)
    return d


def run(tree, cmd, workload, seed, seconds):
    """One benchmark run in `tree`; its last stdout line as a dict."""
    p = subprocess.run(cmd + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(seconds), "--trace", "0"],
                       cwd=tree, capture_output=True, text=True,
                       timeout=RUN_TIMEOUT_S)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"ab: run failed in {tree} (seed {seed}, exit "
                 f"{p.returncode}):\n{p.stderr[-2000:]}")
    return json.loads(lines[-1])


def calibrate(n=CALIB_N, reps=CALIB_REPS, timer=time.perf_counter):
    """Seconds this process takes for a fixed single-thread integer loop of
    `n` steps (~0.04 s at the default): the minimum of `reps` timings."""
    def once():
        t0 = timer()
        x = 0
        for i in range(n):
            x = (x * 31 + i) & 0xFFFFFFFF
        return timer() - t0
    return min(once() for _ in range(reps))


def noisy(calib_a, calib_b, tolerance=NOISY):
    """True when two calibrations differ by more than `tolerance` of the
    faster one."""
    lo, hi = sorted((calib_a, calib_b))
    return hi > lo * (1 + tolerance)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def bootstrap_ratio(base, head, resamples=BOOT_RESAMPLES, seed=BOOT_SEED,
                    level=0.95):
    """Percentile-bootstrap interval of median(head) / median(base).

    `base[i]` and `head[i]` are pair i; each resample draws len(base) pairs
    with replacement. Resamples whose base median is 0 are skipped; with
    none left the interval is (nan, nan)."""
    rnd = random.Random(seed)
    n = len(base)
    ratios = []
    for _ in range(resamples):
        idx = [rnd.randrange(n) for _ in range(n)]
        bm = statistics.median(base[i] for i in idx)
        if bm:
            ratios.append(statistics.median(head[i] for i in idx) / bm)
    if not ratios:
        return float("nan"), float("nan")
    ratios.sort()
    tail = (1 - level) / 2
    lo = ratios[int(tail * len(ratios))]
    hi = ratios[min(len(ratios) - 1, int((1 - tail) * len(ratios)))]
    return lo, hi


def report(spec, base, head):
    n = len(base)
    for side, runs in (("base", base), ("head", head)):
        bad = sum(not r["correct"] for r in runs)
        failed = sum(r["failed"] for r in runs)
        attempted = sum(r["attempted"] for r in runs)
        calib = statistics.median(r["calib_s"] for r in runs)
        print(f"{side}: {n - bad}/{n} runs correct, "
              f"{failed}/{attempted} operations failed, "
              f"median calibration {calib:.3f} s")
    flagged = [i + 1 for i, (b, h) in enumerate(zip(base, head))
               if noisy(b["calib_s"], h["calib_s"])]
    print(f"noisy pairs (calibrations >{NOISY:.0%} apart): {len(flagged)}/{n}"
          + (f" (pair {', '.join(map(str, flagged))})" if flagged else ""))
    print(f"{'metric':<24}{'base p50':>11}{'head p50':>11}"
          f"{'base q1..q3':>22}{'ratio':>8}{'95% boot':>14}{'wins':>7}")
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        b = [r["metrics"][name]["value"] for r in base]
        h = [r["metrics"][name]["value"] for r in head]
        bm, hm = statistics.median(b), statistics.median(h)
        q1, q3 = quartiles(b)
        wins = sum((y < x) if lower else (y > x) for x, y in zip(b, h))
        ratio = hm / bm if bm else float("nan")
        lo, hi = bootstrap_ratio(b, h)
        flag = "  unresolved" if abs(hm - bm) < q3 - q1 else ""
        print(f"{name:<24}{bm:>11.2f}{hm:>11.2f}"
              f"{f'{q1:.2f}..{q3:.2f}':>22}{ratio:>8.3f}"
              f"{f'{lo:.3f}..{hi:.3f}':>14}{f'{wins}/{n}':>7}{flag}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True, help="git revision to compare")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--seed0", type=int, default=101)
    ap.add_argument("--workdir", default=tempfile.gettempdir(),
                    help="where the base tree is exported (default: TMPDIR)")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cmd, seconds = spec["command"], spec["run_seconds"]
    tree = export(a.base, a.workdir)
    base, head = [], []
    try:
        for i in range(a.pairs):
            seed = a.seed0 + i
            order = [("base", tree), ("head", ROOT)]
            if i % 2:
                order.reverse()
            for side, path in order:
                calib = calibrate()
                r = run(path, cmd, a.workload, seed, seconds)
                r["calib_s"] = calib
                (base if side == "base" else head).append(r)
                p50 = r["metrics"]["latency_p50_ms"]["value"]
                print(f"pair {i + 1} seed {seed} {side}: p50 {p50:.1f} ms, "
                      f"calibration {calib:.3f} s, correct {r['correct']}",
                      file=sys.stderr, flush=True)
    finally:
        shutil.rmtree(tree, ignore_errors=True)
    print(f"{a.workload}: base {a.base} vs working tree, {a.pairs} pairs, "
          f"seeds {a.seed0}..{a.seed0 + a.pairs - 1}")
    report(spec, base, head)


if __name__ == "__main__":
    main()
