"""Pure functions that turn a run's raw records into metrics.

Kept apart from run.py so the benchmark's own tests can exercise them
without a JVM: the tail-percentile rule, open-loop latency pairing, and
per-layer self time from spans.
"""
import math
import statistics

MIN_BEYOND = 10


class TooFewSamples(ValueError):
    pass


def min_samples(pct, min_beyond=MIN_BEYOND):
    """Fewest samples for which the nearest-rank `pct` percentile leaves
    at least `min_beyond` samples above it."""
    n = min_beyond
    while n - math.ceil(pct / 100 * n) < min_beyond:
        n += 1
    return n


def tail(values, pct, min_beyond=MIN_BEYOND):
    """Nearest-rank `pct` percentile and the number of samples beyond it.
    Refuses to report a tail that fewer than `min_beyond` samples lie
    beyond: with too few samples the "tail" is just the median."""
    n = len(values)
    rank = math.ceil(pct / 100 * n)
    beyond = n - rank
    if n == 0 or beyond < min_beyond:
        raise TooFewSamples(
            f"p{pct} of {n} samples leaves {max(beyond, 0)} beyond it; "
            f"need {min_beyond} (at least {min_samples(pct, min_beyond)} "
            "samples)")
    return sorted(values)[rank - 1], beyond


def nearest_rank(values, pct):
    xs = sorted(values)
    return xs[max(0, math.ceil(pct / 100 * len(xs)) - 1)] if xs else 0.0


def halves_p50(values):
    """Median of the first and of the second half of a run's samples, in
    order; a drifting workload shows as a gap between them."""
    h = len(values) // 2
    return statistics.median(values[:h]), statistics.median(values[h:])


def pair_dispatches(episodes, dispatches, t0_ms):
    """Open-loop latency: the k-th dispatch of a table answers its k-th
    episode, and is timed from when the episode's threshold-crossing
    append was *due* (t0 + due), not from when the generator got round to
    writing it, so a generator or stream stall counts against every
    commit it delayed.

    episodes: [(table, crossing_due_ms)]; dispatches: [(table, start_ms)].
    Returns (samples as [(due_ms, latency_ms)] sorted by due time,
    episodes not dispatched exactly once, dispatches before their due
    time)."""
    eps, dis = {}, {}
    for t, due in episodes:
        eps.setdefault(t, []).append(due)
    for t, start in dispatches:
        dis.setdefault(t, []).append(start)
    wrong, early, samples = 0, 0, []
    for t in set(eps) | set(dis):
        e, d = sorted(eps.get(t, [])), sorted(dis.get(t, []))
        if len(e) != len(d):
            wrong += abs(len(e) - len(d))
            continue
        for due, start in zip(e, d):
            lat = start - (t0_ms + due)
            early += lat < 0
            samples.append((due, lat))
    return sorted(samples), wrong, early


def _union(intervals):
    total, end = 0.0, -math.inf
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def union_within(host, spans):
    """Time within `host` covered by at least one of `spans`."""
    return _union((max(s["start"], host["start"]), min(s["end"], host["end"]))
                  for s in spans
                  if s["end"] > host["start"] and s["start"] < host["end"])


def attach_spans(spans):
    """Give every parentless span the innermost harness span that contains
    its start (a Spark job, a planning record, or an observed interval such
    as a dispatch inside a micro-batch). Harness spans nest by containment
    too; jobs and planning records never parent anything.

    spans: dicts with id, parent, layer, start, end. Returns them with
    `parent` filled where a container exists."""
    leaf = {"spark", "planning"}
    hosts = sorted((s for s in spans if s["layer"] not in leaf),
                   key=lambda s: (s["start"], -s["end"]))
    for s in spans:
        if s["parent"]:
            continue
        best = None
        for h in hosts:
            if h is s or h["start"] > s["start"]:
                continue
            if h["end"] >= s["end"] or (s["layer"] in leaf
                                        and h["end"] >= s["start"]):
                if best is None or h["start"] >= best["start"]:
                    best = h
        s["parent"] = best["id"] if best else 0
    return spans


def self_times(spans):
    """Per layer, the sum over its spans of duration minus the part of that
    interval its children cover. Planning records are not time-consuming
    spans of their own (their time is driver time inside the parent)."""
    kids = {}
    for s in spans:
        if s["parent"] and s["layer"] != "planning":
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        if s["layer"] == "planning":
            continue
        cover = union_within(s, kids.get(s["id"], []))
        out[s["layer"]] = out.get(s["layer"], 0.0) + \
            (s["end"] - s["start"]) - cover
    return out
