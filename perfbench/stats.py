"""Pure helpers for turning raw call records and spans into metrics."""

import math
import statistics
from collections import defaultdict

# A tail percentile is reported only when at least this many samples lie
# beyond it (so p90 needs 100 samples and p75 needs 40).
TAIL_SAMPLES = 10


def min_samples(p):
    """Samples needed before percentile ``p`` (0-100) may be reported."""
    if p <= 50:
        return 1
    return math.ceil(TAIL_SAMPLES / (1 - p / 100) - 1e-9)


def percentile(values, p):
    """Linear-interpolated percentile ``p`` of ``values``.

    Raises ValueError when there are too few samples for ``p`` (see
    ``min_samples``): a tail figure from a handful of samples is noise.
    """
    n = len(values)
    if n < min_samples(p):
        raise ValueError(f"p{p} needs {min_samples(p)} samples, got {n}")
    xs = sorted(values)
    rank = (n - 1) * p / 100
    lo = math.floor(rank)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def closed_loop_rate(completions, start):
    """Completions per time unit of a closed loop: each client's count
    over the span from ``start`` to its last completion, summed over
    clients. ``completions`` holds (client, completion time) pairs;
    unlike count / window, this is not quantized by the window edge."""
    by_client = defaultdict(list)
    for client, t in completions:
        by_client[client].append(t)
    return sum(len(ts) / (max(ts) - start) for ts in by_client.values())


def spread(values):
    """Inter-quartile range as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def _covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, end), min(e, hi)
        if e > s:
            total += e - s
            end = e
    return total


def attach_orphans(spans):
    """Give each span with ``parent == -1`` (a Spark job seen by the
    listener) the innermost span of the same query that contains its
    start; returns new span dicts."""
    out = [dict(s) for s in spans]
    by_qid = defaultdict(list)
    for s in out:
        if s["parent"] != -1:
            by_qid[s["qid"]].append(s)
    for s in out:
        if s["parent"] == -1:
            holders = [h for h in by_qid[s["qid"]] if h["start"] <= s["start"] <= h["end"]]
            inner = min(holders, key=lambda h: h["end"] - h["start"], default=None)
            s["parent"] = inner["id"] if inner else 0
    return out


def self_times(spans):
    """Self time of every span: its duration minus the part of it that
    its children cover. Returns ``{span id: self time}``."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - _covered(children[s["id"]], s["start"], s["end"])
            for s in spans}


def rows_per_result(records_read, rows_returned):
    """Input records the scans read per row the calls returned: the
    useful-work ratio of pruning (1.0 would read only what is returned).
    A call that returns nothing counts as one row."""
    return sum(records_read) / sum(max(1, r) for r in rows_returned)
