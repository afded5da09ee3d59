"""The benchmark's own arithmetic: percentiles, interval unions, span self
time, freshness and run-to-run agreement. Pure functions over plain lists,
unit-tested in test_stats.py."""

import bisect
import math
import statistics

MIN_BEYOND = 10


class TooFewSamples(ValueError):
    pass


def percentile(values, p, min_beyond=MIN_BEYOND):
    """Nearest-rank p-quantile (0 < p < 1) of `values`.

    The ten-beyond rule: a percentile is only reported when at least
    `min_beyond` samples lie strictly beyond its rank, so p90 needs 100
    samples and p50 needs 20. Fewer raise TooFewSamples."""
    if not 0 < p < 1:
        raise ValueError("p must be in (0, 1)")
    xs = sorted(values)
    n = len(xs)
    rank = _rank(p, n)
    if n == 0 or n - rank < min_beyond:
        raise TooFewSamples("p%g of %d samples leaves %d beyond it, need %d"
                            % (p * 100, n, max(0, n - rank), min_beyond))
    return xs[rank - 1]


def _rank(p, n):
    """1-based nearest rank, ceil(p * n), robust to float error."""
    return max(1, math.ceil(p * n - 1e-9))


def min_samples(p, min_beyond=MIN_BEYOND):
    """Smallest sample count for which percentile(p) is defined."""
    n = 1
    while True:
        if n - _rank(p, n) >= min_beyond:
            return n
        n += 1


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time per layer from spans given as dicts with id, parent,
    layer, start and end. A span's self time is its length minus the part
    covered by its children; children that overlap each other (concurrent
    calls) are counted once, and a child running past its parent's end is
    clipped to the parent."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        own = (s["end"] - s["start"]) - union_length(kids, s["start"], s["end"])
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out


def thread_extents(spans):
    """Summed over the threads in `spans`, the time from the thread's first
    span start to its last span end: how long each client took part in the
    phase. The denominator of the share of client time the spans account
    for, where clients join the phase at different times."""
    ext = {}
    for s in spans:
        lo, hi = ext.get(s["thread"], (s["start"], s["end"]))
        ext[s["thread"]] = (min(lo, s["start"]), max(hi, s["end"]))
    return sum(hi - lo for lo, hi in ext.values())


def freshness(changes, visible):
    """Freshness of each change: from its due time until the first
    observation at which the base table and every derivative show a
    version at or past the commit that carried it.

    changes: (commit_version, due_ms) per change.
    visible: (t_ms, version) observations, where version is the lowest of
             the base head and every derivative watermark at time t_ms.
    Returns (freshness_ms list, count of changes never seen visible)."""
    obs = sorted(visible)
    times, best = [], []
    hi = float("-inf")
    for t, v in obs:
        hi = max(hi, v)
        times.append(t)
        best.append(hi)
    out, unseen = [], 0
    for version, due in changes:
        i = bisect.bisect_left(best, version)
        # the first observation at or after the due time that shows it
        j = max(i, bisect.bisect_left(times, due))
        if j >= len(times):
            unseen += 1
        else:
            out.append(times[j] - due)
    return out, unseen


def spread(values):
    """Inter-quartile range as a share of the median, with the quartiles
    of statistics.quantiles(values, n=4)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def agreement(first, second, specs):
    """Run-to-run agreement of two sets of runs of the same code.

    first/second: {metric: [value per run]}; specs: the end_to_end entries
    of BENCHMARK.json. A metric agrees when each set's spread is within its
    bound and the second median is not worse than the first by more than
    the bound. Returns {metric: (ok, detail)}."""
    out = {}
    for m in specs:
        name, bound = m["name"], m["bound"]
        a, b = first[name], second[name]
        sa, sb = spread(a), spread(b)
        ma, mb = statistics.median(a), statistics.median(b)
        worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
        ok = worse <= bound and sa <= bound and sb <= bound
        out[name] = (ok, "spread %.3f/%.3f median %.4g -> %.4g (%+.1f%% worse), bound %.2f"
                     % (sa, sb, ma, mb, 100 * worse, bound))
    return out
