"""The benchmark's arithmetic: percentiles, tails, self time, error
accounting and amplification ratios. Pure functions, unit-tested in
perfbench/tests."""
import math
import statistics

MISS = math.inf  # a failed call: it misses any latency limit
TAIL_MIN_BEYOND = 10
PERCENTILE_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def latencies(samples):
    """Durations of the samples, with a failed call as a miss (+inf),
    never as the (short) time it took to throw."""
    return [s["dur_s"] if s["ok"] else MISS for s in samples]


def percentile(values, p):
    """The p-th percentile, linearly interpolated between order statistics
    (the 50th is the median)."""
    v = sorted(values)
    pos = p / 100.0 * (len(v) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(v) - 1)
    if pos == lo or v[hi] == v[lo]:  # keeps a miss (inf) from becoming nan
        return v[lo]
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def tail(values):
    """(value, percentile, n): the highest ladder percentile that leaves at
    least TAIL_MIN_BEYOND samples beyond it. None when there are too few
    samples for even the median."""
    n = len(values)
    best = None
    for p in PERCENTILE_LADDER:
        if n - math.ceil(p / 100.0 * n) >= TAIL_MIN_BEYOND:
            best = p
    if best is None:
        return None
    return percentile(values, best), best, n


def median(values):
    return statistics.median(values) if values else None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of its interval its children
    cover (children are clipped to the span; overlaps count once)."""
    s0, s1 = span
    clipped = [(max(s0, c0), min(s1, c1)) for c0, c1 in children]
    return (s1 - s0) - union_length(clipped)


def error_accounting(samples):
    """(attempted, failed, error_rate, exception classes with counts)."""
    attempted = len(samples)
    failed = [s for s in samples if not s["ok"]]
    classes = {}
    for s in failed:
        classes[s.get("err", "?")] = classes.get(s.get("err", "?"), 0) + 1
    rate = len(failed) / attempted if attempted else 0.0
    return attempted, len(failed), rate, classes


def write_amp(created_bytes, plain_bytes):
    """Bytes the table created / bytes of the same batches as plain parquet."""
    return sum(created_bytes) / sum(plain_bytes)


def space_amp(live_bytes, model_plain_bytes):
    """Bytes under the table roots / plain-parquet bytes of the expected
    snapshot."""
    return sum(live_bytes) / sum(model_plain_bytes)


def quartile_spread(values):
    """(q3 - q1) / median, with quartiles as statistics.quantiles(n=4)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf
