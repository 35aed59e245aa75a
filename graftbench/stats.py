"""Statistics the benchmark reports, kept apart from the runner so that
`test_stats.py` can check them on hand-made inputs.

A latency sample is the wall time of one call that succeeded and gave the
right answer. A failed call never adds a sample: a call that fails fast
would otherwise pull the percentiles down and pass for a speed-up.
"""
import math

# A percentile is reported only with at least this many samples beyond it.
MIN_BEYOND = 10
STANDARD_PERCENTILES = (50.0, 90.0, 99.0, 99.9)


def percentile(xs, p):
    """The p-th percentile (0..100) of xs, interpolated linearly between
    closest ranks (the default of numpy and of `statistics.quantiles`
    with method='inclusive')."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    pos = (len(s) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def samples_beyond(n, p):
    """How many of n samples lie above the p-th percentile."""
    return n * (100.0 - p) / 100.0


def tail_percentile(n):
    """The highest standard percentile that has at least MIN_BEYOND of n
    samples beyond it, or None when even the median has fewer."""
    ok = [p for p in STANDARD_PERCENTILES if samples_beyond(n, p) >= MIN_BEYOND - 1e-9]
    return max(ok) if ok else None


def geomean(xs):
    xs = list(xs)
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def latency_samples(calls):
    """{op type: [ms, ...]} over the calls that succeeded."""
    out = {}
    for c in calls:
        if c["ok"]:
            out.setdefault(c["t"], []).append(c["ms"])
    return out


def class_percentile(calls, cls, p, need_tail=False):
    """Geomean over the op types of class `cls` of each type's p-th
    percentile, with the sample count of every type.

    With need_tail, the value is None unless every type has at least
    MIN_BEYOND samples beyond p (the rule for tails such as p90). A class
    with no successful call has no value either.
    """
    types = sorted({c["t"] for c in calls if c["c"] == cls})
    samples = latency_samples(c for c in calls if c["c"] == cls)
    counts = {t: len(samples.get(t, [])) for t in types}
    if not types or any(n == 0 for n in counts.values()):
        return None, counts
    if need_tail and any(samples_beyond(n, p) < MIN_BEYOND - 1e-9 for n in counts.values()):
        return None, counts
    return geomean(percentile(samples[t], p) for t in types), counts


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the intervals [(start, end), ...], each
    first clipped to [lo, hi] when those are given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0.0
    cur_s = cur_e = None
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


def driver_ms(call):
    """Driver-side time of one traced call: its wall time minus the part of
    it covered by at least one Spark job (DataFrame construction, planning,
    manifest and footer reads on the driver)."""
    busy = union_length(call.get("jobs_iv", []), call["s"], call["e"])
    return max(0.0, call["ms"] - busy)


def halves_agree(half_s, half_calls, tolerance):
    """(ok, [ops/s of each half]): the two halves of the timed phase agree
    when their rates differ by at most `tolerance` of their mean."""
    rates = [n / s for n, s in zip(half_calls, half_s)]
    mean = sum(rates) / 2
    return abs(rates[0] - rates[1]) <= tolerance * mean, rates
