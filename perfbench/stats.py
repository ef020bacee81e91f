"""Statistics the benchmark reports, kept apart so test_stats.py can pin them."""
import math
import statistics


def median(xs):
    """Median of `xs`; a failed sample is +inf, so failures never read as fast."""
    return statistics.median(xs)


def _betacf(a, b, x):
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for num in (m * (b - m) * x / ((a - 1.0 + 2 * m) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 1.0 + 2 * m))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return h


def beta_cdf(x, a, b):
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def quantile(xs, q):
    """Harrell-Davis estimate of the q-quantile: a Beta-weighted mean of all
    order statistics. Unlike one order statistic it does not jump when a
    sample crosses a gap in a small, lumpy sample. A +inf sample (a failure)
    makes every estimate +inf."""
    s = sorted(xs)
    n = len(s)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    cdf = [beta_cdf(i / n, a, b) for i in range(n + 1)]
    return sum((hi - lo) * x for lo, hi, x in zip(cdf, cdf[1:], s) if hi > lo)


def tail_percentile(xs, q=0.95, beyond=10):
    """Estimate at the highest percentile, at most `q`, whose nearest-rank
    value has at least `beyond` samples above it.

    Returns (value, percentile, n). When that percentile would fall below
    the median (fewer than 20 samples), no tail is supported and the median
    is returned at percentile 0.5; the caller states the count.
    """
    n = len(xs)
    i = min(math.ceil(q * n) - 1, n - 1 - beyond)
    pct = (i + 1) / n if (i + 1) / n >= 0.5 else 0.5
    return quantile(xs, pct), pct, n


def failed_ratio(failed, attempted):
    """(failed / attempted, attempted): a ratio is reported with its base."""
    if attempted <= 0:
        raise ValueError("nothing attempted")
    return failed / attempted, attempted


def latencies(ops):
    """Per-operation seconds, with every failed operation as +inf."""
    return [math.inf if op["failed"] else op["seconds"] for op in ops]


def covered(intervals, lo, hi):
    """Length of the union of `intervals` (start, end) clipped to [lo, hi]."""
    total, reach = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_times(spans):
    """Span id -> its duration minus the part its children cover.

    `spans` are dicts with id, parent, start and end; a child is any span
    whose parent is the span's id.
    """
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}
