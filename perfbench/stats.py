"""The benchmark's own arithmetic: percentiles, geometric mean, ratios."""
import math


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def tail_percentile(n):
    """The highest whole percentile with at least ten samples beyond it.

    With nearest-rank percentiles, percentile p of n samples is the sample
    of rank ceil(p * n / 100); at least ten samples lie beyond it when that
    rank is at most n - 10. Below 21 samples no percentile above the median
    qualifies, and the tail is the median (p50).
    """
    if n < 1:
        raise ValueError("tail of no samples")
    p = (100 * (n - 10)) // n if n > 10 else 0
    return max(p, 50)


def percentile(xs, p):
    """Nearest-rank percentile p (0 < p <= 100) of the samples."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    k = max(1, math.ceil(p * len(s) / 100))
    return s[k - 1]


def tail(xs):
    """(value, percentile) of the tail: see `tail_percentile`."""
    p = tail_percentile(len(xs))
    return (median(xs) if p == 50 else percentile(xs, p)), p


def geomean(xs):
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def failed_ratio(failed, attempted):
    if attempted < 1:
        raise ValueError("nothing attempted")
    return failed / attempted


def overhead(samples):
    """Tracing overhead from (kind, traced, ms) samples: the geometric mean,
    over the kinds timed both ways, of median traced / median untraced, less
    one. 0.0 when no kind was timed both ways."""
    by = {}
    for kind, traced, ms in samples:
        by.setdefault(kind, ([], []))[0 if traced else 1].append(ms)
    ratios = [median(t) / median(u) for t, u in by.values() if t and u]
    return geomean(ratios) - 1.0 if ratios else 0.0


def fixed_share(add_batch_ms, trigger_ms):
    """Share of trigger time spent outside the sink's addBatch phase:
    1 - sum(addBatch) / sum(triggerExecution) over the same triggers."""
    total = sum(trigger_ms)
    if total <= 0:
        raise ValueError("no trigger time")
    return 1.0 - sum(add_batch_ms) / total
