"""Statistics the benchmark reports; kept apart so they can be tested."""

import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(xs, beyond=10):
    """The highest whole percentile p whose nearest-rank value still has at
    least ``beyond`` samples strictly after it in sorted order.

    Returns (p, value, n), or None when there are not more than ``beyond``
    samples. With n samples, the p-th nearest-rank percentile is the
    ceil(p*n/100)-th smallest, which leaves n - ceil(p*n/100) samples
    beyond it; p = floor(100*(n - beyond)/n) is the largest p for which
    that is at least ``beyond``.
    """
    n = len(xs)
    if n <= beyond:
        return None
    s = sorted(xs)
    p = (100 * (n - beyond)) // n
    rank = max(1, math.ceil(p * n / 100))
    return p, s[rank - 1], n


def quarters(durations):
    """(early, late): the first and the last quarter of a sequence in
    arrival order, each at least one element long."""
    k = max(1, len(durations) // 4)
    return list(durations[:k]), list(durations[-k:])


def late_and_growth(durations):
    """(median of the last quarter, last-quarter median / first-quarter
    median) of micro-batch durations in arrival order."""
    early, late = quarters(durations)
    late_med = median(late)
    early_med = median(early)
    return late_med, (late_med / early_med if early_med > 0 else 0.0)


def warm_hit_frac(ops):
    """Share of warm requests (pass > 1) that triggered no pool build."""
    warm = [o for o in ops if o["pass"] > 1]
    if not warm:
        return 0.0
    return sum(1 for o in warm if o["builds"] == 0) / len(warm)
