"""Order statistics that carry their sample count."""

import math
import statistics


def percentile(values, q):
    """Nearest-rank q-th percentile (0 < q <= 100) of `values`.

    Returns (value, n): n is the number of samples it was taken over,
    so a high percentile of few samples shows as such. An empty input
    gives (None, 0).
    """
    if not 0 < q <= 100:
        raise ValueError("q must be in (0, 100]")
    xs = sorted(values)
    if not xs:
        return None, 0
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1], len(xs)


def median(values):
    """Median by linear interpolation between the middle samples."""
    xs = sorted(values)
    if not xs:
        return None
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def rel_se_median(values):
    """Rough standard error of the median, as a share of the median:
    1.2533 * sigma / sqrt(n) with sigma estimated as IQR / 1.349, the
    normal approximation. Needs two samples or more."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return 1.2533 * (q3 - q1) / 1.349 / (median(values) * math.sqrt(len(values)))
