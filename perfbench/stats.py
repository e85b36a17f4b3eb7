"""Order statistics the benchmark reports and the rules it applies to them."""
import math
import statistics

# A percentile is reported only when at least this many samples lie
# beyond it (p90 needs 100 samples).
MIN_BEYOND = 10


def supported(n, q, beyond=MIN_BEYOND):
    """Whether a sample of n supports the q-quantile (0 < q < 1)."""
    return n * (1.0 - q) >= beyond - 1e-9


def percentile(values, q):
    """q-quantile of values, interpolated linearly between order
    statistics (numpy's default; the p50 of an even sample is the mean of
    the middle two). Interpolation keeps a small sample's percentile from
    jumping between the clusters of a multi-shape mix."""
    s = sorted(values)
    if not s:
        raise ValueError("empty sample")
    h = (len(s) - 1) * q
    lo = math.floor(h)
    return s[lo] + (h - lo) * (s[min(lo + 1, len(s) - 1)] - s[lo])


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def iqr_share(values):
    """Interquartile range as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / abs(q2) if q2 else math.inf


def pair_gain(parent, change, lower_is_better=True):
    """The pair rule for claiming a gain: runs are paired in order; the
    change must win at least nine tenths of the pairs (ties count for
    neither side) and the medians must differ, in the change's favour, by
    more than the parent's own interquartile range."""
    if len(parent) != len(change) or len(parent) < 10:
        raise ValueError("need at least ten pairs")
    sign = 1 if lower_is_better else -1
    wins = sum(1 for a, b in zip(parent, change) if sign * (a - b) > 0)
    q1, _, q3 = quartiles(parent)
    gap = sign * (statistics.median(parent) - statistics.median(change))
    return wins >= 0.9 * len(parent) and gap > (q3 - q1)
