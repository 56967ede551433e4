"""Summary statistics of latency samples."""

# samples that must lie beyond the reported tail percentile
TAIL_BEYOND = 10


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("no samples")
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def tail(xs):
    """(value, percentile) of the highest nearest-rank percentile with at
    least TAIL_BEYOND samples above it; the median (percentile 50) when
    that percentile would not be above the median."""
    s = sorted(xs)
    i = len(s) - TAIL_BEYOND - 1
    if i < 0 or (i + 1) / len(s) <= 0.5:
        return median(s), 50.0
    return s[i], 100.0 * (i + 1) / len(s)
