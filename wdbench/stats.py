"""Summary statistics the benchmark reports: median, the tail latency,
and per-layer self time taken by difference."""


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2


def tail(samples, beyond=10):
    """Latency at the highest percentile that still has at least
    `beyond` samples above it, as (value, percentile, sample count).

    With n samples, the sample at sorted position k = n - beyond
    (1-based) has exactly `beyond` samples above it; its percentile is
    100 * k / n. With 2 * beyond + 1 samples or fewer that position
    falls at or below the median, so no percentile both keeps `beyond`
    samples above it and lies above the median; the slowest sample is
    used instead (percentile 100).
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    k = n - beyond if 2 * (n - beyond) > n + 1 else n
    return xs[k - 1], 100.0 * k / n, n


def self_times(durations, chain):
    """Self time of each layer of a cumulative chain, by difference.

    `chain` names spans in order, each of which re-runs all the work of
    the one before it plus one more layer (the ETL forces read, then
    read + normalize, then the full load). A layer's self time is its
    span's duration minus the previous span's. `durations` maps span
    name -> seconds; names missing from it are skipped.
    """
    out = {}
    prev = 0.0
    for name in chain:
        if name not in durations:
            continue
        out[name] = durations[name] - prev
        prev = durations[name]
    return out
