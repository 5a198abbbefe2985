"""Statistics the benchmark reports: percentiles that the sample supports,
median and quartiles, and open-loop latencies counted from due times."""
import statistics

# A reported percentile must leave at least this many samples above it.
MIN_BEYOND = 10


def percentile(values, p):
    """The p-th percentile (0..100) by linear interpolation between the
    closest ranks of the sorted sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(n, p):
    """How many of n samples lie strictly above the p-th percentile's rank."""
    return n - 1 - int((n - 1) * p / 100.0)


def supported(n, p):
    return beyond(n, p) >= MIN_BEYOND


def tail_percentile(n, candidates=(99, 95, 90, 75, 50)):
    """The highest candidate percentile that keeps at least MIN_BEYOND of
    n samples beyond it, or None when even the lowest does not."""
    for p in sorted(candidates, reverse=True):
        if supported(n, p):
            return p
    return None


def median(values):
    return statistics.median(values)


def quartiles(values):
    """First quartile, median, third quartile, as statistics.quantiles."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Distance between the quartiles as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


def open_loop(due, sent, done):
    """Open-loop latencies in the units given.

    Each item was due at due[i], actually sent at sent[i] (the generator may
    run late) and done at done[i].  Latency counts from the due time, so a
    late generator's delay is charged to the system rather than hidden;
    lateness is reported separately to show whether the run was valid."""
    latency = [d - t for t, d in zip(due, done)]
    lateness = [max(0, s - t) for t, s in zip(due, sent)]
    return latency, lateness


def backlog(sent, done_at, commit_times):
    """Largest number of items published but not yet committed, sampled
    at each commit instant."""
    worst = 0
    for c in commit_times:
        published = sum(1 for s in sent if s <= c)
        committed = sum(1 for d in done_at if 0 <= d <= c)
        worst = max(worst, published - committed)
    return worst
