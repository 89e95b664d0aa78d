"""Summary statistics for the benchmark's op latencies.

The tail rule: report the highest percentile that still has at least
`MIN_BEYOND` samples strictly beyond it, so a tail figure always rests on
enough samples to repeat. With n samples sorted ascending that is the
sample at 0-based rank n - 1 - MIN_BEYOND, read as the percentile
100 * (n - MIN_BEYOND) / n.

The population guard: when ops come in kinds with different costs (a CDC
round with or without maintenance), a percentile read next to the rank
where one kind gives way to the other jumps between the two populations
from run to run. `population_ok` accepts a rank only when every sample
within `margin` ranks of it is of one kind.
"""

MIN_BEYOND = 10


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def tail_rank(n, min_beyond=MIN_BEYOND):
    """0-based rank of the tail sample, or None if n is too small."""
    if n < min_beyond + 1:
        return None
    return n - 1 - min_beyond


def tail(xs, min_beyond=MIN_BEYOND):
    """(value, percentile, samples beyond) of the tail rule."""
    s = sorted(xs)
    r = tail_rank(len(s), min_beyond)
    if r is None:
        raise ValueError(f"{len(s)} samples: the tail needs at least {min_beyond + 1}")
    return s[r], 100.0 * (r + 1) / len(s), len(s) - 1 - r


def population_ok(xs, kinds, rank, margin=2):
    """True when the samples within `margin` ranks of `rank` (in sorted
    order) are all of one kind; `kinds[i]` labels `xs[i]`."""
    if len(xs) != len(kinds):
        raise ValueError("one kind per sample")
    order = sorted(range(len(xs)), key=lambda i: (xs[i], i))
    lo, hi = max(0, rank - margin), min(len(xs) - 1, rank + margin)
    return len({kinds[order[j]] for j in range(lo, hi + 1)}) == 1


def quartile_spread(xs):
    """(q3 - q1) / median, with quartiles as statistics.quantiles gives them."""
    import statistics
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / median(xs)
