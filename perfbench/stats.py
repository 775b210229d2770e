"""Statistics shared by the benchmark and its comparator."""
import math
import statistics

TAIL_CANDIDATES = (99, 95, 90, 75)
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile (p in 0..100) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_percentile(values, candidates=TAIL_CANDIDATES, min_beyond=MIN_BEYOND):
    """The highest candidate percentile with at least `min_beyond`
    samples above its rank, as (p, value); None when no candidate has
    enough samples beyond it."""
    n = len(values)
    for p in sorted(candidates, reverse=True):
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= min_beyond:
            return p, percentile(values, p)
    return None


def quartile_spread(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def pair_wins(parent, change, better="lower"):
    """Count the pairs (parent[i], change[i]) the change wins, loses and
    ties. Pairs are formed in run order; extra runs on one side are
    ignored."""
    wins = losses = ties = 0
    for a, b in zip(parent, change):
        if a == b:
            ties += 1
        elif (b < a) == (better == "lower"):
            wins += 1
        else:
            losses += 1
    return wins, losses, ties


def verdict(parent, change, better, bound):
    """Judge one workload x metric by the benchmark's rule.

    - "gain": the change wins at least nine tenths of all pairs (ties
      count for neither side) and the medians differ by more than the
      parent's quartile spread;
    - "regression": the change's median is worse than the parent's by
      more than `bound` (a share of the parent median), unless every
      change run beats every parent run;
    - "unresolved": the parent's own spread is wider than the bound and
      the medians are not separated;
    - otherwise "same".
    """
    pq1, pmed, pq3 = quartile_spread(parent)
    _, cmed, _ = quartile_spread(change)
    wins, _, _ = pair_wins(parent, change, better)
    pairs = min(len(parent), len(change))
    spread = pq3 - pq1
    improved = (cmed < pmed) if better == "lower" else (cmed > pmed)
    worse_by = (cmed - pmed) if better == "lower" else (pmed - cmed)
    all_better = (max(change) < min(parent)) if better == "lower" else (min(change) > max(parent))
    if pairs and wins >= 0.9 * pairs and improved and abs(cmed - pmed) > spread:
        return "gain"
    if pmed and worse_by > bound * abs(pmed) and not all_better:
        return "regression"
    if pmed and spread > bound * abs(pmed) and not all_better:
        return "unresolved"
    return "same"
