"""Pure statistics the benchmark, its compare tool and its trace summary
share: medians and quartiles, the tail percentile, span self time, and
the compare verdict rule."""
import statistics


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, q3) as `statistics.quantiles(xs, n=4)` gives them."""
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def spread(xs):
    """Distance between the quartiles as a share of the median."""
    q1, q3 = quartiles(xs)
    m = median(xs)
    return (q3 - q1) / abs(m) if m else float("inf")


def tail(xs, beyond=10):
    """The highest percentile that has at least `beyond` samples above it.

    Returns (value, percentile, n), or None when there are not enough
    samples. With the samples sorted, the value at 1-based rank n - beyond
    has exactly `beyond` samples after it; its percentile is that rank's
    share of n.
    """
    n = len(xs)
    if n <= beyond:
        return None
    k = n - beyond
    return sorted(xs)[k - 1], 100.0 * k / n, n


def self_times(spans):
    """Self time per span id: its duration minus the part of its interval
    that its direct children cover (overlapping children count once).

    `spans` is a list of dicts with id, parent, start_s and end_s.
    """
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_s"], s["end_s"]
        covered, end = 0.0, lo
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_s"]):
            a, b = max(c["start_s"], end), min(c["end_s"], hi)
            if b > a:
                covered += b - a
                end = b
        out[s["id"]] = (hi - lo) - covered
    return out


def verdict(parent, change, better, bound):
    """Classify a change against its parent for one metric.

    `parent` and `change` are the per-run values, paired by position;
    `better` is "lower" or "higher"; `bound` is the share of the parent's
    median by which the metric may worsen. The rule:

    - improved: the change wins at least nine tenths of the pairs (ties
      count for neither) and the medians differ by more than the
      distance between the parent's quartiles;
    - unresolved: the parent's spread exceeds the bound and not every
      change run is better than every parent run;
    - worse: the change's median is worse than the parent's by more than
      the bound;
    - no worse: otherwise.
    """
    sign = 1.0 if better == "lower" else -1.0
    pm, cm = median(parent), median(change)
    q1, q3 = quartiles(parent)
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (c - p) < 0)
    if (pairs and wins >= 0.9 * len(pairs) and sign * (cm - pm) < 0
            and abs(cm - pm) > q3 - q1):
        return "improved"
    all_better = (max(sign * c for c in change) < min(sign * p for p in parent))
    if spread(parent) > bound and not all_better:
        return "unresolved"
    if pm and sign * (cm - pm) / abs(pm) > bound:
        return "worse"
    return "no worse"
