"""Statistics and trace arithmetic of the benchmark harness."""
import math
import statistics


def percentile(values, q):
    """Nearest-rank percentile: the smallest value with at least q of the
    samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    rank = max(1, math.ceil(q * len(xs)))
    return xs[rank - 1]


def supported_quantile(n, want=0.95, beyond=10):
    """The highest quantile <= `want` with at least `beyond` of `n` samples
    above it, or None when n <= beyond."""
    if n <= beyond:
        return None
    return min(want, (n - beyond) / n)


def tail(values, want=0.95, beyond=10):
    """(value, quantile) of the highest supported percentile; the median
    (quantile 0.5) when too few samples support one above it."""
    q = supported_quantile(len(values), want, beyond)
    if q is None or q <= 0.5:
        return statistics.median(values), 0.5
    return percentile(values, q), q


def quartile_spread(values):
    """(q3 - q1) / median, with quartiles as statistics.quantiles(n=4)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def self_times(spans):
    """Self time of each span in ms: its duration minus the part of its
    interval that its children cover (children clipped to the parent and
    overlaps counted once). `spans` are dicts with id, parent, start_us,
    end_us."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        ivs = sorted((max(lo, c["start_us"]), min(hi, c["end_us"]))
                     for c in children.get(s["id"], []) if c is not s)
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo - covered) / 1000.0
    return out
