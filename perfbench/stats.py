"""Summary statistics and span arithmetic for the benchmark."""
from collections import defaultdict


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs, beyond=10):
    """The highest percentile that has at least ``beyond`` samples above it.

    Returns ``(value, percentile, n)``, or ``None`` when fewer than
    ``beyond + 1`` samples exist.  With the samples sorted ascending, the
    value at rank ``n - beyond`` (1-based) has exactly ``beyond`` samples
    after it, and it is the ``100 * (n - beyond) / n``-th percentile.
    """
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return None
    return s[n - beyond - 1], 100.0 * (n - beyond) / n, n


def covered(intervals):
    """Total length of the union of ``(start, end)`` intervals."""
    total, reach = 0.0, None
    for a, b in sorted(intervals):
        if reach is None or a > reach:
            total += b - a
            reach = b
        elif b > reach:
            total += b - reach
            reach = b
    return total


def self_times(spans):
    """Self time per span id: its duration minus the part of its interval
    that its child spans cover (children clipped to the parent)."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = {}
    for s in spans:
        a, b = s["start_ms"], s["end_ms"]
        kids = [(max(c["start_ms"], a), min(c["end_ms"], b)) for c in children[s["id"]]]
        out[s["id"]] = (b - a) - covered([k for k in kids if k[1] > k[0]])
    return out


def self_by_name(spans):
    """Per layer name: self time summed within each trace, then the median
    over traces, in seconds."""
    st = self_times(spans)
    per = defaultdict(lambda: defaultdict(float))
    for s in spans:
        per[s["name"]][s["trace"]] += st[s["id"]] / 1000.0
    return {name: median(list(t.values())) for name, t in per.items()}
