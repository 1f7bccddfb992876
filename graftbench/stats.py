"""Statistics the benchmark reports, kept apart so they can be tested.

All times are in the unit they are given in; nothing here reads a clock.
"""
import math

# percentiles a tail may be reported at, highest last
TAIL_LADDER = (0.5, 0.75, 0.9, 0.95, 0.99, 0.999)


def percentile(values, q):
    """Linear-interpolated quantile q (0..1) of values (numpy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_quantile(n, ladder=TAIL_LADDER, beyond=10):
    """The highest percentile of the ladder with at least `beyond` of n
    samples above it, or None when not even the median has that many."""
    ok = [q for q in ladder if n * (1.0 - q) >= beyond - 1e-9]
    return max(ok) if ok else None


def tail(values, beyond=10):
    """(quantile, value) of the highest percentile the sample count
    supports, or (None, None)."""
    q = tail_quantile(len(values), beyond=beyond)
    return (q, percentile(values, q)) if q is not None else (None, None)


def due_latencies(records):
    """Open-loop latency: each request timed from when it was due, so a
    stall also charges the requests queued behind it."""
    return [r["end_ms"] - r["due_ms"] for r in records]


def lateness(records):
    """How late the generator dispatched each request after its due time."""
    return [r["dispatch_ms"] - r["due_ms"] for r in records]


def _covered(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Per span id: its duration minus the part of its interval covered by
    its child spans (children clipped to the parent's interval)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ns"], s["end_ns"]
        kids = [(max(a, c["start_ns"]), min(b, c["end_ns"]))
                for c in children.get(s["id"], [])]
        out[s["id"]] = (b - a) - _covered([k for k in kids if k[1] > k[0]])
    return out


def span_summary(spans):
    """{name: (count, mean duration ns, mean self time ns)}."""
    selfs = self_times(spans)
    acc = {}
    for s in spans:
        n, d, st = acc.get(s["name"], (0, 0, 0))
        acc[s["name"]] = (n + 1, d + s["end_ns"] - s["start_ns"], st + selfs[s["id"]])
    return {k: (n, d / n, st / n) for k, (n, d, st) in acc.items()}


def geomean(values):
    """Geometric mean; 0.0 for no values or when any value is 0 or less
    (a failed run still gets a figure to print)."""
    xs = list(values)
    if not xs or min(xs) <= 0:
        return 0.0
    return math.exp(sum(math.log(v) for v in xs) / len(xs))

