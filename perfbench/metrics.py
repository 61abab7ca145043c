"""Metric arithmetic of the benchmark: percentiles, the tail percentile,
error rate, span self time and the quartile spread used to judge noise."""
import statistics


def percentile(values, q):
    """Linear-interpolated ``q``-quantile (0..1) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_quantile(n, beyond=10):
    """The highest quantile with at least ``beyond`` of ``n`` samples above
    it, never below the median: ``1 - beyond / n``, floored at 0.5."""
    if n <= 0:
        raise ValueError("tail of no samples")
    return max(0.5, 1.0 - beyond / n)


def tail(values, beyond=10):
    """``(value, percentile, samples_beyond)`` of the tail latency."""
    q = tail_quantile(len(values), beyond)
    return percentile(values, q), 100.0 * q, len(values) * (1.0 - q)


def error_rate(attempted, failed, wrong):
    """Operations that raised or returned a wrong result, per attempt."""
    if attempted <= 0:
        raise ValueError("no operations attempted")
    return (failed + wrong) / attempted


def _union_ms(intervals):
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans):
    """Self time of each span: its duration minus the union of its
    children's intervals, each clipped to the parent. Children may
    overlap (parallel stages), so the union, not the sum, is taken.
    ``spans`` are dicts with id, parent, startMs and endMs; returns
    ``{id: self_ms}``."""
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        if s["parent"] in by_id:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["startMs"], s["endMs"]
        clipped = [(max(lo, c["startMs"]), min(hi, c["endMs"]))
                   for c in kids.get(s["id"], [])]
        covered = _union_ms([(a, b) for a, b in clipped if b > a])
        out[s["id"]] = max(0.0, (hi - lo) - covered)
    return out


def layer_of(name):
    """The layer a span name belongs to."""
    if name.startswith("op:"):
        return "op"
    return {"queries.build": "queries", "exec.action": "action",
            "exec.job": "job", "exec.stage": "stage",
            "stream.trigger": "trigger"}.get(name, name.split(".")[0])


def quartile_spread(values):
    """Inter-quartile range as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
