"""The benchmark's arithmetic: percentiles, the tail rule, span self time
and attribution of listener events to spans. Pure functions, tested by
test_stats.py."""
import bisect
import math

LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values, p):
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n, ladder=LADDER):
    """The highest ladder percentile with at least 10 of `n` samples
    beyond it, or None when even the median has fewer."""
    best = None
    for p in ladder:
        if n * (1.0 - p / 100.0) >= 10.0 - 1e-9:
            best = p
    return best


def covered(intervals):
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
    """{span id: duration minus the part of it its child spans cover}.
    Children may overlap each other; each is clipped to its parent."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        clipped = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                   for c in kids.get(s["id"], [])]
        clipped = [(a, b) for a, b in clipped if b > a]
        out[s["id"]] = (s["end"] - s["start"]) - covered(clipped)
    return out


def attribute(events, spans, next_starts=()):
    """{event index: span id}. An event belongs to the innermost span
    whose window holds its time `t`. An event after a root span ended
    (delivered late) belongs to that root if no other operation started
    in between; `next_starts` are the start times of every operation,
    traced or not. Other events are left out."""
    by_start = sorted(spans, key=lambda s: (s["start"], -s["end"]))
    roots = [s for s in by_start if s["parent"] == 0]
    root_starts = [s["start"] for s in roots]
    starts = sorted(next_starts)
    out = {}
    for i, ev in enumerate(events):
        t = ev["t"]
        best = None
        for s in by_start:
            if s["start"] > t:
                break
            if t <= s["end"] and (best is None or s["end"] - s["start"] <= best["end"] - best["start"]):
                best = s
        if best is None:
            k = bisect.bisect_right(root_starts, t) - 1
            if k < 0:
                continue
            j = bisect.bisect_right(starts, roots[k]["end"])
            if j < len(starts) and starts[j] <= t:
                continue
            best = roots[k]
        out[i] = best["id"]
    return out


def under(span_id, spans_by_id, name_prefixes):
    """True if the span or one of its ancestors has a name starting with
    any of `name_prefixes`."""
    s = spans_by_id.get(span_id)
    while s is not None:
        if s["name"].startswith(tuple(name_prefixes)):
            return True
        s = spans_by_id.get(s["parent"])
    return False


def gmean(values):
    vals = [v for v in values if v > 0]
    return math.exp(sum(math.log(v) for v in vals) / len(vals)) if vals else float("nan")
