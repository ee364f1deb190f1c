"""Statistics and trace helpers of the benchmark (pure Python, unit-tested)."""
import math


def percentile(xs, q):
    """The q-th percentile (0-100) of xs by linear interpolation between
    closest ranks, as numpy's default method computes it."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(xs):
    return percentile(xs, 50)


def geomean(xs):
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
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
    """Self time of each span: its duration minus the part of its interval
    that its child spans cover. `spans` are dicts with id, parent, start_ns
    and end_ns; the result maps span id to self time in ns."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ns"], s["end_ns"]
        covered = union_length([(max(c["start_ns"], a), min(c["end_ns"], b))
                                for c in children.get(s["id"], [])
                                if min(c["end_ns"], b) > max(c["start_ns"], a)])
        out[s["id"]] = (b - a) - covered
    return out


def layer_self_ms(spans):
    """Self time per layer in ms; a span's layer is its name up to the
    first dot."""
    st = self_times(spans)
    out = {}
    for s in spans:
        layer = s["name"].split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + st[s["id"]] / 1e6
    return out
