"""Statistics and span arithmetic for the graft benchmark (pure Python, so
the self-tests can pin them without a JVM)."""
import math
import statistics


def median(xs):
    return statistics.median(xs)


def tail(xs):
    """The highest whole percentile p with at least 10 samples beyond it,
    by nearest rank: returns (p, value, n). With 10 samples or fewer no
    percentile qualifies and the maximum is returned as p100."""
    s = sorted(xs)
    n = len(s)
    for p in range(99, 0, -1):
        rank = max(1, math.ceil(p / 100 * n))
        if n - rank >= 10:
            return p, s[rank - 1], n
    return 100, s[-1], n


def union_ms(intervals):
    """Total length covered by a list of (start, end) intervals."""
    covered, cur = 0.0, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur is None or s > cur[1]:
            if cur is not None:
                covered += cur[1] - cur[0]
            cur = [s, e]
        else:
            cur[1] = max(cur[1], e)
    if cur is not None:
        covered += cur[1] - cur[0]
    return covered


def self_ms(span, children):
    """A span's duration minus the part of its interval its children cover."""
    s, e = span["start_ms"], span["end_ms"]
    clipped = [(max(s, c["start_ms"]), min(e, c["end_ms"])) for c in children]
    return (e - s) - union_ms(clipped)


def self_ms_by_layer(spans):
    """Sum of self time per layer over a trace's spans."""
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        out[sp["layer"]] = out.get(sp["layer"], 0.0) + self_ms(sp, kids.get(sp["id"], []))
    return out


def failed_ops(ops, check_failed):
    """Operations that failed: those that raised, plus every execution of an
    operation whose output the correctness check rejected."""
    return [o for o in ops if o.get("error") or o["name"] in check_failed
            or o.get("group") in check_failed]


def trace_overhead(passes):
    """Median over traced passes of the traced pass time minus the mean of
    the untraced passes on either side. Comparing each traced pass with its
    neighbours cancels a steady drift over the run, such as JIT warm-up."""
    diffs = []
    for i, (traced, secs) in enumerate(passes):
        if traced:
            near = [s for j, (t, s) in enumerate(passes) if not t and abs(j - i) == 1]
            if near:
                diffs.append(secs - sum(near) / len(near))
    return median(diffs)
