"""The benchmark's arithmetic: percentiles, geomean, sample selection,
interval unions and span attribution. Kept free of I/O so
`perfbench/tests` can pin it down."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def geomean(xs):
    xs = list(xs)
    if not xs or any(x <= 0 for x in xs):
        return float("nan")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail_percentile(xs, q, min_beyond=10):
    """The q-th percentile (nearest rank), lowered until at least
    `min_beyond` samples lie above it. Returns (value, q used, n); the
    value is NaN when there are not `min_beyond` + 1 samples."""
    s = sorted(xs)
    n = len(s)
    if n <= min_beyond:
        return float("nan"), 0.0, n
    q_used = min(q, (n - min_beyond) / n)
    rank = max(1, math.floor(q_used * n))     # samples at or below
    return s[rank - 1], q_used, n


def ok_walls(samples):
    """Per-name wall times of the successful samples only: a failed
    sample is counted as failed and never becomes a timing."""
    out = {}
    for s in samples:
        if s["ok"]:
            out.setdefault(s["query"], []).append(s["wall_ms"])
    return out


def count_failed(samples):
    return sum(1 for s in samples if not s["ok"])


def union_length(intervals):
    """Total length covered by possibly overlapping [start, end) pairs."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_time(span, children):
    """Span duration minus the union of its children's intervals (which
    may overlap), each clipped to the span."""
    kids = clip([(c["start"], c["end"]) for c in children], span["start"], span["end"])
    return (span["end"] - span["start"]) - union_length(kids)


def children_of(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def group_spans(spans):
    """Job group → the span that set it before its calls."""
    return {s["group"]: s["id"] for s in spans if s.get("group")}


def attach_jobs(spans, jobs):
    """Span id → Spark jobs under it. A job goes to the span of its job
    group; if the job starts after that span ended (a streaming query's
    thread keeps the group set when the query started), up to the
    nearest ancestor that holds the job's start; then down to the
    deepest child span whose interval holds it. Jobs with no known group are
    returned under key None."""
    gs = group_spans(spans)
    by_id = {s["id"]: s for s in spans}
    kids = children_of(spans)

    def holds(sid, t):
        return by_id[sid]["start"] <= t <= by_id[sid]["end"]

    out = {}
    for j in jobs:
        sid = gs.get(j.get("group"))
        if sid is not None:
            while j["start"] > by_id[sid]["end"] and by_id[sid]["parent"] in by_id:
                sid = by_id[sid]["parent"]
            moved = True
            while moved:
                moved = False
                for c in kids.get(sid, []):
                    if holds(c["id"], j["start"]):
                        sid, moved = c["id"], True
                        break
        out.setdefault(sid, []).append(j)
    return out

