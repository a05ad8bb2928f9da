"""Layer ledger: self times from the spans of a traced run.

Each operation (a request, a query) is one tree of spans: the op itself,
then queue / build / execute, then the Catalyst phases and the Spark jobs
that fall inside them, then the stages of each job.  Every instant of the
op's wall time is charged to exactly one span: the deepest one open at
that instant (the later-started one on a tie).  A span's self time is what
it was charged, so the self times of one op add up to its wall time by
construction: queue, build and execute tile the op from its due time to
its last row.
"""

DEPTH = {"op": 0, "queue": 1, "build": 1, "execute": 1, "analysis": 2,
         "optimization": 2, "planning": 2, "job": 2, "stage": 3}


def self_times(spans, start, end):
    """{kind: ms} for spans (kind, start, end) clipped to [start, end]."""
    spans = [(k, max(s, start), min(e, end)) for k, s, e in spans]
    spans = [x for x in spans if x[2] > x[1]] + [("op", start, end)]
    cuts = sorted({t for _, s, e in spans for t in (s, e)})
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        open_ = [x for x in spans if x[1] <= a and x[2] >= b]
        k = max(open_, key=lambda x: (DEPTH[x[0]], x[1]))[0]
        out[k] = out.get(k, 0.0) + (b - a)
    return out


def union_ms(intervals, start, end):
    """Length of the union of intervals clipped to [start, end]."""
    iv = sorted((max(s, start), min(e, end)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def op_ledger(op, spans, tasks):
    """Ledger of one op record from its spans and tasks: self times,
    builder time and jobs, Catalyst phase times, and the execution time no
    task was running."""
    start, built, end, due = op["start"], op["built"], op["end"], op["due"]
    tree = [(s["kind"], s["start"], s["end"]) for s in spans
            if s["kind"] != "op"]
    st = self_times(tree, due, end)
    busy = union_ms([(t["start"], t["end"]) for t in tasks], built, end)
    return {
        "self": st,
        "build_ms": built - start,
        "build_jobs": sum(1 for s in spans
                          if s["kind"] == "job" and s["start"] < built),
        "phases": {s["kind"]: s["end"] - s["start"] for s in spans
                   if s["kind"] in ("analysis", "optimization", "planning")},
        "driver_gap_ms": (end - built) - busy,
    }
