"""Summary arithmetic shared by the runner and its tests."""

import statistics

TAIL_MIN_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(latencies):
    """Latency at the highest percentile that has at least ten ops beyond
    it: with n sorted latencies that is the (n-10)-th value, at
    percentile 100*(n-10)/n. Returns (value, percentile, ops beyond).
    With ten ops or fewer no such percentile exists; the maximum is
    reported at percentile 100 with zero ops beyond it."""
    xs = sorted(latencies)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    rank = n - TAIL_MIN_BEYOND
    if rank < 1:
        return xs[-1], 100.0, 0
    return xs[rank - 1], 100.0 * rank / n, n - rank


def covered(intervals):
    """Total length of the union of [start, end) intervals."""
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
    """Self time of every span: its duration minus the part of its
    interval that its child spans cover. `spans` is a list of dicts
    with id, parent (None for a root), start and end."""
    children = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], [])]
        out[s["id"]] = (s["end"] - s["start"]) - covered(
            [k for k in kids if k[1] > k[0]])
    return out

