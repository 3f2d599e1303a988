"""An independent PromQL evaluator for the benchmark's panel templates.

It reads the same generated events as the engine and applies the
Prometheus rules directly with numpy: half-open windows (t - w, t],
the 5-minute staleness lookback, counter-aware extrapolated rate,
subquery points at multiples of the subquery step, and on(...)
vector matching. Results are {labels: value} per evaluation time,
where labels is a sorted tuple of (name, value) pairs without the
metric name.
"""

import re
from decimal import Decimal

import numpy as np

from workloads import LOOKBACK, cluster_of

UNITS = {"m": 60, "h": 3600, "d": 86400}


def seconds(w):
    return int(w[:-1]) * UNITS[w[-1]]


class Store:
    """Per-metric samples sorted by (series, time)."""

    def __init__(self, ev):
        self.memo = {}
        self.by_metric = {}
        for m in np.unique(ev["event_type"]):
            idx = np.flatnonzero(ev["event_type"] == m)
            user, k = ev["user_id"][idx], ev["k"][idx]
            sid = user * 1000 + k  # (user, k) identifies the series
            order = np.lexsort((ev["e"][idx], sid))
            sid, e, v = sid[order], ev["e"][idx][order], ev["value"][idx][order]
            labels = {}
            for s in np.unique(sid):
                u, kk = int(s // 1000), int(s % 1000)
                labels[int(s)] = (("cluster_name", cluster_of(u)),
                                  ("k", str(kk)), ("user", str(u)))
            self.by_metric[str(m)] = (sid, e, v, labels)

    def window(self, m, t, w):
        """Samples of m in (t - w, t], grouped: (labels, e, v) lists."""
        sid, e, v, labels = self.by_metric[m]
        sel = np.flatnonzero((e > t - w) & (e <= t))
        if len(sel) == 0:
            return []
        s = sid[sel]
        cuts = np.flatnonzero(np.diff(s)) + 1
        out = []
        for grp in np.split(sel, cuts):
            out.append((labels[int(sid[grp[0]])], e[grp], v[grp]))
        return out

    def latest(self, m, t, lookback):
        return [(lab, int(es[-1]), float(vs[-1]))
                for lab, es, vs in self.window(m, t, lookback)]

    def samples_between(self, m, lo, hi):
        _, e, v, _ = self.by_metric[m]
        return v[(e >= lo) & (e < hi)]


def _over_time(fn, vs):
    if fn == "sum":
        return float(np.sum(vs))
    if fn == "avg":
        return float(np.sum(vs)) / len(vs)
    if fn == "max":
        return float(np.max(vs))
    if fn == "min":
        return float(np.min(vs))
    if fn == "count":
        return float(len(vs))
    raise ValueError(fn)


def _rate(fn, es, vs, t, w):
    """Prometheus extrapolatedRate for a counter, in the operation order
    of promql/functions.go (deltas summed exactly, as decimals)."""
    n = len(es)
    if n < 2 or es[-1] <= es[0]:
        return None
    dec = [Decimal(f"{x:.2f}") for x in vs]
    res = Decimal(0)
    for a, b in zip(dec, dec[1:]):
        res += (b - a) if b >= a else b
    res_d, fv = float(res), float(dec[0])
    span = float(es[-1] - es[0])
    avg = span / float(n - 1)
    thr = avg * 1.1
    ds0, de0 = float(es[0] - (t - w)), float(t - es[-1])
    ds1 = avg / 2 if ds0 >= thr else ds0
    de1 = avg / 2 if de0 >= thr else de0
    ds2 = ds1
    if res_d > 0.0 and fv >= 0.0:
        dz = span * (fv / res_d)
        if dz < ds1:
            ds2 = dz
    factor = (span + ds2 + de1) / span
    return res_d * (factor / float(w)) if fn == "rate" else res_d * factor


def _group(vec, keep):
    out = {}
    for lab, v in vec.items():
        key = tuple((n, x) for n, x in lab if keep(n))
        out.setdefault(key, []).append(v)
    return out


def _aggregate(agg, vec, by=None, without=None):
    keep = (lambda n: n in by) if by is not None else (lambda n: n not in without)
    out = {}
    for key, vals in _group(vec, keep).items():
        if agg == "sum":
            out[key] = float(np.sum(vals))
        elif agg == "max":
            out[key] = float(np.max(vals))
        elif agg == "count":
            out[key] = float(len(vals))
        else:
            raise ValueError(agg)
    return out


def _over_time_vec(store, fn, m, t, w):
    return {lab: _over_time(fn, vs) for lab, _, vs in store.window(m, t, w)}


def _label(lab, name):
    return dict(lab).get(name)


def evaluate(store, family, p, t):
    """Instant evaluation of one panel template at time t."""
    if family == "sel":
        rx = re.compile(p["k_re"])
        return {lab: v for lab, _, v in store.latest(p["metric"], t, LOOKBACK)
                if rx.fullmatch(_label(lab, "k"))
                and _label(lab, "cluster_name") != p["not_cluster"]}
    if family == "rate":
        w = seconds(p["w"])
        vec = {}
        for lab, es, vs in store.window(p["metric"], t, w):
            r = _rate(p["fn"], es, vs, t, w)
            if r is not None:
                vec[lab] = r
        return _aggregate("sum", vec, by=("cluster_name",))
    if family == "ot":
        vec = _over_time_vec(store, p["fn"], p["metric"], t, seconds(p["w"]))
        return _aggregate(p["agg"], vec, without=("user",))
    if family == "sub":
        r, s, w = seconds(p["range"]), seconds(p["step"]), seconds(p["w"])
        out = {}
        for ig in range(((t - r) // s + 1) * s, (t // s) * s + 1, s):
            key = ("sub", p["metric"], ig, w)
            if key not in store.memo:  # outer points share inner points
                store.memo[key] = _aggregate(
                    "sum", _over_time_vec(store, "count", p["metric"], ig, w),
                    by=("cluster_name",))
            for lab, v in store.memo[key].items():
                out[lab] = max(out.get(lab, v), v)
        return out
    if family == "topk":
        w = seconds(p["w"])
        if p["fn"] == "topk":
            return _aggregate("sum", _over_time_vec(store, "sum", p["metric"], t, w),
                              by=("user",))
        vals = sorted(_aggregate(
            "max", _over_time_vec(store, "max", p["metric"], t, w),
            by=("cluster_name",)).values())
        if not vals:
            return {}
        rank = p["q"] * (len(vals) - 1)
        lo = int(np.floor(rank))
        hi = min(lo + 1, len(vals) - 1)
        wt = rank - lo
        return {(): vals[lo] * (1 - wt) + vals[hi] * wt}
    if family == "binop":
        w = seconds(p["w"])
        left = _aggregate("sum", _over_time_vec(store, "count", p["left"], t, w),
                          by=("user", "k"))
        right = _aggregate("sum", _over_time_vec(store, "count", p["right"], t, w),
                           by=("user",))
        right = {_label(lab, "user"): v for lab, v in right.items()}
        return {lab: v / right[_label(lab, "user")] for lab, v in left.items()
                if _label(lab, "user") in right}
    if family == "setop":
        w = seconds(p["w"])
        left = _over_time_vec(store, "count", p["left"], t, w)
        right = _over_time_vec(store, "count", p["right"], t, w)
        ru = {_label(lab, "user") for lab in right}
        if p["op"] == "and":
            return {lab: v for lab, v in left.items() if _label(lab, "user") in ru}
        if p["op"] == "unless":
            return {lab: v for lab, v in left.items() if _label(lab, "user") not in ru}
        lu = {_label(lab, "user") for lab in left}
        out = dict(left)
        out.update({lab: v for lab, v in right.items() if _label(lab, "user") not in lu})
        return out
    raise ValueError(family)


def _close(a, b):
    return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))


def check_panel(store, panel, op, rows):
    """Compare the engine's rows [(labels, g, value)] for one op with the
    reference. Returns None when they agree, else a short reason."""
    times = ([op["t"]] if op["kind"] == "instant"
             else list(range(op["g0"], op["g1"] + 1, op["step"])))
    got = {}
    for lab, g, v in rows:
        g = op["t"] if op["kind"] == "instant" else g
        if (lab, g) in got:
            return f"duplicate series {lab} at {g}"
        got[(lab, g)] = v
    topk = panel["family"] == "topk" and panel["params"]["fn"] == "topk"
    n_expected = 0
    for t in times:
        ref = evaluate(store, panel["family"], panel["params"], t)
        if topk:
            n = panel["params"]["n"]
            mine = {lab: v for (lab, g), v in got.items() if g == t}
            if len(mine) != min(n, len(ref)):
                return f"topk at {t}: {len(mine)} rows, want {min(n, len(ref))}"
            for lab, v in mine.items():
                if lab not in ref or not _close(ref[lab], v):
                    return f"topk at {t}: {lab}={v} not in input vector"
            want = sorted(ref.values(), reverse=True)[:n]
            if not all(_close(a, b) for a, b in
                       zip(sorted(mine.values(), reverse=True), want)):
                return f"topk at {t}: values are not the top {n}"
            n_expected += len(mine)
            continue
        for lab, v in ref.items():
            n_expected += 1
            if (lab, t) not in got:
                return f"missing {lab} at {t} (want {v})"
            if not _close(got[(lab, t)], v):
                return f"{lab} at {t}: got {got[(lab, t)]}, want {v}"
    if len(got) != n_expected:
        return f"{len(got)} rows, want {n_expected}"
    return None
