"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of the seed: the events table the
engine reads, the PromQL panel schedule, the ETL operation list, the
Prometheus API payloads the benchmark transport serves, and the sink
contents the ETL operations must leave behind.
"""

import datetime as dt
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY = 86400
DAY0 = 1704067200  # 2024-01-01T00:00:00Z, first day of the events table
DAYS = 30
EVENTS = 100_000
USERS = 1500
KS = 100
METRICS = ["click", "error", "purchase", "signup", "view"]
LOOKBACK = 300  # PromQL staleness window, seconds

# ETL payload limits: series x points per Prometheus response
SERIES_RANGE = (50, 2000)
POINTS_RANGE = (1, 1440)
PAYLOAD_CAP = 20_000  # samples per matrix payload
MALFORMED_EVERY = 50  # every 50th sample of a payload is malformed
STREAM_ROWS = 5_000  # events per streaming-ingest op
REPAIR_DAYS = 2  # days per repair window

PROMQL_PANEL_REFRESHES = 200
# op kinds alternate cheap and dear, so that any prefix of the schedule -
# a run's ops - holds about the same mix, and its median is steady
ETL_BLOCK = ["prom_vector", "repair", "runner_instant", "stream",
             "prom_matrix", "runner_range"]


def cluster_of(user):
    return f"c{user % 5}-r{user % 3}-z0"


def _strata(rng, n, lo, hi):
    """n sizes over [lo, hi]: the i-th lies in log-uniform stratum i % 3,
    at a seeded place inside it. Every run that covers a few blocks sees
    the same size distribution, whatever the seed."""
    u = (np.arange(n) % 3 + rng.random(n)) / 3
    vals = np.exp(math.log(lo) + u * (math.log(hi) - math.log(lo)))
    return [int(round(v)) for v in vals]


# ---------------------------------------------------------------- events

def make_events(seed):
    """The sf0.1-shaped events table: 100,000 samples over 30 days,
    five event types, 1,500 users, 100 `k` values. Event seconds are
    distinct, so no series holds two samples in one second."""
    rng = np.random.default_rng([seed, 1])
    sec = np.sort(rng.choice(DAYS * DAY, EVENTS, replace=False))
    micros = rng.integers(0, 1_000_000, EVENTS)
    return {
        "event_id": np.arange(EVENTS, dtype=np.int64),
        "e": DAY0 + sec,
        "ts_ns": (DAY0 + sec) * 1_000_000_000 + micros * 1000,
        "user_id": rng.integers(0, USERS, EVENTS),
        "event_type": np.array(METRICS)[rng.integers(0, len(METRICS), EVENTS)],
        "value": np.round(rng.exponential(40.0, EVENTS), 2),
        "k": rng.integers(0, KS, EVENTS),
    }


def write_events(ev, path, unit="ns"):
    ts = ev["ts_ns"] if unit == "ns" else ev["ts_ns"] // 1000
    table = pa.table({
        "event_id": pa.array(ev["event_id"], pa.int64()),
        "ts": pa.array(ts, pa.timestamp(unit)),
        "user_id": pa.array(ev["user_id"], pa.int64()),
        "event_type": pa.array(ev["event_type"], pa.string()),
        "value": pa.array(ev["value"], pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in ev["k"]], pa.string()),
    })
    pq.write_table(table, path)


# ------------------------------------------------------ promql_dashboard

# Range panels: (grid points, step seconds) per template family. The
# grid width spans 24..1440 points across panels; window sizes are fixed
# per family too, so the work per refresh does not depend on the seed.
RANGE_GRID = {"sel": (1440, 60), "rate": (168, 3600), "ot": (720, 300),
              "sub": (288, 600), "topk": (48, 1800), "binop": (24, 3600),
              "setop": (96, 900)}
PROMQL_FAMILIES = list(RANGE_GRID)
# refresh order within a block: cheap and dear panels alternate (see
# ETL_BLOCK)
PANEL_ORDER = [("sel", "instant"), ("binop", "range"), ("sel", "range"),
               ("binop", "instant"), ("ot", "instant"), ("rate", "range"),
               ("ot", "range"), ("setop", "range"), ("sub", "instant"),
               ("topk", "range"), ("rate", "instant"), ("topk", "instant"),
               ("sub", "range"), ("setop", "instant")]


def _promql_panel(rng, family, kind):
    """One dashboard panel. The seed picks metrics, label values and
    operator variants of similar cost; the template shape is fixed.
    The engine evaluates quantile() only as an instant query, so the
    topk/quantile family uses quantile on its instant panel."""
    m = str(rng.choice(METRICS))
    a, b = (str(x) for x in rng.choice(METRICS, 2, replace=False))
    pick = lambda xs: xs[int(rng.integers(0, len(xs)))]
    if family == "sel":
        d = int(rng.integers(4, 10))
        c = cluster_of(int(rng.integers(0, USERS)))
        text = f'{m}{{k=~"[0-{d}].*",cluster_name!="{c}"}}'
        params = {"metric": m, "k_re": f"[0-{d}].*", "not_cluster": c}
    elif family == "rate":
        fn = pick(["rate", "increase"])
        text = f"sum by (cluster_name) ({fn}({m}[1d]))"
        params = {"fn": fn, "metric": m, "w": "1d"}
    elif family == "ot":
        agg, fn = pick(["sum", "max", "count"]), pick(["avg", "max", "min", "sum", "count"])
        text = f"{agg} without (user) ({fn}_over_time({m}[1h]))"
        params = {"agg": agg, "fn": fn, "metric": m, "w": "1h"}
    elif family == "sub":
        text = (f"max_over_time(sum by (cluster_name) "
                f"(count_over_time({m}[30m]))[6h:10m])")
        params = {"metric": m, "w": "30m", "range": "6h", "step": "10m"}
    elif family == "topk" and kind == "range":  # no quantile on a grid
        n = int(rng.integers(3, 11))
        text = f"topk({n}, sum by (user) (sum_over_time({m}[6h])))"
        params = {"fn": "topk", "n": n, "metric": m, "w": "6h"}
    elif family == "topk":
        q = pick([0.5, 0.9, 0.99])
        text = f"quantile({q}, max by (cluster_name) (max_over_time({m}[6h])))"
        params = {"fn": "quantile", "q": q, "metric": m, "w": "6h"}
    elif family == "binop":
        text = (f"sum by (user, k) (count_over_time({a}[6h])) / on(user) "
                f"group_left sum by (user) (count_over_time({b}[6h]))")
        params = {"left": a, "right": b, "w": "6h"}
    elif family == "setop":
        op = pick(["and", "or", "unless"])
        text = f"count_over_time({a}[1h]) {op} on(user) count_over_time({b}[1h])"
        params = {"op": op, "left": a, "right": b, "w": "1h"}
    panel = {"family": family, "kind": kind, "text": text, "params": params,
             "refresh": 60}
    if kind == "range":
        panel["points"], panel["step"] = RANGE_GRID[family]
        panel["refresh"] = panel["step"]
    return panel


def promql_plan(seed, refreshes=PROMQL_PANEL_REFRESHES):
    """One instant and one range panel per template family. Each
    schedule block refreshes every panel once, in PANEL_ORDER (so a run
    of a given length holds the same mix of panels whatever the seed),
    at that panel's next evaluation time, so no (text, time) pair
    repeats."""
    rng = np.random.default_rng([seed, 2])
    panels = [_promql_panel(rng, fam, kind) for fam, kind in PANEL_ORDER]
    start = DAY0 + 20 * DAY + int(rng.integers(0, 720)) * 60
    warm, ops = [], []
    for r in range(-1, refreshes):
        for pi, p in enumerate(panels):
            t = start + r * p["refresh"]
            # refresh -1 is the warm pass: one panel per template
            if r < 0 and any(q["family"] == p["family"] for q in panels[:pi]):
                continue
            op = {"id": len(ops) if r >= 0 else -1 - len(warm), "panel": pi,
                  "family": p["family"], "kind": p["kind"], "text": p["text"]}
            if p["kind"] == "range":
                g1 = (t // p["step"]) * p["step"]
                op.update(g0=g1 - (p["points"] - 1) * p["step"], g1=g1,
                          step=p["step"])
            else:
                op["t"] = t
            (ops if r >= 0 else warm).append(op)
    return {"panels": panels, "warm": warm, "ops": ops}


# ----------------------------------------------------------- etl_collect

def _day(sec):
    return dt.datetime.fromtimestamp(sec, dt.timezone.utc).date().isoformat()


def _sod(sec):
    return sec - sec % DAY


def resolve(expr, now):
    """The subset of the engine's time-expression language the ETL
    configs use, evaluated independently."""
    if expr in ("", "now"):
        return now
    if expr == "today":
        return _sod(now)
    if expr == "yesterday":
        return _sod(now) - DAY
    if expr == "yesterday_end":
        return _sod(now) - 1
    if expr.startswith("today@"):
        hh, mm = expr[6:].split(":")
        return _sod(now) + int(hh) * 3600 + int(mm) * 60
    if expr[0] == "-":
        unit = {"d": DAY, "h": 3600, "m": 60, "s": 1}[expr[-1]]
        return now - int(expr[1:-1]) * unit
    raise ValueError(expr)


def _hhmm(sec_of_day):
    return f"today@{sec_of_day // 3600:02d}:{sec_of_day % 3600 // 60:02d}"


def _config(qid, query, kind, time=None, start=None, end=None, step=None):
    return {"query_id": qid, "name": qid, "query": query,
            "time_range_type": kind, "time_range_time": time,
            "time_range_start": start, "time_range_end": end,
            "time_range_step": step}


def _payload(rng, kind, series, points, t0, step, name_pool):
    """A Prometheus /api/v1 response body plus the valid samples in it.
    Every MALFORMED_EVERY-th sample has bad arity, a non-numeric value
    or a non-numeric timestamp, which the engine must skip."""
    n = series * points
    vals = np.round(rng.exponential(25.0, n), 2)
    ts = np.tile(t0 + step * np.arange(points), series)
    bad = np.zeros(n, bool)
    bad[int(rng.integers(0, MALFORMED_EVERY))::MALFORMED_EVERY] = True
    kinds = rng.integers(0, 3, n)
    cells = []
    for i in range(n):
        if not bad[i]:
            cells.append(f'[{ts[i]}.0,"{vals[i]:.2f}"]')
        elif kinds[i] == 0:
            cells.append(f"[{ts[i]}.0]")
        elif kinds[i] == 1:
            cells.append(f'[{ts[i]}.0,"bad"]')
        else:
            cells.append(f'["x","{vals[i]:.2f}"]')
    result = []
    for s in range(series):
        metric = json.dumps({"__name__": name_pool[s % len(name_pool)],
                             "instance": f"host-{s}", "job": "node"},
                            separators=(",", ":"))
        chunk = cells[s * points:(s + 1) * points]
        if kind == "vector":
            result.append(f'{{"metric":{metric},"value":{chunk[0]}}}')
        else:
            result.append(f'{{"metric":{metric},"values":[{",".join(chunk)}]}}')
    body = ('{"status":"success","data":{"resultType":"%s","result":[%s]}}'
            % (kind, ",".join(result)))
    return body, ts[~bad], vals[~bad]


def _add(expected, qid, day, count, total):
    c, s = expected.get((qid, day), (0, 0.0))
    expected[(qid, day)] = (c + count, s + total)


def etl_plan(seed, n_ops, prefix="op", scale=1.0):
    """`n_ops` ETL operations in blocks of ETL_BLOCK, with everything
    needed to build and check them. Payload bodies and stream inputs are
    returned separately (they are written to disk, not into the plan):
    payloads map query id -> (body, valid timestamps, valid values).
    `scale` shrinks payloads and stream inputs (for the warm pass)."""
    rng = np.random.default_rng([seed, 3, len(prefix)])
    blocks = (n_ops + len(ETL_BLOCK) - 1) // len(ETL_BLOCK)
    # every block does about the same work whatever the seed: shapes and
    # expressions vary, sizes do not (a matrix payload always carries
    # about PAYLOAD_CAP samples, as few long or many short series)
    series = _strata(rng, blocks, *SERIES_RANGE)
    vseries = _strata(rng, blocks, *SERIES_RANGE)[1:] + [SERIES_RANGE[0]]
    ops, payloads, streams = [], {}, {}
    for i in range(n_ops):
        b, kind = divmod(i, len(ETL_BLOCK))
        kind = ETL_BLOCK[kind]
        qid = f"{prefix}_{i}"
        now = DAY0 + 22 * DAY + 10 * 3600 + i * 17 * 60 + int(rng.integers(0, 60))
        tod = now % DAY
        m = str(rng.choice(METRICS))
        op = {"id": i, "type": kind, "query_id": qid, "now": now}
        if kind == "runner_instant":
            expr = ["yesterday_end", f"-{int(rng.integers(1, 48))}h",
                    _hhmm(int(rng.integers(0, tod + 1)) // 60 * 60)][b % 3]
            op["config"] = _config(qid, m, "instant", time=expr)
        elif kind == "runner_range":  # grids of 130..168 points
            if b % 3 == 0:
                se = ("-7d", "now", "1h")
            elif b % 3 == 1:
                se = ("yesterday", "yesterday_end", "10m")
            else:
                lo = max(0, tod - 3 * 3600)
                se = ("-2d", _hhmm(int(rng.integers(lo, tod + 1)) // 60 * 60), "20m")
            op["config"] = _config(qid, m, "range", start=se[0], end=se[1], step=se[2])
        elif kind in ("prom_vector", "prom_matrix"):
            s = vseries[b] if kind == "prom_vector" else series[b]
            names = [f"node_metric_{j}" for j in range(7)]
            if kind == "prom_vector":
                expr = ["yesterday_end", "-30m", "now",
                        _hhmm(int(rng.integers(0, tod + 1)) // 60 * 60)][b % 4]
                at = resolve(expr, now)
                body, ts, vals = _payload(rng, "vector", s, 1, at, 1, names)
                op["config"] = _config(qid, "up", "instant", time=expr)
            else:
                p = min(POINTS_RANGE[1], int(PAYLOAD_CAP * scale) // s) or 1
                step = [60, 300, 900][b % 3]
                span_min = (p - 1) * step // 60
                start = f"-{span_min}m"
                t0 = resolve(start, now) if span_min else now
                body, ts, vals = _payload(rng, "matrix", s, p, t0, step, names)
                op["config"] = _config(qid, "node_load", "range", start=start,
                                       end="now", step=f"{step}s")
            payloads[qid] = (body, ts, vals)
            op["payload"] = f"payloads/{qid}.json"
        elif kind == "stream":
            rows = int(STREAM_ROWS * scale)
            day = DAY0 + int(rng.integers(1, DAYS - 1)) * DAY
            sec = np.sort(rng.choice(2 * DAY, rows, replace=False))
            streams[qid] = {
                "event_id": np.arange(rows, dtype=np.int64),
                "ts_ns": (day + sec) * 1_000_000_000,
                "e": day + sec,
                "user_id": rng.integers(0, USERS, rows),
                "event_type": np.array(METRICS)[rng.integers(0, len(METRICS), rows)],
                "value": np.round(rng.exponential(40.0, rows), 2),
                "k": rng.integers(0, KS, rows),
            }
            op["input"] = f"streams/{qid}"
            op["checkpoint"] = f"checkpoints/{qid}"
        else:  # repair
            n = REPAIR_DAYS
            first = int(rng.integers(1, DAYS - n))
            op.update(metric=m, start=_day(DAY0 + first * DAY),
                      end=_day(DAY0 + (first + n - 1) * DAY))
        ops.append(op)
    return ops, payloads, streams


def expected_sink(ops, ran, events, streams, payloads):
    """(query_id, collect_date) -> (rows, value sum) that the ETL ops in
    `ran` must leave in the fact table, derived independently of the
    engine from what the generator produced."""
    from promref import Store
    store = Store(events)
    expected = {}
    for i in sorted(set(ran)):
        op = ops[i]
        kind, qid, now = op["type"], op["query_id"], op["now"]
        if kind == "runner_instant":
            cfg = op["config"]
            at = resolve(cfg["time_range_time"], now)
            for (_, e, v) in store.latest(cfg["query"], at, LOOKBACK):
                day = (_day(_sod(now) - DAY)
                       if cfg["time_range_time"] in ("yesterday", "yesterday_end")
                       else _day(e))
                _add(expected, qid, day, 1, v)
        elif kind == "runner_range":
            cfg = op["config"]
            s = resolve(cfg["time_range_start"], now)
            e = resolve(cfg["time_range_end"], now)
            step = {"s": 1, "m": 60, "h": 3600}[cfg["time_range_step"][-1]] * \
                int(cfg["time_range_step"][:-1])
            g0, g1 = -(-s // step) * step, (e // step) * step
            one_day = _sod(s) == _sod(e)
            for g in range(g0, g1 + 1, step):
                for (_, _, v) in store.latest(cfg["query"], g, LOOKBACK):
                    _add(expected, qid, _day(s) if one_day else _day(g), 1, v)
        elif kind in ("prom_vector", "prom_matrix"):
            _, ts, vals = payloads[qid]
            cfg = op["config"]
            if kind == "prom_vector":
                yest = cfg["time_range_time"] in ("yesterday", "yesterday_end")
                days = [_day(_sod(now) - DAY) if yest else _day(t) for t in ts]
            else:
                s = resolve(cfg["time_range_start"], now)
                e = resolve(cfg["time_range_end"], now)
                days = ([_day(s)] * len(ts) if _sod(s) == _sod(e)
                        else [_day(t) for t in ts])
            for d, v in zip(days, vals):
                _add(expected, qid, d, 1, float(v))
        elif kind == "stream":
            ev = streams[qid]
            for t, v in zip(ev["e"], ev["value"]):
                _add(expected, qid, _day(int(t)), 1, float(v))
        else:  # repair: every day of the window gets that day's samples
            d0 = dt.date.fromisoformat(op["start"])
            while d0 <= dt.date.fromisoformat(op["end"]):
                lo = int(dt.datetime(d0.year, d0.month, d0.day,
                                     tzinfo=dt.timezone.utc).timestamp())
                day = store.samples_between(op["metric"], lo, lo + DAY)
                if len(day):
                    expected[(qid, d0.isoformat())] = (len(day), float(day.sum()))
                d0 += dt.timedelta(days=1)
    return expected


def write_etl_inputs(root, payloads, streams):
    os.makedirs(os.path.join(root, "payloads"), exist_ok=True)
    for qid, (body, _, _) in payloads.items():
        with open(os.path.join(root, "payloads", f"{qid}.json"), "w") as f:
            f.write(body)
    for qid, ev in streams.items():
        d = os.path.join(root, "streams", qid)
        os.makedirs(d, exist_ok=True)
        write_events(ev, os.path.join(d, "part-0.parquet"), unit="us")
