#!/usr/bin/env python3
"""The repository benchmark: one closed-loop client driving the engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
client from source (sbt, into .bench_build/ and the sbt target dirs);
later runs reuse the build while the sources are unchanged. Each run
generates the workload's inputs from the seed, runs ops back to back
for the given seconds, checks the outputs and prints one line per
metric followed by one JSON object as the last line. The exit code is
0 only when every op succeeded and every check passed. See README.md.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import stats  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = ("promql_dashboard", "etl_collect")
SETUP_REPS = 3
BUILD_TIMEOUT = 840
RUN_TIMEOUT = 170

END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "op_tail_ms": "ms",
              "ops_per_s": "1/s", "heap_live_mb": "MiB"}

# per-layer metric -> unit; times are per-op medians of self time,
# counts are totals over the first schedule block of the traced phase
PER_LAYER = {
    "promql.parse_ms": "ms", "promql.compile_ms": "ms",
    "catalyst.analyze_ms": "ms", "catalyst.optimize_ms": "ms",
    "catalyst.physical_ms": "ms", "catalyst.exchanges": "count",
    "catalyst.reused_exchanges": "count", "catalyst.smj": "count",
    "catalyst.bhj": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.slot_idle_frac": "ratio",
    "exec.wall_ms": "ms", "exec.task_ms": "ms", "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B",
    "shuffle.records": "count", "shuffle.spill_bytes": "B",
    "sources.cache_build_ms": "ms", "sources.cache_bytes": "B",
    "sources.prom_fetch_ms": "ms",
    "ingest.write_ms": "ms", "ingest.records": "count",
    "ingest.files": "count", "ingest.bytes": "B",
    "sink_bytes_per_record": "B",
    "ops.run_ms": "ms", "ops.config_ms": "ms",
    "repair.plan_ms": "ms", "repair.run_ms": "ms",
    "repair.days_recomputed": "count",
    "streaming.batches": "count", "streaming.trigger_ms": "ms",
    "streaming.planning_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
    "streaming.state_rows": "count", "streaming.state_commit_ms": "ms",
    "ext.drain_ms": "ms",
    "jvm.gc_ms": "ms", "jvm.gc_count": "count",
    "layer.promql_share": "ratio", "layer.catalyst_share": "ratio",
    "layer.exec_share": "ratio", "layer.sources_share": "ratio",
    "layer.ops_share": "ratio", "layer.ingest_share": "ratio",
    "layer.repair_share": "ratio", "layer.streaming_share": "ratio",
    "layer.ext_share": "ratio", "layer.client_share": "ratio",
    "fail_frac": "ratio", "trace.overhead_ms": "ms",
}

# spans timed around calls into each layer; self time per op (median)
SPAN_METRICS = {
    "promql.parse_ms": "promql.parse", "promql.compile_ms": "promql.compile",
    "sources.prom_fetch_ms": "sources.prom_fetch",
    "ingest.write_ms": "ingest.write", "ops.run_ms": "ops.run",
    "ops.config_ms": "ops.config", "repair.plan_ms": "repair.plan",
    "repair.run_ms": "repair.run", "ext.drain_ms": "ext.drain",
}
# listener counters reported as per-op medians over the ops that have them
MEDIAN_COUNTERS = [
    "catalyst.analyze_ms", "catalyst.optimize_ms", "catalyst.physical_ms",
    "exec.task_ms", "exec.cpu_ms", "exec.gc_ms", "streaming.trigger_ms",
    "streaming.planning_ms", "streaming.add_batch_ms",
    "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
    "streaming.state_commit_ms",
]
# counters reported as totals over one schedule block (they repeat exactly)
BLOCK_COUNTERS = [
    "catalyst.exchanges", "catalyst.reused_exchanges", "catalyst.smj",
    "catalyst.bhj", "sched.jobs", "sched.stages", "sched.tasks",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.records",
    "shuffle.spill_bytes", "ingest.records", "ingest.files", "ingest.bytes",
    "repair.days_recomputed", "streaming.batches", "streaming.state_rows",
]
SHARE_LAYERS = ["promql", "catalyst", "exec", "sources", "ops", "ingest",
                "repair", "streaming", "ext"]

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


# ----------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (ROOT, HERE):
        files += glob.glob(os.path.join(base, "project", "*.sbt"))
        files += glob.glob(os.path.join(base, "project", "*.properties"))
        files += glob.glob(os.path.join(base, "project", "*.scala"))
        files += glob.glob(os.path.join(base, "src", "main", "**", "*.*"),
                           recursive=True)
    for f in sorted(set(files)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine + client with sbt (offline); returns the classpath."""
    stamp, cp_file = source_stamp(), os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            old_stamp, cp = f.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    # GRAFT_NO_SHM: the engine build must not place temp dirs outside the
    # checkout while it loads
    env = dict(os.environ, COURSIER_MODE="offline", GRAFT_NO_SHM="1",
               SBT_OPTS=" ".join(opts))
    log("building engine and client (sbt) ...")
    t0 = time.time()
    try:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT)
    except FileNotFoundError:
        die("sbt not found on PATH")
    except subprocess.TimeoutExpired:
        die(f"build timed out after {BUILD_TIMEOUT}s")
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        die("build failed")
    cp = r.stdout.strip().splitlines()[-1]
    if "perfbench" not in cp:
        die("could not read the classpath from sbt")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    log(f"built in {time.time() - t0:.0f}s")
    return cp


# ---------------------------------------------------------------- sizing

def mem_total_mib():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 8192


def mount_of(path):
    """(mount point, fs type) holding `path`, from /proc/mounts."""
    best = ("/", "?")
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                mp, fs = parts[1], parts[2]
                if (path == mp or path.startswith(mp.rstrip("/") + "/")) \
                        and len(mp) >= len(best[0]):
                    best = (mp, fs)
    except OSError:
        pass
    return best


def load_evidence():
    with open("/proc/loadavg") as f:
        load = " ".join(f.read().split()[:3])
    steal = None
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("cpu "):
                steal = int(line.split()[8])
    return {"loadavg": load, "steal_jiffies": steal}


def sizing(run_dir):
    cores = len(os.sched_getaffinity(0))
    mem = mem_total_mib()
    heap = max(2048, min(4096, mem // 6))
    mp, fs = mount_of(run_dir)
    return {"cores": cores, "mem_total_mib": mem, "heap_mib": heap,
            "spark_local_dir": os.path.relpath(os.path.join(run_dir, "spark-local"), ROOT),
            "ambient_SPARK_LOCAL_DIRS": os.environ.get("SPARK_LOCAL_DIRS"),
            "local_dir_mount": mp, "local_dir_fs": fs,
            "local_dir_tmpfs": fs == "tmpfs"}


# ----------------------------------------------------------------- inputs

def etl_ops_per_phase(seconds):
    n = int(seconds * 1.5) + 12  # ops run at about one per second
    return n + (-n) % len(workloads.ETL_BLOCK)


def generate(workload, seed, seconds, inputs):
    """Writes the workload's inputs; returns the plan parts and the
    generator's own record of what it sent."""
    shutil.rmtree(inputs, ignore_errors=True)
    os.makedirs(inputs)
    ev = workloads.make_events(seed)
    workloads.write_events(ev, os.path.join(inputs, "events.parquet"))
    if workload == "promql_dashboard":
        p = workloads.promql_plan(seed)
        return {"events": ev, "panels": p["panels"], "warm": p["warm"],
                "ops": p["ops"], "block": len(p["panels"]),
                "trace_from": len(p["ops"]) // 2}
    per_phase = etl_ops_per_phase(seconds)
    ops, payloads, streams = workloads.etl_plan(seed, 2 * per_phase)
    # warm pass: one small op of every type (code paths, not volume)
    warm, wpay, wstreams = workloads.etl_plan(
        seed, len(workloads.ETL_BLOCK), "warm", scale=0.1)
    for op in warm:  # warm-pass ops have negative ids, as in promql_plan
        op["id"] = -1 - op["id"]
    workloads.write_etl_inputs(inputs, {**payloads, **wpay}, {**streams, **wstreams})
    return {"events": ev, "warm": warm, "ops": ops, "payloads": payloads,
            "streams": streams, "block": len(workloads.ETL_BLOCK),
            "trace_from": per_phase}


# ----------------------------------------------------------------- checks

def check_promql(gen, result):
    """The warm pass (one op per template) and the first timed refresh of
    every panel, against the reference evaluator."""
    import promref
    store = promref.Store(gen["events"])
    bad = {}
    by_id = {op["id"]: op for op in gen["warm"] + gen["ops"]}
    checked = set()
    for seen in result["check_rows"].values():
        op = by_id[seen["id"]]
        checked.add(op["family"])
        rows = [(tuple(sorted(json.loads(s).items())), g, v)
                for s, g, v in seen["rows"]]
        why = promref.check_panel(store, gen["panels"][op["panel"]], op, rows)
        if why:
            bad[op["id"]] = f"{op['family']} [{op['text']}]: {why}"
    for fam in set(workloads.PROMQL_FAMILIES) - checked:
        bad[-1] = f"template {fam} was never checked"
    return bad


def read_sink(sink):
    import duckdb
    files = glob.glob(os.path.join(sink, "*", "*", "*.parquet"))
    if not files:
        return {}, 0
    con = duckdb.connect()
    rows = con.execute(
        "SELECT query_id, CAST(collect_date AS VARCHAR), count(*), sum(value) "
        "FROM read_parquet(?, hive_partitioning = true) GROUP BY 1, 2",
        [files]).fetchall()
    con.close()
    return ({(q, d): (c, s) for q, d, c, s in rows},
            sum(os.path.getsize(f) for f in files))


def check_etl(gen, result, sink):
    """The sink must hold exactly what the generator sent (minus its
    malformed samples) for every op that ran, and re-running ops must
    have left it unchanged."""
    ran = [r["id"] for r in result["ops"] if r["ok"]]
    expected = workloads.expected_sink(gen["ops"], ran, gen["events"],
                                       gen["streams"], gen["payloads"])
    actual, size = read_sink(sink)
    owner = {gen["ops"][i]["query_id"]: i for i in ran}
    bad = compare_sink(expected, actual, owner)
    if not result.get("rerun_unchanged", False):
        bad[-2] = "re-running ops changed the sink"
    rows = sum(c for c, _ in actual.values())
    return bad, (size / rows if rows else 0.0)


def compare_sink(expected, actual, owner):
    """{op id: reason} for every (query_id, collect_date) whose row count
    or value sum differs; `owner` maps a query id to its op."""
    bad = {}
    for key in sorted(set(expected) | set(actual)):
        want, got = expected.get(key), actual.get(key)
        ok = (want and got and want[0] == got[0]
              and abs(want[1] - got[1]) <= 1e-6 * max(1.0, abs(want[1])))
        if not ok:
            bad.setdefault(owner.get(key[0], -1),
                           f"{key}: sink has {got}, generator sent {want}")
    return bad


# ---------------------------------------------------------------- metrics

def end_to_end(result, gen_reps, ops):
    lat = [r["wall_ms"] for r in ops]
    tail, pct, beyond = stats.tail(lat)
    fills = result["fill_ms"]
    # set-up: process start to the first timed op, with the repeated
    # input generation and cache fill each counted once, at their median
    setup = (result["first_op_epoch_ms"] / 1e3 - T_START
             - (sum(gen_reps) - statistics.median(gen_reps))
             - (sum(fills) - statistics.median(fills)) / 1e3)
    values = {"setup_s": setup, "op_p50_ms": stats.median(lat),
              "op_tail_ms": tail,
              "ops_per_s": len(ops) / result["phase_A_s"],
              "heap_live_mb": result["heap_live_mb"]}
    notes = {"op_p50_ms": f"n={len(lat)}",
             "op_tail_ms": f"p{pct:.1f}, {beyond} ops beyond, n={len(lat)}",
             "setup_s": (f"session {result['session_ms'] / 1e3:.2f}s, "
                         f"inputs {statistics.median(gen_reps):.2f}s, "
                         f"cache fill {statistics.median(fills) / 1e3:.2f}s, "
                         f"warm pass {result['warm_ms'] / 1e3:.2f}s")}
    return values, notes


def per_layer(result, gen, cores):
    a = [r for r in result["ops"] if r["phase"] == "A"]
    b = [r for r in result["ops"] if r["phase"] == "B"]
    ids_b = {r["id"] for r in b}
    spans = [s for s in result["spans"] if s["op"] in ids_b]
    by_op = {}
    for s in spans:
        s = dict(s, parent=None if s["parent"] < 0 else s["parent"])
        by_op.setdefault(s["op"], []).append(s)
    self_ms = {}  # op -> span name -> self ms
    for op, ss in by_op.items():
        st = stats.self_times(ss)
        acc = self_ms.setdefault(op, {})
        for s in ss:
            acc[s["name"]] = acc.get(s["name"], 0.0) + st[s["id"]] / 1e6
    v = {}
    for metric, name in SPAN_METRICS.items():
        v[metric] = stats.median([m[name] for m in self_ms.values() if name in m])
    for c in MEDIAN_COUNTERS:
        v[c] = stats.median([r["counters"][c] for r in b if c in r["counters"]])
    # Catalyst phases: the forced-phase spans where the client plans the
    # query itself (promql), else the QueryExecution tracker's phases
    for c in MEDIAN_COUNTERS[:3]:
        span = c[:-3]
        if any(span in m for m in self_ms.values()):
            v[c] = stats.median([m[span] for m in self_ms.values() if span in m])
    first = gen["trace_from"]
    block = [r for r in b if first <= r["id"] < first + gen["block"]]
    for c in BLOCK_COUNTERS:
        v[c] = sum(r["counters"].get(c, 0.0) for r in block)
    # execution wall: op wall minus the planning and client layers around it
    planning = ("promql.parse", "promql.compile", "ext.drain", "op",
                "catalyst.analyze", "catalyst.optimize", "catalyst.physical")
    walls, idle = [], []
    for r in b:
        m = self_ms.get(r["id"], {})
        w = r["wall_ms"] - sum(m.get(n, 0.0) for n in planning)
        if "catalyst.analyze" not in m:  # planning ran inside the layer calls
            w -= sum(r["counters"].get(c, 0.0) for c in MEDIAN_COUNTERS[:3])
        walls.append(w)
        if w > 0:
            idle.append(1 - r["counters"].get("exec.task_ms", 0.0) / (w * cores))
    v["exec.wall_ms"] = stats.median(walls)
    v["sched.slot_idle_frac"] = stats.median(idle)
    v["sources.cache_build_ms"] = statistics.median(result["fill_ms"])
    v["sources.cache_bytes"] = result["cache_bytes"]
    total = sum(r["wall_ms"] for r in b) or 1.0
    for layer in SHARE_LAYERS:
        v[f"layer.{layer}_share"] = sum(
            ms for m in self_ms.values() for n, ms in m.items()
            if n.split(".")[0] == layer) / total
    v["layer.client_share"] = sum(m.get("op", 0.0) for m in self_ms.values()) / total
    n_ops = len(a) + len(b)
    v["jvm.gc_ms"] = result["gc_ms"] / n_ops if n_ops else 0.0
    v["jvm.gc_count"] = result["gc_count"] / n_ops if n_ops else 0.0
    v["trace.overhead_ms"] = (stats.median([r["wall_ms"] for r in b])
                              - stats.median([r["wall_ms"] for r in a]))
    return v


# ------------------------------------------------------------------- main

def start_jvm(cp, plan, run_dir, size):
    """Starts the client JVM; it builds its Spark session, then waits for
    the plan file to appear."""
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    heap = size["heap_mib"]
    # every place the JVM, Spark or Hadoop would write is inside run_dir;
    # -XX:-UsePerfData keeps the JVM out of the system temp dir
    cmd = ["java", *opens, f"-Xmx{heap}m", f"-Xms{heap}m", "-XX:+UseParallelGC",
           "-XX:-UsePerfData",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           f"-Dderby.system.home={tmp}",
           "-cp", cp, "perfbench.Main", plan, str(size["cores"])]
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # it would override spark.local.dir
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        return subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env, cwd=run_dir)


def finish_jvm(proc, run_dir, work_dir):
    """Waits for the client JVM (killing it at the run's time limit) and
    returns its result."""
    try:
        code = proc.wait(timeout=max(10, RUN_TIMEOUT - (time.time() - T_START)))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = "timeout"
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        die(f"engine process failed ({code})")
    with open(os.path.join(work_dir, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops and reaps its build or engine process
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("the engine sources (build.sbt, src/main/scala) are not next to "
            "perfbench/; run from a repository checkout")
    cp = build()
    global T_START
    T_START = time.time()  # set-up is timed from here; the build is not

    run_dir = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    proc = None
    try:
        size = sizing(run_dir)
        load_pre = load_evidence()
        plan_path = os.path.join(run_dir, "plan.json")
        proc = start_jvm(cp, plan_path, run_dir, size)
        inputs = os.path.join(run_dir, "inputs")
        gen_reps = []
        for _ in range(SETUP_REPS):
            t0 = time.time()
            gen = generate(args.workload, args.seed, args.seconds, inputs)
            gen_reps.append(time.time() - t0)
        plan = {"workload": args.workload, "seconds": args.seconds,
                "trace": bool(args.trace), "run_dir": inputs,
                "events_dir": inputs, "fill_reps": SETUP_REPS,
                "warm": gen["warm"], "ops": gen["ops"],
                "trace_from": gen["trace_from"], "block": gen["block"]}
        with open(plan_path + ".tmp", "w") as f:
            json.dump(plan, f)
        os.rename(plan_path + ".tmp", plan_path)
        log(f"inputs ready at {time.time() - T_START:.1f}s")
        result = finish_jvm(proc, run_dir, inputs)
        log(f"engine done at {time.time() - T_START:.1f}s; first op at "
            f"{result['first_op_epoch_ms'] / 1e3 - T_START:.1f}s, timed "
            f"{result['phase_A_s']:.1f}s")
        load_post = load_evidence()

        timed = [r for r in result["ops"] if r["phase"] in ("A", "B")]
        failed = {r["id"]: r["error"] for r in timed if not r["ok"]}
        failed.update({r["id"]: r["error"] for r in result["ops"]
                       if r["phase"] == "warm"})
        bytes_per_record = 0.0
        t_check = time.time()
        if args.workload == "promql_dashboard":
            failed.update(check_promql(gen, result))
        else:
            bad, bytes_per_record = check_etl(
                gen, result, os.path.join(inputs, "sink"))
            failed.update(bad)
        if result["exhausted"]:
            failed[-3] = "the op list ran out before the time was up"
        log(f"output check took {time.time() - t_check:.1f}s")
    finally:
        if proc is not None and proc.poll() is None:  # input generation failed
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = len(timed)
    n_failed = len(failed)
    for i, why in sorted(failed.items()):
        log(f"FAILED op {i}: {why}")
    ok_a = [r for r in timed if r["ok"] and r["phase"] == "A"]
    e2e, notes = end_to_end(result, gen_reps, ok_a) if not args.trace else ({}, {})
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace}")
    print("sizing " + json.dumps(size))
    print("load " + json.dumps({"before": load_pre, "after": load_post}))
    print(f"fail_frac = {n_failed / max(1, attempted):.4f} ratio "
          f"({n_failed} of {attempted} ops)")
    if args.trace:
        values = per_layer(result, gen, size["cores"])
        values["fail_frac"] = n_failed / max(1, attempted)
        values["sink_bytes_per_record"] = bytes_per_record
        units = PER_LAYER
    else:
        values, units = e2e, END_TO_END
        if args.workload == "etl_collect":
            print(f"sink_bytes_per_record = {bytes_per_record:.2f} B")
    for k in units:
        print(f"{k} = {values[k]:.4f} {units[k]}"
              + (f"  ({notes[k]})" if k in notes else ""))
    print(json.dumps({
        "correct": n_failed == 0, "attempted": max(1, attempted),
        "failed": n_failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}))
    sys.exit(0 if n_failed == 0 else 1)


if __name__ == "__main__":
    main()
