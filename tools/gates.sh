#!/usr/bin/env bash
# All round gates: bench FIRST (on a box not yet heated by the test and
# verify phases — see the ceiling note), then the PLANS.md staleness
# check, then unit tests, then oracle compare at every scale factor.
# Exit nonzero on the first failure.
set -euo pipefail
cd "$(dirname "$0")/.."

# Soft ceiling on the full-pack total: a GROSS-regression tripwire, not
# a guarantee of the official gate. After the round-13 AQE
# small-shuffle fix (minPartitionSize 64k) standalone full-pack samples
# on green trees read ~56-60 s (57.7/58.2 measured on the final tree;
# the box noise band is ±10% and tops out higher late in a long
# session). A bench run AFTER the test+verify phases reads a further
# ~1.1x hotter (measured on unchanged trees), which is why the bench
# phase runs FIRST — its reading matches the standalone band. The 68 s
# ceiling sits above every green-tree standalone sample on this tree,
# while the hard driver gate (2x baseline = 80 s official, at a
# measured 1.05-1.25x official-over-standalone inflation) still has
# margin from any tree that passes here. A single CEILING breach
# re-runs once and the second reading decides: a real regression
# reproduces, a one-off burst doesn't. A non-empty `failed` list is a
# bug, not contention — it fails immediately, no retry (exit 2 from
# the checker). Every bench reading also gets a per-query verdict
# against BASELINE_PERQUERY.json (median of 3 standalone runs on the
# round-13 tree), so a breach is attributed to named queries instead
# of excavated from the total.
# Load evidence per bench reading (round 18, verdict item 5): every
# round-17 in-gate first read drew a burst and the retry decided all
# three runs — so attribute each reading's box state by DATA (loadavg +
# cumulative steal jiffies around the run), and let the round close
# state the burst rate from these lines instead of classifying samples
# by eye.
load_evidence() {
  echo "[load] $1 loadavg=$(cut -d' ' -f1-3 /proc/loadavg)" \
    "steal_jiffies=$(awk '/^cpu /{print $9}' /proc/stat)"
}
run_bench() {
  load_evidence "bench-pre"
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
    sbt -batch "runMain graft.Bench" | grep -F '"metric"' | tee /tmp/graft_gate_bench.json
  load_evidence "bench-post"
  # --strict-keys: fail (exit 4) when the registered query set differs
  # from the ledger's key set — a pack change with a forgotten
  # tools/make_ledger.sh regen would silently un-guard the new queries.
  # Extra args (the retry passes --fail-on-flags) ride through.
  python3 tools/perquery_check.py --strict-keys "$@" BENCH_FULL.json
}
# Exit codes: 0 ok, 1 ceiling breach (retryable), 2 failed queries
# (a bug — fail immediately), 3 unparseable bench output (a harness
# problem, not a perf signal — fail immediately, never burn a retry
# chasing a phantom regression). $1 is the ceiling: the retry reading
# gets a documented 1.1x allowance because it executes on a box just
# heated by the first full pack — without it the retry would
# false-fail exactly the noise-burst trees it exists to absorb.
check_ceiling() {
  python3 - "$1" <<'EOF'
import json, re, sys
try:
    line = open("/tmp/graft_gate_bench.json").read()
    rec = json.loads(re.sub(r"^\[info\] ", "", line.strip().splitlines()[-1]))
    failed, total = rec.get("failed"), rec["value"]
except Exception as e:
    print(f"bench output unparseable: {e}")
    sys.exit(3)
if failed:
    print(f"bench FAILED queries: {failed}")
    sys.exit(2)
ceiling = float(sys.argv[1])
print(f"bench total {total:.1f} s (ceiling {ceiling:.1f} s)")
sys.exit(1 if total > ceiling else 0)
EOF
}

# Optimization-round-18 ceiling recalibration: the AQE cached-scan
# reuse repair + the NIO checkpoint manager + six query rewrites moved
# the quiet band 50.9-56.7 -> 49.6/49.9/52.4 (ledger re-cut at 49.9,
# this round's deliberate speedups --reset per the anchor protocol).
# Ceiling 57 keeps the old 1.14x-over-median proportion above THIS
# tree's quiet band. The box still shows SUSTAINED external burst
# phases (uniform inflation up to ~1.30x quiet), so the retry ceiling
# stays tuned to the burst AMPLITUDE (1.36 x 49.9 ~ 68); the per-query
# --fail-on-flags check is what actually catches a code regression
# there (budgets scale by the run's own uniform inflation, so a burst
# passes with zero flags while a real regression is named).
echo "== bench sf0.1"
run_bench
echo "== bench ceiling"
rc=0; check_ceiling 57.0 || rc=$?
if [ "$rc" -eq 1 ]; then
  echo "== bench ceiling breached — re-running once (contention check)"
  sleep 10
  run_bench --fail-on-flags
  check_ceiling 68.0
elif [ "$rc" -ne 0 ]; then
  exit "$rc"
fi

# PLANS.md staleness: PlansDocSpec pins the section LIST to
# ExplainAudit.Headline, but stale plan TEXT between manual regens was
# still possible — regenerate here and fail on any uncommitted drift.
echo "== PLANS.md regeneration check"
sbt -batch "runMain graft.ExplainAudit"
if ! git diff --quiet HEAD -- PLANS.md; then
  echo "PLANS.md is stale: regeneration produced a diff — commit it"
  git --no-pager diff --stat -- PLANS.md
  exit 4
fi

echo "== sbt test"
sbt -batch test

# the benchmark's own logic (seeding, percentile rule, span arithmetic,
# output checks); needs no Spark
echo "== perfbench unit tests"
python3 -m unittest discover -s perfbench -p 'test_*.py'

# end-to-end check of the fact writer, repair and the stream sink: the
# etl_collect run exits non-zero unless the sink matches what its
# generator sent and re-running ops leaves the sink unchanged
echo "== etl_collect smoke"
python3 perfbench/run.py --workload etl_collect --seed 1 --seconds 4 --trace 0

# end-to-end check of the read path: the promql_dashboard run exits
# non-zero unless every checked panel matches promref.py's independent
# evaluation; its setup fills the fact frame through
# TableCache.getOrBuild
echo "== promql_dashboard smoke"
python3 perfbench/run.py --workload promql_dashboard --seed 1 --seconds 4 --trace 0

for sf in sf0.001 sf0.01 sf0.1; do
  echo "== verify $sf"
  out="/tmp/graft_gate_$sf"
  sbt -batch "runMain graft.Verify /root/testdata/$sf $out"
  python3 tools/check.py "/root/testdata/$sf" "$out"
done

# Scratch teardown assert (round 18, verdict item 7): the stream gates
# create per-call work dirs (createTempDirectory prefixes below) and the
# round-17 checkpoint-deletion change claims each run removes its own —
# hold that claim to a find over the JVM tmpdir at the end of a full
# gates pass. Orphans fail the gate so a cleanup regression is caught
# the round it lands, not when the disk fills.
echo "== scratch teardown check"
orphans=$(find "${TMPDIR:-/tmp}" /tmp -maxdepth 1 \
  \( -name 'stream_in*' -o -name '*_e2e*' \) 2>/dev/null | sort -u)
if [ -n "$orphans" ]; then
  echo "ORPHAN stream scratch dirs left behind:"
  echo "$orphans"
  exit 5
fi
echo "scratch clean"
