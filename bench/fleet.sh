#!/bin/bash
# Executor-fleet scaling experiment (VERDICT r02 #3): the cluster analog that
# a single-JVM local[32] run cannot express. A real N→4N executor scale-out
# multiplies *JVMs*, not threads inside one JVM — each executor has its own
# heap, allocation TLABs, and GC. This script runs K independent 8-core
# executor-analog JVMs CONCURRENTLY on disjoint physical cores (taskset;
# the box is 32 physical cores, 1 thread/core, single socket), each
# extracting the same corpus with the fused expression path, and compares
# per-JVM round time against a solo 8-core JVM.
#
# Methodology guards (both bit this script's first draft):
#  - the input parquet is primed into page cache before EVERY phase, so the
#    solo baseline isn't the coldest-I/O run;
#  - each JVM stamps per-round epoch intervals (GRAFT_TIMES "marks"); the
#    report computes fleet efficiency ONLY over rounds that actually
#    overlapped other JVMs' rounds ≥50% of their duration — interference
#    bursts stagger the JVMs and late rounds otherwise run nearly alone.
#
# Appends a measured table to BASELINE.md.
#
# Usage: bench/fleet.sh [nDocs=1600000] [rounds=5]
#   SPARK_GRAFT_SCALING_SINK=noop|parquet  (default parquet)
set -euo pipefail
cd "$(dirname "$0")/.."
DOCS=${1:-1600000}
ROUNDS=${2:-5}
SINK=${SPARK_GRAFT_SCALING_SINK:-parquet}
LOG=/tmp/graft_fleet.log
: > $LOG

sbt -batch compile >> $LOG 2>&1

CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
JAVA_FLAGS="$ADD_OPENS -Xmx16g -XX:ActiveProcessorCount=8 -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC"

# corpus (32 cores, generation excluded from all timing)
taskset -c 0-31 java $ADD_OPENS -Xmx16g -Dspark.ui.enabled=false -cp "$CP" \
  graft.ScalingBench gen "$DOCS" >> $LOG 2>&1

prime() { cat data/bench_raw.parquet/*.parquet > /dev/null 2>&1 || true; }

run_jvm() { # slot(0-3) outfile k
  local slot=$1 out=$2 k=$3
  local lo=$((slot * 8)) hi=$((slot * 8 + 7))
  taskset -c $lo-$hi env SPARK_GRAFT_SCALING_SINK=$SINK \
    SPARK_GRAFT_BARRIER=$BARRIER_DIR:$k \
    SPARK_GRAFT_SCALING_OUT=/dev/shm/graft_fleet_out_$slot.parquet \
    java $JAVA_FLAGS -cp "$CP" graft.ScalingBench measure 8 "$ROUNDS" \
    2>>$LOG | grep GRAFT_TIMES | sed 's/^.*GRAFT_TIMES //' > "$out"
}

R=/tmp/graft_fleet
rm -f $R.*.json

barrier() { BARRIER_DIR=/tmp/graft_fleet_barrier_$1; rm -rf $BARRIER_DIR; }

echo "[fleet] solo 8-core JVM..." >&2
prime; barrier solo
run_jvm 0 $R.solo.json 1

# bare `wait` ignores child exit codes (and a dead JVM leaves an empty
# .json that only fails later as a cryptic JSONDecodeError) — collect PIDs
# and check each status, then check each output is non-empty
await_all() {
  local pids=("$@") rc=0 p
  for p in "${pids[@]}"; do wait "$p" || { echo "[fleet] JVM pid $p failed (see $LOG)" >&2; rc=1; }; done
  return $rc
}

echo "[fleet] K=2 concurrent 8-core JVMs..." >&2
prime; barrier k2
run_jvm 0 $R.k2_0.json 2 & P1=$!; run_jvm 1 $R.k2_1.json 2 & P2=$!
await_all $P1 $P2

echo "[fleet] K=4 concurrent 8-core JVMs (32 busy cores)..." >&2
prime; barrier k4
run_jvm 0 $R.k4_0.json 4 & P1=$!; run_jvm 1 $R.k4_1.json 4 & P2=$!
run_jvm 2 $R.k4_2.json 4 & P3=$!; run_jvm 3 $R.k4_3.json 4 & P4=$!
await_all $P1 $P2 $P3 $P4

for f in $R.solo.json $R.k2_*.json $R.k4_*.json; do
  [ -s "$f" ] || { echo "[fleet] $f is empty — its JVM printed no GRAFT_TIMES (see $LOG)" >&2; exit 1; }
done

python3 - "expr-$SINK" <<'EOF'
import json, glob, datetime, sys
mode = sys.argv[1]
solo = json.load(open("/tmp/graft_fleet.solo.json"))
docs = solo["docs"]
t_solo = min(solo["times"])

def overlapped_best(paths):
    """Per JVM: min time over rounds that overlapped >=50% of their duration
    with a concurrent round in EVERY other JVM. Falls back to min-of-all if
    no round qualifies (reported)."""
    jvms = [json.load(open(p)) for p in paths]
    out = []
    for i, r in enumerate(jvms):
        qual = []
        for t, (a, b) in zip(r["times"], r["marks"]):
            dur = max(b - a, 1e-9)
            ok = all(
                max((min(b, d) - max(a, c) for c, d in other["marks"]), default=0) >= 0.5 * dur
                for j, other in enumerate(jvms) if j != i)
            if ok: qual.append(t)
        out.append((min(qual) if qual else min(r["times"]), bool(qual)))
    return out

k2 = overlapped_best(sorted(glob.glob("/tmp/graft_fleet.k2_*.json")))
k4 = overlapped_best(sorted(glob.glob("/tmp/graft_fleet.k4_*.json")))
rate = lambda t: docs / t
eff2 = sum(rate(t) for t, _ in k2) / (2 * rate(t_solo))
eff4 = sum(rate(t) for t, _ in k4) / (4 * rate(t_solo))
note = "" if all(q for _, q in k2 + k4) else " (WARNING: some JVMs had no fully-overlapped round; their min-of-all used)"
ts = datetime.datetime.utcnow().isoformat() + "Z"
fmt = lambda xs: ", ".join(f"{rate(t):.0f}{'' if q else '*'}" for t, q in xs)
row = f"""
## Executor-fleet scaling run ({ts}, {docs} docs, mode={mode}, K independent 8-core pinned JVMs on disjoint physical cores, overlap-verified rounds, page-cache primed){note}

A cluster's N→4N multiplies executor JVMs, not threads in one heap. Per-JVM
8-core throughput when 2 and 4 such JVMs run concurrently on this box
(only rounds that overlapped every other JVM's rounds count):

| Metric | Value |
|---|---|
| solo 8-core JVM | {rate(t_solo):.0f} docs/s (T={t_solo:.2f}s; all: {", ".join(f"{t:.2f}" for t in solo["times"])}) |
| K=2 fleet, per-JVM | {fmt(k2)} docs/s — aggregate {sum(rate(t) for t, _ in k2):.0f} |
| K=4 fleet, per-JVM (32 busy cores) | {fmt(k4)} docs/s — aggregate {sum(rate(t) for t, _ in k4):.0f} |
| fleet efficiency 1→2 JVMs | {eff2:.3f} |
| fleet efficiency 1→4 JVMs (the N→4N executor analog) | {eff4:.3f} (gate ≥ 0.8) |
"""
open("BASELINE.md", "a").write(row)
print(json.dumps({"mode": mode, "docs": docs, "t_solo": t_solo,
                  "k2": [t for t, _ in k2], "k4": [t for t, _ in k4],
                  "fleet_eff_2": round(eff2, 3), "fleet_eff_4": round(eff4, 3)}))
EOF
