#!/bin/bash
# Scaling-efficiency measurement: the same extraction job at N and 4N cores,
# each level in its OWN JVM pinned to exactly that many CPUs (taskset) with
# -XX:ActiveProcessorCount=N — the faithful local analog of an N-core
# executor container. Interleaves level invocations to cancel host drift,
# takes the min per level, appends the measured rows to BASELINE.md.
#
# Usage: bench/scaling.sh [N=8] [nDocs=400000] [reps=2] [roundsPerRep=2]
set -euo pipefail
cd "$(dirname "$0")/.."
N=${1:-8}; DOCS=${2:-400000}; REPS=${3:-2}; ROUNDS=${4:-2}
H=$((N * 4))
LOG=/tmp/graft_scaling_sh.log
: > $LOG

sbt -batch "runMain graft.ScalingBench gen $DOCS" >> $LOG 2>&1

run_level() { # cores
  local c=$1
  taskset -c 0-$((c - 1)) env SPARK_GRAFT_PROCS=$c SPARK_DRIVER_MEM=16g \
    sbt -batch "runMain graft.ScalingBench measure $c $ROUNDS" 2>>$LOG \
    | grep GRAFT_TIMES | sed 's/^.*GRAFT_TIMES //'
}

RESULTS=/tmp/graft_scaling_results.jsonl
: > $RESULTS
for i in $(seq 1 "$REPS"); do
  run_level "$N" >> $RESULTS
  run_level "$H" >> $RESULTS
done

python3 - "$N" "$H" <<'EOF'
import json, sys
n, h = int(sys.argv[1]), int(sys.argv[2])
rows = [json.loads(l) for l in open("/tmp/graft_scaling_results.jsonl")]
docs = rows[0]["docs"]
lo = [t for r in rows if r["cores"] == n for t in r["times"]]
hi = [t for r in rows if r["cores"] == h for t in r["times"]]
t1, t4 = min(lo), min(hi)
eff = (t1 / t4) / 4
import datetime
ts = datetime.datetime.utcnow().isoformat() + "Z"
row = f"""
## Measured scaling run ({ts}, {docs} docs, pinned JVMs via taskset+ActiveProcessorCount, min over {len(lo)} runs/level, tmpfs sink)

| Metric | Value |
|---|---|
| docs/sec @ local[{n}] ({n} pinned CPUs) | {docs/t1:.1f} (T={t1:.2f}s; all: {", ".join(f"{t:.2f}" for t in lo)}) |
| docs/sec @ local[{h}] ({h} pinned CPUs) | {docs/t4:.1f} (T={t4:.2f}s; all: {", ".join(f"{t:.2f}" for t in hi)}) |
| scaling efficiency (T_N/T_4N)/4 | {eff:.3f} (gate >= 0.8) |
"""
open("BASELINE.md", "a").write(row)
print(json.dumps({"docs": docs, "n": n, "t_low": t1, "t_high": t4,
                  "docs_per_sec_low": docs/t1, "docs_per_sec_high": docs/t4,
                  "scaling_efficiency": round(eff, 3)}))
EOF
