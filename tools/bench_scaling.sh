#!/bin/bash
# Scaling-efficiency evidence (north_rule: N -> 4N executors >= 0.8),
# sandbox proxy per driver instruction: the same job at two parallelism
# levels on identical input: nproc/4 and nproc cores. Each level runs in
# its OWN JVM pinned to that many physical cores (taskset) — the honest
# stand-in for a separate cluster size; a shared JVM lets the small run
# borrow every core for GC/JIT and contaminates the ratio.
set -euo pipefail
cd "$(dirname "$0")/.."
NCONVS=${1:-200000}
TURNS=${2:-5}

run() { # cores cpulist
  taskset -c "$2" env SPARK_DRIVER_MEM=40g \
    sbt -batch "runMain graft.BenchScaling $NCONVS $TURNS $1" 2>&1 \
    | grep -o '{"metric":"scaling_efficiency".*}' | tail -1
}

HI=$(nproc)
LO=$(( HI / 4 > 0 ? HI / 4 : 1 ))
JLO=$(run "$LO" "0-$((LO - 1))")
JHI=$(run "$HI" "0-$((HI - 1))")
python3 - "$JLO" "$JHI" "$LO" "$HI" <<'EOF'
import json, sys
jlo, jhi = json.loads(sys.argv[1]), json.loads(sys.argv[2])
lo, hi = sys.argv[3], sys.argv[4]
tlo = jlo["turns_per_sec"][lo]; thi = jhi["turns_per_sec"][hi]
eff = (thi / tlo) / (int(hi) / int(lo))
n = jlo["turns"]
out = {"metric": "scaling_efficiency", "turns": n,
       f"turns_per_sec_{lo}": tlo, f"turns_per_sec_{hi}": thi,
       f"efficiency_{lo}_to_{hi}": eff}
print(json.dumps(out))
with open("BENCH.md", "a") as f:
    f.write(f"\n| {n} | {tlo:.0f} | {thi:.0f} | {eff:.3f} |\n")
EOF
