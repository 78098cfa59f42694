#!/bin/bash
# A/B benchmark of this working tree against a base revision:
#
#   tools/bench_ab.sh <base-rev> <workload> [rounds=10] [seed=1] [trace=0]
#
# Exports <base-rev> (git archive) under ${TMPDIR:-/tmp}, then runs
# `python3 perfbench/run.py --workload W --seed S --seconds 20` once on
# each side per round, alternating which side goes first. Prints one line
# per run, then per end-to-end metric: each side's median, the base's
# quartiles, the ratio change/base and, for the metrics BENCHMARK.json
# lists, the rounds the change won and a verdict against the metric's
# `bound` (the first that holds):
#   worse       the change median is worse than the base median by more
#               than the bound;
#   unresolved  the base's IQR/median exceeds the bound and not every
#               change run beats every base run;
#   gain        at least 10 pairs ran, the change won at least 90% of
#               them and the medians differ by more than the base IQR
#               (the quartiles of fewer runs do not measure spread);
#   ok          otherwise.
# Each side builds its own engine into its .bench_build/ on its first
# run, outside the timed window. With trace=1 each side ends with one
# `--trace 1` run, and the two sides' per-layer values are printed next
# to each other. Exits 1 when a run
# reported no result or failed one of perfbench's checks.
set -euo pipefail
cd "$(dirname "$0")/.."
if [ $# -lt 2 ]; then
  echo "usage: tools/bench_ab.sh <base-rev> <workload> [rounds=10] [seed=1] [trace=0]" >&2
  exit 2
fi
BASE=$1 WORKLOAD=$2 ROUNDS=${3:-10} SEED=${4:-1} TRACE=${5:-0}
case "$TRACE" in 0|1) ;; *) echo "trace must be 0 or 1" >&2; exit 2 ;; esac
HEAD_DIR=$(pwd)
WORK=$(mktemp -d "${TMPDIR:-/tmp}/bench_ab.XXXXXX")
trap 'rm -rf "$WORK"' EXIT
mkdir "$WORK/base"
git archive "$BASE" | tar -x -C "$WORK/base"

run() { # side checkout round [trace]
  local log="$WORK/$1_$3.log" out
  out=$(cd "$2" && python3 perfbench/run.py --workload "$WORKLOAD" \
    --seed "$SEED" --seconds 20 --trace "${4:-0}" 2>"$log" | tail -1) || true
  if [ -z "$out" ]; then
    tail -20 "$log" >&2
    out='{}'
  fi
  printf '%s\t%s\t%s\n' "$1" "$3" "$out" >>"$WORK/${5:-results}.tsv"
  printf '%s round %s: %s\n' "$1" "$3" "$out" >&2
}

for r in $(seq 1 "$ROUNDS"); do
  if [ $((r % 2)) -eq 1 ]; then
    run base "$WORK/base" "$r"; run change "$HEAD_DIR" "$r"
  else
    run change "$HEAD_DIR" "$r"; run base "$WORK/base" "$r"
  fi
done
if [ "$TRACE" -eq 1 ]; then
  run base "$WORK/base" trace 1 traced; run change "$HEAD_DIR" trace 1 traced
fi

python3 - "$WORK/results.tsv" "$BASE" "$WORKLOAD" "$SEED" "$WORK/traced.tsv" <<'EOF'
import json, os, statistics, sys
path, base, workload, seed, traced = sys.argv[1:]
runs = {"base": {}, "change": {}}
for line in open(path):
    side, rnd, out = line.rstrip("\n").split("\t", 2)
    runs[side][rnd] = json.loads(out)
e2e = {m["name"]: m for m in json.load(open("BENCHMARK.json"))["end_to_end"]}

def value(r, k):
    m = r.get("metrics", {}).get(k)
    return None if m is None else m["value"]

def quartiles(vals):
    return statistics.quantiles(vals, n=4) if len(vals) > 1 else [vals[0]] * 3

print("%s seed %s: base %s vs this tree, %d rounds" % (workload, seed, base, len(runs["base"])))
print("%-16s %10s %22s %10s %7s %6s %10s"
      % ("metric", "base", "base q1..q3", "change", "ratio", "won", "verdict"))
names = sorted({k for rs in runs.values() for r in rs.values() for k in r.get("metrics", {})})
for k in names:
    vals = {s: [v for v in (value(r, k) for r in rs.values()) if v is not None]
            for s, rs in runs.items()}
    if not vals["base"] or not vals["change"]:
        continue
    mb, mc = statistics.median(vals["base"]), statistics.median(vals["change"])
    q1, _, q3 = quartiles(vals["base"])
    won = verdict = "-"
    if k in e2e:
        pairs = [(value(runs["base"][r], k), value(runs["change"][r], k))
                 for r in runs["base"] if r in runs["change"]]
        pairs = [(b, c) for b, c in pairs if b is not None and c is not None]
        sign = 1 if e2e[k]["better"] == "higher" else -1
        wins = sum(1 for b, c in pairs if sign * (c - b) > 0)
        won = "%d/%d" % (wins, len(pairs))
        bound = e2e[k]["bound"]
        if mb and sign * (mc - mb) / mb < -bound:
            verdict = "worse"
        elif q3 - q1 > bound * abs(mb) and not all(
                sign * (c - b) > 0 for c in vals["change"] for b in vals["base"]):
            verdict = "unresolved"
        elif len(pairs) >= 10 and wins >= 0.9 * len(pairs) and abs(mc - mb) > q3 - q1:
            verdict = "gain"
        else:
            verdict = "ok"
    print("%-16s %10.4f %10.4f..%-10.4f %10.4f %7.3f %6s %10s"
          % (k, mb, q1, q3, mc, mc / mb if mb else float("nan"), won, verdict))
# the per-layer evidence of one traced run per side
if os.path.exists(traced):
    tr = {}
    for line in open(traced):
        side, _, out = line.rstrip("\n").split("\t", 2)
        tr[side] = json.loads(out)
        runs[side]["trace"] = tr[side]
    print("traced run, one per side")
    print("%-30s %12s %12s" % ("layer", "base", "change"))
    for k in ("relationscoring.score_s", "relationscoring.edges_scored", "kgpipeline.pairs",
              "kgpipeline.pairs_skipped", "depgraph.parse_s", "textops.segment_s",
              "trace.coverage"):
        cells = [value(tr.get(s, {}), k) for s in ("base", "change")]
        print("%-30s %12s %12s" % (k, *("-" if v is None else "%.4f" % v for v in cells)))
bad = {s: sum(1 for r in rs.values() if not r.get("correct")) for s, rs in runs.items()}
print("runs with a failed check or no result: base %d, change %d" % (bad["base"], bad["change"]))
sys.exit(1 if any(bad.values()) else 0)
EOF
