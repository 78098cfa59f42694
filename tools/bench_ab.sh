#!/bin/bash
# A/B benchmark of this working tree against a base revision:
#
#   tools/bench_ab.sh <base-rev> <workload> [rounds=10] [seed=1] [traces=0]
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
# run, outside the timed window. With traces=N > 0 the rounds are followed
# by N `--trace 1` runs per side, again alternating which side goes
# first, and the per-layer metrics BENCHMARK.json lists get the same
# table: medians, base quartiles, ratio, pairs won and verdict. Per-layer
# metrics declare no bound; their verdict uses 0.25, the bound of most
# end-to-end metrics. Fewer than 10 traced pairs never read `gain`.
# Exits 1 when a run reported no result or failed one of perfbench's
# checks.
set -euo pipefail
cd "$(dirname "$0")/.."
if [ $# -lt 2 ]; then
  echo "usage: tools/bench_ab.sh <base-rev> <workload> [rounds=10] [seed=1] [traces=0]" >&2
  exit 2
fi
BASE=$1 WORKLOAD=$2 ROUNDS=${3:-10} SEED=${4:-1} TRACES=${5:-0}
case "$TRACES" in ''|*[!0-9]*) echo "traces must be a run count" >&2; exit 2 ;; esac
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

rounds() { # count trace results
  for r in $(seq 1 "$1"); do
    if [ $((r % 2)) -eq 1 ]; then
      run base "$WORK/base" "$r" "$2" "$3"; run change "$HEAD_DIR" "$r" "$2" "$3"
    else
      run change "$HEAD_DIR" "$r" "$2" "$3"; run base "$WORK/base" "$r" "$2" "$3"
    fi
  done
}
rounds "$ROUNDS" 0 results
rounds "$TRACES" 1 traced

python3 - "$WORK/results.tsv" "$BASE" "$WORKLOAD" "$SEED" "$WORK/traced.tsv" <<'EOF'
import json, os, statistics, sys
path, base, workload, seed, traced = sys.argv[1:]
bench = json.load(open("BENCHMARK.json"))

def load(p):
    runs = {"base": {}, "change": {}}
    if os.path.exists(p):
        for line in open(p):
            side, rnd, out = line.rstrip("\n").split("\t", 2)
            runs[side][rnd] = json.loads(out)
    return runs

def value(r, k):
    m = r.get("metrics", {}).get(k)
    return None if m is None else m["value"]

def quartiles(vals):
    return statistics.quantiles(vals, n=4) if len(vals) > 1 else [vals[0]] * 3

# per metric: each side's median, the base quartiles, the ratio and, for
# the metrics `spec` lists, the pairs won and the verdict
def table(runs, spec, only_spec):
    print("%-30s %10s %22s %10s %7s %6s %10s"
          % ("metric", "base", "base q1..q3", "change", "ratio", "won", "verdict"))
    names = sorted({k for rs in runs.values() for r in rs.values() for k in r.get("metrics", {})})
    for k in names:
        if only_spec and k not in spec:
            continue
        vals = {s: [v for v in (value(r, k) for r in rs.values()) if v is not None]
                for s, rs in runs.items()}
        if not vals["base"] or not vals["change"]:
            continue
        mb, mc = statistics.median(vals["base"]), statistics.median(vals["change"])
        q1, _, q3 = quartiles(vals["base"])
        won = verdict = "-"
        if k in spec:
            pairs = [(value(runs["base"][r], k), value(runs["change"][r], k))
                     for r in runs["base"] if r in runs["change"]]
            pairs = [(b, c) for b, c in pairs if b is not None and c is not None]
            sign = 1 if spec[k]["better"] == "higher" else -1
            wins = sum(1 for b, c in pairs if sign * (c - b) > 0)
            won = "%d/%d" % (wins, len(pairs))
            bound = spec[k].get("bound", 0.25)
            if mb and sign * (mc - mb) / mb < -bound:
                verdict = "worse"
            elif q3 - q1 > bound * abs(mb) and not all(
                    sign * (c - b) > 0 for c in vals["change"] for b in vals["base"]):
                verdict = "unresolved"
            elif len(pairs) >= 10 and wins >= 0.9 * len(pairs) and abs(mc - mb) > q3 - q1:
                verdict = "gain"
            else:
                verdict = "ok"
        print("%-30s %10.4f %10.4f..%-10.4f %10.4f %7.3f %6s %10s"
              % (k, mb, q1, q3, mc, mc / mb if mb else float("nan"), won, verdict))

runs, truns = load(path), load(traced)
print("%s seed %s: base %s vs this tree, %d rounds" % (workload, seed, base, len(runs["base"])))
table(runs, {m["name"]: m for m in bench["end_to_end"]}, False)
if truns["base"] or truns["change"]:
    print("per-layer metrics, %d traced runs per side" % len(truns["base"]))
    table(truns, {m["name"]: m for m in bench["per_layer"]}, True)
bad = {s: sum(1 for rs in (runs, truns) for r in rs[s].values() if not r.get("correct"))
       for s in ("base", "change")}
print("runs with a failed check or no result: base %d, change %d" % (bad["base"], bad["change"]))
sys.exit(1 if any(bad.values()) else 0)
EOF
