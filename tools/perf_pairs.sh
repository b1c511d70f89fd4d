#!/usr/bin/env bash
# Paired product-path benchmark: runs perfbench on two checkouts of the
# program, alternately, one pair per seed, and summarises the pairs.
#
#   tools/perf_pairs.sh <parent-checkout> <change-checkout> <workload> <seed>...
#
# Each run lasts the `run_seconds` that BENCHMARK.json sets.
#
# Environment:
#   PERF_TRACE    0 for the end-to-end metrics, 1 for the per-layer trace (default 0)
#   PERF_OUT      JSONL file the results are appended to
#                 (default perf_pairs_<workload>.jsonl in the current directory)
#
# Each seed runs on both sides back to back; the side that goes first
# alternates from seed to seed, so drift on the host falls on both sides.
# Every result is appended to PERF_OUT as one line
# {"side", "seed", "workload", "trace", "result"}. At the end, for each
# metric, the script prints each side's median and quartiles over the
# seeds given and the number of pairs the change won (lower wins unless
# BENCHMARK.json marks the metric "higher"), then two verdicts:
#   gain rule   the change won at least 9/10 of the pairs and its median
#               is better than the parent's by more than the distance
#               between the parent's quartiles
#   bound rule  (metrics with a `bound` in BENCHMARK.json) the change's
#               median is no worse than the parent's by more than the
#               bound: at most parent x (1 + bound) when lower is better
# A run that fails is recorded with "result": null and its pair is left
# out of the summary.
# The script only calls perfbench/run.py; it changes nothing in either
# checkout beyond what a perfbench run itself writes.
set -euo pipefail

if [ $# -lt 4 ]; then
  sed -n '2,12p' "$0" >&2
  exit 2
fi
parent=$(cd "$1" && pwd)
change=$(cd "$2" && pwd)
workload=$3
shift 3
seconds=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$change/BENCHMARK.json")
trace=${PERF_TRACE:-0}
out=$(realpath -m "${PERF_OUT:-perf_pairs_${workload}.jsonl}")

run_side() { # side dir seed
  local side=$1 dir=$2 seed=$3 line
  echo "[perf_pairs] $workload seed $seed: $side" >&2
  if line=$(cd "$dir" && python3 perfbench/run.py --workload "$workload" --seed "$seed" \
      --seconds "$seconds" --trace "$trace" 2>>"$out.log" | tail -n 1) && [ -n "$line" ]; then
    :
  else
    line=null
  fi
  printf '{"side":"%s","seed":%s,"workload":"%s","trace":%s,"result":%s}\n' \
    "$side" "$seed" "$workload" "$trace" "$line" >>"$out"
}

i=0
for seed in "$@"; do
  if [ $((i % 2)) -eq 0 ]; then
    run_side parent "$parent" "$seed"; run_side change "$change" "$seed"
  else
    run_side change "$change" "$seed"; run_side parent "$parent" "$seed"
  fi
  i=$((i + 1))
done

python3 - "$out" "$workload" "$trace" "$change/BENCHMARK.json" "$@" <<'EOF'
import json, statistics, sys

out, workload, trace, bench = sys.argv[1], sys.argv[2], int(sys.argv[3]), sys.argv[4]
seeds = [int(s) for s in sys.argv[5:]]
with open(bench) as f:
    b = json.load(f)
higher = {m["name"] for m in b["end_to_end"] + b["per_layer"] if m.get("better") == "higher"}
bounds = {m["name"]: m["bound"] for m in b["end_to_end"] + b["per_layer"] if "bound" in m}

runs = {}
with open(out) as f:
    for line in f:
        r = json.loads(line)
        if r["workload"] == workload and r["trace"] == trace and r["seed"] in seeds:
            runs[(r["side"], r["seed"])] = r["result"]  # the latest run of a seed counts

pairs = [s for s in seeds if runs.get(("parent", s)) and runs.get(("change", s))]
failed = len(seeds) - len(pairs)
bad = [f"{side} seed {s}" for s in pairs for side in ("parent", "change")
       if not runs[(side, s)]["correct"] or runs[(side, s)]["failed"]]
print(f"{workload}, trace {trace}: {len(pairs)} pairs"
      + (f", {failed} left out (a run failed)" if failed else "")
      + (f"; NOT CORRECT: {', '.join(bad)}" if bad else "; every run correct, 0 failed"))

def quartiles(xs):
    return statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3

def quart(xs):
    q = quartiles(xs)
    return f"{statistics.median(xs):.4g} [{q[0]:.4g}-{q[2]:.4g}]"

def verdict(ok):
    return "holds" if ok else "FAILS"

names = []
for s in pairs:
    for n in runs[("change", s)]["metrics"]:
        if n not in names:
            names.append(n)
for n in names:
    both = [s for s in pairs if n in runs[("parent", s)]["metrics"]]
    if not both:
        continue
    p = [runs[("parent", s)]["metrics"][n]["value"] for s in both]
    c = [runs[("change", s)]["metrics"][n]["value"] for s in both]
    wins = sum((y > x) if n in higher else (y < x) for x, y in zip(p, c))
    pm, cm = statistics.median(p), statistics.median(c)
    delta = f"{(cm - pm) / pm * 100:+.1f}%" if pm else "n/a"
    print(f"  {n}: parent {quart(p)} -> change {quart(c)} ({delta}), change better in {wins}/{len(both)}")
    q = quartiles(p)
    gap = (cm - pm) if n in higher else (pm - cm)
    print(f"    gain rule {verdict(wins >= 0.9 * len(both) and gap > q[2] - q[0])}: "
          f"won {wins}/{len(both)} (needs >= 9/10), median gap {gap:+.4g} "
          f"against the parent's quartile distance {q[2] - q[0]:.4g}")
    if n in bounds:
        limit = pm * (1 - bounds[n]) if n in higher else pm * (1 + bounds[n])
        ok = cm >= limit if n in higher else cm <= limit
        print(f"    bound rule {verdict(ok)}: change median {cm:.4g} "
              f"{'>=' if n in higher else '<='} {limit:.4g} (parent x {'1 -' if n in higher else '1 +'} {bounds[n]})")
EOF
