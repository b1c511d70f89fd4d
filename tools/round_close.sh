#!/usr/bin/env bash
# Round-close artifact commit. The bench and correctness runs drop
# BENCH_r*/CORRECTNESS_r*/PERF_r*/VERIFY_r* (and refresh BENCH_FULL/
# LEAKCHECK/SCALE_PROBE) into the work tree without committing them.
# Run this once at the end of a round to fold every measurement artifact
# into one commit:
#
#   tools/round_close.sh [round-number]
#
# Each artifact that exists is staged on its own, so a missing or ignored
# one never keeps the others out; a failing `git add` stops the script.
# Idempotent: commits only when something is staged.
set -euo pipefail
cd "$(dirname "$0")/.."
round="${1:-}"
shopt -s nullglob
# BENCH_FULL.json must be the full run its meta describes. Refuse to
# stage anything when the record
#   - timed fewer queries than the catalog has (the most any BENCH_r*.json
#     run timed): a SPARK_GRAFT_ONLY subset, for instance;
#   - names another sf, or another core count, than the meta;
#   - has the total of a BENCH_r*.json run made on a different core count
#     than the meta names (an 8-core leg filed under a 32-core meta).
if [ -f BENCH_FULL.json ] && [ -f BENCH_FULL.meta.json ]; then
  python3 - BENCH_r*.json <<'PY'
import json, sys
rec = json.load(open("BENCH_FULL.json"))
meta = json.load(open("BENCH_FULL.meta.json"))
value, cpus = rec["value"], meta.get("cpus")
runs = {f: json.load(open(f)) for f in sys.argv[1:]}
def refuse(why):
    sys.exit(f"[round_close] BENCH_FULL.json ({value} s) {why}; "
             "restore the matching record or re-stamp the meta")
catalog = max(((r.get("parsed") or {}).get("n_queries") or 0 for r in runs.values()), default=0)
if (rec.get("n_queries") or 0) < catalog:
    refuse(f"timed {rec.get('n_queries')} queries, but the catalog has {catalog}")
if rec.get("sf") != meta.get("sf"):
    refuse(f"was run on {rec.get('sf')}, but BENCH_FULL.meta.json says sf={meta.get('sf')}")
if "cpus" in rec and rec["cpus"] != cpus:
    refuse(f"was run on {rec['cpus']} cores, but BENCH_FULL.meta.json says cpus={cpus}")
for f, r in runs.items():
    if (r.get("parsed") or {}).get("value") == value and r.get("cpus") != cpus:
        refuse(f"is the total of {f}, a {r.get('cpus')}-core run, "
               f"but BENCH_FULL.meta.json says cpus={cpus}")
PY
fi
for f in BENCH_r*.json CORRECTNESS_r*.json PERF_r*.json VERIFY_r*.json \
         BENCH_FULL.json BENCH_FULL.meta.json LEAKCHECK.json COPYCHECK.json \
         SCALE_PROBE.json DUCKDB_BASELINE.json CORRECTNESS_RETAIN.json \
         VERDICT.md ADVICE.md; do
  [ -e "$f" ] || continue
  if git check-ignore -q -- "$f"; then
    echo "[round_close] skipping ignored $f"
  else
    git add -- "$f"
  fi
done
if git diff --cached --quiet; then
  echo "[round_close] nothing to commit"
else
  msg="round${round:+ $round}: measurement artifacts"
  git commit -q -m "$msg"
  echo "[round_close] committed: $(git log --oneline -1)"
fi
