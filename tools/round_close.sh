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
for f in BENCH_r*.json CORRECTNESS_r*.json PERF_r*.json VERIFY_r*.json \
         BENCH_FULL.json BENCH_FULL.meta.json LEAKCHECK.json COPYCHECK.json \
         SCALE_PROBE.json DUCKDB_BASELINE.json CORRECTNESS_RETAIN.json \
         VERDICT.md ADVICE.md; do
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
