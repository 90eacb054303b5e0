#!/bin/bash
# Interleaved bench A/B between a base commit and the current checkout, all
# sessions inside ONE host window, so a per-query delta can be attributed
# to code rather than host contention.
#
# The base side is a detached local `git worktree` of BASE (default HEAD~1)
# under .worktrees/base, removed again on exit.
#
# Pattern: A B A B — each letter a full 2-pass graft.Bench session at sf0.1.
# Per-side record = per-query min folded across that side's 4 passes (the
# same de-noising rule as every BENCH_LOCAL record). Because the sessions
# interleave, any host-level contention hits both sides equally; a per-query
# delta that survives the fold is CODE, not host.
#
# Usage: bash tools/bench_ab.sh [base_commit] [out_prefix]
#        (defaults HEAD~1 and /tmp/ab; fold with tools/bench_ab_report.py)
set -e
BASE="${1:-HEAD~1}"
OUT="${2:-/tmp/ab}"
# run() cd's into each side's checkout, so a relative OUT silently points
# somewhere else (or nowhere) inside the worktree — force absolute
case "$OUT" in /*) ;; *) OUT="$(pwd)/$OUT" ;; esac
SF="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
REPO="$(git rev-parse --show-toplevel)"
BASE_DIR="$REPO/.worktrees/base"

git -C "$REPO" worktree remove --force "$BASE_DIR" 2>/dev/null || true
git -C "$REPO" worktree add --detach "$BASE_DIR" "$BASE"
trap 'git -C "$REPO" worktree remove --force "$BASE_DIR"' EXIT

# Both sides must COMPILE against the Spark jars the build names before any
# session burns time; set -e aborts here if either no longer builds. The
# shared-coverage check lives in bench_ab_report.py.
echo "[ab] pre-building base ($(git -C "$BASE_DIR" rev-parse --short HEAD)) and cur"
(cd "$BASE_DIR" && sbt -batch compile >/dev/null)
(cd "$REPO" && sbt -batch compile >/dev/null)

run() { # side dir iteration
  local side="$1" dir="$2" i="$3"
  echo "[ab] session ${side}${i} ($(date +%H:%M:%S))"
  # Bench exits non-zero when a query fails; keep the session's record
  (cd "$dir" && SPARK_GRAFT_SF_DIR="$SF" sbt -batch "runMain graft.Bench" \
    > "${OUT}_${side}${i}.log" 2>&1) || echo "[ab] session ${side}${i} had failures"
  cp "$dir/target/bench_times.json" "${OUT}_${side}${i}.json"
}

for i in 1 2; do
  run base "$BASE_DIR" "$i"
  run cur "$REPO" "$i"
done
echo "[ab] done: ${OUT}_{base,cur}{1,2}.json"
