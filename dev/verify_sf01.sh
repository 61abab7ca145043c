#!/usr/bin/env bash
# sf0.1 oracle tier — the FULL registry (round-19 verdict #1: the
# spot-check list covered 82/281 queries; everything else was
# hash-proven only at ~60k-row sf0.01, where a driver-side cliff or a
# skew bucket never shows). Every registered query now runs at 10x the
# driver's correctness scale and is diffed against DuckDB on the same
# sf0.1 tables — the cheapest honest 100x-safety evidence the box can
# produce.
#
# Usage: dev/verify_sf01.sh [round-tag]
#   SPARK_GRAFT_ONLY=q1,q2  restrict to a subset (dev loop only — the
#                           committed artifact must be the full run)
# Writes CORRECTNESS_SF01[_<tag>].json at the repo root.
set -euo pipefail
cd "$(dirname "$0")/.."

TAG="${1:-}"
OUT="/tmp/verify_sf01_out"
ARTIFACT="CORRECTNESS_SF01${TAG:+_$TAG}.json"

# A stale $OUT would let compare.py grade a PREVIOUS run's dumps as
# this run's, and a swallowed Verify failure would commit a green
# artifact for code that no longer produces that output — clean first,
# fail loudly, and only then compare.
rm -rf "$OUT"
echo "[sf01] running Verify at sf0.1 (full registry)..."
LOG="$(mktemp)"
if ! sbt -batch "runMain graft.Verify /root/testdata/sf0.1 $OUT" \
    > "$LOG" 2>&1; then
  echo "[sf01] Verify FAILED — no artifact written. Tail of log:"
  tail -30 "$LOG"
  exit 1
fi
grep -E "\[verify\].*failed" "$LOG" && {
  echo "[sf01] per-query failures above — no artifact written."; exit 1; }
rm -f "$LOG"

echo "[sf01] comparing against DuckDB..."
python3 dev/compare.py /root/testdata/sf0.1 "$OUT" --json "$ARTIFACT"
