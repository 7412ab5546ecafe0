#!/usr/bin/env bash
# Round-close convention, ONE command (r17 verdict: the sf1 sweep and
# the bench-close discipline must not depend on remembering them):
#
#   1. Verify + selfcheck at sf0.01 — every registry lane against its
#      DuckDB oracle (the driver's t2 gate, mimicked locally).
#   2. sf1 sweep — build the derived 10x dataset if absent, Verify at
#      sf1, sf1_check with ZERO skips asserted: an ORACLE_TIMEOUT is a
#      broken gate here (mirrors exist for the known replay
#      pathologies; a new timeout means a new one is needed).
#   3. Bench at sf0.1 — Bench itself enforces the same-sha close:
#      the spread gate runs a tie-break pass when the pair spans
#      >1.3x, and this script re-runs until closing_sha_runs >= 2.
#
# Exits nonzero at the first broken gate. Result lines land in
# $OUT/summary.txt for the round's NOTES entry.
set -euo pipefail
cd "$(dirname "$0")/.."
SF001=${SF001:-/root/testdata/sf0.01}
SF01=${SF01:-/root/testdata/sf0.1}
SF1DIR=${SF1DIR:-/tmp/graft_sf1}
OUT=${OUT:-/tmp/graft_roundclose}
CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}
rm -rf "$OUT"; mkdir -p "$OUT"
summary() { echo "$@" | tee -a "$OUT/summary.txt"; }

summary "== [1/3] Verify + selfcheck @ $SF001"
SPARK_GRAFT_CPUS=$CPUS sbt -batch "runMain graft.Verify $SF001 $OUT/verify" \
  > "$OUT/verify.log" 2>&1
python3 tools/selfcheck.py "$SF001" "$OUT/verify" > "$OUT/selfcheck.log"
summary "$(tail -1 "$OUT/selfcheck.log")"

summary "== [2/3] sf1 sweep (zero skips asserted)"
if [ ! -f "$SF1DIR/events.parquet" ]; then
  summary "building sf1 at $SF1DIR from $SF01"
  python3 tools/sf1_build.py "$SF01" "$SF1DIR" >> "$OUT/summary.txt"
fi
SPARK_GRAFT_CPUS=$CPUS sbt -batch "runMain graft.Verify $SF1DIR $OUT/verify_sf1" \
  > "$OUT/verify_sf1.log" 2>&1
python3 tools/sf1_check.py "$SF1DIR" "$OUT/verify_sf1" > "$OUT/sf1_check.log"
summary "$(tail -1 "$OUT/sf1_check.log")"
tail -1 "$OUT/sf1_check.log" | grep -q ", 0 oracle-timeout" || {
  summary "GATE BROKEN: sf1 sweep has oracle timeouts (a replay mirror is missing)"
  exit 1
}

summary "== [3/3] bench @ $SF01 (same-sha close, spread-gated)"
for pass in 1 2 3; do
  SPARK_GRAFT_SF_DIR=$SF01 SPARK_GRAFT_CPUS=$CPUS \
    sbt -batch "runMain graft.Bench" 2> "$OUT/bench$pass.err" \
    | grep -o '{"metric".*' > "$OUT/bench$pass.json"
  runs=$(python3 -c "import json;print(json.load(open('$OUT/bench$pass.json'))['closing_sha_runs'])")
  spread=$(python3 -c "import json;print(json.load(open('$OUT/bench$pass.json'))['closing_sha_spread'])")
  summary "bench pass $pass: $(python3 -c "
import json; d=json.load(open('$OUT/bench$pass.json'))
print('value', d['value'], 'this_run', d['this_run_sec'],
      'closing_sha_runs', d['closing_sha_runs'],
      'closing_sha_spread', d['closing_sha_spread'], 'failed', d['failed'])")"
  if [ "$runs" -ge 2 ]; then break; fi
done
[ "$runs" -ge 2 ] || { summary "GATE BROKEN: closing_sha_runs < 2"; exit 1; }
summary "== round-close gates green"
