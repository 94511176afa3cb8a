#!/bin/bash
# Auto-retrying quiet-window bench (tools/bench_gate.md's canary recipe,
# automated): wait until the host canary is quiet, run the full graft.Bench,
# and KEEP the artifact only if the emitted line's own canary fields are
# also quiet (<= the bar on both engines) — the r8 verdict's re-certification
# rule. On success writes the one-line JSON to $OUT and snapshots
# BENCH_DETAIL.json (which every full run overwrites, including degraded
# ones) to ${OUT%.json}_detail.json. Bench's record trigger reads the
# committed BENCH_DETAIL.json through git itself, so the record cannot
# drift across this loop's runs.
#
# Usage: tools/bench_quiet.sh [max_attempts] [out_json]
# Bench runs on every core of the host (nproc).
set -u
MAX=${1:-8}
OUT=${2:-/tmp/BENCH_QUIET.json}
. "$(dirname "$0")/canary.sh"
BAR=$CANARY_BAR
# max/min across the kept attempt's wall passes; Bench.WallDispBar, pinned
# equal by BenchSpec
DISP_BAR=1.25

for i in $(seq 1 "$MAX"); do
  c=$(canary)
  echo "[bench_quiet] attempt $i/$MAX pre-canary $c"
  if ! awk -v c="$c" -v b="$BAR" 'BEGIN{exit !(c <= b)}'; then
    echo "[bench_quiet] host degraded, sleeping 120s"
    sleep 120
    continue
  fi
  # keep the FULL record (per-query map) for $OUT, not the trailing
  # compact bracket line Bench prints for the driver's tail window — the
  # pre-r18 artifact always carried "queries" and consumers read it
  # (r18 review finding); fall back to any metric line if the full one
  # is missing so the gate fields below still evaluate
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=$(nproc) \
    sbt -batch 'runMain graft.Bench' 2>&1 \
    | grep -o '{"metric".*' > /tmp/bench_quiet_lines.txt
  grep '"queries"' /tmp/bench_quiet_lines.txt | tail -1 > /tmp/bench_quiet_line.json
  [ -s /tmp/bench_quiet_line.json ] \
    || tail -1 /tmp/bench_quiet_lines.txt > /tmp/bench_quiet_line.json
  post=$(python3 -c "
import json
try:
    d = json.load(open('/tmp/bench_quiet_line.json'))
    print(max(d.get('canary', 9), d.get('canary_spark', 9)))
except Exception:
    print(9)")
  # self-defense v2: also reject a window whose kept attempt saw >25%
  # dispersion across its own wall runs (mid-suite burst the endpoint
  # canaries cannot see); -1 (unknown) passes — old artifacts lack the key
  disp=$(python3 -c "
import json
try:
    d = json.load(open('/tmp/bench_quiet_line.json'))
    print(d.get('wall_disp', -1))
except Exception:
    print(9)")
  if ! awk -v d="$disp" -v b="$DISP_BAR" 'BEGIN{exit !(d <= b)}'; then
    echo "[bench_quiet] attempt $i wall dispersion $disp > $DISP_BAR, retrying"
    sleep 60
    continue
  fi
  ratio=$(python3 -c "
import json
try:
    d = json.load(open('/tmp/bench_quiet_line.json'))
    print(round(d['value'] / d['duckdb_total'], 3))
except Exception:
    print(-1)")
  echo "[bench_quiet] attempt $i post-canary $post ratio $ratio"
  if awk -v c="$post" -v b="$BAR" 'BEGIN{exit !(c <= b)}'; then
    cp /tmp/bench_quiet_line.json "$OUT"
    cp BENCH_DETAIL.json "${OUT%.json}_detail.json" 2>/dev/null
    echo "[bench_quiet] QUIET artifact written to $OUT (ratio $ratio)"
    exit 0
  fi
  sleep 60
done
echo "[bench_quiet] no quiet window in $MAX attempts"
exit 1
