#!/bin/bash
# Auto-retrying quiet-window bench (tools/bench_gate.md's canary recipe,
# automated): wait until the host canary is quiet, run the full graft.Bench,
# and KEEP the artifact only if the emitted line's own canary fields are
# also quiet (<= 0.032 on both engines) — the r8 verdict's re-certification
# rule. On success writes the one-line JSON to $OUT and snapshots
# BENCH_DETAIL.json (which every full run overwrites, including degraded
# ones) to ${OUT%.json}_detail.json.
#
# Usage: tools/bench_quiet.sh [max_attempts] [out_json]
# Bench runs on every core of the host (nproc).
set -u
MAX=${1:-8}
OUT=${2:-/tmp/BENCH_QUIET.json}
. "$(dirname "$0")/canary.sh"
BAR=$CANARY_BAR

# pin self-defense v2's record trigger to the COMMITTED detail before the
# first run: every full Bench run overwrites BENCH_DETAIL.json, so without
# a snapshot the "record" would degrade to whatever the previous (possibly
# degraded) attempt wrote. Prefer the git-committed copy (same source
# Bench itself reads) and fall back to the working tree outside a git
# checkout; either way the snapshot is immutable across the loop's runs.
REC=/tmp/bench_quiet_record_$$.json
if git show HEAD:BENCH_DETAIL.json > "$REC" 2>/dev/null && [ -s "$REC" ]; then
  export SPARK_GRAFT_RECORD="$REC"
elif [ -f BENCH_DETAIL.json ]; then
  cp BENCH_DETAIL.json "$REC"
  export SPARK_GRAFT_RECORD="$REC"
fi

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
  if ! awk -v d="$disp" 'BEGIN{exit !(d <= 1.25)}'; then
    echo "[bench_quiet] attempt $i wall dispersion $disp > 1.25, retrying"
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
