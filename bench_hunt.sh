#!/bin/bash
# Quiet-window bench hunt: produce the ADJUDICATING perf artifact on a
# VM with intermittent hypervisor steal (observed 0.2-3%, swinging
# minute-to-minute).  BENCH_DETAIL.json / BENCH_PROBE.json self-label
# quietness (load1 <= 1.0 before, psi60 <= 0.1, run steal <= 1%); only
# a quiet-true artifact adjudicates per-query deltas, so this loop
#   1. waits for a genuinely idle window (fresh load1 < 0.6 AND a
#      30 s /proc/stat steal delta < 0.4% - stricter than the gates,
#      because one mid-run burst flips the verdict),
#   2. runs the bench,
#   3. keeps the artifact only if it self-labels quiet-true, else
#      restores the committed copy (never leave a tainted artifact in
#      the tree) and retries.
#
# Usage:
#   ./bench_hunt.sh            # headline run -> BENCH_DETAIL.json
#   ./bench_hunt.sh probe      # probe tier   -> BENCH_PROBE.json
#
# Discipline:
# - Do not run tests or other Spark jobs while this hunts; they spoil
#   the window.  After a pytest run, load1 needs ~3 min to decay.
# - Kill leftover hunts from earlier sessions first (pgrep -f bench_hunt).
# - Read load1 AFTER the steal window, immediately before launching -
#   a pre-sleep reading is stale and has cost an attempt before.
# - cpu_sec / cpu_ratio make single-run adjudication possible (wall
#   up + CPU flat = contention); the quiet label still gates which
#   run is the artifact of record.
set -u
cd "$(dirname "$0")"
MODE="${1:-all}"
case "$MODE" in
  all)   ARTIFACT=BENCH_DETAIL.json ;;
  probe) ARTIFACT=BENCH_PROBE.json ;;
  *) echo "usage: $0 [all|probe]" >&2; exit 2 ;;
esac
BAK=$(mktemp /tmp/bench_hunt_bak.XXXXXX)
cp "$ARTIFACT" "$BAK" 2>/dev/null || true
steal_frac() {
  read -r _ a b c d e f g h _ < /proc/stat
  local t0=$((a+b+c+d+e+f+g+h)) s0=$h
  sleep 30
  read -r _ a b c d e f g h _ < /proc/stat
  local t1=$((a+b+c+d+e+f+g+h)) s1=$h
  python3 -c "print(($s1-$s0)/max(1,($t1-$t0)))"
}
for attempt in 1 2 3 4 5 6 7 8; do
  echo "=== attempt $attempt $(date +%T)"
  while :; do
    sf=$(steal_frac)
    l1=$(cut -d' ' -f1 /proc/loadavg)   # fresh: read AFTER the window
    ok=$(python3 -c "print(int($sf < 0.004 and $l1 < 0.6))")
    echo "probe steal=$sf load1=$l1 ok=$ok $(date +%T)"
    [ "$ok" = 1 ] && break
    sleep 45
  done
  if [ "$MODE" = probe ]; then
    python bench.py probe
  else
    python bench.py
  fi
  v=$(python3 -c "import json;print(json.load(open('$ARTIFACT'))['quiet']['verdict'])")
  echo "attempt $attempt quiet.verdict=$v"
  if [ "$v" = "True" ]; then
    echo "QUIET TRUE on attempt $attempt"
    rm -f "$BAK"
    exit 0
  fi
  [ -s "$BAK" ] && cp "$BAK" "$ARTIFACT"
done
echo "NO QUIET RUN in 8 attempts"
exit 1
