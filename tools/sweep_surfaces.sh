#!/bin/bash
# Five-surface certification sweep (VERDICT r5 task 2): the full query
# registry, tuned + vanilla sessions x sf0.001/0.01/0.1. Oracle results
# cache per (SQL, data) so the vanilla legs re-run only the Spark side.
# Usage: bash tools/sweep_surfaces.sh [logdir]
set -u
REPO=$(cd "$(dirname "$0")/.." && pwd)
LOG=${1:-/tmp/sweep_r9}
# Round tag for the committed full-registry artifact: default to the
# short git sha so a re-run can never silently overwrite an artifact
# whose FILENAME claims a different round (ADVICE r8); set SWEEP_ROUND
# (e.g. r09) when producing the round-stamped committed name.
ROUND=${SWEEP_ROUND:-$(git -C "$REPO" rev-parse --short HEAD)}
mkdir -p "$LOG"
cd "$REPO"
run() {
  local name=$1; shift
  echo "=== $name start $(date +%H:%M:%S)"
  local t0=$(date +%s)
  "$@" > "$LOG/$name.log" 2>&1
  local rc=$?
  echo "$name $t0 $(date +%s)" >> "$LOG/times.txt"
  # Spark progress bars write \r-terminated fragments into the log;
  # normalize CR->LF before counting status lines
  echo "=== $name rc=$rc $(date +%H:%M:%S): $(tr '\r' '\n' < "$LOG/$name.log" | grep -cE '^PASS') pass, $(tr '\r' '\n' < "$LOG/$name.log" | grep -cE '^ok\?') rows-only, $(tr '\r' '\n' < "$LOG/$name.log" | grep -cE '^FAIL') fail, $(tail -1 "$LOG/$name.log")"
}
run tuned_sf001    env CHECK_SF_DIR=/root/testdata/sf0.001 python tools/check_oracle.py
# the tuned sf0.01 leg doubles as the committed full-registry
# correctness artifact in the driver's row shape (VERDICT r7 task 7)
run tuned_sf01     python tools/check_oracle.py --json "certification/oracle_full_${ROUND}.json"
run vanilla_sf01   python tools/check_oracle.py --vanilla
run tuned_sf1      env CHECK_SF_DIR=/root/testdata/sf0.1 python tools/check_oracle.py
run vanilla_sf1    env CHECK_SF_DIR=/root/testdata/sf0.1 python tools/check_oracle.py --vanilla
# machine-readable evidence goes to certification/ (committed), not /tmp
python tools/summarize_sweep.py "$LOG"
echo "sweep complete $(date +%H:%M:%S)"
