#!/usr/bin/env bash
# Cross-scale correctness sweep: run the Verify dump + DuckDB oracle compare
# at every generated scale factor. The driver's gate runs sf0.01 only; this
# catches anything scale-dependent (vacuous results, skew-triggered paths,
# threshold artifacts) at 0.1x and 10x that size.
#
# Usage: tools/sweep.sh   (TESTDATA = the dir holding sf0.001/sf0.01/sf0.1,
# default: testdata/ beside the checkout)
#
# Every scale factor runs even when an earlier one fails; the exit status
# is non-zero if any failed. sbt's output goes to target/sweep-<sf>.log.
set -uo pipefail
cd "$(dirname "$0")/.."
testdata="$(cd "${TESTDATA:-../testdata}" && pwd)" || exit 1
mkdir -p target
failed=()
for sf in sf0.001 sf0.01 sf0.1; do
  echo "=== $sf ==="
  log="target/sweep-$sf.log"
  echo "sbt log: $log"
  if ! sbt -batch "runMain graft.Verify $testdata/$sf /tmp/graft_sweep_$sf" >"$log" 2>&1; then
    echo "FAIL $sf: Verify run failed (see $log)"
    failed+=("$sf")
    continue
  fi
  # failing queries (an oracle out of memory reads as "environment") + summary
  python3 tools/verify_local.py "$testdata/$sf" "/tmp/graft_sweep_$sf" | grep -v '^OK'
  [ "${PIPESTATUS[0]}" -eq 0 ] || failed+=("$sf")
done
if [ "${#failed[@]}" -gt 0 ]; then
  echo "sweep FAILED at: ${failed[*]}"
  exit 1
fi
echo "sweep green at every scale factor"
