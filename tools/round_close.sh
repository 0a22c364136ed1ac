#!/bin/bash
# Round-close gate runner (VERDICT r11 item 3: the hostile sweep is a
# STANDING per-round gate next to the 3-SF local oracle and the
# 7-partition invariance sweep). Run before the closing commit; record
# the four results in COVERAGE.md's round section.
#
#   1. full local oracle at sf0.001 / sf0.01 / sf0.1
#      (--record writes LOCAL_ORACLE_sf*.json — the committed evidence
#       artifacts; the other gates write no tracked file)
#   2. 7-shuffle-partition invariance sweep at sf0.01
#      (plan-shape invariance: results must not depend on partitioning)
#   3. full-registry hostile-session probe at sf0.01
#      (vanilla America/New_York 16-partition session through
#       __spark_entry__ — the driver's exact conditions)
#   4. full pytest suite
#
# Each gate prints PASS/FAIL; the script exits nonzero on the first FAIL.
set -u
cd "$(dirname "$0")/.."
fail=0

run() {
  local label="$1"; shift
  echo "=== GATE: $label ==="
  if "$@"; then echo "=== PASS: $label ==="; else echo "=== FAIL: $label ==="; fail=1; fi
}

for sf in sf0.001 sf0.01 sf0.1; do
  run "local oracle $sf" python tools/check_oracle.py --record /root/testdata/$sf
done
run "7-partition sweep sf0.01" env SPARK_GRAFT_SHUFFLE_PARTITIONS=7 \
    python tools/check_oracle.py /root/testdata/sf0.01
run "hostile probe (full registry)" python tools/hostile_probe.py 408 /root/testdata/sf0.01
run "pytest" python -m pytest tests/ -x -q
exit $fail
