#!/usr/bin/env bash
# Full oracle-gate sweep at every shipped scale factor, one command:
#
#   tools/sweep.sh            # sf0.001 + sf0.01 + sf0.1
#   tools/sweep.sh 0.001 0.01 # subset while iterating
#
# The Verify runs chain inside ONE sbt invocation (sbt holds a
# project-level lock — two concurrent sbt commands corrupt each other),
# then each factor's DuckDB oracle check runs. Budget: Verify is
# ~2.5 min per small factor and ~5 min at sf0.1; the sf0.1 DuckDB pass
# is the expensive half (~15 min — list-SQL oracles over 600k rows).
# Exit is non-zero if ANY factor has a failing query.
#
# The sweep exists because sf0.1 has caught real cross-engine bugs the
# smaller factors hid (round 5: a zero close breaking a log() guard, a
# window-combine ulp divergence) — every query batch should get all
# three factors by default, not by discipline.
#
# Refactors that must not change any result: run the sweep on the
# parent commit too (SWEEP_OUT=<dir> tools/sweep.sh in its checkout)
# and compare the two dump trees factor by factor,
#
#   python3 tools/diff_dumps.py <parent_out>/sf0.1 <change_out>/sf0.1
#
# — same column names and types, EXCEPT ALL empty both ways, one capped
# process per query, non-zero exit on any difference. It also covers
# the sf0.1 queries whose DuckDB twin is too large to evaluate within
# the memory cap.
set -uo pipefail
cd "$(dirname "$0")/.."

factors=("$@")
if [ ${#factors[@]} -eq 0 ]; then factors=(0.001 0.01 0.1); fi
out="${SWEEP_OUT:-/tmp/graft_sweep}"

cmds=()
for sf in "${factors[@]}"; do
  cmds+=("runMain graft.Verify /root/testdata/sf$sf $out/sf$sf")
done
sbt -batch "${cmds[@]}" || exit 2

rc=0
for sf in "${factors[@]}"; do
  echo "=== oracle check sf$sf ==="
  # print per-query FAIL detail + the summary line; swallow the PASS spam
  python3 tools/check_oracle.py "/root/testdata/sf$sf" "$out/sf$sf" \
    | grep -E "^FAIL|^    |pass, " || rc=1
  echo "=== output-type lint sf$sf ==="
  # HUGEINT/FLOAT/mismatched-DECIMAL twin outputs: the driver hashes
  # DuckDB-native types that norm() canonicalizes away (the q365 class)
  python3 tools/check_oracle.py --type-lint "/root/testdata/sf$sf" "$out/sf$sf" \
    | grep -E "^FAIL|^ERR|^    |type-lint: " || rc=1
done
exit $rc
