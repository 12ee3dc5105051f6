#!/usr/bin/env bash
# Code-size figures quoted in CHANGES.md, computed one way:
#
#   tools/loc.sh                                   # src/main totals only
#   tools/loc.sh src/main/scala/graft/ops/MarketBars.scala src/main/scala/graft/streaming
#
# A code line is any line that is not blank and does not start (after
# indentation) with `//`, `/*` or `*`:
#
#   grep -v -E '^\s*($|//|/\*|\*)' | wc -l
#
# Paths are relative to the repository root. Prints one line per path
# argument (a file, or every file under a directory): its code lines,
# then its lines that mention `localCheckpoint`. Then the total for all
# of src/main, the number of src/main lines that mention
# `localCheckpoint`, and the distinct `spark.graft.*` configuration
# keys named in src/main.
set -euo pipefail
cd "$(dirname "$0")/.."

code_lines() {
  find "$@" -type f -print0 | xargs -0 cat | grep -c -v -E '^\s*($|//|/\*|\*)' || true
}

checkpoint_lines() {
  find "$@" -type f -print0 | xargs -0 cat | grep -c localCheckpoint || true
}

for p in "$@"; do
  [ -e "$p" ] || { echo "loc.sh: no such path: $p" >&2; exit 1; }
  printf '%8d  %4d ckpt  %s\n' "$(code_lines "$p")" "$(checkpoint_lines "$p")" "$p"
done
printf '%8d  %s\n' "$(code_lines src/main)" "src/main (code lines)"
printf '%8d  %s\n' "$(grep -r -c localCheckpoint src/main | awk -F: '{s += $NF} END {print s}')" \
  "src/main lines with localCheckpoint"
keys=$(grep -r -h -o -E 'spark\.graft\.[A-Za-z0-9_.]*[A-Za-z0-9_]' src/main | sort -u || true)
printf '%8d  %s\n' "$(printf '%s\n' "$keys" | grep -c . || true)" "distinct spark.graft.* keys in src/main:"
if [ -n "$keys" ]; then printf '%s\n' "$keys" | sed 's/^/          /'; fi
