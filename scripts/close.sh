#!/bin/bash
# Round-close ritual: quiet full-suite bench runs at sf0.1 (Bench's
# default data dir), one per letter, each captured to
#   bench/r<round>/close_r<round>_<letter>.json
# Pins re-derive via
#   scripts/derive_pins.py bench/r<round>/close_r<round>_*.json
# Min-of-runs makes warm runs harmless, so extra letters only help.
#
# Usage: scripts/close.sh <round> <letter...>    e.g. scripts/close.sh 23 A B C D
set -u
if [ $# -lt 2 ]; then
  echo "usage: $0 <round> <letter...>" >&2
  exit 2
fi
round=${1#r}
shift
cd "$(dirname "$0")/.."
out=bench/r$round
mkdir -p "$out"
for r in "$@"; do
  echo "=== CLOSE $r $(date +%H:%M:%S) ==="
  env -u SPARK_GRAFT_SF_DIR sbt -batch "runMain graft.Bench" 2>/dev/null \
    | grep -E 'bench_detail|"metric"' > "$out/close_r${round}_$r.json"
  # a 0-byte capture means the run was cut — mark it loudly rather than
  # committing an empty file derive_pins cannot distinguish from truncation
  if [ ! -s "$out/close_r${round}_$r.json" ]; then
    echo "ABORTED: close run $r produced no bench output" > "$out/close_r${round}_$r.ABORTED"
    rm -f "$out/close_r${round}_$r.json"
  fi
  sleep 10
done
echo "=== CLOSE DONE $(date +%H:%M:%S) ==="
