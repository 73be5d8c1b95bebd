#!/bin/bash
# Oracle check of the sketch queries' estimator arms. The test corpora's
# documents have a 31-token vocabulary at every scale, below x04/x05's
# k = 64, so the 135-query compare only ever runs est_distinct/est_union's
# exact `k_obs < k` arm. Amplified 4x by make_scale_probe.py (each copy
# rewrites its words, so the vocabulary grows 4x), the k-cut binds and the
# `(k-1)*2^32 div h_k` estimator runs on both engines.
#
# Dumps x01..x08 with graft.Verify over the amplified corpus, checks them
# against the DuckDB oracle with selfcheck.py, and fails unless all 8 pass
# and both x04 and x05 report k_obs = 64 (the estimator arm).
#
# Usage: scripts/arms.sh <sf dir> [work dir]
#   e.g. scripts/arms.sh ../testdata/sf0.01
# The work dir (default: a new directory under $TMPDIR or /tmp) receives
# the amplified corpus and the dump; the sf dir is only read.
set -eu
if [ $# -lt 1 ]; then
  echo "usage: $0 <sf dir> [work dir]" >&2
  exit 2
fi
src=$(cd "$1" && pwd)
work=${2:-$(mktemp -d "${TMPDIR:-/tmp}/arms.XXXXXX")}
cd "$(dirname "$0")/.."
mkdir -p "$work"
data=$work/sf_x4
out=$work/verify

python3 scripts/make_scale_probe.py "$src" "$data" 4
queries=x01,x02,x03,x04,x05,x06,x07,x08
sbt -batch "runMain graft.Verify $data $out $queries"
python3 scripts/selfcheck.py "$out" "$data" | tee "$work/selfcheck.txt"
grep -q '^8 pass, 0 fail' "$work/selfcheck.txt" || {
  echo "FAIL: selfcheck did not pass 8/8 (see $work/selfcheck.txt)" >&2
  exit 1
}
for q in x04 x05; do
  k=$(python3 -c "import duckdb
print(duckdb.sql(\"SELECT k_obs FROM '$out/$q/*.parquet'\").fetchall())")
  echo "$q k_obs: $k"
  if [ "$k" != "[(64,)]" ]; then
    echo "FAIL: $q k_obs is $k, not 64: the exact arm ran, not the estimator" >&2
    exit 1
  fi
done
echo "arms: 8/8 pass, x04 and x05 on the estimator arm (k_obs = 64)"
