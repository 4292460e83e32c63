#!/usr/bin/env bash
# Round-close invariant runner — every box must be green ON THE FINAL
# COMMIT before a round ends (rounds 7 and 8 both shipped per-query
# benches generated before the last gate commits; this script makes the
# ordering structural instead of remembered).
#
# Usage: tools/round_close.sh <round-number> [<base-commit>]   (e.g. 9 HEAD~3)
# First prints the round's net src/main LOC delta against <base-commit>
# (default HEAD~1). Then runs, in order:
#   1. full ScalaTest suite
#   2. full Verify at sf0.01 + DuckDB compare (the driver's t2 shape)
#   3. oracle output-type sweep (HUGEINT class of bug)
#   4. full bench at sf0.1 -> BENCH_queries_r{N}.json
#   5. bench completeness: every gate in the roster measured
#   6. pinned-fixture micro-bench -> BENCH_pinned_r{N}.json (the
#      testdata-invariant round-over-round control)
set -euo pipefail
cd "$(dirname "$0")/.."
N="${1:?round number, e.g. 9}"
R=$(printf "r%02d" "$N")
BASE="${2:-HEAD~1}"

echo "== src/main LOC delta vs $BASE"
git diff --shortstat "$BASE" -- src/main
git diff --numstat "$BASE" -- src/main \
  | awk '{a += $1; d += $2} END {printf "net src/main delta: %+d lines\n", a - d}'

echo "== 1/6 full test suite"
sbt -batch test | tail -3

echo "== 2/6 full verify @ sf0.01"
rm -rf /tmp/round_close_vout
SPARK_GRAFT_CPUS=8 sbt -batch \
  "runMain graft.Verify /root/testdata/sf0.01 /tmp/round_close_vout" \
  2>&1 | grep "\[verify\]" || true
python3 tools/local_verify.py /root/testdata/sf0.01 /tmp/round_close_vout \
  | tail -3

echo "== 3/6 oracle type sweep"
python3 tools/oracle_typecheck.py /root/testdata/sf0.01 \
  /tmp/round_close_vout/oracle_sql.json | tail -1

echo "== 4/6 bench @ sf0.1"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  SPARK_GRAFT_BENCH_OUT="BENCH.out" sbt -batch "runMain graft.Bench" \
  > /dev/null 2>&1
head -1 BENCH.out > "BENCH_queries_${R}.json"
tail -1 BENCH.out

echo "== 5/6 bench completeness"
python3 tools/bench_complete.py "BENCH_queries_${R}.json" \
  /tmp/round_close_vout/queries.json

echo "== 6/6 pinned-fixture micro-bench"
SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.BenchPinned" 2>/dev/null \
  | grep '"metric":"pinned"' > "BENCH_pinned_${R}.json"
cat "BENCH_pinned_${R}.json"
grep -q '"errors":\[\]' "BENCH_pinned_${R}.json" \
  || { echo "PINNED GATES ERRORED — fix before closing"; exit 1; }

echo "ROUND CLOSE GREEN — commit BENCH_queries_${R}.json and BENCH_pinned_${R}.json with the final build"
