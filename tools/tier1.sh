#!/usr/bin/env bash
# The tier-1 gate in one command: a clean compile of both source sets,
# the full test suite, and the DuckDB oracle compare (Verify, then
# tools/check.py) at sf0.001 and sf0.01. check.py fails on any key that
# does not match its oracle or has no output. Last comes a perfbench
# smoke: the checker self-test, then a 4-second run of dedup_stream and a
# 12-second run of nightly_ingest (4 waves, the first run length whose
# maintenance compacts the extraction store; 3 waves stay within its
# live-file budget), each of which must report "correct": true with 0
# failed steps; the dedup_stream smoke must also store at most 2.0 bytes
# per input byte (about 0.8 with blooms sized
# to their files; 10.0 with a fixed 1 MiB bloom per file). A zero exit
# means every oracle key passed at both scale factors, every test is
# green and both benchmarked pipelines produce correct results within
# the dedup index's storage budget.
#
# Usage: tools/tier1.sh <testdata dir holding sf0.001/ and sf0.01/>
# Verify runs with $SPARK_GRAFT_CPUS threads (default 8).
set -euo pipefail
if [ $# -ne 1 ]; then
  echo "usage: $0 <testdata dir>" >&2
  exit 2
fi
data=$1
cd "$(dirname "$0")/.."
out=$(mktemp -d)
trap 'rm -rf "$out"' EXIT

# spark-warehouse/ is .gitignored test output that older trees left in
# the repo root; sessions now keep managed tables in a scratch warehouse,
# so a fresh one appearing means some session escaped that setting
rm -rf spark-warehouse
sbt -batch compile Test/compile test
if [ -e spark-warehouse ]; then
  echo "tier-1: the test run left spark-warehouse/ in the repo root" >&2
  exit 1
fi
for sf in sf0.001 sf0.01; do
  SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} \
    sbt -batch "runMain graft.Verify $data/$sf $out/$sf"
  echo "== oracle $sf"
  python3 tools/check.py "$data/$sf" "$out/$sf" | grep -v ' PASS '
done
# both benchmark workloads through the public API: the checkers must
# reject corrupted results, then a short run of each workload must check
# every step correct
echo "== perfbench smoke"
python3 perfbench/run.py --self-test
for w in dedup_stream:4 nightly_ingest:12; do
  secs=${w#*:}
  w=${w%:*}
  last=$(python3 perfbench/run.py --workload "$w" --seconds "$secs" --trace 0 | tail -n 1)
  echo "$last"
  if ! python3 -c 'import json, sys; r = json.loads(sys.argv[1]); sys.exit(0 if r.get("correct") is True and r.get("failed") == 0 else 1)' "$last"; then
    echo "tier-1: perfbench $w smoke is not correct with 0 failed steps" >&2
    exit 1
  fi
  if [ "$w" = dedup_stream ] && ! python3 -c 'import json, sys; r = json.loads(sys.argv[1]); sys.exit(0 if r["metrics"]["store_bytes_per_input_byte"]["value"] <= 2.0 else 1)' "$last"; then
    echo "tier-1: perfbench dedup_stream smoke stores more than 2.0 bytes per input byte" >&2
    exit 1
  fi
done
echo "tier-1 green"
