#!/bin/bash
# Artifact refresh for one round: run everything sequentially on a quiet machine.
# usage: tools/refresh_artifacts.sh ROUND TESTDATA_DIR
#   ROUND         round number used in the artifact names (CORRECTNESS_LOCAL_rROUND*.txt)
#   TESTDATA_DIR  directory holding the sf0.001, sf0.01 and sf0.1 warehouses
# Each step logs to ${TMPDIR:-/tmp}/rROUND_refresh.log; failures don't stop later steps.
set -u
r=${1:?usage: $0 ROUND TESTDATA_DIR}
data=${2:?usage: $0 ROUND TESTDATA_DIR}
cd "$(dirname "$0")/.."
log=${TMPDIR:-/tmp}/r${r}_refresh.log
echo "=== refresh start $(date) ===" > "$log"

step() { echo "--- $1 $(date +%H:%M:%S) ---" >> "$log"; }

# check NAME [VAR=VALUE...]: full-registry oracle check at sf0.01 under the
# given environment, written to CORRECTNESS_LOCAL_r${r}NAME.txt
check() {
    local out="CORRECTNESS_LOCAL_r${r}$1.txt"
    shift
    env SPARK_GRAFT_SF_DIR="$data/sf0.01" "$@" python tools/check_correctness.py > "$out" 2>/dev/null
    tail -1 "$out" >> "$log"
}

step correctness_sf001
check ""

step correctness_retry
# real task failures + scheduler retries injected into every scan
# (local[N,4] + first-attempt faults on even partitions) — results must
# hash-MATCH the clean run.
check _retry SPARK_GRAFT_RETRY=1

step correctness_aqe0
check _aqe0 SPARK_GRAFT_AQE=0

step plan_audit
python tools/plan_audit.py > /dev/null 2>&1
wc -l PLAN_AUDIT.txt >> "$log"
grep -c " ok " PLAN_AUDIT.txt >> "$log" 2>&1 || true

step scaling_suite
SPARK_GRAFT_SF_DIR="$data/sf0.1" python tools/scaling_probe.py 1 4 16 >> "$log" 2>/dev/null

step bench_min3
SPARK_GRAFT_SF_DIR="$data/sf0.1" SPARK_GRAFT_BENCH_REPS=3 SPARK_GRAFT_BENCH_OUT="BENCH_LOCAL_r${r}.json" \
    python bench.py >> "$log" 2>/dev/null
cp "BENCH_LOCAL_r${r}.json" BENCH_LOCAL_latest.json

step correctness_sf01
check _sf01 SPARK_GRAFT_SF_DIR="$data/sf0.1"

step correctness_sf0001
check _sf0001 SPARK_GRAFT_SF_DIR="$data/sf0.001"

step correctness_p7
check _p7 SPARK_SHUFFLE_PARTITIONS=7

step correctness_codegen0
check _codegen0 SPARK_GRAFT_CODEGEN=0

step correctness_split1mb
check _split1mb SPARK_GRAFT_SPLIT_MB=1

step correctness_recovery
check _recovery SPARK_GRAFT_STREAM_RECOVERY=1

step correctness_spill
check _spill SPARK_GRAFT_SPILL=1

step pytest
python -m pytest tests/ -q 2>&1 | tail -3 >> "$log"

echo "=== refresh done $(date) ===" >> "$log"
