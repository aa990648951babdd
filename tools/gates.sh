#!/usr/bin/env bash
# Every test gate in one command:
#   1. the default run (pytest.ini deselects the `slow` gate suites),
#   2. the whole suite, `slow` gates included
#      (oracle re-sweep, property models, plan census, subprocess
#      round-trips),
#   3. the benchmark harness's own tests.
# Runs all three and exits non-zero if any failed.
#
# Usage: tools/gates.sh
set -u
cd "$(dirname "$0")/.."
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local

status=0
gate() {
    echo "== $*"
    "$@" || status=1
}

gate timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider
gate python -m pytest tests/ -q -m "slow or not slow" -p no:cacheprovider
gate python3 -m pytest perfbench/tests
exit "$status"
