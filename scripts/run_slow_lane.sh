#!/usr/bin/env bash
# Run the `slow` pytest lane: the tests pytest.ini deselects by default
# (statistical/scale/e2e rigs). Same environment and timeout style as the
# default Tier-1 run; extra arguments go to pytest.
#
#   scripts/run_slow_lane.sh            # whole slow lane
#   scripts/run_slow_lane.sh -x -k ann  # a subset, stop at first failure
set -euo pipefail
cd "$(dirname "$0")/.."
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}"
exec timeout -k 10 2670 \
    python -m pytest tests/ -m slow -q --continue-on-collection-errors -p no:cacheprovider "$@"
