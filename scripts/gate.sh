#!/usr/bin/env bash
# Full local gate: compile + tests + oracle correctness (sf0.01) + bench
# (sf0.1). Builds offline and runs the tests with the ROADMAP tier-1
# settings: offline coursier/sbt, one Spark core per host CPU, and a
# Spark heap of half the host's memory clamped to [2g, 8g].
# Usage: scripts/gate.sh
set -euo pipefail
cd "$(dirname "$0")/.."

export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
export SPARK_DRIVER_MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)"
export SPARK_LOCAL_DIRS=/tmp/spark-local
DATA="$HOME/testdata"

echo "=== compile + test ==="
sbt --batch -Dsbt.log.noformat=true Test/compile 2>&1 | tail -1
sbt --batch -Dsbt.log.noformat=true "testOnly *" 2>&1 \
  | grep -E "Tests:|\*\*\*|error\]" | tail -5

echo "=== verify @ sf0.01 ==="
rm -rf /tmp/gate_verify
sbt --batch "runMain graft.Verify $DATA/sf0.01 /tmp/gate_verify" 2>/dev/null >/dev/null
python3 scripts/check_correctness.py "$DATA/sf0.01" /tmp/gate_verify | tail -3

echo "=== bench @ sf0.1 ==="
SPARK_GRAFT_SF_DIR="$DATA/sf0.1" sbt --batch "runMain graft.Bench" 2>/dev/null \
  | grep -E '^\{'
