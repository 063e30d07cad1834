#!/bin/bash
# Full local replica of the driver's round gates:
# compile → tests → verify+oracle at sf0.001 and sf0.01 → bench at sf0.1.
set -euo pipefail
cd "$(dirname "$0")/.."
# JVM heap: half the host's memory, clamped to 2-8 GB (ROADMAP's Tier-1 rule).
# Cores: the session profile's default (SPARK_GRAFT_CPUS, else nproc).
export SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)}
sbt -batch compile
sbt -batch test
for sf in sf0.001 sf0.01; do
  out=$(mktemp -d)
  dev/run_main.sh graft.Verify /root/testdata/$sf "$out" 2>/dev/null
  python3 dev/check_oracles.py /root/testdata/$sf "$out"
done
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 dev/run_main.sh graft.Bench 2>/dev/null | tail -1
dev/run_main.sh graft.Smoke 2>/dev/null | grep smoke
echo "FULL CHECK PASSED"
