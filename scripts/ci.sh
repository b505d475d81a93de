#!/usr/bin/env bash
# Full local gate: unit tests, correctness vs DuckDB at every SF, bench.
# Usage: scripts/ci.sh [--quick]   (--quick skips sf0.1 + bench)
set -euo pipefail
cd "$(dirname "$0")/.."

# Size Spark to this box: build.sbt defaults the driver heap to 32g and
# the bench to 32 CPUs. Heap = half of MemTotal, clamped to 2..8 GiB.
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
export SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
echo "SPARK_GRAFT_CPUS=$SPARK_GRAFT_CPUS SPARK_DRIVER_MEM=$SPARK_DRIVER_MEM"

echo "=== sbt test ==="
sbt -batch test 2>&1 | grep -E "Tests:|All tests" | tail -2

for sf in 0.001 0.01 $([ "${1:-}" = "--quick" ] || echo 0.1); do
  echo "=== verify + selfcheck sf$sf ==="
  sbt -batch "runMain graft.Verify /root/testdata/sf$sf /tmp/ci_verify_$sf" 2>&1 \
    | grep -E "\[verify\]" || true
  python3 scripts/selfcheck.py "/tmp/ci_verify_$sf" "/root/testdata/sf$sf" | tail -2
done

if [ "${1:-}" != "--quick" ]; then
  echo "=== bench sf0.1 ==="
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
    sbt -batch 'runMain graft.Bench' 2>&1 | grep -E '\{"metric"'
  echo "=== perfbench exec_small_files ==="
  python3 perfbench/run.py --workload exec_small_files --seed 1 --seconds 20 --trace 0 | tail -1
fi
echo "=== CI done ==="
