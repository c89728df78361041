#!/usr/bin/env bash
# Full local gate: unit tests, correctness vs DuckDB at every SF, bench.
# Usage: scripts/ci.sh [--quick]   (--quick skips sf0.1 + bench)
set -euo pipefail
cd "$(dirname "$0")/.."

echo "=== sbt test ==="
sbt -batch test 2>&1 | grep -E "Tests:|All tests" | tail -2

for sf in 0.001 0.01 $([ "${1:-}" = "--quick" ] || echo 0.1); do
  echo "=== verify + selfcheck sf$sf ==="
  sbt -batch "runMain graft.Verify /root/testdata/sf$sf /tmp/ci_verify_$sf" 2>&1 \
    | grep -E "\[verify\]" || true
  python3 scripts/selfcheck.py "/tmp/ci_verify_$sf" "/root/testdata/sf$sf" | tail -2
done

echo "=== perfbench harness self-tests ==="
python3 perfbench/run.py --test

if [ "${1:-}" != "--quick" ]; then
  echo "=== bench sf0.1 ==="
  # Bench reads sf0.1 by default (SPARK_GRAFT_SF_DIR unset)
  SPARK_GRAFT_CPUS="$(nproc)" \
    sbt -batch 'runMain graft.Bench' 2>&1 | grep -E '\{"metric"'
fi
echo "=== CI done ==="
