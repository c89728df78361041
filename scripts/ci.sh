#!/usr/bin/env bash
# Full local gate: unit tests, correctness vs DuckDB at every SF, bench.
# Usage: scripts/ci.sh [--quick]   (--quick skips sf0.1 + bench)
set -euo pipefail
cd "$(dirname "$0")/.."

# the Verify outputs and the CLI smoke tree live under $tmp, removed on exit
tmp=$(mktemp -d)
trap 'rm -rf "$tmp"' EXIT

echo "=== sbt test ==="
sbt -batch test 2>&1 | grep -E "Tests:|All tests" | tail -2

for sf in 0.001 0.01 $([ "${1:-}" = "--quick" ] || echo 0.1); do
  echo "=== verify + selfcheck sf$sf ==="
  # a fresh directory per run: Verify logs a failing query and goes on,
  # so a reused one would hand selfcheck an earlier run's result for it
  out=$(mktemp -d "$tmp/verify_sf$sf.XXXXXX")
  # Verify names the queries that threw and exits 1
  set +e
  sbt -batch "runMain graft.Verify /root/testdata/sf$sf $out" > "$out.log" 2>&1
  rc=$?
  set -e
  grep -E "\[verify\]" "$out.log" || true
  [ "$rc" -eq 0 ] || { echo "Verify exited $rc at sf$sf"; exit 1; }
  python3 scripts/selfcheck.py "$out" "/root/testdata/sf$sf" | tail -2
done

echo "=== distexec CLI smoke ==="
# the paper's entry point end to end: three Latin-1 files through iconv,
# each output byte-equal to iconv run on that file directly
cli=$(mktemp -d "$tmp/cli.XXXXXX")
mkdir -p "$cli/src/sub"
printf 'caf\xe9\n' > "$cli/src/a.txt"
printf 'na\xefve \xfcber\n' > "$cli/src/b.txt"
printf '\xa9 \xb5 \xbd\n' > "$cli/src/sub/c.txt"
set +e
sbt -batch "runMain graft.cli.Main $cli/src $cli/dst \"iconv -f iso8859-1 -t utf-8\"" \
  > "$cli/out" 2> "$cli/err"
rc=$?
set -e
grep -E "EXECUTED=|FAIL=" "$cli/out" || true
[ "$rc" -eq 0 ] || { echo "distexec exited $rc"; tail -20 "$cli/out" "$cli/err"; exit 1; }
grep -q "EXECUTED=3 FAIL=0" "$cli/out" || { echo "counters line missing"; exit 1; }
for f in a.txt b.txt sub/c.txt; do
  iconv -f iso8859-1 -t utf-8 < "$cli/src/$f" | cmp - "$cli/dst/$f" \
    || { echo "distexec output differs for $f"; exit 1; }
done

echo "=== distexec CLI smoke, failing files ==="
# every file fails: exit 1, the counters say so, and the failure log
# holds one FAIL line per file
set +e
sbt -batch "runMain graft.cli.Main $cli/src $cli/fail \"sh -c 'exit 7'\"" \
  > "$cli/fout" 2> "$cli/ferr"
rc=$?
set -e
grep -E "EXECUTED=|FAIL=" "$cli/fout" || true
[ "$rc" -eq 1 ] || { echo "distexec exited $rc, want 1"; tail -20 "$cli/fout" "$cli/ferr"; exit 1; }
grep -q "EXECUTED=0 FAIL=3" "$cli/fout" || { echo "counters line missing"; exit 1; }
logs=$(find "$cli" "$cli/fail" -maxdepth 1 -type d -name "_distexec_logs_*")
[ "$(echo "$logs" | grep -c .)" -eq 1 ] || { echo "want one failure log dir, got: $logs"; exit 1; }
[ "$(cat "$logs"/part-* 2>/dev/null | grep -c "^FAIL ")" -eq 3 ] \
  || { echo "failure log $logs lacks three FAIL lines"; exit 1; }
[ -z "$(find "$cli" -name "_distexec_tmp_*")" ] || { echo "tmp left behind"; exit 1; }

echo "=== perfbench harness self-tests ==="
python3 perfbench/run.py --test

echo "=== exec_small smoke ==="
# the last stdout line is the run's JSON verdict; fail unless every file
# came out right
python3 perfbench/run.py --workload exec_small --seed 1 --seconds 10 --trace 0 2>/dev/null \
  | tail -1 | python3 -c 'import json, sys; r = json.loads(sys.stdin.read()); print(r)
sys.exit(0 if r["correct"] is True and r["failed"] == 0 else 1)'

echo "=== query_suite smoke ==="
# every query's digest must match at the partition count Tuning derives
python3 perfbench/run.py --workload query_suite --seed 1 --seconds 10 --trace 0 2>/dev/null \
  | tail -1 | python3 -c 'import json, sys; r = json.loads(sys.stdin.read()); print(r)
sys.exit(0 if r["correct"] is True and r["failed"] == 0 else 1)'

if [ "${1:-}" != "--quick" ]; then
  echo "=== bench sf0.1 ==="
  # Bench reads sf0.1 by default (SPARK_GRAFT_SF_DIR unset)
  SPARK_GRAFT_CPUS="$(nproc)" \
    sbt -batch 'runMain graft.Bench' 2>&1 | grep -E '\{"metric"'
fi
echo "=== CI done ==="
