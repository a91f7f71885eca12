#!/usr/bin/env bash
# Full local gate: compile, tests, oracle compare at both SFs, benchmark
# selftest, plan-audit smoke, bench.
# Usage: tools/check_all.sh   (run from /root/repo)
set -euo pipefail

echo "== compile + test =="
sbt -batch test

echo "== verify + oracle @ sf0.001 =="
sbt -batch "runMain graft.Verify /root/testdata/sf0.001 /tmp/graft_verify_sf0001"
python3 tools/oracle_check.py /root/testdata/sf0.001 /tmp/graft_verify_sf0001 | tail -3

echo "== verify + oracle @ sf0.01 =="
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/graft_verify_sf001"
python3 tools/oracle_check.py /root/testdata/sf0.01 /tmp/graft_verify_sf001 | tail -3

echo "== benchmark selftest =="
python3 perfbench/run.py --selftest

# PlansDump plans every flagship query in a plan-audit session (full
# lineage), so this runs that path end to end; the former twin queries'
# rows and lineage are checked by MaterializeSeamSpec in the test step
echo "== plan-audit smoke @ sf0.001 (the fixture copy in perfbench/fixtures) =="
sbt -batch "runMain graft.cli.PlansDump perfbench/fixtures/sf0.001 /tmp/graft_plans_audit.md"

echo "== bench @ sf0.1 =="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch 'runMain graft.Bench' | grep -o '"metric".*' | tail -1
