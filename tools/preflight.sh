#!/usr/bin/env bash
# End-of-round snapshot gate: the final commit of a round must pass this.
# (Round-5 lesson: a dev main referencing a nonexistent method was
# committed as the snapshot, so the driver's Verify/Bench both died and
# the whole round went unverified.)
#
#   tools/preflight.sh            # compile + tests + sf0.001 Verify + oracle check
#                                 # + the benchmark helpers' unit tests
#   tools/preflight.sh --fast     # run only the harness specs instead of the
#                                 # full ScalaTest suite
set -euo pipefail
cd "$(dirname "$0")/.."

sbt -batch "compile; Test/compile" | tail -2
if [[ "${1:-}" != "--fast" ]]; then
  sbt -batch test | tail -3
else
  sbt -batch "testOnly graft.HarnessSpec graft.BenchSuspectSpec" | tail -3
fi
OUT=/tmp/preflight_verify
rm -rf "$OUT"
sbt -batch "set Compile/run/fork := true; runMain graft.Verify /root/testdata/sf0.001 $OUT" | tail -2
python3 tools/check.py "$OUT" /root/testdata/sf0.001 | tail -3
python3 tools/lint_oracle_types.py "$OUT" /root/testdata/sf0.001
python3 tools/dialect_lab.py --selftest
python3 -m unittest discover -s perfbench -p 'test_*.py'
echo "PREFLIGHT OK — safe to commit the snapshot"
