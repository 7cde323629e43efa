#!/usr/bin/env bash
# End-of-round snapshot gate: the final commit of a round must pass this.
# (Round-5 lesson: a dev main referencing a nonexistent method was
# committed as the snapshot, so the driver's Verify/Bench both died and
# the whole round went unverified.)
#
#   tools/preflight.sh            # compile + tests + sf0.001 Verify + oracle check
#                                 # + the benchmark helpers' unit tests
#   tools/preflight.sh --fast     # run only the harness, session-surface,
#                                 # streaming, at-rest and schema-reuse specs
#                                 # instead of the full ScalaTest suite
set -euo pipefail
cd "$(dirname "$0")/.."

# One session surface: functions and strategies reach a session only
# through GraftExtensions (installed by Tables.configure) or the opt-in
# DuckDbDialect.register — no second registration path in src/main.
if grep -rnE 'createOrReplaceTempFunction|extraStrategies|injectFunction' src/main \
    | grep -vE '^src/main/scala/graft/(GraftExtensions|functions/DuckDbDialect)\.scala:'; then
  echo "registration outside GraftExtensions/DuckDbDialect (listed above)" >&2
  exit 1
fi
# One state-store surface: the provider, changelog and checkpoint-file
# settings live only in Tables.sessionConfs. A line that must name one
# (a test of a checkpoint written under other settings) says
# "preflight: allow".
if grep -rnE 'stateStore\.providerClass|changelogCheckpointing|checkpointFileManagerClass' src \
    | grep -vE '^src/main/scala/graft/Tables\.scala:|preflight: allow'; then
  echo "state-store setting outside Tables.scala (listed above)" >&2
  exit 1
fi
# One checkpoint-file path: Spark's checkpoint file managers and Hadoop's
# raw local file system are named in src/main only by CheckpointFiles,
# whose file: calls start no process.
if grep -rnE 'FileContextBasedCheckpointFileManager|FileSystemBasedCheckpointFileManager|RawLocalFileSystem' src/main \
    | grep -vE '^src/main/scala/graft/streaming/CheckpointFiles\.scala:'; then
  echo "checkpoint file manager or raw local file system outside CheckpointFiles.scala (listed above)" >&2
  exit 1
fi
# One event-time finalizer: the buffer-until-watermark processors arm
# and delete timers only through EventTimeBuffer; CorrelatorV2 (a timer
# per request) and TemporalJoin keep their own timer contracts.
if grep -rnE 'registerTimer|deleteTimer' src/main/scala/graft/streaming \
    | grep -vE '^src/main/scala/graft/streaming/(EventTimeBuffer|CorrelatorV2|TemporalJoin)\.scala:'; then
  echo "event-time timer outside EventTimeBuffer/CorrelatorV2/TemporalJoin (listed above)" >&2
  exit 1
fi
# One tick-tree layout: the `batch_id=<id>` tick directories, the
# `_SUCCESS` commit marker and hand-rolled `gen=<id>` generation chains
# are named in src/main only by AtRest, which owns the tick write, the
# committed-tick set and the replay fence.
if grep -rnE '"[^"]*(batch_id=|_SUCCESS|gen=)[^"]*"' src/main \
    | grep -vE '^src/main/scala/graft/AtRest\.scala:'; then
  echo "tick-tree layout literal outside AtRest.scala (listed above)" >&2
  exit 1
fi
sbt -batch "compile; Test/compile" | tail -2
if [[ "${1:-}" != "--fast" ]]; then
  sbt -batch test | tail -3
else
  sbt -batch "testOnly graft.HarnessSpec graft.BenchSuspectSpec graft.ExtensionsSpec graft.DuckDbDialectSpec graft.CheckpointFilesSpec graft.CorrelatorV2Spec graft.RateLimitStreamSpec graft.AbStreamSpec graft.CusumStreamSpec graft.SessionStreamSpec graft.TransitionStreamSpec graft.CrossProcessAtRestSpec graft.AtRestSpec graft.StreamingSpec graft.SchemaReuseSpec" | tail -3
fi
OUT=/tmp/preflight_verify
rm -rf "$OUT"
sbt -batch "set Compile/run/fork := true; runMain graft.Verify /root/testdata/sf0.001 $OUT" | tail -2
python3 tools/check.py "$OUT" /root/testdata/sf0.001 | tail -3
python3 tools/lint_oracle_types.py "$OUT" /root/testdata/sf0.001
python3 tools/dialect_lab.py --selftest
python3 -m unittest discover -s perfbench -p 'test_*.py'
echo "PREFLIGHT OK — safe to commit the snapshot"
