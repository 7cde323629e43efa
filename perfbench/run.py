"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from source if needed (perfbench/build.py), writes the
fixed corpus once (perfbench/corpus.py), then runs one benchmark JVM
(perfbench/src/Runner.scala) in a fresh temporary root that is deleted on
exit. The last stdout line is one JSON object: `correct`, `attempted`,
`failed` and `metrics` — the end-to-end metrics for `--trace 0`, the
per-layer metrics for `--trace 1`. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import corpus  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
CORES = 4
HEAP = "3g"
RUN_LIMIT_S = 170

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("op_p50_ms", "ms"), ("cpu_s", "s"),
              ("live_heap_mb", "MB")]

# (metric, unit, source): "c" = counter the runner reports, "total"/"self"
# = total or self time of the named span, "trace" = computed here.
PER_LAYER = [
    ("tables.infer_jobs", "count", "c"), ("tables.infer_ms", "ms", "c"),
    ("operators.build_ms", "ms", ("total", "operators.build")),
    ("operators.build_self_ms", "ms", ("self", "operators.build")),
    ("operators.build_jobs", "count", "c"),
    ("catalyst.optimization_ms", "ms", "c"), ("catalyst.planning_ms", "ms", "c"),
    ("plans.rule_ms", "ms", "c"), ("plans.rule_effective_ratio", "ratio", "c"),
    ("codegen.compiles", "count", "c"), ("codegen.compile_ms", "ms", "c"),
    ("jvm.jit_ms", "ms", "c"),
    ("exec.materialize_ms", "ms", ("total", "exec.materialize")),
    ("exec.materialize_self_ms", "ms", ("self", "exec.materialize")),
    ("exec.jobs", "count", "c"), ("exec.stages", "count", "c"), ("exec.tasks", "count", "c"),
    ("exec.task_run_ms", "ms", "c"), ("exec.task_cpu_ms", "ms", "c"),
    ("exec.task_wait_ms", "ms", "c"), ("exec.task_gc_ms", "ms", "c"),
    ("exec.slot_busy_share", "ratio", "c"),
    ("exec.shuffle_write_kb", "KB", "c"), ("exec.shuffle_read_kb", "KB", "c"),
    ("exec.spill_kb", "KB", "c"), ("exec.failed_tasks", "count", "c"),
    ("cache.release_ms", "ms", ("total", "cache.release")),
    ("cache.residue_blocks", "count", "c"),
    ("atrest.builds_setup", "count", "c"), ("atrest.builds_pass", "count", "c"),
    ("atrest.tree_mb", "MB", "c"),
    ("streaming.batches", "count", "c"),
    ("streaming.add_data_ms", "ms", ("total", "streaming.add_data")),
    ("streaming.process_correlator_ms", "ms", ("total", "streaming.process.correlator")),
    ("streaming.process_limiter_ms", "ms", ("total", "streaming.process.limiter")),
    ("streaming.add_batch_ms", "ms", "c"), ("streaming.wal_commit_ms", "ms", "c"),
    ("streaming.commit_offsets_ms", "ms", "c"), ("streaming.query_planning_ms", "ms", "c"),
    ("state.rows_total", "count", "c"), ("state.memory_mb", "MB", "c"),
    ("state.commit_ms", "ms", "c"), ("state.file_sync_ms", "ms", "c"),
    ("state.snapshot_zip_ms", "ms", "c"), ("state.timers_expired", "count", "c"),
    ("state.rows_dropped_by_watermark", "count", "c"),
    ("jvm.gc_ms", "ms", "c"), ("jvm.gc_count", "count", "c"),
    ("host.canary_ms", "ms", "c"),
    ("trace.pass_s", "s", "trace"),
    ("trace.op_self_ms", "ms", ("self", "op")),
]

# The runner needs these to start Spark on JDK 17 outside spark-submit;
# the list matches build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def corpus_dir():
    """The fixed corpus, written once per generator version."""
    with open(os.path.join(HERE, "corpus.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(WORK, f"corpus-{tag}")
    if not os.path.isdir(d):
        tmp = tempfile.mkdtemp(prefix="corpus-", dir=WORK)
        corpus.write(tmp)
        os.rename(tmp, d)
    return d


def run_jvm(classes, run_dir, plan_lines, deadline):
    plan = os.path.join(run_dir, "plan.txt")
    result = os.path.join(run_dir, "result.json")
    with open(plan, "w") as f:
        f.write("\n".join(plan_lines) + "\n")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # every file the JVM writes stays in the run's root: temp files, Derby,
    # and no hsperfdata file (-UsePerfData)
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={run_dir}",
            "-cp", classes + os.pathsep + build.spark_jars(),
            "graft.perfbench.Runner", plan, result])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise RuntimeError("benchmark JVM ran past its time limit")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if p.returncode != 0 or not os.path.exists(result):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"benchmark JVM exited with {p.returncode}:\n{tail}")
    with open(result) as f:
        return json.load(f)


def check_queries(res, problems):
    """Every warm-up op's output against its query's stored hash; returns
    the failed op ids."""
    with open(os.path.join(HERE, "expected_hashes.json")) as f:
        expected = json.load(f)
    con = duckdb.connect()
    bad = set()
    for op in res["ops"]:
        if op["phase"] != "warmup" or op["error"]:
            continue
        files = glob.glob(os.path.join(res["outputs"], op["id"], "*.parquet"))
        got = list(stats.parquet_hash(con, files)) if files else None
        if got != expected.get(op["name"]):
            bad.add(op["id"])
            problems.append(f"{op['id']} {op['name']}: output {got} != expected "
                            f"{expected.get(op['name'])}")
    return bad


def check_stream(res, truth, problems):
    got = res["stream"]
    ok = True
    for outcome, want in truth["correlator"].items():
        if got["correlator"].get(outcome, [0, 0]) != want:
            problems.append(f"correlator {outcome}: {got['correlator'].get(outcome)} != {want}")
            ok = False
    for k, want in truth["limiter"].items():
        if got["limiter"].get(k) != want:
            problems.append(f"limiter {k}: {got['limiter'].get(k)} != {want}")
            ok = False
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.PASS))
    ap.add_argument("--seed", type=int, required=True)
    # accepted as the contract asks; every run times the fixed work of
    # workloads.PASS, so the pass does not depend on it
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    os.makedirs(WORK, exist_ok=True)
    classes = build.build(ROOT, WORK)
    deadline = time.time() + RUN_LIMIT_S
    data = corpus_dir()
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=os.path.join(WORK, "runs"))
    try:
        warm, ops = workloads.schedule(a.workload, a.seed)
        plan = [f"workload {a.workload}", f"root {run_dir}", f"cores {CORES}",
                f"trace {a.trace}", f"corpus {data}", f"limit {workloads.RATE_LIMIT}"]
        truth = None
        if a.workload == "gw_stream":
            batches = os.path.join(run_dir, "batches")
            truth = workloads.gen_stream(a.seed, len(warm) + len(ops), batches)
            plan.append(f"batches {batches}")
        plan += [f"warmup {w}" for w in warm] + [f"pass {o}" for o in ops]
        res = run_jvm(classes, run_dir, plan, deadline)

        problems = [f"{o['id']} {o['name']}: {o['error']}" for o in res["ops"] if o["error"]]
        failed_ids = {o["id"] for o in res["ops"] if o["error"]}
        attempted = len(res["ops"])
        if truth is None:
            failed_ids |= check_queries(res, problems)
        else:
            attempted += 1  # the closing flush, which the ground-truth check covers
            if not check_stream(res, truth, problems):
                failed_ids.add("flush")
        for p in problems:
            print("FAIL " + p, file=sys.stderr)

        pass_ms = [o["ms"] for o in res["ops"] if o["phase"] == "pass"]
        if a.trace == 0:
            p50 = stats.percentile(pass_ms, 50)
            if p50 is None:
                raise RuntimeError("too few pass ops for a median")
            values = {"setup_s": res["setup_s"], "pass_s": res["pass_s"], "op_p50_ms": p50,
                      "cpu_s": res["cpu_s"], "live_heap_mb": res["live_heap_mb"]}
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
        else:
            spans = [tuple(s) for s in res["spans"]]
            times = stats.span_times(spans)
            metrics = {}
            for name, unit, src in PER_LAYER:
                if src == "c":
                    v = res["counters"][name]
                elif src == "trace":
                    v = res["pass_s"]
                else:
                    kind, span = src
                    v = times.get(span, (0.0, 0.0))[0 if kind == "total" else 1]
                metrics[name] = {"value": v, "unit": unit}
        out = {"correct": not failed_ids, "attempted": attempted,
               "failed": len(failed_ids), "metrics": metrics}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    # a terminated run still stops its JVM and deletes its temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    except (RuntimeError, OSError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(1)
