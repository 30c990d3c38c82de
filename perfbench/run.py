#!/usr/bin/env python3
"""Product benchmark of the bucketed incremental store.

    python3 perfbench/run.py --workload notify|search --seed N \
        --seconds S --trace 0|1

Builds the program and the benchmark (perfbench/build.py), runs one JVM and
prints, as the last stdout line, one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. A traced run measures an
untraced window and then a traced one, and reports the difference as
`trace.overhead_share`. The JVM checks that every derived view equals a
recompute over the final source state before it reports anything; a
mismatch, a crash or a timeout exits non-zero without a result line.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("notify", "search")
JVM_TIMEOUT_S = 170

# name -> unit, printed with --trace 0
END_TO_END = {
    "setup_s": "s",
    "freshness_p50_s": "s",
    "search_p50_ms": "ms",
    "store_mb": "MB",
}

# name -> (unit, the end-to-end metric it should move), printed with --trace 1
FRESH = "freshness_p50_s"
SEARCH = "search_p50_ms"
PER_LAYER = {
    # incr.BucketedStreamingEngine
    "engine.batch_ms_p50": ("ms", FRESH),
    "engine.batch_ms_p95": ("ms", FRESH),
    "engine.changes_per_batch_p50": ("changes", FRESH),
    "engine.commits_per_batch": ("count", FRESH + ", failed"),
    "engine.dead_letters": ("count", "failed"),
    "engine.lag_changes_max": ("changes", FRESH),
    "drain_changes_per_s": ("changes/s", FRESH),
    # incr.BucketedRun
    "run.jobs_per_batch": ("count", FRESH),
    "run.tasks_per_batch": ("count", FRESH),
    "run.collect_ms_per_batch": ("ms", FRESH),
    "run.broadcast_ms_per_batch": ("ms", FRESH),
    "run.cpu_ms_per_batch": ("ms", FRESH),
    "run.shuffle_mb_per_batch": ("MB", FRESH),
    # incr.BucketedStateStore
    "store.buckets_written_per_batch": ("count", FRESH),
    "store.write_ms_per_batch": ("ms", FRESH),
    "store.mb_written_per_batch": ("MB", FRESH),
    "store.mb_read_per_batch": ("MB", FRESH),
    "store.bytes_written_per_change": ("bytes", FRESH),
    "store.disk_mb_end": ("MB", "store_mb, " + SEARCH),
    "store.dirs_end": ("count", "store_mb, " + SEARCH),
    # set-up: IncrementalRun, MapOp and ReduceOp through BucketedRun.initialize
    "setup.session_s": ("s", "setup_s"),
    "setup.fixture_s": ("s", "setup_s"),
    "setup.restore_s": ("s", "setup_s"),
    "setup.warmup_s": ("s", "setup_s"),
    "setup.initialize_s": ("s", "none (runs when a store is first built)"),
    "setup.recompute_s": ("s", "none (runs when a store is first built)"),
    "setup.write_s": ("s", "none (runs when a store is first built)"),
    # ops.QvarnUrl / ops.QvarnSearch
    "search.open_ms_p50": ("ms", SEARCH),
    "search.parse_ms_p50": ("ms", SEARCH),
    "search.exec_ms_p50.point": ("ms", SEARCH),
    "search.exec_ms_p50.sort": ("ms", SEARCH),
    "search.exec_ms_p50.range": ("ms", SEARCH),
    "search.files_per_search": ("count", SEARCH),
    "search.mb_read_per_search": ("MB", SEARCH),
    "search.rows_per_search": ("rows", SEARCH),
    "searches_per_s": ("searches/s", SEARCH),
    # shared
    "spark.busy_share": ("ratio", FRESH + ", " + SEARCH),
    "jvm.gc_ms": ("ms", FRESH + ", " + SEARCH),
    "jvm.heap_peak_mb": ("MB", FRESH + ", " + SEARCH),
    "gen.lag_ms_max": ("ms", FRESH),
    "gen.offered": ("changes", "none (exact count)"),
    "gen.applied": ("changes", "none (equals gen.offered)"),
    "failed_share": ("ratio", "failed"),
    "trace.overhead_share": ("ratio", "none"),
    "count.warmup_jobs": ("count", "none (exact count)"),
    "count.warmup_tasks": ("count", "none (exact count)"),
    "count.warmup_buckets_written": ("count", "none (exact count)"),
    "count.warmup_bytes_written": ("bytes", "none (exact count)"),
}


def run_jvm(classes, jars, workload, seed, seconds, trace, work):
    fixture = classes.replace("classes-", "fixture-")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # the module opens build.sbt gives its forked JVMs (Spark 4 on JDK 17)
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work, "--fixture", fixture]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work)
    try:
        stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"benchmark JVM exceeded {JVM_TIMEOUT_S}s")
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(stdout[-4000:])
        raise SystemExit(f"benchmark JVM failed with exit code {proc.returncode}")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    classes = build.build()
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    work = os.path.join(build.OUT, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run_jvm(classes, jars, a.workload, a.seed, a.seconds, a.trace, work)
        if a.trace:
            spans = os.path.join(build.OUT, f"spans-{a.workload}-{a.seed}.jsonl")
            shutil.move(os.path.join(work, "spans.jsonl"), spans)
            sys.stderr.write(f"spans: {spans}\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    vals = result["values"]
    table = PER_LAYER if a.trace else END_TO_END
    missing = [k for k in table if not isinstance(vals.get(k), (int, float))]
    if missing:
        raise SystemExit(f"not measured: {', '.join(missing)}")
    if a.trace:
        metrics = {k: {"value": vals[k], "unit": u} for k, (u, _) in PER_LAYER.items()}
        for k, (u, moves) in PER_LAYER.items():
            sys.stderr.write(f"{k:34} {vals[k]!s:>22} {u:10} -> {moves}\n")
    else:
        metrics = {k: {"value": vals[k], "unit": u} for k, u in END_TO_END.items()}
        sys.stderr.write(json.dumps(vals, indent=1) + "\n")
    print(json.dumps({"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
