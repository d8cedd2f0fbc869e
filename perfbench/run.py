#!/usr/bin/env python3
"""Outside-in benchmark of the graft engine.

Usage (from the repository root):
    python3 perfbench/run.py --workload sssp-frontier --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source with sbt on first use (the
classpath is cached under perfbench/.build, keyed by a digest of the
sources), then runs one workload in a fresh JVM with a pinned heap and
local[nproc]. The last line of stdout is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. A traced run also
writes perfbench/.work/trace-<workload>-<seed>.jsonl. The exit code is
non-zero when the run fails or any output check fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")

# SqlRunner derives its broadcast-pull cap from the heap, so the heap is an
# input of every workload and stays pinned.
HEAP = "4g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

WORKLOADS = ["sssp-frontier", "pagerank-dense", "graph-small"]

END_TO_END = {
    "setup_s": "s", "solve_s": "s", "first_solve_s": "s", "teps": "1/s",
    "peak_storage_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "engine.build_s": "s", "engine.setup_s": "s", "engine.loop_s": "s",
    "engine.driver_gap_s": "s", "engine.round_s_p50": "s", "engine.round_s_max": "s",
    "engine.jobs": "count", "engine.stages": "count", "engine.tasks": "count",
    "engine.task_cpu_s": "s", "engine.shuffle_write_mb": "MB",
    "engine.shuffle_records": "count", "engine.spill_mb": "MB",
    "engine.iterations": "count", "engine.active_vertices": "count",
    "result.write_s": "s",
    "spark.jobs": "count", "spark.ms_per_job": "ms", "spark.driver_idle_frac": "fraction",
    "spark.plan_s": "s", "spark.codegen_s": "s", "spark.codegen_classes": "count",
    "retained.rdds": "count", "retained.mb": "MB",
    "reference.solve_s": "s", "trace.overhead_s": "s",
}

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it, so nothing it started outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    digest = sources_digest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "digest.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp) and \
            open(stamp).read() == digest:
        return open(cp_file).read().strip()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.server.autostart=false", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
                "-Dsbt.offline=true"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and benchmark with sbt")
    t0 = time.time()
    with open(os.path.join(BUILD, "sbt.log"), "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "perfbench/writeClasspath"],
                         BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=out,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.exit(f"sbt build failed (exit {rc}); see {BUILD}/sbt.log")
    shutil.copy(os.path.join(HERE, "target", "classpath.txt"), cp_file)
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return open(cp_file).read().strip()


def run_jvm(cp, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work])
    with open(os.path.join(work, "jvm.log"), "w") as out:
        rc = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=out,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        sys.exit(f"benchmark JVM failed (exit {rc})")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit(f"engine sources not found under {ROOT}/src/main/scala/graft")

    cp = build()
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res = run_jvm(cp, args, work)

    failed = res["failed"]
    errors = list(res["errors"])
    per_layer = dict(res.get("per_layer", {}))
    if args.workload == "graph-small":
        import oracle  # noqa: E402 (needs duckdb, only this workload)
        t0 = time.time()
        mismatches = oracle.check(os.path.join(work, "data"), os.path.join(work, "check"),
                                  os.path.join(work, "oracle_sql.json"), res["extra"]["queries"])
        per_layer["reference.solve_s"] = time.time() - t0
        failed += len(mismatches)
        errors += mismatches
    if args.trace:
        trace = os.path.join(work, f"trace-{args.workload}-{args.seed}.jsonl")
        os.makedirs(WORK, exist_ok=True)
        shutil.copy(trace, WORK)
        log(f"trace: {os.path.join(WORK, os.path.basename(trace))}")
        log("per-layer: " + json.dumps(per_layer))
        metrics = {k: {"value": per_layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        e2e = res["end_to_end"]
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    for e in errors:
        log(f"check failed: {e}")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}), flush=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
