#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine from the
checkout's sources together with the runner (perfbench/build.sbt); later
runs reuse the build until a source file changes. Each run starts one
driver JVM in local[nproc] mode, with a fresh warehouse, Spark local dir
and temp dir under .perfbench/, and removes them when it ends.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics (the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1). A wrong output makes
the command exit non-zero. --record rewrites the expected query digests
(perfbench/expected.json) from the run instead of checking them.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(BENCH, "target")
SCRATCH = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("query-taskbound", "medallion")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700  # with RUN_TIMEOUT_S, under 900 s for a first run
# Spark on JDK 17 outside spark-submit (same list as the root build.sbt)
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of the content of every source and build file the build reads."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
                os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project")):
        paths = [top] if os.path.isfile(top) else []
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            paths += [os.path.join(d, f) for f in sorted(files)]
        for p in paths:
            with open(p, "rb") as f:
                h.update(os.path.relpath(p, ROOT).encode() + b"\0" + hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(stamp):
    """Compile the engine and the runner; return the runtime classpath."""
    stamp_file = os.path.join(BUILD, "perfbench.stamp")
    cp_file = os.path.join(BUILD, "perfbench.classpath")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    home = os.path.expanduser("~")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={home}/.sbt/repositories",
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"])
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"[perfbench] built in {time.time() - t0:.1f} s")
    return lines[-1].strip()


def driver_heap():
    """The Tier-1 formula: half of MemTotal in GiB, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def counts_selftest(workload, seed, stamp, metrics):
    """Compare this traced run's deterministic counts with the previous
    traced run of the same code, workload and seed, and report any that
    moved."""
    keys = ("spark.jobs", "spark.shuffle_write_bytes", "spark.shuffle_write_records",
            "warehouse.files_written")
    now = {k: metrics[k]["value"] for k in keys if k in metrics}
    path = os.path.join(SCRATCH, "counts", f"{workload}-seed{seed}-{stamp[:16]}.json")
    if os.path.exists(path):
        with open(path) as f:
            before = json.load(f)
        moved = [k for k in now if before.get(k) != now[k]]
        for k in moved:
            print(f"[perfbench] count self-test: {k} did not repeat: {before.get(k)} then {now[k]}")
        print(f"[perfbench] count self-test: {'FAIL' if moved else 'PASS'} "
              f"({', '.join(f'{k}={v}' for k, v in now.items())})")
    else:
        print("[perfbench] count self-test: first traced run of this code, workload and seed, recorded")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(now, f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    data = os.path.join(BENCH, "data", "sf0.1")
    for need in (os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"), data):
        if not os.path.exists(need):
            fail(f"{os.path.relpath(need, ROOT)} is missing: run from the root of a checkout")

    stamp = source_stamp()
    classpath = build(stamp)
    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(SCRATCH, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    results = os.path.join(SCRATCH, "results")
    out = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "work"):
        os.makedirs(os.path.join(run_dir, d))
    os.makedirs(results, exist_ok=True)
    if os.path.exists(out):
        os.remove(out)

    cmd = ["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS] + [
        f"-Xmx{driver_heap()}", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={run_dir}/tmp",
        f"-Dspark.local.dir={run_dir}/local",
        f"-Dspark.sql.warehouse.dir={run_dir}/spark-warehouse",
        f"-Dderby.system.home={run_dir}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "perfbench.Runner",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", data, "--work", f"{run_dir}/work",
        "--expected", os.path.join(BENCH, "expected.json"), "--out", out]
    if a.record:
        cmd.append("--record")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc), PERFBENCH_NPROC=str(nproc),
               SPARK_LOCAL_DIRS=f"{run_dir}/local")
    log_path = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    sys.stdout.flush()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                                stdout=sys.stdout, stderr=log, start_new_session=True)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        fail("the run timed out" if code is None else f"the runner exited with {code}")

    with open(out) as f:
        result = json.load(f)
    if a.trace:
        counts_selftest(a.workload, a.seed, stamp, result["metrics"])
    print(json.dumps(result, separators=(",", ":")))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
