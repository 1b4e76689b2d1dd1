#!/usr/bin/env python3
"""Run one perfbench workload against the engine sources of this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the engine and the benchmark
with sbt when their sources changed since the last build, then starts the
benchmark JVM at local[<cores of this host>]. The last line of standard
output is the result object. Everything it writes stays under
.bench_build/ in the checkout. It exits non-zero, printing no result, when
the engine sources are missing, the build fails or the run times out, and
exits 1 after printing the result when an output was wrong.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("cdc_mixed", "graph_rank")
# Seconds a run may take once the build is done; the JVM is killed after.
RUN_TIMEOUT = 170
BUILD_TIMEOUT = 850
# A fixed heap: with a growing one, the full collection after each op
# shrinks it again, and runs settle into different GC regimes.
HEAP = "2g"
# Spark on JDK 17 needs these when it runs outside spark-submit; the same
# list as the root build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Files whose content decides the build, relative to the checkout."""
    roots = [("build.sbt",), ("project",), ("src", "main"),
             ("perfbench", "build.sbt"), ("perfbench", "project"),
             ("perfbench", "src")]
    files = []
    for parts in roots:
        path = os.path.join(ROOT, *parts)
        if os.path.isfile(path):
            files.append(path)
            continue
        for d, dirs, names in os.walk(path):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files.extend(os.path.join(d, n) for n in names
                         if n.endswith((".scala", ".sbt", ".properties", ".java")))
    return sorted(files)


def source_sha():
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def classpath(sha):
    """The benchmark's runtime classpath, building it when sources changed."""
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("sha") == sha and all(os.path.exists(p) for p in cached["cp"]):
            return cached["cp"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # sbt keeps its global state under .bench_build/ too
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}", "-J-XX:-UsePerfData",
           "compile", "export Runtime/fullClasspath"]
    try:
        out = subprocess.run(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                             stderr=subprocess.STDOUT, text=True,
                             timeout=BUILD_TIMEOUT, start_new_session=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    # `export` prints the classpath as a bare line after sbt's log lines
    cps = [x for x in out.stdout.splitlines() if x and not x.startswith("[") and ".jar" in x]
    cp = cps[-1].split(os.pathsep) if cps else []
    if not cp or not all(os.path.exists(p) for p in cp):
        sys.stderr.write(out.stdout[-4000:])
        fail("build did not print a classpath")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"sha": sha, "cp": cp}, fh)
    return cp


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        return out.stdout.strip() if out.returncode == 0 else ""
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("no engine sources next to perfbench/: run from the root of a graft checkout")
    sha = source_sha()
    cp = classpath(sha)

    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cores)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(cp), "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--cores", str(cores), "--launch-ms", str(int(time.time() * 1000)),
              "--work", os.path.join(run_dir, "work"),
              "--results", os.path.join(BUILD, "results"),
              "--source-sha", sha, "--commit", commit()])
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)

    def stop(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail("interrupted", 3)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT)
    except subprocess.TimeoutExpired:
        print("perfbench: run timed out", file=sys.stderr)
        stop()
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stderr.write(out[-4000:])
        fail(f"the benchmark JVM exited with {proc.returncode} and no result", 4)
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(0 if proc.returncode == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
