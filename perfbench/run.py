#!/usr/bin/env python3
"""Run one graft benchmark workload.

    python3 perfbench/run.py --workload ingest|dashboard|dedup --seed N \
        --seconds S --trace 0|1

Builds the driver (perfbench/build.sbt: graft's own sources plus the
driver) the first time, or whenever a source file changed, into
.bench_build (or $CARGO_TARGET_DIR), with a class-data-sharing archive
for fast JVM start. Then runs the workload in one JVM
with local[nproc] Spark threads and a heap sized from MemTotal. Everything
the run writes stays under the build directory. The last line of stdout
is the driver's JSON result; the exit code is non-zero when the build
fails, the run fails, or any correctness check fails.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
WORKLOADS = ("ingest", "dashboard", "dedup")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    out = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return out if os.path.isabs(out) else os.path.join(ROOT, out)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("cannot find Spark: set SPARK_HOME or put spark-submit on PATH")
    return home


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (GRAFT_SRC, BENCH_SRC):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def java_cmd(classpath, extra):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # a fixed start heap: the default one keeps the first minutes GC-bound,
    # one at the maximum lets the young generation touch fresh pages all run
    cmd = [java, f"-Xmx{heap()}", "-Xms2g"] + extra
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-Dspark.ui.enabled=false",
                  "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
                  "-cp", classpath, "graftbench.Main"]


def build(env):
    """Compile and package the driver with graft's sources, then record a
    class-data-sharing archive from one short traced dashboard run (it
    loads nearly every Spark and graft class the workloads use): a fresh
    JVM then maps those classes instead of parsing them again, which cuts
    several seconds off every run's start. Returns (classpath, archive or
    None)."""
    target = os.path.join(build_dir(), "perfbench")
    cp_file = os.path.join(target, "classpath.txt")
    jsa = os.path.join(target, "classes.jsa")
    stamp_file = os.path.join(target, "source.sha256")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as c:
                    return c.read().strip(), (jsa if os.path.exists(jsa) else None)
    print("run.py: building the benchmark driver", file=sys.stderr)
    t0 = time.time()
    for f in (stamp_file, jsa):
        if os.path.exists(f):
            os.remove(f)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(cp_file):
        fail(f"build failed (sbt exit {proc.returncode})", 3)
    with open(cp_file) as c:
        classpath = c.read().strip()
    runs = os.path.join(build_dir(), "runs")
    os.makedirs(runs, exist_ok=True)
    train = java_cmd(classpath, [f"-XX:ArchiveClassesAtExit={jsa}", "-Xlog:cds=off"]) + [
        "--workload", "dashboard", "--seed", "1", "--seconds", "1", "--trace", "1",
        "--work", os.path.join(runs, "cds-training"), "--threads",
        str(len(os.sched_getaffinity(0)))]
    try:
        subprocess.run(train, cwd=runs, env=env, stdout=subprocess.DEVNULL, stderr=sys.stderr,
                       timeout=max(60, BUILD_TIMEOUT_S - (time.time() - t0)))
    except subprocess.TimeoutExpired:
        print("run.py: class-data-sharing run timed out; running without it", file=sys.stderr)
    shutil.rmtree(os.path.join(runs, "cds-training"), ignore_errors=True)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    print(f"run.py: built in {time.time() - t0:.0f}s", file=sys.stderr)
    return classpath, (jsa if os.path.exists(jsa) else None)


def heap():
    """Half of MemTotal, clamped to 2-8 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        fail(f"graft sources not found under {GRAFT_SRC}")
    env = dict(os.environ, SPARK_HOME=spark_home())
    classpath, jsa = build(env)

    runs = os.path.join(build_dir(), "runs")
    work = os.path.join(runs, f"{args.workload}-s{args.seed}-t{args.trace}")
    os.makedirs(runs, exist_ok=True)
    cds = [f"-XX:SharedArchiveFile={jsa}", "-Xlog:cds=off"] if jsa else []
    cmd = java_cmd(classpath, cds) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--threads", str(len(os.sched_getaffinity(0)))]
    proc = subprocess.Popen(cmd, cwd=runs, env=env, stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S}s and was stopped", 4)
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
