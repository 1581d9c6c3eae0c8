#!/usr/bin/env python3
"""graft benchmark: build the engine from source, run one workload, print JSON.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload code_pipeline --seed 1 --seconds 20 --trace 0

The engine (src/main/scala) and the benchmark harness (perfbench/src) are
compiled with the Scala compiler that ships in $SPARK_HOME/jars into
.bench_build/classes; the build is skipped when the sources are unchanged.
One JVM then runs the workload at local[N], N = min(4, CPUs), with
-XX:ActiveProcessorCount=N. Everything it writes stays under .bench_build.
The last line of standard output is the result object
{"correct", "attempted", "failed", "metrics"}; see perfbench/README.md.
"""

import argparse
import fcntl
import glob
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
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
WORKLOADS = ("code_pipeline", "forks_cycle")
JVM_TIMEOUT_S = 170
HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark distribution with a Scala compiler found (set SPARK_HOME)")
    return jars


def sources():
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC, ROOT)}")
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH_SRC, "*.scala")))
    if not any(f.startswith(ENGINE_SRC) for f in files):
        fail("no engine sources to build")
    return files


def build(jars):
    """Compile engine + harness unless the stamped sources are unchanged."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(classes) and os.path.exists(stamp_file) \
                and open(stamp_file).read() == stamp:
            return stamp
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        t0 = time.time()
        cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
               "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", tmp] + files
        rc = subprocess.call(cmd, stdout=sys.stderr)
        if rc != 0:
            fail(f"build failed (scalac exit {rc})", 3)
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
        print(f"perfbench: built {len(files)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return stamp


def run_jvm(args, jars, stamp):
    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-XX:ActiveProcessorCount={cores}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([os.path.join(BUILD, "classes"), os.path.join(jars, "*")]),
            "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--work", os.path.join(work, "run"),
            "--digests", os.path.join(BUILD, "digests", stamp[:16])]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"workload did not finish within {JVM_TIMEOUT_S} s", 4)
    shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        fail(f"benchmark JVM exited with {proc.returncode}", 5)
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t0 = time.time()
    jars = spark_jars()
    stamp = build(jars)
    run_jvm(args, jars, stamp)
    print(f"perfbench: {args.workload} seed {args.seed} finished in {time.time() - t0:.1f} s",
          file=sys.stderr)


if __name__ == "__main__":
    main()
