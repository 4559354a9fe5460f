#!/usr/bin/env python3
"""Benchmark of record for destorspark: build, run one workload, print one JSON line.

Run from the root of a checkout:

    python3 perfbench/run.py --workload chain|roundtrip \
        --seed N --seconds S --trace 0|1

The first run in a checkout compiles src/main/scala and perfbench/src with
the Scala compiler that ships in the Spark jars directory ($SPARK_HOME/jars,
or the jars directory next to spark-submit on PATH) into
$CARGO_TARGET_DIR/perfbench (default .bench_build/perfbench); later runs
reuse the classes while the sources are unchanged. The workload runs in one JVM at local[nproc] with a fixed heap
sized from /proc/meminfo (half of RAM, 2..8 GiB). Every file the run writes
stays under the build directory; its data directory is removed at exit.
The last line of standard output is the result object; lines before it,
starting with '#', describe the run. See perfbench/NOTES.md.
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

RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
WORKLOADS = ("chain", "roundtrip")

# build.sbt's forked-JVM settings, repeated here so the benchmark launches
# the program the same way without going through sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
MALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": "268435456",
    "MALLOC_TRIM_THRESHOLD_": "268435456",
    "MALLOC_TOP_PAD_": "67108864",
    "MALLOC_ARENA_MAX": "64",
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def heap_size():
    """Half of MemTotal in whole GiB, clamped to 2..8, as the tier-1 test command sizes it."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(max(g, 2), 8)}g"
    except OSError:
        pass
    return "2g"


def spark_jars():
    """The Spark distribution's jars directory: $SPARK_HOME/jars, else the
    first spark-submit on PATH that sits in a distribution."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        if os.path.isfile(exe):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(exe))))
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return os.path.join(home, "jars")
    fail("no Spark distribution: set SPARK_HOME or put its spark-submit on PATH")


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/*.scala")))
    return prog, bench


def compile_scala(jars, classpath, out, files):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", out] + files
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_TIMEOUT_S, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout)
        fail(f"compile failed ({len(files)} files into {out})")


def digest(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(root, build_dir, jars):
    """Compile the program, then the benchmark against it, each once per
    source state; return the two class directories."""
    prog, bench = sources(root)
    if not prog:
        fail(f"no program sources under {os.path.join(root, 'src/main/scala')}")
    if not bench:
        fail(f"no benchmark sources under {os.path.join(root, 'perfbench/src')}")
    main_out = os.path.join(build_dir, "main-" + digest(root, prog))
    bench_out = os.path.join(build_dir, "bench-" + digest(root, prog + bench))
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        for out, files, cp in ((main_out, prog, jars),
                               (bench_out, bench, jars + os.pathsep + main_out)):
            if os.path.exists(out + ".ok"):
                continue
            shutil.rmtree(out, ignore_errors=True)
            t0 = time.monotonic()
            compile_scala(jars, cp, out, files)
            open(out + ".ok", "w").close()
            print(f"# compiled {len(files)} sources into {out} in "
                  f"{time.monotonic() - t0:.1f} s", flush=True)
    return main_out, bench_out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src/main/scala")):
        fail("run from the root of a checkout: src/main/scala is missing")
    jars = os.path.join(spark_jars(), "*")

    build_root = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    build_dir = os.path.join(root, build_root, "perfbench")
    main_classes, bench_classes = build(root, build_dir, jars)

    work = os.path.join(build_dir, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "data"):
        os.makedirs(os.path.join(work, d))
    heap = heap_size()
    cores = len(os.sched_getaffinity(0))
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Xms{heap}", f"-Xmx{heap}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", os.pathsep.join([jars, main_classes, bench_classes]),
            "perfbench.PerfBench",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--cores", str(cores)])
    env = dict(os.environ, **MALLOC_ENV, SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"))
    log_path = os.path.join(build_dir, f"jvm-{a.workload}-trace{a.trace}.log")
    print(f"# {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"local[{cores}] heap={heap}", flush=True)

    with open(log_path, "w") as log:
        # set-up time counts from here, so it includes the JVM start
        cmd += ["--launched", repr(time.time())]
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                stderr=log, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {RUN_TIMEOUT_S} s; JVM log in {log_path}")
    spans = os.path.join(work, "trace.json")
    if os.path.exists(spans):
        kept = os.path.join(build_dir, f"trace-{a.workload}-seed{a.seed}.json")
        os.replace(spans, kept)
        print(f"# spans and counters: {kept}")
    shutil.rmtree(work, ignore_errors=True)

    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        fail(f"JVM exited with {proc.returncode}; log in {log_path}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        sys.stderr.write(out)
        fail(f"no result line; log in {log_path}")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
