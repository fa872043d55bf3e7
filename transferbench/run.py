#!/usr/bin/env python3
"""Run one workload of the graft transfer benchmark.

    python3 transferbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark program with sbt (a build of the benchmark's own, see build.sbt)
into $CARGO_TARGET_DIR or .bench_build; later runs reuse that build until a
source file changes. The run itself is one JVM (graftbench.Main) whose last
stdout line is the JSON result, which this script prints last.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

WORKLOADS = ("snapshot_chain", "replicate_spread", "replicate_hot", "index_maintain")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"transferbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest(root, bench):
    """Hash of every input of the build, so an edited source rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(bench, "build.sbt"),
             os.path.join(bench, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"), os.path.join(bench, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, bench, build_dir):
    """Compile with sbt unless the stamped build matches the sources;
    returns the runtime classpath. Concurrent runs in one checkout take
    turns: the lock is held until this process exits."""
    lock = open(os.path.join(build_dir, "build.lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    build.lock = lock
    stamp = os.path.join(build_dir, "transferbench.stamp")
    cp_file = os.path.join(build_dir, "transferbench.classpath")
    digest = source_digest(root, bench)
    main_class = os.path.join(build_dir, "transferbench-target", "scala-2.13", "classes",
                              "graftbench", "Main.class")
    if os.path.exists(stamp) and os.path.exists(cp_file) and os.path.exists(main_class):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    env["CARGO_TARGET_DIR"] = build_dir
    # no JVM perf-data files, and sbt's temporary files in the build directory
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    tmp = os.path.join(build_dir, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}",
           f"-Djna.tmpdir={tmp}", "compile", "export Runtime/fullClasspath"]
    print("transferbench: building with sbt ...", file=sys.stderr, flush=True)
    proc = subprocess.Popen(cmd, cwd=bench, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        kill(proc)
        fail("build timed out")
    if proc.returncode != 0:
        sys.stderr.write(out)
        fail(f"build failed (sbt exit {proc.returncode})")
    cps = [ln.strip() for ln in out.splitlines()
           if "transferbench-target" in ln and ".jar" in ln and not ln.startswith("[")]
    if not cps or not os.path.exists(main_class):
        sys.stderr.write(out)
        fail("sbt built no runnable classpath")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cps[-1]


def kill(proc):
    """Stop a child started in its own session, and everything it started."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def is_result(line):
    try:
        obj = json.loads(line)
    except ValueError:
        return False
    return isinstance(obj, dict) and set(obj) == {"correct", "attempted", "failed", "metrics"}


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")

    bench = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(bench)
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {root}/src/main/scala/graft")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    build_dir = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    if not os.path.isabs(build_dir):
        build_dir = os.path.join(root, build_dir)
    os.makedirs(build_dir, exist_ok=True)
    classpath = build(root, bench, build_dir)

    work = os.path.join(build_dir, "run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={work}/tmp",
              "-cp", classpath, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--traces", os.path.join(build_dir, "traces")])
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    # a stopped run stops its JVM too
    signal.signal(signal.SIGTERM, lambda *_: (kill(proc), sys.exit(1)))
    result = None
    deadline = time.monotonic() + RUN_TIMEOUT_S
    timer = threading.Timer(RUN_TIMEOUT_S, lambda: kill(proc))
    timer.start()
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if is_result(line):
                result = line
            else:
                print(line, flush=True)
        proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            kill(proc)
        shutil.rmtree(work, ignore_errors=True)
    if time.monotonic() > deadline:
        fail(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
    if proc.returncode != 0 or result is None:
        fail(f"benchmark JVM exited with {proc.returncode} and no result")
    print(result, flush=True)


if __name__ == "__main__":
    main()
