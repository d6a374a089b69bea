#!/usr/bin/env python3
"""Entry point of the graft benchmark.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. It compiles graft (`sbt compile` at
the root, only when the sources changed since the last build) and this
harness (`sbt compile` in perfbench/), then runs the workload in one JVM
with Spark `local[nproc]` and prints the result object as the last line
of stdout. `--selftest` runs the harness's own tests instead.

Everything the run writes stays under `.bench_build/` in the checkout.
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
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_digest(paths):
    """Digest of the names and contents of every file under paths."""
    h = hashlib.sha1()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = []
            for d, dirs, fs in os.walk(base):
                dirs[:] = sorted(x for x in dirs if x != "target")
                files += [os.path.join(d, f) for f in sorted(fs)]
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()


def tmp_dir():
    d = os.path.join(BUILD, "tmp")
    os.makedirs(d, exist_ok=True)
    return d


def sbt_compile(cwd, inputs, classes, stamp_name):
    """`sbt compile` in cwd unless the inputs are unchanged since the
    last successful build (recorded in .bench_build/<stamp_name>)."""
    stamp = os.path.join(BUILD, stamp_name)
    digest = tree_digest(inputs)
    if os.path.isdir(classes) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == digest:
                return
    log(f"building {os.path.relpath(cwd, ROOT) or '.'} ...")
    t0 = time.time()
    # every JVM sbt starts keeps its temp files in the checkout and writes
    # no perf-data file to the system temp directory
    env = dict(os.environ, TMPDIR=tmp_dir(), JAVA_TOOL_OPTIONS=" ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={tmp_dir()}"]).strip())
    with open(os.path.join(BUILD, stamp_name + ".log"), "w") as out:
        rc = subprocess.call(
            ["sbt", "-batch", "-Dsbt.server.autostart=false", "compile"],
            cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.exit(f"build failed in {cwd}; see {out.name}")
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.0f} s")


def build():
    for need in ("build.sbt", "src/main/scala", "project/build.properties"):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"not a graft checkout: {need} is missing in {ROOT}")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home and shutil.which("spark-submit"):
        spark_home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        sys.exit("set SPARK_HOME to a Spark distribution")
    os.environ["SPARK_HOME"] = spark_home
    os.makedirs(BUILD, exist_ok=True)
    root_classes = os.path.join(ROOT, "target", "scala-2.13", "classes")
    sbt_compile(ROOT,
                [os.path.join(ROOT, p) for p in
                 ("build.sbt", "project/build.properties", "src/main")],
                root_classes, "graft.stamp")
    bench_classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    sbt_compile(HERE,
                [os.path.join(HERE, p) for p in
                 ("build.sbt", "project/build.properties", "src")]
                + [root_classes],
                bench_classes, "perfbench.stamp")
    return [bench_classes, root_classes,
            os.path.join(spark_home, "jars", "*")]


def java_cmd(classpath, main, args, tmp):
    opens = []
    for p in ADD_OPENS:
        opens += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"] + opens
            + ["-cp", os.pathsep.join(classpath), main] + args)


def run_jvm(cmd, timeout):
    """Run the JVM in its own process group; kill the group on timeout.
    Returns (exit code, stdout)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            env=dict(os.environ, TMPDIR=tmp_dir()),
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return 124, ""
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the harness's own tests")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    classpath = build()
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    try:
        if a.selftest:
            rc, out = run_jvm(java_cmd(classpath, "graftbench.SelfTest",
                                       [ROOT, work], tmp), RUN_TIMEOUT_S)
            sys.stdout.write(out)
            sys.exit(rc)
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work, "--traces", os.path.join(BUILD, "traces"),
                "--data", os.path.join(HERE, "data")]
        rc, out = run_jvm(java_cmd(classpath, "graftbench.Main", args, tmp),
                          RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if rc != 0 or not lines:
        sys.exit(f"benchmark JVM failed (exit {rc})")
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    for line in lines[:-1]:
        log(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
