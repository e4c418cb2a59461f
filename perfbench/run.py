#!/usr/bin/env python3
"""Run one benchmark workload of the repository and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
harness from source (plain scalac, about 30 s) into .bench_build/; later
runs reuse the build while the sources are unchanged. The last line of
standard output is the result object; the line before it carries the run's
provenance and workload-specific figures. See perfbench/README.md.
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

WORKLOADS = ("registry_sf0.1", "index_rw")
# the Spark distribution the root build.sbt compiles against
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
FIXTURES = os.environ.get("PERFBENCH_SF01", "/root/testdata/sf0.1")
RUN_TIMEOUT_S = 170
# local[N] with N <= nproc; 4 is the core count the workloads are sized for
CPUS = min(4, os.cpu_count() or 1)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    if not prog:
        fail("no program sources under src/main/scala; run from the repository root")
    if not harness:
        fail("no harness sources under perfbench/src")
    return prog + harness


def spark_jars():
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not jars:
        fail(f"no Spark jars in {SPARK_JARS} (set SPARK_HOME)")
    return jars


def build(root, build_dir):
    """Compile program + harness once per source state; returns classes dir."""
    srcs = sources(root)
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()[:16]
    classes = os.path.join(build_dir, f"classes-{stamp}")
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(classes):
            return classes, stamp
        for old in glob.glob(os.path.join(build_dir, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        compiler = [j for j in jars if os.path.basename(j).startswith(
            ("scala-compiler-", "scala-reflect-", "scala-library-"))]
        argfile = os.path.join(build_dir, "scalac.args")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        t0 = time.time()
        res = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", ":".join(compiler),
             "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", ":".join(jars),
             "@" + argfile],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if res.returncode != 0:
            print(res.stdout[-4000:], file=sys.stderr)
            fail("build failed")
        os.rename(tmp, classes)
        print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.1f} s",
              file=sys.stderr)
        return classes, stamp


def git_commit(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return "none"
    try:
        return subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], text=True,
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def run_jvm(cmd, log_path, timeout):
    """Run the harness JVM in its own process group; kill the group on
    timeout and wait for it, so no process outlives the run."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded {timeout} s (log: {log_path})")
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    root = os.getcwd()
    bdir = os.path.join(root, ".bench_build", "perfbench")
    classes, stamp = build(root, bdir)
    work = os.path.join(bdir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    logs = os.path.join(bdir, "logs")
    os.makedirs(logs, exist_ok=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(logs, f"{args.workload}-{args.seed}-t{args.trace}.log")
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    cmd = (["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-cp", classes + ":" + os.path.join(SPARK_JARS, "*"), "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--work", work, "--inputs", os.path.join(bdir, "inputs"),
              "--traces", os.path.join(bdir, "traces"),
              "--fixtures", FIXTURES,
              "--expected", os.path.join(root, "perfbench", "expected", "registry_sf0.1.json"),
              "--cpus", str(CPUS),
              "--info.git_commit", git_commit(root), "--info.source_sha", stamp])
    try:
        code, out = run_jvm(cmd, log_path, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if code != 0 or len(lines) < 2:
        sys.stderr.write(f"perfbench: run failed with exit code {code} (log: {log_path})\n")
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        sys.exit(1)
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    print(lines[-2])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
