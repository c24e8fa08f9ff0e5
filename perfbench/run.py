#!/usr/bin/env python3
"""Seeded benchmark of graft: builds the program and the harness from
source with sbt (first run only), then runs one workload in one JVM.

    python3 perfbench/run.py --workload er_batch --seed 42 --seconds 20 --trace 0

Run it from the root of the repository. Build output, Spark scratch space
and traces go under .bench_build/. The last line of standard output is
the result as one JSON object; see perfbench/README.md.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("er_batch", "suggest_lookup")
# Each run must end within 180 s; leave room for the JVM to stop.
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_child(cmd, timeout, **kw):
    """Runs a child in a process group of its own and waits for it; on a
    timeout or a stop signal the whole group is killed before exiting."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)

    def kill():
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()

    def stop(signum, _frame):
        kill()
        fail(f"stopped by signal {signum}")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill()
        fail(f"{os.path.basename(cmd[0])} exceeded {timeout} s")
    return proc.returncode, out, err


def classpath():
    """Builds with sbt when the sources changed; returns the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    code, out, err = run_child(
        [sbt, "-batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, text=True)
    lines = out.strip().splitlines()
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out[-4000:] + err[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("run from the root of a graft checkout (build.sbt and src/main/scala)")

    cp = classpath()
    work = os.path.join(BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java = shutil.which("java", path=os.path.join(os.environ.get("JAVA_HOME", ""), "bin")) \
        or shutil.which("java")
    if java is None:
        fail("java not found")
    cmd = [java, "-Xms4g", "-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for m in JAVA_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work-dir", work,
            "--ops-data", os.path.join(HERE, "data")]
    code, _, _ = run_child(cmd, RUN_TIMEOUT_S, cwd=ROOT)
    if code != 0:
        fail(f"benchmark JVM exited with code {code}")


if __name__ == "__main__":
    main()
