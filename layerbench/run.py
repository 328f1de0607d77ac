#!/usr/bin/env python3
"""Build and run the layer benchmark.

    python3 layerbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 layerbench/run.py --selftest

The benchmark compiles the engine sources (src/main/scala) together with its
own harness (layerbench/src) with the Scala compiler that ships in the Spark
jars directory, into a jar under .bench_build/layerbench, and rebuilds
whenever a source file changes. The first run after a build records the
classes it loads in a class-data-sharing archive, which halves the JVM's and
Spark's start-up in every later run. Each run starts one JVM with local[N]
Spark. Everything
the run writes goes under .layerbench/ in the checkout. The last line of
standard output is the result object; a stamp line with the run settings
precedes it.
"""

import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(ROOT, ".bench_build", "layerbench")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
STATE = os.path.join(ROOT, ".layerbench")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
SELFTEST_TIMEOUT_S = 900
HEAP = "3g"

# Spark on JDK 17 needs these when the session is created outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

_child = None


def fail(msg, code=2):
    print("layerbench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """$SPARK_HOME/jars, else the unmanagedBase directory of the root build."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
            if m:
                candidates.append(m.group(1))
    except OSError:
        pass
    for jars in candidates:
        if os.path.isdir(jars):
            return jars
    fail("no Spark jars directory (set SPARK_HOME)")


def scala_files(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_digest(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def source_id(digest):
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                                 capture_output=True, text=True, timeout=20)
            if sha.returncode == 0:
                return "git:" + sha.stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    return "sources-sha256:" + digest[:16]


def run_child(cmd, timeout, env=None, capture=False):
    """Run cmd in its own process group; kill the group on timeout."""
    global _child
    _child = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True,
                              stdout=subprocess.PIPE if capture else None)
    try:
        out, _ = _child.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop_child()
        fail("timed out after %d s: %s" % (timeout, cmd[0]), 5)
    code = _child.returncode
    _child = None
    return code, (out.decode("utf-8", "replace") if capture else "")


def stop_child(*_):
    if _child is not None and _child.poll() is None:
        try:
            os.killpg(_child.pid, signal.SIGTERM)
            _child.wait(timeout=20)
        except (OSError, subprocess.TimeoutExpired):
            os.killpg(_child.pid, signal.SIGKILL)
            _child.wait()


def on_signal(signum, _frame):
    stop_child()
    sys.exit(128 + signum)


def build(jars):
    """Compile engine + harness into a jar unless it matches the sources."""
    files = scala_files(ENGINE_SRC) + scala_files(HARNESS_SRC)
    digest = source_digest(files, jars)
    classes = os.path.join(BUILD, "layerbench.jar")
    stamp = os.path.join(BUILD, "sources.sha256")
    if os.path.exists(classes) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                return classes, digest
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    fresh = os.path.join(BUILD, "layerbench.new.jar")
    if os.path.exists(fresh):
        os.remove(fresh)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    t0 = time.time()
    cp = os.path.join(jars, "*")
    code, _ = run_child(["java", "-Xmx3g", "-Xss8m", "-cp", cp,
                         "scala.tools.nsc.Main", "-nowarn", "-d", fresh,
                         "-classpath", cp, "@" + argfile], BUILD_TIMEOUT_S)
    if code != 0:
        fail("compile failed (exit %d)" % code, 6)
    os.replace(fresh, classes)
    # the archive lists the jar's classes: a new jar needs a new archive
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    with open(stamp, "w") as fh:
        fh.write(digest + "\n")
    print("layerbench: built %d sources in %.1f s" % (len(files), time.time() - t0),
          file=sys.stderr)
    return classes, digest


def main(argv):
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail("engine sources not found under %s" % ENGINE_SRC)
    if not os.path.isdir(HARNESS_SRC):
        fail("harness sources not found under %s" % HARNESS_SRC)
    if shutil.which("java") is None:
        fail("no java on PATH")
    jars = spark_jars()
    classes, digest = build(jars)
    work = os.path.join(STATE, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # the class-data-sharing archive may only name jars on the class path,
    # hence the jar; without an archive this run records one at exit
    fresh_archive = ARCHIVE + ".new"
    if os.path.exists(ARCHIVE):
        share = ["-XX:SharedArchiveFile=" + ARCHIVE]
    else:
        share = ["-XX:ArchiveClassesAtExit=" + fresh_archive, "-Xlog:cds*=off"]
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseParallelGC",
           # JVM warnings go to stderr: stdout carries the result
           "-Xlog:disable", "-Xlog:all=warning:stderr",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    cmd += share
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "layerbench.Main"] + list(argv)
    if "--selftest" not in argv:
        cmd += ["--work", work]
    env = dict(os.environ, LAYERBENCH_SOURCE=source_id(digest))
    budget = SELFTEST_TIMEOUT_S if "--selftest" in argv else RUN_TIMEOUT_S
    code, out = run_child(cmd, budget, env=env, capture=True)
    shutil.rmtree(work, ignore_errors=True)
    if os.path.exists(fresh_archive):
        if code == 0:
            os.replace(fresh_archive, ARCHIVE)
        else:
            os.remove(fresh_archive)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0:
        sys.stdout.write("\n".join(l for l in lines if not l.startswith("{\"correct\"")) + "\n")
        fail("benchmark exited with %d" % code, code)
    if "--selftest" in argv:
        sys.stdout.write(out)
        return 0
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stdout.write(out)
        fail("no result line in the benchmark output", 4)
    sys.stdout.write("\n".join(lines[:-1]) + "\n")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
