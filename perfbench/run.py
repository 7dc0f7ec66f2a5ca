#!/usr/bin/env python3
"""Build the benchmark from source and run one workload.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <live_season|gate_suites> \
        --seed <n> --seconds <s> --trace <0|1>

The first run builds: it compiles the engine's main sources together with
the harness (`perfbench/build.sbt`, offline sbt), packages them as a jar,
caches the classpath under `perfbench/target/`, and runs the live_season
set-up and two gates once in a JVM that writes a class data sharing archive,
which later runs map instead of loading those classes again. Every file a run
writes stays under `perfbench/out/` (stores, landing dirs, Spark scratch,
trace spans). The last stdout line is the JSON result printed by
`perfbench.Main`; the exit code is non-zero when the build fails, the run
times out, or any output check fails.
"""
import argparse
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CP_FILE = os.path.join(HERE, "target", "perfbench-classpath.txt")
ARCHIVE = os.path.join(HERE, "target", "perfbench-classes.jsa")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these opens (as in build.sbt).
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def newest_source_mtime():
    roots = [os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    newest = 0.0
    for r in roots:
        if os.path.isfile(r):
            newest = max(newest, os.path.getmtime(r))
        for d, _, files in os.walk(r):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def java_cmd(cp, *jvm_flags):
    cmd = ["java"]
    for o in OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    tmp = os.path.join(HERE, "out", "tmp")
    os.makedirs(tmp, exist_ok=True)
    return cmd + list(jvm_flags) + [
        "-Xms3g", "-Xmx3g", "-Xss64m", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
        f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main"]


def java_env():
    return dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(HERE, "out", "tmp"))


def run_java(cmd, timeout, stdout=None):
    p = subprocess.Popen(cmd, cwd=ROOT, env=java_env(), stdout=stdout)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"{cmd[-1]} exceeded {timeout} s", 4)


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources at src/main/scala/graft; run from a full checkout", 2)
    if os.path.isfile(ARCHIVE) and os.path.getmtime(ARCHIVE) >= newest_source_mtime():
        return
    for f in (CP_FILE, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    cmd = ["sbt", "--batch", "-Dsbt.server.autostart=false",
           "-Dsbt.log.noformat=true", "compile", "package",
           "export Runtime/fullClasspathAsJars"]
    try:
        p = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE,
                           stderr=sys.stderr, text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}", 2)
    sys.stderr.write(p.stdout)
    cps = [l for l in p.stdout.splitlines()
           if os.path.join("perfbench", "target") in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        fail(f"build failed (sbt exit {p.returncode})", 2)
    with open(CP_FILE, "w") as f:
        f.write(cps[-1].strip())
    # class data sharing archive of the classes a set-up loads
    # (it needs jars only, hence the packaged classpath)
    code = run_java(java_cmd(cps[-1].strip(), f"-XX:ArchiveClassesAtExit={ARCHIVE}")
                    + ["--class-archive-run", "--data", os.path.join(HERE, "data", "sf0.01"),
                       "--work", os.path.join(HERE, "out")], BUILD_TIMEOUT_S,
                    stdout=sys.stderr)
    if code != 0 or not os.path.isfile(ARCHIVE):
        fail(f"class archive run failed (exit {code})", 2)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    build()
    with open(CP_FILE) as f:
        cp = f.read().strip()
    out = os.path.join(HERE, "out")
    cmd = java_cmd(cp, f"-XX:SharedArchiveFile={ARCHIVE}") + [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace,
        "--data", os.path.join(HERE, "data", "sf0.01"), "--work", out]
    sys.exit(run_java(cmd, RUN_TIMEOUT_S))


if __name__ == "__main__":
    main()
