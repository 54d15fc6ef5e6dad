#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload render --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds the program and the
benchmark code from source with sbt (perfbench/build.sbt); later runs
launch the JVM directly on the recorded classpath. The last line of standard
output is one JSON object: correct, attempted, failed, metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "classpath.txt")
WORKLOADS = ("render", "lifecycle")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 780

# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_newer_than(path):
    stamp = os.path.getmtime(path)
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt")):
        if os.path.isfile(base):
            if os.path.getmtime(base) > stamp:
                return True
            continue
        for d, _, files in os.walk(base):
            for f in files:
                if os.path.getmtime(os.path.join(d, f)) > stamp:
                    return True
    return False


def build():
    """Compile the program and the benchmark; record the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources (build.sbt, src/main/scala/graft) are not "
             "next to perfbench/; run from a full checkout")
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    os.makedirs(TARGET, exist_ok=True)
    out = os.path.join(TARGET, "export-classpath.txt")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "compile", f"export Runtime/fullClasspath"]
    with open(os.path.join(TARGET, "build.log"), "w") as log:
        try:
            proc = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                                  stderr=log, text=True, timeout=BUILD_TIMEOUT_S,
                                  stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            fail("build timed out")
        log.write(proc.stdout)
    if proc.returncode != 0:
        fail(f"build failed (see {os.path.relpath(log.name, ROOT)})")
    lines = [l for l in proc.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath")
    with open(out, "w") as f:
        f.write(lines[-1].strip())
    os.replace(out, CLASSPATH_FILE)


def classpath():
    if not os.path.isfile(CLASSPATH_FILE) or sources_newer_than(CLASSPATH_FILE):
        build()
    with open(CLASSPATH_FILE) as f:
        return f.read().strip()


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = classpath()
    work = tempfile.mkdtemp(prefix=f"run-{a.workload}-", dir=os.path.join(HERE, "target"))
    out_dir = os.path.join(HERE, "out")
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={work}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out_dir]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    started = time.monotonic()
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            stdin=subprocess.DEVNULL, env=env)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("run timed out", code=3)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"benchmark exited with {proc.returncode}", code=4)
    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if not lines:
        fail("benchmark printed no result", code=4)
    result = json.loads(lines[-1])
    want = expected_metrics(a.trace == 1)
    got = list(result["metrics"])
    if sorted(got) != sorted(want):
        fail(f"metric names differ from BENCHMARK.json: "
             f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}",
             code=5)
    print(f"perfbench: {a.workload} seed {a.seed} took "
          f"{time.monotonic() - started:.1f} s", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
