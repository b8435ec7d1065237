#!/usr/bin/env python3
"""Pipeline benchmark: files -> events -> loopback endpoint.

Run from the repository root:

    python3 perfbench/run.py --workload batch_flaky_endpoint --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Builds the engine (src/main/scala) and the harness (perfbench/src) from
source with the Scala compiler shipped in Spark's jar directory, caches the
classes under the build directory ($CARGO_TARGET_DIR, default .bench_build)
keyed by a hash of every source file, then runs one workload in a fresh JVM.
The last line of stdout is the result JSON. Exit 0 on a correct run, 1 when
the correctness gate failed, 2 when the benchmark could not run.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
START = time.monotonic()

# What spark-submit would add on JDK 17 (same list as the engine's build.sbt).
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
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java found: set JAVA_HOME or put java on PATH")
    return exe


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the engine build's unmanagedBase."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            candidates.append(m.group(1))
    for c in candidates:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    fail("no Spark jar directory with a Scala compiler: set SPARK_HOME")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        fail("engine sources not found under src/main/scala: "
             "run this from the root of a graft checkout")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not bench:
        fail("harness sources not found under perfbench/src")
    return engine + bench


def build(build_dir, jars, srcs):
    """Compile engine + harness once per source hash; returns the class dir."""
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out, False
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    cp = os.path.join(jars, "*")
    t0 = time.monotonic()
    print(f"[perfbench] compiling {len(srcs)} sources ...", file=sys.stderr)
    r = subprocess.run([java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
                        "scala.tools.nsc.Main",
                        "-nowarn", "-d", out, "-classpath", cp] + srcs,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail("compile failed")
    open(os.path.join(out, ".done"), "w").close()
    print(f"[perfbench] compiled in {time.monotonic() - t0:.1f} s", file=sys.stderr)
    return out, True


def run_jvm(classes, jars, build_dir, main_class, args, deadline):
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: the JVM would otherwise write hsperfdata under /tmp
    cmd = [java(), "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", classes + os.pathsep + os.path.join(jars, "*"), main_class] + args
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=max(10, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail("run timed out and was stopped")
    return p.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="run the correctness gate's own tests")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        fail("--workload is required")

    srcs = sources()
    jars = spark_jars()
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classes, built = build(build_dir, jars, srcs)
    # a run takes its setups plus the window plus one sample; the first run
    # in a checkout also compiles
    deadline = START + (850 if built else 132) + 4 * a.seconds

    if a.self_test:
        code, lines = run_jvm(classes, jars, build_dir, "graft.perfbench.GateSelfTest", [],
                              deadline)
        print("\n".join(lines))
        sys.exit(0 if code == 0 else 1)

    code, lines = run_jvm(classes, jars, build_dir, "graft.perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace),
        "--work", os.path.join(build_dir, "work"),
        "--traces", os.path.join(build_dir, "traces")], deadline)
    if code not in (0, 1) or not lines:
        fail(f"benchmark JVM exited with code {code}")
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1]}")
    print(lines[-1])
    sys.exit(0 if code == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
