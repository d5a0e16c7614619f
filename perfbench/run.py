#!/usr/bin/env python3
"""Build and run the repository benchmark.

    python3 perfbench/run.py --workload cdc_apply --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run in a checkout compiles the
program and the benchmark with sbt into the build's own target directories
and records the classpath under .bench_build/; later runs reuse it until a
source file changes. The benchmark itself runs in one JVM (perfbench.Main), whose last
stdout line is the result object.
"""
import argparse
import hashlib
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("cdc_apply", "table_reads")
# Non-building runs must end within 180 s; keep a margin for JVM exit.
RUN_LIMIT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    out = []
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src/main"):
        p = os.path.join(ROOT, top)
        if os.path.isfile(p):
            out.append(p)
        for d, dirs, files in os.walk(p):
            dirs.sort()
            out.extend(os.path.join(d, f) for f in sorted(files))
    return out


def stamp():
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(tree):
    """Compile with sbt unless the recorded build matches the sources."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == tree:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       f" -Djava.io.tmpdir={os.path.join(BUILD, 'tmp')} -Dsbt.server.autostart=false")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        stdin=subprocess.DEVNULL)
    lines = proc.stdout.splitlines()
    cp = [l for l in lines if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if proc.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(tree)
    return cp[-1].strip()


def source_id(tree):
    try:
        rev = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if rev.returncode == 0:
            return rev.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "tree-sha256:" + tree[:16]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no program sources under src/main/scala/graft; run from a full checkout")

    os.makedirs(BUILD, exist_ok=True)
    tree = stamp()
    cp = build(tree)
    work = os.path.join(ROOT, ".bench_work")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # A fixed heap and young generation: peak RSS then follows live data and
    # native memory instead of G1's adaptive sizing, which moved it by ±15%
    # between runs of the same code.
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn512m", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace]
    env = dict(os.environ, PERFBENCH_SOURCE=source_id(tree))
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=max(30, RUN_LIMIT_S - (time.monotonic() - t0)))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("benchmark run exceeded its time limit")
    sys.exit(code)


if __name__ == "__main__":
    main()
