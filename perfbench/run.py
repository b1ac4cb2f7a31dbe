#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload catalog_sync --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark's own code from source with sbt (offline) into `.bench_build/`; later
runs reuse that build until a source file changes. Each run starts one JVM
(local[4] Spark), generates its inputs from --seed under
`.bench_build/work/`, measures for about --seconds, checks the outputs and
prints one JSON object:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics
(and writes the spans to .bench_build/last/<workload>-trace1/trace.jsonl).
--scale tiny shrinks every input, for the benchmark's own tests.
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("catalog_sync", "corpus_ingest")
RUN_LIMIT_S = 170  # a run must end within 180 s
BUILD_LIMIT_S = 850

# Spark on JDK 17 needs these outside spark-submit (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the program's and the benchmark's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, limit):
    """Run cmd in its own process group; kill the group at the time limit.
    Returns (returncode or None on timeout, stdout)."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                            stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=limit)
        return proc.returncode, out or ""
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, ""


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    want = stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            have, cp = fh.read().split("\n", 1)
        if have == want:
            return cp.strip()
    log("building the program and the benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    rc, out = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                           "export perfbench/Runtime/fullClasspath"],
                          HERE, env, BUILD_LIMIT_S)
    lines = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if rc != 0 or not lines:
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"build failed (exit {rc})")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(want + "\n" + cp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.exists(os.path.join(ROOT, "build.sbt")):
        log(f"no program sources under {ROOT}: run from the root of a checkout")
        return 2
    t_start = time.time()
    cp = build()

    name = f"{a.workload}-trace{a.trace}"
    work = os.path.join(BUILD, "work", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # a fixed, pre-touched heap: peak RSS then moves with memory outside it
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.local.dir={work}/tmp",
           f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--scale", a.scale,
            "--dir", os.path.join(work, "run")]
    limit = max(10, RUN_LIMIT_S - (time.time() - t_start)) if a.scale == "full" else 600
    rc, out = run_bounded(cmd, work, dict(os.environ), limit)
    result = None
    for line in out.splitlines():
        if line.startswith('{"correct"'):
            result = line
        else:
            print(line, file=sys.stderr)

    # keep the small artifacts of the last run, drop the generated data
    last = os.path.join(BUILD, "last", name)
    shutil.rmtree(last, ignore_errors=True)
    os.makedirs(last)
    for f in ("trace.jsonl", "survivors.json"):
        src = os.path.join(work, "run", f)
        if os.path.exists(src):
            shutil.move(src, os.path.join(last, f))
    shutil.rmtree(work, ignore_errors=True)

    if rc is None:
        log(f"run exceeded {limit:.0f} s")
        return 3
    if rc != 0 or result is None:
        log(f"run failed (exit {rc})")
        return 1
    with open(os.path.join(last, "result.json"), "w") as fh:
        fh.write(result + "\n")
    json.loads(result)
    print(result, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
