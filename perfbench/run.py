#!/usr/bin/env python3
"""Product-path benchmark for the frontmatter MCP server.

Run from the root of a checkout:

    python3 perfbench/run.py --workload notes_read --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source with sbt (skipped when
the sources are unchanged since the last build), then runs one JVM that
generates the workload's corpus from the seed, drives `McpServer.handle`
with a closed-loop client and checks every answer against its own model.
The last line of standard output is the result JSON; progress, the
host-speed figure, tail percentiles and the trace summary go to standard
error. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("notes_read", "notes_edit", "vault_large")

# Spark 4 on JDK 17 outside spark-submit needs these (the program's own
# build passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "2g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def host_speed():
    """Seconds for a fixed pure-Python loop: tells a slow host from a slow program."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def source_stamp():
    """Hash of every file the build reads, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    roots = [
        os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
        os.path.join(ROOT, "src", "main"),
        os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project"),
        os.path.join(BENCH, "src"),
    ]
    for top in roots:
        if os.path.isfile(top):
            files = [top]
        else:
            files = []
            for d, dirs, names in os.walk(top):
                dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
                files += [os.path.join(d, n) for n in sorted(names)]
        for f in files:
            if f.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles with sbt and records the runtime classpath; returns it."""
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export perfbench/Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    lines = [l.strip() for l in proc.stdout.splitlines() if ".jar" in l and os.pathsep in l]
    if not lines:
        raise SystemExit("perfbench: sbt printed no classpath")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    started = time.time()

    for needed in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, needed)):
            raise SystemExit(f"perfbench: no {needed} here; run from the root of a checkout of the program")
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    cp = build()

    before = host_speed()
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", WORK]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("perfbench: the run did not finish in time")
    after = host_speed()
    log(f"host loop: {before:.4f} s before, {after:.4f} s after the run")
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: the run exited with {proc.returncode}")
    last = out.strip().splitlines()[-1] if out.strip() else ""
    result = json.loads(last)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"perfbench: malformed result {last}")
    # The JVM reports every metric it measures; the result carries the
    # ones BENCHMARK.json lists for this mode, and stderr keeps the rest.
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = [m["name"] for m in json.load(f)["per_layer" if a.trace == "1" else "end_to_end"]]
    missing = [n for n in listed if n not in result["metrics"]]
    if missing:
        raise SystemExit(f"perfbench: the run did not report {missing}")
    log("all metrics " + json.dumps(result["metrics"]))
    result["metrics"] = {n: result["metrics"][n] for n in listed}
    log(f"run wall time {time.time() - started:.1f} s")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
