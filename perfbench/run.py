#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload build|query|dedup --seed N \
        --seconds S --trace 0|1

Builds the engine and the benchmark from the checkout's sources with sbt
(once per source fingerprint, into .bench_build/ and the sbt target
directories), then runs the workload in a fresh JVM. The last line of
stdout is {"correct", "attempted", "failed", "metrics"}; metrics are the
end-to-end metrics of BENCHMARK.json with --trace 0 and its per-layer
metrics with --trace 1. Everything the run writes stays inside the checkout.
See perfbench/README.md.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD_DIR, "classpath.txt")
STAMP = os.path.join(BUILD_DIR, "stamp.txt")

# A run must end within 180 s; the JVM gets what the build left of that.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850

# Spark on JDK 17 needs these outside spark-submit (the engine's build.sbt
# passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the engine's and the benchmark's."""
    roots = [os.path.join(ROOT, "src", "main"),
             os.path.join(BENCH_DIR, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    return [f for f in files if os.path.isfile(f)]


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the sources are unchanged since the last
    build; returns the runtime classpath and whether it compiled."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("no engine sources here (build.sbt, src/main/scala); "
            "run from the root of a checkout", 2)
    fp = fingerprint()
    if os.path.isfile(STAMP) and os.path.isfile(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == fp:
                with open(CLASSPATH) as fh2:
                    return fh2.read().strip(), False
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(BUILD_DIR, "build.log")
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.server.autostart=false", "benchClasspath"],
                cwd=BENCH_DIR, env=env, stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.isfile(CLASSPATH):
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die(f"build failed (exit {rc}); log in {log_path}")
    with open(STAMP, "w") as fh:
        fh.write(fp)
    with open(CLASSPATH) as fh:
        return fh.read().strip(), True


def heap():
    """Driver heap: a quarter of RAM, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        gb = max(2, min(4, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        gb = 2
    return f"{gb}g"


def run_jvm(cp, args, tmp, deadline):
    cmd = (["java"] + [x for p in ADD_OPENS
                       for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{heap()}", f"-Djava.io.tmpdir={os.path.join(tmp, 'java')}",
              "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main"] + args)
    log_path = os.path.join(BUILD_DIR, "last-run.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=log, stdin=subprocess.DEVNULL,
                                start_new_session=True, text=True)
        try:
            out, _ = proc.communicate(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"run exceeded its time limit; log in {log_path}")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die(f"workload exited with {proc.returncode}; log in {log_path}")
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if not lines:
        die(f"workload printed no result; log in {log_path}")
    return json.loads(lines[-1][len("PERFBENCH "):])


def check(result, spec, trace):
    """The result must carry exactly the metrics BENCHMARK.json lists for
    this mode, each a finite number, end-to-end ones never 0."""
    key = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in spec[key]}
    got = result["metrics"]
    if set(got) != set(want):
        die(f"metrics differ from BENCHMARK.json {key}: missing "
            f"{sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}")
    for name, m in got.items():
        v = m["value"]
        if m["unit"] != want[name]:
            die(f"{name}: unit {m['unit']} != {want[name]}")
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            die(f"{name}: not a finite number: {v}")
        if not trace and v <= 0:
            die(f"{name}: end-to-end metric is {v}")
    if result["attempted"] < 1:
        die("no operation attempted")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    deadline = time.time() + RUN_LIMIT_S
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        die("BENCHMARK.json not found; run from the root of a checkout", 2)
    with open(spec_path) as fh:
        spec = json.load(fh)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        die(f"unknown workload {a.workload}", 2)

    cp, built = build()
    if built:  # the run that builds may take longer; the JVM keeps its share
        deadline = time.time() + RUN_LIMIT_S
    tmp = os.path.join(BUILD_DIR, f"run-{os.getpid()}")
    os.makedirs(os.path.join(tmp, "java"), exist_ok=True)
    trace_file = os.path.join(BUILD_DIR, "traces",
                              f"{a.workload}-seed{a.seed}.jsonl")
    try:
        result = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                              "--seconds", str(a.seconds),
                              "--trace", str(a.trace), "--tmp", tmp,
                              "--trace-file", trace_file], tmp, deadline)
    finally:
        # the run's own sandbox: index dirs, Spark local dirs, java.io.tmpdir
        # (leaks inside it were counted before the JVM exited)
        shutil.rmtree(tmp, ignore_errors=True)
    check(result, spec, a.trace == 1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
