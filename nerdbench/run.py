#!/usr/bin/env python3
"""NERD pipeline benchmark.

Usage (from the repository root):
    python3 nerdbench/run.py --workload alert_stream --seed 1 --seconds 20 --trace 0
    python3 nerdbench/run.py --selftest

Builds the program and the benchmark from source into .bench_build/ when the
sources changed, runs one workload in a fresh JVM, prints one line per metric
(`name unit value`) and, as the last line, one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 1 the metrics are the per-layer ones, and the spans, their self
times and the tracing overhead go to .bench_build/nerdbench/results/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT = os.path.join(REPO, ".bench_build", "nerdbench")
RESULTS = os.path.join(OUT, "results")
WORKLOADS = ("alert_stream", "backfill_rederive")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"nerdbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    main = os.path.join(REPO, "src", "main", "scala")
    if not os.path.isdir(main):
        fail(f"no program sources in {main}")
    files = []
    for root in (main, os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    return sorted(files) + [os.path.join(HERE, "build.sh")]


def build():
    """Compile when the sources changed."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(OUT, "build.stamp")
    jar = os.path.join(OUT, "nerdbench.jar")
    if os.path.exists(jar) and os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return jar
    os.makedirs(OUT, exist_ok=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    # results of another build are not comparable with this one's
    shutil.rmtree(RESULTS, ignore_errors=True)
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as lf:
        rc = run_child(["bash", os.path.join(HERE, "build.sh"), OUT, spark_jars()], lf, lf,
                       BUILD_TIMEOUT_S)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {rc})")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return jar


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def run_child(cmd, stdout, stderr, timeout, on_line=None):
    """Run cmd in its own process group; kill the whole group on timeout or
    interruption, and always wait for it to end."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE if on_line else stdout, stderr=stderr,
                         cwd=REPO, start_new_session=True, text=True)
    deadline = time.time() + timeout
    try:
        if on_line:
            for line in p.stdout:
                on_line(line)
                if time.time() > deadline:
                    raise TimeoutError
        p.wait(timeout=max(1, deadline - time.time()))
        return p.returncode
    except (TimeoutError, subprocess.TimeoutExpired, KeyboardInterrupt):
        print(f"nerdbench: {cmd[0]} timed out or was interrupted", file=sys.stderr)
        return 124
    finally:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def java_cmd(jar, work, main, args):
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    # a fixed-size heap and the throughput collector: no heap resizing and no
    # concurrent GC threads competing with the measured work
    return (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Xss4m", f"-Djava.io.tmpdir={work}/tmp", "-Dio.netty.tryReflectionSetAccessible=true"]
            + [f"--add-opens={m}=ALL-UNNAMED" for m in JVM_OPENS]
            + ["-cp", ":".join([jar] + jars), main] + args)


def tracing_overhead(workload, seed, traced):
    """Traced minus untraced end-to-end numbers, against the latest untraced
    run of the same workload (same seed if there is one)."""
    runs = sorted(glob.glob(os.path.join(RESULTS, f"{workload}-seed*-trace0.json")),
                  key=os.path.getmtime)
    same = [r for r in runs if f"-seed{seed}-" in r]
    if not (same or runs):
        return None
    base_path = (same or runs)[-1]
    base = json.load(open(base_path))["metrics"]
    out = {"untraced_result": os.path.basename(base_path)}
    for name, m in traced.items():
        if name in base:
            b = base[name]["value"]
            out[name] = {"traced": m["value"], "untraced": b, "diff": m["value"] - b,
                         "share": (m["value"] - b) / b if b else None}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check the alert generator instead of running a workload")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    jar = build()
    os.makedirs(RESULTS, exist_ok=True)
    work = os.path.join(OUT, "work", f"{a.workload or 'selftest'}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    result = os.path.join(RESULTS, f"{tag}.json")
    log = os.path.join(OUT, f"{tag if not a.selftest else 'selftest'}.log")
    try:
        if os.path.exists(result):
            os.remove(result)
        if a.selftest:
            cmd = java_cmd(jar, work, "nerdbench.GenCheck", ["--seed", str(a.seed), "--work", work])
        else:
            cmd = java_cmd(jar, work, "nerdbench.Main", [
                "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--result", result])
        with open(log, "w") as lf:
            rc = run_child(cmd, None, lf, RUN_TIMEOUT_S,
                           on_line=lambda l: (sys.stdout.write(l), sys.stdout.flush()))
        if rc != 0 or (not a.selftest and not os.path.exists(result)):
            sys.stderr.write(open(log).read()[-6000:])
            fail(f"run failed (exit {rc}); log in {log}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.selftest:
        return
    res = json.load(open(result))
    if a.trace:
        trace = result[:-len(".json")] + ".trace.json"
        # the traced run's own end-to-end numbers sit in its trace file
        t = json.load(open(trace))
        t["tracing_overhead"] = tracing_overhead(a.workload, a.seed, t["e2e"])
        with open(trace, "w") as fh:
            json.dump(t, fh)
        print(f"trace {os.path.relpath(trace, REPO)}")
    print(json.dumps(res, separators=(",", ":")))


if __name__ == "__main__":
    main()
