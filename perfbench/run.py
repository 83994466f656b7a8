#!/usr/bin/env python3
"""Runs one benchmark workload of graft and prints its result.

    python3 perfbench/run.py --workload crawl-extract --seed 1 --seconds 8 --trace 0

Builds the program from source on first use (perfbench/build.sh), then runs
the workload in one JVM at local[min(nproc - 1, 8)]: it makes (or finds
cached) the seed's inputs, sets up and measures. The last line of standard
output is one JSON object with the keys correct, attempted, failed and
metrics: the end-to-end metrics of BENCHMARK.json with --trace 0, its
per-layer metrics with --trace 1. Exits non-zero on any correctness
mismatch. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
CLASSES = os.path.join(WORK, "classes")
STAMP = os.path.join(WORK, "classes.stamp")
WORKLOADS = ("crawl-extract", "host-rollup", "query-suite")
CRAWL = {"crawl-extract", "host-rollup"}
# Per-layer metric prefix -> workloads that run that layer. A traced run
# reports 0 for a layer its workload never calls.
EXERCISED = {
    "icelite": CRAWL, "html": CRAWL, "classify": CRAWL, "pdf": CRAWL,
    "extract": CRAWL, "pipeline": CRAWL, "share": CRAWL,
    "query": {"query-suite"},
    "spark": set(WORKLOADS), "trace": set(WORKLOADS),
}
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
# seconds the JVM keeps for its correctness check and report after the
# measured loop; it cuts set-up rounds and the loop short to leave them
REPORT_RESERVE_S = 30
HEAP = "1g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            die("SPARK_HOME is unset and spark-submit is not on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def source_stamp():
    h = hashlib.sha256()
    for top in ("src/main/scala", "perfbench/src", "perfbench/build.sh"):
        base = os.path.join(ROOT, top)
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs if f.endswith(".scala"))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout, on exit
    and when this process is terminated or interrupted."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    timer = threading.Timer(timeout, lambda: os.killpg(proc.pid, signal.SIGKILL))
    timer.start()

    def stop(signum, _frame):
        timer.cancel()
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    return proc, timer


def finish(proc, timer):
    try:
        return proc.wait()
    finally:
        timer.cancel()
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def build():
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.isfile(STAMP) and open(STAMP).read() == stamp:
        return
    t0 = time.time()
    proc, timer = run_group(["bash", os.path.join(HERE, "build.sh")], BUILD_TIMEOUT_S,
                            stdout=sys.stderr)
    if finish(proc, timer) != 0:
        die("build failed")
    with open(STAMP, "w") as f:
        f.write(stamp)
    print(f"built in {time.time() - t0:.1f} s", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seed < 0:
        die("--seed must be >= 0")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("no program sources next to the benchmark (src/main/scala)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        registry = json.load(f)
    build()

    # one core stays free for Spark's scheduler thread, the JIT compiler and the GC
    cores = max(1, min(len(os.sched_getaffinity(0)) - 1, 8))
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", f"{CLASSES}{os.pathsep}{os.path.join(spark_jars(), '*')}",
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace, "--work", WORK, "--cores", str(cores),
           "--budget", str(RUN_TIMEOUT_S - REPORT_RESERVE_S)]
    proc, timer = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    result = None
    for line in proc.stdout:
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line, end="", flush=True)
    rc = finish(proc, timer)
    if result is None:
        die(f"workload ended with exit code {rc} and no result", rc if rc > 0 else 3)

    declared = registry["per_layer" if a.trace == "1" else "end_to_end"]
    got = result["metrics"]
    unknown = set(got) - {m["name"] for m in declared}
    if unknown:
        die(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}", 3)
    metrics = {}
    for m in declared:
        name = m["name"]
        if name in got and got[name] is not None:
            value = got[name]
        elif a.trace == "1" and a.workload not in EXERCISED[name.split(".")[0]]:
            value = 0.0
        else:
            die(f"metric {name} missing from the {a.workload} run", 3)
        metrics[name] = {"value": value, "unit": m["unit"]}
        print(f"{name} = {value} {m['unit']}")
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    sys.exit(rc)


if __name__ == "__main__":
    main()
