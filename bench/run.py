#!/usr/bin/env python3
"""Benchmark of the graft crawl engine and its query layer.

Run from the root of a checkout:

    python3 bench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: crawl_growth, crawl_steady, query_mix (see bench/README.md).

The script compiles the engine (src/main/scala) and the benchmark driver
(bench/src) with the Scala compiler that ships with Spark, into
.bench_build/, and reuses the classes while no source changes. It sizes the
JVM heap from /proc/meminfo, refuses to start when the heap and the
workload's store would not fit in the memory available, runs one JVM for the
workload, and prints as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. Every file the run writes is under
.bench_build/; the work directory (stores, Spark scratch) is removed at start
and at exit.
"""
import argparse
import fcntl
import glob
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
BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(BUILD, "work")
JVM_TIMEOUT_S = 170

# Largest store each workload writes (MB, measured with margin); the memory
# guard adds it to the heap, since on a RAM-backed checkout it is memory.
STORE_MB = {"crawl_growth": 200, "query_mix": 50}
# JVM memory beyond the heap: metaspace, code cache, thread stacks, Spark's
# off-heap buffers.
JVM_OVERHEAD_MB = 1024

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


_children = []


def spawn(cmd):
    """Start a child in its own process group, so that stop() can end it
    and everything it started."""
    child = subprocess.Popen(cmd, stdout=sys.stderr, start_new_session=True)
    _children.append(child)
    return child


def stop(*_):
    """On SIGTERM or SIGINT, and on timeout: kill the children, wait for
    them, and remove the work directory."""
    for c in _children:
        if c.poll() is None:
            os.killpg(c.pid, signal.SIGKILL)
            c.wait()
    shutil.rmtree(WORK, ignore_errors=True)
    sys.exit(4)


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def meminfo_mb():
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            out[k] = int(v.split()[0]) // 1024
    return out


def spark_jars():
    """Spark's jars: under $SPARK_HOME, else under the installation whose
    spark-submit is on PATH."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in filter(None, homes):
        if glob.glob(os.path.join(home, "jars", "spark-core_*.jar")) \
                and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    fail("no Spark installation with a Scala compiler found "
         "(set SPARK_HOME or put spark-submit on PATH)")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        fail(f"no engine sources at {main}: run from the root of a checkout")
    files = []
    for base in (main, os.path.join(BENCH, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(jars):
    """Compile engine and driver together; reuse the classes while the
    sources and the compiler are unchanged."""
    files = sources()
    h = hashlib.sha256()
    h.update("\0".join(sorted(os.listdir(jars))).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    log(f"compiling {len(files)} sources")
    t0 = time.time()
    cp = os.path.join(jars, "*")
    r = spawn(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
               "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", tmp] + files)
    if r.wait() != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, classes)
    log(f"compiled in {time.time() - t0:.1f} s")
    return classes


def check_data(data):
    """The query dataset must be the recorded one, byte for byte."""
    with open(os.path.join(data, "SHA256SUMS")) as f:
        for line in f:
            want, name = line.split()
            with open(os.path.join(data, name), "rb") as fh:
                if hashlib.sha256(fh.read()).hexdigest() != want:
                    fail(f"{name} in {data} differs from its recorded checksum")


def unit_of(name, declared):
    if name in declared:
        return declared[name]
    fail(f"metric {name} is not declared in BENCHMARK.json")


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--record", action="store_true",
                   help="write this run's outputs into bench/expected.json")
    a = p.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found: run from the root of a checkout")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    kind = "per_layer" if a.trace else "end_to_end"
    declared = {m["name"]: m["unit"] for m in spec[kind]}

    os.makedirs(BUILD, exist_ok=True)
    lock = open(os.path.join(BUILD, "lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        fail("another benchmark run is using this checkout")
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    jars = spark_jars()
    classes = build(jars)
    data = os.path.join(BENCH, "data", "sf0.01")
    check_data(data)

    mem = meminfo_mb()
    heap_mb = min(2048, mem["MemTotal"] // 4)
    need_mb = heap_mb + STORE_MB[a.workload] + JVM_OVERHEAD_MB
    if need_mb > mem["MemAvailable"]:
        fail(f"needs {need_mb} MB (heap {heap_mb} + store {STORE_MB[a.workload]} "
             f"+ JVM {JVM_OVERHEAD_MB}) but MemAvailable is {mem['MemAvailable']} MB", 3)

    out = os.path.join(BUILD, "out", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(WORK, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.makedirs(out)
    host = {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem["MemTotal"],
            "mem_available_mb": mem["MemAvailable"], "heap_mb": heap_mb,
            "loadavg_start": os.getloadavg()}

    cmd = (["java", f"-Xms{heap_mb}m", f"-Xmx{heap_mb}m", "-XX:+AlwaysPreTouch",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Duser.timezone=UTC"]
           + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{os.path.join(jars, '*')}", "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", WORK, "--out", out,
              "--data", data,
              "--expected", os.path.join(BENCH, "expected.json")])
    child = spawn(cmd)
    try:
        code = child.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {JVM_TIMEOUT_S} s")
        stop()
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    if code != 0:
        fail(f"benchmark JVM exited with {code}", 5)

    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    host["loadavg_end"] = os.getloadavg()
    host["kernel_pages_per_s_4t"] = res["report"].get("host.kernel_pages_per_s_4t")
    with open(os.path.join(out, "host.json"), "w") as f:
        json.dump(host, f, indent=1)
    log("host " + json.dumps(host))

    if a.record:
        path = os.path.join(BENCH, "expected.json")
        with open(path) as f:
            exp = json.load(f)
        if a.workload == "query_mix":
            exp.setdefault("query_mix", {})["outputs"] = res["observed"]
        else:
            exp.setdefault(a.workload, {}).setdefault("seeds", {})[str(a.seed)] = res["observed"]
        with open(path, "w") as f:
            json.dump(exp, f, indent=1, sort_keys=True)
            f.write("\n")

    missing = set(declared) - set(res["metrics"])
    if missing:
        fail(f"run did not produce {sorted(missing)}")
    for k, v in res["metrics"].items():
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            fail(f"metric {k} has no finite value: {v}")
    metrics = {k: {"value": v, "unit": unit_of(k, declared)}
               for k, v in sorted(res["metrics"].items())}
    for k, m in res["named"].items():
        print(f"{a.workload} {k} {m['value']} {m['unit']}")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
