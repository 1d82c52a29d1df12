#!/usr/bin/env python3
"""Benchmark of the reference clean pipeline (graft.engine).

Usage, from the repository root:

  python3 perfbench/run.py --workload clean_bulk --seed 1 --seconds 32 --trace 0

It builds the program and the benchmark from source (perfbench/build.sh,
once per source state), generates the workload's corpus from the seed
(gen.py), then runs the benchmark JVM (perfbench/scala) as a single client
at local[4] in a closed loop, one JVM per run.  `setup_s` is the time
from its launch to the end of its warm-up passes.

With --trace 0 the last stdout line holds the end-to-end metrics, with
--trace 1 the per-layer ones; the full result with its run metadata is
kept in .bench_work/results/.  Every pass's output is checked against
the generator's expected table; a failed check makes the exit code 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("clean_bulk", "clean_many_states", "tiny")
CPUS = 4
# Parallel GC on a pre-sized, pre-touched heap: on 4 cores it ran the
# passes about 1.5x faster than G1, with steadier pass times, and peak RSS
# no longer depends on when the heap happened to grow. No perf-data file,
# so the JVM writes nothing outside the checkout.
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
             "-XX:-UsePerfData"]
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
UNITS = {"batch_s": "s", "rows_per_s": "1/s", "setup_s": "s",
         "peak_rss_mb": "MB", "ok_ratio": "ratio"}
# per-process values (ids, ports, JVM flags) left out of the run metadata
VOLATILE_CONF = ("app.id", "app.startTime", "driver.port", "driver.host",
                 "extraJavaOptions")
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io",
               "java.base/java.net", "java.base/java.nio",
               "java.base/java.util", "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs",
               "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def sources():
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "scala")]
    files = [os.path.join(HERE, "build.sh")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files.extend(os.path.join(base, n) for n in names)
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile once per source state; the stamp names the sources built."""
    stamp = os.path.join(BUILD, "stamp")
    want = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == want:
                return want
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), jars()],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BenchError("build failed")
    with open(stamp, "w") as f:
        f.write(want)
    return want


def jars():
    """Spark's jars: $SPARK_HOME/jars, else the ones pyspark ships."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        import pyspark
    except ImportError:
        raise BenchError("no SPARK_HOME and no pyspark to find Spark's jars")
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def java(main, flags=()):
    """The java command line for a benchmark class, up to its arguments."""
    cp = os.pathsep.join([os.path.join(BUILD, "classes"),
                          os.path.join(ROOT, "src", "main", "resources"),
                          os.path.join(jars(), "*")])
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    return ["java", *JVM_FLAGS, *flags, *opens, "-cp", cp, main]


def jvm(corpus, trace, seconds):
    """Launch the benchmark process and return its result."""
    tmp = os.path.join(corpus, "work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(corpus, "work", "result.json")
    log = os.path.join(corpus, "work", "jvm.log")
    t0 = time.time_ns()
    cmd = (java("perfbench.Main", [f"-Djava.io.tmpdir={tmp}"]) +
           ["--input", corpus, "--trace", str(trace),
            "--seconds", str(seconds), "--cpus", str(CPUS),
            "--t0-ns", str(t0), "--out", out])
    try:
        with open(log, "w") as lf:
            r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                               cwd=ROOT, timeout=seconds + 120)
    except subprocess.TimeoutExpired:
        raise BenchError(f"benchmark JVM timed out; log: {log}")
    if r.returncode != 0 or not os.path.exists(out):
        with open(log) as lf:
            tail = lf.read()[-3000:]
        raise BenchError(f"benchmark JVM failed (exit {r.returncode}):\n{tail}")
    with open(out) as f:
        return json.load(f)


def check(passes, manifest):
    """Independent check of every pass (and warm-up pass) against the
    expected table."""
    exp = manifest["expected"]
    bad = 0
    for p in passes:
        ok = (p["ok"] and p["rows"] == exp["rows"]
              and p["digest"] == exp["digest"] and p["qa_ratio"] == 1.0)
        if not ok:
            bad += 1
            print(f"perfbench: pass failed its output check: {p}",
                  file=sys.stderr)
    return bad


def cpu_jiffies():
    """(total, steal) CPU jiffies of the host since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except OSError:
        return "unknown"


def per_layer_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def run(args):
    src = build()
    # one corpus at a time: earlier ones are removed
    shutil.rmtree(os.path.join(WORK, "corpus"), ignore_errors=True)
    corpus = os.path.join(WORK, "corpus", f"{args.workload}-s{args.seed}")
    manifest = gen.generate(corpus, args.workload, args.seed)

    cpu0 = cpu_jiffies()
    res = jvm(corpus, args.trace, args.seconds)
    cpu1 = cpu_jiffies()
    untraced = res["passes"]
    checked = untraced + res.get("traced_passes", []) + res["warmup"]
    attempted = len(checked)
    failed = check(checked, manifest)

    if args.trace:
        layers = res["layers"]
        want = per_layer_units()
        if set(layers) != set(want):
            raise BenchError("per-layer metric names differ from "
                             f"BENCHMARK.json: {sorted(set(layers) ^ set(want))}")
        metrics = {k: {"value": v, "unit": want[k]} for k, v in layers.items()}
    else:
        # Mean, not median, over the window: the passes still speed up as
        # the JIT warms, so the median is one point on that slope, while
        # the mean averages the host's speed over the whole window.
        batch = statistics.mean(p["wall_s"] for p in untraced)
        values = {
            "batch_s": batch,
            "rows_per_s": manifest["claim_rows"] / batch,
            "setup_s": res["setup_s"],
            "peak_rss_mb": res["peak_rss_mb"],
            "ok_ratio": (attempted - failed) / attempted,
        }
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()}

    meta = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "input": manifest["input"],
        "claim_rows": manifest["claim_rows"], "states": len(manifest["states"]),
        "cpus": CPUS, "host_cpus": len(os.sched_getaffinity(0)),
        "driver_heap_mb": res["heap_max_mb"], "jvm_flags": JVM_FLAGS,
        "spark_conf": {k: v for k, v in res["spark_conf"].items()
                       if not k.endswith(VOLATILE_CONF)},
        "git_commit": git_commit(), "source_sha256": src,
        "passes": [p["wall_s"] for p in untraced],
        "traced_passes": [p["wall_s"] for p in res.get("traced_passes", [])],
        # share of the host's CPU time taken by other guests while measuring
        "host_steal_share": (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0]),
    }
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    path = os.path.join(WORK, "results",
                        f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(path, "w") as f:
        json.dump({"meta": meta, **result}, f, indent=1, sort_keys=True)
    if args.trace:
        shutil.copy(os.path.join(corpus, "work", "trace.json"),
                    path.replace(".json", ".spans.json"))
    for k, m in metrics.items():
        print(f"{k:34s} {m['value']:>16.6g} {m['unit']}")
    print(json.dumps({"meta": meta}))
    print(json.dumps(result))
    return 0 if failed == 0 else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        return run(args)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
