#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine.

Usage (from the root of a checkout):

    python3 e2ebench/run.py --cores 2 --heap 2g --gc-threads 2 \
        --workload query_suite --seed 1 --seconds 8 --trace 0

Builds the engine and the benchmark harness from source on first use
(into .bench_build/), runs one workload in a JVM with every thread count
and heap size pinned, checks the outputs, and prints as its last line
one JSON object: {"correct", "attempted", "failed", "metrics"}.  With
--trace 0 the metrics are BENCHMARK.json's end-to-end metrics; with
--trace 1 a listener and per-layer timers are on and the metrics are its
per-layer ones.  Lines before it describe the pinned environment and the
host noise seen during the timed window (report-only).
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("query_suite", "uav_flagship")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
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
    print("e2ebench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input the build reads."""
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "scala")):
        for dirpath, dirnames, filenames in os.walk(top):
            dirnames.sort()
            files += [os.path.join(dirpath, name) for name in sorted(filenames)]
    h = hashlib.sha256()
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles on first use; returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos] + opts
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        out = wait(proc, BUILD_TIMEOUT_S)
        log.write(out)
    if proc.returncode != 0:
        fail("build failed, see .bench_build/build.log")
    cp = [l for l in out.splitlines() if l.strip() and not l.startswith("[")][-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def wait(proc, timeout):
    """Waits for ``proc``; on timeout kills its whole process group."""
    try:
        out, _ = proc.communicate(timeout=timeout)
        return out or ""
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"timed out after {timeout} s")


def jvm(cp, args, main="graftbench.Main"):
    """Runs one benchmark JVM with its own scratch and temp directories."""
    work = os.path.join(BUILD, "work")
    tmp = os.path.join(BUILD, "tmp")
    for d in (work, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    # The heap is pinned and pre-touched. Without pre-touch, VmHWM depends
    # on whether G1 happened to cycle eden through the top of the heap
    # (query_suite read 1.77 or 2.62 GB at -Xmx2g from run to run), so
    # peak RSS tracks off-heap memory and live_heap_mb tracks the heap.
    cmd = ["java", f"-Xms{args.heap}", f"-Xmx{args.heap}", "-XX:+AlwaysPreTouch",
           f"-XX:ParallelGCThreads={args.gc_threads}", "-XX:ConcGCThreads=1",
           "-XX:CICompilerCount=2", "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, main]
    return cmd, work


def end_to_end(raw):
    passes = raw["passes"]
    samples = [s for p in passes for s in p["samples"]]
    p50 = stats.percentile(samples, 50)
    if p50 is None:
        fail(f"{len(samples)} latency samples cannot support a median")
    ops = {}
    for p in passes:
        for name, ms in p["ops"].items():
            ops.setdefault(name, []).append(ms)
    return {
        # JVM entry to the first timed pass, with the set-up work counted
        # once (the median repetition) and the warm-up passes included.
        "setup_s": (raw["session_s"] + stats.median([sum(r.values()) for r in raw["setup_reps"]])
                    + sum(raw["warmup_s"])),
        "pass_s": stats.median([p["wall_s"] for p in passes]),
        "throughput_per_s": stats.median([p["units"] / p["wall_s"] for p in passes]),
        "cpu_s": stats.median([p["cpu_s"] for p in passes]),
        "query_geomean_ms": stats.geomean([stats.median(v) for v in ops.values()]),
        "latency_p50_ms": p50,
        "peak_rss_mb": raw["peak_rss_mb"],
        "live_heap_mb": raw["live_heap_mb"],
    }


def per_layer(raw, names):
    """Each name's median over the timed passes, or over the set-up
    repetitions for a set-up part; 0 where this workload lacks the layer."""
    passes = raw["passes"]
    samples = [s for p in passes for s in p["samples"]]
    level, value = stats.tail(samples)
    out = {"latency.samples": len(samples), "latency.tail_pct": level, "latency.tail_ms": value}
    for name in names:
        if name in out:
            continue
        if any(name in r for r in raw["setup_reps"]):
            out[name] = stats.median([r[name] for r in raw["setup_reps"]])
        else:
            out[name] = stats.median([p["layers"].get(name, 0.0) for p in passes])
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), required=True)
    ap.add_argument("--cores", type=int, required=True, help="Spark local[k] and shuffle partitions")
    ap.add_argument("--heap", required=True, help="JVM -Xms and -Xmx")
    ap.add_argument("--gc-threads", type=int, required=True, help="JVM ParallelGCThreads")
    args = ap.parse_args()

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    data = os.path.join(HERE, "data", "sf0.01")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or not os.path.exists(spec_file):
        fail("engine sources or BENCHMARK.json not found; run from the root of a full checkout")
    with open(spec_file) as f:
        spec = json.load(f)

    cp = build()
    cmd, work = jvm(cp, args)
    raw_file = os.path.join(work, "raw.json")
    cmd += ["--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", args.trace, "--cores", str(args.cores), "--work", work,
            "--data", data, "--out", raw_file]
    env_line = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": int(args.trace),
        "spark_master": f"local[{args.cores}]", "shuffle_partitions": args.cores,
        "heap": f"-Xms{args.heap} -Xmx{args.heap}", "gc_threads": args.gc_threads,
        "conc_gc_threads": 1, "jit_threads": 2, "timezone": "UTC", "spark_ui": False,
        "nproc": os.cpu_count(),
    }
    print(json.dumps({"env": env_line}))
    if args.cores > (os.cpu_count() or 1) - 1:
        print(f"e2ebench: warning: {args.cores} cores pinned on a {os.cpu_count()}-cpu host",
              file=sys.stderr)
    with open(os.path.join(BUILD, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        wait(proc, RUN_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(raw_file):
        fail(f"benchmark JVM exited with {proc.returncode}, see .bench_build/jvm.log")
    with open(raw_file) as f:
        raw = json.load(f)

    print(json.dumps({"host": raw["host"], "window_s": raw["window_s"],
                      "passes": len(raw["passes"]), "warmup_s": raw["warmup_s"]}))
    for e in raw["errors"]:
        print("e2ebench: check failed: " + e, file=sys.stderr)

    if args.trace == "0":
        listed, values = spec["end_to_end"], end_to_end(raw)
    else:
        listed = spec["per_layer"]
        values = per_layer(raw, [m["name"] for m in listed])
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}
    attempted, failed = int(raw["attempted"]), int(raw["failed"])
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
