#!/usr/bin/env python3
"""Benchmark of the CDC engine: SMT ingest and live tail.

    python3 perfbench/run.py --workload smt_ingest --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark program from source (perfbench/build.py),
runs one workload in one JVM (local[nproc] Spark, no other client threads),
checks its results against an independent oracle and prints, as the last
line of standard output, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, from a traced run. The line
before it is the full report (every end-to-end metric of the workload, or
every layer metric, with provenance). See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("smt_ingest", "live_tail")
RUN_TIMEOUT_S = 170
# A fixed, pre-touched heap on transparent huge pages, as the root build
# runs its JVMs: a lazily grown heap makes G1 pause times (and so every
# timing) depend on which pages happen to be touched first. The whole heap
# is then resident, so the memory metric counts the heap's peak use, not
# its resident pages (metrics.peak_memory_mb).
# Client compiler (C1) only: with C2, Spark's and the engine's driver-side
# code is still being compiled a minute into a run (live_tail iterations
# fell from 2.9 s to 1.9 s over 60 s of timed iterations), so a run would
# time a point on the warm-up curve that moves with the host's speed. C1
# code is slower but its iteration times are flat after one iteration.
# C1 alone gets a 48 MB code cache by default, which a run fills (every
# compiled method is then thrown away and recompiled); 256 MB, about the
# tiered default (240 MB), holds it.
JVM_OPTS = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m", "-Xms2g", "-Xmx2g", "-XX:+UseTransparentHugePages", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData"]
# The module openings spark-submit adds on JDK 17.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def benchmark_spec():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def mem_total_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def git_commit():
    try:
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except OSError:
        return "unknown"


def run_jvm(classpath, args, log_path, deadline):
    """Run the benchmark JVM; kill it (and wait for it) if it overruns."""
    tmp = os.path.join(build.BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}"] + ADD_OPENS
           + ["-cp", os.pathsep.join(classpath), "graftbench.Main"] + args)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=build.ROOT)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"run exceeded its time limit; log: {log_path}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        spec = benchmark_spec()
        classpath = build.build()
    except (build.BuildError, OSError, ValueError) as e:
        print(f"perfbench: cannot build: {e}", file=sys.stderr)
        return 2

    deadline = time.time() + RUN_TIMEOUT_S
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(build.BUILD, "work", tag)
    logs = os.path.join(build.BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    out = os.path.join(work, "result.json")
    log_path = os.path.join(logs, tag + ".log")
    try:
        rc = run_jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                                 "--trace", str(a.trace), "--work", work, "--out", out], log_path, deadline)
        if rc != 0 or not os.path.exists(out):
            print(f"perfbench: benchmark JVM failed (exit {rc}); log: {log_path}", file=sys.stderr)
            return 1
        with open(out) as f:
            raw = json.load(f)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed, mismatch = metrics.outcome(raw)
    its = raw["iterations"]
    provenance = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": raw["cores"], "mem_total_mb": mem_total_mb(), "heap_mb": raw["heap_mb"],
        "java": raw["java"], "jvm_opts": JVM_OPTS, "spark": raw["spark"], "git_commit": git_commit(),
        "sources": os.path.basename(classpath[1]), "warmup_iterations": raw["warmup"],
        "setup_runs": raw["setup_runs"], "iterations": len(its),
        "traced_iterations": sum(1 for it in its if it["traced"]),
        "phases_s": raw["phases_s"],
    }
    if a.trace:
        values = metrics.per_layer(raw)
        units = dict(metrics.PER_LAYER)
        report = {"provenance": provenance, "costliest_layer": metrics.costliest(values),
                  "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}
        names = [m["name"] for m in spec["per_layer"]]
    else:
        values = metrics.end_to_end(raw)
        units = dict(metrics.END_TO_END)
        provenance["samples"] = dict(metrics.sample_summary(raw), setup_s=raw["setup_s"])
        provenance["memory_mb"] = {k: raw[k] for k in ("heap_peak_mb", "heap_committed_mb", "vm_hwm_mb")}
        report = {"provenance": provenance, "drift": raw.get("drift"),
                  "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}
        names = [m["name"] for m in spec["end_to_end"]]
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": mismatch == 0 and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
