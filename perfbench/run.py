#!/usr/bin/env python3
"""Benchmark entry point, run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/NOTES.md):
  ingest_paced   open-loop small-file NeXus ingest through the REST catalog
  ingest_bulk    closed drain of a backlog of ~280 KB NeXus files
  substrate_mix  a fixed list of SparkEntry queries at sf0.1

Builds the program and the benchmark from source (perfbench/build.py),
runs one JVM per run, checks the outputs, and prints one JSON object as
the last stdout line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones. A host line and a detail line come
before it. Traced runs keep their spans in .bench_build/traces/.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("ingest_paced", "ingest_bulk", "substrate_mix")
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks():
    """(steal, total) jiffies over all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def heap():
    """Driver heap from MemTotal: half of it, clamped to [2, 8] GiB."""
    g = mem_total_kb() // 2097152
    return f"{min(8, max(2, g))}g"


def sf_dir():
    """PERFBENCH_SF_DIR, else the sf0.1 directory the program's own bench
    (graft.Bench) reads by default."""
    if "PERFBENCH_SF_DIR" in os.environ:
        return os.environ["PERFBENCH_SF_DIR"]
    with open(os.path.join(ROOT, "src", "main", "scala", "graft", "Bench.scala")) as f:
        m = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', f.read())
    if not m:
        raise SystemExit("perfbench: no default sf directory in graft/Bench.scala")
    return m.group(1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    # ingest_paced only: messages/s instead of the fixed rate; 0 releases all
    # messages at once (the closed drain that gives the saturation rate)
    ap.add_argument("--rate", type=float)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cores = len(os.sched_getaffinity(0))
    host = {"nproc": cores, "mem_total_kb": mem_total_kb(), "loadavg_launch": loadavg()}
    ticks0 = cpu_ticks()

    cp = build.build()

    work = os.path.join(build.BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    # a fixed heap and young generation: with G1 sizing both adaptively,
    # the peak RSS of identical runs spread by 15-30 %
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{heap()}", f"-Xms{heap()}", "-Xmn1g", "-Xss8m",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out,
            "--sf", sf_dir(), "--cores", str(cores)] +
           ([] if a.rate is None else ["--rate", str(a.rate)]))
    # the program's own tuning knobs and Spark's scratch-dir override would
    # change what is measured or write outside the checkout
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    try:
        proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"perfbench: {a.workload} exceeded {JVM_TIMEOUT_S} s")
        if rc != 0 or not os.path.exists(out):
            raise SystemExit(f"perfbench: {a.workload} JVM failed with code {rc}")
        with open(out) as f:
            res = json.load(f)

        failed = int(res["failed"])
        attempted = int(res["attempted"])
        checks = list(res["checks"])
        if a.workload == "substrate_mix":
            with open(os.path.join(HERE, "oracle_sf0.1.json")) as f:
                recorded = json.load(f)
            detail = res["detail"]
            queries = [q for q in detail["queries"].split(",") if q]
            rows_only = [q for q in detail["rows_only"].split(",") if q]
            fails = oracle.check(os.path.join(work, "results"), recorded, queries, rows_only)
            failed += len(fails)
            checks += fails
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            keep = os.path.join(build.BUILD, "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(spans, os.path.join(keep, f"{a.workload}-seed{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    host["loadavg_end"] = loadavg()
    ticks1 = cpu_ticks()
    # CPU time the hypervisor gave to other guests while this run waited
    host["steal_pct"] = round(100.0 * (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]), 2)
    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = res["layers"] if a.trace else res["e2e"]
    metrics = {}
    for m in names:
        v = source.get(m["name"])
        if v is None:
            raise SystemExit(f"perfbench: metric {m['name']} missing from the run")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    print(json.dumps({"host": host}))
    print(json.dumps({"workload": a.workload, "seed": a.seed, "samples": res["samples"],
                      "session_s": res["session_s"], "setup_runs_s": res["setup_runs_s"],
                      "window_ms": res["window_ms"], "detail": res["detail"],
                      "checks": checks, "e2e": res["e2e"]}))
    print(json.dumps({"correct": failed == 0 and not checks, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
