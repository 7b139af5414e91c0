#!/usr/bin/env python3
"""Repository benchmark: one seeded workload per run, one JSON result line.

    python3 perfbench/run.py --workload geo_pipeline --seed 1 --seconds 10 --trace 0

Run it from the repository root. It builds the library and the benchmark
from source (perfbench/build.py), starts one JVM with a fixed heap and a
local Spark master with one task slot per available core, and passes it the
arguments. The JVM generates every input from the seed, sets up, runs
closed-loop passes for `--seconds`, checks each pass's output and prints its
metrics. This script forwards them as the last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the `end_to_end` list of BENCHMARK.json,
with `--trace 1` its `per_layer` list. Every file the run writes stays under
`.bench_work/` (inputs, Spark scratch, span trace, run record) and
`.bench_build/` (classes). See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HEAP = "3g"
WORKLOADS = ("geo_pipeline", "near_dup", "gar_dump", "index_ingest")
# the JVM must finish well inside the caller's 180 s limit
JVM_TIMEOUT_S = 165
RESULT_TAG = "PERFBENCH_RESULT "

# Spark on JDK 17 outside spark-submit (same list as the repository build)
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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("run from the repository root (BENCHMARK.json not found)")
    with open(spec_path) as fh:
        spec = json.load(fh)
    classes = build.ensure_built(root)

    work = os.path.join(root, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = len(os.sched_getaffinity(0))
    cp = classes + ":" + os.path.join(build.spark_jars(), "*")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dstdout.encoding=UTF-8"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--cores", str(cores), "--heap", HEAP])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"the run did not finish within {JVM_TIMEOUT_S} s (log: {log_path})")
    result = None
    for line in out.splitlines():
        if line.startswith(RESULT_TAG):
            result = json.loads(line[len(RESULT_TAG):])
        else:
            print(line)
    if proc.returncode != 0 or result is None:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"the JVM exited with {proc.returncode} and no result")

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    measured = result["metrics"]
    unknown = sorted(set(measured) - {m["name"] for m in wanted})
    if unknown:
        fail(f"metrics missing from BENCHMARK.json: {unknown}")
    if a.trace:
        # every per-layer metric on every workload: a layer the workload
        # never enters did no work
        measured = {m["name"]: measured.get(m["name"], 0.0) for m in wanted}
    missing = [m["name"] for m in wanted if m["name"] not in measured]
    if missing:
        fail(f"metrics not measured: {missing}")
    metrics = {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
