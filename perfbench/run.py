"""Benchmark driver: one workload, one seed, one closed-loop timed phase.

    python3 perfbench/run.py --workload export_paged --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(spans around the package's public calls plus Spark job/stage/task counts
per batch). Progress and check failures go to the lines before it.

Steadiness controls are set here, not by the program: one Spark task thread
per CPU this process may run on, a fixed driver heap, Spark scratch space,
temporary files and the JVM temp dir inside a fresh per-run directory under
the checkout, three set-up rounds (each a warm-up pass) before timing, and a
single load-generating process.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: driver JVM heap (``SPARK_DRIVER_MEMORY``); the session pre-touches it
DRIVER_MEMORY = "1g"
#: set-up rounds per run; ``setup_s`` uses their median
SETUP_ROUNDS = 3

def steadiness_env(work: str) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # no hsperfdata files: the JVM writes those under /tmp whatever its tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            # keep every job's status for the per-batch counts
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "pyspark-shell",
        ]
    )
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d))


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of this process plus the driver JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    total_kb = 0
    for pid in (os.getpid(), jvm_pid):
        with open(f"/proc/{pid}/status") as f:
            total_kb += next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
    return total_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run(args, work: str) -> dict:
    sys.path.insert(0, ROOT)
    from etl_pipeline_for_elasticsearch_json_document_spark import get_spark
    from spans import Tracer
    from workloads import WORKLOADS, percentile

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)["per_layer" if args.trace else "end_to_end"]}
    tracer = Tracer() if args.trace else None
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    start_s = time.perf_counter() - t0
    try:
        wl = WORKLOADS[args.workload](spark, args.seed, work, tracer)
        rounds = []
        for _ in range(SETUP_ROUNDS):
            t = time.perf_counter()
            wl.setup_round()
            rounds.append(time.perf_counter() - t)
        setup_s = start_s + statistics.median(rounds)
        print(f"session start {start_s:.3f}s, set-up rounds {[round(r, 3) for r in rounds]}", flush=True)
        wl.build_oracle()

        batches = []
        t0 = time.perf_counter()
        while True:
            batches.extend(wl.unit())
            elapsed = time.perf_counter() - t0
            if wl.done(elapsed, args.seconds):
                break
        wall = time.perf_counter() - t0

        lat = [b.latency_s for b in batches if b.latency_s is not None]
        failed = sum(not b.ok for b in batches)
        docs_per_s = sum(b.docs for b in batches if b.ok) / wall
        print(
            f"{len(batches)} batches in {wall:.3f}s, latency p50 {percentile(lat, 50):.4f}s "
            f"p75 {percentile(lat, 75):.4f}s max {max(lat):.4f}s",
            flush=True,
        )
        if tracer is None:
            values = {
                "setup_s": setup_s,
                "docs_per_s": docs_per_s,
                "batch_latency_p50_s": percentile(lat, 50),
                "batch_latency_p75_s": percentile(lat, 75),
                "output_bytes_per_input_byte": wl.output_ratio(),
                "peak_rss_mb": peak_rss_mb(spark),
                "ok_batch_frac": 1.0 - failed / len(batches),
            }
        else:
            values = dict.fromkeys(units, 0.0)
            values["session.start_s"] = start_s
            values.update(wl.layer_metrics(batches))
            values.update(wl.spark_counts(batches))
            values["trace.docs_per_s"] = docs_per_s
            values["trace.batches"] = float(len(batches))
            tracer.dump(os.path.join(os.path.dirname(work), f"spans-{args.workload}-{args.seed}.json"))
        return {
            "correct": failed == 0,
            "attempted": len(batches),
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }
    finally:
        stop_spark(spark)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("export_paged", "dedup_corpus", "index_ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    work = os.path.join(ROOT, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        steadiness_env(work)
        try:
            result = run(args, work)
        except ImportError as e:
            print(f"cannot import the package under test from {ROOT}: {e}", file=sys.stderr)
            return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
