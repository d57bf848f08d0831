#!/usr/bin/env python3
"""Run one benchmark workload in a fresh process and print its metrics.

    python3 perfbench/run.py --workload search --seed 1 --seconds 20 --trace 0

Runs from the root of a source checkout (the directory holding
``solr_spark/``), on ``local[<cores>]`` with one closed-loop client. Every
file it writes goes under ``.perfbench_work/`` in that checkout and is
removed at exit. The next-to-last stdout line is a JSON object with every
figure of the run by name; the last line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def process_age() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def calibration_probe(spark, trivial_jobs_ms: list[float]) -> dict:
    """Fixed costs that floor every *_ms metric: a trivial Spark job (as
    measured between the timed ops), one py4j round trip, and a trivial
    pandas (Arrow) stage."""
    from perfbench.trace import median

    sc = spark.sparkContext
    rtts = []
    for _ in range(5):
        t = time.perf_counter()
        for _ in range(50):
            sc._jvm.java.lang.System.nanoTime()
        rtts.append((time.perf_counter() - t) / 50 * 1e6)
    stages = []
    df = spark.range(sc.defaultParallelism, numPartitions=sc.defaultParallelism)
    for _ in range(2):
        t = time.perf_counter()
        df.mapInPandas(lambda it: it, "id long").collect()
        stages.append((time.perf_counter() - t) * 1e3)
    return {"trivial_job_ms": median(trivial_jobs_ms), "py4j_rtt_us": median(rtts),
            "pandas_stage_ms": median(stages)}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["search", "update"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "solr_spark")):
        print(f"no solr_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    # Spark, the JVMs and the Python workers write temp files: keep them
    # here (SPARK_LOCAL_DIRS would override spark.local.dir; the launcher
    # JVM would write an hsperfdata file under /tmp).
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = f"{work}/tmp"
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [ROOT, os.environ.get("PYTHONPATH")] if p)
    sys.path.insert(0, ROOT)

    from perfbench import metrics
    from perfbench.trace import Recorder, RssSampler
    from perfbench.workloads import WORKLOADS, Ctx
    from solr_spark.session import get_spark

    # On SIGTERM, still stop Spark and remove the work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = len(os.sched_getaffinity(0))
    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{cores}]",
            shuffle_partitions=2 * cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": f"{work}/tmp",
                "spark.sql.warehouse.dir": f"{work}/warehouse",
                # A fixed-size heap: peak RSS then reflects the engine's
                # working set, not when the JVM chose to grow its heap.
                "spark.driver.memory": "2g",
                "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={work}/tmp",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        print(f"[perfbench] session ready at {process_age():.1f}s", file=sys.stderr)
        ctx = Ctx(spark=spark, rec=Recorder(spark, bool(args.trace)), seed=args.seed,
                  seconds=args.seconds, work=work, partitions=cores,
                  process_age=process_age)
        WORKLOADS[args.workload](ctx)
        print(f"[perfbench] checks done at {process_age():.1f}s", file=sys.stderr)
        probe = calibration_probe(spark, ctx.trivial_jobs_ms)
        peak_rss_mb = sampler.stop()
        info = metrics.detail(args.workload, ctx, peak_rss_mb, probe)
        if args.trace:
            result_metrics, info["layers"] = metrics.per_layer(args.workload, ctx, probe)
        else:
            result_metrics = metrics.end_to_end(args.workload, ctx, peak_rss_mb)
    finally:
        try:
            if sampler.is_alive():
                sampler.stop()
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    c = ctx.checks
    print(json.dumps({"detail": info}))
    print(json.dumps({
        # Mismatches shown to be a documented engine defect are failed ops
        # (they count in `failed`) but do not make the run incorrect.
        "correct": c.correct,
        "attempted": c.attempted,
        "failed": c.failed,
        "metrics": result_metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
