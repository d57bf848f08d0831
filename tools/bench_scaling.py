"""Two-parallelism scaling protocol (BASELINE.md / north_rule evidence).

A real multi-executor cluster is unavailable in this sandbox, so the
north_rule's N-vs-4N-executor criterion is evidenced the sanctioned way: the
SAME job runs at two parallelism levels (default local[n/4] vs local[n] for
n = os.cpu_count(): 8 vs 32 on a 32-core host, 1 vs 4 on a 4-core one) on
the SAME input, each in a fresh JVM (separate subprocess), and we report
throughput at both plus scaling efficiency = speedup / (cpu ratio).

The job is the full physical index build (analyze → invert → compress →
segment write → global stats) over the sf documents table replicated
``--repeat`` times (deterministic doc_id remapping), plus a batch of WAND
queries. Build work is Arrow-UDF CPU-bound — the representative scaling
surface of the engine.

Usage: python tools/bench_scaling.py [--cpus 1,4] [--repeat 40]
       python tools/bench_scaling.py --mode jvm [--cpus 1,4] [--repeat 40]
Prints the summary as JSON on stdout and writes no file; redirect stdout
to record a run.

``--mode jvm`` runs a PURE-JVM control job (parquet scan → split/lower/
explode → term aggregation: the whole-stage-codegen analogue of the index
build's string work, zero Python) under the identical pinned-core protocol.
Purpose: if the JVM control shows the same efficiency ceiling at high core
counts as the engine build, the ceiling is the shared VM's memory
bandwidth — independent evidence for the saturation claim in BASELINE.md,
not an engine property.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

_JVM_WORKER = r"""
import json, os, sys, time
sys.path.insert(0, os.environ["REPO"])
from pyspark.sql import functions as F
from solr_spark.session import get_spark

cpus = int(os.environ["CPUS"])
repeat = int(os.environ["REPEAT"])
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark(
    app_name=f"jvm_baseline_{cpus}",
    master=f"local[{cpus}]",
    shuffle_partitions=max(64, cpus * 4),
    extra_conf={"spark.ui.showConsoleProgress": "false",
                "spark.local.dir": f"/dev/shm/spark_local_{cpus}"},
)
base = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text").repartition(32)
n_base = base.count()
rep = spark.range(repeat).select(F.col("id").alias("rep"))
corpus = base.crossJoin(rep).select(
    (F.col("doc_id") + F.col("rep") * n_base).alias("docid"),
    F.col("text").alias("content"),
).repartition(256).persist()
corpus.count()
n_docs = n_base * repeat

def job():
    # Pure whole-stage-codegen string work: lower+split+explode+agg — the
    # JVM-side analogue of tokenize+invert, zero Python workers.
    return (
        corpus.select("docid", F.explode(
            F.split(F.lower(F.col("content")), "[^a-z0-9]+")
        ).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").alias("ttf"),
             F.countDistinct("docid").alias("df"))
        .agg(F.sum("ttf"), F.count("*"))
        .collect()
    )

job()  # warmup (JIT + codegen)
best = float("inf")
for _ in range(2):
    t0 = time.perf_counter()
    job()
    best = min(best, time.perf_counter() - t0)
print(json.dumps({
    "cpus": cpus, "n_docs": n_docs, "build_s": round(best, 2),
    "docs_per_sec": round(n_docs / best, 1), "topk_signature": "jvm",
}))
"""

_PIPELINE_WORKER = r"""
import json, os, sys, time
sys.path.insert(0, os.environ["REPO"])
from pyspark.sql import functions as F
from solr_spark.session import get_spark

cpus = int(os.environ["CPUS"])
repeat = int(os.environ["REPEAT"])
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark(
    app_name=f"pipeline_scaling_{cpus}",
    master=f"local[{cpus}]",
    shuffle_partitions=max(64, cpus * 4),
    extra_conf={"spark.ui.showConsoleProgress": "false",
                "spark.local.dir": f"/dev/shm/spark_local_{cpus}"},
)
base = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text").repartition(32)
n_base = base.count()
rep = spark.range(repeat).select(F.col("id").alias("rep"))
corpus = base.crossJoin(rep).select(
    (F.col("doc_id") + F.col("rep") * n_base).alias("docid"),
    F.col("text").alias("content"),
).repartition(256).persist()
corpus.count()
n_docs = n_base * repeat

from solr_spark.functions.curation import gopher_repetition, pack_concat
from solr_spark.functions.dedup import minhash_signatures
from solr_spark.functions.textstats import chunk_tokens

def scaled(c):
    # per-row fixed-point BEFORE the sum: long sums are order-independent,
    # so the cross-level signature is exact (double sums are not).
    return F.floor(c * 10000.0 + 0.5).cast("long")

def job():
    sig = []
    rep_df = gopher_repetition(corpus, "content", "docid")
    sig.append(rep_df.agg(
        F.sum(scaled(F.col("top_frac_2"))), F.sum(scaled(F.col("dup_frac_10"))),
        F.count("*")).collect()[0])
    mh = minhash_signatures(corpus, "content", "docid", k=32)
    sig.append(mh.agg(
        F.sum(F.element_at("minhash", 1)), F.sum(F.element_at("minhash", 32)),
        F.count("*")).collect()[0])
    chunks = chunk_tokens(corpus, "content", "docid", size=64, overlap=0) \
        .withColumn("k", F.col("id") * 1000 + F.col("chunk_id"))
    packed = pack_concat(chunks, "n_tokens", "k", seq_len=2048, n_buckets=256)
    sig.append(packed.agg(
        F.max("last_bin"), F.sum("first_bin"), F.count("*")).collect()[0])
    return [tuple(int(v) for v in row) for row in sig]

first = job()  # warmup (JIT + codegen); result reused as the signature
best = float("inf")
for _ in range(2):
    t0 = time.perf_counter()
    got = job()
    best = min(best, time.perf_counter() - t0)
    assert got == first, (got, first)
import hashlib
sig = hashlib.md5(json.dumps(first).encode()).hexdigest()[:12]
print(json.dumps({
    "cpus": cpus, "n_docs": n_docs, "build_s": round(best, 2),
    "docs_per_sec": round(n_docs / best, 1), "topk_signature": sig,
}))
"""

_WORKER = r"""
import json, os, shutil, sys, time
sys.path.insert(0, os.environ["REPO"])
from pyspark.sql import functions as F
from solr_spark.session import get_spark
from solr_spark.index.segments import build_index_dir
from solr_spark.query.wand import open_index

cpus = int(os.environ["CPUS"])
repeat = int(os.environ["REPEAT"])
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark(
    app_name=f"scaling_{cpus}",
    master=f"local[{cpus}]",
    shuffle_partitions=max(64, cpus * 4),
    extra_conf={"spark.ui.showConsoleProgress": "false",
                "spark.local.dir": f"/dev/shm/spark_local_{cpus}"},
)
base = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text").repartition(32)
n_base = base.count()
# Replicate deterministically: doc_id' = doc_id + i * n_base (same corpus at
# every parallelism level).
rep = spark.range(repeat).select(F.col("id").alias("rep"))
from solr_spark.index.segments import partition_col

corpus = base.crossJoin(rep).select(
    (F.col("doc_id") + F.col("rep") * n_base).alias("docid"),
    F.col("text").alias("content"),
).repartition(256, partition_col("docid", 256))
n_docs = n_base * repeat

# Materialize the BUCKETED input (= an Iceberg table bucketed by docid
# hash, the layout SURVEY.md prescribes at scale). Input generation and
# layout are not the system under test; laid out by partition_col, the
# timed build plans no shuffle.
corpus = corpus.persist()
corpus.count()

out = f"/dev/shm/scale_idx_{cpus}"
from solr_spark.index.segments import build_segments, finalize_index

# Warmup pass: spins up the Python worker pool + JIT (a long-lived cluster's
# steady state). Untimed, then discarded.
shutil.rmtree(out, ignore_errors=True)
build_segments(corpus, out, n_partitions=256, analyzer="simple")
shutil.rmtree(out, ignore_errors=True)

# Best-of-2 timed builds: the sandbox VM shows ~3% CPU steal, so a single
# timed run can be skewed by transient host contention; min-of-N is the
# standard noisy-environment protocol.
# Each timed build must run on Spark (256 partitions is above the driver
# build's partition limit), or docs/s would not measure Spark parallelism.
sc = spark.sparkContext
build_s = float("inf")
for _ in range(2):
    sc.setJobGroup(f"timed_build_{_}", "timed build")
    t0 = time.perf_counter()
    manifests = build_segments(corpus, out, n_partitions=256, analyzer="simple")
    build_s = min(build_s, time.perf_counter() - t0)
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup(f"timed_build_{_}"), \
        "the timed build launched no Spark job"
    assert int(manifests["n_docs"].sum()) == n_docs
    if _ == 0:
        shutil.rmtree(out, ignore_errors=True)
t0 = time.perf_counter()
stats = finalize_index(spark, out, "simple")
finalize_s = time.perf_counter() - t0
assert stats["n_docs"] == n_docs, (stats["n_docs"], n_docs)

queries = ["spark join data", "window batch order", "table", "customer query fast"]
lat = []
results_sig = []
for q in queries:
    t0 = time.perf_counter()
    rows = open_index(spark, out).topk(q, k=10).collect()
    lat.append(time.perf_counter() - t0)
    results_sig.append([(r.docid, round(r.score, 6)) for r in rows])
lat_sorted = sorted(lat)
shutil.rmtree(out, ignore_errors=True)
import hashlib
sig = hashlib.md5(json.dumps(results_sig).encode()).hexdigest()[:12]
print(json.dumps({
    "cpus": cpus, "n_docs": n_docs, "build_s": round(build_s, 2),
    "docs_per_sec": round(n_docs / build_s, 1),
    "finalize_s": round(finalize_s, 2),
    "query_total_s": round(sum(lat), 2),
    "query_p50_s": round(lat_sorted[len(lat)//2], 3),
    "topk_signature": sig,
}))
"""


def run_level(cpus: int, repeat: int, mode: str = "engine") -> dict:
    env = dict(os.environ)
    env.update({"CPUS": str(cpus), "REPEAT": str(repeat), "REPO": os.path.abspath(".")})
    with tempfile.NamedTemporaryFile("w", suffix=".py", delete=False) as f:
        f.write("import tempfile\n" + {"jvm": _JVM_WORKER, "pipeline": _PIPELINE_WORKER}.get(mode, _WORKER))
        path = f.name
    # Pin the whole process tree (JVM + Python workers) to exactly `cpus`
    # cores: local[N] alone under-states N because pyspark's worker
    # processes run OUTSIDE the JVM thread pool — without pinning, the
    # "8-core" level silently borrows extra cores for its Python workers
    # and the scaling ratio is meaningless.
    cmd = ["taskset", "-c", f"0-{cpus - 1}", sys.executable, path]
    out = subprocess.run(cmd, env=env, capture_output=True, text=True, timeout=3600)
    os.unlink(path)
    import shutil

    shutil.rmtree(f"/dev/shm/spark_local_{cpus}", ignore_errors=True)
    last = [ln for ln in out.stdout.strip().splitlines() if ln.startswith("{")]
    if not last:
        raise RuntimeError(f"worker failed (cpus={cpus}):\n{out.stderr[-3000:]}")
    return json.loads(last[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    n = os.cpu_count() or 1
    ap.add_argument("--cpus", default=f"{max(1, n // 4)},{n}")
    ap.add_argument("--repeat", type=int, default=40)
    ap.add_argument("--mode", choices=["engine", "jvm", "pipeline"], default="engine")
    args = ap.parse_args()
    levels = [int(c) for c in args.cpus.split(",")]

    results = [run_level(c, args.repeat, args.mode) for c in levels]
    lo, hi = results[0], results[-1]
    ratio = hi["cpus"] / lo["cpus"]
    speedup = hi["docs_per_sec"] / lo["docs_per_sec"]
    eff = speedup / ratio
    summary = {
        "mode": args.mode,
        "levels": results,
        "cpu_ratio": ratio,
        "build_speedup": round(speedup, 3),
        "scaling_efficiency": round(eff, 3),
        "meets_0.8": eff >= 0.8,
        "rank_identical_across_levels": len(
            {r["topk_signature"] for r in results}
        ) == 1,
    }
    print(json.dumps(summary, indent=2))


if __name__ == "__main__":
    main()
