"""The north-rule deployment job: index build + BM25 query set, run via

    spark-submit --master local[N] --py-files dist/engine.zip \
        tools/submit_index_job.py --n-docs 200000 --partitions 64

`solr_spark` is imported ONLY from the `--py-files` artifact (this script
never touches sys.path), proving the packaged engine is what executes on the
driver and every executor — the same mechanism that ships it to a real
multi-executor cluster.

The job covers the full north-star pipeline on the input_hint table shape:
  1. synthesize the deterministic (repo, path, commit, lang, content) corpus
     (FIXTURES.md; seeded, identical rows at any parallelism),
  2. content-derived docids + bucketed layout (= Iceberg bucket(docid)),
  3. per-partition inverted segments with manifests (checkpoint/resume),
  4. finalize global stats, then answer the reference query set with
     block-max WAND top-10.

Prints ONE JSON line: build/query timings, per-partition manifest metrics,
a corpus content-sha256 checksum (the per-row invariant, order-independent),
and the md5 signature of the top-10 (docid, score) lists — byte-identical
across parallelism levels by construction.
"""

from __future__ import annotations

import argparse
import json
import shutil
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-docs", type=int, default=50_000)
    ap.add_argument("--partitions", type=int, default=64)
    ap.add_argument("--out", default="/tmp/solr_spark_submit_idx")
    ap.add_argument("--analyzer", default="simple")
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from solr_spark.corpus import REFERENCE_QUERIES, corpus_df
    from solr_spark.index.docid import with_docid_long
    from solr_spark.index.segments import (
        build_segments,
        finalize_index,
        partition_col,
    )
    from solr_spark.query.wand import open_index
    from solr_spark.session import get_spark

    spark = get_spark(app_name="submit_index_job")
    t_all = time.perf_counter()

    raw = corpus_df(spark, args.n_docs, seed=args.seed)
    corpus = (
        with_docid_long(raw)
        .repartition(args.partitions, partition_col("docid", args.partitions))
        .persist()
    )
    # Per-row invariant (north rule): an order-independent checksum over
    # sha256(content) — identical at any parallelism / cluster size.
    chk = corpus.agg(
        F.sum(
            F.conv(F.substring(F.sha2(F.col("content"), 256), 1, 15), 16, 10)
            .cast("decimal(38,0)")
        ).alias("s"),
        F.count("*").alias("n"),
    ).collect()[0]
    assert chk["n"] == args.n_docs

    shutil.rmtree(args.out, ignore_errors=True)
    t0 = time.perf_counter()
    manifests = build_segments(
        corpus, args.out, n_partitions=args.partitions,
        analyzer=args.analyzer,
    )
    build_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    stats = finalize_index(spark, args.out, args.analyzer)
    finalize_s = time.perf_counter() - t0
    assert stats["n_docs"] == args.n_docs

    import hashlib

    sigs, lat = [], []
    for _, q in REFERENCE_QUERIES:
        t0 = time.perf_counter()
        rows = open_index(spark, args.out).topk(q, k=10).collect()
        lat.append(time.perf_counter() - t0)
        sigs.append([(r.docid, round(r.score, 6)) for r in rows])
    lat.sort()

    shutil.rmtree(args.out, ignore_errors=True)
    print(json.dumps({
        "n_docs": args.n_docs,
        "partitions": args.partitions,
        "corpus_sha256_sum": str(chk["s"]),
        "build_s": round(build_s, 2),
        "docs_per_sec": round(args.n_docs / build_s, 1),
        "finalize_s": round(finalize_s, 2),
        "manifest_partitions": int(len(manifests)),
        "manifest_docs": int(manifests["n_docs"].sum()),
        "manifest_terms": int(manifests["n_terms"].sum()),
        "query_p50_s": round(lat[len(lat) // 2], 3),
        "query_p95_s": round(lat[int(len(lat) * 0.95) - 1], 3),
        "top10_signature": hashlib.md5(
            json.dumps(sigs).encode()).hexdigest()[:12],
        "total_s": round(time.perf_counter() - t_all, 2),
    }))


if __name__ == "__main__":
    main()
