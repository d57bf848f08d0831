"""Physical payload stream (.pay-file role): codec round-trip, build,
block-max pruned payload_topk parity with the logical path, merge carry.

Reference behavior: PayloadScoreQParserPlugin.java (includeSpanScore=false —
the payload function value IS the score); payloads stored per position as
4-byte floats (Lucene PayloadHelper float encoder). Payloads here use
float32-representable values so the logical double path and the physical
float32 path agree exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from solr_spark.index.codec import decode_payloads, encode_postings
from solr_spark.index.segments import build_index_dir, merge_index
from solr_spark.query.payload import delimited_payload_postings, payload_score
from solr_spark.query.wand import open_index

FUNCS = ["max", "min", "sum", "average", "first"]


def _payload_corpus(spark, n=400, seed=7):
    """Deterministic docs of `tN|payload` tokens; term t0 is hot (appears in
    every doc, several times) so its posting list spans multiple 128-blocks
    and the pruning path is actually exercised."""
    rng = np.random.default_rng(seed)
    rows = []
    for d in range(n):
        toks = [f"t0|{rng.integers(0, 64) / 2.0}" for _ in range(1 + d % 3)]
        for _ in range(6):
            toks.append(f"t{rng.integers(1, 30)}|{rng.integers(-8, 32) / 4.0}")
        rng.shuffle(toks)
        rows.append((d, " ".join(toks)))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["docid", "text"]))


@pytest.fixture(scope="module")
def pay_setup(spark, tmp_path_factory):
    corpus = _payload_corpus(spark).cache()
    corpus.count()
    idx_dir = str(tmp_path_factory.mktemp("payidx") / "idx")
    build_index_dir(
        corpus, idx_dir, n_partitions=4, id_col="docid", text_col="text",
        store_payloads=True,
    )
    logical = delimited_payload_postings(
        corpus, id_col="docid", text_col="text"
    ).cache()
    logical.count()
    return corpus, idx_dir, logical


def test_codec_payload_roundtrip(encode_one):
    ords = np.arange(0, 300, dtype=np.int64)
    tfs = (ords % 3 + 1).astype(np.int64)
    norms = np.full(300, 24, dtype=np.uint8)
    npos = int(tfs.sum())
    pos = np.sort(np.arange(npos) % 50).astype(np.int64)
    # positions must be sorted per posting, not globally — rebuild per doc
    pos = np.concatenate([np.sort(np.arange(t) * 2 + 1) for t in tfs])
    pay = (np.arange(npos) % 7).astype(np.float32) / 2.0
    enc = encode_one(ords, tfs, norms, positions=pos, payloads=pay)
    flat, starts = decode_payloads(enc.pays, tfs)
    assert np.array_equal(flat, pay)
    # block metadata: 300 postings -> 3 blocks; offsets address the stream
    assert enc.block_pay_off.size == 3
    pstarts = np.zeros(300, dtype=np.int64)
    pstarts[1:] = np.cumsum(tfs)[:-1]
    assert enc.block_pay_off[1] == pstarts[128] * 4
    assert enc.block_max_pay[0] == pay[: pstarts[128]].max()


def test_codec_payload_misalignment_raises():
    with pytest.raises(ValueError, match="align"):
        encode_postings(
            ["t"], np.zeros(2, np.int64), np.array([0, 1]), np.zeros(2, np.uint8),
            np.array([0, 1]), np.array([1.0], np.float32),
        )


@pytest.mark.parametrize("func", FUNCS)
def test_payload_topk_parity_with_logical(pay_setup, spark, func):
    corpus, idx_dir, logical = pay_setup
    ix = open_index(spark, idx_dir)
    got = ix.payload_topk("t0", func=func, k=15).toPandas()
    want = (
        payload_score(logical, "t0", func)
        .orderBy(F.col("score").desc(), F.col("docid").asc())
        .limit(15)
        .toPandas()
    )
    assert got["docid"].tolist() == want["docid"].tolist()
    assert np.allclose(got["score"], want["score"], atol=1e-9)


def test_payload_topk_rare_term(pay_setup, spark):
    corpus, idx_dir, logical = pay_setup
    ix = open_index(spark, idx_dir)
    got = ix.payload_topk("t17", func="sum", k=5).toPandas()
    want = (
        payload_score(logical, "t17", "sum")
        .orderBy(F.col("score").desc(), F.col("docid").asc())
        .limit(5)
        .toPandas()
    )
    assert got["docid"].tolist() == want["docid"].tolist()
    assert np.allclose(got["score"], want["score"])


def test_payload_topk_absent_and_bad_func(pay_setup, spark):
    _, idx_dir, _ = pay_setup
    ix = open_index(spark, idx_dir)
    assert ix.payload_topk("zzz_absent", "max", k=5).count() == 0
    with pytest.raises(ValueError, match="payload function"):
        ix.payload_topk("t0", "median")


def test_payload_topk_is_one_job(pay_setup, spark, count_jobs, spark_executor):
    """On the Spark executor, from the call to collect(), with a cold term
    cache: one Spark job."""
    from solr_spark.query.wand import PhysicalIndex

    _, idx_dir, _ = pay_setup
    ix = PhysicalIndex(spark, idx_dir)
    rows, jobs = count_jobs(lambda: ix.payload_topk("t0", "sum", k=5).collect())
    assert len(rows) == 5 and len(jobs) == 1


def test_payload_query_on_payloadless_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("nopay") / "idx")
    plain = spark.createDataFrame(
        [(i, "def reader merge") for i in range(50)], "docid long, content string"
    )
    build_index_dir(plain, d, n_partitions=2,
                    id_col="docid", text_col="content")
    ix = open_index(spark, d)
    with pytest.raises(ValueError, match="store_payloads"):
        ix.payload_topk("def", "max")


def test_merge_preserves_payloads(spark, tmp_path_factory):
    from solr_spark.index.segments import build_segments, finalize_index

    base = str(tmp_path_factory.mktemp("paymerge"))
    idx_dir, out_dir = f"{base}/idx", f"{base}/merged"
    c1 = _payload_corpus(spark, n=120, seed=1)
    c2 = _payload_corpus(spark, n=120, seed=2).select(
        (F.col("docid") + 120).alias("docid"), "text"
    )
    build_segments(c1, idx_dir, n_partitions=2, generation=0,
                   id_col="docid", text_col="text", store_payloads=True)
    build_segments(c2, idx_dir, n_partitions=2, generation=1,
                   id_col="docid", text_col="text", store_payloads=True)
    finalize_index(spark, idx_dir)
    merge_index(spark, idx_dir, out_dir)
    # The merged segments are exactly those of one build of both corpora.
    build_index_dir(c1.unionByName(c2), f"{base}/one", n_partitions=2,
                    id_col="docid", text_col="text", store_payloads=True)
    for p in range(2):
        for f in ("postings.parquet", "docs.parquet"):
            seg = f"seg/p={p:05d}/gen=0/{f}"
            assert pq.read_table(f"{out_dir}/{seg}").equals(
                pq.read_table(f"{base}/one/{seg}"))
    ix = open_index(spark, out_dir)
    assert ix.stats["payloads"] is True
    got = ix.payload_topk("t0", func="max", k=10).toPandas()
    logical = delimited_payload_postings(
        c1.unionByName(c2), id_col="docid", text_col="text"
    )
    want = (
        payload_score(logical, "t0", "max")
        .orderBy(F.col("score").desc(), F.col("docid").asc())
        .limit(10)
        .toPandas()
    )
    assert got["docid"].tolist() == want["docid"].tolist()
    assert np.allclose(got["score"], want["score"])


def test_payload_partition_invariance(spark, tmp_path_factory):
    corpus = _payload_corpus(spark, n=200, seed=3)
    frames = []
    for nparts in (1, 4):
        d = str(tmp_path_factory.mktemp(f"payinv{nparts}") / "idx")
        build_index_dir(corpus, d, n_partitions=nparts,
                        id_col="docid", text_col="text", store_payloads=True)
        frames.append(
            open_index(spark, d).payload_topk("t0", "sum", k=12).toPandas()
        )
    assert frames[0]["docid"].tolist() == frames[1]["docid"].tolist()
    assert np.allclose(frames[0]["score"], frames[1]["score"])
