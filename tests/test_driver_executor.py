"""The physical searcher's two executors (query.wand ``PhysicalIndex._topk``).

Below the size threshold a query's per-partition closures run in a driver
loop and the result is a ``DriverResult`` over the driver's Arrow table, so
collecting it launches no Spark job (and composing it builds a
LocalRelation, no job either); above it the query is one job of one stage. Both run the same
per-partition function under the same (score desc, docid asc) order, so the
(docid, score) lists must be float.hex-equal on every index shape: 1, 4 and
32 partitions, two generations and their merge, payloads, and the code
corpus under text_en.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from solr_spark.corpus import corpus_df
from solr_spark.index.docid import with_docid_long
from solr_spark.index.segments import (
    build_index_dir,
    build_segments,
    finalize_index,
    merge_index,
)
from solr_spark.query import wand
from solr_spark.query.wand import PhysicalIndex

SF_DOCS = "/root/testdata/sf0.001/documents.parquet"


def _build(docs, d, n_partitions, **kw):
    build_index_dir(docs, d, n_partitions=n_partitions, **kw)
    return d


@pytest.fixture(scope="module")
def sf_docs(spark):
    return spark.read.parquet(SF_DOCS)


@pytest.fixture(scope="module")
def code_dir(spark, tmp_path_factory):
    code = with_docid_long(corpus_df(spark, 400, seed=42, n_partitions=4))
    return _build(code, str(tmp_path_factory.mktemp("drvcode") / "idx"), 8,
                  analyzer="text_en")


@pytest.fixture(scope="module")
def sf_dirs(spark, sf_docs, tmp_path_factory):
    """sf0.001 under ``simple``: 1, 4 and 32 partitions, a 2-generation
    index (gen 1 by build_segments + finalize) and its merge."""
    base = tmp_path_factory.mktemp("drvsf")
    kw = dict(analyzer="simple", id_col="doc_id", text_col="text")
    out = {f"p{n}": _build(sf_docs, str(base / f"p{n}"), n, **kw)
           for n in (1, 4, 32)}
    two = _build(sf_docs.where(F.col("doc_id") < 250), str(base / "gen2"), 4, **kw)
    build_segments(sf_docs.where(F.col("doc_id") >= 250), two, n_partitions=4,
                   generation=1, **kw)
    finalize_index(spark, two)
    merge_index(spark, two, str(base / "merged"))
    out["gen2"], out["merged"] = two, str(base / "merged")
    return out


@pytest.fixture(scope="module")
def pay_dir(spark, tmp_path_factory):
    """Payload docs over 4 partitions and 2 generations. Docs 0-11 hold
    the same tokens, so every payload function ties them, and their t0 sum
    is the best; ``k=5`` cuts inside that tie group, whose docids span all
    partitions and both generations."""
    rows = [(d, "t0|4.0 t1|1.5 t0|0.5") for d in range(12)]
    rows += [(d, f"t0|{d % 7 / 2.0} t1|{d % 5 - 1.0} t2|{d / 8.0}")
             for d in range(12, 120)]
    pdf = pd.DataFrame(rows, columns=["docid", "text"])
    corpus = spark.createDataFrame(pdf)
    d = str(tmp_path_factory.mktemp("drvpay") / "idx")
    kw = dict(analyzer="delimited_payload", id_col="docid", text_col="text")
    _build(corpus.where(F.col("docid") % 2 == 0), d, 4, **kw)
    build_segments(corpus.where(F.col("docid") % 2 == 1), d, n_partitions=4,
                   generation=1, **kw)
    finalize_index(spark, d, "delimited_payload")
    return d


def _hex(rows) -> list[tuple[int, str]]:
    return [(int(r["docid"]), float(r["score"]).hex()) for r in rows]


def _both_executors(monkeypatch, count_jobs, call):
    """``call()``'s rows from the driver executor and from the forced Spark
    executor, checking each ran where it should: the Spark side launches
    exactly one job more (a fuzzy clause's probe job runs on both; a first
    call warms the searcher's lazily built term_stats frame)."""
    call().collect()
    driver, d_jobs = count_jobs(lambda: _hex(call().collect()))
    with monkeypatch.context() as m:
        m.setattr(wand, "DRIVER_MAX_SEGMENT_FILES", -1)
        forced, s_jobs = count_jobs(lambda: _hex(call().collect()))
    assert len(s_jobs) == len(d_jobs) + 1, (d_jobs, s_jobs)
    return driver, forced


SF_CALLS = (
    [(f"topk {q!r} k={k} wand={w}",
      lambda ix, q=q, k=k, w=w: ix.topk(q, k=k, use_wand=w))
     for q in ["spark join data", "table", "spark spark join", "window batch order"]
     for k, w in [(10, True), (10, False), (3, True)]]
    + [(f"search {q!r}", lambda ix, q=q: ix.search(q, k=10))
       for q in ["+spark +join -slow data", "(spark join)^2 data -table",
                 "+(window batch) order", "spark~1 table"]]
    + [(f"phrase {q!r} slop={s}", lambda ix, q=q, s=s: ix.phrase_topk(q, k=10, slop=s))
       for q in ["spark join", "join data", "the table"] for s in (0, 1, 2)]
)


@pytest.mark.parametrize("shape", ["p1", "p4", "p32", "gen2", "merged"])
def test_executors_bit_identical_sf(spark, sf_dirs, monkeypatch, count_jobs, shape):
    ix = PhysicalIndex(spark, sf_dirs[shape])
    for name, call in SF_CALLS:
        driver, forced = _both_executors(monkeypatch, count_jobs, lambda: call(ix))
        assert driver == forced, (shape, name)


def test_executors_bit_identical_code_corpus(spark, code_dir, monkeypatch, count_jobs):
    ix = PhysicalIndex(spark, code_dir)
    calls = (
        [lambda q=q, w=w: ix.topk(q, k=10, use_wand=w)
         for q in ["def return self", "gabawo pamako", "sofibaga zoja taso"]
         for w in (True, False)]
        + [lambda: ix.search("+gabawo -zoja (pamako taso)^2", k=10)]
        + [lambda s=s: ix.phrase_topk("import gabawo pamako", k=10, slop=s)
           for s in (0, 1, 2)]
    )
    for i, call in enumerate(calls):
        driver, forced = _both_executors(monkeypatch, count_jobs, call)
        assert driver and driver == forced, i


def test_executors_bit_identical_payload(spark, pay_dir, monkeypatch, count_jobs):
    ix = PhysicalIndex(spark, pay_dir)
    for func in ["max", "min", "sum", "average", "first"]:
        for term in ["t0", "t1", "t2"]:
            for k in (5, 20):
                driver, forced = _both_executors(
                    monkeypatch, count_jobs,
                    lambda: ix.payload_topk(term, func, k=k))
                assert len(driver) == k and driver == forced, (func, term, k)
    # The tie at rank k is cut by docid, across partitions and generations.
    top = _hex(ix.payload_topk("t0", "sum", k=5).collect())
    assert top == [(d, (4.5).hex()) for d in range(5)]


QUERY_CALLS = [
    ("topk", lambda ix: ix.topk("def return self", k=10)),
    ("search", lambda ix: ix.search("+gabawo -zoja (pamako taso)^2", k=10)),
    ("phrase_topk", lambda ix: ix.phrase_topk("import gabawo pamako", k=10, slop=2)),
]
EMPTY_CALLS = [
    ("stopword_only", lambda ix: ix.topk("the and of", k=10)),
    ("absent_term", lambda ix: ix.topk("zzzznotaterm", k=10)),
    ("absent_phrase", lambda ix: ix.phrase_topk("zzzznotaterm def", k=10)),
]


@pytest.mark.parametrize("kind,call", QUERY_CALLS + EMPTY_CALLS)
def test_small_query_is_zero_jobs(spark, code_dir, count_jobs, kind, call):
    """From the call to collect(), with a cold term cache: no Spark job."""
    ix = PhysicalIndex(spark, code_dir)
    rows, jobs = count_jobs(lambda: call(ix).collect())
    assert jobs == [], (kind, jobs)
    assert bool(rows) == (kind in dict(QUERY_CALLS)), kind


def test_small_payload_query_is_zero_jobs(spark, pay_dir, count_jobs):
    ix = PhysicalIndex(spark, pay_dir)
    rows, jobs = count_jobs(lambda: ix.payload_topk("t0", "sum", k=5).collect())
    assert len(rows) == 5 and jobs == []


@pytest.mark.parametrize("kind,call", EMPTY_CALLS)
def test_empty_result_is_zero_jobs_above_threshold(
    spark, code_dir, count_jobs, spark_executor, kind, call
):
    ix = PhysicalIndex(spark, code_dir)
    rows, jobs = count_jobs(lambda: call(ix).collect())
    assert rows == [] and jobs == [], kind


def test_prefix_clause_takes_spark_executor(spark, code_dir, count_jobs):
    """A prefix clause's postings volume is unknown without a dictionary
    scan, so it runs as one job even on a small index."""
    ix = PhysicalIndex(spark, code_dir)
    rows, jobs = count_jobs(lambda: ix.search("merg* def", k=10).collect())
    assert rows and len(jobs) == 1


def test_threshold_counts_segment_files_and_postings(spark, sf_dirs, monkeypatch):
    ix = PhysicalIndex(spark, sf_dirs["gen2"])
    files = sum(map(len, ix.segments.values()))
    postings = sum(ix._df_for_terms(["spark", "join"]).values())
    assert files == 8 and postings > 0
    monkeypatch.setattr(wand, "DRIVER_MAX_SEGMENT_FILES", files)
    monkeypatch.setattr(wand, "DRIVER_MAX_POSTINGS", postings)
    assert ix._on_driver(["spark", "join"], [])
    assert not ix._on_driver(["spark", "join"], ["sp"])
    monkeypatch.setattr(wand, "DRIVER_MAX_POSTINGS", postings - 1)
    assert not ix._on_driver(["spark", "join"], [])
    monkeypatch.setattr(wand, "DRIVER_MAX_POSTINGS", postings)
    monkeypatch.setattr(wand, "DRIVER_MAX_SEGMENT_FILES", files - 1)
    assert not ix._on_driver(["spark", "join"], [])


def test_driver_query_leaves_arrow_cpu_count(spark, code_dir, sf_docs,
                                             tmp_path):
    """The pyarrow readers and the segment writer no longer pin the
    process-global thread pool to one thread: that is set once per Spark
    task (segments.per_partition and the build's applyInArrow writer), so a
    driver-executed query or build leaves the driver's pool as it was."""
    before = pa.cpu_count()
    pa.set_cpu_count(3)
    try:
        ix = PhysicalIndex(spark, code_dir)
        assert ix.topk("def return self", k=10).collect()
        assert ix.phrase_topk("import gabawo pamako", k=10).collect()
        assert pa.cpu_count() == 3
        m = build_segments(sf_docs.limit(50), str(tmp_path / "idx"), 4,
                           id_col="doc_id", text_col="text")
        assert m["n_docs"].sum() == 50 and not m["skipped"].any()
        assert pa.cpu_count() == 3
    finally:
        pa.set_cpu_count(before)


def test_driver_executor_builds_no_pandas_frame(spark, code_dir, pay_dir,
                                                monkeypatch):
    """From the call to collect(), a driver-executed query of every kind,
    and an empty one, stays in Arrow: no pandas DataFrame is built,
    concatenated or iterated row by row."""
    calls = []

    def counted(name, fn):
        def wrapper(*args, **kwargs):
            calls.append(name)
            return fn(*args, **kwargs)
        return wrapper

    monkeypatch.setattr(pd.DataFrame, "__init__",
                        counted("DataFrame", pd.DataFrame.__init__))
    monkeypatch.setattr(pd, "concat", counted("concat", pd.concat))
    monkeypatch.setattr(pd.DataFrame, "iterrows",
                        counted("iterrows", pd.DataFrame.iterrows))
    code, pay = PhysicalIndex(spark, code_dir), PhysicalIndex(spark, pay_dir)
    for kind, call in QUERY_CALLS + EMPTY_CALLS[:1]:
        assert bool(call(code).collect()) == (kind in dict(QUERY_CALLS)), kind
    assert len(pay.payload_topk("t0", "sum", k=5).collect()) == 5
    assert calls == []
