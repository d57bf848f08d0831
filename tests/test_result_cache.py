"""The physical searcher's result cache (query.wand ``PhysicalIndex._topk``).

A driver-executed result is kept per searcher, keyed by the compiled query
and k, as Solr's per-searcher queryResultCache. A repeat returns the same
driver result: float.hex-identical to a fresh searcher's answer, with no
Spark job and no new DataFrame. Spark-executor results and results of more
than RESULT_CACHE_MAX_ROWS rows are neither kept nor served, and a searcher
reopened after a commit starts with an empty cache.
"""

from __future__ import annotations

import sys
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
import pytest
from conftest import SF_DIR

from solr_spark.index.segments import build_index_dir, build_segments, finalize_index
from solr_spark.query import wand
from solr_spark.query.wand import PhysicalIndex, open_index

SF_DOCS = f"{SF_DIR}/documents.parquet"


def _hex(rows) -> list[tuple[int, str]]:
    return [(int(r["docid"]), float(r["score"]).hex()) for r in rows]


def _docs(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows, columns=["docid", "text"]))


def _run(call):
    """``call()``'s DataFrame and its collected rows."""
    df = call()
    return df, df.collect()


@pytest.fixture(scope="module")
def sf_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("rcache") / "idx")
    build_index_dir(spark.read.parquet(SF_DOCS), d, n_partitions=4,
                    analyzer="simple", id_col="doc_id", text_col="text")
    return d


@pytest.fixture(scope="module")
def pay_dir(spark, tmp_path_factory):
    rows = [(d, f"t0|{d % 7 / 2.0} t1|{d % 5 - 1.0} t0|{d / 8.0}")
            for d in range(60)]
    d = str(tmp_path_factory.mktemp("rcachepay") / "idx")
    build_index_dir(_docs(spark, rows), d, n_partitions=2,
                    analyzer="delimited_payload", id_col="docid", text_col="text")
    return d


CALLS = [
    ("topk", "sf", lambda ix: ix.topk("spark join data", k=10)),
    ("search", "sf", lambda ix: ix.search("+spark (join table)^2 -slow", k=10)),
    ("phrase_topk", "sf", lambda ix: ix.phrase_topk("spark join", k=10, slop=1)),
    ("payload_topk", "pay", lambda ix: ix.payload_topk("t0", "sum", k=7)),
]


@pytest.mark.parametrize("kind,index,call", CALLS)
def test_repeat_is_cached_result(spark, sf_dir, pay_dir, count_jobs, created,
                                 kind, index, call):
    """A repeat returns the first call's DataFrame: no Spark job, no
    createDataFrame, and a fresh searcher's rows."""
    d = sf_dir if index == "sf" else pay_dir
    ix = PhysicalIndex(spark, d)
    first = call(ix)
    want = _hex(first.collect())
    assert want, kind
    n = created[0]
    (again, rows), jobs = count_jobs(lambda: _run(lambda: call(ix)))
    assert again is first and jobs == [] and created[0] == n, kind
    assert _hex(rows) == want == _hex(call(PhysicalIndex(spark, d)).collect()), kind
    assert ix.cache_stats() == dict(lookups=2, hits=1, inserts=1, evictions=0,
                                    size=1)


def test_keys_differ_by_k_slop_wand_func_and_kind(spark, sf_dir, pay_dir):
    ix, pay = PhysicalIndex(spark, sf_dir), PhysicalIndex(spark, pay_dir)
    calls = [
        lambda: ix.topk("spark join", k=10),
        lambda: ix.topk("spark join", k=3),
        lambda: ix.topk("spark join", k=10, use_wand=False),
        lambda: ix.search("spark join", k=10),
        lambda: ix.phrase_topk("spark join", k=10),
        lambda: ix.phrase_topk("spark join", k=10, slop=1),
        lambda: pay.payload_topk("t0", "max", k=5),
        lambda: pay.payload_topk("t0", "min", k=5),
        lambda: pay.payload_topk("t1", "max", k=5),
    ]
    dfs = [call() for call in calls]
    assert len({id(df) for df in dfs}) == len(calls)
    assert ix.cache_stats()["size"] == 6 and pay.cache_stats()["size"] == 3
    assert all(call() is df for call, df in zip(calls, dfs, strict=True))
    assert ix.cache_stats()["hits"] == 6 and pay.cache_stats()["hits"] == 3


def test_queries_that_analyze_alike_share_an_entry(spark, sf_dir):
    ix = PhysicalIndex(spark, sf_dir)
    assert ix.topk("Spark JOIN", k=10) is ix.topk("spark join", k=10)
    assert ix.topk(["spark", "join"], k=10) is ix.topk("spark, join!", k=10)
    assert ix.search("+Spark DATA", k=10) is ix.search("+spark  data", k=10)
    assert ix.phrase_topk("Spark Join", k=10) is ix.phrase_topk("spark join", k=10)
    # A phrase of one term runs at slop 0, so its slop is not in the key.
    assert ix.phrase_topk("spark", k=10, slop=2) is ix.phrase_topk("spark", k=10)
    assert ix.cache_stats()["size"] == 4


def test_empty_result_is_shared(spark, sf_dir, count_jobs, created):
    """Every query that matches nothing before scoring returns the
    searcher's one no-hits frame, on both executors: 0 jobs."""
    ix = PhysicalIndex(spark, sf_dir)
    empty = ix.topk("zzzznotaterm", k=10)
    n = created[0]
    calls = [lambda: ix.topk("", k=10), lambda: ix.topk("zzzznotaterm", k=5),
             lambda: ix.phrase_topk("zzzznotaterm spark", k=10),
             lambda: ix.search("zzzznotaterm", k=10)]
    for forced in (False, True):
        for call in calls:
            with pytest.MonkeyPatch.context() as m:
                if forced:
                    m.setattr(wand, "DRIVER_MAX_SEGMENT_FILES", -1)
                (df, rows), jobs = count_jobs(lambda: _run(call))
            assert df is empty and rows == [] and jobs == []
    assert created[0] == n
    stats, jobs = count_jobs(ix.cache_stats)
    assert jobs == [] and stats == dict(lookups=0, hits=0, inserts=0,
                                        evictions=0, size=0)


def test_reopened_searcher_sees_commit_old_keeps_its_answer(spark, tmp_path):
    idx = str(tmp_path / "idx")
    kw = dict(n_partitions=2, analyzer="simple", text_col="text")
    build_index_dir(_docs(spark, [(i, f"alpha doc{i}") for i in range(20)]), idx, **kw)
    old = open_index(spark, idx)
    old_df = old.topk("alpha", k=50)
    old_rows = _hex(old_df.collect())
    assert len(old_rows) == 20

    build_segments(_docs(spark, [(100 + i, f"alpha alpha new{i}") for i in range(20)]),
                   idx, generation=1, **kw)
    finalize_index(spark, idx)
    new = open_index(spark, idx)
    assert new is not old and new.cache_stats()["size"] == 0
    new_rows = _hex(new.topk("alpha", k=50).collect())
    assert len(new_rows) == 40
    assert new_rows == _hex(PhysicalIndex(spark, idx).topk("alpha", k=50).collect())
    assert old.topk("alpha", k=50) is old_df
    assert _hex(old_df.collect()) == old_rows
    # A miss on the old searcher still scores its own commit.
    assert _hex(old.topk("alpha", k=30).collect()) == old_rows
    assert old.cache_stats() == dict(lookups=3, hits=1, inserts=2, evictions=0,
                                     size=2)


def test_spark_results_and_large_results_are_not_cached(spark, sf_dir, count_jobs,
                                                        created):
    ix = PhysicalIndex(spark, sf_dir)
    stored = ix.topk("spark join data", k=10)
    want = _hex(stored.collect())
    with pytest.MonkeyPatch.context() as m:
        m.setattr(wand, "DRIVER_MAX_SEGMENT_FILES", -1)
        for _ in range(2):
            (df, rows), jobs = count_jobs(
                lambda: _run(lambda: ix.topk("spark join data", k=10)))
            assert df is not stored and len(jobs) == 1
            assert _hex(rows) == want
    assert ix.cache_stats() == dict(lookups=1, hits=0, inserts=1, evictions=0,
                                    size=1)

    # Two distinct results, neither handed to the JVM until composed.
    n = created[0]
    big = [ix.topk("table", k=300) for _ in range(2)]
    assert big[0] is not big[1] and created[0] == n
    rows = [_hex(df.collect()) for df in big]
    assert len(rows[0]) > wand.RESULT_CACHE_MAX_ROWS and rows[0] == rows[1]
    assert created[0] == n
    assert _hex(big[0].limit(300).collect()) == rows[0] and created[0] == n + 1
    assert ix.cache_stats() == dict(lookups=3, hits=0, inserts=1, evictions=0,
                                    size=1)


def test_least_recently_used_is_evicted(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(wand, "RESULT_CACHE_MAX_ENTRIES", 2)
    ix = PhysicalIndex(spark, sf_dir)
    q1, q2, q3 = (lambda: ix.topk("spark", k=10), lambda: ix.topk("join", k=10),
                  lambda: ix.topk("data", k=10))
    a1, a2 = q1(), q2()
    assert q1() is a1          # q1 becomes the most recently used
    a3 = q3()                  # evicts q2
    assert q1() is a1 and q2() is not a2  # q2 is rebuilt and evicts q3
    assert q1() is a1 and q3() is not a3
    assert ix.cache_stats() == dict(lookups=8, hits=3, inserts=5, evictions=3,
                                    size=2)


def test_threads_keep_the_bound_and_the_answers(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(wand, "RESULT_CACHE_MAX_ENTRIES", 3)
    calls = [
        lambda ix: ix.topk("spark join", k=10),
        lambda ix: ix.topk("window batch order", k=5),
        lambda ix: ix.search("+spark -table data", k=10),
        lambda ix: ix.phrase_topk("join data", k=10, slop=2),
        lambda ix: ix.topk("table", k=10, use_wand=False),
        lambda ix: ix.search("(spark join)^2 merge", k=10),
    ]
    want = [_hex(call(PhysicalIndex(spark, sf_dir)).collect()) for call in calls]
    ix = PhysicalIndex(spark, sf_dir)

    def worker(t: int) -> list[tuple[int, bool, int]]:
        out = []
        for j in range(8):
            i = (t + j) % len(calls)
            out.append((i, _hex(calls[i](ix).collect()) == want[i],
                        ix.cache_stats()["size"]))
        return out

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool:
            seen = [r for rs in pool.map(worker, range(16)) for r in rs]
    finally:
        sys.setswitchinterval(interval)
    assert len(seen) == 128
    assert all(ok for _, ok, _ in seen), [i for i, ok, _ in seen if not ok]
    assert max(size for _, _, size in seen) <= 3
    stats = ix.cache_stats()
    assert stats["lookups"] == 128 and stats["size"] <= 3
    assert stats["inserts"] - stats["evictions"] == stats["size"]
