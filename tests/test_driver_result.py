"""Driver-held results (query.driver_result ``DriverResult``).

A query scored on the driver, or known to match nothing, returns a
DataFrame over the Arrow table the driver holds. Its local actions must
answer exactly as the JVM frame built from the same table does
(``DataFrame(res._jdf, spark)``, the frame every such result was before),
with no createDataFrame call and no Spark job. A composing call builds that
frame once per result, whatever the number of threads asking for it.
"""

from __future__ import annotations

import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
import pyarrow as pa
import pytest
from conftest import SF_DIR
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame

from solr_spark.index.build import build_index
from solr_spark.index.segments import build_index_dir
from solr_spark.query.bm25 import bm25_topk, explain_score
from solr_spark.query.dismax import dismax_search
from solr_spark.query.driver_result import DriverResult
from solr_spark.query.edismax import edismax_search
from solr_spark.query.maxscore import maxscore_search
from solr_spark.query.mlt import more_like_this
from solr_spark.query.parser import search
from solr_spark.query.phrase import complex_phrase_topk, phrase_score_df, phrase_topk
from solr_spark.query.phrases_id import phrases_identification
from solr_spark.query.simpleq import simple_query
from solr_spark.query.spellcheck import collate, wordbreak_combine, wordbreak_split
from solr_spark.query.synonym import synonym_search
from solr_spark.query.thinparsers import field_query
from solr_spark.query.wand import PhysicalIndex
from solr_spark.query.xmlq import xml_query

SF_DOCS = f"{SF_DIR}/documents.parquet"
STOP = "the of and"  # every token a text_en stopword


@pytest.fixture(scope="module")
def sf_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("drvres") / "idx")
    build_index_dir(spark.read.parquet(SF_DOCS), d, n_partitions=4,
                    analyzer="simple", id_col="doc_id", text_col="text")
    return d


# Each call gives a new result: a new searcher has an empty result cache.
RESULTS = {
    "hits": lambda spark, d: PhysicalIndex(spark, d).topk("spark join data", k=10),
    "empty": lambda spark, d: PhysicalIndex(spark, d).topk("zzzznotaterm", k=10),
    "string_docid": lambda spark, d: DriverResult(spark, pa.table({
        "docid": pa.array(["d7", "d10", "d2"], pa.string()),
        "score": pa.array([2.5, 1.0 / 3.0, 0.1], pa.float64()),
    })),
}


def _local_actions(res) -> dict:
    return {
        "rows": res.collect(), "arrow": res.toArrow(), "pandas": res.toPandas(),
        "schema": res.schema, "columns": res.columns, "count": res.count(),
        "is_empty": res.isEmpty(), "take": res.take(2), "head": res.head(2),
        "first": res.first(),
    }


@pytest.mark.parametrize("kind", sorted(RESULTS))
def test_local_actions_match_the_jvm_frame(spark, sf_dir, count_jobs, created,
                                           kind):
    res = RESULTS[kind](spark, sf_dir)
    n = created[0]
    local, jobs = count_jobs(lambda: _local_actions(res))
    assert jobs == [] and created[0] == n, kind

    jvm = DataFrame(res._jdf, spark)
    assert created[0] == n + 1
    rows = jvm.collect()
    assert local["rows"] == rows and len(rows) == jvm.count() == local["count"]
    assert [r.asDict() for r in local["rows"]] == [r.asDict() for r in rows]
    assert [(r["docid"], float(r["score"]).hex()) for r in local["rows"]] == [
        (r["docid"], float(r["score"]).hex()) for r in rows]
    assert [tuple(map(type, r)) for r in local["rows"]] == [
        tuple(map(type, r)) for r in rows]
    assert local["arrow"].equals(jvm.toArrow(), check_metadata=False)
    pd.testing.assert_frame_equal(local["pandas"], jvm.toPandas())
    assert local["schema"] == jvm.schema and local["columns"] == jvm.columns
    assert local["is_empty"] == jvm.isEmpty()
    assert local["take"] == jvm.take(2) and local["head"] == jvm.head(2)
    assert local["first"] == jvm.first()


def test_string_columns_follow_the_large_var_types_conf(spark, sf_dir):
    res = RESULTS["string_docid"](spark, sf_dir)
    jvm = DataFrame(res._jdf, spark)
    conf = "spark.sql.execution.arrow.useLargeVarTypes"
    spark.conf.set(conf, "true")
    try:
        got, want = res.toArrow(), jvm.toArrow()
    finally:
        spark.conf.unset(conf)
    assert got.schema.field("docid").type == pa.large_string()
    assert got.equals(want, check_metadata=False)


COMPOSE = {
    "join": lambda df: df.join(df.select("docid"), "docid"),
    "orderBy": lambda df: df.orderBy(F.col("docid").desc()),
    "limit": lambda df: df.limit(3),
}


@pytest.mark.parametrize("how", sorted(COMPOSE))
def test_first_composition_builds_the_frame_once(spark, sf_dir, created, how):
    res = RESULTS["hits"](spark, sf_dir)
    today = COMPOSE[how](spark.createDataFrame(res.toArrow())).collect()
    n = created[0]
    assert sorted(COMPOSE[how](res).collect()) == sorted(today) and created[0] == n + 1
    assert COMPOSE[how](res).collect() == COMPOSE[how](res).collect()
    assert created[0] == n + 1


def test_threads_build_one_frame(spark, sf_dir, created):
    res = RESULTS["hits"](spark, sf_dir)
    n = created[0]
    start = threading.Barrier(16)

    def touch(_):
        start.wait()
        return res._jdf

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool:
            jdfs = list(pool.map(touch, range(16)))
    finally:
        sys.setswitchinterval(interval)
    assert created[0] == n + 1 and all(j is jdfs[0] for j in jdfs)


def test_local_actions_need_no_jvm():
    """The constructor and the local actions never touch the session."""
    res = DriverResult(object(), pa.table({"docid": [3, 1], "score": [0.5, 0.25]}))
    assert [r.asDict() for r in res.collect()] == [
        {"docid": 3, "score": 0.5}, {"docid": 1, "score": 0.25}]
    assert res.toArrow().column("docid").to_pylist() == [3, 1]
    assert res.toPandas()["score"].tolist() == [0.5, 0.25]
    assert res.count() == 2 and res.columns == ["docid", "score"]


@pytest.fixture(scope="module")
def logical(spark):
    rows = [(i, f"the spark {w} of the join and data {i}")
            for i, w in enumerate(["engine", "table", "query", "merge"] * 5)]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["docid", "text"]))
    idx = build_index(docs, id_col="docid", text_col="text", analyzer="text_en")
    idx.corpus_stats()
    idx.term_stats().count()
    return idx


# (public entry, a call that reaches its no-hit result, the DDL it returned
# as spark.createDataFrame([], ddl), whether the call probes the index first)
LONG = "docid long, score double"
ENTRIES = [
    ("bm25_topk", lambda ix: bm25_topk(ix, STOP), "docid string, score double", False),
    ("explain_score", lambda ix: explain_score(ix, []),
     "docid string, term string, tf long, df long, idf double, contrib double",
     False),
    ("search", lambda ix: search(ix, STOP), LONG, False),
    ("simple_query", lambda ix: simple_query(ix, ""), LONG, False),
    ("xml_query", lambda ix: xml_query(ix, f"<TermQuery>{STOP}</TermQuery>"),
     LONG, False),
    ("dismax_search", lambda ix: dismax_search({"text": ix}, STOP), LONG, False),
    ("edismax_search", lambda ix: edismax_search({"text": ix}, STOP), LONG, False),
    ("maxscore_search", lambda ix: maxscore_search(ix, STOP), LONG, False),
    ("synonym_search", lambda ix: synonym_search(ix, STOP, {}), LONG, False),
    ("field_query", lambda ix: field_query(ix, STOP, analyzer="text_en"), LONG,
     False),
    ("phrase_topk", lambda ix: phrase_topk(ix, STOP), LONG, False),
    ("phrase_score_df", lambda ix: phrase_score_df(ix, ["zzzz"], stats={}), LONG,
     False),
    ("complex_phrase_topk", lambda ix: complex_phrase_topk(ix, STOP), LONG, False),
    ("phrases_identification",
     lambda ix: phrases_identification(ix, STOP, analyzer="text_en"),
     "phrase string, pos_start int, pos_end int, score double", False),
    ("wordbreak_split", lambda ix: wordbreak_split(ix, "a"),
     "left string, right string, df_left long, df_right long", False),
    ("wordbreak_combine", lambda ix: wordbreak_combine(ix, ["spark"]),
     "left string, right string, combined string, df long", False),
    ("more_like_this", lambda ix: more_like_this(ix, 0, min_df=10**6), LONG, True),
    ("collate", lambda ix: collate(ix, ["qqqqqqqq"]), "collation string, hits long",
     True),
]


@pytest.mark.parametrize("name,call,ddl,probes", ENTRIES, ids=[e[0] for e in ENTRIES])
def test_no_hit_entries_launch_no_job(spark, logical, count_jobs, name, call, ddl,
                                      probes):
    """A query that matches nothing keeps its old schema, and collecting it
    (composed or not) launches no job; only the entries that read the index
    before they know there is no hit launch one."""
    df, call_jobs = count_jobs(lambda: call(logical))
    rows, jobs = count_jobs(df.collect)
    assert rows == [] and jobs == [], name
    assert (call_jobs != []) == probes, (name, call_jobs)
    assert df.schema == spark.createDataFrame([], ddl).schema, name
