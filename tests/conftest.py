from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from solr_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="solr_spark_tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def tiny_corpus(spark):
    """1k-row deterministic corpus with docid (FIXTURES.md 'tiny')."""
    from solr_spark.corpus import corpus_df
    from solr_spark.index.docid import with_docid

    df = with_docid(corpus_df(spark, 1000, seed=42, n_partitions=4)).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn)`` -> (fn(), ids of the Spark jobs it launched),
    counted by job group (setJobGroup + statusTracker)."""
    sc = spark.sparkContext
    n = [0]

    def run(fn):
        n[0] += 1
        gid = f"count_jobs_{n[0]}"
        sc.setJobGroup(gid, gid)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, sorted(sc.statusTracker().getJobIdsForGroup(gid))

    return run


@pytest.fixture
def spark_executor(monkeypatch):
    """Force every physical query (query.wand) onto the one-job Spark
    executor, whatever the index and query size."""
    from solr_spark.query import wand

    monkeypatch.setattr(wand, "DRIVER_MAX_SEGMENT_FILES", -1)
    monkeypatch.setattr(wand, "DRIVER_MAX_POSTINGS", -1)


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
