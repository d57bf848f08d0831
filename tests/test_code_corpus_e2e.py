"""End-to-end on the north_rule input shape: the source-code corpus.

Pipeline under test: (repo, path, commit, lang, content) → content-derived
int64 docid → text_en analysis (UAX#29 + lowercase + stop + Porter) →
physical segment build → block-max WAND top-k; checked for rank/score
identity against the DataFrame BM25 path, content-sha256 lineage, and
checkpoint/resume.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from solr_spark.corpus import REFERENCE_QUERIES, corpus_df
from solr_spark.index.build import build_index
from solr_spark.index.docid import with_docid_long
from solr_spark.index.segments import build_index_dir, build_segments
from solr_spark.query.bm25 import bm25_topk
from solr_spark.query.wand import PhysicalIndex


@pytest.fixture(scope="module")
def code_corpus(spark):
    df = with_docid_long(corpus_df(spark, 800, seed=42, n_partitions=4)).persist()
    df.count()
    return df


@pytest.fixture(scope="module")
def phys_dir(spark, code_corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("code") / "idx")
    build_index_dir(code_corpus, d, n_partitions=8, analyzer="text_en")
    return d


@pytest.fixture(scope="module")
def logical(code_corpus):
    idx = build_index(code_corpus, analyzer="text_en")
    idx.postings = idx.postings.persist()
    idx.doclens = idx.doclens.persist()
    return idx


def test_docid_stability_across_partitioning(spark, code_corpus):
    a = {r.docid for r in code_corpus.select("docid").collect()}
    b = {
        r.docid
        for r in with_docid_long(
            corpus_df(spark, 800, seed=42, n_partitions=13)
        ).select("docid").collect()
    }
    assert a == b
    assert len(a) == 800  # no collisions at this scale


# 11: a repeated term counts once per occurrence on both paths
@pytest.mark.parametrize("qid,qtext", REFERENCE_QUERIES[:8] + [(11, "def def return")])
def test_wand_matches_dataframe_text_en(spark, phys_dir, logical, qid, qtext):
    ix = PhysicalIndex(spark, phys_dir)
    got = [(r.docid, round(r.score, 9)) for r in ix.topk(qtext, k=10).collect()]
    want = [
        (r.docid, round(r.score, 9))
        for r in bm25_topk(logical, qtext, k=10, quantize_norms=True).collect()
    ]
    assert got == want


def test_content_sha_invariant(code_corpus, logical):
    """Per-row invariant (input_hint): the sha256 the index attributes to
    each docid equals the sha256 of the raw input row's content."""
    raw = code_corpus.select(
        "docid", F.sha2(F.col("content"), 256).alias("raw_sha")
    )
    joined = logical.docs.join(raw, "docid")
    assert joined.where(F.col("content_sha256") != F.col("raw_sha")).count() == 0
    assert joined.count() == 800


def test_resume_on_code_corpus(code_corpus, phys_dir):
    m = build_segments(code_corpus, phys_dir, 8, "text_en", 0)
    assert m["skipped"].all() and m["n_docs"].sum() == 800
