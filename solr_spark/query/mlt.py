"""More-like-this: find documents similar to a given document.

Reference (solr/core/src/java/org/apache/solr/handler/MoreLikeThisHandler.java:80,
search/MLTQParserPlugin.java; SURVEY.md §2.2): extract the source doc's
"interesting terms" — ranked by tf·idf, gated by min tf / min df / max df —
then run them as an OR query, excluding the source doc.

Spark shape: the interesting-term extraction is a filtered scan of the
doc's postings row-slice joined to the (broadcast-size) term stats; the
similarity search is the standard BM25 scored scan.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solr_spark.index.build import IndexTables
from solr_spark.query.bm25 import bm25_score_df, idf
from solr_spark.query.driver_result import empty_result


def interesting_terms(
    index: IndexTables,
    docid,
    max_terms: int = 25,
    min_tf: int = 2,
    min_df: int = 5,
    max_df_pct: float = 0.5,
) -> list[tuple[str, float]]:
    """(term, tf·idf) of the doc's top terms, MLT-gated, ranked desc."""
    n_docs, _ = index.corpus_stats()
    doc_terms = (
        index.postings.where(F.col("docid") == F.lit(docid))
        .where(F.col("tf") >= min_tf)
        .join(index.term_stats().select("term", "df"), "term")
        .where(
            (F.col("df") >= min_df) & (F.col("df") <= int(max_df_pct * n_docs))
        )
        .collect()
    )
    ranked = sorted(
        ((r["term"], r["tf"] * idf(n_docs, r["df"])) for r in doc_terms),
        key=lambda x: (-x[1], x[0]),
    )
    return ranked[:max_terms]


def more_like_this(
    index: IndexTables,
    docid,
    k: int = 10,
    max_terms: int = 25,
    min_tf: int = 2,
    min_df: int = 5,
    max_df_pct: float = 0.5,
) -> DataFrame:
    """Top-k similar docs (docid, score), source doc excluded."""
    spark = index.postings.sparkSession
    terms = [
        t
        for t, _ in interesting_terms(
            index, docid, max_terms, min_tf, min_df, max_df_pct
        )
    ]
    if not terms:
        return empty_result(spark, "docid long, score double")
    scored = bm25_score_df(index, terms, quantize_norms=False)
    return (
        scored.where(F.col("docid") != F.lit(docid))
        .orderBy(F.col("score").desc(), F.col("docid").asc())
        .limit(k)
    )


def term_vectors(
    index: IndexTables, docids: list[str], top_n: int | None = None
) -> DataFrame:
    """TermVectorComponent (handler/component/TermVectorComponent.java):
    per-doc term vectors with tf, df and tf-idf, where the reference's
    "tf-idf" is literally tf/df (TermVectorComponent.java mapOneVector).

    Scale shape: one docid-IN-filtered postings scan (pushed down) joined
    to the small broadcast term-stats table — per-request IO is O(the
    requested docs' postings rows), independent of corpus size.
    """
    rows = index.postings.where(F.col("docid").isin(docids)).select(
        "docid", "term", "tf"
    )
    stats = F.broadcast(index.term_stats().select("term", "df"))
    out = rows.join(stats, "term").select(
        "docid", "term", "tf", "df",
        (F.col("tf") / F.col("df")).alias("tfidf"),
    )
    if top_n is not None:
        # top terms of EACH requested doc's vector (the reference returns a
        # vector per doc), not one global cut across docs
        from pyspark.sql import Window

        w = Window.partitionBy("docid").orderBy(
            F.col("tfidf").desc(), F.col("term").asc()
        )
        out = (
            out.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= top_n)
            .drop("_rn")
        )
    return out
