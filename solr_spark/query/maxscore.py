"""`{!maxscore}` parser + RankField feature scoring.

- maxscore (search/MaxScoreQParser.java): parses like the lucene parser but
  wraps SHOULD clauses in a DisjunctionMaxQuery with tie=0 — a doc's score
  from the optional clauses is the MAX single-clause score, not the sum;
  MUST clauses still sum on top.
- RankField (schema/RankField.java): a per-doc numeric feature indexed for
  scoring, queried with `{!rank f=field function=satu|log ...}` — backed by
  Lucene FeatureField: satu(w, pivot) = w / (w + pivot); log(w, a) =
  ln(a + w). Typically combined additively (bq) or multiplicatively (boost)
  with the main query; `rank_feature_col` returns the scoring column so
  either combination is a one-line expression.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from solr_spark.analysis.chain import analyze
from solr_spark.index.build import IndexTables
from solr_spark.query.bm25 import (
    B_DEFAULT,
    K1_DEFAULT,
    idf,
    tf_saturation,
    weight_map_col,
)
from solr_spark.query.driver_result import empty_result


def maxscore_search(
    index: IndexTables,
    query: str,
    k: int = 10,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    quantize_norms: bool = False,
) -> DataFrame:
    """Top-k under maxscore combination: score = max over the query terms'
    BM25 contributions (all-SHOULD form — MaxScoreQParser's core change;
    must/filter syntax composes via query/parser.py first if needed)."""
    spark = index.postings.sparkSession
    n_docs, avgdl = index.corpus_stats()
    terms = sorted(set(analyze(query, index.analyzer)))
    empty = empty_result(spark, "docid long, score double")
    if not terms or n_docs == 0:
        return empty
    stats = {
        r["term"]: r["df"]
        for r in index.term_stats().where(F.col("term").isin(terms)).collect()
    }
    weights = [(t, idf(n_docs, stats[t])) for t in terms if t in stats]
    if not weights:
        return empty
    wmap = weight_map_col(weights)
    dl_col = F.col("dl_quant") if quantize_norms else F.col("dl")
    scored = (
        index.postings.where(F.col("term").isin([t for t, _ in weights]))
        .join(index.doclens, "docid")
        .select(
            "docid",
            (
                F.element_at(wmap, F.col("term"))
                * tf_saturation("tf", dl_col, k1, b, avgdl)
            ).alias("contrib"),
        )
        .groupBy("docid")
        .agg(F.max("contrib").alias("score"))  # MAX, not SUM: the one change
    )
    return scored.orderBy(F.col("score").desc(), F.col("docid").asc()).limit(k)


def rank_feature_col(
    field: str, function: str = "satu", pivot: float = 1.0
) -> Column:
    """RankField scoring column. ``satu``: f/(f+pivot) (FeatureField
    SaturationFunction); ``log``: ln(pivot + f) (LogFunction, pivot = a)."""
    f = F.col(field).cast("double")
    if function == "satu":
        return f / (f + F.lit(float(pivot)))
    if function == "log":
        return F.log(F.lit(float(pivot)) + f)
    raise ValueError(f"unknown rank function: {function!r}")
