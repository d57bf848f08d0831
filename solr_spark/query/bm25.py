"""BM25 top-k scoring over the logical index — DataFrame-native path.

Implements Lucene's BM25Similarity (public formula; the reference selects it
as the default similarity — solr/core/src/java/org/apache/solr/search/
similarities/SchemaSimilarityFactory.java:39, params k1=1.2 b=0.75
discountOverlaps=true — BM25SimilarityFactory.java:44-51):

    idf(t)     = ln(1 + (N - df + 0.5) / (df + 0.5))
    score(q,d) = Σ_t idf(t) · tf / (tf + k1·(1 − b + b·dl/avgdl))
    avgdl      = sumTotalTermFreq / docCount

``quantize_norms=True`` scores with the SmallFloat-quantized dl (Lucene
parity; SURVEY.md §1.5); ``False`` uses the exact token count (the mode the
pure-SQL DuckDB oracle reproduces).

Plan shape (what Catalyst produces, verified via .explain):
  1. postings filtered to the query terms — a pushed-down IN filter on the
     term column (partition-prunable when postings are bucketed by term);
  2. per-term idf weights (computed driver-side from term_stats — one small
     aggregate) applied as a MAP LITERAL lookup in the projection, not a
     broadcast-joined single-use DataFrame: a query's weight table is
     dictionary-sized, so joining it buys nothing and costs a
     createDataFrame (~hundreds of py4j round-trips), a BroadcastExchange,
     and a join in every query plan (weight_map_col below);
  3. join doclens on docid (broadcast the *filtered postings* side is wrong
     at scale, so this is a shuffle join on docid — but AQE demotes it to
     broadcast when the candidate set is small);
  4. partial+final hash aggregate on docid (map-side combine);
  5. TakeOrderedAndProject for ORDER BY score DESC, docid ASC LIMIT k —
     Spark's built-in two-phase top-k, the exact analogue of Solr's
     distributed PURPOSE_GET_TOP_IDS merge (QueryComponent.java:833-1040).

Tie-break: (score desc, docid asc) — mirrors Lucene's TopScoreDocCollector
internal-docID tie-break (SolrIndexSearcher.java:1508-1525) and makes the
result deterministic across parallelism levels.
"""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solr_spark.index.build import IndexTables
from solr_spark.query.driver_result import empty_result

K1_DEFAULT = 1.2
B_DEFAULT = 0.75


def idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def idf_col(n_docs: int, df_col) -> "F.Column":
    """The same BM25 idf as a Column over a df column (for paths that keep
    term stats distributed instead of collecting them)."""
    df_col = F.col(df_col) if isinstance(df_col, str) else df_col
    return F.log(
        F.lit(1.0) + (F.lit(float(n_docs)) - df_col + F.lit(0.5)) / (df_col + F.lit(0.5))
    )


def tf_saturation(tf_col, dl_col, k1: float, b: float, avgdl: float):
    """The BM25 tf-saturation factor tf / (tf + k1·(1−b+b·dl/avgdl)) as a
    Column — the ONE shared definition every scoring path (term, phrase,
    dismax, maxscore) multiplies its idf weight by, so a k1/b or
    quantization change can never diverge between paths."""
    tf_col = F.col(tf_col) if isinstance(tf_col, str) else tf_col
    dl_col = F.col(dl_col) if isinstance(dl_col, str) else dl_col
    return tf_col / (
        tf_col + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl_col / F.lit(avgdl))
    )


def weight_map_col(weights: list[tuple[str, float]]) -> "F.Column":
    """A tiny term→weight lookup as ONE map literal.

    The query-compile analogue of the cached-Column rule (SURVEY §11c):
    a per-query weights table is dictionary-sized, and shipping it as a
    broadcast-joined createDataFrame costs ~hundreds of py4j round-trips
    to build plus a BroadcastExchange + join in the plan. A map literal
    is one parse call and a plain projection. ``repr`` emits the shortest
    exactly-round-tripping decimal and ``D`` pins DoubleType, so the
    looked-up weights are bit-identical to the joined form (same rule as
    ann._lit_vec, equality-tested there). Terms that could break a SQL
    string literal (quotes, backslashes, control chars) and non-finite
    weights fall back to the per-element form. Keys must be unique —
    every caller folds duplicate query terms into the weight driver-side
    (fold_term_weights) or draws from a set.
    """
    vs = [float(w) for _, w in weights]
    safe = all(
        "'" not in t and "\\" not in t and all(ch >= " " for ch in t)
        for t, _ in weights
    ) and all(math.isfinite(v) for v in vs)
    if weights and safe:
        parts = ",".join(
            f"'{t}',{v!r}D" for (t, _), v in zip(weights, vs)
        )
        return F.expr(f"map({parts})")
    args: list = []
    for (t, _), v in zip(weights, vs):
        args.append(F.lit(t))
        args.append(F.lit(v))
    return F.create_map(*args)


def fold_term_weights(
    terms: list[str],
    dfs: dict[str, int],
    n_docs: int,
    boost: float = 1.0,
) -> list[tuple[str, float]]:
    """Per-term weights idf × query-tf × boost, sorted by term; terms absent
    from ``dfs`` are dropped.

    Duplicate query terms are separate clauses in Lucene, i.e. the term's
    contribution is added once per occurrence — folded into the weight.
    """
    return [
        (t, boost * c * idf(n_docs, dfs[t]))
        for t, c in sorted(Counter(terms).items())
        if t in dfs
    ]


def query_weights(
    index: IndexTables,
    terms: list[str],
    n_docs: int,
    boost: float = 1.0,
) -> list[tuple[str, float]]:
    """Driver-side per-term weights of the logical index (fold_term_weights
    over its term stats)."""
    if not terms:
        return []
    dfs = {
        r["term"]: r["df"]
        for r in index.term_stats()
        .where(F.col("term").isin(sorted(set(terms))))
        .collect()
    }
    return fold_term_weights(terms, dfs, n_docs, boost)


def bm25_score_df(
    index: IndexTables,
    terms: list[str],
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    quantize_norms: bool = True,
    min_should_match: int = 1,
) -> DataFrame:
    """(docid, score) for every doc matching >= min_should_match terms."""
    spark = index.postings.sparkSession
    n_docs, avgdl = index.corpus_stats()
    weights = query_weights(index, terms, n_docs)
    if not weights or n_docs == 0:
        return empty_result(spark, "docid string, score double")

    wmap = weight_map_col(weights)
    dl_col = F.col("dl_quant") if quantize_norms else F.col("dl")
    matched = (
        index.postings.where(F.col("term").isin([t for t, _ in weights]))
        .join(index.doclens, "docid")
        .withColumn(
            "contrib",
            F.element_at(wmap, F.col("term"))
            * tf_saturation("tf", dl_col, k1, b, avgdl),
        )
    )
    scored = matched.groupBy("docid").agg(
        F.sum("contrib").alias("score"), F.count("*").alias("n_matched")
    )
    if min_should_match > 1:
        scored = scored.where(F.col("n_matched") >= min_should_match)
    return scored.select("docid", "score")


def bm25_topk(
    index: IndexTables,
    query: str | list[str],
    k: int = 10,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    quantize_norms: bool = True,
) -> DataFrame:
    """Top-k (docid, score), deterministic (score desc, docid asc)."""
    from solr_spark.analysis.chain import analyze

    terms = analyze(query, index.analyzer) if isinstance(query, str) else query
    scored = bm25_score_df(index, terms, k1=k1, b=b, quantize_norms=quantize_norms)
    return scored.orderBy(F.col("score").desc(), F.col("docid").asc()).limit(k)


def explain_score(
    index: IndexTables,
    terms: list[str],
    docids: list[str] | None = None,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    quantize_norms: bool = True,
) -> DataFrame:
    """The `[explain]` doc transformer / debug=results score breakdown
    (response/transform/ExplainAugmenterFactory.java; Lucene
    BM25Similarity.explain): one row per (doc, matched term) with the tf,
    df, idf weight and the term's score contribution — the same numbers
    the reference prints as a nested Explanation tree, in columnar form.

    Same single postings scan as bm25_score_df (term IN filter pushed
    down, broadcast weights); restricting ``docids`` prunes further.
    """
    spark = index.postings.sparkSession
    n_docs, avgdl = index.corpus_stats()
    weights = query_weights(index, terms, n_docs)
    if not weights or n_docs == 0:
        return empty_result(
            spark, "docid string, term string, tf long, df long, "
            "idf double, contrib double"
        )
    wmap = weight_map_col(weights)
    stats = F.broadcast(index.term_stats().select("term", "df"))
    dl_col = F.col("dl_quant") if quantize_norms else F.col("dl")
    rows = index.postings.where(
        F.col("term").isin([t for t, _ in weights])
    )
    if docids is not None:
        rows = rows.where(F.col("docid").isin(docids))
    w = F.element_at(wmap, F.col("term"))
    return (
        rows.join(stats, "term")
        .join(index.doclens, "docid")
        .select(
            "docid", "term", "tf", "df",
            w.alias("idf"),
            (w * tf_saturation("tf", dl_col, k1, b, avgdl)).alias("contrib"),
        )
    )
