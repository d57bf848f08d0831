"""DisMax: per-term disjunction-max scoring across multiple fields.

Reference semantics (solr/core/src/java/org/apache/solr/search/
DisMaxQParser.java, 296 LoC; SURVEY.md §2.2): each query term becomes a
DisjunctionMaxQuery over the ``qf`` fields — the term's score for a doc is
the MAX of its per-field BM25 scores (each multiplied by the field boost),
plus ``tie`` times the sum of the non-max field scores; the doc's score is
the sum over terms; ``mm`` (min-should-match) requires at least that many
distinct query terms to match in at least one field.

Spark shape: per-field postings union'ed with a field tag → per
(field, term, docid) BM25 contribution (per-field idf/avgdl, as Lucene
computes per-field stats) → groupBy (term, docid) for the max+tie combine →
groupBy docid for the sum + matched-term count. Two shuffles, both keyed by
docid-dominated keys; the weight table is broadcast.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solr_spark.analysis.chain import analyze
from solr_spark.index.build import IndexTables, build_index
from solr_spark.query.bm25 import (
    B_DEFAULT,
    K1_DEFAULT,
    idf,
    tf_saturation,
    weight_map_col,
)
from solr_spark.query.driver_result import empty_result


def build_multi_index(
    corpus: DataFrame,
    fields: dict[str, str],
    id_col: str = "docid",
    analyzer: str = "simple",
) -> dict[str, IndexTables]:
    """One logical index per searchable field. ``fields`` maps field name →
    source column. Each field gets its own postings/doclens/stats, matching
    Lucene's per-field index structures."""
    out = {}
    for fname, col in fields.items():
        out[fname] = build_index(
            corpus, id_col=id_col, text_col=col, analyzer=analyzer,
            stored_cols=(),
        )
    return out


def dismax_score_df(
    indexes: dict[str, IndexTables],
    query: str,
    qf: dict[str, float] | None = None,
    tie: float = 0.0,
    mm: int = 1,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    field_stats: dict[str, dict[str, int]] | None = None,
) -> DataFrame:
    """UNSORTED (docid, score) of every doc matching under DisMax — the
    composable form (edismax layers phrase boosts on top before its own
    top-k, so no global sort happens here).

    ``field_stats`` optionally supplies pre-collected {field: {term: df}}
    maps (filtered to this query's terms) so a caller that already paid the
    per-field stats job (edismax collects them for its phrase boosts) does
    not trigger a second collect per field."""
    fields = list(indexes)
    qf = qf or {f: 1.0 for f in fields}
    some_index = indexes[fields[0]]
    spark = some_index.postings.sparkSession
    analyzer = some_index.analyzer
    terms = sorted(set(analyze(query, analyzer)))
    empty = empty_result(spark, "docid long, score double")
    if not terms:
        return empty

    per_field = []
    for fname in fields:
        ix = indexes[fname]
        n, avgdl = ix.corpus_stats()
        if n == 0:
            continue
        stats = (field_stats or {}).get(fname)
        if stats is None:
            stats = {
                r["term"]: r["df"]
                for r in ix.term_stats()
                .where(F.col("term").isin(terms))
                .collect()
            }
        weights = [
            (t, qf.get(fname, 1.0) * idf(n, stats[t])) for t in terms if t in stats
        ]
        if not weights:
            continue
        wmap = weight_map_col(weights)
        contrib = (
            ix.postings.where(F.col("term").isin([t for t, _ in weights]))
            .join(ix.doclens, "docid")
            .select(
                "term",
                "docid",
                (
                    F.element_at(wmap, F.col("term"))
                    * tf_saturation("tf", "dl", k1, b, avgdl)
                ).alias("fscore"),
            )
        )
        per_field.append(contrib)

    if not per_field:
        return empty
    allf = per_field[0]
    for d in per_field[1:]:
        allf = allf.unionByName(d)

    per_term = allf.groupBy("term", "docid").agg(
        (
            F.max("fscore")
            + F.lit(tie) * (F.sum("fscore") - F.max("fscore"))
        ).alias("tscore")
    )
    scored = per_term.groupBy("docid").agg(
        F.sum("tscore").alias("score"), F.count("*").alias("n_matched")
    )
    if mm > 1:
        scored = scored.where(F.col("n_matched") >= mm)
    return scored.select("docid", "score")


def dismax_search(
    indexes: dict[str, IndexTables],
    query: str,
    qf: dict[str, float] | None = None,
    tie: float = 0.0,
    mm: int = 1,
    k: int = 10,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    boosts: Sequence[DataFrame] = (),
    filter_sets: Sequence[DataFrame] = (),
) -> DataFrame:
    """Top-k (docid, score) under DisMax combination.

    ``boosts`` — the ``bq``/``bf`` params (DisMaxQParser.java
    addBoostQuery/addBoostFunctions): each is a (docid, score) stream whose
    score ADDS to main-query matches (the main DisjunctionMaxQuery is the
    required clause, bq/bf are SHOULD siblings — a doc matching only a
    boost does not enter the result). A bq is any scored query stream; a bf
    is a function column over the docs table projected to (docid, score).
    Left joins against the already-matching set, so each boost costs one
    keyed join of the match set, never a rescan of the corpus."""
    scored = dismax_score_df(indexes, query, qf=qf, tie=tie, mm=mm, k1=k1, b=b)
    for i, bdf in enumerate(boosts):
        bcol = f"_boost{i}"
        # A boost stream may carry several rows per docid (e.g. a union of
        # boost queries); Lucene's SHOULD siblings SUM — pre-aggregate so
        # the left join can't fan out the match set.
        bagg = bdf.groupBy("docid").agg(F.sum("score").alias(bcol))
        scored = (
            scored.join(bagg, "docid", "left")
            .withColumn(
                "score", F.col("score") + F.coalesce(F.col(bcol), F.lit(0.0))
            )
            .drop(bcol)
        )
    # fq restriction (FilterQuery: restricts, never scores) — semi-join each
    # filter's docid set BEFORE the top-k so the limit sees only survivors.
    for fset in filter_sets:
        scored = scored.join(fset.select("docid"), "docid", "left_semi")
    return scored.orderBy(F.col("score").desc(), F.col("docid").asc()).limit(k)
