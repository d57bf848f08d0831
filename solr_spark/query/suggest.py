"""Suggester + terms-dictionary browsing + realtime get.

Reference: suggesters build FST structures from the term dictionary or a
field (solr/core/src/java/org/apache/solr/spelling/suggest/,
handler/component/SuggestComponent.java:68); TermsComponent browses the
dictionary (handler/component/TermsComponent.java:282-293); realtime get is
a point lookup by uniqueKey (handler/component/RealTimeGetComponent.java).

Spark shape: the term dictionary IS a table (term, df, ttf); prefix
suggestion = a pushed-down `startswith` filter + top-k by weight. Realtime
get = a key-equality scan of the docs table (partition/row-group prunable
when the table is laid out by id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solr_spark.index.build import IndexTables


def suggest(
    index: IndexTables, prefix: str, count: int = 10, min_df: int = 1
) -> DataFrame:
    """Top-``count`` dictionary terms with ``prefix``, weighted by df
    (the AnalyzingInfixSuggester's popularity-weight default)."""
    p = prefix.lower()
    return (
        index.term_stats()
        .where(F.col("term").startswith(p) & (F.col("df") >= min_df))
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(count)
        .select("term", "df")
    )


def suggest_infix(
    index: IndexTables, fragment: str, count: int = 10, min_df: int = 1
) -> DataFrame:
    """AnalyzingInfixSuggester semantics (spelling/suggest/fst ..
    AnalyzingInfixSuggesterFactory wiring, SuggestComponent.java:68): match
    the fragment ANYWHERE in the suggestion, weight-ordered, with prefix
    matches ranked ahead of mid-string matches (the infix suggester's
    prefix-boost). A contains() predicate still prunes to the dictionary
    scan — the dictionary is df-sized, not corpus-sized."""
    frag = fragment.lower()
    hits = index.term_stats().where(
        F.col("term").contains(frag) & (F.col("df") >= min_df)
    )
    is_prefix = F.col("term").startswith(frag).cast("int")
    return (
        hits.orderBy(
            is_prefix.desc(), F.col("df").desc(), F.col("term").asc()
        )
        .limit(count)
        .select("term", "df", is_prefix.alias("prefix_match"))
    )


def realtime_get(index: IndexTables, ids: list) -> DataFrame:
    """Point lookup of stored docs by uniqueKey (id IN (...) pushes down)."""
    return index.docs.where(F.col("docid").isin(ids))
