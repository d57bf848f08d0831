"""The thin QParserPlugin registry tail: `{!field}`, `{!raw}`, `{!query}`,
`{!filters}`.

These four close out Solr's standard parser registry
(core/src/java/org/apache/solr/search/QParserPlugin.java:48-91 — the other
37 live in their own modules). Each is a few lines of composition in the
reference too; they are kept together so the registry mapping is auditable
in one place.

- `{!field f=F}phrase here` (FieldQParserPlugin.java): analyze the value
  with F's analyzer; one token -> TermQuery, several -> PhraseQuery. On a
  string column that degenerates to equality (StrField analyzes to the raw
  value).
- `{!raw f=F v=val}` (RawQParserPlugin.java): TermQuery on the RAW bytes,
  no analysis — the debugging parser. Equality on the stored column, case
  and all.
- `{!query v=$q1}` (NestedQParserPlugin.java): parameter indirection — the
  resolved string feeds the default grammar. Here: `nested_query` simply
  delegates to `parser.search`, the point being that the indirection layer
  adds NO execution machinery of its own.
- `{!filters param=$fqs excludeTags=t}` (FiltersQParserPlugin.java):
  conjunction of tagged filter queries minus the excluded tags; matches
  score 0 (it builds filter clauses only). The same tag/exclude model the
  JSON facet domain uses (`operators/facets.py _apply_domain`).

Scale shape: all four are either single-column pushable predicates (field/
raw/filters — Catalyst pushes them into the scan; `.explain` shows
PushedFilters) or pure delegation (query). None adds a shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from solr_spark.analysis.chain import analyze
from solr_spark.index.build import IndexTables
from solr_spark.query.driver_result import empty_result
from solr_spark.query.parser import search


def field_query(
    index: IndexTables, value: str, analyzer: str = "simple", k: int = 10
) -> DataFrame:
    """`{!field}` on the indexed text field: analyzed value -> term query
    (one token) or exact adjacent phrase (several), BM25-scored."""
    toks = analyze(value, analyzer)
    if not toks:
        spark = index.postings.sparkSession
        return empty_result(spark, "docid long, score double")
    if len(toks) == 1:
        return search(index, toks[0], k=k)
    quoted = '"' + " ".join(toks) + '"'
    return search(index, quoted, k=k)


def field_eq(df: DataFrame, field: str, value: str) -> Column:
    """`{!field}` on a string column: StrField keeps the raw value as its
    one token, so the query is plain equality."""
    return df[field] == F.lit(value)


def raw_eq(df: DataFrame, field: str, value: str) -> Column:
    """`{!raw}`: no analysis at all — byte equality on the stored value."""
    return df[field] == F.lit(value)


def nested_query(index: IndexTables, resolved: str, k: int = 10) -> DataFrame:
    """`{!query v=$param}` after parameter resolution: pure delegation."""
    return search(index, resolved, k=k)


def filters_query(
    df: DataFrame,
    tagged: dict[str, Column],
    exclude_tags: tuple[str, ...] = (),
) -> DataFrame:
    """`{!filters}`: AND of every tagged filter not excluded. Returns the
    matching rows (score 0 by definition — filter clauses only); predicates
    stay conjunctive column expressions so Catalyst pushes them into the
    scan as one PushedFilters set.
    """
    cond = F.lit(True)
    for tag, pred in tagged.items():
        if tag not in exclude_tags:
            cond = cond & pred
    return df.where(cond)
