"""The driver-facing query catalog: Spark implementation + DuckDB oracle SQL.

Each entry exercises one operator family from SURVEY.md §2 over the driver's
parquet tables (documents/embeddings for full-text + vector ops; the TPC-H-ish
tables for relational stream ops). The DuckDB SQL reproduces the semantics
exactly — including tokenization, which is why the full-text entries run the
``simple`` analyzer (lowercase + split on ``[^a-z0-9]+``): it is expressible
as ``regexp_split_to_array`` in SQL, so BM25 becomes end-to-end
oracle-checkable. The Lucene-parity ``text_en`` chain is exercised by the
pytest golden/property suites instead (tests/oracle/bm25_oracle.py).

Float discipline: floating-point outputs are emitted as SCALED INTEGERS
(``floor(x * 10^k + 0.5)`` in both engines) so the driver's value-hash cannot
be broken by last-bit double representation differences; sorts that feed a
LIMIT order by the scaled value with a unique-key tiebreak, so partial-sum
reordering across engines/parallelism cannot flip which rows are returned.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from solr_spark.analysis.chain import analyze
from solr_spark.index.build import IndexTables, build_index
from solr_spark.operators.collapse import collapse, expand, group_top_n
from solr_spark.operators.cursor import cursor_page, next_totem
from solr_spark.operators.facets import (
    field_stats,
    query_facet,
    range_facet,
    terms_facet,
)
from solr_spark.operators.streams import (
    complement_stream,
    fetch_stream,
    hash_join_stream,
    inner_join_stream,
    intersect_stream,
    merge_stream,
    rollup_stream,
    timeseries_stream,
    top_stream,
    unique_stream,
)
from solr_spark.query.bm25 import B_DEFAULT, K1_DEFAULT

# ---------------------------------------------------------------------------
# Table + index plumbing (memoized per sf_dir)
# ---------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def scaled(col: Column | str, k: int = 4) -> Column:
    """floor(x·10^k + 0.5) as BIGINT — engine-portable fixed-point."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * F.lit(float(10**k)) + F.lit(0.5)).cast("long")


def _sql_scaled(expr: str, k: int = 4) -> str:
    return f"CAST(floor(({expr}) * {float(10 ** k)} + 0.5) AS BIGINT)"


_IDX_CACHE: dict[tuple[int, str], tuple[IndexTables, int, float]] = {}


def documents_index(spark: SparkSession, sf_dir: str) -> tuple[IndexTables, int, float]:
    """Logical index over the documents table (simple analyzer), memoized.

    Returns (index, N, avgdl). postings/doclens are persisted so the many
    catalog entries sharing the index don't re-run the analysis UDF.
    """
    key = (id(spark), sf_dir)
    if key not in _IDX_CACHE:
        docs = _t(spark, sf_dir, "documents")
        idx = build_index(
            docs, id_col="doc_id", text_col="text", analyzer="simple", cache=True
        )
        idx.postings = idx.postings.persist()
        idx.doclens = idx.doclens.persist()
        n, avgdl = idx.corpus_stats()
        idx.term_stats()  # persist global stats with the index (finalize)
        _IDX_CACHE[key] = (idx, n, avgdl)
    return _IDX_CACHE[key]


# ---------------------------------------------------------------------------
# Shared oracle-SQL fragments (DuckDB dialect)
# ---------------------------------------------------------------------------

# simple analyzer: lowercase + split on non-[a-z0-9]; empties dropped.
TOKS = (
    "toks AS (SELECT doc_id, unnest(list_filter("
    "regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS term "
    "FROM documents)"
)
TF = "tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term)"
DL = "dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id)"
NDOCS = "(SELECT count(*) FROM documents)"
AVGDL = f"(SELECT sum(dl) * 1.0 / {NDOCS} FROM dl)"

# cosine similarity between a list column and the vec_id=0 query vector
_COS = (
    "list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) / "
    "(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * "
    "sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])))"
)


def bm25_sql(terms: list[str], k: int = 10) -> str:
    """Oracle BM25 (exact dl, k1=1.2 b=0.75) over documents for ``terms``."""
    tlist = ", ".join(f"('{t}')" for t in sorted(set(terms)))
    return f"""
WITH {TOKS}, {TF}, {DL},
qt(term) AS (VALUES {tlist}),
dfs AS (SELECT term, count(*) AS df FROM tf
        WHERE term IN (SELECT term FROM qt) GROUP BY term),
w AS (SELECT term, ln(1 + ({NDOCS} - df + 0.5) / (df + 0.5)) AS w FROM dfs),
scored AS (
  SELECT tf.doc_id,
         sum(w.w * tf.tf / (tf.tf + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dl.dl / {AVGDL}))) AS s
  FROM tf JOIN w USING (term) JOIN dl USING (doc_id)
  GROUP BY tf.doc_id)
SELECT doc_id, {_sql_scaled('s')} AS score_x10k FROM scored
ORDER BY score_x10k DESC, doc_id ASC LIMIT {k}
"""


def _bm25_spark(spark: SparkSession, sf_dir: str, query: str, k: int = 10) -> DataFrame:
    """DataFrame BM25 top-k over documents, fixed-point to match the oracle."""
    from solr_spark.query.bm25 import bm25_score_df

    idx, _, _ = documents_index(spark, sf_dir)
    terms = sorted(set(analyze(query, "simple")))
    scored = bm25_score_df(idx, terms, quantize_norms=False)
    return (
        scored.select(
            F.col("docid").alias("doc_id"), scaled("score").alias("score_x10k")
        )
        .orderBy(F.col("score_x10k").desc(), F.col("doc_id").asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Catalog
# ---------------------------------------------------------------------------


@dataclass
class Entry:
    fn: Callable[[SparkSession, str], DataFrame]
    sql: Optional[str]  # None => driver records a rows-only check


CATALOG: dict[str, Entry] = {}


def register(name: str, sql: Optional[str]):
    def deco(fn):
        if name in CATALOG:  # a duplicate would silently shadow its twin
            raise ValueError(f"duplicate catalog entry {name!r}")
        CATALOG[name] = Entry(fn=fn, sql=sql)
        return fn

    return deco


# --- full-text / BM25 (SURVEY §1.5, §2.6) ----------------------------------


def _mk_bm25(qs: str):
    def _fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _bm25_spark(spark, sf_dir, qs)

    return _fn


for _qname, _qstr in [
    ("bm25_top10", "spark join data"),
    ("bm25_top10_window", "window batch order"),
    ("bm25_hot_term", "table"),
    ("bm25_rare_mix", "customer query fast"),
]:
    CATALOG[_qname] = Entry(
        fn=_mk_bm25(_qstr), sql=bm25_sql(sorted(set(analyze(_qstr, "simple"))))
    )


@register(
    "term_filter_lang_counts",
    f"""
WITH {TOKS}
SELECT lang, count(DISTINCT doc_id) AS n_docs
FROM documents JOIN toks USING (doc_id)
WHERE term = 'spark'
GROUP BY lang ORDER BY lang
""",
)
def term_filter_lang_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`{!term f=text}spark` as a filter + facet on lang (TermQParserPlugin)."""
    idx, _, _ = documents_index(spark, sf_dir)
    matching = idx.postings.where(F.col("term") == "spark").select(
        F.col("docid").alias("doc_id")
    )
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.join(matching, "doc_id", "left_semi")
        .groupBy("lang")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .orderBy("lang")
    )


# --- facets (SURVEY §2.4) ---------------------------------------------------


@register(
    "facet_terms_lang",
    """
SELECT lang AS value, count(*) AS count FROM documents
GROUP BY lang ORDER BY count DESC, value ASC LIMIT 10
""",
)
def facet_terms_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    return terms_facet(_t(spark, sf_dir, "documents"), "lang", limit=10)


@register(
    "facet_terms_source_matching",
    f"""
WITH {TOKS},
hits AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'data')
SELECT source AS value, count(*) AS count
FROM documents JOIN hits USING (doc_id)
GROUP BY source HAVING count(*) >= 2
ORDER BY count DESC, value ASC LIMIT 10
""",
)
def facet_terms_source_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Facet over a query's result set (q=data + facet.field=source)."""
    idx, _, _ = documents_index(spark, sf_dir)
    hits = idx.postings.where(F.col("term") == "data").select(
        F.col("docid").alias("doc_id")
    )
    docs = _t(spark, sf_dir, "documents").join(hits, "doc_id", "left_semi")
    return terms_facet(docs, "source", limit=10, mincount=2)


@register(
    "facet_range_nchars",
    """
SELECT CAST(floor(n_chars / 100.0) * 100 AS BIGINT) AS bucket, count(*) AS count
FROM documents WHERE n_chars >= 0 AND n_chars < 1000
GROUP BY bucket ORDER BY bucket
""",
)
def facet_range_nchars(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = range_facet(
        _t(spark, sf_dir, "documents"), "n_chars", start=0, end=1000, gap=100
    )
    return out.select(F.col("bucket").cast("long").alias("bucket"), "count")


@register(
    "facet_range_other",
    """
WITH b AS (
  SELECT CAST(floor((o_totalprice - 50000) / 100000.0) * 100000 + 50000 AS DOUBLE)::VARCHAR AS bucket,
         count(*) AS count
  FROM orders WHERE o_totalprice >= 50000 AND o_totalprice < 450000
  GROUP BY 1
), o AS (
  SELECT 'before' AS bucket, count(*) FILTER (WHERE o_totalprice < 50000) AS count FROM orders
  UNION ALL
  SELECT 'after', count(*) FILTER (WHERE o_totalprice >= 450000) FROM orders
  UNION ALL
  SELECT 'between', count(*) FILTER (WHERE o_totalprice >= 50000 AND o_totalprice < 450000) FROM orders
)
SELECT * FROM (SELECT * FROM b UNION ALL SELECT * FROM o) ORDER BY bucket
""",
)
def facet_range_other_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """facet.range.other=all (facet/FacetRange.java FacetRangeOther):
    the numeric [lo,hi) buckets plus the before / after / between sibling
    counts, all from one scan (two map-side-partial aggregates)."""
    from solr_spark.operators.facets import range_facet_other

    return range_facet_other(
        _t(spark, sf_dir, "orders"), "o_totalprice",
        start=50000, end=450000, gap=100000,
    )


@register(
    "facet_intervals_nchars",
    """
SELECT '[*,100)' AS interval, count(*) FILTER (WHERE n_chars < 100) AS count FROM documents
UNION ALL
SELECT '[100,300)', count(*) FILTER (WHERE n_chars >= 100 AND n_chars < 300) FROM documents
UNION ALL
SELECT '[200,400]', count(*) FILTER (WHERE n_chars >= 200 AND n_chars <= 400) FROM documents
UNION ALL
SELECT '(400,*)', count(*) FILTER (WHERE n_chars > 400) FROM documents
""",
)
def facet_intervals_nchars_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """facet.interval (request/IntervalFacets.java): arbitrary bound sets
    with [/( inclusivity and * unbounded ends; intervals may OVERLAP
    (here [100,300) and [200,400] both count the 200-299 docs) — one
    conditional-aggregation pass, unlike range facets' disjoint grid."""
    from solr_spark.operators.facets import interval_facet

    return interval_facet(
        _t(spark, sf_dir, "documents"), "n_chars",
        ["[*,100)", "[100,300)", "[200,400]", "(400,*)"],
    )


@register(
    "facet_query_buckets",
    """
SELECT sum(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END)::BIGINT AS short,
       sum(CASE WHEN n_chars >= 200 AND n_chars < 400 THEN 1 ELSE 0 END)::BIGINT AS mid,
       sum(CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END)::BIGINT AS long
FROM documents
""",
)
def facet_query_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return query_facet(
        d,
        {
            "short": F.col("n_chars") < 200,
            "mid": (F.col("n_chars") >= 200) & (F.col("n_chars") < 400),
            "long": F.col("n_chars") >= 400,
        },
    )


@register(
    "facet_nested_stats",
    """
SELECT lang, count(*) AS count, sum(n_chars)::BIGINT AS sum_chars,
       CAST(floor(avg(n_chars) * 10000.0 + 0.5) AS BIGINT) AS avg_chars_x10k,
       count(DISTINCT source) AS uniq_src
FROM documents GROUP BY lang
ORDER BY sum_chars DESC, lang ASC LIMIT 3
""",
)
def facet_nested_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON Facet API: terms buckets carrying stat sub-aggs and SORTED BY a
    stat (sort:"sum_chars desc") — facet/FacetField.java + SlotAcc.java."""
    from solr_spark.operators.facets import json_facet

    docs = _t(spark, sf_dir, "documents")
    res = json_facet(
        docs,
        {
            "type": "terms", "field": "lang", "limit": 3,
            "sort": "sum_chars desc",
            "facet": {
                "sum_chars": "sum(n_chars)",
                "avg_chars": "avg(n_chars)",
                "uniq_src": "unique(source)",
            },
        },
    )
    return res["buckets"].select(
        "lang", "count", F.col("sum_chars").cast("long").alias("sum_chars"),
        scaled("avg_chars").alias("avg_chars_x10k"), "uniq_src",
    )


@register(
    "facet_subfacet_top_sources",
    """
WITH top_langs AS (
  SELECT lang FROM documents GROUP BY lang
  ORDER BY sum(n_chars) DESC, lang ASC LIMIT 3),
src AS (
  SELECT lang, source, count(*) AS count
  FROM documents JOIN top_langs USING (lang) GROUP BY lang, source),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY count DESC, source ASC) AS rn
  FROM src)
SELECT lang, source, count FROM ranked WHERE rn <= 2
ORDER BY lang ASC, count DESC, source ASC
""",
)
def facet_subfacet_top_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested JSON facet: top-2 sources (by count) WITHIN each of the top-3
    langs (by sum(n_chars)) — per-bucket sub-facet with its own sort+limit
    (FacetField sub-facets; the per-parent top-N is a window, not N jobs)."""
    from solr_spark.operators.facets import json_facet

    docs = _t(spark, sf_dir, "documents")
    res = json_facet(
        docs,
        {
            "type": "terms", "field": "lang", "limit": 3,
            "sort": "sum_chars desc",
            "facet": {
                "sum_chars": "sum(n_chars)",
                "srcs": {"type": "terms", "field": "source", "limit": 2,
                         "sort": "count desc"},
            },
        },
    )
    return res["srcs"].select("lang", "source", "count")


@register(
    "facet_allbuckets_missing",
    """
WITH d AS (SELECT NULLIF(source, 'src0') AS source, n_chars
           FROM documents WHERE lang = 'en')
SELECT
  (SELECT count(*) FROM d WHERE source IS NOT NULL) AS all_count,
  (SELECT CAST(sum(n_chars) AS BIGINT) FROM d WHERE source IS NOT NULL) AS all_sum_nchars,
  (SELECT count(DISTINCT source) FROM d) AS num_buckets,
  (SELECT count(*) FROM d WHERE source IS NULL) AS missing_count
""",
)
def facet_allbuckets_missing_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON facet sibling buckets (FacetField.java): ``allBuckets`` (union
    of every bucket, past any limit — null-field docs belong to NO bucket,
    so they are excluded), ``numBuckets`` (exact distinct value count
    pre-limit), ``missing`` (null-field bucket), on a
    ``domain: {filter: lang:en}``-restricted domain. The testdata has no
    null sources, so 'src0' is deterministically nulled (NULLIF in both
    engines) to exercise the missing bucket for real."""
    from solr_spark.operators.facets import json_facet

    docs = _t(spark, sf_dir, "documents").withColumn(
        "source", F.nullif(F.col("source"), F.lit("src0"))
    )
    res = json_facet(
        docs,
        {
            "type": "terms", "field": "source",
            "domain": {"filter": "lang:en"},
            "allBuckets": True, "numBuckets": True, "missing": True,
            "facet": {"sum_nchars": "sum(n_chars)"},
        },
    )
    ab = res["allBuckets"].select(
        F.col("count").alias("all_count"),
        F.col("sum_nchars").cast("long").alias("all_sum_nchars"),
    )
    nb = res["numBuckets"].select(F.col("numBuckets").alias("num_buckets"))
    mi = res["missing"].select(F.col("count").alias("missing_count"))
    return ab.crossJoin(nb).crossJoin(mi)


@register(
    "facet_stats_extended",
    f"""
SELECT lang,
       {_sql_scaled('stddev_samp(n_chars)', 2)} AS stddev_x100,
       {_sql_scaled('var_samp(n_chars)', 2)} AS var_x100,
       CAST(sum(CAST(n_chars AS DOUBLE) * n_chars) AS BIGINT) AS sumsq,
       count(n_chars) AS countvals,
       count(*) - count(n_chars) AS missing
FROM documents GROUP BY lang ORDER BY lang
""",
)
def facet_stats_extended_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON facet agg long tail (facet/SlotAcc.java registry): stddev /
    variance (sample n-1 forms, Solr StddevAgg/VarianceAgg), sumsq,
    countvals, missing — all riding ONE groupBy with the count."""
    from solr_spark.operators.facets import json_facet

    docs = _t(spark, sf_dir, "documents")
    res = json_facet(
        docs,
        {
            "type": "terms", "field": "lang", "limit": 100,
            "sort": "index asc",
            "facet": {
                "sd": "stddev(n_chars)", "vr": "variance(n_chars)",
                "sq": "sumsq(n_chars)", "cv": "countvals(n_chars)",
                "ms": "missing(n_chars)",
            },
        },
    )
    return res["buckets"].select(
        "lang",
        scaled("sd", 2).alias("stddev_x100"),
        scaled("vr", 2).alias("var_x100"),
        F.col("sq").cast("long").alias("sumsq"),
        F.col("cv").alias("countvals"),
        F.col("ms").alias("missing"),
    ).orderBy("lang")


@register(
    "facet_prefix_sources",
    """
SELECT source, count(*) AS count, CAST(sum(n_chars) AS BIGINT) AS sum_nchars
FROM documents GROUP BY source
HAVING source LIKE 'src1%'
ORDER BY source ASC LIMIT 20
""",
)
def facet_prefix_sources_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terms facet with the ``prefix`` option (FacetField.java prefix):
    buckets restricted to values starting 'src1', index order, with a stat
    sub-agg riding the same single groupBy."""
    from solr_spark.operators.facets import json_facet

    docs = _t(spark, sf_dir, "documents")
    res = json_facet(
        docs,
        {
            "type": "terms", "field": "source", "prefix": "src1",
            "limit": 20, "sort": "index asc",
            "facet": {"sum_nchars": "sum(n_chars)"},
        },
    )
    return res["buckets"].select(
        "source", "count", F.col("sum_nchars").cast("long").alias("sum_nchars")
    )


@register(
    "wordbreak_split_suggestions",
    f"""
WITH {TOKS}, {TF},
dict AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
splits AS (
  SELECT substring('sparkjoin', 1, i) AS lft, substring('sparkjoin', i + 1) AS rgt
  FROM generate_series(1, 8) t(i))
SELECT lft, rgt, dl.df AS df_left, dr.df AS df_right
FROM splits
JOIN dict dl ON dl.term = lft
JOIN dict dr ON dr.term = rgt
ORDER BY least(dl.df, dr.df) DESC, lft ASC LIMIT 5
""",
)
def wordbreak_split_suggestions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordBreak BREAK_WORDS (spelling/WordBreakSolrSpellChecker.java):
    'sparkjoin' -> dictionary splits ranked by the rarer half's df."""
    from solr_spark.query.spellcheck import wordbreak_split

    idx, _, _ = documents_index(spark, sf_dir)
    return wordbreak_split(idx, "sparkjoin", count=5).select(
        F.col("left").alias("lft"), F.col("right").alias("rgt"),
        "df_left", "df_right",
    )


@register(
    "highlight_multi_best",
    """
WITH frag AS (
  SELECT doc_id,
         unnest(generate_series(0, CAST(ceil(length(text) / 80.0) AS BIGINT) - 1)) AS idx,
         text
  FROM documents),
scored AS (
  SELECT doc_id, idx,
         len(regexp_extract_all(f, '\\bspark\\b'))::INT AS c1,
         len(regexp_extract_all(f, '\\bjoin\\b'))::INT AS c2
  FROM (SELECT doc_id, idx, lower(substring(text, CAST(idx * 80 + 1 AS INT), 80)) AS f
        FROM frag)),
ranked AS (
  SELECT doc_id, idx,
         (CASE WHEN c1 > 0 THEN 1 ELSE 0 END + CASE WHEN c2 > 0 THEN 1 ELSE 0 END) AS n_terms,
         (c1 + c2) AS n_hits,
         row_number() OVER (
           PARTITION BY doc_id
           ORDER BY (CASE WHEN c1 > 0 THEN 1 ELSE 0 END + CASE WHEN c2 > 0 THEN 1 ELSE 0 END) DESC,
                    (c1 + c2) DESC, idx ASC) AS rn
  FROM scored)
SELECT doc_id, idx AS frag_idx, n_terms, n_hits
FROM ranked WHERE rn = 1 AND n_terms > 0
ORDER BY doc_id LIMIT 20
""",
)
def highlight_multi_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-fragment highlighting with fragment scoring
    (highlight/DefaultSolrHighlighter.java ranking): best fragment per doc
    for query terms spark+join (window split + per-fragment term counts +
    comparator sort, all JVM array expressions)."""
    from solr_spark.query.highlight import highlight_fragments

    docs = _t(spark, sf_dir, "documents")
    hf = highlight_fragments(
        docs, "text", ["spark", "join"], frag_size=80, max_fragments=1
    )
    return (
        hf.where(F.size("_frag_meta") > 0)
        .select(
            "doc_id",
            F.col("_frag_meta")[0]["idx"].cast("long").alias("frag_idx"),
            F.col("_frag_meta")[0]["n_terms"].alias("n_terms"),
            F.col("_frag_meta")[0]["n_hits"].alias("n_hits"),
        )
        .orderBy("doc_id")
        .limit(20)
    )


_SIG = "(({z}) + {o}) / ({s} + abs(({z}) + {o}))"


@register(
    "relatedness_langs",
    f"""
WITH {TOKS},
fg AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'spark'),
sizes AS (SELECT (SELECT count(*) FROM documents) AS bg_size,
                 (SELECT count(*) FROM fg) AS fg_size),
counts AS (
  SELECT lang AS value, count(*) AS bg_count,
         sum(CASE WHEN doc_id IN (SELECT doc_id FROM fg) THEN 1 ELSE 0 END)::BIGINT AS fg_count
  FROM documents GROUP BY lang),
z AS (
  SELECT value, fg_count, bg_count,
         (fg_count - fg_size * (bg_count * 1.0 / bg_size)) /
         (CASE WHEN sqrt(fg_size * (bg_count * 1.0 / bg_size) * (1 - bg_count * 1.0 / bg_size)) = 0
               THEN 1e-10
               ELSE sqrt(fg_size * (bg_count * 1.0 / bg_size) * (1 - bg_count * 1.0 / bg_size)) END) AS zz,
         fg_size, bg_size
  FROM counts CROSS JOIN sizes WHERE fg_count >= 1)
SELECT value, fg_count, bg_count,
       round(0.2 * ({_SIG.format(z='zz', o=-80, s=50)} + {_SIG.format(z='zz', o=-30, s=30)}
        + {_SIG.format(z='zz', o=0, s=30)} + {_SIG.format(z='zz', o=30, s=30)}
        + {_SIG.format(z='zz', o=80, s=50)}) * 1e5) / 1e5 AS relatedness,
       round(fg_count * 1e5 / bg_size) / 1e5 AS foreground_popularity,
       round(bg_count * 1e5 / bg_size) / 1e5 AS background_popularity
FROM z
ORDER BY relatedness DESC, value ASC LIMIT 10
""",
)
def relatedness_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`relatedness()` SKG agg (facet/RelatednessAgg.java:696-725): lang
    buckets scored by foreground ('spark' docs) vs background concentration
    — exact reference math (z-score + 5-sigmoid blend, 5-digit rounding)."""
    from solr_spark.operators.facets import relatedness_facet

    idx, _, _ = documents_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    fg_ids = idx.postings.where(F.col("term") == "spark").select(
        F.col("docid").alias("doc_id")
    ).distinct()
    tagged = docs.join(
        fg_ids.withColumn("_fg", F.lit(1)), "doc_id", "left"
    ).withColumn("_fg", F.coalesce(F.col("_fg"), F.lit(0)))
    return relatedness_facet(tagged, "lang", F.col("_fg") == 1, limit=10)


@register(
    "unique_block_flags",
    """
SELECT l_returnflag AS flag, count(DISTINCT l_orderkey) AS unique_block
FROM lineitem GROUP BY l_returnflag ORDER BY flag
""",
)
def unique_block_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`uniqueBlock(_root_)` (facet/UniqueBlockAgg.java): distinct parent
    orders per child-bucket of lineitem."""
    from solr_spark.operators.facets import unique_block_agg

    li = _t(spark, sf_dir, "lineitem").withColumnRenamed("l_returnflag", "flag")
    return unique_block_agg(li, "l_orderkey", by="flag")


@register(
    "igain_terms_en",
    f"""
WITH {TOKS}, {TF},
lab AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label FROM documents),
sizes AS (SELECT count(*) AS n, sum(label) AS pos FROM lab),
per AS (
  SELECT term, count(*) AS df, sum(label)::BIGINT AS xc
  FROM (SELECT DISTINCT term, doc_id FROM tf) JOIN lab USING (doc_id)
  GROUP BY term HAVING count(*) >= 5),
ent AS (
  SELECT term, df,
         (SELECT CASE WHEN pos = 0 OR pos = n THEN 0.0
                 ELSE -(pos*1.0/n)*ln(pos*1.0/n) - (1-pos*1.0/n)*ln(1-pos*1.0/n) END FROM sizes)
         - (df * 1.0 / (SELECT n FROM sizes)) *
           (CASE WHEN xc = 0 OR xc = df THEN 0.0
                 ELSE -(xc*1.0/df)*ln(xc*1.0/df) - (1-xc*1.0/df)*ln(1-xc*1.0/df) END)
         - (1 - df * 1.0 / (SELECT n FROM sizes)) *
           (CASE WHEN ((SELECT pos FROM sizes) - xc) <= 0
                      OR ((SELECT pos FROM sizes) - xc) >= ((SELECT n FROM sizes) - df + 1) THEN 0.0
                 ELSE -((((SELECT pos FROM sizes) - xc) * 1.0) / ((SELECT n FROM sizes) - df + 1))
                       * ln((((SELECT pos FROM sizes) - xc) * 1.0) / ((SELECT n FROM sizes) - df + 1))
                      - (1 - (((SELECT pos FROM sizes) - xc) * 1.0) / ((SELECT n FROM sizes) - df + 1))
                       * ln(1 - (((SELECT pos FROM sizes) - xc) * 1.0) / ((SELECT n FROM sizes) - df + 1)) END)
         AS score
  FROM per)
SELECT term, df, {_sql_scaled('score', 6)} AS score_x1m FROM ent
ORDER BY score_x1m DESC, term ASC LIMIT 10
""",
)
def igain_terms_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`{!igain}` (search/IGainTermsQParserPlugin.java:155-185): top
    information-gain terms for the binary outcome lang=='en'."""
    from solr_spark.functions.classify import igain_terms

    idx, _, _ = documents_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    labels = docs.select(
        F.col("doc_id").alias("docid"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"),
    )
    out = igain_terms(idx.postings, labels, n_terms=10, min_df=5)
    return out.select(
        "term", "df", scaled("score", 6).alias("score_x1m")
    ).orderBy(F.col("score_x1m").desc(), F.col("term").asc())


def _logit_gd_sql(terms=("spark", "join", "table", "data"), iters=10, lr=1.0):
    tcols = {t: f"f_{t}" for t in terms}
    in_list = ", ".join(f"'{t}'" for t in terms)
    pres_cols = ",\n         ".join(
        f"max(CASE WHEN term = '{t}' THEN 1 ELSE 0 END) AS {c}"
        for t, c in tcols.items())
    parts = [f"""toks AS (SELECT doc_id, unnest(list_filter(
    regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS term
  FROM documents),
pres AS (
  SELECT doc_id,
         {pres_cols}
  FROM (SELECT DISTINCT doc_id, term FROM toks WHERE term IN ({in_list}))
  GROUP BY doc_id),
feats AS (
  SELECT d.doc_id,
         CASE WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END AS label,
         {", ".join(f"CAST(COALESCE(p.{c}, 0) AS DOUBLE) AS {c}" for c in tcols.values())}
  FROM documents d LEFT JOIN pres p ON p.doc_id = d.doc_id),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM feats),
w0 AS (SELECT CAST(0.0 AS DOUBLE) AS b,
       {", ".join(f"CAST(0.0 AS DOUBLE) AS w_{t}" for t in terms)})"""]
    prev = "w0"
    for i in range(1, iters + 1):
        margin = f"{prev}.b + " + " + ".join(
            f"{prev}.w_{t} * {c}" for t, c in tcols.items())
        err = f"(1.0 / (1.0 + exp(-({margin}))) - label)"
        updates = [f"max({prev}.b) - {lr} * sum({err}) / max(nn.n) AS b"]
        for t, c in tcols.items():
            updates.append(
                f"max({prev}.w_{t}) - {lr} * sum({err} * {c}) / max(nn.n) AS w_{t}")
        parts.append(f"""w{i} AS (
  SELECT {", ".join(updates)}
  FROM feats CROSS JOIN {prev} CROSS JOIN nn)""")
        prev = f"w{i}"
    sel = [f"SELECT '_intercept' AS term, CAST(floor(b * 1000000 + 0.5) AS BIGINT) AS weight_x1m FROM {prev}"]
    for t in terms:
        sel.append(f"SELECT '{t}', CAST(floor(w_{t} * 1000000 + 0.5) AS BIGINT) FROM {prev}")
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(sel) + "\nORDER BY term"


@register("text_logit_train", None)  # sql attached below
def text_logit_train_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`{!textLogit}` (search/TextLogisticRegressionQParserPlugin.java):
    10 batch gradient iterations on term-presence features predicting
    lang=='en'; returns the learned weights (deterministic). Convergence +
    accuracy are asserted in tests/test_classify.py. The DuckDB oracle
    UNROLLS the ten gradient steps as chained one-row CTEs over the same
    presence features — the formerly rows-only entry is fully
    value-hashed."""
    from solr_spark.functions.classify import text_logit_train

    idx, _, _ = documents_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    labels = docs.select(
        F.col("doc_id").alias("docid"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"),
    )
    w = text_logit_train(
        idx.postings, labels, ["spark", "join", "table", "data"], iterations=10
    )
    rows = [(t, float(v)) for t, v in sorted(w.items())]
    return spark.createDataFrame(rows, "term string, weight double").select(
        "term", scaled("weight", 6).alias("weight_x1m")
    ).orderBy("term")


CATALOG["text_logit_train"].sql = _logit_gd_sql()


@register(
    "stats_nchars_by_lang",
    f"""
SELECT lang, count(n_chars) AS count,
       0::BIGINT AS missing,
       min(n_chars) AS min, max(n_chars) AS max,
       sum(n_chars)::BIGINT AS sum, sum(n_chars * n_chars)::BIGINT AS sumsq,
       {_sql_scaled('avg(n_chars)')} AS mean_x10k,
       {_sql_scaled('stddev_samp(n_chars)')} AS stddev_x10k
FROM documents GROUP BY lang ORDER BY lang
""",
)
def stats_nchars_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = field_stats(_t(spark, sf_dir, "documents"), "n_chars", by="lang")
    return out.select(
        "lang",
        "count",
        "missing",
        "min",
        "max",
        F.col("sum").cast("long").alias("sum"),
        F.col("sumsq").cast("long").alias("sumsq"),
        scaled("mean").alias("mean_x10k"),
        scaled("stddev").alias("stddev_x10k"),
    )


@register(
    "pivot_lang_source",
    """
SELECT lang, source, count(*) AS count FROM documents
GROUP BY lang, source ORDER BY lang, source
""",
)
def pivot_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solr_spark.operators.facets import pivot_facet

    return pivot_facet(_t(spark, sf_dir, "documents"), ["lang", "source"])


@register(
    "facet2d_lang_source",
    """
WITH base AS (SELECT lang, source, count(*) AS count FROM documents GROUP BY 1, 2),
xtop AS (SELECT lang FROM (SELECT lang, sum(count) AS xm FROM base GROUP BY 1)
         ORDER BY xm DESC, lang ASC LIMIT 3),
ranked AS (SELECT b.lang, b.source, b.count,
           row_number() OVER (PARTITION BY b.lang
                              ORDER BY b.count DESC, b.source ASC) AS r
           FROM base b JOIN xtop USING (lang))
SELECT lang, source, count FROM ranked WHERE r <= 2
ORDER BY lang, count DESC, source
""",
)
def facet2d_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """facet2D stream: top-3 langs by count, top-2 sources within each —
    both levels metric-sorted and limited (Facet2DStream.java:55), unlike
    the exhaustive value-ordered pivot above."""
    from solr_spark.operators.facets import facet2d

    return facet2d(
        _t(spark, sf_dir, "documents"), "lang", "source", dim_x=3, dim_y=2
    )


# --- collapse / expand / grouping (SURVEY §2.5) -----------------------------


@register(
    "collapse_by_source",
    """
SELECT source, doc_id, n_chars FROM documents
QUALIFY row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) = 1
ORDER BY source
""",
)
def collapse_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    return collapse(
        d, "source", [F.col("n_chars").desc(), F.col("doc_id").asc()]
    ).orderBy("source")


@register(
    "collapse_salted_hot",
    """
SELECT lang, doc_id, n_chars FROM documents
QUALIFY row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) = 1
ORDER BY lang
""",
)
def collapse_salted_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse on a HOT key via the salted two-phase path. ``lang`` is the
    skew case (one value covers ~40% of docs — corpus.py's weights mirror a
    real web corpus where one language dominates): the plain window sends
    every row of that value to one partition; `salt=8` bounds the final
    per-key partition to 8 rows. Results are provably identical to the
    unsalted window (unique docid tiebreak → total order)."""
    d = _t(spark, sf_dir, "documents").select("lang", "doc_id", "n_chars")
    return collapse(
        d, "lang", [F.col("n_chars").desc(), F.col("doc_id").asc()], salt=8
    ).orderBy("lang")


@register(
    "expand_by_source",
    """
SELECT source, doc_id, n_chars FROM documents
QUALIFY row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC)
        BETWEEN 2 AND 3
ORDER BY source, doc_id
""",
)
def expand_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    return expand(
        d, "source", [F.col("n_chars").desc(), F.col("doc_id").asc()], rows=2
    ).orderBy("source", "doc_id")


@register(
    "group_top2_per_lang",
    """
SELECT lang, doc_id, n_chars FROM documents
QUALIFY row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) <= 2
ORDER BY lang, doc_id
""",
)
def group_top2_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("lang", "doc_id", "n_chars")
    return group_top_n(
        d, "lang", [F.col("n_chars").desc(), F.col("doc_id").asc()], n=2
    ).orderBy("lang", "doc_id")


# --- stream set ops / joins (SURVEY §2.3, §2.7) -----------------------------


@register(
    "unique_lang_source",
    "SELECT DISTINCT lang, source FROM documents ORDER BY lang, source",
)
def unique_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return unique_stream(
        _t(spark, sf_dir, "documents"), ["lang", "source"]
    ).orderBy("lang", "source")


@register(
    "intersect_sources",
    """
SELECT DISTINCT source FROM documents WHERE lang = 'en'
INTERSECT
SELECT DISTINCT source FROM documents WHERE lang = 'zh'
ORDER BY source
""",
)
def intersect_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    en = d.where(F.col("lang") == "en").select("source").distinct()
    zh = d.where(F.col("lang") == "zh")
    return intersect_stream(en, zh, ["source"]).orderBy("source")


@register(
    "complement_sources",
    """
SELECT DISTINCT source FROM documents WHERE lang = 'en'
EXCEPT
SELECT DISTINCT source FROM documents WHERE n_chars > 500
ORDER BY source
""",
)
def complement_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    en = d.where(F.col("lang") == "en").select("source").distinct()
    big = d.where(F.col("n_chars") > 500)
    return complement_stream(en, big, ["source"]).orderBy("source")


@register(
    "merge_streams",
    """
SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en'
UNION ALL
SELECT doc_id, lang, n_chars FROM documents WHERE n_chars > 450
""",
)
def merge_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return merge_stream(
        d.where(F.col("lang") == "en"), d.where(F.col("n_chars") > 450)
    )


@register(
    "top_orders",
    f"""
SELECT o_orderkey, {_sql_scaled('o_totalprice', 2)} AS price_x100 FROM orders
ORDER BY price_x100 DESC, o_orderkey ASC LIMIT 10
""",
)
def top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", scaled("o_totalprice", 2).alias("price_x100")
    )
    return top_stream(o, [F.col("price_x100").desc(), F.col("o_orderkey").asc()], 10)


@register(
    "rollup_orders_status",
    f"""
SELECT o_orderstatus, count(*) AS n, {_sql_scaled('sum(o_totalprice)', 2)} AS total_x100
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
)
def rollup_orders_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    out = rollup_stream(
        o, ["o_orderstatus"], {"n": F.count("*"), "total": F.sum("o_totalprice")}
    )
    return out.select(
        "o_orderstatus", "n", scaled("total", 2).alias("total_x100")
    ).orderBy("o_orderstatus")


@register(
    "having_rollup_quantity",
    f"""
SELECT l_returnflag, l_linestatus, {_sql_scaled('sum(l_quantity)', 2)} AS qty_x100
FROM lineitem GROUP BY l_returnflag, l_linestatus
HAVING sum(l_quantity) >= 100000
ORDER BY l_returnflag, l_linestatus
""",
)
def having_rollup_quantity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`having(rollup(...), gt(sum_qty, N))` (io/stream/HavingStream.java):
    the boolean evaluator compiles to a pushable JVM predicate over the
    rollup output."""
    from solr_spark.operators.streams import having_stream, rollup_stream

    li = _t(spark, sf_dir, "lineitem")
    out = rollup_stream(
        li, ["l_returnflag", "l_linestatus"], {"qty": F.sum("l_quantity")}
    )
    return (
        having_stream(out, F.col("qty") >= 100000)
        .select("l_returnflag", "l_linestatus", scaled("qty", 2).alias("qty_x100"))
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "reduce_top_orders_per_cust",
    """
WITH ranked AS (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders WHERE o_custkey <= 50)
SELECT o_custkey, string_agg(CAST(o_orderkey AS VARCHAR), '-' ORDER BY rn) AS top_orders
FROM ranked WHERE rn <= 3 GROUP BY o_custkey ORDER BY o_custkey
""",
)
def reduce_top_orders_per_cust_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`reduce(s, by=custkey, group(sort=price desc, n=3))`
    (io/stream/ReducerStream.java + GroupOperation): each key's tuples
    gathered into one grouped tuple — a single groupBy with in-group
    array_sort, never a per-key driver loop."""
    from solr_spark.operators.streams import reduce_stream

    o = _t(spark, sf_dir, "orders").where(F.col("o_custkey") <= 50)
    out = reduce_stream(
        o.select("o_custkey", "o_orderkey", "o_totalprice"),
        by=["o_custkey"],
        sort=[-F.col("o_totalprice"), F.col("o_orderkey")],
        max_group_size=3,
    )
    return out.select(
        "o_custkey",
        F.array_join(
            F.transform(F.col("group"), lambda t: t["o_orderkey"].cast("string")),
            "-",
        ).alias("top_orders"),
    ).orderBy("o_custkey")


@register(
    "outer_hashjoin_customer_orders",
    f"""
WITH agg AS (
  SELECT o_custkey, count(*) AS n_orders, sum(o_totalprice) AS total
  FROM orders GROUP BY o_custkey)
SELECT c_custkey, coalesce(n_orders, 0) AS n_orders,
       {_sql_scaled('coalesce(total, 0.0)', 2)} AS total_x100
FROM customer LEFT JOIN agg ON c_custkey = o_custkey
WHERE c_custkey <= 100 ORDER BY c_custkey
""",
)
def outer_hashjoin_customer_orders_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`outerHashJoin(customers, hashed=orderAgg, on=custkey)`
    (io/stream/OuterHashJoinStream.java): left outer, hashed side
    broadcast; customers without orders survive with zeroes."""
    from solr_spark.operators.streams import outer_hash_join_stream

    c = _t(spark, sf_dir, "customer").where(F.col("c_custkey") <= 100)
    agg = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.count("*").alias("n_orders"), F.sum("o_totalprice").alias("total"))
    )
    out = outer_hash_join_stream(c, agg, on=["c_custkey"])
    return out.select(
        "c_custkey",
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
        scaled(F.coalesce(F.col("total"), F.lit(0.0)), 2).alias("total_x100"),
    ).orderBy("c_custkey")


@register(
    "random_sample_docs",
    """
SELECT doc_id, n_chars
FROM documents
ORDER BY md5('42' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
LIMIT 20
""",
)
def random_sample_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`random(collection, rows=20)` (io/stream/RandomStream.java) as a
    seeded md5 permutation — engine-portable pseudo-random sampling, a
    TakeOrderedAndProject rather than a full sort."""
    from solr_spark.operators.streams import random_stream

    d = _t(spark, sf_dir, "documents")
    return random_stream(d, 20, seed="42", id_col="doc_id").select(
        "doc_id", "n_chars"
    )


@register(
    "timeseries_events_daily",
    f"""
SELECT date_trunc('day', ts)::DATE AS bucket, count(*) AS n,
       {_sql_scaled('sum(value)', 2)} AS total_x100
FROM events GROUP BY bucket ORDER BY bucket
""",
)
def timeseries_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    out = timeseries_stream(
        e, "ts", "day", {"n": F.count("*"), "total": F.sum("value")}
    )
    return out.select(
        F.col("bucket").cast("date").alias("bucket"),
        "n",
        scaled("total", 2).alias("total_x100"),
    )


@register(
    "innerjoin_revenue_by_segment",
    f"""
SELECT c_mktsegment, count(*) AS n_orders,
       {_sql_scaled('sum(o_totalprice)', 2)} AS revenue_x100
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
""",
)
def innerjoin_revenue_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "c_custkey")
    c = _t(spark, sf_dir, "customer")
    j = inner_join_stream(o, c, ["c_custkey"])
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            scaled(F.sum("o_totalprice"), 2).alias("revenue_x100"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "hashjoin_customers_per_region",
    """
SELECT r_name, count(*) AS n_customers
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
""",
)
def hashjoin_customers_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").withColumnRenamed("c_nationkey", "n_nationkey")
    n = _t(spark, sf_dir, "nation").withColumnRenamed("n_regionkey", "r_regionkey")
    r = _t(spark, sf_dir, "region")
    j = hash_join_stream(hash_join_stream(c, n, ["n_nationkey"]), r, ["r_regionkey"])
    return j.groupBy("r_name").agg(F.count("*").alias("n_customers")).orderBy("r_name")


@register(
    "fetch_top_orders_customer",
    f"""
WITH top5 AS (
  SELECT o_orderkey, o_custkey, {_sql_scaled('o_totalprice', 2)} AS price_x100
  FROM orders ORDER BY price_x100 DESC, o_orderkey ASC LIMIT 5)
SELECT o_orderkey, price_x100, c_name
FROM top5 JOIN customer ON o_custkey = c_custkey
ORDER BY o_orderkey
""",
)
def fetch_top_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("c_custkey"),
        scaled("o_totalprice", 2).alias("price_x100"),
    )
    top5 = top_stream(o, [F.col("price_x100").desc(), F.col("o_orderkey").asc()], 5)
    c = _t(spark, sf_dir, "customer")
    return (
        fetch_stream(top5, c, "c_custkey", ["c_name"])
        .select("o_orderkey", "price_x100", "c_name")
        .orderBy("o_orderkey")
    )


@register(
    "cartesian_product_tokens",
    f"""
WITH {TOKS}
SELECT doc_id, term FROM toks WHERE doc_id < 3
""",
)
def cartesian_product_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cartesianProduct = unnest/explode of a multivalued field."""
    from solr_spark.analysis.chain import analyze_udf
    from solr_spark.operators.streams import cartesian_product

    d = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 3)
        .select("doc_id", analyze_udf("simple")(F.col("text")).alias("toks"))
    )
    return cartesian_product(d, "toks", out="term").select("doc_id", "term")


# --- cursorMark pagination (SURVEY §2.6) ------------------------------------


@register(
    "cursor_page3",
    """
SELECT doc_id, n_chars FROM documents
QUALIFY row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) BETWEEN 11 AND 15
ORDER BY n_chars DESC, doc_id ASC
""",
)
def cursor_page3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fetch page 3 (size 5) via true keyset pagination: walk two cursor
    totems, then return the third page (CursorMark.java:42-69 semantics —
    each page is filter(tuple > totem) + top-k, never offset)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    spec = [("n_chars", False), ("doc_id", True)]
    totem = None
    for _ in range(2):
        rows = cursor_page(d, spec, 5, totem).collect()
        totem = next_totem(rows, spec)
    return cursor_page(d, spec, 5, totem)


# --- terms dictionary + significant terms (SURVEY §2.11, §2.2) --------------


@register(
    "terms_dictionary_top20",
    f"""
WITH {TOKS}, {TF}
SELECT term, count(*) AS df, sum(tf)::BIGINT AS ttf FROM tf
GROUP BY term ORDER BY df DESC, term ASC LIMIT 20
""",
)
def terms_dictionary_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TermsComponent (handler/component/TermsComponent.java:282-293): browse
    the term dictionary sorted by document frequency."""
    idx, _, _ = documents_index(spark, sf_dir)
    return (
        idx.term_stats()
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(20)
    )


@register(
    "date_math_range",
    """
SELECT event_type, count(*) AS n
FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-15 00:00:00'
GROUP BY event_type ORDER BY event_type
""",
)
def date_math_range_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr date math in range queries (util/DateMathParser.java):
    ts:['2024-01-10T13:45:00Z/DAY' TO '2024-01-10T13:45:00Z/DAY+5DAYS'} —
    the expression resolves to a literal instant driver-side (the
    reference does the same before building the range query) and the
    literal is pushed into the scan predicate."""
    from solr_spark.functions.datemath import parse_date_math

    lo = parse_date_math("2024-01-10T13:45:00Z/DAY")
    hi = parse_date_math("2024-01-10T13:45:00Z/DAY+5DAYS")
    e = _t(spark, sf_dir, "events").where(
        (F.col("ts") >= F.lit(lo.replace(tzinfo=None)))
        & (F.col("ts") < F.lit(hi.replace(tzinfo=None)))
    )
    return (
        e.groupBy("event_type").agg(F.count("*").alias("n"))
        .orderBy("event_type")
    )


@register(
    "delete_by_query_bm25",
    f"""
WITH live AS (SELECT * FROM documents WHERE lang <> 'de'),
toks AS (SELECT doc_id, unnest(list_filter(
           regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS term
         FROM live),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
nd AS (SELECT count(*) AS n FROM live),
ad AS (SELECT sum(dl) * 1.0 / (SELECT n FROM nd) AS avgdl FROM dl),
qt(term) AS (VALUES ('data')),
dfs AS (SELECT term, count(*) AS df FROM tf WHERE term IN (SELECT term FROM qt) GROUP BY term),
w AS (SELECT term, ln(1 + ((SELECT n FROM nd) - df + 0.5) / (df + 0.5)) AS w FROM dfs),
s AS (
  SELECT tf.doc_id,
         sum(w.w * tf.tf / (tf.tf + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dl.dl / (SELECT avgdl FROM ad)))) AS s
  FROM tf JOIN w USING (term) JOIN dl USING (doc_id) GROUP BY tf.doc_id)
SELECT doc_id, {_sql_scaled('s')} AS score_x10k FROM s
ORDER BY score_x10k DESC, doc_id ASC LIMIT 10
""",
)
def delete_by_query_bm25_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deleteByQuery (update/DirectUpdateHandler2.java) then search: drop
    lang:de docs from the logical index (one semi-join per view, stats
    recomputed lazily = the post-merge state) and run q=data — deleted
    docs are gone AND the survivors' idf/avgdl reflect the smaller
    corpus."""
    from solr_spark.index.build import delete_by_query
    from solr_spark.query.bm25 import bm25_score_df

    idx, _, _ = documents_index(spark, sf_dir)
    live = delete_by_query(idx, F.col("lang") == "de")
    out = bm25_score_df(live, ["data"], quantize_norms=False)
    return (
        out.select(F.col("docid").alias("doc_id"),
                   scaled("score").alias("score_x10k"))
        .orderBy(F.col("score_x10k").desc(), F.col("doc_id").asc())
        .limit(10)
    )


@register(
    "term_vectors_doc",
    f"""
WITH {TOKS}, {TF},
dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
SELECT tf.doc_id, tf.term, tf.tf, dfs.df,
       {_sql_scaled('tf.tf * 1.0 / dfs.df')} AS tfidf_x10k
FROM tf JOIN dfs USING (term) WHERE tf.doc_id = 42
ORDER BY tfidf_x10k DESC, term ASC LIMIT 15
""",
)
def term_vectors_doc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TermVectorComponent (handler/component/TermVectorComponent.java
    mapOneVector): per-doc term vectors with tf, df, and tf-idf — which the
    reference computes literally as tf/df. One docid-filtered postings scan
    joined to broadcast term stats; IO independent of corpus size."""
    from solr_spark.query.mlt import term_vectors

    idx, _, _ = documents_index(spark, sf_dir)
    out = term_vectors(idx, ["42"], top_n=15)
    return out.select(
        F.col("docid").alias("doc_id"), "term", "tf", "df",
        scaled("tfidf").alias("tfidf_x10k"),
    ).orderBy(F.col("tfidf_x10k").desc(), F.col("term").asc())


@register(
    "terms_regex_browse",
    f"""
WITH {TOKS}, {TF}
SELECT term, count(*) AS df FROM tf
WHERE regexp_matches(term, '^s.*')
GROUP BY term ORDER BY df DESC, term ASC LIMIT 10
""",
)
def terms_regex_browse_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TermsComponent terms.regex (handler/component/TermsComponent.java:
    the regex branch walks the dictionary applying the pattern): dictionary
    browse filtered by regular expression. The scan is over the persisted
    term-stats table (dictionary-sized, not corpus-sized) — the reference
    pays the same full-dictionary walk for regex terms."""
    idx, _, _ = documents_index(spark, sf_dir)
    return (
        idx.term_stats()
        .where(F.col("term").rlike("^s.*"))
        .select("term", "df")
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(10)
    )


@register(
    "sessionize_events",
    """
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS news
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (
  SELECT user_id, ts, value,
         sum(news) OVER (PARTITION BY user_id ORDER BY ts) AS sid
  FROM o)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*)::INT AS n_events,
       round(sum(value), 4) AS total_value
FROM s GROUP BY user_id, sid
ORDER BY user_id, session_start
""",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity-gap sessionization (30 min) — the batch twin of the
    applyInPandasWithState streaming sessionizer (streaming/sessions.py);
    one user_id shuffle, window functions inside the partition."""
    from solr_spark.streaming.sessions import sessionize

    e = _t(spark, sf_dir, "events")
    out = sessionize(e, gap_minutes=30)
    return out.select(
        "user_id", "session_start", "session_end", "n_events",
        F.round("total_value", 4).alias("total_value"),
    ).orderBy("user_id", "session_start")


@register(
    "timeseries_gapfill_daily",
    f"""
WITH f AS (SELECT * FROM events WHERE event_type = 'purchase' AND value > 200),
a AS (SELECT date_trunc('day', ts) AS bucket, count(*) AS n, sum(value) AS total
      FROM f GROUP BY 1),
spine AS (SELECT generate_series AS bucket
          FROM generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30',
                               INTERVAL '1' DAY))
SELECT spine.bucket::DATE AS bucket, coalesce(a.n, 0) AS n,
       {_sql_scaled('coalesce(a.total, 0)', 2)} AS total_x100
FROM spine LEFT JOIN a ON spine.bucket = a.bucket
ORDER BY bucket
""",
)
def timeseries_gapfill_daily_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """timeseries(...) with the full bucket spine: the reference's range
    facet emits EVERY gap bucket in [start,end] even when empty
    (io/stream/TimeSeriesStream.java builds the range request; FacetRange
    emits zero-count buckets). The filter (purchase, value>200) leaves 9 of
    30 days empty at sf0.01 — those rows appear with n=0. The spine is an
    exploded sequence() literal broadcast into the join, no data shuffle."""
    e = _t(spark, sf_dir, "events").where(
        (F.col("event_type") == "purchase") & (F.col("value") > 200)
    )
    out = timeseries_stream(
        e, "ts", "day", {"n": F.count("*"), "total": F.sum("value")},
        start="2024-01-01", end="2024-01-30",
    )
    return out.select(
        F.col("bucket").cast("date").alias("bucket"),
        "n",
        scaled("total", 2).alias("total_x100"),
    )


@register(
    "significant_terms_spark",
    f"""
WITH {TOKS}, {TF},
fg AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'spark'),
fgdf AS (SELECT term, count(*) AS fg_df FROM tf JOIN fg USING (doc_id) GROUP BY term),
alldf AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
SELECT term, fg_df, df,
       {_sql_scaled(f'fg_df * ln({NDOCS} * 1.0 / df)')} AS score_x10k
FROM fgdf JOIN alldf USING (term)
WHERE fg_df >= 3
ORDER BY score_x10k DESC, term ASC LIMIT 10
""",
)
def significant_terms_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SignificantTermsQParserPlugin: terms over-represented in the docs
    matching 'spark' vs the whole corpus, scored fg_df·ln(N/df) (a tf-idf
    style significance; the reference's exact score differs but the shape —
    foreground df vs background df — is the operator)."""
    idx, n, _ = documents_index(spark, sf_dir)
    fg = idx.postings.where(F.col("term") == "spark").select("docid").distinct()
    fgdf = (
        idx.postings.join(fg, "docid", "left_semi")
        .groupBy("term")
        .agg(F.count("*").alias("fg_df"))
    )
    # Background df comes from the persisted global term_stats — NOT a fresh
    # aggregation over all postings (which would add a full-postings scan
    # per call, linear in corpus size).
    alldf = idx.term_stats().select("term", "df")
    return (
        fgdf.join(alldf, "term")
        .where(F.col("fg_df") >= 3)
        .select(
            "term",
            "fg_df",
            "df",
            scaled(F.col("fg_df") * F.log(F.lit(float(n)) / F.col("df"))).alias(
                "score_x10k"
            ),
        )
        .orderBy(F.col("score_x10k").desc(), F.col("term").asc())
        .limit(10)
    )


# --- physical index: block-max WAND over compressed segments ----------------


def _phys_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (resume-aware) the physical segment index for sf_dir's documents."""
    import hashlib

    from solr_spark.index.segments import build_index_dir

    # v8: a commit names only generations marked complete
    d = f"/tmp/solr_spark_phys_v8_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}"
    if not os.path.exists(f"{d}/corpus_stats.json"):
        docs = _t(spark, sf_dir, "documents")
        build_index_dir(
            docs, d, n_partitions=8, analyzer="simple",
            id_col="doc_id", text_col="text",
        )
    return d


def _quant_sql_values() -> str:
    """The SmallFloat byte4 decode table as SQL VALUES (quantized lengths)."""
    from solr_spark.index.norms import DECODE_TABLE

    return ", ".join(f"({int(v)})" for v in DECODE_TABLE.tolist())


def bm25_quantized_sql(terms: list[str], k: int = 10) -> str:
    """Oracle BM25 with Lucene's lossy 1-byte norm: dl is quantized through
    the SmallFloat decode table (norms.py), reproduced in SQL as a greatest
    lower-bound lookup. avgdl stays exact (Lucene accumulates exact lengths
    into sumTotalTermFreq even though per-doc norms are lossy)."""
    tlist = ", ".join(f"('{t}')" for t in sorted(set(terms)))
    return f"""
WITH {TOKS}, {TF}, {DL},
qmap(v) AS (VALUES {_quant_sql_values()}),
dlq AS (SELECT doc_id, (SELECT max(v) FROM qmap WHERE v <= dl.dl) AS dlq FROM dl),
qt(term) AS (VALUES {tlist}),
dfs AS (SELECT term, count(*) AS df FROM tf
        WHERE term IN (SELECT term FROM qt) GROUP BY term),
w AS (SELECT term, ln(1 + ({NDOCS} - df + 0.5) / (df + 0.5)) AS w FROM dfs),
scored AS (
  SELECT tf.doc_id,
         sum(w.w * tf.tf / (tf.tf + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dlq.dlq / {AVGDL}))) AS s
  FROM tf JOIN w USING (term) JOIN dlq USING (doc_id)
  GROUP BY tf.doc_id)
SELECT doc_id, {_sql_scaled('s')} AS score_x10k FROM scored
ORDER BY score_x10k DESC, doc_id ASC LIMIT {k}
"""


def _mk_wand(qs: str):
    def _fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from solr_spark.query.wand import wand_topk

        d = _phys_index_dir(spark, sf_dir)
        out = wand_topk(spark, d, qs, k=10)
        return (
            out.select(
                F.col("docid").alias("doc_id"), scaled("score").alias("score_x10k")
            )
            .orderBy(F.col("score_x10k").desc(), F.col("doc_id").asc())
            .limit(10)
        )

    return _fn


for _qname, _qstr in [
    ("wand_bm25_top10", "spark join data"),
    ("wand_bm25_hot", "table row scan"),
]:
    CATALOG[_qname] = Entry(
        fn=_mk_wand(_qstr),
        sql=bm25_quantized_sql(sorted(set(analyze(_qstr, "simple")))),
    )


# --- MLT / dismax / rerank / function queries (SURVEY §2.2) -----------------

_MLT_GATE = "tf >= 2 AND df >= 5 AND df <= 0.5 * {n}"


@register(
    "mlt_doc0",
    f"""
WITH {TOKS}, {TF}, {DL},
alldf AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
cand AS (
  SELECT tf.term, tf.tf * ln(1 + ({NDOCS} - alldf.df + 0.5) / (alldf.df + 0.5)) AS ti
  FROM tf JOIN alldf USING (term)
  WHERE tf.doc_id = 0 AND tf.tf >= 1 AND alldf.df >= 5
        AND alldf.df <= 0.9 * {NDOCS}
  ORDER BY ti DESC, term ASC LIMIT 25),
w AS (SELECT c.term, ln(1 + ({NDOCS} - d.df + 0.5) / (d.df + 0.5)) AS w
      FROM cand c JOIN alldf d USING (term)),
scored AS (
  SELECT tf.doc_id,
         sum(w.w * tf.tf / (tf.tf + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dl.dl / {AVGDL}))) AS s
  FROM tf JOIN w USING (term) JOIN dl USING (doc_id)
  WHERE tf.doc_id <> 0
  GROUP BY tf.doc_id)
SELECT doc_id, {_sql_scaled('s')} AS score_x10k FROM scored
ORDER BY score_x10k DESC, doc_id ASC LIMIT 10
""",
)
def mlt_doc0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """More-like-this for doc 0 (MoreLikeThisHandler semantics)."""
    from solr_spark.query.mlt import more_like_this

    idx, _, _ = documents_index(spark, sf_dir)
    out = more_like_this(idx, 0, k=10, max_terms=25, min_tf=1, min_df=5, max_df_pct=0.9)
    return (
        out.select(F.col("docid").alias("doc_id"), scaled("score").alias("score_x10k"))
        .orderBy(F.col("score_x10k").desc(), F.col("doc_id").asc())
        .limit(10)
    )


def _dismax_indexes(spark: SparkSession, sf_dir: str) -> dict:
    """The shared (text, source) multi-field index, persisted per session."""
    from solr_spark.query.dismax import build_multi_index

    key = (id(spark), sf_dir, "dismax")
    if key not in _MISC_CACHE:
        d = _t(spark, sf_dir, "documents").withColumnRenamed("doc_id", "docid")
        idxs = build_multi_index(
            d, {"text": "text", "source": "source"}, analyzer="simple"
        )
        for ix in idxs.values():
            ix.postings = ix.postings.persist()
            ix.doclens = ix.doclens.persist()
        _MISC_CACHE[key] = idxs
    return _MISC_CACHE[key]


_SRC_TOKS = (
    "stoks AS (SELECT doc_id, unnest(list_filter("
    "regexp_split_to_array(lower(source), '[^a-z0-9]+'), t -> t <> '')) AS term "
    "FROM documents)"
)


@register(
    "dismax_text_source",
    f"""
WITH {TOKS}, {TF}, {DL}, {_SRC_TOKS},
stf AS (SELECT doc_id, term, count(*) AS tf FROM stoks GROUP BY doc_id, term),
sdl AS (SELECT doc_id, count(*) AS dl FROM stoks GROUP BY doc_id),
qt(term) AS (VALUES ('spark'), ('src3')),
tdf AS (SELECT term, count(*) AS df FROM tf WHERE term IN (SELECT term FROM qt) GROUP BY term),
sdf AS (SELECT term, count(*) AS df FROM stf WHERE term IN (SELECT term FROM qt) GROUP BY term),
tscore AS (
  SELECT tf.term, tf.doc_id,
         1.0 * ln(1 + ({NDOCS} - tdf.df + 0.5) / (tdf.df + 0.5)) * tf.tf /
           (tf.tf + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dl.dl / {AVGDL})) AS fscore
  FROM tf JOIN tdf USING (term) JOIN dl USING (doc_id)),
sscore AS (
  SELECT stf.term, stf.doc_id,
         2.0 * ln(1 + ({NDOCS} - sdf.df + 0.5) / (sdf.df + 0.5)) * stf.tf /
           (stf.tf + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * sdl.dl /
             (SELECT sum(dl) * 1.0 / {NDOCS} FROM sdl))) AS fscore
  FROM stf JOIN sdf USING (term) JOIN sdl USING (doc_id)),
unioned AS (SELECT * FROM tscore UNION ALL SELECT * FROM sscore),
per_term AS (
  SELECT term, doc_id, max(fscore) + 0.3 * (sum(fscore) - max(fscore)) AS tscore
  FROM unioned GROUP BY term, doc_id),
scored AS (SELECT doc_id, sum(tscore) AS s FROM per_term GROUP BY doc_id)
SELECT doc_id, {_sql_scaled('s')} AS score_x10k FROM scored
ORDER BY score_x10k DESC, doc_id ASC LIMIT 10
""",
)
def dismax_text_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DisMax over (text, source^2) with tie=0.3 (DisMaxQParser semantics)."""
    from solr_spark.query.dismax import dismax_search

    out = dismax_search(
        _dismax_indexes(spark, sf_dir), "spark src3",
        qf={"text": 1.0, "source": 2.0}, tie=0.3, k=10,
    )
    return (
        out.select(F.col("docid").alias("doc_id"), scaled("score").alias("score_x10k"))
        .orderBy(F.col("score_x10k").desc(), F.col("doc_id").asc())
        .limit(10)
    )


@register(
    "rerank_by_nchars",
    f"""
WITH {TOKS}, {TF}, {DL},
qt(term) AS (VALUES ('data')),
dfs AS (SELECT term, count(*) AS df FROM tf WHERE term IN (SELECT term FROM qt) GROUP BY term),
w AS (SELECT term, ln(1 + ({NDOCS} - df + 0.5) / (df + 0.5)) AS w FROM dfs),
main AS (
  SELECT tf.doc_id,
         sum(w.w * tf.tf / (tf.tf + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dl.dl / {AVGDL}))) AS s
  FROM tf JOIN w USING (term) JOIN dl USING (doc_id) GROUP BY tf.doc_id),
win AS (SELECT doc_id, s FROM main
        QUALIFY row_number() OVER (ORDER BY s DESC, doc_id ASC) <= 50),
combined AS (
  SELECT w.doc_id, w.s + 2.0 * (d.n_chars / 1000.0) AS s
  FROM win w JOIN documents d USING (doc_id))
SELECT doc_id, {_sql_scaled('s')} AS score_x10k FROM combined
ORDER BY score_x10k DESC, doc_id ASC LIMIT 10
""",
)
def rerank_by_nchars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ReRank: top-50 of q=data re-scored by +2·(n_chars/1000)."""
    from solr_spark.query.bm25 import bm25_score_df
    from solr_spark.query.rerank import rerank

    idx, _, _ = documents_index(spark, sf_dir)
    main = bm25_score_df(idx, ["data"], quantize_norms=False)
    rr = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("docid"),
        (F.col("n_chars") / F.lit(1000.0)).alias("score"),
    )
    out = rerank(main, rr, rerank_docs=50, rerank_weight=2.0, k=10)
    return (
        out.select(F.col("docid").alias("doc_id"), scaled("score").alias("score_x10k"))
        .orderBy(F.col("score_x10k").desc(), F.col("doc_id").asc())
        .limit(10)
    )


@register(
    "frange_boosted",
    f"""
WITH {TOKS}, {TF}, {DL},
qt(term) AS (VALUES ('data')),
dfs AS (SELECT term, count(*) AS df FROM tf WHERE term IN (SELECT term FROM qt) GROUP BY term),
w AS (SELECT term, ln(1 + ({NDOCS} - df + 0.5) / (df + 0.5)) AS w FROM dfs),
main AS (
  SELECT tf.doc_id,
         sum(w.w * tf.tf / (tf.tf + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dl.dl / {AVGDL}))) AS s
  FROM tf JOIN w USING (term) JOIN dl USING (doc_id) GROUP BY tf.doc_id),
boosted AS (
  SELECT m.doc_id, m.s * ln(d.n_chars) AS s
  FROM main m JOIN documents d USING (doc_id)
  WHERE m.s >= 0.05 AND m.s <= 2.0)
SELECT doc_id, {_sql_scaled('s')} AS score_x10k FROM boosted
ORDER BY score_x10k DESC, doc_id ASC LIMIT 10
""",
)
def frange_boosted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{!frange} on the BM25 score + {!boost b=ln(n_chars)}."""
    from solr_spark.query.bm25 import bm25_score_df
    from solr_spark.query.rerank import boost_by, frange

    idx, _, _ = documents_index(spark, sf_dir)
    main = frange(
        bm25_score_df(idx, ["data"], quantize_norms=False),
        F.col("score"), lower=0.05, upper=2.0,
    )
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("docid"), "n_chars"
    )
    out = boost_by(main, d, F.log(F.col("n_chars")), k=10)
    return (
        out.select(F.col("docid").alias("doc_id"), scaled("score").alias("score_x10k"))
        .orderBy(F.col("score_x10k").desc(), F.col("doc_id").asc())
        .limit(10)
    )


@register(
    "func_scale_map_boost",
    f"""
WITH {TOKS}, {TF}, {DL},
qt(term) AS (VALUES ('data')),
dfs AS (SELECT term, count(*) AS df FROM tf WHERE term IN (SELECT term FROM qt) GROUP BY term),
w AS (SELECT term, ln(1 + ({NDOCS} - df + 0.5) / (df + 0.5)) AS w FROM dfs),
main AS (
  SELECT tf.doc_id,
         sum(w.w * tf.tf / (tf.tf + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dl.dl / {AVGDL}))) AS s
  FROM tf JOIN w USING (term) JOIN dl USING (doc_id) GROUP BY tf.doc_id),
mm AS (SELECT min(n_chars) AS mn, max(n_chars) AS mx FROM documents),
boosted AS (
  SELECT m.doc_id,
         m.s * (0.5 + (d.n_chars - mm.mn) * 1.0 / (mm.mx - mm.mn))
             * (CASE WHEN d.n_chars >= 100 AND d.n_chars <= 200 THEN 0.1 ELSE 1.0 END) AS s
  FROM main m JOIN documents d USING (doc_id), mm)
SELECT doc_id, {_sql_scaled('s')} AS score_x10k FROM boosted
ORDER BY score_x10k DESC, doc_id ASC LIMIT 10
""",
)
def func_scale_map_boost_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Function queries needing corpus state: `{{!boost
    b=product(sum(0.5, scale(n_chars,0,1)), map(n_chars,100,200,0.1,1))}}`
    (Lucene ScaleFloatFunction — corpus min/max rescale as ONE tiny
    aggregate broadcast back, no second pass — and RangeMapFloatFunction)."""
    from solr_spark.query.bm25 import bm25_score_df
    from solr_spark.query.rerank import boost_by, map_func, scale_func

    idx, _, _ = documents_index(spark, sf_dir)
    main = bm25_score_df(idx, ["data"], quantize_norms=False)
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("docid"), "n_chars"
    )
    d = scale_func(d, F.col("n_chars"), 0.0, 1.0, out="sc01")
    boost = (F.lit(0.5) + F.col("sc01")) * map_func(
        F.col("n_chars"), 100, 200, 0.1, default=1.0
    )
    out = boost_by(main, d, boost, k=10)
    return (
        out.select(F.col("docid").alias("doc_id"), scaled("score").alias("score_x10k"))
        .orderBy(F.col("score_x10k").desc(), F.col("doc_id").asc())
        .limit(10)
    )


@register(
    "func_ord_strdist",
    f"""
WITH dict AS (
  SELECT c_mktsegment,
         dense_rank() OVER (ORDER BY c_mktsegment DESC) AS rord
  FROM (SELECT DISTINCT c_mktsegment FROM customer)
), s AS (
  SELECT c.c_custkey,
         {_sql_scaled(
             "d.rord + 10.0 * (1.0 - levenshtein(c.c_name, 'Customer#000000100')"
             " * 1.0 / greatest(length(c.c_name), 18))"
         )} AS score_x10k
  FROM customer c JOIN dict d USING (c_mktsegment))
SELECT c_custkey, score_x10k FROM s
ORDER BY score_x10k DESC, c_custkey ASC LIMIT 10
""",
)
def func_ord_strdist_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Function queries ``rord(f)`` (Lucene ReverseOrdFieldSource — the
    value's 1-based position in the index-sorted dictionary; built as a
    broadcast distinct-value rank, never a full-table window) and
    ``strdist(f, 'const', edit)`` (LevenshteinDistance.getDistance =
    1 - edits/longerLen), combined as a sort score."""
    from solr_spark.query.rerank import ord_func, strdist

    cust = _t(spark, sf_dir, "customer")
    cust = ord_func(cust, "c_mktsegment", reverse=True, out="rord")
    sim = strdist(F.col("c_name"), F.lit("Customer#000000100"))
    return (
        cust.select(
            "c_custkey",
            scaled(F.col("rord") + F.lit(10.0) * sim).alias("score_x10k"),
        )
        .orderBy(F.col("score_x10k").desc(), F.col("c_custkey").asc())
        .limit(10)
    )


@register(
    "lucene_query_parser",
    f"""
WITH {TOKS}, {TF}, {DL},
qt(term) AS (VALUES ('spark'), ('join')),
dfs AS (SELECT term, count(*) AS df FROM tf WHERE term IN (SELECT term FROM qt) GROUP BY term),
w AS (SELECT term, ln(1 + ({NDOCS} - df + 0.5) / (df + 0.5)) AS w FROM dfs),
hits AS (
  SELECT tf.doc_id,
         sum(w.w * tf.tf / (tf.tf + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dl.dl / {AVGDL}))) AS s,
         count(*) AS nm
  FROM tf JOIN w USING (term) JOIN dl USING (doc_id)
  GROUP BY tf.doc_id),
filtered AS (
  SELECT h.doc_id, h.s FROM hits h
  JOIN documents d USING (doc_id)
  WHERE h.nm = 2 AND d.lang = 'en'
        AND h.doc_id NOT IN (SELECT DISTINCT doc_id FROM tf WHERE term = 'slow'))
SELECT doc_id, {_sql_scaled('s')} AS score_x10k FROM filtered
ORDER BY score_x10k DESC, doc_id ASC LIMIT 10
""",
)
def lucene_query_parser(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full grammar: `+spark +join -slow lang:en` through parse_query/search."""
    from solr_spark.query.parser import search

    idx, _, _ = documents_index(spark, sf_dir)
    out = search(idx, "+spark +join -slow lang:en", k=10)
    return (
        out.select(F.col("docid").alias("doc_id"), scaled("score").alias("score_x10k"))
        .orderBy(F.col("score_x10k").desc(), F.col("doc_id").asc())
        .limit(10)
    )


@register(
    "bool_query_parser",
    f"""
WITH {TOKS}, {TF}, {DL},
qt(term) AS (VALUES ('data'), ('spark')),
dfs AS (SELECT term, count(*) AS df FROM tf WHERE term IN (SELECT term FROM qt) GROUP BY term),
w AS (SELECT term, ln(1 + ({NDOCS} - df + 0.5) / (df + 0.5)) AS w FROM dfs),
sc AS (
  SELECT tf.doc_id,
         sum(w.w * tf.tf / (tf.tf + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dl.dl / {AVGDL}))) AS s
  FROM tf JOIN w USING (term) JOIN dl USING (doc_id)
  GROUP BY tf.doc_id),
filtered AS (
  SELECT sc.doc_id, sc.s FROM sc
  JOIN (SELECT DISTINCT doc_id FROM tf WHERE term = 'data') m USING (doc_id)
  JOIN documents d USING (doc_id)
  WHERE d.lang = 'en'
        AND sc.doc_id NOT IN (SELECT DISTINCT doc_id FROM tf WHERE term = 'merge'))
SELECT doc_id, {_sql_scaled('s')} AS score_x10k FROM filtered
ORDER BY score_x10k DESC, doc_id ASC LIMIT 10
""",
)
def bool_query_parser_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`{{!bool must=data should=spark must_not=merge filter=lang:en}}`
    (search/BoolQParserPlugin.java): MUST scores + restricts, SHOULD adds
    score on match, FILTER restricts without scoring, MUST_NOT excludes —
    each sub-query its own Lucene-grammar stream, composed with one
    union+groupBy and semi/anti joins."""
    from solr_spark.query.boolq import bool_query

    idx, _, _ = documents_index(spark, sf_dir)
    out = bool_query(
        idx, must=["data"], should=["spark"], must_not=["merge"],
        filter=["lang:en"], k=10,
    )
    return (
        out.select(F.col("docid").alias("doc_id"), scaled("score").alias("score_x10k"))
        .orderBy(F.col("score_x10k").desc(), F.col("doc_id").asc())
        .limit(10)
    )


@register(
    "json_request_api",
    f"""
WITH {TOKS}, {TF}, {DL},
qt(term) AS (VALUES ('data'), ('spark')),
dfs AS (SELECT term, count(*) AS df FROM tf WHERE term IN (SELECT term FROM qt) GROUP BY term),
w AS (SELECT term, ln(1 + ({NDOCS} - df + 0.5) / (df + 0.5)) AS w FROM dfs),
sc AS (
  SELECT tf.doc_id,
         sum(w.w * tf.tf / (tf.tf + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dl.dl / {AVGDL}))) AS s
  FROM tf JOIN w USING (term) JOIN dl USING (doc_id)
  GROUP BY tf.doc_id),
filtered AS (
  SELECT sc.doc_id, sc.s FROM sc
  JOIN (SELECT DISTINCT doc_id FROM tf WHERE term = 'data') m USING (doc_id)
  JOIN documents d USING (doc_id)
  WHERE d.lang = 'en'
        AND sc.doc_id NOT IN (SELECT DISTINCT doc_id FROM tf WHERE term = 'merge'))
SELECT doc_id, {_sql_scaled('s')} AS score_x10k FROM filtered
ORDER BY score_x10k DESC, doc_id ASC LIMIT 10
""",
)
def json_request_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON Request API (json-request-api.adoc / json-query-dsl.adoc;
    RequestUtil.java + JsonQueryConverter.java): the JSON body lowered onto
    the shared bool/lucene engine. This request is the JSON spelling of the
    `bool_query_parser` entry's string request — same oracle, proving the
    two front-ends cannot drift."""
    from solr_spark.query.jsonq import json_query_search

    idx, _, _ = documents_index(spark, sf_dir)
    out = json_query_search(idx, {
        "query": {"bool": {
            "must": ["data"],
            "should": [{"lucene": {"query": "spark"}}],
            "must_not": ["merge"],
        }},
        "filter": ["lang:en"],
        "limit": 10,
    })
    return (
        out.select(F.col("docid").alias("doc_id"), scaled("score").alias("score_x10k"))
        .orderBy(F.col("score_x10k").desc(), F.col("doc_id").asc())
        .limit(10)
    )


@register(
    "xml_query_parser",
    f"""
WITH {TOKS}, {TF}, {DL},
qt(term) AS (VALUES ('data'), ('spark')),
dfs AS (SELECT term, count(*) AS df FROM tf WHERE term IN (SELECT term FROM qt) GROUP BY term),
w AS (SELECT term, ln(1 + ({NDOCS} - df + 0.5) / (df + 0.5)) AS w FROM dfs),
per AS (
  SELECT tf.doc_id,
         w.w * tf.tf / (tf.tf + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dl.dl / {AVGDL})) AS s
  FROM tf JOIN w USING (term) JOIN dl USING (doc_id)),
sc AS (SELECT doc_id, max(s) + 0.1 * (sum(s) - max(s)) AS s FROM per GROUP BY doc_id),
filtered AS (
  SELECT sc.doc_id, sc.s FROM sc JOIN documents d USING (doc_id)
  WHERE d.n_chars BETWEEN 100 AND 2000
        AND sc.doc_id NOT IN (SELECT DISTINCT doc_id FROM tf WHERE term = 'merge'))
SELECT doc_id, {_sql_scaled('s')} AS score_x10k FROM filtered
ORDER BY score_x10k DESC, doc_id ASC LIMIT 10
""",
)
def xml_query_parser_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`{{!xmlparser}}` (search/XmlQParserPlugin.java / Lucene CoreParser):
    a BooleanQuery whose MUST clause is a DisjunctionMaxQuery
    (tieBreaker=0.1) over two TermQuery leaves, a mustnot TermQuery, and a
    filter RangeQuery on a stored field — the XML tree compiles once,
    driver-side, into the same keyed-aggregation streams as the string
    parsers."""
    from solr_spark.query.xmlq import xml_query

    idx, _, _ = documents_index(spark, sf_dir)
    q = """
    <BooleanQuery>
      <Clause occurs="must">
        <DisjunctionMaxQuery tieBreaker="0.1">
          <TermQuery>data</TermQuery>
          <TermQuery>spark</TermQuery>
        </DisjunctionMaxQuery>
      </Clause>
      <Clause occurs="mustnot"><TermQuery>merge</TermQuery></Clause>
      <Clause occurs="filter">
        <RangeQuery fieldName="n_chars" lowerTerm="100" upperTerm="2000"/>
      </Clause>
    </BooleanQuery>
    """
    out = xml_query(idx, q, k=10)
    return (
        out.select(F.col("docid").alias("doc_id"), scaled("score").alias("score_x10k"))
        .orderBy(F.col("score_x10k").desc(), F.col("doc_id").asc())
        .limit(10)
    )


@register(
    "fuzzy_query",
    f"""
WITH {TOKS}, {TF}, {DL},
dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
cand AS (
  SELECT term, df FROM dfs
  WHERE abs(length(term) - 5) <= 2 AND damerau_levenshtein(term, 'tabel') <= 2
  ORDER BY damerau_levenshtein(term, 'tabel') ASC, df DESC, term ASC LIMIT 50),
w AS (SELECT term, ln(1 + ({NDOCS} - df + 0.5) / (df + 0.5)) AS w FROM cand),
scored AS (
  SELECT tf.doc_id,
         sum(w.w * tf.tf / (tf.tf + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dl.dl / {AVGDL}))) AS s
  FROM tf JOIN w USING (term) JOIN dl USING (doc_id)
  GROUP BY tf.doc_id)
SELECT doc_id, {_sql_scaled('s')} AS score_x10k FROM scored
ORDER BY score_x10k DESC, doc_id ASC LIMIT 10
""",
)
def fuzzy_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FuzzyQuery `tabel~2`: bounded dictionary probe (length band +
    thresholded prefilter + exact Damerau, transpositions=1 edit) capped at maxExpansions=50 best terms
    (dist asc, df desc, term asc — Lucene's top-terms order), each
    BM25-scored (query/expand.py).

    The inner search ranks by RAW score (Lucene semantics); the oracle
    ranks by the x10k-quantized score. At sf0.1 two docs straddle the
    k=10 boundary with raw scores 1.9e-05 apart that quantize EQUAL, so
    the two orderings pick different docs. The entry therefore takes a
    headroom top-30 raw and applies the oracle's exact (scaled desc,
    doc_id asc) order over it (``_top10_over_headroom``, which raises if
    the headroom is too small)."""
    from solr_spark.query.parser import search

    idx, _, _ = documents_index(spark, sf_dir)
    return _top10_over_headroom(search(idx, "tabel~2", k=30), 30)


def _top10_over_headroom(out: DataFrame, headroom: int) -> DataFrame:
    """The oracle's top 10 (score_x10k desc, doc_id asc) of a search's raw
    top-``headroom`` ``out`` (docid, score). Sound only while every doc
    whose scaled score ties the 10th lies inside the raw top-``headroom``;
    when that tie group reaches the last raw rank, a doc past it may tie
    too, so this raises instead of answering."""
    got = out.select(F.col("docid").alias("doc_id"), scaled("score").alias("score_x10k"))
    rows = got.collect()
    top = sorted(rows, key=lambda r: (-r.score_x10k, r.doc_id))[:10]
    if len(rows) == headroom and len(top) == 10 and min(
        r.score_x10k for r in rows
    ) == top[-1].score_x10k:
        raise RuntimeError(
            f"quantized-score tie group at rank 10 reaches raw rank {headroom}: "
            "the headroom is too small to order it like the oracle"
        )
    return out.sparkSession.createDataFrame(top, got.schema)


@register(
    "prefix_query",
    f"""
WITH {TOKS}, {TF}, {DL},
w AS (SELECT 'spark' AS term, ln(1 + ({NDOCS} - df + 0.5) / (df + 0.5)) AS w
      FROM (SELECT count(*) AS df FROM tf WHERE term = 'spark')),
contrib AS (
  SELECT tf.doc_id,
         w.w * tf.tf / (tf.tf + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dl.dl / {AVGDL})) AS c
  FROM tf JOIN w USING (term) JOIN dl USING (doc_id)
  UNION ALL
  SELECT DISTINCT doc_id, 1.0 AS c FROM toks WHERE term LIKE 'tabl%'),
scored AS (SELECT doc_id, sum(c) AS s FROM contrib GROUP BY doc_id)
SELECT doc_id, {_sql_scaled('s')} AS score_x10k FROM scored
ORDER BY score_x10k DESC, doc_id ASC LIMIT 10
""",
)
def prefix_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`spark tabl*`: BM25 term + constant-score prefix — the prefix
    contributes its boost ONCE per matching doc (Lucene
    CONSTANT_SCORE_REWRITE bitset), via a pushed-down startswith postings
    stream with no dictionary expansion (query/expand.py)."""
    from solr_spark.query.parser import search

    idx, _, _ = documents_index(spark, sf_dir)
    out = search(idx, "spark tabl*", k=10)
    return (
        out.select(F.col("docid").alias("doc_id"), scaled("score").alias("score_x10k"))
        .orderBy(F.col("score_x10k").desc(), F.col("doc_id").asc())
        .limit(10)
    )


# Position-aware tokens: pos numbers the NON-EMPTY tokens 0-based per doc —
# the same numbering the simple analyzer chain produces for stored positions.
TOKP = (
    "tokp AS (SELECT doc_id, term, "
    "row_number() OVER (PARTITION BY doc_id ORDER BY rawpos) - 1 AS pos "
    "FROM (SELECT doc_id, unnest(arr) AS term, "
    "generate_subscripts(arr, 1) AS rawpos FROM "
    "(SELECT doc_id, regexp_split_to_array(lower(text), '[^a-z0-9]+') AS arr "
    "FROM documents)) WHERE term <> '')"
)


def _phrase_sql(terms: list[str], slop: int, k: int = 10) -> str:
    """Oracle for PhraseQuery BM25: tf = number of in-order matches within
    the (n-1)+slop window (exact adjacency when slop=0), idf = Σ member
    idfs — the same semantics query/phrase.py implements."""
    n = len(terms)
    window = n - 1 + slop
    if slop == 0:
        joins = " ".join(
            f"JOIN tokp t{i} ON t{i}.doc_id = t0.doc_id AND "
            f"t{i}.term = '{terms[i]}' AND t{i}.pos = t0.pos + {i}"
            for i in range(1, n)
        )
        match_cte = f"""
matches AS (
  SELECT t0.doc_id, count(*) AS tfp
  FROM tokp t0 {joins}
  WHERE t0.term = '{terms[0]}'
  GROUP BY t0.doc_id)"""
    else:
        # in-order within window: nested EXISTS mirroring phrase_tf_col
        cond = "TRUE"
        for i in range(n - 1, 0, -1):
            cond = (
                f"EXISTS (SELECT 1 FROM tokp t{i} WHERE "
                f"t{i}.doc_id = t0.doc_id AND t{i}.term = '{terms[i]}' "
                f"AND t{i}.pos > {'t0' if i == 1 else f't{i-1}'}.pos "
                f"AND t{i}.pos - t0.pos <= {window} AND {cond})"
            )
        match_cte = f"""
matches AS (
  SELECT t0.doc_id, count(*) AS tfp
  FROM tokp t0
  WHERE t0.term = '{terms[0]}' AND {cond}
  GROUP BY t0.doc_id)"""
    tlist = ", ".join(f"('{t}')" for t in sorted(set(terms)))
    return f"""
WITH {TOKS}, {TF}, {DL}, {TOKP}, {match_cte},
qt(term) AS (VALUES {tlist}),
dfs AS (SELECT term, count(*) AS df FROM tf
        WHERE term IN (SELECT term FROM qt) GROUP BY term),
w AS (SELECT sum(ln(1 + ({NDOCS} - df + 0.5) / (df + 0.5))) AS w FROM dfs),
scored AS (
  SELECT m.doc_id,
         (SELECT w FROM w) * m.tfp /
         (m.tfp + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dl.dl / {AVGDL})) AS s
  FROM matches m JOIN dl ON dl.doc_id = m.doc_id)
SELECT doc_id, {_sql_scaled('s')} AS score_x10k FROM scored
ORDER BY score_x10k DESC, doc_id ASC LIMIT {k}
"""


def _sloppy2_sql(terms: list[str], slop: int, k: int = 10) -> str:
    """Oracle for a TWO-term SLOPPY PhraseQuery — simulates Lucene's
    SloppyPhraseMatcher greedy sweep (the exact loop query/sloppy.py
    implements: offset-adjusted positions, matchLength minimization,
    1/(1+matchLength) weights) in a recursive CTE, then BM25 with the
    float freq. Out-of-order arrangements within the slop match, exactly
    like the engine."""
    assert len(terms) == 2, "recursive-CTE oracle covers the 2-term case"
    t0, t1 = terms
    return f"""
WITH RECURSIVE {TOKS}, {TF}, {DL}, {TOKP},
pa AS (SELECT doc_id, list(pos ORDER BY pos) AS a FROM tokp
       WHERE term = '{t0}' GROUP BY doc_id),
pb AS (SELECT doc_id, list(pos - 1 ORDER BY pos) AS b FROM tokp
       WHERE term = '{t1}' GROUP BY doc_id),
both_t AS (SELECT pa.doc_id, a, b FROM pa JOIN pb USING (doc_id)),
step AS (
  SELECT doc_id, a, b, 1 AS i, 1 AS j,
         greatest(a[1], b[1]) AS e,
         greatest(a[1], b[1]) - least(a[1], b[1]) AS ml,
         CASE WHEN a[1] <= b[1] THEN 0 ELSE 1 END AS cur,
         CASE WHEN a[1] <= b[1] THEN b[1] ELSE a[1] END AS nxt,
         0.0::DOUBLE AS freq, FALSE AS done
  FROM both_t
  UNION ALL
  SELECT doc_id, a, b,
         CASE WHEN cur = 0 THEN i + 1 ELSE i END,
         CASE WHEN cur = 1 THEN j + 1 ELSE j END,
         CASE WHEN adv IS NULL THEN e ELSE greatest(e, adv) END,
         CASE WHEN adv IS NULL THEN ml
              WHEN adv > nxt THEN greatest(e, adv) - least(adv, nxt)
              ELSE least(ml, greatest(e, adv) - adv) END,
         CASE WHEN adv IS NULL THEN cur
              WHEN adv > nxt THEN
                CASE WHEN (CASE WHEN cur = 0 THEN adv ELSE nxt END)
                       <= (CASE WHEN cur = 1 THEN adv ELSE nxt END)
                     THEN 0 ELSE 1 END
              ELSE cur END,
         CASE WHEN adv IS NULL THEN nxt
              WHEN adv > nxt THEN greatest(adv, nxt)
              ELSE nxt END,
         CASE WHEN adv IS NULL OR adv > nxt THEN
                freq + CASE WHEN ml <= {slop} THEN 1.0 / (1.0 + ml) ELSE 0.0 END
              ELSE freq END,
         (adv IS NULL)
  FROM (
    SELECT *, CASE WHEN cur = 0 THEN a[i + 1] ELSE b[j + 1] END AS adv
    FROM step WHERE NOT done
  )
),
matches AS (SELECT doc_id, freq AS tfp FROM step WHERE done AND freq > 0),
qt(term) AS (VALUES ('{t0}'), ('{t1}')),
dfs AS (SELECT term, count(*) AS df FROM tf
        WHERE term IN (SELECT term FROM qt) GROUP BY term),
w AS (SELECT sum(ln(1 + ({NDOCS} - df + 0.5) / (df + 0.5))) AS w FROM dfs),
scored AS (
  SELECT m.doc_id,
         (SELECT w FROM w) * m.tfp /
         (m.tfp + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dl.dl / {AVGDL})) AS s
  FROM matches m JOIN dl ON dl.doc_id = m.doc_id)
SELECT doc_id, {_sql_scaled('s')} AS score_x10k FROM scored
ORDER BY score_x10k DESC, doc_id ASC LIMIT {k}
"""


def _sloppyn_sql(terms: list[str], slop: int, k: int = 10) -> str:
    """Oracle for an n-DISTINCT-term SLOPPY PhraseQuery — the same greedy
    sweep as ``_sloppy2_sql`` generalized to n iterators: every head is
    carried explicitly in the recursive state and the priority-queue pop
    becomes an argmin CASE over the heads (offsets are the slot order
    0..n-1, so PhraseQueue.lessThan's offset tiebreak == lowest slot
    index). Verifies the engine's n-iterator JVM fold (sloppyn_tf_expr)
    and the physical path's batched numpy sweep end-to-end."""
    n = len(terms)
    assert n >= 3, "use _sloppy2_sql for the 2-term case"
    hs = [f"h{i}" for i in range(n)]
    ls = [f"p{i}" for i in range(n)]
    ptr = [f"i{i}" for i in range(n)]
    lists = ",\n".join(
        f"{ls[i]}_t AS (SELECT doc_id, list(pos - {i} ORDER BY pos) AS {ls[i]} "
        f"FROM tokp WHERE term = '{terms[i]}' GROUP BY doc_id)"
        for i in range(n)
    )
    alln = "alln AS (SELECT " + ls[0] + "_t.doc_id, " + ", ".join(ls) + \
        " FROM " + ls[0] + "_t " + " ".join(
            f"JOIN {ls[i]}_t USING (doc_id)" for i in range(1, n)) + ")"

    def argmin(names: list[str]) -> str:
        # index of the minimum head, lowest slot on ties
        cases = []
        for i in range(n - 1):
            conds = " AND ".join(
                f"{names[i]} <= {names[j]}" for j in range(i + 1, n)
            )
            cases.append(f"WHEN {conds} THEN {i}")
        return "CASE " + " ".join(cases) + f" ELSE {n - 1} END"

    def minof(names: list[str]) -> str:
        return "least(" + ", ".join(names) + ")"

    heads0 = [f"{ls[i]}[1]" for i in range(n)]
    anchor = (
        "SELECT doc_id, " + ", ".join(ls) + ", "
        + ", ".join(f"1 AS {p}" for p in ptr) + ", "
        + ", ".join(f"{heads0[i]} AS {hs[i]}" for i in range(n)) + ", "
        + f"greatest({', '.join(heads0)}) AS e, "
        + f"({argmin(heads0)}) AS cur, "
        + f"greatest({', '.join(heads0)}) - {minof(heads0)} AS ml, "
        + "0.0::DOUBLE AS freq, FALSE AS done FROM alln"
    )
    adv = ("CASE cur " + " ".join(
        f"WHEN {i} THEN {ls[i]}[{ptr[i]} + 1]" for i in range(n - 1)
    ) + f" ELSE {ls[n - 1]}[{ptr[n - 1]} + 1] END")
    nxt = ("CASE cur " + " ".join(
        f"WHEN {i} THEN {minof([hs[j] for j in range(n) if j != i])}"
        for i in range(n - 1)
    ) + f" ELSE {minof([hs[j] for j in range(n - 1)])} END")
    nhs = [f"nh{i}" for i in range(n)]
    nh_defs = ", ".join(
        f"CASE WHEN adv IS NOT NULL AND cur = {i} THEN adv ELSE {hs[i]} END"
        f" AS {nhs[i]}"
        for i in range(n)
    )
    newmin = argmin(nhs)
    newminval = ("CASE " + " ".join(
        f"WHEN ({newmin}) = {i} THEN {nhs[i]}" for i in range(n - 1)
    ) + f" ELSE {nhs[n - 1]} END")
    add = f"CASE WHEN ml <= {slop} THEN 1.0 / (1.0 + ml) ELSE 0.0 END"
    recur = (
        "SELECT doc_id, " + ", ".join(ls) + ", "
        + ", ".join(
            f"CASE WHEN adv IS NOT NULL AND cur = {i} THEN {ptr[i]} + 1 "
            f"ELSE {ptr[i]} END" for i in range(n)
        ) + ", "
        + ", ".join(nhs) + ", ne AS e, "
        + ("CASE WHEN adv IS NULL THEN cur "
           f"WHEN adv > nxt THEN ({newmin}) ELSE cur END") + ", "
        + ("CASE WHEN adv IS NULL THEN ml "
           f"WHEN adv > nxt THEN ne - ({newminval}) "
           "ELSE least(ml, ne - adv) END") + ", "
        + f"CASE WHEN adv IS NULL OR adv > nxt THEN freq + {add} "
          "ELSE freq END, "
        + "(adv IS NULL) "
        + "FROM (SELECT *, "
        + nh_defs + ", "
        + "CASE WHEN adv IS NULL THEN e ELSE greatest(e, adv) END AS ne "
        + f"FROM (SELECT *, {adv} AS adv, {nxt} AS nxt "
          "FROM step WHERE NOT done))"
    )
    tlist = ", ".join(f"('{t}')" for t in terms)
    return f"""
WITH RECURSIVE {TOKS}, {TF}, {DL}, {TOKP},
{lists},
{alln},
step AS (
  {anchor}
  UNION ALL
  {recur}
),
matches AS (SELECT doc_id, freq AS tfp FROM step WHERE done AND freq > 0),
qt(term) AS (VALUES {tlist}),
dfs AS (SELECT term, count(*) AS df FROM tf
        WHERE term IN (SELECT term FROM qt) GROUP BY term),
w AS (SELECT sum(ln(1 + ({NDOCS} - df + 0.5) / (df + 0.5))) AS w FROM dfs),
scored AS (
  SELECT m.doc_id,
         (SELECT w FROM w) * m.tfp /
         (m.tfp + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dl.dl / {AVGDL})) AS s
  FROM matches m JOIN dl ON dl.doc_id = m.doc_id)
SELECT doc_id, {_sql_scaled('s')} AS score_x10k FROM scored
ORDER BY score_x10k DESC, doc_id ASC LIMIT {k}
"""


def _mk_phrase(qs: str, slop: int):
    def _fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from solr_spark.query.phrase import phrase_topk

        idx, _, _ = documents_index(spark, sf_dir)
        out = phrase_topk(idx, qs, k=10, slop=slop, quantize_norms=False)
        return (
            out.select(
                F.col("docid").alias("doc_id"), scaled("score").alias("score_x10k")
            )
            .orderBy(F.col("score_x10k").desc(), F.col("doc_id").asc())
            .limit(10)
        )

    return _fn


CATALOG["phrase_adjacency"] = Entry(
    fn=_mk_phrase("part filter scan", 0),
    sql=_phrase_sql(analyze("part filter scan", "simple"), 0),
)


@register("field_query_phrase", _phrase_sql(analyze("Fast, MERGE!", "simple"), 0))
def field_query_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`{!field f=text}Fast, MERGE!` (FieldQParserPlugin.java): the value
    is ANALYZED (punctuation stripped, lowercased) and, being multi-token,
    becomes an exact adjacent PhraseQuery — closing the thin-parser
    registry tail with {!raw}/{!query}/{!filters}
    (query/thinparsers.py)."""
    from solr_spark.query.thinparsers import field_query

    idx, _, _ = documents_index(spark, sf_dir)
    out = field_query(idx, "Fast, MERGE!", analyzer="simple", k=10)
    return (
        out.select(F.col("docid").alias("doc_id"), scaled("score").alias("score_x10k"))
        .orderBy(F.col("score_x10k").desc(), F.col("doc_id").asc())
    )


@register(
    "filters_tagged_fq",
    """
SELECT doc_id, lang, n_chars FROM documents
WHERE lang = 'en' AND n_chars >= 200
ORDER BY doc_id LIMIT 20
""",
)
def filters_tagged_fq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`{!filters param=$fqs excludeTags=SRC}` (FiltersQParserPlugin.java):
    AND of the tagged fq list minus the excluded tag; conjunctive column
    predicates Catalyst pushes into one scan."""
    from solr_spark.query.thinparsers import filters_query

    d = _t(spark, sf_dir, "documents")
    out = filters_query(
        d,
        {"LANG": F.col("lang") == "en",
         "LEN": F.col("n_chars") >= 200,
         "SRC": F.col("source").startswith("src1")},
        exclude_tags=("SRC",),
    )
    return out.select("doc_id", "lang", "n_chars").orderBy("doc_id").limit(20)
# Sloppy PhraseQuery entries (Lucene SloppyPhraseMatcher semantics): the
# in-order case plus the TRANSPOSED case — "join spark"~2 must match docs
# whose text reads "spark join" (matchLength 2, weight 1/3).
for _qname, _qstr, _slop in [
    ("phrase_slop", "spark join", 2),
    ("phrase_slop_transposed", "join spark", 2),
]:
    CATALOG[_qname] = Entry(
        fn=_mk_phrase(_qstr, _slop),
        sql=_sloppy2_sql(analyze(_qstr, "simple"), _slop),
    )

# 3-term sloppy phrase: exercises the n-iterator JVM fold (logical path)
# against the n-iterator recursive-CTE sweep oracle.
CATALOG["phrase_slop_3term"] = Entry(
    fn=_mk_phrase("part filter scan", 2),
    sql=_sloppyn_sql(analyze("part filter scan", "simple"), 2),
)


_IDF = f"ln(1 + ({NDOCS} - {{d}} + 0.5) / ({{d}} + 0.5))"


@register(
    "complexphrase_wildcard",
    f"""
WITH {TOKS}, {TF}, {DL}, {TOKP},
m AS (
  SELECT t0.doc_id, count(*) AS tfp
  FROM tokp t0
  JOIN tokp t1 ON t1.doc_id = t0.doc_id AND t1.term LIKE 'filt%' AND t1.pos = t0.pos + 1
  JOIN tokp t2 ON t2.doc_id = t0.doc_id AND t2.term = 'scan' AND t2.pos = t0.pos + 2
  WHERE t0.term = 'part'
  GROUP BY t0.doc_id),
dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
w AS (SELECT
  (SELECT {_IDF.format(d='df')} FROM dfs WHERE term = 'part')
  + (SELECT {_IDF.format(d='s')} FROM (SELECT sum(df) AS s FROM dfs WHERE term LIKE 'filt%'))
  + (SELECT {_IDF.format(d='df')} FROM dfs WHERE term = 'scan') AS w),
scored AS (
  SELECT m.doc_id,
         (SELECT w FROM w) * m.tfp /
         (m.tfp + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dl.dl / {AVGDL})) AS s
  FROM m JOIN dl ON dl.doc_id = m.doc_id)
SELECT doc_id, {_sql_scaled('s')} AS score_x10k FROM scored
ORDER BY score_x10k DESC, doc_id ASC LIMIT 10
""",
)
def complexphrase_wildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`{!complexphrase}` wildcard-in-phrase: "part filt* scan" as a
    SpanNear of a SpanOr slot (ComplexPhraseQParserPlugin.java)."""
    from solr_spark.query.phrase import complex_phrase_topk

    idx, _, _ = documents_index(spark, sf_dir)
    out = complex_phrase_topk(idx, "part filt* scan", k=10, quantize_norms=False)
    return (
        out.select(
            F.col("docid").alias("doc_id"), scaled("score").alias("score_x10k")
        )
        .orderBy(F.col("score_x10k").desc(), F.col("doc_id").asc())
        .limit(10)
    )


@register(
    "span_near_unordered",
    f"""
WITH {TOKS}, {TOKP}
SELECT DISTINCT a.doc_id
FROM tokp a JOIN tokp b
  ON b.doc_id = a.doc_id AND abs(a.pos - b.pos) <= 2 AND a.pos <> b.pos
WHERE a.term = 'spark' AND b.term = 'join'
ORDER BY a.doc_id LIMIT 50
""",
)
def span_near_unordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """surround `2N(spark, join)` — UNORDERED span-near within a window
    (SurroundQParserPlugin; Lucene SpanNearQuery inOrder=false). The doc
    set is oracle-checked; window counts are pytest-verified."""
    from solr_spark.query.phrase import span_near_df

    idx, _, _ = documents_index(spark, sf_dir)
    out = span_near_df(idx, ["spark", "join"], slop=1, ordered=False)
    return (
        out.select(F.col("docid").alias("doc_id"))
        .orderBy("doc_id")
        .limit(50)
    )


def _phrase_quant_sql(terms: list[str], slop: int, k: int = 10) -> str:
    """Phrase oracle with Lucene's lossy 1-byte norm (the physical path
    scores with the quantized dl, like wand_bm25_*)."""
    base = _phrase_sql(terms, slop, k)
    # swap exact dl for the SmallFloat-quantized dl in the scoring CTE
    return base.replace(
        f"{DL},",
        f"{DL}, qmap(v) AS (VALUES {_quant_sql_values()}), "
        "dlq AS (SELECT doc_id, (SELECT max(v) FROM qmap WHERE v <= dl.dl) "
        "AS dl FROM dl),",
    ).replace(
        "FROM matches m JOIN dl ON dl.doc_id = m.doc_id",
        "FROM matches m JOIN dlq dl ON dl.doc_id = m.doc_id",
    )


@register("wand_phrase_adjacency", None)  # sql filled below (needs helpers)
def wand_phrase_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PhraseQuery over the COMPRESSED physical segments: decode postings +
    positions blobs, ordinal-conjunction then position check
    (query/wand.py phrase_topk). Same result contract as phrase_adjacency
    but through the segment codec with quantized norms."""
    from solr_spark.query.wand import wand_phrase_topk

    d = _phys_index_dir(spark, sf_dir)
    out = wand_phrase_topk(spark, d, "part filter scan", k=10)
    return (
        out.select(
            F.col("docid").alias("doc_id"), scaled("score").alias("score_x10k")
        )
        .orderBy(F.col("score_x10k").desc(), F.col("doc_id").asc())
        .limit(10)
    )


CATALOG["wand_phrase_adjacency"].sql = _phrase_quant_sql(
    analyze("part filter scan", "simple"), 0
)


def _edismax_pf_sql(lang: str | None = None) -> str:
    """Oracle for edismax: BM25 main query + additive phrase boosts
    (pf whole-phrase ×2.0, pf2 bigrams ×1.5) on 'part filter scan'.
    ``lang`` adds an fq-style restriction (FilterQuery: restricts the
    match set before the top-k, never scores)."""
    terms = ["part", "filter", "scan"]
    k1, b1 = K1_DEFAULT, B_DEFAULT
    norm = f"({k1} * ({1.0 - b1} + {b1} * dl.dl / {AVGDL}))"

    def phrase_cte(tag: str, gram: list[str], boost: float) -> str:
        joins = " ".join(
            f"JOIN tokp {tag}_t{i} ON {tag}_t{i}.doc_id = {tag}_t0.doc_id "
            f"AND {tag}_t{i}.term = '{gram[i]}' "
            f"AND {tag}_t{i}.pos = {tag}_t0.pos + {i}"
            for i in range(1, len(gram))
        )
        wsum = " + ".join(
            f"ln(1 + ({NDOCS} - (SELECT df FROM dfs WHERE term='{t}') + 0.5) / "
            f"((SELECT df FROM dfs WHERE term='{t}') + 0.5))"
            for t in gram
        )
        norm2 = f"({k1} * ({1.0 - b1} + {b1} * dl2.dl / {AVGDL}))"
        return (
            f"{tag}_m AS (SELECT {tag}_t0.doc_id, count(*) AS tfp "
            f"FROM tokp {tag}_t0 {joins} WHERE {tag}_t0.term = '{gram[0]}' "
            f"GROUP BY {tag}_t0.doc_id), "
            f"{tag} AS (SELECT m.doc_id, {boost} * ({wsum}) * m.tfp / "
            f"(m.tfp + {norm2}) AS s "
            f"FROM {tag}_m m JOIN dl dl2 ON dl2.doc_id = m.doc_id)"
        )
    # build phrase CTEs: pf (whole query, x2.0), pf2 bigrams (x1.5)
    ctes = [
        phrase_cte("pfq", terms, 2.0),
        phrase_cte("pf2a", terms[0:2], 1.5),
        phrase_cte("pf2b", terms[1:3], 1.5),
    ]
    tlist = ", ".join(f"('{t}')" for t in terms)
    fq_join = (
        f"JOIN documents fdoc ON fdoc.doc_id = main.doc_id "
        f"AND fdoc.lang = '{lang}'" if lang else ""
    )
    return f"""
WITH {TOKS}, {TF}, {DL}, {TOKP},
qt(term) AS (VALUES {tlist}),
dfs AS (SELECT term, count(*) AS df FROM tf
        WHERE term IN (SELECT term FROM qt) GROUP BY term),
w AS (SELECT term, ln(1 + ({NDOCS} - df + 0.5) / (df + 0.5)) AS w FROM dfs),
main AS (
  SELECT tf.doc_id,
         sum(w.w * tf.tf / (tf.tf + {norm})) AS s
  FROM tf JOIN w USING (term) JOIN dl USING (doc_id)
  GROUP BY tf.doc_id),
{', '.join(ctes)}
SELECT main.doc_id,
       {_sql_scaled('main.s + coalesce(pfq.s, 0) + coalesce(pf2a.s, 0) + coalesce(pf2b.s, 0)')} AS score_x10k
FROM main
{fq_join}
LEFT JOIN pfq ON pfq.doc_id = main.doc_id
LEFT JOIN pf2a ON pf2a.doc_id = main.doc_id
LEFT JOIN pf2b ON pf2b.doc_id = main.doc_id
ORDER BY score_x10k DESC, main.doc_id ASC LIMIT 10
"""


@register("edismax_pf", None)  # sql attached below
def edismax_pf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """edismax (ExtendedDismaxQParser.java:73,101-152): main dismax query
    plus additive pf whole-phrase and pf2 bigram boosts over text."""
    from solr_spark.query.edismax import edismax_search

    idx, _, _ = documents_index(spark, sf_dir)
    out = edismax_search(
        {"text": idx}, "part filter scan",
        qf={"text": 1.0}, pf={"text": 2.0}, pf2={"text": 1.5}, k=10,
    )
    return (
        out.select(
            F.col("docid").alias("doc_id"), scaled("score").alias("score_x10k")
        )
        .orderBy(F.col("score_x10k").desc(), F.col("doc_id").asc())
        .limit(10)
    )


CATALOG["edismax_pf"].sql = _edismax_pf_sql()


@register("json_edismax_node", None)  # sql attached below
def json_edismax_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON Request API edismax query node (json-query-dsl.adoc;
    JsonQueryConverter.java routes any registered parser as a JSON node):
    the JSON spelling of the `edismax_pf` string request plus a top-level
    single-string ``filter`` (the reference accepts a bare node where a
    list is allowed — RequestUtil.java flattens both shapes). Same phrase
    boosts as `edismax_pf`, restricted to lang:en by the fq; proves the
    JSON node cannot drift from the string front-end."""
    from solr_spark.query.jsonq import json_query_search

    idx, _, _ = documents_index(spark, sf_dir)
    out = json_query_search(idx, {
        "query": {"edismax": {
            "query": "part filter scan",
            "qf": "text",
            "pf": "text^2.0",
            "pf2": "text^1.5",
        }},
        "filter": "lang:en",  # single node, not a list — RequestUtil shape
        "limit": 10,
    })
    return (
        out.select(
            F.col("docid").alias("doc_id"), scaled("score").alias("score_x10k")
        )
        .orderBy(F.col("score_x10k").desc(), F.col("doc_id").asc())
        .limit(10)
    )


CATALOG["json_edismax_node"].sql = _edismax_pf_sql(lang="en")


@register(
    "json_dismax_node",
    f"""
WITH {TOKS}, {TF}, {DL}, {_SRC_TOKS},
stf AS (SELECT doc_id, term, count(*) AS tf FROM stoks GROUP BY doc_id, term),
sdl AS (SELECT doc_id, count(*) AS dl FROM stoks GROUP BY doc_id),
qt(term) AS (VALUES ('spark'), ('src3')),
tdf AS (SELECT term, count(*) AS df FROM tf WHERE term IN (SELECT term FROM qt) GROUP BY term),
sdf AS (SELECT term, count(*) AS df FROM stf WHERE term IN (SELECT term FROM qt) GROUP BY term),
tscore AS (
  SELECT tf.term, tf.doc_id,
         1.0 * ln(1 + ({NDOCS} - tdf.df + 0.5) / (tdf.df + 0.5)) * tf.tf /
           (tf.tf + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dl.dl / {AVGDL})) AS fscore
  FROM tf JOIN tdf USING (term) JOIN dl USING (doc_id)),
sscore AS (
  SELECT stf.term, stf.doc_id,
         2.0 * ln(1 + ({NDOCS} - sdf.df + 0.5) / (sdf.df + 0.5)) * stf.tf /
           (stf.tf + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * sdl.dl /
             (SELECT sum(dl) * 1.0 / {NDOCS} FROM sdl))) AS fscore
  FROM stf JOIN sdf USING (term) JOIN sdl USING (doc_id)),
unioned AS (SELECT * FROM tscore UNION ALL SELECT * FROM sscore),
per_term AS (
  SELECT term, doc_id, max(fscore) + 0.3 * (sum(fscore) - max(fscore)) AS tscore
  FROM unioned GROUP BY term, doc_id),
scored AS (
  SELECT p.doc_id, sum(p.tscore) AS s FROM per_term p
  JOIN documents d ON d.doc_id = p.doc_id AND d.lang = 'en'
  GROUP BY p.doc_id)
SELECT doc_id, {_sql_scaled('s')} AS score_x10k FROM scored
ORDER BY score_x10k DESC, doc_id ASC LIMIT 10
""",
)
def json_dismax_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON Request API dismax query node: the JSON spelling of the
    `dismax_text_source` string request — qf in the reference's
    "field^boost" string form, tie=0.3 — with a lang:en filter applied as
    a non-scoring fq restriction before the top-k."""
    from solr_spark.query.jsonq import json_query_search

    idx, _, _ = documents_index(spark, sf_dir)
    out = json_query_search(
        idx,
        {
            "query": {"dismax": {
                "query": "spark src3",
                "qf": "text source^2.0",
                "tie": 0.3,
            }},
            "filter": ["lang:en"],
            "limit": 10,
        },
        indexes=_dismax_indexes(spark, sf_dir),
    )
    return (
        out.select(
            F.col("docid").alias("doc_id"), scaled("score").alias("score_x10k")
        )
        .orderBy(F.col("score_x10k").desc(), F.col("doc_id").asc())
        .limit(10)
    )


@register(
    "grouped_boolean_query",
    f"""
WITH {TOKS}, {TF}, {DL},
qt(term) AS (VALUES ('spark'), ('join')),
dfs AS (SELECT term, count(*) AS df FROM tf WHERE term IN (SELECT term FROM qt) GROUP BY term),
w AS (SELECT term, ln(1 + ({NDOCS} - df + 0.5) / (df + 0.5)) AS w FROM dfs),
hits AS (
  SELECT tf.doc_id,
         sum(w.w * tf.tf / (tf.tf + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dl.dl / {AVGDL}))) AS s
  FROM tf JOIN w USING (term) JOIN dl USING (doc_id)
  GROUP BY tf.doc_id),
filtered AS (
  SELECT h.doc_id, h.s FROM hits h
  JOIN documents d USING (doc_id)
  WHERE d.lang = 'en'
        AND h.doc_id NOT IN (SELECT DISTINCT doc_id FROM tf WHERE term = 'slow'))
SELECT doc_id, {_sql_scaled('s')} AS score_x10k FROM filtered
ORDER BY score_x10k DESC, doc_id ASC LIMIT 10
""",
)
def grouped_boolean_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parenthesized boolean groups: `+(spark join) -(slow) lang:en` —
    nested BooleanQuery compilation (group = recursive sub-plan, must via
    semi-join, must_not via anti-join)."""
    from solr_spark.query.parser import search

    idx, _, _ = documents_index(spark, sf_dir)
    out = search(idx, "+(spark join) -(slow) lang:en", k=10)
    return (
        out.select(F.col("docid").alias("doc_id"), scaled("score").alias("score_x10k"))
        .orderBy(F.col("score_x10k").desc(), F.col("doc_id").asc())
        .limit(10)
    )


@register(
    "simple_query_parser",
    f"""
WITH {TOKS}, {TF}, {DL},
qt(term) AS (VALUES ('spark'), ('data')),
dfs AS (SELECT term, count(*) AS df FROM tf WHERE term IN (SELECT term FROM qt) GROUP BY term),
w AS (SELECT term, ln(1 + ({NDOCS} - df + 0.5) / (df + 0.5)) AS w FROM dfs),
hits AS (
  SELECT tf.doc_id,
         sum(w.w * tf.tf / (tf.tf + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dl.dl / {AVGDL}))) AS s
  FROM tf JOIN w USING (term) JOIN dl USING (doc_id)
  GROUP BY tf.doc_id
  HAVING count(DISTINCT tf.term) = 2),
filtered AS (
  SELECT h.doc_id, h.s FROM hits h
  WHERE h.doc_id NOT IN (SELECT DISTINCT doc_id FROM tf WHERE term = 'python'))
SELECT doc_id, {_sql_scaled('s')} AS score_x10k FROM filtered
ORDER BY score_x10k DESC, doc_id ASC LIMIT 10
""",
)
def simple_query_parser(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`{!simple}` (SimpleQParserPlugin -> Lucene SimpleQueryParser):
    `spark + data -python` — the search-box grammar (`+` infix AND, `-`
    negation, total leniency) lowered onto the shared grammar engine."""
    from solr_spark.query.simpleq import simple_query

    idx, _, _ = documents_index(spark, sf_dir)
    out = simple_query(idx, "spark + data -python", k=10)
    return (
        out.select(F.col("docid").alias("doc_id"), scaled("score").alias("score_x10k"))
        .orderBy(F.col("score_x10k").desc(), F.col("doc_id").asc())
    )



@register(
    "wand_boolean_query",
    f"""
WITH {TOKS}, {TF}, {DL},
qmap(v) AS (VALUES {{QVALS}}),
dlq AS (SELECT doc_id, (SELECT max(v) FROM qmap WHERE v <= dl.dl) AS dlq FROM dl),
qt(term) AS (VALUES ('spark'), ('join'), ('data')),
dfs AS (SELECT term, count(*) AS df FROM tf
        WHERE term IN (SELECT term FROM qt) GROUP BY term),
w AS (SELECT term, ln(1 + ({NDOCS} - df + 0.5) / (df + 0.5)) AS w FROM dfs),
hits AS (
  SELECT tf.doc_id,
         sum(w.w * tf.tf / (tf.tf + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dlq.dlq / {AVGDL}))) AS s
  FROM tf JOIN w USING (term) JOIN dlq USING (doc_id)
  GROUP BY tf.doc_id),
filtered AS (
  SELECT h.doc_id, h.s FROM hits h
  WHERE h.doc_id IN (SELECT doc_id FROM tf WHERE term = 'spark')
    AND h.doc_id IN (SELECT doc_id FROM tf WHERE term = 'join')
    AND h.doc_id NOT IN (SELECT DISTINCT doc_id FROM tf WHERE term = 'slow'))
SELECT doc_id, {_sql_scaled('s')} AS score_x10k FROM filtered
ORDER BY score_x10k DESC, doc_id ASC LIMIT 10
""".replace("{QVALS}", _quant_sql_values()),
)
def wand_boolean_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean query over the COMPRESSED physical segments:
    `+spark +join -slow data` — must/must_not by ordinal-set ops inside the
    per-partition decoder, quantized-norm BM25 scoring (query/wand.py
    PhysicalIndex.search)."""
    from solr_spark.query.wand import open_index

    d = _phys_index_dir(spark, sf_dir)
    out = open_index(spark, d).search("+spark +join -slow data", k=10)
    return (
        out.select(F.col("docid").alias("doc_id"), scaled("score").alias("score_x10k"))
        .orderBy(F.col("score_x10k").desc(), F.col("doc_id").asc())
        .limit(10)
    )


_MISC_CACHE: dict = {}


# --- vector similarity (training-data ops) ----------------------------------


def _cosine_to_query0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, sim) of every vector vs the vec_id=0 query vector.

    JVM-side: zip_with product + aggregate sum (no Python in the loop); the
    query vector is a broadcast one-row cross join.
    """
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))

    def dot(a: Column, b: Column) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    joined = e.where(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    sim = dot(F.col("embedding"), F.col("qvec")) / (
        F.sqrt(dot(F.col("embedding"), F.col("embedding")))
        * F.sqrt(dot(F.col("qvec"), F.col("qvec")))
    )
    return joined.select("vec_id", "label", sim.alias("sim"))


@register(
    "ann_cosine_top10",
    f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, {_sql_scaled(_COS)} AS sim_x10k
FROM embeddings e, q WHERE e.vec_id <> 0
ORDER BY sim_x10k DESC, vec_id ASC LIMIT 10
""",
)
def ann_cosine_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k — the exact baseline for similarity search."""
    sims = _cosine_to_query0(spark, sf_dir)
    return (
        sims.select("vec_id", scaled("sim").alias("sim_x10k"))
        .orderBy(F.col("sim_x10k").desc(), F.col("vec_id").asc())
        .limit(10)
    )


@register(
    "bq_ann_top10",
    f"""
WITH bits AS (
  SELECT vec_id, embedding,
         sum(CASE WHEN embedding[j + 1] > 0 THEN (1::BIGINT << j) ELSE 0 END) AS lo,
         sum(CASE WHEN embedding[j + 33] > 0 THEN (1::BIGINT << j) ELSE 0 END) AS hi
  FROM embeddings, unnest(range(0, 32)) AS t(j)
  GROUP BY vec_id, embedding),
qb AS (SELECT lo, hi, embedding FROM bits WHERE vec_id = 0),
coarse AS (
  SELECT b.vec_id,
         (bit_count(xor(b.lo, q.lo)) + bit_count(xor(b.hi, q.hi)))::INT AS hamming
  FROM bits b, qb q WHERE b.vec_id <> 0
  ORDER BY hamming ASC, b.vec_id ASC LIMIT 100)
SELECT c.vec_id, c.hamming, {_sql_scaled(_COS)} AS sim_x10k
FROM coarse c JOIN embeddings e USING (vec_id), qb q
ORDER BY sim_x10k DESC, vec_id ASC LIMIT 10
""",
)
def bq_ann_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized ANN: 64-dim floats packed to two 32-bit sign words
    (32x smaller scan), coarse top-100 by Hamming, exact cosine rerank to
    top-10. The coarse phase reads only the packed words at scale."""
    from solr_spark.functions.ann import bq_topk

    e = _t(spark, sf_dir, "embeddings")
    qv = [
        float(v)
        for v in e.where(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    # k=rerank keeps all 100 coarse survivors so the FINAL cut happens on
    # the scaled value below — the oracle cuts on sim_x10k, and a raw-sim
    # cut inside bq_topk could disagree at a 1e-4 rounding tie
    out = bq_topk(e.where(F.col("vec_id") != 0), qv, k=100, rerank=100)
    return (
        out.select(
            "vec_id", F.col("hamming").cast("int").alias("hamming"),
            scaled("sim").alias("sim_x10k"),
        )
        .orderBy(F.col("sim_x10k").desc(), F.col("vec_id").asc())
        .limit(10)
    )


@register(
    "chunk_documents",
    """
WITH t AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             x -> x <> '') AS toks
  FROM documents),
p AS (
  SELECT doc_id, toks, len(toks) AS n,
         1 + greatest(0, cast(ceil((len(toks) - 64) / 48.0) AS INT)) AS n_chunks
  FROM t WHERE len(toks) > 0),
c AS (
  SELECT doc_id, j AS chunk_id,
         cast(least(j * 48, greatest(n - 64, 0)) AS INT) AS s, n, toks
  FROM p, unnest(range(0, n_chunks)) AS u(j))
SELECT doc_id, chunk_id::INT AS chunk_id,
       least(n - s, 64)::INT AS n_tokens,
       array_to_string(toks[s + 1 : s + 64], ' ') AS chunk
FROM c ORDER BY doc_id, chunk_id
""",
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: 64-token chunks, 16-token overlap — the
    long-document -> model-sized-pieces training-data prep step; one
    explode, zero shuffles."""
    from solr_spark.functions.textstats import chunk_tokens

    d = _t(spark, sf_dir, "documents")
    out = chunk_tokens(d, "text", "doc_id", size=64, overlap=16)
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        "chunk",
    ).orderBy("doc_id", "chunk_id")


@register(
    "knn_label_vote",
    f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
nn AS (
  SELECT e.vec_id, e.label, {_sql_scaled(_COS, 6)} AS sim_x1m
  FROM embeddings e, q WHERE e.vec_id <> 0
  ORDER BY sim_x1m DESC, vec_id ASC LIMIT 10)
SELECT label, count(*) AS votes FROM nn
GROUP BY label ORDER BY votes DESC, label ASC LIMIT 1
""",
)
def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classification by majority label of the 10 nearest neighbors."""
    sims = _cosine_to_query0(spark, sf_dir)
    nn = (
        sims.select("vec_id", "label", scaled("sim", 6).alias("sim_x1m"))
        .orderBy(F.col("sim_x1m").desc(), F.col("vec_id").asc())
        .limit(10)
    )
    return (
        nn.groupBy("label")
        .agg(F.count("*").alias("votes"))
        .orderBy(F.col("votes").desc(), F.col("label").asc())
        .limit(1)
    )


# --- dedup family (training-data) -------------------------------------------

# Shared SQL fragment: per-doc distinct hashed 3-gram shingles, hash =
# md5-hex-prefix (bit-identical to solr_spark.functions.dedup.content_hash).
_SH = """
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(1, len(l) - 1)),
           i -> ('0x' || substring(md5(l[i] || ' ' || l[i+1] || ' ' || l[i+2]), 1, 15))::BIGINT
         ))) AS h
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                           t -> t <> '') AS l
        FROM documents))
"""


@register(
    "dedup_cluster_canonical",
    f"""
WITH RECURSIVE {_SH},
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sz sa ON sa.doc_id = id_a
  JOIN sz sb ON sb.doc_id = id_b
  WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.5),
e AS (SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs),
n AS (SELECT DISTINCT src AS node FROM e),
reach AS (
  SELECT node, node AS r FROM n
  UNION
  SELECT e.src AS node, reach.r FROM e JOIN reach ON e.dst = reach.node)
SELECT node AS doc_id, min(r) AS cluster, (node = min(r)) AS is_canonical
FROM reach GROUP BY node ORDER BY cluster, doc_id
""",
)
def dedup_cluster_canonical_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup step AFTER pair discovery: connected components over the
    3-gram-Jaccard near-dup pairs (tau=0.5), each doc labeled with its
    component's minimum doc_id and whether it is the canonical survivor —
    what a 100 TB pipeline uses to DROP duplicates transitively (a~b~c
    must keep exactly one even though a,c were never compared). Iterative
    min-label propagation, one join+groupBy per round, O(diameter) rounds;
    oracle = recursive-CTE transitive closure."""
    from solr_spark.functions.dedup import dup_clusters, ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, "text", "doc_id", threshold=0.5)
    out = dup_clusters(pairs)
    return (
        out.select(
            F.col("node").alias("doc_id"), "cluster", "is_canonical"
        )
        .orderBy("cluster", "doc_id")
    )


@register(
    "ngram_jaccard_pairs",
    f"""
WITH {_SH},
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       {_sql_scaled('inter * 1.0 / (sa.sz + sb.sz - inter)')} AS jaccard_x10k
FROM inter
JOIN sz sa ON sa.doc_id = id_a
JOIN sz sb ON sb.doc_id = id_b
WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.5
""",
)
def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs at tau=0.5."""
    from solr_spark.functions.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    out = ngram_jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.5)
    return out.select("id_a", "id_b", scaled("jaccard").alias("jaccard_x10k"))


@register(
    "duplicate_spans_k8",
    f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS l
  FROM documents),
b AS (SELECT doc_id, l, len(l) AS n FROM t WHERE len(l) >= 8),
w AS (
  SELECT doc_id, u.s AS start, u.h AS h
  FROM b, unnest(list_transform(range(1, n - 6),
        i -> {{'s': i - 1,
              'h': ('0x' || substring(md5(array_to_string(l[i:i+7], ' ')), 1, 15))::BIGINT}})) AS u_(u)),
dup AS (SELECT h FROM w GROUP BY h HAVING count(*) >= 2),
ds AS (SELECT w.doc_id, w.start FROM w JOIN dup USING (h)),
c1 AS (SELECT doc_id,
              least(8, lead(start, 1, start + 8)
                       OVER (PARTITION BY doc_id ORDER BY start) - start) AS c
       FROM ds),
cov AS (SELECT doc_id, count(*)::INT AS n_dup_windows, sum(c)::INT AS covered
        FROM c1 GROUP BY doc_id)
SELECT b.doc_id AS id, n::INT AS n_tokens, (n - 7)::INT AS n_windows,
       coalesce(n_dup_windows, 0) AS n_dup_windows,
       coalesce(covered, 0) AS covered_tokens,
       {_sql_scaled('coalesce(covered, 0) * 1.0 / n')} AS dup_frac_x10k
FROM b LEFT JOIN cov USING (doc_id) ORDER BY id
""",
)
def duplicate_spans_k8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-span coverage (Lee et al. 2021 ExactSubstr, span
    granularity) at k=8 simple tokens: per doc, the fraction of token
    positions covered by an 8-gram occurring >=2x corpus-wide."""
    from solr_spark.functions.dedup import duplicate_span_stats

    d = _t(spark, sf_dir, "documents")
    out = duplicate_span_stats(d, "text", "doc_id", k=8, min_count=2)
    return out.select(
        "id", "n_tokens", "n_windows", "n_dup_windows", "covered_tokens",
        scaled("dup_frac").alias("dup_frac_x10k"),
    ).orderBy("id")


@register(
    "cut_duplicate_spans_k8",
    """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS l
  FROM documents),
b AS (SELECT doc_id, l, len(l) AS n FROM t),
w AS (
  SELECT doc_id, u.s AS start, u.h AS h
  FROM b, unnest(list_transform(range(1, n - 6),
        i -> {'s': i - 1,
              'h': ('0x' || substring(md5(array_to_string(l[i:i+7], ' ')), 1, 15))::BIGINT})) AS u_(u)
  WHERE n >= 8),
r AS (SELECT doc_id, start,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, start) AS rn,
             count(*) OVER (PARTITION BY h) AS cnt
      FROM w),
cuts AS (SELECT doc_id, start FROM r WHERE cnt >= 2 AND rn > 1),
tok AS (SELECT doc_id, l[i] AS tok, i - 1 AS pos
        FROM b, unnest(range(1, n + 1)) AS r_(i)),
cov AS (SELECT DISTINCT tok.doc_id, pos
        FROM tok JOIN cuts ON cuts.doc_id = tok.doc_id
                          AND pos >= start AND pos < start + 8),
kept AS (SELECT tok.doc_id, tok.tok, tok.pos
         FROM tok LEFT JOIN cov ON cov.doc_id = tok.doc_id
                                AND cov.pos = tok.pos
         WHERE cov.pos IS NULL),
agg AS (SELECT doc_id, count(*) AS n_kept,
               string_agg(tok, ' ' ORDER BY pos) AS text_clean
        FROM kept GROUP BY doc_id)
SELECT b.doc_id AS id, n::INT AS n_tokens,
       (n - coalesce(n_kept, 0))::INT AS n_cut_tokens,
       coalesce(text_clean, '') AS text_clean
FROM b LEFT JOIN agg USING (doc_id) ORDER BY id
""",
)
def cut_duplicate_spans_k8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee et al. 2021 ExactSubstr CUT: remove every duplicated 8-token
    span, keeping only the corpus-wide canonical (minimal (id, start))
    occurrence."""
    from solr_spark.functions.dedup import cut_duplicate_spans

    d = _t(spark, sf_dir, "documents")
    return cut_duplicate_spans(d, "text", "doc_id", k=8).orderBy("id")


def _minhash_params_sql(k: int = 32, seed: int = 1337) -> str:
    from solr_spark.functions.dedup import minhash_params

    return ", ".join(
        f"({i}, {a}::BIGINT, {b}::BIGINT)"
        for i, (a, b) in enumerate(minhash_params(k, seed))
    )


@register(
    "minhash_lsh_candidates",
    f"""
WITH {_SH},
params(i, a, b) AS (VALUES {_minhash_params_sql()}),
mh AS (
  SELECT doc_id, i, min((a * (h % 2147483647) + b) % 2147483647)::BIGINT AS mh
  FROM sh, params GROUP BY doc_id, i),
bands AS (
  SELECT doc_id, i // 4 AS band, string_agg(mh, '-' ORDER BY i) AS sig
  FROM mh GROUP BY doc_id, i // 4)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(DISTINCT a.band) AS n_bands
FROM bands a
JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
GROUP BY 1, 2
""",
)
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (k=32) + LSH banding (8 bands x 4 rows) candidate pairs."""
    from solr_spark.functions.dedup import minhash_lsh_pairs, minhash_signatures

    d = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, "text", "doc_id", k=32)
    return minhash_lsh_pairs(sigs, bands=8, rows_per_band=4)


@register(
    "incremental_minhash_dedup",
    f"""
WITH {_SH},
params(i, a, b) AS (VALUES {_minhash_params_sql()}),
mh AS (
  SELECT doc_id, i, min((a * (h % 2147483647) + b) % 2147483647)::BIGINT AS mh
  FROM sh, params GROUP BY doc_id, i),
bands AS (
  SELECT doc_id, i // 4 AS band, string_agg(mh, '-' ORDER BY i) AS sig
  FROM mh GROUP BY doc_id, i // 4)
SELECT n.doc_id AS doc_id, count(DISTINCT c.doc_id) AS n_dup_of
FROM bands n JOIN bands c ON n.band = c.band AND n.sig = c.sig
WHERE n.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
GROUP BY 1 ORDER BY 1
""",
)
def incremental_minhash_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: the new batch (doc_id % 10 == 0) deduped
    against the existing corpus (the rest) via stored MinHash band
    signatures — per new doc, how many DISTINCT corpus docs collide."""
    from solr_spark.functions.dedup import incremental_lsh_dedup, minhash_signatures

    d = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, "text", "doc_id", k=32)
    out = incremental_lsh_dedup(
        sigs.where(F.col("id") % 10 == 0),
        sigs.where(F.col("id") % 10 != 0),
        bands=8,
        rows_per_band=4,
    )
    return out.select(F.col("id").alias("doc_id"), "n_dup_of").orderBy("doc_id")


@register(
    "phrases_identification",
    f"""
WITH {TOKS}, {TF}, {TOKP},
t0 AS (SELECT
  (SELECT sum(tf) FROM tf WHERE term='fast') AS ttf_f,
  (SELECT sum(tf) FROM tf WHERE term='merge') AS ttf_m,
  (SELECT sum(tf) FROM tf WHERE term='batch') AS ttf_b,
  (SELECT count(*) FROM tokp a JOIN tokp b ON b.doc_id=a.doc_id AND b.pos=a.pos+1
     WHERE a.term='fast' AND b.term='merge') AS bi_fm,
  (SELECT count(*) FROM tokp a JOIN tokp b ON b.doc_id=a.doc_id AND b.pos=a.pos+1
     WHERE a.term='merge' AND b.term='batch') AS bi_mb,
  (SELECT count(*) FROM (SELECT doc_id FROM tf WHERE term='fast'
     INTERSECT SELECT doc_id FROM tf WHERE term='merge'
     INTERSECT SELECT doc_id FROM tf WHERE term='batch')) AS c_fmb),
tri AS (
  SELECT count(*) AS tri_ttf, count(DISTINCT a.doc_id) AS tri_df
  FROM tokp a
  JOIN tokp b ON b.doc_id=a.doc_id AND b.pos=a.pos+1
  JOIN tokp c2 ON c2.doc_id=a.doc_id AND c2.pos=a.pos+2
  WHERE a.term='fast' AND b.term='merge' AND c2.term='batch'),
t AS (SELECT *,
  CASE WHEN tri_ttf > 0 AND c_fmb > 0
       THEN tri_df * 1.0 / c_fmb ELSE 0 END AS wrap
  FROM t0, tri)
SELECT phrase, pos_start, pos_end, score_x10k FROM (
  SELECT 'fast' AS phrase, 0 AS pos_start, 1 AS pos_end, 0::BIGINT AS score_x10k FROM t
  UNION ALL SELECT 'merge', 1, 2, 0::BIGINT FROM t
  UNION ALL SELECT 'batch', 2, 3, 0::BIGINT FROM t
  UNION ALL SELECT 'fast merge', 0, 2, CASE WHEN bi_fm > 0 THEN
    {_sql_scaled("bi_fm / least(ttf_f, ttf_m) * (1 - wrap)"
                 " - bi_fm / greatest(ttf_f, ttf_m) * wrap")}
    ELSE 0::BIGINT END FROM t
  UNION ALL SELECT 'merge batch', 1, 3, CASE WHEN bi_mb > 0 THEN
    {_sql_scaled("bi_mb / least(ttf_m, ttf_b) * (1 - wrap)"
                 " - bi_mb / greatest(ttf_m, ttf_b) * wrap")}
    ELSE 0::BIGINT END FROM t
  UNION ALL SELECT 'fast merge batch', 0, 3, CASE WHEN tri_ttf > 0 THEN
    {_sql_scaled("tri_ttf * 1.0 / least(ttf_f, ttf_m, ttf_b)")}
    ELSE 0::BIGINT END FROM t)
ORDER BY score_x10k DESC, pos_start, pos_end
""",
)
def phrases_identification_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PhrasesIdentificationComponent: score every span of 'fast merge
    batch' as a corpus collocation (Bayesian shingle model,
    PhrasesIdentificationComponent.java:1000-1086; max_indexed=3 = the
    shipped configset's shingle depth, wrapper bias-correction live: each
    bigram's credit is reduced by the containing trigram's own
    phrase-probability)."""
    from solr_spark.query.phrases_id import phrases_identification

    idx, _, _ = documents_index(spark, sf_dir)
    out = phrases_identification(
        idx, "fast merge batch", max_query_len=3, max_indexed_len=3
    )
    return out.select(
        "phrase", "pos_start", "pos_end", scaled("score").alias("score_x10k")
    ).orderBy(F.col("score_x10k").desc(), "pos_start", "pos_end")


@register(
    "text_profile_signature",
    """
WITH tpf AS (
  SELECT doc_id, term, count(*)::INT AS cnt
  FROM (SELECT doc_id, unnest(list_filter(
          regexp_split_to_array(lower(text), '[^a-z0-9]+'),
          t -> len(t) > 2)) AS term FROM documents)
  GROUP BY doc_id, term),
qn AS (
  SELECT doc_id,
         CASE WHEN round(max(cnt) * 0.01)::INT >= 2 THEN round(max(cnt) * 0.01)::INT
              WHEN max(cnt) > 1 THEN 2 ELSE 1 END AS q
  FROM tpf GROUP BY doc_id),
kept AS (
  SELECT tpf.doc_id, term, (cnt // q) * q AS qcnt
  FROM tpf JOIN qn USING (doc_id)
  WHERE (cnt // q) * q >= q)
SELECT doc_id,
       md5(string_agg(term || ' ' || qcnt, chr(10)
                      ORDER BY qcnt DESC, term ASC)) AS signature
FROM kept GROUP BY doc_id ORDER BY doc_id
""",
)
def text_profile_signature_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr's TextProfileSignature fuzzy dedup signature (quantized term
    profile -> md5), deterministic tie order (see the function docstring
    for the one documented divergence from the reference's unspecified
    HashMap tie order)."""
    from solr_spark.functions.dedup import text_profile_signature

    d = _t(spark, sf_dir, "documents")
    out = text_profile_signature(d, "text", "doc_id")
    return out.select(F.col("id").alias("doc_id"), "signature").orderBy("doc_id")


@register(
    "benchmark_contamination",
    f"""
WITH {_SH},
bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 20 = 0),
tr AS (SELECT doc_id, h FROM sh WHERE doc_id % 20 <> 0)
SELECT tr.doc_id,
       count(*)::INT AS n_shingles,
       sum(CASE WHEN bench.h IS NOT NULL THEN 1 ELSE 0 END)::INT AS n_hit,
       {_sql_scaled("sum(CASE WHEN bench.h IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / count(*)")} AS contamination_x10k
FROM tr LEFT JOIN bench ON tr.h = bench.h
GROUP BY tr.doc_id ORDER BY tr.doc_id
""",
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination: benchmark = doc_id % 20 == 0; for every
    other doc, the fraction of its distinct 3-gram shingles found anywhere
    in the benchmark — membership against one broadcast hash set, never a
    pairwise comparison."""
    from solr_spark.functions.dedup import contamination_scores

    d = _t(spark, sf_dir, "documents")
    out = contamination_scores(
        d.where(F.col("doc_id") % 20 != 0),
        d.where(F.col("doc_id") % 20 == 0),
        "text", "doc_id", n=3,
    )
    return out.select(
        F.col("id").alias("doc_id"), "n_shingles", "n_hit",
        scaled("contamination").alias("contamination_x10k"),
    ).orderBy("doc_id")


@register(
    "simhash_near_pairs",
    """
WITH toksd AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                    t -> t <> '')) AS term
  FROM documents),
tfh AS (
  SELECT doc_id, term, count(*) AS tf,
         ('0x' || substring(md5(term), 1, 15))::BIGINT AS h
  FROM toksd GROUP BY doc_id, term),
bits AS (
  SELECT doc_id, j, sum(tf * (((h >> j) & 1) * 2 - 1)) AS s
  FROM tfh, unnest(range(0, 60)) AS t(j)
  GROUP BY doc_id, j),
sig AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS simhash
  FROM bits GROUP BY doc_id)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash))::INT AS dist
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""",
)
def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups at Hamming distance <= 3 (block-pigeonhole join in
    Spark; the oracle brute-forces all pairs — identical result because
    d=3 < 4 blocks guarantees a full-block collision)."""
    from solr_spark.functions.dedup import simhash, simhash_pairs

    d = _t(spark, sf_dir, "documents")
    sig = simhash(d, "text", "doc_id")
    out = simhash_pairs(sig, max_distance=3, n_blocks=4)
    return out.select("id_a", "id_b", F.col("dist").cast("int").alias("dist"))


@register(
    "cosine_neardup_pairs",
    """
WITH aug AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 100000,
         list_transform(embedding::DOUBLE[], (x, i) -> x * (1 + 0.02 * ((i % 5) - 2)))
  FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM aug)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       CAST(floor(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) * 10000.0 + 0.5) AS BIGINT) AS sim_x10k
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.99
ORDER BY id_a, id_b
""",
)
def cosine_neardup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine >= 0.99) via banded
    hyperplane LSH discovery + exact JVM cosine verify. The synthetic
    embeddings have no natural near-dups (max pairwise cosine ~0.51), so the
    query deterministically plants one perturbed copy per vector (each
    coordinate scaled by 1 + 0.02·((i%5)-2), cosine ~0.9996 to its original)
    and must recover exactly the planted pairs; the oracle brute-forces all
    pairs. Discovery shuffles only on (band, signature) buckets — the
    sub-quadratic 100 TB shape — never all-pairs."""
    from solr_spark.functions.dedup import cosine_neardup_pairs

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    pert = e.select(
        (F.col("vec_id") + F.lit(100000)).alias("vec_id"),
        F.transform(
            "v",
            lambda x, i: x
            * (F.lit(1.0) + F.lit(0.02) * (((i + 1) % 5) - 2).cast("double")),
        ).alias("v"),
    )
    out = cosine_neardup_pairs(
        e.unionByName(pert), 0.99, id_col="vec_id", vec_col="v"
    )
    return (
        out.select("id_a", "id_b", scaled("sim").alias("sim_x10k"))
        .orderBy("id_a", "id_b")
    )


# --- text pipeline ops (training-data) --------------------------------------


@register(
    "dedup_exact_summary",
    """
SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_distinct
FROM documents
""",
)
def dedup_exact_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup accounting: content-hash distinct count vs row count."""
    d = _t(spark, sf_dir, "documents")
    return d.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5(F.col("text"))).alias("n_distinct"),
    )


@register(
    "token_count_by_lang",
    f"""
WITH {TOKS}
SELECT lang, count(*) AS n_tokens, count(DISTINCT term) AS n_types
FROM documents JOIN toks USING (doc_id)
GROUP BY lang ORDER BY lang
""",
)
def token_count_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx, _, _ = documents_index(spark, sf_dir)
    d = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("docid"), "lang")
    p = idx.postings.join(d, "docid")
    return (
        p.groupBy("lang")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.countDistinct("term").alias("n_types"),
        )
        .orderBy("lang")
    )


@register(
    "text_quality",
    f"""
WITH {TOKS}, {TF}, {DL},
types AS (SELECT doc_id, count(*) AS n_types FROM tf GROUP BY doc_id)
SELECT d.doc_id, dl.dl AS n_tokens, types.n_types,
       {_sql_scaled('types.n_types * 1.0 / dl.dl')} AS ttr_x10k,
       {_sql_scaled('dl.dl * 1.0 / d.n_chars')} AS density_x10k
FROM documents d JOIN dl USING (doc_id) JOIN types USING (doc_id)
WHERE d.doc_id < 20 ORDER BY d.doc_id
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring features: token count, type-token ratio, density."""
    idx, _, _ = documents_index(spark, sf_dir)
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 20)
    types = idx.postings.groupBy("docid").agg(F.count("*").alias("n_types"))
    out = (
        d.select(F.col("doc_id").alias("docid"), "n_chars")
        .join(idx.doclens, "docid")
        .join(types, "docid")
    )
    return out.select(
        F.col("docid").alias("doc_id"),
        F.col("dl").cast("long").alias("n_tokens"),
        "n_types",
        scaled(F.col("n_types") / F.col("dl")).alias("ttr_x10k"),
        scaled(F.col("dl") / F.col("n_chars")).alias("density_x10k"),
    ).orderBy("doc_id")


@register(
    "curation_pipeline",
    f"""
WITH {TOKS}, {TF}, {DL},
types AS (SELECT doc_id, count(*) AS n_types FROM tf GROUP BY doc_id),
keep AS (
  SELECT d.doc_id FROM documents d JOIN dl USING (doc_id) JOIN types USING (doc_id)
  WHERE d.lang = 'en' AND dl.dl >= 50 AND types.n_types * 1.0 / dl.dl >= 0.4),
canon AS (
  SELECT min(doc_id) AS doc_id
  FROM (SELECT k.doc_id, md5(d.text) AS h
        FROM keep k JOIN documents d USING (doc_id))
  GROUP BY h)
SELECT doc_id, dl.dl::INT AS n_tokens,
       (1 + greatest(0, cast(ceil((dl.dl - 64) / 48.0) AS INT)))::INT AS n_chunks
FROM canon JOIN dl USING (doc_id)
ORDER BY doc_id
""",
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation, one declarative plan: language
    filter -> quality gate (length + type-token ratio) -> exact dedup
    (canonical = min id per content hash) -> chunk accounting. Every stage
    is the same operator the standalone entries use; Catalyst fuses the
    filters into one scan and the whole flow shuffles only for the dedup
    groupBy and the final ordering."""
    from solr_spark.functions.textstats import chunk_tokens, quality_features

    d = _t(spark, sf_dir, "documents")
    en = d.where(F.col("lang") == "en")
    q = quality_features(en, "text", "doc_id")
    # carry n_tokens forward — quality_features already tokenized
    keep = q.where(
        (F.col("n_tokens") >= 50) & (F.col("ttr") >= 0.4)
    ).select(F.col("id").alias("doc_id"), F.col("n_tokens").cast("int"))
    survivors = en.join(keep, "doc_id")
    canon = (
        survivors.select("doc_id", F.md5("text").alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    final = survivors.join(canon, "doc_id", "left_semi")
    n_chunks = (
        chunk_tokens(final, "text", "doc_id", size=64, overlap=16)
        .groupBy(F.col("id").alias("doc_id"))
        .agg(F.count("*").cast("int").alias("n_chunks"))
    )
    return (
        final.select("doc_id", "n_tokens")
        .join(n_chunks, "doc_id")
        .orderBy("doc_id")
    )


# --- ANN variants + text curation ops ---------------------------------------


def _lsh_planes_sql(planes) -> list[str]:
    return [
        "[" + ", ".join(f"{float(x)!r}" for x in plane) + "]::DOUBLE[]"
        for plane in planes
    ]


def _make_lsh_entry() -> None:
    import numpy as np

    from solr_spark.functions.ann import lsh_planes

    planes = lsh_planes(dim=64, n_planes=6, seed=777)
    plane_sqls = _lsh_planes_sql(planes)
    bucket_expr = " + ".join(
        f"(CASE WHEN list_dot_product(e.embedding::DOUBLE[], {p}) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(plane_sqls)
    )

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from solr_spark.functions.ann import lsh_topk, with_lsh_bucket

        e = _t(spark, sf_dir, "embeddings")
        qvec = e.where(F.col("vec_id") == 0).collect()[0]["embedding"]
        bucketed = with_lsh_bucket(e.where(F.col("vec_id") != 0), planes)
        out = lsh_topk(bucketed, list(qvec), planes, k=10, multiprobe=1)
        return (
            out.select("vec_id", scaled("sim").alias("sim_x10k"))
            .orderBy(F.col("sim_x10k").desc(), F.col("vec_id").asc())
            .limit(10)
        )

    # The probe set (query bucket + Hamming-1 neighbors) is data-dependent,
    # so the oracle recomputes it IN SQL from the same literal planes.
    sql = f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
qb AS (
  SELECT ({bucket_expr.replace('e.embedding', 'q.embedding')}) AS b FROM q),
probes AS (
  SELECT b AS p FROM qb
  UNION ALL
  SELECT xor(b, (1::BIGINT << i)) FROM qb, unnest(range(0, 6)) AS t(i)),
bucketed AS (
  SELECT e.vec_id, e.embedding, ({bucket_expr}) AS bucket
  FROM embeddings e WHERE e.vec_id <> 0)
SELECT e.vec_id, {_sql_scaled(_COS)} AS sim_x10k
FROM bucketed e, q
WHERE e.bucket IN (SELECT p FROM probes)
ORDER BY sim_x10k DESC, vec_id ASC LIMIT 10
"""
    CATALOG["lsh_ann_top10"] = Entry(fn=fn, sql=sql)


_make_lsh_entry()


@register("ivf_ann_top10", None)  # sql attached below
def ivf_ann_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF similarity search: 16 k-means cells, probe the 4 nearest.
    Deterministic centroid init (``seed=None`` = the 16 lowest-vec_id
    sample rows) makes the WHOLE pipeline — sample, ten Lloyd training
    iterations, cell assignment, probe election, in-cell exact rank —
    replayable, so the formerly rows-only entry now carries a full
    value-hashed DuckDB oracle (the training loop unrolled as generated
    CTE blocks, same dot-product argmax + first-max tie-break + empty-
    cell-keeps-centroid semantics as the engine). Recall vs brute force
    stays asserted by tests/test_functions.py."""
    import numpy as np

    from solr_spark.functions.ann import ivf_topk, train_centroids, with_ivf_cell

    e = _t(spark, sf_dir, "embeddings")
    sample = np.array(
        [r["embedding"] for r in e.orderBy("vec_id").limit(500).collect()],
        dtype=np.float64,
    )
    cents = train_centroids(sample, n_cells=16, iters=10, seed=None)
    qvec = list(sample[0])
    celled = with_ivf_cell(e.where(F.col("vec_id") != 0), cents)
    out = ivf_topk(celled, qvec, cents, k=10, n_probe=4)
    return (
        out.select("vec_id", scaled("sim").alias("sim_x10k"))
        .orderBy(F.col("sim_x10k").desc(), F.col("vec_id").asc())
        .limit(10)
    )


def _ivf_ann_sql(
    n_cells: int = 16, iters: int = 10, n_sample: int = 500,
    n_probe: int = 4, k: int = 10, dim: int = 64,
) -> str:
    """Generated oracle replaying functions/ann.py train_centroids (seed=
    None) + with_ivf_cell + ivf_topk: Lloyd training unrolled over the
    lowest-``n_sample`` vec_ids, dot-product argmax assignment with
    first-max tie-break, empty cells keep their centroid, probe the
    ``n_probe`` best cells for the query, exact cosine rank inside them.

    Float-margin evidence (numpy replay vs this SQL differs only in
    summation order — BLAS/pairwise vs sequential, ~1e-13 on these
    64-dim O(1)-magnitude dots): measured minima across ALL 10 training
    iterations at sf0.001/sf0.01 — assignment best-vs-second margin
    >= 8.5e-05 (zero exact ties), final full-table assignment margin
    >= 6.8e-04, probe-4-vs-5 election gap >= 3.0e-03, top-10-vs-11 sim
    gap >= 7.5e-03, and every reported sim lands >= 7.8e-02 away from a
    .5 x10k rounding boundary — 9+ orders of magnitude of headroom, so
    no engine/oracle divergence can flip a row on this data."""
    p = [f"""dims AS (SELECT CAST(i AS INT) AS d FROM range(1, {dim + 1}) t(i)),
pts AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
  FROM embeddings ORDER BY vec_id LIMIT {n_sample}),
qv AS MATERIALIZED (SELECT v FROM pts ORDER BY vec_id LIMIT 1),
c0 AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
         v AS cent
  FROM pts ORDER BY vec_id LIMIT {n_cells})"""]
    prev = "c0"
    for it in range(1, iters + 1):
        a, c = f"a{it}", f"c{it}"
        p.append(f"""{a} AS MATERIALIZED (
  SELECT vec_id, v, cluster FROM (
    SELECT p.vec_id, p.v, {prev}.cluster,
           row_number() OVER (
             PARTITION BY p.vec_id
             ORDER BY list_inner_product(p.v, {prev}.cent) DESC,
                      {prev}.cluster ASC) AS rn
    FROM pts p CROSS JOIN {prev}) WHERE rn = 1),
{c} AS MATERIALIZED (
  SELECT pc.cluster, COALESCE(up.cent, pc.cent) AS cent
  FROM {prev} pc LEFT JOIN (
    SELECT cluster, list(m ORDER BY d) AS cent FROM (
      SELECT cluster, d, avg(v[d]) AS m
      FROM {a} CROSS JOIN dims GROUP BY cluster, d)
    GROUP BY cluster) up ON up.cluster = pc.cluster)""")
        prev = c
    p.append(f"""probes AS MATERIALIZED (
  SELECT cluster FROM {prev}, qv
  ORDER BY list_inner_product(cent, qv.v) DESC, cluster ASC LIMIT {n_probe}),
celled AS MATERIALIZED (
  SELECT vec_id, v, cluster FROM (
    SELECT e.vec_id, e.embedding::DOUBLE[] AS v, {prev}.cluster,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_inner_product(e.embedding::DOUBLE[], {prev}.cent)
                        DESC,
                      {prev}.cluster ASC) AS rn
    FROM embeddings e CROSS JOIN {prev} WHERE e.vec_id <> 0) WHERE rn = 1),
top AS (
  SELECT ce.vec_id,
         list_inner_product(ce.v, qv.v)
           / (sqrt(list_inner_product(ce.v, ce.v))
              * sqrt(list_inner_product(qv.v, qv.v))) AS sim
  FROM celled ce JOIN probes USING (cluster), qv
  ORDER BY sim DESC, ce.vec_id ASC LIMIT {k})""")
    body = ",\n".join(p)
    return f"""
WITH {body}
SELECT vec_id, {_sql_scaled('sim')} AS sim_x10k
FROM top ORDER BY sim_x10k DESC, vec_id ASC
"""


CATALOG["ivf_ann_top10"].sql = _ivf_ann_sql()


def _profile_sql() -> str:
    from solr_spark.functions.textstats import LANG_PROFILES

    cases = []
    for lang in sorted(LANG_PROFILES):
        words = ", ".join(f"'{w}'" for w in LANG_PROFILES[lang])
        cases.append(f"len(list_filter(l, t -> list_contains([{words}], t)))")
    return cases


def _make_langid_entry() -> None:
    hits = _profile_sql()
    langs = ["de", "en", "es", "fr"]
    # alphabetical strict-> argmax, 'und' when all zero
    expr = "'und'"
    best = "0"
    sel = []
    for lang, h in zip(langs, hits):
        sel.append(f"{h} AS h_{lang}")
    pred = "CASE "
    # build greatest-with-first-wins: compare each lang's hits against max
    pred = (
        "CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und' "
        "WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de' "
        "WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en' "
        "WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es' "
        "ELSE 'fr' END"
    )
    sql = f"""
WITH base AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS l
  FROM documents),
scored AS (SELECT doc_id, {', '.join(sel)} FROM base),
pred AS (SELECT doc_id, {pred} AS pred_lang FROM scored)
SELECT pred_lang, count(*) AS n FROM pred GROUP BY pred_lang ORDER BY pred_lang
"""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from solr_spark.functions.textstats import identify_language

        d = _t(spark, sf_dir, "documents")
        out = identify_language(d, "text", "doc_id")
        return (
            out.groupBy("pred_lang").agg(F.count("*").alias("n"))
            .orderBy("pred_lang")
        )

    CATALOG["lang_id_distribution"] = Entry(fn=fn, sql=sql)


_make_langid_entry()


@register(
    "quality_features_sample",
    f"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS l
  FROM documents WHERE doc_id < 20)
SELECT doc_id AS id,
       length(text) AS n_chars,
       len(l) AS n_tokens,
       len(list_distinct(l)) AS n_types,
       {_sql_scaled('len(list_distinct(l)) * 1.0 / greatest(len(l), 1)')} AS ttr_x10k,
       {_sql_scaled("length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 / greatest(length(text), 1)")} AS digit_ratio_x10k
FROM base ORDER BY id
""",
)
def quality_features_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solr_spark.functions.textstats import quality_features

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 20)
    out = quality_features(d, "text", "doc_id")
    return out.select(
        "id",
        "n_chars",
        "n_tokens",
        "n_types",
        scaled("ttr").alias("ttr_x10k"),
        scaled("digit_ratio").alias("digit_ratio_x10k"),
    ).orderBy("id")


@register(
    "token_counts_total",
    r"""
WITH base AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')) AS ws,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS l
  FROM documents)
SELECT sum(ws)::BIGINT AS ws_tokens,
       sum(len(l))::BIGINT AS analyzer_tokens,
       sum(coalesce(list_aggregate(
             list_transform(l, tok -> ceil(length(tok) / 4.0)), 'sum'), 0)
          )::BIGINT AS bpe_est_tokens
FROM base
""",
)
def token_counts_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solr_spark.functions.textstats import token_counts

    d = _t(spark, sf_dir, "documents")
    out = token_counts(d, "text", "doc_id")
    return out.agg(
        F.sum("ws_tokens").alias("ws_tokens"),
        F.sum("analyzer_tokens").alias("analyzer_tokens"),
        F.sum("bpe_est_tokens").alias("bpe_est_tokens"),
    )


@register(
    "fingerprint_top",
    """
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS l
  FROM documents),
sh AS (
  SELECT doc_id, list_sort(list_distinct(list_transform(
           range(1, greatest(1, len(l) - 1)),
           i -> ('0x' || substring(md5(l[i] || ' ' || l[i+1] || ' ' || l[i+2]), 1, 15))::BIGINT
         ))) AS hs
  FROM base),
fp AS (
  SELECT doc_id,
         array_to_string(hs[1:4], '-') AS fingerprint
  FROM sh)
SELECT fingerprint, count(*) AS n FROM fp
GROUP BY fingerprint ORDER BY n DESC, fingerprint ASC LIMIT 10
""",
)
def fingerprint_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-lite fingerprints; top groups = near-dup clusters."""
    from solr_spark.functions.textstats import fingerprint

    d = _t(spark, sf_dir, "documents")
    out = fingerprint(d, "text", "doc_id", n=3, n_mins=4)
    return (
        out.groupBy("fingerprint").agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("fingerprint").asc())
        .limit(10)
    )


@register(
    "multimodal_decode_meta",
    """
SELECT doc_id AS id, octet_length(encode(text))::INT AS n_bytes,
       (16 + octet_length(encode(text)) % 64)::INT AS width,
       (16 + (octet_length(encode(text)) // 64) % 64)::INT AS height
FROM documents WHERE doc_id < 10 ORDER BY id
""",
)
def multimodal_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column decode plumbing: pack text bytes as an opaque payload,
    run the Arrow-batched decode stage (deterministic fake decoder), return
    the typed metadata. The SQL oracle reproduces the fake's arithmetic."""
    from solr_spark.functions.multimodal import decode_image_batch, pack_binary

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 10)
    packed = pack_binary(d, "text", "doc_id")
    out = decode_image_batch(packed, fake=True)
    return out.select(
        "id", F.col("n_bytes").cast("int").alias("n_bytes"),
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
    ).orderBy("id")


# --- graph / suggest / highlight / realtime get / hash / SQL handler --------


@register(
    "graph_gather_nodes",
    """
WITH seeds AS (SELECT 'o:' || o_orderkey::VARCHAR AS node FROM orders WHERE o_custkey = 7),
e AS (
  SELECT 'o:' || l_orderkey::VARCHAR AS src, 'p:' || l_partkey::VARCHAR AS dst FROM lineitem
  UNION ALL
  SELECT 'p:' || l_partkey::VARCHAR, 'o:' || l_orderkey::VARCHAR FROM lineitem),
hop1 AS (
  SELECT DISTINCT e.dst AS node FROM seeds JOIN e ON seeds.node = e.src
  WHERE e.dst NOT IN (SELECT node FROM seeds)),
hop2 AS (
  SELECT DISTINCT e.dst AS node FROM hop1 JOIN e ON hop1.node = e.src
  WHERE e.dst NOT IN (SELECT node FROM seeds)
    AND e.dst NOT IN (SELECT node FROM hop1))
SELECT node, 1 AS hop FROM hop1
UNION ALL
SELECT node, 2 AS hop FROM hop2
ORDER BY hop, node
""",
)
def graph_gather_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gatherNodes 2-hop BFS over the bipartite order—part graph: orders of
    customer 7 → their parts → other orders containing those parts."""
    from solr_spark.operators.graph import gather_nodes

    li = _t(spark, sf_dir, "lineitem")
    fwd = li.select(
        F.concat(F.lit("o:"), F.col("l_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("dst"),
    )
    edges = fwd.unionByName(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    seeds = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_custkey") == 7)
        .select(F.concat(F.lit("o:"), F.col("o_orderkey").cast("string")).alias("node"))
    )
    return gather_nodes(edges, seeds, hops=2).orderBy("hop", "node")


@register(
    "spellcheck_collations",
    f"""
WITH {TOKS}, {TF},
dict AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
c1 AS (SELECT term FROM (
  SELECT term, levenshtein(term, 'sar') AS dist, df FROM dict
  WHERE term LIKE 's%' AND levenshtein(term, 'sar') BETWEEN 1 AND 2
  QUALIFY row_number() OVER (ORDER BY dist ASC, df DESC, term ASC) <= 3)),
c2 AS (SELECT term FROM (
  SELECT term, levenshtein(term, 'jion') AS dist, df FROM dict
  WHERE term LIKE 'j%' AND levenshtein(term, 'jion') BETWEEN 1 AND 2
  QUALIFY row_number() OVER (ORDER BY dist ASC, df DESC, term ASC) <= 3)),
coll AS (SELECT c1.term AS t1, c2.term AS t2 FROM c1, c2),
dt AS (SELECT DISTINCT doc_id, term FROM tf),
hits AS (SELECT coll.t1, coll.t2, count(*) AS hits
         FROM coll JOIN dt a ON a.term = coll.t1
                   JOIN dt b ON b.term = coll.t2 AND b.doc_id = a.doc_id
         GROUP BY 1, 2)
SELECT t1 || ' ' || t2 AS "collation", hits FROM hits
ORDER BY hits DESC, "collation" ASC LIMIT 5
""",
)
def spellcheck_collations_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spellcheck collations (spelling/SpellCheckCollator.java): per-word
    correction candidates for the misspelled query 'sar jion' combined
    into whole corrected queries, kept only when the combination has hits
    (docs matching ALL corrected words), ranked by hit count. One
    distinct-postings scan joined to the literal combination frame — not
    the reference's one-requery-per-collation loop."""
    from solr_spark.query.spellcheck import collate

    idx, _, _ = documents_index(spark, sf_dir)
    return collate(idx, ["sar", "jion"], max_edits=2,
                   max_candidates=3, max_collations=5)


@register(
    "facet_heatmap_customers",
    """
WITH pts AS (
  SELECT (c_custkey * 9973 % 18000) / 100.0 - 90.0 AS lat,
         (c_custkey * 7919 % 36000) / 100.0 - 180.0 AS lon
  FROM customer)
SELECT CAST(least(floor((90.0 - lat) / 30.0), 5) AS INT) AS grid_row,
       CAST(least(floor((lon + 180.0) / 45.0), 7) AS INT) AS grid_col,
       count(*) AS count
FROM pts GROUP BY grid_row, grid_col ORDER BY grid_row, grid_col
""",
)
def facet_heatmap_customers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """facet.heatmap (search/facet/FacetHeatmap.java): 2D grid counts over
    the whole-world bbox, 6 rows x 8 cols, row 0 = north edge, max-edge
    points clamped into the last cell. Sparse long form of the reference's
    counts_ints2D; one groupBy on the computed cell indices (a 48-key
    shuffle at any data size). Same deterministic synthetic lat/lon as
    geodist_customers."""
    from solr_spark.functions.spatial import heatmap_facet

    c = _t(spark, sf_dir, "customer").select(
        ((F.col("c_custkey") * 9973 % 18000) / 100.0 - 90.0).alias("lat"),
        ((F.col("c_custkey") * 7919 % 36000) / 100.0 - 180.0).alias("lon"),
    )
    return heatmap_facet(c, "lat", "lon", -90.0, 90.0, -180.0, 180.0,
                         rows=6, cols=8)


@register(
    "explain_bm25_breakdown",
    f"""
WITH {TOKS}, {TF}, {DL},
qt(term) AS (VALUES ('data'), ('spark')),
dfs AS (SELECT term, count(*) AS df FROM tf WHERE term IN (SELECT term FROM qt) GROUP BY term),
w AS (SELECT term, df, ln(1 + ({NDOCS} - df + 0.5) / (df + 0.5)) AS w FROM dfs),
contrib AS (
  SELECT tf.doc_id, tf.term, tf.tf, w.df, w.w,
         w.w * tf.tf / (tf.tf + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dl.dl / {AVGDL})) AS c
  FROM tf JOIN w USING (term) JOIN dl USING (doc_id)),
top3 AS (
  SELECT doc_id FROM (SELECT doc_id, {_sql_scaled('sum(c)')} AS s FROM contrib GROUP BY doc_id)
  QUALIFY row_number() OVER (ORDER BY s DESC, doc_id ASC) <= 3)
SELECT c.doc_id, c.term, c.tf, c.df,
       {_sql_scaled('c.w')} AS idf_x10k, {_sql_scaled('c.c')} AS contrib_x10k
FROM contrib c JOIN top3 USING (doc_id)
ORDER BY c.doc_id, c.term
""",
)
def explain_bm25_breakdown_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `[explain]` doc transformer / debug=results
    (response/transform/ExplainAugmenterFactory.java; Lucene
    BM25Similarity.explain): per-(doc, term) tf / df / idf / contribution
    rows for the top-3 docs of q='data spark' — the reference's nested
    Explanation tree in columnar form. Exact-dl scoring so both engines
    share the arithmetic; top-3 cut on the quantized total like the
    oracle."""
    from solr_spark.query.bm25 import bm25_score_df, explain_score

    idx, _, _ = documents_index(spark, sf_dir)
    main = bm25_score_df(idx, ["data", "spark"], quantize_norms=False)
    top3 = [
        r["docid"]
        for r in main.select("docid", scaled("score").alias("s"))
        .orderBy(F.col("s").desc(), F.col("docid").asc())
        .limit(3)
        .collect()
    ]
    out = explain_score(idx, ["data", "spark"], docids=top3,
                        quantize_norms=False)
    return (
        out.select(
            F.col("docid").alias("doc_id"), "term", "tf", "df",
            scaled("idf").alias("idf_x10k"),
            scaled("contrib").alias("contrib_x10k"),
        )
        .orderBy("doc_id", "term")
    )


@register(
    "analyze_tokens",
    """
WITH l AS (SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                              x -> x <> '') AS arr
           FROM documents WHERE doc_id = 42),
e AS (SELECT unnest(list_transform(arr, (x, i) -> {'term': x, 'pos': i - 1})) AS u
      FROM l)
SELECT u.pos AS pos, u.term AS term FROM e ORDER BY pos
""",
)
def analyze_tokens_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `analyze()` stream evaluator / FieldAnalysisRequestHandler
    (io/eval/AnalyzeEvaluator.java, handler/FieldAnalysisRequestHandler.
    java): run an analysis chain over a stored text and return the token
    stream with positions — here the 'simple' chain over doc 42."""
    from solr_spark.analysis.chain import analyze_pos

    txt = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") == 42)
        .select("text")
        .collect()[0]["text"]
    )
    toks = analyze_pos(txt, "simple")
    return spark.createDataFrame(
        [(int(p), t) for t, p in toks], ["pos", "term"]
    ).orderBy("pos")


@register(
    "shortest_path_hops",
    """
WITH RECURSIVE e AS (
  SELECT 'o:' || l_orderkey::VARCHAR AS src, 'p:' || l_partkey::VARCHAR AS dst FROM lineitem
  UNION ALL
  SELECT 'p:' || l_partkey::VARCHAR, 'o:' || l_orderkey::VARCHAR FROM lineitem),
bfs AS (
  SELECT 'o:1' AS node, 0 AS hop
  UNION
  SELECT e.dst, bfs.hop + 1 FROM bfs JOIN e ON e.src = bfs.node WHERE bfs.hop < 6)
SELECT 'o:1' AS from_node, 'p:1000' AS to_node, min(hop) AS hops
FROM bfs WHERE node = 'p:1000'
""",
)
def shortest_path_hops_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """shortestPath stream (io/graph/ShortestPathStream.java): BFS distance
    between two nodes of the bipartite order—part graph, max 6 hops. The
    Spark BFS is a driver-side hop loop over executor-side joins (each
    frontier is a distinct-join against the edge table — the same
    iterative-join shape the reference runs, one search round per hop)."""
    from solr_spark.operators.graph import shortest_path

    li = _t(spark, sf_dir, "lineitem")
    fwd = li.select(
        F.concat(F.lit("o:"), F.col("l_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("dst"),
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    hops = shortest_path(edges, "o:1", "p:1000", max_hops=6)
    # Explicit schema: hops is None when the target is unreachable (small
    # corpora may not contain p:1000 within 6 hops) and inference can't
    # type a None field — the oracle's min() over an empty set is NULL too.
    return spark.createDataFrame(
        [("o:1", "p:1000", hops)],
        "from_node string, to_node string, hops long",
    )


@register(
    "suggest_prefix",
    f"""
WITH {TOKS}, {TF}
SELECT term, count(*) AS df FROM tf WHERE term LIKE 'c%'
GROUP BY term ORDER BY df DESC, term ASC LIMIT 10
""",
)
def suggest_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suggester: dictionary terms with prefix 'c' weighted by df."""
    from solr_spark.query.suggest import suggest

    idx, _, _ = documents_index(spark, sf_dir)
    return suggest(idx, "c", count=10)


@register(
    "suggest_infix",
    f"""
WITH {TOKS}, {TF},
d AS (SELECT term, count(*) AS df FROM tf WHERE term LIKE '%er%' GROUP BY term)
SELECT term, df,
       CASE WHEN term LIKE 'er%' THEN 1 ELSE 0 END AS prefix_match
FROM d ORDER BY prefix_match DESC, df DESC, term ASC LIMIT 10
""",
)
def suggest_infix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AnalyzingInfixSuggester: fragment 'er' anywhere in the term,
    prefix matches ranked first, then df weight."""
    from solr_spark.query.suggest import suggest_infix

    idx, _, _ = documents_index(spark, sf_dir)
    return suggest_infix(idx, "er", count=10)


@register(
    "highlight_snippets",
    r"""
WITH hits AS (
  SELECT doc_id, text, strpos(lower(text), 'spark') AS pos
  FROM documents WHERE doc_id < 50 AND strpos(lower(text), 'spark') > 0)
SELECT doc_id,
       regexp_replace(substring(text, greatest(1, pos - 20)::INT, 80),
                      '(?i)\bspark\b', '<em>\0</em>', 'g') AS snippet
FROM hits ORDER BY doc_id
""",
)
def highlight_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Highlighting: 80-char snippet around the first 'spark' match."""
    from solr_spark.query.highlight import highlight

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    out = highlight(d, "text", ["spark"], frag_size=80)
    return (
        out.where(F.col("snippet").isNotNull())
        .select("doc_id", "snippet")
        .orderBy("doc_id")
    )


@register(
    "realtime_get",
    """
SELECT doc_id AS docid, lang, source, n_chars, sha256(text) AS content_sha256
FROM documents WHERE doc_id IN (1, 2, 3) ORDER BY docid
""",
)
def realtime_get_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realtime get: point lookup of stored fields + content sha256 (the
    per-row invariant column) by uniqueKey."""
    from solr_spark.query.suggest import realtime_get

    idx, _, _ = documents_index(spark, sf_dir)
    return realtime_get(idx, [1, 2, 3]).orderBy("docid")


@register(
    "hash_partition_filter",
    """
SELECT count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id
FROM documents
WHERE (('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 4) = 1
""",
)
def hash_partition_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`{!hash workers=4 worker=1}` partition filter over documents."""
    from solr_spark.operators.streams import hash_partition_filter

    d = _t(spark, sf_dir, "documents")
    part = hash_partition_filter(d, ["doc_id"], workers=4, worker=1)
    return part.agg(
        F.count("*").alias("n"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


_SQL_HANDLER_QUERY = """
SELECT n_name, count(*) AS n_orders,
       CAST(floor(sum(o_totalprice) * 100.0 + 0.5) AS BIGINT) AS revenue_x100
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""


@register("sql_handler", _SQL_HANDLER_QUERY)
def sql_handler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The /sql entry point (SURVEY §3.3): Solr parses SQL via Calcite and
    pushes fragments into queries; here the SAME SQL text runs through
    spark.sql over registered views — the whole layer is Spark SQL."""
    for t in ["orders", "customer", "nation"]:
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SQL_HANDLER_QUERY)


# --- statistical stream evaluators (SURVEY §2.8) ----------------------------


@register(
    "regress_lineitem",
    """
SELECT CAST(floor(regr_slope(l_extendedprice, l_quantity) * 10000.0 + 0.5) AS BIGINT) AS slope_x10k,
       CAST(floor(regr_intercept(l_extendedprice, l_quantity) * 100.0 + 0.5) AS BIGINT) AS intercept_x100,
       CAST(floor(regr_r2(l_extendedprice, l_quantity) * 1000000.0 + 0.5) AS BIGINT) AS r2_x1m,
       regr_count(l_extendedprice, l_quantity)::BIGINT AS n
FROM lineitem
""",
)
def regress_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`regress(x,y)` (io/eval/RegressionEvaluator.java): OLS of extended
    price on quantity over lineitem, one distributed aggregate."""
    from solr_spark.functions.mathstream import linear_regression

    li = _t(spark, sf_dir, "lineitem")
    out = linear_regression(li, "l_quantity", "l_extendedprice")
    return out.select(
        scaled("slope", 4).alias("slope_x10k"),
        scaled("intercept", 2).alias("intercept_x100"),
        scaled("r2", 6).alias("r2_x1m"),
        F.col("n").cast("long").alias("n"),
    )


@register(
    "fft_daily_events",
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1),
idx AS (SELECT y, row_number() OVER (ORDER BY day) - 1 AS j,
               count(*) OVER () AS nn FROM daily)
SELECT CAST(k.j AS INT) AS idx,
       CAST(floor(sqrt(
         pow(sum(i.y * cos(2 * pi() * i.j * k.j / k.nn)), 2)
         + pow(sum(i.y * sin(2 * pi() * i.j * k.j / k.nn)), 2)
       ) * 10000 + 0.5) AS BIGINT) AS magnitude_x10k
FROM idx k JOIN idx i ON true
GROUP BY k.j, k.nn ORDER BY idx
""",
)
def fft_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fft(values)` (io/eval/FFTEvaluator.java): magnitude spectrum of the
    daily event-count series (driver-side array math, like the reference's
    /stream evaluator; numpy-verified in tests/test_functions.py). The
    DuckDB oracle computes the same spectrum from the O(n²) DFT
    definition |Σ y_j e^{-2πi jk/n}| — a different algorithm than the
    engine's radix FFT, so agreement is a real cross-check, not a
    transcription."""
    from solr_spark.functions.mathstream import fft_magnitudes

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("double").alias("n")
    )
    out = fft_magnitudes(daily, "n", "day", limit=64)
    return out.select("idx", scaled("magnitude", 4).alias("magnitude_x10k"))


@register(
    "hist_totalprice",
    """
SELECT LEAST(CAST(floor((o_totalprice - 0.0) / 60000.0) AS INT), 9) AS bin,
       count(*) AS count,
       CAST(floor(avg(o_totalprice) * 100.0 + 0.5) AS BIGINT) AS mean_x100
FROM orders WHERE o_totalprice >= 0 AND o_totalprice <= 600000
GROUP BY 1 ORDER BY bin
""",
)
def hist_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`hist(values, 10)` (io/eval/HistogramEvaluator.java) over order
    totals, fixed [0, 600000) bounds — single-pass conditional binning."""
    from solr_spark.functions.mathstream import hist

    o = _t(spark, sf_dir, "orders")
    out = hist(o, "o_totalprice", 10, lo=0.0, hi=600000.0)
    return out.select("bin", "count", scaled("mean", 2).alias("mean_x100"))


@register(
    "describe_totalprice",
    f"""
SELECT count(o_totalprice) AS count,
       {_sql_scaled('avg(o_totalprice)', 2)} AS mean_x100,
       {_sql_scaled('stddev_samp(o_totalprice)', 2)} AS stddev_x100,
       {_sql_scaled('min(o_totalprice)', 2)} AS min_x100,
       {_sql_scaled('quantile_cont(o_totalprice, 0.25)', 2)} AS p25_x100,
       {_sql_scaled('quantile_cont(o_totalprice, 0.5)', 2)} AS p50_x100,
       {_sql_scaled('quantile_cont(o_totalprice, 0.75)', 2)} AS p75_x100,
       {_sql_scaled('max(o_totalprice)', 2)} AS max_x100
FROM orders
""",
)
def describe_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solr_spark.functions.mathstream import describe

    out = describe(_t(spark, sf_dir, "orders"), "o_totalprice")
    return out.select(
        "count",
        scaled("mean", 2).alias("mean_x100"),
        scaled("stddev", 2).alias("stddev_x100"),
        scaled("min", 2).alias("min_x100"),
        scaled("p25", 2).alias("p25_x100"),
        scaled("p50", 2).alias("p50_x100"),
        scaled("p75", 2).alias("p75_x100"),
        scaled("max", 2).alias("max_x100"),
    )


@register(
    "corr_quantity_price",
    f"""
SELECT {_sql_scaled('corr(l_quantity, l_extendedprice)', 6)} AS corr_x1m,
       {_sql_scaled('covar_samp(l_quantity, l_extendedprice)', 2)} AS cov_x100
FROM lineitem
""",
)
def corr_quantity_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        scaled(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_x1m"),
        scaled(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("cov_x100"),
    )


@register(
    "moving_avg_daily_events",
    f"""
WITH daily AS (
  SELECT date_trunc('day', ts)::DATE AS day, sum(value) AS total
  FROM events GROUP BY day)
SELECT day,
       {_sql_scaled('avg(total) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)', 2)} AS ma7_x100
FROM daily ORDER BY day
""",
)
def moving_avg_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solr_spark.functions.mathstream import moving_avg

    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", F.col("ts")).cast("date").alias("day")).agg(
        F.sum("value").alias("total")
    )
    out = moving_avg(daily, "total", "day", window=7)
    return out.select("day", scaled("moving_avg", 2).alias("ma7_x100")).orderBy("day")


@register(
    "zscores_acctbal",
    f"""
SELECT c_custkey,
       {_sql_scaled('(c_acctbal - avg(c_acctbal) OVER (PARTITION BY c_nationkey)) / stddev_samp(c_acctbal) OVER (PARTITION BY c_nationkey)')} AS z_x10k
FROM customer
QUALIFY c_custkey < 20
ORDER BY c_custkey
""",
)
def zscores_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solr_spark.functions.mathstream import zscores

    c = _t(spark, sf_dir, "customer")
    out = zscores(c, "c_acctbal", partition_by="c_nationkey")
    return (
        out.where(F.col("c_custkey") < 20)
        .select("c_custkey", scaled("zscore").alias("z_x10k"))
        .orderBy("c_custkey")
    )


@register(
    "polyfit_quadratic",
    f"""
WITH xy AS (SELECT (l_quantity - 25.5) / 25.0 AS x, l_extendedprice AS y
            FROM lineitem),
m AS (SELECT count(*)::DOUBLE AS s0, sum(x) AS s1, sum(x*x) AS s2,
             sum(x*x*x) AS s3, sum(x*x*x*x) AS s4,
             sum(y) AS t0, sum(x*y) AS t1, sum(x*x*y) AS t2
      FROM xy),
d AS (SELECT s0*(s2*s4 - s3*s3) - s1*(s1*s4 - s3*s2) + s2*(s1*s3 - s2*s2) AS det,
             t0*(s2*s4 - s3*s3) - s1*(t1*s4 - s3*t2) + s2*(t1*s3 - s2*t2) AS d0,
             s0*(t1*s4 - s3*t2) - t0*(s1*s4 - s3*s2) + s2*(s1*t2 - t1*s2) AS d1,
             s0*(s2*t2 - t1*s3) - s1*(s1*t2 - t1*s2) + t0*(s1*s3 - s2*s2) AS d2
      FROM m)
SELECT {_sql_scaled('d0 / det', 2)} AS coef_0_x100,
       {_sql_scaled('d1 / det', 2)} AS coef_1_x100,
       {_sql_scaled('d2 / det', 2)} AS coef_2_x100
FROM d
""",
)
def polyfit_quadratic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`polyfit(x, y, 2)` (io/eval/PolyFitEvaluator.java): least-squares
    quadratic of extended price on CENTERED/SCALED quantity — one moments
    aggregation + a 3x3 driver solve; the oracle solves the same normal
    equations with Cramer's rule in SQL. Centering keeps the system
    well-conditioned so both solvers agree far below the 1e-2 rounding."""
    from solr_spark.functions.mathstream import polyfit

    li = _t(spark, sf_dir, "lineitem").select(
        ((F.col("l_quantity") - 25.5) / 25.0).alias("x"),
        F.col("l_extendedprice").alias("y"),
    )
    out = polyfit(li, "x", "y", degree=2)
    return out.select(
        scaled("coef_0", 2).alias("coef_0_x100"),
        scaled("coef_1", 2).alias("coef_1_x100"),
        scaled("coef_2", 2).alias("coef_2_x100"),
    )


@register(
    "welch_ttest_acctbal",
    f"""
WITH s AS (
  SELECT count(*) FILTER (c_mktsegment = 'BUILDING')::DOUBLE AS na,
         avg(c_acctbal)      FILTER (c_mktsegment = 'BUILDING') AS ma,
         var_samp(c_acctbal) FILTER (c_mktsegment = 'BUILDING') AS va,
         count(*) FILTER (c_mktsegment = 'MACHINERY')::DOUBLE AS nb,
         avg(c_acctbal)      FILTER (c_mktsegment = 'MACHINERY') AS mb,
         var_samp(c_acctbal) FILTER (c_mktsegment = 'MACHINERY') AS vb
  FROM customer)
SELECT {_sql_scaled('(ma - mb) / sqrt(va/na + vb/nb)', 4)} AS t_x10k,
       {_sql_scaled('pow(va/na + vb/nb, 2) / (pow(va/na, 2)/(na-1) + pow(vb/nb, 2)/(nb-1))', 2)} AS df_x100,
       na::BIGINT AS n_a, nb::BIGINT AS n_b
FROM s
""",
)
def welch_ttest_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ttest(a, b)` (io/eval/TTestEvaluator.java, Welch): account balance
    BUILDING vs MACHINERY — one filtered aggregation; t statistic and
    Welch-Satterthwaite df oracle-checked (the p-value needs the Student-t
    CDF, which SQL lacks — it's pytest-verified instead)."""
    from solr_spark.functions.mathstream import welch_ttest

    c = _t(spark, sf_dir, "customer")
    out = welch_ttest(c, "c_acctbal", "c_mktsegment", "BUILDING", "MACHINERY")
    return out.select(
        scaled("t_stat", 4).alias("t_x10k"),
        scaled("df", 2).alias("df_x100"),
        F.col("n_a"),
        F.col("n_b"),
    )


@register(
    "ecdf_totalprice",
    f"""
WITH n AS (SELECT count(*)::DOUBLE AS n FROM orders),
p(probe) AS (VALUES (50000.0), (150000.0), (300000.0), (450000.0))
SELECT probe::DOUBLE AS probe,
       {_sql_scaled('(SELECT count(*) FROM orders WHERE o_totalprice <= probe) / n.n', 6)} AS cum_x1m
FROM p, n ORDER BY probe
""",
)
def ecdf_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`empiricalDistribution` + `cumulativeProbability` (io/eval/): ECDF of
    order totals at four probe points — one aggregation pass with a
    filtered count per probe."""
    from solr_spark.functions.mathstream import ecdf

    o = _t(spark, sf_dir, "orders")
    out = ecdf(o, "o_totalprice", [50000.0, 150000.0, 300000.0, 450000.0])
    return out.select(
        "probe", scaled("cum_prob", 6).alias("cum_x1m")
    ).orderBy("probe")


@register(
    "frequency_table_quantity",
    f"""
WITH c AS (SELECT l_quantity::BIGINT AS value, count(*) AS n
           FROM lineitem GROUP BY 1),
t AS (SELECT sum(n)::DOUBLE AS total FROM c)
SELECT value, n,
       CAST(sum(n) OVER (ORDER BY value) AS BIGINT) AS cum_n,
       {_sql_scaled('n / t.total * 100.0')} AS pct_x10k,
       {_sql_scaled('sum(n) OVER (ORDER BY value) / t.total * 100.0')} AS cum_pct_x10k
FROM c, t ORDER BY value
""",
)
def frequency_table_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`frequencyTable(values)` (io/eval/FrequencyTableEvaluator.java) over
    lineitem quantities: one groupBy scan; the cumulative window runs over
    the ~50 distinct-value rows, not the raw data."""
    from solr_spark.functions.mathstream import frequency_table

    li = _t(spark, sf_dir, "lineitem")
    out = frequency_table(li, "l_quantity")
    return out.select(
        "value",
        F.col("count").alias("n"),
        F.col("cumFreq").alias("cum_n"),
        scaled("pct").alias("pct_x10k"),
        scaled("cumPct").alias("cum_pct_x10k"),
    ).orderBy("value")


@register(
    "diff7_daily_events",
    f"""
WITH daily AS (
  SELECT date_trunc('day', ts)::DATE AS day, sum(value) AS total
  FROM events GROUP BY day),
d AS (SELECT day, total - lag(total, 7) OVER (ORDER BY day) AS diff FROM daily)
SELECT day, {_sql_scaled('diff', 2)} AS diff7_x100
FROM d WHERE diff IS NOT NULL ORDER BY day
""",
)
def diff7_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`diff(values, 7)` (io/eval/TimeDifferencingEvaluator.java) — the
    TWO-argument seasonal form: weekly differencing of the daily
    event-value series (the lag-1 serial form is `diff_daily_events`)."""
    from solr_spark.functions.mathstream import diff_series

    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.sum("value").alias("total"))
    out = diff_series(daily, "total", "day", lag=7).where(
        F.col("diff").isNotNull()
    )
    return out.select("day", scaled("diff", 2).alias("diff7_x100")).orderBy("day")


@register(
    "moving_mad_daily",
    f"""
WITH daily AS (
  SELECT date_trunc('day', ts)::DATE AS day, sum(value) AS total
  FROM events GROUP BY day),
lw AS (SELECT day, list(total) OVER (ORDER BY day
         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS l FROM daily),
m AS (SELECT day, l, list_sum(l) / len(l) AS mean FROM lw WHERE len(l) >= 7)
SELECT day,
       {_sql_scaled('list_sum(list_transform(l, v -> abs(v - mean))) / len(l)', 2)} AS mad7_x100
FROM m ORDER BY day
""",
)
def moving_mad_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`movingMAD(values, 7)` (io/eval/MovingMADEvaluator.java) — trailing
    mean absolute deviation around the window mean, daily event values."""
    from solr_spark.functions.mathstream import moving_mad

    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.sum("value").alias("total"))
    out = moving_mad(daily, "total", "day", window=7)
    return (
        out.where(F.col("moving_mad").isNotNull())
        .select("day", scaled("moving_mad", 2).alias("mad7_x100"))
        .orderBy("day")
    )


@register(
    "corr_significance_qty_price",
    f"""
SELECT {_sql_scaled('corr(l_quantity, l_extendedprice)', 6)} AS corr_x1m,
       count(*) AS n
FROM lineitem
""",
)
def corr_significance_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`corrSignificance` (io/eval/CorrelationSignificanceEvaluator.java):
    Pearson r + n oracle-checked; the two-sided p-value (Student-t tail,
    SQL lacks the CDF) is pytest-verified like welch_ttest's."""
    from solr_spark.functions.mathstream import corr_significance

    li = _t(spark, sf_dir, "lineitem")
    out = corr_significance(li, "l_quantity", "l_extendedprice")
    return out.select(scaled("corr", 6).alias("corr_x1m"), "n")


@register(
    "spearman_qty_price",
    f"""
WITH f AS (SELECT l_quantity AS a, l_extendedprice AS b FROM lineitem),
ra AS (SELECT a, sum(count(*)) OVER (ORDER BY a) - count(*)
              + (count(*) + 1) / 2.0 AS _ra
       FROM f GROUP BY a),
rb AS (SELECT b, sum(count(*)) OVER (ORDER BY b) - count(*)
              + (count(*) + 1) / 2.0 AS _rb
       FROM f GROUP BY b)
SELECT {_sql_scaled('corr(_ra, _rb)', 6)} AS spearman_x1m
FROM f JOIN ra USING (a) JOIN rb USING (b)
""",
)
def spearman_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`corr(a, b, type=spearmans)` (io/eval/CorrelationEvaluator.java:89)
    — rank correlation of lineitem quantity vs extended price, fractional
    ranks from a distinct-value dictionary (never a full-table window)."""
    from solr_spark.functions.mathstream import spearman_corr

    li = _t(spark, sf_dir, "lineitem").select("l_quantity", "l_extendedprice")
    out = spearman_corr(li, "l_quantity", "l_extendedprice")
    return out.select(scaled("spearman", 6).alias("spearman_x1m"))


@register(
    "kendall_qty_price",
    f"""
WITH cells AS (
  SELECT CAST(l_quantity AS DOUBLE) AS a,
         CAST(floor(l_extendedprice / 10000.0) AS DOUBLE) AS b,
         CAST(count(*) AS DOUBLE) AS c
  FROM lineitem GROUP BY 1, 2),
cd AS (SELECT sum(p.c * q.c * sign(q.b - p.b)) AS cd
       FROM cells p JOIN cells q ON p.a < q.a),
tot AS (SELECT sum(c) AS n FROM cells),
t1 AS (SELECT sum(t * (t - 1)) / 2.0 AS n1
       FROM (SELECT sum(c) AS t FROM cells GROUP BY a)),
t2 AS (SELECT sum(u * (u - 1)) / 2.0 AS n2
       FROM (SELECT sum(c) AS u FROM cells GROUP BY b))
SELECT {_sql_scaled(
    'cd / sqrt((n * (n - 1) / 2.0 - n1) * (n * (n - 1) / 2.0 - n2))', 6
)} AS tau_x1m
FROM cd, tot, t1, t2
""",
)
def kendall_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`corr(a, b, type=kendalls)` (io/eval/CorrelationEvaluator.java:91,
    commons-math KendallsCorrelation tau-b) — lineitem quantity vs the
    10k-bucketed extended price: C - D folded over joint-dictionary cell
    pairs (broadcast self-join of distinct cells, never row pairs)."""
    from solr_spark.functions.mathstream import kendall_tau

    li = _t(spark, sf_dir, "lineitem").select(
        "l_quantity",
        F.floor(F.col("l_extendedprice") / 10000.0).alias("price_bucket"),
    )
    out = kendall_tau(li, "l_quantity", "price_bucket")
    return out.select(scaled("kendall_tau", 6).alias("tau_x1m"))


@register(
    "ema_daily_events",
    f"""
WITH daily AS (
  SELECT date_trunc('day', ts)::DATE AS day, sum(value) AS total
  FROM events GROUP BY day),
numbered AS (
  SELECT day, total, row_number() OVER (ORDER BY day) AS rn FROM daily),
base AS (
  SELECT day, total, rn,
         avg(CASE WHEN rn <= 7 THEN total END) OVER () AS seed,
         sum(CASE WHEN rn > 7 THEN pow(4.0/3.0, rn) * total END)
           OVER (ORDER BY rn) AS cum
  FROM numbered)
SELECT day,
       {_sql_scaled('seed * pow(0.75, rn - 7) '
                    '+ 0.25 * coalesce(cum, 0) * pow(0.75, rn)', 2)} AS ema_x100
FROM base WHERE rn >= 7 ORDER BY day
""",
)
def ema_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`expMovingAvg(values, 7)` (io/eval/ExponentialMovingAverageEvaluator
    .java): EMA of daily event totals, seed = mean of the first 7 days,
    alpha = 2/8. The recurrence is unrolled to a closed-form weighted
    cumulative sum (one window pass, no Python); the oracle evaluates the
    identical closed form."""
    from solr_spark.functions.mathstream import exp_moving_avg

    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.sum("value").alias("total"))
    out = exp_moving_avg(daily, "total", "day", window=7)
    return (
        out.where(F.col("ema").isNotNull())
        .select("day", scaled("ema", 2).alias("ema_x100"))
        .orderBy("day")
    )


@register(
    "anova_price_by_status",
    f"""
WITH g AS (SELECT o_orderstatus AS grp, count(*)::DOUBLE AS n,
                  avg(o_totalprice) AS m, var_samp(o_totalprice) AS v
           FROM orders GROUP BY 1),
t AS (SELECT count(*)::DOUBLE AS k, sum(n) AS nt, sum(n * m) AS sa,
             sum(n * m * m) AS snm2, sum((n - 1) * v) AS ssw
      FROM g)
SELECT {_sql_scaled('((snm2 - nt * (sa/nt) * (sa/nt)) / (k - 1)) / (ssw / (nt - k))', 6)} AS f_x1m,
       (k - 1)::BIGINT AS df_between, (nt - k)::BIGINT AS df_within
FROM t
""",
)
def anova_price_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`anova(a, b, ...)` (io/eval/AnovaEvaluator.java): order totals across
    the three order statuses. F ratio and dof oracle-checked; the p-value
    needs the F survival function (regularized incomplete beta), which SQL
    lacks — it's golden-quantile-verified in pytest instead."""
    from solr_spark.functions.mathstream import anova_oneway

    o = _t(spark, sf_dir, "orders")
    out = anova_oneway(o, "o_totalprice", "o_orderstatus")
    return out.select(
        scaled("f_ratio", 6).alias("f_x1m"), "df_between", "df_within"
    )


_PRIORITY_BINS_SQL = """
bins AS (
  SELECT o_orderpriority,
         sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::DOUBLE AS a,
         sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)::DOUBLE AS b
  FROM orders GROUP BY 1),
t AS (SELECT sum(a) AS sa, sum(b) AS sb FROM bins)
"""


def _priority_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("double").alias("a"),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0))
        .cast("double").alias("b"),
    )


@register(
    "chisq_priority_counts",
    f"""
WITH {_PRIORITY_BINS_SQL}
SELECT {_sql_scaled(
        'sum(CASE WHEN abs(t.sa - t.sb) > 1e-9 '
        'THEN pow(a / sqrt(t.sa / t.sb) - b * sqrt(t.sa / t.sb), 2) / (a + b) '
        'ELSE pow(a - b, 2) / (a + b) END)', 6)} AS chisq_x1m,
       (count(*) - 1)::BIGINT AS dof
FROM bins, t GROUP BY t.sa, t.sb
""",
)
def chisq_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`chiSquareDataSet(a, b)` (io/eval/ChiSquareDataSetEvaluator.java,
    commons-math chiSquareDataSetsComparison): per-priority order counts,
    status F vs O. Statistic + dof oracle-checked (p-value is
    golden-quantile pytest territory, like anova)."""
    from solr_spark.functions.mathstream import chi_square_datasets

    out = chi_square_datasets(_priority_bins(spark, sf_dir), "a", "b")
    return out.select(scaled("chisq_stat", 6).alias("chisq_x1m"), "dof")


@register(
    "gtest_priority_counts",
    f"""
WITH {_PRIORITY_BINS_SQL}
SELECT {_sql_scaled(
        '2 * sum(CASE WHEN a > 0 THEN a * ln(a / (t.sa * (a + b) / (t.sa + t.sb))) ELSE 0 END '
        '+ CASE WHEN b > 0 THEN b * ln(b / (t.sb * (a + b) / (t.sa + t.sb))) ELSE 0 END)', 6)} AS g_x1m,
       (count(*) - 1)::BIGINT AS dof
FROM bins, t GROUP BY t.sa, t.sb
""",
)
def gtest_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`gtestDataSet(a, b)` (io/eval/GTestDataSetEvaluator.java,
    commons-math gDataSetsComparison): likelihood-ratio G over the same
    2 x 5 priority table as chisq_priority_counts."""
    from solr_spark.functions.mathstream import g_test_datasets

    out = g_test_datasets(_priority_bins(spark, sf_dir), "a", "b")
    return out.select(scaled("g_stat", 6).alias("g_x1m"), "dof")


@register(
    "ks_price_returnflag",
    f"""
WITH two AS (SELECT l_extendedprice AS v, l_returnflag = 'A' AS is_a
             FROM lineitem WHERE l_returnflag IN ('A', 'R')),
c AS (SELECT
        sum(CASE WHEN is_a THEN 1 ELSE 0 END) OVER () AS na,
        sum(CASE WHEN is_a THEN 0 ELSE 1 END) OVER () AS nb,
        sum(CASE WHEN is_a THEN 1 ELSE 0 END)
          OVER (ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
        sum(CASE WHEN is_a THEN 0 ELSE 1 END)
          OVER (ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
      FROM two)
SELECT {_sql_scaled('max(abs(ca * 1.0 / na - cb * 1.0 / nb))', 6)} AS d_x1m,
       max(na)::BIGINT AS n_a, max(nb)::BIGINT AS n_b
FROM c
""",
)
def ks_price_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ks(a, b)` two-sample (io/eval/KolmogorovSmirnovEvaluator.java):
    D = sup|F_A - F_R| of extended price between return flags A and R via
    one range-frame ECDF window (ties collapse correctly) + a max. The
    asymptotic p-value is pytest-verified (Kolmogorov series, no SQL)."""
    from solr_spark.functions.mathstream import ks_two_sample

    li = _t(spark, sf_dir, "lineitem")
    out = ks_two_sample(li, "l_extendedprice", "l_returnflag", "A", "R")
    return out.select(scaled("d_stat", 6).alias("d_x1m"), "n_a", "n_b")


@register(
    "mannwhitney_quantity",
    f"""
WITH two AS (SELECT l_quantity::DOUBLE AS v, l_returnflag = 'A' AS is_a
             FROM lineitem WHERE l_returnflag IN ('A', 'R')),
r AS (SELECT is_a,
             rank() OVER (ORDER BY v)
               + (count(*) OVER (PARTITION BY v) - 1) / 2.0 AS mr
      FROM two),
m AS (SELECT sum(CASE WHEN is_a THEN mr END) AS ra,
             sum(CASE WHEN is_a THEN 1 ELSE 0 END)::DOUBLE AS na,
             sum(CASE WHEN is_a THEN 0 ELSE 1 END)::DOUBLE AS nb
      FROM r)
SELECT {_sql_scaled('greatest(ra - na * (na + 1) / 2, '
                    'na * nb - (ra - na * (na + 1) / 2))', 2)} AS u_x100,
       na::BIGINT AS n_a, nb::BIGINT AS n_b
FROM m
""",
)
def mannwhitney_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`mannWhitney(a, b)` (io/eval/MannWhitneyUEvaluator.java): U over
    lineitem quantities (integer-valued, heavy ties — exercises the
    average-midrank path) between return flags A and R."""
    from solr_spark.functions.mathstream import mann_whitney_u

    li = _t(spark, sf_dir, "lineitem")
    out = mann_whitney_u(li, "l_quantity", "l_returnflag", "A", "R")
    return out.select(scaled("u_stat", 2).alias("u_x100"), "n_a", "n_b")


@register(
    "markov_event_transitions",
    f"""
WITH seq AS (
  SELECT event_type AS state,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_type)
           AS next_state
  FROM events),
pairs AS (SELECT state, next_state, count(*) AS n FROM seq
          WHERE next_state IS NOT NULL GROUP BY 1, 2)
SELECT state, next_state, n,
       {_sql_scaled('n * 1.0 / sum(n) OVER (PARTITION BY state)', 6)} AS prob_x1m
FROM pairs ORDER BY state, next_state
""",
)
def markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transition-matrix fit for `markovChain` (io/eval/MarkovChainEvaluator
    .java samples FROM a matrix; this estimates the matrix): per-user
    event-type sequences ordered by (ts, state) — one lag window shuffling
    on user_id + one pair groupBy."""
    from solr_spark.functions.mathstream import markov_transitions

    e = _t(spark, sf_dir, "events")
    out = markov_transitions(e, "event_type", "ts", "user_id")
    return out.select(
        "state", "next_state", "n", scaled("prob", 6).alias("prob_x1m")
    ).orderBy("state", "next_state")


_GOPHER_GRAMS_SQL = """
gtoks AS (SELECT doc_id, length(text)::DOUBLE AS nc,
        list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                    t -> t <> '') AS ts
  FROM documents),
ns(n) AS (VALUES (2), (3), (4), (5), (6), (7), (8), (9), (10)),
grams AS (SELECT doc_id, nc, n, array_to_string(ts[i + 1 : i + n], ' ') AS gram
          FROM gtoks, ns, unnest(range(0, len(ts) - n + 1)) AS u(i)
          WHERE len(ts) >= n),
gcounts AS (SELECT doc_id, n, gram, count(*) AS c, length(gram) AS gl,
                   any_value(nc) AS nc
            FROM grams GROUP BY doc_id, n, gram),
pern AS (SELECT doc_id, n, any_value(nc) AS nc,
                max(struct_pack(c := c, gl := gl)) AS top,
                coalesce(sum(CASE WHEN c > 1 THEN c * gl END), 0) AS dup_chars
         FROM gcounts GROUP BY doc_id, n)
"""


@register(
    "gopher_repetition_docs",
    f"""
WITH {_GOPHER_GRAMS_SQL},
agg AS (SELECT doc_id,
  {', '.join(_sql_scaled(f"coalesce(max(CASE WHEN n = {n} THEN top.c * top.gl / nc END), 0)") + f" AS top_frac_{n}_x10k" for n in (2, 3, 4))},
  {', '.join(_sql_scaled(f"coalesce(max(CASE WHEN n = {n} THEN dup_chars / nc END), 0)") + f" AS dup_frac_{n}_x10k" for n in (5, 10))}
  FROM pern GROUP BY doc_id)
SELECT d.doc_id AS id, {', '.join(f"coalesce(top_frac_{n}_x10k, 0) AS top_frac_{n}_x10k" for n in (2, 3, 4))},
       {', '.join(f"coalesce(dup_frac_{n}_x10k, 0) AS dup_frac_{n}_x10k" for n in (5, 10))}
FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
WHERE d.doc_id < 60 ORDER BY id
""",
)
def gopher_repetition_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition signals (Rae et al. 2021 Table A1) over documents:
    top-{2,3,4}-gram char fraction + duplicated-{5,10}-gram char fraction.
    One n-gram explode + two map-side-combinable aggregations — the same
    linear shape as tf counting, so it holds at corpus scale."""
    from solr_spark.functions.curation import gopher_repetition

    # Slice BEFORE the operator: the fraction columns carry a
    # non-deterministic pushdown guard (curation.py), so a filter applied
    # after the projection cannot reach the scan — pre-filtering keeps this
    # verification entry from running the 9-signal pipeline corpus-wide.
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 60)
    rep = gopher_repetition(docs, "text", "doc_id")
    return (
        rep
        .select(
            "id",
            *[scaled(f"top_frac_{n}").alias(f"top_frac_{n}_x10k")
              for n in (2, 3, 4)],
            *[scaled(f"dup_frac_{n}").alias(f"dup_frac_{n}_x10k")
              for n in (5, 10)],
        )
        .orderBy("id")
    )


@register(
    "gopher_quality_docs",
    f"""
WITH w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS ws,
         lower(text) AS lt, text
  FROM documents),
m AS (
  SELECT doc_id, len(ws) AS word_count,
         list_sum(list_transform(ws, x -> length(x)))
           / greatest(len(ws), 1)::DOUBLE AS mean_word_len,
         len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))
           / greatest(len(ws), 1)::DOUBLE AS alpha_frac,
         ({' + '.join(f"CASE WHEN regexp_matches(lt, '(^|[^a-z0-9]){sw}([^a-z0-9]|$)') THEN 1 ELSE 0 END" for sw in ('the', 'and', 'of', 'to', 'in', 'is', 'it', 'that', 'for', 'was'))}) AS stop_hits
  FROM w)
SELECT doc_id AS id, word_count,
       {_sql_scaled('mean_word_len')} AS mean_len_x10k,
       {_sql_scaled('alpha_frac')} AS alpha_x10k,
       stop_hits::BIGINT AS stopword_hits,
       (CASE WHEN word_count BETWEEN 50 AND 100000
              AND mean_word_len BETWEEN 3.0 AND 10.0
              AND alpha_frac >= 0.8 AND stop_hits >= 2
             THEN 1 ELSE 0 END)::BIGINT AS keep
FROM m WHERE doc_id < 60 ORDER BY id
""",
)
def gopher_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher §A1.1 word-level quality rules (word count, mean word length,
    alpha-word fraction, stopword hits) — zero-shuffle JVM projection. The
    symbol/bullet/ellipsis line rules are in the same operator (pytest-
    covered; the documents table has no lines or symbols to exercise
    them, so the oracle checks the word rules)."""
    from solr_spark.functions.curation import gopher_quality

    docs = _t(spark, sf_dir, "documents")
    q = gopher_quality(docs, "text", "doc_id")
    # keep-flag here reflects only the word rules the oracle can see:
    # the synthetic docs have no symbols/bullets, so the full keep column
    # and this reduced one agree (asserted in pytest).
    return (
        q.where(F.col("id") < 60)
        .select(
            "id",
            "word_count",
            scaled("mean_word_len").alias("mean_len_x10k"),
            scaled("alpha_word_frac").alias("alpha_x10k"),
            F.col("stopword_hits").cast("long").alias("stopword_hits"),
            F.col("keep").cast("long").alias("keep"),
        )
        .orderBy("id")
    )


@register(
    "c4_line_filter_docs",
    """
WITH chunked AS (
  SELECT doc_id,
         array_to_string(list_transform(
           range(0, cast(ceil(len(ts) / 8.0) AS INT)),
           i -> array_to_string(ts[i * 8 + 1 : i * 8 + 8], ' ')
                || CASE WHEN i % 2 = 0 THEN '.' ELSE '' END),
           chr(10)) AS text2
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                           t -> t <> '') AS ts
        FROM documents)),
lines AS (
  SELECT doc_id, list_filter(
           list_transform(string_split(text2, chr(10)), x -> trim(x)),
           x -> x <> '') AS ls, text2
  FROM chunked),
f AS (
  SELECT doc_id, len(ls) AS n_lines,
         list_filter(ls, l ->
           substr(l, length(l), 1) IN ('.', '!', '?', '"')
           AND len(list_filter(regexp_split_to_array(l, '\\s+'),
                               w -> w <> '')) >= 5
           AND NOT (contains(lower(l), 'javascript')
                    OR contains(lower(l), 'cookie')
                    OR contains(lower(l), 'terms of use')
                    OR contains(lower(l), 'privacy policy'))) AS kept,
         contains(lower(text2), 'lorem ipsum') AS has_lorem,
         contains(text2, '{') AS has_brace
  FROM lines)
SELECT doc_id AS id, n_lines, len(kept) AS n_kept,
       length(array_to_string(kept, chr(10))) AS clean_len,
       (CASE WHEN len(kept) >= 3 AND NOT has_lorem AND NOT has_brace
             THEN 1 ELSE 0 END)::BIGINT AS keep
FROM f WHERE doc_id < 60 ORDER BY id
""",
)
def c4_line_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 §2.2 line filtering. The documents table is single-line
    punctuation-free token soup, so the entry derives a deterministic
    multi-line corpus from it first (8-token lines, '.' appended to
    even-indexed lines) and then applies the real operator — terminal
    punctuation, >=5 words/line, blocklist, >=3 kept lines. The oracle
    mirrors the derivation exactly; blocklist/brace/lorem branches are
    pytest-covered."""
    from solr_spark.functions.curation import c4_line_filter
    from solr_spark.functions.dedup import tokens_col

    docs = _t(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    n_chunks = F.ceil(F.size(toks) / F.lit(8.0)).cast("int")
    text2 = F.concat_ws(
        "\n",
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.concat(
                F.concat_ws(" ", F.slice(toks, i * 8 + 1, 8)),
                F.when(i % 2 == 0, F.lit(".")).otherwise(F.lit("")),
            ),
        ),
    )
    derived = docs.select("doc_id", text2.alias("text2"))
    out = c4_line_filter(derived, "text2", "doc_id")
    return (
        out.where(F.col("id") < 60)
        .select(
            "id", "n_lines", "n_kept",
            F.length("clean_text").alias("clean_len"),
            F.col("keep").cast("long").alias("keep"),
        )
        .orderBy("id")
    )


@register(
    "pii_scrub_docs",
    """
WITH t AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com ip 10.0.'
              || (doc_id % 256) || '.7' AS t0
  FROM documents),
s1 AS (SELECT doc_id, t0,
              len(regexp_extract_all(t0,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
              regexp_replace(t0,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                  '<EMAIL>', 'g') AS t1
       FROM t),
s2 AS (SELECT doc_id, n_email,
              len(regexp_extract_all(t1,
                  '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS n_ip,
              regexp_replace(t1,
                  '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                  '<IP>', 'g') AS t2
       FROM s1),
s3 AS (SELECT doc_id, n_email, n_ip,
              len(regexp_extract_all(t2, '\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b')) AS n_phone,
              regexp_replace(t2, '\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b',
                             '<PHONE>', 'g') AS t3
       FROM s2)
SELECT doc_id AS id, n_email::BIGINT AS n_email, n_ip::BIGINT AS n_ip,
       n_phone::BIGINT AS n_phone, length(t3) AS scrubbed_len
FROM s3 WHERE doc_id < 60 ORDER BY id
""",
)
def pii_scrub_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking (email/IPv4/phone, RE2-safe public patterns) over a
    deterministic PII-bearing derivation of documents (the raw table has
    no PII; the entry appends a synthetic contact line per doc so every
    pattern fires). Chained regexp_replace — zero shuffle, zero Python."""
    from solr_spark.functions.curation import pii_scrub

    docs = _t(spark, sf_dir, "documents")
    derived = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact user"), F.col("doc_id"),
            F.lit("@example.com ip 10.0."), F.col("doc_id") % 256,
            F.lit(".7"),
        ).alias("t0"),
    )
    out = pii_scrub(derived, "t0")
    return (
        out.where(F.col("doc_id") < 60)
        .select(
            F.col("doc_id").alias("id"),
            F.col("n_email").cast("long"),
            F.col("n_ip").cast("long"),
            F.col("n_phone").cast("long"),
            F.length("scrubbed").alias("scrubbed_len"),
        )
        .orderBy("id")
    )


@register(
    "pack_chunks_bins",
    """
WITH ptoks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS ts
  FROM documents),
cz AS (SELECT doc_id, len(ts) AS n FROM ptoks WHERE len(ts) > 0),
chunks AS (
  SELECT doc_id, i AS chunk_id,
         least(n - least(i * 16, greatest(n - 16, 0)), 16) AS nt
  FROM cz, unnest(range(0, 1 + greatest(0,
           cast(ceil((n - 16) / 16.0) AS INT)))) AS u(i)),
ordered AS (
  SELECT nt, sum(nt) OVER (ORDER BY doc_id, chunk_id) AS cum FROM chunks)
SELECT cast(floor((cum - nt) / 512) AS BIGINT) AS bin,
       count(*) AS n_chunks, sum(nt)::BIGINT AS bin_tokens
FROM ordered GROUP BY 1 ORDER BY bin
""",
)
def pack_chunks_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing over the chunked corpus: documents ->
    16-token chunks -> concat-and-cut into 512-token training examples.
    The global token offsets come from a BUCKET-PARALLEL prefix sum
    (functions/curation.py distributed_prefix_sum) — no single-partition
    window over the data; the oracle's plain SQL window is the sequential
    ground truth it must match. Output: chunks starting in each bin +
    their token mass."""
    from solr_spark.functions.curation import pack_concat
    from solr_spark.functions.textstats import chunk_tokens

    docs = _t(spark, sf_dir, "documents")
    chunks = chunk_tokens(docs, "text", "doc_id", size=16, overlap=0)
    keyed = chunks.withColumn(
        "k", F.col("id") * 1000 + F.col("chunk_id")
    )
    packed = pack_concat(keyed, "n_tokens", "k", seq_len=512, n_buckets=64)
    return (
        packed.groupBy(F.col("first_bin").alias("bin"))
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("n_tokens").cast("long").alias("bin_tokens"),
        )
        .orderBy("bin")
    )


@register(
    "minhash_query_top10",
    f"""
WITH {_SH},
params(i, a, b) AS (VALUES {_minhash_params_sql()}),
mh AS (
  SELECT doc_id, i, min((a * (h % 2147483647) + b) % 2147483647)::BIGINT AS mh
  FROM sh, params GROUP BY doc_id, i),
q AS (SELECT i, mh FROM mh WHERE doc_id = 0),
sim AS (
  SELECT m.doc_id, sum(CASE WHEN m.mh = q.mh THEN 1 ELSE 0 END) AS n_match
  FROM mh m JOIN q USING (i) WHERE m.doc_id <> 0 GROUP BY 1)
SELECT doc_id, n_match::BIGINT AS n_match,
       {_sql_scaled('n_match / 32.0')} AS sim_x10k
FROM sim WHERE n_match > 0
ORDER BY n_match DESC, doc_id LIMIT 10
""",
)
def minhash_query_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`{{!minhash}}` similarity query (search/MinHashQParserPlugin.java):
    score a corpus against the fingerprint of a query text — here doc 0,
    the same find-like-this shape as mlt_doc0. Score = matching signature
    slots (the standard per-permutation MinHash Jaccard estimate; the
    reference scores one SHOULD clause per matching hash token). One
    zip_with against a broadcast 32-long literal — no join, no Python."""
    from solr_spark.functions.dedup import minhash_signatures

    d = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, "text", "doc_id", k=32)
    qsig = sigs.where(F.col("id") == 0).collect()[0]["minhash"]
    qlit = F.array(*[F.lit(int(v)) for v in qsig])
    matches = F.size(
        F.filter(F.zip_with(F.col("minhash"), qlit, lambda a, b: a == b),
                 lambda x: x)
    )
    return (
        sigs.where(F.col("id") != 0)
        .select(
            F.col("id").alias("doc_id"),
            matches.cast("long").alias("n_match"),
        )
        .where(F.col("n_match") > 0)
        .select("doc_id", "n_match", scaled(F.col("n_match") / 32.0).alias("sim_x10k"))
        .orderBy(F.col("n_match").desc(), F.col("doc_id"))
        .limit(10)
    )


@register(
    "cube_orders_rollup",
    """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n,
       CAST(floor(sum(o_totalprice) * 100.0 + 0.5) AS BIGINT) AS total_x100
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY status, priority
""",
)
def cube_orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-set cube over orders (SURVEY §2.4 notes the reference's
    closest analogue is hierarchical pivot facets; Spark's df.cube gives
    the full lattice in ONE pass — partial aggregation expands grouping
    sets map-side, so it costs one shuffle like a plain groupBy)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            scaled(F.sum("o_totalprice"), 2).alias("total_x100"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n", "total_x100",
        )
        .orderBy("status", "priority")
    )


_CLUSTER_Q = ("merge", "batch", "stream")


@register(
    "cluster_results_merge",
    f"""
WITH {TOKS}, {TF}, {DL},
qt(term) AS (VALUES {', '.join(f"('{t}')" for t in _CLUSTER_Q)}),
dfs AS (SELECT term, count(*) AS df FROM tf
        WHERE term IN (SELECT term FROM qt) GROUP BY term),
w AS (SELECT term, ln(1 + ({NDOCS} - df + 0.5) / (df + 0.5)) AS w FROM dfs),
bm AS (
  SELECT tf.doc_id,
         sum(w.w * tf.tf / (tf.tf + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dl.dl / {AVGDL}))) AS s
  FROM tf JOIN w USING (term) JOIN dl USING (doc_id)
  GROUP BY tf.doc_id),
top AS (SELECT doc_id FROM bm
        ORDER BY CAST(floor(s * 10000.0 + 0.5) AS BIGINT) DESC, doc_id ASC
        LIMIT 50),
rt AS (SELECT DISTINCT t.doc_id, t.term FROM toks t JOIN top USING (doc_id)),
dr AS (SELECT term, count(*) AS df_r FROM rt GROUP BY term),
n AS (SELECT count(*) AS n_r FROM top),
cand AS (SELECT term, df_r, df_r * ln(n_r * 1.0 / df_r) AS score
         FROM dr, n
         WHERE df_r >= 2 AND term NOT IN {str(_CLUSTER_Q)}),
labels AS (
  SELECT term AS label,
         row_number() OVER (ORDER BY score DESC, term ASC) AS label_rank
  FROM cand QUALIFY label_rank <= 4),
asg AS (SELECT rt.doc_id, min(l.label_rank) AS label_rank
        FROM rt JOIN labels l ON rt.term = l.label GROUP BY rt.doc_id),
fin AS (SELECT top.doc_id,
               coalesce(l.label, 'Other topics') AS label,
               coalesce(a.label_rank, 0) AS label_rank
        FROM top LEFT JOIN asg a USING (doc_id)
        LEFT JOIN labels l ON a.label_rank = l.label_rank)
SELECT label, label_rank::BIGINT AS label_rank, count(*) AS n_docs
FROM fin GROUP BY 1, 2 ORDER BY label_rank
""",
)
def cluster_results_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-line result clustering (contrib/clustering ClusteringComponent;
    ref guide result-clustering.adoc): top-50 BM25 hits for 'merge batch
    stream' grouped under 4 auto-discovered labels + the Other bucket —
    the significant-terms labeling engine (operators/clustering.py; the
    reference delegates to external Carrot2 algorithms, documented
    there). Query terms are excluded from labels, Carrot2-style."""
    from solr_spark.operators.clustering import cluster_results, cluster_summary

    docs = _t(spark, sf_dir, "documents")
    top = _bm25_spark(spark, sf_dir, " ".join(_CLUSTER_Q), k=50)
    results = top.select("doc_id").join(docs, "doc_id").select("doc_id", "text")
    assigned = cluster_results(
        results, "text", "doc_id", k_labels=4, min_df=2,
        stop_terms=_CLUSTER_Q,
    )
    return cluster_summary(assigned).select(
        "label", F.col("label_rank").cast("long").alias("label_rank"), "n_docs"
    )


@register(
    "stc_clusters_window",
    f"""
WITH RECURSIVE
win AS (SELECT doc_id, text FROM documents
        ORDER BY n_chars DESC, doc_id LIMIT 40),
t AS (SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS l
      FROM win),
g AS (
  SELECT DISTINCT doc_id, phrase FROM (
    SELECT doc_id, unnest(l) AS phrase FROM t
    UNION ALL
    SELECT doc_id, unnest(list_transform(range(1, greatest(len(l) - 1, 0) + 1),
           i -> array_to_string(l[i:i+1], ' '))) FROM t
    UNION ALL
    SELECT doc_id, unnest(list_transform(range(1, greatest(len(l) - 2, 0) + 1),
           i -> array_to_string(l[i:i+2], ' '))) FROM t)),
base AS (
  SELECT phrase, count(*) AS df, list_sort(list(doc_id)) AS docs,
         count(*) * (CASE WHEN len(string_split(phrase, ' ')) = 1 THEN 0.5
                          ELSE least(len(string_split(phrase, ' ')), 6)::DOUBLE
                     END) AS score
  FROM g GROUP BY phrase
  HAVING count(*) >= 2 AND count(*) <= 32),
topb AS (
  SELECT * FROM (SELECT *, row_number() OVER (ORDER BY score DESC, phrase) AS bid
                 FROM base) WHERE bid <= 500),
ov AS (
  SELECT a.bid AS ba, b.bid AS bb
  FROM topb a JOIN topb b ON a.bid < b.bid
  WHERE len(list_intersect(a.docs, b.docs)) > 0.5 * len(a.docs)
    AND len(list_intersect(a.docs, b.docs)) > 0.5 * len(b.docs)),
e AS (SELECT ba AS src, bb AS dst FROM ov UNION ALL SELECT bb, ba FROM ov),
reach AS (
  SELECT bid AS node, bid AS r FROM topb
  UNION
  SELECT e.src AS node, reach.r FROM e JOIN reach ON e.dst = reach.node),
comp AS (SELECT node AS bid, min(r) AS comp FROM reach GROUP BY node),
cl AS (SELECT comp.comp, sum(score) AS cscore
       FROM comp JOIN topb USING (bid) GROUP BY comp.comp),
lbl AS (
  SELECT comp, phrase AS label FROM (
    SELECT comp.comp, topb.phrase,
           row_number() OVER (PARTITION BY comp.comp
             ORDER BY topb.score DESC,
                      len(string_split(topb.phrase, ' ')) DESC,
                      topb.phrase) AS rn
    FROM comp JOIN topb USING (bid)) WHERE rn = 1),
rk AS (
  SELECT * FROM (
    SELECT cl.comp, cscore, label,
           row_number() OVER (ORDER BY cscore DESC, label) AS cluster_rank
    FROM cl JOIN lbl USING (comp)) WHERE cluster_rank <= 10),
mem AS (
  SELECT DISTINCT rk.cluster_rank, rk.label, rk.cscore, u.id
  FROM rk JOIN comp ON comp.comp = rk.comp
  JOIN topb ON topb.bid = comp.bid, unnest(topb.docs) AS u(id)),
assigned AS (
  SELECT id, label, cluster_rank::INT AS cluster_rank,
         {_sql_scaled('cscore')} AS cluster_score_x10k
  FROM mem
  UNION ALL
  SELECT doc_id, 'Other topics', 0, 0 FROM win
  WHERE doc_id NOT IN (SELECT id FROM mem))
SELECT * FROM assigned ORDER BY cluster_rank, id
""",
)
def stc_clusters_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix Tree Clustering (Zamir & Etzioni SIGIR'98 — the published
    algorithm behind Carrot2's STC engine, which the reference's
    clustering contrib delegates to) over a deterministic top-40 result
    window: overlapping phrase clusters, base-cluster merge at 0.5, ranked
    by summed base scores."""
    from solr_spark.operators.clustering import stc_clusters

    docs = _t(spark, sf_dir, "documents")
    win = docs.orderBy(F.col("n_chars").desc(), F.col("doc_id")).limit(40)
    out = stc_clusters(
        win, "text", "doc_id", max_phrase=3, min_df=2, max_df_frac=0.8,
        max_base=500, k_clusters=10,
    )
    return out.select(
        "id", "label", "cluster_rank",
        scaled("cluster_score").alias("cluster_score_x10k"),
    ).orderBy("cluster_rank", "id")


@register(
    "dbscan_embeddings",
    f"""
WITH RECURSIVE
e0 AS (SELECT vec_id, embedding FROM embeddings),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM e0 a JOIN e0 b ON a.vec_id < b.vec_id
  WHERE list_sum(list_transform(range(1, 65),
        i -> (a.embedding[i]::DOUBLE - b.embedding[i]::DOUBLE)
           * (a.embedding[i]::DOUBLE - b.embedding[i]::DOUBLE))) <= {1.15 * 1.15!r}),
sym AS (SELECT id_a, id_b FROM p UNION ALL SELECT id_b, id_a FROM p),
deg AS (SELECT id_a AS id, count(*) AS deg FROM sym GROUP BY id_a),
core AS (SELECT id FROM deg WHERE deg >= 3),
ce AS (SELECT id_a, id_b FROM p
       WHERE id_a IN (SELECT id FROM core) AND id_b IN (SELECT id FROM core)),
se AS (SELECT id_a AS src, id_b AS dst FROM ce UNION ALL SELECT id_b, id_a FROM ce),
reach AS (
  SELECT id AS node, id AS r FROM core
  UNION
  SELECT se.src AS node, reach.r FROM se JOIN reach ON se.dst = reach.node),
comp AS (SELECT node AS id, min(r) AS cluster FROM reach GROUP BY node),
border AS (
  SELECT sym.id_a AS id, min(comp.cluster) AS cluster
  FROM sym JOIN comp ON comp.id = sym.id_b
  WHERE sym.id_a NOT IN (SELECT id FROM core)
  GROUP BY sym.id_a),
lab AS (
  SELECT id, cluster, TRUE AS is_core FROM comp
  UNION ALL SELECT id, cluster, FALSE AS is_core FROM border)
SELECT e0.vec_id AS id, coalesce(lab.cluster, -1) AS cluster,
       coalesce(lab.is_core, FALSE) AS is_core
FROM e0 LEFT JOIN lab ON lab.id = e0.vec_id ORDER BY id
""",
)
def dbscan_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dbscan(matrix, eps, minPts)` (solrj io/eval/DbscanEvaluator.java)
    over the embeddings table at eps=1.15, minPts=3 — 20 density clusters
    plus noise at sf0.01. Deterministic border/cluster-id policy documented
    in functions/ann.py."""
    from solr_spark.functions.ann import dbscan

    e = _t(spark, sf_dir, "embeddings")
    return dbscan(e, eps=1.15, min_pts=3).orderBy("id")


@register(
    "lingo_clusters_window",
    f"""
WITH win AS (SELECT doc_id, text FROM documents
             ORDER BY n_chars DESC, doc_id LIMIT 40),
tok AS (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS l
        FROM win),
tfq AS (SELECT doc_id AS id, term, count(*) AS tf
        FROM (SELECT doc_id, unnest(l) AS term FROM tok) GROUP BY doc_id, term),
dfq AS (SELECT term, count(*) AS df FROM tfq GROUP BY term
        HAVING count(*) >= 2 AND count(*) <= 32),
sel AS (SELECT min(term) AS t FROM dfq),
mem AS (SELECT DISTINCT tfq.id FROM tfq, sel WHERE tfq.term = sel.t),
n AS (SELECT count(*)::DOUBLE AS cnt FROM mem)
SELECT mem.id, sel.t AS label, 1 AS cluster_rank,
       {_sql_scaled('n.cnt')} AS cluster_score_x10k
FROM mem, sel, n
UNION ALL
SELECT doc_id, 'Other topics', 0, 0 FROM win
WHERE doc_id NOT IN (SELECT id FROM mem)
ORDER BY cluster_rank, id
""",
)
def lingo_clusters_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lingo (Osiński & Weiss 2005) — Carrot2's default result-clustering
    algorithm — over the same deterministic top-40 window as the STC entry.
    The DuckDB oracle replays the SINGLE-SURVIVING-TERM branch the window
    exercises on this corpus (its unigram vocabulary is 31 words, so the
    df-in-[2,32] filter leaves exactly one term): the SVD of a 1 x N matrix
    is trivially [±1], every downstream quantity is sign-invariant (label
    scores and member sims take |·|), all candidate scores tie at 1.0, and
    the stable argsort elects cand_labels[0] = the term itself — so label,
    membership, and score (= member count) are closed-form. The oracle is
    data-coupled like the unrolled kmeans/BPE ones: a vocabulary change
    would surface as a visible mismatch, never a silent pass. The general
    SVD path stays pytest-verified on a planted two-topic window."""
    from solr_spark.operators.clustering import lingo_clusters

    docs = _t(spark, sf_dir, "documents")
    win = docs.orderBy(F.col("n_chars").desc(), F.col("doc_id")).limit(40)
    out = lingo_clusters(win, "text", "doc_id", k_clusters=5, max_phrase=3)
    return out.select(
        "id", "label", "cluster_rank",
        scaled("cluster_score").alias("cluster_score_x10k"),
    ).orderBy("cluster_rank", "id")


@register("bisecting_kmeans_window", None)  # sql attached below
def bisecting_kmeans_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bisecting k-means (Steinbach et al. 2000) — the reference clustering
    contrib's third engine — over the shared deterministic top-40 window;
    deterministic seeding, hard assignment, unigram+bigram tf-idf features
    (the window's unigram vocabulary is ~31 terms, so the bigrams carry the
    df contrast the split needs). The DuckDB oracle UNROLLS the whole
    bisection — per split: largest-cluster target election, min-id seed A,
    min-cosine seed B, and every Lloyd iteration as generated CTE blocks
    (same >=-to-A assignment, mean-then-renormalize centroid update) —
    then replays cohesion scores, top-3-term labels, and (score desc,
    label) ranking. Convergence at sf0.01/sf0.001 is reached at iteration
    2 of 20 with float margins >= 6e-2; the oracle unrolls 8 iterations
    (idempotent past the fixed point), which a data change would surface
    as a visible mismatch, never a silent pass."""
    from solr_spark.operators.clustering import bisecting_kmeans_clusters

    docs = _t(spark, sf_dir, "documents")
    win = docs.orderBy(F.col("n_chars").desc(), F.col("doc_id")).limit(40)
    out = bisecting_kmeans_clusters(
        win, "text", "doc_id", k_clusters=5, max_phrase=2
    )
    return out.select(
        "id", "label", "cluster_rank",
        scaled("cluster_score").alias("cluster_score_x10k"),
    ).orderBy("cluster_rank", "id")


def _bisecting_kmeans_sql(
    k: int = 5, iters: int = 8, n_win: int = 40, label_terms: int = 3
) -> str:
    """Generated DuckDB oracle replaying operators/clustering.py
    bisecting_kmeans_clusters step for step on (doc, term, weight)
    triples: k-1 splits, each with target election, deterministic seeds,
    and ``iters`` unrolled Lloyd iterations (the engine caps at 20 but
    reaches its fixed point at 2 on this data; extra iterations are
    idempotent)."""
    max_df = int(0.8 * n_win)
    # Every CTE is written AS MATERIALIZED inline: DuckDB would otherwise
    # inline each multiply-referenced CTE, blowing the plan up
    # exponentially down the split chain (and re-opening the parquet once
    # per inlined scan).
    p = [f"""win AS MATERIALIZED (SELECT doc_id, text FROM documents
        ORDER BY n_chars DESC, doc_id LIMIT {n_win}),
tok AS MATERIALIZED (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS l
        FROM win),
u AS MATERIALIZED (SELECT doc_id AS id, unnest(l) AS term FROM tok
      UNION ALL
      SELECT doc_id, array_to_string(l[i:i+1], ' ')
      FROM tok, unnest(range(1, greatest(len(l) - 1, 0) + 1)) t(i)),
tfq AS MATERIALIZED (SELECT id, term, count(*)::DOUBLE AS tf FROM u GROUP BY id, term),
dfq AS MATERIALIZED (SELECT term, count(*) AS df FROM tfq GROUP BY term
        HAVING count(*) >= 2 AND count(*) <= {max_df}),
w0 AS MATERIALIZED (SELECT tfq.id, tfq.term, tfq.tf * ln({float(n_win)} / dfq.df) AS w
       FROM tfq JOIN dfq USING (term)),
dnz AS MATERIALIZED (SELECT id, CASE WHEN sqrt(sum(w * w)) = 0 THEN 1.0
                        ELSE sqrt(sum(w * w)) END AS nz
        FROM w0 GROUP BY id),
mtx AS MATERIALIZED (SELECT w0.id, w0.term, w0.w / dnz.nz AS w FROM w0 JOIN dnz USING (id)),
asg0 AS MATERIALIZED (SELECT DISTINCT id, (SELECT min(id) FROM mtx) AS ck FROM mtx)"""]
    for s in range(1, k):
        prev = f"asg{s - 1}"
        p.append(f"""tgt{s} AS MATERIALIZED (SELECT ck FROM {prev} GROUP BY ck
  ORDER BY count(*) DESC, min(id) ASC LIMIT 1),
mem{s} AS MATERIALIZED (SELECT id FROM {prev}, tgt{s} WHERE {prev}.ck = tgt{s}.ck),
seedA{s} AS MATERIALIZED (SELECT min(id) AS aid FROM mem{s}),
cA{s}_0 AS MATERIALIZED (SELECT term, w FROM mtx, seedA{s} WHERE mtx.id = aid),
simA{s} AS MATERIALIZED (
  SELECT mm.id, coalesce(sum(av.w * mv.w), 0.0) AS sim
  FROM mem{s} mm
  JOIN mtx mv ON mv.id = mm.id
  LEFT JOIN cA{s}_0 av ON av.term = mv.term
  GROUP BY mm.id),
seedB{s} AS MATERIALIZED (SELECT id AS bid FROM simA{s} ORDER BY sim ASC, id ASC LIMIT 1),
cB{s}_0 AS MATERIALIZED (SELECT term, w FROM mtx, seedB{s} WHERE mtx.id = bid)""")
        for i in range(1, iters + 1):
            ca, cb = f"cA{s}_{i - 1}", f"cB{s}_{i - 1}"
            p.append(f"""as{s}_{i} AS MATERIALIZED (
  SELECT mm.id, coalesce(xa.sv, 0.0) >= coalesce(xb.sv, 0.0) AS to_a
  FROM mem{s} mm
  LEFT JOIN (SELECT mv.id, sum(mv.w * c.w) AS sv
             FROM mtx mv JOIN {ca} c USING (term) GROUP BY mv.id) xa
    ON xa.id = mm.id
  LEFT JOIN (SELECT mv.id, sum(mv.w * c.w) AS sv
             FROM mtx mv JOIN {cb} c USING (term) GROUP BY mv.id) xb
    ON xb.id = mm.id),
rA{s}_{i} AS MATERIALIZED (SELECT mv.term,
  sum(mv.w) / (SELECT count(*)::DOUBLE FROM as{s}_{i} WHERE to_a) AS w
  FROM as{s}_{i} a JOIN mtx mv ON mv.id = a.id WHERE a.to_a GROUP BY mv.term),
rB{s}_{i} AS MATERIALIZED (SELECT mv.term,
  sum(mv.w) / (SELECT count(*)::DOUBLE FROM as{s}_{i} WHERE NOT to_a) AS w
  FROM as{s}_{i} a JOIN mtx mv ON mv.id = a.id WHERE NOT a.to_a GROUP BY mv.term),
cA{s}_{i} AS MATERIALIZED (SELECT term,
  w / (SELECT greatest(sqrt(sum(w * w)), 1e-12) FROM rA{s}_{i}) AS w
  FROM rA{s}_{i}),
cB{s}_{i} AS MATERIALIZED (SELECT term,
  w / (SELECT greatest(sqrt(sum(w * w)), 1e-12) FROM rB{s}_{i}) AS w
  FROM rB{s}_{i})""")
        last_as = f"as{s}_{iters}"
        p.append(f"""ga{s} AS MATERIALIZED (SELECT id FROM {last_as} WHERE to_a),
gb{s} AS MATERIALIZED (SELECT id FROM {last_as} WHERE NOT to_a),
asg{s} AS MATERIALIZED (
  SELECT pv.id,
         CASE WHEN pv.id IN (SELECT id FROM ga{s})
                THEN (SELECT min(id) FROM ga{s})
              WHEN pv.id IN (SELECT id FROM gb{s})
                THEN (SELECT min(id) FROM gb{s})
              ELSE pv.ck END AS ck
  FROM {prev} pv)""")
    last = f"asg{k - 1}"
    p.append(f"""sz AS MATERIALIZED (SELECT ck, count(*)::DOUBLE AS n FROM {last} GROUP BY ck),
cm AS MATERIALIZED (SELECT a.ck, mv.term, sum(mv.w) / sz.n AS c
       FROM {last} a JOIN mtx mv ON mv.id = a.id JOIN sz ON sz.ck = a.ck
       GROUP BY a.ck, mv.term, sz.n),
cnm AS MATERIALIZED (SELECT ck, greatest(sqrt(sum(c * c)), 1e-12) AS cn FROM cm GROUP BY ck),
dotm AS MATERIALIZED (SELECT a.ck, a.id, sum(cm.c / cnm.cn * mv.w) AS dot
         FROM {last} a JOIN mtx mv ON mv.id = a.id
         JOIN cm ON cm.ck = a.ck AND cm.term = mv.term
         JOIN cnm ON cnm.ck = a.ck
         GROUP BY a.ck, a.id),
sc AS MATERIALIZED (SELECT d.ck, avg(d.dot) * sz.n AS score
       FROM dotm d JOIN sz ON sz.ck = d.ck GROUP BY d.ck, sz.n),
lbl AS MATERIALIZED (SELECT ck, string_agg(term, ', ' ORDER BY rn) AS label
        FROM (SELECT ck, term, c,
                     row_number() OVER (PARTITION BY ck
                       ORDER BY c DESC, term ASC) AS rn
              FROM cm)
        WHERE rn <= {label_terms} AND c > 0 GROUP BY ck),
rk AS MATERIALIZED (SELECT sc.ck, coalesce(lbl.label, 'Other topics') AS label, sc.score,
              CAST(row_number() OVER (
                ORDER BY sc.score DESC,
                         coalesce(lbl.label, 'Other topics') ASC) AS INT)
                AS cluster_rank
       FROM sc LEFT JOIN lbl USING (ck))""")
    body = ",\n".join(p)
    return f"""
WITH {body}
SELECT a.id, rk.label, rk.cluster_rank,
       {_sql_scaled('rk.score')} AS cluster_score_x10k
FROM {last} a JOIN rk ON rk.ck = a.ck
UNION ALL
SELECT doc_id, 'Other topics', 0, 0 FROM win
WHERE doc_id NOT IN (SELECT id FROM {last})
ORDER BY cluster_rank, id
"""


CATALOG["bisecting_kmeans_window"].sql = _bisecting_kmeans_sql()


# A&S 7.1.26 erf constants — shared verbatim with
# solr_spark.functions.mathstream.erf_col so both engines evaluate the
# identical polynomial.
_SQL_ERF_POLY = ("(0.254829592*t - 0.284496736*t*t + 1.421413741*t*t*t "
                 "- 1.453152027*t*t*t*t + 1.061405429*t*t*t*t*t)")


@register(
    "weibull_cdf_totalprice",
    f"""
WITH m AS (SELECT avg(o_totalprice) / gamma(1.0 + 1.0 / 1.5) AS lam FROM orders),
p(probe) AS (VALUES (100000.0), (200000.0), (300000.0), (450000.0))
SELECT probe::DOUBLE AS probe,
       {_sql_scaled('1.0 - exp(-pow(probe / lam, 1.5))', 6)} AS cdf_x1m
FROM p, m ORDER BY probe
""",
)
def weibull_cdf_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`weibullDistribution(shape, scale)` + `cumulativeProbability`
    (io/eval/WeibullDistributionEvaluator.java): shape fixed at 1.5, scale
    moment-matched to the order-total mean (λ = mean / Γ(1 + 1/k)); closed
    form, so the SQL oracle agrees to machine precision."""
    import math

    from solr_spark.functions.mathstream import weibull_cdf_col

    o = _t(spark, sf_dir, "orders")
    m = o.agg(
        (F.avg("o_totalprice") / math.gamma(1.0 + 1.0 / 1.5)).alias("lam")
    )
    probes = spark.createDataFrame(
        [(x,) for x in (100000.0, 200000.0, 300000.0, 450000.0)],
        "probe double")
    return (
        probes.crossJoin(F.broadcast(m))
        .select(
            "probe",
            scaled(
                weibull_cdf_col(F.col("probe"), 1.5, F.col("lam")), 6
            ).alias("cdf_x1m"),
        )
        .orderBy("probe")
    )


@register(
    "lognormal_cdf_totalprice",
    f"""
WITH m AS (SELECT avg(ln(o_totalprice)) AS mu, stddev_samp(ln(o_totalprice)) AS s
           FROM orders),
p(probe) AS (VALUES (100000.0), (200000.0), (300000.0), (450000.0)),
z AS (SELECT probe, (ln(probe) - mu) / (s * sqrt(2.0)) AS x FROM p, m),
tt AS (SELECT probe, x, 1.0 / (1.0 + 0.3275911 * abs(x)) AS t FROM z),
e AS (SELECT probe, x, 1.0 - {_SQL_ERF_POLY} * exp(-x * x) AS mag FROM tt)
SELECT probe::DOUBLE AS probe,
       {_sql_scaled('0.5 * (1.0 + CASE WHEN x < 0 THEN -mag ELSE mag END)', 6)} AS cdf_x1m
FROM e ORDER BY probe
""",
)
def lognormal_cdf_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`logNormalDistribution(mu, sigma)` + `cumulativeProbability`
    (io/eval/LogNormalDistributionEvaluator.java): (mu, sigma) fit to
    ln(order totals); Φ over the shared A&S erf polynomial constants."""
    from solr_spark.functions.mathstream import lognormal_cdf_col

    o = _t(spark, sf_dir, "orders")
    m = o.agg(
        F.avg(F.log("o_totalprice")).alias("mu"),
        F.stddev_samp(F.log("o_totalprice")).alias("s"),
    )
    probes = spark.createDataFrame(
        [(x,) for x in (100000.0, 200000.0, 300000.0, 450000.0)],
        "probe double")
    return (
        probes.crossJoin(F.broadcast(m))
        .select(
            "probe",
            scaled(
                lognormal_cdf_col(F.col("probe"), F.col("mu"), F.col("s")), 6
            ).alias("cdf_x1m"),
        )
        .orderBy("probe")
    )


@register(
    "triangular_cdf_totalprice",
    f"""
WITH m AS (SELECT min(o_totalprice) AS a, avg(o_totalprice) AS c,
                  max(o_totalprice) AS b FROM orders),
p(probe) AS (VALUES (100000.0), (200000.0), (300000.0), (450000.0))
SELECT probe::DOUBLE AS probe,
       {_sql_scaled('''CASE WHEN probe <= a THEN 0.0
            WHEN probe >= b THEN 1.0
            WHEN probe <= c THEN pow(probe - a, 2) / ((b - a) * (c - a))
            ELSE 1.0 - pow(b - probe, 2) / ((b - a) * (b - c)) END''', 6)} AS cdf_x1m
FROM p, m ORDER BY probe
""",
)
def triangular_cdf_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`triangularDistribution(a, c, b)` + `cumulativeProbability`
    (io/eval/TriangularDistributionEvaluator.java): bounds = data min/max,
    mode = mean; the piecewise closed form, exact in both engines."""
    from solr_spark.functions.mathstream import triangular_cdf_col

    o = _t(spark, sf_dir, "orders")
    m = o.agg(
        F.min("o_totalprice").cast("double").alias("a"),
        F.avg("o_totalprice").alias("c"),
        F.max("o_totalprice").cast("double").alias("b"),
    )
    probes = spark.createDataFrame(
        [(x,) for x in (100000.0, 200000.0, 300000.0, 450000.0)],
        "probe double")
    return (
        probes.crossJoin(F.broadcast(m))
        .select(
            "probe",
            scaled(
                triangular_cdf_col(
                    F.col("probe"), F.col("a"), F.col("c"), F.col("b")
                ), 6,
            ).alias("cdf_x1m"),
        )
        .orderBy("probe")
    )


@register(
    "normal_cdf_totalprice",
    f"""
WITH m AS (SELECT avg(o_totalprice) AS mu, stddev_samp(o_totalprice) AS s
           FROM orders),
p(probe) AS (VALUES (100000.0), (200000.0), (300000.0), (450000.0)),
z AS (SELECT probe, (probe - mu) / (s * sqrt(2.0)) AS x FROM p, m),
tt AS (SELECT probe, x, 1.0 / (1.0 + 0.3275911 * abs(x)) AS t FROM z),
e AS (SELECT probe, x, 1.0 - {_SQL_ERF_POLY} * exp(-x * x) AS mag FROM tt)
SELECT probe::DOUBLE AS probe,
       {_sql_scaled('0.5 * (1.0 + CASE WHEN x < 0 THEN -mag ELSE mag END)', 6)} AS cdf_x1m
FROM e ORDER BY probe
""",
)
def normal_cdf_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`normalDistribution(mu, sigma)` + `cumulativeProbability(x)`
    (io/eval/NormalDistributionEvaluator.java, CumulativeProbability
    Evaluator): fit (mu, sigma) to order totals, evaluate the CDF at four
    probes. erf is the A&S 7.1.26 polynomial (|err| < 1.5e-7, golden-
    checked against math.erf in pytest); the oracle runs the identical
    constants, so the engines agree to machine precision."""
    from solr_spark.functions.mathstream import norm_cdf_col

    o = _t(spark, sf_dir, "orders")
    m = o.agg(F.avg("o_totalprice").alias("mu"),
              F.stddev_samp("o_totalprice").alias("s"))
    probes = spark.createDataFrame(
        [(x,) for x in (100000.0, 200000.0, 300000.0, 450000.0)],
        "probe double")
    return (
        probes.crossJoin(F.broadcast(m))
        .select(
            "probe",
            scaled(norm_cdf_col(F.col("probe"), F.col("mu"), F.col("s")), 6)
            .alias("cdf_x1m"),
        )
        .orderBy("probe")
    )


@register(
    "zipf_term_rank_pmf",
    f"""
WITH h AS (SELECT list_sum(list_transform(range(1, 101),
             i -> 1.0 / pow(i::DOUBLE, 1.1))) AS hn),
ks(k) AS (SELECT unnest(range(1, 11)))
SELECT k::BIGINT AS k,
       {_sql_scaled('(1.0 / pow(k::DOUBLE, 1.1)) / hn', 6)} AS pmf_x1m
FROM ks, h ORDER BY k
""",
)
def zipf_term_rank_pmf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`zipFDistribution(100, 1.1)` pmf at ranks 1..10
    (io/eval/ZipFDistributionEvaluator.java) — the rank-frequency model the
    synthetic corpus itself is drawn from; harmonic normalizer folded in
    identical order in both engines."""
    from solr_spark.functions.mathstream import zipf_pmf_col

    ks = spark.range(1, 11).select(F.col("id").alias("k"))
    return ks.select(
        "k", scaled(zipf_pmf_col(F.col("k"), 100, 1.1), 6).alias("pmf_x1m")
    ).orderBy("k")


@register(
    "geometric_sessions_pmf",
    f"""
WITH p AS (
  SELECT (count(*) FILTER (event_type = 'purchase')) * 1.0 / count(*) AS pr
  FROM events),
ks(k) AS (SELECT unnest(range(0, 8)))
SELECT k::BIGINT AS k,
       {_sql_scaled('pow(1.0 - pr, k::DOUBLE) * pr', 6)} AS pmf_x1m
FROM ks, p ORDER BY k
""",
)
def geometric_sessions_pmf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`geometricDistribution(p)` pmf (io/eval/
    GeometricDistributionEvaluator.java): p = empirical purchase rate per
    event; P(k failures before the first purchase) at k = 0..7."""
    from solr_spark.functions.mathstream import geometric_pmf_col

    e = _t(spark, sf_dir, "events")
    p = e.agg(
        (
            F.count(F.when(F.col("event_type") == "purchase", 1))
            / F.count("*")
        ).alias("pr")
    )
    ks = spark.range(0, 8).select(F.col("id").alias("k"))
    return (
        ks.crossJoin(F.broadcast(p))
        .select(
            "k",
            scaled(geometric_pmf_col(F.col("k"), F.col("pr")), 6).alias("pmf_x1m"),
        )
        .orderBy("k")
    )


@register(
    "poisson_purchases_pmf",
    f"""
WITH lam AS (
  SELECT (count(*) FILTER (event_type = 'purchase')) * 1.0
           / count(DISTINCT user_id) AS l
  FROM events),
ks(k) AS (SELECT unnest(range(0, 26))),
pm AS (
  SELECT k, l,
    list_reduce([exp(-l)] || list_transform(range(1, k + 1), i -> i::DOUBLE),
                (acc, i) -> acc * l / i) AS pmf,
    -- c BEFORE t: DuckDB evaluates struct_pack fields in order over the
    -- in-place accumulator, so t must still be the OLD term when c reads it
    (list_reduce([struct_pack(c := exp(-l), t := exp(-l))]
                 || list_transform(range(1, k + 1),
                                   i -> struct_pack(c := 0.0::DOUBLE,
                                                    t := i::DOUBLE)),
                 (acc, x) -> struct_pack(c := acc.c + acc.t * l / x.t,
                                         t := acc.t * l / x.t))).c AS cdf
  FROM ks, lam)
SELECT k::BIGINT AS k, {_sql_scaled('pmf', 6)} AS pmf_x1m,
       {_sql_scaled('cdf', 6)} AS cdf_x1m
FROM pm ORDER BY k
""",
)
def poisson_purchases_pmf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`poissonDistribution(lambda)` + probability/cumulativeProbability
    (io/eval/PoissonDistributionEvaluator.java): lambda fit as purchases
    per user, pmf/cdf for k = 0..25 via the multiplicative term recurrence
    (term_i = term_{i-1}*lambda/i — O(k), no factorial overflow); the
    oracle folds the identical recurrence with list_reduce."""
    from solr_spark.functions.mathstream import poisson_cdf_col, poisson_pmf_col

    e = _t(spark, sf_dir, "events")
    lam = e.agg(
        (F.count(F.when(F.col("event_type") == "purchase", 1))
         / F.countDistinct("user_id")).alias("l")
    )
    ks = spark.range(0, 26).select(F.col("id").cast("int").alias("k"))
    return (
        ks.crossJoin(F.broadcast(lam))
        .select(
            F.col("k").cast("long").alias("k"),
            scaled(poisson_pmf_col(F.col("k"), F.col("l")), 6).alias("pmf_x1m"),
            scaled(poisson_cdf_col(F.col("k"), F.col("l")), 6).alias("cdf_x1m"),
        )
        .orderBy("k")
    )


@register(
    "binomial_orders_pmf",
    f"""
WITH pp AS (
  SELECT (count(*) FILTER (o_orderstatus = 'F')) * 1.0 / count(*) AS p
  FROM orders),
ks(k) AS (SELECT unnest(range(0, 21))),
pm AS (
  SELECT k, p,
    list_reduce([pow(1.0 - p, 20.0)]
                || list_transform(range(1, k + 1), i -> i::DOUBLE),
                (acc, i) -> acc * (20.0 - i + 1.0) / i * (p / (1.0 - p))) AS pmf,
    (list_reduce([struct_pack(c := pow(1.0 - p, 20.0), t := pow(1.0 - p, 20.0))]
                 || list_transform(range(1, k + 1),
                                   i -> struct_pack(c := 0.0::DOUBLE,
                                                    t := i::DOUBLE)),
                 (acc, x) -> struct_pack(
                   c := acc.c + acc.t * (20.0 - x.t + 1.0) / x.t * (p / (1.0 - p)),
                   t := acc.t * (20.0 - x.t + 1.0) / x.t * (p / (1.0 - p))))).c AS cdf
  FROM ks, pp)
SELECT k::BIGINT AS k, {_sql_scaled('pmf', 6)} AS pmf_x1m,
       {_sql_scaled('cdf', 6)} AS cdf_x1m
FROM pm ORDER BY k
""",
)
def binomial_orders_pmf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`binomialDistribution(n, p)` + probability/cumulativeProbability
    (io/eval/BinomialDistributionEvaluator.java): p fit as the fraction of
    status-F orders, n = 20 trials, pmf/cdf for k = 0..20 via the
    multiplicative recurrence term_i = term_{i-1}*(n-i+1)/i * p/(1-p)."""
    from solr_spark.functions.mathstream import binom_cdf_col, binom_pmf_col

    o = _t(spark, sf_dir, "orders")
    pp = o.agg(
        (F.count(F.when(F.col("o_orderstatus") == "F", 1)) / F.count("*"))
        .alias("p")
    )
    ks = spark.range(0, 21).select(F.col("id").cast("int").alias("k"))
    return (
        ks.crossJoin(F.broadcast(pp))
        .select(
            F.col("k").cast("long").alias("k"),
            scaled(binom_pmf_col(F.col("k"), 20, F.col("p")), 6).alias("pmf_x1m"),
            scaled(binom_cdf_col(F.col("k"), 20, F.col("p")), 6).alias("cdf_x1m"),
        )
        .orderBy("k")
    )


@register(
    "loess_daily_events",
    """
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '2024-01-01', date_trunc('day', ts)::DATE) AS DOUBLE) AS x,
         CAST(sum(value) AS DOUBLE) AS y
  FROM events GROUP BY 1),
pts AS (SELECT x, y, row_number() OVER (ORDER BY x) - 1 AS i,
               count(*) OVER () AS n FROM daily),
sp AS (SELECT *, greatest(2, CAST(ceil(0.3 * n) AS BIGINT)) AS span FROM pts),
win AS (SELECT *, least(greatest(0, i - span // 2), n - span) AS lo FROM sp),
base_f0 AS (SELECT i, x, y, lo, span, 1.0 AS rb FROM win),
pr_f0 AS (
  SELECT a.i AS i, a.x AS xi, CAST(NULL AS DOUBLE) AS prev_fit,
         b.x AS xj, b.y AS yj, abs(b.x - a.x) AS d, b.rb AS rb
  FROM base_f0 a JOIN base_f0 b
    ON b.i BETWEEN a.lo AND a.lo + a.span - 1),
w_f0 AS (
  SELECT *, max(d) OVER (PARTITION BY i) AS dmax FROM pr_f0),
ww_f0 AS (
  SELECT i, xi, prev_fit, xj, yj,
         CASE WHEN dmax > 0 THEN greatest(pow(1.0 - pow(d / dmax, 3), 3), 0.0)
              ELSE 1.0 END * rb AS w
  FROM w_f0),
agg_f0 AS (
  SELECT i, xi, max(prev_fit) AS prev_fit, sum(w) AS sw,
         sum(w * xj) AS swx, sum(w * yj) AS swy,
         sum(w * xj * xj) AS swxx, sum(w * xj * yj) AS swxy,
         max(abs(xj)) AS mxa
  FROM ww_f0 GROUP BY i, xi),
fit_f0 AS (
  SELECT i, xi AS x,
    CASE WHEN sw <= 0 THEN prev_fit
         WHEN (swxx - swx * swx / sw)
              > 1e-12 * (CASE WHEN mxa * mxa > 0 THEN mxa * mxa ELSE 1.0 END)
         THEN (swy / sw) + ((swxy - swx * swy / sw)
                            / (swxx - swx * swx / sw)) * (xi - swx / sw)
         ELSE swy / sw END AS fit
  FROM agg_f0),
r1 AS (SELECT p.i, abs(p.y - f.fit) AS resid
       FROM win p JOIN fit_f0 f ON f.i = p.i),
s1 AS (SELECT greatest(quantile_cont(resid, 0.5),
         1e-12 * greatest(1.0, (SELECT max(abs(y)) FROM win))) AS s FROM r1),
rb1 AS (SELECT r1.i, pow(greatest(1.0 - pow(resid / (6.0 * s), 2), 0.0), 2)
          AS rb FROM r1, s1),
base_f1 AS (SELECT w.i, w.x, w.y, w.lo, w.span, f.fit, rb1.rb
            FROM win w JOIN fit_f0 f ON f.i = w.i JOIN rb1 ON rb1.i = w.i),
pr_f1 AS (
  SELECT a.i AS i, a.x AS xi, a.fit AS prev_fit,
         b.x AS xj, b.y AS yj, abs(b.x - a.x) AS d, b.rb AS rb
  FROM base_f1 a JOIN base_f1 b
    ON b.i BETWEEN a.lo AND a.lo + a.span - 1),
w_f1 AS (
  SELECT *, max(d) OVER (PARTITION BY i) AS dmax FROM pr_f1),
ww_f1 AS (
  SELECT i, xi, prev_fit, xj, yj,
         CASE WHEN dmax > 0 THEN greatest(pow(1.0 - pow(d / dmax, 3), 3), 0.0)
              ELSE 1.0 END * rb AS w
  FROM w_f1),
agg_f1 AS (
  SELECT i, xi, max(prev_fit) AS prev_fit, sum(w) AS sw,
         sum(w * xj) AS swx, sum(w * yj) AS swy,
         sum(w * xj * xj) AS swxx, sum(w * xj * yj) AS swxy,
         max(abs(xj)) AS mxa
  FROM ww_f1 GROUP BY i, xi),
fit_f1 AS (
  SELECT i, xi AS x,
    CASE WHEN sw <= 0 THEN prev_fit
         WHEN (swxx - swx * swx / sw)
              > 1e-12 * (CASE WHEN mxa * mxa > 0 THEN mxa * mxa ELSE 1.0 END)
         THEN (swy / sw) + ((swxy - swx * swy / sw)
                            / (swxx - swx * swx / sw)) * (xi - swx / sw)
         ELSE swy / sw END AS fit
  FROM agg_f1),
r2 AS (SELECT p.i, abs(p.y - f.fit) AS resid
       FROM win p JOIN fit_f1 f ON f.i = p.i),
s2 AS (SELECT greatest(quantile_cont(resid, 0.5),
         1e-12 * greatest(1.0, (SELECT max(abs(y)) FROM win))) AS s FROM r2),
rb2 AS (SELECT r2.i, pow(greatest(1.0 - pow(resid / (6.0 * s), 2), 0.0), 2)
          AS rb FROM r2, s2),
base_f2 AS (SELECT w.i, w.x, w.y, w.lo, w.span, f.fit, rb2.rb
            FROM win w JOIN fit_f1 f ON f.i = w.i JOIN rb2 ON rb2.i = w.i),
pr_f2 AS (
  SELECT a.i AS i, a.x AS xi, a.fit AS prev_fit,
         b.x AS xj, b.y AS yj, abs(b.x - a.x) AS d, b.rb AS rb
  FROM base_f2 a JOIN base_f2 b
    ON b.i BETWEEN a.lo AND a.lo + a.span - 1),
w_f2 AS (
  SELECT *, max(d) OVER (PARTITION BY i) AS dmax FROM pr_f2),
ww_f2 AS (
  SELECT i, xi, prev_fit, xj, yj,
         CASE WHEN dmax > 0 THEN greatest(pow(1.0 - pow(d / dmax, 3), 3), 0.0)
              ELSE 1.0 END * rb AS w
  FROM w_f2),
agg_f2 AS (
  SELECT i, xi, max(prev_fit) AS prev_fit, sum(w) AS sw,
         sum(w * xj) AS swx, sum(w * yj) AS swy,
         sum(w * xj * xj) AS swxx, sum(w * xj * yj) AS swxy,
         max(abs(xj)) AS mxa
  FROM ww_f2 GROUP BY i, xi),
fit_f2 AS (
  SELECT i, xi AS x,
    CASE WHEN sw <= 0 THEN prev_fit
         WHEN (swxx - swx * swx / sw)
              > 1e-12 * (CASE WHEN mxa * mxa > 0 THEN mxa * mxa ELSE 1.0 END)
         THEN (swy / sw) + ((swxy - swx * swy / sw)
                            / (swxx - swx * swx / sw)) * (xi - swx / sw)
         ELSE swy / sw END AS fit
  FROM agg_f2)
SELECT CAST(p.x AS INT) AS day_idx,
       CAST(floor(p.y * 100 + 0.5) AS BIGINT) AS y_x100,
       CAST(floor(f.fit * 100 + 0.5) AS BIGINT) AS smoothed_x100
FROM win p JOIN fit_f2 f ON f.i = p.i ORDER BY day_idx
""",
)
def loess_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`loess(x, y)` (io/eval/LoessEvaluator.java): tricube local-linear
    smoothing of the daily event totals — like fft, a driver-side series
    evaluator (the reference's /stream runs it on in-memory arrays);
    numpy-property-verified in tests/test_functions.py. The DuckDB oracle
    replays all three fit passes (tricube window regression + two
    bisquare robustness reweightings) as SQL CTEs over the same contiguous
    clamped windows — the formerly rows-only entry is fully value-hashed
    (engine vs SQL agree to ~5e-13 before the x100 rounding)."""
    from solr_spark.functions.mathstream import loess

    e = _t(spark, sf_dir, "events")
    daily = (
        e.groupBy(F.date_trunc("day", F.col("ts")).cast("date").alias("day"))
        .agg(F.sum("value").alias("total"))
        .select(F.datediff("day", F.lit("2024-01-01")).cast("double").alias("x"),
                F.col("total").cast("double").alias("y"))
    )
    out = loess(daily, "x", "y", bandwidth=0.3, robust_iters=2)
    return out.select(
        F.col("x").cast("int").alias("day_idx"),
        scaled("y", 2).alias("y_x100"),
        scaled("smoothed", 2).alias("smoothed_x100"),
    ).orderBy("day_idx")


def _akima_sql(kind: str) -> str:
    """DuckDB oracle for the Akima spline evaluators over the daily event
    series — the identical difference/weight/three-point formulas as
    akima_derivatives/akima_integrals, so engine and oracle agree to the
    scaled fixed point."""

    def tp(x0, y0, x1, y1, x2, y2, xi):
        a = (f"(({y2} - {y0} - (({x2} - {x0}) / ({x1} - {x0}) "
             f"* ({y1} - {y0}))) / (({x2} - {x0}) * ({x2} - {x0}) "
             f"- ({x1} - {x0}) * ({x2} - {x0})))")
        b = f"(({y1} - {y0} - {a} * ({x1} - {x0}) * ({x1} - {x0})) / ({x1} - {x0}))"
        return f"(2 * {a} * ({xi} - {x0}) + {b})"

    deriv_case = f"""CASE
    WHEN rn = 1 THEN {tp('x', 'y', 'x1f', 'y1f', 'x2f', 'y2f', 'x')}
    WHEN rn = 2 OR rn = n - 1 THEN {tp('xm1', 'ym1', 'x', 'y', 'x1f', 'y1f', 'x')}
    WHEN rn = n THEN {tp('xm2', 'ym2', 'xm1', 'ym1', 'x', 'y', 'x')}
    WHEN wp = 0 AND wm = 0 THEN ((x1f - x) * diffm1 + (x - xm1) * diff) / (x1f - xm1)
    ELSE (wp * diffm1 + wm * diff) / (wp + wm) END"""
    base = f"""
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS DOUBLE) AS x,
         CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1),
s AS (SELECT x, y,
        row_number() OVER w AS rn, count(*) OVER () AS n,
        lead(x, 1) OVER w AS x1f, lead(x, 2) OVER w AS x2f,
        lag(x, 1) OVER w AS xm1, lag(x, 2) OVER w AS xm2,
        lead(y, 1) OVER w AS y1f, lead(y, 2) OVER w AS y2f,
        lag(y, 1) OVER w AS ym1, lag(y, 2) OVER w AS ym2
      FROM daily WINDOW w AS (ORDER BY x)),
d AS (SELECT *, (y1f - y) / (x1f - x) AS diff FROM s),
d2 AS (SELECT *, lag(diff) OVER w AS diffm1,
              abs(diff - lag(diff) OVER w) AS wgt
       FROM d WINDOW w AS (ORDER BY x)),
d3 AS (SELECT *, lead(wgt) OVER w AS wp, lag(wgt) OVER w AS wm
       FROM d2 WINDOW w AS (ORDER BY x)),
deriv AS (SELECT x, y, {deriv_case} AS dy FROM d3)"""
    if kind == "derivative":
        return base + f"""
SELECT CAST(x AS INT) AS day_idx, {_sql_scaled('dy')} AS dy_x10k
FROM deriv ORDER BY day_idx"""
    return base + f""",
nxt AS (SELECT x, y, dy,
          lead(x) OVER w AS xn, lead(y) OVER w AS yn, lead(dy) OVER w AS dyn
        FROM deriv WINDOW w AS (ORDER BY x)),
segs AS (SELECT x, (xn - x) * (y + yn) / 2
                 + (xn - x) * (xn - x) * (dy - dyn) / 12 AS seg FROM nxt),
cum AS (SELECT x, coalesce(sum(seg) OVER
          (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
          0) AS c FROM segs)
SELECT CAST(x AS INT) AS day_idx, {_sql_scaled('c', 2)} AS cum_x100
FROM cum ORDER BY day_idx"""


def _daily_events_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01"))
        .cast("double").alias("x")
    ).agg(F.count("*").cast("double").alias("y"))


@register("derivative_daily_events", None)  # sql attached below
def derivative_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`derivative(spline)` (solrj io/eval/DerivativeEvaluator.java +
    commons-math AkimaSplineInterpolator): Akima first derivative of the
    daily event-count series at every knot, as lag/lead window expressions
    over the aggregated series (no driver-side array)."""
    from solr_spark.functions.mathstream import akima_derivatives

    out = akima_derivatives(_daily_events_series(spark, sf_dir), "x", "y")
    return out.select(
        F.col("x").cast("int").alias("day_idx"),
        scaled("dy").alias("dy_x10k"),
    ).orderBy("day_idx")


CATALOG["derivative_daily_events"].sql = _akima_sql("derivative")


@register("integrate_daily_events", None)  # sql attached below
def integrate_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`integrate(spline)` (solrj io/eval/IntegrateEvaluator.java): the
    cumulative Akima-spline integral from the first knot to each knot.
    The reference runs commons-math RombergIntegrator (rel tol 1e-6)
    against the spline; the piecewise Hermite cubic integrates in closed
    form, which is the value Romberg converges to."""
    from solr_spark.functions.mathstream import akima_integrals

    out = akima_integrals(_daily_events_series(spark, sf_dir), "x", "y")
    return out.select(
        F.col("x").cast("int").alias("day_idx"),
        scaled("cum", 2).alias("cum_x100"),
    ).orderBy("day_idx")


CATALOG["integrate_daily_events"].sql = _akima_sql("integrate")


def _kmeans_lloyd_sql(k=4, iters=5, dim=64):
    """Unrolled Lloyd iterations as chained CTEs. Assignment uses the
    ENGINE's sims expression (2*v.c - c.c, first-max tie-break); update is
    per-dim avg via a dims join; empty clusters keep the previous centroid."""
    parts = []
    parts.append(f"""pts AS (SELECT vec_id, embedding FROM embeddings),
dims AS (SELECT CAST(i AS INT) AS d FROM range(1, {dim + 1}) t(i)),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
         embedding AS cent
  FROM pts ORDER BY vec_id LIMIT {k})""")
    prev = "c0"
    for it in range(1, iters + 1):
        a, c = f"a{it}", f"c{it}"
        parts.append(f"""{a} AS (
  SELECT vec_id, embedding, cluster FROM (
    SELECT p.vec_id, p.embedding, {prev}.cluster,
           row_number() OVER (
             PARTITION BY p.vec_id
             ORDER BY 2.0 * list_inner_product(CAST(p.embedding AS DOUBLE[]),
                                               CAST({prev}.cent AS DOUBLE[]))
                      - list_inner_product(CAST({prev}.cent AS DOUBLE[]),
                                           CAST({prev}.cent AS DOUBLE[])) DESC,
                      {prev}.cluster ASC) AS rn
    FROM pts p CROSS JOIN {prev}) WHERE rn = 1)""")
        parts.append(f"""{c} AS (
  SELECT pc.cluster,
         COALESCE(up.cent, pc.cent) AS cent
  FROM {prev} pc LEFT JOIN (
    SELECT cluster, list(m ORDER BY d) AS cent FROM (
      SELECT cluster, d, avg(CAST(embedding[d] AS DOUBLE)) AS m
      FROM {a} CROSS JOIN dims GROUP BY cluster, d)
    GROUP BY cluster) up ON up.cluster = pc.cluster)""")
        prev = c
    a_fin = f"af"
    parts.append(f"""{a_fin} AS (
  SELECT vec_id, embedding, cluster FROM (
    SELECT p.vec_id, p.embedding, {prev}.cluster,
           row_number() OVER (
             PARTITION BY p.vec_id
             ORDER BY 2.0 * list_inner_product(CAST(p.embedding AS DOUBLE[]),
                                               CAST({prev}.cent AS DOUBLE[]))
                      - list_inner_product(CAST({prev}.cent AS DOUBLE[]),
                                           CAST({prev}.cent AS DOUBLE[])) DESC,
                      {prev}.cluster ASC) AS rn
    FROM pts p CROSS JOIN {prev}) WHERE rn = 1)""")
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT cluster, count(*) AS size,
       CAST(floor(avg(CAST(embedding[1] AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS c0_x1m,
       CAST(floor(avg(CAST(embedding[2] AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS c1_x1m
FROM {a_fin} GROUP BY cluster ORDER BY cluster
"""


@register("kmeans_embeddings", None)  # sql attached below
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`kmeans(matrix, k)` (io/eval/KmeansEvaluator.java) as distributed
    Lloyd iterations — deterministic init (k lowest vec_ids), 5 iterations;
    every pass is one scan with broadcast-literal centroids and a k x dim
    partial-aggregate shuffle. Parity vs an in-memory numpy Lloyd run is
    pytest-verified (tests/test_functions.py). The DuckDB oracle UNROLLS
    the five Lloyd iterations as generated CTE blocks (same sims
    expression 2·v·c − c·c with first-max tie-break, per-dim avg update,
    empty clusters keep the previous centroid) — the formerly rows-only
    entry is fully value-hashed."""
    from solr_spark.functions.ann import kmeans

    emb = _t(spark, sf_dir, "embeddings")
    out = kmeans(emb, k=4, iters=5)
    return out.select(
        "cluster",
        "size",
        scaled(F.col("centroid")[0], 6).alias("c0_x1m"),
        scaled(F.col("centroid")[1], 6).alias("c1_x1m"),
    ).orderBy("cluster")


CATALOG["kmeans_embeddings"].sql = _kmeans_lloyd_sql()


@register(
    "knn_regress_label",
    f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
nn AS (
  SELECT e.label, {_COS} AS sim, e.vec_id
  FROM embeddings e, q WHERE e.vec_id <> 0
  ORDER BY sim DESC, e.vec_id ASC LIMIT 10)
SELECT {_sql_scaled('avg(label)', 4)} AS prediction_x10k, count(*)::INT AS k
FROM nn
""",
)
def knn_regress_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`knnRegress(obs, outcomes, k)` (io/eval/KnnRegressionEvaluator.java):
    the query point's predicted outcome = mean label of its 10 cosine
    nearest neighbors — one scan, TakeOrderedAndProject, k-row average."""
    from solr_spark.functions.ann import knn_regress

    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    out = knn_regress(emb.where(F.col("vec_id") != 0), qv, "label", k=10)
    return out.select(
        scaled("prediction", 4).alias("prediction_x10k"), F.col("k")
    )


# --- spatial (geodist / geofilt; SURVEY §2.8 scoring helpers) ---------------


@register(
    "geodist_customers",
    f"""
WITH pts AS (
  SELECT c_custkey,
         (c_custkey * 9973 % 18000) / 100.0 - 90.0 AS lat,
         (c_custkey * 7919 % 36000) / 100.0 - 180.0 AS lon
  FROM customer),
d AS (
  SELECT c_custkey,
         2.0 * 6371.0087714 * asin(least(1.0, sqrt(
             pow(sin(radians(40.7 - lat) / 2), 2)
             + cos(radians(lat)) * cos(radians(40.7))
               * pow(sin(radians(-74.0 - lon) / 2), 2)))) AS dist_km
  FROM pts)
SELECT c_custkey, {_sql_scaled('dist_km', 2)} AS dist_km_x100
FROM d WHERE dist_km <= 3000.0
ORDER BY dist_km_x100 ASC, c_custkey ASC LIMIT 20
""",
)
def geodist_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`{!geofilt}` + sort=geodist() asc (GeoDistValueSourceParser.java,
    LatLonPointSpatialField.java): customers within 3000 km of (40.7,-74),
    nearest first. Synthetic-but-deterministic lat/lon derived from
    c_custkey (both engines compute the identical formula). The Spark path
    is two-phase: a pushable bounding-box range predicate prunes the scan,
    haversine runs only on bbox survivors."""
    from solr_spark.functions.spatial import geofilt

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 9973 % 18000) / 100.0 - 90.0).alias("lat"),
        ((F.col("c_custkey") * 7919 % 36000) / 100.0 - 180.0).alias("lon"),
    )
    out = geofilt(c, 40.7, -74.0, 3000.0)
    return (
        out.select("c_custkey", scaled("dist_km", 2).alias("dist_km_x100"))
        .orderBy(F.col("dist_km_x100").asc(), F.col("c_custkey").asc())
        .limit(20)
    )


# --- joins / block join / spellcheck / atomic update / index-stat fns -------


@register(
    "join_filter_customers",
    """
SELECT c_custkey, c_mktsegment FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
ORDER BY c_custkey
""",
)
def join_filter_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`{!join from=o_custkey to=c_custkey}o_totalprice:[400000 TO *]`."""
    from solr_spark.operators.joins import join_filter

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    return join_filter(c, o, "o_custkey", "c_custkey").select(
        "c_custkey", "c_mktsegment"
    ).orderBy("c_custkey")


@register(
    "score_join_max",
    f"""
WITH from_side AS (
  SELECT o_custkey, o_totalprice / 100000.0 AS score
  FROM orders WHERE o_orderstatus = 'O'),
agg AS (
  SELECT o_custkey AS c_custkey, max(score) AS score
  FROM from_side GROUP BY o_custkey)
SELECT c.c_custkey, {_sql_scaled('a.score')} AS score_x10k
FROM customer c JOIN agg a USING (c_custkey)
ORDER BY score_x10k DESC, c_custkey ASC LIMIT 20
""",
)
def score_join_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ScoreJoin score=max: customers scored by their best open order."""
    from solr_spark.operators.joins import score_join

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O").select(
        "o_custkey", (F.col("o_totalprice") / 100000.0).alias("score")
    )
    out = score_join(c, o, "o_custkey", "c_custkey", mode="max")
    return (
        out.select("c_custkey", scaled("score").alias("score_x10k"))
        .orderBy(F.col("score_x10k").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@register(
    "child_transformer",
    """
SELECT l_orderkey, l_linenumber, l_quantity FROM (
  SELECT l_orderkey, l_linenumber, l_quantity,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber, l_quantity) AS rn
  FROM lineitem
  WHERE l_quantity >= 30
    AND l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000))
WHERE rn <= 3 ORDER BY l_orderkey, l_linenumber
""",
)
def child_transformer_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `[child]` doc transformer (response/transform/
    ChildDocTransformerFactory.java): for each matched parent order
    (o_totalprice > 450000), its qualifying lineitem children
    (childFilter l_quantity >= 30), capped at 3 per parent in line order —
    the per-parent cap is a window partitioned by the parent key.

    The synthetic lineitem table has duplicate (l_orderkey, l_linenumber)
    pairs (118k at sf0.1), so l_linenumber alone is not a total order
    within a parent and the capped subset would be an arbitrary pick among
    tied children — the cap therefore orders by (l_linenumber, l_quantity),
    which is total over the COMPARED attributes: children still tying on
    both are interchangeable in the result multiset."""
    from solr_spark.operators.joins import child_transform

    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 450000)
    li = _t(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    out = child_transform(
        o, li, "o_orderkey",
        child_filter=F.col("l_quantity") >= 30,
        limit=3, order_by=["l_linenumber", "l_quantity"],
    )
    return (
        out.select(
            F.col("o_orderkey").alias("l_orderkey"), "l_linenumber", "l_quantity"
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "group_ngroups",
    """
WITH m AS (SELECT source FROM documents WHERE lang = 'en'),
g AS (SELECT source, count(*) AS count FROM m GROUP BY source)
SELECT source, count, (SELECT count(*) FROM g) AS ngroups FROM g
ORDER BY count DESC, source ASC LIMIT 3
""",
)
def group_ngroups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """group.ngroups (search/grouping/ — the grouped response's ngroups
    header): the total number of distinct groups matching the query,
    alongside the top groups. The total is a 1-row aggregate of the
    already-shuffled group frame broadcast back — no second scan."""
    d = _t(spark, sf_dir, "documents").where(F.col("lang") == "en")
    g = d.groupBy("source").agg(F.count("*").alias("count"))
    ng = g.agg(F.count("*").alias("ngroups"))
    return (
        g.crossJoin(F.broadcast(ng))
        .orderBy(F.col("count").desc(), F.col("source").asc())
        .limit(3)
    )


@register(
    "diff_daily_events",
    f"""
WITH d AS (SELECT date_trunc('day', ts)::DATE AS bucket, count(*) AS n
           FROM events GROUP BY 1),
w AS (SELECT bucket, n,
             n - lag(n, 1) OVER (ORDER BY bucket) AS diff FROM d)
SELECT bucket, n, diff FROM w WHERE diff IS NOT NULL ORDER BY bucket
""",
)
def diff_daily_events_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`diff(values, 1)` (io/eval/TimeDifferencingEvaluator.java): serial
    day-over-day differencing of the daily event count series; the lag-1
    head row is dropped like the reference's (n - lag) output length."""
    from solr_spark.functions.mathstream import diff_series
    from solr_spark.operators.streams import timeseries_stream

    e = _t(spark, sf_dir, "events")
    d = timeseries_stream(e, "ts", "day", {"n": F.count("*")})
    out = diff_series(d, "n", "bucket")
    return (
        out.where(F.col("diff").isNotNull())
        .select(F.col("bucket").cast("date").alias("bucket"), "n", "diff")
        .orderBy("bucket")
    )


@register(
    "moving_median_daily",
    f"""
WITH d AS (SELECT date_trunc('day', ts)::DATE AS bucket, sum(value) AS total
           FROM events GROUP BY 1),
w AS (SELECT bucket,
             list_sort(list(total) OVER
               (ORDER BY bucket ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS vals
      FROM d)
SELECT bucket,
       {_sql_scaled(
           "CASE WHEN len(vals) % 2 = 1 THEN vals[len(vals) // 2 + 1] "
           "ELSE (vals[len(vals) // 2] + vals[len(vals) // 2 + 1]) / 2.0 END", 2
       )} AS median_x100
FROM w ORDER BY bucket
""",
)
def moving_median_daily_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`movingMedian(values, 7)` (io/eval/MovingMedianEvaluator.java):
    trailing 7-day median of daily event value totals — the window frame
    collects at most 7 values per row, exact median of that tiny array in
    JVM expressions."""
    from solr_spark.functions.mathstream import moving_median
    from solr_spark.operators.streams import timeseries_stream

    e = _t(spark, sf_dir, "events")
    d = timeseries_stream(e, "ts", "day", {"total": F.sum("value")})
    out = moving_median(d, "total", "bucket", window=7)
    return (
        out.select(
            F.col("bucket").cast("date").alias("bucket"),
            scaled("moving_median", 2).alias("median_x100"),
        )
        .orderBy("bucket")
    )


@register(
    "block_join_parent",
    """
SELECT o_orderkey, o_orderstatus FROM orders
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem WHERE l_quantity >= 49 AND l_discount > 0.09)
ORDER BY o_orderkey LIMIT 50
""",
)
def block_join_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`{!parent}`: orders (parents) having a qualifying lineitem child."""
    from solr_spark.operators.joins import parent_join

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    out = parent_join(
        o, li, "o_orderkey",
        (F.col("l_quantity") >= 49) & (F.col("l_discount") > 0.09),
    )
    return out.select("o_orderkey", "o_orderstatus").orderBy("o_orderkey").limit(50)


@register(
    "block_join_child",
    """
SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
ORDER BY l_orderkey, l_linenumber, l_quantity LIMIT 50
""",
)
def block_join_child(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`{!child of=...}`: lineitem children of qualifying order parents
    (search/join/BlockJoinChildQParserPlugin.java)."""
    from solr_spark.operators.joins import child_join

    o = _t(spark, sf_dir, "orders").withColumnRenamed("o_orderkey", "l_orderkey")
    li = _t(spark, sf_dir, "lineitem")
    out = child_join(o, li, "l_orderkey", F.col("o_totalprice") > 400000)
    return (
        out.select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
        .limit(50)
    )


@register(
    "hash_range_scan",
    f"""
SELECT count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id
FROM documents
WHERE ('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT
      BETWEEN 0 AND {1 << 59}
""",
)
def hash_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`{!hashRange f=doc_id l=0 u=2^59}` — the shard-split half filter
    (search/HashRangeQParserPlugin.java)."""
    from solr_spark.operators.streams import hash_range_filter

    d = _t(spark, sf_dir, "documents")
    part = hash_range_filter(d, "doc_id", 0, 1 << 59)
    return part.agg(
        F.count("*").alias("n"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


@register(
    "maxscore_top10",
    f"""
WITH {TOKS}, {TF}, {DL},
qt(term) AS (VALUES ('spark'), ('join'), ('data')),
dfs AS (SELECT term, count(*) AS df FROM tf
        WHERE term IN (SELECT term FROM qt) GROUP BY term),
w AS (SELECT term, ln(1 + ({NDOCS} - df + 0.5) / (df + 0.5)) AS w FROM dfs),
per AS (
  SELECT tf.doc_id,
         max(w.w * tf.tf / (tf.tf + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dl.dl / {AVGDL}))) AS s
  FROM tf JOIN w USING (term) JOIN dl USING (doc_id)
  GROUP BY tf.doc_id)
SELECT doc_id, {_sql_scaled('s')} AS score_x10k FROM per
ORDER BY score_x10k DESC, doc_id ASC LIMIT 10
""",
)
def maxscore_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`{!maxscore}`: optional clauses combine with MAX instead of SUM
    (search/MaxScoreQParser.java)."""
    from solr_spark.query.maxscore import maxscore_search

    idx, _, _ = documents_index(spark, sf_dir)
    out = maxscore_search(idx, "spark join data", k=10)
    return (
        out.select(F.col("docid").alias("doc_id"), scaled("score").alias("score_x10k"))
        .orderBy(F.col("score_x10k").desc(), F.col("doc_id").asc())
        .limit(10)
    )


@register(
    "rank_feature_boost",
    f"""
WITH {TOKS}, {TF}, {DL},
dfs AS (SELECT count(*) AS df FROM tf WHERE term = 'spark'),
main AS (
  SELECT tf.doc_id,
         (SELECT ln(1 + ({NDOCS} - df + 0.5) / (df + 0.5)) FROM dfs)
         * tf.tf / (tf.tf + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dl.dl / {AVGDL})) AS s
  FROM tf JOIN dl USING (doc_id) WHERE tf.term = 'spark')
SELECT m.doc_id,
       {_sql_scaled('m.s + 1.5 * (d.n_chars / (d.n_chars + 200.0))')} AS score_x10k
FROM main m JOIN documents d ON d.doc_id = m.doc_id
ORDER BY score_x10k DESC, m.doc_id ASC LIMIT 10
""",
)
def rank_feature_boost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RankField (schema/RankField.java): BM25 plus an additive-bq rank
    feature, satu(n_chars, pivot=200) boosted 1.5 (Lucene FeatureField
    SaturationFunction)."""
    from solr_spark.query.bm25 import bm25_score_df
    from solr_spark.query.maxscore import rank_feature_col

    idx, _, _ = documents_index(spark, sf_dir)
    main = bm25_score_df(idx, ["spark"], quantize_norms=False)
    feat = idx.docs.select(
        "docid",
        (F.lit(1.5) * rank_feature_col("n_chars", "satu", 200.0)).alias("feat"),
    )
    out = main.join(feat, "docid").select(
        F.col("docid").alias("doc_id"),
        scaled(F.col("score") + F.col("feat")).alias("score_x10k"),
    )
    return out.orderBy(F.col("score_x10k").desc(), F.col("doc_id").asc()).limit(10)


@register(
    "atomic_update_merge",
    """
WITH upd AS (
  SELECT doc_id, 'merged' AS new_source, 10 AS add_chars
  FROM documents WHERE doc_id % 50 = 0)
SELECT d.doc_id,
       coalesce(u.new_source, d.source) AS source,
       d.n_chars + coalesce(u.add_chars, 0) AS n_chars
FROM documents d LEFT JOIN upd u USING (doc_id)
ORDER BY d.doc_id LIMIT 100
""",
)
def atomic_update_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic update: set `source`, inc `n_chars` for every 50th doc."""
    from solr_spark.operators.joins import atomic_update

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    upd = (
        d.where(F.col("doc_id") % 50 == 0)
        .select("doc_id", F.lit("merged").alias("source"),
                F.lit(10).alias("n_chars"))
    )
    out = atomic_update(d, upd, "doc_id", set_cols=["source"], inc_cols=["n_chars"])
    return out.orderBy("doc_id").limit(100)


@register(
    "spellcheck_candidates",
    f"""
WITH {TOKS}, {TF},
dict AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
SELECT term, df, levenshtein(term, 'tabel') AS dist
FROM dict
WHERE term LIKE 't%' AND levenshtein(term, 'tabel') <= 2 AND term <> 'tabel'
ORDER BY dist ASC, df DESC, term ASC LIMIT 5
""",
)
def spellcheck_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DirectSpellChecker: corrections for the misspelling 'tabel'."""
    from solr_spark.query.spellcheck import spellcheck

    idx, _, _ = documents_index(spark, sf_dir)
    return spellcheck(idx, "tabel", max_edits=2, count=5)


@register(
    "index_stat_functions",
    f"""
WITH {TOKS}, {TF}, {DL},
dict AS (SELECT term, count(*) AS df, sum(tf)::BIGINT AS ttf FROM tf GROUP BY term)
SELECT t.doc_id,
       t.tf AS termfreq,
       d.df AS docfreq,
       d.ttf AS totaltermfreq,
       {NDOCS} AS numdocs,
       dl.dl AS norm_len,
       {_sql_scaled(f'ln(1 + ({NDOCS} - d.df + 0.5) / (d.df + 0.5))')} AS idf_x10k
FROM tf t JOIN dict d USING (term) JOIN dl USING (doc_id)
WHERE t.term = 'spark' AND t.doc_id < 100
ORDER BY t.doc_id
""",
)
def index_stat_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Function queries termfreq/docfreq/totaltermfreq/numdocs/norm/idf
    (ValueSourceParser registry, SURVEY §2.8) as joins against the index
    tables — per-doc index statistics exposed as columns."""
    from solr_spark.query.bm25 import idf_col

    idx, n, _ = documents_index(spark, sf_dir)
    stats = idx.term_stats().where(F.col("term") == "spark")
    out = (
        idx.postings.where((F.col("term") == "spark") & (F.col("docid") < 100))
        .join(stats, "term")
        .join(idx.doclens, "docid")
    )
    return out.select(
        F.col("docid").alias("doc_id"),
        F.col("tf").cast("long").alias("termfreq"),
        F.col("df").alias("docfreq"),
        F.col("ttf").alias("totaltermfreq"),
        F.lit(n).cast("long").alias("numdocs"),
        F.col("dl").cast("long").alias("norm_len"),
        scaled(idf_col(n, F.col("df"))).alias("idf_x10k"),
    ).orderBy("doc_id")


# --- query-time synonyms / grouped physical boolean / elevation ------------

_SYN_BLEND_DF = "(SELECT max(df) FROM dfs WHERE term IN ('sort', 'order'))"


@register(
    "synonym_query",
    f"""
WITH {TOKS}, {TF}, {DL},
dfs AS (SELECT term, count(*) AS df FROM tf
        WHERE term IN ('sort', 'order', 'table') GROUP BY term),
syn AS (SELECT doc_id, sum(tf) AS tfs FROM tf
        WHERE term IN ('sort', 'order') GROUP BY doc_id),
parts AS (
  SELECT s.doc_id,
         ln(1 + ({NDOCS} - {_SYN_BLEND_DF} + 0.5) / ({_SYN_BLEND_DF} + 0.5))
           * s.tfs / (s.tfs + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dl.dl / {AVGDL})) AS c
  FROM syn s JOIN dl USING (doc_id)
  UNION ALL
  SELECT tf.doc_id,
         ln(1 + ({NDOCS} - (SELECT df FROM dfs WHERE term = 'table') + 0.5) /
                ((SELECT df FROM dfs WHERE term = 'table') + 0.5))
           * tf.tf / (tf.tf + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dl.dl / {AVGDL})) AS c
  FROM tf JOIN dl USING (doc_id) WHERE tf.term = 'table'),
scored AS (SELECT doc_id, sum(c) AS s FROM parts GROUP BY doc_id)
SELECT doc_id, {_sql_scaled('s')} AS score_x10k FROM scored
ORDER BY score_x10k DESC, doc_id ASC LIMIT 10
""",
)
def synonym_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-time synonymGraph, all-single-token class — 'sort, order'
    blends into ONE SynonymQuery pseudo-term (df = max member df, per-doc
    tf = Σ member tfs; Lucene SynonymQuery scoring) plus the ordinary
    'table' term (managed-schema.xml:308 query-analyzer synonymGraph)."""
    from solr_spark.analysis.synonyms import parse_rules
    from solr_spark.query.synonym import synonym_search

    idx, _, _ = documents_index(spark, sf_dir)
    rules = parse_rules(["sort, order"], analyzer="simple")
    out = synonym_search(idx, "sort table", rules, k=10, quantize_norms=False)
    return (
        out.select(
            F.col("docid").alias("doc_id"), scaled("score").alias("score_x10k")
        )
        .orderBy(F.col("score_x10k").desc(), F.col("doc_id").asc())
        .limit(10)
    )


@register(
    "synonym_phrase_query",
    f"""
WITH {TOKS}, {TF}, {DL}, {TOKP},
dfs AS (SELECT term, count(*) AS df FROM tf
        WHERE term IN ('hash', 'join', 'data') GROUP BY term),
pm AS (
  SELECT t0.doc_id, count(*) AS tfp
  FROM tokp t0
  JOIN tokp t1 ON t1.doc_id = t0.doc_id AND t1.term = 'join'
              AND t1.pos = t0.pos + 1
  WHERE t0.term = 'hash'
  GROUP BY t0.doc_id),
parts AS (
  SELECT pm.doc_id,
         ((SELECT ln(1 + ({NDOCS} - df + 0.5) / (df + 0.5)) FROM dfs WHERE term = 'hash')
          + (SELECT ln(1 + ({NDOCS} - df + 0.5) / (df + 0.5)) FROM dfs WHERE term = 'join'))
           * pm.tfp / (pm.tfp + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dl.dl / {AVGDL})) AS c
  FROM pm JOIN dl USING (doc_id)
  UNION ALL
  SELECT tf.doc_id,
         (SELECT ln(1 + ({NDOCS} - df + 0.5) / (df + 0.5)) FROM dfs WHERE term = 'data')
           * tf.tf / (tf.tf + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dl.dl / {AVGDL})) AS c
  FROM tf JOIN dl USING (doc_id) WHERE tf.term = 'data'),
scored AS (SELECT doc_id, sum(c) AS s FROM parts GROUP BY doc_id)
SELECT doc_id, {_sql_scaled('s')} AS score_x10k FROM scored
ORDER BY score_x10k DESC, doc_id ASC LIMIT 10
""",
)
def synonym_phrase_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-word synonym path: 'hashjoin => hash join' replaces the query
    token with a PhraseQuery("hash join") (QueryBuilder's graph
    disjunction), summed with the ordinary 'data' term."""
    from solr_spark.analysis.synonyms import parse_rules
    from solr_spark.query.synonym import synonym_search

    idx, _, _ = documents_index(spark, sf_dir)
    rules = parse_rules(["hashjoin => hash join"], analyzer="simple")
    out = synonym_search(idx, "hashjoin data", rules, k=10, quantize_norms=False)
    return (
        out.select(
            F.col("docid").alias("doc_id"), scaled("score").alias("score_x10k")
        )
        .orderBy(F.col("score_x10k").desc(), F.col("doc_id").asc())
        .limit(10)
    )


@register(
    "wand_grouped_boolean",
    f"""
WITH {TOKS}, {TF}, {DL},
qmap(v) AS (VALUES {{QUANT_VALUES}}),
dlq AS (SELECT doc_id, (SELECT max(v) FROM qmap WHERE v <= dl.dl) AS dlq FROM dl),
dfs AS (SELECT term, count(*) AS df FROM tf
        WHERE term IN ('spark', 'table', 'data') GROUP BY term),
w AS (SELECT term, ln(1 + ({NDOCS} - df + 0.5) / (df + 0.5)) AS w FROM dfs),
contrib AS (
  SELECT tf.doc_id,
         sum((CASE tf.term WHEN 'table' THEN 2.0 ELSE 1.0 END) * w.w * tf.tf /
             (tf.tf + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dlq.dlq / {AVGDL}))) AS s
  FROM tf JOIN w USING (term) JOIN dlq USING (doc_id)
  GROUP BY tf.doc_id),
grp AS (SELECT DISTINCT doc_id FROM tf WHERE term IN ('spark', 'table')),
res AS (
  SELECT c.doc_id, c.s FROM contrib c JOIN grp USING (doc_id)
  WHERE c.doc_id NOT IN (SELECT DISTINCT doc_id FROM tf WHERE term = 'slow'))
SELECT doc_id, {_sql_scaled('s')} AS score_x10k FROM res
ORDER BY score_x10k DESC, doc_id ASC LIMIT 10
""".replace("{QUANT_VALUES}", _quant_sql_values()),
)
def wand_grouped_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped boolean on the PHYSICAL segment path:
    '+(spark table^2) -slow data' compiled to per-segment ordinal-set
    algebra (query/wand.py PhysicalIndex.search; quantized norms)."""
    from solr_spark.query.wand import open_index

    d = _phys_index_dir(spark, sf_dir)
    out = open_index(spark, d).search("+(spark table^2) -slow data", k=10)
    return (
        out.select(
            F.col("docid").alias("doc_id"), scaled("score").alias("score_x10k")
        )
        .orderBy(F.col("score_x10k").desc(), F.col("doc_id").asc())
        .limit(10)
    )


@register(
    "query_elevation",
    f"""
WITH {TOKS}, {TF}, {DL},
qt(term) AS (VALUES ('spark'), ('join'), ('data')),
dfs AS (SELECT term, count(*) AS df FROM tf
        WHERE term IN (SELECT term FROM qt) GROUP BY term),
w AS (SELECT term, ln(1 + ({NDOCS} - df + 0.5) / (df + 0.5)) AS w FROM dfs),
scored AS (
  SELECT tf.doc_id,
         {_sql_scaled(f'sum(w.w * tf.tf / (tf.tf + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dl.dl / {AVGDL})))')} AS s
  FROM tf JOIN w USING (term) JOIN dl USING (doc_id)
  GROUP BY tf.doc_id),
organic AS (SELECT doc_id, s FROM scored WHERE doc_id <> 0),
pins(doc_id, pin) AS (VALUES (5, 0), (2, 1)),
forced AS (
  SELECT p.doc_id, CAST(0 AS BIGINT) AS s FROM pins p
  WHERE p.doc_id NOT IN (SELECT doc_id FROM organic)),
allr AS (SELECT * FROM organic UNION ALL SELECT * FROM forced),
ranked AS (
  SELECT a.doc_id, a.s, (p.pin IS NOT NULL) AS elevated,
         coalesce(p.pin, 1073741824) AS rnk
  FROM allr a LEFT JOIN pins p USING (doc_id))
SELECT doc_id, s AS score_x10k, elevated FROM ranked
ORDER BY rnk ASC, score_x10k DESC, doc_id ASC LIMIT 10
""",
)
def query_elevation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QueryElevationComponent: ids 5 and 2 pinned (in that editorial
    order, surfacing with score 0 if the organic query missed them —
    forceElevation), id 0 excluded, remainder in organic BM25 order."""
    from solr_spark.query.bm25 import bm25_score_df
    from solr_spark.query.elevation import elevate

    idx, _, _ = documents_index(spark, sf_dir)
    organic = bm25_score_df(
        idx, sorted(set(analyze("spark join data", "simple"))),
        quantize_norms=False,
    ).select("docid", scaled("score").cast("double").alias("score"))
    out = elevate(
        organic, idx.docs.select(F.col("docid")), pinned=[5, 2],
        excluded=[0], k=10,
    )
    return out.select(
        F.col("docid").alias("doc_id"),
        F.col("score").cast("long").alias("score_x10k"),
        "elevated",
    )


@register(
    "payload_score",
    f"""
WITH {TOKP}
SELECT doc_id,
       CAST(max(pos % 5) AS BIGINT) AS payload_max,
       CAST(sum(pos % 5) AS BIGINT) AS payload_sum,
       CAST(min_by(pos % 5, pos) AS BIGINT) AS payload_first
FROM tokp WHERE term = 'spark'
GROUP BY doc_id ORDER BY doc_id LIMIT 100
""",
)
def payload_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`{!payload_score}` end to end: documents re-emitted as delimited
    ``term|payload`` text (payload = token position mod 5 — deterministic
    from the given table), ingested through the DelimitedPayload path into
    payload-aligned postings, then scored per doc with max/sum/first over
    the payloads at 'spark' positions (PayloadScoreQParserPlugin.java,
    includeSpanScore=false)."""
    from solr_spark.functions.dedup import tokens_col
    from solr_spark.query.payload import delimited_payload_postings, payload_score

    docs = _t(spark, sf_dir, "documents")
    ptext = docs.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.transform(
                tokens_col(F.col("text")),
                lambda t, i: F.concat(t, F.lit("|"), (i % 5).cast("string")),
            ),
        ).alias("ptext"),
    )
    pp = delimited_payload_postings(ptext, id_col="doc_id", text_col="ptext")
    out = payload_score(
        pp, "spark", "max", extra_funcs={"p_sum": "sum", "p_first": "first"}
    )
    return (
        out.select(
            F.col("docid").alias("doc_id"),
            F.col("score").cast("long").alias("payload_max"),
            F.col("p_sum").cast("long").alias("payload_sum"),
            F.col("p_first").cast("long").alias("payload_first"),
        )
        .orderBy("doc_id")
        .limit(100)
    )


@register(
    "payload_check_phrase",
    f"""
WITH {TOKP},
t0 AS (SELECT doc_id, pos FROM tokp WHERE term = 'spark'),
t1 AS (SELECT doc_id, pos FROM tokp WHERE term = 'data')
SELECT t0.doc_id, count(*)::INT AS matches
FROM t0 JOIN t1 ON t1.doc_id = t0.doc_id AND t1.pos = t0.pos + 1
WHERE (t0.pos % 5) >= 2 AND (t1.pos % 5) >= 2
GROUP BY 1 ORDER BY 1
""",
)
def payload_check_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`{!payload_check}` (SpanPayloadCheckQuery): docs with an adjacent
    "spark data" occurrence whose payloads (position mod 5, as in
    payload_score above) are BOTH >= 2 (op=gte payloads='2 2')."""
    from solr_spark.functions.dedup import tokens_col
    from solr_spark.query.payload import delimited_payload_postings, payload_check

    docs = _t(spark, sf_dir, "documents")
    ptext = docs.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.transform(
                tokens_col(F.col("text")),
                lambda t, i: F.concat(t, F.lit("|"), (i % 5).cast("string")),
            ),
        ).alias("ptext"),
    )
    pp = delimited_payload_postings(ptext, id_col="doc_id", text_col="ptext")
    out = payload_check(pp, ["spark", "data"], [2.0, 2.0], op="gte")
    return out.select(
        F.col("docid").alias("doc_id"),
        F.col("matches").cast("int").alias("matches"),
    ).orderBy("doc_id")


@register(
    "wand_payload_score",
    f"""
WITH {TOKP}
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(sum(pos % 5) AS DOUBLE) AS score
FROM tokp WHERE term = 'spark'
GROUP BY doc_id ORDER BY score DESC, doc_id ASC LIMIT 10
""",
)
def wand_payload_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`{!payload_score}` on the PHYSICAL path: the same delimited corpus
    indexed into segments with the position-aligned float32 payload stream
    (the Lucene .pay-file role) and scored top-k by payload sum with
    block-max payload pruning (query/wand.py:_payload_partition)."""
    import hashlib

    from solr_spark.functions.dedup import tokens_col
    from solr_spark.index.segments import build_index_dir
    from solr_spark.query.wand import open_index

    d = f"/tmp/solr_spark_payphys_v8_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}"
    if not os.path.exists(f"{d}/corpus_stats.json"):
        docs = _t(spark, sf_dir, "documents")
        ptext = docs.select(
            F.col("doc_id").cast("long").alias("docid"),
            F.concat_ws(
                " ",
                F.transform(
                    tokens_col(F.col("text")),
                    lambda t, i: F.concat(t, F.lit("|"), (i % 5).cast("string")),
                ),
            ).alias("ptext"),
        )
        build_index_dir(
            ptext, d, n_partitions=8, analyzer="delimited_payload",
            id_col="docid", text_col="ptext",
        )
    out = open_index(spark, d).payload_topk("spark", func="sum", k=10)
    return out.select(F.col("docid").alias("doc_id"), "score")


_LTR_MAIN_SQL = f"""
WITH {TOKS}, {TF}, {DL},
qt(term) AS (VALUES ('data')),
dfs AS (SELECT term, count(*) AS df FROM tf WHERE term IN (SELECT term FROM qt) GROUP BY term),
w AS (SELECT term, ln(1 + ({NDOCS} - df + 0.5) / (df + 0.5)) AS w FROM dfs),
main AS (
  SELECT tf.doc_id,
         sum(w.w * tf.tf / (tf.tf + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dl.dl / {AVGDL}))) AS s
  FROM tf JOIN w USING (term) JOIN dl USING (doc_id) GROUP BY tf.doc_id),
win AS (SELECT doc_id, s FROM main
        QUALIFY row_number() OVER (ORDER BY s DESC, doc_id ASC) <= 50),
feats AS (
  SELECT w.doc_id, w.s AS orig, d.n_chars / 1000.0 AS ncharsk,
         CASE WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END AS is_en
  FROM win w JOIN documents d USING (doc_id))
"""


def _ltr_features() -> dict:
    return {
        "originalScore": F.col("score"),
        "ncharsK": F.col("n_chars") / F.lit(1000.0),
        "isEn": F.when(F.col("lang") == "en", 1.0).otherwise(0.0),
    }


def _ltr_main(spark: SparkSession, sf_dir: str):
    from solr_spark.query.bm25 import bm25_score_df

    idx, _, _ = documents_index(spark, sf_dir)
    main = bm25_score_df(idx, ["data"], quantize_norms=False)
    doc_feats = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("docid"), "n_chars", "lang"
    )
    return main, doc_feats


@register(
    "ltr_linear_rerank",
    _LTR_MAIN_SQL + f"""
SELECT doc_id,
       {_sql_scaled('1.0 * orig + 0.9 * ncharsk + 0.4 * is_en')} AS score_x10k
FROM feats ORDER BY score_x10k DESC, doc_id ASC LIMIT 10
""",
)
def ltr_linear_rerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`{!ltr}` with a LinearModel (solr/contrib/ltr LinearModel.java dot
    product; LTRRescorer replaces window scores): top-50 of q=data
    re-scored by 1·originalScore + 0.9·(n_chars/1000) + 0.4·[lang=en],
    compiled to one Catalyst expression — no UDF."""
    from solr_spark.query.ltr import LinearModel, ltr_rerank

    main, doc_feats = _ltr_main(spark, sf_dir)
    model = LinearModel({"originalScore": 1.0, "ncharsK": 0.9, "isEn": 0.4})
    out = ltr_rerank(main, doc_feats, _ltr_features(), model,
                     rerank_docs=50, k=10)
    return (
        out.select(F.col("docid").alias("doc_id"),
                   scaled("score").alias("score_x10k"))
        .orderBy(F.col("score_x10k").desc(), F.col("doc_id").asc())
    )


@register(
    "ltr_mart_rerank",
    _LTR_MAIN_SQL + f"""
SELECT doc_id,
       {_sql_scaled(
           "1.0 * (CASE WHEN ncharsk <= 0.8 + 1e-6 THEN 0.2 "
           "            ELSE CASE WHEN orig <= 0.15 + 1e-6 THEN 0.5 ELSE 1.0 END END) "
           "+ 0.5 * (CASE WHEN is_en <= 0.5 + 1e-6 THEN 0.1 ELSE 0.6 END) "
           "+ 0.05 * orig"
       )} AS score_x10k
FROM feats ORDER BY score_x10k DESC, doc_id ASC LIMIT 10
""",
)
def ltr_mart_rerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`{!ltr}` with a MultipleAdditiveTreesModel (solr/contrib/ltr
    MultipleAdditiveTreesModel.java:285-300 — feature <= threshold+1e-6 →
    left, Σ tree_weight·leaf): a 2-tree ensemble + a small linear term,
    compiled to nested CASE WHEN (whole-stage codegen, no UDF). The linear
    term keeps the final order deterministic inside tree leaves."""
    from solr_spark.query.ltr import LinearModel, TreesModel, ltr_rerank

    main, doc_feats = _ltr_main(spark, sf_dir)
    trees = TreesModel([
        {"weight": 1.0, "root": {
            "feature": "ncharsK", "threshold": 0.8,
            "left": {"value": 0.2},
            "right": {"feature": "originalScore", "threshold": 0.15,
                      "left": {"value": 0.5}, "right": {"value": 1.0}},
        }},
        {"weight": 0.5, "root": {
            "feature": "isEn", "threshold": 0.5,
            "left": {"value": 0.1}, "right": {"value": 0.6},
        }},
    ])
    lin = LinearModel({"originalScore": 0.05})

    class _Sum:
        def compile(self, features):
            return trees.compile(features) + lin.compile(features)

    # Tree leaves collapse distinct originalScores into ties, so the k=10
    # cutoff must be decided on the QUANTIZED score (like the oracle), not
    # the raw double: take the full reranked window, then cut.
    out = ltr_rerank(main, doc_feats, _ltr_features(), _Sum(),
                     rerank_docs=50, k=50)
    return (
        out.select(F.col("docid").alias("doc_id"),
                   scaled("score").alias("score_x10k"))
        .orderBy(F.col("score_x10k").desc(), F.col("doc_id").asc())
        .limit(10)
    )


# --- multi-select faceting, block facet domains, date range facets,
# --- freshness boost (SURVEY §2.4/§2.8; round-3 batch 2) ---------------------


@register(
    "facet_multiselect_lang",
    """
SELECT lang, count(*) AS count FROM documents
WHERE n_chars >= 300 AND lang IS NOT NULL
GROUP BY lang ORDER BY count DESC, lang ASC LIMIT 10
""",
)
def facet_multiselect_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-select faceting via tag/ex (facet/FacetRequest.java parseDomain
    excludeTags; the classic `fq={!tag=LANG}lang:en` +
    `facet domain:{excludeTags:LANG}` idiom): the lang facet counts over a
    domain that IGNORES the lang filter but keeps the n_chars filter, so a
    UI can show the other language options while one is selected."""
    from solr_spark.operators.facets import json_facet

    docs = _t(spark, sf_dir, "documents")
    tagged = {
        "LANG": F.col("lang") == "en",
        "NCH": F.col("n_chars") >= 300,
    }
    res = json_facet(
        docs,
        {"type": "terms", "field": "lang", "limit": 10,
         "domain": {"excludeTags": ["LANG"]}},
        tagged_filters=tagged,
    )
    return res["buckets"].select("lang", "count")


@register(
    "facet_block_children",
    """
SELECT l_returnflag, count(*) AS count FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
  AND l_returnflag IS NOT NULL
GROUP BY l_returnflag ORDER BY count DESC, l_returnflag ASC LIMIT 10
""",
)
def facet_block_children(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-join facet domain (FacetRequest domain blockChildren;
    search/join/BlockJoinChildQParserPlugin.java): the domain of finished
    orders switches to their lineitem children, then facets on returnflag.
    The domain switch is a shuffled semi-join on the block key — no collect,
    no explode; at 100 TB both sides stay distributed."""
    from solr_spark.operators.facets import json_facet

    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    li = _t(spark, sf_dir, "lineitem")
    res = json_facet(
        orders,
        {"type": "terms", "field": "l_returnflag", "limit": 10,
         "domain": {"blockChildren": (li, "o_orderkey", "l_orderkey")}},
    )
    return res["buckets"].select("l_returnflag", "count")


@register(
    "facet_range_date_month",
    """
SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS bucket,
       count(*) AS count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
GROUP BY bucket ORDER BY bucket
""",
)
def facet_range_date_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """facet.range over a date field with a calendar gap
    (facet/FacetRange.java + util/DateMathParser.java `+1MONTH`): bucket
    edges resolved driver-side by the date-math parser, counts from ONE
    conditional-aggregate scan (#buckets counters in the shuffle, no rows).
    The oracle's date_trunc matches because every month bucket is non-empty
    in this data; the Spark side would also emit empty buckets (Solr does)."""
    from solr_spark.operators.facets import date_range_facet

    orders = _t(spark, sf_dir, "orders")
    return date_range_facet(
        orders, "o_orderdate",
        "1995-01-01T00:00:00Z", "1996-01-01T00:00:00Z", "+1MONTH",
    )


@register(
    "freshness_boost_orders",
    f"""
SELECT o_orderkey,
       {_sql_scaled(
           "o_totalprice / 100000.0 * "
           "(1.0 / (3.16e-11 * (epoch_ms(TIMESTAMP '2001-09-01') "
           "- epoch_ms(o_orderdate)) + 1.0))"
       )} AS score_x10k
FROM orders
ORDER BY score_x10k DESC, o_orderkey ASC LIMIT 10
""",
)
def freshness_boost_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical date-freshness boost
    `recip(ms(NOW,date),3.16e-11,1,1)` (ValueSourceParser "recip"/"ms",
    Lucene ReciprocalFloatFunction; NOW pinned to 2001-09-01 so the result
    is deterministic, as the reference's NOW= request param allows): score =
    (price/100k) · recip — recent expensive orders win. All whole-stage
    codegen arithmetic over a column-pruned scan."""
    from solr_spark.query.rerank import ms_func, recip_func

    orders = _t(spark, sf_dir, "orders")
    age_ms = ms_func("2001-09-01", F.col("o_orderdate"))
    score = (F.col("o_totalprice") / F.lit(100000.0)) * recip_func(
        age_ms, 3.16e-11, 1.0, 1.0
    )
    return (
        orders.select("o_orderkey", scaled(score).alias("score_x10k"))
        .orderBy(F.col("score_x10k").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@register(
    "score_nodes_parts",
    f"""
WITH seeds AS (SELECT o_orderkey FROM orders WHERE o_custkey = 7),
walk AS (SELECT l_partkey AS node, count(*) AS cnt FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM seeds) GROUP BY l_partkey),
stats AS (SELECT l_partkey AS node, count(*) AS doc_freq FROM lineitem
          GROUP BY l_partkey),
nd AS (SELECT count(*) AS num_docs FROM lineitem)
SELECT walk.node, walk.cnt, stats.doc_freq,
       {_sql_scaled(
           "(ln(walk.cnt) + 1.0) * "
           "(ln((nd.num_docs + 1) / (stats.doc_freq + 1.0)) + 1.0)"
       )} AS score_x10k
FROM walk JOIN stats USING (node), nd
ORDER BY score_x10k DESC, node ASC LIMIT 10
""",
)
def score_nodes_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`scoreNodes` over a 1-hop gather (solrj io/stream/
    ScoreNodesStream.java:241): parts reached from customer 7's orders,
    scored (ln(tf)+1)·(ln((N+1)/(df+1))+1) — rare parts outrank common
    ones. The df table is one reusable aggregate over the edges; the walk
    counts ride the same groupBy that gathers the frontier."""
    from solr_spark.operators.graph import score_nodes

    li = _t(spark, sf_dir, "lineitem")
    seeds = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_custkey") == 7)
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    walk = (
        li.join(F.broadcast(seeds), "l_orderkey", "left_semi")
        .groupBy(F.col("l_partkey").alias("node"))
        .agg(F.count("*").alias("cnt"))
    )
    stats = li.groupBy(F.col("l_partkey").alias("node")).agg(
        F.count("*").alias("docFreq")
    )
    n = li.count()
    out = score_nodes(walk, stats, n, count_col="cnt")
    return (
        out.select(
            "node", "cnt", F.col("docFreq").alias("doc_freq"),
            scaled("nodeScore").alias("score_x10k"),
        )
        .orderBy(F.col("score_x10k").desc(), F.col("node").asc())
        .limit(10)
    )


@register(
    "graph_nodes_maxdf",
    """
WITH e AS (
  SELECT 'o:' || l_orderkey::VARCHAR AS src, 'p:' || l_partkey::VARCHAR AS dst
  FROM lineitem WHERE l_quantity >= 25
  UNION ALL
  SELECT 'p:' || l_partkey::VARCHAR, 'o:' || l_orderkey::VARCHAR
  FROM lineitem WHERE l_quantity >= 25),
hot AS (SELECT src AS node FROM e GROUP BY src HAVING count(*) > 12),
seeds AS (SELECT 'o:' || o_orderkey::VARCHAR AS node FROM orders WHERE o_custkey = 7),
f0 AS (SELECT node FROM seeds WHERE node NOT IN (SELECT node FROM hot)),
hop1 AS (SELECT DISTINCT e.dst AS node FROM f0 JOIN e ON f0.node = e.src
         WHERE e.dst NOT IN (SELECT node FROM seeds)),
f1 AS (SELECT node FROM hop1 WHERE node NOT IN (SELECT node FROM hot)),
hop2 AS (SELECT DISTINCT e.dst AS node FROM f1 JOIN e ON f1.node = e.src
         WHERE e.dst NOT IN (SELECT node FROM seeds)
           AND e.dst NOT IN (SELECT node FROM hop1))
SELECT node, 1 AS hop FROM hop1
UNION ALL
SELECT node, 2 AS hop FROM hop2
ORDER BY hop, node
""",
)
def graph_nodes_maxdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gatherNodes with the traversalFilter fq AND the maxDocFreq hot-node
    cap (GatherNodesStream.java:531-532 `{!graphTerms maxDocFreq=N}`,
    search/GraphTermsQParserPlugin.java): 2-hop walk over the order—part
    graph restricted to qty>=25 edges, where frontier nodes touching more
    than 12 edges are NOT expanded — the reference's celebrity-node skew
    guard, here a df-aggregate + per-hop anti-join."""
    from solr_spark.operators.graph import gather_nodes

    li = _t(spark, sf_dir, "lineitem")
    fwd = li.select(
        F.concat(F.lit("o:"), F.col("l_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("dst"),
        "l_quantity",
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "l_quantity")
    )
    seeds = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_custkey") == 7)
        .select(F.concat(F.lit("o:"), F.col("o_orderkey").cast("string")).alias("node"))
    )
    return gather_nodes(
        edges, seeds, hops=2,
        traversal_filter=F.col("l_quantity") >= 25,
        max_doc_freq=12,
    ).orderBy("hop", "node")


@register(
    "ltr_feature_log",
    _LTR_MAIN_SQL + f"""
SELECT doc_id,
       {_sql_scaled('orig')} AS orig_x10k,
       {_sql_scaled('ncharsk')} AS ncharsk_x10k,
       CAST(is_en AS BIGINT) AS is_en
FROM feats ORDER BY doc_id ASC
""",
)
def ltr_feature_log_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `[features]` transformer (contrib/ltr
    LTRFeatureLoggerTransformerFactory.java): log every feature's value
    for the rerank-window docs of q=data — the training-data extraction
    half of the LTR loop, same Catalyst feature expressions the models
    score with."""
    from solr_spark.query.ltr import ltr_feature_log

    main, doc_feats = _ltr_main(spark, sf_dir)
    out = ltr_feature_log(main, doc_feats, _ltr_features(), rerank_docs=50)
    return out.select(
        F.col("docid").alias("doc_id"),
        scaled("score").alias("orig_x10k"),
        scaled("ncharsK").alias("ncharsk_x10k"),
        F.col("isEn").cast("long").alias("is_en"),
    ).orderBy(F.col("doc_id").asc())


@register(
    "facet_range_nested_langs",
    """
WITH dom AS (
  SELECT floor(n_chars / 100.0) * 100.0 AS bucket, lang
  FROM documents WHERE n_chars >= 0 AND n_chars < 600),
ranked AS (
  SELECT bucket, lang, count(*) AS count,
         row_number() OVER (PARTITION BY bucket
                            ORDER BY count(*) DESC, lang ASC) AS rn
  FROM dom WHERE lang IS NOT NULL GROUP BY bucket, lang)
SELECT bucket, lang, count FROM ranked WHERE rn <= 2
ORDER BY bucket ASC, count DESC, lang ASC
""",
)
def facet_range_nested_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON facet `type:range` with a NESTED terms sub-facet
    (facet/FacetRange.java + FacetField.java nesting): n_chars buckets of
    width 100, top-2 langs per bucket. The range bucket is a synthetic
    column feeding the same one-groupBy-per-level machinery as terms
    facets; per-bucket top-N is a window over the child aggregate, not a
    per-bucket job."""
    from solr_spark.operators.facets import json_facet

    docs = _t(spark, sf_dir, "documents")
    res = json_facet(docs, {
        "type": "range", "field": "n_chars",
        "start": 0, "end": 600, "gap": 100, "key": "bucket",
        "facet": {"langs": {"type": "terms", "field": "lang", "limit": 2}},
    })
    return res["langs"].select("bucket", "lang", "count").orderBy(
        F.col("bucket").asc(), F.col("count").desc(), F.col("lang").asc()
    )


@register(
    "stratified_sample_langs",
    """
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5('42' || doc_id::VARCHAR) ASC,
                                     doc_id ASC) AS rn
  FROM documents)
SELECT doc_id, lang FROM ranked WHERE rn <= 3
ORDER BY lang ASC, doc_id ASC
""",
)
def stratified_sample_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling — 3 docs per language via the
    seeded md5 permutation (training-data balancing; composes the
    reference's per-collection `random` streams into one windowed op)."""
    from solr_spark.operators.streams import stratified_sample_stream

    docs = _t(spark, sf_dir, "documents")
    out = stratified_sample_stream(docs, "lang", 3, seed="42", id_col="doc_id")
    return out.select("doc_id", "lang").orderBy(
        F.col("lang").asc(), F.col("doc_id").asc()
    )


@register(
    "mlt_interesting_terms",
    f"""
WITH {TOKS}, {TF},
alldf AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
cand AS (
  SELECT tf.term, alldf.df,
         tf.tf * ln(1 + ({NDOCS} - alldf.df + 0.5) / (alldf.df + 0.5)) AS ti
  FROM tf JOIN alldf USING (term)
  WHERE tf.doc_id = 0 AND tf.tf >= 1 AND alldf.df >= 5
        AND alldf.df <= 0.9 * {NDOCS})
SELECT term, df, {_sql_scaled('ti')} AS tfidf_x10k FROM cand
ORDER BY tfidf_x10k DESC, term ASC LIMIT 10
""",
)
def mlt_interesting_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLT interestingTerms=details (MoreLikeThisHandler.java
    InterestingTerm; mlt.interestingTerms param): the ranked tf·idf terms
    of doc 0 that the MLT query would be built from, with the min-tf /
    min-df / max-df gates — DataFrame-native (one docid-pruned postings
    slice joined to broadcast term stats), no driver collect."""
    from solr_spark.query.bm25 import idf_col

    idx, n_docs, _ = documents_index(spark, sf_dir)
    out = (
        idx.postings.where(F.col("docid") == 0)
        .where(F.col("tf") >= 1)
        .join(F.broadcast(idx.term_stats().select("term", "df")), "term")
        .where((F.col("df") >= 5) & (F.col("df") <= 0.9 * n_docs))
        .select(
            "term", "df",
            scaled(F.col("tf") * idf_col(n_docs, F.col("df"))).alias(
                "tfidf_x10k"
            ),
        )
        .orderBy(F.col("tfidf_x10k").desc(), F.col("term").asc())
        .limit(10)
    )
    return out


@register(
    "dismax_bq_bf",
    f"""
WITH {TOKS}, {TF}, {DL}, {_SRC_TOKS},
stf AS (SELECT doc_id, term, count(*) AS tf FROM stoks GROUP BY doc_id, term),
sdl AS (SELECT doc_id, count(*) AS dl FROM stoks GROUP BY doc_id),
qt(term) AS (VALUES ('spark'), ('src3')),
tdf AS (SELECT term, count(*) AS df FROM tf WHERE term IN (SELECT term FROM qt) GROUP BY term),
sdf AS (SELECT term, count(*) AS df FROM stf WHERE term IN (SELECT term FROM qt) GROUP BY term),
tscore AS (
  SELECT tf.term, tf.doc_id,
         1.0 * ln(1 + ({NDOCS} - tdf.df + 0.5) / (tdf.df + 0.5)) * tf.tf /
           (tf.tf + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dl.dl / {AVGDL})) AS fscore
  FROM tf JOIN tdf USING (term) JOIN dl USING (doc_id)),
sscore AS (
  SELECT stf.term, stf.doc_id,
         2.0 * ln(1 + ({NDOCS} - sdf.df + 0.5) / (sdf.df + 0.5)) * stf.tf /
           (stf.tf + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * sdl.dl /
             (SELECT sum(dl) * 1.0 / {NDOCS} FROM sdl))) AS fscore
  FROM stf JOIN sdf USING (term) JOIN sdl USING (doc_id)),
unioned AS (SELECT * FROM tscore UNION ALL SELECT * FROM sscore),
per_term AS (
  SELECT term, doc_id, max(fscore) + 0.3 * (sum(fscore) - max(fscore)) AS tscore
  FROM unioned GROUP BY term, doc_id),
main AS (SELECT doc_id, sum(tscore) AS s FROM per_term GROUP BY doc_id),
bqdf AS (SELECT term, count(*) AS df FROM tf WHERE term = 'join' GROUP BY term),
bqs AS (
  SELECT tf.doc_id,
         0.5 * ln(1 + ({NDOCS} - bqdf.df + 0.5) / (bqdf.df + 0.5)) * tf.tf /
           (tf.tf + {K1_DEFAULT} * ({1.0 - B_DEFAULT} + {B_DEFAULT} * dl.dl / {AVGDL})) AS bscore
  FROM tf JOIN bqdf USING (term) JOIN dl USING (doc_id)),
bfs AS (SELECT doc_id, n_chars / 100000.0 AS fscore FROM documents)
SELECT m.doc_id,
       {_sql_scaled('m.s + coalesce(b.bscore, 0) + coalesce(f.fscore, 0)')} AS score_x10k
FROM main m LEFT JOIN bqs b USING (doc_id) LEFT JOIN bfs f USING (doc_id)
ORDER BY score_x10k DESC, doc_id ASC LIMIT 10
""",
)
def dismax_bq_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DisMax with ``bq``/``bf`` additive boosts (DisMaxQParser.java
    addBoostQuery/addBoostFunctions): main = (text, source^2) tie=0.3,
    bq = text:join^0.5, bf = n_chars/100000 — boosts add onto main-query
    matches only (the main query is the required clause)."""
    from solr_spark.query.bm25 import bm25_score_df
    from solr_spark.query.dismax import dismax_search

    idxs = _dismax_indexes(spark, sf_dir)
    bq = bm25_score_df(idxs["text"], ["join"], quantize_norms=False).select(
        "docid", (F.col("score") * 0.5).alias("score")
    )
    bf = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("docid"),
        (F.col("n_chars") / F.lit(100000.0)).alias("score"),
    )
    out = dismax_search(
        idxs, "spark src3", qf={"text": 1.0, "source": 2.0},
        tie=0.3, k=10, boosts=[bq, bf],
    )
    return out.select(
        F.col("docid").alias("doc_id"), scaled("score").alias("score_x10k")
    ).orderBy(F.col("score_x10k").desc(), F.col("doc_id").asc())


# ---------------------------------------------------------------------------
# Round-4 evaluator batch: convolution/cross-correlation, paired tests,
# distance measures, vector scaling, interpolation, ranking
# ---------------------------------------------------------------------------


_DAILY_X_SQL = (
    "CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS DOUBLE)"
)


def _daily_type_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day counts of two event types as aligned series (a=click,
    b=view; days where a type is absent count 0, so the x domains match)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01"))
        .cast("double").alias("x")
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("double").alias("a"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("double").alias("b"),
    )


_DAILY_AB_SQL = f"""
  SELECT {_DAILY_X_SQL} AS x,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE) AS a,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS DOUBLE) AS b
  FROM events GROUP BY 1"""


@register(
    "convolve_daily_events",
    f"""
WITH daily AS (
  SELECT {_DAILY_X_SQL} AS x, CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1),
ranked AS (SELECT y, row_number() OVER (ORDER BY x) - 1 AS r FROM daily),
kernel(i, kv) AS (VALUES (0, 0.25), (1, 0.5), (2, 0.25))
SELECT CAST(r + i AS BIGINT) AS k, {_sql_scaled('sum(y * kv)')} AS conv_x10k
FROM ranked, kernel GROUP BY 1 ORDER BY k
""",
)
def convolve_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`conv(a, b)` (io/eval/ConvolutionEvaluator.java, MathArrays
    .convolve): the daily event-count series convolved with a 1-2-1
    smoothing kernel. The kernel is a 3-row broadcast; the only full
    shuffle is the groupBy on the output index (map-side combine)."""
    from solr_spark.functions.mathstream import convolve

    out = convolve(_daily_events_series(spark, sf_dir), "x", "y",
                   [0.25, 0.5, 0.25])
    return out.select(
        F.col("k").cast("long").alias("k"),
        scaled("conv").alias("conv_x10k"),
    ).orderBy("k")


@register(
    "finddelay_daily_types",
    f"""
WITH daily AS ({_DAILY_AB_SQL}),
ranked AS (SELECT a, b, row_number() OVER (ORDER BY x) - 1 AS r,
                  count(*) OVER () AS n
           FROM daily),
conv AS (SELECT p.r + (q.n - 1 - q.r) AS k, sum(p.a * q.b) AS c
         FROM ranked p CROSS JOIN ranked q GROUP BY 1)
SELECT CAST(k + 1 - (SELECT max(n) FROM ranked) AS DOUBLE) AS delay
FROM conv ORDER BY abs(c) DESC, k ASC LIMIT 1
""",
)
def finddelay_daily_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`finddelay(a, b)` (io/eval/FindDelayEvaluator.java): cross-correlate
    the click and view daily series (convolve a with REVERSED b), take the
    first index of max |value| — the reference's strict-> scan — and return
    (index + 1) - len(b). Pair frame is over the aggregated series."""
    from solr_spark.functions.mathstream import find_delay

    return find_delay(_daily_type_series(spark, sf_dir), "x", "a", "b")


@register(
    "paired_ttest_daily",
    f"""
WITH daily AS ({_DAILY_AB_SQL}),
s AS (SELECT count(*) AS n, avg(a - b) AS md, var_samp(a - b) AS vd
      FROM daily)
SELECT {_sql_scaled('md')} AS mean_diff_x10k,
       {_sql_scaled('md / sqrt(vd / n)')} AS t_x10k,
       n
FROM s
""",
)
def paired_ttest_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`pairedTtest(a, b)` (io/eval/PairedTTestEvaluator.java, commons-math
    TTest.pairedTTest): daily click vs view counts. One aggregation pass;
    the p-value (incomplete-beta t tail, golden-tested in pytest) is
    excluded from the SQL oracle because DuckDB lacks the t CDF."""
    from solr_spark.functions.mathstream import paired_ttest

    out = paired_ttest(_daily_type_series(spark, sf_dir), "a", "b")
    return out.select(
        scaled("mean_diff").alias("mean_diff_x10k"),
        scaled("t_stat").alias("t_x10k"),
        "n",
    )


@register(
    "distance_daily_types",
    f"""
WITH daily AS ({_DAILY_AB_SQL})
SELECT {_sql_scaled('sqrt(sum((a - b) * (a - b)))', 2)} AS euclidean_x100,
       {_sql_scaled('sum(abs(a - b))', 2)} AS manhattan_x100,
       {_sql_scaled(
           "sum(CASE WHEN abs(a) + abs(b) = 0 THEN 0 "
           "ELSE abs(a - b) / (abs(a) + abs(b)) END)")} AS canberra_x10k,
       {_sql_scaled('max(abs(a - b))', 2)} AS chebyshev_x100,
       {_sql_scaled('sum(a * b)', 0)} AS dot_x1,
       {_sql_scaled(
           'sum(a * b) / (sqrt(sum(a * a)) * sqrt(sum(b * b)))', 6
       )} AS cosine_x1m
FROM daily
""",
)
def distance_daily_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distance-evaluator family (io/eval/{Euclidean,Manhattan,
    Canberra,Chebyshev}DistanceEvaluator.java + CosineSimilarity/
    DotProduct): all six measures between the click and view daily series
    in ONE partial-aggregable fold — a handful of doubles in the shuffle
    regardless of row count."""
    from solr_spark.functions.mathstream import series_distances

    out = series_distances(_daily_type_series(spark, sf_dir), "a", "b")
    return out.select(
        scaled("euclidean", 2).alias("euclidean_x100"),
        scaled("manhattan", 2).alias("manhattan_x100"),
        scaled("canberra").alias("canberra_x10k"),
        scaled("chebyshev", 2).alias("chebyshev_x100"),
        scaled("dot_product", 0).alias("dot_x1"),
        scaled("cosine_sim", 6).alias("cosine_x1m"),
    )


@register(
    "scale_series_daily",
    f"""
WITH daily AS (
  SELECT {_DAILY_X_SQL} AS x, CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1)
SELECT CAST(x AS INT) AS day_idx,
       {_sql_scaled(
           '(y - min(y) OVER ()) / (max(y) OVER () - min(y) OVER ())'
       )} AS minmax_x10k,
       {_sql_scaled('y / sqrt(sum(y * y) OVER ())', 6)} AS unit_x1m,
       {_sql_scaled('y / sum(y) OVER ()', 6)} AS normsum_x1m
FROM daily ORDER BY day_idx
""",
)
def scale_series_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vector-scaling evaluators (io/eval/MinMaxScaleEvaluator.java
    [0,1] default, UnitEvaluator.java, NormalizeSumEvaluator.java) over
    the daily event-count series: ONE tiny aggregate (min/max/l2/sum)
    broadcast back via crossJoin — never a global window over the data."""
    from solr_spark.functions.mathstream import scale_series

    out = scale_series(_daily_events_series(spark, sf_dir), "y")
    return out.select(
        F.col("x").cast("int").alias("day_idx"),
        scaled("minmax").alias("minmax_x10k"),
        scaled("unit", 6).alias("unit_x1m"),
        scaled("normsum", 6).alias("normsum_x1m"),
    ).orderBy("day_idx")


@register(
    "lerp_daily_events",
    f"""
WITH daily AS (
  SELECT {_DAILY_X_SQL} AS x, CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1),
s AS (SELECT x, y, lead(x) OVER (ORDER BY x) AS x1,
             lead(y) OVER (ORDER BY x) AS y1 FROM daily)
SELECT CAST(x + x1 AS BIGINT) AS xm2,
       {_sql_scaled('(y + y1) / 2.0', 1)} AS ym_x10
FROM s WHERE x1 IS NOT NULL ORDER BY xm2
""",
)
def lerp_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`predict(lerp(x, y), midpoints)` (io/eval/LerpEvaluator.java,
    commons-math LinearInterpolator): the piecewise-linear interpolant of
    the daily series evaluated at every inter-knot midpoint — a lead
    window over the AGGREGATED series (series-evaluator contract)."""
    from solr_spark.functions.mathstream import lerp_midpoints

    out = lerp_midpoints(_daily_events_series(spark, sf_dir), "x", "y")
    return out.select(
        (F.col("xm") * 2).cast("long").alias("xm2"),
        scaled("ym", 1).alias("ym_x10"),
    ).orderBy("xm2")


@register(
    "polyfit_derivative_daily",
    f"""
WITH daily AS (
  SELECT {_DAILY_X_SQL} AS x, CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1),
m AS (SELECT count(*)::DOUBLE AS s0, sum(x) AS s1, sum(x*x) AS s2,
             sum(x*x*x) AS s3, sum(x*x*x*x) AS s4,
             sum(y) AS t0, sum(x*y) AS t1, sum(x*x*y) AS t2
      FROM daily),
d AS (SELECT s0*(s2*s4 - s3*s3) - s1*(s1*s4 - s3*s2) + s2*(s1*s3 - s2*s2) AS det,
             s0*(t1*s4 - s3*t2) - t0*(s1*s4 - s3*s2) + s2*(s1*t2 - t1*s2) AS d1,
             s0*(s2*t2 - t1*s3) - s1*(s1*t2 - t1*s2) + t0*(s1*s3 - s2*s2) AS d2
      FROM m)
SELECT CAST(x AS INT) AS day_idx,
       {_sql_scaled('d1 / det + 2.0 * (d2 / det) * x', 2)} AS dy_x100
FROM daily, d ORDER BY day_idx
""",
)
def polyfit_derivative_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`polyfitDerivative(x, y, 2)` (io/eval/PolyFitDerivativeEvaluator
    .java): derivative of the least-squares quadratic of the daily series,
    evaluated at every sample day. Fit = polyfit's one-pass moments +
    driver solve; the oracle Cramer-solves the same normal equations in
    SQL and applies dy = c1 + 2*c2*x."""
    from solr_spark.functions.mathstream import polyfit_derivative

    out = polyfit_derivative(_daily_events_series(spark, sf_dir), "x", "y",
                             degree=2)
    return out.select(
        F.col("x").cast("int").alias("day_idx"),
        scaled("dy", 2).alias("dy_x100"),
    ).orderBy("day_idx")


@register(
    "rank_quantity_lineitem",
    """
SELECT l_orderkey, l_linenumber,
       CAST(floor((rank() OVER (ORDER BY l_quantity)
             + (count(*) OVER (PARTITION BY l_quantity) - 1) / 2.0)
            * 10 + 0.5) AS BIGINT) AS rank_x10
FROM lineitem WHERE l_orderkey < 200
ORDER BY l_orderkey, l_linenumber
""",
)
def rank_quantity_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`rank(v)` (io/eval/RankEvaluator.java, commons-math NaturalRanking
    TiesStrategy.AVERAGE): 1-based midranks of l_quantity over an order
    slice. Ranks come from the distinct-value dictionary + bucket-parallel
    prefix sum (the spearman/mannWhitney shape) — never a full-table rank
    window."""
    from solr_spark.functions.mathstream import natural_ranking

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 200)
    out = natural_ranking(li, "l_quantity",
                          keys=["l_orderkey", "l_linenumber"])
    return out.select(
        "l_orderkey", "l_linenumber",
        scaled("rank", 1).alias("rank_x10"),
    ).orderBy("l_orderkey", "l_linenumber")


@register(
    "outliers_totalprice",
    f"""
WITH m AS (SELECT avg(o_totalprice) AS mu, stddev_samp(o_totalprice) AS s
           FROM orders),
z AS (SELECT o_orderkey, (o_totalprice - mu) / (s * sqrt(2.0)) AS x
      FROM orders, m),
tt AS (SELECT o_orderkey, x, 1.0 / (1.0 + 0.3275911 * abs(x)) AS t FROM z),
e AS (SELECT o_orderkey, x, 1.0 - {_SQL_ERF_POLY} * exp(-x * x) AS mag
      FROM tt),
cp AS (SELECT o_orderkey,
              0.5 * (1.0 + CASE WHEN x < 0 THEN -mag ELSE mag END) AS c
       FROM e)
SELECT o_orderkey, {_sql_scaled('c', 6)} AS cum_prob_x1m,
       c <= 0.05 AS is_low, c >= 0.95 AS is_high
FROM cp WHERE c <= 0.05 OR c >= 0.95
ORDER BY o_orderkey
""",
)
def outliers_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`outliers(normalDistribution(col), col, 0.05, 0.95, tuples)`
    (io/eval/OutliersEvaluator.java): orders whose total sits in either
    5% tail of the fitted normal. One tiny (mu, sigma) aggregate broadcast
    back; the CDF test is whole-stage codegen at the scan (A&S erf
    polynomial, constants shared with the oracle)."""
    from solr_spark.functions.mathstream import outliers_normal

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    out = outliers_normal(o, "o_totalprice", low=0.05, high=0.95)
    return out.select(
        "o_orderkey",
        scaled("cum_prob", 6).alias("cum_prob_x1m"),
        "is_low", "is_high",
    ).orderBy("o_orderkey")


@register(
    "uniform_int_quantity",
    """
SELECT DISTINCT CAST(l_quantity AS BIGINT) AS k,
       CAST(floor(1.0 / 50.0 * 1000000 + 0.5) AS BIGINT) AS pmf_x1m,
       CAST(floor((l_quantity - 1 + 1) / 50.0 * 1000000 + 0.5) AS BIGINT)
         AS cdf_x1m
FROM lineitem WHERE l_quantity <= 10 ORDER BY k
""",
)
def uniform_int_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`uniformIntegerDistribution(1, 50)` pmf/CDF
    (io/eval/UniformIntegerDistributionEvaluator.java, commons-math
    inclusive bounds) probed at the observed low quantities — closed
    forms, so the oracle agrees exactly."""
    from solr_spark.functions.mathstream import (
        uniform_int_cdf_col,
        uniform_int_pmf_col,
    )

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") <= 10)
    k = F.col("l_quantity").cast("long")
    return (
        li.select(
            k.alias("k"),
            scaled(uniform_int_pmf_col(k, 1, 50), 6).alias("pmf_x1m"),
            scaled(uniform_int_cdf_col(k, 1, 50), 6).alias("cdf_x1m"),
        )
        .distinct()
        .orderBy("k")
    )


@register(
    "uniform_cdf_totalprice",
    f"""
WITH m AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi
           FROM orders),
p(probe) AS (VALUES (50000.0), (150000.0), (300000.0), (600000.0))
SELECT probe::DOUBLE AS probe,
       {_sql_scaled(
           'least(1.0, greatest(0.0, (probe - lo) / (hi - lo)))', 6
       )} AS cdf_x1m
FROM p, m ORDER BY probe
""",
)
def uniform_cdf_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`uniformDistribution(min, max)` + cumulativeProbability
    (io/eval/UniformDistributionEvaluator.java): range fit to the order
    totals, CDF at four probes — closed form, exact oracle agreement."""
    from solr_spark.functions.mathstream import uniform_cdf_col

    o = _t(spark, sf_dir, "orders")
    m = o.agg(F.min("o_totalprice").alias("lo"),
              F.max("o_totalprice").alias("hi"))
    probes = spark.createDataFrame(
        [(x,) for x in (50000.0, 150000.0, 300000.0, 600000.0)],
        "probe double")
    return (
        probes.crossJoin(F.broadcast(m))
        .select(
            "probe",
            scaled(
                uniform_cdf_col(F.col("probe"), F.col("lo"), F.col("hi")), 6
            ).alias("cdf_x1m"),
        )
        .orderBy("probe")
    )


@register(
    "spline_daily_events",
    """
WITH RECURSIVE daily AS (
  SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS DOUBLE) AS x,
         CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1),
pts AS (SELECT x, y, row_number() OVER (ORDER BY x) - 1 AS i,
               count(*) OVER () AS n FROM daily),
sys AS (
  SELECT p.i,
         CASE WHEN p.i = 0 OR p.i = p.n - 1 THEN 0.0
              ELSE (p.x - pm.x) END AS a,
         CASE WHEN p.i = 0 OR p.i = p.n - 1 THEN 1.0
              ELSE 2.0 * ((p.x - pm.x) + (pp.x - p.x)) END AS b,
         CASE WHEN p.i = 0 OR p.i = p.n - 1 THEN 0.0
              ELSE (pp.x - p.x) END AS c,
         CASE WHEN p.i = 0 OR p.i = p.n - 1 THEN 0.0
              ELSE 6.0 * ((pp.y - p.y) / (pp.x - p.x)
                          - (p.y - pm.y) / (p.x - pm.x)) END AS d
  FROM pts p
  LEFT JOIN pts pm ON pm.i = p.i - 1
  LEFT JOIN pts pp ON pp.i = p.i + 1),
f AS (
  SELECT i, b AS bp, d AS dp, c FROM sys WHERE i = 0
  UNION ALL
  SELECT s.i, s.b - (s.a / f.bp) * f.c, s.d - (s.a / f.bp) * f.dp, s.c
  FROM sys s JOIN f ON s.i = f.i + 1),
bk AS (
  SELECT i, dp / bp AS m FROM f WHERE i = (SELECT max(i) FROM f)
  UNION ALL
  SELECT f.i, (f.dp - f.c * bk.m) / f.bp FROM f JOIN bk ON f.i = bk.i - 1),
ev AS (
  SELECT p0.x, p0.y, p1.x AS x1, p1.y AS y1, (p1.x - p0.x) AS h,
         m0.m AS m0, m1.m AS m1
  FROM pts p0 JOIN pts p1 ON p1.i = p0.i + 1
  JOIN bk m0 ON m0.i = p0.i JOIN bk m1 ON m1.i = p0.i + 1)
SELECT CAST(x + x1 AS BIGINT) AS xm2,
       CAST(floor((y + (h/2.0) * ((y1 - y) / h - h * (2.0*m0 + m1) / 6.0)
             + (h/2.0)*(h/2.0) * m0 / 2.0
             + (h/2.0)*(h/2.0)*(h/2.0) * (m1 - m0) / (6.0 * h)) * 100 + 0.5)
            AS BIGINT) AS ym_x100
FROM ev ORDER BY xm2
""",
)
def spline_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`predict(spline(x, y), midpoints)` (io/eval/SplineEvaluator.java,
    commons-math SplineInterpolator NATURAL cubic): the daily event-count
    series interpolated at every inter-knot midpoint. Series math like
    loess/fft — bounded sorted collect + numpy Thomas solve. The DuckDB
    oracle runs the SAME Thomas algorithm as two recursive CTEs (forward
    sweep + back substitution), so this formerly rows-only entry is fully
    value-hashed; an independent full-matrix solve also parity-tests the
    engine in pytest."""
    from solr_spark.functions.mathstream import natural_cubic_midpoints

    out = natural_cubic_midpoints(_daily_events_series(spark, sf_dir),
                                  "x", "y")
    return out.select(
        (F.col("xm") * 2).cast("long").alias("xm2"),
        scaled("ym", 2).alias("ym_x100"),
    ).orderBy("xm2")


def _fuzzy_kmeans_sql(k=4, iters=5, dim=64):
    """Five fuzzy c-means iterations (fuzziness 2) unrolled: membership
    u_j = (1/max(d_j^2, 1e-30)) normalized per row, centroid update
    sum(u^2 x)/sum(u^2) per dim; hard assignment = first-max membership."""
    d2 = lambda prev: f"""list_inner_product(
      list_transform(range(1, {dim + 1}),
        i -> CAST(p.embedding[i] AS DOUBLE) - {prev}.cent[i]),
      list_transform(range(1, {dim + 1}),
        i -> CAST(p.embedding[i] AS DOUBLE) - {prev}.cent[i]))"""
    memb = lambda tag, prev: f"""{tag} AS (
  SELECT vec_id, embedding, cluster,
         r / sum(r) OVER (PARTITION BY vec_id) AS u
  FROM (
    SELECT p.vec_id, p.embedding, {prev}.cluster,
           1.0 / greatest({d2(prev)}, 1e-30) AS r
    FROM pts p CROSS JOIN {prev}))"""
    parts = [f"""pts AS (SELECT vec_id, embedding FROM embeddings),
dims AS (SELECT CAST(i AS INT) AS d FROM range(1, {dim + 1}) t(i)),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
         CAST(embedding AS DOUBLE[]) AS cent
  FROM pts ORDER BY vec_id LIMIT {k})"""]
    prev = "c0"
    for i in range(1, iters + 1):
        parts.append(memb(f"u{i}", prev))
        parts.append(f"""c{i} AS (
  SELECT cluster, list(m ORDER BY d) AS cent FROM (
    SELECT cluster, d,
           sum(u * u * CAST(embedding[d] AS DOUBLE)) / sum(u * u) AS m
    FROM u{i} CROSS JOIN dims GROUP BY cluster, d)
  GROUP BY cluster)""")
        prev = f"c{i}"
    parts.append(memb("uf", prev))
    parts.append("""hard AS (
  SELECT vec_id, cluster, u FROM (
    SELECT vec_id, cluster, u,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY u DESC, cluster ASC) AS rn
    FROM uf) WHERE rn = 1)""")
    body = ",\n".join(parts)
    return f"""WITH {body}
SELECT c.cluster,
       COALESCE(h.size, 0) AS size,
       CAST(floor(COALESCE(h.soft, 0.0) * 100 + 0.5) AS BIGINT) AS soft_size_x100,
       CAST(floor(c.cent[1] * 1000000 + 0.5) AS BIGINT) AS c0_x1m,
       CAST(floor(c.cent[2] * 1000000 + 0.5) AS BIGINT) AS c1_x1m
FROM {prev} c LEFT JOIN (
  SELECT cluster, count(*) AS size, sum(u) AS soft FROM hard GROUP BY cluster
) h ON h.cluster = c.cluster
ORDER BY c.cluster"""


@register("fuzzy_kmeans_embeddings", None)  # sql attached below
def fuzzy_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fuzzyKmeans(matrix, k)` (io/eval/FuzzyKmeansEvaluator.java,
    commons-math FuzzyKMeansClusterer, fuzziness 2.0) as distributed fuzzy
    c-means — every iteration one scan with broadcast-literal centroids,
    k x dim partial-aggregate update. Deterministic init (k lowest ids;
    the reference seeds memberships from an RNG — documented divergence,
    same as kmeans). numpy parity pytest-verified. The DuckDB oracle
    unrolls all five membership/update rounds as CTEs (same 1e-30 floor,
    same first-max hard assignment) — exact match, fully value-hashed."""
    from solr_spark.functions.ann import fuzzy_kmeans

    emb = _t(spark, sf_dir, "embeddings")
    out = fuzzy_kmeans(emb, k=4, fuzziness=2.0, iters=5)
    return out.select(
        "cluster", "size",
        scaled("soft_size", 2).alias("soft_size_x100"),
        scaled(F.col("centroid")[0], 6).alias("c0_x1m"),
        scaled(F.col("centroid")[1], 6).alias("c1_x1m"),
    ).orderBy("cluster")


CATALOG["fuzzy_kmeans_embeddings"].sql = _fuzzy_kmeans_sql()


def _multi_kmeans_sql(k=4, trials=3, iters=5, dim=64):
    """Three deterministic-restart Lloyd runs unrolled as CTE chains, the
    winner picked by strict-min WCSS (first trial wins exact ties, like
    the engine's ascending scan)."""
    parts = [f"""pts AS (SELECT vec_id, embedding FROM embeddings),
dims AS (SELECT CAST(i AS INT) AS d FROM range(1, {dim + 1}) t(i))"""]
    assign = lambda tag, prev: f"""{tag} AS (
  SELECT vec_id, embedding, cluster FROM (
    SELECT p.vec_id, p.embedding, {prev}.cluster,
           row_number() OVER (
             PARTITION BY p.vec_id
             ORDER BY 2.0 * list_inner_product(CAST(p.embedding AS DOUBLE[]),
                                               CAST({prev}.cent AS DOUBLE[]))
                      - list_inner_product(CAST({prev}.cent AS DOUBLE[]),
                                           CAST({prev}.cent AS DOUBLE[])) DESC,
                      {prev}.cluster ASC) AS rn
    FROM pts p CROSS JOIN {prev}) WHERE rn = 1)"""
    update = lambda tag, a, prev: f"""{tag} AS (
  SELECT pc.cluster, COALESCE(up.cent, pc.cent) AS cent
  FROM {prev} pc LEFT JOIN (
    SELECT cluster, list(m ORDER BY d) AS cent FROM (
      SELECT cluster, d, avg(CAST(embedding[d] AS DOUBLE)) AS m
      FROM {a} CROSS JOIN dims GROUP BY cluster, d)
    GROUP BY cluster) up ON up.cluster = pc.cluster)"""
    for t in range(trials):
        parts.append(f"""t{t}_c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id DESC) - 1 AS INT) AS cluster,
         embedding AS cent
  FROM (SELECT vec_id, embedding FROM pts ORDER BY vec_id LIMIT {k * (t + 1)})
  ORDER BY vec_id DESC LIMIT {k})""")
        prev = f"t{t}_c0"
        for i in range(1, iters + 1):
            parts.append(assign(f"t{t}_a{i}", prev))
            parts.append(update(f"t{t}_c{i}", f"t{t}_a{i}", prev))
            prev = f"t{t}_c{i}"
        parts.append(assign(f"t{t}_af", prev))
        # returned centroids = per-dim avg of the FINAL assignment
        parts.append(f"""t{t}_cf AS (
  SELECT cluster, list(m ORDER BY d) AS cent FROM (
    SELECT cluster, d, avg(CAST(embedding[d] AS DOUBLE)) AS m
    FROM t{t}_af CROSS JOIN dims GROUP BY cluster, d)
  GROUP BY cluster)""")
        parts.append(f"""t{t}_w AS (
  SELECT {t} AS trial, sum(dmin) AS wcss FROM (
    SELECT p.vec_id, min(
      list_inner_product(
        list_transform(range(1, {dim + 1}),
          i -> CAST(p.embedding[i] AS DOUBLE) - c.cent[i]),
        list_transform(range(1, {dim + 1}),
          i -> CAST(p.embedding[i] AS DOUBLE) - c.cent[i]))) AS dmin
    FROM pts p CROSS JOIN t{t}_cf c GROUP BY p.vec_id))""")
    parts.append(
        "winner AS (SELECT trial FROM ("
        + " UNION ALL ".join(f"SELECT * FROM t{t}_w" for t in range(trials))
        + ") ORDER BY wcss ASC, trial ASC LIMIT 1)")
    outs = []
    for t in range(trials):
        outs.append(f"""SELECT a.cluster, count(*) AS size,
       CAST(floor(avg(CAST(a.embedding[1] AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS c0_x1m,
       CAST(floor(avg(CAST(a.embedding[2] AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS c1_x1m
FROM t{t}_af a WHERE {t} = (SELECT trial FROM winner)
GROUP BY a.cluster""")
    return ("WITH " + ",\n".join(parts) + "\n"
            + "\nUNION ALL\n".join(outs) + "\nORDER BY cluster")


@register("multi_kmeans_embeddings", None)  # sql attached below
def multi_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`multiKmeans(matrix, k, trials)` (io/eval/MultiKmeansEvaluator
    .java): kmeans restarted from 3 deterministic seeds (the reference
    restarts from RNG — documented divergence), keeping the lowest-WCSS
    clustering; each trial's WCSS is one broadcast-centroid scan. The
    DuckDB oracle unrolls ALL THREE trials' Lloyd chains and picks the
    strict-min-WCSS winner the same way (trial separation ~0.35 WCSS,
    far above float noise) — exact match, fully value-hashed."""
    from solr_spark.functions.ann import multi_kmeans

    emb = _t(spark, sf_dir, "embeddings")
    out = multi_kmeans(emb, k=4, trials=3, iters=5)
    return out.select(
        "cluster", "size",
        scaled(F.col("centroid")[0], 6).alias("c0_x1m"),
        scaled(F.col("centroid")[1], 6).alias("c1_x1m"),
    ).orderBy("cluster")


CATALOG["multi_kmeans_embeddings"].sql = _multi_kmeans_sql()


@register(
    "gamma_cdf_totalprice",
    """
WITH RECURSIVE m AS (
  SELECT avg(o_totalprice) AS mu, var_samp(o_totalprice) AS v FROM orders),
par AS (SELECT mu*mu/v AS s, v/mu AS th FROM m),
p(probe) AS (VALUES (100000.0), (200000.0), (300000.0), (450000.0)),
z AS (SELECT CAST(probe AS DOUBLE) AS probe,
             CAST(probe / th AS DOUBLE) AS x, s FROM p, par),
terms AS (
  SELECT probe, x, s, 0 AS k, CAST(1.0 AS DOUBLE) AS t FROM z
  UNION ALL
  SELECT probe, x, s, k + 1, t * x / (s + 1 + k) FROM terms WHERE k < 300),
acc AS (SELECT probe, max(x) AS x, max(s) AS s, sum(t) AS ssum
        FROM terms GROUP BY probe)
SELECT probe,
       CAST(floor(exp(-x + s * ln(x) - lgamma(s + 1)) * ssum * 1000000 + 0.5)
            AS BIGINT) AS cdf_x1m
FROM acc ORDER BY probe
""",
)
def gamma_cdf_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`gammaDistribution(shape, scale)` + `cumulativeProbability`
    (io/eval/GammaDistributionEvaluator.java): moment-fit to order totals
    (k = mu²/var, θ = var/mu), CDF at four probes. The DuckDB oracle sums
    the lower-incomplete-gamma SERIES via a recursive CTE (term recurrence
    t·x/(s+1+k)) — a different algorithm than the engine's series/Lentz
    regime split, agreeing to <1e-12; also golden-tested against Simpson
    integration of the pdf in pytest."""
    from solr_spark.functions.mathstream import gamma_cdf_probes

    o = _t(spark, sf_dir, "orders")
    out = gamma_cdf_probes(
        o, "o_totalprice", (100000.0, 200000.0, 300000.0, 450000.0)
    )
    return out.select(
        "probe", scaled("cdf", 6).alias("cdf_x1m")
    ).orderBy("probe")


@register(
    "beta_cdf_price_norm",
    """
WITH RECURSIVE mm0 AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi
                       FROM orders),
np AS (SELECT (o_totalprice - lo) / (hi - lo) AS p FROM orders, mm0),
mm AS (SELECT avg(p) AS m, var_samp(p) AS v FROM np),
par AS (SELECT m*(m*(1-m)/v - 1) AS a, (1-m)*(m*(1-m)/v - 1) AS b FROM mm),
pr(probe) AS (VALUES (0.2), (0.4), (0.6), (0.8)),
z AS (SELECT CAST(probe AS DOUBLE) AS probe, a, b FROM pr, par),
terms AS (
  SELECT probe, a, b, 0 AS k, CAST(1.0 AS DOUBLE) AS t FROM z
  UNION ALL
  SELECT probe, a, b, k + 1, t * (a + b + k) / (a + 1 + k) * probe
  FROM terms WHERE k < 900),
acc AS (SELECT probe, max(a) AS a, max(b) AS b, sum(t) AS ssum
        FROM terms GROUP BY probe)
SELECT probe,
       CAST(floor(exp(a * ln(probe) + b * ln(1 - probe) - ln(a)
                      - (lgamma(a) + lgamma(b) - lgamma(a + b)))
                  * ssum * 1000000 + 0.5) AS BIGINT) AS cdf_x1m
FROM acc ORDER BY probe
""",
)
def beta_cdf_price_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`betaDistribution(alpha, beta)` + `cumulativeProbability`
    (io/eval/BetaDistributionEvaluator.java): order totals min-max
    normalized to [0,1], (α, β) moment-fit, CDF at four probes. The
    DuckDB oracle sums the Gauss-hypergeometric series
    I_x(a,b) = x^a(1-x)^b/(a·B(a,b))·₂F₁(1, a+b; a+1; x) via a recursive
    CTE — a different algorithm than the engine's Lentz continued
    fraction, agreeing to <1e-10; Simpson-integration golden test too."""
    from solr_spark.functions.mathstream import beta_cdf_probes

    o = _t(spark, sf_dir, "orders")
    m = o.agg(F.min("o_totalprice").alias("lo"),
              F.max("o_totalprice").alias("hi"))
    norm = o.crossJoin(F.broadcast(m)).select(
        ((F.col("o_totalprice") - F.col("lo"))
         / (F.col("hi") - F.col("lo"))).alias("p")
    )
    out = beta_cdf_probes(norm, "p", (0.2, 0.4, 0.6, 0.8))
    return out.select(
        "probe", scaled("cdf", 6).alias("cdf_x1m")
    ).orderBy("probe")


@register(
    "perplexity_docs",
    f"""
WITH {TOKS},
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
model AS (SELECT term, sum(tf) AS ctf FROM tf GROUP BY term),
tot AS (SELECT sum(ctf) AS t FROM model),
sc AS (
  SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
         -sum(tf.tf * (log2(model.ctf) - log2(tot.t))) / sum(tf.tf) AS nll
  FROM tf JOIN model USING (term), tot GROUP BY tf.doc_id)
SELECT doc_id AS id, n_tokens, {_sql_scaled('pow(2.0, nll)', 2)} AS ppl_x100
FROM sc WHERE doc_id < 100 ORDER BY id
""",
)
def perplexity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing signal (Wenzek et al. 2020):
    per-document perplexity under a corpus-fit unigram LM — the
    distributed analogue of CCNet's KenLM quality filter. Two term-keyed
    aggregations + one vocabulary-sized scoring join; nothing funnels at
    100 TB (the model table broadcasts)."""
    from solr_spark.functions.curation import unigram_perplexity

    d = _t(spark, sf_dir, "documents")
    out = unigram_perplexity(d, "text", "doc_id")
    return (
        out.where(F.col("id") < 100)
        .select("id", "n_tokens", scaled("perplexity", 2).alias("ppl_x100"))
        .orderBy("id")
    )


@register(
    "dedup_keep_best",
    f"""
WITH RECURSIVE {_SH},
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sz sa ON sa.doc_id = id_a
  JOIN sz sb ON sb.doc_id = id_b
  WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.5),
e AS (SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs),
n AS (SELECT DISTINCT src AS node FROM e),
reach AS (
  SELECT node, node AS r FROM n
  UNION
  SELECT e.src AS node, reach.r FROM e JOIN reach ON e.dst = reach.node),
clusters AS (SELECT node, min(r) AS cluster FROM reach GROUP BY node),
ranked AS (
  SELECT c.node, c.cluster, d.n_chars,
         row_number() OVER (PARTITION BY c.cluster
                            ORDER BY d.n_chars DESC, c.node ASC) AS rn
  FROM clusters c JOIN documents d ON d.doc_id = c.node)
SELECT node, cluster, CAST(n_chars AS DOUBLE) AS score, rn = 1 AS keep
FROM ranked ORDER BY cluster, node
""",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup canonical election (the RefinedWeb/FineWeb
    policy: keep the LONGEST/highest-quality member of each near-dup
    component, not the lowest id): 3-gram-Jaccard pairs -> connected
    components -> per-cluster winner by max(n_chars) with min-id
    tiebreak — one join + one groupBy, no window, deterministic at any
    parallelism."""
    from solr_spark.functions.dedup import (
        dup_clusters,
        keep_best_canonical,
        ngram_jaccard_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, "text", "doc_id", threshold=0.5)
    clusters = dup_clusters(pairs).select("node", "cluster")
    scores = d.select(F.col("doc_id").alias("node"),
                      F.col("n_chars").alias("score"))
    out = keep_best_canonical(clusters, scores, "node", "score")
    return out.orderBy("cluster", "node")


def _bpe_sql(n_merges=12):
    """BPE training unrolled as CTE rounds. Vocab entries are encoded as
    brace-delimited symbol strings '{a}{b}{c}': a pair pattern '{a}{b}'
    cannot match across a symbol boundary (the braces are sentinels; '{'
    '}' never occur inside symbols) and adjacent matches share no
    characters, so one replace() IS the greedy left-to-right
    non-overlapping merge (Sennrich's re.sub semantics). Tie-break:
    (count desc, left asc, right asc) on the DECODED symbols."""
    parts = ["""toks AS (SELECT unnest(list_filter(
    regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS w
  FROM documents),
wf AS (SELECT w, count(*) AS freq FROM toks GROUP BY w),
v0 AS MATERIALIZED (
  SELECT CASE WHEN len(w) > 1
              THEN array_to_string(list_transform(range(1, len(w)),
                     i -> '{' || w[i:i] || '}'), '')
                   || '{' || w[len(w):len(w)] || '</w>}'
              ELSE '{' || w || '</w>}' END AS s,
         freq
  FROM wf)"""]
    prev = "v0"
    for r in range(n_merges):
        parts.append(f"""l{r} AS MATERIALIZED (
  SELECT string_split(s[2:len(s) - 1], '}}{{') AS l, freq FROM {prev}),
p{r} AS MATERIALIZED (
  SELECT a, b, sum(freq) AS c FROM (
    SELECT unnest(list_transform(range(1, len(l)),
             i -> struct_pack(a := l[i], b := l[i + 1]))) AS p, freq
    FROM l{r} WHERE len(l) >= 2)
    , LATERAL (SELECT p.a AS a, p.b AS b)
  GROUP BY a, b),
b{r} AS MATERIALIZED (
  SELECT {r} AS rank, a AS left_sym, b AS right_sym,
         CAST(c AS BIGINT) AS freq,
         '{{' || a || '}}{{' || b || '}}' AS pat,
         '{{' || a || b || '}}' AS merged
  FROM p{r} WHERE c >= 2 ORDER BY c DESC, a ASC, b ASC LIMIT 1),
v{r + 1} AS MATERIALIZED (
  SELECT CASE WHEN b{r}.pat IS NOT NULL
              THEN replace(v.s, b{r}.pat, b{r}.merged) ELSE v.s END AS s,
         v.freq
  FROM {prev} v LEFT JOIN b{r} ON true)""")
        prev = f"v{r + 1}"
    union = "\nUNION ALL\n".join(
        f'SELECT rank, left_sym AS "left", right_sym AS "right", freq FROM b{r}'
        for r in range(n_merges))
    body = ",\n".join(parts)
    return f"WITH {body}\n{union}\nORDER BY rank"


@register("bpe_merges_docs", None)  # sql attached below
def bpe_merges_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary training (Sennrich et al. 2016
    learn_bpe) over the documents corpus: 12 merge rounds on the
    word-frequency dictionary (the only corpus-wide pass is the word
    count), deterministic tie-break (count desc, pair asc). The DuckDB
    oracle unrolls all twelve rounds as materialized CTEs over
    brace-delimited symbol strings (replace() on sentinel-wrapped pairs
    IS the greedy left-to-right merge — sentinels prevent the
    cross-symbol-boundary match a naive space-join would allow); exact
    merge-table match, plus the in-memory-transcription parity pytest."""
    from solr_spark.functions.textstats import bpe_train

    d = _t(spark, sf_dir, "documents")
    return bpe_train(d, "text", n_merges=12)


CATALOG["bpe_merges_docs"].sql = _bpe_sql()


def _customer_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic synthetic lat/lon used by every spatial entry."""
    return _t(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 9973 % 18000) / 100.0 - 90.0).alias("lat"),
        ((F.col("c_custkey") * 7919 % 36000) / 100.0 - 180.0).alias("lon"),
    )


# Gift-wrapping hull walk + minimal-disk candidates as SQL (oracles for
# the geometry entries; the recursive walk reproduces the engine's CCW
# vertex order exactly because both sides compute the identical doubles).
# The walk is O(h*n^2), so ``pts`` first drops every point strictly inside
# the quadrilateral of the four diagonal extremes (min/max of x+y and x-y,
# in CCW order): such a point is strictly inside the hull, so it is no hull
# vertex and lies on no hull edge. ``hull`` is materialized because the
# disk query reads it ~10 times and DuckDB would re-run the walk for each.
_HULL_WALK = """
raw AS (
  SELECT DISTINCT
         ((c_custkey * 7919 % 36000) / 100.0 - 180.0) AS x,
         ((c_custkey * 9973 % 18000) / 100.0 - 90.0) AS y
  FROM customer),
e0 AS (SELECT x, y FROM raw ORDER BY x + y, x, y LIMIT 1),
e1 AS (SELECT x, y FROM raw ORDER BY x - y DESC, x, y LIMIT 1),
e2 AS (SELECT x, y FROM raw ORDER BY x + y DESC, x, y LIMIT 1),
e3 AS (SELECT x, y FROM raw ORDER BY x - y, x, y LIMIT 1),
pts AS (
  SELECT r.x, r.y
  FROM raw r, e0, e1, e2, e3
  WHERE NOT ((e1.x - e0.x) * (r.y - e0.y) - (e1.y - e0.y) * (r.x - e0.x) > 0
         AND (e2.x - e1.x) * (r.y - e1.y) - (e2.y - e1.y) * (r.x - e1.x) > 0
         AND (e3.x - e2.x) * (r.y - e2.y) - (e3.y - e2.y) * (r.x - e2.x) > 0
         AND (e0.x - e3.x) * (r.y - e3.y) - (e0.y - e3.y) * (r.x - e3.x) > 0)),
start AS (SELECT x, y FROM pts ORDER BY x, y LIMIT 1),
walk AS (
  SELECT 0 AS step, s.x, s.y, s.x AS sx, s.y AS sy FROM start s
  UNION ALL
  SELECT w.step + 1, nxt.x, nxt.y, w.sx, w.sy
  FROM walk w, LATERAL (
    SELECT q.x, q.y FROM pts q
    WHERE (q.x <> w.x OR q.y <> w.y)
      AND NOT EXISTS (
        SELECT 1 FROM pts r
        WHERE (r.x <> w.x OR r.y <> w.y) AND (r.x <> q.x OR r.y <> q.y)
          AND ((q.x - w.x) * (r.y - w.y) - (q.y - w.y) * (r.x - w.x) < 0
               OR ((q.x - w.x) * (r.y - w.y) - (q.y - w.y) * (r.x - w.x) = 0
                   AND (r.x - w.x) * (r.x - w.x) + (r.y - w.y) * (r.y - w.y)
                       > (q.x - w.x) * (q.x - w.x)
                         + (q.y - w.y) * (q.y - w.y))))
    ORDER BY q.x, q.y LIMIT 1) nxt
  WHERE w.step < 200 AND NOT (w.step > 0 AND w.x = w.sx AND w.y = w.sy)
),
hull AS MATERIALIZED (SELECT step AS i, x, y FROM walk
         WHERE NOT (step > 0 AND x = sx AND y = sy))"""

HULL_SQL = f"""
WITH RECURSIVE {_HULL_WALK}
SELECT CAST(i AS INT) AS vertex,
       CAST(floor(x * 10000 + 0.5) AS BIGINT) AS x_x10k,
       CAST(floor(y * 10000 + 0.5) AS BIGINT) AS y_x10k
FROM hull ORDER BY vertex
"""

DISK_SQL = f"""
WITH RECURSIVE {_HULL_WALK},
hn AS (SELECT count(*) AS n FROM hull),
edges AS (
  SELECT h.i, h.x, h.y, h2.x AS xn, h2.y AS yn
  FROM hull h JOIN hn ON true
  JOIN hull h2 ON h2.i = (h.i + 1) % hn.n),
attrs AS (
  SELECT sum(x * yn - xn * y) / 2.0 AS sa,
         sum((x + xn) * (x * yn - xn * y)) AS sx6,
         sum((y + yn) * (x * yn - xn * y)) AS sy6,
         sum(sqrt((xn - x) * (xn - x) + (yn - y) * (yn - y))) AS per
  FROM edges),
pairs AS (
  SELECT 0 AS phase, a.i AS i1, b.i AS i2, -1 AS i3,
         (a.x + b.x) / 2.0 AS cx, (a.y + b.y) / 2.0 AS cy,
         sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) / 2.0 AS r
  FROM hull a JOIN hull b ON a.i < b.i),
triples AS (
  SELECT 1 AS phase, a.i AS i1, b.i AS i2, c.i AS i3,
         ((a.x * a.x + a.y * a.y) * (b.y - c.y)
          + (b.x * b.x + b.y * b.y) * (c.y - a.y)
          + (c.x * c.x + c.y * c.y) * (a.y - b.y)) / d AS cx,
         ((a.x * a.x + a.y * a.y) * (c.x - b.x)
          + (b.x * b.x + b.y * b.y) * (a.x - c.x)
          + (c.x * c.x + c.y * c.y) * (b.x - a.x)) / d AS cy,
         NULL AS r
  FROM hull a JOIN hull b ON a.i < b.i JOIN hull c ON b.i < c.i,
       LATERAL (SELECT 2.0 * (a.x * (b.y - c.y) + b.x * (c.y - a.y)
                              + c.x * (a.y - b.y)) AS d)
  WHERE abs(d) >= 1e-18),
tr AS (
  SELECT phase, i1, i2, i3, cx, cy,
         sqrt((h.x - cx) * (h.x - cx) + (h.y - cy) * (h.y - cy)) AS r
  FROM triples JOIN hull h ON h.i = triples.i1),
cands AS (
  SELECT phase, i1, i2, i3, cx, cy, r FROM pairs
  UNION ALL SELECT phase, i1, i2, i3, cx, cy, r FROM tr),
covering AS (
  SELECT * FROM cands c
  WHERE NOT EXISTS (
    SELECT 1 FROM hull h
    WHERE sqrt((h.x - c.cx) * (h.x - c.cx) + (h.y - c.cy) * (h.y - c.cy))
          > c.r + 1e-9)),
best AS (
  SELECT * FROM covering ORDER BY r ASC, phase ASC, i1 ASC, i2 ASC, i3 ASC
  LIMIT 1)
SELECT CAST(hn.n AS INT) AS n_vertices,
       CAST(floor(abs(attrs.sa) * 100 + 0.5) AS BIGINT) AS area_x100,
       CAST(floor(attrs.per * 100 + 0.5) AS BIGINT) AS perimeter_x100,
       CAST(floor(attrs.sx6 / (6.0 * attrs.sa) * 10000 + 0.5) AS BIGINT)
         AS bary_x_x10k,
       CAST(floor(attrs.sy6 / (6.0 * attrs.sa) * 10000 + 0.5) AS BIGINT)
         AS bary_y_x10k,
       CAST(floor(best.cx * 10000 + 0.5) AS BIGINT) AS cx_x10k,
       CAST(floor(best.cy * 10000 + 0.5) AS BIGINT) AS cy_x10k,
       CAST(floor(best.r * 100 + 0.5) AS BIGINT) AS radius_x100,
       CAST(best.phase + 2 AS INT) AS support
FROM hn, attrs, best
"""


@register("convex_hull_customers", HULL_SQL)
def convex_hull_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`convexHull(matrix)` + `getVertices` (io/eval/ConvexHullEvaluator
    .java, commons-math MonotoneChain) made distributed: per-partition
    hulls reduce the driver collect to O(hull) candidate points (hull of a
    union = hull of the union of partition hulls), one final chain on
    those. The DuckDB oracle walks the hull by GIFT WRAPPING as a
    recursive CTE (next vertex = the point no other lies right of) — a
    different algorithm than the engine's monotone chain, same CCW vertex
    cycle; also parity-tested against a third implementation in pytest."""
    from solr_spark.functions.spatial import convex_hull

    pts = _customer_points(spark, sf_dir)
    hull = convex_hull(pts, "lon", "lat")
    return spark.createDataFrame(
        [(i, int(round(x * 10000)), int(round(y * 10000)))
         for i, (x, y) in enumerate(hull)],
        "vertex int, x_x10k long, y_x10k long",
    )


@register("enclosing_disk_customers", DISK_SQL)
def enclosing_disk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`enclosingDisk` + getCenter/getRadius/getSupportPoints and the hull
    attribute family getArea/getBoundarySize/getBaryCenter
    (io/eval/EnclosingDiskEvaluator.java, commons-math WelzlEncloser /
    Region): minimal enclosing circle computed EXACTLY from the hull
    vertices (deterministic O(h⁴) in hull size — the disk is determined
    by ≤3 hull points), polygon area/perimeter/area-centroid by shoelace.
    Brute-force-minimality pytest. The DuckDB oracle builds the same
    pair/triple candidate set over the gift-wrapped hull and picks the
    min-radius covering circle — exact match on every attribute."""
    from solr_spark.functions.spatial import (
        convex_hull,
        enclosing_disk,
        hull_attributes,
    )

    pts = _customer_points(spark, sf_dir)
    hull = convex_hull(pts, "lon", "lat")
    att = hull_attributes(hull)
    disk = enclosing_disk(hull)
    row = (
        att["n_vertices"],
        int(round(att["area"] * 100)),
        int(round(att["perimeter"] * 100)),
        int(round(att["bary_x"] * 10000)),
        int(round(att["bary_y"] * 10000)),
        int(round(disk["cx"] * 10000)),
        int(round(disk["cy"] * 10000)),
        int(round(disk["radius"] * 100)),
        disk["support"],
    )
    return spark.createDataFrame(
        [row],
        "n_vertices int, area_x100 long, perimeter_x100 long, "
        "bary_x_x10k long, bary_y_x10k long, cx_x10k long, cy_x10k long, "
        "radius_x100 long, support int",
    )


@register(
    "oscillate_series_128",
    f"""
SELECT CAST(x AS DOUBLE) AS x,
       {_sql_scaled('2.5 * cos(0.35 * x + 1.2)', 6)} AS y_x1m
FROM range(0, 128) t(x) ORDER BY x
""",
)
def oscillate_series_128(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`oscillate(amp, omega, phase)` (io/eval/OscillateEvaluator.java,
    commons-math HarmonicOscillator): A·cos(ωx + φ) sampled at x = 0…127
    (the reference's fixed n) — whole-stage codegen over a range, exact
    closed-form oracle."""
    from solr_spark.functions.mathstream import oscillate_series

    out = oscillate_series(spark, 2.5, 0.35, 1.2, n=128)
    return out.select("x", scaled("y", 6).alias("y_x1m")).orderBy("x")


def _harmfit_sql(grid_n=2048, gs_iters=80):
    """The deterministic harmonic-fit search unrolled: 2048-candidate
    frequency grid (closed-form 2-param LS per candidate; the SSE at the
    LS optimum is second-order insensitive to coefficient rounding, so
    Cramer vs the engine's lstsq agree far below comparison level), then
    the golden-section bracket refinement as carried (a, b) state rows."""
    gr = "0.6180339887498949"  # (sqrt(5)-1)/2, the engine's literal value
    sse = lambda w: f"""(
  SELECT sum((y - (c) * cos(({w}) * x) - (s) * sin(({w}) * x))
             * (y - (c) * cos(({w}) * x) - (s) * sin(({w}) * x)))
  FROM daily, LATERAL (
    SELECT sum(cos(({w}) * x) * cos(({w}) * x)) AS a11,
           sum(cos(({w}) * x) * sin(({w}) * x)) AS a12,
           sum(sin(({w}) * x) * sin(({w}) * x)) AS a22,
           sum(cos(({w}) * x) * y) AS b1, sum(sin(({w}) * x) * y) AS b2
    FROM daily) mm,
  LATERAL (SELECT (mm.b1 * mm.a22 - mm.b2 * mm.a12)
                  / (mm.a11 * mm.a22 - mm.a12 * mm.a12) AS c,
                  (mm.a11 * mm.b2 - mm.a12 * mm.b1)
                  / (mm.a11 * mm.a22 - mm.a12 * mm.a12) AS s))"""
    parts = [f"""daily AS (
  SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS DOUBLE) AS x,
         CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1),
bounds AS MATERIALIZED (
  SELECT 2.0 * pi() / (4.0 * (max(x) - min(x))) AS lo,
         pi() / (SELECT min(x1 - x) FROM (
           SELECT x, lead(x) OVER (ORDER BY x) AS x1 FROM daily)
           WHERE x1 IS NOT NULL) AS hi
  FROM daily),
grid AS MATERIALIZED (
  SELECT j, CASE WHEN j = {grid_n - 1} THEN hi
                 ELSE lo + (hi - lo) / {grid_n - 1}.0 * j END AS w
  FROM bounds, range(0, {grid_n}) t(j)),
gsse AS MATERIALIZED (
  SELECT g.j, g.w,
         gm.syy - (gm.b1 * gm.a22 - gm.b2 * gm.a12)
                  / (gm.a11 * gm.a22 - gm.a12 * gm.a12) * gm.b1
                - (gm.a11 * gm.b2 - gm.a12 * gm.b1)
                  / (gm.a11 * gm.a22 - gm.a12 * gm.a12) * gm.b2 AS sse
  FROM grid g, LATERAL (
    SELECT sum(cos(g.w * x) * cos(g.w * x)) AS a11,
           sum(cos(g.w * x) * sin(g.w * x)) AS a12,
           sum(sin(g.w * x) * sin(g.w * x)) AS a22,
           sum(cos(g.w * x) * y) AS b1, sum(sin(g.w * x) * y) AS b2,
           sum(y * y) AS syy
    FROM daily) gm),
gbest AS MATERIALIZED (
  SELECT j FROM gsse ORDER BY sse ASC, j ASC LIMIT 1),
st0 AS MATERIALIZED (
  SELECT (SELECT w FROM grid WHERE j = greatest(0, (SELECT j FROM gbest) - 1)) AS a,
         (SELECT w FROM grid WHERE j = least({grid_n - 1}, (SELECT j FROM gbest) + 1)) AS b)"""]
    prev = "st0"
    for i in range(1, gs_iters + 1):
        parts.append(f"""st{i} AS MATERIALIZED (
  SELECT CASE WHEN s1 <= s2 THEN p.a ELSE p.b - {gr} * (p.b - p.a) END AS a,
         CASE WHEN s1 <= s2 THEN p.a + {gr} * (p.b - p.a) ELSE p.b END AS b
  FROM {prev} p,
  LATERAL (SELECT {sse('p.b - ' + gr + ' * (p.b - p.a)')} AS s1),
  LATERAL (SELECT {sse('p.a + ' + gr + ' * (p.b - p.a)')} AS s2))""")
        prev = f"st{i}"
    parts.append(f"""wfin AS MATERIALIZED (SELECT (a + b) / 2.0 AS w FROM {prev}),
fin AS (
  SELECT w, (mm.b1 * mm.a22 - mm.b2 * mm.a12)
            / (mm.a11 * mm.a22 - mm.a12 * mm.a12) AS c,
         (mm.a11 * mm.b2 - mm.a12 * mm.b1)
            / (mm.a11 * mm.a22 - mm.a12 * mm.a12) AS s
  FROM wfin, LATERAL (
    SELECT sum(cos(w * x) * cos(w * x)) AS a11,
           sum(cos(w * x) * sin(w * x)) AS a12,
           sum(sin(w * x) * sin(w * x)) AS a22,
           sum(cos(w * x) * y) AS b1, sum(sin(w * x) * y) AS b2
    FROM daily) mm)""")
    body = ",\n".join(parts)
    return f"""WITH {body}
SELECT CAST(floor(sqrt(c * c + s * s) * 10000 + 0.5) AS BIGINT) AS amp_x10k,
       CAST(floor(w * 1000000 + 0.5) AS BIGINT) AS omega_x1m,
       CAST(floor(atan2(-s, c) * 10000 + 0.5) AS BIGINT) AS phase_x10k
FROM fin"""


@register("harmfit_daily_events", None)  # sql attached below
def harmfit_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`harmfit(x, y)` + getAmplitude/getAngularFrequency/getPhase
    (io/eval/HarmonicFitEvaluator.java): A·cos(ωx+φ) least-squares fit of
    the daily event-count series — deterministic ω grid + golden-section
    with exact linear LS per candidate (the reference's LM converges to
    the same optimum; exact-recovery pytest on a clean sinusoid). The
    DuckDB oracle unrolls the ENTIRE search — the 2048-candidate grid and
    all 80 golden-section steps as carried (a, b) state rows; the SSE at
    each LS optimum is second-order insensitive to coefficient rounding,
    so Cramer vs the engine's lstsq never flips a comparison — exact
    match on all three scaled parameters."""
    from solr_spark.functions.mathstream import harmonic_fit

    (amp, omega, phase), _ = harmonic_fit(
        _daily_events_series(spark, sf_dir), "x", "y"
    )
    return spark.createDataFrame(
        [(int(round(amp * 10000)), int(round(omega * 1000000)),
          int(round(phase * 10000)))],
        "amp_x10k long, omega_x1m long, phase_x10k long",
    )


CATALOG["harmfit_daily_events"].sql = _harmfit_sql()


def _gaussfit_sql(steps=50):
    """Caruana log-quadratic init (Cramer 3x3 over ln-y moments) + the
    DAMPED Gauss-Newton refinement unrolled; each step = nine J^T J /
    J^T r moments over the histogram + a Cramer 3x3 solve carried as
    one row, with the candidate accepted only when its SSE does not
    increase — the same accept/reject rule the engine runs, so both
    sides walk one trajectory even on series where undamped GN
    diverges (flat histograms: the round-5 sf0.001 sweep find). A
    rejected step retries from the same point, so trailing steps are
    no-ops once the fixed point is reached (~5 steps on this data)."""
    parts = ["""hist AS (
  SELECT floor(o_totalprice / 25000.0) * 25000.0 + 12500.0 AS x,
         CAST(count(*) AS DOUBLE) AS y
  FROM orders GROUP BY 1),
mom AS (
  SELECT count(*)::DOUBLE AS s0, sum(x) AS s1, sum(x*x) AS s2,
         sum(x*x*x) AS s3, sum(x*x*x*x) AS s4,
         sum(ln(y)) AS t0, sum(x*ln(y)) AS t1, sum(x*x*ln(y)) AS t2
  FROM hist WHERE y > 0),
cara AS (
  SELECT (t0*(s2*s4 - s3*s3) - s1*(t1*s4 - s3*t2) + s2*(t1*s3 - s2*t2))
           / det AS c0,
         (s0*(t1*s4 - s3*t2) - t0*(s1*s4 - s3*s2) + s2*(s1*t2 - t1*s2))
           / det AS c1,
         CASE WHEN (s0*(s2*t2 - t1*s3) - s1*(s1*t2 - t1*s2)
                    + t0*(s1*s3 - s2*s2)) / det >= 0 THEN -1e-12
              ELSE (s0*(s2*t2 - t1*s3) - s1*(s1*t2 - t1*s2)
                    + t0*(s1*s3 - s2*s2)) / det END AS c2
  FROM mom, LATERAL (SELECT s0*(s2*s4 - s3*s3) - s1*(s1*s4 - s3*s2)
                            + s2*(s1*s3 - s2*s2) AS det)),
p0 AS MATERIALIZED (
  SELECT exp(c0 + (c1*sg*sg)*(c1*sg*sg)/(2.0*sg*sg)) AS nr,
         c1*sg*sg AS m, sg AS s
  FROM cara, LATERAL (SELECT sqrt(-1.0/(2.0*c2)) AS sg))"""]
    prev = "p0"
    for i in range(1, steps + 1):
        parts.append(f"""g{i} AS MATERIALIZED (
  SELECT max(p.nr) AS nr, max(p.m) AS m, max(p.s) AS s,
         sum((y-f)*(y-f)) AS sse0,
         sum(e*e) AS a11, sum(e*f*(x-p.m)/(p.s*p.s)) AS a12,
         sum(e*f*(x-p.m)*(x-p.m)/(p.s*p.s*p.s)) AS a13,
         sum(f*f*(x-p.m)*(x-p.m)/pow(p.s,4)) AS a22,
         sum(f*f*pow(x-p.m,3)/pow(p.s,5)) AS a23,
         sum(f*f*pow(x-p.m,4)/pow(p.s,6)) AS a33,
         sum(e*(y-f)) AS b1,
         sum(f*(x-p.m)/(p.s*p.s)*(y-f)) AS b2,
         sum(f*(x-p.m)*(x-p.m)/(p.s*p.s*p.s)*(y-f)) AS b3
  FROM hist CROSS JOIN {prev} p,
       LATERAL (SELECT exp(-(x-p.m)*(x-p.m)/(2.0*p.s*p.s)) AS e),
       LATERAL (SELECT p.nr * e AS f)),
c{i} AS MATERIALIZED (
  SELECT nr, m, s, sse0,
         nr + (b1*(a22*a33 - a23*a23) - a12*(b2*a33 - a23*b3)
               + a13*(b2*a23 - a22*b3)) / det AS nr2,
         m + (a11*(b2*a33 - a23*b3) - b1*(a12*a33 - a13*a23)
              + a13*(a12*b3 - b2*a13)) / det AS m2,
         s + (a11*(a22*b3 - b2*a23) - a12*(a12*b3 - b2*a13)
              + b1*(a12*a23 - a22*a13)) / det AS s2
  FROM g{i}, LATERAL (
    SELECT a11*(a22*a33 - a23*a23) - a12*(a12*a33 - a13*a23)
           + a13*(a12*a23 - a22*a13) AS det)),
p{i} AS MATERIALIZED (
  SELECT CASE WHEN ok THEN nr2 ELSE nr END AS nr,
         CASE WHEN ok THEN m2 ELSE m END AS m,
         CASE WHEN ok THEN s2 ELSE s END AS s
  FROM c{i} c, LATERAL (
    SELECT (SELECT sum((y - c.nr2*exp(-(x-c.m2)*(x-c.m2)/(2.0*c.s2*c.s2)))
                       * (y - c.nr2*exp(-(x-c.m2)*(x-c.m2)/(2.0*c.s2*c.s2))))
            FROM hist) AS sse1),
  LATERAL (SELECT coalesce(isfinite(sse1) AND sse1 <= c.sse0, FALSE) AS ok))""")
        prev = f"p{i}"
    body = ",\n".join(parts)
    return f"""WITH {body}
SELECT CAST(floor(nr * 100 + 0.5) AS BIGINT) AS norm_x100,
       CAST(floor(m + 0.5) AS BIGINT) AS mean_x1,
       CAST(floor(s + 0.5) AS BIGINT) AS sigma_x1
FROM {prev}"""


@register("gaussfit_price_hist", None)  # sql attached below
def gaussfit_price_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`gaussfit(x, y)` (io/eval/GaussFitEvaluator.java): Gaussian fit of
    the order-total histogram (25k buckets, bucket-center x vs count y) —
    Caruana log-quadratic + deterministic Gauss-Newton; exact-recovery
    pytest on a clean Gaussian. The DuckDB oracle unrolls the full GN
    refinement as materialized CTE steps (Cramer 3x3 per step); GN is
    contractive on this series (fixed point by step ~5), so the
    engine's lstsq and the oracle's Cramer agree to 1e-15 relative —
    exact match on the integer-scaled outputs."""
    from solr_spark.functions.mathstream import gaussian_fit

    o = _t(spark, sf_dir, "orders")
    histo = o.groupBy(
        (F.floor(F.col("o_totalprice") / 25000.0) * 25000.0 + 12500.0)
        .alias("x")
    ).agg(F.count("*").cast("double").alias("y"))
    (norm, mean, sigma), _ = gaussian_fit(histo, "x", "y")
    return spark.createDataFrame(
        [(int(round(norm * 100)), int(round(mean)), int(round(sigma)))],
        "norm_x100 long, mean_x1 long, sigma_x1 long",
    )


CATALOG["gaussfit_price_hist"].sql = _gaussfit_sql()


@register(
    "mixing_weights_sources",
    f"""
WITH {TOKS},
dl AS (SELECT doc_id, count(*) AS n_tok FROM toks GROUP BY doc_id),
per AS (SELECT d.source AS source, count(*) AS n_docs,
               CAST(sum(coalesce(dl.n_tok, 0)) AS BIGINT) AS tokens
        FROM documents d LEFT JOIN dl ON dl.doc_id = d.doc_id
        GROUP BY d.source),
tot AS (SELECT sum(tokens) AS t, count(*) AS g FROM per)
SELECT source, n_docs, tokens,
       {_sql_scaled('tokens * 1.0 / t', 6)} AS actual_x1m,
       {_sql_scaled('1.0 / g', 6)} AS target_x1m,
       {_sql_scaled('(1.0 / g) / (tokens * 1.0 / t)')} AS weight_x10k
FROM per, tot ORDER BY source
""",
)
def mixing_weights_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix reweighting (The Pile / Gopher domain-weight stage):
    per-source token share vs a uniform target and the sampling weight
    target/actual. One token aggregation; the shuffle carries one row per
    source."""
    from solr_spark.functions.curation import mixing_weights

    d = _t(spark, sf_dir, "documents")
    out = mixing_weights(d, "text", "source")
    return out.select(
        "source", "n_docs", "tokens",
        scaled("actual_frac", 6).alias("actual_x1m"),
        scaled("target_frac", 6).alias("target_x1m"),
        scaled("weight").alias("weight_x10k"),
    ).orderBy("source")


def _bpe_encode_sql(n_merges=12):
    """Train (the _bpe_sql chain) + ENCODE: a parallel word-keyed chain
    applies each learned merge to the distinct-word dictionary, then
    per-doc subword counts come from a join to the tokenized stream."""
    parts = ["""toks AS (SELECT doc_id, unnest(list_filter(
    regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS term
  FROM documents),
wf AS (SELECT term AS w, count(*) AS freq FROM toks GROUP BY term),
v0 AS MATERIALIZED (
  SELECT CASE WHEN len(w) > 1
              THEN array_to_string(list_transform(range(1, len(w)),
                     i -> '{' || w[i:i] || '}'), '')
                   || '{' || w[len(w):len(w)] || '</w>}'
              ELSE '{' || w || '</w>}' END AS s,
         freq
  FROM wf),
we0 AS MATERIALIZED (
  SELECT w, CASE WHEN len(w) > 1
              THEN array_to_string(list_transform(range(1, len(w)),
                     i -> '{' || w[i:i] || '}'), '')
                   || '{' || w[len(w):len(w)] || '</w>}'
              ELSE '{' || w || '</w>}' END AS s
  FROM wf)"""]
    prev, eprev = "v0", "we0"
    for r in range(n_merges):
        parts.append(f"""l{r} AS MATERIALIZED (
  SELECT string_split(s[2:len(s) - 1], '}}{{') AS l, freq FROM {prev}),
p{r} AS MATERIALIZED (
  SELECT a, b, sum(freq) AS c FROM (
    SELECT unnest(list_transform(range(1, len(l)),
             i -> struct_pack(a := l[i], b := l[i + 1]))) AS p, freq
    FROM l{r} WHERE len(l) >= 2)
    , LATERAL (SELECT p.a AS a, p.b AS b)
  GROUP BY a, b),
b{r} AS MATERIALIZED (
  SELECT '{{' || a || '}}{{' || b || '}}' AS pat, '{{' || a || b || '}}' AS merged
  FROM p{r} WHERE c >= 2 ORDER BY c DESC, a ASC, b ASC LIMIT 1),
v{r + 1} AS MATERIALIZED (
  SELECT CASE WHEN b{r}.pat IS NOT NULL
              THEN replace(v.s, b{r}.pat, b{r}.merged) ELSE v.s END AS s,
         v.freq
  FROM {prev} v LEFT JOIN b{r} ON true),
we{r + 1} AS MATERIALIZED (
  SELECT v.w,
         CASE WHEN b{r}.pat IS NOT NULL
              THEN replace(v.s, b{r}.pat, b{r}.merged) ELSE v.s END AS s
  FROM {eprev} v LEFT JOIN b{r} ON true)""")
        prev, eprev = f"v{r + 1}", f"we{r + 1}"
    body = ",\n".join(parts)
    return f"""WITH {body},
dic AS (SELECT w, len(s) - len(replace(s, '}}', '')) AS n_sub FROM {eprev})
SELECT t.doc_id AS id, count(*) AS n_words,
       CAST(sum(d.n_sub) AS BIGINT) AS n_subwords
FROM toks t JOIN dic d ON d.w = t.term
WHERE t.doc_id < 100
GROUP BY t.doc_id ORDER BY id"""


@register("bpe_encode_counts", None)  # sql attached below
def bpe_encode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLY (Sennrich et al. 2016 apply_bpe — the pair to
    bpe_merges_docs): train 12 merges on the full corpus, then encode
    every word and count subword tokens per document. The merge chain
    runs over the distinct-word dictionary as pure-codegen `replace`
    calls on sentinel-delimited symbol strings; the oracle replays the
    trainer AND a word-keyed encode chain in SQL."""
    from solr_spark.functions.textstats import bpe_encode, bpe_train

    d = _t(spark, sf_dir, "documents")
    merges = [(r["left"], r["right"])
              for r in bpe_train(d, "text", n_merges=12).collect()]
    out = bpe_encode(d.where(F.col("doc_id") < 100), "text", "doc_id",
                     merges)
    return out.select("id", "n_words", "n_subwords").orderBy("id")


CATALOG["bpe_encode_counts"].sql = _bpe_encode_sql()


@register(
    "bicubic_day_hour",
    f"""
WITH grid AS (
  SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS gx,
         CAST(extract(hour FROM ts) AS INT) AS gy,
         CAST(count(*) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2),
offs(di, dj, w) AS (
  SELECT a.i, b.i, a.w * b.w
  FROM (VALUES (-1, -1.0/16), (0, 9.0/16), (1, 9.0/16), (2, -1.0/16)) a(i, w),
       (VALUES (-1, -1.0/16), (0, 9.0/16), (1, 9.0/16), (2, -1.0/16)) b(i, w)),
agg AS (
  SELECT gx - di AS cx, gy - dj AS cy, sum(v * w) AS value, count(*) AS n
  FROM grid, offs GROUP BY 1, 2)
SELECT CAST(2 * cx + 1 AS BIGINT) AS xm2, CAST(2 * cy + 1 AS BIGINT) AS ym2,
       {_sql_scaled('value', 2)} AS value_x100
FROM agg WHERE n = 16 ORDER BY xm2, ym2
""",
)
def bicubic_day_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`bicubicSpline` + predict at cell centers (io/eval/
    BicubicSplineEvaluator.java): the day×hour event-count grid
    interpolated at every fully-interior midpoint — the 4×4 Lagrange
    tensor collapses to constant weights on the uniform grid, so engine
    and oracle are the identical 16-term weighted sum (one broadcast of
    the offsets, one map-side-combined groupBy)."""
    from solr_spark.functions.mathstream import bicubic_midpoints

    ev = _t(spark, sf_dir, "events")
    grid = ev.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("gx"),
        F.hour("ts").alias("gy"),
    ).agg(F.count("*").cast("double").alias("v"))
    out = bicubic_midpoints(grid, "gx", "gy", "v")
    return out.select(
        (F.col("xm") * 2).cast("long").alias("xm2"),
        (F.col("ym") * 2).cast("long").alias("ym2"),
        scaled("value", 2).alias("value_x100"),
    ).orderBy("xm2", "ym2")


# ---------------------------------------------------------------------------
# Driver contract surface
# ---------------------------------------------------------------------------


# Catalog entries earlier driver runs ALREADY verified. The driver samples a
# prefix of queries(), so never-yet-verified entries — including everything
# new this round — are ordered FIRST to close the verification gap within a
# round. The authoritative source is the union of all CORRECTNESS_r*.json
# reports present at the repo root (read at import time, so the set absorbs
# each new round automatically); the hardcoded r01∪r02 set below is only the
# fallback for deployments (spark-submit zips) where those files are absent.
#
# An entry counts as verified only if SOME round recorded a fully-green row
# (rows+schema+hash all match, no err): a sampled-but-imperfect row (e.g. an
# oracle type artifact, or an entry whose oracle landed after its sample)
# must re-enter the rotation so the fix gets a green row on record.
def _driver_verified_from_reports() -> frozenset[str]:
    import glob as _glob
    import json as _json

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    green: set[str] = set()
    found = False
    for path in sorted(_glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as fh:
                report = _json.load(fh)
        except (OSError, ValueError):
            continue
        if isinstance(report, dict):
            found = True
            for name, row in report.items():
                if (
                    isinstance(row, dict)
                    and row.get("rows_match")
                    and row.get("schema_match")
                    and row.get("hash_match")
                    and not row.get("err")
                ):
                    green.add(name)
    return frozenset(green) if found else _DRIVER_VERIFIED_FALLBACK


# Entries the engine's charter leans on hardest: if still unverified, these
# lead the unverified block so they land inside the driver's sample prefix.
_FLAGSHIP_FIRST: tuple[str, ...] = (
    # Round-5 priority block: the five imperfect driver rows (fixed oracles
    # must re-sample to land a green row) ...
    "frequency_table_quantity",
    "bisecting_kmeans_window",
    "lingo_clusters_window",
    "ivf_ann_top10",
    "text_logit_train",
    # ... then the highest-value never-driver-verified entries, so the 16-21
    # that inevitably miss a 50-entry sample are all low-stakes series tail.
    "ltr_mart_rerank",
    "ltr_linear_rerank",
    "ltr_feature_log",
    "synonym_query",
    "synonym_phrase_query",
    "payload_score",
    "wand_payload_score",
    "join_filter_customers",
    "geodist_customers",
    "bpe_merges_docs",
    "bpe_encode_counts",
    "perplexity_docs",
    "dedup_keep_best",
    "mixing_weights_sources",
    "kmeans_embeddings",
    "fuzzy_kmeans_embeddings",
    "multi_kmeans_embeddings",
    "block_join_parent",
    "block_join_child",
    "query_elevation",
    "atomic_update_merge",
    "maxscore_top10",
    "graph_nodes_maxdf",
    # Earlier rounds' flagship block (all verified by now; harmless no-ops
    # here if so — the comprehension below filters to never-verified).
    "curation_pipeline",
    "cut_duplicate_spans_k8",
    "dbscan_embeddings",
    "stc_clusters_window",
    "pack_chunks_bins",
    "gopher_repetition_docs",
)

_DRIVER_VERIFIED_FALLBACK: frozenset[str] = frozenset({
    "bm25_top10", "bm25_top10_window", "bm25_hot_term", "bm25_rare_mix",
    "term_filter_lang_counts", "facet_terms_lang",
    "facet_terms_source_matching", "facet_range_nchars",
    "facet_query_buckets", "facet_nested_stats", "facet_subfacet_top_sources",
    "wordbreak_split_suggestions", "highlight_multi_best",
    "relatedness_langs", "unique_block_flags", "igain_terms_en",
    "text_logit_train", "stats_nchars_by_lang", "pivot_lang_source",
    "collapse_by_source", "expand_by_source", "group_top2_per_lang",
    "unique_lang_source", "intersect_sources", "complement_sources",
    "merge_streams", "top_orders", "rollup_orders_status",
    "timeseries_events_daily", "innerjoin_revenue_by_segment",
    "hashjoin_customers_per_region", "fetch_top_orders_customer",
    "cartesian_product_tokens", "cursor_page3", "terms_dictionary_top20",
    "significant_terms_spark", "wand_bm25_top10", "wand_bm25_hot",
    "mlt_doc0", "dismax_text_source",
    "rerank_by_nchars", "frange_boosted", "lucene_query_parser",
    # NOTE: "phrase_slop" deliberately absent — round 3 rewrote its engine
    # semantics AND its oracle (Lucene sloppy weights), so it must re-enter
    # the driver's never-verified-first block until re-checked.
    "phrase_adjacency", "complexphrase_wildcard",
    "span_near_unordered", "wand_phrase_adjacency", "edismax_pf",
    "grouped_boolean_query", "ann_cosine_top10", "knn_label_vote",
    "ngram_jaccard_pairs", "minhash_lsh_candidates", "simhash_near_pairs",
    "dedup_exact_summary", "token_count_by_lang", "text_quality",
    "lsh_ann_top10", "ivf_ann_top10", "lang_id_distribution",
    "quality_features_sample", "token_counts_total", "fingerprint_top",
    "multimodal_decode_meta",
})


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    verified_set = _driver_verified_from_reports()
    flagship = {
        name: CATALOG[name].fn
        for name in _FLAGSHIP_FIRST
        if name in CATALOG and name not in verified_set
    }
    unverified = {
        name: e.fn for name, e in CATALOG.items()
        if name not in verified_set and name not in flagship
    }
    verified = {
        name: e.fn for name, e in CATALOG.items() if name in verified_set
    }
    return {**flagship, **unverified, **verified}


def oracle_sql() -> dict[str, str]:
    return {name: e.sql for name, e in CATALOG.items() if e.sql is not None}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 over the sf0.001 documents table."""
    return _bm25_spark(spark, "/root/testdata/sf0.001", "spark join data")
