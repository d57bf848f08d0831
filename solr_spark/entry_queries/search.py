"""Catalog: BM25, facets, grouping, streams, cursor, terms, physical index."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solr_spark.analysis.chain import analyze
from solr_spark.entry_queries import (
    AVGDL, CATALOG, DL, Entry, NDOCS, TF, TOKS, _bm25_spark, _sql_scaled, _t, bm25_sql,
    documents_index, register, scaled,
)
from solr_spark.operators.collapse import collapse, expand, group_top_n
from solr_spark.operators.cursor import cursor_page, next_totem
from solr_spark.operators.facets import (
    field_stats, query_facet, range_facet, terms_facet,
)
from solr_spark.operators.streams import (
    complement_stream, fetch_stream, hash_join_stream, inner_join_stream,
    intersect_stream, merge_stream, rollup_stream, timeseries_stream, top_stream,
    unique_stream,
)
from solr_spark.query.bm25 import B_DEFAULT, K1_DEFAULT


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
        from solr_spark.query.wand import open_index

        d = _phys_index_dir(spark, sf_dir)
        out = open_index(spark, d).topk(qs, k=10)
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
