"""Catalog: MLT, dismax, rerank, function queries and query parsers."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solr_spark.analysis.chain import analyze
from solr_spark.entry_queries import (
    AVGDL, CATALOG, DL, Entry, NDOCS, TF, TOKS, _sql_scaled, _t, documents_index,
    register, scaled,
)
from solr_spark.entry_queries.search import _phys_index_dir, _quant_sql_values
from solr_spark.query.bm25 import B_DEFAULT, K1_DEFAULT


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
    from solr_spark.query.wand import open_index

    d = _phys_index_dir(spark, sf_dir)
    out = open_index(spark, d).phrase_topk("part filter scan", k=10)
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
