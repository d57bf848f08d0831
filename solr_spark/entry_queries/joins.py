"""Catalog: joins, block join, spellcheck, synonyms, elevation, facets."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solr_spark.analysis.chain import analyze
from solr_spark.entry_queries import (
    AVGDL, DL, NDOCS, TF, TOKS, _sql_scaled, _t, documents_index, register, scaled,
)
from solr_spark.entry_queries.ranking import TOKP, _SRC_TOKS, _dismax_indexes
from solr_spark.entry_queries.search import _phys_index_dir, _quant_sql_values
from solr_spark.operators.streams import timeseries_stream
from solr_spark.query.bm25 import B_DEFAULT, K1_DEFAULT


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
