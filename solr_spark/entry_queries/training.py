"""Catalog: training-data ops, ANN, curation, graph, suggest, highlight."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from solr_spark.entry_queries import (
    AVGDL, CATALOG, DL, Entry, NDOCS, TF, TOKS, _COS, _sql_scaled, _t, documents_index,
    register, scaled,
)
from solr_spark.entry_queries.ranking import TOKP
from solr_spark.query.bm25 import B_DEFAULT, K1_DEFAULT


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
