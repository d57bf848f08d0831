"""Catalog: convolution, paired tests, distances, interpolation, fits."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solr_spark.entry_queries import CATALOG, TOKS, _sql_scaled, _t, register, scaled
from solr_spark.entry_queries.distributions import _SQL_ERF_POLY, _daily_events_series
from solr_spark.entry_queries.training import _SH


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
