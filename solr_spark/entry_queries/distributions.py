"""Catalog: distribution and series evaluators, k-means, spatial."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solr_spark.entry_queries import CATALOG, _COS, _sql_scaled, _t, register, scaled


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
