"""Catalog: statistical stream evaluators, tests through clustering."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solr_spark.entry_queries import (
    AVGDL, CATALOG, DL, NDOCS, TF, TOKS, _bm25_spark, _sql_scaled, _t, register, scaled,
)
from solr_spark.entry_queries.training import _SH, _minhash_params_sql
from solr_spark.query.bm25 import B_DEFAULT, K1_DEFAULT


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
