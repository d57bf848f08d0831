"""Statistical stream evaluators as DataFrame helpers.

Reference (SURVEY.md §2.8): Solr registers ~300 stream evaluators in
solrj io/Lang.java backed by commons-math — corr, cov, regression,
percentiles, movingAvg, zscores, describe... The Spark mapping is mostly
built-in aggregate/window functions; these helpers pin the exact shapes the
catalog exposes (and that the SQL oracles reproduce).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def describe(df: DataFrame, col: str) -> DataFrame:
    """`describe(col)`: count/mean/stddev/min/p25/p50/p75/max."""
    c = F.col(col)
    return df.agg(
        F.count(c).alias("count"),
        F.avg(c).alias("mean"),
        F.stddev_samp(c).alias("stddev"),
        F.min(c).alias("min"),
        F.percentile(c, F.lit(0.25)).alias("p25"),
        F.percentile(c, F.lit(0.5)).alias("p50"),
        F.percentile(c, F.lit(0.75)).alias("p75"),
        F.max(c).alias("max"),
    )


def moving_avg(
    df: DataFrame, value: str, order_by: str, window: int,
    partition_by: str | None = None,
) -> DataFrame:
    """`movingAvg(values, n)`: trailing-window mean over a sorted stream.

    Row-frame window function — one shuffle on the partition key (or a
    global sort when partition_by is None, matching Solr's sorted-stream
    contract)."""
    base = Window.partitionBy(partition_by) if partition_by else Window
    w = base.orderBy(order_by).rowsBetween(-(window - 1), 0)
    return df.withColumn("moving_avg", F.avg(F.col(value)).over(w))


def zscores(df: DataFrame, value: str, partition_by: str | None = None) -> DataFrame:
    """`zscores(values)`: (x - mean) / stddev, computed with an analytic
    window (no second scan; partial aggregates broadcast by the window)."""
    w = Window.partitionBy(partition_by) if partition_by else Window.partitionBy()
    mean = F.avg(F.col(value)).over(w)
    sd = F.stddev_samp(F.col(value)).over(w)
    return df.withColumn("zscore", (F.col(value) - mean) / sd)


def hist(
    df: DataFrame, col: str, bins: int,
    lo: float | None = None, hi: float | None = None,
) -> DataFrame:
    """`hist(values, bins)` (io/eval/HistogramEvaluator.java, commons-math
    EmpiricalDistribution): equal-width binning with per-bin count/mean.
    Explicit ``lo``/``hi`` keep it one pass; omitted bounds cost one extra
    min/max aggregate (the reference's in-memory evaluator scans twice the
    same way). Values at ``hi`` land in the last bin."""
    c = F.col(col).cast("double")
    if lo is None or hi is None:
        b = df.agg(F.min(c).alias("lo"), F.max(c).alias("hi")).collect()[0]
        if (lo is None and b["lo"] is None) or (hi is None and b["hi"] is None):
            # empty / all-null column: no observable range -> empty histogram
            # (the reference's EmpiricalDistribution likewise has no bins to
            # report without data)
            return df.sparkSession.createDataFrame(
                [], "bin int, count long, mean double"
            )
        lo = float(b["lo"]) if lo is None else lo
        hi = float(b["hi"]) if hi is None else hi
    width = (hi - lo) / bins
    if width == 0:
        # degenerate range (all values equal): everything is bin 0, matching
        # the reference's single-bin histogram
        bin_ = F.lit(0)
    else:
        bin_ = F.least(
            F.floor((c - F.lit(lo)) / F.lit(width)), F.lit(bins - 1)
        ).cast("int")
    return (
        df.where((c >= lo) & (c <= hi))
        .groupBy(bin_.alias("bin"))
        .agg(F.count("*").alias("count"), F.avg(c).alias("mean"))
        .orderBy("bin")
    )


def linear_regression(df: DataFrame, x: str, y: str) -> DataFrame:
    """`regress(x, y)` / olsRegress (io/eval/RegressionEvaluator.java,
    backed by commons-math SimpleRegression): slope, intercept, R², n — as
    ONE distributed aggregate (Spark's regr_* family), not a driver-side
    array like the reference's stream evaluator."""
    xc, yc = F.col(x), F.col(y)
    return df.agg(
        F.regr_slope(yc, xc).alias("slope"),
        F.regr_intercept(yc, xc).alias("intercept"),
        F.regr_r2(yc, xc).alias("r2"),
        F.regr_count(yc, xc).alias("n"),
    )


def fft_magnitudes(
    df: DataFrame, value: str, order_by: str, limit: int = 1024
) -> DataFrame:
    """`fft(values)` (io/eval/FFTEvaluator.java): magnitude spectrum of a
    sorted series. Solr's math evaluators operate on IN-MEMORY arrays inside
    the /stream handler — the reference semantics are driver-side — so a
    bounded collect here is the faithful shape (``limit`` caps the series;
    raise it only as far as driver memory allows)."""
    import numpy as np

    spark = df.sparkSession
    vals = [
        float(r[0])
        for r in df.orderBy(order_by).select(value).limit(limit).collect()
    ]
    if not vals:
        return spark.createDataFrame([], "idx int, magnitude double")
    mag = np.abs(np.fft.fft(np.asarray(vals, dtype=np.float64)))
    return spark.createDataFrame(
        [(i, float(m)) for i, m in enumerate(mag)], "idx int, magnitude double"
    )


def percentiles(df: DataFrame, col: str, ps: Sequence[float]) -> DataFrame:
    """Exact interpolated percentiles (Solr uses a t-digest sketch —
    AVLTreeDigest(100) — so its values are approximate; exact is the
    stronger contract and matches DuckDB's quantile_cont)."""
    c = F.col(col)
    return df.agg(
        *[F.percentile(c, F.lit(p)).alias(f"p{int(p * 100)}") for p in ps]
    )


def polyfit(df: DataFrame, x: str, y: str, degree: int = 2) -> DataFrame:
    """`polyfit(x, y, degree)` (io/eval/PolyFitEvaluator.java, commons-math
    PolynomialCurveFitter): least-squares polynomial coefficients.

    Distributed shape: ONE aggregation pass computes the normal-equation
    moments Σx^k (k ≤ 2d) and Σx^k·y (k ≤ d) — (3d+2) partial-aggregated
    doubles regardless of row count — then the (d+1)×(d+1) solve runs on
    the driver (numpy). The reference evaluator instead materializes both
    arrays in the /stream JVM; this never moves the data.

    Conditioning note: raw-power normal equations square the Vandermonde
    condition number — fine for the small degrees the reference supports
    (callers with wide-range x should center/scale it first).

    Returns one row: coef_0 … coef_{degree} (ascending powers)."""
    import numpy as np

    xc = F.col(x).cast("double")
    yc = F.col(y).cast("double")
    # the fit is over COMPLETE (x, y) pairs — a row with x but null y must
    # not leak into the Σx^k moments or A and b describe different
    # populations and the solve is silently wrong
    df = df.where(xc.isNotNull() & yc.isNotNull())
    aggs = [F.sum(F.pow(xc, k)).alias(f"sx{k}") for k in range(2 * degree + 1)]
    aggs += [F.sum(F.pow(xc, k) * yc).alias(f"sxy{k}") for k in range(degree + 1)]
    m = df.agg(*aggs).collect()[0]
    if m["sx0"] is None or m["sx0"] < degree + 1:
        raise ValueError(
            f"polyfit(degree={degree}) needs at least {degree + 1} non-null rows"
        )
    a = np.array(
        [[m[f"sx{i + j}"] for j in range(degree + 1)] for i in range(degree + 1)],
        dtype=np.float64,
    )
    b = np.array([m[f"sxy{i}"] for i in range(degree + 1)], dtype=np.float64)
    coef = np.linalg.solve(a, b)
    return df.sparkSession.createDataFrame(
        [tuple(float(c) for c in coef)],
        ", ".join(f"coef_{k} double" for k in range(degree + 1)),
    )


def loess(
    df: DataFrame, x: str, y: str,
    bandwidth: float = 0.3, robust_iters: int = 2, limit: int = 4096,
) -> DataFrame:
    """`loess(x, y, bandwidth)` (io/eval/LoessEvaluator.java, commons-math
    LoessInterpolator defaults bandwidth=0.3, robustnessIters=2): tricube-
    weighted local LINEAR regression smoother with bisquare robustness
    reweighting.

    Like the reference's /stream evaluator this is series/array math —
    driver-side on a bounded, sorted collect (``limit`` caps it, same
    contract as fft_magnitudes); the sweep itself is vectorized numpy.
    Returns (x, y, smoothed) sorted by x."""
    import numpy as np

    spark = df.sparkSession
    rows = (
        df.select(F.col(x).cast("double"), F.col(y).cast("double"))
        .where(F.col(x).isNotNull() & F.col(y).isNotNull())
        .orderBy(x)
        .limit(limit)
        .collect()
    )
    if not rows:
        return spark.createDataFrame([], "x double, y double, smoothed double")
    xs = np.array([r[0] for r in rows])
    ys = np.array([r[1] for r in rows])
    n = len(xs)
    span = max(2, int(np.ceil(bandwidth * n)))
    robust = np.ones(n)
    fit = ys.copy()
    for it in range(robust_iters + 1):
        for i in range(n):
            lo = min(max(0, i - span // 2), n - span)
            seg = slice(lo, lo + span)
            d = np.abs(xs[seg] - xs[i])
            dmax = d.max()
            w = (1 - (d / dmax) ** 3) ** 3 if dmax > 0 else np.ones_like(d)
            w = np.clip(w, 0, None) * robust[seg]
            sw = w.sum()
            if sw <= 0:
                # no weighted support (every neighbor robust-zeroed): keep
                # the previous iteration's estimate — falling back to ys[i]
                # would hand an outlier residual 0 and full weight back
                continue
            xm = (w * xs[seg]).sum() / sw
            ym = (w * ys[seg]).sum() / sw
            sxx = (w * (xs[seg] - xm) ** 2).sum()
            if sxx > 1e-12 * (np.abs(xs[seg]).max() ** 2 or 1.0):
                beta = (w * (xs[seg] - xm) * (ys[seg] - ym)).sum() / sxx
            else:
                beta = 0.0
            fit[i] = ym + beta * (xs[i] - xm)
        if it < robust_iters:
            resid = np.abs(ys - fit)
            # bisquare with the median |residual| as scale; floored so a
            # perfectly-fit series (median = fp noise) doesn't zero out
            # every weight
            s = max(np.median(resid), 1e-12 * max(1.0, float(np.abs(ys).max())))
            robust = np.clip(1 - (resid / (6 * s)) ** 2, 0, None) ** 2
    return spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(xs, ys, fit)],
        "x double, y double, smoothed double",
    )


def _betainc(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a,b) — Lentz continued fraction
    (standard published algorithm; needed for the Student-t CDF because
    neither numpy nor the stdlib expose it)."""
    import math

    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_front = (
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
        + a * math.log(x) + b * math.log1p(-x)
    )
    if x > (a + 1) / (a + b + 2):
        return 1.0 - _betainc(b, a, 1.0 - x)
    f, c, d = 1.0, 1.0, 0.0
    for i in range(200):
        m = i // 2
        if i == 0:
            num = 1.0
        elif i % 2 == 0:
            num = m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m))
        else:
            num = -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))
        d = 1.0 + num * d
        d = 1.0 / (d if abs(d) > 1e-30 else 1e-30)
        c = 1.0 + num / (c if abs(c) > 1e-30 else 1e-30)
        f *= c * d
        if abs(1.0 - c * d) < 1e-12:
            break
    return math.exp(ln_front) * (f - 1.0) / a


def student_t_sf(t: float, dof: float) -> float:
    """P(T > t) for Student-t with ``dof`` degrees of freedom."""
    x = dof / (dof + t * t)
    p = 0.5 * _betainc(dof / 2.0, 0.5, x)
    return p if t >= 0 else 1.0 - p


def corr_significance(df: DataFrame, a: str, b: str) -> DataFrame:
    """`corrSignificance(corr(...))` (io/eval/
    CorrelationSignificanceEvaluator.java — commons-math
    PearsonsCorrelation.getCorrelationPValues): two-sided p-value of the
    Pearson correlation under H0 rho=0, via t = r·sqrt((n−2)/(1−r²)) with
    n−2 dof. One corr+count aggregation; the Student-t tail transform is a
    driver-side scalar on that single row (same split as welch_ttest: the
    statistic is oracle-checked in SQL, the t-CDF is pytest-verified)."""
    row = df.agg(
        F.corr(F.col(a), F.col(b)).alias("corr"),
        F.count(F.when(F.col(a).isNotNull() & F.col(b).isNotNull(), 1)).alias("n"),
    ).collect()[0]
    r, n = float(row["corr"]), int(row["n"])
    if n < 3 or abs(r) >= 1.0:
        p = 0.0 if abs(r) >= 1.0 else float("nan")
    else:
        t = abs(r) * ((n - 2) / (1.0 - r * r)) ** 0.5
        p = 2.0 * student_t_sf(t, n - 2)
    spark = df.sparkSession
    return spark.createDataFrame(
        [(r, n, p)], "corr double, n long, p_value double"
    )


def welch_ttest(
    df: DataFrame, value: str, group_col: str, group_a, group_b
) -> DataFrame:
    """`ttest(a, b)` (io/eval/TTestEvaluator.java, commons-math TTest —
    Welch's unequal-variance two-sample test): t statistic, Welch–
    Satterthwaite degrees of freedom, two-sided p-value.

    ONE distributed aggregation (filtered count/avg/var per side); the
    scalar t/df/p math runs on the driver. The t-CDF uses the regularized
    incomplete beta (continued fraction) since no library in-sandbox
    provides it."""
    c = F.col(value).cast("double")
    ga = F.col(group_col) == group_a
    gb = F.col(group_col) == group_b
    m = df.agg(
        F.count(F.when(ga, c)).alias("na"),
        F.avg(F.when(ga, c)).alias("ma"),
        F.var_samp(F.when(ga, c)).alias("va"),
        F.count(F.when(gb, c)).alias("nb"),
        F.avg(F.when(gb, c)).alias("mb"),
        F.var_samp(F.when(gb, c)).alias("vb"),
    ).collect()[0]
    na, nb = m["na"], m["nb"]
    if na < 2 or nb < 2:
        raise ValueError(
            f"ttest needs >= 2 observations per group "
            f"(got {group_a!r}: {na}, {group_b!r}: {nb})"
        )
    sa, sb = m["va"] / na, m["vb"] / nb
    t = (m["ma"] - m["mb"]) / (sa + sb) ** 0.5
    dof = (sa + sb) ** 2 / (sa**2 / (na - 1) + sb**2 / (nb - 1))
    p = 2.0 * student_t_sf(abs(t), dof)
    return df.sparkSession.createDataFrame(
        [(float(t), float(dof), float(p), int(na), int(nb))],
        "t_stat double, df double, p_value double, n_a long, n_b long",
    )


def ecdf(df: DataFrame, col: str, probes: Sequence[float]) -> DataFrame:
    """`empiricalDistribution(values)` + `cumulativeProbability(d, x)`
    (io/eval/EmpiricalDistributionEvaluator.java + CumulativeProbability-
    Evaluator.java): P(X <= x) at each probe point, as ONE aggregation pass
    — a filtered count per probe, partial-aggregated map-side (the
    reference builds the whole ECDF in /stream memory)."""
    c = F.col(col).cast("double")
    spark = df.sparkSession
    m = df.agg(
        F.count(c).alias("n"),
        *[
            F.count(F.when(c <= float(p), True)).alias(f"le{i}")
            for i, p in enumerate(probes)
        ],
    ).collect()[0]
    n = m["n"] or 1
    return spark.createDataFrame(
        [(float(p), m[f"le{i}"] / n) for i, p in enumerate(probes)],
        "probe double, cum_prob double",
    )


def normal_cdf(col, mean: float = 0.0, sd: float = 1.0):
    """`normalDistribution(m, s)` + `cumulativeProbability` as a pure JVM
    Column expression — Abramowitz & Stegun 7.1.26 erf polynomial (max
    abs error 1.5e-7; the reference's commons-math is exact-to-double,
    so treat this as approximate — tests assert 1e-6 tolerance)."""
    z = (col - F.lit(float(mean))) / F.lit(float(sd) * 2.0**0.5)
    az = F.abs(z)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * az)
    poly = t * (
        F.lit(0.254829592)
        + t * (
            F.lit(-0.284496736)
            + t * (
                F.lit(1.421413741)
                + t * (F.lit(-1.453152027) + t * F.lit(1.061405429))
            )
        )
    )
    erf_abs = F.lit(1.0) - poly * F.exp(-az * az)
    erf = F.when(z < 0, -erf_abs).otherwise(erf_abs)
    return F.lit(0.5) * (F.lit(1.0) + erf)


def diff_series(
    df: DataFrame, value: str, order_by: str, lag: int = 1,
    partition_by: str | None = None,
) -> DataFrame:
    """`diff(values, lag)` (io/eval/TimeDifferencingEvaluator.java): serial
    time-differencing x_t - x_{t-lag} over a sorted stream. Lag window
    function — same shuffle shape as movingAvg; first `lag` rows are null
    (the reference drops them; callers filter)."""
    w = (
        Window.partitionBy(partition_by).orderBy(order_by)
        if partition_by
        else Window.orderBy(order_by)
    )
    return df.withColumn(
        "diff", F.col(value) - F.lag(F.col(value), lag).over(w)
    )


def moving_median(
    df: DataFrame, value: str, order_by: str, window: int,
    partition_by: str | None = None,
) -> DataFrame:
    """`movingMedian(values, n)` (io/eval/MovingMedianEvaluator.java):
    trailing-window median. The window frame collects at most ``window``
    values per row; median is an exact sort of that tiny array (JVM
    expressions, no UDF)."""
    base = Window.partitionBy(partition_by) if partition_by else Window
    w = base.orderBy(order_by).rowsBetween(-(window - 1), 0)
    vals = F.array_sort(F.collect_list(F.col(value)).over(w))
    n = F.size(vals)
    mid = (n / 2).cast("int")
    med = F.when(
        n % 2 == 1, F.element_at(vals, mid + 1).cast("double")
    ).otherwise(
        (F.element_at(vals, mid) + F.element_at(vals, mid + 1)) / 2.0
    )
    return df.withColumn("moving_median", med)


def frequency_table(df: DataFrame, col: str) -> DataFrame:
    """`frequencyTable(values)` (io/eval/FrequencyTableEvaluator.java,
    commons-math Frequency): per distinct LONG value — count, cumFreq
    (running count in value order), pct, cumPct. The reference builds the
    table in /stream memory; here it is one groupBy plus a window over the
    (tiny, one-row-per-distinct-value) grouped result, so the raw data is
    scanned exactly once however large it is."""
    v = F.col(col).cast("long")
    counts = df.groupBy(v.alias("value")).agg(F.count("*").alias("count"))
    w_cum = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    total = F.sum("count").over(w_all)
    return (
        counts.withColumn("cumFreq", F.sum("count").over(w_cum))
        .select(
            "value",
            "count",
            "cumFreq",
            (F.col("count") / total * 100.0).alias("pct"),
            (F.col("cumFreq") / total * 100.0).alias("cumPct"),
        )
        .orderBy("value")
    )


def moving_mad(
    df: DataFrame, value: str, order_by: str, window: int,
    partition_by: str | None = None,
) -> DataFrame:
    """`movingMAD(values, n)` (io/eval/MovingMADEvaluator.java:52-65):
    trailing-window mean absolute deviation around the WINDOW MEAN (the
    reference's definition — not the median-based MAD). Rows whose frame
    holds fewer than ``window`` values get NULL (the reference emits a
    shorter list). One window shuffle; the per-row frame array is tiny, so
    mean + deviation fold are plain JVM expressions."""
    base = Window.partitionBy(partition_by) if partition_by else Window
    w = base.orderBy(order_by).rowsBetween(-(window - 1), 0)
    vals = F.collect_list(F.col(value).cast("double")).over(w)
    n = F.size(vals)
    mean = (
        F.aggregate(vals, F.lit(0.0), lambda a, x: a + x) / n
    )
    mad = (
        F.aggregate(
            F.transform(vals, lambda x: F.abs(x - mean)),
            F.lit(0.0),
            lambda a, x: a + x,
        ) / n
    )
    return df.withColumn(
        "moving_mad", F.when(n >= window, mad)
    )


def spearman_corr(df: DataFrame, a: str, b: str) -> DataFrame:
    """`corr(a, b, type=spearmans)` (io/eval/CorrelationEvaluator.java:89;
    commons-math SpearmansCorrelation with NaturalRanking TIES_AVERAGED):
    Pearson correlation of the fractional-rank transforms. The average rank
    of a tie group ending at cumulative count c with t members is
    c − t + (t+1)/2. Ranks come from a DICTIONARY, never a full-table
    window: one groupBy to distinct values + counts, a window over that
    (distinct-value-sized, the same shape ord()/rord() use), broadcast
    back. One corr aggregate on top — no O(n²) anything, no
    single-partition global sort of the fact table. (kendalls: see
    kendall_tau — tau-b over the joint distinct-value dictionary.)"""
    out = df.select(F.col(a).alias("_a"), F.col(b).alias("_b"))
    for col, rname in (("_a", "_ra"), ("_b", "_rb")):
        vc = out.groupBy(col).agg(F.count("*").alias("_t"))
        wv = Window.orderBy(F.col(col))
        ranks = vc.withColumn("_c", F.sum("_t").over(wv)).select(
            col,
            (F.col("_c") - F.col("_t") + (F.col("_t") + 1) / 2.0).alias(rname),
        )
        out = out.join(F.broadcast(ranks), col)
    return out.agg(F.corr("_ra", "_rb").alias("spearman"))


def exp_moving_avg(
    df: DataFrame, value: str, order_by: str, window: int,
    alpha: float | None = None, partition_by: str | None = None,
) -> DataFrame:
    """`expMovingAvg(values, window[, alpha])`
    (io/eval/ExponentialMovingAverageEvaluator.java): seed = mean of the
    first ``window`` observations; thereafter
    ema_t = alpha*(x_t - ema_{t-1}) + ema_{t-1}, default
    alpha = 2/(window+1). Rows before the seed completes get NULL (the
    reference emits a shorter list; callers drop the NULLs).

    The recurrence unrolls to the closed form
    ema_t = seed*(1-a)^(t-w) + a * sum_{i=w+1..t} (1-a)^(t-i) x_i,
    which a row-frame cumulative sum evaluates without any Python: the
    cumsum accumulates g^i*x_i with g = 1/(1-a) and the final multiply by
    (1-a)^t rescales. g^i grows, so this form is for series up to a few
    hundred points (the reference's evaluator is likewise an in-memory
    array op); longer series should chunk or rescale."""
    if alpha is None:
        alpha = 2.0 / (window + 1.0)
    one_m = 1.0 - alpha
    base = Window.partitionBy(partition_by) if partition_by else Window
    w_ord = base.orderBy(order_by)
    rn = F.row_number().over(w_ord)
    v = F.col(value).cast("double")
    seed = F.avg(F.when(rn <= window, v)).over(
        w_ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    # cumulative sum of g^rn * x_rn over rows AFTER the seed window
    g = 1.0 / one_m
    term = F.when(rn > window, F.pow(F.lit(g), rn.cast("double")) * v)
    cum = F.sum(term).over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
    tail = F.coalesce(cum, F.lit(0.0)) * F.pow(F.lit(one_m), rn.cast("double"))
    ema = F.when(
        rn >= window,
        seed * F.pow(F.lit(one_m), (rn - window).cast("double"))
        + F.lit(alpha) * tail,
    )
    return df.withColumn("ema", ema)


def anova_oneway(df: DataFrame, value: str, group_col: str) -> DataFrame:
    """`anova(a, b, ...)` (io/eval/AnovaEvaluator.java, commons-math
    OneWayAnova): F ratio and p-value across ALL groups of ``group_col``.
    One groupBy over the raw data (per-group n/mean/variance — map-side
    combinable), then a second tiny aggregation over the k group rows;
    the p-value (F distribution survival = regularized incomplete beta)
    is driver math on the single result row."""
    c = F.col(value).cast("double")
    per_group = df.groupBy(group_col).agg(
        F.count(c).alias("n"), F.avg(c).alias("mean"), F.var_samp(c).alias("var")
    )
    m = per_group.agg(
        F.count("*").alias("k"),
        F.sum("n").alias("n_total"),
        F.sum(F.col("n") * F.col("mean")).alias("sum_all"),
        F.sum(F.col("n") * F.col("mean") * F.col("mean")).alias("sum_nm2"),
        F.sum((F.col("n") - 1) * F.col("var")).alias("ssw"),
    ).collect()[0]
    k, n = int(m["k"]), int(m["n_total"])
    if k < 2 or n <= k:
        raise ValueError(f"anova needs >=2 groups and n>k (k={k}, n={n})")
    grand_mean = m["sum_all"] / n
    ssb = m["sum_nm2"] - n * grand_mean * grand_mean
    ssw = m["ssw"]
    df_b, df_w = k - 1, n - k
    f_ratio = (ssb / df_b) / (ssw / df_w)
    # P(F > f) = I_{dfw/(dfw + dfb*f)}(dfw/2, dfb/2)
    x = df_w / (df_w + df_b * f_ratio)
    p = _betainc(df_w / 2.0, df_b / 2.0, x)
    return df.sparkSession.createDataFrame(
        [(float(f_ratio), float(p), int(df_b), int(df_w))],
        "f_ratio double, p_value double, df_between long, df_within long",
    )


def _gammainc_upper_reg(s: float, x: float) -> float:
    """Regularized upper incomplete gamma Q(s,x) — series / continued
    fraction split (the standard published gammp/gammq algorithm); needed
    for chi-square survival since no in-sandbox library exposes it."""
    import math

    if x < 0 or s <= 0:
        raise ValueError("gammainc domain")
    if x == 0:
        return 1.0
    if x < s + 1.0:
        # P(s,x) by series, return 1 - P
        ap, total, delta = s, 1.0 / s, 1.0 / s
        for _ in range(500):
            ap += 1.0
            delta *= x / ap
            total += delta
            if abs(delta) < abs(total) * 1e-15:
                break
        p = total * math.exp(-x + s * math.log(x) - math.lgamma(s))
        return 1.0 - p
    # Q(s,x) by Lentz continued fraction
    tiny = 1e-300
    b = x + 1.0 - s
    c = 1.0 / tiny
    d = 1.0 / b
    h = d
    for i in range(1, 500):
        an = -i * (i - s)
        b += 2.0
        d = an * d + b
        d = 1.0 / (d if abs(d) > tiny else tiny)
        c = b + an / (c if abs(c) > tiny else tiny)
        h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return h * math.exp(-x + s * math.log(x) - math.lgamma(s))


def chi2_sf(stat: float, dof: float) -> float:
    """P(X > stat) for chi-square with ``dof`` degrees of freedom."""
    return _gammainc_upper_reg(dof / 2.0, stat / 2.0)


def chi_square_datasets(df: DataFrame, count_a: str, count_b: str) -> DataFrame:
    """`chiSquareDataSet(a, b)` (io/eval/ChiSquareDataSetEvaluator.java,
    commons-math ChiSquareTest.chiSquareDataSetsComparison): compares two
    per-bin observed-count series. With totals S_a, S_b and
    K = sqrt(S_a/S_b), the statistic is
    sum_i (o_a/K - o_b*K)^2 / (o_a + o_b) when totals differ, or the
    unweighted form when equal (commons-math javadoc formula). df = bins-1;
    p is driver-side chi-square survival. ``df`` holds one row per bin
    (already aggregated); this is ONE window + ONE aggregation over it."""
    a = F.col(count_a).cast("double")
    b = F.col(count_b).cast("double")
    w = Window.partitionBy()
    sa, sb = F.sum(a).over(w), F.sum(b).over(w)
    kk = F.sqrt(sa / sb)
    unequal = F.abs(sa - sb) > 1e-9
    term = F.when(
        unequal, F.pow(a / kk - b * kk, 2) / (a + b)
    ).otherwise(F.pow(a - b, 2) / (a + b))
    m = df.select(term.alias("t")).agg(
        F.sum("t").alias("stat"), F.count("t").alias("bins")
    ).collect()[0]
    stat, bins = float(m["stat"]), int(m["bins"])
    p = chi2_sf(stat, bins - 1)
    return df.sparkSession.createDataFrame(
        [(stat, float(p), bins - 1)],
        "chisq_stat double, p_value double, dof long",
    )


def g_test_datasets(df: DataFrame, count_a: str, count_b: str) -> DataFrame:
    """`gtestDataSet(a, b)` (io/eval/GTestDataSetEvaluator.java,
    commons-math GTest.gDataSetsComparison): likelihood-ratio G over the
    2 x k contingency table formed by the two count series:
    G = 2 * sum_cells o * ln(o / e), e = rowSum*colSum/total (zero cells
    contribute 0). df = k-1; same execution shape as chiSquareDataSet."""
    a = F.col(count_a).cast("double")
    b = F.col(count_b).cast("double")
    w = Window.partitionBy()
    sa, sb = F.sum(a).over(w), F.sum(b).over(w)
    tot = sa + sb
    col_sum = a + b
    cell = (
        F.when(a > 0, a * F.log(a / (sa * col_sum / tot))).otherwise(0.0)
        + F.when(b > 0, b * F.log(b / (sb * col_sum / tot))).otherwise(0.0)
    )
    m = df.select(cell.alias("g")).agg(
        F.sum("g").alias("half"), F.count("g").alias("bins")
    ).collect()[0]
    stat, bins = 2.0 * float(m["half"]), int(m["bins"])
    p = chi2_sf(stat, bins - 1)
    return df.sparkSession.createDataFrame(
        [(stat, float(p), bins - 1)],
        "g_stat double, p_value double, dof long",
    )


def _ecdf_gap_frame(
    df: DataFrame, value: str, group_col: str, group_a, group_b
) -> DataFrame:
    """The LAZY (d, na, nb) one-row frame behind ks_two_sample — exposed
    so plan tests can assert the fact table never crosses a
    single-partition window (only distributed_prefix_sum's <= n_buckets
    totals window is unpartitioned)."""
    from solr_spark.functions.curation import distributed_prefix_sum

    c = F.col(value).cast("double")
    two = df.where(F.col(group_col).isin([group_a, group_b])).select(
        c.alias("v"), (F.col(group_col) == group_a).alias("is_a")
    )
    dic = two.groupBy("v").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("ca"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0)).alias("cb"),
    )
    dic = distributed_prefix_sum(dic, "ca", "v", out_col="cum_a")
    dic = distributed_prefix_sum(dic, "cb", "v", out_col="cum_b")
    tot = dic.groupBy().agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    return (
        dic.crossJoin(F.broadcast(tot))
        .select(
            F.abs(
                F.col("cum_a") / F.col("na") - F.col("cum_b") / F.col("nb")
            ).alias("gap"),
            "na", "nb",
        )
        .agg(
            F.max("gap").alias("d"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
        )
    )


def ks_two_sample(
    df: DataFrame, value: str, group_col: str, group_a, group_b
) -> DataFrame:
    """`ks(a, b)` two-sample (io/eval/KolmogorovSmirnovEvaluator.java):
    D = sup_x |F_a(x) - F_b(x)| plus the asymptotic p-value
    Q_KS(sqrt(ne)*D) with ne = na*nb/(na+nb). NOTE the reference's
    two-sample branch calls commons-math kolmogorovSmirnovTest(x, y) —
    which returns the P-VALUE — and stores it under the key
    "d-statistic" (KolmogorovSmirnovEvaluator.java:63-66); this
    implementation reports both values under honest names.

    Distributed D: the ECDF only moves at DISTINCT values, so the fact
    table is first collapsed to a per-value dictionary (one groupBy with
    map-side combine — the only shuffle that sees every row), then the
    cumulative counts run over the dictionary via the bucket-parallel
    prefix sum (distributed_prefix_sum: windows partitioned by range
    bucket; the only unpartitioned window is over <= n_buckets totals).
    No row of the raw table ever crosses a single-partition window —
    same discipline as spearman_corr's rank dictionary."""
    m = _ecdf_gap_frame(df, value, group_col, group_a, group_b).collect()[0]
    import math

    d, n_a, n_b = float(m["d"]), int(m["na"]), int(m["nb"])
    lam = math.sqrt(n_a * n_b / (n_a + n_b)) * d
    # Kolmogorov asymptotic survival: 2*sum (-1)^{j-1} exp(-2 j^2 lam^2)
    p = 0.0
    for j in range(1, 101):
        term = 2.0 * (-1.0) ** (j - 1) * math.exp(-2.0 * j * j * lam * lam)
        p += term
        if abs(term) < 1e-16:
            break
    p = min(max(p, 0.0), 1.0)
    return df.sparkSession.createDataFrame(
        [(d, float(p), n_a, n_b)],
        "d_stat double, p_asymptotic double, n_a long, n_b long",
    )


def _midrank_sum_frame(
    df: DataFrame, value: str, group_col: str, group_a, group_b
) -> DataFrame:
    """The LAZY (ra, na, nb) one-row frame behind mann_whitney_u —
    exposed for the same plan-test reason as _ecdf_gap_frame."""
    from solr_spark.functions.curation import distributed_prefix_sum

    c = F.col(value).cast("double")
    two = df.where(F.col(group_col).isin([group_a, group_b])).select(
        c.alias("v"), (F.col(group_col) == group_a).alias("is_a")
    )
    dic = two.groupBy("v").agg(
        F.count("*").alias("t"),
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("ta"),
    )
    dic = distributed_prefix_sum(dic, "t", "v", out_col="cum")
    midrank = F.col("cum_before") + (F.col("t") + 1) / 2.0
    return (
        dic.select(
            (F.col("ta") * midrank).alias("ra_part"),
            F.col("ta").alias("na_part"),
            (F.col("t") - F.col("ta")).alias("nb_part"),
        )
        .agg(
            F.sum("ra_part").alias("ra"),
            F.sum("na_part").alias("na"),
            F.sum("nb_part").alias("nb"),
        )
    )


def mann_whitney_u(
    df: DataFrame, value: str, group_col: str, group_a, group_b
) -> DataFrame:
    """`mannWhitney(a, b)` (io/eval/MannWhitneyUEvaluator.java,
    commons-math MannWhitneyUTest): U statistic (the max of U_a/U_b, as
    commons-math returns) from average-tie midranks, p-value via the
    normal approximation on min(U_a,U_b) without tie/continuity
    correction — exactly commons-math's calculateAsymptoticPValue.

    Midranks come from a distinct-value DICTIONARY, never a full-table
    rank window: one groupBy collapses the two samples to per-value
    (ties, a-count) rows — the only shuffle that sees every row, with
    map-side combine — then the tie group's midrank is
    cum_before + (t+1)/2 where cum_before is the bucket-parallel prefix
    sum of tie counts (distributed_prefix_sum). The rank-sum of group A
    is then sum(ta * midrank) over the dictionary; no row of the raw
    table crosses a single-partition window."""
    m = _midrank_sum_frame(df, value, group_col, group_a, group_b).collect()[0]
    import math

    ra, na, nb = float(m["ra"]), int(m["na"]), int(m["nb"])
    u_a = ra - na * (na + 1) / 2.0
    u_b = na * nb - u_a
    u_max, u_min = max(u_a, u_b), min(u_a, u_b)
    mu = na * nb / 2.0
    sigma = math.sqrt(na * nb * (na + nb + 1) / 12.0)
    z = (u_min - mu) / sigma
    # two-sided: 2 * Phi(z) for z <= 0
    phi = 0.5 * (1.0 + math.erf(z / math.sqrt(2.0)))
    p = min(1.0, 2.0 * phi)
    return df.sparkSession.createDataFrame(
        [(float(u_max), float(p), na, nb)],
        "u_stat double, p_value double, n_a long, n_b long",
    )


def markov_transitions(
    df: DataFrame, state: str, order_by: str, partition_by: str
) -> DataFrame:
    """Transition-matrix estimation for `markovChain(matrix)`
    (io/eval/MarkovChainEvaluator.java — the reference SAMPLES from a
    given matrix; fitting the matrix from event streams is the data-side
    half). Per ``partition_by`` sequence ordered by ``order_by``:
    P(next_state | state) = count(state -> next) / count(state -> *).
    One lag window (shuffles once on the sequence key) + one groupBy of
    the pairs; row-number tiebreak keeps it deterministic."""
    w = Window.partitionBy(partition_by).orderBy(order_by, state)
    pairs = (
        df.select(
            F.col(state).alias("state"),
            F.lead(F.col(state)).over(w).alias("next_state"),
        )
        .where(F.col("next_state").isNotNull())
        .groupBy("state", "next_state")
        .agg(F.count("*").alias("n"))
    )
    total = F.sum("n").over(Window.partitionBy("state"))
    return pairs.select(
        "state", "next_state", "n", (F.col("n") / total).alias("prob")
    ).orderBy("state", "next_state")


# --- distribution evaluators (io/eval/NormalDistributionEvaluator.java,
# PoissonDistributionEvaluator.java, BinomialDistributionEvaluator.java +
# their cumulativeProbability/probability companions). The reference wraps
# commons-math distribution objects; here each is a pure JVM column
# expression so it can score billions of rows in place. ----------------------

# Abramowitz & Stegun 7.1.26 rational erf approximation (|error| < 1.5e-7).
# The SAME constants are used by the SQL oracles, so cross-engine values
# are bit-comparable; pytest golden-checks against math.erf.
_ERF_P = 0.3275911
_ERF_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)


def erf_col(x: Column) -> Column:
    ax = F.abs(x)
    t = 1.0 / (1.0 + F.lit(_ERF_P) * ax)
    poly = (
        F.lit(_ERF_A[0]) * t
        + F.lit(_ERF_A[1]) * F.pow(t, 2)
        + F.lit(_ERF_A[2]) * F.pow(t, 3)
        + F.lit(_ERF_A[3]) * F.pow(t, 4)
        + F.lit(_ERF_A[4]) * F.pow(t, 5)
    )
    mag = 1.0 - poly * F.exp(-ax * ax)
    return F.when(x < 0, -mag).otherwise(mag)


def norm_cdf_col(x: Column, mu: Column | float, sigma: Column | float) -> Column:
    """`normalDistribution(mu, sigma)` + `cumulativeProbability(x)`."""
    mu_c = F.lit(mu) if isinstance(mu, (int, float)) else mu
    s_c = F.lit(sigma) if isinstance(sigma, (int, float)) else sigma
    z = (x - mu_c) / (s_c * F.lit(math.sqrt(2.0)))
    return 0.5 * (1.0 + erf_col(z))


def weibull_cdf_col(x: Column, shape: Column | float, scale: Column | float) -> Column:
    """`weibullDistribution(shape, scale)` + `cumulativeProbability(x)`
    (io/eval/WeibullDistributionEvaluator.java, commons-math
    WeibullDistribution): closed form 1 − exp(−(x/λ)^k) for x ≥ 0, 0
    below support — pure JVM arithmetic, identical in SQL."""
    k_c = F.lit(float(shape)) if isinstance(shape, (int, float)) else shape
    l_c = F.lit(float(scale)) if isinstance(scale, (int, float)) else scale
    cdf = 1.0 - F.exp(-F.pow(x / l_c, k_c))
    return F.when(x <= 0, F.lit(0.0)).otherwise(cdf)


def lognormal_cdf_col(x: Column, mu: Column | float, sigma: Column | float) -> Column:
    """`logNormalDistribution(mu, sigma)` + `cumulativeProbability(x)`
    (io/eval/LogNormalDistributionEvaluator.java): Φ((ln x − μ)/σ) via the
    shared A&S erf polynomial (same constants as the SQL oracle), 0 at or
    below the support boundary."""
    cdf = norm_cdf_col(F.log(x), mu, sigma)
    return F.when(x <= 0, F.lit(0.0)).otherwise(cdf)


def triangular_cdf_col(
    x: Column, a: Column | float, c: Column | float, b: Column | float
) -> Column:
    """`triangularDistribution(a, c, b)` + `cumulativeProbability(x)`
    (io/eval/TriangularDistributionEvaluator.java): the piecewise closed
    form with lower bound a, mode c, upper bound b."""
    a_c = F.lit(float(a)) if isinstance(a, (int, float)) else a
    c_c = F.lit(float(c)) if isinstance(c, (int, float)) else c
    b_c = F.lit(float(b)) if isinstance(b, (int, float)) else b
    left = F.pow(x - a_c, 2) / ((b_c - a_c) * (c_c - a_c))
    right = 1.0 - F.pow(b_c - x, 2) / ((b_c - a_c) * (b_c - c_c))
    return (
        F.when(x <= a_c, F.lit(0.0))
        .when(x >= b_c, F.lit(1.0))
        .when(x <= c_c, left)
        .otherwise(right)
    )


def zipf_pmf_col(k: Column, n: int, s: float) -> Column:
    """`zipFDistribution(size, exponent)` pmf
    (io/eval/ZipFDistributionEvaluator.java, commons-math
    ZipfDistribution): P(X=k) = (1/k^s) / H_{n,s}, the generalized harmonic
    number folded as a sequence in the SAME left-to-right order the SQL
    oracle uses, so the engines agree bit-for-bit. 0 outside 1..n."""
    h = F.aggregate(
        F.sequence(F.lit(1), F.lit(int(n))),
        F.lit(0.0),
        lambda acc, i: acc + 1.0 / F.pow(i.cast("double"), F.lit(float(s))),
    )
    pmf = (1.0 / F.pow(k.cast("double"), F.lit(float(s)))) / h
    return F.when((k >= 1) & (k <= n), pmf).otherwise(F.lit(0.0))


def geometric_pmf_col(k: Column, p: Column | float) -> Column:
    """`geometricDistribution(p)` pmf (io/eval/
    GeometricDistributionEvaluator.java, commons-math GeometricDistribution
    — number of FAILURES before the first success, support k >= 0):
    P(X=k) = (1-p)^k * p."""
    p_c = F.lit(float(p)) if isinstance(p, (int, float)) else p
    pmf = F.pow(1.0 - p_c, k.cast("double")) * p_c
    return F.when(k >= 0, pmf).otherwise(F.lit(0.0))


def poisson_pmf_col(k: Column, lam: Column | float) -> Column:
    """P(X = k) for Poisson(lam): the multiplicative recurrence
    term_i = term_{i-1} * lam / i folded over 1..k — exact in the same
    operation order in Spark and the SQL oracle, O(k) per row, no
    factorial overflow (terms stay in pmf scale). 0 for k < 0 (the
    otherwise-branch would fold sequence(1, k) DESCENDING through i=0)."""
    lam_c = F.lit(float(lam)) if isinstance(lam, (int, float)) else lam
    init = F.exp(-lam_c)  # P(X=0)
    return F.when(k < 0, F.lit(0.0)).when(k == 0, init).otherwise(
        F.aggregate(
            F.sequence(F.lit(1), k.cast("int")),
            init,
            lambda acc, i: acc * lam_c / i,
        )
    )


def poisson_cdf_col(k: Column, lam: Column | float) -> Column:
    """P(X <= k) for Poisson(lam): same recurrence with a running sum."""
    lam_c = F.lit(float(lam)) if isinstance(lam, (int, float)) else lam
    p0 = F.exp(-lam_c)
    init = F.struct(p0.alias("term"), p0.alias("cum"))
    folded = F.aggregate(
        F.sequence(F.lit(1), k.cast("int")),
        init,
        lambda acc, i: F.struct(
            (acc["term"] * lam_c / i).alias("term"),
            (acc["cum"] + acc["term"] * lam_c / i).alias("cum"),
        ),
        lambda acc: acc["cum"],
    )
    return F.when(k < 0, F.lit(0.0)).when(k == 0, p0).otherwise(folded)


def binom_pmf_col(k: Column, n: int, p: Column | float) -> Column:
    """P(X = k) for Binomial(n, p): recurrence
    term_i = term_{i-1} * (n-i+1)/i * p/(1-p) from term_0 = (1-p)^n."""
    p_c = F.lit(float(p)) if isinstance(p, (int, float)) else p
    init = F.pow(1.0 - p_c, float(n))
    ratio = p_c / (1.0 - p_c)
    return F.when(k < 0, F.lit(0.0)).when(k == 0, init).otherwise(
        F.aggregate(
            F.sequence(F.lit(1), k.cast("int")),
            init,
            lambda acc, i: acc * (F.lit(float(n)) - i + 1.0) / i * ratio,
        )
    )


def binom_cdf_col(k: Column, n: int, p: Column | float) -> Column:
    """P(X <= k) for Binomial(n, p), running-sum fold of the pmf terms."""
    p_c = F.lit(float(p)) if isinstance(p, (int, float)) else p
    p0 = F.pow(1.0 - p_c, float(n))
    ratio = p_c / (1.0 - p_c)
    init = F.struct(p0.alias("term"), p0.alias("cum"))
    folded = F.aggregate(
        F.sequence(F.lit(1), k.cast("int")),
        init,
        lambda acc, i: F.struct(
            (acc["term"] * (F.lit(float(n)) - i + 1.0) / i * ratio).alias("term"),
            (acc["cum"]
             + acc["term"] * (F.lit(float(n)) - i + 1.0) / i * ratio).alias("cum"),
        ),
        lambda acc: acc["cum"],
    )
    return F.when(k < 0, F.lit(0.0)).when(k == 0, p0).otherwise(folded)


def _three_point_deriv(x0, y0, x1, y1, x2, y2, xi) -> Column:
    """commons-math AkimaSplineInterpolator.differentiateThreePoint: the
    derivative at ``xi`` of the quadratic through three samples."""
    t = xi - x0
    t1 = x1 - x0
    t2 = x2 - x0
    a = (y2 - y0 - (t2 / t1 * (y1 - y0))) / (t2 * t2 - t1 * t2)
    b = (y1 - y0 - a * t1 * t1) / t1
    return 2.0 * a * t + b


def akima_derivatives(df: DataFrame, x: str, y: str) -> DataFrame:
    """`derivative(spline)` (solrj io/eval/DerivativeEvaluator.java +
    commons-math AkimaSplineInterpolator): the Akima-spline first
    derivative evaluated at every knot of the (x, y) series. The Akima
    construction makes the spline's derivative at knot i exactly the
    weighted-difference estimate, so no spline needs materializing:

      d_i   = (y_{i+1} - y_i) / (x_{i+1} - x_i)           (differences)
      w_i   = |d_i - d_{i-1}|                              (weights)
      dy_i  = (w_{i+1} d_{i-1} + w_{i-1} d_i) / (w_{i+1} + w_{i-1})
              — or the midpoint form when both weights vanish —
      endpoints (first/last TWO knots): the three-point quadratic
      derivative, exactly commons-math's differentiateThreePoint.

    Lag/lead windows over the AGGREGATED series (the same bounded-series
    precedent as movingAvg/ema — the input here is a per-day rollup, not
    the fact table). Requires >= 5 knots like the reference. Returns
    (x, y, dy) ordered by x."""
    w = Window.orderBy(x)
    xc, yc = F.col(x).cast("double"), F.col(y).cast("double")
    s = df.select(xc.alias("x"), yc.alias("y")).withColumns({
        "rn": F.row_number().over(w.orderBy("x")),
        "n": F.count("*").over(
            Window.orderBy("x").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ),
        "x1f": F.lead("x", 1).over(Window.orderBy("x")),
        "x2f": F.lead("x", 2).over(Window.orderBy("x")),
        "xm1": F.lag("x", 1).over(Window.orderBy("x")),
        "xm2": F.lag("x", 2).over(Window.orderBy("x")),
        "y1f": F.lead("y", 1).over(Window.orderBy("x")),
        "y2f": F.lead("y", 2).over(Window.orderBy("x")),
        "ym1": F.lag("y", 1).over(Window.orderBy("x")),
        "ym2": F.lag("y", 2).over(Window.orderBy("x")),
    })
    s = s.withColumn(
        "diff", (F.col("y1f") - F.col("y")) / (F.col("x1f") - F.col("x"))
    )
    s = s.withColumns({
        "diffm1": F.lag("diff", 1).over(Window.orderBy("x")),
        "wgt": F.abs(
            F.col("diff") - F.lag("diff", 1).over(Window.orderBy("x"))
        ),
    })
    s = s.withColumns({
        "wp": F.lead("wgt", 1).over(Window.orderBy("x")),
        "wm": F.lag("wgt", 1).over(Window.orderBy("x")),
    })
    c = {k: F.col(k) for k in
         ("x", "y", "x1f", "x2f", "xm1", "xm2", "y1f", "y2f", "ym1", "ym2")}
    dy = (
        F.when(
            F.col("rn") == 1,
            _three_point_deriv(c["x"], c["y"], c["x1f"], c["y1f"],
                               c["x2f"], c["y2f"], c["x"]),
        )
        .when(
            (F.col("rn") == 2) | (F.col("rn") == F.col("n") - 1),
            _three_point_deriv(c["xm1"], c["ym1"], c["x"], c["y"],
                               c["x1f"], c["y1f"], c["x"]),
        )
        .when(
            F.col("rn") == F.col("n"),
            _three_point_deriv(c["xm2"], c["ym2"], c["xm1"], c["ym1"],
                               c["x"], c["y"], c["x"]),
        )
        .when(
            (F.col("wp") == 0.0) & (F.col("wm") == 0.0),
            ((c["x1f"] - c["x"]) * F.col("diffm1")
             + (c["x"] - c["xm1"]) * F.col("diff"))
            / (c["x1f"] - c["xm1"]),
        )
        .otherwise(
            (F.col("wp") * F.col("diffm1") + F.col("wm") * F.col("diff"))
            / (F.col("wp") + F.col("wm"))
        )
    )
    return s.select("x", "y", dy.alias("dy")).orderBy("x")


def akima_integrals(df: DataFrame, x: str, y: str) -> DataFrame:
    """`integrate(spline)` (solrj io/eval/IntegrateEvaluator.java): the
    cumulative integral of the Akima spline from x[0] to each knot —
    out[0] = 0, out[i] = ∫_{x0}^{xi}, exactly the reference's one-arg
    form. The reference runs commons-math RombergIntegrator (rel tol
    1e-6) against the spline; a piecewise cubic Hermite integrates in
    CLOSED FORM — segment i contributes h(y_i+y_{i+1})/2 +
    h²(dy_i−dy_{i+1})/12 — so this computes the exact value Romberg
    converges to (documented divergence: within Romberg's tolerance).
    Returns (x, cum) ordered by x."""
    d = akima_derivatives(df, x, y)
    wo = Window.orderBy("x")
    h = F.lead("x", 1).over(wo) - F.col("x")
    seg = (
        h * (F.col("y") + F.lead("y", 1).over(wo)) / 2.0
        + h * h * (F.col("dy") - F.lead("dy", 1).over(wo)) / 12.0
    )
    s = d.withColumn("seg", seg)
    cum = F.coalesce(
        F.sum("seg").over(
            Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0.0),
    )
    return s.select("x", cum.alias("cum")).orderBy("x")


def kendall_tau(df: DataFrame, a: str, b: str) -> DataFrame:
    """`corr(a, b, type=kendalls)` (io/eval/CorrelationEvaluator.java:91,
    commons-math KendallsCorrelation): tau-b,

        tau_b = (C - D) / sqrt((n0 - n1) (n0 - n2))

    with n0 = n(n-1)/2 and n1/n2 the tied-pair counts per variable.

    Distributed shape: the fact table collapses to the JOINT distinct-value
    dictionary (one groupBy (a, b) with map-side combine — the only
    shuffle that sees every row), then C - D folds over CELL PAIRS:
    Σ_{cell p, cell q : p.a < q.a} n_p n_q · sign(q.b - p.b), a broadcast
    self-join of the dictionary. Tied-x pairs never enter the sum, tied-y
    pairs contribute 0 — exactly tau-b's numerator. n1/n2 come from two
    marginal aggregations of the same dictionary.

    The cell-pair join is O(D²) in DISTINCT CELLS, not rows — the right
    trade for the dictionary-compressible columns the evaluator contract
    targets (the reference itself is an in-memory array evaluator);
    quantize or sample genuinely continuous columns first, as with
    dbscan's pair discovery."""
    cells = (
        df.select(F.col(a).cast("double").alias("_a"),
                  F.col(b).cast("double").alias("_b"))
        .where(F.col("_a").isNotNull() & F.col("_b").isNotNull())
        .groupBy("_a", "_b")
        .agg(F.count("*").alias("_c"))
    )
    cells = cells.localCheckpoint(eager=True)  # reused 4x below
    p = cells.select(F.col("_a").alias("pa"), F.col("_b").alias("pb"),
                     F.col("_c").alias("pc"))
    q = cells.select(F.col("_a").alias("qa"), F.col("_b").alias("qb"),
                     F.col("_c").alias("qc"))
    cd = (
        p.join(F.broadcast(q), F.col("pa") < F.col("qa"))
        .agg(
            F.sum(
                F.col("pc") * F.col("qc")
                * F.signum(F.col("qb") - F.col("pb"))
            ).alias("cd")
        )
    )
    tot = cells.agg(F.sum("_c").alias("n"))
    t1 = (
        cells.groupBy("_a").agg(F.sum("_c").alias("t"))
        .agg((F.sum(F.col("t") * (F.col("t") - 1)) / 2.0).alias("n1"))
    )
    t2 = (
        cells.groupBy("_b").agg(F.sum("_c").alias("u"))
        .agg((F.sum(F.col("u") * (F.col("u") - 1)) / 2.0).alias("n2"))
    )
    return (
        cd.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(t1))
        .crossJoin(F.broadcast(t2))
        .select(
            (
                F.col("cd")
                / F.sqrt(
                    (F.col("n") * (F.col("n") - 1) / 2.0 - F.col("n1"))
                    * (F.col("n") * (F.col("n") - 1) / 2.0 - F.col("n2"))
                )
            ).alias("kendall_tau")
        )
    )


def convolve(
    df: DataFrame, x: str, y: str, kernel: Sequence[float]
) -> DataFrame:
    """`conv(a, b)` (io/eval/ConvolutionEvaluator.java, commons-math
    MathArrays.convolve): full discrete convolution of the series with a
    small kernel, output length n + m - 1,

        out[k] = Σ_i kernel[i] · y[k - i].

    Distributed shape: the kernel is a LITERAL broadcast (m rows from a
    tiny crossJoin — the series never replicates more than m×), the
    output index k = x_rank + i shuffles once on k with map-side combine.
    The series is addressed by the RANK of x (0-based, like the
    reference's positional arrays), so gaps in x don't corrupt alignment.

    Returns (k, conv) for k in [0, n+m-2]."""
    ks = df.sparkSession.createDataFrame(
        [(int(i), float(v)) for i, v in enumerate(kernel)], "i long, kv double"
    )
    pos = df.select(F.col(x).cast("double").alias("_x"),
                    F.col(y).cast("double").alias("_y"))
    dic = pos.groupBy("_x").agg(F.sum("_y").alias("_v"), F.lit(1).alias("_one"))
    from solr_spark.functions.curation import distributed_prefix_sum

    dic = distributed_prefix_sum(dic, "_one", "_x", out_col="_rank1")
    dic = dic.select((F.col("_rank1") - 1).alias("r"), "_v")
    return (
        dic.crossJoin(F.broadcast(ks))
        .groupBy((F.col("r") + F.col("i")).alias("k"))
        .agg(F.sum(F.col("_v") * F.col("kv")).alias("conv"))
    )


def find_delay(df: DataFrame, x: str, a: str, b: str) -> DataFrame:
    """`finddelay(a, b)` (io/eval/FindDelayEvaluator.java): convolve a
    with REVERSED b (i.e. cross-correlate), take the index of the max
    |value| (first index wins on ties — the reference's strict `>` scan),
    and return (index + 1) - len(b).

    Distributed shape: both series collapse to rank-indexed dictionaries
    (one groupBy each); the correlation frame is the pair join
    out[k] = Σ_i a[i]·b_rev[k-i] grouped on k — O(n·m) PAIRS of the
    aggregated series, never of the fact table (series-evaluator
    contract, same as fft/loess). The argmax is a 1-row
    TakeOrderedAndProject."""
    from solr_spark.functions.curation import distributed_prefix_sum

    def ranked(col: str, name: str) -> DataFrame:
        d = df.select(F.col(x).cast("double").alias("_x"),
                      F.col(col).cast("double").alias(name))
        d = d.groupBy("_x").agg(F.sum(name).alias(name),
                                F.lit(1).alias("_one"))
        d = distributed_prefix_sum(d, "_one", "_x", out_col="_r1")
        return d.select((F.col("_r1") - 1).alias(f"r_{name}"), name)

    fa = ranked(a, "va")
    fb = ranked(b, "vb")
    m = fb.count()
    # reversed b: b_rev[j] = b[m-1-j]; out[k] = Σ a[i]·b_rev[k-i]
    rev = fb.select((F.lit(m - 1) - F.col("r_vb")).alias("j"), "vb")
    conv = (
        fa.join(F.broadcast(rev), how="cross")
        .groupBy((F.col("r_va") + F.col("j")).alias("k"))
        .agg(F.sum(F.col("va") * F.col("vb")).alias("c"))
    )
    best = (
        conv.orderBy(F.abs(F.col("c")).desc(), F.col("k").asc())
        .limit(1)
        .select(((F.col("k") + 1) - F.lit(m)).cast("double").alias("delay"))
    )
    return best


def mean_difference(df: DataFrame, a: str, b: str) -> DataFrame:
    """`meanDifference(a, b)` (io/eval/MeanDifferenceEvaluator.java,
    StatUtils.meanDifference): mean of the pairwise differences — one
    aggregate, whole-stage codegen."""
    return df.agg(
        F.avg(F.col(a).cast("double") - F.col(b).cast("double"))
        .alias("mean_diff")
    )


def paired_ttest(df: DataFrame, a: str, b: str) -> DataFrame:
    """`pairedTtest(a, b)` (io/eval/PairedTTestEvaluator.java,
    commons-math TTest.pairedTTest): t = mean(d) / (sd(d)/√n) on the
    pairwise differences d = a - b, two-sided p from Student t with
    n - 1 dof (incomplete-beta tail, same helper as welch_ttest).

    One aggregation pass computes (n, mean_d, var_d); the t→p map runs on
    the driver over that single row."""
    d = (F.col(a).cast("double") - F.col(b).cast("double"))
    row = df.agg(
        F.count(d).alias("n"),
        F.avg(d).alias("md"),
        F.var_samp(d).alias("vd"),
    ).collect()[0]
    import math

    n, md, vd = int(row["n"]), float(row["md"]), float(row["vd"])
    t = md / math.sqrt(vd / n)
    p = 2.0 * student_t_sf(abs(t), n - 1)
    return df.sparkSession.createDataFrame(
        [(md, t, min(1.0, p), n)],
        "mean_diff double, t_stat double, p_value double, n long",
    )


def series_distances(df: DataFrame, a: str, b: str) -> DataFrame:
    """The distance-evaluator family over two aligned series in ONE
    aggregation pass (io/eval/{Euclidean,Manhattan,Canberra,Chebyshev}
    DistanceEvaluator.java + CosineSimilarityEvaluator.java +
    DotProductEvaluator.java; commons-math DistanceMeasure):

      euclidean  √Σ(a-b)²        manhattan Σ|a-b|
      canberra   Σ|a-b|/(|a|+|b|)  (0/0 term → 0, commons-math parity)
      chebyshev  max|a-b|
      dot        Σ a·b           cosine    dot / (‖a‖‖b‖)

    All six are partial-aggregable folds — one map-side-combined shuffle
    of a handful of doubles regardless of row count."""
    ca = F.col(a).cast("double")
    cb = F.col(b).cast("double")
    diff = ca - cb
    canberra_term = F.when(
        (F.abs(ca) + F.abs(cb)) == 0.0, F.lit(0.0)
    ).otherwise(F.abs(diff) / (F.abs(ca) + F.abs(cb)))
    return df.agg(
        F.sqrt(F.sum(diff * diff)).alias("euclidean"),
        F.sum(F.abs(diff)).alias("manhattan"),
        F.sum(canberra_term).alias("canberra"),
        F.max(F.abs(diff)).alias("chebyshev"),
        F.sum(ca * cb).alias("dot_product"),
        (
            F.sum(ca * cb)
            / (F.sqrt(F.sum(ca * ca)) * F.sqrt(F.sum(cb * cb)))
        ).alias("cosine_sim"),
    )


def scale_series(
    df: DataFrame, col: str, lo: float = 0.0, hi: float = 1.0
) -> DataFrame:
    """The vector-scaling evaluator family (io/eval/MinMaxScaleEvaluator
    .java default [0,1], UnitEvaluator.java v/‖v‖₂,
    NormalizeSumEvaluator.java v/Σv): appends minmax/unit/normsum columns.

    Distributed shape: ONE tiny aggregate (min, max, ‖v‖₂, Σ) broadcast
    back via crossJoin — the same shape as scale()/map() in
    query/rerank.py, never a global window."""
    c = F.col(col).cast("double")
    stats = df.agg(
        F.min(c).alias("_mn"), F.max(c).alias("_mx"),
        F.sqrt(F.sum(c * c)).alias("_l2"), F.sum(c).alias("_s"),
    )
    span = F.col("_mx") - F.col("_mn")
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn(
            "minmax",
            F.when(span == 0.0, F.lit(lo)).otherwise(
                (c - F.col("_mn")) / span * (hi - lo) + lo
            ),
        )
        .withColumn("unit", c / F.col("_l2"))
        .withColumn("normsum", c / F.col("_s"))
        .drop("_mn", "_mx", "_l2", "_s")
    )


def lerp_midpoints(df: DataFrame, x: str, y: str) -> DataFrame:
    """`predict(lerp(x, y), probes)` at the inter-knot midpoints
    (io/eval/LerpEvaluator.java, commons-math LinearInterpolator): the
    piecewise-linear interpolant evaluated at (x_i + x_{i+1})/2 — a
    lag/lead window over the AGGREGATED series, same contract as the
    Akima evaluators (series size = distinct x, not fact rows)."""
    s = df.select(F.col(x).cast("double").alias("x"),
                  F.col(y).cast("double").alias("y"))
    w = Window.orderBy("x")
    return (
        s.withColumn("x1", F.lead("x").over(w))
        .withColumn("y1", F.lead("y").over(w))
        .where(F.col("x1").isNotNull())
        .select(
            ((F.col("x") + F.col("x1")) / 2.0).alias("xm"),
            ((F.col("y") + F.col("y1")) / 2.0).alias("ym"),
        )
    )


def polyfit_derivative(
    df: DataFrame, x: str, y: str, degree: int = 3
) -> DataFrame:
    """`polyfitDerivative(x, y, degree)` (io/eval/PolyFitDerivativeEvaluator
    .java, default degree 3): least-squares polynomial fit, then the
    DERIVATIVE polynomial Σ k·c_k·x^(k-1) evaluated at every sample x.

    The fit reuses polyfit's one-pass distributed moments + driver solve;
    the coefficients come back as literals, so the per-row evaluation is
    whole-stage codegen over the original frame (no second driver trip)."""
    coef_row = polyfit(df, x, y, degree=degree).collect()[0]
    xc = F.col(x).cast("double")
    expr = F.lit(0.0)
    for k in range(1, degree + 1):
        expr = expr + F.lit(k * float(coef_row[f"coef_{k}"])) * F.pow(
            xc, F.lit(float(k - 1))
        )
    return df.select(xc.alias("x"), expr.alias("dy"))


def natural_ranking(
    df: DataFrame, col: str, keys: Sequence[str] = ()
) -> DataFrame:
    """`rank(v)` (io/eval/RankEvaluator.java, commons-math NaturalRanking
    with the default TiesStrategy.AVERAGE): 1-based average midranks.

    Ranks come from the distinct-value DICTIONARY (one groupBy with
    map-side combine — the only shuffle that sees every row) with the
    cumulative tie counts from the bucket-parallel distributed_prefix_sum,
    broadcast back — never a full-table rank window (the spearman_corr /
    mann_whitney_u shape)."""
    from solr_spark.functions.curation import distributed_prefix_sum

    c = F.col(col).cast("double")
    out = df.select(*keys, c.alias("_v"))
    dic = out.groupBy("_v").agg(F.count("*").alias("_t"))
    dic = distributed_prefix_sum(dic, "_t", "_v", out_col="_cum")
    ranks = dic.select(
        "_v", (F.col("_cum_before") + (F.col("_t") + 1) / 2.0).alias("rank")
    )
    return out.join(F.broadcast(ranks), "_v").select(
        *keys, F.col("_v").alias(col), "rank"
    )


def outliers_normal(
    df: DataFrame, col: str, low: float = 0.01, high: float = 0.99
) -> DataFrame:
    """`outliers(normalDistribution(col), col, low, high, tuples)`
    (io/eval/OutliersEvaluator.java): rows whose fitted-normal CDF is
    <= low or >= high, each carrying its cumulative probability and which
    bound it tripped (the reference's lowOutlierValue_d /
    highOutlierValue_d fields).

    Distributed shape: ONE tiny (mu, sigma) aggregate broadcast back; the
    CDF (A&S erf polynomial, shared constants with the oracle) and both
    threshold tests are whole-stage codegen, so the filter runs scan-side
    at any scale. Negative low/high disable that bound (reference
    parity: `low >= 0 &&` / `hi >= 0 &&`)."""
    c = F.col(col).cast("double")
    stats = df.agg(F.avg(c).alias("_mu"), F.stddev_samp(c).alias("_sd"))
    out = df.crossJoin(F.broadcast(stats)).withColumn(
        "cum_prob", norm_cdf_col(c, F.col("_mu"), F.col("_sd"))
    )
    is_low = (
        (F.col("cum_prob") <= F.lit(low)) if low >= 0 else F.lit(False)
    )
    is_high = (
        (F.col("cum_prob") >= F.lit(high)) if high >= 0 else F.lit(False)
    )
    return (
        out.withColumn("is_low", is_low)
        .withColumn("is_high", is_high)
        .where(F.col("is_low") | F.col("is_high"))
        .drop("_mu", "_sd")
    )


def uniform_cdf_col(x: Column, lo: Column | float, hi: Column | float) -> Column:
    """`uniformDistribution(lo, hi)` + cumulativeProbability
    (io/eval/UniformDistributionEvaluator.java, commons-math
    UniformRealDistribution): (x - lo) / (hi - lo) clamped to [0, 1]."""
    lo = F.lit(lo) if not isinstance(lo, Column) else lo
    hi = F.lit(hi) if not isinstance(hi, Column) else hi
    return F.least(
        F.lit(1.0), F.greatest(F.lit(0.0), (x - lo) / (hi - lo))
    )


def uniform_int_pmf_col(k: Column, lo: int, hi: int) -> Column:
    """`uniformIntegerDistribution(lo, hi)` pmf (commons-math
    UniformIntegerDistribution, INCLUSIVE bounds): 1/(hi-lo+1) on the
    support, 0 outside."""
    n = float(hi - lo + 1)
    return F.when(
        (k >= F.lit(lo)) & (k <= F.lit(hi)), F.lit(1.0 / n)
    ).otherwise(F.lit(0.0))


def uniform_int_cdf_col(k: Column, lo: int, hi: int) -> Column:
    """`uniformIntegerDistribution(lo, hi)` CDF: (floor(k)-lo+1)/(hi-lo+1)
    clamped — commons-math returns 0 below lo and 1 at/above hi."""
    n = float(hi - lo + 1)
    return F.least(
        F.lit(1.0),
        F.greatest(F.lit(0.0), (F.floor(k) - F.lit(lo) + 1) / F.lit(n)),
    )


def natural_cubic_midpoints(
    df: DataFrame, x: str, y: str, limit: int = 4096
) -> DataFrame:
    """`predict(spline(x, y), midpoints)` (io/eval/SplineEvaluator.java,
    commons-math SplineInterpolator — NATURAL cubic: zero second
    derivative at both ends), evaluated at every inter-knot midpoint.

    Series/array math like loess and fft: driver-side on a bounded sorted
    collect of the AGGREGATED series (``limit`` caps it); the tridiagonal
    (Thomas) solve and Hermite evaluation are numpy. Returns (xm, ym)."""
    import numpy as np

    spark = df.sparkSession
    rows = (
        df.select(F.col(x).cast("double"), F.col(y).cast("double"))
        .where(F.col(x).isNotNull() & F.col(y).isNotNull())
        .orderBy(x)
        .limit(limit)
        .collect()
    )
    if len(rows) < 3:
        return spark.createDataFrame([], "xm double, ym double")
    xs = np.array([r[0] for r in rows])
    ys = np.array([r[1] for r in rows])
    n = len(xs)
    h = np.diff(xs)
    # natural cubic: solve for second derivatives M (M[0] = M[n-1] = 0)
    # tridiagonal system, commons-math SplineInterpolator formulation
    a = np.zeros(n)
    b = np.ones(n)
    c = np.zeros(n)
    d = np.zeros(n)
    for i in range(1, n - 1):
        a[i] = h[i - 1]
        b[i] = 2.0 * (h[i - 1] + h[i])
        c[i] = h[i]
        d[i] = 6.0 * ((ys[i + 1] - ys[i]) / h[i] - (ys[i] - ys[i - 1]) / h[i - 1])
    # Thomas sweep
    for i in range(1, n):
        w = a[i] / b[i - 1]
        b[i] -= w * c[i - 1]
        d[i] -= w * d[i - 1]
    m = np.zeros(n)
    m[n - 1] = d[n - 1] / b[n - 1]
    for i in range(n - 2, -1, -1):
        m[i] = (d[i] - c[i] * m[i + 1]) / b[i]
    xm = (xs[:-1] + xs[1:]) / 2.0
    t = xm - xs[:-1]
    ym = (
        ys[:-1]
        + t * ((ys[1:] - ys[:-1]) / h - h * (2.0 * m[:-1] + m[1:]) / 6.0)
        + t * t * m[:-1] / 2.0
        + t * t * t * (m[1:] - m[:-1]) / (6.0 * h)
    )
    return spark.createDataFrame(
        [(float(a_), float(b_)) for a_, b_ in zip(xm, ym)],
        "xm double, ym double",
    )


def gamma_cdf_probes(
    df: DataFrame, col: str, probes: Sequence[float]
) -> DataFrame:
    """`gammaDistribution(shape, scale)` + cumulativeProbability
    (io/eval/GammaDistributionEvaluator.java, commons-math
    GammaDistribution): (shape, scale) moment-matched to the column
    (k = mu²/var, θ = var/mu — the evaluator's usual fit idiom), CDF
    P(k, x/θ) = 1 - Q(k, x/θ) via the regularized incomplete gamma.

    One tiny (mu, var) aggregate; the probe evaluation is driver-side
    over len(probes) points (the CDF special function has no SQL/codegen
    form — golden-tested against numerical integration in pytest)."""
    c = F.col(col).cast("double")
    row = df.agg(F.avg(c).alias("mu"), F.var_samp(c).alias("v")).collect()[0]
    mu, v = float(row["mu"]), float(row["v"])
    shape = mu * mu / v
    scale = v / mu
    out = [
        (float(p), 1.0 - _gammainc_upper_reg(shape, p / scale))
        for p in probes
    ]
    return df.sparkSession.createDataFrame(
        out, "probe double, cdf double"
    )


def beta_cdf_probes(
    df: DataFrame, col: str, probes: Sequence[float]
) -> DataFrame:
    """`betaDistribution(alpha, beta)` + cumulativeProbability
    (io/eval/BetaDistributionEvaluator.java, commons-math
    BetaDistribution): (α, β) moment-matched to a [0,1]-valued column
    (α = m(m(1-m)/v - 1), β = (1-m)(m(1-m)/v - 1)), CDF = I_x(α, β)
    via the regularized incomplete beta (Lentz continued fraction, the
    same helper the t tests use)."""
    c = F.col(col).cast("double")
    row = df.agg(F.avg(c).alias("m"), F.var_samp(c).alias("v")).collect()[0]
    m, v = float(row["m"]), float(row["v"])
    common = m * (1.0 - m) / v - 1.0
    alpha = m * common
    beta = (1.0 - m) * common
    out = [(float(p), _betainc(alpha, beta, float(p))) for p in probes]
    return df.sparkSession.createDataFrame(
        out, "probe double, cdf double"
    )


def oscillate_series(
    spark, amp: float, omega: float, phase: float, n: int = 128
) -> DataFrame:
    """`oscillate(amp, omega, phase)` (io/eval/OscillateEvaluator.java,
    commons-math HarmonicOscillator): a·cos(ω·x + φ) sampled at
    x = 0…n-1 (the reference fixes n=128). Pure whole-stage codegen over
    a sequence literal — no data, no Python."""
    return spark.range(n).select(
        F.col("id").cast("double").alias("x"),
        (F.lit(amp) * F.cos(F.lit(omega) * F.col("id") + F.lit(phase)))
        .alias("y"),
    )


def harmonic_fit(df: DataFrame, x: str, y: str, limit: int = 4096):
    """`harmfit(x, y)` + getAmplitude/getAngularFrequency/getPhase
    (io/eval/HarmonicFitEvaluator.java, commons-math HarmonicCurveFitter
    fitting A·cos(ωx + φ)): deterministic frequency grid search + exact
    linear least squares per candidate (y = c·cos(ωx) + s·sin(ωx) is
    LINEAR given ω), golden-section refinement of ω, then
    A = √(c²+s²), φ = atan2(-s, c).

    The reference guesses ω then runs Levenberg-Marquardt; both converge
    to the same least-squares optimum on well-posed series (exact
    recovery on a clean sinusoid is pytest-verified). Series-evaluator
    contract: bounded sorted collect + numpy (like loess/spline).
    Returns ((amp, omega, phase), fitted DataFrame (x, fit))."""
    import numpy as np

    spark = df.sparkSession
    rows = (
        df.select(F.col(x).cast("double"), F.col(y).cast("double"))
        .where(F.col(x).isNotNull() & F.col(y).isNotNull())
        .orderBy(x).limit(limit).collect()
    )
    xs = np.array([r[0] for r in rows])
    ys = np.array([r[1] for r in rows])
    n = len(xs)
    if n < 4:
        raise ValueError("harmonic_fit needs at least 4 points")
    span = xs[-1] - xs[0]
    dx = max(np.min(np.diff(xs)), 1e-12)

    def sse_at(w):
        c = np.cos(w * xs)
        s = np.sin(w * xs)
        a_mat = np.column_stack([c, s])
        coef, *_ = np.linalg.lstsq(a_mat, ys, rcond=None)
        resid = ys - a_mat @ coef
        return float(resid @ resid), coef

    lo, hi = 2.0 * np.pi / (4.0 * span), np.pi / dx
    grid = np.linspace(lo, hi, 2048)
    sses = [sse_at(w)[0] for w in grid]
    i = int(np.argmin(sses))
    a, b = grid[max(0, i - 1)], grid[min(len(grid) - 1, i + 1)]
    gr = (np.sqrt(5) - 1) / 2
    for _ in range(80):  # golden-section on the bracketing interval
        m1 = b - gr * (b - a)
        m2 = a + gr * (b - a)
        if sse_at(m1)[0] <= sse_at(m2)[0]:
            b = m2
        else:
            a = m1
    w = (a + b) / 2
    _, (c, s) = sse_at(w)
    amp = float(np.hypot(c, s))
    phase = float(np.arctan2(-s, c))
    fit = amp * np.cos(w * xs + phase)
    fitted = spark.createDataFrame(
        [(float(xv), float(fv)) for xv, fv in zip(xs, fit)],
        "x double, fit double",
    )
    return (amp, float(w), phase), fitted


def gaussian_fit(df: DataFrame, x: str, y: str, limit: int = 4096):
    """`gaussfit(x, y)` (io/eval/GaussFitEvaluator.java, commons-math
    GaussianCurveFitter fitting N·exp(-(x-m)²/(2σ²))): Caruana's
    log-quadratic linearization (exact on a clean Gaussian — pytest
    golden) refined by damped Gauss-Newton: a step is accepted only if
    it reduces the residual sum of squares, like the reference's
    Levenberg-Marquardt. Rejection makes the iteration stable on
    DEGENERATE series (a flat histogram sent undamped GN to ~1e118 —
    round-5 sf0.001 sweep find); on well-posed series every step
    accepts and the fixed point is the plain-GN one. The normal
    equations are solved by explicit Cramer 3x3 over moment sums — the
    same arithmetic the DuckDB oracle unrolls, so both sides walk the
    same trajectory. Series-evaluator contract (bounded collect +
    numpy). Returns ((norm, mean, sigma), fitted DataFrame (x, fit))."""
    import numpy as np

    spark = df.sparkSession
    rows = (
        df.select(F.col(x).cast("double"), F.col(y).cast("double"))
        .where(F.col(x).isNotNull() & F.col(y).isNotNull())
        .orderBy(x).limit(limit).collect()
    )
    xs = np.array([r[0] for r in rows])
    ys = np.array([r[1] for r in rows])
    pos = ys > 0
    if pos.sum() < 3:
        raise ValueError("gaussian_fit needs >= 3 positive y values")
    # Caruana: ln y = ln N - (x-m)^2/(2s^2) is quadratic in x.
    # Cramer 3x3 over the moment sums (not lstsq): identical arithmetic
    # to the SQL oracle, so near-degenerate series don't fork on solver
    # conditioning differences.
    xp = xs[pos]
    ly = np.log(ys[pos])
    s0 = float(pos.sum())
    s1 = float(np.sum(xp))
    s2 = float(np.sum(xp * xp))
    s3 = float(np.sum(xp ** 3))
    s4 = float(np.sum(xp ** 4))
    t0 = float(np.sum(ly))
    t1 = float(np.sum(xp * ly))
    t2 = float(np.sum(xp * xp * ly))
    det = s0 * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s3 * s2) + s2 * (
        s1 * s3 - s2 * s2
    )
    c0 = (
        t0 * (s2 * s4 - s3 * s3) - s1 * (t1 * s4 - s3 * t2)
        + s2 * (t1 * s3 - s2 * t2)
    ) / det
    c1 = (
        s0 * (t1 * s4 - s3 * t2) - t0 * (s1 * s4 - s3 * s2)
        + s2 * (s1 * t2 - t1 * s2)
    ) / det
    c2 = (
        s0 * (s2 * t2 - t1 * s3) - s1 * (s1 * t2 - t1 * s2)
        + t0 * (s1 * s3 - s2 * s2)
    ) / det
    if c2 >= 0:
        c2 = -1e-12
    sigma = float(np.sqrt(-1.0 / (2.0 * c2)))
    mean = float(c1 * sigma * sigma)
    norm = float(np.exp(c0 + mean * mean / (2.0 * sigma * sigma)))
    # Damped Gauss-Newton on the original (unweighted) residuals:
    # J^T J / J^T r moments + Cramer 3x3, candidate accepted iff finite
    # and the SSE does not increase (else the step is rejected and the
    # next iteration retries from the same point — a fixed point, so
    # trailing rejected steps are no-ops, mirrored in the SQL oracle).
    for _ in range(50):
        e = np.exp(-((xs - mean) ** 2) / (2.0 * sigma * sigma))
        f = norm * e
        r = ys - f
        sse0 = float(np.sum(r * r))
        a11 = float(np.sum(e * e))
        a12 = float(np.sum(e * f * (xs - mean) / (sigma * sigma)))
        a13 = float(np.sum(e * f * (xs - mean) ** 2 / sigma ** 3))
        a22 = float(np.sum(f * f * (xs - mean) ** 2 / sigma ** 4))
        a23 = float(np.sum(f * f * (xs - mean) ** 3 / sigma ** 5))
        a33 = float(np.sum(f * f * (xs - mean) ** 4 / sigma ** 6))
        b1 = float(np.sum(e * r))
        b2 = float(np.sum(f * (xs - mean) / (sigma * sigma) * r))
        b3 = float(np.sum(f * (xs - mean) ** 2 / sigma ** 3 * r))
        det = (
            a11 * (a22 * a33 - a23 * a23)
            - a12 * (a12 * a33 - a13 * a23)
            + a13 * (a12 * a23 - a22 * a13)
        )
        if det == 0.0:
            continue
        nr2 = norm + (
            b1 * (a22 * a33 - a23 * a23) - a12 * (b2 * a33 - a23 * b3)
            + a13 * (b2 * a23 - a22 * b3)
        ) / det
        m2 = mean + (
            a11 * (b2 * a33 - a23 * b3) - b1 * (a12 * a33 - a13 * a23)
            + a13 * (a12 * b3 - b2 * a13)
        ) / det
        s2_ = sigma + (
            a11 * (a22 * b3 - b2 * a23) - a12 * (a12 * b3 - b2 * a13)
            + b1 * (a12 * a23 - a22 * a13)
        ) / det
        e2 = np.exp(-((xs - m2) ** 2) / (2.0 * s2_ * s2_))
        r2 = ys - nr2 * e2
        sse1 = float(np.sum(r2 * r2))
        if math.isfinite(sse1) and sse1 <= sse0:
            norm, mean, sigma = float(nr2), float(m2), float(s2_)
    fit = norm * np.exp(-((xs - mean) ** 2) / (2 * sigma * sigma))
    fitted = spark.createDataFrame(
        [(float(xv), float(fv)) for xv, fv in zip(xs, fit)],
        "x double, fit double",
    )
    return (norm, mean, sigma), fitted


def bicubic_midpoints(
    df: DataFrame, x: str, y: str, v: str
) -> DataFrame:
    """`predict(bicubicSpline(grid), midpoints)` semantics
    (io/eval/BicubicSplineEvaluator.java, commons-math
    PiecewiseBicubicSplineInterpolator — the bicubic polynomial through
    the 4×4 surrounding grid values) over a UNIFORM integer grid,
    evaluated at every fully-interior cell center (x+0.5, y+0.5).

    At a uniform-grid midpoint the 4×4 Lagrange tensor product collapses
    to constant weights w = [-1/16, 9/16, 9/16, -1/16] in each axis, so
    the interpolant is a 16-term weighted sum — reproduced EXACTLY for
    any polynomial up to cubic in each variable (pytest-verified).

    Distributed shape: the 16 (di, dj, weight) offsets are a literal
    broadcast; one join keys each grid value to the midpoints it serves
    and one groupBy (map-side combine) sums the 16 contributions — the
    shuffle carries one row per interior midpoint, never a matrix.
    Midpoints missing any of their 16 neighbours are dropped (the
    reference likewise only interpolates strictly inside the grid)."""
    w1 = {-1: -1.0 / 16, 0: 9.0 / 16, 1: 9.0 / 16, 2: -1.0 / 16}
    offs = df.sparkSession.createDataFrame(
        [(di, dj, w1[di] * w1[dj]) for di in w1 for dj in w1],
        "di int, dj int, w double",
    )
    g = df.select(F.col(x).cast("int").alias("_gx"),
                  F.col(y).cast("int").alias("_gy"),
                  F.col(v).cast("double").alias("_v"))
    contrib = g.crossJoin(F.broadcast(offs)).select(
        (F.col("_gx") - F.col("di")).alias("cx"),
        (F.col("_gy") - F.col("dj")).alias("cy"),
        (F.col("_v") * F.col("w")).alias("wv"),
    )
    return (
        contrib.groupBy("cx", "cy")
        .agg(F.sum("wv").alias("value"), F.count("*").alias("_n"))
        .where(F.col("_n") == 16)
        .select(
            (F.col("cx") + F.lit(0.5)).alias("xm"),
            (F.col("cy") + F.lit(0.5)).alias("ym"),
            "value",
        )
    )
