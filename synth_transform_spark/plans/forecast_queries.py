"""Forecasting and autocorrelation diagnostics over the daily event
series: smoothing forecasts, backtests, residual tests, (P)ACF, Granger.
Split from stats/timeseries (round 6).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..sources.readers import load_table
from .registry import register


# ---------------------------------------------------------------------------
# q247 — autocorrelation function (ACF) of the per-type daily event-count
# series at lags 1..7: the diagnostic behind "does volume have weekly
# memory", feeding seasonality choices (q220's period) and anomaly-window
# sizing. Standard estimator r_k = Σ_{t>k}(c_t−μ)(c_{t−k}−μ) / Σ(c_t−μ)².
# Parity: multiply through by n² so every term is integer — with
# a_t = n·c_t − S (S = Σc, both integers) r_k = Σ a_t·a_{t−k} / Σ a_t²
# exactly, no float mean, no summation-order ulps; the single division
# happens once at the end on integer operands.
# Scale: the corpus collapses FIRST to (type, day) counts — one bounded
# aggregate (#types × #days rows ≤ calendar); per-type row numbers are
# per-type-partitioned windows; the lag alignment is an equi-join of the
# tiny series to itself on (type, rn−k); (n, S) ride a per-type broadcast.
# Nothing downstream of the first aggregate scales with event volume.
# ---------------------------------------------------------------------------
_ACF_MAX_LAG = 7


@register(
    "q247_acf",
    oracle=f"""
WITH daily AS (
    SELECT event_type, DATE_TRUNC('day', ts) AS day, COUNT(*) AS c
    FROM events GROUP BY event_type, DATE_TRUNC('day', ts)
),
numbered AS (
    SELECT event_type, c,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
    FROM daily
),
stats AS (
    SELECT event_type, COUNT(*) AS n, SUM(c) AS s FROM numbered
    GROUP BY event_type
),
centered AS (
    SELECT nb.event_type, nb.rn, st.n, nb.c * st.n - st.s AS a
    FROM numbered nb JOIN stats st ON st.event_type = nb.event_type
),
dens AS (
    SELECT event_type, MAX(n) AS n_days, SUM(a * a) AS den FROM centered
    GROUP BY event_type
),
nums AS (
    SELECT cur.event_type, lg.lag, SUM(cur.a * prev.a) AS num
    FROM centered cur
    JOIN (SELECT UNNEST(GENERATE_SERIES(1, {_ACF_MAX_LAG})) AS lag) lg ON TRUE
    JOIN centered prev
      ON prev.event_type = cur.event_type AND prev.rn = cur.rn - lg.lag
    GROUP BY cur.event_type, lg.lag
)
SELECT nm.event_type, CAST(nm.lag AS BIGINT) AS lag,
       ROUND(CAST(nm.num AS DOUBLE) / dn.den, 4) AS acf,
       CAST(dn.n_days AS BIGINT) AS n_days
FROM nums nm JOIN dens dn ON dn.event_type = nm.event_type
ORDER BY nm.event_type, lag
""",
    tags=("temporal", "W4", "A5"),
)
def q247_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type daily-count autocorrelation at lags 1..7:
    (event_type, lag, acf, n_days). Exact n²-scaled integer algebra — see
    the registration comment."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    numbered = daily.withColumn(
        "rn", F.row_number().over(Window.partitionBy("event_type").orderBy("day"))
    ).select("event_type", "rn", "c")
    stats = numbered.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("c").alias("s")
    )
    centered = numbered.join(F.broadcast(stats), "event_type").select(
        "event_type", "rn", "n", (F.col("c") * F.col("n") - F.col("s")).alias("a")
    )
    dens = centered.groupBy("event_type").agg(
        F.max("n").alias("n_days"), F.sum(F.col("a") * F.col("a")).alias("den")
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    cur = centered.crossJoin(F.broadcast(lags))
    prev = centered.select(
        F.col("event_type").alias("p_type"),
        F.col("rn").alias("p_rn"),
        F.col("a").alias("p_a"),
    )
    nums = (
        cur.join(
            prev,
            (F.col("p_type") == F.col("event_type"))
            & (F.col("p_rn") == F.col("rn") - F.col("lag")),
        )
        .groupBy("event_type", "lag")
        .agg(F.sum(F.col("a") * F.col("p_a")).alias("num"))
    )
    return (
        nums.join(F.broadcast(dens), "event_type")
        .select(
            "event_type",
            F.col("lag").cast("long").alias("lag"),
            F.round(F.col("num").cast("double") / F.col("den"), 4).alias("acf"),
            F.col("n_days").cast("long").alias("n_days"),
        )
        .orderBy("event_type", "lag")
    )


# --------------------------------------------------------------------------
# q272 - rolling-origin forecast backtest: evaluate the two standard
# zero-parameter baselines (seasonal-naive "same day last week" and
# naive-1 "yesterday") on every day of the series, per event type - the
# relation a forecasting pipeline materialises to decide whether a model
# beats the naives at all (and the denominator of every MASE).
# Parity: forecasts are equi-joins on (type, day - 7)/(type, day - 1);
# absolute errors are integer; the MAEs are single divisions and skill is
# one arithmetic expression over them, 4dp.
# Scale: corpus -> per-(type, day) counts first (one keyed aggregate with
# map-side partials); both forecast joins and the eval aggregate run on
# the calendar-bounded daily relation.
# --------------------------------------------------------------------------
@register(
    "q272_forecast_backtest",
    oracle="""
WITH daily AS (
    SELECT event_type,
           CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
eval AS (
    SELECT d.event_type,
           ABS(d.c - s.c) AS e_snaive,
           ABS(d.c - n.c) AS e_naive1
    FROM daily d
    JOIN daily s ON s.event_type = d.event_type AND s.day + 7 = d.day
    JOIN daily n ON n.event_type = d.event_type AND n.day + 1 = d.day
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_eval,
       ROUND(CAST(SUM(e_snaive) AS DOUBLE) / COUNT(*), 4) AS mae_snaive,
       ROUND(CAST(SUM(e_naive1) AS DOUBLE) / COUNT(*), 4) AS mae_naive1,
       ROUND(1.0 - (CAST(SUM(e_snaive) AS DOUBLE) / COUNT(*))
                   / (CAST(SUM(e_naive1) AS DOUBLE) / COUNT(*)), 4)
           AS skill_vs_naive1
FROM eval
GROUP BY event_type
ORDER BY event_type
""",
    tags=("forecast-eval", "A12", "J14"),
)
def q272_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive vs naive-1 backtest of daily counts per type:
    (event_type, n_eval, mae_snaive, mae_naive1, skill_vs_naive1)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    d = daily.select("event_type", "day", F.col("c").alias("c"))
    s = daily.select(
        "event_type", F.date_add("day", 7).alias("day"), F.col("c").alias("cs")
    )
    n = daily.select(
        "event_type", F.date_add("day", 1).alias("day"), F.col("c").alias("cn")
    )
    ev = (
        d.join(s, ["event_type", "day"])
        .join(n, ["event_type", "day"])
        .select(
            "event_type",
            F.abs(F.col("c") - F.col("cs")).alias("e_snaive"),
            F.abs(F.col("c") - F.col("cn")).alias("e_naive1"),
        )
    )
    mae_s = F.sum("e_snaive").cast("double") / F.count(F.lit(1))
    mae_n = F.sum("e_naive1").cast("double") / F.count(F.lit(1))
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_eval"),
            F.round(mae_s, 4).alias("mae_snaive"),
            F.round(mae_n, 4).alias("mae_naive1"),
            F.round(1.0 - mae_s / mae_n, 4).alias("skill_vs_naive1"),
        )
        .select(
            "event_type",
            F.col("n_eval").cast("long").alias("n_eval"),
            "mae_snaive",
            "mae_naive1",
            "skill_vs_naive1",
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q339 - Ljung-Box portmanteau test of the daily event-count series:
# autocorrelation rho_k at lags 1..7 plus the cumulative Q_k statistic
# (n(n+2) * sum_{i<=k} rho_i^2/(n-i)). The "is this series white noise"
# gate that decides whether q272's backtests / q307's lead-lag reads are
# structure or nothing.
# Parity: daily counts are exact integers; centering uses d_t = n*x_t - S
# (exact, no rational mean); lag products and the denominator are exact
# integer sums; each rho is one double ratio; the cumulative sum is
# frozen per term (round(1e8 * rho^2/(n-k))) so the 7-term accumulation
# is integer, then Q is one double expression, 4dp.
# Scale: one keyed aggregate to the calendar-bounded daily relation
# (~tens of rows at any SF); the lag windows run on that bounded series.
# --------------------------------------------------------------------------
@register(
    "q339_ljung_box",
    oracle="""
WITH daily AS (
    SELECT CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY 1
),
ranked AS (
    SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t
    FROM daily
),
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
    FROM ranked
),
d AS (
    SELECT r.t, tot.n, tot.n * r.x - tot.s AS dv
    FROM ranked r CROSS JOIN tot
),
den AS (
    SELECT CAST(SUM(dv * dv) AS BIGINT) AS dd FROM d
),
lagged AS (
    SELECT t, n, dv,
           LAG(dv, 1) OVER (ORDER BY t) AS l1,
           LAG(dv, 2) OVER (ORDER BY t) AS l2,
           LAG(dv, 3) OVER (ORDER BY t) AS l3,
           LAG(dv, 4) OVER (ORDER BY t) AS l4,
           LAG(dv, 5) OVER (ORDER BY t) AS l5,
           LAG(dv, 6) OVER (ORDER BY t) AS l6,
           LAG(dv, 7) OVER (ORDER BY t) AS l7
    FROM d
),
nums AS (
    SELECT k, num, n FROM (
        SELECT 1 AS k, CAST(SUM(dv * l1) AS BIGINT) AS num, MAX(n) AS n FROM lagged
        UNION ALL
        SELECT 2, CAST(SUM(dv * l2) AS BIGINT), MAX(n) FROM lagged
        UNION ALL
        SELECT 3, CAST(SUM(dv * l3) AS BIGINT), MAX(n) FROM lagged
        UNION ALL
        SELECT 4, CAST(SUM(dv * l4) AS BIGINT), MAX(n) FROM lagged
        UNION ALL
        SELECT 5, CAST(SUM(dv * l5) AS BIGINT), MAX(n) FROM lagged
        UNION ALL
        SELECT 6, CAST(SUM(dv * l6) AS BIGINT), MAX(n) FROM lagged
        UNION ALL
        SELECT 7, CAST(SUM(dv * l7) AS BIGINT), MAX(n) FROM lagged
    ) u
),
rho AS (
    SELECT k, n,
           CAST(num AS DOUBLE) / den.dd AS r,
           CAST(ROUND(100000000.0 * (CAST(num AS DOUBLE) / den.dd)
                      * (CAST(num AS DOUBLE) / den.dd) / (n - k))
                AS BIGINT) AS term
    FROM nums CROSS JOIN den
),
cum AS (
    SELECT k, n, r,
           CAST(SUM(term) OVER (ORDER BY k
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT) AS cterm
    FROM rho
)
SELECT CAST(k AS BIGINT) AS lag, ROUND(r, 4) AS rho,
       ROUND(CAST(n AS DOUBLE) * (n + 2) * (cterm / 100000000.0), 4) AS q_stat
FROM cum
ORDER BY lag
""",
    tags=("timeseries", "A12", "W2"),
)
def q339_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box autocorrelation test of daily event counts, lags 1-7:
    (lag, rho, q_stat)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    # Bounded calendar series (~tens of rows at any SF): the global
    # window runs on the post-aggregate relation, never raw rows.
    ranked = daily.select(
        "x", F.row_number().over(Window.orderBy("day")).alias("t")
    )
    tot = ranked.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
    )
    d = ranked.crossJoin(F.broadcast(tot)).select(
        "t", "n", (F.col("n") * F.col("x") - F.col("s")).alias("dv")
    )
    den = d.agg(F.sum(F.col("dv") * F.col("dv")).alias("dd"))
    wt = Window.orderBy("t")
    lag_cols = [
        F.lag("dv", k).over(wt).alias(f"l{k}") for k in range(1, 8)
    ]
    lagged = d.select("t", "n", "dv", *lag_cols)
    nums = None
    for k in range(1, 8):
        part = lagged.agg(
            F.lit(k).alias("k"),
            F.sum(F.col("dv") * F.col(f"l{k}")).alias("num"),
            F.max("n").alias("n"),
        )
        nums = part if nums is None else nums.unionByName(part)
    r = F.col("num").cast("double") / F.col("dd")
    rho = nums.crossJoin(F.broadcast(den)).select(
        "k",
        "n",
        r.alias("r"),
        F.round(100000000.0 * r * r / (F.col("n") - F.col("k")))
        .cast("long")
        .alias("term"),
    )
    wk = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    cum = rho.select(
        "k", "n", "r", F.sum("term").over(wk).cast("long").alias("cterm")
    )
    return cum.select(
        F.col("k").cast("long").alias("lag"),
        F.round("r", 4).alias("rho"),
        F.round(
            F.col("n").cast("double")
            * (F.col("n") + 2)
            * (F.col("cterm") / 100000000.0),
            4,
        ).alias("q_stat"),
    ).orderBy("lag")


# --------------------------------------------------------------------------
# q340 - Durbin-Watson autocorrelation-of-residuals statistic for the
# daily event-count linear trend: fit count ~ a + b*t by exact OLS
# (q298's integer sufficient statistics), then DW = sum (e_t - e_{t-1})^2
# / sum e_t^2 over the residual series. DW ~ 2 means the trend residuals
# are independent; DW << 2 means q294/q271's trend reads ride on serial
# correlation the OLS standard errors ignore.
# Parity: OLS slope/intercept are single double expressions over exact
# integer sums; residuals are frozen to round(1e6*e) per row (identical
# expression both engines), so both DW sums are exact integers; the final
# ratio is one double, 4dp.
# Scale: one keyed aggregate to the bounded daily relation; residual
# algebra runs on ~tens of rows.
# --------------------------------------------------------------------------
@register(
    "q340_durbin_watson",
    oracle="""
WITH daily AS (
    SELECT CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY 1
),
ranked AS (
    SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t
    FROM daily
),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(t) AS BIGINT) AS st,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(t * t) AS BIGINT) AS stt,
           CAST(SUM(t * x) AS BIGINT) AS stx
    FROM ranked
),
fit AS (
    SELECT n,
           CAST(n * stx - st * sx AS DOUBLE)
               / CAST(n * stt - st * st AS DOUBLE) AS slope,
           (CAST(sx AS DOUBLE)
            - (CAST(n * stx - st * sx AS DOUBLE)
               / CAST(n * stt - st * st AS DOUBLE)) * st) / n AS icept
    FROM s
),
resid AS (
    SELECT r.t,
           CAST(ROUND(1000000.0 * (r.x - (f.icept + f.slope * r.t)))
                AS BIGINT) AS e
    FROM ranked r CROSS JOIN fit f
),
lagged AS (
    SELECT e, LAG(e, 1) OVER (ORDER BY t) AS ep FROM resid
),
dw AS (
    SELECT CAST(SUM(CASE WHEN ep IS NOT NULL
                         THEN (e - ep) * (e - ep) END) AS BIGINT) AS num,
           CAST(SUM(e * e) AS BIGINT) AS den
    FROM lagged
)
SELECT f.n AS n_days, ROUND(f.slope, 4) AS slope,
       ROUND(CAST(d.num AS DOUBLE) / d.den, 4) AS dw,
       ROUND(1.0 - (CAST(d.num AS DOUBLE) / d.den) / 2.0, 4) AS rho1_approx
FROM fit f CROSS JOIN dw d
""",
    tags=("timeseries", "A12"),
)
def q340_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic of daily-count trend residuals:
    (n_days, slope, dw, rho1_approx)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    ranked = daily.select(
        "x", F.row_number().over(Window.orderBy("day")).alias("t")
    )
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("st"),
        F.sum("x").alias("sx"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum(F.col("t") * F.col("x")).alias("stx"),
    )
    slope = (
        F.col("n") * F.col("stx") - F.col("st") * F.col("sx")
    ).cast("double") / (
        F.col("n") * F.col("stt") - F.col("st") * F.col("st")
    ).cast("double")
    fit = s.select(
        "n",
        slope.alias("slope"),
        (
            (F.col("sx").cast("double") - slope * F.col("st")) / F.col("n")
        ).alias("icept"),
    )
    resid = ranked.crossJoin(F.broadcast(fit)).select(
        "t",
        F.round(
            1000000.0
            * (F.col("x") - (F.col("icept") + F.col("slope") * F.col("t")))
        )
        .cast("long")
        .alias("e"),
    )
    lagged = resid.select(
        "e", F.lag("e", 1).over(Window.orderBy("t")).alias("ep")
    )
    dw = lagged.agg(
        F.sum(
            F.when(
                F.col("ep").isNotNull(),
                (F.col("e") - F.col("ep")) * (F.col("e") - F.col("ep")),
            )
        ).alias("num"),
        F.sum(F.col("e") * F.col("e")).alias("den"),
    )
    ratio = F.col("num").cast("double") / F.col("den")
    return (
        fit.select("n", "slope")
        .crossJoin(F.broadcast(dw))
        .select(
            F.col("n").cast("long").alias("n_days"),
            F.round("slope", 4).alias("slope"),
            F.round(ratio, 4).alias("dw"),
            F.round(1.0 - ratio / 2.0, 4).alias("rho1_approx"),
        )
    )


# --------------------------------------------------------------------------
# q341 - simple-exponential-smoothing one-step-ahead forecast of the
# daily event-count series with alpha = 0.5: for each day t >= 2 the
# forecast is the smoothed level of days 1..t-1, unrolled to the closed
# form l_m = sum_j w_{m,j} x_j with w_{m,1} = 0.5^(m-1) and
# w_{m,j>=2} = 0.5^(m-j+1). The monitooring baseline q272's backtest
# compares against.
# Parity: alpha = 0.5 makes every weight an exact power of two, so each
# term x_j * w is an exact double; terms are frozen to round(1e6*term)
# and integer-summed (no cross-row float accumulation); the forecast and
# error are rationals over those integers, 4dp.
# Scale: the pair join is over the bounded daily relation (~tens of
# rows) — quadratic in days, constant in corpus size.
# --------------------------------------------------------------------------
@register(
    "q341_ses_forecast",
    oracle="""
WITH daily AS (
    SELECT CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY 1
),
ranked AS (
    SELECT day, x, CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t
    FROM daily
),
levels AS (
    SELECT a.t AS m,
           CAST(SUM(CAST(ROUND(1000000.0 * b.x *
                CASE WHEN b.t = 1 THEN POW(0.5, a.t - 1)
                     ELSE POW(0.5, a.t - b.t + 1) END) AS BIGINT))
                AS BIGINT) AS l_int
    FROM ranked a JOIN ranked b ON b.t <= a.t
    GROUP BY a.t
)
SELECT r.t, CAST(r.day AS VARCHAR) AS day, r.x,
       CAST(ROUND(l.l_int / 100.0) AS BIGINT) / 10000.0 AS forecast,
       CAST(ROUND((r.x * 1000000 - l.l_int) / 100.0) AS BIGINT) / 10000.0
           AS err
FROM ranked r
JOIN levels l ON l.m = r.t - 1
ORDER BY r.t
""",
    tags=("timeseries", "W2", "A12"),
)
def q341_ses_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential-smoothing (alpha=0.5) one-step daily-count forecasts:
    (t, day, x, forecast, err)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    ranked = daily.select(
        "day",
        "x",
        F.row_number().over(Window.orderBy("day")).cast("long").alias("t"),
    )
    a = ranked.select(F.col("t").alias("m"))
    b = ranked.select(F.col("t").alias("j"), F.col("x").alias("xj"))
    w = F.when(
        F.col("j") == 1, F.pow(F.lit(0.5), F.col("m") - 1)
    ).otherwise(F.pow(F.lit(0.5), F.col("m") - F.col("j") + 1))
    levels = (
        a.join(b, F.col("j") <= F.col("m"))
        .groupBy("m")
        .agg(
            F.sum(
                F.round(1000000.0 * F.col("xj") * w).cast("long")
            ).alias("l_int")
        )
    )
    return (
        ranked.join(
            levels, F.col("m") == F.col("t") - 1
        )
        .select(
            "t",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "x",
            # round at integer scale: l_int/100 lands exactly on .5 at
            # half-way cases (exactly representable), so both engines
            # agree; rounding l_int/1e6 to 4dp does not.
            (
                F.round(F.col("l_int") / 100.0).cast("long") / 10000.0
            ).alias("forecast"),
            (
                F.round(
                    (F.col("x") * 1000000 - F.col("l_int")) / 100.0
                ).cast("long")
                / 10000.0
            ).alias("err"),
        )
        .orderBy("t")
    )


# --------------------------------------------------------------------------
# q348 - pairwise Granger-causality screen over the daily event-count
# series: does yesterday's CLICK count improve the prediction of today's
# PURCHASE count beyond purchase's own lag? Unrestricted OLS
# y_t ~ 1 + y_{t-1} + x_{t-1} vs restricted y_t ~ 1 + y_{t-1}; the
# F statistic ((RSS_r - RSS_u)/1) / (RSS_u/(n-3)) is the Granger test.
# The causal-screen companion to q307's lead-lag correlations (which
# measure association at a lag; this one tests incremental predictive
# value).
# Parity: both daily series are exact integers; centering uses the
# n-scaled d = n*v - S trick (q339), so every sufficient statistic
# (Suu, Svv, Suv, Swu, Swv, Sww) is an exact integer accumulated in
# DECIMAL(38,0)/HUGEINT (n-scaled squares pass 2^63 at large SF);
# b1/b2/RSS/F are one fixed double expression over those integers -
# identical IEEE op sequence on both engines. 4dp.
# Scale: one conditional aggregate collapses the corpus to the
# calendar-bounded daily relation; everything after runs on ~tens of
# rows and three 1-row broadcasts.
# --------------------------------------------------------------------------
@register(
    "q348_granger_causality",
    oracle="""
WITH daily AS (
    SELECT CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS y,
           CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT)
               AS x
    FROM events GROUP BY 1
),
ranked AS (
    SELECT y, x, CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t
    FROM daily
),
rows_ AS (
    SELECT a.y AS yt, b.y AS yl, b.x AS xl
    FROM ranked a JOIN ranked b ON b.t = a.t - 1
),
raw AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(yt) AS BIGINT) AS sw,
           CAST(SUM(yl) AS BIGINT) AS su,
           CAST(SUM(xl) AS BIGINT) AS sv
    FROM rows_
),
cent AS (
    SELECT r.n,
           CAST(SUM(CAST(r.n * w.yl - r.su AS HUGEINT)
                    * CAST(r.n * w.yl - r.su AS HUGEINT)) AS HUGEINT)
               AS suu,
           CAST(SUM(CAST(r.n * w.xl - r.sv AS HUGEINT)
                    * CAST(r.n * w.xl - r.sv AS HUGEINT)) AS HUGEINT)
               AS svv,
           CAST(SUM(CAST(r.n * w.yl - r.su AS HUGEINT)
                    * CAST(r.n * w.xl - r.sv AS HUGEINT)) AS HUGEINT)
               AS suv,
           CAST(SUM(CAST(r.n * w.yt - r.sw AS HUGEINT)
                    * CAST(r.n * w.yl - r.su AS HUGEINT)) AS HUGEINT)
               AS swu,
           CAST(SUM(CAST(r.n * w.yt - r.sw AS HUGEINT)
                    * CAST(r.n * w.xl - r.sv AS HUGEINT)) AS HUGEINT)
               AS swv,
           CAST(SUM(CAST(r.n * w.yt - r.sw AS HUGEINT)
                    * CAST(r.n * w.yt - r.sw AS HUGEINT)) AS HUGEINT)
               AS sww
    FROM rows_ w CROSS JOIN raw r
    GROUP BY r.n
)
SELECT n,
       ROUND((CAST(swu AS DOUBLE) * CAST(svv AS DOUBLE)
              - CAST(swv AS DOUBLE) * CAST(suv AS DOUBLE))
             / (CAST(suu AS DOUBLE) * CAST(svv AS DOUBLE)
                - CAST(suv AS DOUBLE) * CAST(suv AS DOUBLE)), 4) AS b_ylag,
       ROUND((CAST(swv AS DOUBLE) * CAST(suu AS DOUBLE)
              - CAST(swu AS DOUBLE) * CAST(suv AS DOUBLE))
             / (CAST(suu AS DOUBLE) * CAST(svv AS DOUBLE)
                - CAST(suv AS DOUBLE) * CAST(suv AS DOUBLE)), 4) AS b_xlag,
       ROUND(((CAST(sww AS DOUBLE)
               - CAST(swu AS DOUBLE) * CAST(swu AS DOUBLE)
                 / CAST(suu AS DOUBLE))
              - (CAST(sww AS DOUBLE)
                 - (CAST(swu AS DOUBLE)
                    * (CAST(swu AS DOUBLE) * CAST(svv AS DOUBLE)
                       - CAST(swv AS DOUBLE) * CAST(suv AS DOUBLE))
                    + CAST(swv AS DOUBLE)
                      * (CAST(swv AS DOUBLE) * CAST(suu AS DOUBLE)
                         - CAST(swu AS DOUBLE) * CAST(suv AS DOUBLE)))
                   / (CAST(suu AS DOUBLE) * CAST(svv AS DOUBLE)
                      - CAST(suv AS DOUBLE) * CAST(suv AS DOUBLE))))
             / ((CAST(sww AS DOUBLE)
                 - (CAST(swu AS DOUBLE)
                    * (CAST(swu AS DOUBLE) * CAST(svv AS DOUBLE)
                       - CAST(swv AS DOUBLE) * CAST(suv AS DOUBLE))
                    + CAST(swv AS DOUBLE)
                      * (CAST(swv AS DOUBLE) * CAST(suu AS DOUBLE)
                         - CAST(swu AS DOUBLE) * CAST(suv AS DOUBLE)))
                   / (CAST(suu AS DOUBLE) * CAST(svv AS DOUBLE)
                      - CAST(suv AS DOUBLE) * CAST(suv AS DOUBLE)))
                / (n - 3)), 4) AS f_stat
FROM cent
""",
    tags=("timeseries", "ml-eval", "A12"),
)
def q348_granger_causality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger F-test: does the lagged click count improve next-day
    purchase-count prediction? (n, b_ylag, b_xlag, f_stat)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("y"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("x"),
    )
    ranked = daily.select(
        "y", "x", F.row_number().over(Window.orderBy("day")).alias("t")
    )
    a = ranked.select(F.col("t").alias("ta"), F.col("y").alias("yt"))
    b = ranked.select(
        F.col("t").alias("tb"), F.col("y").alias("yl"), F.col("x").alias("xl")
    )
    rows = a.join(b, F.col("tb") == F.col("ta") - 1).select("yt", "yl", "xl")
    raw = rows.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("yt").alias("sw"),
        F.sum("yl").alias("su"),
        F.sum("xl").alias("sv"),
    )
    dec = "decimal(38,0)"
    u = (F.col("n") * F.col("yl") - F.col("su")).cast(dec)
    v = (F.col("n") * F.col("xl") - F.col("sv")).cast(dec)
    w = (F.col("n") * F.col("yt") - F.col("sw")).cast(dec)
    cent = (
        rows.crossJoin(F.broadcast(raw))
        .groupBy("n")
        .agg(
            F.sum(u * u).alias("suu"),
            F.sum(v * v).alias("svv"),
            F.sum(u * v).alias("suv"),
            F.sum(w * u).alias("swu"),
            F.sum(w * v).alias("swv"),
            F.sum(w * w).alias("sww"),
        )
    )
    suu, svv, suv = (
        F.col("suu").cast("double"),
        F.col("svv").cast("double"),
        F.col("suv").cast("double"),
    )
    swu, swv, sww = (
        F.col("swu").cast("double"),
        F.col("swv").cast("double"),
        F.col("sww").cast("double"),
    )
    den = suu * svv - suv * suv
    b1 = (swu * svv - swv * suv) / den
    b2 = (swv * suu - swu * suv) / den
    rss_u = sww - (swu * (swu * svv - swv * suv)
                   + swv * (swv * suu - swu * suv)) / den
    rss_r = sww - swu * swu / suu
    return cent.select(
        F.col("n").cast("long").alias("n"),
        F.round(b1, 4).alias("b_ylag"),
        F.round(b2, 4).alias("b_xlag"),
        F.round((rss_r - rss_u) / (rss_u / (F.col("n") - 3)), 4).alias(
            "f_stat"
        ),
    )


# --------------------------------------------------------------------------
# q349 - partial autocorrelation (PACF) of the daily event-count series
# at lags 1..5 via the Durbin-Levinson recursion, unrolled to a fixed
# chain of scalar transforms on a 1-row relation. The AR-order
# diagnostic that reads q247's ACF correctly ("is lag 3 real signal or
# just lag-1 echo") - the standard Box-Jenkins identification plot.
# Parity: each rho_k is frozen to round(1e8*num/den) over the exact
# n-scaled integer lag sums (q339's centering), so both engines start
# from identical doubles; the recursion itself is the SAME generated
# arithmetic string evaluated as a Spark expression and as DuckDB SQL -
# a fixed IEEE op sequence, bit-identical on identical inputs. 4dp.
# Scale: one aggregate to the calendar-bounded daily relation; the
# recursion runs on one row.
# --------------------------------------------------------------------------
_PACF_LAGS = 5


def _durbin_levinson_selects() -> list[list[tuple[str, str]]]:
    """Unrolled Durbin-Levinson: per level k, the (column, expression)
    pairs computing phi_k1..phi_kk and sig_k from level k-1 and the
    frozen rho columns r1..r5. The SAME strings drive Spark's F.expr and
    the DuckDB CTE chain, so the engines execute identical arithmetic."""
    levels = []
    # level 1
    levels.append([("p1_1", "r1"), ("sig1", "1.0 - r1 * r1")])
    for k in range(2, _PACF_LAGS + 1):
        cols = []
        num = f"r{k} - (" + " + ".join(
            f"p{k - 1}_{j} * r{k - j}" for j in range(1, k)
        ) + ")"
        cols.append((f"p{k}_{k}", f"({num}) / sig{k - 1}"))
        for j in range(1, k):
            cols.append(
                (f"p{k}_{j}", f"p{k - 1}_{j} - (({num}) / sig{k - 1}) * p{k - 1}_{k - j}")
            )
        cols.append(
            (f"sig{k}",
             f"sig{k - 1} * (1.0 - (({num}) / sig{k - 1}) * (({num}) / sig{k - 1}))")
        )
        levels.append(cols)
    return levels


def _pacf_oracle() -> str:
    lag_nums = ",\n".join(
        f"""nums{k} AS (
    SELECT CAST(SUM(a.dv * b.dv) AS BIGINT) AS num
    FROM d a JOIN d b ON b.t = a.t + {k}
)""" for k in range(1, _PACF_LAGS + 1)
    )
    rho_cols = ", ".join(
        f"CAST(ROUND(100000000.0 * nums{k}.num / den.dd) AS BIGINT)"
        f" / 100000000.0 AS r{k}"
        for k in range(1, _PACF_LAGS + 1)
    )
    rho_from = " CROSS JOIN ".join(
        ["den"] + [f"nums{k}" for k in range(1, _PACF_LAGS + 1)]
    )
    lev_ctes = []
    prev = "rho"
    for i, cols in enumerate(_durbin_levinson_selects(), start=1):
        exprs = ", ".join(f"{e} AS {c}" for c, e in cols)
        lev_ctes.append(f"lev{i} AS (SELECT *, {exprs} FROM {prev})")
        prev = f"lev{i}"
    pacf_rows = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS BIGINT) AS lag, ROUND(r{k}, 4) AS rho,"
        f" ROUND(p{k}_{k}, 4) AS pacf FROM lev{_PACF_LAGS}"
        for k in range(1, _PACF_LAGS + 1)
    )
    return f"""
WITH daily AS (
    SELECT CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY 1
),
ranked AS (
    SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t
    FROM daily
),
s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx
      FROM ranked),
d AS (
    SELECT r.t, r.x * s.n - s.sx AS dv FROM ranked r CROSS JOIN s
),
den AS (SELECT CAST(SUM(dv * dv) AS BIGINT) AS dd FROM d),
{lag_nums},
rho AS (SELECT {rho_cols} FROM {rho_from}),
{", ".join(lev_ctes)}
{pacf_rows}
ORDER BY lag
"""


@register(
    "q349_pacf",
    oracle=_pacf_oracle(),
    tags=("timeseries", "A12", "W2"),
)
def q349_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of daily event counts, lags 1-5 via
    unrolled Durbin-Levinson: (lag, rho, pacf)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    ranked = daily.select(
        "x", F.row_number().over(Window.orderBy("day")).alias("t")
    )
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx")
    )
    d = ranked.crossJoin(F.broadcast(s)).select(
        "t", (F.col("x") * F.col("n") - F.col("sx")).alias("dv")
    )
    den = d.agg(F.sum(F.col("dv") * F.col("dv")).alias("dd"))
    wt = Window.orderBy("t")
    lagged = d.select(
        "dv",
        *[F.lead("dv", k).over(wt).alias(f"l{k}")
          for k in range(1, _PACF_LAGS + 1)],
    )
    nums = lagged.agg(
        *[F.sum(F.col("dv") * F.col(f"l{k}")).alias(f"num{k}")
          for k in range(1, _PACF_LAGS + 1)]
    )
    rho = nums.crossJoin(F.broadcast(den)).select(
        *[
            (
                F.round(100000000.0 * F.col(f"num{k}") / F.col("dd"))
                .cast("long")
                / 100000000.0
            ).alias(f"r{k}")
            for k in range(1, _PACF_LAGS + 1)
        ]
    )
    lev = rho
    for cols in _durbin_levinson_selects():
        lev = lev.select("*", *[F.expr(e).alias(c) for c, e in cols])
    out = None
    for k in range(1, _PACF_LAGS + 1):
        row = lev.select(
            F.lit(k).cast("long").alias("lag"),
            F.round(F.col(f"r{k}"), 4).alias("rho"),
            F.round(F.col(f"p{k}_{k}"), 4).alias("pacf"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("lag")


# --------------------------------------------------------------------------
# q359 - forecast-accuracy scorecard: MAE / MAPE / sMAPE / MASE of the
# q341 exponential-smoothing one-step forecasts NEXT TO the naive-1
# (yesterday's value) baseline over the daily event-count series. MASE
# (error scaled by the naive MAE) is the metric that makes the two rows
# directly comparable - MASE < 1 means the model beats persistence.
# Parity: the SES level is q341's exact integer recurrence (frozen
# per-term weights summed as integers); every per-day ratio term
# (|e|/x, 2|e|/(x+f)) is frozen to round(1e8*term) before the per-model
# sum; MAE sums are exact micro-integers; MASE is one double ratio. 4dp.
# Scale: collapse-first to the calendar-bounded daily relation; the SES
# pair join is quadratic in DAYS, constant in corpus size.
# --------------------------------------------------------------------------
@register(
    "q359_forecast_eval",
    oracle="""
WITH daily AS (
    SELECT CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY 1
),
ranked AS (
    SELECT day, x, CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t
    FROM daily
),
levels AS (
    SELECT a.t AS m,
           CAST(SUM(CAST(ROUND(1000000.0 * b.x *
                CASE WHEN b.t = 1 THEN POW(0.5, a.t - 1)
                     ELSE POW(0.5, a.t - b.t + 1) END) AS BIGINT))
                AS BIGINT) AS l_int
    FROM ranked a JOIN ranked b ON b.t <= a.t
    GROUP BY a.t
),
fc AS (
    SELECT 'ses' AS model, r.t, r.x,
           ABS(r.x * 1000000 - l.l_int) AS ae_micro,
           CAST(ROUND(100000000.0 * ABS(r.x * 1000000 - l.l_int)
                / (1000000.0 * r.x)) AS BIGINT) AS ape_t,
           CAST(ROUND(100000000.0 * 2.0 * ABS(r.x * 1000000 - l.l_int)
                / (1000000.0 * r.x + l.l_int)) AS BIGINT) AS sape_t
    FROM ranked r JOIN levels l ON l.m = r.t - 1
    UNION ALL
    SELECT 'naive', r.t, r.x,
           ABS(r.x - p.x) * 1000000 AS ae_micro,
           CAST(ROUND(100000000.0 * ABS(r.x - p.x)
                / CAST(r.x AS DOUBLE)) AS BIGINT) AS ape_t,
           CAST(ROUND(100000000.0 * 2.0 * ABS(r.x - p.x)
                / CAST(r.x + p.x AS DOUBLE)) AS BIGINT) AS sape_t
    FROM ranked r JOIN ranked p ON p.t = r.t - 1
),
agg AS (
    SELECT model, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(ae_micro) AS BIGINT) AS sae,
           CAST(SUM(ape_t) AS BIGINT) AS sape_sum,
           CAST(SUM(sape_t) AS BIGINT) AS ssape_sum
    FROM fc GROUP BY model
),
nmae AS (
    SELECT CAST(sae AS DOUBLE) / n AS naive_mae FROM agg
    WHERE model = 'naive'
)
SELECT a.model, a.n,
       ROUND(a.sae / 1000000.0 / a.n, 4) AS mae,
       ROUND(a.sape_sum / 100000000.0 / a.n, 4) AS mape,
       ROUND(a.ssape_sum / 100000000.0 / a.n, 4) AS smape,
       ROUND((CAST(a.sae AS DOUBLE) / a.n) / nm.naive_mae, 4) AS mase
FROM agg a CROSS JOIN nmae nm
ORDER BY a.model
""",
    tags=("timeseries", "ml-eval", "A12"),
)
def q359_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAE/MAPE/sMAPE/MASE of SES vs naive-1 daily-count forecasts:
    (model, n, mae, mape, smape, mase)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    ranked = daily.select(
        "day",
        "x",
        F.row_number().over(Window.orderBy("day")).cast("long").alias("t"),
    )
    a = ranked.select(F.col("t").alias("m"))
    b = ranked.select(F.col("t").alias("j"), F.col("x").alias("xj"))
    w = F.when(
        F.col("j") == 1, F.pow(F.lit(0.5), F.col("m") - 1)
    ).otherwise(F.pow(F.lit(0.5), F.col("m") - F.col("j") + 1))
    levels = (
        a.join(b, F.col("j") <= F.col("m"))
        .groupBy("m")
        .agg(
            F.sum(
                F.round(1000000.0 * F.col("xj") * w).cast("long")
            ).alias("l_int")
        )
    )
    ses = ranked.join(levels, F.col("m") == F.col("t") - 1).select(
        F.lit("ses").alias("model"),
        "x",
        F.abs(F.col("x") * 1000000 - F.col("l_int")).alias("ae_micro"),
        F.round(
            100000000.0
            * F.abs(F.col("x") * 1000000 - F.col("l_int"))
            / (1000000.0 * F.col("x"))
        )
        .cast("long")
        .alias("ape_t"),
        F.round(
            100000000.0
            * 2.0
            * F.abs(F.col("x") * 1000000 - F.col("l_int"))
            / (1000000.0 * F.col("x") + F.col("l_int"))
        )
        .cast("long")
        .alias("sape_t"),
    )
    prev = ranked.select(
        (F.col("t") + 1).alias("t"), F.col("x").alias("px")
    )
    naive = ranked.join(prev, "t").select(
        F.lit("naive").alias("model"),
        "x",
        (F.abs(F.col("x") - F.col("px")) * 1000000).alias("ae_micro"),
        F.round(
            100000000.0
            * F.abs(F.col("x") - F.col("px"))
            / F.col("x").cast("double")
        )
        .cast("long")
        .alias("ape_t"),
        F.round(
            100000000.0
            * 2.0
            * F.abs(F.col("x") - F.col("px"))
            / (F.col("x") + F.col("px")).cast("double")
        )
        .cast("long")
        .alias("sape_t"),
    )
    agg = (
        ses.unionByName(naive)
        .groupBy("model")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("ae_micro").alias("sae"),
            F.sum("ape_t").alias("sape_sum"),
            F.sum("sape_t").alias("ssape_sum"),
        )
    )
    nmae = agg.filter(F.col("model") == "naive").select(
        (F.col("sae").cast("double") / F.col("n")).alias("naive_mae")
    )
    return (
        agg.crossJoin(F.broadcast(nmae))
        .select(
            "model",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("sae") / 1000000.0 / F.col("n"), 4).alias("mae"),
            F.round(
                F.col("sape_sum") / 100000000.0 / F.col("n"), 4
            ).alias("mape"),
            F.round(
                F.col("ssape_sum") / 100000000.0 / F.col("n"), 4
            ).alias("smape"),
            F.round(
                (F.col("sae").cast("double") / F.col("n"))
                / F.col("naive_mae"),
                4,
            ).alias("mase"),
        )
        .orderBy("model")
    )


# --------------------------------------------------------------------------
# q393 - Brown's double exponential smoothing (linear-trend forecast)
# of the daily event-count series: SES applied twice (alpha = 0.5),
# level a = 2s' - s'', trend b = (alpha/(1-alpha))(s' - s'') = s' - s'',
# one-step forecast = a + b = 3s' - 2s''. The trend-aware upgrade of
# q341's SES (which lags any drifting series by design).
# Parity: the q341 freezing discipline applied twice - the first-pass
# smoothed values are frozen to micro-ints (round(1e6*x*w) summed over
# the closed-form SES weights), the second pass smooths THOSE integers
# (round(w*s1)), so both engines walk identical integer vectors; the
# final /100-then-/1e4 rounding lands half-way cases on exactly
# representable values.
# Scale: corpus collapses to the daily relation; both smoothing passes
# are pair joins quadratic in DAYS (30^2 rows), constant in corpus size.
# --------------------------------------------------------------------------
@register(
    "q393_brown_double_smoothing",
    oracle="""
WITH daily AS (
    SELECT CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY 1
),
ranked AS (
    SELECT day, x, CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t
    FROM daily
),
s1 AS (
    SELECT a.t AS m,
           CAST(SUM(CAST(ROUND(1000000.0 * b.x *
                CASE WHEN b.t = 1 THEN POW(0.5, a.t - 1)
                     ELSE POW(0.5, a.t - b.t + 1) END) AS BIGINT))
                AS BIGINT) AS s1_int
    FROM ranked a JOIN ranked b ON b.t <= a.t
    GROUP BY a.t
),
s2 AS (
    SELECT a.m AS m,
           CAST(SUM(CAST(ROUND(b.s1_int *
                CASE WHEN b.m = 1 THEN POW(0.5, a.m - 1)
                     ELSE POW(0.5, a.m - b.m + 1) END) AS BIGINT))
                AS BIGINT) AS s2_int
    FROM s1 a JOIN s1 b ON b.m <= a.m
    GROUP BY a.m
)
SELECT r.t, CAST(r.day AS VARCHAR) AS day, r.x,
       CAST(ROUND((2 * s1.s1_int - s2.s2_int) / 100.0) AS BIGINT) / 10000.0
           AS level,
       CAST(ROUND((s1.s1_int - s2.s2_int) / 100.0) AS BIGINT) / 10000.0
           AS trend,
       CAST(ROUND((3 * s1.s1_int - 2 * s2.s2_int) / 100.0) AS BIGINT)
           / 10000.0 AS forecast,
       CAST(ROUND((r.x * 1000000 - (3 * prev1.s1_int - 2 * prev2.s2_int))
                  / 100.0) AS BIGINT) / 10000.0 AS err
FROM ranked r
JOIN s1 ON s1.m = r.t
JOIN s2 ON s2.m = r.t
JOIN s1 prev1 ON prev1.m = r.t - 1
JOIN s2 prev2 ON prev2.m = r.t - 1
ORDER BY r.t
""",
    tags=("timeseries", "forecast", "A12"),
)
def q393_brown_double_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown's linear (double) exponential smoothing of daily counts:
    (t, day, x, level, trend, forecast, err) - forecast is one-step-ahead
    (from t-1), so err rows need t >= 2."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    ranked = daily.select(
        "day",
        "x",
        F.row_number().over(Window.orderBy("day")).cast("long").alias("t"),
    )

    def _ses_weight(m, j):
        return F.when(j == 1, F.pow(F.lit(0.5), m - 1)).otherwise(
            F.pow(F.lit(0.5), m - j + 1)
        )

    a = ranked.select(F.col("t").alias("m"))
    b = ranked.select(F.col("t").alias("j"), F.col("x").alias("xj"))
    s1 = (
        a.join(b, F.col("j") <= F.col("m"))
        .groupBy("m")
        .agg(
            F.sum(
                F.round(
                    1000000.0
                    * F.col("xj")
                    * _ses_weight(F.col("m"), F.col("j"))
                ).cast("long")
            ).alias("s1_int")
        )
    )
    a2 = s1.select(F.col("m").alias("m2"))
    b2 = s1.select(F.col("m").alias("j2"), F.col("s1_int").alias("s1j"))
    s2 = (
        a2.join(b2, F.col("j2") <= F.col("m2"))
        .groupBy("m2")
        .agg(
            F.sum(
                F.round(
                    F.col("s1j") * _ses_weight(F.col("m2"), F.col("j2"))
                ).cast("long")
            ).alias("s2_int")
        )
    )
    cur = ranked.join(s1, F.col("m") == F.col("t")).join(
        s2, F.col("m2") == F.col("t")
    )
    prev = (
        s1.select(F.col("m").alias("pm"), F.col("s1_int").alias("p1"))
        .join(
            s2.select(F.col("m2").alias("pm2"), F.col("s2_int").alias("p2")),
            F.col("pm") == F.col("pm2"),
        )
        .select("pm", "p1", "p2")
    )

    def _q4(col):
        # /100 then /1e4: half-way cases land on exactly representable
        # values (the q341 rounding discipline)
        return F.round(col / 100.0).cast("long") / 10000.0

    return (
        cur.join(prev, F.col("pm") == F.col("t") - 1)
        .select(
            "t",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "x",
            _q4(2 * F.col("s1_int") - F.col("s2_int")).alias("level"),
            _q4(F.col("s1_int") - F.col("s2_int")).alias("trend"),
            _q4(3 * F.col("s1_int") - 2 * F.col("s2_int")).alias("forecast"),
            _q4(
                F.col("x") * 1000000 - (3 * F.col("p1") - 2 * F.col("p2"))
            ).alias("err"),
        )
        .orderBy("t")
    )


# --------------------------------------------------------------------------
# q420 - geometric adstock (advertising carryover) of daily click
# volume against purchase counts: adstock_t = x_t + 0.5 * adstock_{t-1}
# (closed form: sum over j <= t of 0.5^(t-j) x_j), then the Pearson
# correlation of the adstocked series with same-day purchases next to
# the raw-series correlation - the marketing-mix primitive that says
# whether response tracks RECENT PRESSURE better than the raw spend
# proxy. q341/q393 smooth to FORECAST; adstock is a different kernel
# (no normalization - carryover accumulates) serving attribution.
# Parity: daily counts exact; each adstock term is frozen to kilo-ints
# (round(1e3 * x * 0.5^(t-j)) - kilo, not micro, so a_int^2 sums stay
# inside int64 headroom at any realistic SF) before the per-day sum
# (the q341 freezing discipline); both correlations are single double expressions
# over exact integer sufficient statistics. 4dp.
# Scale: collapse-first to the daily relation; the carryover is a pair
# join quadratic in DAYS; correlations are one reduce.
# --------------------------------------------------------------------------
@register(
    "q420_adstock",
    oracle="""
WITH daily AS (
    SELECT CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS x,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS y
    FROM events GROUP BY 1
),
ranked AS (
    SELECT day, x, y,
           CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t
    FROM daily
),
ad AS (
    SELECT a.t,
           CAST(SUM(CAST(ROUND(1000.0 * b.x * POW(0.5, a.t - b.t))
                         AS BIGINT)) AS BIGINT) AS a_int
    FROM ranked a JOIN ranked b ON b.t <= a.t
    GROUP BY a.t
),
j AS (
    SELECT r.t, r.x, r.y, ad.a_int FROM ranked r JOIN ad ON ad.t = r.t
),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(a_int) AS BIGINT) AS sa,
           CAST(SUM(x * x) AS BIGINT) AS sxx,
           CAST(SUM(y * y) AS BIGINT) AS syy,
           CAST(SUM(a_int * a_int) AS BIGINT) AS saa,
           CAST(SUM(x * y) AS BIGINT) AS sxy,
           CAST(SUM(a_int * y) AS BIGINT) AS say
    FROM j
)
SELECT n,
       ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
             / (SQRT(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                * SQRT(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)),
             4) AS corr_raw,
       ROUND((n * CAST(say AS DOUBLE) - CAST(sa AS DOUBLE) * sy)
             / (SQRT(n * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * sa)
                * SQRT(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)),
             4) AS corr_adstock
FROM s
""",
    tags=("timeseries", "attribution", "A12"),
)
def q420_adstock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adstocked-clicks vs purchases correlation:
    (n, corr_raw, corr_adstock)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.sum((F.col("event_type") == "click").cast("long"))
        .cast("long")
        .alias("x"),
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("long")
        .alias("y"),
    )
    ranked = daily.select(
        "day",
        "x",
        "y",
        F.row_number().over(Window.orderBy("day")).cast("long").alias("t"),
    )
    a = ranked.select(F.col("t").alias("m"))
    b = ranked.select(F.col("t").alias("j"), F.col("x").alias("xj"))
    ad = (
        a.join(b, F.col("j") <= F.col("m"))
        .groupBy("m")
        .agg(
            F.sum(
                F.round(
                    1000.0
                    * F.col("xj")
                    * F.pow(F.lit(0.5), F.col("m") - F.col("j"))
                ).cast("long")
            )
            .cast("long")
            .alias("a_int")
        )
    )
    j = ranked.join(ad, F.col("m") == F.col("t"))
    s = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum("a_int").cast("long").alias("sa"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("a_int") * F.col("a_int")).cast("long").alias("saa"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("a_int") * F.col("y")).cast("long").alias("say"),
    )

    def _corr(sv, svv, cross):
        return F.round(
            (
                F.col("n") * F.col(cross).cast("double")
                - F.col(sv).cast("double") * F.col("sy")
            )
            / (
                F.sqrt(
                    F.col("n") * F.col(svv).cast("double")
                    - F.col(sv).cast("double") * F.col(sv)
                )
                * F.sqrt(
                    F.col("n") * F.col("syy").cast("double")
                    - F.col("sy").cast("double") * F.col("sy")
                )
            ),
            4,
        )

    return s.select(
        "n",
        _corr("sx", "sxx", "sxy").alias("corr_raw"),
        _corr("sa", "saa", "say").alias("corr_adstock"),
    )


# --------------------------------------------------------------------------
# q432 - pinball (quantile) loss scorecard: per event type, hold out the
# odd event_ids, fit constant q10/q50/q90 forecasts on the even half,
# and score each quantile on the holdout with the pinball loss - THE
# proper scoring rule for quantile forecasts (what M5-uncertainty and
# every quantile-regression service reports). Complements q359 (point
# forecast eval) with the distributional tier.
# Parity: forecasts use q391's quantised-quantile pattern (cents, then
# ROUND(100*QUANTILE_CONT) compared at integer scale); per-row losses
# are EXACT integers (qn*diff4 with qn in tenths), so the sum is
# order-independent; the mean is one double expression, 4dp.
# Scale: one per-type exact quantile aggregate on the train half, a
# 3-row broadcast grid, one (type, q) aggregate on the test half. No
# windows, no corpus sort.
# --------------------------------------------------------------------------
@register(
    "q432_pinball_loss",
    oracle="""
WITH v AS (
    SELECT event_type, event_id % 2 AS odd,
           CAST(ROUND(100.0 * value) AS BIGINT) AS c
    FROM events
),
train AS (
    SELECT event_type,
           CAST(ROUND(100.0 * QUANTILE_CONT(CAST(c AS DOUBLE), 0.1))
                AS BIGINT) AS p10,
           CAST(ROUND(100.0 * QUANTILE_CONT(CAST(c AS DOUBLE), 0.5))
                AS BIGINT) AS p50,
           CAST(ROUND(100.0 * QUANTILE_CONT(CAST(c AS DOUBLE), 0.9))
                AS BIGINT) AS p90
    FROM v WHERE odd = 0 GROUP BY event_type
),
grid AS (SELECT * FROM (VALUES (1), (5), (9)) AS g(qn)),
fc AS (
    SELECT t.event_type, g.qn,
           CASE g.qn WHEN 1 THEN t.p10 WHEN 5 THEN t.p50 ELSE t.p90 END
               AS yhat4
    FROM train t CROSS JOIN grid g
),
scored AS (
    SELECT f.event_type, f.qn, f.yhat4,
           CASE WHEN 100 * v.c - f.yhat4 >= 0
                THEN f.qn * (100 * v.c - f.yhat4)
                ELSE (f.qn - 10) * (100 * v.c - f.yhat4) END AS loss_u
    FROM v JOIN fc f ON f.event_type = v.event_type
    WHERE v.odd = 1
)
SELECT event_type, ROUND(qn / 10.0, 4) AS q,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       ROUND(CAST(MAX(yhat4) AS DOUBLE) / 10000.0, 4) AS forecast,
       ROUND(CAST(SUM(loss_u) AS DOUBLE) / 100000.0 / COUNT(*), 4)
           AS pinball
FROM scored GROUP BY event_type, qn ORDER BY event_type, q
""",
    tags=("forecast", "eval", "A12"),
)
def q432_pinball_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball loss of per-type constant quantile forecasts on the odd
    holdout: (event_type, q, n_test, forecast, pinball)."""
    events = load_table(spark, sf_dir, "events")
    v = events.select(
        "event_type",
        (F.col("event_id") % 2).alias("odd"),
        F.round(100.0 * F.col("value")).cast("long").alias("c"),
    )
    train = v.filter(F.col("odd") == 0).groupBy("event_type").agg(
        *[
            F.round(100.0 * F.expr(f"percentile(CAST(c AS DOUBLE), {q})"))
            .cast("long")
            .alias(name)
            for q, name in ((0.1, "p10"), (0.5, "p50"), (0.9, "p90"))
        ]
    )
    grid = spark.createDataFrame([(1,), (5,), (9,)], "qn long").coalesce(1)
    fc = train.crossJoin(F.broadcast(grid)).select(
        "event_type",
        "qn",
        F.when(F.col("qn") == 1, F.col("p10"))
        .when(F.col("qn") == 5, F.col("p50"))
        .otherwise(F.col("p90"))
        .alias("yhat4"),
    )
    diff4 = 100 * F.col("c") - F.col("yhat4")
    scored = (
        v.filter(F.col("odd") == 1)
        .join(F.broadcast(fc), "event_type")
        .select(
            "event_type",
            "qn",
            "yhat4",
            F.when(diff4 >= 0, F.col("qn") * diff4)
            .otherwise((F.col("qn") - 10) * diff4)
            .alias("loss_u"),
        )
    )
    return (
        scored.groupBy("event_type", "qn")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("yhat4").alias("yhat4"),
            F.sum("loss_u").alias("loss_u"),
        )
        .select(
            "event_type",
            F.round(F.col("qn") / 10.0, 4).alias("q"),
            F.col("n").cast("long").alias("n_test"),
            F.round(F.col("yhat4").cast("double") / 10000.0, 4).alias("forecast"),
            F.round(
                F.col("loss_u").cast("double") / 100000.0 / F.col("n"), 4
            ).alias("pinball"),
        )
        .orderBy("event_type", "q")
    )


# --------------------------------------------------------------------------
# q433 - additive Holt-Winters (level+trend+weekly season) one-step
# forecasts over the last 9 weeks of daily revenue, executed as a
# RECURSIVE CTE - the SAME recursion text runs on Spark (WITH RECURSIVE
# landed in Spark 4) and DuckDB. alpha=1/2, beta=gamma=1/4: with the
# state kept in micro-dollar BIGINTs, every update is integers scaled
# by binary fractions, so each ROUND lands on exact .0/.25/.5/.75 and
# both engines take the identical half-away-from-zero branch - the
# recursion is engine-exact by construction (no float drift across 49
# steps). Init: level = week-1 mean, trend = (week-2 mean - week-1
# mean)/7, seasonals = week-2 residuals.
# Scale: the corpus collapses to ONE daily aggregate; the recursion
# runs on a fixed 63-row window of it (49 iterations, under Spark's
# cteRecursionLevelLimit=100) - recursion depth is bounded by the
# chosen window, never the corpus.
# --------------------------------------------------------------------------
_HW_L2 = "CAST(ROUND((b.xu - r.s1 + r.lu + r.bu) / CAST(2 AS DOUBLE)) AS BIGINT)"

_HW_REC_BODY = f"""
    SELECT CAST(14 AS BIGINT) AS t,
           CAST(ROUND(SUM(CASE WHEN t BETWEEN 1 AND 7 THEN xu END) / CAST(7 AS DOUBLE))
                AS BIGINT) AS lu,
           CAST(ROUND((SUM(CASE WHEN t BETWEEN 8 AND 14 THEN xu END)
                       - SUM(CASE WHEN t BETWEEN 1 AND 7 THEN xu END))
                      / CAST(49 AS DOUBLE)) AS BIGINT) AS bu,
           CAST(SUM(CASE WHEN t = 8 THEN xu END)
                - ROUND(SUM(CASE WHEN t BETWEEN 1 AND 7 THEN xu END) / CAST(7 AS DOUBLE))
                AS BIGINT) AS s1,
           CAST(SUM(CASE WHEN t = 9 THEN xu END)
                - ROUND(SUM(CASE WHEN t BETWEEN 1 AND 7 THEN xu END) / CAST(7 AS DOUBLE))
                AS BIGINT) AS s2,
           CAST(SUM(CASE WHEN t = 10 THEN xu END)
                - ROUND(SUM(CASE WHEN t BETWEEN 1 AND 7 THEN xu END) / CAST(7 AS DOUBLE))
                AS BIGINT) AS s3,
           CAST(SUM(CASE WHEN t = 11 THEN xu END)
                - ROUND(SUM(CASE WHEN t BETWEEN 1 AND 7 THEN xu END) / CAST(7 AS DOUBLE))
                AS BIGINT) AS s4,
           CAST(SUM(CASE WHEN t = 12 THEN xu END)
                - ROUND(SUM(CASE WHEN t BETWEEN 1 AND 7 THEN xu END) / CAST(7 AS DOUBLE))
                AS BIGINT) AS s5,
           CAST(SUM(CASE WHEN t = 13 THEN xu END)
                - ROUND(SUM(CASE WHEN t BETWEEN 1 AND 7 THEN xu END) / CAST(7 AS DOUBLE))
                AS BIGINT) AS s6,
           CAST(SUM(CASE WHEN t = 14 THEN xu END)
                - ROUND(SUM(CASE WHEN t BETWEEN 1 AND 7 THEN xu END) / CAST(7 AS DOUBLE))
                AS BIGINT) AS s7,
           CAST(NULL AS BIGINT) AS fu,
           CAST(NULL AS BIGINT) AS xu
    FROM {{base}}
    UNION ALL
    SELECT b.t,
           {_HW_L2} AS lu,
           CAST(ROUND(({_HW_L2} - r.lu + 3 * r.bu) / CAST(4 AS DOUBLE)) AS BIGINT) AS bu,
           r.s2 AS s1, r.s3 AS s2, r.s4 AS s3, r.s5 AS s4,
           r.s6 AS s5, r.s7 AS s6,
           CAST(ROUND((b.xu - {_HW_L2} + 3 * r.s1) / CAST(4 AS DOUBLE)) AS BIGINT) AS s7,
           r.lu + r.bu + r.s1 AS fu,
           b.xu AS xu
    FROM rec r JOIN {{base}} b ON b.t = r.t + 1
"""

_HW_FINAL = """
SELECT t,
       ROUND(xu / CAST(10000 AS DOUBLE), 4) AS x,
       ROUND(fu / CAST(10000 AS DOUBLE), 4) AS forecast,
       ROUND((xu - fu) / CAST(10000 AS DOUBLE), 4) AS err
FROM rec WHERE fu IS NOT NULL ORDER BY t
"""


@register(
    "q433_holt_winters",
    oracle=f"""
WITH RECURSIVE
bnd AS (SELECT CAST(MAX(o_orderdate) AS DATE) AS maxd FROM orders),
dly AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(ROUND(100.0 * o_totalprice) AS BIGINT)) AS BIGINT)
               * 100 AS xu
    FROM orders GROUP BY 1
),
hwbase AS (
    SELECT CAST(g.t AS BIGINT) AS t, COALESCE(d.xu, 0) AS xu
    FROM (SELECT UNNEST(GENERATE_SERIES(1, 63)) AS t) g
    CROSS JOIN bnd
    LEFT JOIN dly d ON d.day = bnd.maxd - CAST(63 - g.t AS INTEGER)
),
rec AS (
{_HW_REC_BODY.format(base="hwbase")}
)
{_HW_FINAL}
""",
    tags=("forecast", "recursive-cte", "A12"),
)
def q433_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters one-step daily-revenue forecasts for the last 7
    weeks: (t, x, forecast, err) - Spark executes the same WITH
    RECURSIVE text DuckDB does."""
    orders = load_table(spark, sf_dir, "orders")
    dly = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        (
            F.sum(F.round(100.0 * F.col("o_totalprice")).cast("long")) * 100
        ).alias("xu")
    )
    maxd = orders.agg(F.max("o_orderdate").cast("date").alias("maxd"))
    grid = spark.range(1, 64).select(F.col("id").alias("t")).coalesce(1)
    base = (
        grid.crossJoin(F.broadcast(maxd))
        .withColumn("day", F.date_sub(F.col("maxd"), (63 - F.col("t")).cast("int")))
        .join(F.broadcast(dly), "day", "left")
        .select("t", F.coalesce("xu", F.lit(0)).alias("xu"))
    )
    # Materialise the 63-row window ONCE (a calendar-bounded collect, the
    # BPE-merge-table class): the recursive CTE re-evaluates its base
    # relation every iteration, so leaving the corpus aggregate lazy here
    # would rescan orders 49 times — at any scale you pay the daily
    # aggregate once and recurse over the local 63-row relation. Do NOT
    # coalesce(1) the local frame: CoalesceExec wraps the LocalRelation
    # and defeats its fast path inside the loop (measured 140s vs 34s).
    local = spark.createDataFrame(base.collect(), "t long, xu long")
    local.createOrReplaceTempView("q433_hw_base")
    return spark.sql(
        "WITH RECURSIVE rec AS ("
        + _HW_REC_BODY.format(base="q433_hw_base")
        + ")"
        + _HW_FINAL
    )


# --------------------------------------------------------------------------
# q445 - hierarchical forecast reconciliation: SES (alpha = 1/2, q341's
# family) one-step revenue forecasts fitted INDEPENDENTLY per market
# segment and for the total over the last 28 days, then reconciled both
# ways - bottom-up (sum the segment forecasts) vs top-down (allocate
# the total forecast by historical revenue share). The per-segment gap
# between its own forecast and its top-down allocation, and the
# bottom-up vs direct total gap, are exactly what a hierarchical
# forecasting run must reconcile before planning on it (forecasts made
# independently at different levels never cohere).
# Parity: the 28-day window grid is date-arithmetic (no window
# functions); daily revenues are exact cent integers; each SES term is
# xu * 0.5^k (an exact binary shift) micro-rounded to BIGINT before
# summing; shares are exact integer ratios; every reported number is
# one double expression, 4dp.
# Scale: corpus collapses to ONE (segment, day) aggregate; the grid is
# 5 segments x 28 days; everything downstream is constant-size.
# --------------------------------------------------------------------------
_RECON_M = 28


@register(
    "q445_forecast_reconciliation",
    oracle=f"""
WITH bnd AS (SELECT CAST(MAX(o_orderdate) AS DATE) AS maxd FROM orders),
dly AS (
    SELECT c.c_mktsegment AS segment, CAST(o.o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(ROUND(100.0 * o.o_totalprice) AS BIGINT)) AS BIGINT)
               AS xu
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1, 2
),
segs AS (SELECT DISTINCT segment FROM dly),
grid AS (
    SELECT s.segment, CAST(g.t AS BIGINT) AS t,
           bnd.maxd - CAST({_RECON_M} - g.t AS INTEGER) AS day
    FROM segs s
    CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(1, {_RECON_M})) AS t) g
    CROSS JOIN bnd
),
series AS (
    SELECT g.segment, g.t, COALESCE(d.xu, 0) AS xu
    FROM grid g LEFT JOIN dly d ON d.segment = g.segment AND d.day = g.day
),
terms AS (
    SELECT segment, xu,
           CAST(ROUND(1000000.0 * xu
                * POWER(0.5, CASE WHEN t = 1 THEN {_RECON_M} - 1
                                  ELSE {_RECON_M} - t + 1 END))
                AS BIGINT) AS tu
    FROM series
),
seg_f AS (
    SELECT segment, CAST(SUM(tu) AS BIGINT) AS fu,
           CAST(SUM(xu) AS BIGINT) AS hist_u
    FROM terms GROUP BY segment
),
tot AS (
    SELECT CAST(SUM(fu) AS BIGINT) AS bu_u, CAST(SUM(hist_u) AS BIGINT)
               AS hist_tot
    FROM seg_f
),
tot_terms AS (
    SELECT t, CAST(SUM(xu) AS BIGINT) AS xu FROM series GROUP BY t
),
tot_f AS (
    SELECT CAST(SUM(CAST(ROUND(1000000.0 * xu
               * POWER(0.5, CASE WHEN t = 1 THEN {_RECON_M} - 1
                                 ELSE {_RECON_M} - t + 1 END))
               AS BIGINT)) AS BIGINT) AS ftu
    FROM tot_terms
)
SELECT s.segment,
       ROUND(CAST(s.fu AS DOUBLE) / 100000000.0, 4) AS f_base,
       ROUND(CAST(tf.ftu AS DOUBLE) / 100000000.0
             * (CAST(s.hist_u AS DOUBLE) / t.hist_tot), 4) AS f_topdown,
       ROUND(CAST(s.fu AS DOUBLE) / 100000000.0
             - CAST(tf.ftu AS DOUBLE) / 100000000.0
               * (CAST(s.hist_u AS DOUBLE) / t.hist_tot), 4) AS td_gap,
       ROUND(CAST(t.bu_u AS DOUBLE) / 100000000.0, 4) AS bu_total,
       ROUND(CAST(tf.ftu AS DOUBLE) / 100000000.0, 4) AS f_total
FROM seg_f s CROSS JOIN tot t CROSS JOIN tot_f tf
ORDER BY s.segment
""",
    tags=("forecast", "A12"),
)
def q445_forecast_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-up vs top-down SES revenue forecasts: (segment, f_base,
    f_topdown, td_gap, bu_total, f_total)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    m = _RECON_M
    dly = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(
            F.sum(F.round(100.0 * F.col("o_totalprice")).cast("long")).alias("xu")
        )
    )
    bnd = orders.agg(F.max("o_orderdate").cast("date").alias("maxd"))
    segs = dly.select("segment").distinct()
    grid = (
        segs.crossJoin(
            F.broadcast(
                spark.range(1, m + 1).select(F.col("id").alias("t")).coalesce(1)
            )
        )
        .crossJoin(F.broadcast(bnd))
        .withColumn("day", F.date_sub(F.col("maxd"), (m - F.col("t")).cast("int")))
    )
    series = grid.join(F.broadcast(dly), ["segment", "day"], "left").select(
        "segment", "t", F.coalesce("xu", F.lit(0)).alias("xu")
    )
    w = F.pow(
        F.lit(0.5),
        F.when(F.col("t") == 1, F.lit(m - 1)).otherwise(m - F.col("t") + 1),
    )
    tu = F.round(1000000.0 * F.col("xu") * w).cast("long")
    seg_f = series.select("segment", "xu", tu.alias("tu")).groupBy("segment").agg(
        F.sum("tu").alias("fu"), F.sum("xu").alias("hist_u")
    )
    tot = seg_f.agg(
        F.sum("fu").alias("bu_u"), F.sum("hist_u").alias("hist_tot")
    )
    tot_terms = series.groupBy("t").agg(F.sum("xu").alias("xu"))
    tot_f = tot_terms.select(tu.alias("tu")).agg(F.sum("tu").alias("ftu"))
    f_base = F.col("fu").cast("double") / 100000000.0
    f_tot = F.col("ftu").cast("double") / 100000000.0
    share = F.col("hist_u").cast("double") / F.col("hist_tot")
    return (
        seg_f.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tot_f))
        .select(
            "segment",
            F.round(f_base, 4).alias("f_base"),
            F.round(f_tot * share, 4).alias("f_topdown"),
            F.round(f_base - f_tot * share, 4).alias("td_gap"),
            F.round(F.col("bu_u").cast("double") / 100000000.0, 4).alias("bu_total"),
            F.round(f_tot, 4).alias("f_total"),
        )
        .orderBy("segment")
    )


# --------------------------------------------------------------------------
# q476 - Chow structural-break test on the daily purchase-spend series:
# OLS y ~ t pooled vs split at the sample midpoint, F = ((RSS_p - RSS_1
# - RSS_2)/2) / ((RSS_1 + RSS_2)/(n - 4)). The "did the trend change"
# gate that tells q433/q477's forecasters whether one regime fits —
# complements q417 (binary segmentation finds WHERE; Chow tests a
# declared break) and q284 (diff-in-diff needs a control; Chow doesn't).
# Parity: raw moments (St, Stt, Sy, Sty, Syy) per segment are exact
# integers in DECIMAL(38,0)/HUGEINT; each RSS is one fixed double
# expression (Cyy - Cxy^2/Cxx on centered doubles). 4dp.
# Scale: one corpus aggregate to the calendar-bounded daily relation;
# segment moments are one conditional aggregate over it.
# --------------------------------------------------------------------------
@register(
    "q476_chow_test",
    oracle="""
WITH daily AS (
    SELECT CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
           CAST(SUM(CAST(ROUND(100.0 * value) AS BIGINT)) AS BIGINT) AS y
    FROM events WHERE event_type = 'purchase' GROUP BY 1
),
ranked AS (
    SELECT y, CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t
    FROM daily
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(COUNT(*) // 2 AS BIGINT) AS tau FROM ranked),
moms AS (
    SELECT CASE WHEN r.t <= nn.tau THEN 1 ELSE 2 END AS seg,
           CAST(COUNT(*) AS BIGINT) AS ns,
           CAST(SUM(r.t) AS HUGEINT) AS st,
           CAST(SUM(CAST(r.t AS HUGEINT) * r.t) AS HUGEINT) AS stt,
           CAST(SUM(CAST(r.y AS HUGEINT)) AS HUGEINT) AS sy,
           CAST(SUM(CAST(r.t AS HUGEINT) * r.y) AS HUGEINT) AS sty,
           CAST(SUM(CAST(r.y AS HUGEINT) * r.y) AS HUGEINT) AS syy
    FROM ranked r CROSS JOIN nn GROUP BY 1
),
rss AS (
    SELECT seg, ns,
           (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / ns)
           - (CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * sy / ns)
             * (CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * sy / ns)
             / (CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st / ns) AS r
    FROM moms
),
pooled AS (
    SELECT CAST(SUM(ns) AS BIGINT) AS n,
           (CAST(SUM(syy) AS DOUBLE)
            - CAST(SUM(sy) AS DOUBLE) * SUM(sy) / SUM(ns))
           - (CAST(SUM(sty) AS DOUBLE)
              - CAST(SUM(st) AS DOUBLE) * SUM(sy) / SUM(ns))
             * (CAST(SUM(sty) AS DOUBLE)
                - CAST(SUM(st) AS DOUBLE) * SUM(sy) / SUM(ns))
             / (CAST(SUM(stt) AS DOUBLE)
                - CAST(SUM(st) AS DOUBLE) * SUM(st) / SUM(ns)) AS rp
    FROM moms
)
SELECT p.n, nn.tau AS break_t,
       ROUND(p.rp, 4) AS rss_pooled,
       ROUND(r1.r + r2.r, 4) AS rss_split,
       ROUND(((p.rp - r1.r - r2.r) / 2.0)
             / ((r1.r + r2.r) / (p.n - 4)), 4) AS f_chow
FROM pooled p
CROSS JOIN nn
CROSS JOIN (SELECT r FROM rss WHERE seg = 1) r1
CROSS JOIN (SELECT r FROM rss WHERE seg = 2) r2
""",
    tags=("timeseries", "A12"),
)
def q476_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow break test at the midpoint of the daily purchase-spend
    series: (n, break_t, rss_pooled, rss_split, f_chow)."""
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.sum(F.round(100.0 * F.col("value")).cast("long")).alias("y"))
    )
    ranked = daily.select(
        "y", F.row_number().over(Window.orderBy("day")).cast("long").alias("t")
    )
    nn = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) / 2).cast("long").alias("tau"),
    )
    dec = "decimal(38,0)"
    moms = (
        ranked.crossJoin(F.broadcast(nn))
        .groupBy(
            F.when(F.col("t") <= F.col("tau"), 1).otherwise(2).alias("seg")
        )
        .agg(
            F.count(F.lit(1)).alias("ns"),
            F.sum(F.col("t").cast(dec)).alias("st"),
            F.sum(F.col("t").cast(dec) * F.col("t")).alias("stt"),
            F.sum(F.col("y").cast(dec)).alias("sy"),
            F.sum(F.col("t").cast(dec) * F.col("y")).alias("sty"),
            F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
        )
    )

    def rss_expr(st, stt, sy, sty, syy, ns):
        cyy = syy.cast("double") - sy.cast("double") * sy / ns
        cxy = sty.cast("double") - st.cast("double") * sy / ns
        cxx = stt.cast("double") - st.cast("double") * st / ns
        return cyy - cxy * cxy / cxx

    rss = moms.select(
        "seg",
        "ns",
        rss_expr(
            F.col("st"), F.col("stt"), F.col("sy"), F.col("sty"),
            F.col("syy"), F.col("ns"),
        ).alias("r"),
    )
    pooled = moms.agg(
        F.sum("ns").alias("n"),
        rss_expr(
            F.sum("st"), F.sum("stt"), F.sum("sy"), F.sum("sty"),
            F.sum("syy"), F.sum("ns"),
        ).alias("rp"),
    )
    r1 = rss.filter(F.col("seg") == 1).select(F.col("r").alias("r1"))
    r2 = rss.filter(F.col("seg") == 2).select(F.col("r").alias("r2"))
    return (
        pooled.crossJoin(F.broadcast(nn.select("tau")))
        .crossJoin(F.broadcast(r1))
        .crossJoin(F.broadcast(r2))
        .select(
            "n",
            F.col("tau").alias("break_t"),
            F.round("rp", 4).alias("rss_pooled"),
            F.round(F.col("r1") + F.col("r2"), 4).alias("rss_split"),
            F.round(
                ((F.col("rp") - F.col("r1") - F.col("r2")) / 2.0)
                / ((F.col("r1") + F.col("r2")) / (F.col("n") - 4)),
                4,
            ).alias("f_chow"),
        )
    )


# --------------------------------------------------------------------------
# q477 - classic Theta-method forecast (Assimakopoulos & Nikolopoulos
# 2000, the M3 competition winner) on the daily event-count series:
# average of the theta=0 line (pure linear trend) and SES(alpha=1/2) on
# the theta=2 line (2*x_t - trend_t). The "embarrassingly hard to beat"
# statistical baseline next to q341 (SES), q393 (Holt), q433 (HW).
# Parity: the linear fit comes from exact integer moments; each SES term
# round(1e6 * z_k * 0.5^(n-k+1)) is an exact integer (dyadic weights are
# exact doubles; identical products both engines) so the weighted sum is
# order-free; forecasts are one double expression per horizon. Weights
# below 2^-60 underflow the 1e6 grid to 0 — the documented SES horizon
# cutoff (q341's class). 4dp.
# Scale: one corpus aggregate to the daily relation; one 1-row moment
# broadcast; a 7-row literal horizon grid.
# --------------------------------------------------------------------------
@register(
    "q477_theta_forecast",
    oracle="""
WITH daily AS (
    SELECT CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY 1
),
ranked AS (
    SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t
    FROM daily
),
mom AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(t) AS BIGINT) AS st,
           CAST(SUM(t * t) AS HUGEINT) AS stt,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(t * x) AS HUGEINT) AS stx
    FROM ranked
),
fit AS (
    SELECT n, st, sx,
           (CAST(n AS DOUBLE) * CAST(stx AS DOUBLE)
            - CAST(st AS DOUBLE) * sx)
           / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
              - CAST(st AS DOUBLE) * st) AS b
    FROM mom
),
ab AS (
    SELECT n, b, (CAST(sx AS DOUBLE) - b * st) / n AS a FROM fit
),
ses AS (
    SELECT CAST(SUM(CAST(ROUND(1000000.0
                * (2.0 * r.x - (ab.a + ab.b * r.t))
                * CASE WHEN r.t = 1 THEN POW(0.5, ab.n - 1)
                       ELSE POW(0.5, ab.n - r.t + 1) END) AS BIGINT))
                AS BIGINT) AS l6
    FROM ranked r CROSS JOIN ab
)
SELECT CAST(h.h AS BIGINT) AS h,
       ROUND(0.5 * (s.l6 / 1000000.0)
             + 0.5 * (ab.a + ab.b * (ab.n + h.h)), 4) AS forecast
FROM (SELECT UNNEST(range(1, 8)) AS h) h
CROSS JOIN ses s CROSS JOIN ab
ORDER BY h
""",
    tags=("timeseries", "forecast", "A12"),
)
def q477_theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-method 7-day forecast of daily event counts:
    (h, forecast)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    ranked = daily.select(
        "x", F.row_number().over(Window.orderBy("day")).cast("long").alias("t")
    )
    dec = "decimal(38,0)"
    mom = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("st"),
        F.sum(F.col("t").cast(dec) * F.col("t")).alias("stt"),
        F.sum("x").alias("sx"),
        F.sum(F.col("t").cast(dec) * F.col("x")).alias("stx"),
    )
    b = (
        F.col("n").cast("double") * F.col("stx").cast("double")
        - F.col("st").cast("double") * F.col("sx")
    ) / (
        F.col("n").cast("double") * F.col("stt").cast("double")
        - F.col("st").cast("double") * F.col("st")
    )
    ab = mom.select(
        "n",
        b.alias("b"),
        ((F.col("sx").cast("double") - b * F.col("st")) / F.col("n")).alias(
            "a"
        ),
    )
    z = 2.0 * F.col("x") - (F.col("a") + F.col("b") * F.col("t"))
    wgt = F.when(
        F.col("t") == 1, F.pow(F.lit(0.5), F.col("n") - 1)
    ).otherwise(F.pow(F.lit(0.5), F.col("n") - F.col("t") + 1))
    ses = (
        ranked.crossJoin(F.broadcast(ab))
        .agg(F.sum(F.round(1e6 * z * wgt).cast("long")).alias("l6"))
    )
    hgrid = ranked.sparkSession.range(1, 8).select(
        F.col("id").cast("long").alias("h")
    )
    return (
        hgrid.crossJoin(F.broadcast(ses))
        .crossJoin(F.broadcast(ab))
        .select(
            "h",
            F.round(
                0.5 * (F.col("l6") / 1e6)
                + 0.5 * (F.col("a") + F.col("b") * (F.col("n") + F.col("h"))),
                4,
            ).alias("forecast"),
        )
        .orderBy("h")
    )


# --------------------------------------------------------------------------
# q478 - Croston's method for intermittent demand (Croston 1972, the
# estimator of record for sparse spare-parts-style series): daily
# shipped quantity of one brand, SES(alpha=1/2) separately on the
# NONZERO demand sizes and on the inter-demand intervals; the demand
# rate forecast is z_hat / p_hat. The intermittent-series gap in the
# q341/q393/q433/q477 smoothing family — plain SES on a zero-heavy
# series lags badly after each demand spike.
# Parity: demand days and sizes are exact integers; both SES sums use
# the q477 frozen dyadic-weight trick (round(1e6 * v * 0.5^(m-j+1)),
# order-free); the rate is one double ratio. 4dp.
# Scale: one (brand-filtered) day aggregate; occurrence indexing is a
# window on the demand-day relation (calendar-bounded).
# --------------------------------------------------------------------------
_CROSTON_BRAND = "Brand#13"


@register(
    "q478_croston",
    oracle=f"""
WITH demand AS (
    SELECT CAST(FLOOR(EPOCH(l.l_shipdate)) AS BIGINT) // 86400 AS d,
           CAST(SUM(CAST(ROUND(l.l_quantity) AS BIGINT)) AS BIGINT) AS z
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = '{_CROSTON_BRAND}'
    GROUP BY 1
),
span AS (
    SELECT MIN(d) AS d0, MAX(d) AS d1, CAST(COUNT(*) AS BIGINT) AS m
    FROM demand
),
occ AS (
    SELECT z, d - s.d0 + 1 AS di,
           CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS j,
           s.m
    FROM demand CROSS JOIN span s
),
iv AS (
    SELECT z, j, m,
           di - COALESCE(LAG(di) OVER (ORDER BY j), 0) AS p
    FROM occ
),
ses AS (
    SELECT CAST(SUM(CAST(ROUND(1000000.0 * z
                * CASE WHEN j = 1 THEN POW(0.5, m - 1)
                       ELSE POW(0.5, m - j + 1) END) AS BIGINT))
                AS BIGINT) AS z6,
           CAST(SUM(CAST(ROUND(1000000.0 * p
                * CASE WHEN j = 1 THEN POW(0.5, m - 1)
                       ELSE POW(0.5, m - j + 1) END) AS BIGINT))
                AS BIGINT) AS p6
    FROM iv
)
SELECT s.d1 - s.d0 + 1 AS n_days_span, s.m AS n_demand_days,
       ROUND(e.z6 / 1000000.0, 4) AS z_hat,
       ROUND(e.p6 / 1000000.0, 4) AS p_hat,
       ROUND(CAST(e.z6 AS DOUBLE) / e.p6, 4) AS croston_rate
FROM ses e CROSS JOIN span s
""",
    tags=("timeseries", "forecast", "A12", "W2"),
)
def q478_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston intermittent-demand forecast for one brand's daily
    shipped quantity: (n_days_span, n_demand_days, z_hat, p_hat,
    croston_rate)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    demand = (
        lineitem.join(
            F.broadcast(
                part.filter(F.col("p_brand") == _CROSTON_BRAND).select(
                    "p_partkey"
                )
            ),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .groupBy(
            # l_shipdate is TIMESTAMP_NTZ (tz-free): naive epoch-day ==
            # days since 1970-01-01, matching the oracle's EPOCH // 86400
            F.datediff(
                F.col("l_shipdate").cast("date"), F.lit("1970-01-01")
            )
            .cast("long")
            .alias("d")
        )
        .agg(F.sum(F.round("l_quantity").cast("long")).alias("z"))
    )
    span = demand.agg(
        F.min("d").alias("d0"),
        F.max("d").alias("d1"),
        F.count(F.lit(1)).alias("m"),
    )
    occ = demand.crossJoin(F.broadcast(span)).select(
        "z",
        (F.col("d") - F.col("d0") + 1).alias("di"),
        F.row_number().over(Window.orderBy("d")).cast("long").alias("j"),
        "m",
    )
    iv = occ.select(
        "z",
        "j",
        "m",
        (
            F.col("di")
            - F.coalesce(F.lag("di").over(Window.orderBy("j")), F.lit(0))
        ).alias("p"),
    )
    wgt = F.when(
        F.col("j") == 1, F.pow(F.lit(0.5), F.col("m") - 1)
    ).otherwise(F.pow(F.lit(0.5), F.col("m") - F.col("j") + 1))
    ses = iv.agg(
        F.sum(F.round(1e6 * F.col("z") * wgt).cast("long")).alias("z6"),
        F.sum(F.round(1e6 * F.col("p") * wgt).cast("long")).alias("p6"),
    )
    return ses.crossJoin(F.broadcast(span)).select(
        (F.col("d1") - F.col("d0") + 1).alias("n_days_span"),
        F.col("m").alias("n_demand_days"),
        F.round(F.col("z6") / 1e6, 4).alias("z_hat"),
        F.round(F.col("p6") / 1e6, 4).alias("p_hat"),
        F.round(F.col("z6").cast("double") / F.col("p6"), 4).alias(
            "croston_rate"
        ),
    )
