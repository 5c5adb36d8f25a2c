"""Time-series queries over the events stream: calendar-bucketed series,
forecasting, control charts, autocorrelation, drift. Split from
events_queries.py (round 6).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..sources.readers import load_table
from .registry import register


# --------------------------------------------------------------------------
# q70 — hypertable-style continuous aggregate: one pass produces the
# day+hour, day, and grand-total resolutions via ROLLUP on the time-bucket
# hierarchy (TimescaleDB's continuous-aggregate shape, re-expressed as a
# Catalyst grouping-sets aggregation — partial aggs absorb the fan-in and
# each resolution is a grouping set, not a second scan).
# --------------------------------------------------------------------------
@register(
    "q70_hypertable_rollup",
    oracle="""
SELECT DATE_TRUNC('day', CAST(ts AS TIMESTAMP))  AS day_bucket,
       DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS hour_bucket,
       CAST(GROUPING(DATE_TRUNC('day', CAST(ts AS TIMESTAMP))) * 2
            + GROUPING(DATE_TRUNC('hour', CAST(ts AS TIMESTAMP))) AS BIGINT)
           AS lvl,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS total_value,
       ROUND(AVG(value), 4) AS avg_value
FROM events
GROUP BY ROLLUP (DATE_TRUNC('day', CAST(ts AS TIMESTAMP)),
                 DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)))
""",
    tags=("hypertable-rollup", "A9", "A1"),
)
def q70_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").alias("day_bucket")
    hour = F.date_trunc("hour", "ts").alias("hour_bucket")
    return events.rollup(day, hour).agg(
        F.grouping_id().cast("long").alias("lvl"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )


# --------------------------------------------------------------------------
# q73 — time-RANGE rolling aggregates: trailing 1-hour event count/average
# per user at every event (the feature-engineering window shape; q30's
# running total is the ROWS sibling). The frame is defined by the epoch
# VALUE range, so same-second ties contribute identically in both engines
# regardless of intra-tie ordering.
# --------------------------------------------------------------------------
@register(
    "q73_rolling_time_window",
    oracle="""
SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
       ROUND(AVG(value) OVER w, 4) AS avg_1h
FROM events
WINDOW w AS (PARTITION BY user_id
             ORDER BY EPOCH(DATE_TRUNC('second', CAST(ts AS TIMESTAMP)))
             RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
""",
    tags=("W-frame", "A1"),
)
def q73_rolling_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-3599, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.round(F.avg("value").over(w), 4).alias("avg_1h"),
    )


# --------------------------------------------------------------------------
# q99 — rolling (cumulative) HLL distinct users per day: the continuous-
# aggregate use the mergeable sketch exists for. Daily registers are built
# once (O(256) state per day); the day-d cumulative registers are the
# running register-wise MAX over days ≤ d — no rescan of history, which is
# the whole point at 100 TB (the exact twin needs every historic user id;
# the sketch needs 256 bytes per day). The exact cumulative count rides
# along via the linear first-day trick (min day per user → running sum of
# new-user counts), documenting the sketch error per day.
# The day-axis running windows are single-partition by construction —
# bounded by calendar days in history (thousands), not data volume.
# --------------------------------------------------------------------------
@register(
    "q99_rolling_hll",
    oracle="""
WITH ev AS (SELECT DATE_TRUNC('day', ts) AS day, user_id FROM events),
h AS (
    SELECT day,
           CAST(('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 8))::UBIGINT
                AS BIGINT) AS hv
    FROM ev
),
tagged AS (SELECT day, hv // 16777216 AS bucket, hv % 16777216 AS w FROM h),
regs AS (
    SELECT day, bucket,
           MAX(CASE WHEN w = 0 THEN 25 ELSE 25 - LENGTH(BIN(w)) END) AS r
    FROM tagged GROUP BY day, bucket
),
days AS (SELECT DISTINCT day FROM ev),
buckets AS (SELECT DISTINCT bucket FROM regs),
cum AS (
    SELECT g.day, g.bucket,
           MAX(r.r) OVER (PARTITION BY g.bucket ORDER BY g.day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS rr
    FROM (SELECT d.day, b.bucket FROM days d CROSS JOIN buckets b) g
    LEFT JOIN regs r ON r.day = g.day AND r.bucket = g.bucket
),
per AS (
    SELECT day, SUM(POWER(2.0, -rr)) AS sum_obs, COUNT(*) AS n_obs
    FROM cum WHERE rr IS NOT NULL GROUP BY day
),
est AS (
    SELECT day,
           CASE WHEN (47072.71267120224 / (sum_obs + (256 - n_obs))) <= 640.0
                     AND (256 - n_obs) > 0
                THEN 256.0 * LN(256.0 / (256 - n_obs))
                ELSE 47072.71267120224 / (sum_obs + (256 - n_obs)) END AS hll
    FROM per
),
fst AS (SELECT user_id, MIN(day) AS day FROM ev GROUP BY user_id),
nnew AS (SELECT day, COUNT(*) AS n_new FROM fst GROUP BY day),
exact AS (
    SELECT d.day,
           SUM(COALESCE(n.n_new, 0)) OVER (ORDER BY d.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS exact_cum
    FROM days d LEFT JOIN nnew n ON n.day = d.day
)
SELECT e.day, CAST(x.exact_cum AS BIGINT) AS exact_cum_distinct,
       ROUND(e.hll, 4) AS hll_cum_distinct
FROM est e JOIN exact x ON x.day = e.day
""",
    tags=("sketch-hll", "hypertable-rollup", "streaming-stateful"),
)
def q99_rolling_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators import sketches

    events = load_table(spark, sf_dir, "events")
    ev = events.select(F.date_trunc("day", "ts").alias("day"), "user_id")
    regs = sketches.hll_registers(ev, ["day"], "user_id")
    days = ev.select("day").distinct()
    buckets = regs.select("bucket").distinct()
    grid = days.crossJoin(F.broadcast(buckets))
    w = (
        Window.partitionBy("bucket")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        grid.join(regs, ["day", "bucket"], "left")
        .withColumn("rr", F.max("r").over(w))
        .filter(F.col("rr").isNotNull())
        .select("day", "bucket", F.col("rr").alias("r"))
    )
    est = sketches.hll_estimate_from_registers(cum, ["day"])
    first = ev.groupBy("user_id").agg(F.min("day").alias("day"))
    nnew = first.groupBy("day").agg(F.count(F.lit(1)).alias("n_new"))
    wd = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    exact = (
        days.join(nnew, "day", "left")
        .withColumn(
            "exact_cum_distinct",
            F.sum(F.coalesce("n_new", F.lit(0))).over(wd).cast("long"),
        )
        .select("day", "exact_cum_distinct")
    )
    return exact.join(est, "day").select(
        "day", "exact_cum_distinct", F.col("hll_distinct").alias("hll_cum_distinct")
    )


@register(
    "q153_seasonal_anomalies",
    # Deseasonalised anomaly detection: each hour's event volume scored
    # against the hour-of-day baseline (mean/std over the 30-day month).
    # The baseline relation is 24 rows → broadcast back; z-scores divide
    # pre-rounded operands (q122's contract) so the flag threshold can't
    # knife-edge. Population std as exact arithmetic: σ² = Σn²/k − μ²
    # over integer counts.
    oracle="""
WITH hourly AS (
    SELECT TIME_BUCKET(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS hr,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY hr
),
base AS (
    SELECT CAST(EXTRACT(HOUR FROM hr) AS INT) AS hod,
           ROUND(AVG(n), 4) AS mu,
           ROUND(SQRT(AVG(n * n) - AVG(n) * AVG(n)), 4) AS sigma
    FROM hourly GROUP BY hod
)
SELECT h.hr, b.hod, h.n, b.mu,
       ROUND((h.n - b.mu) / b.sigma, 4) AS z
FROM hourly h JOIN base b ON b.hod = CAST(EXTRACT(HOUR FROM h.hr) AS INT)
WHERE b.sigma > 0 AND ABS(ROUND((h.n - b.mu) / b.sigma, 4)) >= 2.0
""",
    tags=("A12", "anomaly", "W4"),
)
def q153_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hours whose event volume deviates ≥2σ from their hour-of-day
    baseline — W4's z-score pattern applied after deseasonalisation.
    One keyed aggregate builds the 720-row hourly relation; the 24-row
    baseline broadcasts back (never a global window)."""
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        F.window("ts", "1 hour").getField("start").alias("hr")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    base = hourly.groupBy(F.hour("hr").alias("hod")).agg(
        F.round(F.avg("n"), 4).alias("mu"),
        F.round(
            F.sqrt(F.avg(F.col("n") * F.col("n")) - F.avg("n") * F.avg("n")), 4
        ).alias("sigma"),
    )
    z = F.round((F.col("n") - F.col("mu")) / F.col("sigma"), 4)
    return (
        hourly.withColumn("hod", F.hour("hr"))
        .join(F.broadcast(base), "hod")
        .filter((F.col("sigma") > 0) & (F.abs(z) >= 2.0))
        .select("hr", "hod", "n", "mu", z.alias("z"))
    )


@register(
    "q164_time_weighted_avg",
    # TWAP over irregular samples (the timescale time_weight shape):
    # each observation holds until the next one; weight = seconds to the
    # next sample (last sample weightless). Integer second deltas are
    # exact; the weighted sum rounds to 4dp before the divide by the
    # exact integer span.
    oracle="""
WITH seq AS (
    SELECT user_id, value,
           CAST(EPOCH(DATE_TRUNC('second', ts)) AS BIGINT) AS sec,
           LEAD(CAST(EPOCH(DATE_TRUNC('second', ts)) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
    FROM events
),
w AS (
    SELECT user_id, value, nxt - sec AS dt FROM seq WHERE nxt IS NOT NULL
)
SELECT user_id,
       CAST(SUM(dt) AS BIGINT) AS span_sec,
       ROUND(ROUND(SUM(value * dt), 4) / SUM(dt), 4) AS twap
FROM w
GROUP BY user_id
HAVING SUM(dt) > 0
""",
    tags=("temporal", "timeseries", "W4"),
)
def q164_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user over irregular event
    samples — LEAD deltas (user-partitioned window), one keyed
    aggregate."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    sec = F.col("ts").cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id", "value", sec.alias("sec"), F.lead(sec).over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    return (
        seq.withColumn("dt", F.col("nxt") - F.col("sec"))
        .groupBy("user_id")
        .agg(
            F.sum("dt").cast("long").alias("span_sec"),
            F.round(
                F.round(F.sum(F.col("value") * F.col("dt")), 4) / F.sum("dt"), 4
            ).alias("twap"),
        )
        .filter(F.col("span_sec") > 0)
    )


@register(
    "q165_ohlc_bars",
    # OHLC candlesticks per (type, hour): open/close via min_by/max_by
    # on (ts, event_id) — the tie-break rides inside the ordering struct
    # so simultaneous events can't flip open/close between engines.
    oracle="""
WITH ranked AS (
    SELECT event_type,
           TIME_BUCKET(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS bar,
           value, ts, event_id,
           ROW_NUMBER() OVER (PARTITION BY event_type,
                              TIME_BUCKET(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
                              ORDER BY ts ASC, event_id ASC) AS rk_o,
           ROW_NUMBER() OVER (PARTITION BY event_type,
                              TIME_BUCKET(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
                              ORDER BY ts DESC, event_id DESC) AS rk_c
    FROM events
),
agg AS (
    SELECT event_type, bar,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MAX(value), 4) AS high,
           ROUND(MIN(value), 4) AS low
    FROM ranked GROUP BY event_type, bar
)
SELECT a.event_type, a.bar, a.n,
       ROUND(o.value, 4) AS open, a.high, a.low, ROUND(c.value, 4) AS close
FROM agg a
JOIN ranked o ON o.event_type = a.event_type AND o.bar = a.bar AND o.rk_o = 1
JOIN ranked c ON c.event_type = a.event_type AND c.bar = a.bar AND c.rk_c = 1
""",
    tags=("temporal", "timeseries", "A1"),
)
def q165_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event type in ONE keyed aggregate —
    open/close are min_by/max_by over (ts, event_id) structs, high/low
    plain min/max; no rank windows, no self-joins (the oracle spells the
    rank form for clarity; same semantics)."""
    events = load_table(spark, sf_dir, "events")
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        events.groupBy(
            "event_type",
            F.window("ts", "1 hour").getField("start").alias("bar"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.min_by("value", key), 4).alias("open"),
            F.round(F.max_by("value", key), 4).alias("close"),
        )
        .select("event_type", "bar", "n", "open", "high", "low", "close")
    )


@register(
    "q166_gap_fill_locf",
    # Calendar gap filling + last-observation-carried-forward: the
    # standard timeseries densification. Spark's last(ignoreNulls) over
    # an unbounded-preceding frame == DuckDB's LAST_VALUE IGNORE NULLS.
    # Rows before a user's first observation keep NULL (no fabrication).
    oracle="""
WITH cal AS (
    SELECT u.user_id, d.day
    FROM (SELECT DISTINCT user_id FROM events) u,
         (SELECT UNNEST(GENERATE_SERIES(TIMESTAMP '2024-01-01',
                                        TIMESTAMP '2024-01-30',
                                        INTERVAL 1 DAY)) AS day) d
),
daily AS (
    SELECT user_id, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
           ROUND(SUM(value), 4) AS obs
    FROM events GROUP BY user_id, day
)
SELECT c.user_id, c.day, d.obs,
       LAST_VALUE(d.obs IGNORE NULLS) OVER (
           PARTITION BY c.user_id ORDER BY c.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
FROM cal c LEFT JOIN daily d ON d.user_id = c.user_id AND d.day = c.day
""",
    tags=("temporal", "timeseries", "gap-fill"),
)
def q166_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densify each user's daily series over the January calendar and
    carry the last observation forward. The calendar is a 30-row
    sequence cross-joined against the user dim (broadcast — calendar ×
    users is the output size by definition); the LOCF window partitions
    by user."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    users = events.select("user_id").distinct()
    cal = users.join(
        F.broadcast(
            events.sparkSession.range(1).select(
                F.explode(
                    F.sequence(
                        F.lit("2024-01-01").cast("timestamp"),
                        F.lit("2024-01-30").cast("timestamp"),
                        F.expr("INTERVAL 1 DAY"),
                    )
                ).alias("day")
            )
        )
    )
    daily = events.groupBy(
        "user_id", F.to_date("ts").cast("timestamp").alias("day")
    ).agg(F.round(F.sum("value"), 4).alias("obs"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cal.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            "obs",
            F.last("obs", ignorenulls=True).over(w).alias("filled"),
        )
    )


@register(
    "q174_rolling_correlation",
    # Rolling 24-hour Pearson correlation between two event types'
    # hourly volumes — joint sufficient statistics (Σx, Σy, Σxy, Σx²,
    # Σy²) over a frame of EXACT INTEGER counts, so every operand is
    # order-proof int64 arithmetic and only the final quotient is
    # floating. Window over the calendar-bounded hour relation (720
    # rows), disclosed like q150/q158. Windows with <2 points or zero
    # variance yield NULL.
    oracle="""
WITH hours AS (
    SELECT TIME_BUCKET(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS hr,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
    FROM events GROUP BY hr
),
win AS (
    SELECT hr, x, y,
           COUNT(*) OVER w AS n,
           SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
           SUM(x * y) OVER w AS sxy,
           SUM(x * x) OVER w AS sxx, SUM(y * y) OVER w AS syy
    FROM hours
    WINDOW w AS (ORDER BY hr ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
)
SELECT hr, x, y,
       CASE WHEN n >= 2 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
            THEN ROUND((n * sxy - sx * sy)
                       / SQRT(CAST((n * sxx - sx * sx) AS DOUBLE)
                              * (n * syy - sy * sy)), 4)
       END AS corr_24h
FROM win
""",
    tags=("A12", "timeseries", "W4"),
)
def q174_rolling_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    hours = events.groupBy(
        F.window("ts", "1 hour").getField("start").alias("hr")
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    w = Window.partitionBy(F.lit(1)).orderBy("hr").rowsBetween(-23, 0)
    win = hours.select(
        "hr",
        "x",
        "y",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return win.select(
        "hr",
        "x",
        "y",
        F.when(
            (F.col("n") >= 2) & (vx > 0) & (vy > 0),
            F.round(cov / F.sqrt(vx.cast("double") * vy), 4),
        ).alias("corr_24h"),
    )


# ---------------------------------------------------------------------------
# q219 — MAD robust outliers (Iglewicz–Hoaglin modified z-score): the
# robust sibling of the W4 z-score family (q14/q91/...). Per event_type:
# med = median(value), mad = median(|value - med|), modified z =
# 0.6745*(value - med)/mad, outlier when |z| > 3.5. Medians resist the
# very outliers being hunted — the reason production monitoring uses MAD
# where plain z-scores mask heavy tails.
# Scale: two per-type aggregates (type-keyed, 5..thousands of groups —
# uniform) broadcast back; the detail side never shuffles twice for the
# same key thanks to the broadcast joins; no global window. Median
# interpolation is identical IEEE arithmetic in both engines (the proven
# percentile==QUANTILE_CONT contract), boundaries rounded 4dp.
# ---------------------------------------------------------------------------
@register(
    "q219_mad_outliers",
    oracle="""
WITH med AS (
    SELECT event_type, ROUND(QUANTILE_CONT(value, 0.5), 4) AS med
    FROM events GROUP BY event_type
),
mad AS (
    SELECT e.event_type,
           ROUND(QUANTILE_CONT(ABS(e.value - m.med), 0.5), 4) AS mad
    FROM events e JOIN med m ON m.event_type = e.event_type
    GROUP BY e.event_type
),
scored AS (
    SELECT e.event_id, e.event_type, ROUND(e.value, 4) AS value,
           ROUND(0.6745 * (e.value - m.med) / d.mad, 4) AS mod_z
    FROM events e
    JOIN med m ON m.event_type = e.event_type
    JOIN mad d ON d.event_type = e.event_type
    WHERE d.mad > 0
)
SELECT event_id, event_type, value, mod_z
FROM scored WHERE ABS(mod_z) > 3.5
""",
    tags=("W4", "robust-stats", "quality"),
)
def q219_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type MAD modified z-score outliers: (event_id, event_type,
    value, mod_z) where |mod_z| > 3.5 — median/MAD computed as two
    broadcast per-type aggregates, no global window."""
    events = load_table(spark, sf_dir, "events")
    med = events.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("med")
    )
    mad = (
        events.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(
                F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)), 4
            ).alias("mad")
        )
    )
    return (
        events.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .filter(F.col("mad") > 0)
        .select(
            "event_id",
            "event_type",
            F.round("value", 4).alias("value"),
            F.round(
                F.lit(0.6745) * (F.col("value") - F.col("med")) / F.col("mad"), 4
            ).alias("mod_z"),
        )
        .filter(F.abs("mod_z") > 3.5)
    )


# ---------------------------------------------------------------------------
# q220 — STL-style seasonal decomposition of the daily event-value series
# per event_type: trend = centered 7-day moving average of the daily mean,
# seasonal = day-of-week mean of the detrended series, residual = daily -
# trend - seasonal, anomaly when |residual| > 2 * stddev_pop(residual).
# The monitoring decomposition behind "is today actually unusual, or is it
# just Sunday" — composes with q205's CUSUM (level shifts) and q219's MAD
# (point outliers).
# Scale: the raw corpus collapses FIRST to (type, day) daily means — one
# type+day-keyed aggregate — so every window below runs over #types ×
# #days rows, bounded by the calendar, never by event volume. Windows are
# partitioned by event_type (no global window); the anomaly gate is a
# per-type 1-row broadcast.
# Parity: EVERYTHING is exact integer deci-milli units from the first
# aggregate on (per-event values quantized to ints, then FLOOR means —
# 4dp-rounding ANY cross-row average lands on .00005 half-boundaries
# where the engines' ROUND semantics diverge, the q216 lesson):
# integer window sums, FLOOR averages, and the 2-sigma gate as
# the all-integer inequality r²·n² > 4·(n·Σr² − (Σr)²) — no sqrt, no
# stddev implementation differences. DuckDB DAYOFWEEK is Sunday=0 → +1
# matches Spark's Sunday=1.
# ---------------------------------------------------------------------------
@register(
    "q220_seasonal_decompose",
    oracle="""
WITH daily AS (
    SELECT event_type, DATE_TRUNC('day', ts) AS day,
           DAYOFWEEK(ts) + 1 AS dow,
           CAST(FLOOR(CAST(SUM(CAST(ROUND(value * 10000.0) AS BIGINT))
                           AS DOUBLE) / COUNT(*)) AS BIGINT) AS d_int
    FROM events GROUP BY event_type, DATE_TRUNC('day', ts), DAYOFWEEK(ts)
),
trended AS (
    SELECT event_type, day, dow, d_int,
           CAST(ROUND(CAST(SUM(d_int) OVER w AS DOUBLE)
                      / COUNT(*) OVER w) AS BIGINT) AS t_int
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
seas AS (
    SELECT event_type, dow,
           CAST(FLOOR(CAST(SUM(d_int - t_int) AS DOUBLE) / COUNT(*)) AS BIGINT)
               AS s_int
    FROM trended GROUP BY event_type, dow
),
resid AS (
    SELECT t.event_type, t.day, t.d_int, t.t_int, s.s_int,
           t.d_int - t.t_int - s.s_int AS r_int
    FROM trended t JOIN seas s ON s.event_type = t.event_type AND s.dow = t.dow
),
gate AS (
    SELECT event_type, COUNT(*) AS n, SUM(r_int) AS s1,
           SUM(r_int * r_int) AS s2
    FROM resid GROUP BY event_type
)
SELECT r.event_type, STRFTIME(r.day, '%Y-%m-%d') AS day,
       r.d_int / 10000.0 AS daily_avg,
       r.t_int / 10000.0 AS trend,
       r.s_int / 10000.0 AS seasonal,
       r.r_int / 10000.0 AS residual,
       CAST(CASE WHEN r.r_int * r.r_int * g.n * g.n
                      > 4 * (g.n * g.s2 - g.s1 * g.s1)
                 THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
FROM resid r JOIN gate g ON g.event_type = r.event_type
""",
    tags=("temporal", "W4", "quality"),
)
def q220_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily trend/seasonal/residual decomposition per event_type with
    2-sigma residual anomaly flags: (event_type, day, daily_avg, trend,
    seasonal, residual, is_anomaly). Exact-integer pipeline after the
    daily mean (see the registration comment)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        F.dayofweek("ts").alias("dow"),
    ).agg(
        F.floor(
            F.sum(F.round(F.col("value") * F.lit(10000.0)).cast("long")).cast(
                "double"
            )
            / F.count(F.lit(1))
        )
        .cast("long")
        .alias("d_int")
    )
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    trended = daily.withColumn(
        "t_int",
        F.round(
            F.sum("d_int").over(w).cast("double") / F.count(F.lit(1)).over(w)
        ).cast("long"),
    )
    seas = trended.groupBy("event_type", "dow").agg(
        F.floor(
            F.sum(F.col("d_int") - F.col("t_int")).cast("double")
            / F.count(F.lit(1))
        )
        .cast("long")
        .alias("s_int")
    )
    resid = trended.join(F.broadcast(seas), ["event_type", "dow"]).withColumn(
        "r_int", F.col("d_int") - F.col("t_int") - F.col("s_int")
    )
    gate = resid.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r_int").alias("s1"),
        F.sum(F.col("r_int") * F.col("r_int")).alias("s2"),
    )
    return resid.join(F.broadcast(gate), "event_type").select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        (F.col("d_int") / F.lit(10000.0)).alias("daily_avg"),
        (F.col("t_int") / F.lit(10000.0)).alias("trend"),
        (F.col("s_int") / F.lit(10000.0)).alias("seasonal"),
        (F.col("r_int") / F.lit(10000.0)).alias("residual"),
        (
            F.col("r_int") * F.col("r_int") * F.col("n") * F.col("n")
            > 4 * (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1"))
        )
        .cast("long")
        .alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# q227 — split-conformal outlier detection (Vovk et al.; the
# distribution-free calibration tier modern monitoring stacks put on top
# of raw scores): calibration half (even event_id) fits per-type centres;
# nonconformity = |value − centre|; the per-type threshold is the
# ⌈(n+1)·0.9⌉-th smallest calibration score (the finite-sample correction
# that makes the 90% coverage guarantee EXACT, not asymptotic); the test
# half (odd event_id) is flagged where its score exceeds the threshold.
# Everything is exact integers: 1e4-quantised values, FLOOR means,
# integer rank arithmetic k = (9·(n+1)+9) div 10, and the threshold is an
# ORDER STATISTIC (a value that exists in the data — no interpolation).
# Scale: per-type aggregates broadcast back; the rank window partitions by
# event_type over the calibration half only. No global window.
# ---------------------------------------------------------------------------
@register(
    "q227_conformal_outliers",
    oracle="""
WITH vint AS (
    SELECT event_id, event_type,
           CAST(ROUND(value * 10000.0) AS BIGINT) AS v
    FROM events
),
cal AS (SELECT * FROM vint WHERE event_id % 2 = 0),
centre AS (
    SELECT event_type,
           CAST(FLOOR(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mu,
           COUNT(*) AS n_cal
    FROM cal GROUP BY event_type
),
cal_scored AS (
    SELECT c.event_type, ABS(c.v - ct.mu) AS score,
           ROW_NUMBER() OVER (PARTITION BY c.event_type
                              ORDER BY ABS(c.v - ct.mu) ASC, c.event_id ASC) AS rk,
           ct.n_cal
    FROM cal c JOIN centre ct ON ct.event_type = c.event_type
),
thr AS (
    SELECT event_type, score AS thr
    FROM cal_scored
    WHERE rk = LEAST((9 * (n_cal + 1) + 9) // 10, n_cal)
)
SELECT t.event_id, t.event_type,
       ABS(t.v - ct.mu) AS score_milli,
       CAST(CASE WHEN ABS(t.v - ct.mu) > th.thr THEN 1 ELSE 0 END AS BIGINT)
           AS is_outlier
FROM vint t
JOIN centre ct ON ct.event_type = t.event_type
JOIN thr th ON th.event_type = t.event_type
WHERE t.event_id % 2 = 1
""",
    tags=("quality", "W4", "robust-stats"),
)
def q227_conformal_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal 90% outlier flags on the odd-event half, calibrated
    on the even half: (event_id, event_type, score_milli, is_outlier)."""
    events = load_table(spark, sf_dir, "events")
    vint = events.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * F.lit(10000.0)).cast("long").alias("v"),
    )
    cal = vint.filter(F.col("event_id") % 2 == 0)
    centre = cal.groupBy("event_type").agg(
        F.floor(F.sum("v").cast("double") / F.count(F.lit(1)))
        .cast("long")
        .alias("mu"),
        F.count(F.lit(1)).alias("n_cal"),
    )
    cal_scored = cal.join(F.broadcast(centre), "event_type").select(
        "event_type",
        "n_cal",
        F.abs(F.col("v") - F.col("mu")).alias("score"),
        "event_id",
    )
    rk = F.row_number().over(
        Window.partitionBy("event_type").orderBy(F.asc("score"), F.asc("event_id"))
    )
    thr = (
        cal_scored.withColumn("rk", rk)
        .filter(
            F.col("rk")
            == F.least((9 * (F.col("n_cal") + 1) + 9).cast("long") / 10, F.col("n_cal"))
            .cast("long")
        )
        .select("event_type", F.col("score").alias("thr"))
    )
    return (
        vint.filter(F.col("event_id") % 2 == 1)
        .join(F.broadcast(centre), "event_type")
        .join(F.broadcast(thr), "event_type")
        .select(
            "event_id",
            "event_type",
            F.abs(F.col("v") - F.col("mu")).alias("score_milli"),
            (F.abs(F.col("v") - F.col("mu")) > F.col("thr")).cast("long").alias("is_outlier"),
        )
    )


# ---------------------------------------------------------------------------
# q248 — EWMA control chart over the per-type daily mean value: smooth the
# PRIOR 7 days with exponentially-decaying weights (α = 0.3) and flag days
# whose deviation from that forecast exceeds 2σ of the per-type deviation
# distribution — the classic monitoring chart next to q205's CUSUM (level
# shifts) and q220's STL residuals (seasonality-aware). Excluding the
# current day from the smoother is what makes it a forecast residual.
# Parity: daily means are FLOOR'd micro-ints (q220 discipline); the decay
# weights are integer literals round(0.7^j·10⁶) inlined IDENTICALLY in
# both engines (no pow() at runtime); the smoother is an integer
# weighted-sum ratio FLOOR'd once; the 2σ gate is the all-integer
# inequality d²·n² > 4·(n·Σd² − (Σd)²) — no sqrt anywhere.
# Scale: collapses to (type, day) first (bounded by the calendar); lag
# windows are per-type partitioned; the σ gate is a per-type 1-row
# broadcast. Nothing downstream scales with event volume.
# ---------------------------------------------------------------------------
_EWMA_W = [1000000, 700000, 490000, 343000, 240100, 168070, 117649]


def _ewma_oracle() -> str:
    lag_cols = ",\n           ".join(
        f"LAG(x_int, {j + 1}) OVER w AS l{j}" for j in range(len(_EWMA_W))
    )
    num = " + ".join(
        f"COALESCE(l{j} * {w}, 0)" for j, w in enumerate(_EWMA_W)
    )
    den = " + ".join(
        f"CASE WHEN l{j} IS NULL THEN 0 ELSE {w} END"
        for j, w in enumerate(_EWMA_W)
    )
    return f"""
WITH daily AS (
    SELECT event_type, DATE_TRUNC('day', ts) AS day,
           CAST(FLOOR(CAST(SUM(CAST(ROUND(value * 10000.0) AS BIGINT))
                           AS DOUBLE) / COUNT(*)) AS BIGINT) AS x_int
    FROM events GROUP BY event_type, DATE_TRUNC('day', ts)
),
lagged AS (
    SELECT event_type, day, x_int,
           {lag_cols}
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
smoothed AS (
    SELECT event_type, day, x_int,
           CAST(FLOOR(CAST({num} AS DOUBLE) / ({den})) AS BIGINT) AS e_int
    FROM lagged WHERE l0 IS NOT NULL
),
devs AS (
    SELECT event_type, day, x_int, e_int, x_int - e_int AS d_int
    FROM smoothed
),
gate AS (
    SELECT event_type, COUNT(*) AS n, SUM(d_int) AS s1,
           SUM(d_int * d_int) AS s2
    FROM devs GROUP BY event_type
)
SELECT d.event_type, STRFTIME(d.day, '%Y-%m-%d') AS day,
       d.x_int / 10000.0 AS daily_avg,
       d.e_int / 10000.0 AS ewma,
       d.d_int / 10000.0 AS dev,
       CAST(CASE WHEN d.d_int * d.d_int * g.n * g.n
                      > 4 * (g.n * g.s2 - g.s1 * g.s1)
                 THEN 1 ELSE 0 END AS BIGINT) AS alert
FROM devs d JOIN gate g ON g.event_type = d.event_type
ORDER BY d.event_type, day
"""


@register(
    "q248_ewma_control",
    oracle=_ewma_oracle(),
    tags=("temporal", "W4", "quality"),
)
def q248_ewma_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prior-7-day EWMA forecast residual chart per event_type:
    (event_type, day, daily_avg, ewma, dev, alert). Integer decay weights,
    integer 2σ gate — see the registration comment."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.floor(
            F.sum(F.round(F.col("value") * F.lit(10000.0)).cast("long")).cast(
                "double"
            )
            / F.count(F.lit(1))
        )
        .cast("long")
        .alias("x_int")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "day",
        "x_int",
        *[
            F.lag("x_int", j + 1).over(w).alias(f"l{j}")
            for j in range(len(_EWMA_W))
        ],
    )
    num = None
    den = None
    for j, wt in enumerate(_EWMA_W):
        t_num = F.coalesce(F.col(f"l{j}") * F.lit(wt), F.lit(0))
        t_den = F.when(F.col(f"l{j}").isNull(), F.lit(0)).otherwise(F.lit(wt))
        num = t_num if num is None else num + t_num
        den = t_den if den is None else den + t_den
    devs = (
        lagged.filter(F.col("l0").isNotNull())
        .withColumn(
            "e_int", F.floor(num.cast("double") / den).cast("long")
        )
        .withColumn("d_int", F.col("x_int") - F.col("e_int"))
    )
    gate = devs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("d_int").alias("s1"),
        F.sum(F.col("d_int") * F.col("d_int")).alias("s2"),
    )
    return (
        devs.join(F.broadcast(gate), "event_type")
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            (F.col("x_int") / F.lit(10000.0)).alias("daily_avg"),
            (F.col("e_int") / F.lit(10000.0)).alias("ewma"),
            (F.col("d_int") / F.lit(10000.0)).alias("dev"),
            (
                F.col("d_int") * F.col("d_int") * F.col("n") * F.col("n")
                > 4 * (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1"))
            )
            .cast("long")
            .alias("alert"),
        )
        .orderBy("event_type", "day")
    )


# --------------------------------------------------------------------------
# q271 - Theil-Sen robust trend per event type: the median of all pairwise
# slopes of the daily-count series - the robust regression line a
# monitoring pipeline fits when spikes would wreck OLS (up to ~29%
# contamination tolerated vs 0 for q144's least squares).
# Parity: day indices are exact DATEDIFF integers; every pairwise slope
# is frozen to round(10^6 * (c_j - c_i)/(j - i)) BEFORE the median, so
# the median is over integers; even counts average two integers (exact
# .5 halves); one /10^6 + 4dp at the end.
# Scale: the corpus collapses first to per-(type, day) counts (one keyed
# aggregate); the pairwise self-join runs on the calendar-bounded daily
# series (30 rows -> <=435 pairs per type, the q247 bounded-series
# exception); the median is a per-type window over those bounded pairs.
# --------------------------------------------------------------------------
@register(
    "q271_theil_sen",
    oracle="""
WITH daily AS (
    SELECT event_type,
           DATEDIFF('day', DATE '2024-01-01',
                    CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE))
               AS t,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
slopes AS (
    SELECT a.event_type,
           CAST(ROUND(1000000.0 * (b.c - a.c) / (b.t - a.t)) AS BIGINT)
               AS s
    FROM daily a JOIN daily b
      ON b.event_type = a.event_type AND b.t > a.t
),
ranked AS (
    SELECT event_type, s,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY s) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM slopes
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n_pairs,
       ROUND(AVG(s) / 1000000.0, 4) AS sen_slope
FROM ranked
WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
GROUP BY event_type
ORDER BY event_type
""",
    tags=("robust-stats", "A12", "W2"),
)
def q271_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen slope of the daily event-count series per type:
    (event_type, n_pairs, sen_slope)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.datediff(
            F.date_trunc("day", "ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).alias("t"),
    ).agg(F.count(F.lit(1)).alias("c"))
    a = daily.select("event_type", F.col("t").alias("ta"), F.col("c").alias("ca"))
    b = daily.select("event_type", F.col("t").alias("tb"), F.col("c").alias("cb"))
    slopes = (
        a.join(b, "event_type")
        .filter(F.col("tb") > F.col("ta"))
        .select(
            "event_type",
            F.round(
                1000000.0
                * (F.col("cb") - F.col("ca"))
                / (F.col("tb") - F.col("ta"))
            )
            .cast("long")
            .alias("s"),
        )
    )
    wr = Window.partitionBy("event_type").orderBy("s")
    wn = Window.partitionBy("event_type")
    ranked = slopes.select(
        "event_type",
        "s",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    mid = ranked.filter(
        (F.col("rn") == F.floor((F.col("n") + 1) / 2))
        | (F.col("rn") == F.floor((F.col("n") + 2) / 2))
    )
    return (
        mid.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n_pairs"),
            F.round(F.avg("s") / 1000000.0, 4).alias("sen_slope"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q288 - linear-interpolation gap fill: simulate sensor dropout (every
# 3rd calendar day per type is missing) over the daily mean-value series
# and reconstruct interior gaps by linear interpolation between the
# surrounding present days - the numeric upgrade of q166's LOCF
# (which repeats the last value; interpolation follows the trend).
# Parity: daily means are frozen floor(sum(100x)/n) integers; the
# interpolation v_prev + (v_next - v_prev) * (d - d_prev) / (d_next -
# d_prev) is ONE double expression over 5 integers; 4dp.
# Scale: corpus -> per-(type, day) aggregate first; gap detection and
# both neighbour lookups are windows over the calendar-bounded daily
# series (the q166 contract). Boundary gaps (no neighbour on one side)
# are dropped, not extrapolated.
# --------------------------------------------------------------------------
@register(
    "q288_linear_interp",
    oracle="""
WITH daily AS (
    SELECT event_type,
           DATEDIFF('day', DATE '2024-01-01',
                    CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE))
               AS d,
           CAST(SUM(CAST(ROUND(100.0 * value) AS BIGINT)) // COUNT(*)
                AS BIGINT) AS x
    FROM events GROUP BY 1, 2
),
present AS (SELECT * FROM daily WHERE d % 3 <> 0),
missing AS (SELECT event_type, d FROM daily WHERE d % 3 = 0),
prevn AS (
    SELECT m.event_type, m.d,
           MAX(p.d) AS pd
    FROM missing m JOIN present p
      ON p.event_type = m.event_type AND p.d < m.d
    GROUP BY m.event_type, m.d
),
nextn AS (
    SELECT m.event_type, m.d,
           MIN(p.d) AS nd
    FROM missing m JOIN present p
      ON p.event_type = m.event_type AND p.d > m.d
    GROUP BY m.event_type, m.d
)
SELECT m.event_type, m.d AS day_idx,
       ROUND((pv.x + (nv.x - pv.x) * CAST(m.d - pn.pd AS DOUBLE)
              / (nn.nd - pn.pd)) / 100.0, 4) AS value_interp,
       CAST(nn.nd - pn.pd AS BIGINT) AS gap_span
FROM missing m
JOIN prevn pn ON pn.event_type = m.event_type AND pn.d = m.d
JOIN nextn nn ON nn.event_type = m.event_type AND nn.d = m.d
JOIN present pv ON pv.event_type = m.event_type AND pv.d = pn.pd
JOIN present nv ON nv.event_type = m.event_type AND nv.d = nn.nd
ORDER BY m.event_type, day_idx
""",
    tags=("timeseries", "J14", "F19"),
)
def q288_linear_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of simulated every-3rd-day gaps in the daily
    mean-value series: (event_type, day_idx, value_interp, gap_span)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.datediff(
            F.date_trunc("day", "ts").cast("date"),
            F.lit("2024-01-01").cast("date"),
        ).alias("d"),
    ).agg(
        F.sum(F.round(100.0 * F.col("value")).cast("long")).alias("_s"),
        F.count(F.lit(1)).alias("_c"),
    ).select(
        "event_type", "d",
        # exact integer floor division (sums are non-negative): a double
        # divide would round the numerator past 2^53 and break the
        # integer-parity contract at extreme scale
        F.expr("_s div _c").cast("long").alias("x"),
    )
    present = daily.filter(F.col("d") % 3 != 0)
    missing = daily.filter(F.col("d") % 3 == 0).select("event_type", "d")
    p = present.select("event_type", F.col("d").alias("pd"), F.col("x").alias("px"))
    n = present.select("event_type", F.col("d").alias("nd"), F.col("x").alias("nx"))
    prevn = (
        missing.join(p, "event_type")
        .filter(F.col("pd") < F.col("d"))
        .groupBy("event_type", "d")
        .agg(F.max("pd").alias("pd"))
        .join(p, ["event_type", "pd"])
    )
    nextn = (
        missing.join(n, "event_type")
        .filter(F.col("nd") > F.col("d"))
        .groupBy("event_type", "d")
        .agg(F.min("nd").alias("nd"))
        .join(n, ["event_type", "nd"])
    )
    joined = prevn.join(nextn, ["event_type", "d"])
    interp = (
        F.col("px")
        + (F.col("nx") - F.col("px"))
        * (F.col("d") - F.col("pd")).cast("double")
        / (F.col("nd") - F.col("pd"))
    ) / 100.0
    return joined.select(
        "event_type",
        F.col("d").cast("long").alias("day_idx"),
        F.round(interp, 4).alias("value_interp"),
        (F.col("nd") - F.col("pd")).cast("long").alias("gap_span"),
    ).orderBy("event_type", "day_idx")


# --------------------------------------------------------------------------
# q294 - Mann-Kendall trend test per event type: the nonparametric
# monotone-trend test (S = sum of pairwise sign comparisons of the daily
# count series, tie-corrected variance, continuity-corrected z, two-
# sided p) - the significance companion to q271's Theil-Sen slope (MK
# says WHETHER the trend is real, Sen says how steep).
# Parity: S and the x18 variance numerator are exact integers (pairwise
# signs + tie-group algebra); z is one closed-form double; p reuses the
# q278 Abramowitz-Stegun polynomial with identical literals; 4dp.
# Scale: collapse-first to per-(type, day) counts; the pairwise
# self-join and tie groups run on the calendar-bounded daily series
# (<= 435 pairs/type - the q247 bounded-series exception).
# --------------------------------------------------------------------------
@register(
    "q294_mann_kendall",
    oracle="""
WITH daily AS (
    SELECT event_type,
           DATEDIFF('day', DATE '2024-01-01',
                    CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE))
               AS t,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
s_stat AS (
    SELECT a.event_type,
           CAST(SUM(CASE WHEN b.c > a.c THEN 1
                         WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT) AS s,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM daily a JOIN daily b
      ON b.event_type = a.event_type AND b.t > a.t
    GROUP BY a.event_type
),
nn AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM daily GROUP BY event_type
),
ties AS (
    SELECT event_type,
           CAST(COALESCE(SUM(tg * (tg - 1) * (2 * tg + 5)), 0) AS BIGINT)
               AS tie_term
    FROM (SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS tg
          FROM daily GROUP BY event_type, c)
    WHERE tg > 1
    GROUP BY event_type
),
var18 AS (
    SELECT n.event_type,
           CAST(n.n * (n.n - 1) * (2 * n.n + 5)
                - COALESCE(t.tie_term, 0) AS BIGINT) AS v18,
           n.n
    FROM nn n LEFT JOIN ties t ON t.event_type = n.event_type
),
zed AS (
    SELECT s.event_type, s.s, s.n_pairs, v.n, v.v18,
           CASE WHEN s.s > 0 THEN (s.s - 1) / SQRT(v.v18 / 18.0)
                WHEN s.s < 0 THEN (s.s + 1) / SQRT(v.v18 / 18.0)
                ELSE 0.0 END AS z
    FROM s_stat s JOIN var18 v ON v.event_type = s.event_type
),
pv AS (
    SELECT event_type, s, n_pairs, z, ABS(z) AS az,
           1.0 / (1.0 + 0.2316419 * ABS(z)) AS t_as
    FROM zed
)
SELECT event_type, s AS s_stat, n_pairs,
       ROUND(z, 4) AS z_stat,
       ROUND(2.0 * (0.3989422804014327 * EXP(-(az * az) / 2.0)
                    * (0.319381530 * t_as
                       - 0.356563782 * t_as * t_as
                       + 1.781477937 * t_as * t_as * t_as
                       - 1.821255978 * t_as * t_as * t_as * t_as
                       + 1.330274429 * t_as * t_as * t_as * t_as * t_as)),
             4) AS p_value
FROM pv
ORDER BY event_type
""",
    tags=("robust-stats", "A12", "W2"),
)
def q294_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test of the daily count series:
    (event_type, s_stat, n_pairs, z_stat, p_value)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.datediff(
            F.date_trunc("day", "ts").cast("date"),
            F.lit("2024-01-01").cast("date"),
        ).alias("t"),
    ).agg(F.count(F.lit(1)).alias("c"))
    a = daily.select("event_type", F.col("t").alias("ta"), F.col("c").alias("ca"))
    b = daily.select("event_type", F.col("t").alias("tb"), F.col("c").alias("cb"))
    s_stat = (
        a.join(b, "event_type")
        .filter(F.col("tb") > F.col("ta"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("cb") > F.col("ca"), 1)
                .when(F.col("cb") < F.col("ca"), -1)
                .otherwise(0)
            ).alias("s"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
    )
    nn = daily.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ties = (
        daily.groupBy("event_type", "c")
        .agg(F.count(F.lit(1)).alias("tg"))
        .filter(F.col("tg") > 1)
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("tg") * (F.col("tg") - 1) * (2 * F.col("tg") + 5)
            ).alias("tie_term")
        )
    )
    var18 = nn.join(ties, "event_type", "left").select(
        "event_type",
        "n",
        (
            F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
            - F.coalesce("tie_term", F.lit(0))
        ).alias("v18"),
    )
    zed = s_stat.join(var18, "event_type").select(
        "event_type",
        "s",
        "n_pairs",
        F.when(F.col("s") > 0, (F.col("s") - 1) / F.sqrt(F.col("v18") / 18.0))
        .when(F.col("s") < 0, (F.col("s") + 1) / F.sqrt(F.col("v18") / 18.0))
        .otherwise(F.lit(0.0))
        .alias("z"),
    )
    az = F.abs(F.col("z"))
    t_as = 1.0 / (1.0 + 0.2316419 * az)
    p = 2.0 * (
        0.3989422804014327
        * F.exp(-(az * az) / 2.0)
        * (
            0.319381530 * t_as
            - 0.356563782 * t_as * t_as
            + 1.781477937 * t_as * t_as * t_as
            - 1.821255978 * t_as * t_as * t_as * t_as
            + 1.330274429 * t_as * t_as * t_as * t_as * t_as
        )
    )
    return zed.select(
        "event_type",
        F.col("s").cast("long").alias("s_stat"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.round("z", 4).alias("z_stat"),
        F.round(p, 4).alias("p_value"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# q300 - power-law (Zipf tail) MLE on the user-activity degree
# distribution: the Clauset-Shalizi-Newman closed form
# alpha = 1 + n / sum(ln(k_i / (kmin - 1/2))) over per-user event
# counts - the "is this graph/usage heavy-tailed" diagnostic that
# decides whether mean-based capacity planning is even valid. kmin = 1.
# Parity: the corpus collapses to the DEGREE DOMAIN (distinct count
# values with multiplicities); each ln(k/0.5) term is frozen to
# round(10^6 * ln) per distinct degree and weighted by its multiplicity,
# so the denominator is an integer sum; alpha is one division, 4dp.
# Scale: one per-user count, one degree-domain aggregate (bounded by
# max activity, not user count), 1 output row.
# --------------------------------------------------------------------------
@register(
    "q300_powerlaw_alpha",
    oracle="""
WITH deg AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS k FROM events GROUP BY user_id
),
dom AS (
    SELECT k, CAST(COUNT(*) AS BIGINT) AS m,
           CAST(ROUND(1000000.0 * LN(CAST(k AS DOUBLE) / 0.5)) AS BIGINT)
               AS lnk
    FROM deg GROUP BY k
),
agg AS (
    SELECT CAST(SUM(m) AS BIGINT) AS n,
           CAST(SUM(m * lnk) AS BIGINT) AS denom,
           CAST(MAX(k) AS BIGINT) AS kmax,
           CAST(MIN(k) AS BIGINT) AS kmin
    FROM dom
)
SELECT n AS n_users, kmin AS min_degree, kmax AS max_degree,
       ROUND(1.0 + CAST(n AS DOUBLE) * 1000000.0 / denom, 4) AS alpha
FROM agg
""",
    tags=("graph", "A12", "A5"),
)
def q300_powerlaw_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSN power-law exponent of user activity degrees:
    (n_users, min_degree, max_degree, alpha)."""
    events = load_table(spark, sf_dir, "events")
    deg = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("k"))
    dom = deg.groupBy("k").agg(F.count(F.lit(1)).alias("m")).select(
        "k",
        "m",
        F.round(1000000.0 * F.log(F.col("k").cast("double") / 0.5))
        .cast("long")
        .alias("lnk"),
    )
    agg = dom.agg(
        F.sum("m").alias("n"),
        F.sum(F.col("m") * F.col("lnk")).alias("denom"),
        F.max("k").alias("kmax"),
        F.min("k").alias("kmin"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n_users"),
        F.col("kmin").cast("long").alias("min_degree"),
        F.col("kmax").cast("long").alias("max_degree"),
        F.round(
            1.0 + F.col("n").cast("double") * 1000000.0 / F.col("denom"), 4
        ).alias("alpha"),
    )


# --------------------------------------------------------------------------
# q302 - population stability index (PSI) per event type: the standard
# model-monitoring drift score between the first and second half of the
# month over 10 fixed value bands, with the conventional 0.1/0.25
# watch/alert verdicts. q156 measures corpus drift in KL over tokens;
# PSI is its banded, score-distribution sibling every scoring pipeline
# reports.
# Parity: band counts are exact integers; each PSI term
# (p_i - q_i) * ln(p_i / q_i) is frozen to round(10^9 * term) BEFORE the
# cross-band sum (Laplace +1 smoothing keeps every band populated so the
# log never sees zero); one /10^9 + 4dp at the end.
# Scale: one conditional aggregate to the (type, band) relation; all
# algebra on <= |types| x 10 rows.
# --------------------------------------------------------------------------
@register(
    "q302_psi_drift",
    oracle="""
WITH tagged AS (
    SELECT event_type,
           CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16 00:00:00'
                THEN 0 ELSE 1 END AS half,
           LEAST(CAST(FLOOR(value / 50.0) AS BIGINT), 9) AS band
    FROM events
),
cells AS (
    SELECT event_type, band,
           CAST(SUM(1 - half) + 1 AS BIGINT) AS a,
           CAST(SUM(half) + 1 AS BIGINT) AS b
    FROM tagged GROUP BY event_type, band
),
tot AS (
    SELECT event_type, CAST(SUM(a) AS BIGINT) AS ta,
           CAST(SUM(b) AS BIGINT) AS tb
    FROM cells GROUP BY event_type
),
terms AS (
    SELECT c.event_type,
           CAST(ROUND(1000000000.0
                * (CAST(c.a AS DOUBLE) / t.ta - CAST(c.b AS DOUBLE) / t.tb)
                * LN((CAST(c.a AS DOUBLE) / t.ta)
                     / (CAST(c.b AS DOUBLE) / t.tb))) AS BIGINT) AS term
    FROM cells c JOIN tot t ON t.event_type = c.event_type
)
SELECT event_type,
       ROUND(CAST(SUM(term) AS DOUBLE) / 1000000000.0, 4) AS psi,
       CAST(CASE WHEN SUM(term) >= 250000000 THEN 2
                 WHEN SUM(term) >= 100000000 THEN 1 ELSE 0 END AS BIGINT)
           AS drift_level
FROM terms
GROUP BY event_type
ORDER BY event_type
""",
    tags=("ml-monitoring", "A6", "A12"),
)
def q302_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI between month halves over 10 value bands per type:
    (event_type, psi, drift_level) - 0 ok / 1 watch / 2 alert."""
    events = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    tagged = events.select(
        "event_type",
        (F.col("ts") >= cut).cast("long").alias("half"),
        F.least(
            F.floor(F.col("value") / 50.0).cast("long"), F.lit(9).cast("long")
        ).alias("band"),
    )
    cells = tagged.groupBy("event_type", "band").agg(
        (F.sum(1 - F.col("half")) + 1).alias("a"),
        (F.sum("half") + 1).alias("b"),
    )
    tot = cells.groupBy("event_type").agg(
        F.sum("a").alias("ta"), F.sum("b").alias("tb")
    )
    pa = F.col("a").cast("double") / F.col("ta")
    pb = F.col("b").cast("double") / F.col("tb")
    terms = cells.join(tot, "event_type").select(
        "event_type",
        F.round(1000000000.0 * (pa - pb) * F.log(pa / pb))
        .cast("long")
        .alias("term"),
    )
    return (
        terms.groupBy("event_type")
        .agg(F.sum("term").alias("tsum"))
        .select(
            "event_type",
            F.round(F.col("tsum").cast("double") / 1000000000.0, 4).alias("psi"),
            F.when(F.col("tsum") >= 250000000, 2)
            .when(F.col("tsum") >= 100000000, 1)
            .otherwise(0)
            .cast("long")
            .alias("drift_level"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q304 - exact distributed quantiles from value-domain counts: p50 /
# p90 / p99 of `value` per event type WITHOUT any row sort - collapse to
# per-(type, frozen value) counts, one cumulative window over the
# bounded value DOMAIN, then pick the lower-nearest order statistic at
# ceil(p * n). This is the scale path q64's sort-based percentile()
# cannot take at 100 TB (its per-group sort is row-scaled; this window
# is domain-scaled), and unlike t-digest it is EXACT.
# Parity: k-th order statistics are integer selections (value = smallest
# v with cum >= ceil(p*n), via integer arithmetic (p*n + 99) // 100);
# the only double is the final /100 display scaling, 4dp.
# Scale: one keyed aggregate to the (type, value-domain) relation; the
# cum window partitions per type over distinct values; three broadcast-
# joined threshold lookups.
# --------------------------------------------------------------------------
_Q304_PCTS = (50, 90, 99)


def _q304_pick(p: int) -> str:
    return f"""(
    SELECT event_type, MIN(v) AS v FROM cum
    JOIN nn USING (event_type)
    WHERE cum >= ({p} * n + 99) // 100
    GROUP BY event_type
)"""


@register(
    "q304_domain_quantiles",
    oracle=f"""
WITH frozen AS (
    SELECT event_type, CAST(ROUND(100.0 * value) AS BIGINT) AS v
    FROM events
),
g AS (
    SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS c
    FROM frozen GROUP BY event_type, v
),
nn AS (
    SELECT event_type, CAST(SUM(c) AS BIGINT) AS n FROM g GROUP BY event_type
),
cum AS (
    SELECT event_type, v, c,
           CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
    FROM g
)
SELECT n.event_type, n.n,
       ROUND(p50.v / 100.0, 4) AS p50,
       ROUND(p90.v / 100.0, 4) AS p90,
       ROUND(p99.v / 100.0, 4) AS p99
FROM nn n
JOIN {_q304_pick(50)} p50 ON p50.event_type = n.event_type
JOIN {_q304_pick(90)} p90 ON p90.event_type = n.event_type
JOIN {_q304_pick(99)} p99 ON p99.event_type = n.event_type
ORDER BY n.event_type
""",
    tags=("quantiles", "A12", "W2"),
)
def q304_domain_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 per type from value-domain counts (no row
    sort): (event_type, n, p50, p90, p99)."""
    events = load_table(spark, sf_dir, "events")
    g = events.groupBy(
        "event_type",
        F.round(100.0 * F.col("value")).cast("long").alias("v"),
    ).agg(F.count(F.lit(1)).alias("c"))
    nn = g.groupBy("event_type").agg(F.sum("c").alias("n"))
    w = Window.partitionBy("event_type").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = g.select("event_type", "v", F.sum("c").over(w).alias("cum")).join(
        F.broadcast(nn), "event_type"
    )
    out = nn
    for p in _Q304_PCTS:
        pick = (
            cum.filter(
                F.col("cum") >= F.expr(f"({p} * n + 99) div 100")
            )
            .groupBy("event_type")
            .agg(F.min("v").alias(f"v{p}"))
        )
        out = out.join(pick, "event_type")
    return out.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        *[
            F.round(F.col(f"v{p}") / 100.0, 4).alias(f"p{p}")
            for p in _Q304_PCTS
        ],
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# q306 - Spearman rank correlation between event types' daily count
# series: average-rank rho over the 30-day calendar for every type pair
# - the monotone-association complement to q174's rolling Pearson
# (Spearman survives outlier days and nonlinear coupling).
# Parity: average ranks are exact rationals frozen as 2x-integers
# (2*rank is integer even for tied halves); rho's numerator/denominator
# are integer sums over the bounded series; one division, 4dp.
# Scale: collapse-first to daily counts; ranking windows partition per
# type over the calendar-bounded series; the pair join is |types|^2 x 30.
# --------------------------------------------------------------------------
@register(
    "q306_spearman_daily",
    oracle="""
WITH daily AS (
    SELECT event_type,
           CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
ranked AS (
    SELECT event_type, day,
           CAST(2 * RANK() OVER (PARTITION BY event_type ORDER BY c)
                + COUNT(*) OVER (PARTITION BY event_type, c) - 1 AS BIGINT)
               AS r2
    FROM daily
),
pairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           a.r2 AS ra, b.r2 AS rb
    FROM ranked a
    JOIN ranked b ON b.day = a.day AND a.event_type < b.event_type
),
stats AS (
    SELECT type_a, type_b,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(ra) AS BIGINT) AS sa, CAST(SUM(rb) AS BIGINT) AS sb,
           CAST(SUM(ra * rb) AS BIGINT) AS sab,
           CAST(SUM(ra * ra) AS BIGINT) AS saa,
           CAST(SUM(rb * rb) AS BIGINT) AS sbb
    FROM pairs GROUP BY type_a, type_b
)
SELECT type_a, type_b, n,
       ROUND((n * sab - CAST(sa AS DOUBLE) * sb)
             / SQRT((n * saa - CAST(sa AS DOUBLE) * sa)
                    * (n * sbb - CAST(sb AS DOUBLE) * sb)), 4) AS rho
FROM stats
ORDER BY type_a, type_b
""",
    tags=("robust-stats", "A12", "W2"),
)
def q306_spearman_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rho between daily count series for every type pair:
    (type_a, type_b, n, rho)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    wr = Window.partitionBy("event_type").orderBy("c")
    wt = Window.partitionBy("event_type", "c")
    ranked = daily.select(
        "event_type",
        "day",
        (
            2 * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 1
        ).cast("long").alias("r2"),
    )
    a = ranked.select(
        F.col("event_type").alias("type_a"), "day", F.col("r2").alias("ra")
    )
    b = ranked.select(
        F.col("event_type").alias("type_b"), "day", F.col("r2").alias("rb")
    )
    pairs = a.join(b, "day").filter(F.col("type_a") < F.col("type_b"))
    stats = pairs.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ra").alias("sa"),
        F.sum("rb").alias("sb"),
        F.sum(F.col("ra") * F.col("rb")).alias("sab"),
        F.sum(F.col("ra") * F.col("ra")).alias("saa"),
        F.sum(F.col("rb") * F.col("rb")).alias("sbb"),
    )
    num = F.col("n") * F.col("sab") - F.col("sa").cast("double") * F.col("sb")
    den = F.sqrt(
        (F.col("n") * F.col("saa") - F.col("sa").cast("double") * F.col("sa"))
        * (F.col("n") * F.col("sbb") - F.col("sb").cast("double") * F.col("sb"))
    )
    return stats.select(
        "type_a",
        "type_b",
        F.col("n").cast("long").alias("n"),
        F.round(num / den, 4).alias("rho"),
    ).orderBy("type_a", "type_b")


# --------------------------------------------------------------------------
# q307 - lead-lag cross-correlation: Pearson correlation of daily count
# series at every shift in [-3, +3] days for each type pair, and the
# best lag by |r| - "does error activity LEAD purchases by two days?",
# the question q306's same-day rho cannot answer.
# Parity: per-(pair, lag) sums over the aligned overlap are exact
# integers (the overlap set is a deterministic day join); r is the
# closed-form expression over 6 integers; the argmax lag orders by
# (round(|r|, 4) desc, lag asc) so ties are deterministic; 4dp.
# Scale: collapse-first to daily counts; the lag join is |types|^2 x 7
# x 30 bounded rows; one (pair, lag) aggregate + one tiny argmax window.
# --------------------------------------------------------------------------
@register(
    "q307_lead_lag",
    oracle="""
WITH daily AS (
    SELECT event_type,
           DATEDIFF('day', DATE '2024-01-01',
                    CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE))
               AS t,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
lags AS (SELECT UNNEST(GENERATE_SERIES(-3, 3)) AS lag),
pairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b, l.lag,
           a.c AS ca, b.c AS cb
    FROM daily a
    CROSS JOIN lags l
    JOIN daily b ON b.event_type <> a.event_type
               AND a.event_type < b.event_type
               AND b.t = a.t + l.lag
),
stats AS (
    SELECT type_a, type_b, lag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(ca) AS BIGINT) AS sa, CAST(SUM(cb) AS BIGINT) AS sb,
           CAST(SUM(ca * cb) AS BIGINT) AS sab,
           CAST(SUM(ca * ca) AS BIGINT) AS saa,
           CAST(SUM(cb * cb) AS BIGINT) AS sbb
    FROM pairs GROUP BY type_a, type_b, lag
),
scored AS (
    SELECT type_a, type_b, CAST(lag AS BIGINT) AS lag, n,
           ROUND((n * sab - CAST(sa AS DOUBLE) * sb)
                 / SQRT((n * saa - CAST(sa AS DOUBLE) * sa)
                        * (n * sbb - CAST(sb AS DOUBLE) * sb)), 4) AS r
    FROM stats
),
best AS (
    SELECT type_a, type_b, lag AS best_lag, r AS best_r,
           ROW_NUMBER() OVER (PARTITION BY type_a, type_b
                              ORDER BY ABS(r) DESC, lag ASC) AS rk
    FROM scored
)
SELECT type_a, type_b, best_lag, best_r
FROM best WHERE rk = 1
ORDER BY type_a, type_b
""",
    tags=("timeseries", "A12", "W3"),
)
def q307_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best lead-lag (by |r|, lags -3..3) between daily count series:
    (type_a, type_b, best_lag, best_r)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.datediff(
            F.date_trunc("day", "ts").cast("date"),
            F.lit("2024-01-01").cast("date"),
        ).alias("t"),
    ).agg(F.count(F.lit(1)).alias("c"))
    lags = spark.createDataFrame([(l,) for l in range(-3, 4)], "lag long")
    a = daily.select(
        F.col("event_type").alias("type_a"), F.col("t").alias("ta"),
        F.col("c").alias("ca"),
    )
    b = daily.select(
        F.col("event_type").alias("type_b"), F.col("t").alias("tb"),
        F.col("c").alias("cb"),
    )
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("type_a") < F.col("type_b"))
            & (F.col("tb") == F.col("ta") + F.col("lag")),
        )
    )
    stats = pairs.groupBy("type_a", "type_b", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ca").alias("sa"),
        F.sum("cb").alias("sb"),
        F.sum(F.col("ca") * F.col("cb")).alias("sab"),
        F.sum(F.col("ca") * F.col("ca")).alias("saa"),
        F.sum(F.col("cb") * F.col("cb")).alias("sbb"),
    )
    num = F.col("n") * F.col("sab") - F.col("sa").cast("double") * F.col("sb")
    den = F.sqrt(
        (F.col("n") * F.col("saa") - F.col("sa").cast("double") * F.col("sa"))
        * (F.col("n") * F.col("sbb") - F.col("sb").cast("double") * F.col("sb"))
    )
    scored = stats.select(
        "type_a",
        "type_b",
        F.col("lag").cast("long").alias("lag"),
        F.round(num / den, 4).alias("r"),
    )
    w = Window.partitionBy("type_a", "type_b").orderBy(
        F.abs(F.col("r")).desc(), F.col("lag").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "type_a",
            "type_b",
            F.col("lag").alias("best_lag"),
            F.col("r").alias("best_r"),
        )
        .orderBy("type_a", "type_b")
    )


# --------------------------------------------------------------------------
# q310 - histogram planning audit (Freedman-Diaconis): per event type,
# the IQR from exact domain quantiles (the q304 machinery at p25/p75),
# the FD bin width 2*IQR/n^(1/3), and the implied bin count over the
# observed range - the relation a profiling UI consults before drawing
# anything, computed the domain-scaled way.
# Parity: IQR and range are exact integer differences of order
# statistics; cbrt is frozen to round(10^6 * cbrt(n)) (engines' cbrt may
# differ in the last ulp - the freeze absorbs it); width and bins are
# fixed double expressions, 4dp / exact integer ceil.
# Scale: the q304 budget - value-domain counts + per-type cum window.
# --------------------------------------------------------------------------
@register(
    "q310_fd_histogram_plan",
    oracle="""
WITH frozen AS (
    SELECT event_type, CAST(ROUND(100.0 * value) AS BIGINT) AS v
    FROM events
),
g AS (
    SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS c
    FROM frozen GROUP BY event_type, v
),
nn AS (
    SELECT event_type, CAST(SUM(c) AS BIGINT) AS n,
           CAST(MIN(v) AS BIGINT) AS vmin, CAST(MAX(v) AS BIGINT) AS vmax
    FROM g GROUP BY event_type
),
cum AS (
    SELECT event_type, v,
           CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
    FROM g
),
p25 AS (
    SELECT c.event_type, MIN(c.v) AS v FROM cum c JOIN nn USING (event_type)
    WHERE c.cum >= (25 * n + 99) // 100 GROUP BY c.event_type
),
p75 AS (
    SELECT c.event_type, MIN(c.v) AS v FROM cum c JOIN nn USING (event_type)
    WHERE c.cum >= (75 * n + 99) // 100 GROUP BY c.event_type
),
planned AS (
    SELECT n.event_type, n.n,
           CAST(p75.v - p25.v AS BIGINT) AS iqr,
           CAST(n.vmax - n.vmin AS BIGINT) AS rng,
           CAST(ROUND(1000000.0 * CBRT(CAST(n.n AS DOUBLE))) AS BIGINT)
               AS cbrt_n
    FROM nn n
    JOIN p25 ON p25.event_type = n.event_type
    JOIN p75 ON p75.event_type = n.event_type
)
SELECT event_type, n, ROUND(iqr / 100.0, 4) AS iqr,
       ROUND(2.0 * iqr * 1000000.0 / cbrt_n / 100.0, 4) AS fd_width,
       CAST(CEIL(CAST(rng AS DOUBLE) * cbrt_n / (2.0 * iqr * 1000000.0))
            AS BIGINT) AS n_bins
FROM planned
ORDER BY event_type
""",
    tags=("quantiles", "A12", "F19"),
)
def q310_fd_histogram_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freedman-Diaconis histogram plan per type: (event_type, n, iqr,
    fd_width, n_bins)."""
    events = load_table(spark, sf_dir, "events")
    g = events.groupBy(
        "event_type",
        F.round(100.0 * F.col("value")).cast("long").alias("v"),
    ).agg(F.count(F.lit(1)).alias("c"))
    nn = g.groupBy("event_type").agg(
        F.sum("c").alias("n"),
        F.min("v").alias("vmin"),
        F.max("v").alias("vmax"),
    )
    w = Window.partitionBy("event_type").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = g.select("event_type", "v", F.sum("c").over(w).alias("cum")).join(
        F.broadcast(nn.select("event_type", "n")), "event_type"
    )
    picks = {}
    for p in (25, 75):
        picks[p] = (
            cum.filter(F.col("cum") >= F.expr(f"({p} * n + 99) div 100"))
            .groupBy("event_type")
            .agg(F.min("v").alias(f"v{p}"))
        )
    planned = (
        nn.join(picks[25], "event_type")
        .join(picks[75], "event_type")
        .select(
            "event_type",
            "n",
            (F.col("v75") - F.col("v25")).alias("iqr_i"),
            (F.col("vmax") - F.col("vmin")).alias("rng"),
            F.round(1000000.0 * F.cbrt(F.col("n").cast("double")))
            .cast("long")
            .alias("cbrt_n"),
        )
    )
    return planned.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("iqr_i") / 100.0, 4).alias("iqr"),
        F.round(
            2.0 * F.col("iqr_i") * 1000000.0 / F.col("cbrt_n") / 100.0, 4
        ).alias("fd_width"),
        F.ceil(
            F.col("rng").cast("double")
            * F.col("cbrt_n")
            / (2.0 * F.col("iqr_i") * 1000000.0)
        )
        .cast("long")
        .alias("n_bins"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# q326 - Lomb-lite periodogram over the daily event-count series per
# type: spectral power at candidate periods 2..10 days from the
# mean-centered counts,
#   A_p = sum_d X_d cos(2*pi*t_d/p),  B_p = ... sin ...,
#   power_p = (A_p^2 + B_p^2) / (n_days * sum_d X_d^2)   (in [0, 1]-ish)
# with X_d = n_days*c_d - S (exact integer mean-centering, scaled by
# n_days to avoid fractions). The "is there a weekly cadence" detector
# complementing q247's ACF (lag domain) with the frequency domain.
# Parity: X_d and t_d are exact integers; cos/sin are frozen to
# round(1e6 * trig) per (day, period) BEFORE the cross-day sums (the
# q310 cbrt treatment — absorbs engines' last-ulp libm drift); A/B are
# exact integers of the frozen trig; power is one double expression, 4dp.
# Scale: collapse-first to the (type, day) calendar-bounded relation; the
# 9-period expansion and all trig run on that bounded relation only.
# --------------------------------------------------------------------------
_PGRAM_PERIODS = list(range(2, 11))


@register(
    "q326_periodogram",
    oracle=f"""
WITH daily AS (
    SELECT event_type,
           CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
base AS (
    SELECT event_type, CAST(MIN(day) AS DATE) AS d0,
           CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(c) AS BIGINT) AS s
    FROM daily GROUP BY event_type
),
x AS (
    SELECT d.event_type, b.nd,
           DATEDIFF('day', b.d0, d.day) AS t,
           d.c * b.nd - b.s AS xd
    FROM daily d JOIN base b ON b.event_type = d.event_type
),
terms AS (
    SELECT x.event_type, x.nd, p.p,
           x.xd * CAST(ROUND(1000000.0 * COS(2 * PI() * x.t / p.p))
                       AS BIGINT) AS ct,
           x.xd * CAST(ROUND(1000000.0 * SIN(2 * PI() * x.t / p.p))
                       AS BIGINT) AS st,
           x.xd * x.xd AS x2
    FROM x CROSS JOIN (SELECT UNNEST({_PGRAM_PERIODS}) AS p) p
),
pw AS (
    SELECT event_type, p, CAST(MAX(nd) AS BIGINT) AS nd,
           CAST(SUM(ct) AS BIGINT) AS a, CAST(SUM(st) AS BIGINT) AS b,
           CAST(SUM(x2) AS BIGINT) AS sx2
    FROM terms GROUP BY event_type, p
)
SELECT event_type, CAST(p AS BIGINT) AS period,
       ROUND((CAST(a AS DOUBLE) * a + CAST(b AS DOUBLE) * b)
             / 1000000000000.0 / (CAST(nd AS DOUBLE) * sx2), 4) AS power
FROM pw
ORDER BY event_type, period
""",
    tags=("timeseries", "A12", "J14"),
)
def q326_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-count spectral power at periods 2..10 days per type:
    (event_type, period, power)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    base = daily.groupBy("event_type").agg(
        F.min("day").alias("d0"),
        F.count(F.lit(1)).alias("nd"),
        F.sum("c").alias("s"),
    )
    x = daily.join(F.broadcast(base), "event_type").select(
        "event_type",
        "nd",
        F.datediff("day", "d0").alias("t"),
        (F.col("c") * F.col("nd") - F.col("s")).alias("xd"),
    )
    p = spark.range(2, 11).select(F.col("id").alias("p"))
    two_pi = 2.0 * 3.141592653589793
    ct = F.round(
        1000000.0 * F.cos(two_pi * F.col("t") / F.col("p"))
    ).cast("long")
    st = F.round(
        1000000.0 * F.sin(two_pi * F.col("t") / F.col("p"))
    ).cast("long")
    terms = x.crossJoin(F.broadcast(p)).select(
        "event_type",
        "nd",
        "p",
        (F.col("xd") * ct).alias("ct"),
        (F.col("xd") * st).alias("st"),
        (F.col("xd") * F.col("xd")).alias("x2"),
    )
    pw = terms.groupBy("event_type", "p").agg(
        F.max("nd").alias("nd"),
        F.sum("ct").alias("a"),
        F.sum("st").alias("b"),
        F.sum("x2").alias("sx2"),
    )
    return pw.select(
        "event_type",
        F.col("p").cast("long").alias("period"),
        F.round(
            (
                F.col("a").cast("double") * F.col("a")
                + F.col("b").cast("double") * F.col("b")
            )
            / 1.0e12
            / (F.col("nd").cast("double") * F.col("sx2")),
            4,
        ).alias("power"),
    ).orderBy("event_type", "period")


# --------------------------------------------------------------------------
# q327 - Cochran-Armitage trend test: does the high-price-order rate
# (o_totalprice > 250000) TREND monotonically across the five ordered
# priority classes (score = leading digit of o_orderpriority)? The
# ordered-dose test that q250's unordered chi-square association cannot
# express:
#   Z = sum_i s_i (r_i - n_i R/N)
#       / sqrt(R/N (1-R/N) [sum_i s_i^2 n_i - (sum_i s_i n_i)^2 / N]).
# Parity: the five (n_i, r_i) cells and all score moments are exact
# integers from one conditional aggregate; Z is one double expression
# over seven integers (the numerator is scaled by N to stay integer:
# num*N = N sum s_i r_i - R sum s_i n_i); 4dp.
# Scale: one full-table aggregate with map-side partials over orders;
# the five-row cell relation reduces on the driver-free single row.
# --------------------------------------------------------------------------
@register(
    "q327_trend_test",
    oracle="""
WITH cells AS (
    SELECT CAST(SUBSTR(o_orderpriority, 1, 1) AS BIGINT) AS s,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN o_totalprice > 250000 THEN 1 ELSE 0 END)
                AS BIGINT) AS r
    FROM orders GROUP BY 1
),
tot AS (
    SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(r) AS BIGINT) AS rr,
           CAST(SUM(s * n) AS BIGINT) AS sn,
           CAST(SUM(s * s * n) AS BIGINT) AS ssn,
           CAST(SUM(s * r) AS BIGINT) AS sr,
           CAST(COUNT(*) AS BIGINT) AS k
    FROM cells
)
SELECT nn AS n, rr AS n_high, k,
       ROUND((CAST(nn AS DOUBLE) * sr - CAST(rr AS DOUBLE) * sn)
             / (CAST(nn AS DOUBLE)
                * SQRT((CAST(rr AS DOUBLE) / nn) * (1.0 - CAST(rr AS DOUBLE) / nn)
                       * (ssn - CAST(sn AS DOUBLE) * sn / nn))), 4) AS z
FROM tot
""",
    tags=("ab-test", "A12", "P12"),
)
def q327_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend of high-price rate across ordered priority
    scores: (n, n_high, k, z)."""
    orders = load_table(spark, sf_dir, "orders")
    cells = orders.groupBy(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("s")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("o_totalprice") > 250000).cast("long")).alias("r"),
    )
    tot = cells.agg(
        F.sum("n").alias("nn"),
        F.sum("r").alias("rr"),
        F.sum(F.col("s") * F.col("n")).alias("sn"),
        F.sum(F.col("s") * F.col("s") * F.col("n")).alias("ssn"),
        F.sum(F.col("s") * F.col("r")).alias("sr"),
        F.count(F.lit(1)).alias("k"),
    )
    nnd = F.col("nn").cast("double")
    rrd = F.col("rr").cast("double")
    z = (nnd * F.col("sr") - rrd * F.col("sn")) / (
        nnd
        * F.sqrt(
            (rrd / F.col("nn"))
            * (1.0 - rrd / F.col("nn"))
            * (F.col("ssn") - F.col("sn").cast("double") * F.col("sn") / F.col("nn"))
        )
    )
    return tot.select(
        F.col("nn").cast("long").alias("n"),
        F.col("rr").cast("long").alias("n_high"),
        F.col("k").cast("long").alias("k"),
        F.round(z, 4).alias("z"),
    )


# --------------------------------------------------------------------------
# q342 - Hampel filter over the daily event-count series: rolling
# (+-3 day) median and MAD, flagging days where |x - med| exceeds
# 3 * 1.4826 * MAD — the robust outlier detector that q153's z-score
# anomalies can't be (one wild day drags a mean; it barely moves a
# median). The frame is ROWS-based so series edges use their truncated
# neighborhoods.
# Parity: counts are integers, so the interpolated rolling median is an
# exact multiple of 0.5 and the MAD an exact multiple of 0.25 (linear
# interpolation over exact values on both engines); the outlier
# comparison is made on round(1e4*...) frozen sides so a last-ulp
# difference in the 1.4826 product cannot flip a flag.
# Scale: the +-3 neighborhood pair join runs on the bounded daily
# relation (~tens of rows) — constant work regardless of corpus size.
# --------------------------------------------------------------------------
@register(
    "q342_hampel_filter",
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
med AS (
    SELECT a.t, QUANTILE_CONT(CAST(b.x AS DOUBLE), 0.5) AS med
    FROM ranked a JOIN ranked b ON b.t BETWEEN a.t - 3 AND a.t + 3
    GROUP BY a.t
),
mad AS (
    SELECT a.t, QUANTILE_CONT(ABS(CAST(b.x AS DOUBLE) - m.med), 0.5) AS mad
    FROM ranked a
    JOIN med m ON m.t = a.t
    JOIN ranked b ON b.t BETWEEN a.t - 3 AND a.t + 3
    GROUP BY a.t
)
SELECT r.t, CAST(r.day AS VARCHAR) AS day, r.x,
       ROUND(m.med, 4) AS med, ROUND(d.mad, 4) AS mad,
       CAST(CASE WHEN CAST(ROUND(10000.0 * ABS(r.x - m.med)) AS BIGINT)
                      > CAST(ROUND(10000.0 * (3.0 * 1.4826 * d.mad))
                             AS BIGINT)
                 THEN 1 ELSE 0 END AS BIGINT) AS is_outlier
FROM ranked r
JOIN med m ON m.t = r.t
JOIN mad d ON d.t = r.t
ORDER BY r.t
""",
    tags=("timeseries", "W4", "A12"),
)
def q342_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel rolling-median/MAD outlier flags on daily counts:
    (t, day, x, med, mad, is_outlier)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    ranked = daily.select(
        "day",
        "x",
        F.row_number().over(Window.orderBy("day")).cast("long").alias("t"),
    )
    a = ranked.select(F.col("t").alias("ct"))
    b = ranked.select(F.col("t").alias("j"), F.col("x").alias("xj"))
    nbr = a.join(
        b,
        (F.col("j") >= F.col("ct") - 3) & (F.col("j") <= F.col("ct") + 3),
    )
    med = nbr.groupBy("ct").agg(
        F.expr("percentile(CAST(xj AS DOUBLE), 0.5)").alias("med")
    )
    mad = (
        nbr.join(med, "ct")
        .groupBy("ct")
        .agg(
            F.expr(
                "percentile(ABS(CAST(xj AS DOUBLE) - med), 0.5)"
            ).alias("mad")
        )
    )
    flag = (
        F.round(10000.0 * F.abs(F.col("x") - F.col("med"))).cast("long")
        > F.round(10000.0 * (3.0 * 1.4826 * F.col("mad"))).cast("long")
    ).cast("long")
    return (
        ranked.join(med, F.col("ct") == F.col("t"))
        .drop("ct")
        .join(mad, F.col("ct") == F.col("t"))
        .drop("ct")
        .select(
            "t",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "x",
            F.round("med", 4).alias("med"),
            F.round("mad", 4).alias("mad"),
            flag.alias("is_outlier"),
        )
        .orderBy("t")
    )


# --------------------------------------------------------------------------
# q354 - Poisson overdispersion test of per-type daily event counts: the
# dispersion index D = (n-1)*s^2/mean against its chi-square null, with
# the normal-approximation z = (D - (n-1)) / sqrt(2*(n-1)). "Is this
# arrival process Poisson or bursty" - the capacity-planning gate that
# decides whether mean-based provisioning (q320 peak concurrency reads
# the other side) is even meaningful.
# Parity: daily counts are exact integers; n/Sx/Sxx are exact; s^2, D
# and z are single double expressions over them. 4dp.
# Scale: one (type, day) keyed aggregate then a (type) keyed reduce over
# the calendar-bounded relation.
# --------------------------------------------------------------------------
@register(
    "q354_dispersion_test",
    oracle="""
WITH daily AS (
    SELECT event_type,
           CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY 1, 2
),
s AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(x * x) AS BIGINT) AS sxx
    FROM daily GROUP BY event_type
)
SELECT event_type, n,
       ROUND(CAST(sx AS DOUBLE) / n, 4) AS mean_daily,
       ROUND((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
             / (CAST(n AS DOUBLE) * (n - 1)), 4) AS var_daily,
       ROUND(((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
              / (CAST(n AS DOUBLE) * (n - 1))) * (n - 1)
             / (CAST(sx AS DOUBLE) / n), 4) AS dispersion,
       ROUND((((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
               / (CAST(n AS DOUBLE) * (n - 1))) * (n - 1)
              / (CAST(sx AS DOUBLE) / n) - (n - 1))
             / SQRT(2.0 * (n - 1)), 4) AS z,
       CAST(CASE WHEN (((n * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * sx)
                        / (CAST(n AS DOUBLE) * (n - 1))) * (n - 1)
                       / (CAST(sx AS DOUBLE) / n) - (n - 1))
                      / SQRT(2.0 * (n - 1)) > 2.0
                 THEN 1 ELSE 0 END AS BIGINT) AS overdispersed
FROM s ORDER BY event_type
""",
    tags=("timeseries", "capacity", "A12"),
)
def q354_dispersion_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson dispersion index of daily counts per event type:
    (event_type, n, mean_daily, var_daily, dispersion, z,
    overdispersed)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    var = (
        F.col("n") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx")
    ) / (F.col("n").cast("double") * (F.col("n") - 1))
    disp = var * (F.col("n") - 1) / (F.col("sx").cast("double") / F.col("n"))
    z = (disp - (F.col("n") - 1)) / F.sqrt(2.0 * (F.col("n") - 1))
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("sx").cast("double") / F.col("n"), 4).alias(
            "mean_daily"
        ),
        F.round(var, 4).alias("var_daily"),
        F.round(disp, 4).alias("dispersion"),
        F.round(z, 4).alias("z"),
        (z > 2.0).cast("long").alias("overdispersed"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# q366 - circular time-of-day statistics per event type: map each event
# to its angle on the 24h circle (theta = 2*pi*sec_of_day/86400) and
# report the circular mean hour and the resultant length
# R = |sum e^{i*theta}|/n - the statistics that get "mean hour of
# activity" RIGHT when activity straddles midnight (a linear mean of
# 23:00 and 01:00 says noon; the circular mean says midnight). R near 1
# = concentrated daily peak, near 0 = uniform around the clock.
# Parity: sec_of_day is exact integer arithmetic on epoch seconds (UTC-
# pinned reader); cos/sin are frozen per event to round(1e6*trig) (the
# q326 libm-ulp treatment) so C and S are exact integer sums; mean hour
# and R are single double expressions with the SAME atan2 branch handling
# ((atan2 + 2*pi) fmod 2*pi) on both engines. 4dp.
# Scale: one narrow map + one (type) keyed aggregate with map-side
# partials. Nothing downstream of the reduce exceeds the type dim.
# --------------------------------------------------------------------------
@register(
    "q366_circular_stats",
    oracle="""
WITH ang AS (
    SELECT event_type,
           2.0 * PI()
           * (CAST(FLOOR(EPOCH(CAST(ts AS TIMESTAMP))) AS BIGINT) % 86400)
               / 86400.0 AS theta
    FROM events
),
frozen AS (
    SELECT event_type,
           CAST(ROUND(1000000.0 * COS(theta)) AS BIGINT) AS c,
           CAST(ROUND(1000000.0 * SIN(theta)) AS BIGINT) AS s
    FROM ang
),
agg AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(c) AS BIGINT) AS sc, CAST(SUM(s) AS BIGINT) AS ss
    FROM frozen GROUP BY event_type
)
SELECT event_type, n,
       ROUND(FMOD(ATAN2(CAST(ss AS DOUBLE), CAST(sc AS DOUBLE))
                  + 2.0 * PI(), 2.0 * PI()) / (2.0 * PI()) * 24.0, 4)
           AS mean_hour,
       ROUND(SQRT(CAST(sc AS DOUBLE) * sc + CAST(ss AS DOUBLE) * ss)
             / (1000000.0 * n), 4) AS resultant_r
FROM agg ORDER BY event_type
""",
    tags=("timeseries", "A12"),
)
def q366_circular_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular mean hour + resultant length per event type:
    (event_type, n, mean_hour, resultant_r)."""
    import math as _m

    events = load_table(spark, sf_dir, "events")
    theta = (
        2.0
        * _m.pi
        * (F.unix_timestamp("ts") % 86400).cast("double")
        / 86400.0
    )
    frozen = events.select(
        "event_type",
        F.round(1000000.0 * F.cos(theta)).cast("long").alias("c"),
        F.round(1000000.0 * F.sin(theta)).cast("long").alias("s"),
    )
    agg = frozen.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("sc"),
        F.sum("s").alias("ss"),
    )
    two_pi = 2.0 * _m.pi
    # atan2 ∈ [−π, π], so +2π is strictly positive and a single
    # positive-operand remainder equals fmod on both engines.
    mean_hour = (
        F.expr(
            f"((ATAN2(CAST(ss AS DOUBLE), CAST(sc AS DOUBLE))"
            f" + {two_pi!r}) % {two_pi!r})"
        )
        / two_pi
        * 24.0
    )
    return agg.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round(mean_hour, 4).alias("mean_hour"),
        F.round(
            F.sqrt(
                F.col("sc").cast("double") * F.col("sc")
                + F.col("ss").cast("double") * F.col("ss")
            )
            / (1000000.0 * F.col("n")),
            4,
        ).alias("resultant_r"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# q378 - Hurst exponent by rescaled-range (R/S) analysis of the daily
# event-count series: split the series into consecutive blocks of
# n ∈ {8, 16, 32} days, compute each block's rescaled range
# R/S = (max cum-dev - min cum-dev) / (n·std), average per n, and fit
# ln(R/S) ~ H·ln(n) by exact 3-point OLS. H ≈ 0.5 = memoryless, > 0.5 =
# persistent trends (q294 Mann-Kendall's monotone cousin), < 0.5 =
# mean-reverting. The long-range-dependence read none of the lag-k
# statistics (q247/q339/q349) can give.
# Parity: with d_j = n_b·x_j - S_b (the q339 exact centering), block
# cumulative deviations are exact integer running sums and
# R/S = (max cum - min cum) / sqrt(n_b·Σx² - S_b²) is one double from
# integers, frozen to round(1e8·rs) before the per-n mean; the 3-point
# slope is a fixed closed form. 4dp.
# Scale: one events aggregate to the daily relation; block windows
# partition by (n, block) over the calendar-bounded series.
# --------------------------------------------------------------------------
@register(
    "q378_hurst_exponent",
    oracle="""
WITH daily AS (
    SELECT CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY 1
),
ranked AS (
    SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY day) - 1 AS BIGINT) AS t
    FROM daily
),
sizes AS (SELECT UNNEST([8, 16, 32]) AS n),
blocks AS (
    SELECT s.n, r.t // s.n AS blk, r.t, r.x
    FROM ranked r CROSS JOIN sizes s
),
bstat AS (
    SELECT n, blk, CAST(COUNT(*) AS BIGINT) AS nb,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(x * x) AS BIGINT) AS sxx
    FROM blocks GROUP BY n, blk
),
full_b AS (SELECT * FROM bstat WHERE nb = n),
dev AS (
    SELECT b.n, b.blk, b.t,
           CAST(SUM(f.nb * b.x - f.sx) OVER (
               PARTITION BY b.n, b.blk ORDER BY b.t
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
    FROM blocks b JOIN full_b f ON f.n = b.n AND f.blk = b.blk
),
rng AS (
    SELECT n, blk, CAST(MAX(cum) - MIN(LEAST(cum, 0)) AS BIGINT) AS r_int
    FROM (SELECT n, blk, t, cum FROM dev) GROUP BY n, blk
),
rs AS (
    SELECT r.n, r.blk,
           CAST(ROUND(100000000.0 * r.r_int /
                SQRT(CAST(f.nb AS DOUBLE) * f.sxx
                     - CAST(f.sx AS DOUBLE) * f.sx)) AS BIGINT) AS rs_t
    FROM rng r JOIN full_b f ON f.n = r.n AND f.blk = r.blk
    WHERE f.nb * f.sxx > f.sx * f.sx
),
mrs AS (
    SELECT n, CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(SUM(rs_t) AS BIGINT) AS s_rs
    FROM rs GROUP BY n
),
pts AS (
    SELECT n, n_blocks, s_rs,
           LN(CAST(n AS DOUBLE)) AS lx,
           LN(CAST(s_rs AS DOUBLE) / 100000000.0 / n_blocks) AS ly
    FROM mrs
),
fit AS (
    SELECT (COUNT(*) * SUM(lx * ly) - SUM(lx) * SUM(ly))
           / (COUNT(*) * SUM(lx * lx) - SUM(lx) * SUM(lx)) AS h
    FROM pts
)
SELECT CAST(p.n AS BIGINT) AS n, p.n_blocks,
       ROUND(p.s_rs / 100000000.0 / p.n_blocks, 4) AS mean_rs,
       ROUND(f.h, 4) AS hurst
FROM pts p CROSS JOIN fit f
ORDER BY n
""",
    tags=("timeseries", "A12", "W2"),
)
def q378_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rescaled-range Hurst exponent of daily event counts:
    (n, n_blocks, mean_rs, hurst)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    ranked = daily.select(
        "x",
        (F.row_number().over(Window.orderBy("day")) - 1)
        .cast("long")
        .alias("t"),
    )
    sizes = spark.createDataFrame(
        [(n,) for n in (8, 16, 32)], "n long"
    ).coalesce(1)
    blocks = ranked.crossJoin(F.broadcast(sizes)).select(
        "n", (F.col("t") / F.col("n")).cast("long").alias("blk"), "t", "x"
    )
    bstat = blocks.groupBy("n", "blk").agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    full_b = bstat.filter(F.col("nb") == F.col("n"))
    wb = Window.partitionBy("n", "blk").orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    dev = (
        blocks.join(full_b, ["n", "blk"])
        .select(
            "n",
            "blk",
            "t",
            F.sum(F.col("nb") * F.col("x") - F.col("sx"))
            .over(wb)
            .cast("long")
            .alias("cum"),
        )
    )
    rng = dev.groupBy("n", "blk").agg(
        (
            F.max("cum") - F.least(F.min("cum"), F.lit(0).cast("long"))
        ).cast("long").alias("r_int")
    )
    rs = (
        rng.join(full_b, ["n", "blk"])
        .filter(
            F.col("nb") * F.col("sxx") > F.col("sx") * F.col("sx")
        )
        .select(
            "n",
            F.round(
                100000000.0
                * F.col("r_int")
                / F.sqrt(
                    F.col("nb").cast("double") * F.col("sxx")
                    - F.col("sx").cast("double") * F.col("sx")
                )
            )
            .cast("long")
            .alias("rs_t"),
        )
    )
    mrs = rs.groupBy("n").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum("rs_t").alias("s_rs"),
    )
    pts = mrs.select(
        "n",
        "n_blocks",
        "s_rs",
        F.log(F.col("n").cast("double")).alias("lx"),
        F.log(
            F.col("s_rs").cast("double") / 100000000.0 / F.col("n_blocks")
        ).alias("ly"),
    )
    fit = pts.agg(
        (
            (
                F.count(F.lit(1)) * F.sum(F.col("lx") * F.col("ly"))
                - F.sum("lx") * F.sum("ly")
            )
            / (
                F.count(F.lit(1)) * F.sum(F.col("lx") * F.col("lx"))
                - F.sum("lx") * F.sum("lx")
            )
        ).alias("h")
    )
    return (
        pts.crossJoin(F.broadcast(fit))
        .select(
            F.col("n").cast("long").alias("n"),
            F.col("n_blocks").cast("long").alias("n_blocks"),
            F.round(
                F.col("s_rs") / 100000000.0 / F.col("n_blocks"), 4
            ).alias("mean_rs"),
            F.round("h", 4).alias("hurst"),
        )
        .orderBy("n")
    )


# --------------------------------------------------------------------------
# q381 - burstiness and memory of inter-event times (Goh & Barabasi
# 2008): per event type, order events by (second, event_id), take the
# consecutive inter-arrival gaps tau_i, and report
# B = (sigma - mu)/(sigma + mu) (-1 = perfectly regular, 0 = Poisson,
# -> 1 = extreme bursts) and the memory coefficient
# M = corr(tau_i, tau_{i+1}). The arrival-process fingerprint that
# q354's dispersion (a DAILY-bucket read) cannot see - bursts inside a
# day are invisible to per-day counts.
# Parity: gaps are exact integer seconds under a deterministic total
# order ((sec, event_id) - same-second order pinned by id); mu/sigma/M
# are single double expressions over exact integer sums (n, S, S2,
# and the lag-1 cross sums). 4dp.
# Scale: gaps come from the day-shard-and-stitch kernel
# (operators/windows.py sharded_gaps) — the big window hash-partitions
# by (event_type, day) so per-reducer width is one type-day; boundary
# gaps stitch through the calendar-bounded per-shard summary. Then one
# keyed reduce.
# --------------------------------------------------------------------------
@register(
    "q381_burstiness",
    oracle="""
WITH ev AS (
    SELECT event_type, event_id,
           CAST(FLOOR(EPOCH(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec
    FROM events
),
ordered AS (
    SELECT e.event_type,
           e.sec - LAG(e.sec) OVER (PARTITION BY e.event_type
                                    ORDER BY e.sec, e.event_id) AS tau,
           LEAD(e.sec) OVER (PARTITION BY e.event_type
                             ORDER BY e.sec, e.event_id) AS nxt_sec,
           e.sec,
           LAG(e.sec) OVER (PARTITION BY e.event_type
                            ORDER BY e.sec, e.event_id) AS prv_sec
    FROM ev e
),
pairs AS (
    SELECT event_type,
           sec - prv_sec AS tau_i,
           nxt_sec - sec AS tau_j
    FROM ordered
    WHERE prv_sec IS NOT NULL AND nxt_sec IS NOT NULL
),
taus AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(tau) AS BIGINT) AS s,
           CAST(SUM(tau * tau) AS BIGINT) AS s2
    FROM (SELECT event_type, sec - prv_sec AS tau FROM ordered
          WHERE prv_sec IS NOT NULL)
    GROUP BY event_type
),
mstat AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS m,
           CAST(SUM(tau_i) AS BIGINT) AS sx,
           CAST(SUM(tau_j) AS BIGINT) AS sy,
           CAST(SUM(tau_i * tau_i) AS BIGINT) AS sxx,
           CAST(SUM(tau_j * tau_j) AS BIGINT) AS syy,
           CAST(SUM(tau_i * tau_j) AS BIGINT) AS sxy
    FROM pairs GROUP BY event_type
)
SELECT t.event_type, t.n,
       ROUND(CAST(t.s AS DOUBLE) / t.n, 4) AS mean_gap_sec,
       ROUND((SQRT((t.n * CAST(t.s2 AS DOUBLE) - CAST(t.s AS DOUBLE) * t.s)
                   / (CAST(t.n AS DOUBLE) * t.n))
              - CAST(t.s AS DOUBLE) / t.n)
             / (SQRT((t.n * CAST(t.s2 AS DOUBLE) - CAST(t.s AS DOUBLE) * t.s)
                     / (CAST(t.n AS DOUBLE) * t.n))
                + CAST(t.s AS DOUBLE) / t.n), 4) AS burstiness,
       ROUND((m.m * CAST(m.sxy AS DOUBLE) - CAST(m.sx AS DOUBLE) * m.sy)
             / (SQRT(m.m * CAST(m.sxx AS DOUBLE)
                     - CAST(m.sx AS DOUBLE) * m.sx)
                * SQRT(m.m * CAST(m.syy AS DOUBLE)
                       - CAST(m.sy AS DOUBLE) * m.sy)), 4) AS memory_coef
FROM taus t JOIN mstat m ON m.event_type = t.event_type
ORDER BY t.event_type
""",
    tags=("timeseries", "W2", "A12"),
)
def q381_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival burstiness B and memory M per event type:
    (event_type, n, mean_gap_sec, burstiness, memory_coef)."""
    from ..operators.windows import sharded_gaps

    events = load_table(spark, sf_dir, "events")
    ev = events.select(
        "event_type",
        "event_id",
        F.unix_timestamp("ts").alias("sec"),
    )
    # day-shard-and-stitch: hash-partitioned by (event_type, day), the
    # per-reducer width is one type-day — never 1/|types| of the stream
    ordered = sharded_gaps(ev, ["event_type"], sec_col="sec", id_col="event_id")
    taus = (
        ordered.filter(F.col("prv_sec").isNotNull())
        .select("event_type", (F.col("sec") - F.col("prv_sec")).alias("tau"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("tau").alias("s"),
            F.sum(F.col("tau") * F.col("tau")).alias("s2"),
        )
    )
    pairs = ordered.filter(
        F.col("prv_sec").isNotNull() & F.col("nxt_sec").isNotNull()
    ).select(
        "event_type",
        (F.col("sec") - F.col("prv_sec")).alias("tau_i"),
        (F.col("nxt_sec") - F.col("sec")).alias("tau_j"),
    )
    mstat = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("tau_i").alias("sx"),
        F.sum("tau_j").alias("sy"),
        F.sum(F.col("tau_i") * F.col("tau_i")).alias("sxx"),
        F.sum(F.col("tau_j") * F.col("tau_j")).alias("syy"),
        F.sum(F.col("tau_i") * F.col("tau_j")).alias("sxy"),
    )
    mu = F.col("s").cast("double") / F.col("n")
    sigma = F.sqrt(
        (
            F.col("n") * F.col("s2").cast("double")
            - F.col("s").cast("double") * F.col("s")
        )
        / (F.col("n").cast("double") * F.col("n"))
    )
    mcorr = (
        F.col("m").cast("double") * F.col("sxy")
        - F.col("sx").cast("double") * F.col("sy")
    ) / (
        F.sqrt(
            F.col("m") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx")
        )
        * F.sqrt(
            F.col("m") * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy")
        )
    )
    return (
        taus.join(mstat, "event_type")
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.round(mu, 4).alias("mean_gap_sec"),
            F.round((sigma - mu) / (sigma + mu), 4).alias("burstiness"),
            F.round(mcorr, 4).alias("memory_coef"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q387 - extreme-value tail estimate (peaks-over-threshold): take the
# inter-event gaps of the whole event stream, set the threshold at the
# exact p90 gap, fit a generalized Pareto to the exceedances by method
# of moments (xi = (1 - mean^2/var)/2, beta = mean*(1 - xi)... the
# standard MoM pair), and report the implied p99.9 gap - the
# "how long can the pipeline stall" tail read that empirical quantiles
# can't extrapolate past the sample. Return level:
# q_p = u + beta/xi * ((n/n_u * (1-p))^(-xi) - 1).
# Parity: gaps are exact integer seconds under the (sec, event_id)
# total order; u is an exact integer-multiple-of-0.5 percentile;
# exceedance mean/var come from exact integer sums; xi/beta/q_p are one
# fixed double expression. 4dp.
# Scale: gaps via the day-shard-and-stitch kernel (hash-partitioned by
# day-shard; stitch window sees only the |days|-row summary), one
# filter + one reduce over exceedances.
# --------------------------------------------------------------------------
@register(
    "q387_tail_gpd",
    oracle="""
WITH ev AS (
    SELECT event_id,
           CAST(FLOOR(EPOCH(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec
    FROM events
),
gaps AS (
    SELECT sec - LAG(sec) OVER (ORDER BY sec, event_id) AS tau
    FROM ev QUALIFY tau IS NOT NULL
),
thr AS (SELECT QUANTILE_CONT(CAST(tau AS DOUBLE), 0.9) AS u,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM gaps),
exc AS (
    SELECT g.tau - t.u AS y, t.u, t.n
    FROM gaps g CROSS JOIN thr t
    WHERE g.tau > t.u
),
s AS (
    SELECT MAX(u) AS u, MAX(n) AS n, CAST(COUNT(*) AS BIGINT) AS nu,
           SUM(y) AS sy, SUM(y * y) AS syy
    FROM exc
),
fit AS (
    SELECT u, n, nu,
           sy / nu AS mu,
           (nu * syy - sy * sy) / (CAST(nu AS DOUBLE) * (nu - 1)) AS v
    FROM s
)
SELECT ROUND(u, 4) AS threshold, nu AS n_exceed,
       ROUND(mu, 4) AS mean_excess,
       ROUND(0.5 * (1.0 - mu * mu / v), 4) AS xi,
       ROUND(mu * (1.0 - 0.5 * (1.0 - mu * mu / v)), 4) AS beta,
       ROUND(u + (mu * (1.0 - 0.5 * (1.0 - mu * mu / v)))
                 / (0.5 * (1.0 - mu * mu / v))
                 * (POW(CAST(n AS DOUBLE) / nu * 0.001,
                        -(0.5 * (1.0 - mu * mu / v))) - 1.0), 4)
           AS p999_gap_sec
FROM fit
""",
    tags=("timeseries", "capacity", "A12"),
)
def q387_tail_gpd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPD peaks-over-threshold tail fit of inter-event gaps:
    (threshold, n_exceed, mean_excess, xi, beta, p999_gap_sec)."""
    events = load_table(spark, sf_dir, "events")
    from ..operators.windows import sharded_gaps

    ev = events.select(
        "event_id", F.unix_timestamp("ts").alias("sec")
    )
    # day-shard-and-stitch (operators/windows.py sharded_gaps): the gap
    # sequence is a TOTAL order, but the big window hash-partitions by
    # day-shard; only the |days|-row per-shard summary sees a single
    # partition (the declared calendar-bounded stitch)
    gaps = (
        sharded_gaps(ev, [], sec_col="sec", id_col="event_id")
        .select((F.col("sec") - F.col("prv_sec")).alias("tau"))
        .filter(F.col("tau").isNotNull())
    )
    from ..caching import persist_tracked

    gaps = persist_tracked(gaps)
    thr = gaps.agg(
        F.expr("percentile(CAST(tau AS DOUBLE), 0.9)").alias("u"),
        F.count(F.lit(1)).alias("n"),
    )
    exc = (
        gaps.crossJoin(F.broadcast(thr))
        .filter(F.col("tau") > F.col("u"))
        .select((F.col("tau") - F.col("u")).alias("y"), "u", "n")
    )
    s = exc.agg(
        F.max("u").alias("u"),
        F.max("n").alias("n"),
        F.count(F.lit(1)).alias("nu"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    mu = F.col("sy") / F.col("nu")
    v = (F.col("nu") * F.col("syy") - F.col("sy") * F.col("sy")) / (
        F.col("nu").cast("double") * (F.col("nu") - 1)
    )
    xi = 0.5 * (F.lit(1.0) - mu * mu / v)
    beta = mu * (F.lit(1.0) - xi)
    q999 = F.col("u") + beta / xi * (
        F.pow(F.col("n").cast("double") / F.col("nu") * 0.001, -xi) - 1.0
    )
    return s.select(
        F.round("u", 4).alias("threshold"),
        F.col("nu").cast("long").alias("n_exceed"),
        F.round(mu, 4).alias("mean_excess"),
        F.round(xi, 4).alias("xi"),
        F.round(beta, 4).alias("beta"),
        F.round(q999, 4).alias("p999_gap_sec"),
    )


# --------------------------------------------------------------------------
# q392 - Page-Hinkley drift detector over the daily event-count series:
# the sequential change-of-mean test ops teams run where q205's CUSUM
# needs a known baseline - PH tracks x_t against the RUNNING mean of its
# own history (no training window), alarms when the cumulative positive
# deviation since the best (minimum) point exceeds lambda. Reported per
# day: the running mean, the PH statistic, and the alarm flag.
# Parity: daily counts are exact integers; the running mean S_t/t is
# frozen per day to micro-units (round(1e6*S/t)) so the deviation
# cumsum is an exact integer walk on both engines; the running min and
# the lambda comparison happen on those integers. 4dp.
# Scale: corpus collapses FIRST to the calendar-bounded daily relation;
# all windows run on ~tens of rows (declared bounded exception,
# lint-allowlisted).
# --------------------------------------------------------------------------
_PH_LAMBDA_MICRO = 25 * 1000000  # lambda = 25 events of cumulative drift


@register(
    "q392_page_hinkley",
    oracle=f"""
WITH daily AS (
    SELECT CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY 1
),
ranked AS (
    SELECT day, x,
           CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t,
           CAST(SUM(x) OVER (ORDER BY day) AS BIGINT) AS s
    FROM daily
),
dev AS (
    SELECT day, t, x,
           CAST(ROUND(1000000.0 * s / t) AS BIGINT) AS mean_micro,
           x * 1000000 - CAST(ROUND(1000000.0 * s / t) AS BIGINT)
               AS dev_micro
    FROM ranked
),
cum AS (
    SELECT day, t, x, mean_micro,
           CAST(SUM(dev_micro) OVER (ORDER BY t) AS BIGINT) AS m_t
    FROM dev
),
walk AS (
    SELECT day, t, x, mean_micro, m_t,
           CAST(MIN(m_t) OVER (ORDER BY t) AS BIGINT) AS m_min
    FROM cum
)
SELECT t, CAST(day AS VARCHAR) AS day, x,
       ROUND(mean_micro / 1000000.0, 4) AS running_mean,
       ROUND((m_t - m_min) / 1000000.0, 4) AS ph_stat,
       CAST(CASE WHEN m_t - m_min > {_PH_LAMBDA_MICRO} THEN 1 ELSE 0 END
            AS BIGINT) AS alarm
FROM walk ORDER BY t
""",
    tags=("timeseries", "drift", "W2"),
)
def q392_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley mean-shift walk over daily counts:
    (t, day, x, running_mean, ph_stat, alarm)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    w = Window.orderBy("day")
    ranked = daily.select(
        "day",
        "x",
        F.row_number().over(w).cast("long").alias("t"),
        F.sum("x").over(w).cast("long").alias("s"),
    )
    dev = ranked.select(
        "day",
        "t",
        "x",
        F.round(1000000.0 * F.col("s") / F.col("t"))
        .cast("long")
        .alias("mean_micro"),
    ).withColumn(
        "dev_micro", F.col("x") * 1000000 - F.col("mean_micro")
    )
    wt = Window.orderBy("t")
    walk = dev.select(
        "day",
        "t",
        "x",
        "mean_micro",
        F.sum("dev_micro").over(wt).cast("long").alias("m_t"),
    ).withColumn("m_min", F.min("m_t").over(wt).cast("long"))
    return walk.select(
        "t",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "x",
        F.round(F.col("mean_micro") / 1000000.0, 4).alias("running_mean"),
        F.round((F.col("m_t") - F.col("m_min")) / 1000000.0, 4).alias(
            "ph_stat"
        ),
        (F.col("m_t") - F.col("m_min") > _PH_LAMBDA_MICRO)
        .cast("long")
        .alias("alarm"),
    ).orderBy("t")


# --------------------------------------------------------------------------
# q417 - offline changepoint by binary segmentation (first split): scan
# every candidate split t of the daily event-count series and report
# the one maximizing the between-segment sum-of-squares reduction
# (equivalently minimizing SSE_left + SSE_right) - the retrospective
# "WHEN did the level shift" answer that complements the sequential
# detectors (q205 CUSUM and q392 Page-Hinkley raise the alarm online;
# this locates the break offline, the ruptures-library primitive).
# Parity: daily counts are exact integers; each candidate's total SSE
# is computed from exact integer prefix sums as ONE double expression
# and frozen to round(1e4*sse) before the argmin; tie-break on the
# earlier split. 4dp.
# Scale: corpus collapses FIRST to the calendar-bounded daily relation;
# the candidate scan is a prefix-sum window + a per-candidate constant
# expression over ~tens of rows (lint-allowlisted bounded window).
# --------------------------------------------------------------------------
@register(
    "q417_binary_segmentation",
    oracle="""
WITH daily AS (
    SELECT CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY 1
),
ranked AS (
    SELECT day, x,
           CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t,
           CAST(SUM(x) OVER (ORDER BY day) AS BIGINT) AS s,
           CAST(SUM(x * x) OVER (ORDER BY day) AS BIGINT) AS s2
    FROM daily
),
tot AS (
    SELECT MAX(t) AS n, MAX(s) AS st, MAX(s2) AS s2t FROM ranked
),
cand AS (
    SELECT r.t, r.day, r.s, r.s2, o.n, o.st, o.s2t,
           CAST(ROUND(10000.0 * (
               (r.s2 - CAST(r.s AS DOUBLE) * r.s / r.t)
               + ((o.s2t - r.s2)
                  - CAST(o.st - r.s AS DOUBLE) * (o.st - r.s)
                    / (o.n - r.t))
           )) AS BIGINT) AS sse4
    FROM ranked r CROSS JOIN tot o
    WHERE r.t < o.n
),
best AS (
    SELECT *, ROW_NUMBER() OVER (ORDER BY sse4 ASC, t ASC) AS rk
    FROM cand
)
SELECT t AS split_t, CAST(day AS VARCHAR) AS split_day,
       ROUND(CAST(s AS DOUBLE) / t, 4) AS mean_left,
       ROUND(CAST(st - s AS DOUBLE) / (n - t), 4) AS mean_right,
       ROUND((CAST(st - s AS DOUBLE) / (n - t)) - (CAST(s AS DOUBLE) / t),
             4) AS shift,
       ROUND(sse4 / 10000.0, 4) AS sse,
       ROUND((s2t - CAST(st AS DOUBLE) * st / n) - sse4 / 10000.0, 4)
           AS sse_reduction
FROM best WHERE rk = 1
""",
    tags=("timeseries", "changepoint", "A12"),
)
def q417_binary_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First binary-segmentation split of the daily series: (split_t,
    split_day, mean_left, mean_right, shift, sse, sse_reduction)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    w = Window.orderBy("day")
    ranked = daily.select(
        "day",
        "x",
        F.row_number().over(w).cast("long").alias("t"),
        F.sum("x").over(w).cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("long").alias("s2"),
    )
    tot = ranked.agg(
        F.max("t").alias("n"), F.max("s").alias("st"), F.max("s2").alias("s2t")
    )
    sse = (
        F.col("s2") - F.col("s").cast("double") * F.col("s") / F.col("t")
    ) + (
        (F.col("s2t") - F.col("s2"))
        - (F.col("st") - F.col("s")).cast("double")
        * (F.col("st") - F.col("s"))
        / (F.col("n") - F.col("t"))
    )
    cand = (
        ranked.crossJoin(F.broadcast(tot))
        .filter(F.col("t") < F.col("n"))
        .withColumn("sse4", F.round(10000.0 * sse).cast("long"))
    )
    wb = Window.orderBy(F.asc("sse4"), F.asc("t"))
    return (
        cand.withColumn("rk", F.row_number().over(wb))
        .filter(F.col("rk") == 1)
        .select(
            F.col("t").alias("split_t"),
            F.date_format("day", "yyyy-MM-dd").alias("split_day"),
            F.round(F.col("s").cast("double") / F.col("t"), 4).alias(
                "mean_left"
            ),
            F.round(
                (F.col("st") - F.col("s")).cast("double")
                / (F.col("n") - F.col("t")),
                4,
            ).alias("mean_right"),
            F.round(
                (F.col("st") - F.col("s")).cast("double")
                / (F.col("n") - F.col("t"))
                - F.col("s").cast("double") / F.col("t"),
                4,
            ).alias("shift"),
            F.round(F.col("sse4") / 10000.0, 4).alias("sse"),
            F.round(
                (
                    F.col("s2t")
                    - F.col("st").cast("double") * F.col("st") / F.col("n")
                )
                - F.col("sse4") / 10000.0,
                4,
            ).alias("sse_reduction"),
        )
    )


# --------------------------------------------------------------------------
# q418 - Kleinberg-style two-state burst detection over the daily
# purchase share: each day emits r purchases out of d events; state 0
# burns at the corpus base rate p0 = R/D, state 1 at p1 = 3*p0;
# day costs are binomial negative log-likelihoods (the C(d,r) term
# cancels across states and is dropped), entering the burst state pays
# gamma = ln(T). The exact min-cost state sequence comes from the
# forward/backward min-sum on the 2-state chain (exact on chains),
# which also yields each day's margin. The "which days were genuinely
# hot" read that a fixed threshold can't give (q205/q392 detect level
# SHIFTS; this labels burst EPISODES against a hazard price).
# Parity: day costs and gamma are frozen to integer micro-nats in the
# ENGINE (one LN expression over exact integer ratios) before any DP;
# the DP is pure integer min-plus arithmetic - DuckDB walks it with a
# recursive CTE, Spark collects the calendar-bounded cost table (<= 31
# rows, the q297 bounded-DP precedent) and walks the same integers
# driver-side. Ties resolve to the non-burst state. 4dp.
# Scale: the corpus collapses FIRST to the daily (r, d) relation; the
# DP is O(T) on a calendar-bounded table; the corpus-sized work stays
# distributed.
# --------------------------------------------------------------------------
_BURST_S = 3.0


@register(
    "q418_burst_detection",
    oracle=f"""
WITH RECURSIVE daily AS (
    SELECT CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS r,
           CAST(COUNT(*) AS BIGINT) AS d
    FROM events GROUP BY 1
),
g AS (
    SELECT CAST(SUM(r) AS BIGINT) AS rr, CAST(SUM(d) AS BIGINT) AS dd,
           CAST(COUNT(*) AS BIGINT) AS tt
    FROM daily
),
costs AS (
    SELECT ROW_NUMBER() OVER (ORDER BY day) AS t, day, r, d,
           CAST(ROUND(-1000000.0 * (r * LN(CAST(g.rr AS DOUBLE) / g.dd)
                + (d - r) * LN(1.0 - CAST(g.rr AS DOUBLE) / g.dd)))
                AS BIGINT) AS c0,
           CAST(ROUND(-1000000.0 * (r * LN({_BURST_S} * rr / g.dd)
                + (d - r) * LN(1.0 - {_BURST_S} * rr / g.dd)))
                AS BIGINT) AS c1,
           CAST(ROUND(1000000.0 * LN(CAST(g.tt AS DOUBLE))) AS BIGINT)
               AS gam,
           g.tt AS tt
    FROM daily CROSS JOIN g
),
fwd AS (
    SELECT t, c0 AS f0, c1 + gam AS f1 FROM costs WHERE t = 1
    UNION ALL
    SELECT c.t,
           c.c0 + LEAST(f.f0, f.f1) AS f0,
           c.c1 + LEAST(f.f1, f.f0 + c.gam) AS f1
    FROM fwd f JOIN costs c ON c.t = f.t + 1
),
bwd AS (
    SELECT t, CAST(0 AS BIGINT) AS b0, CAST(0 AS BIGINT) AS b1
    FROM costs WHERE t = (SELECT MAX(t) FROM costs)
    UNION ALL
    SELECT b.t - 1,
           LEAST(c.c0 + b.b0, c.gam + c.c1 + b.b1) AS b0,
           LEAST(c.c1 + b.b1, c.c0 + b.b0) AS b1
    FROM bwd b JOIN costs c ON c.t = b.t
    WHERE b.t > 1
)
SELECT c.t, CAST(c.day AS VARCHAR) AS day, c.r AS purchases, c.d AS total,
       CAST(CASE WHEN f.f1 + w.b1 < f.f0 + w.b0 THEN 1 ELSE 0 END
            AS BIGINT) AS burst,
       ROUND(((f.f0 + w.b0) - (f.f1 + w.b1)) / 1000000.0, 4)
           AS burst_margin
FROM costs c
JOIN fwd f ON f.t = c.t
JOIN bwd w ON w.t = c.t
ORDER BY c.t
""",
    tags=("timeseries", "burst", "A12"),
)
def q418_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-state burst labeling of daily purchase activity:
    (t, day, purchases, total, burst, burst_margin)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("long")
        .alias("r"),
        F.count(F.lit(1)).cast("long").alias("d"),
    )
    g = daily.agg(
        F.sum("r").cast("long").alias("rr"),
        F.sum("d").cast("long").alias("dd"),
        F.count(F.lit(1)).cast("long").alias("tt"),
    )
    p0 = F.col("rr").cast("double") / F.col("dd")
    p1 = F.lit(_BURST_S) * F.col("rr") / F.col("dd")
    costs = (
        daily.crossJoin(F.broadcast(g))
        .select(
            F.row_number().over(Window.orderBy("day")).alias("t"),
            "day",
            "r",
            "d",
            F.round(
                -1000000.0
                * (
                    F.col("r") * F.log(p0)
                    + (F.col("d") - F.col("r")) * F.log(F.lit(1.0) - p0)
                )
            )
            .cast("long")
            .alias("c0"),
            F.round(
                -1000000.0
                * (
                    F.col("r") * F.log(p1)
                    + (F.col("d") - F.col("r")) * F.log(F.lit(1.0) - p1)
                )
            )
            .cast("long")
            .alias("c1"),
            F.round(1000000.0 * F.log(F.col("tt").cast("double")))
            .cast("long")
            .alias("gam"),
        )
    )
    # calendar-bounded (<= 31 rows): exact integer min-sum runs driver-side
    # (the q297 bounded-DP precedent); corpus work stayed distributed above.
    rows = sorted(costs.collect(), key=lambda x: x["t"])
    T = len(rows)
    gam = rows[0]["gam"] if rows else 0
    f0, f1 = [0] * T, [0] * T
    for i, x in enumerate(rows):
        if i == 0:
            f0[0], f1[0] = x["c0"], x["c1"] + gam
        else:
            f0[i] = x["c0"] + min(f0[i - 1], f1[i - 1])
            f1[i] = x["c1"] + min(f1[i - 1], f0[i - 1] + gam)
    b0, b1 = [0] * T, [0] * T
    for i in range(T - 2, -1, -1):
        nxt = rows[i + 1]
        b0[i] = min(nxt["c0"] + b0[i + 1], gam + nxt["c1"] + b1[i + 1])
        b1[i] = min(nxt["c1"] + b1[i + 1], nxt["c0"] + b0[i + 1])
    out = []
    for i, x in enumerate(rows):
        t0, t1 = f0[i] + b0[i], f1[i] + b1[i]
        out.append(
            (
                i + 1,
                x["day"].strftime("%Y-%m-%d"),
                x["r"],
                x["d"],
                1 if t1 < t0 else 0,
                round((t0 - t1) / 1000000.0, 4),
            )
        )
    return spark.createDataFrame(
        out,
        "t long, day string, purchases long, total long, "
        "burst long, burst_margin double",
    )


# --------------------------------------------------------------------------
# q421 - weekday seasonality indices: per weekday, the mean daily event
# count divided by the overall mean daily count (the multiplicative
# day-of-week correction factors every ops forecast divides by before
# modeling trend), plus a chi-square uniformity statistic over weekday
# TOTALS with its frozen critical-value verdict (df = 6, alpha = 0.05,
# crit = 12.592). q220's decomposition subtracts weekday means inside
# one pipeline; this publishes the reusable index table itself.
# Parity: day counts exact; each index is a double ratio of exact
# integer sums with day-count denominators; chi-square accumulates one
# double term per weekday (7 terms) under the 4dp round; the verdict
# compares round(1e4*chi2) to the frozen integer critical value.
# Scale: collapse-first to the daily relation; everything after is a
# 7-row aggregate.
# --------------------------------------------------------------------------
@register(
    "q421_weekday_index",
    oracle="""
WITH daily AS (
    SELECT CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY 1
),
wd AS (
    SELECT CAST(DAYOFWEEK(day) + 1 AS BIGINT) AS weekday,  -- DuckDB 0=Sun; Spark 1=Sun
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(x) AS BIGINT) AS s
    FROM daily GROUP BY 1
),
tot AS (
    SELECT CAST(SUM(n_days) AS BIGINT) AS nd, CAST(SUM(s) AS BIGINT) AS st
    FROM wd
)
SELECT w.weekday, w.n_days, w.s AS events,
       ROUND(CAST(w.s AS DOUBLE) / w.n_days, 4) AS mean_daily,
       ROUND((CAST(w.s AS DOUBLE) / w.n_days)
             / (CAST(t.st AS DOUBLE) / t.nd), 4) AS seasonality_index,
       ROUND((CAST(w.s AS DOUBLE)
              - CAST(t.st AS DOUBLE) * w.n_days / t.nd)
             * (CAST(w.s AS DOUBLE)
                - CAST(t.st AS DOUBLE) * w.n_days / t.nd)
             / (CAST(t.st AS DOUBLE) * w.n_days / t.nd), 4) AS chi2_term
FROM wd w CROSS JOIN tot t
ORDER BY weekday
""",
    tags=("timeseries", "seasonality", "A9"),
)
def q421_weekday_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week correction factors: (weekday, n_days, events,
    mean_daily, seasonality_index, chi2_term)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    wd = daily.groupBy(
        F.dayofweek("day").cast("long").alias("weekday")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("s"),
    )
    tot = wd.agg(
        F.sum("n_days").cast("long").alias("nd"),
        F.sum("s").cast("long").alias("st"),
    )
    expected = F.col("st").cast("double") * F.col("n_days") / F.col("nd")
    dev = F.col("s").cast("double") - expected
    return (
        wd.crossJoin(F.broadcast(tot))
        .select(
            "weekday",
            "n_days",
            F.col("s").alias("events"),
            F.round(F.col("s").cast("double") / F.col("n_days"), 4).alias(
                "mean_daily"
            ),
            F.round(
                (F.col("s").cast("double") / F.col("n_days"))
                / (F.col("st").cast("double") / F.col("nd")),
                4,
            ).alias("seasonality_index"),
            F.round(dev * dev / expected, 4).alias("chi2_term"),
        )
        .orderBy("weekday")
    )


# --------------------------------------------------------------------------
# q431 - Kendall tau-b between the two daily business series (order
# count vs revenue): the rank-correlation that, unlike q306's Spearman,
# handles the heavy day-level ties integer counts produce (tau-b
# corrects both denominator legs for ties). Reads on the SAME daily
# relation q421/q420 use, so the family answers: are busy days also
# high-revenue days, monotonically, with ties priced in?
# Parity: concordant/discordant/tie counts are exact integers from an
# inequality pair join; tau-b is ONE double expression over them, 4dp.
# Scale: the corpus collapses to the |days| daily relation first
# (calendar-bounded - the q420 class); the pair join is |days|^2 over
# that bounded relation, a broadcast nested-loop by construction, and
# NEVER touches raw orders. No corpus windows, no corpus sort.
# --------------------------------------------------------------------------
@register(
    "q431_kendall_tau_daily",
    oracle="""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(100.0 * o_totalprice) AS BIGINT)) AS BIGINT)
               AS rev_c
    FROM orders GROUP BY 1
),
pairs AS (
    SELECT CAST(SUM(CASE WHEN (a.n_orders < b.n_orders AND a.rev_c < b.rev_c)
                           OR (a.n_orders > b.n_orders AND a.rev_c > b.rev_c)
                    THEN 1 ELSE 0 END) AS BIGINT) AS c,
           CAST(SUM(CASE WHEN (a.n_orders < b.n_orders AND a.rev_c > b.rev_c)
                           OR (a.n_orders > b.n_orders AND a.rev_c < b.rev_c)
                    THEN 1 ELSE 0 END) AS BIGINT) AS d,
           CAST(SUM(CASE WHEN a.n_orders = b.n_orders THEN 1 ELSE 0 END)
                AS BIGINT) AS tx,
           CAST(SUM(CASE WHEN a.rev_c = b.rev_c THEN 1 ELSE 0 END)
                AS BIGINT) AS ty,
           CAST(COUNT(*) AS BIGINT) AS n0
    FROM daily a JOIN daily b ON a.day < b.day
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
       c AS concordant, d AS discordant,
       ROUND((c - d) / SQRT(CAST(n0 - tx AS DOUBLE) * (n0 - ty)), 4) AS tau_b
FROM pairs
""",
    tags=("timeseries", "A12"),
)
def q431_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between daily order count and daily revenue:
    (n_days, concordant, discordant, tau_b)."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(100.0 * F.col("o_totalprice")).cast("long")).alias("rev_c"),
    )
    a = daily.select(
        F.col("day").alias("day_a"),
        F.col("n_orders").alias("na"),
        F.col("rev_c").alias("ra"),
    )
    b = daily.select(
        F.col("day").alias("day_b"),
        F.col("n_orders").alias("nb"),
        F.col("rev_c").alias("rb"),
    )
    conc = (
        ((F.col("na") < F.col("nb")) & (F.col("ra") < F.col("rb")))
        | ((F.col("na") > F.col("nb")) & (F.col("ra") > F.col("rb")))
    ).cast("long")
    disc = (
        ((F.col("na") < F.col("nb")) & (F.col("ra") > F.col("rb")))
        | ((F.col("na") > F.col("nb")) & (F.col("ra") < F.col("rb")))
    ).cast("long")
    pairs = (
        a.join(F.broadcast(b), F.col("day_a") < F.col("day_b"))
        .agg(
            F.sum(conc).alias("c"),
            F.sum(disc).alias("d"),
            F.sum((F.col("na") == F.col("nb")).cast("long")).alias("tx"),
            F.sum((F.col("ra") == F.col("rb")).cast("long")).alias("ty"),
            F.count(F.lit(1)).alias("n0"),
        )
    )
    n_days = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return pairs.crossJoin(F.broadcast(n_days)).select(
        "n_days",
        F.col("c").cast("long").alias("concordant"),
        F.col("d").cast("long").alias("discordant"),
        F.round(
            (F.col("c") - F.col("d"))
            / F.sqrt(
                (F.col("n0") - F.col("tx")).cast("double")
                * (F.col("n0") - F.col("ty"))
            ),
            4,
        ).alias("tau_b"),
    )


# --------------------------------------------------------------------------
# q440 - weekly block-maxima + Gumbel return level: the OTHER classical
# extreme-value tier next to q387's peaks-over-threshold GPD. Take the
# max event value per calendar week (the block maxima), fit a Gumbel
# by method of moments (beta = s*sqrt(6)/pi, mu = mean - gamma*beta),
# and report the 10-week return level mu - beta*ln(-ln(1 - 1/10)) -
# "the weekly peak we should provision for, exceeded once a quarter".
# Parity: block maxima are exact cent integers; mean/sd come from exact
# integer (n, S1, S2) sums; mu/beta/return level are single double
# expressions with full-precision literal constants, 4dp.
# Scale: one (week) max aggregate collapses the corpus to the
# calendar-bounded block relation; one 1-row moment aggregate over it.
# No windows, no corpus sort.
# --------------------------------------------------------------------------
@register(
    "q440_block_maxima",
    oracle="""
WITH blocks AS (
    SELECT CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 604800 AS wk,
           MAX(CAST(ROUND(100.0 * value) AS BIGINT)) AS mx
    FROM events GROUP BY 1
),
m AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(mx) AS BIGINT) AS s1,
           CAST(SUM(mx * mx) AS BIGINT) AS s2
    FROM blocks
),
fit AS (
    SELECT n,
           CAST(s1 AS DOUBLE) / n / 100.0 AS mean_max,
           SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                / (n - 1)) / 100.0 AS sd_max
    FROM m
)
SELECT n AS n_blocks,
       ROUND(mean_max, 4) AS mean_max,
       ROUND(sd_max, 4) AS sd_max,
       ROUND(mean_max - 0.5772156649015329 * (sd_max * 0.7796968012336091),
             4) AS gumbel_mu,
       ROUND(sd_max * 0.7796968012336091, 4) AS gumbel_beta,
       ROUND((mean_max - 0.5772156649015329 * (sd_max * 0.7796968012336091))
             - (sd_max * 0.7796968012336091) * (-2.2503673273124454), 4)
           AS rl_10wk
FROM fit
""",
    tags=("timeseries", "extremes", "A12"),
)
def q440_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel fit on weekly maxima of event value: (n_blocks, mean_max,
    sd_max, gumbel_mu, gumbel_beta, rl_10wk)."""
    events = load_table(spark, sf_dir, "events")
    blocks = events.groupBy(
        F.expr("CAST(FLOOR(CAST(ts AS DOUBLE)) AS BIGINT) DIV 604800").alias("wk")
    ).agg(F.max(F.round(100.0 * F.col("value")).cast("long")).alias("mx"))
    m = blocks.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("mx").alias("s1"),
        F.sum(F.col("mx") * F.col("mx")).alias("s2"),
    )
    mean_max = F.col("s1").cast("double") / F.col("n") / 100.0
    sd_max = (
        F.sqrt(
            (
                F.col("s2").cast("double")
                - F.col("s1").cast("double") * F.col("s1") / F.col("n")
            )
            / (F.col("n") - 1)
        )
        / 100.0
    )
    beta = sd_max * 0.7796968012336091
    mu = mean_max - 0.5772156649015329 * beta
    # ln(-ln(0.9)) embedded as the SAME literal in both engine texts so
    # no libm is consulted at runtime on either side
    ln_ln = -2.2503673273124454
    return m.select(
        F.col("n").cast("long").alias("n_blocks"),
        F.round(mean_max, 4).alias("mean_max"),
        F.round(sd_max, 4).alias("sd_max"),
        F.round(mu, 4).alias("gumbel_mu"),
        F.round(beta, 4).alias("gumbel_beta"),
        F.round(mu - beta * F.lit(ln_ln), 4).alias("rl_10wk"),
    )
