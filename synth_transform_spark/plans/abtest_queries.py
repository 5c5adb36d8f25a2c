"""Experimentation / inference queries: A/B tests, causal adjustments,
multiple testing, privacy mechanisms. Split from events_queries.py
(round 6).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators import text_analysis
from ..sources.readers import load_table
from .registry import register


@register(
    "q175_ab_test",
    # Two-sample z: doc-parity cohorts of purchase values, pooled
    # standard error, z statistic. Means divide pre-rounded sums by
    # exact counts; variances come from (Σv, Σv², n) with Σ's rounded
    # before the algebra — both engines run identical-operand math.
    oracle="""
WITH tagged AS (
    SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS cohort, value
    FROM events WHERE event_type = 'purchase'
),
stats AS (
    SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 4) AS sv,
           ROUND(SUM(value * value), 4) AS svv
    FROM tagged GROUP BY cohort
),
wide AS (
    SELECT
      MAX(CASE WHEN cohort = 'A' THEN n END) AS na,
      MAX(CASE WHEN cohort = 'A' THEN sv END) AS sva,
      MAX(CASE WHEN cohort = 'A' THEN svv END) AS svva,
      MAX(CASE WHEN cohort = 'B' THEN n END) AS nb,
      MAX(CASE WHEN cohort = 'B' THEN sv END) AS svb,
      MAX(CASE WHEN cohort = 'B' THEN svv END) AS svvb
    FROM stats
)
SELECT na, nb,
       ROUND(sva / na, 4) AS mean_a,
       ROUND(svb / nb, 4) AS mean_b,
       ROUND((sva / na - svb / nb)
             / SQRT((svva / na - (sva / na) * (sva / na)) / na
                    + (svvb / nb - (svb / nb) * (svb / nb)) / nb), 4) AS z_stat
FROM wide
""",
    tags=("A12", "ab-test"),
)
def q175_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    tagged = events.select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("cohort"),
        "value",
    )
    stats = tagged.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("sv"),
        F.round(F.sum(F.col("value") * F.col("value")), 4).alias("svv"),
    )
    wide = stats.agg(
        F.max(F.when(F.col("cohort") == "A", F.col("n"))).alias("na"),
        F.max(F.when(F.col("cohort") == "A", F.col("sv"))).alias("sva"),
        F.max(F.when(F.col("cohort") == "A", F.col("svv"))).alias("svva"),
        F.max(F.when(F.col("cohort") == "B", F.col("n"))).alias("nb"),
        F.max(F.when(F.col("cohort") == "B", F.col("sv"))).alias("svb"),
        F.max(F.when(F.col("cohort") == "B", F.col("svv"))).alias("svvb"),
    )
    ma = F.col("sva") / F.col("na")
    mb = F.col("svb") / F.col("nb")
    va = (F.col("svva") / F.col("na") - ma * ma) / F.col("na")
    vb = (F.col("svvb") / F.col("nb") - mb * mb) / F.col("nb")
    return wide.select(
        "na",
        "nb",
        F.round(ma, 4).alias("mean_a"),
        F.round(mb, 4).alias("mean_b"),
        F.round((ma - mb) / F.sqrt(va + vb), 4).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# q229 — CUPED variance reduction (Deng et al. 2013, "Improving the
# Sensitivity of Online Controlled Experiments"): the standard trick every
# experimentation platform applies before the t-test — adjust each user's
# experiment-period metric by their PRE-period metric,
# adjusted = post − θ·(pre − mean(pre)), θ = cov(pre, post)/var(pre),
# which strips the between-user variance the pre-period explains. Pre =
# first 15 days, post = rest; variant = user parity (the q175 A/B frame).
# θ and mean come from EXACT integer moments across users (cov·n² =
# n·Σxy − Σx·Σy); the adjustment is identical-operand double algebra
# rounded 4dp.
# Scale: one user-keyed conditional aggregate builds (pre, post); the
# moment aggregate is one 1-row broadcast. No window at all.
# ---------------------------------------------------------------------------
@register(
    "q229_cuped_adjustment",
    oracle="""
WITH per_user AS (
    SELECT user_id,
           CAST(user_id % 2 AS BIGINT) AS variant,
           SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                    THEN CAST(ROUND(value * 10000.0) AS BIGINT) ELSE 0 END) AS pre_v,
           SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                    THEN CAST(ROUND(value * 10000.0) AS BIGINT) ELSE 0 END) AS post_v
    FROM events GROUP BY user_id
),
mom AS (
    SELECT COUNT(*) AS n, SUM(pre_v) AS sx, SUM(post_v) AS sy,
           SUM(pre_v * pre_v) AS sxx, SUM(pre_v * post_v) AS sxy
    FROM per_user
),
theta AS (
    SELECT CAST(n * sxy - sx * sy AS DOUBLE)
           / CAST(n * sxx - sx * sx AS DOUBLE) AS th,
           CAST(sx AS DOUBLE) / n AS mu_pre
    FROM mom
)
SELECT u.user_id, u.variant,
       CAST(u.pre_v AS BIGINT) AS pre_milli, CAST(u.post_v AS BIGINT) AS post_milli,
       ROUND((u.post_v - t.th * (u.pre_v - t.mu_pre)) / 10000.0, 4) AS adjusted
FROM per_user u CROSS JOIN theta t
""",
    tags=("A12", "quality", "W4"),
)
def q229_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user CUPED-adjusted experiment metric:
    (user_id, variant, pre_milli, post_milli, adjusted)."""
    events = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp")
    v = F.round(F.col("value") * F.lit(10000.0)).cast("long")
    per_user = events.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cutoff, v).otherwise(F.lit(0))).alias("pre_v"),
        F.sum(F.when(F.col("ts") >= cutoff, v).otherwise(F.lit(0))).alias("post_v"),
    ).withColumn("variant", (F.col("user_id") % 2).cast("long"))
    # moments in DECIMAL(38,0): n·Σxx on milli-quantised values exceeds
    # int64 around 1.5k users × 1e7-scale sums (a silent long wrap in
    # non-ANSI Spark — DuckDB's HUGEINT doesn't wrap, so the hash gate
    # caught it at sf0.1); θ then derives driver-side in Python bigints,
    # exactly the float(int)/float(int) single ops the oracle performs.
    mom = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("pre_v").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("post_v").cast("decimal(38,0)")).alias("sy"),
        F.sum((F.col("pre_v") * F.col("pre_v")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("pre_v") * F.col("post_v")).cast("decimal(38,0)")).alias("sxy"),
    ).first()
    n = int(mom["n"])
    sx, sy, sxx, sxy = (int(mom[c]) for c in ("sx", "sy", "sxx", "sxy"))
    th = float(n * sxy - sx * sy) / float(n * sxx - sx * sx)
    mu_pre = float(sx) / float(n)
    return per_user.select(
        "user_id",
        "variant",
        F.col("pre_v").alias("pre_milli"),
        F.col("post_v").alias("post_milli"),
        F.round(
            (F.col("post_v") - F.lit(th) * (F.col("pre_v") - F.lit(mu_pre)))
            / F.lit(10000.0),
            4,
        ).alias("adjusted"),
    )


# --------------------------------------------------------------------------
# q264 — group-sequential A/B monitoring: the cumulative two-proportion
# z statistic of purchase rate (cohort = user parity) recomputed after
# every day of data, with a crossing flag against a ±2.7 boundary (an
# O'Brien–Fleming-style conservative constant) — the "peek every day
# without lying to yourself" relation a continuous experimentation
# pipeline materialises. q175 is the one-shot end-of-test z; this is its
# sequential-monitoring sibling.
# Parity: daily and cumulative counts are integers (conditional sums +
# a cumulative window over the bounded day series); each day's z is one
# closed-form double expression over 4 integers — identical operands and
# operation order in both engines; 4dp on output.
# Scale: corpus collapses FIRST to per-(day, cohort) counts (one keyed
# aggregate with map-side partials); every window after runs over
# calendar-bounded rows (the declared bounded-window exception).
# --------------------------------------------------------------------------
@register(
    "q264_sequential_ab",
    oracle="""
WITH daily AS (
    SELECT DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS day,
           CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
           CAST(SUM(CASE WHEN user_id % 2 = 0 AND event_type = 'purchase'
                         THEN 1 ELSE 0 END) AS BIGINT) AS ca,
           CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
           CAST(SUM(CASE WHEN user_id % 2 = 1 AND event_type = 'purchase'
                         THEN 1 ELSE 0 END) AS BIGINT) AS cb
    FROM events GROUP BY DATE_TRUNC('day', CAST(ts AS TIMESTAMP))
),
cum AS (
    SELECT day,
           CAST(SUM(na) OVER w AS BIGINT) AS cna,
           CAST(SUM(ca) OVER w AS BIGINT) AS cca,
           CAST(SUM(nb) OVER w AS BIGINT) AS cnb,
           CAST(SUM(cb) OVER w AS BIGINT) AS ccb
    FROM daily
    WINDOW w AS (ORDER BY day)
),
scored AS (
    SELECT day, cna, cnb, cca, ccb,
           (CAST(cca AS DOUBLE) / cna - CAST(ccb AS DOUBLE) / cnb)
           / SQRT((CAST(cca + ccb AS DOUBLE) / (cna + cnb))
                  * (1 - CAST(cca + ccb AS DOUBLE) / (cna + cnb))
                  * (1.0 / cna + 1.0 / cnb)) AS z
    FROM cum
)
SELECT day, cna, cnb, cca, ccb,
       ROUND(z, 4) AS z_stat,
       CAST(CASE WHEN ABS(z) > 2.7 THEN 1 ELSE 0 END AS BIGINT) AS crossed
FROM scored
ORDER BY day
""",
    tags=("ab-test", "A12", "W2"),
)
def q264_sequential_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cumulative two-proportion z monitoring of purchase rate:
    (day, cna, cnb, cca, ccb, z_stat, crossed) — crossed = |z| > 2.7."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.sum((F.col("user_id") % 2 == 0).cast("long")).alias("na"),
        F.sum(
            ((F.col("user_id") % 2 == 0) & (F.col("event_type") == "purchase"))
            .cast("long")
        ).alias("ca"),
        F.sum((F.col("user_id") % 2 == 1).cast("long")).alias("nb"),
        F.sum(
            ((F.col("user_id") % 2 == 1) & (F.col("event_type") == "purchase"))
            .cast("long")
        ).alias("cb"),
    )
    wd = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = daily.select(
        "day",
        F.sum("na").over(wd).alias("cna"),
        F.sum("ca").over(wd).alias("cca"),
        F.sum("nb").over(wd).alias("cnb"),
        F.sum("cb").over(wd).alias("ccb"),
    )
    p = (F.col("cca") + F.col("ccb")).cast("double") / (
        F.col("cna") + F.col("cnb")
    )
    z = (
        F.col("cca").cast("double") / F.col("cna")
        - F.col("ccb").cast("double") / F.col("cnb")
    ) / F.sqrt(p * (1 - p) * (1.0 / F.col("cna") + 1.0 / F.col("cnb")))
    return cum.select(
        "day",
        F.col("cna").cast("long").alias("cna"),
        F.col("cnb").cast("long").alias("cnb"),
        F.col("cca").cast("long").alias("cca"),
        F.col("ccb").cast("long").alias("ccb"),
        F.round(z, 4).alias("z_stat"),
        (F.abs(z) > 2.7).cast("long").alias("crossed"),
    ).orderBy("day")


# --------------------------------------------------------------------------
# q273 - randomized-response local-DP frequency estimation: simulate the
# classic k-ary randomized-response mechanism (report the true category
# with p = 3/4, otherwise a uniform category) over the event stream, then
# invert the mechanism to recover unbiased frequency estimates - the
# local-differential-privacy counting pattern (Warner 1965; RAPPOR's
# ancestor), with the privatised report the ONLY thing the aggregate ever
# reads. Completes the privacy family (q232 k-anonymity, q240
# l-diversity, q253 t-closeness) with the local model.
# Parity: the mechanism's randomness is the deterministic md5(event_id)
# stream (two independent hex slices: keep/flip draw and replacement
# draw), so reported counts are exact integers in both engines; the
# debiasing estimate n_hat = (c_t - n/(4*5)) * (4/3) is spelled with the
# identical literal arithmetic on both sides; 4dp.
# Scale: one narrow map (two hash slices + a 5-row broadcast join for
# the replacement category) and one per-category aggregate.
# --------------------------------------------------------------------------
@register(
    "q273_randomized_response",
    oracle="""
WITH cats AS (
    SELECT event_type AS cat,
           ROW_NUMBER() OVER (ORDER BY event_type) - 1 AS idx,
           CAST(COUNT(*) AS BIGINT) AS n_true
    FROM events GROUP BY event_type
),
k AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM cats),
draws AS (
    SELECT e.event_type,
           ('0x' || SUBSTR(MD5(CAST(e.event_id AS VARCHAR)), 1, 8))::UBIGINT
               % 100 AS keep_draw,
           CAST(('0x' || SUBSTR(MD5(CAST(e.event_id AS VARCHAR)), 9, 8))::UBIGINT
               % (SELECT k FROM k) AS BIGINT) AS repl_idx
    FROM events e
),
reported AS (
    SELECT CASE WHEN d.keep_draw < 75 THEN d.event_type ELSE c.cat END
               AS report
    FROM draws d JOIN cats c ON c.idx = d.repl_idx
),
rc AS (
    SELECT report, CAST(COUNT(*) AS BIGINT) AS n_reported
    FROM reported GROUP BY report
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events)
SELECT c.cat AS event_type,
       c.n_true,
       COALESCE(rc.n_reported, 0) AS n_reported,
       ROUND((COALESCE(rc.n_reported, 0)
              - CAST(n.n AS DOUBLE) * (1.0 - 0.75) / (SELECT k FROM k))
             / 0.75, 4) AS n_hat,
       ROUND(ABS((COALESCE(rc.n_reported, 0)
                  - CAST(n.n AS DOUBLE) * (1.0 - 0.75) / (SELECT k FROM k))
                 / 0.75 - c.n_true) / c.n_true, 4) AS rel_err
FROM cats c
LEFT JOIN rc ON rc.report = c.cat
CROSS JOIN n
ORDER BY event_type
""",
    tags=("privacy", "A5", "F21"),
)
def q273_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-ary randomized response + unbiased debiasing per event type:
    (event_type, n_true, n_reported, n_hat, rel_err)."""
    events = load_table(spark, sf_dir, "events")
    cats = (
        events.groupBy(F.col("event_type").alias("cat"))
        .agg(F.count(F.lit(1)).alias("n_true"))
        .withColumn(
            "idx", F.row_number().over(Window.orderBy("cat")) - 1
        )
    )
    k = cats.count()
    n_total = events.count()
    md5 = F.md5(F.col("event_id").cast("string"))
    draws = events.select(
        "event_type",
        (F.conv(F.substring(md5, 1, 8), 16, 10).cast("long") % 100).alias(
            "keep_draw"
        ),
        (F.conv(F.substring(md5, 9, 8), 16, 10).cast("long") % k).alias(
            "repl_idx"
        ),
    )
    reported = draws.join(
        F.broadcast(cats.select("idx", F.col("cat").alias("repl_cat"))),
        F.col("repl_idx") == F.col("idx"),
    ).select(
        F.when(F.col("keep_draw") < 75, F.col("event_type"))
        .otherwise(F.col("repl_cat"))
        .alias("report")
    )
    rc = reported.groupBy("report").agg(F.count(F.lit(1)).alias("n_reported"))
    est = (
        F.coalesce(F.col("n_reported"), F.lit(0)).cast("double")
        - F.lit(float(n_total)) * (1.0 - 0.75) / k
    ) / 0.75
    return (
        cats.join(rc, cats["cat"] == rc["report"], "left")
        .select(
            F.col("cat").alias("event_type"),
            F.col("n_true").cast("long").alias("n_true"),
            F.coalesce("n_reported", F.lit(0)).cast("long").alias(
                "n_reported"
            ),
            F.round(est, 4).alias("n_hat"),
            F.round(F.abs(est - F.col("n_true")) / F.col("n_true"), 4).alias(
                "rel_err"
            ),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q278 - Benjamini-Hochberg FDR control over a 35-test family: for every
# (event_type, ISO weekday) cell, a binomial z-test of whether that type
# concentrates on that weekday beyond the calendar share of such
# weekdays, then the BH step-up procedure at alpha = 0.10 across all 35
# p-values - multiple-testing discipline for metric sweeps, where
# uncorrected per-cell tests would flag ~3.5 false positives by chance.
# Parity: counts and calendar day-shares are exact integers; z is one
# closed-form double expression; the normal CDF is the Abramowitz-Stegun
# 7.1.26 polynomial with identical literal coefficients on both sides
# (exp()'s sub-ulp engine variance is ~1e-16 relative, far below the 4dp
# round); the BH threshold comparison and rejection flags are computed
# over the bounded 35-row relation.
# Scale: corpus -> per-(type, weekday) counts in one keyed aggregate;
# everything after runs on 35 rows (the bounded-window exception).
# --------------------------------------------------------------------------
_BH_ALPHA = 0.10



@register(
    "q278_bh_fdr",
    oracle=f"""
WITH ev AS (
    SELECT event_type,
           CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day
    FROM events
),
days AS (
    SELECT DISTINCT day FROM ev
),
wd_share AS (
    SELECT ISODOW(day) AS wd, CAST(COUNT(*) AS BIGINT) AS n_days,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM days) AS total_days
    FROM days GROUP BY ISODOW(day)
),
cells AS (
    SELECT event_type, ISODOW(day) AS wd, CAST(COUNT(*) AS BIGINT) AS k
    FROM ev GROUP BY event_type, ISODOW(day)
),
totals AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM ev GROUP BY event_type
),
zed AS (
    SELECT c.event_type, c.wd, c.k, t.n,
           (c.k - t.n * (CAST(w.n_days AS DOUBLE) / w.total_days))
           / SQRT(t.n * (CAST(w.n_days AS DOUBLE) / w.total_days)
                  * (1.0 - CAST(w.n_days AS DOUBLE) / w.total_days)) AS z
    FROM cells c
    JOIN totals t ON t.event_type = c.event_type
    JOIN wd_share w ON w.wd = c.wd
),
pv AS (
    SELECT event_type, wd, k, n, z,
           1.0 / (1.0 + 0.2316419 * ABS(z)) AS t_as,
           ABS(z) AS az
    FROM zed
),
pvals AS (
    SELECT event_type, wd, k, n, z,
           2.0 * (0.3989422804014327 * EXP(-(az * az) / 2.0)
                  * (0.319381530 * t_as
                     - 0.356563782 * t_as * t_as
                     + 1.781477937 * t_as * t_as * t_as
                     - 1.821255978 * t_as * t_as * t_as * t_as
                     + 1.330274429 * t_as * t_as * t_as * t_as * t_as)) AS p
    FROM pv
),
ranked AS (
    SELECT event_type, wd, k, n, z, p,
           ROW_NUMBER() OVER (ORDER BY p, event_type, wd) AS rk,
           COUNT(*) OVER () AS m
    FROM pvals
),
kmax AS (
    SELECT COALESCE(MAX(CASE WHEN p <= rk * {_BH_ALPHA} / m THEN rk END), 0)
               AS kmax
    FROM ranked
)
SELECT event_type, CAST(wd AS BIGINT) AS weekday, k AS n_cell, n AS n_type,
       ROUND(z, 4) AS z_stat, ROUND(p, 4) AS p_value,
       CAST(CASE WHEN rk <= km.kmax THEN 1 ELSE 0 END AS BIGINT) AS rejected
FROM ranked CROSS JOIN kmax km
ORDER BY event_type, weekday
""",
    tags=("ab-test", "A12", "W2"),
)
def q278_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(type, weekday) binomial z-tests with Benjamini-Hochberg FDR
    control at alpha=0.10: (event_type, weekday, n_cell, n_type, z_stat,
    p_value, rejected)."""
    events = load_table(spark, sf_dir, "events")
    ev = events.select(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    )
    days = ev.select("day").distinct()
    wd_share = (
        days.groupBy((F.weekday("day") + 1).alias("wd"))
        .agg(F.count(F.lit(1)).alias("n_days"))
        .crossJoin(F.broadcast(days.agg(F.count(F.lit(1)).alias("total_days"))))
    )
    cells = ev.groupBy(
        "event_type", (F.weekday("day") + 1).alias("wd")
    ).agg(F.count(F.lit(1)).alias("k"))
    totals = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    p0 = F.col("n_days").cast("double") / F.col("total_days")
    zed = (
        cells.join(F.broadcast(totals), "event_type")
        .join(F.broadcast(wd_share), "wd")
        .select(
            "event_type",
            "wd",
            "k",
            "n",
            (
                (F.col("k") - F.col("n") * p0)
                / F.sqrt(F.col("n") * p0 * (1.0 - p0))
            ).alias("z"),
        )
    )
    az = F.abs(F.col("z"))
    t_as = 1.0 / (1.0 + 0.2316419 * az)
    phi_tail = (
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
    pvals = zed.withColumn("p", 2.0 * phi_tail)
    w_rk = Window.orderBy("p", "event_type", "wd")
    w_all = Window.partitionBy()
    ranked = pvals.select(
        "event_type",
        "wd",
        "k",
        "n",
        "z",
        "p",
        F.row_number().over(w_rk).alias("rk"),
        F.count(F.lit(1)).over(w_all).alias("m"),
    )
    kmax = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p") <= F.col("rk") * _BH_ALPHA / F.col("m"),
                    F.col("rk"),
                )
            ),
            F.lit(0),
        ).alias("kmax")
    )
    return (
        ranked.crossJoin(F.broadcast(kmax))
        .select(
            "event_type",
            F.col("wd").cast("long").alias("weekday"),
            F.col("k").cast("long").alias("n_cell"),
            F.col("n").cast("long").alias("n_type"),
            F.round("z", 4).alias("z_stat"),
            F.round("p", 4).alias("p_value"),
            (F.col("rk") <= F.col("kmax")).cast("long").alias("rejected"),
        )
        .orderBy("event_type", "weekday")
    )


# --------------------------------------------------------------------------
# q283 - exact ROC-AUC from score-domain count algebra: AUC of the event
# `value` as a purchase-vs-rest classifier, computed WITHOUT a global
# row sort: collapse to per-distinct-score (pos, neg) counts, one cum
# window over the score domain, then the tie-corrected Mann-Whitney U.
# 2U = sum_i(2 * p_i * negs_below_i + p_i * n_i) keeps everything
# integer (ties contribute exact halves), so AUC = 2U / (2 * P * N) is
# one division - no rank averaging, no float accumulation.
# Parity: scores frozen to round(10^4 * value); all counts/U integer.
# Scale: the corpus collapses to the score-domain relation first (one
# keyed aggregate); the cum window runs over distinct scores, not rows
# (range-partitioned offsets at 100 TB, the ids.py pattern - declared
# bounded-domain exception at test scale).
# --------------------------------------------------------------------------
@register(
    "q283_roc_auc",
    oracle="""
WITH scored AS (
    SELECT CAST(ROUND(10000.0 * value) AS BIGINT) AS v,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
    FROM events
),
g AS (
    SELECT v,
           CAST(SUM(pos) AS BIGINT) AS p,
           CAST(SUM(1 - pos) AS BIGINT) AS n
    FROM scored GROUP BY v
),
cum AS (
    SELECT v, p, n,
           CAST(COALESCE(SUM(n) OVER (ORDER BY v
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS BIGINT)
               AS neg_below
    FROM g
),
u AS (
    SELECT CAST(SUM(2 * p * neg_below + p * n) AS BIGINT) AS two_u,
           CAST(SUM(p) AS BIGINT) AS n_pos,
           CAST(SUM(n) AS BIGINT) AS n_neg,
           CAST(COUNT(*) AS BIGINT) AS n_scores
    FROM cum
)
SELECT n_pos, n_neg, n_scores,
       ROUND(CAST(two_u AS DOUBLE) / (2.0 * n_pos * n_neg), 4) AS auc
FROM u
""",
    tags=("ml-eval", "A12", "W4"),
)
def q283_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-corrected ROC-AUC of `value` predicting purchase:
    (n_pos, n_neg, n_scores, auc)."""
    events = load_table(spark, sf_dir, "events")
    scored = events.select(
        F.round(10000.0 * F.col("value")).cast("long").alias("v"),
        (F.col("event_type") == "purchase").cast("long").alias("pos"),
    )
    g = scored.groupBy("v").agg(
        F.sum("pos").alias("p"), F.sum(1 - F.col("pos")).alias("n")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = g.select(
        "p", "n", F.coalesce(F.sum("n").over(w), F.lit(0)).alias("neg_below")
    )
    u = cum.agg(
        F.sum(2 * F.col("p") * F.col("neg_below") + F.col("p") * F.col("n"))
        .alias("two_u"),
        F.sum("p").alias("n_pos"),
        F.sum("n").alias("n_neg"),
        F.count(F.lit(1)).alias("n_scores"),
    )
    return u.select(
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        F.col("n_scores").cast("long").alias("n_scores"),
        F.round(
            F.col("two_u").cast("double") / (2.0 * F.col("n_pos") * F.col("n_neg")),
            4,
        ).alias("auc"),
    )


# --------------------------------------------------------------------------
# q284 - difference-in-differences: the 2x2 (treated x pre/post) design
# over event values with the mid-month cutover - treated cohort = odd
# user ids, outcome = mean event value. DID = (T_post - T_pre) -
# (C_post - C_pre), with the classical unpooled SE and t statistic. The
# before/after-with-control estimator that survives level differences
# between cohorts (complements q229 CUPED and q242 IPW).
# Parity: values frozen to round(10^4 * value); the 12 sufficient
# statistics (n, sum, sum-of-squares per cell) are exact integers from
# ONE conditional-aggregation pass; means/vars/did/se/t are a fixed
# double expression tree over them, 4dp. Values freeze at 10^2 units
# (the data's native 2 decimals), keeping sum(x^2) < 2^63 even at
# 10^9+ rows.
# Scale: a single full-table aggregate with map-side partials; zero
# joins, zero windows, 1 output row.
# --------------------------------------------------------------------------
_DID_CUT = "2024-01-16"


def _did_cells() -> list[tuple[str, str]]:
    return [("t", "post"), ("t", "pre"), ("c", "post"), ("c", "pre")]


def _did_oracle() -> str:
    aggs = []
    for co, pe in _did_cells():
        cond = (
            f"user_id % 2 = {1 if co == 't' else 0} AND "
            + (
                f"CAST(ts AS TIMESTAMP) >= TIMESTAMP '{_DID_CUT} 00:00:00'"
                if pe == "post"
                else f"CAST(ts AS TIMESTAMP) < TIMESTAMP '{_DID_CUT} 00:00:00'"
            )
        )
        aggs.append(
            f"CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS n_{co}_{pe},"
        )
        aggs.append(
            f"CAST(SUM(CASE WHEN {cond} THEN x ELSE 0 END) AS BIGINT)"
            f" AS s1_{co}_{pe},"
        )
        aggs.append(
            f"CAST(SUM(CASE WHEN {cond} THEN x * x ELSE 0 END) AS BIGINT)"
            f" AS s2_{co}_{pe},"
        )
    agg_sql = "\n           ".join(aggs).rstrip(",")
    mean = {
        f"{co}_{pe}": f"(CAST(s1_{co}_{pe} AS DOUBLE) / n_{co}_{pe})"
        for co, pe in _did_cells()
    }
    var = {
        f"{co}_{pe}": (
            f"((s2_{co}_{pe} - CAST(s1_{co}_{pe} AS DOUBLE)"
            f" * s1_{co}_{pe} / n_{co}_{pe}) / (n_{co}_{pe} - 1))"
        )
        for co, pe in _did_cells()
    }
    did = (
        f"(({mean['t_post']} - {mean['t_pre']})"
        f" - ({mean['c_post']} - {mean['c_pre']}))"
    )
    se = (
        "SQRT("
        + " + ".join(f"{var[k]} / n_{k}" for k in mean)
        + ")"
    )
    return f"""
WITH s AS (
    SELECT user_id, ts, CAST(ROUND(100.0 * value) AS BIGINT) AS x
    FROM events
),
cells AS (
    SELECT {agg_sql}
    FROM s
)
SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
       ROUND({did} / 100.0, 4) AS did,
       ROUND({se} / 100.0, 4) AS se,
       ROUND({did} / {se}, 4) AS t_stat
FROM cells
"""


@register(
    "q284_diff_in_diff",
    oracle=_did_oracle(),
    tags=("causal", "A12"),
)
def q284_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2x2 difference-in-differences on event values:
    (n_t_pre, n_t_post, n_c_pre, n_c_post, did, se, t_stat)."""
    events = load_table(spark, sf_dir, "events")
    s = events.select(
        "user_id",
        "ts",
        F.round(100.0 * F.col("value")).cast("long").alias("x"),
    )
    cut = F.lit(f"{_DID_CUT} 00:00:00").cast("timestamp")
    conds = {}
    for co, pe in _did_cells():
        c = F.col("user_id") % 2 == (1 if co == "t" else 0)
        c = c & (
            (F.col("ts") >= cut) if pe == "post" else (F.col("ts") < cut)
        )
        conds[f"{co}_{pe}"] = c
    aggs = []
    for k, c in conds.items():
        aggs.append(F.sum(F.when(c, 1).otherwise(0)).alias(f"n_{k}"))
        aggs.append(
            F.sum(F.when(c, F.col("x")).otherwise(0)).alias(f"s1_{k}")
        )
        aggs.append(
            F.sum(F.when(c, F.col("x") * F.col("x")).otherwise(0)).alias(
                f"s2_{k}"
            )
        )
    cells = s.agg(*aggs)

    def mean(k):
        return F.col(f"s1_{k}").cast("double") / F.col(f"n_{k}")

    def var(k):
        return (
            F.col(f"s2_{k}")
            - F.col(f"s1_{k}").cast("double")
            * F.col(f"s1_{k}")
            / F.col(f"n_{k}")
        ) / (F.col(f"n_{k}") - 1)

    did = (mean("t_post") - mean("t_pre")) - (mean("c_post") - mean("c_pre"))
    se = F.sqrt(
        sum(var(k) / F.col(f"n_{k}") for k in ("t_post", "t_pre", "c_post", "c_pre"))
    )
    return cells.select(
        F.col("n_t_pre").cast("long").alias("n_t_pre"),
        F.col("n_t_post").cast("long").alias("n_t_post"),
        F.col("n_c_pre").cast("long").alias("n_c_pre"),
        F.col("n_c_post").cast("long").alias("n_c_post"),
        F.round(did / 100.0, 4).alias("did"),
        F.round(se / 100.0, 4).alias("se"),
        F.round(did / se, 4).alias("t_stat"),
    )


# --------------------------------------------------------------------------
# q289 - cumulative gain / lift decile table for the q283 classifier
# (event value predicting purchase): rank the population by score,
# decile it WITHOUT a row-level ntile (ties share a decile: decile =
# floor(10 * rows_above / N) at score granularity - deterministic where
# ntile's tie-splitting is not), and report per-decile capture and lift.
# The targeting curve every uplift/propensity model ships with.
# Parity: deciles, counts and cumulative positives are exact integers on
# the score-domain relation; capture/lift are single divisions, 4dp.
# Scale: same collapse-first shape as q283 - one keyed aggregate to
# score-domain counts, one cum window over distinct scores, one 10-row
# aggregate. No row sort, no ntile.
# --------------------------------------------------------------------------
@register(
    "q289_gain_chart",
    oracle="""
WITH scored AS (
    SELECT CAST(ROUND(10000.0 * value) AS BIGINT) AS v,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
    FROM events
),
g AS (
    SELECT v, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS p
    FROM scored GROUP BY v
),
tot AS (
    SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(p) AS BIGINT) AS pp FROM g
),
cum AS (
    SELECT v, n, p,
           CAST(COALESCE(SUM(n) OVER (ORDER BY v DESC
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS BIGINT)
               AS rows_above
    FROM g
),
dec AS (
    SELECT CAST(LEAST(10 * c.rows_above // t.nn, 9) AS BIGINT) AS decile,
           c.n, c.p
    FROM cum c CROSS JOIN tot t
),
agg AS (
    SELECT decile, CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(SUM(p) AS BIGINT) AS n_pos
    FROM dec GROUP BY decile
),
run AS (
    SELECT decile, n_rows, n_pos,
           CAST(SUM(n_pos) OVER (ORDER BY decile
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_pos
    FROM agg
)
SELECT r.decile, r.n_rows, r.n_pos,
       ROUND(CAST(r.cum_pos AS DOUBLE) / t.pp, 4) AS capture,
       ROUND((CAST(r.n_pos AS DOUBLE) / r.n_rows)
             / (CAST(t.pp AS DOUBLE) / t.nn), 4) AS lift
FROM run r CROSS JOIN tot t
ORDER BY r.decile
""",
    tags=("ml-eval", "A12", "W2"),
)
def q289_gain_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile gain/lift table of value-as-propensity for purchase:
    (decile, n_rows, n_pos, capture, lift)."""
    events = load_table(spark, sf_dir, "events")
    scored = events.select(
        F.round(10000.0 * F.col("value")).cast("long").alias("v"),
        (F.col("event_type") == "purchase").cast("long").alias("pos"),
    )
    g = scored.groupBy("v").agg(
        F.count(F.lit(1)).alias("n"), F.sum("pos").alias("p")
    )
    tot = g.agg(F.sum("n").alias("nn"), F.sum("p").alias("pp"))
    w = Window.orderBy(F.col("v").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = g.select(
        "n", "p", F.coalesce(F.sum("n").over(w), F.lit(0)).alias("rows_above")
    )
    dec = cum.crossJoin(F.broadcast(tot)).select(
        F.least(
            F.expr("(10 * rows_above) div nn").cast("long"),
            F.lit(9).cast("long"),
        ).alias("decile"),
        "n",
        "p",
    )
    agg = dec.groupBy("decile").agg(
        F.sum("n").alias("n_rows"), F.sum("p").alias("n_pos")
    )
    wd = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    run = agg.select(
        "decile",
        "n_rows",
        "n_pos",
        F.sum("n_pos").over(wd).alias("cum_pos"),
    )
    return (
        run.crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("long").alias("decile"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_pos").cast("long").alias("n_pos"),
            F.round(F.col("cum_pos").cast("double") / F.col("pp"), 4).alias(
                "capture"
            ),
            F.round(
                (F.col("n_pos").cast("double") / F.col("n_rows"))
                / (F.col("pp").cast("double") / F.col("nn")),
                4,
            ).alias("lift"),
        )
        .orderBy("decile")
    )


# --------------------------------------------------------------------------
# q291 - covariate balance table (standardized mean differences): before
# trusting q284's DID or q242's IPW, check whether treated (odd user
# ids) and control actually look alike on pre-treatment covariates -
# event value, hour-of-day, ISO weekday. |SMD| < 0.1 is the conventional
# "balanced" bar; this is the diagnostics relation every causal report
# leads with.
# Parity: the three covariates are frozen integers (value x100, hour,
# weekday); per-arm n / sum / sum-of-squares come from ONE conditional
# aggregation; mean/var/SMD are a fixed double expression, 4dp.
# Scale: a single full-table aggregate with map-side partials (all three
# covariates share the scan), then three bounded output rows.
# --------------------------------------------------------------------------
def _q291_covs() -> list[tuple[str, str]]:
    return [
        ("value_x100", "CAST(ROUND(100.0 * value) AS BIGINT)"),
        ("hour_of_day", "CAST(EXTRACT(HOUR FROM CAST(ts AS TIMESTAMP)) AS BIGINT)"),
        ("iso_weekday", "CAST(ISODOW(CAST(ts AS TIMESTAMP)) AS BIGINT)"),
    ]


def _q291_oracle() -> str:
    aggs = []
    for name, expr in _q291_covs():
        for arm, cond in (("t", "user_id % 2 = 1"), ("c", "user_id % 2 = 0")):
            aggs.append(
                f"CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT)"
                f" AS n_{arm}_{name},"
            )
            aggs.append(
                f"CAST(SUM(CASE WHEN {cond} THEN {expr} ELSE 0 END) AS BIGINT)"
                f" AS s1_{arm}_{name},"
            )
            aggs.append(
                f"CAST(SUM(CASE WHEN {cond} THEN {expr} * {expr} ELSE 0 END)"
                f" AS BIGINT) AS s2_{arm}_{name},"
            )
    agg_sql = "\n           ".join(aggs).rstrip(",")
    rows = []
    for name, _ in _q291_covs():

        def m(arm: str) -> str:
            return f"(CAST(s1_{arm}_{name} AS DOUBLE) / n_{arm}_{name})"

        def v(arm: str) -> str:
            return (
                f"((s2_{arm}_{name} - CAST(s1_{arm}_{name} AS DOUBLE)"
                f" * s1_{arm}_{name} / n_{arm}_{name})"
                f" / (n_{arm}_{name} - 1))"
            )

        smd = f"(({m('t')} - {m('c')}) / SQRT(({v('t')} + {v('c')}) / 2.0))"
        rows.append(
            f"""SELECT '{name}' AS covariate,
       ROUND({m('t')}, 4) AS mean_treated,
       ROUND({m('c')}, 4) AS mean_control,
       ROUND({smd}, 4) AS smd,
       CAST(CASE WHEN ABS({smd}) < 0.1 THEN 1 ELSE 0 END AS BIGINT)
           AS balanced
FROM cells"""
        )
    union = "\nUNION ALL\n".join(rows)
    return f"""
WITH cells AS (
    SELECT {agg_sql}
    FROM events
)
SELECT * FROM ({union})
ORDER BY covariate
"""


@register(
    "q291_covariate_balance",
    oracle=_q291_oracle(),
    tags=("causal", "A12"),
)
def q291_covariate_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized-mean-difference balance table for the odd/even user
    cohorts: (covariate, mean_treated, mean_control, smd, balanced)."""
    events = load_table(spark, sf_dir, "events")
    covs = {
        "value_x100": F.round(100.0 * F.col("value")).cast("long"),
        "hour_of_day": F.hour("ts").cast("long"),
        "iso_weekday": (F.weekday("ts") + 1).cast("long"),
    }
    t_cond = F.col("user_id") % 2 == 1
    aggs = []
    for name, expr in covs.items():
        for arm, cond in (("t", t_cond), ("c", ~t_cond)):
            aggs.append(F.sum(F.when(cond, 1).otherwise(0)).alias(f"n_{arm}_{name}"))
            aggs.append(
                F.sum(F.when(cond, expr).otherwise(0)).alias(f"s1_{arm}_{name}")
            )
            aggs.append(
                F.sum(F.when(cond, expr * expr).otherwise(0)).alias(
                    f"s2_{arm}_{name}"
                )
            )
    cells = events.agg(*aggs)
    out = None
    for name in covs:

        def m(arm: str):
            return F.col(f"s1_{arm}_{name}").cast("double") / F.col(
                f"n_{arm}_{name}"
            )

        def v(arm: str):
            return (
                F.col(f"s2_{arm}_{name}")
                - F.col(f"s1_{arm}_{name}").cast("double")
                * F.col(f"s1_{arm}_{name}")
                / F.col(f"n_{arm}_{name}")
            ) / (F.col(f"n_{arm}_{name}") - 1)

        smd = (m("t") - m("c")) / F.sqrt((v("t") + v("c")) / 2.0)
        row = cells.select(
            F.lit(name).alias("covariate"),
            F.round(m("t"), 4).alias("mean_treated"),
            F.round(m("c"), 4).alias("mean_control"),
            F.round(smd, 4).alias("smd"),
            (F.abs(smd) < 0.1).cast("long").alias("balanced"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("covariate")


# --------------------------------------------------------------------------
# q295 - USER-level differential privacy via contribution bounding: cap
# every user at 5 events per type (first 5 by time - the clipping step
# that turns event-level sensitivity into user-level sensitivity), then
# release the capped histogram with seeded Laplace(5/eps) noise at
# eps = 0.5. q287 protects EVENTS; this protects USERS - the distinction
# that decides whether a power user can be singled out.
# Parity: the cap is a per-(user, type) row_number window with the
# deterministic (ts, event_id) order; capped counts are exact; the noise
# draw is the q287 seeded inverse-CDF on md5(event_type || ':u'); 4dp on
# the one ratio.
# Scale: one per-(user, type) window (the sessionization contract) +
# one keyed count; noise is a narrow map on |categories| rows.
# --------------------------------------------------------------------------
_Q295_CAP = 5
_Q295_B = 10  # b = cap / eps = 5 / 0.5


@register(
    "q295_userlevel_dp",
    oracle=f"""
WITH ranked AS (
    SELECT event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts, event_id) AS rn
    FROM events
),
capped AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_capped
    FROM ranked WHERE rn <= {_Q295_CAP} GROUP BY event_type
),
truec AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_true
    FROM events GROUP BY event_type
),
draw AS (
    SELECT c.event_type, t.n_true, c.n_capped,
           (('0x' || SUBSTR(MD5(c.event_type || ':u'), 1, 8))::UBIGINT
            % 1000000 + 0.5) / 1000000.0 AS u
    FROM capped c JOIN truec t ON t.event_type = c.event_type
),
noised AS (
    SELECT event_type, n_true, n_capped,
           CAST(ROUND(CASE WHEN u < 0.5 THEN 1.0 ELSE -1.0 END
                      * {_Q295_B} * LN(1.0 - 2.0 * ABS(u - 0.5)))
                AS BIGINT) AS noise
    FROM draw
)
SELECT event_type, n_true, n_capped,
       n_capped + noise AS n_noisy,
       noise AS noise_added,
       ROUND(CAST(n_true - n_capped AS DOUBLE) / n_true, 4) AS clipped_frac
FROM noised
ORDER BY event_type
""",
    tags=("privacy", "W2", "A5"),
)
def q295_userlevel_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-level DP release with per-user contribution cap 5:
    (event_type, n_true, n_capped, n_noisy, noise_added, clipped_frac)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    capped = (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _Q295_CAP)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_capped"))
    )
    truec = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_true")
    )
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.col("event_type"), F.lit(":u"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 1000000
        + 0.5
    ) / 1000000.0
    noise = (
        F.round(
            F.when(u < 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
            * _Q295_B
            * F.log(1.0 - 2.0 * F.abs(u - 0.5))
        )
    ).cast("long")
    return (
        capped.join(truec, "event_type")
        .select(
            "event_type",
            F.col("n_true").cast("long").alias("n_true"),
            F.col("n_capped").cast("long").alias("n_capped"),
            (F.col("n_capped") + noise).cast("long").alias("n_noisy"),
            noise.alias("noise_added"),
            F.round(
                (F.col("n_true") - F.col("n_capped")).cast("double")
                / F.col("n_true"),
                4,
            ).alias("clipped_frac"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q299 - stratified uplift (post-stratification ATE): purchase-rate
# uplift of the odd-user cohort within fixed value bands, then the
# stratum-size-weighted pooled effect - the estimator that removes
# stratum-composition bias a raw A/B difference keeps (the bridge
# between q175's one-shot z and q242's IPW).
# Parity: per-(stratum, arm) counts are exact integers from one keyed
# aggregate; uplifts/weights/ATE are fixed double expressions, 4dp; the
# pooled ATE is replicated per row from a 1-row broadcast whose
# summation is over the frozen 5-row relation in stratum order (an
# ordered integer-weighted sum, not a float reduce over rows -
# ate terms are micro-int-frozen before summing).
# Scale: one conditional aggregate to the bounded strata relation; all
# algebra on <= 5 rows.
# --------------------------------------------------------------------------
_Q299_BANDS = (0, 100, 200, 300, 400)


@register(
    "q299_stratified_uplift",
    oracle="""
WITH tagged AS (
    SELECT CASE WHEN value < 100 THEN 0 WHEN value < 200 THEN 1
                WHEN value < 300 THEN 2 WHEN value < 400 THEN 3
                ELSE 4 END AS stratum,
           CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS treated,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
    FROM events
),
cells AS (
    SELECT stratum,
           CAST(SUM(treated) AS BIGINT) AS n_t,
           CAST(SUM(treated * conv) AS BIGINT) AS c_t,
           CAST(SUM(1 - treated) AS BIGINT) AS n_c,
           CAST(SUM((1 - treated) * conv) AS BIGINT) AS c_c
    FROM tagged GROUP BY stratum
    HAVING SUM(treated) > 0 AND SUM(1 - treated) > 0
),
scored AS (
    SELECT stratum, n_t, c_t, n_c, c_c,
           CAST(n_t + n_c AS BIGINT) AS n_s,
           (CAST(c_t AS DOUBLE) / n_t - CAST(c_c AS DOUBLE) / n_c) AS uplift,
           CAST(ROUND(1000000.0 * (n_t + n_c)
                      * (CAST(c_t AS DOUBLE) / n_t
                         - CAST(c_c AS DOUBLE) / n_c)) AS BIGINT) AS term
    FROM cells
),
pooled AS (
    SELECT CAST(SUM(term) AS BIGINT) AS tsum, CAST(SUM(n_s) AS BIGINT) AS nn
    FROM scored
)
SELECT CAST(s.stratum AS BIGINT) AS stratum, s.n_t, s.n_c,
       ROUND(CAST(s.c_t AS DOUBLE) / s.n_t, 4) AS rate_treated,
       ROUND(CAST(s.c_c AS DOUBLE) / s.n_c, 4) AS rate_control,
       ROUND(s.uplift, 4) AS uplift,
       ROUND(CAST(p.tsum AS DOUBLE) / (1000000.0 * p.nn), 4) AS pooled_ate
FROM scored s CROSS JOIN pooled p
ORDER BY s.stratum
""",
    tags=("causal", "A12", "A9"),
)
def q299_stratified_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase-rate uplift by value stratum with size-weighted pooled
    ATE: (stratum, n_t, n_c, rate_treated, rate_control, uplift,
    pooled_ate)."""
    events = load_table(spark, sf_dir, "events")
    stratum = (
        F.when(F.col("value") < 100, 0)
        .when(F.col("value") < 200, 1)
        .when(F.col("value") < 300, 2)
        .when(F.col("value") < 400, 3)
        .otherwise(4)
    )
    tagged = events.select(
        stratum.alias("stratum"),
        (F.col("user_id") % 2 == 1).cast("long").alias("treated"),
        (F.col("event_type") == "purchase").cast("long").alias("conv"),
    )
    cells = (
        tagged.groupBy("stratum")
        .agg(
            F.sum("treated").alias("n_t"),
            F.sum(F.col("treated") * F.col("conv")).alias("c_t"),
            F.sum(1 - F.col("treated")).alias("n_c"),
            F.sum((1 - F.col("treated")) * F.col("conv")).alias("c_c"),
        )
        # strata missing either arm have no defined uplift - dropped from
        # the table AND the pooled sum on both engines
        .filter((F.col("n_t") > 0) & (F.col("n_c") > 0))
    )
    uplift = (
        F.col("c_t").cast("double") / F.col("n_t")
        - F.col("c_c").cast("double") / F.col("n_c")
    )
    scored = cells.select(
        "stratum",
        "n_t",
        "c_t",
        "n_c",
        "c_c",
        (F.col("n_t") + F.col("n_c")).alias("n_s"),
        uplift.alias("uplift"),
        F.round(1000000.0 * (F.col("n_t") + F.col("n_c")) * uplift)
        .cast("long")
        .alias("term"),
    )
    pooled = scored.agg(
        F.sum("term").alias("tsum"), F.sum("n_s").alias("nn")
    )
    return (
        scored.crossJoin(F.broadcast(pooled))
        .select(
            F.col("stratum").cast("long").alias("stratum"),
            F.col("n_t").cast("long").alias("n_t"),
            F.col("n_c").cast("long").alias("n_c"),
            F.round(F.col("c_t").cast("double") / F.col("n_t"), 4).alias(
                "rate_treated"
            ),
            F.round(F.col("c_c").cast("double") / F.col("n_c"), 4).alias(
                "rate_control"
            ),
            F.round("uplift", 4).alias("uplift"),
            F.round(
                F.col("tsum").cast("double") / (1000000.0 * F.col("nn")), 4
            ).alias("pooled_ate"),
        )
        .orderBy("stratum")
    )


# --------------------------------------------------------------------------
# q305 - two-sample Kolmogorov-Smirnov test (treated vs control value
# distributions): the max CDF gap computed on the value DOMAIN (merged
# distinct values, two cumulative counts, one argmax) - no row sort -
# with the asymptotic two-sided p approximation
# p = 2 exp(-2 D^2 n_e), n_e = n1 n2 / (n1 + n2). The distribution-free
# "did the whole shape move" test the mean-based q284/q291 cannot see.
# Parity: CDF gaps are compared as INTEGER cross-products
# |c1 * n2 - c2 * n1| (never a float CDF), so D's argmax is exact; D and
# p are closed-form doubles from three integers; 4dp.
# Scale: one keyed aggregate to the value domain, two domain-window
# cumsums, one 1-row argmax aggregate.
# --------------------------------------------------------------------------
@register(
    "q305_ks_test",
    oracle="""
WITH frozen AS (
    SELECT CAST(ROUND(100.0 * value) AS BIGINT) AS v,
           CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS t
    FROM events
),
g AS (
    SELECT v, CAST(SUM(t) AS BIGINT) AS c1, CAST(SUM(1 - t) AS BIGINT) AS c2
    FROM frozen GROUP BY v
),
nn AS (
    SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
    FROM g
),
cum AS (
    SELECT v,
           CAST(SUM(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS k1,
           CAST(SUM(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS k2
    FROM g
),
gap AS (
    SELECT CAST(MAX(ABS(k1 * (SELECT n2 FROM nn) - k2 * (SELECT n1 FROM nn)))
                AS BIGINT) AS num
    FROM cum
)
SELECT n.n1, n.n2,
       ROUND(CAST(g.num AS DOUBLE) / (CAST(n.n1 AS DOUBLE) * n.n2), 4) AS d_stat,
       ROUND(2.0 * EXP(-2.0
             * (CAST(g.num AS DOUBLE) / (CAST(n.n1 AS DOUBLE) * n.n2))
             * (CAST(g.num AS DOUBLE) / (CAST(n.n1 AS DOUBLE) * n.n2))
             * (CAST(n.n1 AS DOUBLE) * n.n2 / (n.n1 + n.n2))), 4) AS p_value
FROM gap g CROSS JOIN nn n
""",
    tags=("ab-test", "A12", "W2"),
)
def q305_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS test of treated vs control values on the value
    domain: (n1, n2, d_stat, p_value)."""
    events = load_table(spark, sf_dir, "events")
    frozen = events.select(
        F.round(100.0 * F.col("value")).cast("long").alias("v"),
        (F.col("user_id") % 2 == 1).cast("long").alias("t"),
    )
    g = frozen.groupBy("v").agg(
        F.sum("t").alias("c1"), F.sum(1 - F.col("t")).alias("c2")
    )
    nn = g.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = g.select(
        F.sum("c1").over(w).alias("k1"), F.sum("c2").over(w).alias("k2")
    ).crossJoin(F.broadcast(nn))
    gap = cum.agg(
        F.max(
            F.abs(F.col("k1") * F.col("n2") - F.col("k2") * F.col("n1"))
        ).alias("num")
    )
    d = F.col("num").cast("double") / (F.col("n1").cast("double") * F.col("n2"))
    ne = F.col("n1").cast("double") * F.col("n2") / (F.col("n1") + F.col("n2"))
    return (
        gap.crossJoin(F.broadcast(nn))
        .select(
            F.col("n1").cast("long").alias("n1"),
            F.col("n2").cast("long").alias("n2"),
            F.round(d, 4).alias("d_stat"),
            F.round(2.0 * F.exp(-2.0 * d * d * ne), 4).alias("p_value"),
        )
    )


# --------------------------------------------------------------------------
# q312 - delete-one-day jackknife SE of the coefficient of variation:
# the resampling standard error for a NONLINEAR statistic (cv = sd/mean,
# where no closed-form iid SE exists), computed without replicate scans:
# each delete-one cv falls out of (s - x_i, ss - x_i^2, n - 1) on the
# bounded daily relation, so the whole jackknife is algebra over 30 rows
# per type (vs q237's bootstrap, which re-aggregates B replicates).
# Parity: daily means are exact _s div _c integers; every delete-one cv
# is frozen to round(10^8 * cv) BEFORE the cross-day sums (a float sum
# over rows would be order-sensitive); the final SE is one double
# expression over two integer sums; 4dp.
# Scale: collapse-first to daily means; everything after is a
# calendar-bounded per-type aggregate.
# --------------------------------------------------------------------------
@register(
    "q312_jackknife_cv_se",
    oracle="""
WITH daily AS (
    SELECT event_type,
           CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
           CAST(SUM(CAST(ROUND(100.0 * value) AS BIGINT)) // COUNT(*)
                AS BIGINT) AS x
    FROM events GROUP BY 1, 2
),
stats AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS s,
           CAST(SUM(x * x) AS BIGINT) AS ss
    FROM daily GROUP BY event_type
),
loo AS (
    SELECT d.event_type, t.n,
           CAST(ROUND(100000000.0
                * SQRT(((t.ss - d.x * d.x)
                        - CAST(t.s - d.x AS DOUBLE) * (t.s - d.x) / (t.n - 1))
                       / (t.n - 2))
                / (CAST(t.s - d.x AS DOUBLE) / (t.n - 1))) AS BIGINT) AS cvi
    FROM daily d JOIN stats t ON t.event_type = d.event_type
),
jack AS (
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
           CAST(SUM(cvi) AS BIGINT) AS sc,
           CAST(SUM(cvi * cvi) AS BIGINT) AS scc
    FROM loo GROUP BY event_type
)
SELECT j.event_type, j.n,
       ROUND(SQRT((CAST(t.ss AS DOUBLE) - CAST(t.s AS DOUBLE) * t.s / t.n)
                  / (t.n - 1))
             / (CAST(t.s AS DOUBLE) / t.n), 4) AS cv,
       ROUND(SQRT(CAST(j.n - 1 AS DOUBLE) / j.n
                  * (j.scc - CAST(j.sc AS DOUBLE) * j.sc / j.n))
             / 100000000.0, 4) AS jackknife_se
FROM jack j JOIN stats t ON t.event_type = j.event_type
ORDER BY j.event_type
""",
    tags=("robust-stats", "A12", "J14"),
)
def q312_jackknife_cv_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-day jackknife SE of the daily-mean CV:
    (event_type, n, cv, jackknife_se)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.sum(F.round(100.0 * F.col("value")).cast("long")).alias("_s"),
        F.count(F.lit(1)).alias("_c"),
    ).select("event_type", "day", F.expr("_s div _c").cast("long").alias("x"))
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("ss"),
    )
    sm = F.col("s") - F.col("x")
    ssm = F.col("ss") - F.col("x") * F.col("x")
    cvi = F.round(
        100000000.0
        * F.sqrt(
            (ssm - sm.cast("double") * sm / (F.col("n") - 1)) / (F.col("n") - 2)
        )
        / (sm.cast("double") / (F.col("n") - 1))
    ).cast("long")
    loo = daily.join(F.broadcast(stats), "event_type").select(
        "event_type", F.col("n").alias("n"), cvi.alias("cvi")
    )
    jack = loo.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.sum("cvi").alias("sc"),
        F.sum(F.col("cvi") * F.col("cvi")).alias("scc"),
    )
    cv_full = F.sqrt(
        (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n"))
        / (F.col("n") - 1)
    ) / (F.col("s").cast("double") / F.col("n"))
    se = (
        F.sqrt(
            (F.col("n") - 1).cast("double")
            / F.col("n")
            * (F.col("scc") - F.col("sc").cast("double") * F.col("sc") / F.col("n"))
        )
        / 100000000.0
    )
    return (
        jack.join(
            stats.select("event_type", F.col("s"), F.col("ss"), F.col("n").alias("n2")),
            "event_type",
        )
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.round(
                F.sqrt(
                    (
                        F.col("ss").cast("double")
                        - F.col("s").cast("double") * F.col("s") / F.col("n2")
                    )
                    / (F.col("n2") - 1)
                )
                / (F.col("s").cast("double") / F.col("n2")),
                4,
            ).alias("cv"),
            F.round(se, 4).alias("jackknife_se"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q313 - unseen-vocabulary estimation per source: Chao1 richness
# (V + F1^2 / (2 F2)) and the Good-Turing unseen probability mass
# (P0 = F1 / N) from each source's token frequency-of-frequencies - "how
# much vocabulary does this source still hide", the coverage diagnostic
# behind crawl-more/stop decisions (complements q173 Heaps growth and
# q141 OOV, which only measure what was SEEN).
# Parity: V, F1, F2, N are exact integers from two nested keyed
# aggregates; chao1/p0 are single-expression doubles, 4dp; sources
# with F2 = 0 use the bias-corrected Chao1 form F1*(F1-1)/2 (identical
# CASE on both sides, no division by zero).
# Scale: (source, token) counts -> frequency-of-frequencies (two keyed
# aggregates with map-side partials); output is |sources| rows.
# --------------------------------------------------------------------------
@register(
    "q313_chao1_richness",
    oracle="""
WITH tok AS (
    SELECT source, UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> ''))
               AS tok
    FROM documents
),
tf AS (
    SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
    FROM tok GROUP BY source, tok
),
fof AS (
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS v,
           CAST(SUM(c) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
           CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
    FROM tf GROUP BY source
)
SELECT source, n AS n_tokens, v AS vocab, f1, f2,
       ROUND(v + CASE WHEN f2 > 0
                      THEN CAST(f1 AS DOUBLE) * f1 / (2.0 * f2)
                      ELSE CAST(f1 AS DOUBLE) * (f1 - 1) / 2.0 END, 4)
           AS chao1,
       ROUND(CAST(f1 AS DOUBLE) / n, 4) AS p_unseen_gt
FROM fof
ORDER BY source
""",
    tags=("text-diversity", "A5", "A12"),
)
def q313_chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 vocabulary richness + Good-Turing unseen mass per source:
    (source, n_tokens, vocab, f1, f2, chao1, p_unseen_gt)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        F.explode(text_analysis.tokens_raw("text")).alias("tok"),
    )
    tf = tok.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    fof = tf.groupBy("source").agg(
        F.count(F.lit(1)).alias("v"),
        F.sum("c").alias("n"),
        F.sum((F.col("c") == 1).cast("long")).alias("f1"),
        F.sum((F.col("c") == 2).cast("long")).alias("f2"),
    )
    chao1 = F.col("v") + F.when(
        F.col("f2") > 0,
        F.col("f1").cast("double") * F.col("f1") / (2.0 * F.col("f2")),
    ).otherwise(
        F.col("f1").cast("double") * (F.col("f1") - 1) / 2.0
    )
    return fof.select(
        "source",
        F.col("n").cast("long").alias("n_tokens"),
        F.col("v").cast("long").alias("vocab"),
        F.col("f1").cast("long").alias("f1"),
        F.col("f2").cast("long").alias("f2"),
        F.round(chao1, 4).alias("chao1"),
        F.round(F.col("f1").cast("double") / F.col("n"), 4).alias(
            "p_unseen_gt"
        ),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# q355 — funnel conversion rates with Wilson 95% score intervals: per
# step (click → signup-after-first-click → purchase-after-first-signup),
# the conversion rate out of the previous step's population plus the
# Wilson lower/upper bounds — the uncertainty-aware funnel read that
# q87's point estimates and q237's bootstrap (expensive) bracket. Wilson
# is closed-form: center (p + z²/2n)/(1 + z²/n), half-width
# z·sqrt(p(1−p)/n + z²/4n²)/(1 + z²/n) at z = 1.96.
# Parity: step populations are exact integer counts from min-ts
# chaining (q201's discipline); every bound is a single double
# expression over (k, n). 4dp.
# Scale: three user-keyed min aggregates (uniform user_id shuffles) and
# 1-row count reduces; the CI algebra runs on 3 rows.
# ---------------------------------------------------------------------------
@register(
    "q355_funnel_wilson_ci",
    oracle="""
WITH c AS (
    SELECT user_id, MIN(ts) AS cts FROM events
    WHERE event_type = 'click' GROUP BY user_id
),
s AS (
    SELECT e.user_id, MIN(e.ts) AS sts
    FROM events e JOIN c ON c.user_id = e.user_id
    WHERE e.event_type = 'signup' AND e.ts > c.cts
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, MIN(e.ts) AS pts
    FROM events e JOIN s ON s.user_id = e.user_id
    WHERE e.event_type = 'purchase' AND e.ts > s.sts
    GROUP BY e.user_id
),
tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n0 FROM events),
steps AS (
    SELECT 1 AS step, 'click' AS name,
           (SELECT n0 FROM tot) AS n,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS k
    UNION ALL
    SELECT 2, 'signup_after_click',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM s)
    UNION ALL
    SELECT 3, 'purchase_after_signup',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM s),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM p)
)
SELECT CAST(step AS BIGINT) AS step, name, n, k,
       ROUND(CAST(k AS DOUBLE) / n, 4) AS rate,
       ROUND(((CAST(k AS DOUBLE) / n + 1.96 * 1.96 / (2.0 * n))
              - 1.96 * SQRT((CAST(k AS DOUBLE) / n)
                            * (1.0 - CAST(k AS DOUBLE) / n) / n
                            + 1.96 * 1.96 / (4.0 * n * n)))
             / (1.0 + 1.96 * 1.96 / n), 4) AS wilson_lo,
       ROUND(((CAST(k AS DOUBLE) / n + 1.96 * 1.96 / (2.0 * n))
              + 1.96 * SQRT((CAST(k AS DOUBLE) / n)
                            * (1.0 - CAST(k AS DOUBLE) / n) / n
                            + 1.96 * 1.96 / (4.0 * n * n)))
             / (1.0 + 1.96 * 1.96 / n), 4) AS wilson_hi
FROM steps ORDER BY step
""",
    tags=("attribution", "inferential", "A2"),
)
def q355_funnel_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel step conversions with Wilson 95% intervals:
    (step, name, n, k, rate, wilson_lo, wilson_hi)."""
    events = load_table(spark, sf_dir, "events")
    c = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("cts"))
    )
    s = (
        events.filter(F.col("event_type") == "signup")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("cts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("sts"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("sts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("pts"))
    )
    n0 = events.agg(F.countDistinct("user_id").alias("n0"))
    nc = c.agg(F.count(F.lit(1)).alias("nc"))
    ns = s.agg(F.count(F.lit(1)).alias("ns"))
    np_ = p.agg(F.count(F.lit(1)).alias("np"))
    base = (
        n0.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(ns))
        .crossJoin(F.broadcast(np_))
    )
    steps = (
        base.select(
            F.lit(1).cast("long").alias("step"),
            F.lit("click").alias("name"),
            F.col("n0").cast("long").alias("n"),
            F.col("nc").cast("long").alias("k"),
        )
        .unionByName(
            base.select(
                F.lit(2).cast("long").alias("step"),
                F.lit("signup_after_click").alias("name"),
                F.col("nc").cast("long").alias("n"),
                F.col("ns").cast("long").alias("k"),
            )
        )
        .unionByName(
            base.select(
                F.lit(3).cast("long").alias("step"),
                F.lit("purchase_after_signup").alias("name"),
                F.col("ns").cast("long").alias("n"),
                F.col("np").cast("long").alias("k"),
            )
        )
    )
    z = F.lit(1.96)
    pr = F.col("k").cast("double") / F.col("n")
    center = pr + z * z / (2.0 * F.col("n"))
    half = z * F.sqrt(
        pr * (F.lit(1.0) - pr) / F.col("n")
        + z * z / (4.0 * F.col("n") * F.col("n"))
    )
    denom = F.lit(1.0) + z * z / F.col("n")
    return steps.select(
        "step",
        "name",
        "n",
        "k",
        F.round(pr, 4).alias("rate"),
        F.round((center - half) / denom, 4).alias("wilson_lo"),
        F.round((center + half) / denom, 4).alias("wilson_hi"),
    ).orderBy("step")


# --------------------------------------------------------------------------
# q415 - Simpson's-paradox guard for the parity A/B read: the odd-even
# mean-value difference per event-type STRATUM next to the aggregate
# difference, flagging when the aggregate sign contradicts the majority
# of stratum signs - the classic confounding trap (arm traffic mixes
# differ by type, the aggregate flips). Ships as the companion guard to
# q400's P(B>A) the same way q390's SRM guard fronts q175.
# Parity: values frozen to cents; every mean is one double ratio of
# exact integers; signs compare on round(1e4*diff) frozen integers so a
# last-ulp mean difference can't flip a flag. 4dp.
# Scale: ONE (stratum, arm) aggregate (map-side combined) computes
# everything; the overall row is a second tiny rollup of that bounded
# relation; output = |types| + 1 rows.
# --------------------------------------------------------------------------
@register(
    "q415_simpsons_guard",
    oracle="""
WITH s AS (
    SELECT event_type, user_id % 2 AS arm,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(100.0 * value) AS BIGINT)) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
w AS (
    SELECT event_type,
           CAST(SUM(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n0,
           CAST(SUM(CASE WHEN arm = 0 THEN c END) AS BIGINT) AS c0,
           CAST(SUM(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n1,
           CAST(SUM(CASE WHEN arm = 1 THEN c END) AS BIGINT) AS c1
    FROM s GROUP BY event_type
),
rows_ AS (
    SELECT event_type AS scope, n0, c0, n1, c1 FROM w
    UNION ALL
    SELECT 'overall', CAST(SUM(n0) AS BIGINT), CAST(SUM(c0) AS BIGINT),
           CAST(SUM(n1) AS BIGINT), CAST(SUM(c1) AS BIGINT)
    FROM w
),
d AS (
    SELECT scope, n0, n1,
           ROUND(CAST(c0 AS DOUBLE) / n0 / 100.0, 4) AS mean_a,
           ROUND(CAST(c1 AS DOUBLE) / n1 / 100.0, 4) AS mean_b,
           CAST(ROUND(10000.0 * (CAST(c1 AS DOUBLE) / n1
                                 - CAST(c0 AS DOUBLE) / n0) / 100.0)
                AS BIGINT) AS diff4
    FROM rows_
),
agg AS (
    SELECT (SELECT CASE WHEN diff4 > 0 THEN 1
                        WHEN diff4 < 0 THEN -1 ELSE 0 END
            FROM d WHERE scope = 'overall') AS osign,
           (SELECT CAST(SUM(CASE WHEN diff4 > 0 THEN 1 ELSE 0 END)
                        AS BIGINT)
            FROM d WHERE scope <> 'overall') AS pos,
           (SELECT CAST(SUM(CASE WHEN diff4 < 0 THEN 1 ELSE 0 END)
                        AS BIGINT)
            FROM d WHERE scope <> 'overall') AS neg
)
SELECT d.scope, d.n0, d.n1, d.mean_a, d.mean_b,
       ROUND(d.diff4 / 10000.0, 4) AS diff,
       CAST(CASE WHEN d.scope = 'overall'
                  AND ((a.osign > 0 AND a.neg > a.pos)
                       OR (a.osign < 0 AND a.pos > a.neg))
                 THEN 1 ELSE 0 END AS BIGINT) AS simpson_flag
FROM d CROSS JOIN agg a
ORDER BY scope
""",
    tags=("abtest", "inferential", "A9"),
)
def q415_simpsons_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified vs aggregate arm comparison with a paradox flag:
    (scope, n0, n1, mean_a, mean_b, diff, simpson_flag)."""
    events = load_table(spark, sf_dir, "events")
    s = events.groupBy(
        "event_type", (F.col("user_id") % 2).alias("arm")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(100.0 * F.col("value")).cast("long")).alias("c"),
    )
    w = s.groupBy("event_type").agg(
        F.sum(F.when(F.col("arm") == 0, F.col("n"))).cast("long").alias("n0"),
        F.sum(F.when(F.col("arm") == 0, F.col("c"))).cast("long").alias("c0"),
        F.sum(F.when(F.col("arm") == 1, F.col("n"))).cast("long").alias("n1"),
        F.sum(F.when(F.col("arm") == 1, F.col("c"))).cast("long").alias("c1"),
    )
    overall = w.agg(
        F.lit("overall").alias("scope"),
        F.sum("n0").cast("long").alias("n0"),
        F.sum("c0").cast("long").alias("c0"),
        F.sum("n1").cast("long").alias("n1"),
        F.sum("c1").cast("long").alias("c1"),
    )
    rows = w.select(
        F.col("event_type").alias("scope"), "n0", "c0", "n1", "c1"
    ).unionByName(overall)
    diff4 = F.round(
        10000.0
        * (
            F.col("c1").cast("double") / F.col("n1")
            - F.col("c0").cast("double") / F.col("n0")
        )
        / 100.0
    ).cast("long")
    d = rows.select(
        "scope",
        "n0",
        "n1",
        F.round(F.col("c0").cast("double") / F.col("n0") / 100.0, 4).alias(
            "mean_a"
        ),
        F.round(F.col("c1").cast("double") / F.col("n1") / 100.0, 4).alias(
            "mean_b"
        ),
        diff4.alias("diff4"),
    )
    agg = d.agg(
        F.max(
            F.when(
                F.col("scope") == "overall",
                F.signum(F.col("diff4").cast("double")).cast("long"),
            )
        ).alias("osign"),
        F.sum(
            F.when(
                (F.col("scope") != "overall") & (F.col("diff4") > 0), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("pos"),
        F.sum(
            F.when(
                (F.col("scope") != "overall") & (F.col("diff4") < 0), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("neg"),
    )
    return (
        d.crossJoin(F.broadcast(agg))
        .select(
            "scope",
            "n0",
            "n1",
            "mean_a",
            "mean_b",
            F.round(F.col("diff4") / 10000.0, 4).alias("diff"),
            (
                (F.col("scope") == "overall")
                & (
                    ((F.col("osign") > 0) & (F.col("neg") > F.col("pos")))
                    | ((F.col("osign") < 0) & (F.col("pos") > F.col("neg")))
                )
            )
            .cast("long")
            .alias("simpson_flag"),
        )
        .orderBy("scope")
    )


# --------------------------------------------------------------------------
# q434 - Cochran-Armitage trend test: is the probability a line item is
# RETURNED monotone in its discount level? Discount percent (0..10) is
# the ordered score w; outcome y = (l_returnflag = 'R'). The classic
# dose-response test for a binary outcome against an ORDERED factor -
# what a chi-square on the 2xk table throws away. T = sum w(y - p),
# Var T = p(1-p)(S2 - S1^2/N); z = T/sqrt(Var).
# Parity: N, R, S1 = sum w, S2 = sum w^2, Sr = sum w*y are exact
# integers from ONE corpus aggregate; z is a single double expression
# over them, identical textually on both engines, 4dp.
# Scale: one map-side-combined corpus aggregate to a 1-row frame.
# Nothing else. The cheapest possible plan shape.
# --------------------------------------------------------------------------
@register(
    "q434_cochran_armitage",
    oracle="""
WITH s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                AS BIGINT) AS r,
           CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT)
               AS s1,
           CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)
                    * CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT)
               AS s2,
           CAST(SUM(CASE WHEN l_returnflag = 'R'
                    THEN CAST(ROUND(l_discount * 100) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS sr
    FROM lineitem
)
SELECT n, r AS returns,
       ROUND((CAST(sr AS DOUBLE) - CAST(r AS DOUBLE) * s1 / n)
             / SQRT((CAST(r AS DOUBLE) / n) * (1.0 - CAST(r AS DOUBLE) / n)
                    * (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)),
             4) AS z_trend
FROM s
""",
    tags=("ab-test", "A12"),
)
def q434_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage dose-response z for return-rate vs discount
    level: (n, returns, z_trend)."""
    li = load_table(spark, sf_dir, "lineitem")
    w = F.round(F.col("l_discount") * 100).cast("long")
    y = (F.col("l_returnflag") == "R").cast("long")
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(y).alias("r"),
        F.sum(w).alias("s1"),
        F.sum(w * w).alias("s2"),
        F.sum(F.when(F.col("l_returnflag") == "R", w).otherwise(0)).alias("sr"),
    )
    pn = F.col("r").cast("double") / F.col("n")
    t = F.col("sr").cast("double") - F.col("r").cast("double") * F.col("s1") / F.col("n")
    var = pn * (F.lit(1.0) - pn) * (
        F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("n")
    )
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.col("r").cast("long").alias("returns"),
        F.round(t / F.sqrt(var), 4).alias("z_trend"),
    )


# --------------------------------------------------------------------------
# q441 - doubly-robust (AIPW) treatment-effect estimate: effect of a
# deep discount (>= 5%) on the return probability, adjusting for the
# quantity-decile confounder. Reports the naive difference, the
# IPW-only estimate (q242's family), and the AIPW estimate that
# augments a deliberately-global (misspecified) outcome model with
# stratified propensities - the estimator that stays consistent if
# EITHER the propensity or the outcome model is right, which is why
# production causal pipelines default to it.
# Construction: every row in a (stratum, T, Y) cell contributes the
# same value, so all three estimators collapse to arithmetic over the
# 24-cell contingency relation - per-stratum terms are micro-integer
# rounded before summing (order-safe), everything upstream is exact
# integer counts.
# Scale: one map-side-combined (stratum, T, Y) corpus aggregate; the
# rest is a 24-row relation. No windows, no joins on the corpus.
# --------------------------------------------------------------------------
@register(
    "q441_aipw_effect",
    oracle="""
WITH rows_t AS (
    SELECT CAST(ROUND(l_quantity) AS BIGINT) // 10 AS x,
           CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS t,
           CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
    FROM lineitem
),
cells AS (
    SELECT x, t, y, CAST(COUNT(*) AS BIGINT) AS c
    FROM rows_t GROUP BY x, t, y
),
strata AS (
    SELECT x,
           CAST(SUM(c) AS BIGINT) AS n_x,
           CAST(SUM(CASE WHEN t = 1 THEN c ELSE 0 END) AS BIGINT) AS n1,
           CAST(SUM(CASE WHEN t = 1 AND y = 1 THEN c ELSE 0 END) AS BIGINT) AS r1,
           CAST(SUM(CASE WHEN t = 0 THEN c ELSE 0 END) AS BIGINT) AS n0,
           CAST(SUM(CASE WHEN t = 0 AND y = 1 THEN c ELSE 0 END) AS BIGINT) AS r0
    FROM cells GROUP BY x
),
gstats AS (
    SELECT CAST(SUM(n_x) AS BIGINT) AS n,
           CAST(SUM(r1) AS DOUBLE) / SUM(n1) AS m1,
           CAST(SUM(r0) AS DOUBLE) / SUM(n0) AS m0
    FROM strata
),
terms AS (
    SELECT g.n, g.m1, g.m0,
           CAST(ROUND(1000000.0 * (s.n_x * (g.m1 - g.m0)
               + (s.r1 - s.n1 * g.m1) / (CAST(s.n1 AS DOUBLE) / s.n_x)
               - (s.r0 - s.n0 * g.m0) / (CAST(s.n0 AS DOUBLE) / s.n_x)))
               AS BIGINT) AS aipw_u,
           CAST(ROUND(1000000.0 * (s.r1 / (CAST(s.n1 AS DOUBLE) / s.n_x)
               - s.r0 / (CAST(s.n0 AS DOUBLE) / s.n_x))) AS BIGINT) AS ipw_u
    FROM strata s CROSS JOIN gstats g
    WHERE s.n1 > 0 AND s.n0 > 0
)
SELECT MAX(n) AS n,
       ROUND(MAX(m1) - MAX(m0), 4) AS psi_naive,
       ROUND(CAST(SUM(ipw_u) AS DOUBLE) / 1000000.0 / MAX(n), 4) AS psi_ipw,
       ROUND(CAST(SUM(aipw_u) AS DOUBLE) / 1000000.0 / MAX(n), 4) AS psi_aipw
FROM terms
""",
    tags=("ab-test", "causal", "A12"),
)
def q441_aipw_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive vs IPW vs doubly-robust effect of deep discount on return
    rate: (n, psi_naive, psi_ipw, psi_aipw)."""
    li = load_table(spark, sf_dir, "lineitem")
    rows_t = li.select(
        F.expr("CAST(ROUND(l_quantity) AS BIGINT) DIV 10").alias("x"),
        (F.col("l_discount") >= 0.05).cast("long").alias("t"),
        (F.col("l_returnflag") == "R").cast("long").alias("y"),
    )
    cells = rows_t.groupBy("x", "t", "y").agg(F.count(F.lit(1)).alias("c"))
    strata = cells.groupBy("x").agg(
        F.sum("c").alias("n_x"),
        F.sum(F.when(F.col("t") == 1, F.col("c")).otherwise(0)).alias("n1"),
        F.sum(
            F.when((F.col("t") == 1) & (F.col("y") == 1), F.col("c")).otherwise(0)
        ).alias("r1"),
        F.sum(F.when(F.col("t") == 0, F.col("c")).otherwise(0)).alias("n0"),
        F.sum(
            F.when((F.col("t") == 0) & (F.col("y") == 1), F.col("c")).otherwise(0)
        ).alias("r0"),
    )
    glob = strata.agg(
        F.sum("n_x").alias("n"),
        (F.sum("r1").cast("double") / F.sum("n1")).alias("m1"),
        (F.sum("r0").cast("double") / F.sum("n0")).alias("m0"),
    )
    e1 = F.col("n1").cast("double") / F.col("n_x")
    e0 = F.col("n0").cast("double") / F.col("n_x")
    terms = (
        strata.crossJoin(F.broadcast(glob))
        .filter((F.col("n1") > 0) & (F.col("n0") > 0))
        .select(
            "n",
            "m1",
            "m0",
            F.round(
                F.lit(1000000.0)
                * (
                    F.col("n_x") * (F.col("m1") - F.col("m0"))
                    + (F.col("r1") - F.col("n1") * F.col("m1")) / e1
                    - (F.col("r0") - F.col("n0") * F.col("m0")) / e0
                )
            )
            .cast("long")
            .alias("aipw_u"),
            F.round(
                F.lit(1000000.0)
                * (F.col("r1") / e1 - F.col("r0") / e0)
            )
            .cast("long")
            .alias("ipw_u"),
        )
    )
    d_naive = F.max("m1") - F.max("m0")
    return terms.agg(
        F.max("n").cast("long").alias("n"),
        F.round(d_naive, 4).alias("psi_naive"),
        F.round(
            F.sum("ipw_u").cast("double") / 1000000.0 / F.max("n"), 4
        ).alias("psi_ipw"),
        F.round(
            F.sum("aipw_u").cast("double") / 1000000.0 / F.max("n"), 4
        ).alias("psi_aipw"),
    )


# --------------------------------------------------------------------------
# q443 - mediation analysis with Sobel test: does discount level affect
# return probability DIRECTLY, or through the line-item price it sets
# (X = discount pct -> M = price -> Y = returned)? Classic
# Baron-Kenny product-of-coefficients with both legs as closed-form
# OLS: a-path from the simple regression M ~ X, direct c' and b-path
# from the two-regressor normal equations Y ~ X + M (2x2 solve by
# Cramer's rule), indirect effect a*b, Sobel z = ab / sqrt(a^2 Var(b)
# + b^2 Var(a)).
# Parity: ONE corpus aggregate of 10 exact integer moment sums (x in
# 0..10, m in whole dollars, y in {0,1}); every coefficient, variance,
# and the z are single double expressions over them, identical text on
# both engines; b is reported per $1000 so 4dp carries signal.
# Scale: one map-side-combined corpus aggregate to a 1-row frame;
# everything else is constant-time arithmetic. No windows, no joins.
# --------------------------------------------------------------------------
@register(
    "q443_mediation_sobel",
    oracle="""
WITH v AS (
    SELECT CAST(ROUND(l_discount * 100) AS BIGINT) AS x,
           CAST(ROUND(l_extendedprice) AS BIGINT) AS m,
           CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
    FROM lineitem
),
mom AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(m) AS BIGINT) AS sm,
           CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * x) AS BIGINT) AS sxx2,
           CAST(SUM(x * m) AS BIGINT) AS sxm2,
           CAST(SUM(x * y) AS BIGINT) AS sxy2,
           CAST(SUM(m * m) AS BIGINT) AS smm2,
           CAST(SUM(m * y) AS BIGINT) AS smy2,
           CAST(SUM(y) AS BIGINT) AS syy2
    FROM v
),
cen AS (
    SELECT n,
           CAST(sxx2 AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n AS sxx,
           CAST(sxm2 AS DOUBLE) - CAST(sx AS DOUBLE) * sm / n AS sxm,
           CAST(sxy2 AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n AS sxy,
           CAST(smm2 AS DOUBLE) - CAST(sm AS DOUBLE) * sm / n AS smm,
           CAST(smy2 AS DOUBLE) - CAST(sm AS DOUBLE) * sy / n AS smy,
           CAST(syy2 AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS syy
    FROM mom
),
fit AS (
    SELECT n, sxx, syy,
           sxm / sxx AS a,
           (smm - sxm / sxx * sxm) / (n - 2) / sxx AS var_a,
           (smm * sxy - sxm * smy) / (sxx * smm - sxm * sxm) AS cdir,
           (sxx * smy - sxm * sxy) / (sxx * smm - sxm * sxm) AS b,
           sxy, smy, sxm, smm
    FROM cen
),
fin AS (
    SELECT n, a, var_a, cdir, b,
           (syy - cdir * sxy - b * smy) / (n - 3) * sxx
               / (sxx * smm - sxm * sxm) AS var_b
    FROM fit
)
SELECT n,
       ROUND(a, 4) AS a_path,
       ROUND(b * 1000.0, 4) AS b_path_per_k,
       ROUND(cdir, 4) AS direct,
       ROUND(a * b * 1000.0, 4) AS indirect_per_k,
       ROUND(a * b / SQRT(a * a * var_b + b * b * var_a), 4) AS sobel_z
FROM fin
""",
    tags=("ab-test", "causal", "A12"),
)
def q443_mediation_sobel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount -> price -> return mediation: (n, a_path, b_path_per_k,
    direct, indirect_per_k, sobel_z)."""
    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.round(F.col("l_discount") * 100).cast("long").alias("x"),
        F.round("l_extendedprice").cast("long").alias("m"),
        (F.col("l_returnflag") == "R").cast("long").alias("y"),
    )
    mom = v.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("m").alias("sm"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx2"),
        F.sum(F.col("x") * F.col("m")).alias("sxm2"),
        F.sum(F.col("x") * F.col("y")).alias("sxy2"),
        F.sum(F.col("m") * F.col("m")).alias("smm2"),
        F.sum(F.col("m") * F.col("y")).alias("smy2"),
        F.sum("y").alias("syy2"),
    )
    cen = mom.select(
        "n",
        (F.col("sxx2").cast("double") - F.col("sx").cast("double") * F.col("sx") / F.col("n")).alias("sxx"),
        (F.col("sxm2").cast("double") - F.col("sx").cast("double") * F.col("sm") / F.col("n")).alias("sxm"),
        (F.col("sxy2").cast("double") - F.col("sx").cast("double") * F.col("sy") / F.col("n")).alias("sxy"),
        (F.col("smm2").cast("double") - F.col("sm").cast("double") * F.col("sm") / F.col("n")).alias("smm"),
        (F.col("smy2").cast("double") - F.col("sm").cast("double") * F.col("sy") / F.col("n")).alias("smy"),
        (F.col("syy2").cast("double") - F.col("sy").cast("double") * F.col("sy") / F.col("n")).alias("syy"),
    )
    det = F.col("sxx") * F.col("smm") - F.col("sxm") * F.col("sxm")
    fit = cen.select(
        "n",
        "sxx",
        "syy",
        (F.col("sxm") / F.col("sxx")).alias("a"),
        (
            (F.col("smm") - F.col("sxm") / F.col("sxx") * F.col("sxm"))
            / (F.col("n") - 2)
            / F.col("sxx")
        ).alias("var_a"),
        ((F.col("smm") * F.col("sxy") - F.col("sxm") * F.col("smy")) / det).alias("cdir"),
        ((F.col("sxx") * F.col("smy") - F.col("sxm") * F.col("sxy")) / det).alias("b"),
        "sxy",
        "smy",
        "sxm",
        "smm",
    )
    fin = fit.select(
        "n",
        "a",
        "var_a",
        "cdir",
        "b",
        (
            (F.col("syy") - F.col("cdir") * F.col("sxy") - F.col("b") * F.col("smy"))
            / (F.col("n") - 3)
            * F.col("sxx")
            / (F.col("sxx") * F.col("smm") - F.col("sxm") * F.col("sxm"))
        ).alias("var_b"),
    )
    return fin.select(
        F.col("n").cast("long").alias("n"),
        F.round("a", 4).alias("a_path"),
        F.round(F.col("b") * 1000.0, 4).alias("b_path_per_k"),
        F.round("cdir", 4).alias("direct"),
        F.round(F.col("a") * F.col("b") * 1000.0, 4).alias("indirect_per_k"),
        F.round(
            F.col("a")
            * F.col("b")
            / F.sqrt(
                F.col("a") * F.col("a") * F.col("var_b")
                + F.col("b") * F.col("b") * F.col("var_a")
            ),
            4,
        ).alias("sobel_z"),
    )
