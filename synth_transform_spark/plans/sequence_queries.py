"""User-journey / sequence queries: funnels, sessions, transitions,
recommendation, attribution. Split from events_queries.py (round 6).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators import text_analysis, windows
from ..sources.readers import load_table
from .registry import register


# --------------------------------------------------------------------------
# q87 — funnel analysis: strictly-ordered view → click → purchase stages
# per user (the product-analytics staple). Each stage is one keyed
# min-aggregate over rows after the previous stage's timestamp — three
# shuffles, all on user_id, no window over the event stream and no
# self-join fan-out. Strict `>` ordering makes the result independent of
# intra-second event order.
# --------------------------------------------------------------------------
@register(
    "q87_funnel",
    oracle="""
WITH t1 AS (
    SELECT user_id, MIN(ts) AS t_view FROM events
    WHERE event_type = 'view' GROUP BY user_id
),
t2 AS (
    SELECT e.user_id, MIN(e.ts) AS t_click
    FROM events e JOIN t1 ON t1.user_id = e.user_id
    WHERE e.event_type = 'click' AND e.ts > t1.t_view
    GROUP BY e.user_id
),
t3 AS (
    SELECT e.user_id, MIN(e.ts) AS t_purchase
    FROM events e JOIN t2 ON t2.user_id = e.user_id
    WHERE e.event_type = 'purchase' AND e.ts > t2.t_click
    GROUP BY e.user_id
)
SELECT t1.user_id, t1.t_view, t2.t_click, t3.t_purchase,
       CAST(1 + (t2.user_id IS NOT NULL)::INT
              + (t3.user_id IS NOT NULL)::INT AS BIGINT) AS stage
FROM t1
LEFT JOIN t2 ON t2.user_id = t1.user_id
LEFT JOIN t3 ON t3.user_id = t1.user_id
""",
    tags=("funnel", "A1", "J2"),
)
def q87_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    t1 = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    t2 = (
        events.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    t3 = (
        events.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        t1.join(t2, "user_id", "left")
        .join(t3, "user_id", "left")
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            (
                F.lit(1)
                + F.when(F.col("t_click").isNotNull(), 1).otherwise(0)
                + F.when(F.col("t_purchase").isNotNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("stage"),
        )
    )


# --------------------------------------------------------------------------
# q88 — cohort retention: users bucketed by first-activity week, counted in
# each later activity week. Two keyed aggregates (first-touch per user,
# distinct user-week activity) and one join — the standard retention
# matrix. Both engines truncate weeks to Monday, and the offset is whole
# days // 7, so bucket boundaries agree exactly.
# --------------------------------------------------------------------------
@register(
    "q88_cohort_retention",
    oracle="""
WITH first_touch AS (
    SELECT user_id, DATE_TRUNC('week', MIN(ts)) AS cohort_week
    FROM events GROUP BY user_id
),
activity AS (
    SELECT DISTINCT user_id, DATE_TRUNC('week', ts) AS wk FROM events
)
SELECT f.cohort_week,
       CAST(FLOOR(DATE_DIFF('day', f.cohort_week, a.wk) / 7.0) AS BIGINT)
           AS week_offset,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM first_touch f JOIN activity a ON a.user_id = f.user_id
GROUP BY f.cohort_week, week_offset
""",
    tags=("cohort", "A1", "A10"),
)
def q88_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    first_touch = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = events.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    ).distinct()
    return (
        first_touch.join(activity, "user_id")
        .select(
            "cohort_week",
            F.floor(F.datediff("wk", "cohort_week") / 7)
            .cast("long")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").cast("long").alias("n_users"))
    )


@register(
    "q119_activity_streaks",
    oracle="""
WITH days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
flagged AS (
    SELECT user_id, d,
           CASE WHEN d - LAG(d) OVER (PARTITION BY user_id ORDER BY d) = 1
                THEN 0 ELSE 1 END AS is_new
    FROM days
),
islands AS (
    SELECT user_id, d,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY d
                             ROWS UNBOUNDED PRECEDING) AS island
    FROM flagged
),
streaks AS (
    SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS streak_len,
           MIN(d) AS streak_start
    FROM islands GROUP BY user_id, island
)
SELECT user_id,
       CAST(SUM(streak_len) AS BIGINT) AS n_active_days,
       CAST(COUNT(*) AS BIGINT) AS n_streaks,
       CAST(MAX(streak_len) AS BIGINT) AS longest_streak,
       CAST(MIN(streak_start) FILTER (
           WHERE streak_len = (SELECT MAX(s2.streak_len) FROM streaks s2
                               WHERE s2.user_id = streaks.user_id)
       ) AS TIMESTAMP) AS longest_start
FROM streaks
GROUP BY user_id
ORDER BY user_id
""",
    tags=("W2", "gaps-and-islands"),
)
def q119_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: longest consecutive-active-day streak per user.

    The classic lag → new-island flag → running-sum island id → double
    rollup, every window PARTITIONED BY user_id (no global window
    anywhere; the per-user day list is bounded by the calendar).  The
    earliest start among equal-longest streaks breaks ties
    deterministically — computed with a max_by over (streak_len, negated
    start) so the final rollup stays one pass.
    """
    from pyspark.sql import Window

    days = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    w_seq = Window.partitionBy("user_id").orderBy("d")
    flagged = days.withColumn(
        "is_new",
        F.when(
            F.datediff(F.col("d"), F.lag("d").over(w_seq)) == 1, F.lit(0)
        ).otherwise(F.lit(1)),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("is_new").over(w_seq.rowsBetween(Window.unboundedPreceding, 0)),
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("streak_len"),
        F.min("d").alias("streak_start"),
    )
    # argmax (longest streak, earliest start): lexicographic max over
    # (len, -days_since_epoch) recovers the earliest start among ties
    best = F.max(
        F.struct(
            F.col("streak_len"),
            (-F.unix_date(F.col("streak_start"))).alias("neg_start"),
        )
    )
    return (
        streaks.groupBy("user_id")
        .agg(
            F.sum("streak_len").alias("n_active_days"),
            F.count(F.lit(1)).alias("n_streaks"),
            best.getField("streak_len").alias("longest_streak"),
            F.date_from_unix_date(-best.getField("neg_start"))
            .cast("timestamp")
            .alias("longest_start"),
        )
        .orderBy("user_id")
    )


@register(
    "q120_interarrival_gaps",
    oracle="""
WITH seq AS (
    SELECT user_id, event_type,
           EPOCH_US(ts) - LAG(EPOCH_US(ts)) OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
           ) AS gap_us
    FROM events
)
SELECT event_type,
       CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
       ROUND(CAST(SUM(gap_us) AS DOUBLE) / COUNT(gap_us) / 1000000.0, 4) AS avg_gap_s,
       ROUND(CAST(MIN(gap_us) AS DOUBLE) / 1000000.0, 6) AS min_gap_s,
       ROUND(CAST(MAX(gap_us) AS DOUBLE) / 1000000.0, 6) AS max_gap_s
FROM seq
WHERE gap_us IS NOT NULL
GROUP BY event_type
ORDER BY event_type
""",
    tags=("W2", "lead-lag"),
)
def q120_interarrival_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap statistics per event type.

    lag() over (user_id, event_type) sequences — partitioned windows whose
    per-partition size is a single user's history, never the corpus.  Gaps
    stay in EXACT integer microseconds through the aggregation (sum of
    longs is order-independent); the single float division happens on the
    already-exact totals, so both engines round identically.  (event_id
    breaks ts ties in the ordering — same-timestamp events would otherwise
    make lag nondeterministic.)
    """
    from pyspark.sql import Window

    w_seq = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    seq = load_table(spark, sf_dir, "events").withColumn(
        "gap_us", us - F.lag(us).over(w_seq)
    )
    return (
        seq.filter(F.col("gap_us").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("gap_us").alias("n_gaps"),
            F.round(
                F.sum("gap_us").cast("double") / F.count("gap_us") / F.lit(1000000.0), 4
            ).alias("avg_gap_s"),
            F.round(F.min("gap_us").cast("double") / F.lit(1000000.0), 6).alias("min_gap_s"),
            F.round(F.max("gap_us").cast("double") / F.lit(1000000.0), 6).alias("max_gap_s"),
        )
        .orderBy("event_type")
    )


@register(
    "q154_transition_matrix",
    # Per-user event-type Markov transitions: LEAD over (user, ts,
    # event_id) sequences, counts row-normalised into probabilities.
    # n/total divides a BIGINT by a BIGINT cast double — exact operands,
    # deterministic quotient.
    oracle="""
WITH seq AS (
    SELECT user_id, event_type,
           LEAD(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_type
    FROM events
),
trans AS (
    SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY from_type, to_type
),
tot AS (
    SELECT from_type, SUM(n) AS total FROM trans GROUP BY from_type
)
SELECT t.from_type, t.to_type, CAST(t.n AS BIGINT) AS n,
       ROUND(t.n / CAST(tt.total AS DOUBLE), 4) AS p
FROM trans t JOIN tot tt ON tt.from_type = t.from_type
""",
    tags=("W2", "sequence", "markov"),
)
def q154_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (counts + row-normalised
    probabilities) over per-user sequences. The LEAD window partitions by
    user (uniform); the matrix is ≤ |types|² rows; totals broadcast
    back."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    trans = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = trans.groupBy("from_type").agg(F.sum("n").alias("total"))
    return (
        trans.join(F.broadcast(tot), "from_type")
        .select(
            "from_type",
            "to_type",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("n") / F.col("total").cast("double"), 4).alias("p"),
        )
    )


@register(
    "q167_since_last_error",
    # Resettable per-key counter — "events since the user's last error"
    # — the gaps-and-islands family's running variant (q119 counts
    # streaks, q120 measures gaps; this numbers WITHIN segments).
    # Segment id = running count of errors INCLUSIVE of the current row;
    # position = row_number within (user, segment); events before any
    # error report NULL (no segment to count from).
    oracle="""
WITH seq AS (
    SELECT user_id, event_id, ts, event_type,
           SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS seg
    FROM events
)
SELECT user_id, event_id,
       CASE WHEN seg = 0 THEN NULL
            ELSE CAST(ROW_NUMBER() OVER (PARTITION BY user_id, seg
                                         ORDER BY ts, event_id) - 1 AS BIGINT)
       END AS since_error
FROM seq
""",
    tags=("W2", "sequence", "gaps-islands"),
)
def q167_since_last_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event: how many events this user has logged since their last
    'error' (the error itself counts 0; pre-first-error rows are NULL).
    Both windows partition by user (uniform); segment boundaries come
    from one running conditional sum — no self-join against the error
    subset."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seq = events.select(
        "user_id",
        "event_id",
        "ts",
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .over(w_run)
        .alias("seg"),
    )
    w_seg = Window.partitionBy("user_id", "seg").orderBy("ts", "event_id")
    return seq.select(
        "user_id",
        "event_id",
        F.when(
            F.col("seg") > 0, (F.row_number().over(w_seg) - 1).cast("long")
        ).alias("since_error"),
    )


@register(
    "q169_basket_pairs",
    # Market-basket lite: event-type pairs co-occurring within the same
    # user-day basket, with support and lift. Pair counts come from the
    # distinct basket-item relation self-joined on the basket key (types
    # per basket ≤ 5 here — the classic a<b pair enumeration with
    # bounded fan-out); lift divides pre-rounded doubles.
    oracle="""
WITH items AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
    FROM events
),
n_baskets AS (
    SELECT CAST(COUNT(DISTINCT (user_id, day)) AS DOUBLE) AS nb FROM items
),
supp AS (
    SELECT event_type, COUNT(*) AS s FROM items GROUP BY event_type
),
pairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_pair
    FROM items a
    JOIN items b ON b.user_id = a.user_id AND b.day = a.day
                AND a.event_type < b.event_type
    GROUP BY type_a, type_b
)
SELECT p.type_a, p.type_b, CAST(p.n_pair AS BIGINT) AS n_pair,
       ROUND(ROUND(p.n_pair * nb.nb, 4) / (sa.s * sb.s), 4) AS lift
FROM pairs p
JOIN supp sa ON sa.event_type = p.type_a
JOIN supp sb ON sb.event_type = p.type_b
CROSS JOIN n_baskets nb
""",
    tags=("A1", "basket", "association"),
)
def q169_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-occurrence within user-day baskets: pair support +
    lift. The distinct item relation shuffles once on the basket key;
    supports and the basket count are broadcast scalars."""
    events = load_table(spark, sf_dir, "events")
    items = events.select(
        "user_id", F.to_date("ts").alias("day"), "event_type"
    ).distinct()
    nb = items.select("user_id", "day").distinct().agg(
        F.count(F.lit(1)).cast("double").alias("nb")
    )
    supp = items.groupBy("event_type").agg(F.count(F.lit(1)).alias("s"))
    a = items.select("user_id", "day", F.col("event_type").alias("type_a"))
    b = items.select("user_id", "day", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, ["user_id", "day"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    sa = supp.select(F.col("event_type").alias("type_a"), F.col("s").alias("sa"))
    sb = supp.select(F.col("event_type").alias("type_b"), F.col("s").alias("sb"))
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .join(F.broadcast(nb))
        .select(
            "type_a",
            "type_b",
            F.col("n_pair").cast("long").alias("n_pair"),
            F.round(
                F.round(F.col("n_pair") * F.col("nb"), 4)
                / (F.col("sa") * F.col("sb")),
                4,
            ).alias("lift"),
        )
    )


@register(
    "q170_user_entropy",
    # Behavioural diversity: Shannon entropy of each user's event-type
    # mix, normalised by ln(|types present|) (1.0 = uniform usage,
    # 0 = single-type user, NULL for one-type denominators). Each
    # ln term is rounded to 6dp before the Σ p·ln(p) (identical
    # operands cross-engine), the sum before the normalising divide.
    oracle="""
WITH counts AS (
    SELECT user_id, event_type, COUNT(*) AS n FROM events
    GROUP BY user_id, event_type
),
tot AS (
    SELECT user_id, SUM(n) AS nt, COUNT(*) AS k FROM counts GROUP BY user_id
),
terms AS (
    SELECT c.user_id, t.k,
           (c.n / CAST(t.nt AS DOUBLE))
           * ROUND(LN(c.n / CAST(t.nt AS DOUBLE)), 6) AS term
    FROM counts c JOIN tot t ON t.user_id = c.user_id
)
SELECT user_id,
       CAST(k AS BIGINT) AS n_types,
       ROUND(-SUM(term), 4) AS entropy,
       CASE WHEN k > 1
            THEN ROUND(ROUND(-SUM(term), 4) / ROUND(LN(k), 6), 4)
       END AS norm_entropy
FROM terms
GROUP BY user_id, k
""",
    tags=("A12", "behavioral"),
)
def q170_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalised event-mix entropy per user — two keyed aggregates and
    a broadcast-back of the per-user totals; all math on count ratios."""
    events = load_table(spark, sf_dir, "events")
    counts = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = counts.groupBy("user_id").agg(
        F.sum("n").alias("nt"), F.count(F.lit(1)).alias("k")
    )
    p = F.col("n") / F.col("nt").cast("double")
    terms = counts.join(tot, "user_id").select(
        "user_id", "k", (p * F.round(F.log(p), 6)).alias("term")
    )
    return (
        terms.groupBy("user_id", "k")
        .agg(F.round(-F.sum("term"), 4).alias("entropy"))
        .select(
            "user_id",
            F.col("k").cast("long").alias("n_types"),
            "entropy",
            F.when(
                F.col("k") > 1,
                F.round(
                    F.col("entropy") / F.round(F.log(F.col("k").cast("double")), 6), 4
                ),
            ).alias("norm_entropy"),
        )
    )


@register(
    "q176_time_to_convert",
    # Signup→first-purchase latency distribution: per converting user
    # the exact integer-second delta between first signup and first
    # subsequent purchase, then exact quantiles over integer seconds
    # (q136's exactness argument: quartile interpolation on integers is
    # dyadic — no ulp knife-edge).
    oracle="""
WITH first_signup AS (
    SELECT user_id, MIN(ts) AS s_ts FROM events
    WHERE event_type = 'signup' GROUP BY user_id
),
first_purchase AS (
    SELECT e.user_id, MIN(e.ts) AS p_ts
    FROM events e JOIN first_signup s
      ON s.user_id = e.user_id AND e.ts > s.s_ts
    WHERE e.event_type = 'purchase'
    GROUP BY e.user_id
),
deltas AS (
    SELECT CAST(EPOCH(DATE_TRUNC('second', p.p_ts)) AS BIGINT)
           - CAST(EPOCH(DATE_TRUNC('second', s.s_ts)) AS BIGINT) AS dt
    FROM first_signup s JOIN first_purchase p ON p.user_id = s.user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
       QUANTILE_CONT(dt, 0.25) AS p25_sec,
       QUANTILE_CONT(dt, 0.50) AS p50_sec,
       QUANTILE_CONT(dt, 0.75) AS p75_sec
FROM deltas
""",
    tags=("temporal", "funnel", "A12"),
)
def q176_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    fs = events.filter(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("s_ts")
    )
    fp = (
        events.filter(F.col("event_type") == "purchase")
        .join(fs, "user_id")
        .filter(F.col("ts") > F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    deltas = fs.join(fp, "user_id").select(
        (F.col("p_ts").cast("long") - F.col("s_ts").cast("long")).alias("dt")
    )
    pct = F.expr("percentile(dt, array(0.25D, 0.5D, 0.75D))")
    return deltas.agg(
        F.count(F.lit(1)).alias("n_converted"),
        pct[0].alias("p25_sec"),
        pct[1].alias("p50_sec"),
        pct[2].alias("p75_sec"),
    )


@register(
    "q179_top_event_paths",
    # Top-10 three-step behavioural paths: double LEAD over per-user
    # sequences, counted and ranked with a lexicographic tie-break —
    # the path-mining extension of q154's transition matrix.
    oracle="""
WITH seq AS (
    SELECT event_type AS e1,
           LEAD(event_type, 1) OVER w AS e2,
           LEAD(event_type, 2) OVER w AS e3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
paths AS (
    SELECT e1, e2, e3, COUNT(*) AS n
    FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
    GROUP BY e1, e2, e3
)
SELECT e1, e2, e3, CAST(n AS BIGINT) AS n
FROM (
    SELECT e1, e2, e3, n,
           ROW_NUMBER() OVER (ORDER BY n DESC, e1 ASC, e2 ASC, e3 ASC) AS rk
    FROM paths) t
WHERE rk <= 10
""",
    tags=("W2", "sequence", "path-mining"),
)
def q179_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common 3-event paths across all user sequences. The final
    top-10 ranks the ≤|types|³ path relation (125 rows) — bounded, like
    every model-table window in this family."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    paths = seq.groupBy("e1", "e2", "e3").agg(F.count(F.lit(1)).alias("n"))
    return (
        paths.orderBy(F.desc("n"), F.asc("e1"), F.asc("e2"), F.asc("e3"))
        .limit(10)
        .select("e1", "e2", "e3", F.col("n").cast("long").alias("n"))
    )


@register(
    "q189_activity_islands",
    # Gaps-and-islands: each event opens a 300 s activity interval; merge
    # overlapping intervals per user via the running-max-end flag, then
    # count islands and total covered seconds. Integer epoch arithmetic
    # end to end — no float in sight. Identical (s, e) ties cannot change
    # the flagged count (the first of a tie group inherits the pre-group
    # max; every later one sees an end >= its own start).
    oracle="""
WITH iv AS (
    SELECT user_id,
           CAST(EPOCH(DATE_TRUNC('second', ts)) AS BIGINT) AS s,
           CAST(EPOCH(DATE_TRUNC('second', ts)) AS BIGINT) + 300 AS e
    FROM events
),
marked AS (
    SELECT user_id, s, e,
           CASE WHEN s > COALESCE(
               MAX(e) OVER (
                   PARTITION BY user_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), -1) THEN 1 ELSE 0 END AS new_island
    FROM iv
),
islands AS (
    SELECT user_id, s, e,
           SUM(new_island) OVER (
               PARTITION BY user_id ORDER BY s, e ROWS UNBOUNDED PRECEDING
           ) AS island_id
    FROM marked
),
agg AS (
    SELECT user_id, island_id, MIN(s) AS start_s, MAX(e) AS end_s
    FROM islands GROUP BY user_id, island_id
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(SUM(end_s - start_s) AS BIGINT) AS covered_sec
FROM agg GROUP BY user_id
""",
    tags=("temporal", "W2", "gaps-islands"),
)
def q189_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged activity intervals per user (5-minute inactivity closes an
    island): the classic gaps-and-islands pattern as two per-user windows
    (bounded by a user's event count) and a keyed rollup."""
    events = load_table(spark, sf_dir, "events")
    iv = events.select(
        "user_id",
        F.col("ts").cast("long").alias("s"),
        (F.col("ts").cast("long") + 300).alias("e"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = iv.withColumn(
        "new_island",
        F.when(
            F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-1)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    islands = marked.withColumn("island_id", F.sum("new_island").over(w_run))
    agg = islands.groupBy("user_id", "island_id").agg(
        F.min("s").alias("start_s"), F.max("e").alias("end_s")
    )
    return agg.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("end_s") - F.col("start_s")).alias("covered_sec"),
    )


@register(
    "q206_cooldown_alerts",
    # The sequential-recurrence case: firing depends on which earlier rows
    # FIRED (not their values), so no window rewrite exists — Spark runs a
    # declared per-user applyInPandas scan; the oracle walks the same
    # recurrence with a linear recursive CTE over each user's candidate
    # sequence.
    oracle="""
WITH RECURSIVE cand AS (
    SELECT user_id, event_id,
           CAST(EPOCH(DATE_TRUNC('second', ts)) AS BIGINT) AS sec,
           ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY CAST(EPOCH(DATE_TRUNC('second', ts)) AS BIGINT), event_id
           ) AS rn
    FROM events WHERE value > 15.0
),
walk(user_id, rn, event_id, sec, fired, last_alert) AS (
    SELECT user_id, rn, event_id, sec, TRUE, sec FROM cand WHERE rn = 1
    UNION ALL
    SELECT c.user_id, c.rn, c.event_id, c.sec,
           c.sec - w.last_alert > 1800,
           CASE WHEN c.sec - w.last_alert > 1800 THEN c.sec ELSE w.last_alert END
    FROM walk w JOIN cand c ON c.user_id = w.user_id AND c.rn = w.rn + 1
)
SELECT user_id, event_id, sec AS alert_sec
FROM walk WHERE fired
""",
    tags=("temporal", "stateful", "mapInPandas"),
)
def q206_cooldown_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user threshold alerts with a 30-minute cooldown
    (operators/temporal.cooldown_alerts — declared Python stage)."""
    from ..operators import temporal

    events = load_table(spark, sf_dir, "events")
    return temporal.cooldown_alerts(events)


# --------------------------------------------------------------------------
# q246 — recency-decayed engagement score: Σ value·e^(−age/τ) per user
# (τ = 7 days), the standard feature-store freshness weighting next to
# q164's interval-weighted average. Each event's term is a pure function
# of (ts, value, corpus max ts) frozen to an integer micro-unit before
# the user-keyed sum — exact across partitionings. One 1-row horizon
# broadcast + one user-keyed aggregate; embarrassingly parallel.
# --------------------------------------------------------------------------
_DECAY_TAU_DAYS = 7.0


@register(
    "q246_decay_engagement",
    oracle=f"""
WITH horizon AS (SELECT MAX(ts) AS max_ts FROM events),
terms AS (
    SELECT e.user_id,
           CAST(ROUND(e.value
                      * EXP(-(EPOCH(h.max_ts - e.ts) / 86400.0)
                            / {_DECAY_TAU_DAYS})
                      * 10000) AS BIGINT) AS li
    FROM events e CROSS JOIN horizon h
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(li) / 10000.0, 4) AS decay_score
FROM terms
GROUP BY user_id
ORDER BY user_id
""",
    tags=("feature-store", "A5", "W4"),
)
def q246_decay_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential recency-decay engagement per user:
    (user_id, n_events, decay_score), τ = 7 days, exact micro-integer
    term sums."""
    events = load_table(spark, sf_dir, "events")
    horizon = events.agg(F.max("ts").alias("max_ts"))
    age_days = (
        F.col("max_ts").cast("double") - F.col("ts").cast("double")
    ) / 86400.0
    terms = events.crossJoin(F.broadcast(horizon)).select(
        "user_id",
        F.round(
            F.col("value") * F.exp(-age_days / _DECAY_TAU_DAYS) * 10000
        )
        .cast("long")
        .alias("li"),
    )
    return (
        terms.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("li") / 10000.0, 4).alias("decay_score"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# q255 — item-item collaborative filtering over order baskets: cosine
# similarity on the order-incidence vectors (cos = cooc/√(n_i·n_j)) with
# the top-3 neighbours per part — the classic "customers who bought X
# also bought Y" precompute (Amazon item-to-item CF), upgrading q169's
# raw pair counts with normalisation + ranked neighbour lists.
# Parity: cooc/n_i/n_j are exact integers; the cosine is ONE double
# division of integers (no cross-row float accumulation), so the rank
# comparison is on identical doubles in both engines; ties break on
# neighbour id. 4dp round on output only.
# Scale: the pair blow-up is per-order and bounded by lines-per-order
# (≤ 13 here ⇒ ≤ 78 pairs/order) — map-side, then one partial-agg
# shuffle on the pair key; supports broadcast; the top-3 window is
# partitioned per item and gets WindowGroupLimit pushdown on Spark 4.
# --------------------------------------------------------------------------
@register(
    "q255_item_item_cf",
    oracle="""
WITH items AS (
    SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
supp AS (SELECT pk, COUNT(*) AS s FROM items GROUP BY pk),
pairs AS (
    SELECT a.pk AS pa, b.pk AS pb, COUNT(*) AS cooc
    FROM items a JOIN items b ON b.ok = a.ok AND a.pk < b.pk
    GROUP BY a.pk, b.pk
),
both_dir AS (
    SELECT pa AS item, pb AS neighbor, cooc FROM pairs
    UNION ALL
    SELECT pb AS item, pa AS neighbor, cooc FROM pairs
),
scored AS (
    SELECT d.item, d.neighbor, d.cooc,
           d.cooc / SQRT(CAST(si.s AS DOUBLE) * sj.s) AS cosine
    FROM both_dir d
    JOIN supp si ON si.pk = d.item
    JOIN supp sj ON sj.pk = d.neighbor
    WHERE d.cooc >= 2
),
ranked AS (
    SELECT item, neighbor, cooc, cosine,
           ROW_NUMBER() OVER (PARTITION BY item
                              ORDER BY cosine DESC, neighbor ASC) AS rnk
    FROM scored
)
SELECT CAST(item AS BIGINT) AS item, CAST(neighbor AS BIGINT) AS neighbor,
       CAST(cooc AS BIGINT) AS cooc, ROUND(cosine, 4) AS cosine,
       CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 3
ORDER BY item, rnk
""",
    tags=("recsys", "A5", "W2", "O4"),
)
def q255_item_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item CF neighbour lists: (item, neighbor, cooc, cosine, rnk)
    — top-3 cosine neighbours per part over order-basket co-occurrence
    (cooc ≥ 2). Exact-integer counts, one-division cosine."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    items = lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    supp = items.groupBy("pk").agg(F.count(F.lit(1)).alias("s"))
    a = items.select("ok", F.col("pk").alias("pa"))
    b = items.select("ok", F.col("pk").alias("pb"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("cooc"))
    )
    both_dir = pairs.select(
        F.col("pa").alias("item"), F.col("pb").alias("neighbor"), "cooc"
    ).unionByName(
        pairs.select(
            F.col("pb").alias("item"), F.col("pa").alias("neighbor"), "cooc"
        )
    )
    si = supp.select(F.col("pk").alias("item"), F.col("s").alias("si"))
    sj = supp.select(F.col("pk").alias("neighbor"), F.col("s").alias("sj"))
    scored = (
        both_dir.filter(F.col("cooc") >= 2)
        .join(si, "item")
        .join(sj, "neighbor")
        .select(
            "item",
            "neighbor",
            "cooc",
            (
                F.col("cooc")
                / F.sqrt(F.col("si").cast("double") * F.col("sj"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.col("cosine").desc(), F.col("neighbor").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            F.col("item").cast("long").alias("item"),
            F.col("neighbor").cast("long").alias("neighbor"),
            F.col("cooc").cast("long").alias("cooc"),
            F.round("cosine", 4).alias("cosine"),
            F.col("rnk").cast("long").alias("rnk"),
        )
        .orderBy("item", "rnk")
    )


# --------------------------------------------------------------------------
# q259 — behavioural sequence-pattern mining: each user's event history
# becomes a character string (one char per event, time-ordered) and a
# regex counts non-overlapping view→click→purchase funnels with no
# intervening purchase — the MATCH_RECOGNIZE-style pattern query, as a
# regex over materialised sequences.
# Parity: the sequence string is built from an array_sort over
# (ts, event_id, chr) structs — a total order, so both engines emit the
# identical string; regex counting is leftmost non-overlapping greedy in
# both Java regex and RE2 for this pattern class. All outputs integers.
# Scale: one groupBy(user) collecting per-user events — bounded by
# per-user history length (the same contract as sessionization); the
# regex scan is linear per user. No joins, no windows.
# --------------------------------------------------------------------------
@register(
    "q259_sequence_patterns",
    oracle="""
WITH seqs AS (
    SELECT user_id,
           COUNT(*) AS n_events,
           STRING_AGG(SUBSTR(event_type, 1, 1), ''
                      ORDER BY ts, event_id) AS seq
    FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(LEN(REGEXP_EXTRACT_ALL(seq, 'v[^p]*c[^p]*p')) AS BIGINT)
           AS n_funnels
FROM seqs
WHERE LEN(REGEXP_EXTRACT_ALL(seq, 'v[^p]*c[^p]*p')) >= 1
ORDER BY user_id
""",
    tags=("sequence", "A5", "F23"),
)
def q259_sequence_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex funnel counting over per-user event-character sequences:
    (user_id, n_events, n_funnels) for users with ≥1 non-overlapping
    view→click→purchase (no intervening purchase) match."""
    events = load_table(spark, sf_dir, "events")
    seqs = (
        events.select(
            "user_id",
            F.struct(
                F.col("ts"),
                F.col("event_id"),
                F.substring("event_type", 1, 1).alias("chr"),
            ).alias("ev"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("ev")), lambda x: x["chr"]
                ),
                "",
            ).alias("seq"),
        )
    )
    counted = seqs.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.size(F.regexp_extract_all("seq", F.lit("v[^p]*c[^p]*p"), F.lit(0)))
        .cast("long")
        .alias("n_funnels"),
    )
    return counted.filter(F.col("n_funnels") >= 1).orderBy("user_id")


# --------------------------------------------------------------------------
# q279 - next-event prediction accuracy of the Markov baseline: train the
# global argmax-next-state predictor from the q154 transition matrix and
# evaluate it in-corpus - per state, how often does the most common
# successor actually follow? The sanity floor any sequence model must
# beat before it earns its training cost.
# Parity: transitions come from the (ts, event_id)-ordered per-user walk
# (the sessionization contract); counts/argmax/hit sums are exact
# integers; hit_rate is one division, 4dp.
# Scale: one per-user window for successor pairs, one keyed aggregate to
# the bounded |states|^2 matrix, argmax over it, and one broadcast join
# back for scoring.
# --------------------------------------------------------------------------
@register(
    "q279_next_event_accuracy",
    oracle="""
WITH walk AS (
    SELECT user_id, event_type,
           LEAD(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS nxt
    FROM events
),
trans AS (
    SELECT event_type AS s, nxt AS t, CAST(COUNT(*) AS BIGINT) AS c
    FROM walk WHERE nxt IS NOT NULL
    GROUP BY event_type, nxt
),
top AS (
    SELECT s, t AS top_next
    FROM (SELECT s, t, ROW_NUMBER() OVER (PARTITION BY s
                                          ORDER BY c DESC, t ASC) AS rk
          FROM trans)
    WHERE rk = 1
)
SELECT tr.s AS state,
       CAST(SUM(tr.c) AS BIGINT) AS n_trans,
       MAX(tp.top_next) AS top_next,
       ROUND(CAST(SUM(CASE WHEN tr.t = tp.top_next THEN tr.c ELSE 0 END)
                  AS DOUBLE) / SUM(tr.c), 4) AS hit_rate
FROM trans tr JOIN top tp ON tp.s = tr.s
GROUP BY tr.s
ORDER BY state
""",
    tags=("sequence", "W2", "W3"),
)
def q279_next_event_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov argmax next-event predictor and its in-corpus accuracy:
    (state, n_trans, top_next, hit_rate)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    walk = events.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    trans = walk.groupBy(
        F.col("event_type").alias("s"), F.col("nxt").alias("t")
    ).agg(F.count(F.lit(1)).alias("c"))
    w_top = Window.partitionBy("s").orderBy(F.col("c").desc(), F.col("t").asc())
    top = (
        trans.withColumn("rk", F.row_number().over(w_top))
        .filter(F.col("rk") == 1)
        .select("s", F.col("t").alias("top_next"))
    )
    return (
        trans.join(F.broadcast(top), "s")
        .groupBy(F.col("s").alias("state"))
        .agg(
            F.sum("c").cast("long").alias("n_trans"),
            F.max("top_next").alias("top_next"),
            F.round(
                F.sum(
                    F.when(F.col("t") == F.col("top_next"), F.col("c")).otherwise(0)
                ).cast("double")
                / F.sum("c"),
                4,
            ).alias("hit_rate"),
        )
        .orderBy("state")
    )


# --------------------------------------------------------------------------
# q277 - Markov removal-effect attribution (Anderl et al. 2014): build
# the first-order journey chain per user (START -> events -> first
# purchase absorbs, otherwise END), estimate transition probabilities,
# and credit each non-conversion channel by how much total conversion
# probability disappears when walks through it are removed - the
# principled alternative to q184's heuristic multi-touch rules.
# Parity: transition probs are floor((n_st * 10^6) / n_s) integers; the
# chain recurrence (12 unrolled steps) moves floor(m * p / 10^6) integer
# mass per edge from B = 10^11 starting units, so conversion masses are
# exact integers; the oracle unrolls the identical integer algebra per
# scenario (the q267/q270 device); ratios are single double divisions,
# 4dp.
# Scale: corpus work is one per-user ordering window + one keyed count
# aggregate to the <=49-row matrix; the 5-scenario recurrence runs on
# that bounded relation (driver-side, bpe.train argmax pattern).
# --------------------------------------------------------------------------
_MK_CHANNELS = ("click", "error", "signup", "view")
_MK_ITERS = 12
_MK_B = 100_000_000_000


def _markov_oracle(n_iter: int = _MK_ITERS) -> str:
    scen = {"full": None}
    for c in _MK_CHANNELS:
        scen[c] = c
    ctes = []
    for name, removed in scen.items():
        not_in = "'purchase', '_END'" + (f", '{removed}'" if removed else "")
        ctes.append(
            f"v_{name}_0 AS MATERIALIZED (SELECT '_START' AS state,"
            f" CAST({_MK_B} AS BIGINT) AS m)"
        )
        for k in range(1, n_iter + 1):
            ctes.append(
                f"""g_{name}_{k} AS MATERIALIZED (
    SELECT CAST(COALESCE(SUM((v.m * p.p) // 1000000), 0) AS BIGINT) AS g
    FROM v_{name}_{k - 1} v JOIN p ON p.s = v.state AND p.t = 'purchase'
)"""
            )
            ctes.append(
                f"""v_{name}_{k} AS MATERIALIZED (
    SELECT p.t AS state, CAST(SUM((v.m * p.p) // 1000000) AS BIGINT) AS m
    FROM v_{name}_{k - 1} v JOIN p ON p.s = v.state
    WHERE p.t NOT IN ({not_in})
    GROUP BY p.t
)"""
            )
        gsum = " + ".join(
            f"(SELECT g FROM g_{name}_{k})" for k in range(1, n_iter + 1)
        )
        ctes.append(
            f"conv_{name} AS MATERIALIZED (SELECT CAST({gsum} AS BIGINT) AS conv)"
        )
    eff_terms = " + ".join(
        f"((SELECT conv FROM conv_full) - (SELECT conv FROM conv_{c}))"
        for c in _MK_CHANNELS
    )
    ctes.append(f"te AS (SELECT CAST({eff_terms} AS BIGINT) AS te)")
    selects = []
    for c in _MK_CHANNELS:
        selects.append(
            f"""SELECT '{c}' AS channel,
       ROUND(CAST((SELECT conv FROM conv_full) AS DOUBLE) / {_MK_B}, 4)
           AS p_full,
       ROUND(CAST((SELECT conv FROM conv_{c}) AS DOUBLE) / {_MK_B}, 4)
           AS p_removed,
       ROUND(CASE WHEN (SELECT conv FROM conv_full) > 0 THEN
           CAST((SELECT conv FROM conv_full) - (SELECT conv FROM conv_{c})
                AS DOUBLE) / (SELECT conv FROM conv_full) END, 4)
           AS removal_effect,
       ROUND(CASE WHEN (SELECT te FROM te) > 0 THEN
           CAST((SELECT conv FROM conv_full) - (SELECT conv FROM conv_{c})
                AS DOUBLE) / (SELECT te FROM te) END, 4) AS attribution"""
        )
    union = "\nUNION ALL\n".join(selects)
    joined_ctes = ",\n".join(ctes)
    return f"""
WITH walk AS MATERIALIZED (
    SELECT user_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
    FROM events
),
fp AS (
    SELECT user_id, MIN(rn) AS fp_rn FROM walk
    WHERE event_type = 'purchase' GROUP BY user_id
),
kept AS MATERIALIZED (
    SELECT w.user_id, w.event_type, w.rn
    FROM walk w LEFT JOIN fp ON fp.user_id = w.user_id
    WHERE fp.fp_rn IS NULL OR w.rn <= fp.fp_rn
),
mx AS (SELECT user_id, MAX(rn) AS mxr FROM kept GROUP BY user_id),
steps AS (
    SELECT a.event_type AS s, b.event_type AS t
    FROM kept a JOIN kept b ON b.user_id = a.user_id AND b.rn = a.rn + 1
    UNION ALL
    SELECT '_START' AS s, event_type AS t FROM kept WHERE rn = 1
    UNION ALL
    SELECT k.event_type AS s, '_END' AS t
    FROM kept k
    JOIN mx ON mx.user_id = k.user_id AND k.rn = mx.mxr
    LEFT JOIN fp ON fp.user_id = k.user_id
    WHERE fp.user_id IS NULL
),
cnt AS (SELECT s, t, CAST(COUNT(*) AS BIGINT) AS c FROM steps GROUP BY s, t),
outd AS (SELECT s, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY s),
p AS MATERIALIZED (
    SELECT c.s, c.t, CAST((c.c * 1000000) // o.n AS BIGINT) AS p
    FROM cnt c JOIN outd o ON o.s = c.s
),
{joined_ctes}
SELECT * FROM ({union})
ORDER BY channel
"""


@register(
    "q277_markov_attribution",
    oracle=_markov_oracle(),
    tags=("attribution", "W2", "J10"),
)
def q277_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Removal-effect channel attribution from the user-journey Markov
    chain: (channel, p_full, p_removed, removal_effect, attribution) -
    operators/graph.removal_effect_attribution."""
    from ..operators import graph

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    walk = events.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    )
    fp = (
        walk.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("rn").alias("fp_rn"))
    )
    kept = (
        walk.join(fp, "user_id", "left")
        .filter(F.col("fp_rn").isNull() | (F.col("rn") <= F.col("fp_rn")))
        .select("user_id", "event_type", "rn")
    )
    mx = kept.groupBy("user_id").agg(F.max("rn").alias("mxr"))
    a = kept.select("user_id", F.col("event_type").alias("s"), "rn")
    b = kept.select(
        "user_id", F.col("event_type").alias("t"), (F.col("rn") - 1).alias("rn")
    )
    internal = a.join(b, ["user_id", "rn"]).select("s", "t")
    starts = kept.filter(F.col("rn") == 1).select(
        F.lit("_START").alias("s"), F.col("event_type").alias("t")
    )
    ends = (
        kept.join(mx, "user_id")
        .filter(F.col("rn") == F.col("mxr"))
        .join(fp, "user_id", "left_anti")
        .select(F.col("event_type").alias("s"), F.lit("_END").alias("t"))
    )
    steps = internal.unionByName(starts).unionByName(ends)
    cnt = steps.groupBy("s", "t").agg(F.count(F.lit(1)).alias("c"))
    outd = cnt.groupBy("s").agg(F.sum("c").alias("n"))
    probs = cnt.join(outd, "s").select(
        "s", "t", F.expr("(c * 1000000) div n").cast("long").alias("p")
    )
    return graph.removal_effect_attribution(
        probs, channels=_MK_CHANNELS, n_iter=_MK_ITERS, B=_MK_B
    ).orderBy("channel")


# --------------------------------------------------------------------------
# q285 - recommender coverage / novelty audit of the q255 neighbour
# lists: what share of the catalogue ever gets recommended (coverage),
# how popular the recommended items are (mean self-information,
# -ln(popularity share), in nats - low = rich-get-richer lists), plus
# list-size and co-occurrence diagnostics. The offline health check that
# catches popularity collapse before an A/B does.
# Parity: the rec lists are q255's exact relation (its oracle text is
# embedded as a MATERIALIZED CTE); popularity shares and their frozen
# round(10^6 * -ln(share)) self-information are per-item integers; the
# final means divide integer sums, 4dp.
# Scale: q255's budget plus one broadcast join of the rec list to the
# per-item popularity relation and two tiny aggregates.
# --------------------------------------------------------------------------
def _q285_oracle() -> str:
    from .registry import REGISTRY as _R

    q255 = _R["q255_item_item_cf"].oracle
    return f"""
WITH recs AS MATERIALIZED ({q255}),
catalog AS (
    SELECT l_partkey AS pk, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS s
    FROM lineitem GROUP BY l_partkey
),
n_orders AS (
    SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM lineitem
),
info AS (
    SELECT c.pk,
           CAST(ROUND(1000000.0 * -LN(CAST(c.s AS DOUBLE)
                                      / (SELECT n FROM n_orders)))
                AS BIGINT) AS si
    FROM catalog c
),
per_rec AS (
    SELECT r.item, r.neighbor, r.cooc, i.si
    FROM recs r JOIN info i ON i.pk = r.neighbor
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM catalog) AS n_catalog,
       CAST(COUNT(DISTINCT neighbor) AS BIGINT) AS n_recommended,
       ROUND(CAST(COUNT(DISTINCT neighbor) AS DOUBLE)
             / (SELECT COUNT(*) FROM catalog), 4) AS coverage,
       CAST(COUNT(*) AS BIGINT) AS n_list_rows,
       ROUND(AVG(CAST(cooc AS DOUBLE)), 4) AS mean_cooc,
       ROUND(CAST(SUM(si) AS DOUBLE) / COUNT(*) / 1000000.0, 4)
           AS mean_novelty_nats
FROM per_rec
"""


@register(
    "q285_rec_coverage_novelty",
    oracle=_q285_oracle(),
    tags=("recsys", "A12", "A10"),
)
def q285_rec_coverage_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage/novelty audit of q255's item-item lists: (n_catalog,
    n_recommended, coverage, n_list_rows, mean_cooc, mean_novelty_nats)."""
    recs = q255_item_item_cf(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    catalog = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.countDistinct("l_orderkey").alias("s")
    )
    n_orders = li.agg(F.countDistinct("l_orderkey").alias("n"))
    info = catalog.crossJoin(F.broadcast(n_orders)).select(
        "pk",
        F.round(
            1000000.0
            * -F.log(F.col("s").cast("double") / F.col("n"))
        )
        .cast("long")
        .alias("si"),
    )
    per_rec = recs.join(
        info.withColumnRenamed("pk", "neighbor"), "neighbor"
    )
    n_cat = catalog.agg(F.count(F.lit(1)).alias("n_catalog"))
    return (
        per_rec.agg(
            F.countDistinct("neighbor").alias("n_recommended"),
            F.count(F.lit(1)).alias("n_list_rows"),
            F.round(F.avg(F.col("cooc").cast("double")), 4).alias("mean_cooc"),
            F.sum("si").alias("si_sum"),
        )
        .crossJoin(F.broadcast(n_cat))
        .select(
            F.col("n_catalog").cast("long").alias("n_catalog"),
            F.col("n_recommended").cast("long").alias("n_recommended"),
            F.round(
                F.col("n_recommended").cast("double") / F.col("n_catalog"), 4
            ).alias("coverage"),
            F.col("n_list_rows").cast("long").alias("n_list_rows"),
            "mean_cooc",
            F.round(
                F.col("si_sum").cast("double") / F.col("n_list_rows") / 1000000.0,
                4,
            ).alias("mean_novelty_nats"),
        )
    )


# --------------------------------------------------------------------------
# q297 - dynamic time warping between event-type series: DTW distance on
# the 10-bucket (3-day) mean-value series for every type pair, with the
# lock-step L1 distance as the baseline it improves on. DTW is the
# classic alignment-tolerant series similarity (shifted-but-same-shape
# series score close; L1 punishes the shift).
# Parity: bucket means are frozen floor(sum(100x)/n) integers, so every
# DP cell is an exact integer; the oracle unrolls the recurrence over
# the 19 anti-diagonals (each cell needs only the two previous
# diagonals - the wavefront schedule) as MATERIALIZED CTEs; the Spark
# side runs the identical integer DP driver-side over the BOUNDED
# collected series (the q277 kernel pattern - a relational wavefront
# paid a scheduler round trip per diagonal for constant-size data).
# Scale: the corpus collapses to |types| x 10 bucket means first (the
# only corpus-sized work); everything after touches <= |types| x 10
# rows. DP depth is fixed by series length, not data size.
# --------------------------------------------------------------------------
_DTW_N = 10
_DTW_BIG = 1 << 60


def _dtw_oracle(n: int = _DTW_N) -> str:
    ctes = [
        """d2 AS MATERIALIZED (
    SELECT pair, i, j, c AS d FROM cost WHERE i = 1 AND j = 1
)""",
        # diagonal 1 is out of grid - empty relation so k=3's dg join resolves
        "d1 AS (SELECT pair, i, j, d FROM d2 WHERE FALSE)",
    ]
    for k in range(3, 2 * n + 1):
        ctes.append(
            f"""d{k} AS MATERIALIZED (
    SELECT t.pair, t.i, t.j,
           t.c + LEAST(COALESCE(up.d, {_DTW_BIG}),
                       COALESCE(lf.d, {_DTW_BIG}),
                       COALESCE(dg.d, {_DTW_BIG})) AS d
    FROM cost t
    LEFT JOIN d{k - 1} up ON up.pair = t.pair AND up.i = t.i - 1 AND up.j = t.j
    LEFT JOIN d{k - 1} lf ON lf.pair = t.pair AND lf.i = t.i AND lf.j = t.j - 1
    LEFT JOIN d{k - 2} dg ON dg.pair = t.pair AND dg.i = t.i - 1
                          AND dg.j = t.j - 1
    WHERE t.i + t.j = {k}
)"""
        )
    joined = ",\n".join(ctes)
    return f"""
WITH daily AS (
    SELECT event_type,
           DATEDIFF('day', DATE '2024-01-01',
                    CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE))
               // 3 AS b,
           CAST(SUM(CAST(ROUND(100.0 * value) AS BIGINT)) // COUNT(*)
                AS BIGINT) AS x
    FROM events
    GROUP BY 1, 2
),
series0 AS (SELECT event_type, b + 1 AS i, x FROM daily WHERE b < {n}),
complete AS (
    SELECT event_type FROM series0 GROUP BY event_type
    HAVING COUNT(*) = {n}
),
series AS (
    SELECT s.* FROM series0 s JOIN complete c USING (event_type)
),
cost AS MATERIALIZED (
    SELECT a.event_type || '|' || b.event_type AS pair,
           a.i AS i, b.i AS j, ABS(a.x - b.x) AS c
    FROM series a JOIN series b ON a.event_type < b.event_type
),
lock AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(SUM(ABS(a.x - b.x)) AS BIGINT) AS l1
    FROM series a
    JOIN series b ON b.event_type > a.event_type AND b.i = a.i
    GROUP BY a.event_type, b.event_type
),
{joined}
SELECT l.type_a, l.type_b,
       ROUND(d.d / 100.0, 4) AS dtw,
       ROUND(l.l1 / 100.0, 4) AS l1_lockstep
FROM d{2 * n} d
JOIN lock l ON l.type_a || '|' || l.type_b = d.pair
ORDER BY type_a, type_b
"""


@register(
    "q297_dtw_distance",
    oracle=_dtw_oracle(),
    tags=("timeseries", "J13", "W2"),
)
def q297_dtw_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DTW vs lock-step L1 distance between every pair of event-type
    series (10 x 3-day buckets): (type_a, type_b, dtw, l1_lockstep)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.expr(
            "datediff(cast(date_trunc('day', ts) as date),"
            " cast('2024-01-01' as date)) div 3"
        ).alias("b"),
    ).agg(
        F.sum(F.round(100.0 * F.col("value")).cast("long")).alias("_s"),
        F.count(F.lit(1)).alias("_c"),
    ).select(
        "event_type", "b", F.expr("_s div _c").cast("long").alias("x")
    )
    series = daily.filter(F.col("b") < _DTW_N).select(
        "event_type", (F.col("b") + 1).alias("i"), "x"
    )
    # The DP depth is fixed (19 wavefronts) but each relational step costs
    # a scheduler round trip; the series relation is BOUNDED (|types| x 10
    # calendar buckets), so the exact-integer DP runs driver-side on the
    # collected rows instead (the q277 kernel pattern). The corpus-sized
    # work - the bucket aggregate - stays distributed.
    rows = series.collect()
    ser: dict[str, dict[int, int]] = {}
    for r in rows:
        ser.setdefault(r["event_type"], {})[r["i"]] = r["x"]
    types = sorted(t for t, m in ser.items() if len(m) == _DTW_N)
    out = []
    for ai in range(len(types)):
        for bi in range(ai + 1, len(types)):
            a = [ser[types[ai]][k] for k in range(1, _DTW_N + 1)]
            b = [ser[types[bi]][k] for k in range(1, _DTW_N + 1)]
            D = [[_DTW_BIG] * (_DTW_N + 1) for _ in range(_DTW_N + 1)]
            D[0][0] = 0
            for i in range(1, _DTW_N + 1):
                for j in range(1, _DTW_N + 1):
                    D[i][j] = abs(a[i - 1] - b[j - 1]) + min(
                        D[i - 1][j], D[i][j - 1], D[i - 1][j - 1]
                    )
            l1 = sum(abs(x - y) for x, y in zip(a, b))
            out.append((types[ai], types[bi], D[_DTW_N][_DTW_N], l1))
    return (
        spark.createDataFrame(
            out, "type_a string, type_b string, d long, l1 long"
        )
        .select(
            "type_a",
            "type_b",
            F.round(F.col("d") / 100.0, 4).alias("dtw"),
            F.round(F.col("l1") / 100.0, 4).alias("l1_lockstep"),
        )
        .orderBy("type_a", "type_b")
    )


# --------------------------------------------------------------------------
# q303 - activity-segment migration matrix: classify each user by fixed
# spend bands (summed event value: low < $1300, mid < $1900, high)
# in each month half, then the transition matrix between halves including 'new' /
# 'churned' edge states - the cohort-migration relation a retention
# dashboard is built on (q88 tracks cohorts over time; this tracks
# SEGMENT MOVEMENT between periods).
# Parity: per-half spend is an exact x100-frozen integer sum; segment
# assignment is integer thresholding on it; matrix cells and row shares
# are integers + one division, 4dp.
# Scale: two keyed per-(user, half) aggregates -> full-outer join on
# user -> one (from, to) aggregate; the matrix is bounded (4 x 4).
# --------------------------------------------------------------------------
@register(
    "q303_segment_migration",
    oracle="""
WITH perhalf AS (
    SELECT user_id,
           CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16 00:00:00'
                THEN 0 ELSE 1 END AS half,
           CAST(SUM(CAST(ROUND(100.0 * value) AS BIGINT)) AS BIGINT) AS s
    FROM events GROUP BY 1, 2
),
seg AS (
    SELECT user_id, half,
           CASE WHEN s < 130000 THEN 'low' WHEN s < 190000 THEN 'mid'
                ELSE 'high' END AS segment
    FROM perhalf
),
joined AS (
    SELECT COALESCE(a.user_id, b.user_id) AS user_id,
           COALESCE(a.segment, 'new') AS from_seg,
           COALESCE(b.segment, 'churned') AS to_seg
    FROM (SELECT * FROM seg WHERE half = 0) a
    FULL JOIN (SELECT * FROM seg WHERE half = 1) b
      ON b.user_id = a.user_id
),
cells AS (
    SELECT from_seg, to_seg, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM joined GROUP BY from_seg, to_seg
),
rows_ AS (
    SELECT from_seg, CAST(SUM(n_users) AS BIGINT) AS row_n FROM cells
    GROUP BY from_seg
)
SELECT c.from_seg, c.to_seg, c.n_users,
       ROUND(CAST(c.n_users AS DOUBLE) / r.row_n, 4) AS row_share
FROM cells c JOIN rows_ r ON r.from_seg = c.from_seg
ORDER BY c.from_seg, c.to_seg
""",
    tags=("cohort", "A6", "J8"),
)
def q303_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-to-half activity segment transition matrix:
    (from_seg, to_seg, n_users, row_share)."""
    events = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    perhalf = events.groupBy(
        "user_id", (F.col("ts") >= cut).cast("long").alias("half")
    ).agg(F.sum(F.round(100.0 * F.col("value")).cast("long")).alias("s"))
    seg = perhalf.select(
        "user_id",
        "half",
        F.when(F.col("s") < 130000, "low")
        .when(F.col("s") < 190000, "mid")
        .otherwise("high")
        .alias("segment"),
    )
    a = seg.filter(F.col("half") == 0).select(
        "user_id", F.col("segment").alias("from_seg")
    )
    b = seg.filter(F.col("half") == 1).select(
        "user_id", F.col("segment").alias("to_seg")
    )
    joined = a.join(b, "user_id", "full").select(
        F.coalesce("from_seg", F.lit("new")).alias("from_seg"),
        F.coalesce("to_seg", F.lit("churned")).alias("to_seg"),
    )
    cells = joined.groupBy("from_seg", "to_seg").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    rows_ = cells.groupBy("from_seg").agg(F.sum("n_users").alias("row_n"))
    return (
        cells.join(rows_, "from_seg")
        .select(
            "from_seg",
            "to_seg",
            F.col("n_users").cast("long").alias("n_users"),
            F.round(
                F.col("n_users").cast("double") / F.col("row_n"), 4
            ).alias("row_share"),
        )
        .orderBy("from_seg", "to_seg")
    )


# --------------------------------------------------------------------------
# q308 - greedy maximum-coverage source selection: pick 5 sources whose
# union covers the most distinct word trigrams, one greedy step at a time
# (the classic (1 - 1/e) submodular algorithm - budgeted data
# acquisition: "which 5 corpora buy the most vocabulary"). Each step is
# RELATIONAL: marginal gain = per-source count of tokens not yet
# covered (anti-join), argmax with source tie-break.
# Parity: token sets and marginal counts are exact; the oracle unrolls
# the 5 greedy steps as MATERIALIZED CTEs (the q270 device).
# Scale: the (source, token) distinct relation is the only corpus-sized
# object (one keyed distinct); each greedy step is one anti-join + one
# per-source count over it - at most 5 rounds of ``caching.iterate``,
# whose convergence test is the covered-set count, no driver state beyond
# the picked source ids.
# --------------------------------------------------------------------------
_Q308_K = 5


def _q308_oracle(k: int = _Q308_K) -> str:
    ctes = [
        "cov0 AS (SELECT DISTINCT tok FROM st WHERE FALSE)",
    ]
    for i in range(1, k + 1):
        ctes.append(
            f"""gain{i} AS MATERIALIZED (
    SELECT s.source, CAST(COUNT(*) AS BIGINT) AS gain
    FROM st s
    WHERE NOT EXISTS (SELECT 1 FROM cov{i - 1} c WHERE c.tok = s.tok)
      AND s.source NOT IN (SELECT source FROM picked{i - 1})
    GROUP BY s.source
)"""
        )
        ctes.append(
            f"""sel{i} AS MATERIALIZED (
    SELECT source, gain FROM gain{i}
    ORDER BY gain DESC, source ASC LIMIT 1
)"""
        )
        ctes.append(
            f"""picked{i} AS MATERIALIZED (
    SELECT source FROM picked{i - 1} UNION ALL SELECT source FROM sel{i}
)"""
        )
        ctes.append(
            f"""cov{i} AS MATERIALIZED (
    SELECT DISTINCT tok FROM st
    WHERE source IN (SELECT source FROM picked{i})
)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS BIGINT) AS step, source, gain AS new_tokens,"
        f" (SELECT CAST(COUNT(*) AS BIGINT) FROM cov{i}) AS covered_total"
        f" FROM sel{i}"
        for i in range(1, k + 1)
    )
    joined = ",\n".join(ctes)
    return f"""
WITH dw AS (
    SELECT source, LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '') AS w
    FROM documents
),
st AS MATERIALIZED (
    SELECT DISTINCT source, ARRAY_TO_STRING(w[i + 1 : i + 3], ' ') AS tok
    FROM dw, UNNEST(GENERATE_SERIES(0, LEN(w) - 3)) AS t(i)
    WHERE LEN(w) >= 3
),
picked0 AS (SELECT source FROM st WHERE FALSE),
{joined}
SELECT * FROM ({union})
ORDER BY step
"""


@register(
    "q308_greedy_coverage",
    oracle=_q308_oracle(),
    tags=("training-mix", "P5", "W3"),
)
def q308_greedy_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy 5-source maximum vocabulary coverage:
    (step, source, new_tokens, covered_total)."""
    from ..caching import iterate, persist_tracked

    docs = load_table(spark, sf_dir, "documents")
    w = text_analysis.tokens_raw("text")
    st = persist_tracked(
        docs.select("source", w.alias("w"))
        .filter(F.size("w") >= 3)
        .select(
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("w") - 3),
                    lambda i: F.concat_ws(" ", F.slice(F.col("w"), i + 1, 3)),
                )
            ).alias("tok"),
        )
        .distinct()
    )
    picked: list[str] = []
    out = []

    def pick(covered: DataFrame) -> bool:
        gains = (
            st.filter(~F.col("source").isin(picked) if picked else F.lit(True))
            .join(covered, "tok", "left_anti")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("gain"))
            .orderBy(F.col("gain").desc(), F.col("source").asc())
            .limit(1)
            .collect()
        )
        if gains:  # else every remaining source adds zero coverage - the
            # oracle's sel CTE goes empty at the same step
            picked.append(gains[0]["source"])
            out.append((len(picked), gains[0]["source"], gains[0]["gain"]))
        return bool(gains)

    def counted(covered: DataFrame) -> bool:
        out[-1] += (covered.count(),)
        return len(picked) == _Q308_K or not pick(covered)

    empty = st.filter(F.lit(False)).select("tok")
    if pick(empty):
        iterate(
            empty,
            lambda _: st.filter(F.col("source").isin(picked)).select("tok").distinct(),
            _Q308_K,
            until=counted,
        )
    return spark.createDataFrame(
        out, "step long, source string, new_tokens long, covered_total long"
    ).orderBy("step")


# --------------------------------------------------------------------------
# q309 - entropy rate of the user-journey Markov chain: H = -sum_s pi_s
# sum_t p(s,t) ln p(s,t), with pi the empirical state frequencies and p
# the q154/q279 transition matrix - how predictable the NEXT event is
# given the current one, in nats (0 = deterministic journeys; ln|S| =
# uniform chaos). Also reports each state's conditional entropy, giving
# the per-state predictability profile q279's argmax accuracy only
# scratches.
# Parity: transition counts are exact; each -c_st * ln(c_st / c_s) term
# is frozen to round(10^6 * term) per matrix cell before ANY cross-cell
# sum; pi weighting happens in exact integer arithmetic (term sums are
# divided by the GLOBAL transition count once at the end); 4dp.
# Scale: one per-user successor window + one keyed aggregate to the
# bounded |states|^2 matrix; everything after is algebra on it.
# --------------------------------------------------------------------------
@register(
    "q309_entropy_rate",
    oracle="""
WITH walk AS (
    SELECT user_id, event_type,
           LEAD(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS nxt
    FROM events
),
trans AS (
    SELECT event_type AS s, nxt AS t, CAST(COUNT(*) AS BIGINT) AS c
    FROM walk WHERE nxt IS NOT NULL GROUP BY event_type, nxt
),
outd AS (SELECT s, CAST(SUM(c) AS BIGINT) AS n FROM trans GROUP BY s),
terms AS (
    SELECT tr.s, o.n,
           CAST(ROUND(1000000.0 * tr.c
                      * LN(CAST(o.n AS DOUBLE) / tr.c)) AS BIGINT) AS term
    FROM trans tr JOIN outd o ON o.s = tr.s
),
per_state AS (
    SELECT s, CAST(MAX(n) AS BIGINT) AS n_out,
           CAST(SUM(term) AS BIGINT) AS tsum
    FROM terms GROUP BY s
),
tot AS (
    SELECT CAST(SUM(n_out) AS BIGINT) AS nn,
           CAST(SUM(tsum) AS BIGINT) AS all_terms
    FROM per_state
)
SELECT p.s AS state, p.n_out,
       ROUND(CAST(p.tsum AS DOUBLE) / (1000000.0 * p.n_out), 4)
           AS h_conditional,
       ROUND(CAST(t.all_terms AS DOUBLE) / (1000000.0 * t.nn), 4)
           AS entropy_rate
FROM per_state p CROSS JOIN tot t
ORDER BY state
""",
    tags=("sequence", "A12", "W2"),
)
def q309_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain entropy rate + per-state conditional entropy:
    (state, n_out, h_conditional, entropy_rate)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    walk = events.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    trans = walk.groupBy(
        F.col("event_type").alias("s"), F.col("nxt").alias("t")
    ).agg(F.count(F.lit(1)).alias("c"))
    outd = trans.groupBy("s").agg(F.sum("c").alias("n"))
    terms = trans.join(outd, "s").select(
        "s",
        "n",
        F.round(
            1000000.0
            * F.col("c")
            * F.log(F.col("n").cast("double") / F.col("c"))
        )
        .cast("long")
        .alias("term"),
    )
    per_state = terms.groupBy("s").agg(
        F.max("n").alias("n_out"), F.sum("term").alias("tsum")
    )
    tot = per_state.agg(
        F.sum("n_out").alias("nn"), F.sum("tsum").alias("all_terms")
    )
    return (
        per_state.crossJoin(F.broadcast(tot))
        .select(
            F.col("s").alias("state"),
            F.col("n_out").cast("long").alias("n_out"),
            F.round(
                F.col("tsum").cast("double") / (1000000.0 * F.col("n_out")), 4
            ).alias("h_conditional"),
            F.round(
                F.col("all_terms").cast("double") / (1000000.0 * F.col("nn")),
                4,
            ).alias("entropy_rate"),
        )
        .orderBy("state")
    )


# ---------------------------------------------------------------------------
# q351 — exact Shapley-value channel attribution: each user's coalition
# is the SET of channels (non-purchase event types) touched before their
# first purchase (all their channels for non-converters); the coalition
# value v(S) is the observed conversion rate of users whose touched-set
# is exactly S (0 for unseen coalitions, v(∅)=0); each channel's credit
# is the exact Shapley sum φ_c = Σ_{S∌c} |S|!(u−|S|−1)!/u! · (v(S∪c)−v(S))
# over ALL 2^(u−1) coalitions. The game-theoretic attribution that q184's
# first/last/linear heuristics and q277's Markov model approximate —
# tractable exactly here because the channel universe is the event-type
# dim (u ≤ a handful), so the subset lattice is 2^u rows, not 2^users.
# Parity: coalitions are bitmasks built from a rank-indexed channel dim;
# per-coalition (users, conversions) are exact integers; factorial
# weights are exact integers ≤ u!; each Shapley term is frozen to
# round(1e8·w·Δv) before the cross-coalition sum. 4dp.
# Scale: one user-keyed aggregate builds masks (shuffle on uniform
# user_id); everything after runs on the 2^u × u lattice (≤ a few
# hundred rows) with broadcast joins. Efficiency identity Σφ = v(full)
# is asserted in tests.
# ---------------------------------------------------------------------------
@register(
    "q351_shapley_attribution",
    oracle="""
WITH fp AS (
    SELECT user_id, MIN(ts) AS fpts
    FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
touched AS (
    SELECT DISTINCT e.user_id, e.event_type AS ch,
           CASE WHEN f.user_id IS NULL THEN 0 ELSE 1 END AS conv
    FROM events e LEFT JOIN fp f ON f.user_id = e.user_id
    WHERE e.event_type <> 'purchase'
      AND (f.user_id IS NULL OR e.ts < f.fpts)
),
chan AS (
    SELECT ch, CAST(ROW_NUMBER() OVER (ORDER BY ch) - 1 AS BIGINT) AS idx
    FROM (SELECT DISTINCT ch FROM touched)
),
uu AS (SELECT CAST(COUNT(*) AS BIGINT) AS u,
              CAST(1 AS BIGINT) << COUNT(*) AS tu
       FROM chan),
umask AS (
    SELECT t.user_id, MAX(t.conv) AS conv,
           CAST(SUM(CAST(1 AS BIGINT) << c.idx) AS BIGINT) AS mask
    FROM touched t JOIN chan c ON c.ch = t.ch
    GROUP BY t.user_id
),
vm AS (
    SELECT mask, CAST(COUNT(*) AS BIGINT) AS nu,
           CAST(SUM(conv) AS BIGINT) AS nc
    FROM umask GROUP BY mask
),
masks AS (
    SELECT UNNEST(RANGE(0, (SELECT tu FROM uu))) AS m
),
terms AS (
    SELECT c.ch, c.idx,
           CAST(ROUND(100000000.0
               * (CAST(FACTORIAL(CAST(BIT_COUNT(m.m) AS INTEGER)) AS DOUBLE)
                  * FACTORIAL(CAST(u.u - BIT_COUNT(m.m) - 1 AS INTEGER))
                  / FACTORIAL(CAST(u.u AS INTEGER)))
               * (COALESCE(CAST(vc.nc AS DOUBLE) / vc.nu, 0.0)
                  - COALESCE(CAST(vs.nc AS DOUBLE) / vs.nu, 0.0)))
               AS BIGINT) AS term
    FROM masks m
    CROSS JOIN uu u
    JOIN chan c ON (m.m & (CAST(1 AS BIGINT) << c.idx)) = 0
    LEFT JOIN vm vs ON vs.mask = m.m AND m.m > 0
    LEFT JOIN vm vc ON vc.mask = m.m + (CAST(1 AS BIGINT) << c.idx)
),
touch_n AS (
    SELECT c.ch, CAST(COUNT(*) AS BIGINT) AS n_touched
    FROM umask um JOIN chan c
      ON (um.mask & (CAST(1 AS BIGINT) << c.idx)) <> 0
    GROUP BY c.ch
)
SELECT t.ch AS channel, tn.n_touched,
       ROUND(CAST(SUM(t.term) AS BIGINT) / 100000000.0, 4) AS phi
FROM terms t JOIN touch_n tn ON tn.ch = t.ch
GROUP BY t.ch, tn.n_touched
ORDER BY channel
""",
    tags=("attribution", "A12", "W2"),
)
def q351_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley channel attribution over pre-purchase touch sets:
    (channel, n_touched, phi)."""
    events = load_table(spark, sf_dir, "events")
    fp = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fpts"))
    )
    touched = (
        events.filter(F.col("event_type") != "purchase")
        .join(fp, "user_id", "left")
        .filter(F.col("fpts").isNull() | (F.col("ts") < F.col("fpts")))
        .select(
            "user_id",
            F.col("event_type").alias("ch"),
            F.col("fpts").isNotNull().cast("long").alias("conv"),
        )
        .distinct()
    )
    # bounded dim (≤ #event types): the global rank window is fine here
    chan = (
        touched.select("ch")
        .distinct()
        .select(
            "ch",
            (F.row_number().over(Window.orderBy("ch")) - 1)
            .cast("long")
            .alias("idx"),
        )
    )
    uu = chan.agg(
        F.count(F.lit(1)).cast("long").alias("u"),
        F.expr("CAST(1 AS BIGINT) << COUNT(*)").cast("long").alias("tu"),
    )
    umask = (
        touched.join(F.broadcast(chan), "ch")
        .groupBy("user_id")
        .agg(
            F.max("conv").alias("conv"),
            F.sum(F.expr("CAST(1 AS BIGINT) << idx")).alias("mask"),
        )
    )
    vm = umask.groupBy("mask").agg(
        F.count(F.lit(1)).alias("nu"),
        F.sum("conv").cast("long").alias("nc"),
    )
    masks = uu.select(
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("tu") - 1)).alias(
            "m"
        )
    )
    vs = vm.select(
        F.col("mask").alias("s_mask"),
        F.col("nu").alias("s_nu"),
        F.col("nc").alias("s_nc"),
    )
    vc = vm.select(
        F.col("mask").alias("c_mask"),
        F.col("nu").alias("c_nu"),
        F.col("nc").alias("c_nc"),
    )
    terms = (
        masks.crossJoin(F.broadcast(uu))
        .join(
            F.broadcast(chan),
            F.expr("(m & (CAST(1 AS BIGINT) << idx)) = 0"),
        )
        .join(
            F.broadcast(vs),
            (F.col("s_mask") == F.col("m")) & (F.col("m") > 0),
            "left",
        )
        .join(
            F.broadcast(vc),
            F.col("c_mask")
            == F.col("m") + F.expr("CAST(1 AS BIGINT) << idx"),
            "left",
        )
        .select(
            "ch",
            F.round(
                100000000.0
                * (
                    F.factorial(F.bit_count("m")).cast("double")
                    * F.factorial(
                        (F.col("u") - F.bit_count("m") - 1).cast("int")
                    )
                    / F.factorial(F.col("u").cast("int"))
                )
                * (
                    F.coalesce(
                        F.col("c_nc").cast("double") / F.col("c_nu"),
                        F.lit(0.0),
                    )
                    - F.coalesce(
                        F.col("s_nc").cast("double") / F.col("s_nu"),
                        F.lit(0.0),
                    )
                )
            )
            .cast("long")
            .alias("term"),
        )
    )
    touch_n = (
        umask.join(
            F.broadcast(chan),
            F.expr("(mask & (CAST(1 AS BIGINT) << idx)) <> 0"),
        )
        .groupBy("ch")
        .agg(F.count(F.lit(1)).alias("n_touched"))
    )
    return (
        terms.groupBy("ch")
        .agg(
            F.round(F.sum("term").cast("long") / 100000000.0, 4).alias("phi")
        )
        .join(F.broadcast(touch_n), "ch")
        .select(
            F.col("ch").alias("channel"),
            F.col("n_touched").cast("long").alias("n_touched"),
            "phi",
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# q374 — session-gap parameter sweep: sessionize every user's event
# stream under FOUR candidate inactivity gaps (60s, 300s, 1800s, 7200s)
# in one job and report, per gap, the session count, mean events per
# session, and the median/max session duration — the relation consulted
# before committing q22/q134's 30-minute constant ("how sensitive is our
# session definition to the gap"). Sessions per gap: a session starts
# where the same-user inter-event delta exceeds the gap; the session id
# is the running count of starts (q189's islands construction,
# parameterized).
# Parity: timestamps reduce to exact epoch seconds; deltas/flags/ids are
# integer window algebra; durations are integer seconds; the median of
# integers is an exact multiple of 0.5 on both engines. 4dp.
# Scale: one 4× gap explode of the events relation; all windows
# partition by (gap, user) — uniform keys, never global; per-session
# reduce is keyed by (gap, user, session).
# ---------------------------------------------------------------------------
_GAPS = (60, 300, 1800, 7200)


@register(
    "q374_session_gap_sweep",
    oracle=f"""
WITH ev AS (
    SELECT user_id,
           CAST(FLOOR(EPOCH(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec
    FROM events
),
g AS (
    SELECT e.user_id, e.sec, gap.gap
    FROM ev e CROSS JOIN (SELECT UNNEST([{", ".join(str(g) for g in _GAPS)}]) AS gap) gap
),
flagged AS (
    SELECT user_id, gap, sec,
           CASE WHEN sec - LAG(sec) OVER (PARTITION BY gap, user_id
                                          ORDER BY sec) > gap
                     OR LAG(sec) OVER (PARTITION BY gap, user_id
                                       ORDER BY sec) IS NULL
                THEN 1 ELSE 0 END AS start
    FROM g
),
sess AS (
    SELECT user_id, gap, sec,
           CAST(SUM(start) OVER (PARTITION BY gap, user_id ORDER BY sec
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
    FROM flagged
),
per_sess AS (
    SELECT gap, user_id, sid, CAST(COUNT(*) AS BIGINT) AS n_ev,
           CAST(MAX(sec) - MIN(sec) AS BIGINT) AS dur
    FROM sess GROUP BY gap, user_id, sid
)
SELECT CAST(gap AS BIGINT) AS gap_sec,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       ROUND(CAST(SUM(n_ev) AS DOUBLE) / COUNT(*), 4) AS mean_events,
       ROUND(QUANTILE_CONT(CAST(dur AS DOUBLE), 0.5), 4)
           AS p50_duration_sec,
       CAST(MAX(dur) AS BIGINT) AS max_duration_sec
FROM per_sess GROUP BY gap ORDER BY gap_sec
""",
    tags=("sessionization", "capacity", "W2"),
)
def q374_session_gap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session statistics under four candidate inactivity gaps:
    (gap_sec, n_sessions, mean_events, p50_duration_sec,
    max_duration_sec)."""
    events = load_table(spark, sf_dir, "events")
    ev = events.select(
        "user_id", F.unix_timestamp("ts").alias("sec")
    )
    g = ev.select(
        "user_id",
        "sec",
        F.explode(F.array(*[F.lit(x) for x in _GAPS])).alias("gap"),
    )
    w = Window.partitionBy("gap", "user_id").orderBy("sec")
    flagged = g.select(
        "user_id",
        "gap",
        "sec",
        F.when(
            (F.col("sec") - F.lag("sec").over(w) > F.col("gap"))
            | F.lag("sec").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("start"),
    )
    sess = flagged.select(
        "user_id",
        "gap",
        "sec",
        F.sum("start")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("sid"),
    )
    per_sess = sess.groupBy("gap", "user_id", "sid").agg(
        F.count(F.lit(1)).alias("n_ev"),
        (F.max("sec") - F.min("sec")).cast("long").alias("dur"),
    )
    return (
        per_sess.groupBy("gap")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.round(
                F.sum("n_ev").cast("double") / F.count(F.lit(1)), 4
            ).alias("mean_events"),
            F.round(
                F.expr("percentile(CAST(dur AS DOUBLE), 0.5)"), 4
            ).alias("p50_duration_sec"),
            F.max("dur").cast("long").alias("max_duration_sec"),
        )
        .select(
            F.col("gap").cast("long").alias("gap_sec"),
            F.col("n_sessions").cast("long").alias("n_sessions"),
            "mean_events",
            "p50_duration_sec",
            "max_duration_sec",
        )
        .orderBy("gap_sec")
    )


# ---------------------------------------------------------------------------
# q376 — frequent itemsets via distributed FP-Growth (spark.ml): baskets
# are each user-day's distinct event-type set; report every itemset of
# size ≥ 2 with support ≥ 5% of baskets. FP-Growth's OUTPUT is an exact
# function of (baskets, minSupport) — the algorithm is approximate in
# nothing — so unlike the gradient-descent models (q41, rows-only) this
# MLlib pipeline hash-matches a pure-SQL oracle: with the item universe
# being the bounded event-type dim, the oracle enumerates all subsets
# via the q351 bitmask lattice and counts basket containment directly.
# Parity: itemsets are canonicalized to a sorted comma-joined string;
# supports are exact integer counts. 4dp rate.
# Scale: FP-Growth shards baskets and mines conditional FP-trees per
# partition (the parallel-FP design) — no candidate-generation blowup;
# basket building is one (user, day) distinct + collect_set keyed by
# uniform user-day keys.
# ---------------------------------------------------------------------------
_FPG_MINSUP = 0.05


@register(
    "q376_fpgrowth_itemsets",
    oracle=f"""
WITH items AS (
    SELECT DISTINCT user_id,
           CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
           event_type
    FROM events
),
chan AS (
    SELECT event_type,
           CAST(ROW_NUMBER() OVER (ORDER BY event_type) - 1 AS BIGINT)
               AS idx
    FROM (SELECT DISTINCT event_type FROM items)
),
baskets AS (
    SELECT i.user_id, i.day,
           CAST(SUM(CAST(1 AS BIGINT) << c.idx) AS BIGINT) AS mask
    FROM items i JOIN chan c ON c.event_type = i.event_type
    GROUP BY i.user_id, i.day
),
nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM baskets),
uu AS (SELECT CAST(1 AS BIGINT) << COUNT(*) AS tu FROM chan),
masks AS (SELECT UNNEST(RANGE(1, (SELECT tu FROM uu))) AS m),
sup AS (
    SELECT m.m, CAST(COUNT(*) AS BIGINT) AS sup
    FROM masks m JOIN baskets b ON (b.mask & m.m) = m.m
    GROUP BY m.m
),
named AS (
    SELECT s.m, s.sup,
           STRING_AGG(c.event_type, ',' ORDER BY c.event_type) AS itemset,
           CAST(COUNT(*) AS BIGINT) AS sz
    FROM sup s JOIN chan c ON (s.m & (CAST(1 AS BIGINT) << c.idx)) <> 0
    GROUP BY s.m, s.sup
)
SELECT n.itemset, n.sz AS n_items, n.sup AS support,
       ROUND(CAST(n.sup AS DOUBLE) / b.n, 4) AS support_rate
FROM named n CROSS JOIN nb b
WHERE n.sz >= 2 AND CAST(n.sup AS DOUBLE) / b.n >= {_FPG_MINSUP}
ORDER BY itemset
""",
    tags=("ml-prep", "A4", "A5"),
)
def q376_fpgrowth_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent event-type itemsets (size ≥ 2, support ≥ 5%) mined with
    spark.ml FP-Growth over user-day baskets:
    (itemset, n_items, support, support_rate)."""
    from pyspark.ml.fpm import FPGrowth

    events = load_table(spark, sf_dir, "events")
    baskets = (
        events.select(
            "user_id",
            F.date_trunc("day", "ts").cast("date").alias("day"),
            "event_type",
        )
        .distinct()
        .groupBy("user_id", "day")
        .agg(F.collect_set("event_type").alias("items"))
    )
    nb = baskets.count()
    model = FPGrowth(
        itemsCol="items", minSupport=_FPG_MINSUP, minConfidence=0.1
    ).fit(baskets)
    freq = model.freqItemsets  # (items array<string>, freq long)
    return (
        freq.filter(F.size("items") >= 2)
        .select(
            F.array_join(F.array_sort("items"), ",").alias("itemset"),
            F.size("items").cast("long").alias("n_items"),
            F.col("freq").cast("long").alias("support"),
            F.round(F.col("freq").cast("double") / nb, 4).alias(
                "support_rate"
            ),
        )
        .orderBy("itemset")
    )


# ---------------------------------------------------------------------------
# q375 — ALS implicit-feedback recommender (spark.ml): factorize the
# customer × part purchase-count matrix (rank 8, implicitPrefs, fixed
# seed) and emit each customer's top-2 parts by predicted preference,
# excluding parts already purchased (the part dim is large, so unseen
# items exist at every SF — an event-type item dim saturates). Covers the
# distributed-recommender surface next to the item-item CF twin (q255,
# relational cosine): ALS is the shape that survives when the item dim
# stops being enumerable. ROWS-ONLY by design (q41's contract): least-
# squares factor values depend on float reduction order across
# partitions, so exact values are not engine-portable — the pytest
# floor pins schema, coverage, exclusion, and recommendation sanity
# instead.
# Scale: ALS shuffles by user/item blocks (the standard block
# factorization); recommendForAllUsers is a rank-4 broadcast matmul —
# item dim is tiny here, user dim shards.
# ---------------------------------------------------------------------------
@register(
    "q375_als_recommend",
    oracle=None,  # non-portable float fixpoint — rows-only by design
    tags=("ml-recsys", "iterative"),
)
def q375_als_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 unseen part recommendations per customer from implicit ALS
    over order history: (c_custkey, l_partkey, rank)."""
    from pyspark.ml.recommendation import ALS

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    inter = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("o_custkey").cast("int").alias("cust"),
            F.col("l_partkey").cast("int").alias("part"),
        )
        .agg(F.count(F.lit(1)).cast("float").alias("strength"))
    )
    als = ALS(
        rank=8,
        maxIter=5,
        seed=7,
        implicitPrefs=True,
        userCol="cust",
        itemCol="part",
        ratingCol="strength",
        coldStartStrategy="drop",
    )
    model = als.fit(inter)
    recs = model.recommendForAllUsers(10).select(
        "cust", F.explode("recommendations").alias("r")
    ).select("cust", F.col("r.part").alias("part"))
    seen = inter.select("cust", "part")
    unseen = recs.join(seen, ["cust", "part"], "left_anti")
    w = Window.partitionBy("cust").orderBy("part")
    # rank by part id among the ALS-surfaced unseen items: the SET of
    # surfaced items is stable far beyond their float scores, and a
    # deterministic secondary order keeps the rows-only check stable
    # across runs of the same build.
    return (
        unseen.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 2)
        .select(
            F.col("cust").cast("long").alias("c_custkey"),
            F.col("part").cast("long").alias("l_partkey"),
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("c_custkey", "rank")
    )


# ---------------------------------------------------------------------------
# q384 — event-sequence sanity audit: per ordering rule, how many users
# violate it — purchase before ever clicking, signup after already
# purchasing, error-only activity, purchase without any view. The
# event-log DQ gate that catches instrumentation bugs (a funnel read
# like q87/q355 silently absorbs these; this surfaces them) — the
# sequence-level complement of q96's row-level audit.
# Parity: per-user min timestamps and type sets are exact aggregates;
# every rule is a boolean over them; counts exact, rates 4dp.
# Scale: ONE user-keyed conditional aggregate computes all per-user
# min-ts/type facts; the four rules evaluate on that relation; output
# unpivots from a 1-row total.
# ---------------------------------------------------------------------------
@register(
    "q384_sequence_sanity",
    oracle="""
WITH per_user AS (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'click' THEN ts END) AS c0,
           MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS p0,
           MIN(CASE WHEN event_type = 'signup' THEN ts END) AS s0,
           MIN(CASE WHEN event_type = 'view' THEN ts END) AS v0,
           CAST(COUNT(*) AS BIGINT) AS n_ev,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_err
    FROM events GROUP BY user_id
),
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN p0 IS NOT NULL
                          AND (c0 IS NULL OR p0 < c0)
                     THEN 1 ELSE 0 END) AS BIGINT) AS v_pbc,
           CAST(SUM(CASE WHEN s0 IS NOT NULL AND p0 IS NOT NULL
                          AND s0 > p0
                     THEN 1 ELSE 0 END) AS BIGINT) AS v_sap,
           CAST(SUM(CASE WHEN n_err = n_ev THEN 1 ELSE 0 END) AS BIGINT)
               AS v_eo,
           CAST(SUM(CASE WHEN p0 IS NOT NULL AND v0 IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS v_pwv
    FROM per_user
)
SELECT r.rule, r.n_violations, t.n_users,
       ROUND(CAST(r.n_violations AS DOUBLE) / t.n_users, 4) AS rate
FROM tot t,
LATERAL (
    SELECT 'purchase_before_click' AS rule, t.v_pbc AS n_violations
    UNION ALL SELECT 'signup_after_purchase', t.v_sap
    UNION ALL SELECT 'error_only_user', t.v_eo
    UNION ALL SELECT 'purchase_without_view', t.v_pwv
) r
ORDER BY rule
""",
    tags=("quality", "P1", "A2"),
)
def q384_sequence_sanity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordering-rule violation counts over user event sequences:
    (rule, n_violations, n_users, rate)."""
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
            "c0"
        ),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("p0"),
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "s0"
        ),
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "v0"
        ),
        F.count(F.lit(1)).alias("n_ev"),
        F.sum(
            (F.col("event_type") == "error").cast("long")
        ).alias("n_err"),
    )
    tot = per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(
            (
                F.col("p0").isNotNull()
                & (F.col("c0").isNull() | (F.col("p0") < F.col("c0")))
            ).cast("long")
        ).alias("v_pbc"),
        F.sum(
            (
                F.col("s0").isNotNull()
                & F.col("p0").isNotNull()
                & (F.col("s0") > F.col("p0"))
            ).cast("long")
        ).alias("v_sap"),
        F.sum((F.col("n_err") == F.col("n_ev")).cast("long")).alias(
            "v_eo"
        ),
        F.sum(
            (F.col("p0").isNotNull() & F.col("v0").isNull()).cast("long")
        ).alias("v_pwv"),
    )
    out = None
    for rule, col in (
        ("purchase_before_click", "v_pbc"),
        ("signup_after_purchase", "v_sap"),
        ("error_only_user", "v_eo"),
        ("purchase_without_view", "v_pwv"),
    ):
        r = tot.select(
            F.lit(rule).alias("rule"),
            F.col(col).cast("long").alias("n_violations"),
            F.col("n_users").cast("long").alias("n_users"),
            F.round(
                F.col(col).cast("double") / F.col("n_users"), 4
            ).alias("rate"),
        )
        out = r if out is None else out.unionByName(r)
    return out.orderBy("rule")


# ---------------------------------------------------------------------------
# q385 — LTV cohort curves: users are cohorted by first-activity week;
# per (cohort, weeks-since-first-activity), the cumulative purchase
# value PER COHORT USER — the lifetime-value read that q88's retention
# (activity yes/no) doesn't price. Ages with no purchases still emit
# (zero increment) via the cohort × age grid so every curve is complete
# and monotone.
# Parity: cohort/age are integer week arithmetic on epoch days; values
# are frozen to cents per event and integer-summed; the running
# cumulative is a cohort-partitioned ordered window over the bounded
# age range; per-user normalization is one double. 4dp.
# Scale: one user-keyed min aggregate (cohort assignment, broadcast
# back), one (cohort, age) keyed aggregate, windows partitioned by
# cohort over calendar-bounded ages.
# ---------------------------------------------------------------------------
@register(
    "q385_ltv_cohort",
    oracle="""
WITH firsts AS (
    SELECT user_id, MIN(CAST(FLOOR(EPOCH(CAST(ts AS TIMESTAMP))
                                   / 604800) AS BIGINT)) AS cw
    FROM events GROUP BY user_id
),
cohort_n AS (
    SELECT cw, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM firsts GROUP BY cw
),
purchases AS (
    SELECT f.cw,
           CAST(FLOOR(EPOCH(CAST(e.ts AS TIMESTAMP)) / 604800) AS BIGINT)
               - f.cw AS age_w,
           CAST(ROUND(100.0 * e.value) AS BIGINT) AS cents
    FROM events e JOIN firsts f ON f.user_id = e.user_id
    WHERE e.event_type = 'purchase'
),
ages AS (SELECT DISTINCT age_w FROM purchases
         UNION SELECT 0 AS age_w),
grid AS (
    SELECT c.cw, a.age_w FROM cohort_n c CROSS JOIN ages a
),
inc AS (
    SELECT g.cw, g.age_w,
           CAST(COALESCE(SUM(p.cents), 0) AS BIGINT) AS cents
    FROM grid g
    LEFT JOIN purchases p ON p.cw = g.cw AND p.age_w = g.age_w
    GROUP BY g.cw, g.age_w
),
cum AS (
    SELECT cw, age_w,
           CAST(SUM(cents) OVER (PARTITION BY cw ORDER BY age_w
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
    FROM inc
)
SELECT c.cw - (SELECT MIN(cw) FROM cohort_n) AS cohort,
       c.age_w AS age_weeks, n.n_users,
       ROUND(c.cum_cents / 100.0, 4) AS cum_value,
       ROUND(c.cum_cents / 100.0 / n.n_users, 4) AS ltv_per_user
FROM cum c JOIN cohort_n n ON n.cw = c.cw
WHERE c.age_w >= 0
ORDER BY cohort, age_weeks
""",
    tags=("analytics", "A2", "W2"),
)
def q385_ltv_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative purchase value per cohort user by age week:
    (cohort, age_weeks, n_users, cum_value, ltv_per_user)."""
    events = load_table(spark, sf_dir, "events")
    week = (F.unix_timestamp("ts") / 604800).cast("long")
    firsts = events.groupBy("user_id").agg(F.min(week).alias("cw"))
    cohort_n = firsts.groupBy("cw").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .select(
            "cw",
            (week - F.col("cw")).alias("age_w"),
            F.round(100.0 * F.col("value")).cast("long").alias("cents"),
        )
    )
    ages = purchases.select("age_w").union(
        purchases.sparkSession.createDataFrame([(0,)], "age_w long")
    ).distinct()
    grid = cohort_n.select("cw").crossJoin(F.broadcast(ages))
    inc = (
        grid.join(purchases, ["cw", "age_w"], "left")
        .groupBy("cw", "age_w")
        .agg(F.coalesce(F.sum("cents"), F.lit(0)).cast("long").alias("cents"))
    )
    wc = Window.partitionBy("cw").orderBy("age_w").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = inc.select(
        "cw",
        "age_w",
        F.sum("cents").over(wc).cast("long").alias("cum_cents"),
    )
    min_cw = cohort_n.agg(F.min("cw").alias("min_cw"))
    return (
        cum.join(F.broadcast(cohort_n), "cw")
        .crossJoin(F.broadcast(min_cw))
        .filter(F.col("age_w") >= 0)
        .select(
            (F.col("cw") - F.col("min_cw")).cast("long").alias("cohort"),
            F.col("age_w").cast("long").alias("age_weeks"),
            F.col("n_users").cast("long").alias("n_users"),
            F.round(F.col("cum_cents") / 100.0, 4).alias("cum_value"),
            F.round(
                F.col("cum_cents") / 100.0 / F.col("n_users"), 4
            ).alias("ltv_per_user"),
        )
        .orderBy("cohort", "age_weeks")
    )


# ---------------------------------------------------------------------------
# q389 — stationary distribution of the user-journey Markov chain: the
# row-normalized event-type transition matrix (q154's relation), iterated
# π' = πP for 6 frozen-integer rounds from the uniform start, next to
# the EMPIRICAL long-run state mix — "where do user journeys spend their
# time at equilibrium, and does the chain model match reality". The
# dynamics companion to q154 (one-step) and q309 (entropy rate).
# Parity: transition counts are exact; each iterate freezes every
# π_j = Σ_i round(π_i·c_ij/r_i) to micro-ints before the next round
# (the q347 damped-iteration discipline, undamped here since the chain
# is finite and irreducible over observed types); the empirical mix is
# exact counts. 4dp.
# Scale: the chain lives on the bounded type dim (k ≤ a handful): the
# per-user transition extraction is the only corpus-scale pass (q154's
# lag window on uniform user keys); iterations run on k² rows.
# ---------------------------------------------------------------------------
_MSTAT_ITERS = 6


def _mstat_ctes() -> str:
    parts = [
        "pi0 AS (SELECT idx AS j, CAST(ROUND(1000000.0 / (SELECT k FROM kk))"
        " AS BIGINT) AS p FROM chan)"
    ]
    for i in range(1, _MSTAT_ITERS + 1):
        parts.append(f"""pi{i} AS (
    SELECT t.j_to AS j,
           CAST(SUM(CAST(ROUND(CAST(p.p AS DOUBLE) * t.c / t.r)
                         AS BIGINT)) AS BIGINT) AS p
    FROM trans t JOIN pi{i - 1} p ON p.j = t.j_from
    GROUP BY t.j_to
)""")
    return ",\n".join(parts)


@register(
    "q389_markov_stationary",
    oracle=f"""
WITH seq AS (
    SELECT user_id, event_type, ts, event_id,
           LEAD(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS nxt
    FROM events
),
chan AS (
    SELECT event_type AS et,
           CAST(ROW_NUMBER() OVER (ORDER BY event_type) - 1 AS BIGINT)
               AS idx
    FROM (SELECT DISTINCT event_type FROM events)
),
kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM chan),
counts AS (
    SELECT cf.idx AS j_from, ct.idx AS j_to,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM seq s
    JOIN chan cf ON cf.et = s.event_type
    JOIN chan ct ON ct.et = s.nxt
    WHERE s.nxt IS NOT NULL
    GROUP BY cf.idx, ct.idx
),
rowsum AS (
    SELECT j_from, CAST(SUM(c) AS BIGINT) AS r FROM counts GROUP BY j_from
),
trans AS (
    SELECT c.j_from, c.j_to, c.c, r.r
    FROM counts c JOIN rowsum r ON r.j_from = c.j_from
),
emp AS (
    SELECT cf.idx AS j, CAST(COUNT(*) AS BIGINT) AS n
    FROM events e JOIN chan cf ON cf.et = e.event_type
    GROUP BY cf.idx
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM emp),
{_mstat_ctes()}
SELECT ch.et AS event_type,
       ROUND(pi.p / 1000000.0, 4) AS stationary_pi,
       ROUND(CAST(e.n AS DOUBLE) / t.nn, 4) AS empirical_share,
       ROUND(ABS(pi.p / 1000000.0 - CAST(e.n AS DOUBLE) / t.nn), 4)
           AS abs_gap
FROM pi{_MSTAT_ITERS} pi
JOIN chan ch ON ch.idx = pi.j
JOIN emp e ON e.j = pi.j
CROSS JOIN tot t
ORDER BY event_type
""",
    tags=("graph", "timeseries", "A6"),
)
def q389_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six frozen power-iteration rounds of the journey transition
    matrix vs the empirical state mix:
    (event_type, stationary_pi, empirical_share, abs_gap)."""
    events = load_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lead("event_type").over(wu).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    chan = (
        events.select(F.col("event_type").alias("et"))
        .distinct()
        .select(
            "et",
            (F.row_number().over(Window.orderBy("et")) - 1)
            .cast("long")
            .alias("idx"),
        )
    )
    kk = chan.agg(F.count(F.lit(1)).alias("k"))
    counts = (
        seq.join(
            F.broadcast(chan.select(F.col("et"), F.col("idx").alias("j_from"))),
            F.col("et") == F.col("event_type"),
        )
        .drop("et")
        .join(
            F.broadcast(
                chan.select(F.col("et"), F.col("idx").alias("j_to"))
            ),
            F.col("et") == F.col("nxt"),
        )
        .groupBy("j_from", "j_to")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rowsum = counts.groupBy("j_from").agg(F.sum("c").alias("r"))
    trans = counts.join(rowsum, "j_from")
    from ..caching import persist_tracked

    trans = persist_tracked(trans)
    pi = chan.crossJoin(F.broadcast(kk)).select(
        F.col("idx").alias("j"),
        F.round(1000000.0 / F.col("k")).cast("long").alias("p"),
    )
    for _ in range(_MSTAT_ITERS):
        pi = (
            trans.join(pi.withColumnRenamed("j", "j_from"), "j_from")
            .select(
                F.col("j_to").alias("j"),
                F.round(
                    F.col("p").cast("double") * F.col("c") / F.col("r")
                )
                .cast("long")
                .alias("contrib"),
            )
            .groupBy("j")
            .agg(F.sum("contrib").cast("long").alias("p"))
        )
    emp = (
        events.join(
            F.broadcast(chan), F.col("et") == F.col("event_type")
        )
        .groupBy(F.col("idx").alias("j"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = emp.agg(F.sum("n").alias("nn"))
    return (
        pi.join(
            F.broadcast(chan.select(F.col("idx").alias("j"), "et")), "j"
        )
        .join(F.broadcast(emp), "j")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("et").alias("event_type"),
            F.round(F.col("p") / 1000000.0, 4).alias("stationary_pi"),
            F.round(
                F.col("n").cast("double") / F.col("nn"), 4
            ).alias("empirical_share"),
            F.round(
                F.abs(
                    F.col("p") / 1000000.0
                    - F.col("n").cast("double") / F.col("nn")
                ),
                4,
            ).alias("abs_gap"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q412 - daily bounce rate: the share of sessions (30-minute-gap
# sessionization, q22's rule) that contain exactly ONE event, per
# session-start day - the engagement-quality pulse next to q398's
# stickiness (users showing up) and q22's per-user session profile.
# Parity: sessionization is the q22 lag rule on truncated-second
# epochs; counts exact; the rate is one double ratio. 4dp.
# Scale: one user-keyed session window pass (uniform user keys), one
# (user, session) aggregate, one day rollup.
# --------------------------------------------------------------------------
@register(
    "q412_bounce_rate",
    oracle="""
WITH ordered AS (
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
),
flagged AS (
    SELECT user_id, event_id, ts,
           CASE WHEN LAG(ts) OVER w IS NULL
                  OR CAST(EPOCH(DATE_TRUNC('second', ts)) AS BIGINT)
                     - CAST(EPOCH(DATE_TRUNC('second', LAG(ts) OVER w))
                            AS BIGINT) > 1800
                THEN 1 ELSE 0 END AS new_sess
    FROM ordered
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT user_id, ts,
           SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
    FROM flagged
),
per AS (
    SELECT user_id, session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(DATE_TRUNC('day', MIN(ts)) AS DATE) AS start_day
    FROM sess GROUP BY user_id, session_id
)
SELECT CAST(start_day AS VARCHAR) AS day,
       CAST(COUNT(*) AS BIGINT) AS sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS bounces,
       ROUND(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 4) AS bounce_rate
FROM per GROUP BY start_day ORDER BY day
""",
    tags=("engagement", "streaming-session", "A5"),
)
def q412_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily session bounce rate: (day, sessions, bounces, bounce_rate)."""
    events = load_table(spark, sf_dir, "events")
    sess = windows.sessionize(events, gap_minutes=30)
    per = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_trunc("day", F.min("ts")).cast("date").alias("start_day"),
    )
    return (
        per.groupBy("start_day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("sessions"),
            F.sum((F.col("n_events") == 1).cast("long"))
            .cast("long")
            .alias("bounces"),
            F.round(
                F.sum((F.col("n_events") == 1).cast("long")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("bounce_rate"),
        )
        .select(
            F.date_format("start_day", "yyyy-MM-dd").alias("day"),
            "sessions",
            "bounces",
            "bounce_rate",
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# q414 - per-user behavioral surprisal under the global event-type
# transition model: score each user's event sequence by the mean
# negative log-probability of its transitions under q154's corpus
# transition matrix, and flag users more than 2 population standard
# deviations ABOVE the mean - the bot/anomaly read (too-predictable
# users score LOW; users jumping between rare transitions score HIGH).
# q154 builds the matrix, q309 reports the corpus entropy rate; this
# attributes the model back to individual users.
# Parity: transition probabilities are exact count ratios; each
# transition's surprisal is frozen to integer micro-nats
# (round(1e6 * -ln(p))) before ALL sums, so per-user means and the
# population moments are exact-integer arithmetic; the z comparison
# happens on round(1e4 * z). 4dp.
# Scale: one user-keyed lag window (uniform user keys, q154's plan) ->
# one (prev, next) count aggregate (k^2 rows, broadcast back) -> one
# user rollup -> one 1-row moment broadcast. No corpus sort.
# --------------------------------------------------------------------------
@register(
    "q414_user_surprisal",
    oracle="""
WITH ev AS (
    SELECT user_id, event_type,
           LAG(event_type) OVER (PARTITION BY user_id
                                 ORDER BY CAST(ts AS TIMESTAMP), event_id)
               AS prev_type
    FROM events
),
tr AS (
    SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS c
    FROM ev WHERE prev_type IS NOT NULL GROUP BY prev_type, event_type
),
marg AS (
    SELECT prev_type, CAST(SUM(c) AS BIGINT) AS m FROM tr
    GROUP BY prev_type
),
surp AS (
    SELECT t.prev_type, t.event_type,
           CAST(ROUND(-1000000.0 * LN(CAST(t.c AS DOUBLE) / g.m))
                AS BIGINT) AS s_micro
    FROM tr t JOIN marg g ON g.prev_type = t.prev_type
),
per_user AS (
    SELECT e.user_id, CAST(COUNT(*) AS BIGINT) AS n_tr,
           CAST(SUM(s.s_micro) AS BIGINT) AS tot
    FROM ev e JOIN surp s ON s.prev_type = e.prev_type
                         AND s.event_type = e.event_type
    WHERE e.prev_type IS NOT NULL
    GROUP BY e.user_id
),
scored AS (
    SELECT user_id, n_tr,
           CAST(ROUND(CAST(tot AS DOUBLE) / n_tr) AS BIGINT) AS mean_micro
    FROM per_user
),
pop AS (
    SELECT AVG(CAST(mean_micro AS DOUBLE)) AS mu,
           STDDEV_POP(CAST(mean_micro AS DOUBLE)) AS sd
    FROM scored
)
SELECT s.user_id, s.n_tr,
       ROUND(s.mean_micro / 1000000.0, 4) AS mean_surprisal,
       ROUND((s.mean_micro - p.mu) / p.sd, 4) AS z,
       CAST(CASE WHEN CAST(ROUND(10000.0 * (s.mean_micro - p.mu) / p.sd)
                      AS BIGINT) > 20000 THEN 1 ELSE 0 END AS BIGINT)
           AS outlier
FROM scored s CROSS JOIN pop p
ORDER BY user_id
""",
    tags=("sequence", "anomaly", "W2"),
)
def q414_user_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user transition surprisal vs the corpus model:
    (user_id, n_tr, mean_surprisal, z, outlier)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").cast("timestamp"), "event_id"
    )
    ev = events.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    tr = ev.groupBy("prev_type", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    marg = tr.groupBy("prev_type").agg(F.sum("c").alias("m"))
    surp = tr.join(F.broadcast(marg), "prev_type").select(
        "prev_type",
        "event_type",
        F.round(
            -1000000.0 * F.log(F.col("c").cast("double") / F.col("m"))
        )
        .cast("long")
        .alias("s_micro"),
    )
    per_user = (
        ev.join(F.broadcast(surp), ["prev_type", "event_type"])
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tr"),
            F.sum("s_micro").cast("long").alias("tot"),
        )
    )
    scored = per_user.select(
        "user_id",
        "n_tr",
        F.round(F.col("tot").cast("double") / F.col("n_tr"))
        .cast("long")
        .alias("mean_micro"),
    )
    pop = scored.agg(
        F.avg(F.col("mean_micro").cast("double")).alias("mu"),
        F.stddev_pop(F.col("mean_micro").cast("double")).alias("sd"),
    )
    z = (F.col("mean_micro") - F.col("mu")) / F.col("sd")
    return (
        scored.crossJoin(F.broadcast(pop))
        .select(
            "user_id",
            "n_tr",
            F.round(F.col("mean_micro") / 1000000.0, 4).alias(
                "mean_surprisal"
            ),
            F.round(z, 4).alias("z"),
            (F.round(10000.0 * z).cast("long") > 20000)
            .cast("long")
            .alias("outlier"),
        )
        .orderBy("user_id")
    )
