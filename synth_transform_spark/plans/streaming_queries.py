"""Streaming-executed queries: each runs its logic AS a Structured
Streaming job inside the gate (in-memory sink, available-now trigger) with
a batch oracle twin. Split from events_queries.py (round 6).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..sources.readers import load_table
from .registry import register


# --------------------------------------------------------------------------
# q57 — the streaming family inside the driver's hash gate (SURVEY §2.9):
# this query EXECUTES the custom stateful streaming job (applyInPandasWithState
# running totals, availableNow replay, update mode), reduces the per-batch
# emissions to each user's final state, and hash-matches the batch-twin
# oracle. Stream-batch equivalence is thereby driver-verified, not only
# pytest-verified. 4dp rounding is safe here: values carry 2 decimals, so
# the exact total sits ~0.005 from any rounding boundary — micro-batch
# accumulation order cannot flip the hash.
# --------------------------------------------------------------------------
@register(
    "q57_streaming_running_totals",
    oracle="""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(CAST(SUM(value) AS DOUBLE), 4) AS total_value
FROM events
GROUP BY user_id
""",
    tags=("streaming-stateful",),
)
def q57_streaming_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import events as se
    from ..streaming.stateful import running_user_totals

    stream = se.read_events_stream(spark, sf_dir)
    out = se.run_available_now(
        running_user_totals(stream), "q57_sink", output_mode="update"
    )
    # final state per user = the emission with the highest running count
    # (monotone per user; a user absent from later batches simply has no
    # later emission, so the max is unique)
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_value", "n_events").alias("total_value"),
    )


# --------------------------------------------------------------------------
# q67 — the stream-stream interval join EXECUTED as a streaming job
# (availableNow → memory sink), like q57. The oracle is the batch twin: a
# watermarked stream-stream inner join over fully-arrived data emits
# exactly the rows the static inequality join produces (the watermark only
# bounds buffered state, it drops nothing under availableNow replay) —
# the equivalence pytest pins this; the driver gate now re-proves it
# against DuckDB every round.
# --------------------------------------------------------------------------
@register(
    "q67_streaming_interval_join",
    oracle="""
SELECT l.event_id, l.user_id,
       DATE_TRUNC('second', l.ts) AS ts,
       DATE_TRUNC('second', r.ts) AS matched_ts
FROM events l
JOIN events r
  ON r.user_id = l.user_id
 AND DATE_TRUNC('second', r.ts)
     BETWEEN DATE_TRUNC('second', l.ts) - INTERVAL 600 SECONDS
         AND DATE_TRUNC('second', l.ts) + INTERVAL 600 SECONDS
WHERE l.event_type = 'error' AND r.event_type = 'click'
""",
    tags=("streaming-interval-join",),
)
def q67_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import events as se

    stream = se.read_events_stream(spark, sf_dir)
    errors = stream.filter(F.col("event_type") == "error")
    clicks = stream.filter(F.col("event_type") == "click")
    return se.run_available_now(
        se.interval_join(errors, clicks, window_sec=600), "q67_sink"
    )


# --------------------------------------------------------------------------
# q89 — streaming CDC apply: the event stream merged into a keyed state
# table via foreachBatch (streaming/cdc.py), availableNow-executed inside
# the gate like q57/q67. The merge is last-writer-wins BY EVENT TIME
# (idempotent + commutative across micro-batches), so the final state
# provably equals the batch "latest event per user" — which is the oracle.
# --------------------------------------------------------------------------
@register(
    "q89_streaming_cdc_apply",
    oracle="""
SELECT user_id, event_type AS last_type,
       ROUND(value, 4) AS last_value, ts AS last_ts
FROM events
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) = 1
""",
    tags=("streaming-cdc", "S12", "W3"),
)
def q89_streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..streaming import events as se
    from ..streaming.cdc import apply_cdc_stream

    stream = se.read_events_stream(spark, sf_dir).select(
        "user_id", "event_type", "value", "ts", "event_id"
    )
    state = apply_cdc_stream(
        stream,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        state_dir=tempfile.mkdtemp(prefix="q89_cdc_"),
        query_name="q89_sink",
    )
    return state.select(
        "user_id",
        F.col("event_type").alias("last_type"),
        F.round("value", 4).alias("last_value"),
        F.col("ts").alias("last_ts"),
    )


# --------------------------------------------------------------------------
# q107/q108 — the tumbling and sliding window jobs EXECUTED AS STREAMS
# inside the gate (availableNow → memory sink, like q57/q67/q89): over
# fully-arrived data a watermarked streaming window aggregation emits
# exactly the batch GROUP BY result, so each reuses its batch twin's
# oracle. This puts the whole windowed-streaming family under the driver's
# hash gate rather than only the pytest equivalence tests. (Session
# windows joined them in round 4: q134 pins the exact boundary rule —
# merge iff [ts, ts+gap) windows overlap — with a gaps-and-islands
# oracle, so all three window families now run in-gate as streams.)
# --------------------------------------------------------------------------
@register(
    "q107_streaming_tumbling",
    oracle="""
SELECT TIME_BUCKET(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS total_value
FROM events
GROUP BY window_start, event_type
""",
    tags=("streaming-tumbling", "A1"),
)
def q107_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import events as se

    stream = se.read_events_stream(spark, sf_dir)
    return se.run_available_now(
        se.tumbling_counts(stream), "q107_sink", output_mode="complete"
    )


@register(
    "q108_streaming_sliding",
    oracle="""
WITH slots AS (
    SELECT TIME_BUCKET(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) AS slot,
           event_type, value
    FROM events
),
both_windows AS (
    SELECT slot AS window_start, event_type, value FROM slots
    UNION ALL
    SELECT slot - INTERVAL '30 minutes' AS window_start, event_type, value FROM slots
)
SELECT window_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 4) AS total_value
FROM both_windows
GROUP BY window_start, event_type
""",
    tags=("streaming-sliding", "A1"),
)
def q108_streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import events as se

    stream = se.read_events_stream(spark, sf_dir)
    job = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(
            F.window("ts", "1 hour", "30 minutes")
            .getField("start")
            .alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
    return se.run_available_now(job, "q108_sink", output_mode="complete")


@register(
    "q134_streaming_session",
    # Runs the session_window job AS A STREAM (availableNow, complete
    # mode) under the hash gate — the sixth in-gate streaming execution.
    # The oracle is the gaps-and-islands sessionizer with Spark's exact
    # boundary rule: event windows [ts, ts+gap) merge iff they OVERLAP,
    # so an event at exactly prev_ts + gap starts a NEW session
    # (`ts >= prev_ts + INTERVAL 30 MINUTE`), and the merged window's end
    # is last_ts + gap. Equal-timestamp events always co-session, so LAG
    # order among ties cannot change the grouping.
    oracle="""
WITH ordered AS (
    SELECT user_id, ts, value,
           LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
    FROM events
),
flagged AS (
    SELECT user_id, ts, value,
           CASE WHEN prev_ts IS NULL
                     OR ts >= prev_ts + INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_s
    FROM ordered
),
sess AS (
    SELECT user_id, ts, value,
           SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS total_value
FROM sess
GROUP BY user_id, sid
""",
    tags=("streaming-session", "A1"),
)
def q134_streaming_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import events as se

    stream = se.read_events_stream(spark, sf_dir)
    return se.run_available_now(
        se.session_windows(stream), "q134_sink", output_mode="complete"
    )


@register(
    "q145_streaming_first_event",
    # q40's keyed first-event dedup executed AS A STREAM (7th in-gate
    # streaming execution) — as a watermarked min-struct AGGREGATION, not
    # dropDuplicatesWithinWatermark: the dedup operator keeps the
    # first-ARRIVED row (file order, not event time), which no batch
    # oracle can pin; min(struct(ts, event_id)) is arrival-order-proof.
    oracle="""
WITH ranked AS (
    SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
           ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts, event_id) AS rk,
           COUNT(*) OVER (PARTITION BY user_id, event_type) AS n_total
    FROM events
)
SELECT user_id, event_type, event_id AS first_event_id,
       ts AS first_ts, CAST(n_total - 1 AS BIGINT) AS n_dropped
FROM ranked WHERE rk = 1
""",
    tags=("streaming-dedup", "W1"),
)
def q145_streaming_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import events as se

    stream = se.read_events_stream(spark, sf_dir)
    return se.run_available_now(
        se.first_event_agg(stream), "q145_sink", output_mode="complete"
    )


@register(
    "q190_stream_static_enrich",
    # Stream-static broadcast join — the standard streaming-enrichment
    # pattern (dimension snapshot joined into every micro-batch without
    # state). Executed as a real streaming job (availableNow -> memory
    # sink, complete mode) like q107/q108; the oracle is the batch twin.
    oracle="""
SELECT n.n_name,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(e.value), 4) AS total_value
FROM events e
JOIN nation n ON CAST(n.n_nationkey AS BIGINT) = e.user_id % 25
GROUP BY n.n_name
""",
    tags=("streaming-enrich", "J1"),
)
def q190_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming events enriched with the static nation dim (broadcast —
    no stream-side state, re-read per micro-batch) and rolled up per
    nation in complete mode."""
    from ..streaming import events as se

    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("nk"), "n_name"
    )
    stream = se.read_events_stream(spark, sf_dir)
    enriched = stream.withColumn("nk", F.col("user_id") % 25).join(
        F.broadcast(nation), "nk"
    )
    agg = enriched.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    return se.run_available_now(agg, "q190_sink", output_mode="complete")


@register(
    "q197_streaming_watermark_dedup",
    # dropDuplicatesWithinWatermark EXECUTED as a streaming job. Which
    # duplicate survives follows processing order, so the declared output
    # is the key set (exact and deterministic); the oracle is the batch
    # DISTINCT. q40 stays the path when the surviving payload matters.
    oracle="""
SELECT DISTINCT user_id, event_type FROM events
""",
    tags=("streaming-dedup", "U4"),
)
def q197_streaming_watermark_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-arrival key dedup with watermark-bounded state
    (streaming/events.dedup_within_watermark), availableNow replay."""
    from ..streaming import events as se

    stream = se.read_events_stream(spark, sf_dir)
    out = se.run_available_now(
        se.dedup_within_watermark(stream), "q197_sink", output_mode="append"
    )
    return out.select("user_id", "event_type").distinct()


# --------------------------------------------------------------------------
# q301 - chained streaming aggregations (multiple stateful operators in
# ONE query, Spark 3.4+): hourly per-type counts re-aggregated into an
# hourly shape summary (n_types, total, max) - the two-level rollup that
# previously required two jobs and an intermediate sink, executed AS A
# STREAM through the availableNow gate. Append mode (mandatory for
# chained state) emits exactly the windows the final watermark closed:
# window_end <= max(ts) - 2h - the oracle reproduces that boundary, so
# the check pins BOTH the aggregation algebra and the emission contract.
# Parity: counts are exact integers; no floats anywhere.
# Scale: two shuffle stages keyed by (window[, type]) with watermark-
# bounded state - the streaming twin of a two-level batch rollup; state
# size is windows-in-flight, not history.
# --------------------------------------------------------------------------
@register(
    "q301_streaming_two_level",
    oracle="""
WITH e AS (
    SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
),
mx AS (SELECT MAX(ts) AS m FROM e),
l1 AS (
    SELECT TIME_BUCKET(INTERVAL '1 hour', ts) AS w, event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM e GROUP BY 1, 2
),
l2 AS (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(n) AS BIGINT) AS total_events,
           CAST(MAX(n) AS BIGINT) AS max_type_n
    FROM l1 GROUP BY w
)
SELECT l2.w AS window_start, n_types, total_events, max_type_n
FROM l2 CROSS JOIN mx
WHERE l2.w + INTERVAL '1 hour' <= mx.m - INTERVAL '2 hours'
ORDER BY window_start
""",
    tags=("streaming-tumbling", "A9", "A1"),
)
def q301_streaming_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained two-level streaming rollup through the availableNow gate:
    (window_start, n_types, total_events, max_type_n) for every window
    the final watermark closed."""
    from ..streaming import events as se

    stream = se.read_events_stream(spark, sf_dir)
    return se.run_available_now(
        se.two_level_hourly(stream), "q301_sink", output_mode="append"
    ).orderBy("window_start")


# ---------------------------------------------------------------------------
# q358 — stream-stream LEFT OUTER interval join EXECUTED AS A STREAM
# (q67's inner join answers "which errors had a nearby click"; this one
# also answers "which errors had NONE" — the alerting shape). Unmatched
# rows are only emitted once the watermark passes l_ts + window and join
# state is evicted, and under availableNow rows younger than the final
# watermark never emit — so the DECLARED relation post-filters unmatched
# rows to the provably-flushed region l_ts + 600s ≤ W − 1h, where
# W = min(max error ts, max click ts) − 2h. The 1-hour margin keeps the
# declared boundary strictly inside Spark's eviction boundary, so the
# engine's internal >-vs-≥ eviction detail can never surface (empirical
# check: at sf0.001 the stream emits exactly the batch-flushed set).
# Parity: the batch oracle replicates the join and the same W cutoff on
# raw µs timestamps; outputs truncate to seconds; matched flag integer.
# Scale: watermark bounds join state to ±window + delay per user; the
# post-filter is a broadcast of a 1-row aggregate.
# ---------------------------------------------------------------------------
@register(
    "q358_streaming_outer_join",
    oracle="""
WITH l AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
),
r AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
m AS (
    SELECT l.event_id, l.user_id, l.ts, r.ts AS matched_ts
    FROM l JOIN r ON r.user_id = l.user_id
       AND r.ts BETWEEN l.ts - INTERVAL 600 SECONDS
                    AND l.ts + INTERVAL 600 SECONDS
),
wm AS (
    SELECT LEAST((SELECT MAX(ts) FROM l), (SELECT MAX(ts) FROM r))
           - INTERVAL 2 HOURS - INTERVAL 1 HOUR AS w
)
SELECT event_id, user_id, DATE_TRUNC('second', ts) AS ts,
       DATE_TRUNC('second', matched_ts) AS matched_ts,
       CAST(1 AS BIGINT) AS matched
FROM m
UNION ALL
SELECT l.event_id, l.user_id, DATE_TRUNC('second', l.ts) AS ts,
       NULL AS matched_ts, CAST(0 AS BIGINT) AS matched
FROM l CROSS JOIN wm
WHERE l.event_id NOT IN (SELECT event_id FROM m)
  AND l.ts + INTERVAL 600 SECONDS <= wm.w
""",
    tags=("streaming-interval-join", "J8"),
)
def q358_streaming_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer stream-stream interval join with a watermark-safe
    declared region: (event_id, user_id, ts, matched_ts, matched)."""
    from ..streaming import events as se

    stream = se.read_events_stream(spark, sf_dir)
    out = se.run_available_now(
        se.interval_join_outer(stream, "error", "click", window_sec=600),
        "q358_sink",
    )
    batch = load_table(spark, sf_dir, "events")
    wm = (
        batch.filter(F.col("event_type") == "error")
        .agg(F.max("ts").alias("ml"))
        .crossJoin(
            batch.filter(F.col("event_type") == "click").agg(
                F.max("ts").alias("mr")
            )
        )
        .select(
            (
                F.least("ml", "mr") - F.expr("INTERVAL 3 HOURS")
            ).alias("w")
        )
    )
    return out.crossJoin(F.broadcast(wm)).filter(
        F.col("matched_ts").isNotNull()
        | (F.col("ts") + F.expr("INTERVAL 600 SECONDS") <= F.col("w"))
    ).select(
        "event_id",
        "user_id",
        F.date_trunc("second", "ts").alias("ts"),
        F.date_trunc("second", "matched_ts").alias("matched_ts"),
        F.col("matched_ts").isNotNull().cast("long").alias("matched"),
    )


# ---------------------------------------------------------------------------
# q377 — DYNAMIC-gap session windows EXECUTED AS A STREAM: error events
# cool off in 5 minutes, everything else keeps q134's 30-minute gap
# (session_window with a gap EXPRESSION — the Spark 3.2+ feature q134's
# static form can't express). The oracle is the running-max islands
# construction: an event starts a new session iff its ts reaches the
# MAX end (ts_i + gap_i) of all earlier events in the user's stream —
# a LAG against just the previous row is wrong once a long-gap event
# can outlast several short-gap successors. Session end = max per-event
# end. Equal-ts events always co-session (every window end exceeds its
# own ts), so tie order cannot move the partition.
# Parity: gaps are exact second constants; boundaries are integer
# timestamp comparisons; value sums rounded 4dp.
# Scale: streaming state is bounded by the watermark; the batch oracle
# is one user-partitioned running-max window — uniform keys.
# ---------------------------------------------------------------------------
@register(
    "q377_streaming_dynamic_session",
    oracle="""
WITH gapped AS (
    SELECT user_id, ts, value,
           CASE WHEN event_type = 'error' THEN 300 ELSE 1800 END AS gap
    FROM events
),
walled AS (
    SELECT user_id, ts, value, gap,
           MAX(ts + gap * INTERVAL 1 SECOND) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS prev_wall
    FROM gapped
),
flagged AS (
    SELECT user_id, ts, value, gap,
           CASE WHEN prev_wall IS NULL OR ts >= prev_wall
                THEN 1 ELSE 0 END AS new_s
    FROM walled
),
sess AS (
    SELECT user_id, ts, value, gap,
           CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
    FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts + gap * INTERVAL 1 SECOND) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 4) AS total_value
FROM sess GROUP BY user_id, sid
""",
    tags=("streaming-session", "W2"),
)
def q377_streaming_dynamic_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap session windows run as a stream:
    (user_id, session_start, session_end, n_events, total_value)."""
    from ..streaming import events as se

    stream = se.read_events_stream(spark, sf_dir)
    return se.run_available_now(
        se.session_windows_dynamic(stream),
        "q377_sink",
        output_mode="complete",
    )
