"""Structured Streaming jobs over the `events` table.

The reference has no streaming surface (SURVEY.md §2.9) — this is the
north-star extension. Each job is the streaming twin of a batch query in
plans/events_queries.py / plans/streaming_queries.py (the in-gate streaming
executions live in the latter since the round-6 family split);
stream-batch equivalence is asserted in
tests/test_streaming.py using the availableNow trigger (process all existing
input then stop — the deterministic test harness for streams).

``read_events_stream`` maps ``events.ts`` with the batch reader's
``sources.readers.normalise_events_ts``, so a stream and a batch read of
the same file see the same timestamps. Dedup within the watermark is one
function, ``dedup_within_watermark``, keyed by its ``keys`` argument.

Design for scale:
- file-source streams with maxFilesPerTrigger for backpressure;
- event-time watermarks bound all aggregation state;
- sinks are parquet/memory; exactly-once via checkpointing on a real run.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..sources.readers import normalise_events_ts, parquet_schema


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet, normalised to LTZ-µs
    ``ts`` by the batch reader's ``normalise_events_ts``.

    A file-source stream needs a declared schema; it is the footer schema
    ``load_table`` reads with (``parquet_schema``, no Spark job), so the
    stream sees the same physical ``ts`` type — a wrong static schema would
    silently reinterpret raw values and corrupt every event-time operator.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = parquet_schema(spark, f"{sf_dir}/events.parquet")
    # File-source streams take a directory; glob-filter to the events table.
    raw = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .schema(schema)
        .parquet(sf_dir)
    )
    return normalise_events_ts(raw)


def tumbling_counts(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked 1-hour tumbling aggregation — streaming twin of
    q21_tumbling_window."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", "1 hour").getField("start").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


def sliding_value_avg(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """1-hour windows sliding every 15 minutes: rolling per-type mean value."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", "1 hour", "15 minutes").getField("start").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


def session_windows(stream: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Per-user session windows (gap-based) — streaming twin of the
    sessionizer; state is bounded by the watermark."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    window_sec: int = 600,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: right rows of the same user within
    ``+/- window_sec`` of each left row — the streaming twin of the batch
    bucketed range join (q50_range_join).

    Both sides carry watermarks and the join condition bounds event time in
    BOTH directions, so Spark can evict buffered state once the watermark
    passes — the required shape for unbounded stream-stream joins.
    Timestamps are second-truncated before the comparison so results match
    the batch operator's epoch-second semantics exactly.
    """
    l = left.withWatermark("ts", watermark).select(
        F.col("event_id").alias("l_event_id"),
        F.col("user_id").alias("l_user_id"),
        F.date_trunc("second", "ts").alias("l_ts"),
    )
    r = right.withWatermark("ts", watermark).select(
        F.col("user_id").alias("r_user_id"),
        F.date_trunc("second", "ts").alias("r_ts"),
    )
    cond = (
        (F.col("l_user_id") == F.col("r_user_id"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"INTERVAL {window_sec} SECONDS"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {window_sec} SECONDS"))
    )
    return l.join(r, cond, "inner").select(
        F.col("l_event_id").alias("event_id"),
        F.col("l_user_id").alias("user_id"),
        F.col("l_ts").alias("ts"),
        F.col("r_ts").alias("matched_ts"),
    )


def run_available_now(job: DataFrame, query_name: str, output_mode: str = "append") -> DataFrame:
    """Execute a streaming DataFrame to completion with the availableNow
    trigger into an in-memory sink; returns the sink contents as a batch DF.

    Deterministic harness: processes every existing file then stops.
    Aggregating jobs pass ``output_mode="complete"``; row streams (dedup)
    use the default append.
    """
    spark = job.sparkSession
    q = (
        job.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def first_event_agg(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """First event per (user_id, event_type) as a STATEFUL AGGREGATION:
    min(struct(ts, event_id)) + count.

    Deterministic under ANY arrival order — unlike
    ``dedup_within_watermark``, which keeps the first-ARRIVED row and
    therefore can't be hash-verified against a batch oracle on unordered
    sources. State per key is one struct +
    one counter, watermark-bounded."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id", "event_type")
        .agg(
            F.min(F.struct(F.col("ts"), F.col("event_id"))).alias("_first"),
            F.count(F.lit(1)).alias("_n"),
        )
        .select(
            "user_id",
            "event_type",
            F.col("_first.event_id").alias("first_event_id"),
            F.col("_first.ts").alias("first_ts"),
            (F.col("_n") - 1).cast("long").alias("n_dropped"),
        )
    )


def dedup_within_watermark(
    stream: DataFrame,
    keys: tuple[str, ...] = ("user_id", "event_type"),
    watermark: str = "2 hours",
) -> DataFrame:
    """First-arrival dedup via dropDuplicatesWithinWatermark (Spark 3.5+).

    Unlike plain dropDuplicates, state for a key is EVICTED once the
    watermark passes its event time — the production-correct shape when
    duplicates only arrive within a bounded window (at-least-once sources,
    retried producers). WHICH duplicate survives follows processing order,
    so deterministic consumers project the keys (the key SET is exact);
    q40's event-time-min operator is the path when the payload itself must
    be deterministic.
    """
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def two_level_hourly(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """CHAINED stateful aggregations in one streaming query (the multiple-
    stateful-operators capability, Spark 3.4+): level 1 is the watermarked
    hourly count per (window, event_type); level 2 re-aggregates those
    window results per hour - (window_start, n_types, total_events,
    max_type_n). Append mode is mandatory for chained stateful ops, so
    only windows the final watermark has closed are emitted - the exact
    boundary the q301 oracle reproduces.
    """
    l1 = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    l2 = l1.groupBy(F.window(F.window_time("window"), "1 hour")).agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("n").alias("total_events"),
        F.max("n").alias("max_type_n"),
    )
    return l2.select(
        F.col("window.start").alias("window_start"),
        F.col("n_types").cast("long").alias("n_types"),
        F.col("total_events").cast("long").alias("total_events"),
        F.col("max_type_n").cast("long").alias("max_type_n"),
    )


def interval_join_outer(
    stream: DataFrame,
    left_type: str = "error",
    right_type: str = "click",
    window_sec: int = 600,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every left event with its
    right-side matches of the same user within ``±window_sec``, plus a
    null-match row for left events that found none — emitted once the
    watermark passes ``l_ts + window_sec`` and the buffered state is
    evicted (Spark's required shape: watermark directly on BOTH join
    event-time columns and a two-sided range condition; a derived
    event-time column — e.g. date_trunc — breaks outer-join eligibility,
    which is why the condition binds raw ts here unlike interval_join).

    availableNow caveat (the q358 contract): rows younger than the final
    watermark (min of both sides' max ts − delay) are still in state at
    query end and never emit a null row. Callers that need a
    deterministic relation must post-filter unmatched rows to the
    provably-flushed region — q358 keeps ``l_ts + window ≤ W − 1h``.
    """
    l = (
        stream.filter(F.col("event_type") == left_type)
        .select(
            F.col("event_id").alias("l_event_id"),
            F.col("user_id").alias("l_user_id"),
            F.col("ts").alias("l_ts"),
        )
        .withWatermark("l_ts", watermark)
    )
    r = (
        stream.filter(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user_id"),
            F.col("ts").alias("r_ts"),
        )
        .withWatermark("r_ts", watermark)
    )
    cond = (
        (F.col("l_user_id") == F.col("r_user_id"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"INTERVAL {window_sec} SECONDS"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {window_sec} SECONDS"))
    )
    return l.join(r, cond, "leftOuter").select(
        F.col("l_event_id").alias("event_id"),
        F.col("l_user_id").alias("user_id"),
        F.col("l_ts").alias("ts"),
        F.col("r_ts").alias("matched_ts"),
    )


def session_windows_dynamic(
    stream: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Per-user session windows with a DYNAMIC per-event gap — error
    events cool off in 5 minutes, everything else keeps the 30-minute
    gap (Spark 3.2+ session_window(col, gap_expression)). Sessions merge
    whenever [ts, ts+gap(event)) windows overlap, so the session end is
    the max per-event end. State bounded by the watermark as usual."""
    gap = F.when(
        F.col("event_type") == "error", F.lit("5 minutes")
    ).otherwise(F.lit("30 minutes"))
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
