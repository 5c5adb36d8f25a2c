"""Stream-batch equivalence: each streaming job, run to completion with the
availableNow trigger, must produce the same result as its batch twin."""

from __future__ import annotations

import pathlib

import pyspark.sql.functions as F
import pytest

from conftest import SF_DIR
from synth_transform_spark.plans.events_queries import q21_tumbling_window
from synth_transform_spark.sources.readers import load_table
from synth_transform_spark.streaming import events as se
from synth_transform_spark.testing import canon_rows


def _stream(spark):
    return se.read_events_stream(spark, SF_DIR)


def test_tumbling_stream_matches_batch(spark):
    out = se.run_available_now(
        se.tumbling_counts(_stream(spark)), "t_tumbling", output_mode="complete"
    ).toPandas()
    batch = q21_tumbling_window(spark, SF_DIR).toPandas()
    assert canon_rows(out) == canon_rows(batch)


def test_sliding_windows_cover_tumbling(spark):
    out = se.run_available_now(
        se.sliding_value_avg(_stream(spark)), "t_sliding", output_mode="complete"
    ).toPandas()
    # every event lands in exactly 4 sliding windows (1h window / 15m slide)
    batch_events = load_table(spark, SF_DIR, "events").count()
    assert out["n_events"].sum() == 4 * batch_events


def test_session_windows_match_batch_sessionizer(spark):
    from synth_transform_spark.operators.windows import sessionize

    out = se.run_available_now(
        se.session_windows(_stream(spark)), "t_sessions", output_mode="complete"
    )
    ev = load_table(spark, SF_DIR, "events")
    batch = sessionize(ev, gap_minutes=30)
    # same number of sessions per user
    stream_counts = (
        out.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).toPandas()
    )
    batch_counts = (
        batch.groupBy("user_id")
        .agg(F.countDistinct("session_id").alias("n"))
        .toPandas()
    )
    sc = dict(zip(stream_counts.user_id, stream_counts.n))
    bc = dict(zip(batch_counts.user_id, batch_counts.n))
    assert sc == bc
    # and identical total event counts
    assert out.agg(F.sum("n_events")).first()[0] == ev.count()


def test_sliding_stream_matches_batch(spark):
    from synth_transform_spark.plans.events_queries import q39_sliding_window

    job = (
        _stream(spark)
        .withWatermark("ts", "2 hours")
        .groupBy(
            F.window("ts", "1 hour", "30 minutes").getField("start").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
    out = se.run_available_now(job, "t_sliding_batch_eq", output_mode="complete").toPandas()
    batch = q39_sliding_window(spark, SF_DIR).toPandas()
    assert canon_rows(out) == canon_rows(batch)


def test_keyed_dedup_stream_keys_match_batch(spark):
    from synth_transform_spark.plans.events_queries import q40_first_event_dedup

    out = se.run_available_now(
        se.dedup_within_watermark(_stream(spark)), "t_keyed_dedup", output_mode="append"
    )
    batch = q40_first_event_dedup(spark, SF_DIR)
    # one surviving event per key on both sides, same key set (the streaming
    # horizon covers the full 30-day fixture replayed as one availableNow
    # batch, so global and within-watermark dedup agree on keys)
    skeys = {(r.user_id, r.event_type) for r in out.select("user_id", "event_type").collect()}
    bkeys = {(r.user_id, r.event_type) for r in batch.collect()}
    assert skeys == bkeys


def test_stateful_running_totals_match_batch(spark):
    """applyInPandasWithState totals over the full replay == batch groupBy."""
    from synth_transform_spark.streaming.stateful import running_user_totals

    out = se.run_available_now(
        running_user_totals(_stream(spark)), "t_stateful", output_mode="update"
    )
    # keep the LAST emission per user (running totals grow per micro-batch)
    ev = load_table(spark, SF_DIR, "events")
    batch = (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .toPandas()
    )
    final = (
        out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_value").alias("total_value"),
        )
        .toPandas()
    )
    b = {r.user_id: (r.n_events, round(r.total_value, 3)) for r in batch.itertuples()}
    s = {r.user_id: (r.n_events, round(r.total_value, 3)) for r in final.itertuples()}
    assert s == b


def test_streaming_dedup_drops_injected_duplicates(spark):
    out = se.run_available_now(
        se.dedup_within_watermark(_stream(spark), ("event_id",)),
        "t_dedup",
        output_mode="append",
    )
    ev = load_table(spark, SF_DIR, "events")
    assert out.count() == ev.select("event_id").distinct().count()


def test_interval_join_stream_matches_batch_range_join(spark):
    """Stream-stream interval join == batch bucketed range join (q50):
    per-error click counts agree, and zero-match errors are exactly the
    ones the inner stream join omits."""
    from synth_transform_spark.plans.temporal_queries import q50_range_join

    errors = _stream(spark).filter(F.col("event_type") == "error")
    clicks = _stream(spark).filter(F.col("event_type") == "click")
    out = se.run_available_now(
        se.interval_join(errors, clicks, window_sec=600), "t_interval", output_mode="append"
    )
    stream_counts = (
        out.groupBy("event_id").agg(F.count(F.lit(1)).alias("n")).toPandas()
    )
    batch = q50_range_join(spark, SF_DIR).toPandas()
    s = dict(zip(stream_counts.event_id, stream_counts.n))
    b = {r.event_id: r.n_in_range for r in batch.itertuples() if r.n_in_range > 0}
    assert s == b
    n_zero = sum(1 for r in batch.itertuples() if r.n_in_range == 0)
    assert len(batch) == len(s) + n_zero


def test_events_ts_physical_types_read_alike(spark, tmp_path):
    """``events.ts`` written as INT64 TIMESTAMP(NANOS) and as naive
    timestamp[us] (both seen in testdata generations) reads as the same
    UTC microseconds through the batch and the stream reader; the nanos
    are truncated, as DuckDB's ns→µs cast does."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    nanos = [1704067200_123456789, 1704070800_000000999, 1704153600_999999999]
    micros = [ns // 1000 for ns in nanos]
    got = {}
    for unit, values in (("ns", nanos), ("us", micros)):
        table = pa.table(
            {
                "event_id": pa.array([1, 2, 3], pa.int64()),
                "ts": pa.array(values, pa.timestamp(unit)),
                "user_id": pa.array([7, 7, 8], pa.int64()),
                "event_type": ["view", "click", "view"],
                "value": [1.0, 2.0, 3.0],
                "props": ["{}", "{}", "{}"],
            }
        )
        sf_dir = str(tmp_path / unit)
        pathlib.Path(sf_dir).mkdir()
        pq.write_table(table, f"{sf_dir}/events.parquet")
        batch = load_table(spark, sf_dir, "events")
        stream = se.run_available_now(
            se.read_events_stream(spark, sf_dir), f"t_events_ts_{unit}"
        )
        for how, df in (("batch", batch), ("stream", stream)):
            rows = df.select("event_id", F.unix_micros("ts")).collect()
            got[unit, how] = [us for _, us in sorted(rows)]
    nanos_type = pq.read_schema(f"{tmp_path}/ns/events.parquet").field("ts").type
    assert nanos_type == pa.timestamp("ns")
    assert got == {key: micros for key in got}
