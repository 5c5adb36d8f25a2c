"""Sink-surface tests: partition pruning must be visible in the physical
plan, not just assumed (the bucketed shuffle-free join is pinned in
tests/test_bucketed.py)."""

from __future__ import annotations

import pyspark.sql.functions as F

from conftest import SF_DIR
from synth_transform_spark.sources.readers import load_table
from synth_transform_spark.sources.writers import (
    read_partitioned,
    write_partitioned,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_partitioned_write_prunes(spark, tmp_path):
    ev = load_table(spark, SF_DIR, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    path = str(tmp_path / "events_by_date")
    write_partitioned(ev, path, partition_by=["event_date"])
    back = read_partitioned(spark, path)
    assert back.count() == ev.count()

    one_day = back.filter(F.col("event_date") == "2024-01-05")
    plan = _plan(one_day)
    # partition filter must reach the scan (directory pruning, not row filter)
    assert "PartitionFilters" in plan and "event_date" in plan.split("PartitionFilters")[1][:200]
    assert one_day.count() == ev.filter(F.to_date("ts") == "2024-01-05").count()


def test_partitioned_write_row_fidelity(spark, tmp_path):
    docs = load_table(spark, SF_DIR, "documents")
    path = str(tmp_path / "docs_by_lang")
    write_partitioned(docs, path, partition_by=["lang"], sort_by=["doc_id"])
    back = read_partitioned(spark, path)
    a = sorted((r.doc_id, r.text) for r in back.select("doc_id", "text").collect())
    b = sorted((r.doc_id, r.text) for r in docs.select("doc_id", "text").collect())
    assert a == b


def test_orc_round_trip_with_pushdown(spark, tmp_path):
    """ORC sink/source coverage: row fidelity through a round trip, and
    the date filter reaches the ORC scan (searchArgument pushdown)."""
    from synth_transform_spark.sources.readers import load_table

    src = load_table(spark, SF_DIR, "orders")
    path = str(tmp_path / "orders_orc")
    src.write.format("orc").mode("overwrite").save(path)
    back = spark.read.format("orc").load(path)
    assert back.count() == src.count()
    assert sorted(back.columns) == sorted(src.columns)
    q = back.filter("o_orderpriority = '1-URGENT'").select("o_orderkey")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "o_orderpriority" in plan
    assert q.count() == src.filter("o_orderpriority = '1-URGENT'").count()


class TestMultiFormatRoundTrip:
    """write_table/read_table: every supported format must round-trip the
    documents table bit-stably (schema pinned on the lossy text formats)."""

    def test_all_formats_round_trip(self, spark, tmp_path):
        from synth_transform_spark.sources.readers import load_table
        from synth_transform_spark.sources.writers import read_table, write_table

        from conftest import SF_DIR

        df = load_table(spark, SF_DIR, "documents")
        expect = sorted(map(tuple, df.collect()))
        for fmt in ("parquet", "orc", "json", "csv"):
            p = str(tmp_path / f"rt_{fmt}")
            write_table(df, p, fmt=fmt)
            back = read_table(spark, p, fmt=fmt, schema=df.schema)
            assert back.schema == df.schema, fmt
            assert sorted(map(tuple, back.collect())) == expect, fmt

    def test_binary_dir_ingestion_feeds_multimodal(self, spark, tmp_path):
        from synth_transform_spark.sources.readers import load_binary_dir

        import pyspark.sql.functions as F

        payloads = {f"blob_{i}.bin": bytes([i] * (10 + i)) for i in range(4)}
        for name, data in payloads.items():
            (tmp_path / name).write_bytes(data)
        (tmp_path / "ignored.txt").write_text("not matched")
        df = load_binary_dir(spark, str(tmp_path), pattern="*.bin")
        rows = {r.path.rsplit("/", 1)[-1]: r for r in df.collect()}
        assert set(rows) == set(payloads)
        for name, data in payloads.items():
            assert bytes(rows[name].content) == data
            assert rows[name].length == len(data)
        # the binary column drops straight into the multimodal operators
        agg = df.select(F.sum(F.length("content")).alias("n")).first()
        assert agg.n == sum(len(v) for v in payloads.values())

    def test_text_lines_ingestion(self, spark, tmp_path):
        from synth_transform_spark.sources.readers import load_text_lines

        p = tmp_path / "corpus.txt"
        p.write_text("alpha beta\ngamma\ndelta epsilon zeta\n")
        df = load_text_lines(spark, str(p))
        texts = sorted(r.text for r in df.collect())
        assert texts == ["alpha beta", "delta epsilon zeta", "gamma"]
        assert df.select("doc_id").distinct().count() == 3
