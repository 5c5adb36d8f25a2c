"""``sources/readers.parquet_schema`` derives the schema Spark's inference
would give from the parquet footer, so ``load_table`` reads with no Spark
job. Each check compares against ``spark.read.parquet(path).schema``, the
inference job it replaces."""

from __future__ import annotations

import datetime as dt
import decimal
import pathlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from conftest import SF_DIR
from synth_transform_spark.sources.readers import (
    TABLES,
    load_table,
    normalise_events_ts,
    parquet_schema,
    read_parquet,
)

SCALES = sorted(str(p) for p in pathlib.Path(SF_DIR).parent.glob("sf*") if p.is_dir())


def _inferred(spark, sf_dir: str, name: str):
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return (normalise_events_ts(df) if name == "events" else df).schema


@pytest.mark.parametrize("sf_dir", SCALES)
@pytest.mark.parametrize("name", TABLES)
def test_load_table_schema_equals_inference(spark, sf_dir, name):
    assert load_table(spark, sf_dir, name).schema == _inferred(spark, sf_dir, name)


@pytest.mark.parametrize("sf_dir", SCALES)
def test_load_table_launches_no_job(spark, sf_dir):
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    jobs = {}
    for name in TABLES:
        j0 = dag.nextJobId()
        load_table(spark, sf_dir, name)
        jobs[name] = dag.nextJobId() - j0
    assert jobs == dict.fromkeys(TABLES, 0)


def test_schema_equals_inference_without_timestamp_ntz(spark):
    """With NTZ inference off, naive timestamps (``orders.o_orderdate``,
    ``events.ts``) read as LTZ on both sides."""
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    before = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        got = {t: load_table(spark, SF_DIR, t).schema for t in TABLES}
        want = {t: _inferred(spark, SF_DIR, t) for t in TABLES}
    finally:
        spark.conf.set(key, before)
    assert got == want
    assert got["orders"]["o_orderdate"].dataType.typeName() == "timestamp"


def test_schema_equals_inference_on_pipeline_dirs(spark, pipeline_dirs):
    """The rebuild inputs are pyarrow-written files and Spark-written
    directories; the latter take their schema from Spark's footer key."""
    _, src_dir, res_dir = pipeline_dirs
    paths = sorted(str(p) for d in (src_dir, res_dir) for p in d.glob("*.parquet"))
    assert any(pathlib.Path(p).is_dir() for p in paths)
    assert any(pathlib.Path(p).is_file() for p in paths)
    got = {p: read_parquet(spark, p).schema for p in paths}
    assert got == {p: spark.read.parquet(p).schema for p in paths}
    assert {p: parquet_schema(spark, p) for p in paths} == got


def test_schema_equals_inference_on_nested_and_legacy_types(spark, tmp_path):
    """Nested types, narrow ints, decimals, binaries, timestamps of every
    unit and tz, required columns, and the same table with INT96
    timestamps, with binaries read as binary and as strings."""
    table = pa.table({
        "i8": pa.array([1], pa.int8()),
        "i16": pa.array([1], pa.int16()),
        "dec": pa.array([decimal.Decimal("1.23")], pa.decimal128(10, 2)),
        "wide_dec": pa.array([decimal.Decimal("1.23")], pa.decimal128(30, 2)),
        "bin": pa.array([b"x"], pa.binary()),
        "fixed": pa.array([b"xy"], pa.binary(2)),
        "day": pa.array([dt.date(2020, 1, 1)], pa.date32()),
        "ts_tz": pa.array([1], pa.timestamp("us", "Asia/Kolkata")),
        "ts_ms": pa.array([1], pa.timestamp("ms")),
        "ts_s": pa.array([1], pa.timestamp("s")),
        "vec": pa.array([[1.0, None]], pa.list_(pa.float64())),
        "rec": pa.array(
            [{"a": 1, "b": [dt.datetime(2020, 1, 1)]}],
            pa.struct([("a", pa.int64()), ("b", pa.list_(pa.timestamp("us")))]),
        ),
        "kv": pa.array([[("k", 1)]], pa.map_(pa.string(), pa.int64())),
        "cat": pa.array(["a"]).dictionary_encode(),
        "req": pa.array([1], pa.int64()),
    })
    table = table.cast(table.schema.set(
        table.schema.get_field_index("req"), pa.field("req", pa.int64(), nullable=False)
    ))
    paths = [str(tmp_path / "plain.parquet"), str(tmp_path / "int96.parquet")]
    pq.write_table(table, paths[0])
    pq.write_table(table, paths[1], use_deprecated_int96_timestamps=True)
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key, "false")
    try:
        for as_string in ("false", "true"):
            spark.conf.set(key, as_string)
            for path in paths:
                assert parquet_schema(spark, path) == spark.read.parquet(path).schema, (path, as_string)
    finally:
        spark.conf.set(key, before)


def test_unmappable_footer_type_raises_naming_column(spark, tmp_path):
    """Spark reads UINT32 as BIGINT, which ``from_arrow_type`` does not
    map; the helper raises instead of guessing."""
    path = str(tmp_path / "uint.parquet")
    pq.write_table(pa.table({"id": pa.array([1], pa.int64()), "u": pa.array([1], pa.uint32())}), path)
    with pytest.raises(ValueError, match=r"column 'u'.*uint32"):
        parquet_schema(spark, path)
