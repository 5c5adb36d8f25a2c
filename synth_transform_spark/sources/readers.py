"""Source readers.

The driver substrate is one parquet file per table (TESTDATA.md). Production
sources the engine supports beyond parquet mirror the reference's source
surface (SURVEY.md §2.1 S1-S10): JDBC, CSV (multi-valued cells), Excel
workbooks, JSON lookup maps, and KV cache tables — see ``ingest.py``.

Parquet is the scale path: columnar scan with predicate pushdown, column
pruning and row-group min/max pruning all handled by the native reader.
Each parquet read takes its schema from the file footer
(``parquet_schema``), so reading a table launches no Spark job.
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DataType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

#: The driver's star schema + extension tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalise_events_ts(df: DataFrame) -> DataFrame:
    """Map ``events.ts`` to the engine's declared LTZ-µs timestamp — the one
    owner of this decision for batch (``load_table``) and stream
    (``streaming.events.read_events_stream``) reads.

    The physical type varies by testdata generation:

    - INT64 TIMESTAMP(NANOS), which Spark 4 refuses by default: read as long
      (``nanosAsLong``, set by the caller before the read) and truncate to
      microseconds with integer ``div`` — DuckDB's ns→µs cast truncates too;
    - timestamp[us] with no tz, which Spark 4 infers as TIMESTAMP_NTZ: cast
      to LTZ. The session tz is pinned UTC, so the instant is unchanged and
      epoch arithmetic (RANGE windows, EPOCH parity with DuckDB) keeps
      working.
    """
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


#: Footer key under which Spark stores the schema of a file it wrote.
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

#: Arrow leaf types whose parquet column Spark infers as ``from_arrow_type``
#: maps them (timestamps and binaries are mapped in ``_leaf_type``).
_EXACT_LEAVES = (
    "is_boolean", "is_int8", "is_int16", "is_int32", "is_int64",
    "is_float32", "is_float64", "is_decimal128", "is_string",
    "is_large_string", "is_date32",
)


def _footer_file(path: str) -> str:
    """The file whose footer Spark's schema inference reads for ``path``:
    the file itself, or the first data file of a directory in path order
    (names starting with ``_`` or ``.``, such as ``_SUCCESS`` and checksum
    files, are not data)."""
    if not os.path.isdir(path):
        return path
    data = sorted(n for n in os.listdir(path) if not n.startswith(("_", ".")))
    if not data:
        raise ValueError(f"{path}: no parquet data file to take a schema from")
    return os.path.join(path, data[0])


def _nullable(node):
    """A Spark schema's JSON with every field, element and map value
    nullable, as Spark reads any file schema (``asNullable``)."""
    if isinstance(node, list):
        return [_nullable(v) for v in node]
    if not isinstance(node, dict):
        return node
    return {
        k: True if k in ("nullable", "containsNull", "valueContainsNull")
        else v if k == "metadata" else _nullable(v)
        for k, v in node.items()
    }


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, built from the parquet
    footer with no Spark job.

    Spark's rules: a footer carrying ``SPARK_SCHEMA_KEY`` (a file Spark
    wrote) declares its schema; otherwise each field maps as
    ``from_arrow_type`` maps its arrow type, except that a naive timestamp
    is TIMESTAMP_NTZ only under ``spark.sql.parquet.inferTimestampNTZ.enabled``,
    INT64 TIMESTAMP(NANOS) is BIGINT under
    ``spark.sql.legacy.parquet.nanosAsLong`` and INT96 is a timestamp.
    Every field is nullable, as Spark reads it. A footer type with no exact
    Spark equivalent raises ``ValueError`` naming the path, column and
    type."""
    import pyarrow.parquet as pq

    with pq.ParquetFile(_footer_file(path)) as footer:
        declared = (footer.metadata.metadata or {}).get(SPARK_SCHEMA_KEY)
        if declared is not None:
            return StructType.fromJson(_nullable(json.loads(declared)))
        leaves = iter(footer.schema)
        return StructType([
            StructField(f.name, _spark_type(spark, path, f.name, f.type, leaves))
            for f in footer.schema_arrow
        ])


def _spark_type(spark: SparkSession, path: str, column: str, at, leaves) -> DataType:
    """Spark type of the arrow type ``at`` of ``column``; ``leaves`` yields
    the footer's leaf columns depth first, the order of the arrow leaves."""
    import pyarrow.types as pat

    if pat.is_struct(at):
        return StructType([
            StructField(f.name, _spark_type(spark, path, f"{column}.{f.name}", f.type, leaves))
            for f in at
        ])
    if pat.is_list(at) or pat.is_large_list(at) or pat.is_fixed_size_list(at):
        return ArrayType(_spark_type(spark, path, column, at.value_type, leaves))
    if pat.is_map(at):
        key = _spark_type(spark, path, column, at.key_type, leaves)
        return MapType(key, _spark_type(spark, path, column, at.item_type, leaves))
    if pat.is_dictionary(at):
        at = at.value_type
    return _leaf_type(spark, path, column, at, next(leaves))


def _leaf_type(spark: SparkSession, path: str, column: str, at, leaf) -> DataType:
    """Spark type of one footer leaf column ``leaf``, read by pyarrow as
    ``at``."""
    import pyarrow.types as pat
    from pyspark.sql.pandas.types import from_arrow_type

    def flag(key: str, default: str) -> bool:
        return spark.conf.get(key, default).lower() == "true"

    logical = leaf.logical_type.type
    if leaf.physical_type == "INT96" and flag("spark.sql.parquet.int96AsTimestamp", "true"):
        return TimestampType()
    if pat.is_timestamp(at) and logical == "TIMESTAMP":
        ts = json.loads(leaf.logical_type.to_json())
        if ts["timeUnit"] != "nanoseconds":
            ntz = not ts["isAdjustedToUTC"] and flag("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
            return TimestampNTZType() if ntz else TimestampType()
        if flag("spark.sql.legacy.parquet.nanosAsLong", "false"):
            return LongType()
    elif (pat.is_binary(at) or pat.is_large_binary(at)) and logical == "NONE":
        return StringType() if flag("spark.sql.parquet.binaryAsString", "false") else BinaryType()
    elif pat.is_fixed_size_binary(at) and logical == "NONE":
        return BinaryType()
    elif any(getattr(pat, check)(at) for check in _EXACT_LEAVES):
        return from_arrow_type(at)
    raise ValueError(
        f"{path}: column {column!r} has parquet type {leaf.physical_type} "
        f"({leaf.logical_type}, arrow {at}) with no exact Spark type"
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver table, its schema taken from the footer
    (``parquet_schema``), so the read launches no Spark job. Column
    pruning/pushdown left to Catalyst; ``events.ts`` goes through
    ``normalise_events_ts``."""
    # Defensive session settings: the driver supplies its own SparkSession,
    # which may run ANSI-on (Spark 4 default) and a non-UTC session timezone.
    # The engine's declared semantics are null-on-failure casts and
    # UTC-instant date parts (oracle parity), so pin both here — every query
    # path funnels through this loader.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalise_events_ts(read_parquet(spark, path))
    return read_parquet(spark, path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema ``parquet_schema`` takes
    from the footer instead of a schema-inference job."""
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)


def load_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    driver: str | None = None,
    predicate: str | None = None,
) -> DataFrame:
    """JDBC table scan (SURVEY §2.1 S1 — the reference's MySQL source).

    Always pass ``partition_column``/bounds for big tables: without them the
    whole table streams through ONE connection/task. Filters and column
    pruning push down into the remote SQL (Catalyst JDBC pushdown);
    ``predicate`` adds a server-side WHERE for partition-pruned ingest.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if driver:
        reader = reader.option("driver", driver)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", num_partitions or 4)
            .option("lowerBound", lower_bound or 0)
            .option("upperBound", upper_bound or 1)
        )
    df = reader.load()
    if predicate:
        df = df.where(predicate)
    return df


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "overwrite",
    driver: str | None = None,
) -> None:
    """JDBC sink (S11 analogue): batched inserts per partition — the
    row-at-a-time ``session.add`` loop becomes parallel batched writes."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table)
    if driver:
        writer = writer.option("driver", driver)
    writer.mode(mode).save()


def ensure_parallelism(df: DataFrame, target: int | None = None) -> DataFrame:
    """Repartition up to the cluster's parallelism — only if under-split.

    Small single-row-group parquet files scan as one task; downstream
    CPU-dense stages (hashing, mapInPandas feature extraction, pair
    scoring) would then run on one core. This is a no-op whenever the scan
    already has ≥ target partitions — i.e. at real data scale, where the
    shuffle would be pure cost. Apply it inside compute-heavy operators,
    never on scan→aggregate paths (the shuffle outweighs the gain there).
    """
    sc = df.sparkSession.sparkContext
    goal = target or sc.defaultParallelism
    # Partition count via the JVM-internal RDD (queryExecution().toRdd()):
    # one py4j round-trip on the already-planned query, WITHOUT df.rdd's
    # extra Python-conversion stage (javaToPython builds a serialization
    # plan per call — measurable at many-query scale).
    n = df._jdf.queryExecution().toRdd().getNumPartitions()
    if n < goal:
        return df.repartition(goal)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` plans work too."""
    for t, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(t)


def load_binary_dir(
    spark: SparkSession, path: str, pattern: str | None = None
) -> DataFrame:
    """Ingest raw media/payload files as binary rows via the binaryFile
    source: (path, modificationTime, length, content binary). This is how
    image/audio/video corpora actually land before becoming the parquet
    binary columns the multimodal operators (operators/multimodal.py)
    consume — partition planning and predicate pushdown on path/length
    come free from the file index.

    Scale: the source lists files distributed and assigns them to tasks by
    size (spark.sql.files.maxPartitionBytes), so a directory of millions
    of media files parallelises without a driver-side listing loop.
    """
    r = spark.read.format("binaryFile")
    if pattern is not None:
        r = r.option("pathGlobFilter", pattern)
    return r.load(path)


def load_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """One-document-per-line raw text ingestion (the commonest LLM corpus
    interchange): (doc_id, text) with a deterministic two-pass id — the
    W1 scalable assigner keyed by (file, line offset) would be the 100 TB
    path; here monotonically_increasing_id is re-based per run so tests
    pin ROW CONTENT, not ids."""
    from pyspark.sql import functions as F

    return (
        spark.read.text(path)
        .select(F.monotonically_increasing_id().alias("doc_id"), F.col("value").alias("text"))
    )
