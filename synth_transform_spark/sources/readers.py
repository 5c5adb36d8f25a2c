"""Source readers.

The driver substrate is one parquet file per table (TESTDATA.md). Production
sources the engine supports beyond parquet mirror the reference's source
surface (SURVEY.md §2.1 S1-S10): JDBC, CSV (multi-valued cells), Excel
workbooks, JSON lookup maps, and KV cache tables — see ``ingest.py``.

Parquet is the scale path: columnar scan with predicate pushdown, column
pruning and row-group min/max pruning all handled by the native reader.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver table. Column pruning/pushdown left to Catalyst;
    ``events.ts`` goes through ``normalise_events_ts``."""
    # Defensive session settings: the driver supplies its own SparkSession,
    # which may run ANSI-on (Spark 4 default) and a non-UTC session timezone.
    # The engine's declared semantics are null-on-failure casts and
    # UTC-instant date parts (oracle parity), so pin both here — every query
    # path funnels through this loader.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalise_events_ts(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


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
