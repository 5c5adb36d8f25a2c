"""Bucketed-table layout: pre-shuffled storage for co-located joins.

The storage-layout half of the 100 TB join story (the other halves are
broadcast for bounded dims and AQE for runtime re-planning): writing both
fact tables bucketed on the join key by the SAME bucket count makes every
subsequent join on that key shuffle-FREE — the exchange is paid once at
write time and amortised over every downstream query.  This is the Spark
equivalent of the reference's one-time `synth rebuild` materialisation
step (synth/utils.py:300-323 rebuilds derived tables once, queries reuse
them); here the materialisation also fixes the physical partitioning.

Mechanics (all standard Spark, no custom catalog):
- ``bucketBy(n, key)`` + ``saveAsTable`` records bucket spec in the
  session catalog; file-per-bucket layout lets the scan report its
  partitioning as HashPartitioning(key, n), which SortMergeJoin accepts
  without an Exchange.
- The writer REPARTITIONS on the bucket key first: without that, every
  write task emits one file per bucket it sees → tasks × buckets small
  files, the classic bucketed-write mistake.
- ``sortBy`` inside buckets additionally satisfies SMJ's sort
  requirement when each bucket is a single file, eliding the Sort too.

Scale notes: bucket count is a capacity decision made once per table —
pick it so a single bucket (~table_size / n) fits an executor's memory at
the target scale; co-bucketed tables must share n (Spark does not yet
re-bucket one side; a mismatched count falls back to a normal shuffle).
Skewed bucket keys skew buckets — salting does not compose with
bucketing, so heavily skewed keys should stay with shuffle joins + AQE.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 8,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Materialise ``df`` as a bucketed catalog table on ``key``.

    ``path`` makes the table external (data at ``path``, metadata in the
    session catalog) — tests and local runs point this at scratch space.
    """
    w = (
        df.repartition(n_buckets, F.col(key))
        .write.format("parquet")
        .mode(mode)
        .bucketBy(n_buckets, key)
        .sortBy(key)
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on,
    how: str = "inner",
) -> DataFrame:
    """Join two co-bucketed catalog tables; with matching bucket counts on
    the join keys the plan contains no Exchange on either side."""
    left, right = spark.table(left_table), spark.table(right_table)
    if isinstance(on, str):
        cond = left[on] == right[on]
    else:
        lcol, rcol = on
        cond = left[lcol] == right[rcol]
    return left.join(right, cond, how)
