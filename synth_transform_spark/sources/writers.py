"""Partitioned and multi-format table writers — the engine's sink surface.

Reference lineage: the target-warehouse writes (SURVEY.md §2.1 S11
`target.add(Model(...))` row-at-a-time inserts, S14 DDL) become atomic
columnar writes. The 100 TB layout policy lives here:

- **partition columns** = the pruning keys the reference filters on
  (`synth_round`, event dates): queries with equality/range predicates on
  them scan only matching directories (PartitionFilters in the plan).
- **bucketing** = co-location for repeated equi-joins on a hot key (the
  translator mapping's (synth_round, original_id), user_guid): bucketed
  tables joined on the bucket key skip the shuffle entirely. The bucketed
  writer lives in ``bucketed.py``.
- writes go through a staging path + atomic rename semantics provided by
  the committer; per-table overwrite mirrors the reference's per-step
  transactional commit (utils.py:313-315).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    mode: str = "overwrite",
    sort_by: list[str] | None = None,
) -> None:
    """Write a parquet table partitioned by directory keys.

    ``repartition(partition_by)`` first so each output directory is written
    by few tasks (avoids the many-small-files explosion of N tasks × P
    partitions); ``sort_by`` orders rows within files for row-group
    min/max skipping on those columns.
    """
    out = df.repartition(*[F.col(c) for c in partition_by])
    if sort_by:
        out = out.sortWithinPartitions(*sort_by)
    out.write.mode(mode).partitionBy(*partition_by).parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read back a partitioned table (partition columns are inferred)."""
    return spark.read.parquet(path)


# ---------------------------------------------------------------------------
# Multi-format round-trip surface. The reference's sink is MySQL-only; a
# Spark engine's users expect the standard columnar/text formats too. ORC
# and JSON/CSV ship in Spark core; each writer pairs with a schema-pinned
# reader (CSV/JSON infer types lossily — reading back with the WRITER's
# schema is the only way a round-trip is bit-stable).
# ---------------------------------------------------------------------------

_FORMATS = ("parquet", "orc", "json", "csv")


def write_table(df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite") -> None:
    """Write ``df`` at ``path`` in one of parquet/orc/json/csv.

    CSV gets explicit quoting/escaping + header so string cells containing
    delimiters or quotes survive; JSON/CSV of timestamp columns use ISO
    format (Spark default) so the paired reader reparses losslessly.
    """
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {_FORMATS}")
    w = df.write.mode(mode)
    if fmt == "csv":
        w = w.option("header", True).option("quote", '"').option("escape", '"')
    getattr(w, fmt)(path)


def read_table(spark: SparkSession, path: str, fmt: str = "parquet", schema=None) -> DataFrame:
    """Read a table written by ``write_table``. For the self-describing
    columnar formats (parquet/orc) the schema comes from the footer; for
    JSON/CSV pass the writer's ``df.schema`` — inference would widen ints,
    lose timestamp zones, and misread empty strings."""
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {_FORMATS}")
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    if fmt == "csv":
        r = r.option("header", True).option("quote", '"').option("escape", '"')
    return getattr(r, fmt)(path)
