"""Deterministic surrogate-ID assignment.

Reference: every ``Fill*Table`` step assigns ids from ``itertools.count(1)``
while iterating the 4 sources in round order (SURVEY.md §2.5 W1;
/root/reference/synth/etl.py:215-223, 348-354, 461-488). Two modes:

- ``assign_ids_window``   — correctness mode: ``row_number`` over a global
  ``Window.orderBy(...)``. Exact, but the window forces a single-partition
  sort — fine at test scale, not at 10^11 rows.
- ``assign_ids_scalable`` — scale mode, one lazy plan: range-repartition by
  the order key, sort within partitions, number rows inside each partition
  and add the partition's offset, a prefix sum of the per-partition counts
  broadcast back. No global single-partition sort, and no Spark job while
  the DataFrame is built. Produces the identical dense 1..N numbering.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

# ``monotonically_increasing_id`` packs (partition index, row position in
# the partition) as ``pid << 33 | pos``.
_MID_POS_BITS = 33


def assign_ids_window(df: DataFrame, order_cols: list, id_name: str = "new_id") -> DataFrame:
    """Dense 1..N ids by global order. Single-partition sort — test scale."""
    w = Window.orderBy(*order_cols)
    return df.withColumn(id_name, F.row_number().over(w).cast("long"))


def assign_ids_scalable(df: DataFrame, order_cols: list[str], id_name: str = "new_id") -> DataFrame:
    """Dense 1..N ids by global order, as one plan with no global sort.

    1. ``repartitionByRange`` on the order key → partitions are ordered
       ranges (Spark samples the key distribution — handles skew);
       ``sortWithinPartitions`` → total order across partition index.
    2. ``monotonically_increasing_id`` tags each row with its partition
       index and its 1-based position inside the partition.
    3. One branch counts the rows per partition; a single aggregate
       collects the (at most one per partition) counts and prefix-sums
       them into offsets, which are broadcast-joined back:
       id = offset + position.

    Correctness rests on both branches reading ONE range-partitioning run:
    the range boundaries are resampled on every execution of the exchange,
    so two runs give two different partition-size vectors and the offsets
    would belong to the wrong partitions. One run is what exchange reuse
    gives: the counting branch and the numbering branch hold the same
    ``Exchange rangepartitioning(Project(order cols))``, which Spark
    executes once and reads twice (``ReusedExchange`` in the executed
    plan). Both reads see the same map statistics, and adaptive coalescing
    cuts each read from those statistics, so the partition index a row
    gets is the same in both branches (``tests/test_ids.py`` pins the ids
    to ``assign_ids_window`` with coalescing on, off, finer, with AQE off
    and with one shuffle partition). Two invariants keep the two copies
    identical, and each raises:

    - ``df`` must consist of exactly ``order_cols`` (``ValueError``). With
      a payload column, a consumer that prunes it from one branch but not
      the other makes the two exchanges differ, and they are no longer
      reused. Number the key columns and join the payload back on a
      unique key instead.
    - ``spark.sql.exchange.reuse`` must be on (``RuntimeError``); without
      it each branch runs its own exchange.

    The only driver-side data is one count per partition, inside the plan.
    """
    if len(df.columns) != len(order_cols) or set(df.columns) != set(order_cols):
        raise ValueError(
            f"assign_ids_scalable numbers a relation of exactly its order "
            f"columns {list(order_cols)}; got columns {df.columns}"
        )
    reuse = df.sparkSession.conf.get("spark.sql.exchange.reuse", "true")
    if reuse.strip().lower() != "true":
        raise RuntimeError(
            "assign_ids_scalable needs spark.sql.exchange.reuse=true: its "
            "offsets and row positions must read one range-partitioning run"
        )
    mid = F.col("_mid")
    tagged = (
        df.repartitionByRange(*[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("_mid", F.monotonically_increasing_id())
        .select(
            *order_cols,
            F.shiftright(mid, _MID_POS_BITS).alias("_pid"),
            ((mid.bitwiseAND((1 << _MID_POS_BITS) - 1)) + 1).alias("_pos"),
        )
    )
    offsets = (
        tagged.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(F.sort_array(F.collect_list(F.struct("_pid", "_n"))).alias("_c"))
        .select(
            F.inline(
                F.expr(
                    "transform(_c, (c, i) -> named_struct('_pid', c._pid, "
                    "'_offset', aggregate(slice(_c, 1, i), 0L, (a, p) -> a + p._n)))"
                )
            )
        )
    )
    return tagged.join(F.broadcast(offsets), "_pid").select(
        *df.columns, (F.col("_offset") + F.col("_pos")).alias(id_name)
    )
