"""Streaming CDC apply: a foreachBatch upsert sink.

The missing member of the streaming sink family (memory/parquet sinks cover
append; this covers MUTATION): each micro-batch is reduced to its latest row
per key and merged into a persistent state table — the
readStream → foreachBatch(MERGE) pattern every lakehouse CDC pipeline runs.

Correctness property (and why the q89 oracle is expressible): the merge is
LAST-WRITER-WINS BY EVENT TIME (ts, tiebreak), not by arrival order — the
union+argmax merge is idempotent and commutative across batches, so the
final state equals the batch answer "latest event per key" no matter how
the stream is micro-batched or reordered. That is the property to build on
at 100 TB, where replays and out-of-order files are a fact of life.

Scale notes: per batch, one shuffle of (batch ∪ state) on the key. State is
O(distinct keys) — for real workloads swap the parquet rewrite for a Delta/
Iceberg MERGE (same plan shape, transactional); the state relation itself
is exactly ``operators/delta.merge_upsert``'s copy-on-write kernel with the
ordering condition added. Batch-local reduction happens BEFORE the merge,
so a hot key costs one window partition per batch, not a bigger join.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def latest_per_key(df: DataFrame, key_cols: list[str], order_cols: list[str]) -> DataFrame:
    """The winning row per key: greatest (order_cols) with deterministic
    tie-break (all order columns descend)."""
    w = Window.partitionBy(*key_cols).orderBy(*[F.desc(c) for c in order_cols])
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def apply_cdc_stream(
    stream: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    state_dir: str,
    query_name: str = "cdc_apply",
) -> DataFrame:
    """Run ``stream`` to completion (availableNow), merging each micro-batch
    into a keyed state table; returns the final state as a batch DataFrame.

    State versions are written to ``state_dir/state_<epoch>`` (write-new,
    then swap — never read+overwrite the same path in one job); the
    superseded version is deleted as soon as the new one lands, so disk
    holds at most two snapshots however many micro-batches run. The final
    snapshot is left for the returned DataFrame to read (callers own
    ``state_dir`` cleanup after consuming it).

    Snapshot deletion uses driver-local filesystem semantics — for
    object-store ``state_dir``s (s3://, hdfs://) swap the parquet rewrite
    for a Delta/Iceberg MERGE, whose transaction log owns version cleanup
    (VACUUM); a silent shutil no-op there would accumulate snapshots, so
    non-local paths are rejected up front.
    """
    if "://" in state_dir and not state_dir.startswith("file://"):
        raise ValueError(
            "apply_cdc_stream keeps state on the driver-local filesystem; "
            f"got {state_dir!r} — use a lakehouse MERGE sink for object stores"
        )
    import shutil

    state: dict[str, str | None] = {"path": None}

    def apply_batch(batch: DataFrame, epoch_id: int) -> None:
        latest = latest_per_key(batch, key_cols, order_cols)
        prev = state["path"]
        if prev is not None:
            cur = batch.sparkSession.read.parquet(prev)
            latest = latest_per_key(
                cur.unionByName(latest), key_cols, order_cols
            )
        out = f"{state_dir}/state_{epoch_id}"
        latest.write.mode("overwrite").parquet(out)
        state["path"] = out
        if prev is not None:
            shutil.rmtree(prev, ignore_errors=True)

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark = stream.sparkSession
    if state["path"] is None:
        raise RuntimeError("stream produced no batches")
    return spark.read.parquet(state["path"])
