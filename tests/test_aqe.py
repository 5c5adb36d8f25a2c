"""AQE runtime re-planning proofs: local-mode evidence that the
runtime knobs the 100 TB story leans on actually engage — skewed-join
splitting and post-shuffle partition coalescing. Thresholds are dropped
to toy sizes for the test and restored afterwards."""

from __future__ import annotations

import pyspark.sql.functions as F

from conftest import session_conf


def test_aqe_splits_skewed_join(spark):
    """One hot key (90% of the fact side) must trigger
    OptimizeSkewedJoin under toy thresholds — the runtime half of the
    skew story (operators/skew.py salting is the planned half)."""
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
    }
    with session_conf(spark, confs):
        left = spark.range(0, 20000).select(
            F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("payload-"), F.col("id")).alias("pad"),
        )
        right = spark.range(0, 2000).select(F.col("id").alias("k"))
        joined = left.join(right, "k")
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isSkew=true" in plan or "OptimizeSkewedJoin" in plan or "skewed=" in plan.lower() or "(skew=" in plan


def test_aqe_coalesces_shuffle_partitions(spark):
    """A 5-group aggregate shuffled across 32 configured partitions must
    coalesce at runtime (AQEShuffleRead coalesced) instead of running 27
    empty reducers."""
    df = (
        spark.range(0, 10000)
        .groupBy((F.col("id") % 5).alias("g"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in plan and "coalesced" in plan
