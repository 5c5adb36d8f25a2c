"""``operators/ids.assign_ids_scalable`` is one lazy plan: its row positions
and its per-partition offsets read one run of a reused range exchange. Each
check below pins a piece of that argument: equality with the window mode
under sessions that change how the exchange is cut, exchange reuse in the
executed plan, the two raising invariants, and no Spark job at build."""

from __future__ import annotations

import pathlib
import re

import pyspark.sql.functions as F
import pytest

from conftest import SF_DIR, session_conf
from synth_transform_spark.operators.ids import assign_ids_scalable, assign_ids_window
from synth_transform_spark.plans import REGISTRY
from synth_transform_spark.sources.readers import load_table

SF01 = str(pathlib.Path(SF_DIR).parent / "sf0.1")
ORDER = ["o_orderdate", "o_orderkey"]

# the id-numbered relations of each caller: one range exchange apiece
ID_QUERIES = {
    "q12_surrogate_ids": 1,
    "q43_translator_join": 1,
    "q155_epoch_shuffle": 2,
    "q293_quantile_normalize": 1,
}

SESSIONS = {
    "default": {},
    "no-coalesce": {"spark.sql.adaptive.coalescePartitions.enabled": "false"},
    "advisory-64k": {"spark.sql.adaptive.advisoryPartitionSizeInBytes": "64k"},
    "aqe-off": {"spark.sql.adaptive.enabled": "false"},
    "one-shuffle-partition": {"spark.sql.shuffle.partitions": "1"},
}


@pytest.mark.skipif(not pathlib.Path(SF01).is_dir(), reason="sf0.1 testdata absent")
@pytest.mark.parametrize("session", sorted(SESSIONS))
def test_scalable_equals_window(spark, session):
    """Range boundaries are resampled on every run; an offset vector from a
    different run than the positions shows up as wrong ids here."""
    with session_conf(spark, SESSIONS[session]):
        orders = load_table(spark, SF01, "orders").select(*ORDER)
        got = assign_ids_scalable(orders, ORDER)
        want = assign_ids_window(orders, ORDER).withColumnRenamed("new_id", "want")
        joined = got.join(want, ORDER, "full")
        wrong = joined.filter(~F.col("new_id").eqNullSafe(F.col("want"))).count()
        assert (wrong, got.count()) == (0, orders.count())


def _final_plan(df) -> str:
    df.collect()  # the final adaptive plan of df's own query execution
    plan = df._jdf.queryExecution().executedPlan()
    assert plan.nodeName() == "AdaptiveSparkPlan"
    return plan.executedPlan().toString()


_RANGE = re.compile(
    r"(ReusedExchange \[[^\]]*\], )?Exchange (rangepartitioning\(.*?\)), REPARTITION_BY_COL"
)


@pytest.mark.parametrize("name", sorted(ID_QUERIES))
def test_range_exchange_runs_once(spark, name):
    """In the final adaptive plan each id relation's range exchange is
    executed once; every other read of it is a ``ReusedExchange``."""
    found = _RANGE.findall(_final_plan(REGISTRY[name].spark(spark, SF_DIR)))
    run = [key for reused, key in found if not reused]
    reads = [key for reused, key in found if reused]
    assert len(run) == len(set(run)) == ID_QUERIES[name]
    assert set(reads) == set(run)


def test_payload_column_raises(spark):
    orders = load_table(spark, SF_DIR, "orders").select(*ORDER, "o_totalprice")
    with pytest.raises(ValueError, match="o_totalprice"):
        assign_ids_scalable(orders, ORDER)


def test_exchange_reuse_off_raises(spark):
    orders = load_table(spark, SF_DIR, "orders").select(*ORDER)
    with session_conf(spark, {"spark.sql.exchange.reuse": "false"}):
        with pytest.raises(RuntimeError, match="exchange.reuse"):
            assign_ids_scalable(orders, ORDER)


@pytest.mark.parametrize("name", sorted(ID_QUERIES))
def test_build_launches_no_job(spark, name):
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = dag.nextJobId()
    REGISTRY[name].spark(spark, SF_DIR)
    assert dag.nextJobId() - j0 == 0


def test_empty_input_numbers_nothing(spark):
    orders = load_table(spark, SF_DIR, "orders").select(*ORDER).limit(0)
    assert assign_ids_scalable(orders, ORDER).count() == 0
