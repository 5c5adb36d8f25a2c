"""bench.py self-description: plan fingerprints must be stable across
re-buildings of the same logical plan (expression ids differ every
time — canonicalisation must erase them) and must differ when the plan
shape genuinely changes."""

from __future__ import annotations

import pathlib
import re
import sys

import pyspark.sql.functions as F

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))
from bench import plan_fingerprint  # noqa: E402

from conftest import SF_DIR  # noqa: E402


def _plan(spark, flag):
    from synth_transform_spark.sources.readers import load_table

    df = load_table(spark, SF_DIR, "lineitem")
    out = df.filter(F.col("l_quantity") > 10).groupBy("l_returnflag").agg(
        F.sum("l_extendedprice").alias("s")
    )
    if flag:
        out = out.filter(F.col("s") > 0)
    return out


def test_fingerprint_stable_across_rebuilds(spark):
    a = plan_fingerprint(_plan(spark, False))
    b = plan_fingerprint(_plan(spark, False))
    assert a == b
    assert len(a) == 12


def test_fingerprint_changes_with_plan_shape(spark):
    a = plan_fingerprint(_plan(spark, False))
    b = plan_fingerprint(_plan(spark, True))
    assert a != b


def test_fingerprint_on_registry_headline(spark):
    # a real headline query fingerprints deterministically
    from synth_transform_spark.plans import REGISTRY

    q = next(q for q in REGISTRY.values() if q.bench)
    a = plan_fingerprint(q.spark(spark, SF_DIR))
    b = plan_fingerprint(q.spark(spark, SF_DIR))
    assert a == b


def _lambda_scan(spark):
    from synth_transform_spark.sources.readers import load_table

    docs = load_table(spark, SF_DIR, "documents")
    hit = F.exists(F.split("text", " "), lambda t: t == "needle")
    return docs.filter(hit & (F.length("text") > 3)).select("doc_id")


def _next_lambda_id() -> int:
    probe = str(F.transform(F.array(), lambda x: x))
    return int(re.search(r"x_(\d+)", probe).group(1)) + 1


def test_fingerprint_ignores_lambda_id_width(spark):
    # The FileScan's DataFilters list renders past Spark's 100-char
    # metadata cut, with lambda variable ids inside it. Building other
    # lambdas until the ids gain a digit moves that cut; the fingerprint
    # must not move with it.
    a = plan_fingerprint(_lambda_scan(spark))
    n = _next_lambda_id()
    for _ in range(10 ** len(str(n)) - n):
        F.transform(F.array(), lambda x: x)
    assert len(str(_next_lambda_id())) > len(str(n))
    assert plan_fingerprint(_lambda_scan(spark)) == a
