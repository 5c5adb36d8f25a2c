"""End-to-end CLI tests: generate → rebuild → dump → update over parquet
fixtures (the four reference entry points, cli.py:45-102)."""

from __future__ import annotations

import json
import os

from synth_transform_spark.cli import main


def test_generate_emits_structtype(spark, pipeline_dirs, capsys):
    _, src_dir, _ = pipeline_dirs
    rc = main(["generate", "--input", str(src_dir / "NHM_Call.parquet")])
    out = capsys.readouterr().out
    assert rc == 0
    assert "StructType" in out and "StructField" in out
    # emitted code must be valid python declaring the schema
    ns: dict = {}
    exec(out, ns)  # noqa: S102 — generated code, test-only
    assert "NHM_CALL_SCHEMA" in ns


# default tier: rebuild plus dump takes ~20 s on a 4-core host, inside the
# 60 s budget for a default-tier test
def test_rebuild_and_dump(spark, pipeline_dirs, capsys):
    root, src_dir, res_dir = pipeline_dirs
    out_dir = root / "warehouse"
    rc = main(
        [
            "rebuild",
            "--sources",
            str(src_dir),
            "--resources",
            str(res_dir),
            "--out",
            str(out_dir),
        ]
    )
    assert rc == 0
    counts = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["rebuilt"]
    assert counts["Round"] == 4
    assert counts["VisitorProject"] > 0
    assert os.path.exists(out_dir / "Output.parquet")

    dump_path = root / "dump.sql"
    rc = main(["dump", "--warehouse", str(out_dir), "--out", str(dump_path)])
    assert rc == 0
    sql = open(dump_path).read()
    assert sql.count("CREATE TABLE") >= 10
    assert "INSERT INTO `VisitorProject`" in sql
    # deterministic FK-topological order: Round DDL precedes VisitorProject's
    assert sql.index("CREATE TABLE `Round`") < sql.index("CREATE TABLE `VisitorProject`")


def test_update_refreshes_cache_incrementally(spark, pipeline_dirs, capsys):
    root, src_dir, _ = pipeline_dirs
    cache_path = str(root / "doi_cache.parquet")
    keys = str(src_dir / "NHM_Outputs.parquet")
    rc = main(
        ["update", "--keys", keys, "--key-col", "Output_ID", "--cache", cache_path,
         "--transport", "echo", "--workers", "2", "--rate", "1000"]
    )
    assert rc == 0
    n1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["cache_rows"]
    assert n1 > 0
    # second run: nothing new to fetch, cache unchanged
    rc = main(
        ["update", "--keys", keys, "--key-col", "Output_ID", "--cache", cache_path,
         "--transport", "echo", "--workers", "2", "--rate", "1000"]
    )
    assert rc == 0
    n2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["cache_rows"]
    assert n2 == n1


def test_update_parse_doi_derives_column(spark, pipeline_dirs, capsys):
    """--parse doi completes the reference's update flow: the fetched
    payloads are parsed into a `doi` column (enrichment.payloads), the
    column survives re-runs (derived → dropped → re-derived), and the
    echo transport's JSON payloads (no DOI inside) parse to NULL without
    error."""
    import pyspark.sql.functions as F

    root, src_dir, _ = pipeline_dirs
    cache_path = str(root / "doi_cache2.parquet")
    keys = str(src_dir / "NHM_Outputs.parquet")
    args = ["update", "--keys", keys, "--key-col", "Output_ID",
            "--cache", cache_path, "--transport", "echo",
            "--workers", "2", "--rate", "1000", "--parse", "doi"]
    assert main(args) == 0
    n1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["cache_rows"]
    cache = spark.read.parquet(cache_path)
    assert "doi" in cache.columns
    # echo payloads are JSON objects (not arrays) with no DOI anywhere →
    # the parse falls through to the plain regex and yields NULL
    assert cache.filter(F.col("doi").isNotNull()).count() == 0
    # idempotent re-run with the derived column already in the cache
    assert main(args) == 0
    n2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["cache_rows"]
    assert n2 == n1
    assert "doi" in spark.read.parquet(cache_path).columns


def test_update_without_parse_preserves_derived_doi(spark, pipeline_dirs, capsys):
    """Round-11 advice: a plain `update` (no --parse) on a cache that was
    built WITH --parse doi must re-derive the column, not silently strip
    it from the persisted cache."""
    import pyspark.sql.functions as F

    root, src_dir, _ = pipeline_dirs
    cache_path = str(root / "doi_cache3.parquet")
    keys = str(src_dir / "NHM_Outputs.parquet")
    base = ["update", "--keys", keys, "--key-col", "Output_ID",
            "--cache", cache_path, "--transport", "echo",
            "--workers", "2", "--rate", "1000"]
    assert main(base + ["--parse", "doi"]) == 0
    n1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["cache_rows"]
    assert "doi" in spark.read.parquet(cache_path).columns
    # plain update, no --parse: the column must survive
    assert main(base) == 0
    n2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["cache_rows"]
    assert n2 == n1
    cache = spark.read.parquet(cache_path)
    assert "doi" in cache.columns
    # a cache NEVER parsed stays doi-less under plain update (no surprise
    # column materialises from nowhere)
    cache_path2 = str(root / "doi_cache4.parquet")
    base2 = [a if a != cache_path else cache_path2 for a in base]
    assert main(base2) == 0
    capsys.readouterr()
    assert "doi" not in spark.read.parquet(cache_path2).columns
