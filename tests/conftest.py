from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from synth_transform_spark.session import get_spark

    s = get_spark("synth-transform-tests")
    yield s


@pytest.fixture(autouse=True)
def _release_tracked_caches():
    """Unpersist operator-tracked caches after every test (caching.py)."""
    yield
    from synth_transform_spark.caching import release_cached

    release_cached()


@pytest.fixture(scope="session")
def oracle_con():
    from synth_transform_spark.testing import duckdb_connection

    con = duckdb_connection(SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="session")
def pipeline_dirs(spark, tmp_path_factory):
    """``tests/pipeline_fixtures.py`` written once per session as the parquet
    directories ``synth rebuild`` reads: (root, sources dir, resources dir).

    Reading the fixtures back from parquet keeps every pipeline test off
    Python-RDD scans, which are several times slower to execute."""
    from pipeline_fixtures import build_resources, build_sources
    from synth_transform_spark.cli import RESOURCE_TABLES, SOURCE_TABLES

    root = tmp_path_factory.mktemp("pipeline")
    src_dir, res_dir = root / "sources", root / "resources"
    src_dir.mkdir(), res_dir.mkdir()
    sources = build_sources(spark)
    for name in SOURCE_TABLES:
        sources[name].write.mode("overwrite").parquet(str(src_dir / f"{name}.parquet"))
    res = build_resources(spark, str(root))
    for field in RESOURCE_TABLES:
        getattr(res, field).write.mode("overwrite").parquet(
            str(res_dir / f"{field}.parquet")
        )
    for sheet, df in res.workbook.items():
        df.write.mode("overwrite").parquet(str(res_dir / f"workbook_{sheet}.parquet"))
    return root, src_dir, res_dir
