from __future__ import annotations

import contextlib

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from synth_transform_spark.session import get_spark

    s = get_spark("synth-transform-tests")
    yield s


@contextlib.contextmanager
def session_conf(spark, confs: dict):
    """Set ``confs`` on the shared session for the block, then restore each
    key's earlier value (unset when it had none)."""
    before = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


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


def _write_rows(path: str, schema, rows: list) -> None:
    """``rows`` as one parquet file of Spark ``schema``, written by pyarrow:
    no Spark job. Naive datetimes are local time, as in
    ``spark.createDataFrame``."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    def utc(v):
        naive = isinstance(v, dt.datetime) and v.tzinfo is None
        return v.astimezone(dt.timezone.utc) if naive else v

    arrow = to_arrow_schema(schema)
    cols = [pa.array([utc(r[k]) for r in rows], f.type) for k, f in enumerate(arrow)]
    pq.write_table(pa.Table.from_arrays(cols, schema=arrow), path)


@pytest.fixture(scope="session")
def pipeline_dirs(spark, tmp_path_factory):
    """``tests/pipeline_fixtures.py`` written once per session as the parquet
    directories ``synth rebuild`` reads: (root, sources dir, resources dir).

    Reading the fixtures back from parquet keeps every pipeline test off
    Python-RDD scans, which are several times slower to execute. The source
    tables and the row-built resources are written by pyarrow; the resources
    only a loader builds (users, workbook sheets, city-name index) by Spark.
    Every table must read back with the schema it was built with (a
    timestamp must not come back as TIMESTAMP_NTZ); the schema is taken
    from the footer by ``parquet_schema``, which runs no Spark job."""
    from pipeline_fixtures import build_resources, build_sources, resource_rows, source_rows
    from synth_transform_spark.cli import RESOURCE_TABLES, SOURCE_TABLES
    from synth_transform_spark.sources.readers import parquet_schema

    root = tmp_path_factory.mktemp("pipeline")
    src_dir, res_dir = root / "sources", root / "resources"
    src_dir.mkdir(), res_dir.mkdir()
    sources = build_sources(spark)
    res = build_resources(spark, str(root))
    rows = {**source_rows(), **resource_rows()}
    tables = {src_dir / name: sources[name] for name in SOURCE_TABLES}
    tables |= {res_dir / field: getattr(res, field) for field in RESOURCE_TABLES}
    tables |= {res_dir / f"workbook_{s}": df for s, df in res.workbook.items()}
    for base, df in tables.items():
        path = f"{base}.parquet"
        if base.name in rows:
            _write_rows(path, df.schema, rows[base.name][1])
        else:
            df.write.mode("overwrite").parquet(path)
        back = parquet_schema(spark, path).simpleString()
        if back != df.schema.simpleString():
            raise AssertionError(f"{path} reads back as {back}, built as {df.schema.simpleString()}")
    return root, src_dir, res_dir
