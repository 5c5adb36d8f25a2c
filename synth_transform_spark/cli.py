"""CLI — the reference's four entry points, Spark-native.

Reference: /root/reference/synth/cli.py:45-102 (`synth generate | rebuild |
update | dump`). Source/target MySQL databases become parquet directories;
the generated SQLAlchemy model becomes generated StructType code; the KV
caches become parquet cache tables.

    python -m synth_transform_spark.cli generate --input <table.parquet>
    python -m synth_transform_spark.cli rebuild  --sources <dir> --resources <dir> --out <dir>
    python -m synth_transform_spark.cli update   --keys <table.parquet> --key-col <col> \
        --cache <cache.parquet> --transport echo
    python -m synth_transform_spark.cli dump     --warehouse <dir> --out <dump.sql>
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

from pyspark.sql import DataFrame, SparkSession

from .pipeline.resources import WORKBOOK_SHEETS
from .sources.readers import read_parquet

SOURCE_TABLES = (
    "NHM_Call",
    "NHM_Disciplines",
    "NHM_Specific_Disciplines",
    "NHM_OutputTypes",
    "NHM_PublicationStatus",
    "NHM_Outputs",
    "T_List_of_Users",
    "T_List_of_UserProjects",
    "NHM_Application_Scores",
)

RESOURCE_TABLES = (
    "user_ids",
    "user_ages",
    "master_clean",
    "unmatched_towns",
    "output_dois",
    "doi_metadata",
    "city_names",
    "countries",
)



def _spark(app: str) -> SparkSession:
    from .session import get_spark

    return get_spark(app)


# -- generate ---------------------------------------------------------------
def structtype_code(df: DataFrame, name: str) -> str:
    """Emit python source declaring the inferred schema — the `synth
    generate` analogue (sqlacodegen → model file; etl.py:61-77)."""
    lines = [f"{name} = StructType(["]
    for f in df.schema.fields:
        lines.append(
            f"    StructField({f.name!r}, {f.dataType!r}, {f.nullable}),"
        )
    lines.append("])")
    return "\n".join(lines)


def cmd_generate(args) -> int:
    spark = _spark("synth-generate")
    df = read_parquet(spark, args.input)
    name = args.name or os.path.splitext(os.path.basename(args.input))[0]
    print("from pyspark.sql.types import *\n")
    print(structtype_code(df, name.replace("-", "_").upper() + "_SCHEMA"))
    return 0


# -- rebuild ----------------------------------------------------------------
def read_inputs(spark: SparkSession, sources_dir: str, resources_dir: str):
    """The rebuild inputs from their parquet directories: (sources, Resources)."""
    from .pipeline.steps import Resources

    def read(d: str, name: str) -> DataFrame:
        return read_parquet(spark, os.path.join(d, f"{name}.parquet"))

    sources = {t: read(sources_dir, t) for t in SOURCE_TABLES}
    res = Resources(
        workbook={s: read(resources_dir, f"workbook_{s}") for s in WORKBOOK_SHEETS},
        **{t: read(resources_dir, t) for t in RESOURCE_TABLES},
    )
    return sources, res


def cmd_rebuild(args) -> int:
    from .pipeline.rebuild import TABLE_ORDER, rebuild

    spark = _spark("synth-rebuild")
    tables, _ctx = rebuild(*read_inputs(spark, args.sources, args.resources))
    os.makedirs(args.out, exist_ok=True)
    counts = {}
    for name in list(TABLE_ORDER) + ["vw_project_access_requests"]:
        if name not in tables:
            continue
        if args.without_data:
            counts[name] = 0
            continue
        path = os.path.join(args.out, f"{name}.parquet")
        tables[name].write.mode("overwrite").parquet(path)
        counts[name] = read_parquet(spark, path).count()
    print(json.dumps({"rebuilt": counts}))
    return 0


# -- update -----------------------------------------------------------------
def _transport(name: str):
    if name == "echo":  # deterministic offline transport (tests/dev)
        def fetch(key: str):
            return 200, json.dumps({"key": key, "payload": f"echo:{key}"})

        return fetch
    if name == "null":  # record misses only
        def fetch(key: str):
            return 404, None

        return fetch
    raise SystemExit(
        f"unknown transport {name!r}: provide a real HTTP transport at deploy "
        "time (see enrichment/http_stage.py)"
    )


def cmd_update(args) -> int:
    from .enrichment import refresh_cache

    import pyspark.sql.functions as F

    spark = _spark("synth-update")
    # cache tables use the canonical column name `key` regardless of the
    # source key column
    universe = read_parquet(spark, args.keys).select(
        F.col(args.key_col).cast("string").alias("key")
    )
    cache = None
    had_doi = False
    if os.path.exists(args.cache):
        cache = read_parquet(spark, args.cache)
        # `doi` is a DERIVED column (deterministic re-parse of payload):
        # drop it before the refresh union so the fetched delta's schema
        # matches; it is re-derived over the whole cache below whenever
        # the incoming cache carried it OR --parse doi was passed — a
        # plain `update` on a parsed cache must not silently strip the
        # column from the persisted file
        if "doi" in cache.columns:
            had_doi = True
            cache = cache.drop("doi")
    new_cache = refresh_cache(
        cache,
        universe,
        _transport(args.transport),
        key_col="key",
        n_workers=args.workers,
        rate_per_worker=args.rate,
    )
    if had_doi or getattr(args, "parse", "none") == "doi":
        # the reference's update flow ends by parsing each publisher
        # response into a DOI (parsers/doi.py:129-223) — same here, as a
        # narrow Column stage over the fetched payloads
        from .enrichment.payloads import parse_payload_doi

        new_cache = new_cache.withColumn(
            "doi", parse_payload_doi(F.col("payload"))
        )
    new_cache = new_cache.cache()
    n = new_cache.count()
    tmp = args.cache + ".staging"
    new_cache.write.mode("overwrite").parquet(tmp)
    final = read_parquet(spark, tmp)
    final.write.mode("overwrite").parquet(args.cache)
    new_cache.unpersist()
    # the staging copy is only a write-ordering device (never overwrite the
    # live cache from a plan that reads it) — drop it once the final
    # overwrite has succeeded
    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"cache_rows": n}))
    return 0


# -- dump -------------------------------------------------------------------
def cmd_dump(args) -> int:
    from .pipeline.rebuild import TABLE_ORDER
    from .sources.dump import dump_database

    spark = _spark("synth-dump")
    tables = {}
    for name in TABLE_ORDER:
        path = os.path.join(args.warehouse, f"{name}.parquet")
        if os.path.exists(path):
            tables[name] = read_parquet(spark, path)
    counts = dump_database(tables, TABLE_ORDER, args.out)
    print(json.dumps({"dumped": counts}))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="synth-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("generate", help="infer a parquet table's StructType code")
    g.add_argument("--input", required=True)
    g.add_argument("--name")
    g.set_defaults(fn=cmd_generate)

    r = sub.add_parser("rebuild", help="run the full pipeline to a warehouse dir")
    r.add_argument("--sources", required=True)
    r.add_argument("--resources", required=True)
    r.add_argument("--out", required=True)
    r.add_argument("--without-data", action="store_true")
    r.set_defaults(fn=cmd_rebuild)

    u = sub.add_parser("update", help="refresh an enrichment cache table")
    u.add_argument("--keys", required=True)
    u.add_argument("--key-col", default="key")
    u.add_argument("--cache", required=True)
    u.add_argument("--transport", default="echo")
    u.add_argument("--workers", type=int, default=20)
    u.add_argument("--rate", type=float, default=5.0)
    u.add_argument(
        "--parse",
        choices=["none", "doi"],
        default="none",
        help="derive a parsed column from fetched payloads before writing "
        "(doi = publisher response -> DOI via enrichment.payloads, the "
        "reference's update flow)",
    )
    u.set_defaults(fn=cmd_update)

    d = sub.add_parser("dump", help="serialise a warehouse dir to one SQL file")
    d.add_argument("--warehouse", required=True)
    d.add_argument("--out", required=True)
    d.set_defaults(fn=cmd_dump)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
