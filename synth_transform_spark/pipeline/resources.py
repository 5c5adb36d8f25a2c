"""Supplementary-resource loaders (reference: /root/reference/synth/resources.py).

Six resources feed `rebuild` (SURVEY.md §2.1 S5-S8):

- users.csv            — GUID ↔ per-round multi-valued user-id cells + ages
                         (resources.py:366-467); exploded to long-form
                         DataFrames here.
- master_clean.json    — dirty→clean institution names, 'nil' sentinel
                         (resources.py:151-165).
- unmatched_home_institutions.json — town → ISO2 manual map
                         (resources.py:492-495).
- access_request_rebuild workbook — 4 sheets (resources.py:470-489); read
                         via the stdlib xlsx parser, else a directory of
                         per-sheet CSVs (same shapes).
- output_dois / doi_metadata KV caches (resources.py:87-131, 168-257) —
                         parquet KV tables here (the network `update` stage
                         that fills them is enrichment, not rebuild).
- cities               — geonames-shaped (name, countrycode, population,
                         alternatenames) seed table (etl.py:677-683).
"""

from __future__ import annotations

import csv
import json
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .errors import DuplicateUserGUIDError

_ROUNDS = (1, 2, 3, 4)


def load_users(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """users.csv → (user_ids, user_ages).

    user_ids:  (guid long, synth_round int, user_id long) — one row per id in
               the comma-separated per-round cells (resources.py:429).
    user_ages: (guid long, synth_round int, age_range string).

    Duplicate GUIDs raise DuplicateUserGUIDError (resources.py:420-421).
    The file is driver-side small (PII-reduced extract) — read locally,
    validated, then parallelised; at scale the same shape arrives as a
    proper table and the explode happens in-plan.
    """
    with open(path, newline="") as f:
        rows = list(csv.DictReader(f))
    seen: set[str] = set()
    dups = [r["GUID"] for r in rows if r["GUID"] in seen or seen.add(r["GUID"])]
    if dups:
        raise DuplicateUserGUIDError(dups)

    id_rows, age_rows = [], []
    for r in rows:
        guid = int(r["GUID"])
        for rnd in _ROUNDS:
            cell = (r.get(f"synth{rnd}") or "").strip()
            if cell:
                for uid in cell.split(","):
                    id_rows.append((guid, rnd, int(uid)))
            age = (r.get(f"synth round {rnd} age") or "").strip()
            age_rows.append((guid, rnd, age or None))
    user_ids = spark.createDataFrame(
        id_rows, "guid long, synth_round int, user_id long"
    )
    user_ages = spark.createDataFrame(
        age_rows, "guid long, synth_round int, age_range string"
    )
    return user_ids, user_ages


def load_json_map(spark: SparkSession, path: str, key_name: str, value_name: str) -> DataFrame:
    """A dict-shaped JSON lookup file as a 2-column broadcastable DataFrame."""
    with open(path) as f:
        data = json.load(f)
    return spark.createDataFrame(
        list(data.items()), f"{key_name} string, {value_name} string"
    )


#: Workbook sheet names (resources.py:476-489).
WORKBOOK_SHEETS = ("Category", "Institution", "InstallationFacility", "AccessRequest")


def load_workbook(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """access_request_rebuild workbook → {sheet: DataFrame}.

    ``path`` is either an .xlsx file (parsed with the stdlib reader in
    ``pipeline.xlsx`` — an xlsx is a zip of SpreadsheetML parts, so no
    openpyxl is needed) or a directory of ``<Sheet>.csv`` files with
    identical shapes (the original fallback, retained).
    """
    import pandas as pd

    sheets: dict[str, DataFrame] = {}
    if os.path.isdir(path):
        for s in WORKBOOK_SHEETS:
            pdf = pd.read_csv(os.path.join(path, f"{s}.csv"))
            sheets[s] = spark.createDataFrame(pdf)
    else:
        from .xlsx import read_xlsx

        raw = read_xlsx(path)
        for s in WORKBOOK_SHEETS:
            sheets[s] = spark.createDataFrame(raw[s])
    return sheets


def city_name_index(cities: DataFrame) -> DataFrame:
    """Exploded lowercase name index: (name_lc, countrycode, population,
    city_id). Precomputed once — the scale replacement for the reference's
    per-row scan over ~25k cities (etl.py:689-696)."""
    from ..operators.ids import assign_ids_scalable

    # deterministic city identity; the range-partitioned assigner keeps even
    # this seed table off the single-reducer path (geonames is ~25k rows
    # today but a full gazetteer is 12M+). It numbers a relation of exactly
    # its order columns, so every column the index reads is an order column:
    # population and alternatenames break (name, countrycode) ties.
    cols = ["name", "countrycode", "population", "alternatenames"]
    base = assign_ids_scalable(cities.select(*cols), cols, "city_id")
    names = base.select(
        "city_id",
        "countrycode",
        "population",
        F.explode(
            F.array_union(
                F.array(F.lower(F.col("name"))),
                F.transform(
                    F.coalesce("alternatenames", F.array()), lambda n: F.lower(n)
                ),
            )
        ).alias("name_lc"),
    )
    return names.distinct()
