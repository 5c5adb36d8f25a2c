"""Oracle-backed queries for the pipeline-only §2 operators (J3, J12, F4).

The reference exercises these ops on its private CSV/DB fixtures; here each
gets a driver-gated twin over the public testdata tables, with every input
derived DETERMINISTICALLY from table columns (identical derivations on the
Spark and DuckDB sides) so the driver's value-hash compare is meaningful.
The Spark side runs the same operator code paths the pipeline uses
(cleaning.clean_institution; q52 runs ``steps.resolve_towns``, the staged
resolver of pipeline/steps.fill_missing_country, over the derived index).

Reference lineage:
- J3  GUID containment lookup — /root/reference/synth/resources.py:445-457
  (lookup_guid: (round, user_id) ∈ guid row's per-round id list).
- J12 city/country resolution — /root/reference/synth/etl.py:689-752
  (manual map → exact name/alt-name match → first-delimiter prefix split →
  single-country collapse else max population).
- F4  clean_institution — /root/reference/synth/utils.py:105-124
  (clean_string → master_clean lookup, 'nil' ⇒ NULL, miss keeps cleaned).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions import cleaning
from ..pipeline.steps import resolve_towns
from ..sources.readers import load_table
from .registry import register


@register(
    "q51_guid_containment",
    oracle="""
WITH user_ids AS (
    SELECT r.r AS synth_round, c_custkey AS user_id,
           MD5('guid|' || CAST(c_custkey % 400 AS VARCHAR)) AS guid
    FROM customer, (SELECT UNNEST(GENERATE_SERIES(1, 3)) AS r) r
    WHERE c_acctbal > 0 AND c_custkey % (r.r + 3) = 0
),
probe AS (
    SELECT o_orderkey, o_orderkey % 3 + 1 AS synth_round,
           o_custkey AS user_id
    FROM orders
)
SELECT p.o_orderkey, p.synth_round, p.user_id, u.guid
FROM probe p
JOIN user_ids u ON u.synth_round = p.synth_round AND u.user_id = p.user_id
""",
    tags=("J3", "J14"),
)
def q51_guid_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: (round, user_id) membership lookup against a per-round GUID
    registry, drop-on-miss.

    The registry is derived from ``customer``: solvent customers only
    (misses exist), per-round membership varies (custkey % (round+3) = 0),
    guid = md5 surrogate. The registry is the relational (exploded) form of
    the reference's guid→id-list rows — the broadcast inner equi-join IS the
    containment test, exactly as pipeline/steps.fill_visitor_project:311
    performs it; at 100 TB the registry is the small side and broadcasts.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    user_ids = (
        customer.select(
            F.explode(
                F.sequence(F.lit(1).cast("long"), F.lit(3).cast("long"))
            ).alias("synth_round"),
            F.col("c_custkey").alias("user_id"),
            F.col("c_acctbal"),
        )
        .filter(
            (F.col("c_acctbal") > 0)
            & (F.col("user_id") % (F.col("synth_round") + 3) == 0)
        )
        .select(
            "synth_round",
            "user_id",
            F.md5(
                F.concat(F.lit("guid|"), (F.col("user_id") % 400).cast("string"))
            ).alias("guid"),
        )
    )
    probe = orders.select(
        "o_orderkey",
        (F.col("o_orderkey") % 3 + 1).alias("synth_round"),
        F.col("o_custkey").alias("user_id"),
    )
    return probe.join(
        F.broadcast(user_ids), ["synth_round", "user_id"], "inner"
    ).select("o_orderkey", "synth_round", "user_id", "guid")


# q52 constants: city index from the even parts < 800 (every p_name token
# is a city name/alt-name), towns to resolve from the odd parts < 800
# (second token, with a per-row delimiter treatment), manual map = the towns
# with id % 50 = 1 → 'MM'. A parity split, so every scale factor has both
# cities and towns (sf0.001's part table has 200 rows).


@register(
    "q52_city_resolution",
    oracle="""
WITH cities AS (
    SELECT p_partkey AS city_id,
           'C' || CAST(p_partkey % 25 AS VARCHAR) AS countrycode,
           p_size * 1000 + p_partkey AS population,
           UNNEST(LIST_DISTINCT(STRING_SPLIT(p_name, ' '))) AS name_lc
    FROM part WHERE p_partkey < 800 AND p_partkey % 2 = 0
),
towns AS (
    SELECT p_partkey AS town_id,
           CASE p_partkey % 8
               WHEN 1 THEN t2
               WHEN 3 THEN t2 || ', Xx'
               WHEN 5 THEN t2 || ' - Yy'
               ELSE 'zz. ' || t2
           END AS town
    FROM (
        SELECT p_partkey, STRING_SPLIT(p_name, ' ')[2] AS t2
        FROM part WHERE p_partkey < 800 AND p_partkey % 2 = 1
    ) t
),
manual AS (
    SELECT DISTINCT town, 'MM' AS m_code FROM towns WHERE town_id % 50 = 1
),
exact AS (
    SELECT town_id, countrycode AS exact_code FROM (
        SELECT t.town_id, c.countrycode,
               ROW_NUMBER() OVER (PARTITION BY t.town_id
                                  ORDER BY c.population DESC, c.city_id DESC) AS rk
        FROM towns t JOIN cities c ON c.name_lc = LOWER(TRIM(t.town))
    ) x WHERE rk = 1
),
split0 AS (
    SELECT town_id, countrycode AS split_code_0 FROM (
        SELECT t.town_id, c.countrycode,
               ROW_NUMBER() OVER (PARTITION BY t.town_id
                                  ORDER BY c.population DESC, c.city_id DESC) AS rk
        FROM towns t
        JOIN cities c
          ON LEN(STRING_SPLIT(t.town, ', ')) > 1
         AND c.name_lc = LOWER(TRIM(STRING_SPLIT(t.town, ', ')[1]))
    ) x WHERE rk = 1
),
split1 AS (
    SELECT town_id, countrycode AS split_code_1 FROM (
        SELECT t.town_id, c.countrycode,
               ROW_NUMBER() OVER (PARTITION BY t.town_id
                                  ORDER BY c.population DESC, c.city_id DESC) AS rk
        FROM towns t
        JOIN cities c
          ON LEN(STRING_SPLIT(t.town, ' - ')) > 1
         AND c.name_lc = LOWER(TRIM(STRING_SPLIT(t.town, ' - ')[1]))
    ) x WHERE rk = 1
),
split2 AS (
    SELECT town_id, countrycode AS split_code_2 FROM (
        SELECT t.town_id, c.countrycode,
               ROW_NUMBER() OVER (PARTITION BY t.town_id
                                  ORDER BY c.population DESC, c.city_id DESC) AS rk
        FROM towns t
        JOIN cities c
          ON LEN(STRING_SPLIT(t.town, '. ')) > 1
         AND c.name_lc = LOWER(TRIM(STRING_SPLIT(t.town, '. ')[1]))
    ) x WHERE rk = 1
)
SELECT t.town_id, t.town,
       COALESCE(m.m_code, e.exact_code, s0.split_code_0, s1.split_code_1,
                s2.split_code_2) AS country_code
FROM towns t
LEFT JOIN manual m ON m.town = t.town
LEFT JOIN exact e ON e.town_id = t.town_id
LEFT JOIN split0 s0 ON s0.town_id = t.town_id
LEFT JOIN split1 s1 ON s1.town_id = t.town_id
LEFT JOIN split2 s2 ON s2.town_id = t.town_id
WHERE COALESCE(m.m_code, e.exact_code, s0.split_code_0, s1.split_code_1,
               s2.split_code_2) IS NOT NULL
""",
    tags=("J12", "W3"),
)
def q52_city_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12: staged town→country resolution over a derived city-name index.

    Runs ``steps.resolve_towns``, the resolver of
    pipeline/steps.fill_missing_country (reference etl.py:689-752), so the
    oracle checks the code ``synth rebuild`` runs: manual map on the raw
    string wins, else exact lowercase match against the name/alt-name
    index, else the first literal delimiter (', ', ' - ', '. ') whose
    prefix matches; ambiguous candidate sets collapse by max population
    with a deterministic city_id tie-break (W3 argmax). Index and towns are
    derived from ``part`` name tokens — the color vocabulary repeats across
    parts, so genuine ambiguity (same name, many cities, different
    countries) is exercised. One broadcast equi-join + a per-(town, stage)
    window; nothing scans the index per-row as the reference does.
    """
    part = load_table(spark, sf_dir, "part")
    toks = F.array_distinct(F.split(F.col("p_name"), " "))
    cities = part.filter(
        (F.col("p_partkey") < 800) & (F.col("p_partkey") % 2 == 0)
    ).select(
        F.col("p_partkey").alias("city_id"),
        F.concat(F.lit("C"), (F.col("p_partkey") % 25).cast("string")).alias(
            "countrycode"
        ),
        (F.col("p_size") * 1000 + F.col("p_partkey")).alias("population"),
        F.explode(toks).alias("name_lc"),
    )
    t2 = F.element_at(F.split(F.col("p_name"), " "), 2)
    towns = part.filter(
        (F.col("p_partkey") < 800) & (F.col("p_partkey") % 2 == 1)
    ).select(
        F.col("p_partkey").alias("town_id"),
        F.when(F.col("p_partkey") % 8 == 1, t2)
        .when(F.col("p_partkey") % 8 == 3, F.concat(t2, F.lit(", Xx")))
        .when(F.col("p_partkey") % 8 == 5, F.concat(t2, F.lit(" - Yy")))
        .otherwise(F.concat(F.lit("zz. "), t2))
        .alias("town"),
    )
    manual = (
        towns.filter(F.col("town_id") % 50 == 1)
        .select(
            F.col("town").alias("home_institution_town"), F.lit("MM").alias("m_code")
        )
        .distinct()
    )
    todo = towns.select(
        F.col("town_id").alias("id"), F.col("town").alias("home_institution_town")
    ).join(F.broadcast(manual), "home_institution_town", "left")
    resolved = resolve_towns(todo, F.broadcast(cities)).select(
        F.col("id").alias("town_id"),
        F.coalesce("m_code", "city_code").alias("country_code"),
    )
    return (
        towns.join(resolved, "town_id")
        .select("town_id", "town", "country_code")
        .filter(F.col("country_code").isNotNull())
    )


# q53 master_clean mapping (dirty → clean; 'nil' ⇒ scrub to NULL) — literal
# on both sides, keys chosen to hit the derived cleaned strings.
_Q53_MAPPING = [
    ("BUILDING corp", "Building Holdings"),
    ("MACHINERY corp", "nil"),
    ("AUTOMOBILE ltd", "Auto Grp"),
]


@register(
    "q53_clean_institution",
    oracle="""
WITH inst AS (
    SELECT c_custkey,
           '  ' || c_mktsegment ||
           CASE c_custkey % 3
               WHEN 0 THEN '<b> corp</b>'
               WHEN 1 THEN CHR(9) || CHR(9) || 'ltd'
               ELSE ''
           END AS raw
    FROM customer
),
cleaned AS (
    SELECT c_custkey,
           CASE WHEN REGEXP_MATCHES(s4, '\\w') THEN s4 END AS cleaned
    FROM (
        SELECT c_custkey,
               REGEXP_REPLACE(
                   REGEXP_REPLACE(
                       REGEXP_REPLACE(
                           REGEXP_REPLACE(raw, '[\\r\\n\\t]+', ' ', 'g'),
                           '<[^>]+>', '', 'g'),
                       '\\s{2,}', ' ', 'g'),
                   '^\\s+', '') AS s4
        FROM inst
    ) t
),
map AS (
    SELECT * FROM (VALUES
        ('BUILDING corp', 'Building Holdings'),
        ('MACHINERY corp', 'nil'),
        ('AUTOMOBILE ltd', 'Auto Grp')
    ) m(dirty, clean)
)
SELECT c.c_custkey,
       CASE WHEN m.dirty IS NOT NULL
            THEN CASE WHEN m.clean <> 'nil' THEN m.clean END
            ELSE c.cleaned
       END AS clean_name
FROM cleaned c
LEFT JOIN map m ON m.dirty = c.cleaned
""",
    tags=("F4", "F1"),
)
def q53_clean_institution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: clean_string → master_clean lookup over derived messy names.

    Raw names are built from ``c_mktsegment`` with per-row grime (leading
    whitespace, HTML tags, tabs) so the clean_string chain does real work;
    the mapping hits cleaned keys with all three reference behaviours:
    mapped replacement, 'nil' scrub to NULL, and miss-keeps-cleaned. Runs
    the actual pipeline code path (functions/cleaning.clean_institution —
    broadcast map join, JVM-side regexp chain).
    """
    customer = load_table(spark, sf_dir, "customer")
    inst = customer.select(
        "c_custkey",
        F.concat(
            F.lit("  "),
            F.col("c_mktsegment"),
            F.when(F.col("c_custkey") % 3 == 0, F.lit("<b> corp</b>"))
            .when(F.col("c_custkey") % 3 == 1, F.lit("\t\tltd"))
            .otherwise(F.lit("")),
        ).alias("raw"),
    )
    mapping = spark.createDataFrame(_Q53_MAPPING, "dirty string, clean string")
    return cleaning.clean_institution(inst, "raw", mapping, "clean_name").select(
        "c_custkey", "clean_name"
    )


@register(
    "q58_inequality_filter",
    oracle="""
SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 4) AS total_price
FROM orders
WHERE o_orderstatus <> 'O' AND o_totalprice >= 100000
""",
    tags=("P2", "P8"),
)
def q58_inequality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: the reference's state-exclusion filter shape
    (fill_visitor_project drops Application_State = 'edit',
    /root/reference/synth/etl.py:447) as a pushed-down <> + range predicate.
    Both predicates must reach the parquet scan (PushedFilters)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter((F.col("o_orderstatus") != "O") & (F.col("o_totalprice") >= 100000))
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.round("o_totalprice", 4).alias("total_price"),
        )
    )


@register(
    "q59_null_aware_conditional",
    oracle="""
SELECT c_custkey,
       COALESCE(NULLIF(c_mktsegment, 'MACHINERY'), 'UNSPECIFIED') AS segment,
       CASE WHEN c_acctbal < 0 THEN NULL ELSE ROUND(c_acctbal, 4) END AS balance,
       CAST(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS BIGINT) AS was_negative
FROM customer
""",
    tags=("P7", "P11"),
)
def q59_null_aware_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: null-aware conditional rewriting — sentinel → NULL (NULLIF),
    NULL → default (COALESCE), and value-dependent nulling with a flag
    (the reference's falsy-score and sentinel-cleanup idioms,
    pipeline/steps.py clean_outputs / functions/cleaning sentinels)."""
    customer = load_table(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.coalesce(
            F.when(F.col("c_mktsegment") != "MACHINERY", F.col("c_mktsegment")),
            F.lit("UNSPECIFIED"),
        ).alias("segment"),
        F.when(F.col("c_acctbal") >= 0, F.round("c_acctbal", 4)).alias("balance"),
        (F.col("c_acctbal") < 0).cast("long").alias("was_negative"),
    )


@register(
    "q60_project_user_join",
    oracle="""
SELECT o_orderkey, c_custkey, c_name, ROUND(o_totalprice, 4) AS total_price
FROM orders
JOIN customer ON c_custkey = o_custkey
WHERE o_orderpriority = '1-URGENT'
""",
    tags=("J2",),
)
def q60_project_user_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: the project→user equi-join (fill_visitor_project joins projects
    to their users, /root/reference/synth/etl.py:476-488) — a plain inner
    equi-join on the user key; at 100 TB both sides are large, so the plan
    is a shuffle join on the key, not a broadcast."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "o_orderkey",
            "c_custkey",
            "c_name",
            F.round("o_totalprice", 4).alias("total_price"),
        )
    )


@register(
    "q61_institution_country",
    oracle="""
SELECT s_suppkey, n_name AS country, r_name AS region
FROM supplier
JOIN nation ON n_nationkey = s_nationkey
JOIN region ON r_regionkey = n_regionkey
""",
    tags=("J6",),
)
def q61_institution_country(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: institution→country resolution with the reference's uniqueness
    assertion (fill_institution maps each institution to exactly one
    country and fails loudly otherwise, /root/reference/synth/etl.py:560-
    585). The lookup-uniqueness check is a bounded driver-side assert on
    the aggregated lookup (one tiny job), mirroring the reference's
    fail-fast behaviour — never a per-row collect."""
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dup = (
        nation.groupBy("n_nationkey").agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(f"country lookup key not unique: {dup[0]['n_nationkey']}")
    return (
        supplier.join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(region), F.col("r_regionkey") == F.col("n_regionkey"))
        .select(
            "s_suppkey",
            F.col("n_name").alias("country"),
            F.col("r_name").alias("region"),
        )
    )
