"""Relational operator queries over the driver star schema.

Each query re-expresses a SURVEY.md §2 operator family on the driver's
TPC-H-ish tables (the reference's own tables don't ship with the driver;
fixture-family pipeline goldens live in tests/). Tags cite the §2 ids.

Plan hygiene (checked via .explain in tests/test_plans.py):
- filters/projections sit directly on the parquet scans (pushdown),
- small dims (region/nation/supplier/part at test SF) broadcast,
- aggregates are partial-agg friendly (no distinct-on-top-of-window shapes).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators import ids, stats, windows
from ..sources.readers import load_table
from .registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# q01 — TPC-H Q1 shape: scan → filter → groupBy → multi-agg (S1, P10, A1).
# --------------------------------------------------------------------------
@register(
    "q01_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 4)                               AS sum_qty,
       ROUND(SUM(l_extendedprice), 4)                          AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4)       AS sum_disc_price,
       ROUND(AVG(l_quantity), 4)                               AS avg_qty,
       ROUND(AVG(l_extendedprice), 4)                          AS avg_price,
       COUNT(*)                                                AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1999-09-02'
GROUP BY l_returnflag, l_linestatus
""",
    tags=("S1", "P10", "A1"),
    bench=True,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1999-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# q02 — flagship: the reference's access-request rollup view
# (SURVEY §2.4 A2 + §2.3 J7; /root/reference/synth/etl.py:651-671):
# per key: COUNT(DISTINCT id), SUM(metric), IF(count=1,false,true) flag,
# left-joined to the parent entity.
# --------------------------------------------------------------------------
@register(
    "q02_multi_access_rollup",
    oracle="""
SELECT c.c_custkey, c.c_name,
       agg.n_orders,
       agg.total_price,
       agg.multi_order_flag
FROM customer c
JOIN (
    SELECT o_custkey,
           COUNT(DISTINCT o_orderkey)      AS n_orders,
           ROUND(SUM(o_totalprice), 4)     AS total_price,
           COUNT(DISTINCT o_orderkey) > 1  AS multi_order_flag
    FROM orders
    GROUP BY o_custkey
) agg ON agg.o_custkey = c.c_custkey
""",
    tags=("A2", "J7"),
    bench=True,
)
def q02_multi_access_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    agg = orders.groupBy("o_custkey").agg(
        F.countDistinct("o_orderkey").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        (F.countDistinct("o_orderkey") > 1).alias("multi_order_flag"),
    )
    return customer.join(
        agg, customer.c_custkey == agg.o_custkey
    ).select("c_custkey", "c_name", "n_orders", "total_price", "multi_order_flag")


# --------------------------------------------------------------------------
# q03 — evaluation-score statistics semantics (SURVEY §2.4 A3;
# /root/reference/synth/etl.py:772-821, utils.py:156-199): falsy-filter,
# count/mean/mode/sum/sample-stddev, min-size gates, deterministic mode.
# --------------------------------------------------------------------------
@register(
    "q03_score_stats",
    oracle="""
WITH vals AS (
    SELECT l_orderkey, l_quantity
    FROM lineitem
    WHERE l_quantity IS NOT NULL AND l_quantity <> 0
),
st AS (
    SELECT l_orderkey,
           COUNT(*) AS n_scores,
           ROUND(AVG(l_quantity), 4) AS mean_score,
           ROUND(SUM(l_quantity), 4) AS sum_score,
           CASE WHEN COUNT(*) >= 2 THEN ROUND(STDDEV_SAMP(l_quantity), 4) END AS std_dev
    FROM vals GROUP BY l_orderkey
),
cnt AS (
    SELECT l_orderkey, l_quantity AS v, COUNT(*) AS c
    FROM vals GROUP BY l_orderkey, l_quantity
),
md AS (
    SELECT l_orderkey, v AS mode_score
    FROM (
        SELECT l_orderkey, v,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY c DESC, v ASC) AS rk
        FROM cnt
    ) ranked
    WHERE rk = 1
)
SELECT st.l_orderkey, st.n_scores, st.mean_score, st.sum_score, st.std_dev, md.mode_score
FROM st JOIN md ON md.l_orderkey = st.l_orderkey
""",
    tags=("A3", "W1-adjacent"),
    bench=True,
)
def q03_score_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    return stats.grouped_stats(li, ["l_orderkey"], "l_quantity")


# --------------------------------------------------------------------------
# q07 — hand-rolled rollup-with-totals (SURVEY §2.4 A9) as a real ROLLUP over
# a 3-dim join chain (J1-style denormalisation).
# --------------------------------------------------------------------------
@register(
    "q07_rollup_revenue",
    oracle="""
SELECT COALESCE(r_name, 'ALL') AS region_name,
       COALESCE(n_name, 'ALL') AS nation_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON n_nationkey = s_nationkey
JOIN region   ON r_regionkey = n_regionkey
GROUP BY ROLLUP (r_name, n_name)
""",
    tags=("A9", "J1", "U2"),
    bench=True,
)
def q07_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    j = (
        li.join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(region), F.col("r_regionkey") == F.col("n_regionkey"))
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region_name"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation_name"),
            "revenue",
            "n_items",
        )
    )


# --------------------------------------------------------------------------
# q08 — dimension denormalisation join (SURVEY §2.3 J1: broadcast dims) with
# pushed-down filter + aggregation.
# --------------------------------------------------------------------------
@register(
    "q08_dim_denorm",
    oracle="""
SELECT p_brand, s_name,
       COUNT(*) AS n_items,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
WHERE p_size >= 25
GROUP BY p_brand, s_name
""",
    tags=("J1", "P3", "A1"),
    bench=True,
)
def q08_dim_denorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") >= 25)
    supp = _t(spark, sf_dir, "supplier")
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("p_brand", "s_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            ),
        )
    )


# --------------------------------------------------------------------------
# q09 — semi join (SURVEY §2.2 P4: IN-list filter ⇒ left_semi).
# --------------------------------------------------------------------------
@register(
    "q09_semi_join",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
WHERE EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_quantity >= 48
)
""",
    tags=("P4",),
)
def q09_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 48)
    return orders.join(
        li, orders.o_orderkey == li.l_orderkey, "left_semi"
    ).select("o_orderkey", "o_totalprice")


# --------------------------------------------------------------------------
# q10 — anti join (SURVEY §2.2 P5 NOT-IN ⇒ left_anti / §2.7 U3).
# --------------------------------------------------------------------------
@register(
    "q10_anti_join",
    oracle="""
SELECT c_custkey, c_name, ROUND(c_acctbal, 4) AS acctbal
FROM customer c
WHERE NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
)
""",
    tags=("P5", "U3"),
)
def q10_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select(
        "c_custkey", "c_name", F.round(F.col("c_acctbal"), 4).alias("acctbal")
    )


# --------------------------------------------------------------------------
# q11 — positional join (SURVEY §2.3 J15: the reference's Call_Submitted
# ordinal lookup /root/reference/synth/etl.py:469-486) — row_number per
# group, pick ordinal position 2.
# --------------------------------------------------------------------------
@register(
    "q11_positional_join",
    oracle="""
SELECT o_custkey, o_orderkey, o_orderdate
FROM (
    SELECT o_custkey, o_orderkey, o_orderdate,
           ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS pos
    FROM orders
) t
WHERE pos = 2
""",
    tags=("J15", "W2"),
)
def q11_positional_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") == 2)
        .select("o_custkey", "o_orderkey", "o_orderdate")
    )


# --------------------------------------------------------------------------
# q12 — deterministic surrogate-ID assignment (SURVEY §2.5 W1; reference
# synth/etl.py:215-223 et al.) — scalable mode, one plan
# (repartitionByRange + in-partition position + broadcast prefix-sum
# offsets over the reused range exchange; the single-partition window mode
# stays available for bounded dims and is equivalence-tested against this
# one in tests/test_ids.py).
# --------------------------------------------------------------------------
@register(
    "q12_surrogate_ids",
    oracle="""
SELECT CAST(ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS new_id,
       o_orderkey
FROM orders
""",
    tags=("W1", "O1"),
    bench=True,
)
def q12_surrogate_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select("o_orderdate", "o_orderkey")
    return ids.assign_ids_scalable(orders, ["o_orderdate", "o_orderkey"]).select(
        "new_id", "o_orderkey"
    )


# --------------------------------------------------------------------------
# q13 — argmax with tie-break (SURVEY §2.5 W3: max-population city pick,
# /root/reference/synth/etl.py:735-750).
# --------------------------------------------------------------------------
@register(
    "q13_argmax_tiebreak",
    oracle="""
SELECT n_name, c_custkey, ROUND(c_acctbal, 4) AS acctbal
FROM (
    SELECT n.n_name, c.c_custkey, c.c_acctbal,
           ROW_NUMBER() OVER (PARTITION BY n.n_name ORDER BY c.c_acctbal DESC, c.c_custkey ASC) AS rk
    FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
) t
WHERE rk = 1
""",
    tags=("W3", "O3", "J1"),
)
def q13_argmax_tiebreak(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    j = customer.join(F.broadcast(nation), F.col("n_nationkey") == F.col("c_nationkey"))
    w = Window.partitionBy("n_name").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        j.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("n_name", "c_custkey", F.round(F.col("c_acctbal"), 4).alias("acctbal"))
    )


# --------------------------------------------------------------------------
# q14 — z-score outliers (SURVEY §2.5 W4; population stddev like
# scipy.stats.zscore in /root/reference/notebooks/outliers.ipynb cell 5).
# --------------------------------------------------------------------------
@register(
    "q14_zscore_outliers",
    oracle="""
SELECT o_orderkey, o_totalprice, z_score
FROM (
    SELECT o_orderkey, o_totalprice,
           ROUND((o_totalprice - AVG(o_totalprice) OVER ())
                 / STDDEV_POP(o_totalprice) OVER (), 4) AS z_score
    FROM orders
) t
WHERE ABS(z_score) > 1.5
""",
    tags=("W4", "P12"),
)
def q14_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return windows.zscore_outliers(orders, "o_totalprice", ["o_orderkey"], 1.5)


# --------------------------------------------------------------------------
# q15 — deterministic top-k (SURVEY §2.6 O6).
# --------------------------------------------------------------------------
@register(
    "q15_topk_orders",
    oracle="""
SELECT o_orderkey, ROUND(o_totalprice, 4) AS total_price
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 15
""",
    tags=("O6",),
)
def q15_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(15)
        .select("o_orderkey", F.round(F.col("o_totalprice"), 4).alias("total_price"))
    )


# --------------------------------------------------------------------------
# q16 — union of the four "synth rounds" (SURVEY §2.7 U1: per-round source
# union with a round tag; /root/reference/synth/etl.py:196 et al.).
# --------------------------------------------------------------------------
@register(
    "q16_union_rounds",
    oracle="""
SELECT synth_round, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 4) AS total_price
FROM (
    SELECT 1 AS synth_round, o_totalprice FROM orders WHERE o_orderkey % 4 = 0
    UNION ALL
    SELECT 2 AS synth_round, o_totalprice FROM orders WHERE o_orderkey % 4 = 1
    UNION ALL
    SELECT 3 AS synth_round, o_totalprice FROM orders WHERE o_orderkey % 4 = 2
    UNION ALL
    SELECT 4 AS synth_round, o_totalprice FROM orders WHERE o_orderkey % 4 = 3
) u
GROUP BY synth_round
""",
    tags=("U1",),
)
def q16_union_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    parts = [
        orders.filter(F.col("o_orderkey") % 4 == r)
        .withColumn("synth_round", F.lit(r + 1))
        .select("synth_round", "o_totalprice")
        for r in range(4)
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.groupBy("synth_round").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("total_price"),
    )


# --------------------------------------------------------------------------
# q17 — scalar string-function chain (SURVEY §2.8 F1/F2/F9 shapes: regexp
# replace/extract, case, substring, pad, concat).
# --------------------------------------------------------------------------
@register(
    "q17_string_funcs",
    oracle="""
SELECT p_partkey,
       UPPER(p_name)                                   AS up_name,
       REGEXP_REPLACE(p_name, ' ', '_', 'g')           AS underscored,
       SUBSTR(p_name, 1, 5)                            AS prefix5,
       LENGTH(p_name)                                  AS name_len,
       CONCAT(p_brand, '|', p_type)                    AS brand_type,
       LPAD(CAST(p_size AS VARCHAR), 3, '0')           AS size_padded,
       STRING_SPLIT(p_name, ' ')[1]                    AS first_word
FROM part
""",
    tags=("F1", "F2", "F9", "F19"),
)
def q17_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("up_name"),
        F.regexp_replace("p_name", " ", "_").alias("underscored"),
        F.substring("p_name", 1, 5).alias("prefix5"),
        F.length("p_name").cast("long").alias("name_len"),
        F.concat(F.col("p_brand"), F.lit("|"), F.col("p_type")).alias("brand_type"),
        F.lpad(F.col("p_size").cast("string"), 3, "0").alias("size_padded"),
        F.element_at(F.split("p_name", " "), 1).alias("first_word"),
    )


# --------------------------------------------------------------------------
# q18 — date-function aggregation (SURVEY §2.8 F3/F5 shapes).
# --------------------------------------------------------------------------
@register(
    "q18_date_funcs",
    oracle="""
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT)  AS order_year,
       CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS order_month,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 4) AS total_price
FROM orders
GROUP BY order_year, order_month
""",
    tags=("F3", "F5", "A1"),
)
def q18_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.withColumn("order_year", F.year("o_orderdate"))
        .withColumn("order_month", F.month("o_orderdate"))
        .groupBy("order_year", "order_month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        )
    )


# --------------------------------------------------------------------------
# q20 — fuzzy similarity join (SURVEY §2.3 J13: the reference's
# fuzz.partial_ratio title matching, /root/reference/synth/resources.py:278-331,
# re-expressed as an edit-distance theta-join pruned by an equi-key (brand) —
# the blocking pattern that scales: block key first, similarity inside block).
# --------------------------------------------------------------------------
@register(
    "q20_fuzzy_join",
    oracle="""
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       LEVENSHTEIN(a.p_name, b.p_name) AS edit_dist
FROM part a
JOIN part b
  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
WHERE LEVENSHTEIN(a.p_name, b.p_name) <= 4
""",
    tags=("J13", "F15"),
)
def q20_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_name")
    a = part.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_brand").alias("brand_a"),
        F.col("p_name").alias("name_a"),
    )
    b = part.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_brand").alias("brand_b"),
        F.col("p_name").alias("name_b"),
    )
    return (
        a.join(b, (F.col("brand_a") == F.col("brand_b")) & (F.col("key_a") < F.col("key_b")))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("edit_dist") <= 4)
        .select("key_a", "key_b", "edit_dist")
    )


# --------------------------------------------------------------------------
# q54 — partial-ratio fuzzy join (SURVEY §2.8 F15 / §2.3 J13): the
# reference's fuzz.partial_ratio title gates (resources.py:278 `>= 80`
# Crossref accept, :330 `> 50` DOI-metadata verify) over blocked title/
# candidate pairs. Substring alignment: a title CONTAINED in a longer
# string scores 100 where q20's plain edit distance rejects it.
# --------------------------------------------------------------------------
@register(
    "q54_partial_ratio_join",
    oracle="""
WITH titles AS (
    SELECT doc_id AS id_a,
           ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[1:4], ' ') AS title
    FROM documents
),
cands AS (
    SELECT doc_id AS id_b, SUBSTR(text, 1, 60) AS cand FROM documents
),
pairs AS (
    SELECT t.id_a, c.id_b, t.title, c.cand
    FROM titles t
    JOIN cands c ON t.id_a % 25 = c.id_b % 25 AND t.id_a <> c.id_b
),
sl AS (
    SELECT id_a, id_b,
           CASE WHEN LEN(title) <= LEN(cand) THEN title ELSE cand END AS s,
           CASE WHEN LEN(title) <= LEN(cand) THEN cand ELSE title END AS l
    FROM pairs
),
scored AS (
    SELECT id_a, id_b,
           CASE WHEN LEN(l) = 0 THEN 100
                WHEN LEN(s) = 0 THEN 0
                ELSE LIST_MAX(LIST_TRANSFORM(
                    GENERATE_SERIES(1, LEN(l) - LEN(s) + 1),
                    i -> CAST(FLOOR((200 * (LEN(s) - LEVENSHTEIN(s, SUBSTR(l, i, LEN(s)))) + LEN(s))
                               / (2.0 * LEN(s))) AS BIGINT)))
           END AS pratio
    FROM sl
)
SELECT id_a, id_b, CAST(pratio AS BIGINT) AS pratio,
       CAST(CASE WHEN pratio >= 80 THEN 1 ELSE 0 END AS BIGINT) AS strong
FROM scored
WHERE pratio > 50
""",
    tags=("F15", "J13"),
)
def q54_partial_ratio_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window partial-ratio join: 4-token titles vs 60-char prefixes of
    blocked partner docs; emit pairs over the reference's weak gate (>50)
    with the strong-gate flag (>=80). JVM-side throughout
    (functions.fuzzy.partial_ratio_window) — blocking key first, similarity
    only inside the block, the shape that scales. NOTE the fixture block
    key (doc_id % 25) is sized for the 500-doc corpus; at scale the block
    key must grow with the corpus (content-derived: lang+source, an LSH
    band, or the reference's own per-row API-result candidate sets) so
    per-block quadratics stay bounded — cardinality-25 keys would skew."""
    from ..functions.fuzzy import partial_ratio_window

    docs = _t(spark, sf_dir, "documents")
    titles = docs.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") % 25).alias("blk"),
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 4)).alias("title"),
    )
    cands = docs.select(
        F.col("doc_id").alias("id_b"),
        (F.col("doc_id") % 25).alias("blk"),
        F.substring(F.col("text"), 1, 60).alias("cand"),
    )
    return (
        titles.join(cands, "blk")
        .filter(F.col("id_a") != F.col("id_b"))
        .withColumn("pratio", partial_ratio_window(F.col("title"), F.col("cand")))
        .filter(F.col("pratio") > 50)
        .select(
            "id_a",
            "id_b",
            "pratio",
            (F.col("pratio") >= 80).cast("long").alias("strong"),
        )
    )


# --------------------------------------------------------------------------
# q29 — pivot (SURVEY §2.8 F25 / §2.4 A7).
# --------------------------------------------------------------------------
@register(
    "q29_pivot_status",
    oracle="""
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
FROM orders
GROUP BY o_orderpriority
""",
    tags=("F25", "A7"),
)
def q29_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    pivoted = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).cast("long").alias("n_f"),
        F.coalesce(F.col("O"), F.lit(0)).cast("long").alias("n_o"),
        F.coalesce(F.col("P"), F.lit(0)).cast("long").alias("n_p"),
    )


# --------------------------------------------------------------------------
# q30 — frame-spec running aggregate (beyond the reference's surface; the
# cumulative-window shape used by the sessionizer and incremental rollups).
# --------------------------------------------------------------------------
@register(
    "q30_running_total",
    oracle="""
SELECT o_custkey, o_orderkey,
       ROUND(SUM(o_totalprice) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_total
FROM orders
""",
    tags=("W-frame",),
)
def q30_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 4).alias("running_total"),
    )


# --------------------------------------------------------------------------
# q42 — balanced per-class sampling (SURVEY §2.4 A13, classifiers.ipynb
# cells 12-14). RNG sampling can't hash-match across engines, so the sample
# is a deterministic hash order: top-20 docs per lang by md5(doc_id) — the
# distributed analogue of `df.sample(n)` per label with a fixed seed.
# --------------------------------------------------------------------------
@register(
    "q42_stratified_sample",
    oracle="""
SELECT lang, doc_id
FROM (
    SELECT lang, doc_id,
           ROW_NUMBER() OVER (PARTITION BY lang
                              ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
    FROM documents
) t
WHERE rk <= 20
""",
    tags=("A13", "A10", "sampling"),
)
def q42_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select("lang", "doc_id")
    )


# --------------------------------------------------------------------------
# q43 — translator mapping join (SURVEY §2.3 J4/J5, §2.5 W1): the
# reference's cross-round surrogate-key backbone (utils.py:266-298). A dense
# new id is assigned to each customer in a defined global order, then facts
# are translated onto the new key space via an equi-join — dict probes
# become joins.
# --------------------------------------------------------------------------
@register(
    "q43_translator_join",
    oracle="""
WITH mapping AS (
    SELECT c_custkey AS original_id,
           ROW_NUMBER() OVER (ORDER BY c_nationkey, c_custkey) AS new_id,
           c_nationkey
    FROM customer
),
translated AS (
    SELECT m.new_id, m.c_nationkey, o.o_totalprice
    FROM orders o JOIN mapping m ON m.original_id = o.o_custkey
)
SELECT c_nationkey AS nation_key,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MIN(new_id) AS BIGINT) AS min_new_id,
       CAST(MAX(new_id) AS BIGINT) AS max_new_id,
       ROUND(SUM(o_totalprice), 4) AS total_price
FROM translated
GROUP BY c_nationkey
""",
    tags=("J4", "J5", "W1", "S11"),
)
def q43_translator_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    mapping = ids.assign_ids_scalable(
        cust.select("c_custkey", "c_nationkey"),
        order_cols=["c_nationkey", "c_custkey"],
        id_name="new_id",
    ).select(F.col("c_custkey").alias("original_id"), "new_id", "c_nationkey")
    translated = orders.join(
        mapping, orders.o_custkey == mapping.original_id
    )
    return translated.groupBy(F.col("c_nationkey").alias("nation_key")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("new_id").cast("long").alias("min_new_id"),
        F.max("new_id").cast("long").alias("max_new_id"),
        F.round(F.sum("o_totalprice"), 4).alias("total_price"),
    )


# --------------------------------------------------------------------------
# q47 — chained metric joins (SURVEY §2.3 J10/J11, journal-analysis.ipynb
# cell 12: journal_list ← scopus ← sjr chained left equi-joins on ISSN,
# missing metrics coalesced to 0 — §2.8 F19). Here: nation ← order metrics
# ← supplier metrics.
# --------------------------------------------------------------------------
@register(
    "q47_metric_chain",
    oracle="""
WITH order_m AS (
    SELECT c_nationkey AS nation_key, CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 4) AS order_value
    FROM orders JOIN customer ON c_custkey = o_custkey
    GROUP BY c_nationkey
),
supp_m AS (
    SELECT s_nationkey AS nation_key, CAST(COUNT(*) AS BIGINT) AS n_suppliers
    FROM supplier GROUP BY s_nationkey
)
SELECT n.n_nationkey AS nation_key, n.n_name AS nation,
       COALESCE(o.n_orders, 0) AS n_orders,
       COALESCE(o.order_value, 0.0) AS order_value,
       COALESCE(s.n_suppliers, 0) AS n_suppliers
FROM nation n
LEFT JOIN order_m o ON o.nation_key = n.n_nationkey
LEFT JOIN supp_m s ON s.nation_key = n.n_nationkey
""",
    tags=("J10", "J11", "F19", "J9"),
)
def q47_metric_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    order_m = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nation_key"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("order_value"),
        )
    )
    supp_m = supp.groupBy(F.col("s_nationkey").alias("nation_key")).agg(
        F.count(F.lit(1)).alias("n_suppliers")
    )
    return (
        nation.select(F.col("n_nationkey").alias("nation_key"), F.col("n_name").alias("nation"))
        .join(order_m, "nation_key", "left")
        .join(supp_m, "nation_key", "left")
        .select(
            "nation_key",
            "nation",
            F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
            F.coalesce("order_value", F.lit(0.0)).alias("order_value"),
            F.coalesce("n_suppliers", F.lit(0)).cast("long").alias("n_suppliers"),
        )
    )


# --------------------------------------------------------------------------
# q64 — exact group percentiles (A12 summary stats, O6 ordered statistics).
# Spark's `percentile` is the EXACT linear-interpolation quantile (one sort
# per group inside the agg, no approximation) — semantically identical to
# DuckDB's quantile_cont, so the hash-match is bit-for-bit after 4dp
# rounding. At 100 TB prefer approx_percentile (t-digest, mergeable partial
# aggs, no per-group sort) — kept out of the oracle gate because sketch
# results are engine-specific; this exact form is the correctness anchor.
# --------------------------------------------------------------------------
@register(
    "q64_group_percentiles",
    oracle="""
SELECT l_returnflag, l_linestatus,
       COUNT(*)                                            AS n,
       ROUND(QUANTILE_CONT(l_extendedprice, 0.5), 4)       AS p50,
       ROUND(QUANTILE_CONT(l_extendedprice, 0.9), 4)       AS p90,
       ROUND(QUANTILE_CONT(l_extendedprice, 0.99), 4)      AS p99,
       ROUND(QUANTILE_CONT(l_discount, 0.5), 4)            AS disc_p50
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
    tags=("A12", "O6"),
)
def q64_group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    lin = _t(spark, sf_dir, "lineitem")
    pct = F.expr("percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D))")
    return lin.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(pct[0], 4).alias("p50"),
        F.round(pct[1], 4).alias("p90"),
        F.round(pct[2], 4).alias("p99"),
        F.round(F.expr("percentile(l_discount, 0.5D)"), 4).alias("disc_p50"),
    )


# --------------------------------------------------------------------------
# q71 — HyperLogLog distinct sketch (operators/sketches.py), verified
# EXACTLY: the md5-register construction is deterministic, so the oracle
# rebuilds the same 256 registers and the same estimate bit-for-bit (the
# register sum is a <53-binary-order power-of-two sum — summation-order
# proof in the operator docstring). exact_distinct rides along so every
# round's gate also records the sketch's achieved error.
# --------------------------------------------------------------------------
@register(
    "q71_hll_distinct",
    oracle="""
WITH h AS (
    SELECT o_orderpriority,
           CAST(('0x' || SUBSTR(MD5(CAST(o_custkey AS VARCHAR)), 1, 8))::UBIGINT
                AS BIGINT) AS hv
    FROM orders
),
tagged AS (
    SELECT o_orderpriority, hv // 16777216 AS bucket, hv % 16777216 AS w FROM h
),
regs AS (
    SELECT o_orderpriority, bucket,
           MAX(CASE WHEN w = 0 THEN 25 ELSE 25 - LENGTH(BIN(w)) END) AS r
    FROM tagged GROUP BY o_orderpriority, bucket
),
per AS (
    SELECT o_orderpriority, SUM(POWER(2.0, -r)) AS sum_obs, COUNT(*) AS n_obs
    FROM regs GROUP BY o_orderpriority
),
est AS (
    SELECT o_orderpriority,
           CASE WHEN (47072.71267120224 / (sum_obs + (256 - n_obs))) <= 640.0
                     AND (256 - n_obs) > 0
                THEN 256.0 * LN(256.0 / (256 - n_obs))
                ELSE 47072.71267120224 / (sum_obs + (256 - n_obs)) END AS hll
    FROM per
),
ex AS (
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
    FROM orders GROUP BY o_orderpriority
)
SELECT e.o_orderpriority, ex.exact_distinct, ROUND(e.hll, 4) AS hll_distinct
FROM est e JOIN ex ON ex.o_orderpriority = e.o_orderpriority
""",
    tags=("sketch-hll", "A12"),
)
def q71_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketches

    orders = _t(spark, sf_dir, "orders")
    est = sketches.hll_distinct(orders, ["o_orderpriority"], "o_custkey")
    exact = orders.groupBy("o_orderpriority").agg(
        F.count_distinct("o_custkey").cast("long").alias("exact_distinct")
    )
    return exact.join(est, "o_orderpriority").select(
        "o_orderpriority", "exact_distinct", "hll_distinct"
    )


# --------------------------------------------------------------------------
# q72 — deterministic weighted sampling (A13's weighted sibling): 20 orders
# per priority with inclusion probability proportional to o_totalprice,
# via md5-seeded A-Res keys (operators/sampling.py) — the draw is a pure
# function of the data, so the oracle reproduces the identical sample.
# --------------------------------------------------------------------------
@register(
    "q72_weighted_sample",
    oracle="""
WITH keyed AS (
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           LN((CAST(('0x' || SUBSTR(MD5(CAST(o_orderkey AS VARCHAR)), 1, 8))::UBIGINT
                    AS BIGINT) + 1) / 4294967296.0) / o_totalprice AS k
    FROM orders
),
ranked AS (
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                              ORDER BY k DESC, o_orderkey) AS sample_rank
    FROM keyed
)
SELECT o_orderpriority, o_orderkey,
       ROUND(o_totalprice, 4) AS weight,
       CAST(sample_rank AS BIGINT) AS sample_rank
FROM ranked WHERE sample_rank <= 20
""",
    tags=("A13", "sampling-weighted"),
)
def q72_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import weighted_sample

    orders = _t(spark, sf_dir, "orders")
    out = weighted_sample(
        orders, ["o_orderpriority"], "o_orderkey", "o_totalprice", k=20
    )
    return out.select(
        "o_orderpriority",
        "o_orderkey",
        F.round("o_totalprice", 4).alias("weight"),
        "sample_rank",
    )


# --------------------------------------------------------------------------
# q86 — winsorization: clip a metric at its per-group exact p01/p99 (the
# outlier-capping cleaner feature pipelines run before scaling; the W4
# z-score query is the detection sibling). One partial-agg pass computes
# the per-group quantiles (exact `percentile`, same anchor rationale as
# q64); the clip is a broadcast join back — no window, no second shuffle
# of the fact side beyond the group join.
# --------------------------------------------------------------------------
@register(
    "q86_winsorize",
    oracle="""
WITH b AS (
    SELECT o_orderpriority,
           QUANTILE_CONT(o_totalprice, 0.01) AS p01,
           QUANTILE_CONT(o_totalprice, 0.99) AS p99
    FROM orders GROUP BY o_orderpriority
)
SELECT o.o_orderkey, o.o_orderpriority,
       ROUND(o.o_totalprice, 4) AS price,
       ROUND(CASE WHEN o.o_totalprice < b.p01 THEN b.p01
                  WHEN o.o_totalprice > b.p99 THEN b.p99
                  ELSE o.o_totalprice END, 4) AS price_w
FROM orders o JOIN b ON b.o_orderpriority = o.o_orderpriority
""",
    tags=("A12", "P12", "training-prep"),
)
def q86_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    bounds = orders.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.01D)").alias("p01"),
        F.expr("percentile(o_totalprice, 0.99D)").alias("p99"),
    )
    return orders.join(F.broadcast(bounds), "o_orderpriority").select(
        "o_orderkey",
        "o_orderpriority",
        F.round("o_totalprice", 4).alias("price"),
        F.round(
            F.when(F.col("o_totalprice") < F.col("p01"), F.col("p01"))
            .when(F.col("o_totalprice") > F.col("p99"), F.col("p99"))
            .otherwise(F.col("o_totalprice")),
            4,
        ).alias("price_w"),
    )


# --------------------------------------------------------------------------
# q90 — Z-order (Morton) clustering keys: interleave the bits of two
# dimensions so one range-partitioned sort co-locates rows that are close
# in BOTH — the data-layout primitive behind multi-dimensional file
# pruning (Delta/Iceberg OPTIMIZE ZORDER). The key itself is pure bit
# algebra, generated from ONE Python loop into both engines' expressions,
# so the oracle is bit-for-bit. Writing is one repartitionByRange(zval) +
# sortWithinPartitions away (sources/writers.py); the query materialises
# the keys plus the coarse file bucket.
# --------------------------------------------------------------------------
from ..sources.zorder import z_value_expr as _z_spark  # noqa: E402
from ..sources.zorder import z_value_sql as _z_sql  # noqa: E402


@register(
    "q90_zorder_key",
    oracle=f"""
SELECT o_orderkey,
       o_custkey % 65536 AS x,
       CAST(DATE_DIFF('day', TIMESTAMP '1995-01-01', o_orderdate) % 65536
            AS BIGINT) AS y,
       CAST({_z_sql("(o_custkey % 65536)",
                    "(DATE_DIFF('day', TIMESTAMP '1995-01-01', o_orderdate) % 65536)")}
            AS BIGINT) AS zval,
       CAST(({_z_sql("(o_custkey % 65536)",
                     "(DATE_DIFF('day', TIMESTAMP '1995-01-01', o_orderdate) % 65536)")})
            >> 22 AS BIGINT) AS zbucket
FROM orders
""",
    tags=("scale-ops", "O1", "layout"),
)
def q90_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    x = (F.col("o_custkey") % 65536).cast("long")
    y = (
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp"))
        % 65536
    ).cast("long")
    df = orders.select(
        "o_orderkey", x.alias("x"), y.alias("y")
    ).withColumn("zval", _z_spark(F.col("x"), F.col("y")).cast("long"))
    return df.withColumn("zbucket", F.shiftright(F.col("zval"), 22).cast("long"))


# --------------------------------------------------------------------------
# q91 — MAD robust outliers: median/median-absolute-deviation z-scores
# (0.6745·(x−med)/MAD), the heavy-tail-safe sibling of q14's mean/σ
# z-score. Two grouped exact-percentile aggregates (the q64 anchor
# rationale) with broadcast joins back — no window over the fact table.
# Degenerate groups (MAD = 0) yield NULL robust_z, kept explicit exactly
# like q14's σ = 0 guard.
# --------------------------------------------------------------------------
@register(
    "q91_mad_outliers",
    oracle="""
WITH med AS (
    SELECT o_orderpriority, QUANTILE_CONT(o_totalprice, 0.5) AS med
    FROM orders GROUP BY o_orderpriority
),
dev AS (
    SELECT o.o_orderkey, o.o_orderpriority, o.o_totalprice, m.med,
           ABS(o.o_totalprice - m.med) AS adev
    FROM orders o JOIN med m ON m.o_orderpriority = o.o_orderpriority
),
mad AS (
    SELECT o_orderpriority, QUANTILE_CONT(adev, 0.5) AS mad
    FROM dev GROUP BY o_orderpriority
)
SELECT d.o_orderkey, d.o_orderpriority,
       ROUND(d.o_totalprice, 4) AS price,
       CASE WHEN m.mad > 0
            THEN ROUND(0.6745 * (d.o_totalprice - d.med) / m.mad, 4)
            END AS robust_z,
       COALESCE(CASE WHEN m.mad > 0
                     THEN ABS(0.6745 * (d.o_totalprice - d.med) / m.mad) > 3.5
                     END, FALSE) AS is_outlier
FROM dev d JOIN mad m ON m.o_orderpriority = d.o_orderpriority
""",
    tags=("A12", "W4", "training-prep"),
)
def q91_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    med = orders.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.5D)").alias("med")
    )
    dev = orders.join(F.broadcast(med), "o_orderpriority").withColumn(
        "adev", F.abs(F.col("o_totalprice") - F.col("med"))
    )
    mad = dev.groupBy("o_orderpriority").agg(
        F.expr("percentile(adev, 0.5D)").alias("mad")
    )
    z = F.lit(0.6745) * (F.col("o_totalprice") - F.col("med")) / F.col("mad")
    return dev.join(F.broadcast(mad), "o_orderpriority").select(
        "o_orderkey",
        "o_orderpriority",
        F.round("o_totalprice", 4).alias("price"),
        F.when(F.col("mad") > 0, F.round(z, 4)).alias("robust_z"),
        F.coalesce(
            F.when(F.col("mad") > 0, F.abs(z) > 3.5), F.lit(False)
        ).alias("is_outlier"),
    )


# --------------------------------------------------------------------------
# q94 — salted aggregation equivalence (operators/skew.py in the gate).
# l_returnflag has 3 values over the whole table — the textbook hot-key
# aggregation. The salted two-stage plan (groupBy(keys, salt) →
# groupBy(keys)) must produce EXACTLY the plain GROUP BY answer, which is
# the oracle: the equivalence itself is the property the operator sells.
# All four aggs are re-aggregable (sum/count/min/max); the 4dp round
# absorbs double summation-order ulps as everywhere else.
# --------------------------------------------------------------------------
@register(
    "q94_salted_agg",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS count_l_quantity,
       ROUND(SUM(l_quantity), 4) AS sum_l_quantity,
       ROUND(MIN(l_extendedprice), 4) AS min_l_extendedprice,
       ROUND(MAX(l_extendedprice), 4) AS max_l_extendedprice
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("scale-ops", "A1", "A5"),
)
def q94_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_aggregate

    lin = _t(spark, sf_dir, "lineitem")
    out = salted_aggregate(
        lin,
        keys=["l_returnflag"],
        aggs={
            "l_quantity": ["count", "sum"],
            "l_extendedprice": ["min", "max"],
        },
        n_salts=16,
    )
    return out.select(
        "l_returnflag",
        F.col("count_l_quantity").cast("long").alias("count_l_quantity"),
        F.round("sum_l_quantity", 4).alias("sum_l_quantity"),
        F.round("min_l_extendedprice", 4).alias("min_l_extendedprice"),
        F.round("max_l_extendedprice", 4).alias("max_l_extendedprice"),
    )


# --------------------------------------------------------------------------
# q95 — CUBE: all four grouping-set combinations of (returnflag,
# linestatus) in ONE pass (q70's ROLLUP sibling — completes the
# grouping-sets family). Partial aggs absorb the fan-in; each coarser set
# is a regroup of finer partials, not a rescan.
# --------------------------------------------------------------------------
@register(
    "q95_cube_revenue",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
           AS lvl,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
    tags=("A9", "A1"),
)
def q95_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lin = _t(spark, sf_dir, "lineitem")
    return lin.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("long").alias("lvl"),
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue"),
    )


# --------------------------------------------------------------------------
# q96 — data-quality audit: rule violations counted over a deliberately
# corrupted derived view (the derived-input oracle pattern — fixture data
# is clean, so corruption is injected deterministically in BOTH engines:
# negative prices for orderkey % 97, out-of-range discounts for
# lineitem % 89, FK orphans for % 83). The reference's pipeline raises on
# invariant violations (steps.py error paths); at warehouse scale the same
# checks run as ONE audit query emitting a violations-per-rule relation.
# Each rule is a map-side CASE count; the FK rule is an anti join. One
# pass per fact table, rule counts unioned — no per-rule rescans.
# --------------------------------------------------------------------------
@register(
    "q96_dq_audit",
    oracle="""
WITH bad_orders AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 97 = 0 THEN -1.0 ELSE o_totalprice END AS price
    FROM orders
),
bad_lineitem AS (
    SELECT l_orderkey + CASE WHEN l_orderkey % 83 = 0 THEN 1000000000 ELSE 0 END
               AS l_orderkey,
           CASE WHEN l_orderkey % 89 = 0 THEN 1.5 ELSE l_discount END AS disc
    FROM lineitem
),
r1 AS (
    SELECT 'orders.price_positive' AS rule,
           CAST(SUM(CASE WHEN price <= 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violations,
           CAST(COUNT(*) AS BIGINT) AS n_checked
    FROM bad_orders
),
r2 AS (
    SELECT 'lineitem.discount_range' AS rule,
           CAST(SUM(CASE WHEN disc < 0 OR disc > 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM bad_lineitem
),
r3 AS (
    SELECT 'lineitem.orderkey_fk' AS rule,
           CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM bad_lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT rule, n_violations, n_checked,
       ROUND(CAST(n_violations AS DOUBLE) / n_checked, 4) AS viol_rate
FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3) t
""",
    tags=("dq", "P1", "P10", "U1"),
)
def q96_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    bad_o = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 97 == 0, F.lit(-1.0))
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
    )
    bad_l = lineitem.select(
        (
            F.col("l_orderkey")
            + F.when(F.col("l_orderkey") % 83 == 0, F.lit(1000000000)).otherwise(
                F.lit(0)
            )
        ).alias("l_orderkey"),
        F.when(F.col("l_orderkey") % 89 == 0, F.lit(1.5))
        .otherwise(F.col("l_discount"))
        .alias("disc"),
    )
    r1 = bad_o.agg(
        F.lit("orders.price_positive").alias("rule"),
        F.sum(F.when(F.col("price") <= 0, 1).otherwise(0))
        .cast("long")
        .alias("n_violations"),
        F.count(F.lit(1)).alias("n_checked"),
    )
    r2 = bad_l.agg(
        F.lit("lineitem.discount_range").alias("rule"),
        F.sum(F.when((F.col("disc") < 0) | (F.col("disc") > 1), 1).otherwise(0))
        .cast("long")
        .alias("n_violations"),
        F.count(F.lit(1)).alias("n_checked"),
    )
    r3 = (
        bad_l.join(
            orders.select("o_orderkey"),
            bad_l["l_orderkey"] == F.col("o_orderkey"),
            "left",
        )
        .agg(
            F.lit("lineitem.orderkey_fk").alias("rule"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_violations"),
            F.count(F.lit(1)).alias("n_checked"),
        )
    )
    return (
        r1.unionByName(r2)
        .unionByName(r3)
        .withColumn(
            "viol_rate",
            F.round(F.col("n_violations") / F.col("n_checked"), 4),
        )
    )


# --------------------------------------------------------------------------
# q97 — incremental aggregate maintenance: update a materialised per-group
# aggregate from a delta batch WITHOUT rescanning the base — the
# continuous-rollup kernel (and what q71's mergeable HLL registers do for
# distinct counts). base ⊕ agg(delta) via one full-outer join on the group
# key; the oracle is the full recompute over base ∪ delta, so the gate
# verifies the merge algebra (sum/count merge by +, coalesced for keys
# appearing on only one side). avg is re-derived from merged sum/count —
# never merged directly.
# --------------------------------------------------------------------------
@register(
    "q97_incremental_agg",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(o_totalprice), 4) AS total,
       ROUND(SUM(o_totalprice) / COUNT(*), 4) AS avg_price
FROM orders
GROUP BY o_orderpriority
""",
    tags=("incremental", "A1", "A9"),
)
def q97_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cutoff = F.lit("1999-01-01").cast("timestamp")

    def agg(df):
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("total")
        )

    base = agg(orders.filter(F.col("o_orderdate") < cutoff))
    delta = agg(orders.filter(F.col("o_orderdate") >= cutoff))
    b = base.select(
        "o_orderpriority",
        F.col("n").alias("b_n"),
        F.col("total").alias("b_total"),
    )
    d = delta.select(
        "o_orderpriority",
        F.col("n").alias("d_n"),
        F.col("total").alias("d_total"),
    )
    merged = b.join(d, "o_orderpriority", "full_outer").select(
        "o_orderpriority",
        (F.coalesce("b_n", F.lit(0)) + F.coalesce("d_n", F.lit(0))).alias("n"),
        (
            F.coalesce("b_total", F.lit(0.0)) + F.coalesce("d_total", F.lit(0.0))
        ).alias("total"),
    )
    return merged.select(
        "o_orderpriority",
        "n",
        F.round("total", 4).alias("total"),
        F.round(F.col("total") / F.col("n"), 4).alias("avg_price"),
    )


# --------------------------------------------------------------------------
# q98 — curriculum binning: per-source quartiles (NTILE) and percent-rank
# over document length — the ordering signal curriculum schedules sample
# from (short/simple docs first). Both windows partition by source; ties
# order by doc_id so bin edges are deterministic in both engines.
# --------------------------------------------------------------------------
@register(
    "q98_curriculum_bins",
    oracle="""
SELECT doc_id, source, n_chars,
       CAST(NTILE(4) OVER w AS BIGINT) AS len_bin,
       ROUND(PERCENT_RANK() OVER w, 4) AS len_pr
FROM documents
WINDOW w AS (PARTITION BY source ORDER BY n_chars, doc_id)
""",
    tags=("training-prep", "W2", "A13"),
)
def q98_curriculum_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.asc("n_chars"), F.asc("doc_id"))
    return docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.ntile(4).over(w).cast("long").alias("len_bin"),
        F.round(F.percent_rank().over(w), 4).alias("len_pr"),
    )


# --------------------------------------------------------------------------
# q100 — INTERSECT / EXCEPT segmentation (completes §2.7's set-op family
# with the literal operators): customers active in both halves of 1997 vs
# one half only. Spark's intersect/subtract are INTERSECT/EXCEPT DISTINCT —
# hash aggregations + joins under the hood, the same plan a retention
# segmentation runs at warehouse scale.
# --------------------------------------------------------------------------
@register(
    "q100_set_ops",
    oracle="""
WITH h1 AS (
    SELECT DISTINCT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-07-01'
),
h2 AS (
    SELECT DISTINCT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-07-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
)
SELECT 'both' AS segment, o_custkey FROM (SELECT * FROM h1 INTERSECT SELECT * FROM h2) t
UNION ALL
SELECT 'h1_only', o_custkey FROM (SELECT * FROM h1 EXCEPT SELECT * FROM h2) t
UNION ALL
SELECT 'h2_only', o_custkey FROM (SELECT * FROM h2 EXCEPT SELECT * FROM h1) t
""",
    tags=("U1", "U3", "P10"),
)
def q100_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")

    def half(lo: str, hi: str) -> DataFrame:
        return (
            orders.filter(
                (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
            )
            .select("o_custkey")
            .distinct()
        )

    h1 = half("1997-01-01", "1997-07-01")
    h2 = half("1997-07-01", "1998-01-01")
    return (
        h1.intersect(h2).select(F.lit("both").alias("segment"), "o_custkey")
        .unionByName(
            h1.subtract(h2).select(F.lit("h1_only").alias("segment"), "o_custkey")
        )
        .unionByName(
            h2.subtract(h1).select(F.lit("h2_only").alias("segment"), "o_custkey")
        )
    )


# --------------------------------------------------------------------------
# q103 — pairwise correlation matrix (A12's multivariate extension): sample
# Pearson correlation between the lineitem measures, one row per ordered
# pair. corr() is a single-pass mergeable aggregate in both engines (sum,
# sum-of-squares, co-moments combine across partitions), so the whole
# matrix is ONE partial-agg scan — no per-pair rescans.
# --------------------------------------------------------------------------
@register(
    "q103_corr_matrix",
    oracle="""
SELECT 'quantity_price' AS pair,
       ROUND(CORR(l_quantity, l_extendedprice), 4) AS corr
FROM lineitem
UNION ALL
SELECT 'quantity_discount', ROUND(CORR(l_quantity, l_discount), 4) FROM lineitem
UNION ALL
SELECT 'price_discount', ROUND(CORR(l_extendedprice, l_discount), 4) FROM lineitem
UNION ALL
SELECT 'price_tax', ROUND(CORR(l_extendedprice, l_tax), 4) FROM lineitem
""",
    tags=("A12", "W4"),
)
def q103_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    lin = _t(spark, sf_dir, "lineitem")
    agg = lin.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("quantity_price"),
        F.round(F.corr("l_quantity", "l_discount"), 4).alias("quantity_discount"),
        F.round(F.corr("l_extendedprice", "l_discount"), 4).alias("price_discount"),
        F.round(F.corr("l_extendedprice", "l_tax"), 4).alias("price_tax"),
    )
    pairs = ["quantity_price", "quantity_discount", "price_discount", "price_tax"]
    return agg.selectExpr(
        f"stack({len(pairs)}, "
        + ", ".join(f"'{p}', {p}" for p in pairs)
        + ") as (pair, corr)"
    )


# q136 — equi-depth histogram construction (optimizer-statistics op): per
# group, 8 equal-frequency bins on l_extendedprice. The production shape —
# boundaries from ONE exact-percentile aggregate broadcast back, bin
# assignment as a row-local array scan — never an NTILE over the fact
# table (that window is a global sort funnel at 100 TB).
#
# Cross-engine exactness: interpolated quantiles of DOUBLES differ in the
# last ulp between engines ((1-f)·lo + f·hi vs lo + f·(hi-lo)), and any
# rounding knife-edges on that ulp. Quantiles are therefore computed over
# INTEGER CENTS with eighth fractions: f ∈ {k/8} is exact binary, lo/hi are
# integers, so every product and sum is EXACT in IEEE double under either
# formula — boundaries match bit-for-bit with no rounding needed.
# --------------------------------------------------------------------------
@register(
    "q136_equidepth_histogram",
    oracle="""
WITH cents AS (
    SELECT l_returnflag,
           CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS vc
    FROM lineitem
),
bounds AS (
    SELECT l_returnflag,
           [QUANTILE_CONT(vc, 0.125), QUANTILE_CONT(vc, 0.250),
            QUANTILE_CONT(vc, 0.375), QUANTILE_CONT(vc, 0.500),
            QUANTILE_CONT(vc, 0.625), QUANTILE_CONT(vc, 0.750),
            QUANTILE_CONT(vc, 0.875)] AS bs,
           CAST(MIN(vc) AS DOUBLE) AS rmn,
           CAST(MAX(vc) AS DOUBLE) AS rmx
    FROM cents GROUP BY l_returnflag
),
binned AS (
    SELECT c.l_returnflag,
           CAST(1 + LEN(LIST_FILTER(b.bs, x -> c.vc > x)) AS INT) AS bin,
           b.bs, b.rmn, b.rmx
    FROM cents c JOIN bounds b ON b.l_returnflag = c.l_returnflag
)
SELECT l_returnflag, bin,
       ROUND((CASE WHEN bin = 1 THEN rmn ELSE bs[bin - 1] END) / 100.0, 4) AS bin_lo,
       ROUND((CASE WHEN bin = 8 THEN rmx ELSE bs[bin] END) / 100.0, 4) AS bin_hi,
       COUNT(*) AS n_rows
FROM binned
GROUP BY l_returnflag, bin, bin_lo, bin_hi
""",
    tags=("A12", "stats-histogram"),
)
def q136_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-frequency) histogram per return flag: boundary
    vector from one exact-percentile aggregate over integer cents
    (broadcast), row-local bin assignment in codegen, one keyed count."""
    lin = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("vc"),
    )
    ps = ", ".join(f"{i / 8.0}D" for i in range(1, 8))
    bounds = lin.groupBy("l_returnflag").agg(
        F.expr(f"percentile(vc, array({ps}))").alias("bs"),
        F.min("vc").cast("double").alias("rmn"),
        F.max("vc").cast("double").alias("rmx"),
    )
    binned = (
        lin.join(F.broadcast(bounds), "l_returnflag")
        .withColumn(
            "bin",
            (F.lit(1) + F.size(F.filter("bs", lambda x: F.col("vc") > x))).cast("int"),
        )
        .withColumn(
            "bin_lo",
            F.round(
                F.when(F.col("bin") == 1, F.col("rmn")).otherwise(
                    F.element_at("bs", F.col("bin") - 1)
                )
                / 100.0,
                4,
            ),
        )
        .withColumn(
            "bin_hi",
            F.round(
                F.when(F.col("bin") == 8, F.col("rmx")).otherwise(
                    F.element_at("bs", F.col("bin"))
                )
                / 100.0,
                4,
            ),
        )
    )
    return binned.groupBy("l_returnflag", "bin", "bin_lo", "bin_hi").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


# --------------------------------------------------------------------------
# q144 — grouped closed-form OLS (one-pass sufficient statistics): per
# event type, regress value on hours-since-epoch-start. The scalable
# regression shape: ONE map-side-combined aggregate collecting
# (n, Σx, Σy, Σxy, Σx²), closed-form algebra after — never an iterative
# fit, never a per-group re-scan.
#
# Cross-engine determinism: x is INTEGER hours since 2024-01-01, so n, Σx,
# Σx² are exact int64 sums (no float order noise at any partitioning);
# the two float sums (Σy, Σxy) are rounded to 4dp BEFORE the algebra, so
# both engines divide identical doubles and the quotient matches without
# an epsilon.
# --------------------------------------------------------------------------
@register(
    "q144_grouped_ols",
    oracle="""
WITH pts AS (
    SELECT event_type,
           (CAST(EPOCH(DATE_TRUNC('second', ts)) AS BIGINT) - 1704067200) // 3600 AS x,
           value AS y
    FROM events
),
stats AS (
    SELECT event_type,
           COUNT(*) AS n,
           SUM(x) AS sx,
           SUM(x * x) AS sxx,
           ROUND(SUM(y), 4) AS sy,
           ROUND(SUM(x * y), 4) AS sxy
    FROM pts GROUP BY event_type
)
SELECT event_type, n,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS slope,
       ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 4)
           AS intercept
FROM stats
""",
    tags=("A12", "ml-ols"),
)
def q144_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type linear trend of value over time, closed form."""
    events = load_table(spark, sf_dir, "events")
    pts = events.select(
        "event_type",
        ((F.col("ts").cast("long") - F.lit(1704067200)) / 3600)
        .cast("long")
        .alias("x"),
        F.col("value").alias("y"),
    )
    # integer division semantics: cast("long") on the positive quotient
    # truncates like DuckDB's `//` here (x >= 0 for all 2024+ events)
    stats = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.round(F.sum("y"), 4).alias("sy"),
        F.round(F.sum(F.col("x") * F.col("y")), 4).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return stats.select(
        "event_type",
        "n",
        F.round(slope, 4).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 4).alias(
            "intercept"
        ),
    )


# --------------------------------------------------------------------------
# q146 — explicit GROUPING SETS (the irregular sibling of q07's ROLLUP and
# q95's CUBE): ((flag, status), (flag), ()) in ONE pass — Spark expands
# the sets with a single Expand node over one scan, partial-aggregated
# before the shuffle; three separate aggregates would scan three times.
# --------------------------------------------------------------------------
@register(
    "q146_grouping_sets",
    oracle="""
SELECT COALESCE(l_returnflag, 'ALL') AS flag,
       COALESCE(l_linestatus, 'ALL') AS status,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
""",
    tags=("A9", "grouping-sets"),
)
def q146_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-granularity totals in one scan via GROUPING SETS."""
    lin = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    return (
        lin.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("rev"), 4).alias("revenue"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
            "n_rows",
            "revenue",
        )
    )


# --------------------------------------------------------------------------
# q149 — hierarchy (BOM-style) subtree rollup. The part hierarchy is
# derived from orders (parent = o_orderkey // 8 when o_orderkey % 3 != 0
# else o_orderkey // 9; root 0 excluded) — ~6 levels deep. The engine
# builds the ancestor closure by POINTER DOUBLING (log-depth self-join
# rounds, operators/graph.ancestor_closure), then one groupBy(ancestor)
# rolls up every descendant. The oracle walks the same forest with
# WITH RECURSIVE — the spelling Spark deliberately avoids (per-level
# iteration = depth sequential rounds; doubling = log₂ depth).
# --------------------------------------------------------------------------
@register(
    "q149_hierarchy_rollup",
    oracle="""
WITH RECURSIVE nodes AS (
    SELECT o_orderkey AS node, o_totalprice AS price,
           CASE WHEN o_orderkey % 3 <> 0 THEN o_orderkey // 8
                ELSE o_orderkey // 9 END AS parent
    FROM orders WHERE o_orderkey >= 1
),
walk AS (
    SELECT node, parent AS anc FROM nodes WHERE parent >= 1
    UNION ALL
    SELECT w.node, n.parent AS anc
    FROM walk w JOIN nodes n ON n.node = w.anc
    WHERE n.parent >= 1
)
SELECT w.anc AS node,
       COUNT(*) AS n_desc,
       ROUND(SUM(d.price), 4) AS desc_revenue
FROM walk w JOIN nodes d ON d.node = w.node
GROUP BY w.anc
""",
    tags=("hierarchy", "graph", "A1"),
)
def q149_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ancestor descendant count + revenue over a ~6-level derived
    forest. Iterative — executes one checkpointed doubling round per
    log-depth step (see operators/graph.ancestor_closure)."""
    from ..operators.graph import ancestor_closure

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") >= 1)
    nodes = orders.select(
        F.col("o_orderkey").alias("node"),
        F.col("o_totalprice").alias("price"),
        F.when(
            F.col("o_orderkey") % 3 != 0, F.floor(F.col("o_orderkey") / 8)
        )
        .otherwise(F.floor(F.col("o_orderkey") / 9))
        .alias("parent"),
    )
    edges = nodes.select(
        "node", F.when(F.col("parent") >= 1, F.col("parent")).alias("parent")
    )
    closure = ancestor_closure(edges, n_rounds=4)
    prices = nodes.select(F.col("node").alias("d_node"), "price")
    return (
        closure.join(prices, closure["node"] == F.col("d_node"))
        .groupBy(F.col("anc").alias("node"))
        .agg(
            F.count(F.lit(1)).alias("n_desc"),
            F.round(F.sum("price"), 4).alias("desc_revenue"),
        )
    )


# --------------------------------------------------------------------------
# q161-q163 — function-surface sweeps: ANSI-safe try_* arithmetic,
# the extended string library, boolean/conditional aggregates. Each is a
# narrow map + keyed aggregate; the value is coverage breadth with exact
# oracles, not plan novelty.
# --------------------------------------------------------------------------
@register(
    "q161_try_arithmetic",
    # try_divide/try_multiply: null-on-error arithmetic that behaves
    # identically whether the session runs ANSI on or off — the
    # engine's contract for user-facing ratio math (the hostile-session
    # probe exists because plain `/` flips semantics with ANSI).
    oracle="""
SELECT l_linenumber,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(CASE WHEN l_discount = 0 THEN NULL
                      ELSE l_extendedprice / l_discount END) / 1000000, 4)
           AS ratio_sum_m,
       CAST(SUM(CASE WHEN l_discount = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_zero_disc
FROM lineitem
GROUP BY l_linenumber
""",
    tags=("F19", "ansi-safe"),
)
def q161_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    lin = _t(spark, sf_dir, "lineitem")
    return lin.groupBy("l_linenumber").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.try_divide(F.col("l_extendedprice"), F.col("l_discount")))
            / 1000000,
            4,
        ).alias("ratio_sum_m"),
        F.sum(F.when(F.col("l_discount") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_zero_disc"),
    )


@register(
    "q162_string_library",
    # translate / overlay / lpad / repeat / split_part / initcap-free
    # (locale-dependent initcap excluded by design) over part names.
    oracle="""
SELECT p_partkey,
       TRANSLATE(p_name, 'aeiou', 'AEIOU') AS vowels_up,
       LPAD(CAST(p_partkey AS VARCHAR), 8, '0') AS padded_key,
       SPLIT_PART(p_name, ' ', 1) AS first_word,
       REVERSE(p_name) AS reversed,
       REPEAT('*', CAST(p_size % 5 AS INT)) AS stars,
       SUBSTR(p_name, 1, 1) || '###' || SUBSTR(p_name, 5) AS overlaid
FROM part
""",
    tags=("F17", "F19", "string-funcs"),
)
def q162_string_library(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.translate("p_name", "aeiou", "AEIOU").alias("vowels_up"),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("padded_key"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("first_word"),
        F.reverse("p_name").alias("reversed"),
        F.repeat(F.lit("*"), (F.col("p_size") % 5).cast("int")).alias("stars"),
        F.overlay("p_name", F.lit("###"), F.lit(2), F.lit(3)).alias("overlaid"),
    )


@register(
    "q163_boolean_aggregates",
    # every/some (bool_and/bool_or), count_if, max_by/min_by with
    # deterministic struct tie-breaks — the conditional-aggregate family.
    oracle="""
WITH ranked AS (
    SELECT o_orderpriority, o_orderkey,
           ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                              ORDER BY ROUND(o_totalprice, 4) DESC,
                                       o_orderkey ASC) AS rk_hi,
           ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                              ORDER BY ROUND(o_totalprice, 4) ASC,
                                       o_orderkey ASC) AS rk_lo
    FROM orders
),
agg AS (
    SELECT o_orderpriority,
           BOOL_AND(o_totalprice > 1000) AS all_over_1k,
           BOOL_OR(o_orderstatus = 'F') AS any_finished,
           CAST(COUNT(*) FILTER (WHERE o_totalprice > 200000) AS BIGINT) AS n_big
    FROM orders GROUP BY o_orderpriority
)
SELECT a.o_orderpriority, a.all_over_1k, a.any_finished, a.n_big,
       hi.o_orderkey AS priciest_order,
       lo.o_orderkey AS cheapest_order
FROM agg a
JOIN ranked hi ON hi.o_orderpriority = a.o_orderpriority AND hi.rk_hi = 1
JOIN ranked lo ON lo.o_orderpriority = a.o_orderpriority AND lo.rk_lo = 1
""",
    tags=("A1", "P7", "conditional-agg"),
)
def q163_boolean_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bool_and/bool_or/count_if/max_by/min_by per priority class. The
    argmax/argmin carry explicit orderkey tie-breaks inside the ordering
    struct (rounded price first), so ties can't flip between engines."""
    o = _t(spark, sf_dir, "orders")
    price_r = F.round(F.col("o_totalprice"), 4)
    return o.groupBy("o_orderpriority").agg(
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
        F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
        F.max_by(
            "o_orderkey", F.struct(price_r, (-F.col("o_orderkey")).alias("nk"))
        ).alias("priciest_order"),
        F.min_by(
            "o_orderkey", F.struct(price_r, F.col("o_orderkey"))
        ).alias("cheapest_order"),
    )


# --------------------------------------------------------------------------
# q171 — percent-of-parent in the hierarchy: every node's inclusive
# subtree revenue as a share of its parent's. Composes the q149 closure
# (same derived forest) — the drill-down metric a BOM/org rollup UI
# shows next to each branch.
# --------------------------------------------------------------------------
@register(
    "q171_percent_of_parent",
    oracle="""
WITH RECURSIVE nodes AS (
    SELECT o_orderkey AS node, o_totalprice AS price,
           CASE WHEN o_orderkey % 3 <> 0 THEN o_orderkey // 8
                ELSE o_orderkey // 9 END AS parent
    FROM orders WHERE o_orderkey >= 1
),
walk AS (
    SELECT node, parent AS anc FROM nodes WHERE parent >= 1
    UNION ALL
    SELECT w.node, n.parent AS anc
    FROM walk w JOIN nodes n ON n.node = w.anc
    WHERE n.parent >= 1
),
incl AS (
    SELECT n.node,
           ROUND(n.price + COALESCE(d.s, 0), 4) AS incl_rev
    FROM nodes n
    LEFT JOIN (
        SELECT w.anc AS node, SUM(x.price) AS s
        FROM walk w JOIN nodes x ON x.node = w.node
        GROUP BY w.anc
    ) d ON d.node = n.node
)
SELECT c.node, n.parent,
       c.incl_rev,
       ROUND(c.incl_rev / p.incl_rev, 4) AS share_of_parent
FROM nodes n
JOIN incl c ON c.node = n.node
JOIN incl p ON p.node = n.parent
WHERE n.parent >= 1
""",
    tags=("hierarchy", "graph", "A1"),
)
def q171_percent_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusive subtree revenue share of the parent, per node of the
    q149 forest. One closure (pointer doubling), one per-ancestor sum,
    one parent self-join on node ids — the shares divide pre-rounded
    inclusive revenues. Iterative (closure rounds execute at build)."""
    from ..operators.graph import ancestor_closure

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") >= 1)
    nodes = orders.select(
        F.col("o_orderkey").alias("node"),
        F.col("o_totalprice").alias("price"),
        F.when(
            F.col("o_orderkey") % 3 != 0, F.floor(F.col("o_orderkey") / 8)
        )
        .otherwise(F.floor(F.col("o_orderkey") / 9))
        .alias("parent"),
    )
    edges = nodes.select(
        "node", F.when(F.col("parent") >= 1, F.col("parent")).alias("parent")
    )
    closure = ancestor_closure(edges, n_rounds=4)
    desc_sum = (
        closure.join(
            nodes.select(F.col("node").alias("d_node"), "price"),
            closure["node"] == F.col("d_node"),
        )
        .groupBy(F.col("anc").alias("s_node"))
        .agg(F.sum("price").alias("s"))
    )
    incl = nodes.join(
        desc_sum, nodes["node"] == desc_sum["s_node"], "left"
    ).select(
        "node",
        "parent",
        F.round(F.col("price") + F.coalesce(F.col("s"), F.lit(0.0)), 4).alias(
            "incl_rev"
        ),
    )
    parents = incl.select(
        F.col("node").alias("p_node"), F.col("incl_rev").alias("p_incl")
    )
    return (
        incl.filter(F.col("parent") >= 1)
        .join(parents, F.col("parent") == F.col("p_node"))
        .select(
            "node",
            "parent",
            "incl_rev",
            F.round(F.col("incl_rev") / F.col("p_incl"), 4).alias(
                "share_of_parent"
            ),
        )
    )


# --------------------------------------------------------------------------
# q224 — Neyman-allocation stratified sampling (the survey-statistics
# optimum: sample size per stratum ∝ N_h·S_h, so volatile strata get more
# budget than proportional allocation would give): strata = market
# segment, variable = account balance, total budget 100. The per-stratum
# std dev comes from EXACT integer sufficient statistics on cent-quantised
# balances (var·n_h² = n_h·Σx² − (Σx)² — no engine variance algorithms,
# no rounding knife-edges); the draw itself is the deterministic md5-order
# sample (A13 family).
# Scale: one stratum-keyed exact-integer aggregate (map-side partials),
# a |strata|-row broadcast allocation table, and a per-stratum md5-rank
# window (partitioned by the stratum key — never global).
# --------------------------------------------------------------------------
_NEYMAN_BUDGET = 100


@register(
    "q224_neyman_sample",
    oracle=f"""
WITH cents AS (
    SELECT c_custkey, c_mktsegment,
           CAST(ROUND(c_acctbal * 100.0) AS BIGINT) AS cb
    FROM customer
),
stats AS (
    SELECT c_mktsegment, COUNT(*) AS nh, SUM(cb) AS s1,
           SUM(cb * cb) AS s2
    FROM cents GROUP BY c_mktsegment
),
wgt AS (
    SELECT c_mktsegment, nh,
           nh * SQRT(CAST(nh * s2 - s1 * s1 AS DOUBLE)) / nh AS w
    FROM stats
),
alloc AS (
    SELECT c_mktsegment, nh,
           CAST(ROUND({_NEYMAN_BUDGET}.0 * w / (SELECT SUM(w) FROM wgt))
                AS BIGINT) AS n_alloc
    FROM wgt
),
ranked AS (
    SELECT c.c_custkey, c.c_mktsegment,
           ROW_NUMBER() OVER (
               PARTITION BY c.c_mktsegment
               ORDER BY MD5(CAST(c.c_custkey AS VARCHAR)), c.c_custkey
           ) AS rk
    FROM cents c
)
SELECT r.c_mktsegment, CAST(r.rk AS BIGINT) AS rk, r.c_custkey, a.n_alloc
FROM ranked r JOIN alloc a ON a.c_mktsegment = r.c_mktsegment
WHERE r.rk <= a.n_alloc
""",
    tags=("A13", "sampling", "training-prep"),
)
def q224_neyman_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample of customers by segment:
    (c_mktsegment, rk, c_custkey, n_alloc) — per-stratum budget ∝ N_h·S_h
    from exact integer moments, rows drawn in deterministic md5 order."""
    customer = load_table(spark, sf_dir, "customer")
    cents = customer.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * F.lit(100.0)).cast("long").alias("cb"),
    )
    stats = cents.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("nh"),
        F.sum("cb").alias("s1"),
        F.sum(F.col("cb") * F.col("cb")).alias("s2"),
    )
    wgt = stats.select(
        "c_mktsegment",
        "nh",
        (
            F.col("nh")
            * F.sqrt((F.col("nh") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double"))
            / F.col("nh")
        ).alias("w"),
    )
    tot = wgt.agg(F.sum("w").alias("tw"))
    alloc = wgt.crossJoin(F.broadcast(tot)).select(
        "c_mktsegment",
        F.round(F.lit(float(_NEYMAN_BUDGET)) * F.col("w") / F.col("tw"))
        .cast("long")
        .alias("n_alloc"),
    )
    rk = F.row_number().over(
        Window.partitionBy("c_mktsegment").orderBy(
            F.md5(F.col("c_custkey").cast("string")), F.col("c_custkey")
        )
    )
    return (
        cents.withColumn("rk", rk.cast("long"))
        .join(F.broadcast(alloc), "c_mktsegment")
        .filter(F.col("rk") <= F.col("n_alloc"))
        .select("c_mktsegment", "rk", "c_custkey", "n_alloc")
    )


# --------------------------------------------------------------------------
# q228 — dataset card profiler: the per-column summary every curation
# handoff ships (row count, null count, exact distinct count) for the
# three representative tables, one relation. Exact COUNT(DISTINCT) here;
# at 100 TB each count flips to the deterministic HLL register sketch
# (q71's operator) — noted per the no-silent-caps rule.
# Scale: ONE pass per table (Spark plans multi-distinct aggregates via a
# single Expand + two-stage partial aggregation — no per-column rescans);
# output is |columns| rows.
# --------------------------------------------------------------------------
_CARD_TABLES = {
    "documents": ("doc_id", "text", "lang", "source", "n_chars"),
    "events": ("event_id", "user_id", "event_type", "value"),
    "orders": ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"),
}


@register(
    "q228_dataset_card",
    oracle="\nUNION ALL\n".join(
        f"""SELECT '{t}' AS table_name, '{c}' AS column_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct
FROM {t}"""
        for t, cols in _CARD_TABLES.items()
        for c in cols
    ),
    tags=("A12", "quality", "S4"),
)
def q228_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column dataset card over documents/events/orders:
    (table_name, column_name, n_rows, n_nulls, n_distinct)."""
    parts = None
    for t, cols in _CARD_TABLES.items():
        df = load_table(spark, sf_dir, t)
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for c in cols:
            aggs.append((F.count(F.lit(1)) - F.count(c)).alias(f"nn_{c}"))
            aggs.append(F.countDistinct(c).alias(f"nd_{c}"))
        row = df.agg(*aggs)
        for c in cols:
            one = row.select(
                F.lit(t).alias("table_name"),
                F.lit(c).alias("column_name"),
                F.col("n_rows"),
                F.col(f"nn_{c}").alias("n_nulls"),
                F.col(f"nd_{c}").alias("n_distinct"),
            )
            parts = one if parts is None else parts.unionByName(one)
    return parts


# --------------------------------------------------------------------------
# q410 — recursive transitive reachability over the nation trade graph.
# The registry's second WITH RECURSIVE user (after q433), and the one
# that exercises a JOIN in the recursive term rather than a scalar fold:
# edge (src → dst) when suppliers of nation src shipped customers of
# nation dst an above-average number of lineitems (exact integer
# comparison, SF-stable); then count the distinct walks of length ≤ 3
# between every nation pair and the minimum hop count. The SAME
# recursion text runs on Spark 4 and DuckDB (q433's discipline); path
# counts and depths are exact integers, so no float drift can enter the
# recursion. Reference analogue: the FK-topological dump-order walk
# (synth_transform etl.py:133) is this reachability shape on the schema
# graph.
# Parity: UNION ALL recursion with an explicit depth cap terminates
# identically on both engines even on cyclic graphs; n_walks/min_hops
# are integer aggregates.
# Scale: the corpus collapses to ONE star-join aggregate (broadcast
# nation-key dims) onto the ≤ 25×25 edge relation, which is
# materialised ONCE to a LocalRelation before recursing — Spark
# re-evaluates a recursive CTE's referenced relations every iteration,
# so left lazy the star join would run |depth| times. The recursion
# itself lives on the bounded nation-pair domain at any corpus size.
# Un-coalesced local frame (q433: CoalesceExec defeats the
# LocalRelation fast path inside UnionLoop).
# --------------------------------------------------------------------------
_REACH_REC = """
WITH RECURSIVE walk AS (
    SELECT src, dst, CAST(1 AS BIGINT) AS depth
    FROM {edges}
    UNION ALL
    SELECT w.src, e.dst, w.depth + 1
    FROM walk w JOIN {edges} e ON e.src = w.dst
    WHERE w.depth < 3
)
SELECT src AS src_nation, dst AS dst_nation,
       CAST(COUNT(*) AS BIGINT) AS n_walks,
       CAST(MIN(depth) AS BIGINT) AS min_hops
FROM walk
GROUP BY src, dst
ORDER BY src_nation, dst_nation
"""


@register(
    "q410_recursive_reachability",
    oracle="WITH RECURSIVE trade_edges AS (\n"
    """    SELECT CAST(s.s_nationkey AS BIGINT) AS src,
           CAST(c.c_nationkey AS BIGINT) AS dst
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE s.s_nationkey <> c.c_nationkey
    GROUP BY 1, 2
    HAVING COUNT(*) * 625 >= (SELECT COUNT(*) FROM lineitem)
),
walk AS (
"""
    + _REACH_REC.format(edges="trade_edges").split("WITH RECURSIVE walk AS (")[1],
    tags=("graph", "recursive-cte", "J1"),
)
def q410_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk counts (length ≤ 3) + min hops between nation pairs over the
    above-average trade-flow digraph, via a true recursive CTE whose
    recursive term joins the edge relation."""
    lin = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    total = lin.count()  # one scalar job; reused as a plain literal
    flows = (
        lin.join(orders, lin["l_orderkey"] == orders["o_orderkey"])
        .join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                supp.select("s_suppkey", F.col("s_nationkey").alias("sn"))
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .filter(F.col("sn") != F.col("c_nationkey"))
        .groupBy(
            F.col("sn").cast("long").alias("src"),
            F.col("c_nationkey").cast("long").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("n_ship"))
        .filter(F.col("n_ship") * 625 >= F.lit(total))
        .select("src", "dst")
    )
    # ≤ 25×25 rows: materialise once so the recursion never re-runs the
    # star join (see block comment); un-coalesced LocalRelation.
    local = spark.createDataFrame(flows.collect(), "src long, dst long")
    local.createOrReplaceTempView("q410_trade_edges")
    return spark.sql(_REACH_REC.format(edges="q410_trade_edges"))
