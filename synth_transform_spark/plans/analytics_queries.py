"""Round-5 analytics wave — every query deterministic and oracle-matched.

- q183 Benford first-digit chi-square per priority (forensic DQ).
- q184 multi-touch attribution: first/last/linear revenue models over the
  preceding-hour touch window, 'direct' for touchless purchases.
- q185 hard-negative mining: nearest different-label neighbours from the
  exact top-20 candidate set (contrastive-training prep).
- q196 quantity-weighted median via exact running-weight crossing.
- q199 per-dimension feature-scaler statistics over embeddings.
- q200 the pricing rollup in Spark 4 SQL pipe syntax.
- q201 funnel with per-step delay caps (min-ts chaining).
- q202 nearest-centroid confusion matrix (label-count-bounded argmin).
- q203 shingle-Jaccard source-overlap (contamination) matrix.
- q204 RFM quartile segmentation via broadcast percentile bounds.
- q205 CUSUM changepoints (max(0,·) recurrence as cum − running-min).
- q208 case-insensitive grouping through Spark 4 UTF8_LCASE collation.
- q209 time-to-next-error forward as-of window.
- q210 Pareto frontier (2-D skyline): band pruning + per-band local
  skylines before the exact pass — the distributed-skyline plan.
- q211 behavioural user similarity in fixed-size cohorts (top-3 cosine).
- q212 referential-integrity audit across every FK edge of the schema.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..sources.readers import load_table
from .registry import register

# --------------------------------------------------------------------------
# q183 — Benford's-law leading-digit test per order priority.
# Digit extraction is integer-exact (floor → string → first char); the
# chi-square is the only float math and rounds to 4dp at the end.
# --------------------------------------------------------------------------


@register(
    "q183_benford_deviation",
    oracle="""
WITH digits AS (
    SELECT o_orderpriority AS priority,
           SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS d
    FROM orders
),
obs AS (
    SELECT priority, d, COUNT(*) AS n_d
    FROM digits GROUP BY priority, d
),
tot AS (
    SELECT priority, CAST(SUM(n_d) AS BIGINT) AS n FROM obs GROUP BY priority
)
SELECT o.priority,
       t.n AS n_orders,
       ROUND(SUM(
           POW(o.n_d - t.n * LOG10(1.0 + 1.0 / CAST(o.d AS INT)), 2)
           / (t.n * LOG10(1.0 + 1.0 / CAST(o.d AS INT)))
       ), 4) AS chi2
FROM obs o JOIN tot t ON t.priority = o.priority
GROUP BY o.priority, t.n
""",
    tags=("dq", "A6", "forensics"),
)
def q183_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford chi-square per priority class. Two keyed aggregations —
    (priority, digit) counts with map-side partials, then a 9-row-per-group
    rollup; the Benford expectation is a closed-form expression, no lookup
    table to join."""
    orders = load_table(spark, sf_dir, "orders")
    digits = orders.select(
        F.col("o_orderpriority").alias("priority"),
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        ).alias("d"),
    )
    obs = digits.groupBy("priority", "d").agg(F.count(F.lit(1)).alias("n_d"))
    tot = obs.groupBy("priority").agg(F.sum("n_d").alias("n"))
    exp_d = F.col("n") * F.log10(1.0 + 1.0 / F.col("d").cast("int"))
    return (
        obs.join(tot, "priority")
        .groupBy("priority", "n")
        .agg(
            F.round(
                F.sum(F.pow(F.col("n_d") - exp_d, 2) / exp_d), 4
            ).alias("chi2")
        )
        .select("priority", F.col("n").alias("n_orders"), "chi2")
    )


# --------------------------------------------------------------------------
# q184 — multi-touch attribution. Purchases pair with same-user click/view
# touches in the preceding hour via the bucketed range-join idiom (bucket
# width == window → each purchase probes exactly 2 buckets; the join stays
# an equi-join on (user, bucket) at any scale — q50's argument). Per-pair
# shares are rounded to 4dp BEFORE the final sum so micro-order of the
# grid-aligned additions cannot move the rounded total.
# --------------------------------------------------------------------------

_ATTR_WINDOW_SEC = 3600


@register(
    "q184_multi_touch_attribution",
    oracle=f"""
WITH purchases AS (
    SELECT event_id AS p_id, user_id,
           CAST(EPOCH(DATE_TRUNC('second', ts)) AS BIGINT) AS p_sec,
           value
    FROM events WHERE event_type = 'purchase'
),
touches AS (
    SELECT event_id AS t_id, user_id, event_type AS channel,
           CAST(EPOCH(DATE_TRUNC('second', ts)) AS BIGINT) AS t_sec
    FROM events WHERE event_type IN ('click', 'view')
),
pairs AS (
    SELECT p.p_id, p.value, t.channel, t.t_sec, t.t_id
    FROM purchases p
    JOIN touches t
      ON t.user_id = p.user_id
     AND t.t_sec BETWEEN p.p_sec - {_ATTR_WINDOW_SEC} AND p.p_sec
),
per_purchase AS (
    SELECT p_id, CAST(COUNT(*) AS BIGINT) AS n_touch FROM pairs GROUP BY p_id
),
ranked AS (
    SELECT p_id, value, channel,
           ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY t_sec ASC, t_id ASC) AS rn_first,
           ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY t_sec DESC, t_id DESC) AS rn_last
    FROM pairs
),
first_touch AS (
    SELECT channel, 'first_touch' AS model, SUM(ROUND(value, 4)) AS v
    FROM ranked WHERE rn_first = 1 GROUP BY channel
),
last_touch AS (
    SELECT channel, 'last_touch' AS model, SUM(ROUND(value, 4)) AS v
    FROM ranked WHERE rn_last = 1 GROUP BY channel
),
linear AS (
    SELECT pr.channel, 'linear' AS model,
           SUM(ROUND(pr.value / pp.n_touch, 4)) AS v
    FROM pairs pr JOIN per_purchase pp ON pp.p_id = pr.p_id
    GROUP BY pr.channel
),
direct AS (
    SELECT 'direct' AS channel, m.model, SUM(ROUND(p.value, 4)) AS v
    FROM purchases p
    CROSS JOIN (SELECT UNNEST(['first_touch', 'last_touch', 'linear']) AS model) m
    WHERE NOT EXISTS (SELECT 1 FROM pairs pr WHERE pr.p_id = p.p_id)
    GROUP BY m.model
)
SELECT channel, model, ROUND(v, 4) AS attributed
FROM (
    SELECT * FROM first_touch
    UNION ALL SELECT * FROM last_touch
    UNION ALL SELECT * FROM linear
    UNION ALL SELECT * FROM direct
)
""",
    tags=("temporal", "attribution", "J15"),
)
def q184_multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last/linear revenue attribution over the preceding-hour touch
    window; touchless purchases land in 'direct'. The purchase↔touch pair
    relation is built once (bucketed equi-join) and persisted for the three
    model aggregations."""
    from ..caching import persist_tracked

    events = load_table(spark, sf_dir, "events")
    w = _ATTR_WINDOW_SEC
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.col("ts").cast("long").alias("p_sec"),
        "value",
    )
    touches = events.filter(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("t_id"),
        "user_id",
        F.col("event_type").alias("channel"),
        F.col("ts").cast("long").alias("t_sec"),
    )
    p_b = purchases.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.floor((F.col("p_sec") - w) / w), F.floor(F.col("p_sec") / w)
            )
        ),
    )
    t_b = touches.withColumn("_bucket", F.floor(F.col("t_sec") / w))
    pairs = persist_tracked(
        p_b.join(t_b, ["user_id", "_bucket"])
        .filter(F.col("t_sec").between(F.col("p_sec") - w, F.col("p_sec")))
        .select("p_id", "value", "channel", "t_sec", "t_id")
    )
    per_purchase = pairs.groupBy("p_id").agg(F.count(F.lit(1)).alias("n_touch"))
    w_first = Window.partitionBy("p_id").orderBy(
        F.col("t_sec").asc(), F.col("t_id").asc()
    )
    w_last = Window.partitionBy("p_id").orderBy(
        F.col("t_sec").desc(), F.col("t_id").desc()
    )
    ranked = pairs.withColumn("rn_first", F.row_number().over(w_first)).withColumn(
        "rn_last", F.row_number().over(w_last)
    )
    first_touch = (
        ranked.filter(F.col("rn_first") == 1)
        .groupBy("channel")
        .agg(F.sum(F.round("value", 4)).alias("v"))
        .withColumn("model", F.lit("first_touch"))
    )
    last_touch = (
        ranked.filter(F.col("rn_last") == 1)
        .groupBy("channel")
        .agg(F.sum(F.round("value", 4)).alias("v"))
        .withColumn("model", F.lit("last_touch"))
    )
    linear = (
        pairs.join(per_purchase, "p_id")
        .groupBy("channel")
        .agg(F.sum(F.round(F.col("value") / F.col("n_touch"), 4)).alias("v"))
        .withColumn("model", F.lit("linear"))
    )
    models = spark.createDataFrame(
        [("first_touch",), ("last_touch",), ("linear",)], "model string"
    )
    direct = (
        purchases.join(pairs.select("p_id").distinct(), "p_id", "left_anti")
        .agg(F.sum(F.round("value", 4)).alias("v"))
        # no touchless purchases → SUM over empty is NULL; the oracle's
        # GROUP BY over an empty set emits zero rows — drop to match
        .filter(F.col("v").isNotNull())
        .crossJoin(F.broadcast(models))
        .withColumn("channel", F.lit("direct"))
    )
    out = first_touch.unionByName(last_touch).unionByName(linear).unionByName(
        direct.select("channel", "v", "model")
    )
    return out.select(
        "channel", "model", F.round("v", 4).alias("attributed")
    )


# --------------------------------------------------------------------------
# q185 — hard-negative mining for contrastive training: nearest different-
# label neighbours. Candidates come from the exact sharded top-k (q23's
# operator, k=20) so no full re-rank is needed after the label filter.
# --------------------------------------------------------------------------

_HN_QUERIES = 5
_HN_CAND_K = 20
_HN_OUT_K = 5


def _hard_negatives_oracle() -> str:
    """Reuses the similarity module's cosine CTE (same formula the q23
    family hash-matches) instead of a drifting copy; labels join in at the
    candidate stage."""
    from .similarity_queries import _COSINE_CTE, _N_QUERIES

    if _HN_QUERIES != _N_QUERIES:
        raise ValueError("q185 assumes the shared query set")
    return f"""
WITH {_COSINE_CTE},
cand AS (
    SELECT query_id, neighbor_id, cosine
    FROM (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
               ) AS rk
        FROM scored
    ) WHERE rk <= {_HN_CAND_K}
),
neg AS (
    SELECT c.query_id, c.neighbor_id, c.cosine,
           e.label AS neg_label,
           ROW_NUMBER() OVER (
               PARTITION BY c.query_id ORDER BY c.cosine DESC, c.neighbor_id ASC
           ) AS rk
    FROM cand c
    JOIN embeddings e ON e.vec_id = c.neighbor_id
    JOIN embeddings qe ON qe.vec_id = c.query_id
    WHERE e.label <> qe.label
)
SELECT query_id, neighbor_id, cosine, neg_label
FROM neg WHERE rk <= {_HN_OUT_K}
"""


@register(
    "q185_hard_negatives",
    oracle=_hard_negatives_oracle(),
    tags=("similarity", "training-prep", "contrastive"),
)
def q185_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 hardest negatives (highest-cosine different-label neighbours)
    per query vector, mined from the exact top-20 candidate set. The
    candidate pass is the sharded two-phase top-k — no per-query global
    funnel — and the label filter + re-rank touch only queries×20 rows."""
    from ..operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _HN_QUERIES)
    cand = similarity.cosine_topk(emb, queries, k=_HN_CAND_K)
    labels = emb.select("vec_id", "label")
    q_lab = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
    )
    neg = (
        cand.join(
            labels.withColumnRenamed("vec_id", "neighbor_id").withColumnRenamed(
                "label", "neg_label"
            ),
            "neighbor_id",
        )
        .join(F.broadcast(q_lab), "query_id")
        .filter(F.col("neg_label") != F.col("q_label"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        neg.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _HN_OUT_K)
        .select("query_id", "neighbor_id", "cosine", "neg_label")
    )


# --------------------------------------------------------------------------
# q196 — weighted median: smallest price whose cumulative quantity weight
# crosses half the group total. All weights are integral doubles, so the
# running sums are exact and the crossing comparison has no ulp edge; ties
# in price collapse to the same selected value regardless of intra-tie
# order (the crossing happens inside the tie group).
# --------------------------------------------------------------------------


@register(
    "q196_weighted_median",
    oracle="""
WITH ranked AS (
    SELECT l_returnflag,
           l_extendedprice AS price,
           SUM(l_quantity) OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING
           ) AS cumw,
           SUM(l_quantity) OVER (PARTITION BY l_returnflag) AS totw
    FROM lineitem
)
SELECT l_returnflag,
       ROUND(MIN(price), 4) AS weighted_median_price,
       ROUND(MAX(totw), 4) AS total_weight
FROM ranked
WHERE cumw >= totw / 2.0
GROUP BY l_returnflag
""",
    tags=("A12", "W2", "robust-stats"),
)
def q196_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median extended price per return flag: one
    running-sum window (bounded per flag) + suffix-min. The scale note:
    a per-group sort is inherent to any exact weighted quantile; the
    approximate path at 100 TB is the equi-depth histogram family
    (q136)."""
    li = load_table(spark, sf_dir, "lineitem")
    w_run = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.sum("l_quantity").over(w_run).alias("cumw"),
        F.sum("l_quantity").over(w_all).alias("totw"),
    )
    return (
        ranked.filter(F.col("cumw") >= F.col("totw") / 2.0)
        .groupBy("l_returnflag")
        .agg(
            F.round(F.min("price"), 4).alias("weighted_median_price"),
            F.round(F.max("totw"), 4).alias("total_weight"),
        )
    )


# --------------------------------------------------------------------------
# q199 — feature-scaler fit: per-dimension statistics of the embedding
# matrix (the StandardScaler/MinMaxScaler parameter relation). One narrow
# posexplode + one keyed aggregation, 64 rows out.
# --------------------------------------------------------------------------


@register(
    "q199_feature_stats",
    oracle="""
SELECT i - 1 AS dim,
       ROUND(AVG(x), 4) AS mean_,
       ROUND(STDDEV_POP(x), 4) AS std_,
       ROUND(MIN(x), 4) AS min_,
       ROUND(MAX(x), 4) AS max_
FROM (
    SELECT CAST(UNNEST(embedding) AS DOUBLE) AS x,
           GENERATE_SUBSCRIPTS(embedding, 1) AS i
    FROM embeddings
)
GROUP BY i - 1
""",
    tags=("ml-prep", "A12", "F24"),
)
def q199_feature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/std/min/max over the embedding column — the fit
    step every feature-scaling stage runs before training."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        F.posexplode("embedding").alias("dim", "xf")
    ).select(
        F.col("dim").cast("long").alias("dim"),
        F.col("xf").cast("double").alias("x"),
    )
    return flat.groupBy("dim").agg(
        F.round(F.avg("x"), 4).alias("mean_"),
        F.round(F.stddev_pop("x"), 4).alias("std_"),
        F.round(F.min("x"), 4).alias("min_"),
        F.round(F.max("x"), 4).alias("max_"),
    )


# --------------------------------------------------------------------------
# q200 — Spark 4 SQL pipe syntax (|>): the q01-family pricing rollup
# declared as a pipeline. Same Catalyst plan as the method-chain form —
# this pins the engine's support for the new SQL surface.
# --------------------------------------------------------------------------


@register(
    "q200_pipe_syntax",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
WHERE l_quantity < 25
GROUP BY l_returnflag, l_linestatus
""",
    tags=("sql-surface", "A1"),
)
def q200_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The discounted-revenue rollup written in SQL pipe syntax."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "q200_lineitem"
    )
    return spark.sql(
        """
        FROM q200_lineitem
        |> WHERE l_quantity < 25
        |> AGGREGATE COUNT(*) AS n_items,
                     ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
           GROUP BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, n_items, revenue
        """
    )


# --------------------------------------------------------------------------
# q201 — time-bounded funnel: signup → click within 30 min → purchase
# within 60 min of that click. Deterministic min-ts chaining (q176's
# pattern) with per-step delay caps; integer epoch arithmetic.
# --------------------------------------------------------------------------


@register(
    "q201_bounded_funnel",
    oracle="""
WITH s AS (
    SELECT user_id, MIN(CAST(EPOCH(DATE_TRUNC('second', ts)) AS BIGINT)) AS s_sec
    FROM events WHERE event_type = 'signup' GROUP BY user_id
),
c AS (
    SELECT e.user_id, MIN(CAST(EPOCH(DATE_TRUNC('second', e.ts)) AS BIGINT)) AS c_sec
    FROM events e JOIN s ON s.user_id = e.user_id
    WHERE e.event_type = 'click'
      AND CAST(EPOCH(DATE_TRUNC('second', e.ts)) AS BIGINT) > s.s_sec
      AND CAST(EPOCH(DATE_TRUNC('second', e.ts)) AS BIGINT) <= s.s_sec + 1800
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, MIN(CAST(EPOCH(DATE_TRUNC('second', e.ts)) AS BIGINT)) AS p_sec
    FROM events e JOIN c ON c.user_id = e.user_id
    WHERE e.event_type = 'purchase'
      AND CAST(EPOCH(DATE_TRUNC('second', e.ts)) AS BIGINT) > c.c_sec
      AND CAST(EPOCH(DATE_TRUNC('second', e.ts)) AS BIGINT) <= c.c_sec + 3600
    GROUP BY e.user_id
)
SELECT CAST((SELECT COUNT(*) FROM s) AS BIGINT) AS n_signup,
       CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_click_30m,
       CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchase_60m
""",
    tags=("funnel", "temporal", "A2"),
)
def q201_bounded_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel with per-step delay caps — each step is a
    keyed min-aggregation joined to the previous step's anchor."""
    events = load_table(spark, sf_dir, "events")
    sec = F.col("ts").cast("long")
    s = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(sec).alias("s_sec"))
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter((sec > F.col("s_sec")) & (sec <= F.col("s_sec") + 1800))
        .groupBy("user_id")
        .agg(F.min(sec).alias("c_sec"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter((sec > F.col("c_sec")) & (sec <= F.col("c_sec") + 3600))
        .groupBy("user_id")
        .agg(F.min(sec).alias("p_sec"))
    )
    return (
        s.agg(F.count(F.lit(1)).alias("n_signup"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click_30m")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase_60m")))
    )


# --------------------------------------------------------------------------
# q202 — nearest-centroid evaluation: fit per-label centroids (mean per
# dimension, rounded 4dp), assign every vector to the closest centroid
# (squared distance rounded 4dp, label tie-break), report the confusion
# counts. The clustering-eval loop of any embedding pipeline.
# --------------------------------------------------------------------------


@register(
    "q202_centroid_confusion",
    oracle="""
WITH flat AS (
    SELECT vec_id, label,
           GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS dim,
           CAST(UNNEST(embedding) AS DOUBLE) AS x
    FROM embeddings
),
cent AS (
    SELECT label AS c_label, dim, ROUND(AVG(x), 4) AS c
    FROM flat GROUP BY label, dim
),
dists AS (
    SELECT f.vec_id, f.label AS true_label, c.c_label,
           ROUND(SUM((f.x - c.c) * (f.x - c.c)), 4) AS d2
    FROM flat f JOIN cent c ON c.dim = f.dim
    GROUP BY f.vec_id, f.label, c.c_label
),
assigned AS (
    SELECT vec_id, true_label, c_label AS pred_label,
           ROW_NUMBER() OVER (
               PARTITION BY vec_id ORDER BY d2 ASC, c_label ASC
           ) AS rk
    FROM dists
)
SELECT CAST(true_label AS INT) AS true_label,
       CAST(pred_label AS INT) AS pred_label,
       CAST(COUNT(*) AS BIGINT) AS n
FROM assigned WHERE rk = 1
GROUP BY true_label, pred_label
""",
    tags=("ml-prep", "similarity", "A6"),
)
def q202_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid confusion matrix. The per-vector argmin window is
    bounded by the label count (10), not the corpus; centroid fit is one
    (label, dim)-keyed aggregation."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim", "xf"),
    ).select("vec_id", "label", "dim", F.col("xf").cast("double").alias("x"))
    cent = flat.groupBy(F.col("label").alias("c_label"), "dim").agg(
        F.round(F.avg("x"), 4).alias("c")
    )
    dists = (
        flat.join(cent, "dim")
        .groupBy("vec_id", F.col("label").alias("true_label"), "c_label")
        .agg(F.round(F.sum(F.pow(F.col("x") - F.col("c"), 2)), 4).alias("d2"))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("d2").asc(), F.col("c_label").asc()
    )
    return (
        dists.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .groupBy("true_label", F.col("c_label").alias("pred_label"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# q203 — source-overlap matrix: shingle-set Jaccard between every source
# pair. A shingle shared by S sources contributes S² pair rows — S is
# bounded by the source count, so the self-join cannot blow up.
# --------------------------------------------------------------------------


@register(
    "q203_source_overlap",
    oracle="""
WITH sdocs AS (
    SELECT doc_id, source, LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '') AS w
    FROM documents
),
stoks AS (
    SELECT doc_id, source, UNNEST(w) AS tok, GENERATE_SUBSCRIPTS(w, 1) AS i
    FROM sdocs
),
ssh AS (
    SELECT DISTINCT a.source, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
    FROM stoks a
    JOIN stoks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
    JOIN stoks c ON c.doc_id = a.doc_id AND c.i = a.i + 2
),
ssizes AS (SELECT source, COUNT(*) AS sz FROM ssh GROUP BY source),
sinter AS (
    SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS ov
    FROM ssh a JOIN ssh b ON b.shingle = a.shingle AND a.source < b.source
    GROUP BY 1, 2
)
SELECT src_a, src_b, CAST(ov AS BIGINT) AS shared_shingles,
       ROUND(CAST(ov AS DOUBLE) / (sa.sz + sb.sz - ov), 4) AS jaccard
FROM sinter
JOIN ssizes sa ON sa.source = src_a
JOIN ssizes sb ON sb.source = src_b
""",
    tags=("corpus-analytics", "dedup-setsim", "A6"),
)
def q203_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-set Jaccard between every source pair — the cross-corpus
    contamination matrix a mixing pipeline consults before weighting
    sources. Shingling reuses the array-form operator (distinct per
    source via one keyed distinct); a shingle shared by S sources
    contributes S choose 2 pair rows, bounded by the source count."""
    from ..operators import dedup as dd

    docs = load_table(spark, sf_dir, "documents")
    sh = (
        dd.shingles(docs.select(F.col("source").alias("src_id"), "text"), id_col="src_id")
        .distinct()
    )
    sizes = sh.groupBy("src_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("src_id").alias("src_a"), "shingle")
    b = sh.select(F.col("src_id").alias("src_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("ov"))
    )
    return (
        inter.join(sizes.withColumnRenamed("src_id", "src_a"), "src_a")
        .withColumnRenamed("sz", "sz_a")
        .join(sizes.withColumnRenamed("src_id", "src_b"), "src_b")
        .withColumnRenamed("sz", "sz_b")
        .select(
            "src_a",
            "src_b",
            F.col("ov").alias("shared_shingles"),
            F.round(
                F.col("ov") / (F.col("sz_a") + F.col("sz_b") - F.col("ov")), 4
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# q204 — RFM segmentation. Quartile BOUNDARIES come from one interpolated-
# percentile aggregate (rounded 4dp before the comparisons so both engines
# bucket identically); buckets are then broadcast comparisons — no global
# NTILE window over the user relation.
# --------------------------------------------------------------------------


@register(
    "q204_rfm_segments",
    oracle="""
WITH pur AS (
    SELECT user_id,
           CAST(EPOCH(DATE_TRUNC('second', ts)) AS BIGINT) AS sec,
           value
    FROM events WHERE event_type = 'purchase'
),
mx AS (SELECT MAX(sec) AS max_sec FROM pur),
rfm AS (
    SELECT p.user_id,
           CAST(m.max_sec - MAX(p.sec) AS DOUBLE) AS recency,
           CAST(COUNT(*) AS DOUBLE) AS frequency,
           ROUND(SUM(p.value), 4) AS monetary
    FROM pur p CROSS JOIN mx m
    GROUP BY p.user_id, m.max_sec
),
bounds AS (
    SELECT ROUND(QUANTILE_CONT(recency, 0.25), 4) AS r1,
           ROUND(QUANTILE_CONT(recency, 0.50), 4) AS r2,
           ROUND(QUANTILE_CONT(recency, 0.75), 4) AS r3,
           ROUND(QUANTILE_CONT(frequency, 0.25), 4) AS f1,
           ROUND(QUANTILE_CONT(frequency, 0.50), 4) AS f2,
           ROUND(QUANTILE_CONT(frequency, 0.75), 4) AS f3,
           ROUND(QUANTILE_CONT(monetary, 0.25), 4) AS m1,
           ROUND(QUANTILE_CONT(monetary, 0.50), 4) AS m2,
           ROUND(QUANTILE_CONT(monetary, 0.75), 4) AS m3
    FROM rfm
),
scored AS (
    SELECT r.user_id,
           -- recency: LOWER is better → quartile 4 = most recent
           CAST(4 - (CAST(r.recency > b.r1 AS INT) + CAST(r.recency > b.r2 AS INT)
                     + CAST(r.recency > b.r3 AS INT)) AS BIGINT) AS r_q,
           CAST(1 + CAST(r.frequency > b.f1 AS INT) + CAST(r.frequency > b.f2 AS INT)
                  + CAST(r.frequency > b.f3 AS INT) AS BIGINT) AS f_q,
           CAST(1 + CAST(r.monetary > b.m1 AS INT) + CAST(r.monetary > b.m2 AS INT)
                  + CAST(r.monetary > b.m3 AS INT) AS BIGINT) AS m_q
    FROM rfm r CROSS JOIN bounds b
)
SELECT user_id, r_q, f_q, m_q,
       r_q || '-' || f_q || '-' || m_q AS segment
FROM scored
""",
    tags=("A13", "segmentation", "W4"),
)
def q204_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user recency/frequency/monetary quartile scores + segment
    label. One purchase rollup, one 9-value percentile aggregate
    broadcast back, then pure comparisons."""
    events = load_table(spark, sf_dir, "events")
    pur = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").cast("long").alias("sec"), "value"
    )
    mx = pur.agg(F.max("sec").alias("max_sec"))
    rfm = (
        pur.crossJoin(F.broadcast(mx))
        .groupBy("user_id", "max_sec")
        .agg(
            (F.col("max_sec") - F.max("sec")).cast("double").alias("recency"),
            F.count(F.lit(1)).cast("double").alias("frequency"),
            F.round(F.sum("value"), 4).alias("monetary"),
        )
        .select("user_id", "recency", "frequency", "monetary")
    )
    pct = lambda c, p: F.round(F.expr(f"percentile({c}, {p}D)"), 4)  # noqa: E731
    bounds = rfm.agg(
        pct("recency", 0.25).alias("r1"), pct("recency", 0.5).alias("r2"),
        pct("recency", 0.75).alias("r3"),
        pct("frequency", 0.25).alias("f1"), pct("frequency", 0.5).alias("f2"),
        pct("frequency", 0.75).alias("f3"),
        pct("monetary", 0.25).alias("m1"), pct("monetary", 0.5).alias("m2"),
        pct("monetary", 0.75).alias("m3"),
    )
    gt = lambda c, b: (F.col(c) > F.col(b)).cast("long")  # noqa: E731
    scored = rfm.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        (F.lit(4) - (gt("recency", "r1") + gt("recency", "r2") + gt("recency", "r3"))).alias("r_q"),
        (F.lit(1) + gt("frequency", "f1") + gt("frequency", "f2") + gt("frequency", "f3")).alias("f_q"),
        (F.lit(1) + gt("monetary", "m1") + gt("monetary", "m2") + gt("monetary", "m3")).alias("m_q"),
    )
    return scored.withColumn(
        "segment",
        F.concat_ws("-", F.col("r_q"), F.col("f_q"), F.col("m_q")),
    )


# --------------------------------------------------------------------------
# q205 — CUSUM changepoint scan over the daily volume series. The classic
# recurrence S_t = max(0, S_{t-1} + dev_t) is NOT a plain window — but it
# equals cum_t - running_min(cum_t), which is. Daily relation is calendar-
# bounded (q174's declared exception class).
# --------------------------------------------------------------------------


@register(
    "q205_cusum_changepoints",
    oracle="""
WITH daily AS (
    SELECT DATE_TRUNC('day', ts) AS day, CAST(COUNT(*) AS DOUBLE) AS n
    FROM events GROUP BY 1
),
base AS (SELECT AVG(n) AS mu FROM daily),
dev AS (
    SELECT d.day, d.n, d.n - b.mu AS dv FROM daily d CROSS JOIN base b
),
cum AS (
    SELECT day, n,
           SUM(dv) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS c
    FROM dev
),
cusum AS (
    SELECT day, n,
           c - MIN(c) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS s_pos
    FROM cum
)
SELECT day, CAST(n AS BIGINT) AS n_events, ROUND(s_pos, 4) AS cusum_pos,
       CASE WHEN ROUND(s_pos, 4) > 50.0 THEN 1 ELSE 0 END AS alert
FROM cusum
""",
    tags=("temporal", "dq", "W4"),
)
def q205_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positive CUSUM drift statistic per day with an alert flag: the
    max(0, ...) recurrence rewritten as cum - running_min(cum)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    base = daily.agg(F.avg("n").alias("mu"))
    dev = daily.crossJoin(F.broadcast(base)).withColumn(
        "dv", F.col("n") - F.col("mu")
    )
    w = Window.partitionBy(F.lit(1)).orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = dev.withColumn("c", F.sum("dv").over(w))
    cusum = cum.withColumn("s_pos", F.col("c") - F.min("c").over(w))
    return cusum.select(
        "day",
        F.col("n").cast("long").alias("n_events"),
        F.round("s_pos", 4).alias("cusum_pos"),
        F.when(F.round("s_pos", 4) > 50.0, 1).otherwise(0).alias("alert"),
    )


# --------------------------------------------------------------------------
# q208 — Spark 4 collation support: grouping under UTF8_LCASE. Mixed-case
# variants are derived deterministically (initcap for even custkeys), the
# collated group-by folds them back together; the oracle lowercases.
# --------------------------------------------------------------------------


@register(
    "q208_collated_grouping",
    oracle="""
SELECT LOWER(seg) AS segment,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT seg) AS BIGINT) AS n_raw_variants
FROM (
    SELECT CASE WHEN c_custkey % 2 = 0
                THEN UPPER(SUBSTR(c_mktsegment, 1, 1)) || LOWER(SUBSTR(c_mktsegment, 2))
                ELSE LOWER(c_mktsegment) END AS seg
    FROM customer
)
GROUP BY LOWER(seg)
""",
    tags=("sql-surface", "F5", "collation"),
)
def q208_collated_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive grouping via COLLATE(…, 'UTF8_LCASE') — the
    Spark 4 collation engine doing what ad-hoc LOWER() wrappers did,
    while still counting the raw case variants it folded."""
    cust = load_table(spark, sf_dir, "customer")
    seg = F.when(
        F.col("c_custkey") % 2 == 0, F.initcap(F.lower("c_mktsegment"))
    ).otherwise(F.lower("c_mktsegment"))
    mixed = cust.select(seg.alias("seg"))
    return (
        mixed.groupBy(F.expr("COLLATE(seg, 'UTF8_LCASE')").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(F.expr("COLLATE(seg, 'UTF8_BINARY')")).alias(
                "n_raw_variants"
            ),
        )
        .select(F.lower("k").alias("segment"), "n", "n_raw_variants")
    )


# --------------------------------------------------------------------------
# q209 — forward-looking as-of: seconds until the user's NEXT error event
# (within a 600 s tolerance). Complements q167's since-last-error backward
# scan; the conditional running-min over the FOLLOWING frame stays a
# per-user window.
# --------------------------------------------------------------------------


@register(
    "q209_time_to_next_error",
    oracle="""
WITH seq AS (
    SELECT event_id, user_id,
           CAST(EPOCH(DATE_TRUNC('second', ts)) AS BIGINT) AS sec,
           event_type
    FROM events
),
nxt AS (
    SELECT event_id, user_id, sec,
           MIN(CASE WHEN event_type = 'error' THEN sec END) OVER (
               PARTITION BY user_id ORDER BY sec, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
           ) AS next_err_sec
    FROM seq
)
SELECT event_id, user_id, sec,
       CASE WHEN next_err_sec - sec <= 600 THEN next_err_sec - sec END
           AS sec_to_next_error
FROM nxt
""",
    tags=("temporal", "W2", "asof"),
)
def q209_time_to_next_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event, the delay to the user's next error if within 10 min —
    NULL otherwise. One forward-frame conditional min window."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    seq = events.select(
        "event_id",
        "user_id",
        F.col("ts").cast("long").alias("sec"),
        "event_type",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nxt = seq.withColumn(
        "next_err_sec",
        F.min(
            F.when(F.col("event_type") == "error", F.col("sec"))
        ).over(w),
    )
    return nxt.select(
        "event_id",
        "user_id",
        "sec",
        F.when(
            F.col("next_err_sec") - F.col("sec") <= 600,
            F.col("next_err_sec") - F.col("sec"),
        ).alias("sec_to_next_error"),
    )


# --------------------------------------------------------------------------
# q210 — Pareto frontier (2-D skyline): parts minimizing retail price while
# maximizing size. Exact rule over DISTINCT (price, size) pairs sorted
# (price ASC, size DESC): a pair survives iff its size strictly exceeds
# every preceding size (running max) — equal-price-bigger-size and
# cheaper-equal-size dominations both collapse into that single test.
#
# Scale shape: the global sort only ever sees BAND SURVIVORS — stage 1
# computes max size per price band (keyed agg), stage 2 takes the running
# max over strictly cheaper bands (a band-count-bounded window) and prunes
# every row it dominates, stage 3 runs the exact window on what's left
# (frontier candidates). The classic distributed-skyline two-phase plan.
# --------------------------------------------------------------------------


@register(
    "q210_pareto_frontier",
    oracle="""
WITH pairs AS (
    SELECT DISTINCT p_retailprice AS price, CAST(p_size AS BIGINT) AS size
    FROM part
),
ranked AS (
    SELECT price, size,
           MAX(size) OVER (
               ORDER BY price ASC, size DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS max_prev
    FROM pairs
)
SELECT price, size
FROM ranked
WHERE max_prev IS NULL OR size > max_prev
""",
    tags=("skyline", "O3", "A1"),
)
def q210_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price/size skyline with band pruning ahead of the exact pass."""
    part = load_table(spark, sf_dir, "part")
    pairs = part.select(
        F.col("p_retailprice").alias("price"),
        F.col("p_size").cast("long").alias("size"),
    ).distinct()
    # stage 1: per-band maxima (band width 50 price units)
    banded = pairs.withColumn("band", F.floor(F.col("price") / 50))
    band_max = banded.groupBy("band").agg(F.max("size").alias("bmax"))
    # stage 2: running max over STRICTLY cheaper bands — a relation the
    # size of the band count, so the window is calendar-class bounded
    w_b = (
        Window.partitionBy(F.lit(1))
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = band_max.withColumn("prev_bmax", F.max("bmax").over(w_b)).select(
        "band", "prev_bmax"
    )
    # rows dominated by ANY strictly cheaper band's max are gone before
    # the exact pass (strictly cheaper price, size >= theirs)
    cand = (
        banded.join(F.broadcast(prior), "band", "left")
        .filter(
            F.col("prev_bmax").isNull() | (F.col("size") > F.col("prev_bmax"))
        )
        .select("band", "price", "size")
    )
    # stage 2.5: LOCAL skyline per band (partitioned window — distributes
    # across bands) — a globally-undominated pair is undominated within
    # its band, so this only removes rows the final pass would drop. It
    # bounds the global window's input by the SUM OF BAND FRONTIERS, not
    # the first band's population.
    w_local = (
        Window.partitionBy("band")
        .orderBy(F.col("price").asc(), F.col("size").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = (
        cand.withColumn("lmax", F.max("size").over(w_local))
        .filter(F.col("lmax").isNull() | (F.col("size") > F.col("lmax")))
        .select("price", "size")
    )
    # final exact pass over the frontier-candidate union — an unpartitioned
    # window over a pruned relation (declared exception, SCALE.md): band
    # frontiers are tiny in practice; a pathological single-band corpus
    # degrades to its own frontier size, not the raw pair population.
    w = (
        Window.partitionBy(F.lit(1))
        .orderBy(F.col("price").asc(), F.col("size").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = local.withColumn("max_prev", F.max("size").over(w))
    return ranked.filter(
        F.col("max_prev").isNull() | (F.col("size") > F.col("max_prev"))
    ).select("price", "size")


# --------------------------------------------------------------------------
# q211 — behavioural user similarity: cosine between per-user event-type
# count vectors, blocked into FIXED-SIZE cohorts (user_id div 5 — block
# count grows with the user population, block size stays 5) so pair
# fan-out per reducer key is constant — the collaborative-filtering
# neighbour query. Top-3 per user, rounded cosine, id tie-break.
# --------------------------------------------------------------------------


@register(
    "q211_user_similarity",
    oracle="""
WITH vec AS (
    SELECT user_id, user_id // 5 AS blk, event_type, CAST(COUNT(*) AS DOUBLE) AS c
    FROM events GROUP BY user_id, event_type
),
nrm AS (
    SELECT user_id, SQRT(SUM(c * c)) AS n FROM vec GROUP BY user_id
),
dots AS (
    SELECT a.user_id AS u_a, b.user_id AS u_b, SUM(a.c * b.c) AS dot
    FROM vec a
    JOIN vec b ON b.blk = a.blk AND b.event_type = a.event_type
               AND a.user_id <> b.user_id
    GROUP BY a.user_id, b.user_id
),
scored AS (
    SELECT d.u_a, d.u_b,
           ROUND(d.dot / (na.n * nb.n), 4) AS cosine,
           ROW_NUMBER() OVER (
               PARTITION BY d.u_a
               ORDER BY ROUND(d.dot / (na.n * nb.n), 4) DESC, d.u_b ASC
           ) AS rk
    FROM dots d
    JOIN nrm na ON na.user_id = d.u_a
    JOIN nrm nb ON nb.user_id = d.u_b
)
SELECT u_a AS user_id, u_b AS neighbor_id, cosine
FROM scored WHERE rk <= 3
""",
    tags=("similarity", "segmentation", "J1"),
)
def q211_user_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 behaviourally-similar users within each 5-user cohort. The
    dimension join keys on (block, event_type); because blocks have FIXED
    size, fan-out per key is constant and the key count scales with the
    population — no reducer ever sees a data-scaled pair product. The
    rank window is bounded by the cohort size."""
    events = load_table(spark, sf_dir, "events")
    vec = events.groupBy(
        "user_id", F.expr("user_id div 5").alias("blk"), "event_type"
    ).agg(F.count(F.lit(1)).cast("double").alias("c"))
    nrm = vec.groupBy("user_id").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("n")
    )
    a = vec.select(
        F.col("user_id").alias("u_a"), "blk", "event_type", F.col("c").alias("ca")
    )
    b = vec.select(
        F.col("user_id").alias("u_b"), "blk", "event_type", F.col("c").alias("cb")
    )
    dots = (
        a.join(b, ["blk", "event_type"])
        .filter(F.col("u_a") != F.col("u_b"))
        .groupBy("u_a", "u_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    na = nrm.select(F.col("user_id").alias("u_a"), F.col("n").alias("na"))
    nb = nrm.select(F.col("user_id").alias("u_b"), F.col("n").alias("nb"))
    scored = (
        dots.join(na, "u_a")
        .join(nb, "u_b")
        .withColumn("cosine", F.round(F.col("dot") / (F.col("na") * F.col("nb")), 4))
    )
    w = Window.partitionBy("u_a").orderBy(F.col("cosine").desc(), F.col("u_b").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            F.col("u_a").alias("user_id"),
            F.col("u_b").alias("neighbor_id"),
            "cosine",
        )
    )


# --------------------------------------------------------------------------
# q212 — referential-integrity audit across the whole star schema: orphan
# counts per FK relationship in one relation. Each check is an anti-join
# (broadcast for the small parents); the union is the DQ report a
# warehouse runs after every load.
# --------------------------------------------------------------------------


@register(
    "q212_fk_audit",
    oracle="""
SELECT 'orders->customer' AS fk, CAST(COUNT(*) AS BIGINT) AS orphans
FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'lineitem->orders', CAST(COUNT(*) AS BIGINT)
FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'lineitem->part', CAST(COUNT(*) AS BIGINT)
FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
UNION ALL
SELECT 'lineitem->supplier', CAST(COUNT(*) AS BIGINT)
FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
UNION ALL
SELECT 'customer->nation', CAST(COUNT(*) AS BIGINT)
FROM customer c WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
UNION ALL
SELECT 'supplier->nation', CAST(COUNT(*) AS BIGINT)
FROM supplier s WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey)
UNION ALL
SELECT 'nation->region', CAST(COUNT(*) AS BIGINT)
FROM nation n WHERE NOT EXISTS (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey)
""",
    tags=("dq", "P5", "U1"),
)
def q212_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan counts for every FK edge of the star schema in one pass of
    anti-joins (parents broadcast where small)."""
    t = {n: load_table(spark, sf_dir, n) for n in
         ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")}

    def orphans(name, child, ckey, parent, pkey, small_parent=False):
        # Only genuinely bounded dims are FORCE-broadcast; fact-scale
        # parents (orders, customer at SF) shuffle on the key and AQE
        # picks the strategy — a forced broadcast of a billion-key
        # distinct set is a driver OOM, not an optimisation.
        keys = parent.select(F.col(pkey).alias(ckey)).distinct()
        if small_parent:
            keys = F.broadcast(keys)
        cnt = child.join(keys, ckey, "left_anti").agg(
            F.count(F.lit(1)).alias("orphans")
        )
        return cnt.select(F.lit(name).alias("fk"), "orphans")

    checks = [
        orphans("orders->customer", t["orders"], "o_custkey", t["customer"], "c_custkey"),
        orphans("lineitem->orders", t["lineitem"], "l_orderkey", t["orders"], "o_orderkey"),
        orphans("lineitem->part", t["lineitem"], "l_partkey", t["part"], "p_partkey"),
        orphans("lineitem->supplier", t["lineitem"], "l_suppkey", t["supplier"], "s_suppkey"),
        orphans("customer->nation", t["customer"], "c_nationkey", t["nation"], "n_nationkey", True),
        orphans("supplier->nation", t["supplier"], "s_nationkey", t["nation"], "n_nationkey", True),
        orphans("nation->region", t["nation"], "n_regionkey", t["region"], "r_regionkey", True),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


# --------------------------------------------------------------------------
# q213 — spend-concentration Gini per nation: the inequality measure over
# per-customer revenue. Rank formula G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n with
# x sorted ascending (ties broken by custkey, which cannot change the sum:
# equal x contribute rank-independent Σi within the tie group). The rank
# window partitions per nation — bounded by a nation's customer count.
# --------------------------------------------------------------------------


@register(
    "q213_spend_gini",
    oracle="""
WITH spend AS (
    SELECT c.c_nationkey AS nationkey, c.c_custkey,
           SUM(o.o_totalprice) AS x
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey, c.c_custkey
),
ranked AS (
    SELECT nationkey, x,
           ROW_NUMBER() OVER (
               PARTITION BY nationkey ORDER BY x ASC, c_custkey ASC
           ) AS i
    FROM spend
)
SELECT CAST(nationkey AS BIGINT) AS nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(2.0 * SUM(i * x) / (COUNT(*) * SUM(x))
             - (COUNT(*) + 1.0) / COUNT(*), 4) AS gini
FROM ranked
GROUP BY nationkey
""",
    tags=("A12", "W2", "inequality"),
)
def q213_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend per nation — one keyed spend
    rollup, one per-nation rank window, one closed-form aggregate."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    spend = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .groupBy(
            F.col("c_nationkey").cast("long").alias("nationkey"), "c_custkey"
        )
        .agg(F.sum("o_totalprice").alias("x"))
    )
    w = Window.partitionBy("nationkey").orderBy(
        F.col("x").asc(), F.col("c_custkey").asc()
    )
    ranked = spend.withColumn("i", F.row_number().over(w))
    n = F.count(F.lit(1))
    return ranked.groupBy("nationkey").agg(
        n.alias("n_customers"),
        F.round(
            2.0 * F.sum(F.col("i") * F.col("x")) / (n * F.sum("x"))
            - (n + 1.0) / n,
            4,
        ).alias("gini"),
    )


# --------------------------------------------------------------------------
# q232 — k-anonymity audit over customer quasi-identifiers. A release is
# k-anonymous when every quasi-identifier combination (here nation,
# market segment, account-balance band) covers ≥ k individuals; groups
# below k re-identify their members. Output: every QI group with its
# size and violation flag — the relation a privacy gate consumes before
# exporting a customer cut.
#
# 100 TB posture: one grouped aggregation on the QI tuple (bounded
# cardinality: |nations| × |segments| × |bands|) + one broadcast join to
# the 25-row nation dim. Band via integer floor — exact on both engines.
# --------------------------------------------------------------------------
_KANON_K = 5
_KANON_BAND = 2000.0


@register(
    "q232_kanonymity",
    oracle=f"""
SELECT n.n_name,
       c.c_mktsegment,
       CAST(FLOOR(c.c_acctbal / {_KANON_BAND}) AS BIGINT) AS bal_band,
       CAST(COUNT(*) AS BIGINT) AS group_n,
       CAST(CASE WHEN COUNT(*) < {_KANON_K} THEN 1 ELSE 0 END AS BIGINT)
           AS violates_k
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY n.n_name, c.c_mktsegment, bal_band
ORDER BY n.n_name, c.c_mktsegment, bal_band
""",
    tags=("privacy", "A5", "J1"),
)
def q232_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit: (n_name, c_mktsegment, bal_band, group_n,
    violates_k) for k=5 over (nation, segment, floor(acctbal/2000))
    quasi-identifiers. Nation dim broadcast; one QI-keyed aggregation."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.join(
            F.broadcast(nation),
            cust["c_nationkey"] == nation["n_nationkey"],
        )
        .groupBy(
            "n_name",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / _KANON_BAND).alias("bal_band"),
        )
        .agg(
            F.count(F.lit(1)).alias("group_n"),
            (F.count(F.lit(1)) < _KANON_K).cast("long").alias("violates_k"),
        )
        .orderBy("n_name", "c_mktsegment", "bal_band")
    )


# --------------------------------------------------------------------------
# q237 — deterministic bootstrap confidence interval for mean order value.
# Hash-seeded half-sample bootstrap: replica b keeps order o iff
# md5(o_orderkey || '|' || b) is even — fully reproducible, no RNG state,
# and any executor can recompute membership locally. Replica sums use
# exact integer cents so partitioned summation matches the single-node
# oracle bit-for-bit; the CI trims one replica mean per tail (≈ 2.5/97.5
# percentiles of B=40).
#
# 100 TB posture: the replicate explode is a bounded ×B map-side blow-up
# feeding ONE aggregation on b with map-side partials (each task emits ≤B
# partial rows, so the 40-group reduce is never a funnel); the rank step
# touches exactly B rows inside a single bounded aggregate (array-sort of
# 40 structs), not a global window over data.
# --------------------------------------------------------------------------
_BOOT_B = 40


@register(
    "q237_bootstrap_ci",
    oracle=f"""
WITH reps AS (SELECT b FROM UNNEST(GENERATE_SERIES(0, {_BOOT_B - 1})) AS t(b)),
draws AS (
    SELECT r.b,
           CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
    FROM orders o CROSS JOIN reps r
    WHERE CAST(('0x' || SUBSTR(MD5(CAST(o.o_orderkey AS VARCHAR) || '|'
                     || CAST(r.b AS VARCHAR)), 1, 8))::UBIGINT AS BIGINT)
          % 2 = 0
),
rep_means AS (
    SELECT b, SUM(cents) / (100.0 * COUNT(*)) AS m
    FROM draws GROUP BY b
),
ranked AS (
    SELECT m, ROW_NUMBER() OVER (ORDER BY m, b) AS rn FROM rep_means
),
pt AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
               / (100.0 * COUNT(*)) AS pm
    FROM orders
)
SELECT pt.n_orders,
       CAST({_BOOT_B} AS BIGINT) AS n_replicas,
       ROUND(pt.pm, 4) AS point_mean,
       ROUND((SELECT m FROM ranked WHERE rn = 2), 4) AS ci_lo,
       ROUND((SELECT m FROM ranked WHERE rn = {_BOOT_B - 1}), 4) AS ci_hi
FROM pt
""",
    tags=("stats", "A12", "A13"),
)
def q237_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-seeded half-sample bootstrap CI for mean order value:
    (n_orders, n_replicas, point_mean, ci_lo, ci_hi) — one row. Replica
    membership is a pure function of (o_orderkey, b); sums are exact
    integer cents."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    draws = orders.select(
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
        "o_orderkey",
    ).filter(
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("o_orderkey").cast("string"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 0
    )
    rep_means = draws.groupBy("b").agg(
        (F.sum("cents") / (100.0 * F.count(F.lit(1)))).alias("m")
    )
    bounds = rep_means.agg(
        F.sort_array(F.collect_list(F.struct("m", "b"))).alias("arr")
    ).select(
        F.round(F.element_at("arr", 2)["m"], 4).alias("ci_lo"),
        F.round(F.element_at("arr", _BOOT_B - 1)["m"], 4).alias("ci_hi"),
    )
    pt = orders.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("cents") / (100.0 * F.count(F.lit(1))), 4).alias(
            "point_mean"
        ),
    )
    return pt.crossJoin(F.broadcast(bounds)).select(
        "n_orders",
        F.lit(_BOOT_B).cast("long").alias("n_replicas"),
        "point_mean",
        "ci_lo",
        "ci_hi",
    )


# --------------------------------------------------------------------------
# q238 — co-purchase communities via deterministic label propagation.
# Graph: parts are nodes, an edge joins two parts ordered together, weight
# = number of shared orders; 3 synchronous LPA rounds with (weight desc,
# label asc) argmax — a fixed-round pure function of the graph, so the
# oracle unrolls the identical three algebraic steps and hash-matches.
# Pair enumeration is per-order (≤7 items → ≤21 pairs, bounded fan-out);
# each round is an edge-keyed join + (node, label) agg + per-node argmax.
# --------------------------------------------------------------------------
_LPA_ROUNDS = 3

_LPA_EDGES_CTE = """
items AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
cp AS (
    SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS w
    FROM items a
    JOIN items b ON b.l_orderkey = a.l_orderkey
                AND a.l_partkey < b.l_partkey
    GROUP BY pa, pb
),
edges AS (
    SELECT pa AS src, pb AS dst, w FROM cp
    UNION ALL
    SELECT pb AS src, pa AS dst, w FROM cp
),
l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges)
"""


def _lpa_round_ctes(n: int) -> str:
    parts = []
    for r in range(1, n + 1):
        parts.append(f"""
n{r} AS (
    SELECT e.src AS node, l.lbl, SUM(e.w) AS wsum
    FROM edges e JOIN l{r - 1} l ON l.node = e.dst
    GROUP BY e.src, l.lbl
),
l{r} AS (
    SELECT node, lbl FROM (
        SELECT node, lbl,
               ROW_NUMBER() OVER (
                   PARTITION BY node ORDER BY wsum DESC, lbl ASC
               ) AS rn
        FROM n{r}
    ) WHERE rn = 1
)""")
    return ",".join(parts)


@register(
    "q238_copurchase_communities",
    oracle=f"""
WITH {_LPA_EDGES_CTE},
{_lpa_round_ctes(_LPA_ROUNDS)}
SELECT node AS part_id, lbl AS community
FROM l{_LPA_ROUNDS}
ORDER BY part_id
""",
    tags=("graph", "A4", "W3"),
)
def q238_copurchase_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part communities from 3 deterministic LPA rounds over the
    co-purchase graph: (part_id, community). Iterative — builds jobs per
    round (operators/graph.py:label_propagation)."""
    from ..operators.graph import label_propagation

    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("pb"))
    cp = (
        a.join(b, "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    edges = cp.select(
        F.col("pa").alias("s"), F.col("pb").alias("d"), "w"
    ).unionByName(cp.select(F.col("pb").alias("s"), F.col("pa").alias("d"), "w"))
    out = label_propagation(edges, n_rounds=_LPA_ROUNDS)
    return out.select(
        F.col("node").alias("part_id"), F.col("community")
    ).orderBy("part_id")


# --------------------------------------------------------------------------
# q240 — l-diversity audit, k-anonymity's stronger sibling (q232): a QI
# group can be large enough for k yet expose everyone in it when all its
# members share one sensitive value. Here QI = (nation, balance band),
# sensitive attribute = market segment, l = 3: groups whose members span
# fewer than 3 distinct segments are flagged. Same bounded shuffle shape
# as q232 — one grouped agg on the QI tuple with a two-phase partial
# distinct, plus the 25-row broadcast nation dim.
# --------------------------------------------------------------------------
_LDIV_L = 3


@register(
    "q240_ldiversity",
    oracle=f"""
SELECT n.n_name,
       CAST(FLOOR(c.c_acctbal / {_KANON_BAND}) AS BIGINT) AS bal_band,
       CAST(COUNT(*) AS BIGINT) AS group_n,
       CAST(COUNT(DISTINCT c.c_mktsegment) AS BIGINT) AS n_sensitive,
       CAST(CASE WHEN COUNT(DISTINCT c.c_mktsegment) < {_LDIV_L}
                 THEN 1 ELSE 0 END AS BIGINT) AS violates_l
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY n.n_name, bal_band
ORDER BY n.n_name, bal_band
""",
    tags=("privacy", "A5", "A10"),
)
def q240_ldiversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit: (n_name, bal_band, group_n, n_sensitive,
    violates_l) — distinct market segments per (nation, balance-band) QI
    group, flagged when below l=3."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.join(
            F.broadcast(nation),
            cust["c_nationkey"] == nation["n_nationkey"],
        )
        .groupBy(
            "n_name",
            F.floor(F.col("c_acctbal") / _KANON_BAND).alias("bal_band"),
        )
        .agg(
            F.count(F.lit(1)).alias("group_n"),
            F.countDistinct("c_mktsegment").alias("n_sensitive"),
            (F.countDistinct("c_mktsegment") < _LDIV_L)
            .cast("long")
            .alias("violates_l"),
        )
        .orderBy("n_name", "bal_band")
    )


# --------------------------------------------------------------------------
# q242 — inverse-propensity-weighted treatment effect (observational
# causal inference next to q175's randomized A/B and q229's CUPED).
# Unit = user; treatment = ever fired a 'signup' event; outcome = total
# purchase value; confounder = activity band (floor(n_events / 25) —
# heavy users both sign up more and buy more, so the naive diff is
# biased). Propensity is the exact treated share per band; the Hájek
# estimator reweights each side by 1/p (treated) or 1/(1-p) (control),
# bands without overlap (all-treated or all-control) are excluded, the
# standard positivity restriction.
#
# Determinism: outcomes freeze to integer micro-value at the event level;
# per-user weighted terms freeze to integers BEFORE the corpus sum, so
# every cross-partition aggregate is integer math (the q216/q221 device).
# Scale: one user-keyed aggregate, one bounded band-keyed aggregate
# broadcast back, one 1-row final rollup. No window at all.
# --------------------------------------------------------------------------
_IPW_BAND = 25


@register(
    "q242_ipw_effect",
    oracle=f"""
WITH users AS (
    SELECT user_id,
           CAST(FLOOR(COUNT(*) / {_IPW_BAND}.0) AS BIGINT) AS band,
           CAST(MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                AS BIGINT) AS t,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                         THEN CAST(ROUND(value * 10000) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS y_micro
    FROM events GROUP BY user_id
),
bands AS (
    SELECT band, CAST(COUNT(*) AS BIGINT) AS nb, CAST(SUM(t) AS BIGINT) AS nt
    FROM users GROUP BY band
    HAVING SUM(t) > 0 AND SUM(t) < COUNT(*)
),
terms AS (
    SELECT u.t,
           CAST(ROUND(u.y_micro * CAST(b.nb AS DOUBLE)
                      / CASE WHEN u.t = 1 THEN b.nt ELSE b.nb - b.nt END)
                AS BIGINT) AS wy,
           CAST(ROUND(1000000.0 * b.nb
                      / CASE WHEN u.t = 1 THEN b.nt ELSE b.nb - b.nt END)
                AS BIGINT) AS w
    FROM users u JOIN bands b ON b.band = u.band
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(t) AS BIGINT) AS n_treated,
       ROUND((SUM(CASE WHEN t = 1 THEN wy ELSE 0 END) / 10000.0)
             / (SUM(CASE WHEN t = 1 THEN w ELSE 0 END) / 1000000.0), 4)
           AS mu_treated,
       ROUND((SUM(CASE WHEN t = 0 THEN wy ELSE 0 END) / 10000.0)
             / (SUM(CASE WHEN t = 0 THEN w ELSE 0 END) / 1000000.0), 4)
           AS mu_control,
       ROUND((SUM(CASE WHEN t = 1 THEN wy ELSE 0 END) / 10000.0)
             / (SUM(CASE WHEN t = 1 THEN w ELSE 0 END) / 1000000.0)
             - (SUM(CASE WHEN t = 0 THEN wy ELSE 0 END) / 10000.0)
             / (SUM(CASE WHEN t = 0 THEN w ELSE 0 END) / 1000000.0), 4)
           AS ate
FROM terms
""",
    tags=("causal", "A12", "experiment"),
)
def q242_ipw_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hájek IPW treatment-effect estimate, one row: (n_users, n_treated,
    mu_treated, mu_control, ate). Propensity = exact treated share per
    activity band; non-overlap bands excluded."""
    events = load_table(spark, sf_dir, "events")
    users = events.groupBy("user_id").agg(
        F.floor(F.count(F.lit(1)) / float(_IPW_BAND)).alias("band"),
        F.max((F.col("event_type") == "signup").cast("long")).alias("t"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 10000).cast("long"),
            ).otherwise(F.lit(0))
        ).alias("y_micro"),
    )
    bands = (
        users.groupBy("band")
        .agg(F.count(F.lit(1)).alias("nb"), F.sum("t").alias("nt"))
        .filter((F.col("nt") > 0) & (F.col("nt") < F.col("nb")))
    )
    denom = F.when(F.col("t") == 1, F.col("nt")).otherwise(
        F.col("nb") - F.col("nt")
    )
    terms = users.join(F.broadcast(bands), "band").select(
        "t",
        F.round(F.col("y_micro") * F.col("nb").cast("double") / denom)
        .cast("long")
        .alias("wy"),
        F.round(1000000.0 * F.col("nb") / denom).cast("long").alias("w"),
    )
    sum_if = lambda flag, c: F.sum(F.when(F.col("t") == flag, F.col(c)).otherwise(F.lit(0)))  # noqa: E731
    mu_t = (sum_if(1, "wy") / 10000.0) / (sum_if(1, "w") / 1000000.0)
    mu_c = (sum_if(0, "wy") / 10000.0) / (sum_if(0, "w") / 1000000.0)
    return terms.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("t").alias("n_treated"),
        F.round(mu_t, 4).alias("mu_treated"),
        F.round(mu_c, 4).alias("mu_control"),
        F.round(mu_t - mu_c, 4).alias("ate"),
    )


# --------------------------------------------------------------------------
# q243 — local clustering coefficient per node of the co-purchase graph
# (q101 counts global triangles; curation/graph-QA wants the per-node
# ratio: how clique-like is each part's neighbourhood). Triangle
# enumeration uses the oriented-edge algorithm — edges kept as a<b, a
# triangle is (a<b<c) found by two oriented joins, so each triangle is
# enumerated exactly once (the standard distributed-triangle trick that
# avoids 6× duplication and bounds the join by the oriented degree).
# coeff(v) = 2·tri(v) / (deg(v)·(deg(v)−1)).
#
# 100 TB posture: two edge-keyed equi-joins + one node-keyed count; the
# known hazard is high-degree hubs inflating the oriented join — the
# production mitigation (degree-ordered orientation: point edges from
# low- to high-degree endpoint, bounding oriented out-degree by √(2E))
# drops in as a one-line orientation change; id-orientation is kept here
# because the oracle must enumerate the identical triangle set.
# --------------------------------------------------------------------------


@register(
    "q243_clustering_coefficient",
    oracle=f"""
WITH {_LPA_EDGES_CTE},
tri AS (
    SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
    FROM cp e1
    JOIN cp e2 ON e2.pa = e1.pb
    JOIN cp e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
),
tnode AS (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
),
tcnt AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS tri_n FROM tnode GROUP BY node),
deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src)
SELECT d.node AS part_id,
       d.d AS degree,
       COALESCE(t.tri_n, 0) AS triangles,
       ROUND(CASE WHEN d.d >= 2
                  THEN 2.0 * COALESCE(t.tri_n, 0) / (d.d * (d.d - 1))
                  ELSE 0 END, 4) AS coeff
FROM deg d LEFT JOIN tcnt t ON t.node = d.node
ORDER BY part_id
""",
    tags=("graph", "A5", "J15"),
)
def q243_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part local clustering coefficient over the co-purchase graph:
    (part_id, degree, triangles, coeff) via oriented-edge triangle
    enumeration."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("pb"))
    cp = (
        a.join(b, "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("w"))
        .select("pa", "pb")
    )
    e1 = cp.select(F.col("pa").alias("a"), F.col("pb").alias("b"))
    e2 = cp.select(F.col("pa").alias("b"), F.col("pb").alias("c"))
    e3 = cp.select(F.col("pa").alias("a"), F.col("pb").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    tnode = (
        tri.select(F.col("a").alias("node"))
        .unionByName(tri.select(F.col("b").alias("node")))
        .unionByName(tri.select(F.col("c").alias("node")))
    )
    tcnt = tnode.groupBy("node").agg(F.count(F.lit(1)).alias("tri_n"))
    deg = (
        cp.select(F.col("pa").alias("node"))
        .unionByName(cp.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    coeff = F.when(
        F.col("d") >= 2,
        2.0
        * F.coalesce(F.col("tri_n"), F.lit(0))
        / (F.col("d") * (F.col("d") - 1)),
    ).otherwise(F.lit(0.0))
    return (
        deg.join(tcnt, "node", "left")
        .select(
            F.col("node").alias("part_id"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("tri_n"), F.lit(0)).alias("triangles"),
            F.round(coeff, 4).alias("coeff"),
        )
        .orderBy("part_id")
    )


# ---------------------------------------------------------------------------
# q249 — expected calibration error (ECE) of a deterministic confidence
# score against a binary outcome, 10 equal-width bins: the standard
# reliability diagram behind "is this classifier's probability honest",
# completing the eval family (q198 ranking, q202 confusion). Score =
# min-max-normalised first embedding coordinate; outcome = label ≥ 5 —
# deterministic stand-ins exercising the exact bin/gap algebra.
# Parity: conf is frozen to a micro-int round(conf·10⁶) immediately (one
# double division (x−min)/(max−min), identical in both engines); bins are
# integer arithmetic on that micro-int; per-bin sums are integer; the gap
# |acc − avg_conf| and ECE Σ(n_b/N)|acc_b − conf_b| reduce to
# |n_pos_b·10⁶ − Σconf_int| — integer inside the abs, one division at the
# end. No float accumulates across rows anywhere.
# Scale: one pass to (min, max) (1-row broadcast), one map, one 10-row
# aggregate; the ECE total is a broadcast of that 10-row aggregate.
# ---------------------------------------------------------------------------
@register(
    "q249_calibration_ece",
    oracle="""
WITH base AS (
    SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x,
           CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y
    FROM embeddings
),
rng AS (SELECT MIN(x) AS lo, MAX(x) AS hi FROM base),
conf AS (
    SELECT b.vec_id, b.y,
           CAST(ROUND((b.x - r.lo) / (r.hi - r.lo) * 1000000) AS BIGINT)
               AS ci
    FROM base b CROSS JOIN rng r
),
binned AS (
    SELECT LEAST(CAST(FLOOR((ci * 10) / 1000000.0) AS BIGINT), 9) AS bin,
           y, ci
    FROM conf
),
per_bin AS (
    SELECT bin, COUNT(*) AS n, CAST(SUM(ci) AS BIGINT) AS sci,
           CAST(SUM(y) AS BIGINT) AS npos
    FROM binned GROUP BY bin
),
tot AS (
    SELECT CAST(SUM(n) AS BIGINT) AS nn,
           CAST(SUM(ABS(npos * 1000000 - sci)) AS BIGINT) AS gap_sum
    FROM per_bin
)
SELECT p.bin, CAST(p.n AS BIGINT) AS n,
       ROUND(p.sci / 1000000.0 / p.n, 4) AS avg_conf,
       ROUND(CAST(p.npos AS DOUBLE) / p.n, 4) AS acc,
       ROUND(ABS(p.npos * 1000000 - p.sci) / 1000000.0 / p.n, 4) AS gap,
       ROUND(t.gap_sum / 1000000.0 / t.nn, 4) AS ece
FROM per_bin p CROSS JOIN tot t
ORDER BY p.bin
""",
    tags=("ml-eval", "A12", "W4"),
)
def q249_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability bins + expected calibration error:
    (bin, n, avg_conf, acc, gap, ece). Micro-int confidence algebra — see
    the registration comment."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("x"),
        (F.col("label") >= 5).cast("int").alias("y"),
    )
    rng = base.agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    conf = base.crossJoin(F.broadcast(rng)).select(
        "y",
        F.round(
            (F.col("x") - F.col("lo")) / (F.col("hi") - F.col("lo")) * 1000000
        )
        .cast("long")
        .alias("ci"),
    )
    binned = conf.select(
        F.least(F.floor((F.col("ci") * 10) / F.lit(1000000.0)).cast("long"), F.lit(9).cast("long")).alias("bin"),
        "y",
        "ci",
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ci").alias("sci"),
        F.sum("y").cast("long").alias("npos"),
    )
    tot = per_bin.agg(
        F.sum("n").alias("nn"),
        F.sum(F.abs(F.col("npos") * 1000000 - F.col("sci"))).alias("gap_sum"),
    )
    return (
        per_bin.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("sci") / 1000000.0 / F.col("n"), 4).alias("avg_conf"),
            F.round(F.col("npos").cast("double") / F.col("n"), 4).alias("acc"),
            F.round(
                F.abs(F.col("npos") * 1000000 - F.col("sci")) / 1000000.0 / F.col("n"), 4
            ).alias("gap"),
            F.round(F.col("gap_sum") / 1000000.0 / F.col("nn"), 4).alias("ece"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# q250 — categorical-association audit between event_type and 6-hour
# time-of-day bucket: χ² statistic, degrees of freedom, Cramér's V, and
# mutual information — the feature-selection screen run before one-hot
# encoding ("does this feature carry any signal about that one").
# Parity: every χ² term is scaled to integers by multiplying through by N
# — (N·o − r·c)²/(N·r·c) has integer numerator/denominator; each term and
# each MI term o·ln(N·o/(r·c)) is frozen to a micro-int before the
# cross-term sum, so summation order cannot move the hash (single ln/sqrt
# calls are IEEE-deterministic on identical double inputs).
# Scale: one aggregate to the #types × #buckets contingency table
# (bounded, ~20 cells); marginals are broadcast joins of that tiny table.
# ---------------------------------------------------------------------------
@register(
    "q250_categorical_association",
    oracle="""
WITH obs AS (
    SELECT event_type AS a, CAST(FLOOR(HOUR(ts) / 6) AS BIGINT) AS b,
           COUNT(*) AS o
    FROM events GROUP BY event_type, CAST(FLOOR(HOUR(ts) / 6) AS BIGINT)
),
ra AS (SELECT a, CAST(SUM(o) AS BIGINT) AS r FROM obs GROUP BY a),
cb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS c FROM obs GROUP BY b),
nn AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
terms AS (
    SELECT o.a, o.b,
           CAST(ROUND(1000000.0 * POWER(n.n * o.o - ra.r * cb.c, 2)
                      / (CAST(n.n AS DOUBLE) * ra.r * cb.c)) AS BIGINT)
               AS chi_li,
           CAST(ROUND(1000000.0 * o.o
                      * LN(CAST(n.n AS DOUBLE) * o.o / (ra.r * cb.c)))
                AS BIGINT) AS mi_li
    FROM obs o
    JOIN ra ON ra.a = o.a
    JOIN cb ON cb.b = o.b
    CROSS JOIN nn n
),
dims AS (
    SELECT (SELECT COUNT(*) FROM ra) AS nr, (SELECT COUNT(*) FROM cb) AS nc
)
SELECT n.n,
       CAST((d.nr - 1) * (d.nc - 1) AS BIGINT) AS dof,
       ROUND(SUM(t.chi_li) / 1000000.0, 4) AS chi2,
       ROUND(SQRT(SUM(t.chi_li) / 1000000.0
                  / (n.n * LEAST(d.nr - 1, d.nc - 1))), 4) AS cramers_v,
       ROUND(SUM(t.mi_li) / 1000000.0 / n.n, 4) AS mi_nats
FROM terms t CROSS JOIN nn n CROSS JOIN dims d
GROUP BY n.n, d.nr, d.nc
""",
    tags=("ml-eval", "A5", "A12"),
)
def q250_categorical_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ²/Cramér's V/mutual information between event_type and 6-hour
    bucket: single row (n, dof, chi2, cramers_v, mi_nats). Integer-scaled
    χ² terms — see the registration comment."""
    events = load_table(spark, sf_dir, "events")
    obs = events.groupBy(
        F.col("event_type").alias("a"),
        F.floor(F.hour("ts") / 6).cast("long").alias("b"),
    ).agg(F.count(F.lit(1)).alias("o"))
    ra = obs.groupBy("a").agg(F.sum("o").alias("r"))
    cb = obs.groupBy("b").agg(F.sum("o").alias("c"))
    nn = obs.agg(F.sum("o").alias("n"))
    dims = ra.agg(F.count(F.lit(1)).alias("nr")).crossJoin(
        cb.agg(F.count(F.lit(1)).alias("nc"))
    )
    terms = (
        obs.join(F.broadcast(ra), "a")
        .join(F.broadcast(cb), "b")
        .crossJoin(F.broadcast(nn))
        .select(
            F.round(
                1000000.0
                * F.pow(F.col("n") * F.col("o") - F.col("r") * F.col("c"), 2)
                / (F.col("n").cast("double") * F.col("r") * F.col("c"))
            )
            .cast("long")
            .alias("chi_li"),
            F.round(
                1000000.0
                * F.col("o")
                * F.log(
                    F.col("n").cast("double") * F.col("o")
                    / (F.col("r") * F.col("c"))
                )
            )
            .cast("long")
            .alias("mi_li"),
        )
    )
    agg = terms.agg(
        F.sum("chi_li").alias("chi_sum"), F.sum("mi_li").alias("mi_sum")
    )
    return (
        agg.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(dims))
        .select(
            F.col("n").cast("long").alias("n"),
            ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"),
            F.round(F.col("chi_sum") / 1000000.0, 4).alias("chi2"),
            F.round(
                F.sqrt(
                    F.col("chi_sum")
                    / 1000000.0
                    / (F.col("n") * F.least(F.col("nr") - 1, F.col("nc") - 1))
                ),
                4,
            ).alias("cramers_v"),
            F.round(F.col("mi_sum") / 1000000.0 / F.col("n"), 4).alias("mi_nats"),
        )
    )


# ---------------------------------------------------------------------------
# q252 — HITS hubs & authorities over the customer→supplier bipartite
# purchase graph (who are the hub buyers, who are the authoritative
# suppliers): Kleinberg's mutual-reinforcement centrality, the directed
# complement of q82/q178's PageRank. Max-normalised, micro-int-frozen per
# round so every cross-row sum is an integer sum — the oracle chains the
# identical 3 unrolled iterations (operators/graph.hits).
# Scale: per iteration one edge shuffle on each side with map-side
# combine; 1-row max broadcasts; O(V) score relations checkpointed.
# ---------------------------------------------------------------------------
def _hits_oracle(n_iter: int = 3) -> str:
    ctes = [
        "e AS (SELECT DISTINCT o.o_custkey AS s, l.l_suppkey AS d "
        "FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey)",
        "hub0 AS (SELECT DISTINCT s, CAST(1000000 AS BIGINT) AS h FROM e)",
    ]
    for i in range(1, n_iter + 1):
        p = i - 1
        ctes += [
            f"rawa{i} AS (SELECT e.d, CAST(SUM(hub{p}.h) AS BIGINT) AS ra "
            f"FROM e JOIN hub{p} ON hub{p}.s = e.s GROUP BY e.d)",
            f"amax{i} AS (SELECT MAX(ra) AS mx FROM rawa{i})",
            f"auth{i} AS (SELECT d, CAST((ra * 1000000) // mx AS BIGINT) AS a "
            f"FROM rawa{i} CROSS JOIN amax{i})",
            f"rawh{i} AS (SELECT e.s, CAST(SUM(auth{i}.a) AS BIGINT) AS rh "
            f"FROM e JOIN auth{i} ON auth{i}.d = e.d GROUP BY e.s)",
            f"hmax{i} AS (SELECT MAX(rh) AS mx FROM rawh{i})",
            f"hub{i} AS (SELECT s, CAST((rh * 1000000) // mx AS BIGINT) AS h "
            f"FROM rawh{i} CROSS JOIN hmax{i})",
        ]
    joined = ",\n".join(ctes)
    return f"""
WITH {joined}
SELECT s AS node, 'hub' AS side, h / 1000000.0 AS score FROM hub{n_iter}
UNION ALL
SELECT d AS node, 'auth' AS side, a / 1000000.0 AS score FROM auth{n_iter}
ORDER BY side, node
"""


@register(
    "q252_hits",
    oracle=_hits_oracle(),
    tags=("graph", "J2", "A5"),
)
def q252_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS centrality over customer→supplier purchases:
    (node, side, score) — operators/graph.hits, 3 unrolled iterations."""
    from ..operators import graph

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    edges = orders.join(
        lineitem, lineitem["l_orderkey"] == orders["o_orderkey"]
    ).select(F.col("o_custkey").alias("s"), F.col("l_suppkey").alias("d"))
    return graph.hits(edges).orderBy("side", "node")


# ---------------------------------------------------------------------------
# q253 — t-closeness audit over the order release: for each customer
# nation (the quasi-identifier group), the order-1 earth-mover's distance
# between the group's distribution of the ordered sensitive attribute
# (o_orderpriority, ranks 1-URGENT … 5-LOW) and the global distribution.
# Completes the privacy-audit trio (q232 k-anonymity, q240 l-diversity):
# a release is t-close when every group's EMD ≤ t.
# Parity: for the ordered attribute with unit spacing,
# EMD_g = (1/(m−1)) · Σ_i |Σ_{j≤i} (p_gj − q_j)|; scaling through by
# N·n_g makes every cumulative term the INTEGER cum(n_gj)·N − cum(N_j)·n_g,
# so the sum inside the abs is exact and the single final division is the
# only float op. The t-flag is the pure-integer comparison
# 50·Σ|diff| > N·n_g·(m−1)  ⇔  EMD > 1/50 — no float in the gate at all.
# Scale: two grouped aggregations (group×priority, priority) over bounded
# cardinality (25 nations × 5 priorities); the grid completion and all
# joins ride broadcasts of those tiny relations.
# ---------------------------------------------------------------------------
@register(
    "q253_t_closeness",
    oracle="""
WITH obs AS (
    SELECT c.c_nationkey AS gk, o.o_orderpriority AS pr, COUNT(*) AS n
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_nationkey, o.o_orderpriority
),
prs AS (
    SELECT pr, ROW_NUMBER() OVER (ORDER BY pr) AS i,
           CAST(SUM(n) AS BIGINT) AS np
    FROM obs GROUP BY pr
),
tot AS (
    SELECT CAST(SUM(np) AS BIGINT) AS nn,
           CAST(COUNT(*) AS BIGINT) AS m
    FROM prs
),
grp AS (SELECT gk, CAST(SUM(n) AS BIGINT) AS ng FROM obs GROUP BY gk),
grid AS (
    SELECT g.gk, g.ng, p.pr, p.i, p.np, COALESCE(o.n, 0) AS n
    FROM grp g CROSS JOIN prs p
    LEFT JOIN obs o ON o.gk = g.gk AND o.pr = p.pr
),
cums AS (
    SELECT gk, ng, i,
           CAST(SUM(n) OVER (PARTITION BY gk ORDER BY i) AS BIGINT) AS cg,
           CAST(SUM(np) OVER (PARTITION BY gk ORDER BY i) AS BIGINT) AS cp
    FROM grid
),
emd AS (
    SELECT c.gk, c.ng,
           CAST(SUM(ABS(c.cg * t.nn - c.cp * c.ng)) AS BIGINT) AS sad,
           t.nn, t.m
    FROM cums c CROSS JOIN tot t
    GROUP BY c.gk, c.ng, t.nn, t.m
)
SELECT n.n_name,
       CAST(e.ng AS BIGINT) AS n_orders,
       ROUND(CAST(e.sad AS DOUBLE) / (e.nn * e.ng * (e.m - 1)), 4)
           AS t_emd,
       CAST(CASE WHEN e.sad * 50 > e.nn * e.ng * (e.m - 1)
                 THEN 1 ELSE 0 END AS BIGINT) AS violates_t
FROM emd e JOIN nation n ON n.n_nationkey = e.gk
ORDER BY n.n_name
""",
    tags=("privacy", "A12", "W2"),
)
def q253_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit: (n_name, n_orders, t_emd, violates_t) — order-1
    EMD between per-nation and global o_orderpriority distributions,
    integer cumulative algebra, t = 1/50 as a pure-integer gate."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    obs = (
        orders.join(cust, cust["c_custkey"] == orders["o_custkey"])
        .groupBy(
            F.col("c_nationkey").alias("gk"),
            F.col("o_orderpriority").alias("pr"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    prs = (
        obs.groupBy("pr")
        .agg(F.sum("n").alias("np"))
        .withColumn("i", F.row_number().over(Window.orderBy("pr")))
    )
    tot = prs.agg(
        F.sum("np").alias("nn"), F.count(F.lit(1)).alias("m")
    )
    grp = obs.groupBy("gk").agg(F.sum("n").alias("ng"))
    grid = (
        grp.crossJoin(F.broadcast(prs))
        .join(obs, ["gk", "pr"], "left")
        .select("gk", "ng", "i", "np", F.coalesce("n", F.lit(0)).alias("n"))
    )
    wc = Window.partitionBy("gk").orderBy("i")
    cums = grid.select(
        "gk",
        "ng",
        F.sum("n").over(wc).alias("cg"),
        F.sum("np").over(wc).alias("cp"),
    )
    emd = (
        cums.crossJoin(F.broadcast(tot))
        .groupBy("gk", "ng", "nn", "m")
        .agg(
            F.sum(F.abs(F.col("cg") * F.col("nn") - F.col("cp") * F.col("ng")))
            .alias("sad")
        )
    )
    return (
        emd.join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("n_nationkey") == F.col("gk"),
        )
        .select(
            "n_name",
            F.col("ng").cast("long").alias("n_orders"),
            F.round(
                F.col("sad").cast("double")
                / (F.col("nn") * F.col("ng") * (F.col("m") - 1)),
                4,
            ).alias("t_emd"),
            (F.col("sad") * 50 > F.col("nn") * F.col("ng") * (F.col("m") - 1))
            .cast("long")
            .alias("violates_t"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# q267 — personalized PageRank (random walk with restart) over the
# symmetrised customer↔supplier purchase graph, teleporting only to a
# deterministic seed set of customers (custkey % 97 == 0): the TrustRank
# shape — "how close is every participant to the trusted cohort", the
# propagation model used to extend a small vetted whitelist across an
# interaction graph. Node ids are namespaced (cust·10, supp·10+1) so the
# two key spaces cannot collide.
# Parity: operators/graph.personalized_pagerank runs the whole recurrence
# in integer micro-units (B=10⁹) with floor-division damping — the oracle
# chains the identical 3 unrolled integer steps, so scores match exactly
# before the 4dp round.
# Scale: the q82 pagerank budget (per round one edge shuffle each way,
# O(V) checkpointed score relations); seed set broadcast.
# ---------------------------------------------------------------------------
def _ppr_oracle(n_iter: int = 3, d: int = 85) -> str:
    head = """
raw AS (
    SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
e AS (
    SELECT ck * 10 AS s, sk * 10 + 1 AS d FROM raw
    UNION
    SELECT sk * 10 + 1 AS s, ck * 10 AS d FROM raw
),
nodes AS (
    SELECT DISTINCT s AS node FROM e UNION SELECT DISTINCT d FROM e
),
seed AS (
    SELECT node FROM nodes WHERE node % 10 = 0 AND (node / 10) % 97 = 0
),
ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM seed),
outdeg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS od FROM e GROUP BY s),
base AS (
    SELECT n.node,
           CAST(CASE WHEN sd.node IS NOT NULL
                THEN (15 * CAST(1000000000 AS BIGINT)) // (100 * ns.n) ELSE 0 END AS BIGINT)
               AS b
    FROM nodes n CROSS JOIN ns LEFT JOIN seed sd ON sd.node = n.node
),
r0 AS (SELECT node, b AS r FROM base)"""
    its = []
    prev = "r0"
    for i in range(1, n_iter + 1):
        its.append(f"""
c{i} AS (
    SELECT e.d AS node, CAST(SUM(r.r // o.od) AS BIGINT) AS in_sum
    FROM e JOIN {prev} r ON r.node = e.s JOIN outdeg o ON o.s = e.s
    GROUP BY e.d
),
it{i} AS (
    SELECT b.node,
           CAST(b.b + ({d} * COALESCE(c.in_sum, 0)) // 100 AS BIGINT) AS r
    FROM base b LEFT JOIN c{i} c ON c.node = b.node
)""")
        prev = f"it{i}"
    return head + "," + ",".join(its) + f"""
SELECT node, ROUND(r / 1000000000.0, 4) AS score
FROM it{n_iter} ORDER BY node
"""


@register(
    "q267_personalized_pagerank",
    oracle="WITH " + _ppr_oracle(),
    tags=("graph", "J2", "A5"),
)
def q267_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank-style personalized PageRank from seed customers over the
    purchase graph: (node, score) — operators/graph.personalized_pagerank,
    3 unrolled integer iterations."""
    from ..operators import graph

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    raw = (
        orders.join(lineitem, lineitem["l_orderkey"] == orders["o_orderkey"])
        .select(
            (F.col("o_custkey") * 10).alias("cn"),
            (F.col("l_suppkey") * 10 + 1).alias("sn"),
        )
        .distinct()
    )
    edges = raw.select(F.col("cn").alias("s"), F.col("sn").alias("d")).union(
        raw.select(F.col("sn").alias("s"), F.col("cn").alias("d"))
    )
    seeds = (
        orders.select((F.col("o_custkey") * 10).alias("node"))
        .filter((F.col("node") / 10 % 97) == 0)
        .distinct()
    )
    ppr = graph.personalized_pagerank(edges, seeds, n_iter=3, damping_pct=85)
    return ppr.select(
        "node", F.round("score", 4).alias("score")
    ).orderBy("node")


# --------------------------------------------------------------------------
# q282 - k-truss peeling of the co-purchase graph (k = 4): per-edge
# triangle support, then two fixed peel rounds removing every edge with
# support < k - 2 - the community-core extraction that survives hubs
# where plain connected components blur everything together (a 4-truss
# edge sits in >= 2 triangles among surviving edges).
# Parity: supports are exact triangle counts; peel thresholds are
# integer comparisons; the oracle unrolls the two rounds as MATERIALIZED
# CTEs mirroring the same joins.
# Scale: support is the q101 triangle pattern - one adjacency self-join
# per round with partial-agg counting; peel rounds are FIXED (2), each a
# filter + recount, no driver state; edge relations are
# localCheckpoint-free because the unroll depth is constant.
# --------------------------------------------------------------------------
_TRUSS_K = 4


def _truss_support_sql(edges: str, out: str) -> str:
    return f"""{out} AS MATERIALIZED (
    SELECT e.pa, e.pb, CAST(COUNT(y.yb) AS BIGINT) AS sup
    FROM {edges} e
    LEFT JOIN (SELECT pa AS xa, pb AS xb FROM {edges}
               UNION ALL SELECT pb AS xa, pa AS xb FROM {edges}) x
      ON x.xa = e.pa
    LEFT JOIN (SELECT pa AS ya, pb AS yb FROM {edges}
               UNION ALL SELECT pb AS ya, pa AS yb FROM {edges}) y
      ON y.ya = e.pb AND y.yb = x.xb
    GROUP BY e.pa, e.pb
)"""


@register(
    "q282_ktruss_peel",
    oracle=f"""
WITH items AS (
    SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
e0 AS MATERIALIZED (
    SELECT a.pk AS pa, b.pk AS pb
    FROM items a JOIN items b ON b.ok = a.ok AND a.pk < b.pk
    GROUP BY a.pk, b.pk
    HAVING COUNT(*) >= 2
),
{_truss_support_sql("e0", "s0")},
e1 AS MATERIALIZED (
    SELECT pa, pb FROM s0 WHERE sup >= {_TRUSS_K - 2}
),
{_truss_support_sql("e1", "s1")},
e2 AS MATERIALIZED (
    SELECT pa, pb FROM s1 WHERE sup >= {_TRUSS_K - 2}
)
SELECT CAST(1 AS BIGINT) AS peel_round,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM e0) AS n_edges_in,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM e0)
           - (SELECT CAST(COUNT(*) AS BIGINT) FROM e1) AS n_removed,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM e1) AS n_edges_out
UNION ALL
SELECT CAST(2 AS BIGINT) AS peel_round,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM e1),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM e1)
           - (SELECT CAST(COUNT(*) AS BIGINT) FROM e2),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM e2)
ORDER BY peel_round
""",
    tags=("graph", "A5", "U3"),
)
def q282_ktruss_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two k-truss peel rounds (k=4) over the cooc>=2 co-purchase graph:
    (peel_round, n_edges_in, n_removed, n_edges_out)."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    a = items.select("ok", F.col("pk").alias("pa"))
    b = items.select("ok", F.col("pk").alias("pb"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("cooc"))
        .filter(F.col("cooc") >= 2)
        .select("pa", "pb")
    )

    def support(e: DataFrame) -> DataFrame:
        adj = e.select(F.col("pa").alias("u"), F.col("pb").alias("v")).unionByName(
            e.select(F.col("pb").alias("u"), F.col("pa").alias("v"))
        )
        xa = adj.select(F.col("u").alias("pa"), F.col("v").alias("x"))
        yb = adj.select(F.col("u").alias("pb"), F.col("v").alias("x"))
        tri = (
            e.join(xa, "pa")
            .join(yb, ["pb", "x"])
            .groupBy("pa", "pb")
            .agg(F.count(F.lit(1)).alias("sup"))
        )
        return e.join(tri, ["pa", "pb"], "left").select(
            "pa", "pb", F.coalesce("sup", F.lit(0)).cast("long").alias("sup")
        )

    from ..caching import persist_tracked

    e0 = persist_tracked(edges)
    s0 = support(e0)
    e1 = persist_tracked(
        s0.filter(F.col("sup") >= _TRUSS_K - 2).select("pa", "pb")
    )
    s1 = support(e1)
    e2 = s1.filter(F.col("sup") >= _TRUSS_K - 2).select("pa", "pb")
    n0, n1, n2 = e0.count(), e1.count(), e2.count()
    return spark.createDataFrame(
        [(1, n0, n0 - n1, n1), (2, n1, n1 - n2, n2)],
        "peel_round long, n_edges_in long, n_removed long, n_edges_out long",
    ).orderBy("peel_round")


# ---------------------------------------------------------------------------
# q350 — shuffle-partition-count advisor: for candidate partition counts
# (8, 32, 128), bucket the events fact by an engine-portable hash of the
# groupBy key (user_id) and report, per candidate, the partition-size
# distribution a planner actually cares about — max/avg skew ratio,
# empty-partition count, and the largest partition's share. The "should
# spark.sql.shuffle.partitions be raised before this aggregate" relation,
# completing q266 (key skew) / q292 (broadcast advisor) / q296 (join
# size): those audit the DATA, this audits the PARTITIONING of the data.
# Parity: the bucket hash is the shared md5-prefix→int convention; all
# per-bucket counts are exact integers; ratios are single double
# expressions, 4dp.
# Scale: one narrow map explodes each row to 3 (cand, bucket) pairs, one
# keyed aggregate (map-side combinable), then per-cand reduces over ≤128
# rows. The audit costs ONE pass regardless of candidate count.
# ---------------------------------------------------------------------------
@register(
    "q350_shuffle_advisor",
    oracle="""
WITH cand AS (SELECT UNNEST([8, 32, 128]) AS c),
hashed AS (
    SELECT CAST(('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 8))
                ::UBIGINT AS BIGINT) AS h
    FROM events
),
bucketed AS (
    SELECT c.c, h.h % c.c AS bucket, COUNT(*) AS n
    FROM hashed h CROSS JOIN cand c
    GROUP BY c.c, h.h % c.c
),
per_cand AS (
    SELECT c,
           CAST(COUNT(*) AS BIGINT) AS n_used,
           CAST(MAX(n) AS BIGINT) AS max_rows,
           CAST(SUM(n) AS BIGINT) AS total_rows
    FROM bucketed GROUP BY c
)
SELECT CAST(c AS BIGINT) AS n_partitions, n_used,
       CAST(c AS BIGINT) - n_used AS n_empty,
       max_rows,
       ROUND(CAST(max_rows AS DOUBLE) * c / total_rows, 4) AS skew_ratio,
       ROUND(CAST(max_rows AS DOUBLE) / total_rows, 4) AS max_share
FROM per_cand
ORDER BY n_partitions
""",
    tags=("capacity", "A5", "W4"),
)
def q350_shuffle_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-size audit of hash-partitioning events by user_id at
    candidate partition counts:
    (n_partitions, n_used, n_empty, max_rows, skew_ratio, max_share)."""
    events = load_table(spark, sf_dir, "events")
    hashed = events.select(
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
        )
        .cast("long")
        .alias("h")
    )
    bucketed = (
        hashed.select(
            "h", F.explode(F.array(*[F.lit(c) for c in (8, 32, 128)])).alias("c")
        )
        .groupBy("c", (F.col("h") % F.col("c")).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_cand = bucketed.groupBy("c").agg(
        F.count(F.lit(1)).alias("n_used"),
        F.max("n").alias("max_rows"),
        F.sum("n").alias("total_rows"),
    )
    return (
        per_cand.select(
            F.col("c").cast("long").alias("n_partitions"),
            F.col("n_used").cast("long").alias("n_used"),
            (F.col("c").cast("long") - F.col("n_used")).alias("n_empty"),
            F.col("max_rows").cast("long").alias("max_rows"),
            F.round(
                F.col("max_rows").cast("double") * F.col("c")
                / F.col("total_rows"),
                4,
            ).alias("skew_ratio"),
            F.round(
                F.col("max_rows").cast("double") / F.col("total_rows"), 4
            ).alias("max_share"),
        )
        .orderBy("n_partitions")
    )


# ---------------------------------------------------------------------------
# q352 — Bloom-filter false-positive audit: build a deterministic Bloom
# filter (m = 4096 bits, k = 3 md5-derived hash functions) over the
# English doc_ids, probe it with every non-English doc_id, and report the
# MEASURED false-positive rate next to the THEORETICAL
# (1 − (1 − 1/m)^(k·n))^k — the sketch-quality audit behind q80's
# bloom semi-join ("is the fpp we budgeted the fpp we got").
# Parity: bit positions use the shared md5-prefix→int convention; member
# and probe sets are exact; a probe is a false positive iff all k of its
# positions are set (count of DISTINCT matched hash slots == k); theory
# is one double pow expression of exact integers, 4dp.
# Scale: bit-position generation is a narrow k× explode; the probe is a
# left-semi join on uniform hash-slot keys; the verdict is one probe-keyed
# aggregate. Never materializes a bitmap on the driver.
# ---------------------------------------------------------------------------
_BLOOM_M = 4096
_BLOOM_K = 3


@register(
    "q352_bloom_fpp_audit",
    oracle=f"""
WITH members AS (SELECT DISTINCT doc_id FROM documents WHERE lang = 'en'),
probes AS (SELECT DISTINCT doc_id FROM documents WHERE lang <> 'en'),
ks AS (SELECT UNNEST([1, 2, 3]) AS i),
bits AS (
    SELECT DISTINCT
        CAST(('0x' || SUBSTR(MD5(CAST(k.i AS VARCHAR) || ':'
                             || CAST(m.doc_id AS VARCHAR)), 1, 8))
             ::UBIGINT AS BIGINT) % {_BLOOM_M} AS pos
    FROM members m CROSS JOIN ks k
),
probe_pos AS (
    SELECT p.doc_id, k.i,
           CAST(('0x' || SUBSTR(MD5(CAST(k.i AS VARCHAR) || ':'
                                || CAST(p.doc_id AS VARCHAR)), 1, 8))
                ::UBIGINT AS BIGINT) % {_BLOOM_M} AS pos
    FROM probes p CROSS JOIN ks k
),
hits AS (
    SELECT pp.doc_id, COUNT(DISTINCT pp.i) AS n_hit
    FROM probe_pos pp JOIN bits b ON b.pos = pp.pos
    GROUP BY pp.doc_id
),
counts AS (
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM members) AS n_members,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM probes) AS n_probes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_bits_set,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM hits
            WHERE n_hit = {_BLOOM_K}) AS fp_count
)
SELECT n_members, n_probes,
       CAST({_BLOOM_M} AS BIGINT) AS m_bits,
       CAST({_BLOOM_K} AS BIGINT) AS k_hashes,
       n_bits_set, fp_count,
       ROUND(CAST(fp_count AS DOUBLE) / n_probes, 4) AS fp_rate,
       ROUND(POW(1.0 - POW(1.0 - 1.0 / {_BLOOM_M},
                           {_BLOOM_K}.0 * n_members), {_BLOOM_K}), 4)
           AS fp_theory
FROM counts
""",
    tags=("sketches", "capacity", "P4"),
)
def q352_bloom_fpp_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured vs theoretical Bloom false-positive rate (m=4096, k=3)
    over English-member / non-English-probe doc_ids: (n_members,
    n_probes, m_bits, k_hashes, n_bits_set, fp_count, fp_rate,
    fp_theory)."""
    docs = load_table(spark, sf_dir, "documents")
    ks = F.array(*[F.lit(i) for i in range(1, _BLOOM_K + 1)])
    pos = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("i").cast("string"),
                        F.col("doc_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % _BLOOM_M
    )
    members = docs.filter(F.col("lang") == "en").select("doc_id").distinct()
    probes = docs.filter(F.col("lang") != "en").select("doc_id").distinct()
    bits = (
        members.select("doc_id", F.explode(ks).alias("i"))
        .select(pos.alias("pos"))
        .distinct()
    )
    probe_pos = probes.select("doc_id", F.explode(ks).alias("i")).select(
        "doc_id", "i", pos.alias("pos")
    )
    hits = (
        probe_pos.join(bits, "pos")
        .groupBy("doc_id")
        .agg(F.countDistinct("i").alias("n_hit"))
    )
    fp = hits.filter(F.col("n_hit") == _BLOOM_K).agg(
        F.count(F.lit(1)).alias("fp_count")
    )
    counts = (
        members.agg(F.count(F.lit(1)).alias("n_members"))
        .crossJoin(probes.agg(F.count(F.lit(1)).alias("n_probes")))
        .crossJoin(bits.agg(F.count(F.lit(1)).alias("n_bits_set")))
        .crossJoin(F.broadcast(fp))
    )
    theory = F.pow(
        1.0
        - F.pow(
            F.lit(1.0) - 1.0 / _BLOOM_M,
            F.lit(float(_BLOOM_K)) * F.col("n_members"),
        ),
        _BLOOM_K,
    )
    return counts.select(
        "n_members",
        "n_probes",
        F.lit(_BLOOM_M).cast("long").alias("m_bits"),
        F.lit(_BLOOM_K).cast("long").alias("k_hashes"),
        "n_bits_set",
        F.col("fp_count").cast("long").alias("fp_count"),
        F.round(F.col("fp_count").cast("double") / F.col("n_probes"), 4).alias(
            "fp_rate"
        ),
        F.round(theory, 4).alias("fp_theory"),
    )


# ---------------------------------------------------------------------------
# q363 — join-order estimator calibration audit: for the 3-table chain
# lineitem ⋈ orders ⋈ customer, both join orders' INTERMEDIATE sizes are
# estimated with the textbook equi-join formula Catalyst's CBO uses
# (|R ⋈ S| = |R|·|S| / max(ndv_R(k), ndv_S(k)), the containment-of-values
# assumption) and compared against the ACTUAL intermediate counts — the
# "can I trust the optimizer's stats on this schema" audit that decides
# whether to ANALYZE TABLE or pin a join order, completing q296 (single
# join-size estimate) and q292 (broadcast advisor).
# Parity: all row counts and NDVs are exact integers; estimates are
# single double expressions; ratios 4dp.
# Scale: four counting aggregates (each one scan with map-side partials)
# plus the two real intermediate-count joins the audit is measuring; the
# comparison itself runs on a 2-row relation.
# ---------------------------------------------------------------------------
@register(
    "q363_join_order_audit",
    oracle="""
WITH stats AS (
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_l,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_o,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_c,
           (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT)
            FROM lineitem) AS ndv_l_ok,
           (SELECT CAST(COUNT(DISTINCT o_orderkey) AS BIGINT)
            FROM orders) AS ndv_o_ok,
           (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
            FROM orders) AS ndv_o_ck,
           (SELECT CAST(COUNT(DISTINCT c_custkey) AS BIGINT)
            FROM customer) AS ndv_c_ck
),
act AS (
    SELECT (SELECT CAST(COUNT(*) AS BIGINT)
            FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey)
               AS act_lo,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey)
               AS act_oc,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey) AS act_final
),
plans AS (
    SELECT 'lo_first' AS plan,
           ROUND(CAST(s.n_l AS DOUBLE) * s.n_o
                 / GREATEST(s.ndv_l_ok, s.ndv_o_ok), 4) AS est_join1,
           a.act_lo AS actual_join1,
           ROUND((CAST(s.n_l AS DOUBLE) * s.n_o
                  / GREATEST(s.ndv_l_ok, s.ndv_o_ok)) * s.n_c
                 / GREATEST(s.ndv_o_ck, s.ndv_c_ck), 4) AS est_final,
           a.act_final AS actual_final
    FROM stats s CROSS JOIN act a
    UNION ALL
    SELECT 'oc_first',
           ROUND(CAST(s.n_o AS DOUBLE) * s.n_c
                 / GREATEST(s.ndv_o_ck, s.ndv_c_ck), 4),
           a.act_oc,
           ROUND((CAST(s.n_o AS DOUBLE) * s.n_c
                  / GREATEST(s.ndv_o_ck, s.ndv_c_ck)) * s.n_l
                 / GREATEST(s.ndv_o_ok, s.ndv_l_ok), 4),
           a.act_final
    FROM stats s CROSS JOIN act a
)
SELECT plan, est_join1, actual_join1,
       ROUND(actual_join1 / est_join1, 4) AS calib_join1,
       est_final, actual_final,
       ROUND(actual_final / est_final, 4) AS calib_final
FROM plans ORDER BY plan
""",
    tags=("capacity", "J1", "A12"),
)
def q363_join_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-formula join-size estimates vs actual intermediates
    for both 3-table join orders: (plan, est_join1, actual_join1,
    calib_join1, est_final, actual_final, calib_final)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    stats = (
        li.agg(
            F.count(F.lit(1)).alias("n_l"),
            F.countDistinct("l_orderkey").alias("ndv_l_ok"),
        )
        .crossJoin(
            orders.agg(
                F.count(F.lit(1)).alias("n_o"),
                F.countDistinct("o_orderkey").alias("ndv_o_ok"),
                F.countDistinct("o_custkey").alias("ndv_o_ck"),
            )
        )
        .crossJoin(
            cust.agg(
                F.count(F.lit(1)).alias("n_c"),
                F.countDistinct("c_custkey").alias("ndv_c_ck"),
            )
        )
    )
    lo = li.join(
        orders, F.col("o_orderkey") == F.col("l_orderkey")
    )
    act = (
        lo.agg(F.count(F.lit(1)).alias("act_lo"))
        .crossJoin(
            orders.join(
                cust, F.col("c_custkey") == F.col("o_custkey")
            ).agg(F.count(F.lit(1)).alias("act_oc"))
        )
        .crossJoin(
            lo.join(cust, F.col("c_custkey") == F.col("o_custkey")).agg(
                F.count(F.lit(1)).alias("act_final")
            )
        )
    )
    base = stats.crossJoin(F.broadcast(act))
    est_lo = (
        F.col("n_l").cast("double")
        * F.col("n_o")
        / F.greatest("ndv_l_ok", "ndv_o_ok")
    )
    est_oc = (
        F.col("n_o").cast("double")
        * F.col("n_c")
        / F.greatest("ndv_o_ck", "ndv_c_ck")
    )
    p1 = base.select(
        F.lit("lo_first").alias("plan"),
        F.round(est_lo, 4).alias("est_join1"),
        F.col("act_lo").cast("long").alias("actual_join1"),
        F.round(
            est_lo * F.col("n_c") / F.greatest("ndv_o_ck", "ndv_c_ck"), 4
        ).alias("est_final"),
        F.col("act_final").cast("long").alias("actual_final"),
    )
    p2 = base.select(
        F.lit("oc_first").alias("plan"),
        F.round(est_oc, 4).alias("est_join1"),
        F.col("act_oc").cast("long").alias("actual_join1"),
        F.round(
            est_oc * F.col("n_l") / F.greatest("ndv_o_ok", "ndv_l_ok"), 4
        ).alias("est_final"),
        F.col("act_final").cast("long").alias("actual_final"),
    )
    return (
        p1.unionByName(p2)
        .select(
            "plan",
            "est_join1",
            "actual_join1",
            F.round(F.col("actual_join1") / F.col("est_join1"), 4).alias(
                "calib_join1"
            ),
            "est_final",
            "actual_final",
            F.round(
                F.col("actual_final") / F.col("est_final"), 4
            ).alias("calib_final"),
        )
        .orderBy("plan")
    )


# ---------------------------------------------------------------------------
# q364 — order-dependency mining over lineitem's numeric columns: for
# every ordered pair (a, b) of {quantity, extendedprice, discount, tax},
# the violation rate of "a ≤ b" and whether the dependency HOLDS at the
# 99% threshold — lightweight invariant discovery (the Metanome-style
# profiling step that seeds q286's expectation suite with candidate
# cross-field rules instead of hand-written ones).
# Parity: values are frozen to round(100·v) cents/points integers before
# comparison, so both engines compare identical integers; all counts are
# exact; rates are single double ratios. 4dp.
# Scale: ONE corpus pass computes all 12 pair-violation counts as
# conditional aggregates (map-side combinable); the unpivot to rows runs
# on a 1-row relation.
# ---------------------------------------------------------------------------
_OD_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _od_pairs():
    return [
        (a, b) for a in _OD_COLS for b in _OD_COLS if a != b
    ]


@register(
    "q364_order_dependency_mining",
    oracle=f"""
WITH f AS (
    SELECT {", ".join(f"CAST(ROUND(100.0 * {c}) AS BIGINT) AS {c}" for c in _OD_COLS)}
    FROM lineitem
),
agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           {", ".join(
               f"CAST(SUM(CASE WHEN {a} > {b} THEN 1 ELSE 0 END) AS BIGINT)"
               f" AS v_{i}"
               for i, (a, b) in enumerate(_od_pairs())
           )}
    FROM f
)
{" UNION ALL ".join(
    f"SELECT '{a}' AS lhs, '{b}' AS rhs, n, v_{i} AS n_violations, "
    f"ROUND(CAST(v_{i} AS DOUBLE) / n, 4) AS violation_rate, "
    f"CAST(CASE WHEN CAST(v_{i} AS DOUBLE) / n <= 0.01 THEN 1 ELSE 0 END"
    f" AS BIGINT) AS holds FROM agg"
    for i, (a, b) in enumerate(_od_pairs())
)}
ORDER BY lhs, rhs
""",
    tags=("quality", "P2", "A12"),
)
def q364_order_dependency_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Violation rates of every candidate a ≤ b invariant among
    lineitem's numeric columns: (lhs, rhs, n, n_violations,
    violation_rate, holds)."""
    li = load_table(spark, sf_dir, "lineitem")
    f = li.select(
        *[
            F.round(100.0 * F.col(c)).cast("long").alias(c)
            for c in _OD_COLS
        ]
    )
    agg = f.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum((F.col(a) > F.col(b)).cast("long")).alias(f"v_{i}")
            for i, (a, b) in enumerate(_od_pairs())
        ],
    )
    out = None
    for i, (a, b) in enumerate(_od_pairs()):
        rate = F.col(f"v_{i}").cast("double") / F.col("n")
        row = agg.select(
            F.lit(a).alias("lhs"),
            F.lit(b).alias("rhs"),
            F.col("n").cast("long").alias("n"),
            F.col(f"v_{i}").cast("long").alias("n_violations"),
            F.round(rate, 4).alias("violation_rate"),
            (rate <= 0.01).cast("long").alias("holds"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("lhs", "rhs")


# --------------------------------------------------------------------------
# q395 - approximate functional-dependency audit: for five candidate
# X -> Y dependencies across the schema, the g3-style holds-rate
# (sum over X of max_y cnt / N - the share of rows kept if each LHS
# group were forced to its majority RHS) plus the violation count and
# an exact-FD flag. The profiling primitive behind schema inference,
# key discovery, and "is this column derivable" checks (q364 mines
# ORDER dependencies; this mines equality determinism).
# Parity: everything is exact integer counts and one double ratio. 4dp.
# Scale: per FD one (X, Y) keyed aggregate (map-side combined) then one
# X-keyed max - uniform keys, no windows; the five audits union at the
# end (5-row output).
# --------------------------------------------------------------------------
_FD_CANDIDATES = [
    ("events.user_id->event_type", "events", "user_id", "event_type"),
    ("documents.lang->source", "documents", "lang", "source"),
    ("documents.source->lang", "documents", "source", "lang"),
    ("orders.o_custkey->o_orderpriority", "orders", "o_custkey", "o_orderpriority"),
    ("customer.c_nationkey->c_mktsegment", "customer", "c_nationkey", "c_mktsegment"),
]


def _fd_oracle_block(fd: str, table: str, x: str, y: str) -> str:
    return f"""
SELECT '{fd}' AS fd,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_lhs,
       ROUND(CAST(SUM(mx) AS DOUBLE) / SUM(cnt), 4) AS holds_rate,
       CAST(SUM(cnt) - SUM(mx) AS BIGINT) AS n_violations,
       CAST(CASE WHEN SUM(cnt) = SUM(mx) THEN 1 ELSE 0 END AS BIGINT)
           AS exact_fd
FROM (
    SELECT x, MAX(c) AS mx, SUM(c) AS cnt
    FROM (SELECT CAST({x} AS VARCHAR) AS x, CAST({y} AS VARCHAR) AS y,
                 CAST(COUNT(*) AS BIGINT) AS c
          FROM {table} GROUP BY 1, 2) g
    GROUP BY x
) p"""


@register(
    "q395_fd_violations",
    oracle=" UNION ALL ".join(
        _fd_oracle_block(*c) for c in _FD_CANDIDATES
    )
    + " ORDER BY fd",
    tags=("profiling", "A5", "A12"),
)
def q395_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """g3 holds-rate per candidate functional dependency:
    (fd, n_rows, n_lhs, holds_rate, n_violations, exact_fd)."""
    out = None
    for fd, table, x, y in _FD_CANDIDATES:
        t = load_table(spark, sf_dir, table)
        g = (
            t.select(
                F.col(x).cast("string").alias("x"),
                F.col(y).cast("string").alias("y"),
            )
            .groupBy("x", "y")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        p = g.groupBy("x").agg(
            F.max("c").alias("mx"), F.sum("c").alias("cnt")
        )
        row = p.agg(
            F.lit(fd).alias("fd"),
            F.sum("cnt").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_lhs"),
            F.round(
                F.sum("mx").cast("double") / F.sum("cnt"), 4
            ).alias("holds_rate"),
            (F.sum("cnt") - F.sum("mx")).cast("long").alias("n_violations"),
            (F.sum("cnt") == F.sum("mx")).cast("long").alias("exact_fd"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("fd")


# --------------------------------------------------------------------------
# q398 - DAU / trailing-7-day WAU / stickiness per day: the engagement
# ratio product teams track (stickiness = DAU/WAU in [1/7, 1] for a
# trailing week) - q88 reads cohort retention and q246 decay-weighted
# engagement; this is the daily pulse. Trailing windows at the stream
# head use the available history (standard trailing semantics).
# Computed WITHOUT a rolling distinct (which no engine does natively):
# each active (user, day) supports the 7 target days [day, day+6], so
# explode that bounded fan-out, dedup, and count per target day - all
# keyed aggregates, no windows, no range join.
# Parity: all counts exact integers; stickiness one double ratio. 4dp.
# Scale: distinct (user, day) is one keyed aggregate; the x7 explode is
# linear fan-out; target-day counts are distinct aggregates on uniform
# day keys.
# --------------------------------------------------------------------------
@register(
    "q398_stickiness",
    oracle="""
WITH user_days AS (
    SELECT DISTINCT user_id,
           CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day
    FROM events
),
dau AS (
    SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM user_days GROUP BY day
),
support AS (
    SELECT DISTINCT user_id, CAST(day + INTERVAL (i) DAY AS DATE) AS tday
    FROM user_days, UNNEST(GENERATE_SERIES(0, 6)) AS t(i)
),
wau AS (
    SELECT tday AS day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau7
    FROM support GROUP BY tday
)
SELECT CAST(d.day AS VARCHAR) AS day, d.dau, w.wau7,
       ROUND(CAST(d.dau AS DOUBLE) / w.wau7, 4) AS stickiness
FROM dau d JOIN wau w ON w.day = d.day
ORDER BY day
""",
    tags=("engagement", "A5", "A10"),
)
def q398_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily DAU / trailing-7d WAU / stickiness:
    (day, dau, wau7, stickiness)."""
    events = load_table(spark, sf_dir, "events")
    user_days = events.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    dau = user_days.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("dau")
    )
    support = user_days.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("tday"),
    ).distinct()
    wau = support.groupBy(F.col("tday").alias("day")).agg(
        F.countDistinct("user_id").cast("long").alias("wau7")
    )
    return (
        dau.join(wau, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau7",
            F.round(F.col("dau").cast("double") / F.col("wau7"), 4).alias(
                "stickiness"
            ),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# q419 - user-spend Lorenz table: rank users by total purchase spend,
# cut into spend deciles, and report each decile's share of users and
# of total spend plus the cumulative curve - the concentration TABLE
# behind q213's single Gini number (the "top decile carries X% of
# revenue" read). Computed WITHOUT ranking individual users: the user
# relation collapses to the distinct-spend DOMAIN first (n_users,
# spend_sum per distinct cents value), the cumulative walk runs over
# that domain, and deciles cut on cumulative user count - the q283
# domain-collapse discipline, so no corpus-scaled window exists.
# Users inside one distinct spend value are interchangeable, so the
# decile boundary splits a value's users proportionally by exact
# integer arithmetic (floor splits, remainder to the lower decile).
# Parity: spends frozen to cents; the domain walk, decile cuts, and
# proportional splits are exact integer arithmetic on both engines;
# shares are single double ratios. 4dp.
# Scale: one user-keyed aggregate (uniform), one distinct-spend-domain
# aggregate + cum window (domain-bounded, lint-allowlisted), 10-row
# output.
# --------------------------------------------------------------------------
@register(
    "q419_lorenz_table",
    oracle="""
WITH spend AS (
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                         THEN CAST(ROUND(100.0 * value) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS cents
    FROM events GROUP BY user_id
),
dom AS (
    SELECT cents, CAST(COUNT(*) AS BIGINT) AS nu
    FROM spend GROUP BY cents
),
tot AS (SELECT CAST(SUM(nu) AS BIGINT) AS users,
               CAST(SUM(nu * cents) AS BIGINT) AS mass FROM dom),
cum AS (
    SELECT cents, nu,
           CAST(SUM(nu) OVER (ORDER BY cents) AS BIGINT) AS cu,
           t.users, t.mass
    FROM dom CROSS JOIN tot t
),
alloc AS (
    -- users of one value can straddle a decile boundary: split them by
    -- exact integer proration of the [cu-nu, cu) user-rank interval
    SELECT d.decile, c.cents,
           LEAST(c.cu, (d.decile * c.users + 9) // 10)
             - GREATEST(c.cu - c.nu, ((d.decile - 1) * c.users + 9) // 10)
               AS k
    FROM cum c
    JOIN (SELECT UNNEST(GENERATE_SERIES(1, 10)) AS decile) d
      ON LEAST(c.cu, (d.decile * c.users + 9) // 10)
         > GREATEST(c.cu - c.nu, ((d.decile - 1) * c.users + 9) // 10)
),
per AS (
    SELECT decile, CAST(SUM(k) AS BIGINT) AS n_users,
           CAST(SUM(k * cents) AS BIGINT) AS spend
    FROM alloc GROUP BY decile
),
curve AS (
    SELECT p.decile, p.n_users, p.spend,
           CAST(SUM(p.spend) OVER (ORDER BY p.decile) AS BIGINT) AS cum_spend
    FROM per p
)
SELECT c.decile, c.n_users,
       ROUND(c.spend / 100.0, 4) AS spend,
       ROUND(CAST(c.spend AS DOUBLE) / t.mass, 4) AS spend_share,
       ROUND(CAST(c.cum_spend AS DOUBLE) / t.mass, 4) AS cum_share
FROM curve c CROSS JOIN tot t
ORDER BY c.decile
""",
    tags=("analytics", "inequality", "A12"),
)
def q419_lorenz_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spend-decile Lorenz table: (decile, n_users, spend, spend_share,
    cum_share)."""
    events = load_table(spark, sf_dir, "events")
    spend = events.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(100.0 * F.col("value")).cast("long"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("cents")
    )
    dom = spend.groupBy("cents").agg(F.count(F.lit(1)).alias("nu"))
    tot = dom.agg(
        F.sum("nu").cast("long").alias("users"),
        F.sum(F.col("nu") * F.col("cents")).cast("long").alias("mass"),
    )
    cum = (
        dom.crossJoin(F.broadcast(tot))
        .withColumn(
            "cu", F.sum("nu").over(Window.orderBy("cents")).cast("long")
        )
    )
    deciles = spark.range(1, 11).select(F.col("id").alias("decile"))
    hi = F.least(
        F.col("cu"),
        F.expr("(decile * users + 9) div 10"),
    )
    lo = F.greatest(
        F.col("cu") - F.col("nu"),
        F.expr("((decile - 1) * users + 9) div 10"),
    )
    alloc = (
        cum.crossJoin(F.broadcast(deciles))
        .filter(hi > lo)
        .select("decile", "cents", (hi - lo).alias("k"))
    )
    per = alloc.groupBy("decile").agg(
        F.sum("k").cast("long").alias("n_users"),
        F.sum(F.col("k") * F.col("cents")).cast("long").alias("spend"),
    )
    curve = per.withColumn(
        "cum_spend",
        F.sum("spend").over(Window.orderBy("decile")).cast("long"),
    )
    return (
        curve.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_users",
            F.round(F.col("spend") / 100.0, 4).alias("spend"),
            F.round(F.col("spend").cast("double") / F.col("mass"), 4).alias(
                "spend_share"
            ),
            F.round(
                F.col("cum_spend").cast("double") / F.col("mass"), 4
            ).alias("cum_share"),
        )
        .orderBy("decile")
    )


# --------------------------------------------------------------------------
# q452 - GROUP BY ALL (q200's SQL-surface family): the order-priority
# revenue scorecard written with GROUP BY ALL on BOTH engines - every
# non-aggregate select item becomes a grouping key, the sugar analysts
# actually type. Same plan as an explicit GROUP BY after analysis.
# Scale: one corpus aggregate with map-side combine.
# --------------------------------------------------------------------------
@register(
    "q452_group_by_all",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(CAST(ROUND(100.0 * o_totalprice) AS BIGINT)) / CAST(100 AS DOUBLE), 4)
           AS revenue
FROM orders
GROUP BY ALL
ORDER BY o_orderstatus, o_orderpriority
""",
    tags=("sql-surface", "A1"),
)
def q452_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Status x priority revenue rollup via GROUP BY ALL (same text runs
    on DuckDB)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("q452_orders")
    return spark.sql(
        """
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(CAST(ROUND(100.0 * o_totalprice) AS BIGINT)) / CAST(100 AS DOUBLE), 4)
           AS revenue
FROM q452_orders
GROUP BY ALL
ORDER BY o_orderstatus, o_orderpriority
"""
    )


# --------------------------------------------------------------------------
# q453 - native SQL UNPIVOT (the relational wide->long operator as
# first-class syntax on BOTH engines, vs q06/q44's stack()-based melt):
# per-order measures unpivoted to (measure, value) rows and profiled.
# Scale: one order-keyed aggregate, a 3x fan-out projection (UNPIVOT is
# a local operator - no shuffle), one measure-keyed rollup.
# --------------------------------------------------------------------------
@register(
    "q453_sql_unpivot",
    oracle="""
WITH per_order AS (
    SELECT l_orderkey,
           CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS qty,
           CAST(SUM(CAST(ROUND(100.0 * l_extendedprice) AS BIGINT)) AS BIGINT)
               AS price_c,
           CAST(COUNT(*) AS BIGINT) AS items
    FROM lineitem GROUP BY l_orderkey
),
longf AS (
    SELECT * FROM per_order UNPIVOT (v FOR measure IN (qty, price_c, items))
)
SELECT measure,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(v) AS BIGINT) AS total,
       CAST(MAX(v) AS BIGINT) AS max_v,
       ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 4) AS mean_v
FROM longf GROUP BY measure ORDER BY measure
""",
    tags=("sql-surface", "F24"),
)
def q453_sql_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order measures profiled through native SQL UNPIVOT:
    (measure, n_orders, total, max_v, mean_v)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "q453_lineitem"
    )
    return spark.sql(
        """
WITH per_order AS (
    SELECT l_orderkey,
           CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS qty,
           CAST(SUM(CAST(ROUND(100.0 * l_extendedprice) AS BIGINT)) AS BIGINT)
               AS price_c,
           CAST(COUNT(*) AS BIGINT) AS items
    FROM q453_lineitem GROUP BY l_orderkey
),
longf AS (
    SELECT * FROM per_order UNPIVOT (v FOR measure IN (qty, price_c, items))
)
SELECT measure,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(v) AS BIGINT) AS total,
       CAST(MAX(v) AS BIGINT) AS max_v,
       ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 4) AS mean_v
FROM longf GROUP BY measure ORDER BY measure
"""
    )


# --------------------------------------------------------------------------
# q454 - parameterized SQL with IDENTIFIER(): the injection-safe
# templating surface (spark.sql(query, args=...), table name bound via
# IDENTIFIER(:tbl), thresholds via named parameters) running a
# nation-level open-revenue report. The oracle inlines the same
# parameter VALUES - correctness shows binding changes nothing.
# Scale: broadcast dims, one fact aggregate keyed by nation.
# --------------------------------------------------------------------------
_Q454_MIN_QTY = 10


@register(
    "q454_parameterized_sql",
    oracle=f"""
SELECT n.n_name AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       ROUND(SUM(CAST(ROUND(100.0 * l.l_extendedprice * (1 - l.l_discount))
                      AS BIGINT)) / CAST(100 AS DOUBLE), 4) AS open_revenue
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE o.o_orderstatus = 'O' AND l.l_quantity >= {_Q454_MIN_QTY}
GROUP BY n.n_name ORDER BY nation
""",
    tags=("sql-surface", "J1"),
)
def q454_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order revenue by nation via parameterized SQL (IDENTIFIER
    table binding + named args): (nation, n_items, open_revenue)."""
    for t in ("lineitem", "orders", "customer", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"q454_{t}")
    return spark.sql(
        """
SELECT n.n_name AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       ROUND(SUM(CAST(ROUND(100.0 * l.l_extendedprice * (1 - l.l_discount))
                      AS BIGINT)) / CAST(100 AS DOUBLE), 4) AS open_revenue
FROM IDENTIFIER(:li) l
JOIN IDENTIFIER(:ord) o ON o.o_orderkey = l.l_orderkey
JOIN IDENTIFIER(:cust) c ON c.c_custkey = o.o_custkey
JOIN IDENTIFIER(:nat) n ON n.n_nationkey = c.c_nationkey
WHERE o.o_orderstatus = :status AND l.l_quantity >= :min_qty
GROUP BY n.n_name ORDER BY nation
""",
        args={
            "li": "q454_lineitem",
            "ord": "q454_orders",
            "cust": "q454_customer",
            "nat": "q454_nation",
            "status": "O",
            "min_qty": _Q454_MIN_QTY,
        },
    )


# ---------------------------------------------------------------------------
# q468 — Newman modularity of the co-purchase part graph under the brand
# partition: Q = sum_c (e_c/m - (d_c/2m)^2), where e_c = edges inside
# brand c, d_c = total degree of brand c's parts, m = |edges|. Edges are
# distinct co-purchased part pairs within an order (q169's bounded
# basket self-join). The "is this partition real community structure"
# score for the graph family (q101 triangles, q243 clustering, q346
# assortativity) — the quantity Louvain-style algorithms maximise,
# evaluated exactly for the catalogue's given brand partition.
# Parity: e_c, d_c, m are exact integers; each brand's contribution is
# the identical double expression frozen to round(1e12 * contrib) so the
# total Q is an exact integer sum over the |brands| domain. 4dp.
# Scale: the self-join is per-order (TPC-H orders have <= 7 lines, so
# the pair fan-out is bounded); the DISTINCT edge relation shuffles once
# on the pair key; degrees/brand sums are keyed aggregates; the final
# reduce runs on |brands| rows.
# ---------------------------------------------------------------------------
@register(
    "q468_modularity",
    oracle="""
WITH edges AS (
    SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
    FROM lineitem a JOIN lineitem b
      ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey
),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges),
deg AS (
    SELECT p, CAST(COUNT(*) AS BIGINT) AS d
    FROM (SELECT pa AS p FROM edges UNION ALL SELECT pb FROM edges) u
    GROUP BY p
),
bmap AS (SELECT p_partkey, p_brand FROM part),
ec AS (
    SELECT ba.p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS e_in
    FROM edges e
    JOIN bmap ba ON ba.p_partkey = e.pa
    JOIN bmap bb ON bb.p_partkey = e.pb
    WHERE ba.p_brand = bb.p_brand
    GROUP BY ba.p_brand
),
dc AS (
    SELECT b.p_brand AS brand, CAST(SUM(d.d) AS BIGINT) AS d_sum
    FROM deg d JOIN bmap b ON b.p_partkey = d.p
    GROUP BY b.p_brand
),
contrib AS (
    SELECT dc.brand, COALESCE(ec.e_in, 0) AS e_in, dc.d_sum,
           CAST(ROUND(1000000000000.0 *
                (CAST(COALESCE(ec.e_in, 0) AS DOUBLE) / m.m
                 - (CAST(dc.d_sum AS DOUBLE) / (2.0 * m.m))
                   * (CAST(dc.d_sum AS DOUBLE) / (2.0 * m.m))))
                AS BIGINT) AS c12
    FROM dc LEFT JOIN ec ON ec.brand = dc.brand CROSS JOIN m
),
q AS (SELECT CAST(SUM(c12) AS BIGINT) AS qi FROM contrib)
SELECT c.brand, c.e_in AS internal_edges, c.d_sum AS degree_sum,
       ROUND(c.c12 / 1000000000000.0, 4) AS contrib,
       ROUND(q.qi / 1000000000000.0, 4) AS q_total
FROM contrib c CROSS JOIN q
ORDER BY c.brand
""",
    tags=("graph", "A1", "A12"),
)
def q468_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand-partition modularity of the co-purchase part graph:
    (brand, internal_edges, degree_sum, contrib, q_total)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    a = lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa")
    )
    b = lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb")
    )
    edges = (
        a.join(b, "ok").filter(F.col("pa") < F.col("pb"))
        .select("pa", "pb")
        .distinct()
    )
    m = edges.agg(F.count(F.lit(1)).alias("m"))
    deg = (
        edges.select(F.col("pa").alias("p"))
        .unionAll(edges.select(F.col("pb").alias("p")))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    bmap = F.broadcast(part.select("p_partkey", "p_brand"))
    ec = (
        edges.join(bmap, F.col("p_partkey") == F.col("pa"))
        .select("pa", "pb", F.col("p_brand").alias("brand_a"))
        .join(bmap, F.col("p_partkey") == F.col("pb"))
        .filter(F.col("brand_a") == F.col("p_brand"))
        .groupBy(F.col("brand_a").alias("brand"))
        .agg(F.count(F.lit(1)).alias("e_in"))
    )
    dc = (
        deg.join(bmap, F.col("p_partkey") == F.col("p"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.sum("d").alias("d_sum"))
    )
    mm = F.col("m").cast("double")
    half = F.col("d_sum").cast("double") / (2.0 * mm)
    contrib = (
        dc.join(ec, "brand", "left")
        .na.fill({"e_in": 0})
        .crossJoin(F.broadcast(m))
        .select(
            "brand",
            "e_in",
            "d_sum",
            F.round(
                1e12 * (F.col("e_in").cast("double") / mm - half * half)
            )
            .cast("long")
            .alias("c12"),
        )
    )
    q = contrib.agg(F.sum("c12").cast("long").alias("qi"))
    return (
        contrib.crossJoin(F.broadcast(q))
        .select(
            "brand",
            F.col("e_in").alias("internal_edges"),
            F.col("d_sum").alias("degree_sum"),
            F.round(F.col("c12") / 1e12, 4).alias("contrib"),
            F.round(F.col("qi") / 1e12, 4).alias("q_total"),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# q480 — rich-club coefficient of the co-purchase part graph: for degree
# thresholds k in {2, 4, 8}, the edge density among the nodes with
# degree > k, phi(k) = 2 E_k / (N_k (N_k - 1)). Rising phi(k) = hub
# parts preferentially co-purchased with other hubs — the "rich club"
# read that q346's single assortativity number summarises away.
# Parity: N_k / E_k are exact integers from the same edge relation as
# q468; phi is one double ratio per threshold row. 4dp.
# Scale: q468's bounded per-order self-join + one DISTINCT edge shuffle;
# degrees join back on the edge's own keys; the threshold grid is a
# 3-row literal broadcast.
# ---------------------------------------------------------------------------
@register(
    "q480_rich_club",
    oracle="""
WITH edges AS (
    SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
    FROM lineitem a JOIN lineitem b
      ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
    SELECT p, CAST(COUNT(*) AS BIGINT) AS d
    FROM (SELECT pa AS p FROM edges UNION ALL SELECT pb FROM edges) u
    GROUP BY p
),
ks AS (SELECT UNNEST([2, 4, 8]) AS k),
nodes AS (
    SELECT k.k, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg CROSS JOIN ks k WHERE deg.d > k.k GROUP BY k.k
),
rich_edges AS (
    SELECT k.k, CAST(COUNT(*) AS BIGINT) AS e_k
    FROM edges e
    JOIN deg da ON da.p = e.pa
    JOIN deg db ON db.p = e.pb
    CROSS JOIN ks k
    WHERE da.d > k.k AND db.d > k.k
    GROUP BY k.k
)
SELECT CAST(n.k AS BIGINT) AS k, n.n_nodes, COALESCE(r.e_k, 0) AS e_k,
       ROUND(2.0 * COALESCE(r.e_k, 0)
             / (CAST(n.n_nodes AS DOUBLE) * (n.n_nodes - 1)), 4) AS phi
FROM nodes n LEFT JOIN rich_edges r ON r.k = n.k
WHERE n.n_nodes > 1
ORDER BY k
""",
    tags=("graph", "A1", "A12"),
)
def q480_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficients of the co-purchase part graph:
    (k, n_nodes, e_k, phi)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    a = lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa")
    )
    b = lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb")
    )
    edges = (
        a.join(b, "ok").filter(F.col("pa") < F.col("pb"))
        .select("pa", "pb")
        .distinct()
    )
    deg = (
        edges.select(F.col("pa").alias("p"))
        .unionAll(edges.select(F.col("pb").alias("p")))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ks = lineitem.sparkSession.createDataFrame(
        [(2,), (4,), (8,)], "k long"
    )
    nodes = (
        deg.crossJoin(F.broadcast(ks))
        .filter(F.col("d") > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    da = deg.select(F.col("p").alias("pa"), F.col("d").alias("da"))
    db = deg.select(F.col("p").alias("pb"), F.col("d").alias("db"))
    rich = (
        edges.join(da, "pa")
        .join(db, "pb")
        .crossJoin(F.broadcast(ks))
        .filter((F.col("da") > F.col("k")) & (F.col("db") > F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("e_k"))
    )
    return (
        nodes.join(rich, "k", "left")
        .na.fill({"e_k": 0})
        .filter(F.col("n_nodes") > 1)
        .select(
            "k",
            "n_nodes",
            "e_k",
            F.round(
                2.0
                * F.col("e_k")
                / (F.col("n_nodes").cast("double") * (F.col("n_nodes") - 1)),
                4,
            ).alias("phi"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# q483 — SQL-defined function surface demo: the SAME scalar function body
# is installed as a Spark SQL UDF (CREATE TEMPORARY FUNCTION ... RETURN,
# catalog-resolved, fully Catalyst-inlined — NOT a Python UDF) and as a
# DuckDB MACRO, then drives a grouped rollup. Completes the q452-q454
# SQL-surface family (GROUP BY ALL / UNPIVOT / parameterized IDENTIFIER)
# with the "analysts ship reusable logic as SQL functions" workflow.
# Scale: the function inlines to a CASE expression inside one map-side-
# combined aggregate — zero runtime dispatch cost.
# ---------------------------------------------------------------------------
_Q483_BODY = (
    "CASE WHEN d >= 0.06 THEN 'deep' WHEN d >= 0.03 THEN 'mid' "
    "ELSE 'low' END"
)
_Q483_SELECT = """
SELECT {fn}(l_discount) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       ROUND(SUM(CAST(ROUND(100.0 * l_extendedprice) AS BIGINT))
             / CAST(100 AS DOUBLE), 4) AS revenue
FROM {table}
GROUP BY band
ORDER BY band
"""


@register(
    "q483_sql_udf",
    oracle=(
        f"CREATE OR REPLACE MACRO q483_band(d) AS {_Q483_BODY};"
        + _Q483_SELECT.format(fn="q483_band", table="lineitem")
    ),
    tags=("sql-surface", "F22", "A1"),
)
def q483_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount-band revenue rollup through a SQL-defined function
    (Spark TEMPORARY FUNCTION vs DuckDB MACRO, same body):
    (band, n_lines, revenue)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "q483_lineitem"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION q483_band(d DOUBLE) "
        f"RETURNS STRING RETURN {_Q483_BODY}"
    )
    return spark.sql(_Q483_SELECT.format(fn="q483_band", table="q483_lineitem"))
