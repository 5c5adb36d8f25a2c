"""Round-5 eval wave — model-eval and LM-quality relations, every query
deterministic and oracle-matched.

- q343 interpolated Kneser–Ney bigram LM scoring of the held-out split
  (the smoothing that actually wins LM benchmarks, vs q221's Stupid
  Backoff) — integer micro-nat outputs.
- q344 per-class precision/recall/F1 + macro-F1/accuracy from the
  nearest-centroid assignment (the classification-eval closeout of
  q202's confusion counts).
- q345 Brier score with its Murphy (1973) decomposition: reliability −
  resolution + uncertainty + within-bin variance, all from one binned
  pass over a frozen micro-int confidence.
- q346 degree assortativity of the co-purchase graph (Newman 2002
  r over directed edge endpoint degrees) — "do hubs link to hubs".
- q347 TextRank keyword extraction (Mihalcea & Tarau 2004): damped
  power iteration over the token co-occurrence graph, unrolled to a
  fixed round count with per-edge integer freezing so both engines walk
  bit-identical iterates.

Reference provenance: the reference repo's analytics surface stops at
SQLAlchemy rollups (synth_transform/transform.py); these are the
model-eval / corpus-quality extensions a training-data pipeline bolts on
top, re-expressed Spark-first per SURVEY.md §2's "beyond the reference"
mandate.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..sources.readers import load_table
from .registry import register
from ..operators import text_analysis

# --------------------------------------------------------------------------
# q343 — interpolated Kneser–Ney bigram scoring. Train on the
# doc_id % 13 == 1 slice, score the disjoint % 13 == 0 slice (q221's
# split — sized so unseen histories genuinely occur). With discount
# D = 0.75:
#   p(cur|prev) = max(c2 − D, 0)/c1 + (D·n_follow(prev)/c1)·p_cont(cur)
#   p_cont(cur) = n_hist(cur)/T   (distinct-continuation counts over the
#                                  T distinct train bigram types)
# unseen prev → p = p_cont(cur); cur never a continuation → 0.5/T floor.
# Parity: c2/c1/n_follow/n_hist/T are exact integer counts; p is one
# double expression over them; the log-score is frozen per bigram to
# round(1e6·ln p) so the per-doc sum is integer math on both engines.
# Scale: counting aggregates with map-side partials; LM tables broadcast
# at vocab scale; one doc-keyed aggregate. No global window.
# --------------------------------------------------------------------------
@register(
    "q343_kneser_ney",
    oracle="""
WITH toks AS (
    SELECT doc_id,
           UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS tok,
           GENERATE_SUBSCRIPTS(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> ''), 1) AS i
    FROM documents
),
big AS (
    SELECT a.doc_id, a.tok AS prev, b.tok AS cur
    FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
),
big_tr AS (
    SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS n2
    FROM big WHERE doc_id % 13 = 1 GROUP BY prev, cur
),
c1 AS (SELECT prev, CAST(SUM(n2) AS BIGINT) AS n1,
              CAST(COUNT(*) AS BIGINT) AS n_follow
       FROM big_tr GROUP BY prev),
hist AS (SELECT cur, CAST(COUNT(*) AS BIGINT) AS n_hist
         FROM big_tr GROUP BY cur),
tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM big_tr),
held AS (SELECT doc_id, prev, cur FROM big WHERE doc_id % 13 = 0),
scored AS (
    SELECT h.doc_id,
           CASE WHEN c1.n1 IS NULL THEN 1 ELSE 0 END AS unseen_prev,
           CAST(ROUND(LN(
               CASE WHEN c1.n1 IS NULL
                    THEN COALESCE(CAST(hi.n_hist AS DOUBLE), 0.5) / tt.t
                    ELSE GREATEST(COALESCE(CAST(b.n2 AS DOUBLE), 0.0) - 0.75,
                                  0.0) / c1.n1
                         + (0.75 * c1.n_follow / c1.n1)
                           * (COALESCE(CAST(hi.n_hist AS DOUBLE), 0.5)
                              / tt.t)
               END) * 1000000.0) AS BIGINT) AS ls
    FROM held h
    LEFT JOIN big_tr b ON b.prev = h.prev AND b.cur = h.cur
    LEFT JOIN c1 ON c1.prev = h.prev
    LEFT JOIN hist hi ON hi.cur = h.cur
    CROSS JOIN tt
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(unseen_prev) AS BIGINT) AS n_unseen_prev,
       CAST(FLOOR(CAST(SUM(ls) AS DOUBLE) / COUNT(*)) AS BIGINT)
           AS avg_score_micro
FROM scored GROUP BY doc_id
""",
    tags=("text-lm", "training-prep", "quality"),
)
def q343_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out documents scored under an interpolated Kneser–Ney bigram
    LM (D=0.75) trained on the other split:
    (doc_id, n_bigrams, n_unseen_prev, avg_score_micro)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", text_analysis.tokens_raw(F.col("text")).alias("ts")
    ).filter(F.size("ts") >= 2)
    big_all = toks.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("ts", 1, F.size("ts") - 1),
                F.slice("ts", 2, F.size("ts") - 1),
            )
        ).alias("_bg"),
    ).select(
        "doc_id", F.col("_bg.0").alias("prev"), F.col("_bg.1").alias("cur")
    )
    big_tr = (
        big_all.filter(F.col("doc_id") % 13 == 1)
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("n2"))
    )
    c1 = big_tr.groupBy("prev").agg(
        F.sum("n2").alias("n1"), F.count(F.lit(1)).alias("n_follow")
    )
    hist = big_tr.groupBy("cur").agg(F.count(F.lit(1)).alias("n_hist"))
    tt = big_tr.agg(F.count(F.lit(1)).alias("t"))
    held = big_all.filter(F.col("doc_id") % 13 == 0)
    pcont = F.coalesce(F.col("n_hist").cast("double"), F.lit(0.5)) / F.col("t")
    p = F.when(F.col("n1").isNull(), pcont).otherwise(
        F.greatest(
            F.coalesce(F.col("n2").cast("double"), F.lit(0.0)) - 0.75,
            F.lit(0.0),
        )
        / F.col("n1")
        + (F.lit(0.75) * F.col("n_follow") / F.col("n1")) * pcont
    )
    scored = (
        held.join(F.broadcast(big_tr), ["prev", "cur"], "left")
        .join(F.broadcast(c1), "prev", "left")
        .join(F.broadcast(hist), "cur", "left")
        .join(F.broadcast(tt))
        .select(
            "doc_id",
            F.when(F.col("n1").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("unseen_prev"),
            F.round(F.log(p) * F.lit(1000000.0)).cast("long").alias("ls"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("unseen_prev").cast("long").alias("n_unseen_prev"),
        F.floor(F.sum("ls").cast("double") / F.count(F.lit(1)))
        .cast("long")
        .alias("avg_score_micro"),
    )


# --------------------------------------------------------------------------
# q344 — per-class precision/recall/F1 from the nearest-centroid
# assignment (q202's confusion, reduced to the metrics a model card
# actually prints), plus the macro-F1 and overall accuracy repeated on
# every row. tp/n_true/n_pred are exact integers; each ratio is one
# double expression; macro-F1 freezes per-class F1 to round(1e4·f1)
# before averaging so the 10-term sum is integer on both engines.
# Scale: centroid fit is one (label, dim) aggregate; the per-vector
# argmin window is bounded by the label count (10), not the corpus;
# everything after is a ≤10×10 relation.
# --------------------------------------------------------------------------
@register(
    "q344_class_prf",
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
    SELECT vec_id, true_label,
           c_label AS pred_label,
           ROW_NUMBER() OVER (
               PARTITION BY vec_id ORDER BY d2 ASC, c_label ASC
           ) AS rk
    FROM dists
),
pred AS (SELECT true_label, pred_label FROM assigned WHERE rk = 1),
per_class AS (
    SELECT c.label,
           CAST(COALESCE(t.n_true, 0) AS BIGINT) AS n_true,
           CAST(COALESCE(p.n_pred, 0) AS BIGINT) AS n_pred,
           CAST(COALESCE(tp.tp, 0) AS BIGINT) AS tp
    FROM (SELECT DISTINCT label FROM embeddings) c
    LEFT JOIN (SELECT true_label, COUNT(*) AS n_true FROM pred
               GROUP BY true_label) t ON t.true_label = c.label
    LEFT JOIN (SELECT pred_label, COUNT(*) AS n_pred FROM pred
               GROUP BY pred_label) p ON p.pred_label = c.label
    LEFT JOIN (SELECT true_label, COUNT(*) AS tp FROM pred
               WHERE true_label = pred_label
               GROUP BY true_label) tp ON tp.true_label = c.label
),
scored AS (
    SELECT label, n_true, n_pred, tp,
           CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / n_pred
                ELSE 0.0 END AS prec,
           CASE WHEN n_true > 0 THEN CAST(tp AS DOUBLE) / n_true
                ELSE 0.0 END AS rec,
           CASE WHEN n_pred + n_true > 0
                THEN 2.0 * tp / (n_pred + n_true) ELSE 0.0 END AS f1
    FROM per_class
),
tot AS (
    SELECT CAST(ROUND(AVG(CAST(ROUND(10000.0 * f1) AS BIGINT)) / 10000.0
                      * 10000) AS BIGINT) / 10000.0 AS macro_f1,
           ROUND(CAST(SUM(tp) AS DOUBLE) / SUM(n_true), 4) AS accuracy
    FROM scored
)
SELECT CAST(s.label AS INT) AS label, s.n_true, s.n_pred, s.tp,
       ROUND(s.prec, 4) AS prec, ROUND(s.rec, 4) AS rec,
       ROUND(s.f1, 4) AS f1, t.macro_f1, t.accuracy
FROM scored s CROSS JOIN tot t
ORDER BY label
""",
    tags=("ml-eval", "A12", "W3"),
)
def q344_class_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 of the nearest-centroid classifier:
    (label, n_true, n_pred, tp, prec, rec, f1, macro_f1, accuracy)."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "xf")
    ).select(
        "vec_id", "label", "dim", F.col("xf").cast("double").alias("x")
    )
    cent = flat.groupBy(F.col("label").alias("c_label"), "dim").agg(
        F.round(F.avg("x"), 4).alias("c")
    )
    dists = (
        flat.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", F.col("label").alias("true_label"), "c_label")
        .agg(
            F.round(F.sum(F.pow(F.col("x") - F.col("c"), 2)), 4).alias("d2")
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.asc("d2"), F.asc("c_label")
    )
    pred = (
        dists.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("true_label", F.col("c_label").alias("pred_label"))
    )
    classes = emb.select("label").distinct()
    n_true = pred.groupBy(F.col("true_label").alias("label")).agg(
        F.count(F.lit(1)).alias("n_true")
    )
    n_pred = pred.groupBy(F.col("pred_label").alias("label")).agg(
        F.count(F.lit(1)).alias("n_pred")
    )
    tp = (
        pred.filter(F.col("true_label") == F.col("pred_label"))
        .groupBy(F.col("true_label").alias("label"))
        .agg(F.count(F.lit(1)).alias("tp"))
    )
    per_class = (
        classes.join(F.broadcast(n_true), "label", "left")
        .join(F.broadcast(n_pred), "label", "left")
        .join(F.broadcast(tp), "label", "left")
        .select(
            "label",
            F.coalesce("n_true", F.lit(0)).cast("long").alias("n_true"),
            F.coalesce("n_pred", F.lit(0)).cast("long").alias("n_pred"),
            F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
        )
    )
    prec = F.when(
        F.col("n_pred") > 0, F.col("tp").cast("double") / F.col("n_pred")
    ).otherwise(F.lit(0.0))
    rec = F.when(
        F.col("n_true") > 0, F.col("tp").cast("double") / F.col("n_true")
    ).otherwise(F.lit(0.0))
    f1 = F.when(
        F.col("n_pred") + F.col("n_true") > 0,
        2.0 * F.col("tp") / (F.col("n_pred") + F.col("n_true")),
    ).otherwise(F.lit(0.0))
    scored = per_class.select(
        "label", "n_true", "n_pred", "tp",
        prec.alias("prec"), rec.alias("rec"), f1.alias("f1"),
    )
    tot = scored.agg(
        (
            F.round(
                F.avg(F.round(10000.0 * F.col("f1")).cast("long"))
                / 10000.0
                * 10000
            ).cast("long")
            / 10000.0
        ).alias("macro_f1"),
        F.round(
            F.sum("tp").cast("double") / F.sum("n_true"), 4
        ).alias("accuracy"),
    )
    return (
        scored.crossJoin(F.broadcast(tot))
        .select(
            F.col("label").cast("int").alias("label"),
            "n_true", "n_pred", "tp",
            F.round("prec", 4).alias("prec"),
            F.round("rec", 4).alias("rec"),
            F.round("f1", 4).alias("f1"),
            "macro_f1", "accuracy",
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# q345 — Brier score + Murphy decomposition of q249's deterministic
# confidence (min-max-normalised first embedding coordinate) against the
# label ≥ 5 outcome, 10 equal-width bins:
#   brier = REL − RES + UNC + WBV   (within-bin conf variance)
#   REL = Σ n_k (p̄_k − ō_k)² / N,  RES = Σ n_k (ō_k − ō)² / N,
#   UNC = ō(1 − ō).
# Parity: conf is frozen to a micro-int immediately (q249's trick); each
# per-row Brier term (ci − y·10⁶)² is an exact integer; every per-bin
# decomposition term is frozen to round(1e6·term) before the 10-row sum,
# so no double accumulates across rows on either engine.
# Scale: one pass to (min, max) (1-row broadcast), one map, one 10-row
# aggregate, one 1-row reduce.
# --------------------------------------------------------------------------
@register(
    "q345_brier_decomposition",
    oracle="""
WITH base AS (
    SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x,
           CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y
    FROM embeddings
),
rng AS (SELECT MIN(x) AS lo, MAX(x) AS hi FROM base),
conf AS (
    SELECT b.y,
           CAST(ROUND((b.x - r.lo) / (r.hi - r.lo) * 1000000) AS BIGINT)
               AS ci
    FROM base b CROSS JOIN rng r
),
binned AS (
    SELECT LEAST(CAST(FLOOR((ci * 10) / 1000000.0) AS BIGINT), 9) AS bin,
           y, ci,
           (ci - y * 1000000) * (ci - y * 1000000) AS bt
    FROM conf
),
per_bin AS (
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(ci) AS BIGINT) AS sci,
           CAST(SUM(y) AS BIGINT) AS npos,
           CAST(SUM(bt) AS BIGINT) AS sbt
    FROM binned GROUP BY bin
),
tot0 AS (
    SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(npos) AS BIGINT) AS pos
    FROM per_bin
),
terms AS (
    SELECT p.bin, p.n, p.sci, p.npos, p.sbt, t.nn, t.pos,
           CAST(ROUND(1000000.0 * p.n
                * POW(p.sci / 1000000.0 / p.n
                      - CAST(p.npos AS DOUBLE) / p.n, 2)) AS BIGINT)
               AS rel_t,
           CAST(ROUND(1000000.0 * p.n
                * POW(CAST(p.npos AS DOUBLE) / p.n
                      - CAST(t.pos AS DOUBLE) / t.nn, 2)) AS BIGINT)
               AS res_t
    FROM per_bin p CROSS JOIN tot0 t
)
SELECT CAST(MAX(nn) AS BIGINT) AS n,
       ROUND(CAST(SUM(sbt) AS DOUBLE) / 1000000000000.0 / MAX(nn), 4)
           AS brier,
       ROUND(CAST(SUM(rel_t) AS DOUBLE) / 1000000.0 / MAX(nn), 4)
           AS reliability,
       ROUND(CAST(SUM(res_t) AS DOUBLE) / 1000000.0 / MAX(nn), 4)
           AS resolution,
       ROUND((CAST(MAX(pos) AS DOUBLE) / MAX(nn))
             * (1.0 - CAST(MAX(pos) AS DOUBLE) / MAX(nn)), 4)
           AS uncertainty
FROM terms
""",
    tags=("ml-eval", "A12"),
)
def q345_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score with Murphy decomposition over 10 reliability bins:
    (n, brier, reliability, resolution, uncertainty)."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
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
        F.least(
            F.floor((F.col("ci") * 10) / F.lit(1000000.0)).cast("long"),
            F.lit(9).cast("long"),
        ).alias("bin"),
        "y",
        "ci",
        (
            (F.col("ci") - F.col("y") * 1000000)
            * (F.col("ci") - F.col("y") * 1000000)
        ).alias("bt"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ci").alias("sci"),
        F.sum("y").cast("long").alias("npos"),
        F.sum("bt").alias("sbt"),
    )
    tot0 = per_bin.agg(
        F.sum("n").alias("nn"), F.sum("npos").alias("pos")
    )
    rel_t = F.round(
        1000000.0
        * F.col("n")
        * F.pow(
            F.col("sci") / 1000000.0 / F.col("n")
            - F.col("npos").cast("double") / F.col("n"),
            2,
        )
    ).cast("long")
    res_t = F.round(
        1000000.0
        * F.col("n")
        * F.pow(
            F.col("npos").cast("double") / F.col("n")
            - F.col("pos").cast("double") / F.col("nn"),
            2,
        )
    ).cast("long")
    terms = per_bin.crossJoin(F.broadcast(tot0)).select(
        "n", "sbt", "nn", "pos", rel_t.alias("rel_t"), res_t.alias("res_t")
    )
    return terms.agg(
        F.max("nn").cast("long").alias("n"),
        F.round(
            F.sum("sbt").cast("double") / 1000000000000.0 / F.max("nn"), 4
        ).alias("brier"),
        F.round(
            F.sum("rel_t").cast("double") / 1000000.0 / F.max("nn"), 4
        ).alias("reliability"),
        F.round(
            F.sum("res_t").cast("double") / 1000000.0 / F.max("nn"), 4
        ).alias("resolution"),
        F.round(
            (F.max("pos").cast("double") / F.max("nn"))
            * (1.0 - F.max("pos").cast("double") / F.max("nn")),
            4,
        ).alias("uncertainty"),
    )


# --------------------------------------------------------------------------
# q346 — degree assortativity (Newman 2002) of the co-purchase part
# graph: the Pearson correlation between the degrees at the two ends of
# every directed edge. Positive r = hubs prefer hubs (social-network
# shape); negative = hubs fan out to leaves (catalog/star shape) — the
# one-number summary that decides whether degree-based partitioning will
# co-locate the heavy rows.
# Parity: degrees and all five correlation sums are exact integers
# (Σx, Σy, Σx², Σy², Σxy over the directed edge list); r is a single
# double expression, 4dp.
# Scale: the order-bounded co-purchase self-join (q101/q243's shape),
# one degree aggregate, one broadcast join back to edges, one 1-row
# reduce. No window, no iteration.
# --------------------------------------------------------------------------
@register(
    "q346_degree_assortativity",
    oracle="""
WITH items AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
cp AS (
    SELECT a.l_partkey AS pa, b.l_partkey AS pb
    FROM items a
    JOIN items b ON b.l_orderkey = a.l_orderkey
                AND a.l_partkey < b.l_partkey
    GROUP BY pa, pb
),
edges AS (
    SELECT pa AS src, pb AS dst FROM cp
    UNION ALL
    SELECT pb AS src, pa AS dst FROM cp
),
deg AS (
    SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
    FROM edges GROUP BY src
),
pairs AS (
    SELECT ds.d AS x, dd.d AS y
    FROM edges e
    JOIN deg ds ON ds.node = e.src
    JOIN deg dd ON dd.node = e.dst
),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS m,
           CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * x) AS BIGINT) AS sxx,
           CAST(SUM(y * y) AS BIGINT) AS syy,
           CAST(SUM(x * y) AS BIGINT) AS sxy
    FROM pairs
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg)
SELECT s.m AS m_edges, nn.n_nodes,
       ROUND((CAST(s.m AS DOUBLE) * s.sxy - CAST(s.sx AS DOUBLE) * s.sy)
             / (SQRT(CAST(s.m AS DOUBLE) * s.sxx
                     - CAST(s.sx AS DOUBLE) * s.sx)
                * SQRT(CAST(s.m AS DOUBLE) * s.syy
                       - CAST(s.sy AS DOUBLE) * s.sy)), 4)
           AS assortativity
FROM s CROSS JOIN nn
""",
    tags=("graph", "A12", "J15"),
)
def q346_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph:
    (m_edges, n_nodes, assortativity)."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("pb"))
    cp = (
        a.join(b, "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("_w"))
        .select("pa", "pb")
    )
    edges = cp.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionByName(
        cp.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    pairs = (
        edges.join(
            deg.select(F.col("node").alias("src"), F.col("d").alias("x")),
            "src",
        )
        .join(
            deg.select(F.col("node").alias("dst"), F.col("d").alias("y")),
            "dst",
        )
        .select("x", "y")
    )
    s = pairs.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nn = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    r = (
        F.col("m").cast("double") * F.col("sxy")
        - F.col("sx").cast("double") * F.col("sy")
    ) / (
        F.sqrt(
            F.col("m").cast("double") * F.col("sxx")
            - F.col("sx").cast("double") * F.col("sx")
        )
        * F.sqrt(
            F.col("m").cast("double") * F.col("syy")
            - F.col("sy").cast("double") * F.col("sy")
        )
    )
    return s.crossJoin(F.broadcast(nn)).select(
        F.col("m").alias("m_edges"),
        "n_nodes",
        F.round(r, 4).alias("assortativity"),
    )


# --------------------------------------------------------------------------
# q347 — TextRank keyword extraction: undirected token co-occurrence
# graph (adjacent-token pairs over English documents, tokens ≥ 4 chars),
# damped weighted power iteration r' = 0.15·10⁶ + 0.85·Σ w·r/wdeg
# unrolled to 4 fixed rounds, top-20 tokens by final score.
# Parity: scores live as micro-ints; each edge contribution is frozen to
# round(r·w/wdeg) BEFORE the neighbour sum, so every iterate is exact
# integer math and both engines walk bit-identical score vectors (the
# q82 pagerank freezing discipline); final score surfaces as score/10⁶
# at 4dp. Tie-break by token.
# Scale: adjacency is a narrow zip over token arrays (no self-join on
# docs); iterations are fixed-count keyed joins on the token graph —
# shuffle on uniform token keys; top-20 is TakeOrderedAndProject.
# --------------------------------------------------------------------------
_TR_ITERS = 4
_TR_TOPK = 20


def _textrank_ctes(iters: int) -> str:
    """Unrolled DuckDB CTE chain r0..r{iters} over the `gr` edge list."""
    parts = [
        "r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes)"
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""r{i} AS (
    SELECT g.dst AS node,
           CAST(ROUND(150000.0 + 0.85 * SUM(
               CAST(ROUND(CAST(p.r AS DOUBLE) * g.w / g.wdeg) AS BIGINT)
           )) AS BIGINT) AS r
    FROM gr g JOIN r{i - 1} p ON p.node = g.src
    GROUP BY g.dst
)"""
        )
    return ",\n".join(parts)


@register(
    "q347_textrank_keywords",
    oracle=f"""
WITH toks AS (
    SELECT doc_id,
           UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS tok,
           GENERATE_SUBSCRIPTS(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> ''), 1) AS i
    FROM documents WHERE lang = 'en'
),
adj AS (
    SELECT a.tok AS ta, b.tok AS tb
    FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
    WHERE LENGTH(a.tok) >= 4 AND LENGTH(b.tok) >= 4 AND a.tok <> b.tok
),
und AS (
    SELECT LEAST(ta, tb) AS u, GREATEST(ta, tb) AS v,
           CAST(COUNT(*) AS BIGINT) AS w
    FROM adj GROUP BY 1, 2
),
gr0 AS (
    SELECT u AS src, v AS dst, w FROM und
    UNION ALL
    SELECT v AS src, u AS dst, w FROM und
),
wdeg AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wdeg FROM gr0 GROUP BY src),
gr AS (
    SELECT g.src, g.dst, g.w, d.wdeg
    FROM gr0 g JOIN wdeg d ON d.src = g.src
),
nodes AS (SELECT src AS node FROM wdeg),
{_textrank_ctes(_TR_ITERS)}
SELECT node AS token, ROUND(r / 1000000.0, 4) AS score,
       CAST(ROW_NUMBER() OVER (ORDER BY r DESC, node ASC) AS BIGINT) AS rk
FROM r{_TR_ITERS}
ORDER BY rk LIMIT {_TR_TOPK}
""",
    tags=("text-analysis", "graph", "O6"),
)
def q347_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 TextRank keywords over the English corpus:
    (token, score, rk) — 4 frozen-integer damped iterations."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang") == "en"
    )
    toks = docs.select(
        "doc_id", text_analysis.tokens_raw(F.col("text")).alias("ts")
    ).filter(F.size("ts") >= 2)
    adj = (
        toks.select(
            F.explode(
                F.arrays_zip(
                    F.slice("ts", 1, F.size("ts") - 1),
                    F.slice("ts", 2, F.size("ts") - 1),
                )
            ).alias("_bg")
        )
        .select(F.col("_bg.0").alias("ta"), F.col("_bg.1").alias("tb"))
        .filter(
            (F.length("ta") >= 4)
            & (F.length("tb") >= 4)
            & (F.col("ta") != F.col("tb"))
        )
    )
    und = adj.groupBy(
        F.least("ta", "tb").alias("u"), F.greatest("ta", "tb").alias("v")
    ).agg(F.count(F.lit(1)).alias("w"))
    gr0 = und.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), "w"
    ).unionByName(
        und.select(F.col("v").alias("src"), F.col("u").alias("dst"), "w")
    )
    wdeg = gr0.groupBy("src").agg(F.sum("w").alias("wdeg"))
    gr = gr0.join(wdeg, "src")
    from ..caching import persist_tracked

    gr = persist_tracked(gr)
    r = wdeg.select(
        F.col("src").alias("node"), F.lit(1000000).cast("long").alias("r")
    )
    for _ in range(_TR_ITERS):
        contrib = gr.join(
            r.withColumnRenamed("node", "src"), "src"
        ).select(
            F.col("dst").alias("node"),
            F.round(
                F.col("r").cast("double") * F.col("w") / F.col("wdeg")
            )
            .cast("long")
            .alias("c"),
        )
        r = contrib.groupBy("node").agg(
            F.round(150000.0 + 0.85 * F.sum("c")).cast("long").alias("r")
        )
    # top-k FIRST (TakeOrderedAndProject — no vocab-wide single-partition
    # shuffle), then rank the 20 survivors with a bounded global window.
    top = r.orderBy(F.desc("r"), F.asc("node")).limit(_TR_TOPK)
    return top.select(
        F.col("node").alias("token"),
        F.round(F.col("r") / 1000000.0, 4).alias("score"),
        F.row_number()
        .over(Window.orderBy(F.desc("r"), F.asc("node")))
        .cast("long")
        .alias("rk"),
    ).orderBy("rk")


# --------------------------------------------------------------------------
# q357 — decision-stump feature screen: for every embedding dimension,
# split the corpus at that dimension's median and score the split by
# weighted Gini impurity over the 10 labels; rank dimensions (lowest
# impurity = most label-separating single feature). The univariate
# feature-importance scan run before committing features to a model —
# the supervised companion to q199's unsupervised feature stats.
# Parity: values are frozen to micro-ints; the median of micro-ints is
# an exact multiple of 0.5 on both engines (linear interpolation over
# integers), and no micro-int ever equals it, so the split is knife-edge
# free; per-side per-label counts are exact integers and weighted Gini
# reduces to (n_l − Σc n_lc²/n_l + n_r − Σc n_rc²/n_r)/n — one double
# expression of integer sums. 4dp.
# Scale: posexplode is the constant d=64 narrow expansion; medians are
# one (dim) aggregate; split counts are one (dim, side, label) keyed
# aggregate (map-side combinable); ranking runs on 64 rows.
# --------------------------------------------------------------------------
_STUMP_TOPK = 10


@register(
    "q357_gini_stump_scan",
    oracle=f"""
WITH flat AS (
    SELECT vec_id, label, GENERATE_SUBSCRIPTS(embedding, 1) AS dim,
           CAST(ROUND(1000000.0 * UNNEST(embedding)) AS BIGINT) AS v
    FROM embeddings
),
med AS (
    SELECT dim, QUANTILE_CONT(CAST(v AS DOUBLE), 0.5) AS thr
    FROM flat GROUP BY dim
),
sided AS (
    SELECT f.dim, f.label,
           CASE WHEN f.v <= m.thr THEN 0 ELSE 1 END AS side
    FROM flat f JOIN med m ON m.dim = f.dim
),
cells AS (
    SELECT dim, side, label, CAST(COUNT(*) AS BIGINT) AS c
    FROM sided GROUP BY dim, side, label
),
sides AS (
    SELECT dim, side, CAST(SUM(c) AS BIGINT) AS ns,
           CAST(SUM(c * c) AS BIGINT) AS sc2
    FROM cells GROUP BY dim, side
),
gini AS (
    SELECT dim,
           CAST(SUM(ns) AS BIGINT) AS n,
           SUM(ns - CAST(sc2 AS DOUBLE) / ns) AS impur_num
    FROM sides GROUP BY dim
),
ranked AS (
    SELECT CAST(dim AS BIGINT) AS dim, n,
           ROUND(impur_num / n, 4) AS gini_split,
           ROW_NUMBER() OVER (ORDER BY ROUND(impur_num / n, 4) ASC,
                              dim ASC) AS rk
    FROM gini
)
SELECT dim, gini_split, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {_STUMP_TOPK}
ORDER BY rk
""",
    tags=("ml-prep", "A12", "O6"),
)
def q357_gini_stump_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 label-separating embedding dimensions by median-split
    weighted Gini impurity: (dim, gini_split, rk)."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "label", F.posexplode("embedding").alias("dim0", "raw")
    ).select(
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.round(1000000.0 * F.col("raw")).cast("long").alias("v"),
    )
    med = flat.groupBy("dim").agg(
        F.expr("percentile(CAST(v AS DOUBLE), 0.5)").alias("thr")
    )
    sided = flat.join(F.broadcast(med), "dim").select(
        "dim",
        "label",
        F.when(F.col("v") <= F.col("thr"), F.lit(0))
        .otherwise(F.lit(1))
        .alias("side"),
    )
    cells = sided.groupBy("dim", "side", "label").agg(
        F.count(F.lit(1)).alias("c")
    )
    sides = cells.groupBy("dim", "side").agg(
        F.sum("c").alias("ns"),
        F.sum(F.col("c") * F.col("c")).alias("sc2"),
    )
    gini = sides.groupBy("dim").agg(
        F.sum("ns").alias("n"),
        F.sum(
            F.col("ns") - F.col("sc2").cast("double") / F.col("ns")
        ).alias("impur_num"),
    )
    scored = gini.select(
        F.col("dim").cast("long").alias("dim"),
        F.round(F.col("impur_num") / F.col("n"), 4).alias("gini_split"),
    )
    # 64-row relation: top-k via sort+limit, then a bounded rank window
    top = scored.orderBy(F.asc("gini_split"), F.asc("dim")).limit(
        _STUMP_TOPK
    )
    return top.select(
        "dim",
        "gini_split",
        F.row_number()
        .over(Window.orderBy(F.asc("gini_split"), F.asc("dim")))
        .cast("long")
        .alias("rk"),
    ).orderBy("rk")


# --------------------------------------------------------------------------
# q316 - exact average precision (area under the precision-recall curve,
# step-wise, sklearn's average_precision definition) of `value` ranking
# purchases: AP = sum_i (R_i - R_{i-1}) * P_i over distinct score
# thresholds descending = (1/P) * sum_v p_v * cumpos_v / cumall_v.
# The PR-curve companion to q283's ROC-AUC — the metric that matters when
# positives are rare (class-imbalanced quality classifiers).
# Parity: scores frozen to round(1e4*value); p_v, cumpos_v, cumall_v are
# exact integers; each threshold's term is an identical double expression
# frozen to round(1e6 * term) before the cross-threshold sum; 4dp.
# Scale: one keyed aggregate to the score domain, one domain window
# (descending), one 1-row aggregate.
# --------------------------------------------------------------------------
@register(
    "q316_average_precision",
    oracle="""
WITH scored AS (
    SELECT CAST(ROUND(10000.0 * value) AS BIGINT) AS v,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
    FROM events
),
g AS (
    SELECT v, CAST(SUM(pos) AS BIGINT) AS p, CAST(COUNT(*) AS BIGINT) AS c
    FROM scored GROUP BY v
),
cum AS (
    SELECT v, p,
           CAST(SUM(p) OVER (ORDER BY v DESC ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cumpos,
           CAST(SUM(c) OVER (ORDER BY v DESC ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cumall
    FROM g
),
s AS (
    SELECT CAST(SUM(CAST(ROUND(1000000.0 * (CAST(p AS DOUBLE) * cumpos
                                            / cumall)) AS BIGINT))
                AS BIGINT) AS num,
           CAST(SUM(p) AS BIGINT) AS n_pos,
           CAST(MAX(cumall) AS BIGINT) AS n
    FROM cum
)
SELECT n, n_pos,
       ROUND(CAST(n_pos AS DOUBLE) / n, 4) AS prevalence,
       ROUND(CAST(num AS DOUBLE) / 1000000.0 / n_pos, 4) AS avg_precision
FROM s
""",
    tags=("ml-eval", "A12", "W4"),
)
def q316_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Step-exact average precision of `value` ranking purchases:
    (n, n_pos, prevalence, avg_precision)."""
    events = load_table(spark, sf_dir, "events")
    scored = events.select(
        F.round(10000.0 * F.col("value")).cast("long").alias("v"),
        (F.col("event_type") == "purchase").cast("long").alias("pos"),
    )
    g = scored.groupBy("v").agg(
        F.sum("pos").alias("p"), F.count(F.lit(1)).alias("c")
    )
    w = Window.orderBy(F.desc("v")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = g.select(
        "p",
        F.sum("p").over(w).alias("cumpos"),
        F.sum("c").over(w).alias("cumall"),
    )
    s = cum.agg(
        F.sum(
            F.round(
                1000000.0
                * (
                    F.col("p").cast("double")
                    * F.col("cumpos")
                    / F.col("cumall")
                )
            ).cast("long")
        ).alias("num"),
        F.sum("p").alias("n_pos"),
        F.max("cumall").alias("n"),
    )
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.round(F.col("n_pos").cast("double") / F.col("n"), 4).alias(
            "prevalence"
        ),
        F.round(
            F.col("num").cast("double") / 1000000.0 / F.col("n_pos"), 4
        ).alias("avg_precision"),
    )


# --------------------------------------------------------------------------
# q317 - McNemar's paired test: do two rule-based is-English classifiers
# disagree more than chance on the SAME documents? Classifier A: the
# token 'the' appears in the text; classifier B: mean token length < 5.5
# chars. Ground truth: lang = 'en'. The paired design uses only the
# discordant counts b (A right, B wrong) and c (B right, A wrong):
# chi2_cc = (|b - c| - 1)^2 / (b + c), the continuity-corrected form —
# the right test for "is the new heuristic actually better on the same
# eval set", where two independent accuracy CIs (q175-style) are wrong.
# Parity: predictions are deterministic string algebra; all four
# concordance counts are exact integers from one conditional aggregate;
# chi2 is one double expression, 4dp; b + c = 0 yields chi2 = 0.0 via an
# identical CASE on both sides.
# Scale: one full-table conditional aggregate with map-side partials;
# zero joins, zero windows, 1 output row.
# --------------------------------------------------------------------------
@register(
    "q317_mcnemar",
    oracle="""
WITH preds AS (
    SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
           CASE WHEN ' ' || LOWER(text) || ' ' LIKE '% the %'
                THEN 1 ELSE 0 END AS pa,
           CASE WHEN CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
                     / LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                                       t -> t <> '')) < 5.5
                THEN 1 ELSE 0 END AS pb
    FROM documents
),
cc AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN pa = y AND pb = y THEN 1 ELSE 0 END)
                AS BIGINT) AS both_right,
           CAST(SUM(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END)
                AS BIGINT) AS b,
           CAST(SUM(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END)
                AS BIGINT) AS c,
           CAST(SUM(CASE WHEN pa <> y AND pb <> y THEN 1 ELSE 0 END)
                AS BIGINT) AS both_wrong,
           CAST(SUM(CASE WHEN pa = y THEN 1 ELSE 0 END) AS BIGINT) AS a_right,
           CAST(SUM(CASE WHEN pb = y THEN 1 ELSE 0 END) AS BIGINT) AS b_right
    FROM preds
)
SELECT n, both_right, b, c, both_wrong,
       ROUND(CAST(a_right AS DOUBLE) / n, 4) AS acc_a,
       ROUND(CAST(b_right AS DOUBLE) / n, 4) AS acc_b,
       CASE WHEN b + c = 0 THEN 0.0
            ELSE ROUND((ABS(CAST(b AS DOUBLE) - c) - 1)
                       * (ABS(CAST(b AS DOUBLE) - c) - 1) / (b + c), 4)
       END AS chi2_cc
FROM cc
""",
    tags=("ml-eval", "A12", "P12"),
)
def q317_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar continuity-corrected chi-square for two paired is-English
    heuristics: (n, both_right, b, c, both_wrong, acc_a, acc_b, chi2_cc)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = text_analysis.tokens_raw("text")
    preds = docs.select(
        (F.col("lang") == "en").cast("int").alias("y"),
        F.concat(F.lit(" "), F.lower("text"), F.lit(" "))
        .contains(" the ")
        .cast("int")
        .alias("pa"),
        (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
            .cast("double")
            / F.size(toks)
            < 5.5
        )
        .cast("int")
        .alias("pb"),
    )
    cc = preds.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            ((F.col("pa") == F.col("y")) & (F.col("pb") == F.col("y"))).cast(
                "long"
            )
        ).alias("both_right"),
        F.sum(
            ((F.col("pa") == F.col("y")) & (F.col("pb") != F.col("y"))).cast(
                "long"
            )
        ).alias("b"),
        F.sum(
            ((F.col("pa") != F.col("y")) & (F.col("pb") == F.col("y"))).cast(
                "long"
            )
        ).alias("c"),
        F.sum(
            ((F.col("pa") != F.col("y")) & (F.col("pb") != F.col("y"))).cast(
                "long"
            )
        ).alias("both_wrong"),
        F.sum((F.col("pa") == F.col("y")).cast("long")).alias("a_right"),
        F.sum((F.col("pb") == F.col("y")).cast("long")).alias("b_right"),
    )
    bd = F.col("b").cast("double")
    chi2 = F.when(F.col("b") + F.col("c") == 0, F.lit(0.0)).otherwise(
        F.round(
            (F.abs(bd - F.col("c")) - 1)
            * (F.abs(bd - F.col("c")) - 1)
            / (F.col("b") + F.col("c")),
            4,
        )
    )
    return cc.select(
        F.col("n").cast("long").alias("n"),
        F.col("both_right").cast("long").alias("both_right"),
        F.col("b").cast("long").alias("b"),
        F.col("c").cast("long").alias("c"),
        F.col("both_wrong").cast("long").alias("both_wrong"),
        F.round(F.col("a_right").cast("double") / F.col("n"), 4).alias(
            "acc_a"
        ),
        F.round(F.col("b_right").cast("double") / F.col("n"), 4).alias(
            "acc_b"
        ),
        chi2.alias("chi2_cc"),
    )


# --------------------------------------------------------------------------
# q319 - isotonic calibration curve (pool-adjacent-violators) of `value`
# as a purchase-probability score, on 20 equal-width score bins: the
# monotone-nondecreasing fit via the exact minimax identity
#   iso_k = max_{i<=k} min_{j>=k} (pos_{i..j}) / (n_{i..j}),
# computed relationally from bin prefix sums (no sequential PAVA loop).
# The calibrated-probability companion to q249's ECE: q249 measures
# miscalibration, this produces the monotone recalibration map itself.
# Parity: bin edges from exact integer min/max; pooled rates are
# identical double divisions of exact integer prefix differences; the
# minimax is over identical values on both engines; 4dp.
# Scale: corpus collapses to <= 20 bin rows in one keyed aggregate (plus
# a 1-row min/max broadcast); the O(bins^3) minimax expansion is algebra
# over a bounded relation that never touches the corpus again.
# --------------------------------------------------------------------------
_ISO_BINS = 20


@register(
    "q319_isotonic_calibration",
    oracle=f"""
WITH scored AS (
    SELECT CAST(ROUND(100.0 * value) AS BIGINT) AS v,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
    FROM events
),
mm AS (
    SELECT MIN(v) AS vmin, MAX(v) AS vmax FROM scored
),
binned AS (
    SELECT CAST(((s.v - m.vmin) * {_ISO_BINS})
                // (m.vmax - m.vmin + 1) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(s.pos) AS BIGINT) AS pos
    FROM scored s CROSS JOIN mm m
    GROUP BY 1
),
idx AS (
    SELECT bin, n, pos,
           CAST(SUM(n) OVER w AS BIGINT) AS cn,
           CAST(SUM(pos) OVER w AS BIGINT) AS cp
    FROM binned
    WINDOW w AS (ORDER BY bin ROWS UNBOUNDED PRECEDING)
),
pairs AS (
    SELECT i.bin AS i, j.bin AS j,
           CAST(j.cp - i.cp + i.pos AS DOUBLE)
               / (j.cn - i.cn + i.n) AS ratio
    FROM idx i JOIN idx j ON i.bin <= j.bin
),
mins AS (
    SELECT p.i, k.bin AS k, MIN(p.ratio) AS lo
    FROM pairs p JOIN idx k ON p.i <= k.bin AND k.bin <= p.j
    GROUP BY p.i, k.bin
),
iso AS (
    SELECT k, MAX(lo) AS iso_rate FROM mins GROUP BY k
)
SELECT b.bin, b.n, b.pos,
       ROUND(CAST(b.pos AS DOUBLE) / b.n, 4) AS raw_rate,
       ROUND(i.iso_rate, 4) AS iso_rate
FROM binned b JOIN iso i ON i.k = b.bin
ORDER BY b.bin
""",
    tags=("ml-eval", "A12", "W2"),
)
def q319_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAVA isotonic calibration of value->purchase on 20 score bins:
    (bin, n, pos, raw_rate, iso_rate)."""
    events = load_table(spark, sf_dir, "events")
    scored = events.select(
        F.round(100.0 * F.col("value")).cast("long").alias("v"),
        (F.col("event_type") == "purchase").cast("long").alias("pos"),
    )
    mm = scored.agg(
        F.min("v").alias("vmin"), F.max("v").alias("vmax")
    )
    binned = (
        scored.crossJoin(F.broadcast(mm))
        .groupBy(
            F.expr(
                f"CAST(((v - vmin) * {_ISO_BINS})"
                " div (vmax - vmin + 1) AS BIGINT)"
            ).alias("bin")
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("pos").alias("pos"))
    )
    w = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    idx = binned.select(
        "bin",
        "n",
        "pos",
        F.sum("n").over(w).alias("cn"),
        F.sum("pos").over(w).alias("cp"),
    )
    i = idx.select(
        F.col("bin").alias("i"),
        F.col("n").alias("ni"),
        F.col("pos").alias("pi"),
        F.col("cn").alias("cni"),
        F.col("cp").alias("cpi"),
    )
    j = idx.select(
        F.col("bin").alias("j"),
        F.col("cn").alias("cnj"),
        F.col("cp").alias("cpj"),
    )
    pairs = i.join(j, F.col("i") <= F.col("j")).select(
        "i",
        "j",
        (
            (F.col("cpj") - F.col("cpi") + F.col("pi")).cast("double")
            / (F.col("cnj") - F.col("cni") + F.col("ni"))
        ).alias("ratio"),
    )
    k = idx.select(F.col("bin").alias("k"))
    mins = (
        pairs.join(
            k, (F.col("i") <= F.col("k")) & (F.col("k") <= F.col("j"))
        )
        .groupBy("i", "k")
        .agg(F.min("ratio").alias("lo"))
    )
    iso = mins.groupBy("k").agg(F.max("lo").alias("iso_rate"))
    return (
        binned.join(iso, binned["bin"] == iso["k"])
        .select(
            "bin",
            F.col("n").cast("long").alias("n"),
            F.col("pos").cast("long").alias("pos"),
            F.round(F.col("pos").cast("double") / F.col("n"), 4).alias(
                "raw_rate"
            ),
            F.round(F.col("iso_rate"), 4).alias("iso_rate"),
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# q324 - Krippendorff's alpha (nominal, binary) for three rule-based
# is-English raters with MISSING ratings: rater A (has-'the') rates every
# document, rater B (short mean token) abstains below 150 chars, rater C
# (short-word fraction) abstains below 30 tokens. The chance-corrected
# agreement coefficient that q280's kappa cannot give once raters abstain
# (kappa needs a complete 2-rater grid); units with < 2 ratings drop out,
# exactly per the coincidence-matrix definition:
#   alpha = 1 - (n-1) * q01 / (2 * nc1 * nc0)
# with q01 = sum_u 2*n1u*n0u/(m_u - 1), o_cc = sum_u n_cu(n_cu-1)/(m_u-1),
# nc = o_cc + q01/2, n = total pairable ratings.
# Parity: with m_u <= 3 every coincidence term is an exact integer (the
# /(m_u-1) divisions cancel), so alpha is ONE double division; 4dp.
# Scale: one narrow per-document projection + one 1-row conditional
# aggregate with map-side partials; no joins, no windows.
# --------------------------------------------------------------------------
@register(
    "q324_krippendorff_alpha",
    oracle="""
WITH rated AS (
    SELECT CASE WHEN ' ' || LOWER(text) || ' ' LIKE '% the %'
                THEN 1 ELSE 0 END AS ra,
           CASE WHEN n_chars >= 150 THEN
                CASE WHEN CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
                          / LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                                            t -> t <> '')) < 5.5
                     THEN 1 ELSE 0 END
           END AS rb,
           CASE WHEN LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                                     t -> t <> '')) >= 30 THEN
                CASE WHEN CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                                   t -> t <> '' AND LENGTH(t) <= 2))
                               AS DOUBLE)
                          / LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                                            t -> t <> '')) >= 0.15
                     THEN 1 ELSE 0 END
           END AS rc
    FROM documents
),
units AS (
    SELECT (ra IS NOT NULL)::INT + (rb IS NOT NULL)::INT
               + (rc IS NOT NULL)::INT AS m,
           COALESCE(ra, 0) + COALESCE(rb, 0) + COALESCE(rc, 0) AS n1
    FROM rated
),
coin AS (
    SELECT CAST(SUM(m) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_units,
           CAST(SUM(2 * n1 * (m - n1) / (m - 1)) AS BIGINT) AS q01,
           CAST(SUM(n1 * (n1 - 1) / (m - 1)) AS BIGINT) AS o11,
           CAST(SUM((m - n1) * (m - n1 - 1) / (m - 1)) AS BIGINT) AS o00
    FROM units WHERE m >= 2
)
SELECT n_units, n, o11, o00, q01,
       ROUND(1.0 - CAST(n - 1 AS DOUBLE) * q01
             / (2.0 * (o11 + q01 / 2) * (o00 + q01 / 2)), 4) AS alpha
FROM coin
""",
    tags=("ml-eval", "A12", "P12"),
)
def q324_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha over three partially-abstaining raters:
    (n_units, n, o11, o00, q01, alpha)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = text_analysis.tokens_raw("text")
    short = F.filter(
        F.split("text", " "), lambda t: (t != "") & (F.length(t) <= 2)
    )
    ra = (
        F.concat(F.lit(" "), F.lower("text"), F.lit(" "))
        .contains(" the ")
        .cast("int")
    )
    rb = F.when(
        F.col("n_chars") >= 150,
        (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
            .cast("double")
            / F.size(toks)
            < 5.5
        ).cast("int"),
    )
    rc = F.when(
        F.size(toks) >= 30,
        (F.size(short).cast("double") / F.size(toks) >= 0.15).cast("int"),
    )
    units = docs.select(
        (
            ra.isNotNull().cast("int")
            + rb.isNotNull().cast("int")
            + rc.isNotNull().cast("int")
        ).alias("m"),
        (
            F.coalesce(ra, F.lit(0))
            + F.coalesce(rb, F.lit(0))
            + F.coalesce(rc, F.lit(0))
        ).alias("n1"),
    ).filter(F.col("m") >= 2)
    coin = units.agg(
        F.sum("m").alias("n"),
        F.count(F.lit(1)).alias("n_units"),
        F.sum(
            F.expr("2 * n1 * (m - n1) div (m - 1)")
        ).alias("q01"),
        F.sum(F.expr("n1 * (n1 - 1) div (m - 1)")).alias("o11"),
        F.sum(
            F.expr("(m - n1) * (m - n1 - 1) div (m - 1)")
        ).alias("o00"),
    )
    return coin.select(
        F.col("n_units").cast("long").alias("n_units"),
        F.col("n").cast("long").alias("n"),
        F.col("o11").cast("long").alias("o11"),
        F.col("o00").cast("long").alias("o00"),
        F.col("q01").cast("long").alias("q01"),
        F.round(
            1.0
            - (F.col("n") - 1).cast("double")
            * F.col("q01")
            / (
                2.0
                * (F.col("o11") + F.col("q01") / 2)
                * (F.col("o00") + F.col("q01") / 2)
            ),
            4,
        ).alias("alpha"),
    )


# --------------------------------------------------------------------------
# q331 - weekly top-k churn: the overlap (set Jaccard) between each
# week's top-20 parts by shipped quantity and the previous week's — the
# "how fast does the head of the distribution rotate" ops metric that
# distribution-level drift (q156 KL, q302 PSI) hides: two weeks can have
# identical histograms with a fully-rotated top set.
# Parity: weekly quantity sums are exact integer cents; the top-20 rank
# is deterministic (qty DESC, partkey ASC); overlap/Jaccard are exact
# integers per consecutive-week pair, 4dp on the final ratio.
# Scale: one keyed (week, part) aggregate; per-week top-20 via a
# partitioned rank window (WindowGroupLimit pushdown); the week-to-week
# self-join carries 20 rows per week. Calendar-bounded tail.
# --------------------------------------------------------------------------
@register(
    "q331_topk_churn",
    oracle="""
WITH wk AS (
    SELECT DATE_TRUNC('week', CAST(l_shipdate AS TIMESTAMP)) AS week,
           l_partkey,
           CAST(SUM(CAST(ROUND(100.0 * l_quantity) AS BIGINT)) AS BIGINT)
               AS qty
    FROM lineitem GROUP BY 1, 2
),
ranked AS (
    SELECT week, l_partkey,
           ROW_NUMBER() OVER (PARTITION BY week
                              ORDER BY qty DESC, l_partkey) AS rk
    FROM wk
),
top AS (SELECT week, l_partkey FROM ranked WHERE rk <= 20),
weeks AS (
    SELECT week, LAG(week) OVER (ORDER BY week) AS prev_week
    FROM (SELECT DISTINCT week FROM top)
),
ov AS (
    SELECT w.week, w.prev_week, CAST(COUNT(*) AS BIGINT) AS overlap
    FROM weeks w
    JOIN top a ON a.week = w.week
    JOIN top b ON b.week = w.prev_week AND b.l_partkey = a.l_partkey
    GROUP BY w.week, w.prev_week
),
sizes AS (SELECT week, CAST(COUNT(*) AS BIGINT) AS sz FROM top GROUP BY week)
SELECT w.week, COALESCE(o.overlap, 0) AS overlap,
       ROUND(CAST(COALESCE(o.overlap, 0) AS DOUBLE)
             / (sa.sz + sb.sz - COALESCE(o.overlap, 0)), 4) AS jaccard
FROM weeks w
JOIN sizes sa ON sa.week = w.week
JOIN sizes sb ON sb.week = w.prev_week
LEFT JOIN ov o ON o.week = w.week
WHERE w.prev_week IS NOT NULL
ORDER BY w.week
""",
    tags=("ops-drift", "O6", "W2"),
)
def q331_topk_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week top-20 part churn: (week, overlap, jaccard)."""
    li = load_table(spark, sf_dir, "lineitem")
    wk = li.groupBy(
        F.date_trunc("week", "l_shipdate").alias("week"),
        "l_partkey",
    ).agg(
        F.sum(F.round(100.0 * F.col("l_quantity")).cast("long")).alias("qty")
    )
    rw = Window.partitionBy("week").orderBy(
        F.desc("qty"), F.asc("l_partkey")
    )
    top = (
        wk.select("week", "l_partkey", F.row_number().over(rw).alias("rk"))
        .filter(F.col("rk") <= 20)
        .select("week", "l_partkey")
    )
    weeks = (
        top.select("week")
        .distinct()
        .select(
            "week", F.lag("week").over(Window.orderBy("week")).alias("prev_week")
        )
    )
    ov = (
        weeks.join(top.alias("a"), "week")
        .join(
            top.alias("b").select(
                F.col("week").alias("prev_week"),
                F.col("l_partkey").alias("pk_b"),
            ),
            ["prev_week"],
        )
        .filter(F.col("l_partkey") == F.col("pk_b"))
        .groupBy("week", "prev_week")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    sizes = top.groupBy("week").agg(F.count(F.lit(1)).alias("sz"))
    return (
        weeks.filter(F.col("prev_week").isNotNull())
        .join(sizes.select(F.col("week"), F.col("sz").alias("sza")), "week")
        .join(
            sizes.select(
                F.col("week").alias("prev_week"), F.col("sz").alias("szb")
            ),
            "prev_week",
        )
        .join(ov, ["week", "prev_week"], "left")
        .select(
            "week",
            F.coalesce("overlap", F.lit(0)).cast("long").alias("overlap"),
            F.round(
                F.coalesce("overlap", F.lit(0)).cast("double")
                / (
                    F.col("sza")
                    + F.col("szb")
                    - F.coalesce("overlap", F.lit(0))
                ),
                4,
            ).alias("jaccard"),
        )
        .orderBy("week")
    )


# --------------------------------------------------------------------------
# q335 - simplified silhouette of the label clustering over the
# embeddings table: a_i = euclidean distance to the OWN label centroid,
# b_i = distance to the nearest OTHER centroid, s_i = (b-a)/max(a,b);
# reported as the per-label mean — the cluster-quality score that reads
# q147/q202's geometry as one number per class (near 1 = compact and
# separated, near 0 = overlapping, negative = misassigned).
# Parity: embedding values are frozen to round(1e6*val) + 1e6 (the
# offset keeps every working value positive so DuckDB's floor `//` and
# Spark's truncating `div` agree on the centroid mean; the offset cancels
# in every distance); centroids are exact integer means; squared
# distances are exact integers; s_i is one double expression frozen to
# round(1e6*s) before the per-label mean; 4dp.
# Scale: posexplode is a narrow constant-factor (d=64) expansion;
# centroids are one (label, dim) keyed aggregate broadcast back (k*d
# rows); per-point work is O(k*d) with no shuffle beyond the final
# per-label reduce.
# --------------------------------------------------------------------------
@register(
    "q335_silhouette",
    oracle="""
WITH pts AS (
    SELECT vec_id, label, GENERATE_SUBSCRIPTS(embedding, 1) AS dim,
           CAST(ROUND(1000000.0 * UNNEST(embedding)) AS BIGINT) + 1000000
               AS v
    FROM embeddings
),
cent AS (
    SELECT label AS clabel, dim,
           CAST(SUM(v) // COUNT(*) AS BIGINT) AS c
    FROM pts GROUP BY label, dim
),
d2 AS (
    SELECT p.vec_id, p.label, c.clabel,
           CAST(SUM((p.v - c.c) * (p.v - c.c)) AS BIGINT) AS dd
    FROM pts p JOIN cent c ON c.dim = p.dim
    GROUP BY p.vec_id, p.label, c.clabel
),
ab AS (
    SELECT vec_id, label,
           CAST(MAX(CASE WHEN clabel = label THEN dd END) AS BIGINT) AS a2,
           CAST(MIN(CASE WHEN clabel <> label THEN dd END) AS BIGINT) AS b2
    FROM d2 GROUP BY vec_id, label
),
s AS (
    SELECT label,
           CAST(ROUND(1000000.0 * ((SQRT(CAST(b2 AS DOUBLE)) - SQRT(CAST(a2 AS DOUBLE)))
                 / GREATEST(SQRT(CAST(a2 AS DOUBLE)), SQRT(CAST(b2 AS DOUBLE)))))
               AS BIGINT) AS si
    FROM ab
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(si) AS DOUBLE) / 1000000.0 / COUNT(*), 4)
           AS mean_silhouette
FROM s GROUP BY label
ORDER BY label
""",
    tags=("ml-eval", "similarity", "A12"),
)
def q335_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette per label cluster over embeddings:
    (label, n, mean_silhouette)."""
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim0", "raw"),
    ).select(
        "vec_id",
        "label",
        (F.col("dim0") + 1).alias("dim"),
        (F.round(1000000.0 * F.col("raw")).cast("long") + 1000000).alias(
            "v"
        ),
    )
    cent = pts.groupBy(F.col("label").alias("clabel"), "dim").agg(
        F.expr("sum(v) div count(*)").cast("long").alias("c")
    )
    d2 = (
        pts.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label", "clabel")
        .agg(
            F.sum(
                (F.col("v") - F.col("c")) * (F.col("v") - F.col("c"))
            ).alias("dd")
        )
    )
    ab = d2.groupBy("vec_id", "label").agg(
        F.max(
            F.when(F.col("clabel") == F.col("label"), F.col("dd"))
        ).alias("a2"),
        F.min(
            F.when(F.col("clabel") != F.col("label"), F.col("dd"))
        ).alias("b2"),
    )
    sa = F.sqrt(F.col("a2").cast("double"))
    sb = F.sqrt(F.col("b2").cast("double"))
    s = ab.select(
        "label",
        F.round(1000000.0 * ((sb - sa) / F.greatest(sa, sb)))
        .cast("long")
        .alias("si"),
    )
    return (
        s.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum("si").cast("double") / 1000000.0 / F.count(F.lit(1)),
                4,
            ).alias("mean_silhouette"),
        )
        .select(
            "label",
            F.col("n").cast("long").alias("n"),
            "mean_silhouette",
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# q408 - decision-threshold sweep: pick the value threshold that
# maximizes an expected-utility objective (utility = 2*TP - FP in
# frozen integer units, i.e. a true positive is worth twice a false
# alarm) for the "flag high-value purchases" detector, and report the
# winning operating point with its confusion counts. q283 integrates
# the whole curve into one AUC; q289 reads decile gains; this answers
# the deployment question - WHICH cutoff do we ship.
# Positive class = 'purchase' events; score = the event value.
# Parity: scores frozen to cents; TP/FP are cumulative integer counts
# over the distinct-score domain; the objective is an exact integer;
# the argmax tie-breaks on the lower threshold; precision/recall are
# single double ratios. 4dp.
# Scale: one keyed aggregate collapses the corpus to the score domain;
# the cumulative window runs over distinct scores (the q283 declared
# bounded-domain exception, lint-allowlisted); 1-row output.
# --------------------------------------------------------------------------
@register(
    "q408_threshold_sweep",
    oracle="""
WITH v AS (
    SELECT CAST(ROUND(100.0 * value) AS BIGINT) AS c,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
    FROM events
),
dom AS (
    SELECT c, CAST(SUM(pos) AS BIGINT) AS p,
           CAST(COUNT(*) - SUM(pos) AS BIGINT) AS n
    FROM v GROUP BY c
),
tot AS (SELECT CAST(SUM(p) AS BIGINT) AS tp_all,
               CAST(SUM(n) AS BIGINT) AS tn_all FROM dom),
cum AS (
    SELECT c,
           CAST(SUM(p) OVER (ORDER BY c DESC) AS BIGINT) AS tp,
           CAST(SUM(n) OVER (ORDER BY c DESC) AS BIGINT) AS fp
    FROM dom
),
scored AS (
    SELECT c, tp, fp, t.tp_all - tp AS fn, t.tn_all - fp AS tn,
           2 * tp - fp AS u2
    FROM cum CROSS JOIN tot t
),
best AS (
    SELECT *, ROW_NUMBER() OVER (ORDER BY u2 DESC, c ASC) AS rk
    FROM scored
)
SELECT ROUND(c / 100.0, 4) AS threshold, tp, fp, fn, tn,
       CAST(u2 AS BIGINT) AS utility_2x,
       ROUND(CAST(tp AS DOUBLE) / (tp + fp), 4) AS precision,
       ROUND(CAST(tp AS DOUBLE) / (tp + fn), 4) AS recall
FROM best WHERE rk = 1
""",
    tags=("eval", "decision", "W3"),
)
def q408_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Utility-optimal operating point: (threshold, tp, fp, fn, tn,
    utility_2x, precision, recall)."""
    events = load_table(spark, sf_dir, "events")
    v = events.select(
        F.round(100.0 * F.col("value")).cast("long").alias("c"),
        (F.col("event_type") == "purchase").cast("long").alias("pos"),
    )
    dom = v.groupBy("c").agg(
        F.sum("pos").cast("long").alias("p"),
        (F.count(F.lit(1)) - F.sum("pos")).cast("long").alias("n"),
    )
    tot = dom.agg(
        F.sum("p").cast("long").alias("tp_all"),
        F.sum("n").cast("long").alias("tn_all"),
    )
    wc = Window.orderBy(F.desc("c")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = dom.select(
        "c",
        F.sum("p").over(wc).cast("long").alias("tp"),
        F.sum("n").over(wc).cast("long").alias("fp"),
    )
    scored = cum.crossJoin(F.broadcast(tot)).select(
        "c",
        "tp",
        "fp",
        (F.col("tp_all") - F.col("tp")).alias("fn"),
        (F.col("tn_all") - F.col("fp")).alias("tn"),
        (2 * F.col("tp") - F.col("fp")).alias("u2"),
    )
    wb = Window.orderBy(F.desc("u2"), F.asc("c"))
    return (
        scored.withColumn("rk", F.row_number().over(wb))
        .filter(F.col("rk") == 1)
        .select(
            F.round(F.col("c") / 100.0, 4).alias("threshold"),
            "tp",
            "fp",
            "fn",
            "tn",
            F.col("u2").cast("long").alias("utility_2x"),
            F.round(
                F.col("tp").cast("double") / (F.col("tp") + F.col("fp")), 4
            ).alias("precision"),
            F.round(
                F.col("tp").cast("double") / (F.col("tp") + F.col("fn")), 4
            ).alias("recall"),
        )
    )


# --------------------------------------------------------------------------
# q448 - temperature-scaling calibration by grid search: standardise the
# event value into a logit, sweep T over {1/2, 1, 2, 4, 8}, and score
# sigmoid(z/T) against the purchase label with NLL and Brier - the
# post-hoc calibration step every deployed classifier gets (Guo et al.),
# fitted here the scale-correct way: a BOUNDED literal temperature grid
# and one corpus aggregate per sweep, no optimiser in the driver. The
# is_best flag marks the NLL argmin - the T the pipeline would ship.
# Parity: mean/std come from exact integer cent moments; per-row NLL
# and Brier terms are micro-rounded BIGINTs before summing (order-
# safe); temperatures are binary fractions so z/T is an exact scaling.
# p is clamped away from 0/1 at 1e-12 on both engines before the logs.
# Scale: one 1-row moment aggregate, a 5-row broadcast grid, one
# (T)-keyed corpus aggregate. No windows.
# --------------------------------------------------------------------------
@register(
    "q448_temperature_scaling",
    oracle="""
WITH v AS (
    SELECT CAST(ROUND(100.0 * value) AS BIGINT) AS c,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
    FROM events
),
m AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s1,
           CAST(SUM(c * c) AS BIGINT) AS s2
    FROM v
),
grid AS (SELECT * FROM (VALUES (0.5), (1.0), (2.0), (4.0), (8.0)) AS g(t)),
scored AS (
    SELECT g.t, v.y,
           1.0 / (1.0 + EXP(-((v.c - CAST(m.s1 AS DOUBLE) / m.n)
               / (SQRT(CAST(m.n AS DOUBLE) * m.s2
                       - CAST(m.s1 AS DOUBLE) * m.s1) / m.n)) / g.t)) AS p
    FROM v CROSS JOIN m CROSS JOIN grid g
),
clamped AS (
    SELECT t, y,
           CASE WHEN p < 0.000000000001 THEN 0.000000000001
                WHEN p > 0.999999999999 THEN 0.999999999999
                ELSE p END AS p
    FROM scored
),
terms AS (
    SELECT t,
           CAST(ROUND(-1000000.0 * (y * LN(p) + (1 - y) * LN(1.0 - p)))
                AS BIGINT) AS nll_u,
           CAST(ROUND(1000000.0 * (p - y) * (p - y)) AS BIGINT) AS bri_u
    FROM clamped
),
agg AS (
    SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(nll_u) AS BIGINT) AS nll_su,
           CAST(SUM(bri_u) AS BIGINT) AS bri_su
    FROM terms GROUP BY t
),
best AS (SELECT MIN(nll_su) AS b FROM agg)
SELECT ROUND(a.t, 4) AS temperature,
       ROUND(CAST(a.nll_su AS DOUBLE) / 1000000.0 / a.n, 4) AS nll,
       ROUND(CAST(a.bri_su AS DOUBLE) / 1000000.0 / a.n, 4) AS brier,
       CAST(CASE WHEN a.nll_su = best.b THEN 1 ELSE 0 END AS BIGINT) AS is_best
FROM agg a CROSS JOIN best ORDER BY a.t
""",
    tags=("eval", "calibration", "A12"),
)
def q448_temperature_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature grid calibration sweep: (temperature, nll, brier,
    is_best)."""
    events = load_table(spark, sf_dir, "events")
    v = events.select(
        F.round(100.0 * F.col("value")).cast("long").alias("c"),
        (F.col("event_type") == "purchase").cast("long").alias("y"),
    )
    m = v.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    grid = spark.createDataFrame(
        [(0.5,), (1.0,), (2.0,), (4.0,), (8.0,)], "t double"
    ).coalesce(1)
    z = (F.col("c") - F.col("s1").cast("double") / F.col("n")) / (
        F.sqrt(
            F.col("n").cast("double") * F.col("s2")
            - F.col("s1").cast("double") * F.col("s1")
        )
        / F.col("n")
    )
    p_raw = F.lit(1.0) / (F.lit(1.0) + F.exp(-(z / F.col("t"))))
    scored = (
        v.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(grid))
        .select("t", "y", p_raw.alias("p"))
    )
    eps = 0.000000000001
    p = (
        F.when(F.col("p") < eps, F.lit(eps))
        .when(F.col("p") > 1 - eps, F.lit(1 - eps))
        .otherwise(F.col("p"))
    )
    terms = scored.select(
        "t",
        F.round(
            -1000000.0
            * (
                F.col("y") * F.log(p)
                + (1 - F.col("y")) * F.log(F.lit(1.0) - p)
            )
        )
        .cast("long")
        .alias("nll_u"),
        F.round(1000000.0 * (p - F.col("y")) * (p - F.col("y")))
        .cast("long")
        .alias("bri_u"),
    )
    agg = terms.groupBy("t").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("nll_u").alias("nll_su"),
        F.sum("bri_u").alias("bri_su"),
    )
    best = agg.agg(F.min("nll_su").alias("b"))
    return (
        agg.crossJoin(F.broadcast(best))
        .select(
            F.round("t", 4).alias("temperature"),
            F.round(F.col("nll_su").cast("double") / 1000000.0 / F.col("n"), 4).alias(
                "nll"
            ),
            F.round(F.col("bri_su").cast("double") / 1000000.0 / F.col("n"), 4).alias(
                "brier"
            ),
            (F.col("nll_su") == F.col("b")).cast("long").alias("is_best"),
        )
        .orderBy("temperature")
    )


# --------------------------------------------------------------------------
# q449 - off-policy evaluation by replay + IPS: treat the event log as
# a logged bandit (context = 6-hour slot, action = event type, reward =
# value). Learn the greedy policy on the even-event_id half (argmax
# mean reward per context, deterministic tie-break), then estimate its
# value on the odd half two ways: REPLAY (mean reward over rows where
# the logged action equals the policy action - Li et al.'s unbiased
# replay method) and IPS (reward weighted by 1/propensity from the
# logged action frequencies). The disagreement between the two is the
# standard OPE sanity check before an online test.
# Parity: everything is exact integer counts/cent sums until the final
# per-context ratios; the argmax is (max micro-mean, then lexicographic
# action) - fully deterministic; IPS = matched-reward-sum * n_ctx /
# n_ctx_action is a product/ratio of exact integers.
# Scale: two (context, action) corpus aggregates (train and eval
# halves) - the policy/propensity relation is a 4x5 broadcast grid;
# context from epoch arithmetic, tz-free. No windows, no corpus joins.
# --------------------------------------------------------------------------
@register(
    "q449_policy_replay",
    oracle="""
WITH v AS (
    SELECT (CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 3600) % 24 // 6 AS ctx,
           event_type AS act,
           CAST(ROUND(100.0 * value) AS BIGINT) AS r,
           event_id % 2 AS odd
    FROM events
),
train AS (
    SELECT ctx, act, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(r) AS BIGINT) AS sr
    FROM v WHERE odd = 0 GROUP BY ctx, act
),
means AS (
    SELECT ctx, act, n, CAST(ROUND(1000000.0 * sr / n) AS BIGINT) AS mu
    FROM train
),
pol AS (
    SELECT m.ctx, MIN(m.act) AS pi_act
    FROM means m JOIN (SELECT ctx, MAX(mu) AS mx FROM means GROUP BY ctx) b
      ON b.ctx = m.ctx AND m.mu = b.mx
    GROUP BY m.ctx
),
prop AS (
    SELECT t.ctx, t.act, t.n,
           CAST(SUM(t.n) OVER (PARTITION BY t.ctx) AS BIGINT) AS n_ctx
    FROM train t
),
ev AS (
    SELECT ctx, act, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(r) AS BIGINT) AS sr
    FROM v WHERE odd = 1 GROUP BY ctx, act
)
SELECT e.ctx AS context, p.pi_act AS policy_action,
       e.n AS n_match,
       ROUND(CAST(e.sr AS DOUBLE) / 100.0 / e.n, 4) AS replay_reward,
       ROUND(CAST(e.sr AS DOUBLE) / 100.0 * pr.n_ctx / pr.n
             / (SELECT SUM(n) FROM ev e2 WHERE e2.ctx = e.ctx), 4)
           AS ips_value
FROM ev e
JOIN pol p ON p.ctx = e.ctx AND e.act = p.pi_act
JOIN prop pr ON pr.ctx = e.ctx AND pr.act = p.pi_act
ORDER BY context
""",
    tags=("eval", "ope", "A12"),
)
def q449_policy_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay and IPS value of the greedy context policy on the held-out
    half: (context, policy_action, n_match, replay_reward, ips_value)."""
    events = load_table(spark, sf_dir, "events")
    v = events.select(
        F.expr(
            "(CAST(FLOOR(CAST(ts AS DOUBLE)) AS BIGINT) DIV 3600) % 24 DIV 6"
        ).alias("ctx"),
        F.col("event_type").alias("act"),
        F.round(100.0 * F.col("value")).cast("long").alias("r"),
        (F.col("event_id") % 2).alias("odd"),
    )
    train = (
        v.filter(F.col("odd") == 0)
        .groupBy("ctx", "act")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("r").alias("sr"))
    )
    means = train.select(
        "ctx",
        "act",
        "n",
        F.round(1000000.0 * F.col("sr") / F.col("n")).cast("long").alias("mu"),
    )
    best = means.groupBy("ctx").agg(F.max("mu").alias("mx"))
    pol = (
        means.join(F.broadcast(best), "ctx")
        .filter(F.col("mu") == F.col("mx"))
        .groupBy("ctx")
        .agg(F.min("act").alias("pi_act"))
    )
    n_ctx = train.groupBy("ctx").agg(F.sum("n").alias("n_ctx"))
    prop = train.join(F.broadcast(n_ctx), "ctx")
    ev = (
        v.filter(F.col("odd") == 1)
        .groupBy("ctx", "act")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("r").alias("sr"))
    )
    ev_tot = ev.groupBy("ctx").agg(F.sum("n").alias("n_eval"))
    return (
        ev.join(F.broadcast(pol), "ctx")
        .filter(F.col("act") == F.col("pi_act"))
        .join(
            F.broadcast(
                prop.select("ctx", F.col("act").alias("pi_act"), F.col("n").alias("np"), "n_ctx")
            ),
            ["ctx", "pi_act"],
        )
        .join(F.broadcast(ev_tot), "ctx")
        .select(
            F.col("ctx").cast("long").alias("context"),
            F.col("pi_act").alias("policy_action"),
            F.col("n").cast("long").alias("n_match"),
            F.round(F.col("sr").cast("double") / 100.0 / F.col("n"), 4).alias(
                "replay_reward"
            ),
            F.round(
                F.col("sr").cast("double")
                / 100.0
                * F.col("n_ctx")
                / F.col("np")
                / F.col("n_eval"),
                4,
            ).alias("ips_value"),
        )
        .orderBy("context")
    )
