"""Inferential-statistics and evaluation queries (round 5, q314+).

Rank-based tests, paired-classifier comparison, and precision/recall
evaluation — all computed on collapsed value DOMAINS (never a global row
sort), with integer sufficient statistics frozen before any cross-group
float sum so Spark's partitioned accumulation and DuckDB's single-node
accumulation hash identically.

Reference provenance: the reference repo's analysis notebooks compute
group comparisons and classifier evaluations with scipy/sklearn over
pandas frames (reference notebooks/classifiers.ipynb, outliers.ipynb);
here the same statistics are exact relational algebra.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators import text_analysis
from ..sources.readers import load_table
from .registry import register


# --------------------------------------------------------------------------
# q314 - Mann-Whitney rank-sum significance test per event type: does the
# value distribution differ between the odd-user and even-user cohorts?
# Complements q283 (the AUC effect size = U/n1n2, global) and q305 (KS on
# the pooled table) with the per-type tie-corrected z statistic.
# Computed WITHOUT a row sort: collapse to per-distinct-score cohort
# counts, one cum window over the score domain, then
#   2*R1 = sum_v a_v * (2*below_v + t_v + 1)        (exact integer)
#   2*U1 = 2*R1 - n1*(n1+1)                          (exact integer)
#   var  = n1*n2/12 * ((N+1) - T/(N*(N-1))),  T = sum_v (t_v^3 - t_v)
#   z    = (2*U1 - n1*n2) / (2*sqrt(var))
# Parity: scores frozen to round(1e4*value); 2R1/2U1/T are exact integers;
# z is one double expression over five integers, 4dp.
# Scale: one keyed aggregate to the (type, score) domain, one per-type
# domain window, one per-type aggregate. Domain-scaled, not row-scaled.
# --------------------------------------------------------------------------
@register(
    "q314_rank_sum_test",
    oracle="""
WITH frozen AS (
    SELECT event_type,
           CAST(ROUND(10000.0 * value) AS BIGINT) AS v,
           CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS t
    FROM events
),
g AS (
    SELECT event_type, v,
           CAST(SUM(t) AS BIGINT) AS a,
           CAST(SUM(1 - t) AS BIGINT) AS b
    FROM frozen GROUP BY event_type, v
),
cum AS (
    SELECT event_type, v, a, b, a + b AS t,
           CAST(COALESCE(SUM(a + b) OVER (PARTITION BY event_type ORDER BY v
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING), 0) AS BIGINT)
               AS below
    FROM g
),
s AS (
    SELECT event_type,
           CAST(SUM(a) AS BIGINT) AS n1,
           CAST(SUM(b) AS BIGINT) AS n2,
           CAST(SUM(a * (2 * below + t + 1)) AS BIGINT) AS two_r1,
           CAST(SUM(t * t * t - t) AS BIGINT) AS ties
    FROM cum GROUP BY event_type
)
SELECT event_type, n1, n2,
       two_r1 - n1 * (n1 + 1) AS two_u,
       ROUND((CAST(two_r1 - n1 * (n1 + 1) AS DOUBLE) - CAST(n1 AS DOUBLE) * n2)
             / (2.0 * SQRT(CAST(n1 AS DOUBLE) * n2 / 12.0
                           * ((n1 + n2 + 1)
                              - CAST(ties AS DOUBLE)
                                / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1))))),
             4) AS z
FROM s
ORDER BY event_type
""",
    tags=("ab-test", "A12", "W2"),
)
def q314_rank_sum_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Mann-Whitney rank-sum z per event type, odd vs even
    user cohorts: (event_type, n1, n2, two_u, z)."""
    events = load_table(spark, sf_dir, "events")
    frozen = events.select(
        "event_type",
        F.round(10000.0 * F.col("value")).cast("long").alias("v"),
        (F.col("user_id") % 2 == 1).cast("long").alias("t"),
    )
    g = frozen.groupBy("event_type", "v").agg(
        F.sum("t").alias("a"), F.sum(1 - F.col("t")).alias("b")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = g.select(
        "event_type",
        "a",
        "b",
        (F.col("a") + F.col("b")).alias("t"),
        F.coalesce(F.sum(F.col("a") + F.col("b")).over(w), F.lit(0)).alias(
            "below"
        ),
    )
    s = cum.groupBy("event_type").agg(
        F.sum("a").alias("n1"),
        F.sum("b").alias("n2"),
        F.sum(
            F.col("a") * (2 * F.col("below") + F.col("t") + 1)
        ).alias("two_r1"),
        F.sum(
            F.col("t") * F.col("t") * F.col("t") - F.col("t")
        ).alias("ties"),
    )
    two_u = F.col("two_r1") - F.col("n1") * (F.col("n1") + 1)
    n1d = F.col("n1").cast("double")
    var = (
        n1d
        * F.col("n2")
        / 12.0
        * (
            (F.col("n1") + F.col("n2") + 1)
            - F.col("ties").cast("double")
            / (
                (F.col("n1") + F.col("n2")).cast("double")
                * (F.col("n1") + F.col("n2") - 1)
            )
        )
    )
    return s.select(
        "event_type",
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        two_u.cast("long").alias("two_u"),
        F.round(
            (two_u.cast("double") - n1d * F.col("n2")) / (2.0 * F.sqrt(var)), 4
        ).alias("z"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# q315 - Kruskal-Wallis H test per language: does document length
# (n_chars) differ across the 20 sources within each language? The k-group
# generalisation of q314 (and the rank-based alternative to a one-way
# ANOVA), again on the collapsed length domain:
#   2*R_j = sum_v c_jv * (2*below_v + t_v + 1)      (exact integer)
#   H     = 12/(N(N+1)) * sum_j R_j^2/n_j - 3(N+1)
#   H'    = H / (1 - T/(N^3 - N))                    (tie corrected)
# Parity: ranks and T are exact integers; each group's R_j^2/(4 n_j) term
# is computed as an identical double expression and frozen to
# round(1e4 * term) BEFORE the cross-group sum (a raw float sum over 20
# groups would be order-sensitive between engines); H, H' 4dp.
# Scale: two keyed aggregates ((lang, source, len) then (lang, len)), one
# per-lang domain window, one per-lang aggregate over <= |sources| rows.
# --------------------------------------------------------------------------
@register(
    "q315_kruskal_wallis",
    oracle="""
WITH g AS (
    SELECT lang, source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
    FROM documents GROUP BY lang, source, n_chars
),
dom AS (
    SELECT lang, v, CAST(SUM(c) AS BIGINT) AS t
    FROM g GROUP BY lang, v
),
cum AS (
    SELECT lang, v, t,
           CAST(COALESCE(SUM(t) OVER (PARTITION BY lang ORDER BY v
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS BIGINT) AS below
    FROM dom
),
rj AS (
    SELECT g.lang, g.source,
           CAST(SUM(g.c) AS BIGINT) AS nj,
           CAST(SUM(g.c * (2 * cum.below + cum.t + 1)) AS BIGINT) AS two_r
    FROM g JOIN cum ON cum.lang = g.lang AND cum.v = g.v
    GROUP BY g.lang, g.source
),
terms AS (
    SELECT lang, nj, two_r,
           CAST(ROUND(10000.0 * (CAST(two_r AS DOUBLE) * two_r
                                 / (4.0 * nj))) AS BIGINT) AS term
    FROM rj
),
tt AS (
    SELECT lang, CAST(SUM(t * t * t - t) AS BIGINT) AS ties,
           CAST(SUM(t) AS BIGINT) AS n
    FROM dom GROUP BY lang
),
h AS (
    SELECT t.lang, t.n, CAST(COUNT(*) AS BIGINT) AS k,
           12.0 / (CAST(t.n AS DOUBLE) * (t.n + 1))
               * (CAST(SUM(term) AS DOUBLE) / 10000.0)
               - 3.0 * (t.n + 1) AS h_raw,
           CAST(MAX(t.ties) AS DOUBLE) AS ties
    FROM terms JOIN tt t ON t.lang = terms.lang
    GROUP BY t.lang, t.n
)
SELECT lang, n, k, ROUND(h_raw, 4) AS h,
       ROUND(h_raw / (1.0 - ties
                      / (CAST(n AS DOUBLE) * n * n - n)), 4) AS h_tie_corr
FROM h
ORDER BY lang
""",
    tags=("robust-stats", "A12", "W2"),
)
def q315_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H of n_chars across sources, per language:
    (lang, n, k, h, h_tie_corr)."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy(
        "lang", "source", F.col("n_chars").alias("v")
    ).agg(F.count(F.lit(1)).alias("c"))
    dom = g.groupBy("lang", "v").agg(F.sum("c").alias("t"))
    w = (
        Window.partitionBy("lang")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = dom.select(
        "lang",
        "v",
        "t",
        F.coalesce(F.sum("t").over(w), F.lit(0)).alias("below"),
    )
    rj = (
        g.join(cum, ["lang", "v"])
        .groupBy("lang", "source")
        .agg(
            F.sum("c").alias("nj"),
            F.sum(
                F.col("c") * (2 * F.col("below") + F.col("t") + 1)
            ).alias("two_r"),
        )
    )
    terms = rj.select(
        "lang",
        "nj",
        F.round(
            10000.0
            * (
                F.col("two_r").cast("double")
                * F.col("two_r")
                / (4.0 * F.col("nj"))
            )
        )
        .cast("long")
        .alias("term"),
    )
    tt = dom.groupBy("lang").agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias(
            "ties"
        ),
        F.sum("t").alias("n"),
    )
    h = (
        terms.join(F.broadcast(tt), "lang")
        .groupBy("lang", "n")
        .agg(
            F.count(F.lit(1)).alias("k"),
            (
                12.0
                / (F.col("n").cast("double") * (F.col("n") + 1))
                * (F.sum("term").cast("double") / 10000.0)
                - 3.0 * (F.col("n") + 1)
            ).alias("h_raw"),
            F.max("ties").cast("double").alias("ties"),
        )
    )
    nd = F.col("n").cast("double")
    return h.select(
        "lang",
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        F.round(F.col("h_raw"), 4).alias("h"),
        F.round(
            F.col("h_raw") / (1.0 - F.col("ties") / (nd * nd * nd - nd)), 4
        ).alias("h_tie_corr"),
    ).orderBy("lang")


# --------------------------------------------------------------------------
# q318 - 1-D Wasserstein (earth mover's) distance per event type between
# the odd-user and even-user value distributions: W1 = integral
# |F1 - F2| dv on the collapsed value domain. The magnitude-aware drift
# measure in PHYSICAL units that q305's KS (max gap) and q302's PSI
# (binned, unitless) cannot give.
# Parity: values frozen to cents; per-segment terms are exact integer
# cross-products |k1*n2 - k2*n1| * (v_next - v); one bigint sum per type;
# W1 = sum / (n1*n2) / 100 back in value units, 4dp. (Integer bound:
# n1*n2*range(cents) per term — exact through ~1e9 rows/type at this
# value range; beyond that the term drops to the identical double
# expression both engines share.)
# Scale: one keyed aggregate to the (type, value) domain, one per-type
# domain window (cum counts + lead), one per-type reduce.
# --------------------------------------------------------------------------
@register(
    "q318_wasserstein",
    oracle="""
WITH frozen AS (
    SELECT event_type, CAST(ROUND(100.0 * value) AS BIGINT) AS v,
           CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS t
    FROM events
),
g AS (
    SELECT event_type, v,
           CAST(SUM(t) AS BIGINT) AS c1,
           CAST(SUM(1 - t) AS BIGINT) AS c2
    FROM frozen GROUP BY event_type, v
),
cum AS (
    SELECT event_type, v,
           CAST(SUM(c1) OVER w AS BIGINT) AS k1,
           CAST(SUM(c2) OVER w AS BIGINT) AS k2,
           LEAD(v, 1, v) OVER (PARTITION BY event_type ORDER BY v) AS v_next
    FROM g
    WINDOW w AS (PARTITION BY event_type ORDER BY v ROWS UNBOUNDED PRECEDING)
),
nn AS (
    SELECT event_type,
           CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
    FROM g GROUP BY event_type
),
s AS (
    SELECT c.event_type,
           CAST(SUM(ABS(c.k1 * n.n2 - c.k2 * n.n1) * (c.v_next - c.v))
                AS BIGINT) AS num
    FROM cum c JOIN nn n ON n.event_type = c.event_type
    GROUP BY c.event_type
)
SELECT s.event_type, n.n1, n.n2,
       ROUND(CAST(s.num AS DOUBLE)
             / (CAST(n.n1 AS DOUBLE) * n.n2) / 100.0, 4) AS w1
FROM s JOIN nn n ON n.event_type = s.event_type
ORDER BY s.event_type
""",
    tags=("ab-test", "A12", "W2"),
)
def q318_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earth mover's distance between odd/even cohort value distributions
    per event type: (event_type, n1, n2, w1)."""
    events = load_table(spark, sf_dir, "events")
    frozen = events.select(
        "event_type",
        F.round(100.0 * F.col("value")).cast("long").alias("v"),
        (F.col("user_id") % 2 == 1).cast("long").alias("t"),
    )
    g = frozen.groupBy("event_type", "v").agg(
        F.sum("t").alias("c1"), F.sum(1 - F.col("t")).alias("c2")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wlead = Window.partitionBy("event_type").orderBy("v")
    cum = g.select(
        "event_type",
        "v",
        F.sum("c1").over(wcum).alias("k1"),
        F.sum("c2").over(wcum).alias("k2"),
        F.lead("v", 1).over(wlead).alias("v_next"),
    ).withColumn("v_next", F.coalesce("v_next", F.col("v")))
    nn = g.groupBy("event_type").agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
    )
    s = (
        cum.join(F.broadcast(nn), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                F.abs(
                    F.col("k1") * F.col("n2") - F.col("k2") * F.col("n1")
                )
                * (F.col("v_next") - F.col("v"))
            ).alias("num")
        )
    )
    return (
        s.join(F.broadcast(nn), "event_type")
        .select(
            "event_type",
            F.col("n1").cast("long").alias("n1"),
            F.col("n2").cast("long").alias("n2"),
            F.round(
                F.col("num").cast("double")
                / (F.col("n1").cast("double") * F.col("n2"))
                / 100.0,
                4,
            ).alias("w1"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q320 - peak concurrency per event type (sweep line over the interval
# domain): each event holds a resource for 60*(1 + user_id % 5) seconds;
# the peak number of simultaneously-open intervals and the earliest
# instant it is reached. Classic capacity-planning output (max concurrent
# sessions/connections) computed WITHOUT pairwise interval joins: +1/-1
# deltas collapse per instant, one cum window over the per-type time
# domain, one argmax. Half-open [s, e) semantics: an interval ending at t
# frees its slot before one starting at t takes it (both engines collapse
# the instant to one net row, so the within-instant order is identity).
# Parity: all counts exact integers; peak_at is an exact timestamp.
# Scale: 2 narrow rows per event -> one keyed aggregate to the (type,
# instant) domain -> per-type cum window -> 1-row-per-type argmax.
# --------------------------------------------------------------------------
@register(
    "q320_peak_concurrency",
    oracle="""
WITH deltas AS (
    SELECT event_type, CAST(ts AS TIMESTAMP) AS t, 1 AS d FROM events
    UNION ALL
    SELECT event_type,
           CAST(ts AS TIMESTAMP)
               + INTERVAL (60 * (1 + user_id % 5)) SECOND AS t,
           -1 AS d
    FROM events
),
net AS (
    SELECT event_type, t, CAST(SUM(d) AS BIGINT) AS net
    FROM deltas GROUP BY event_type, t
),
cum AS (
    SELECT event_type, t,
           CAST(SUM(net) OVER (PARTITION BY event_type ORDER BY t
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS open
    FROM net
),
peak AS (
    SELECT event_type, CAST(MAX(open) AS BIGINT) AS peak
    FROM cum GROUP BY event_type
)
SELECT p.event_type, p.peak, MIN(c.t) AS peak_at
FROM peak p JOIN cum c ON c.event_type = p.event_type AND c.open = p.peak
GROUP BY p.event_type, p.peak
ORDER BY p.event_type
""",
    tags=("capacity", "A1", "W2"),
)
def q320_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line peak concurrent intervals per event type:
    (event_type, peak, peak_at)."""
    events = load_table(spark, sf_dir, "events")
    starts = events.select(
        "event_type", F.col("ts").alias("t"), F.lit(1).alias("d")
    )
    ends = events.select(
        "event_type",
        F.expr("timestampadd(SECOND, 60 * (1 + user_id % 5), ts)").alias(
            "t"
        ),
        F.lit(-1).alias("d"),
    )
    net = (
        starts.unionByName(ends)
        .groupBy("event_type", "t")
        .agg(F.sum("d").alias("net"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = net.select(
        "event_type", "t", F.sum("net").over(w).alias("open")
    )
    peak = cum.groupBy("event_type").agg(F.max("open").alias("peak"))
    return (
        cum.join(
            F.broadcast(peak),
            ["event_type"],
        )
        .filter(F.col("open") == F.col("peak"))
        .groupBy("event_type", "peak")
        .agg(F.min("t").alias("peak_at"))
        .select(
            "event_type",
            F.col("peak").cast("long").alias("peak"),
            "peak_at",
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q321 - shard-rebalancing audit: when the cluster grows from 8 to 9
# shards, what fraction of keys move under (a) mod-N assignment vs (b) a
# consistent-hash ring with 16 virtual nodes per shard? The infra-planning
# companion to q292 (broadcast advisor) and q266 (skew audit): mod-N
# reshuffles ~8/9 of the corpus, the ring only the ~1/9 arc the new
# shard claims — this query measures both exactly on the real key set.
# The ring points are md5 digests precomputed at plan-build time and
# embedded as SORTED literal arrays on BOTH engines; a key's shard is the
# first ring point >= md5(key) (wrapping to the smallest point), so the
# whole assignment is narrow JVM array algebra — no join, no explode.
# Ring growth only ADDS points, so a key moved <=> its successor point
# changed.
# Parity: md5 hex strings compare identically everywhere; counts exact.
# Scale: one narrow map over the keys + one 2-row aggregate. O(|ring|)
# comparisons per key, zero shuffles beyond the final reduce.
# --------------------------------------------------------------------------
import hashlib as _hashlib

_RING_VNODES = 16


def _ring_points(n_shards: int) -> list[str]:
    pts = [
        _hashlib.md5(f"node{n}:{r}".encode()).hexdigest()
        for n in range(n_shards)
        for r in range(_RING_VNODES)
    ]
    return sorted(pts)


_RING8 = _ring_points(8)
_RING9 = _ring_points(9)


def _succ_sql(ring: list[str], h: str) -> str:
    lit = "[" + ", ".join(f"'{p}'" for p in ring) + "]"
    return (
        f"COALESCE(LIST_MIN(LIST_FILTER({lit}, p -> p >= {h})),"
        f" '{ring[0]}')"
    )


@register(
    "q321_rebalance_audit",
    oracle=f"""
WITH keys AS (
    SELECT doc_id, MD5(CAST(doc_id AS VARCHAR)) AS h FROM documents
),
flags AS (
    SELECT CASE WHEN doc_id % 8 <> doc_id % 9 THEN 1 ELSE 0 END AS mod_moved,
           CASE WHEN {_succ_sql(_RING8, "h")} <> {_succ_sql(_RING9, "h")}
                THEN 1 ELSE 0 END AS ring_moved
    FROM keys
)
SELECT 'mod' AS strategy,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(mod_moved) AS BIGINT) AS n_moved,
       ROUND(CAST(SUM(mod_moved) AS DOUBLE) / COUNT(*), 4) AS moved_frac
FROM flags
UNION ALL
SELECT 'ring' AS strategy,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(ring_moved) AS BIGINT) AS n_moved,
       ROUND(CAST(SUM(ring_moved) AS DOUBLE) / COUNT(*), 4) AS moved_frac
FROM flags
ORDER BY strategy
""",
    tags=("capacity", "A12", "P12"),
)
def q321_rebalance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moved-key fraction growing 8->9 shards, mod-N vs consistent-hash
    ring: (strategy, n_keys, n_moved, moved_frac)."""
    docs = load_table(spark, sf_dir, "documents")

    def succ(ring: list[str]):
        arr = F.array(*[F.lit(p) for p in ring])
        return F.coalesce(
            F.array_min(F.filter(arr, lambda p: p >= F.col("h"))),
            F.lit(ring[0]),
        )

    flags = docs.select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("h")
    ).select(
        (F.col("doc_id") % 8 != F.col("doc_id") % 9)
        .cast("long")
        .alias("mod_moved"),
        (succ(_RING8) != succ(_RING9)).cast("long").alias("ring_moved"),
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("mod_moved").alias("mod_moved"),
        F.sum("ring_moved").alias("ring_moved"),
    )
    out = agg.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("mod").alias("strategy"),
                    F.col("n_keys").cast("long").alias("n_keys"),
                    F.col("mod_moved").cast("long").alias("n_moved"),
                    F.round(
                        F.col("mod_moved").cast("double") / F.col("n_keys"),
                        4,
                    ).alias("moved_frac"),
                ),
                F.struct(
                    F.lit("ring").alias("strategy"),
                    F.col("n_keys").cast("long").alias("n_keys"),
                    F.col("ring_moved").cast("long").alias("n_moved"),
                    F.round(
                        F.col("ring_moved").cast("double") / F.col("n_keys"),
                        4,
                    ).alias("moved_frac"),
                ),
            )
        ).alias("r")
    ).select("r.*")
    return out.orderBy("strategy")


# --------------------------------------------------------------------------
# q322 - cross-split contamination audit: how many EXACT near-duplicate
# pairs (shingle Jaccard >= 0.5, the q182 prefix-filter truth) straddle
# the q104 train/val/test split? Near-dups of a test document sitting in
# train are silent eval leakage — the #1 "my benchmark is inflated"
# failure in LLM data pipelines. Composes the two proven operators: the
# PPJoin-family exact set-similarity join and the md5-percentile split.
# Parity: both components already hash-match individually; the composite
# adds one split lookup per pair endpoint and a bounded (split, split)
# rollup, with (sa, sb) ordered lexicographically so the pair direction
# is canonical.
# Scale: the prefix-filter join bounds the candidate space (q182's
# posture); split assignment is a narrow md5 map joined onto the pair
# endpoints (two hash joins on doc id); the rollup is <= 9 rows.
# --------------------------------------------------------------------------
def _q322_oracle() -> str:
    from .dedup_queries import _SHINGLES_CTE

    return f"""
WITH {_SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS ov
    FROM sh a JOIN sh b ON b.shingle = a.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
pairs AS (
    SELECT ia, ib
    FROM inter
    JOIN sizes sa ON sa.doc_id = ia
    JOIN sizes sb ON sb.doc_id = ib
    WHERE 2 * ov >= sa.sz + sb.sz - ov
),
splits AS (
    SELECT doc_id,
           CASE WHEN u < 80 THEN 'train' WHEN u < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM (
        SELECT doc_id,
               CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))
                    ::UBIGINT AS BIGINT) % 100 AS u
        FROM documents
    ) t
)
SELECT LEAST(x.split, y.split) AS split_a,
       GREATEST(x.split, y.split) AS split_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN x.split <> y.split THEN 1 ELSE 0 END) AS BIGINT)
           AS n_leaky
FROM pairs p
JOIN splits x ON x.doc_id = p.ia
JOIN splits y ON y.doc_id = p.ib
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("q322_split_leakage", oracle=_q322_oracle(), tags=("training-prep", "dedup-setsim", "A4"))
def q322_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs straddling the train/val/test split:
    (split_a, split_b, n_pairs, n_leaky)."""
    from ..operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.prefix_jaccard_join(docs, threshold=0.5).select(
        "id_a", "id_b"
    )
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    splits = docs.select(
        "doc_id",
        F.when(u < 80, F.lit("train"))
        .when(u < 90, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    joined = (
        pairs.join(
            splits.select(
                F.col("doc_id").alias("id_a"), F.col("split").alias("sa")
            ),
            "id_a",
        )
        .join(
            splits.select(
                F.col("doc_id").alias("id_b"), F.col("split").alias("sb")
            ),
            "id_b",
        )
    )
    return (
        joined.groupBy(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum((F.col("sa") != F.col("sb")).cast("long")).alias(
                "n_leaky"
            ),
        )
        .orderBy("split_a", "split_b")
    )


# --------------------------------------------------------------------------
# q323 - seeded sign-permutation test for the odd-vs-even cohort daily
# effect, per event type: the exact-resampling alternative to q314's
# asymptotic z when the day count is small. The statistic is the sum of
# per-day cohort mean differences; the null distribution comes from B=199
# deterministic sign flips s(b, day) = md5 parity, so BOTH engines
# enumerate the identical permutation set:
#   p = (1 + #{b : |T_b| >= |T_obs|}) / (B + 1).
# Parity: daily means are exact `div` integers (the q312 freeze), so
# every T_b is an exact integer and the |T_b| >= |T_obs| comparisons are
# integer — no float anywhere until the final p.
# Scale: the corpus collapses to the (type, day) relation FIRST (one
# keyed aggregate); the B-fold expansion runs on the bounded daily
# relation (|types| x days x B rows), never on raw events.
# --------------------------------------------------------------------------
_PERM_B = 199


@register(
    "q323_permutation_test",
    oracle=f"""
WITH daily AS (
    SELECT event_type,
           CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
           CAST(SUM(CASE WHEN user_id % 2 = 1
                         THEN CAST(ROUND(100.0 * value) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS s1,
           CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS c1,
           CAST(SUM(CASE WHEN user_id % 2 = 0
                         THEN CAST(ROUND(100.0 * value) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS s0,
           CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS c0
    FROM events GROUP BY 1, 2
),
diffs AS (
    SELECT event_type, day, (s1 // c1) - (s0 // c0) AS d
    FROM daily WHERE c1 > 0 AND c0 > 0
),
obs AS (
    SELECT event_type, CAST(SUM(d) AS BIGINT) AS t_obs,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM diffs GROUP BY event_type
),
perms AS (
    SELECT d.event_type, b.b,
           CAST(SUM(CASE WHEN CAST(('0x' || SUBSTR(
                         MD5(CAST(b.b AS VARCHAR) || ':'
                             || CAST(d.day AS VARCHAR)), 1, 8))::UBIGINT
                         AS BIGINT) % 2 = 0
                    THEN d.d ELSE -d.d END) AS BIGINT) AS t_b
    FROM diffs d CROSS JOIN (SELECT UNNEST(RANGE(1, {_PERM_B} + 1)) AS b) b
    GROUP BY 1, 2
)
SELECT o.event_type, o.n_days, o.t_obs,
       ROUND((1.0 + SUM(CASE WHEN ABS(p.t_b) >= ABS(o.t_obs)
                             THEN 1 ELSE 0 END))
             / ({_PERM_B} + 1.0), 4) AS p_value
FROM obs o JOIN perms p ON p.event_type = o.event_type
GROUP BY o.event_type, o.n_days, o.t_obs
ORDER BY o.event_type
""",
    tags=("ab-test", "A12", "J14"),
)
def q323_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded sign-permutation test of the daily cohort effect per type:
    (event_type, n_days, t_obs, p_value)."""
    events = load_table(spark, sf_dir, "events")
    x = F.round(100.0 * F.col("value")).cast("long")
    odd = (F.col("user_id") % 2 == 1).cast("long")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.sum(x * odd).alias("s1"),
        F.sum(odd).alias("c1"),
        F.sum(x * (1 - odd)).alias("s0"),
        F.sum(1 - odd).alias("c0"),
    )
    diffs = daily.filter((F.col("c1") > 0) & (F.col("c0") > 0)).select(
        "event_type",
        "day",
        (F.expr("s1 div c1") - F.expr("s0 div c0")).alias("d"),
    )
    obs = diffs.groupBy("event_type").agg(
        F.sum("d").alias("t_obs"), F.count(F.lit(1)).alias("n_days")
    )
    b = spark.range(1, _PERM_B + 1).select(F.col("id").alias("b"))
    sign = F.when(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("b").cast("string"),
                        F.lit(":"),
                        F.col("day").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 0,
        F.col("d"),
    ).otherwise(-F.col("d"))
    perms = (
        diffs.crossJoin(F.broadcast(b))
        .groupBy("event_type", "b")
        .agg(F.sum(sign).alias("t_b"))
    )
    return (
        perms.join(F.broadcast(obs), "event_type")
        .groupBy("event_type", "n_days", "t_obs")
        .agg(
            F.round(
                (
                    1.0
                    + F.sum(
                        (F.abs(F.col("t_b")) >= F.abs(F.col("t_obs"))).cast(
                            "long"
                        )
                    )
                )
                / (_PERM_B + 1.0),
                4,
            ).alias("p_value")
        )
        .select(
            "event_type",
            F.col("n_days").cast("long").alias("n_days"),
            F.col("t_obs").cast("long").alias("t_obs"),
            "p_value",
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q325 - multimodal near-duplicate pairs by byte-histogram shape: two
# media payloads are near-dups when their per-mille 16-bin byte
# histograms differ by L1 <= 60 (6% total mass). Candidate generation is
# BANDED, never all-pairs: the coarse signature (each per-mille share
# quantized to 2.5% steps, present buckets only, bucket-ordered) must
# match exactly, so candidates come from one equi-join on the signature
# string — the multimodal sibling of q56's banded SimHash. Feature
# extraction runs through the Arrow mapInPandas byte-histogram operator
# (operators/multimodal.py), i.e. the REAL media plumbing, then
# everything downstream is relational.
# Parity: per-mille shares are exact `div` integers; signatures are
# deterministic strings; L1 is an exact integer sum (same-signature pairs
# provably share the same present-bucket set, so an inner bucket join is
# total). Oracle rebuilds the identical histogram from ASCII codes.
# Scale: histogram is narrow per-doc work (no shuffle); one signature
# equi-join bounds the pair space by bucket co-membership (Σ bucket²,
# same argument as q27/q56); the verify join is candidate-driven.
# --------------------------------------------------------------------------
@register(
    "q325_media_histogram_dups",
    oracle="""
WITH chars AS (
    SELECT doc_id, ASCII(UNNEST(STRING_SPLIT_REGEX(text, ''))) % 16 AS b
    FROM documents
),
hist AS (
    SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c FROM chars
    WHERE b IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS t FROM hist GROUP BY 1),
h AS (
    SELECT hist.doc_id, hist.b, (hist.c * 1000) // tot.t AS p
    FROM hist JOIN tot USING (doc_id)
),
sig AS (
    SELECT doc_id,
           STRING_AGG(CAST(b AS VARCHAR) || ':' || CAST(p // 25 AS VARCHAR),
                      ',' ORDER BY b) AS s
    FROM h GROUP BY doc_id
),
cand AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM sig a JOIN sig b ON b.s = a.s AND a.doc_id < b.doc_id
),
l1 AS (
    SELECT c.id_a, c.id_b, CAST(SUM(ABS(ha.p - hb.p)) AS BIGINT) AS l1
    FROM cand c
    JOIN h ha ON ha.doc_id = c.id_a
    JOIN h hb ON hb.doc_id = c.id_b AND hb.b = ha.b
    GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b, l1 FROM l1 WHERE l1 <= 60
ORDER BY id_a, id_b
""",
    tags=("multimodal-features", "dedup-setsim", "mapInPandas"),
)
def q325_media_histogram_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded byte-histogram near-dup media pairs: (id_a, id_b, l1)."""
    from ..operators import multimodal

    media = multimodal.attach_media(load_table(spark, sf_dir, "documents"))
    hist = multimodal.byte_histogram(media, n_bins=16)
    tot = hist.groupBy("doc_id").agg(F.sum("n").alias("t"))
    h = hist.join(tot, "doc_id").select(
        "doc_id",
        F.col("bucket").alias("b"),
        F.expr("(n * 1000) div t").alias("p"),
    )
    sig = h.groupBy("doc_id").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct("b", F.expr("p div 25").alias("q"))
                    )
                ),
                lambda r: F.concat(
                    r["b"].cast("string"), F.lit(":"), r["q"].cast("string")
                ),
            ),
        ).alias("s")
    )
    cand = (
        sig.alias("a")
        .join(
            sig.alias("x").select(
                F.col("doc_id").alias("doc_b"), F.col("s").alias("sb")
            ),
            (F.col("s") == F.col("sb")) & (F.col("doc_id") < F.col("doc_b")),
        )
        .select(
            F.col("doc_id").alias("id_a"), F.col("doc_b").alias("id_b")
        )
    )
    l1 = (
        cand.join(
            h.select(
                F.col("doc_id").alias("id_a"), "b", F.col("p").alias("pa")
            ),
            "id_a",
        )
        .join(
            h.select(
                F.col("doc_id").alias("id_b"), "b", F.col("p").alias("pb")
            ),
            ["id_b", "b"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.abs(F.col("pa") - F.col("pb"))).alias("l1"))
    )
    return (
        l1.filter(F.col("l1") <= 60)
        .select("id_a", "id_b", F.col("l1").cast("long").alias("l1"))
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# q328 - Mantel-Haenszel stratified odds ratio: the odd-user cohort's
# odds of a high-value event (value >= 50) vs the even cohort, adjusted
# for day-of-week strata — the confounder-adjusted effect the crude 2x2
# odds ratio conflates when traffic mix shifts by weekday:
#   OR_MH = sum_k (a_k d_k / n_k) / sum_k (b_k c_k / n_k),
# reported next to the crude OR so the confounding gap is visible.
# Parity: the 7x4 cell counts are exact integers from one conditional
# aggregate; each stratum's a*d/n and b*c/n are identical double
# expressions frozen to round(1e6 * term) before the cross-stratum sum;
# ORs are single double divisions, 4dp.
# Scale: one full-table aggregate to the 7-stratum relation; everything
# after is algebra on 7 rows.
# --------------------------------------------------------------------------
@register(
    "q328_mantel_haenszel",
    oracle="""
WITH cells AS (
    SELECT DAYOFWEEK(CAST(ts AS TIMESTAMP)) AS dow,
           CAST(SUM(CASE WHEN user_id % 2 = 1 AND value >= 50
                    THEN 1 ELSE 0 END) AS BIGINT) AS a,
           CAST(SUM(CASE WHEN user_id % 2 = 1 AND value < 50
                    THEN 1 ELSE 0 END) AS BIGINT) AS b,
           CAST(SUM(CASE WHEN user_id % 2 = 0 AND value >= 50
                    THEN 1 ELSE 0 END) AS BIGINT) AS c,
           CAST(SUM(CASE WHEN user_id % 2 = 0 AND value < 50
                    THEN 1 ELSE 0 END) AS BIGINT) AS d
    FROM events GROUP BY 1
),
terms AS (
    SELECT a, b, c, d, a + b + c + d AS n,
           CAST(ROUND(1000000.0 * (CAST(a AS DOUBLE) * d / (a + b + c + d)))
                AS BIGINT) AS ad_n,
           CAST(ROUND(1000000.0 * (CAST(b AS DOUBLE) * c / (a + b + c + d)))
                AS BIGINT) AS bc_n
    FROM cells
),
agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
           CAST(SUM(a) AS BIGINT) AS sa, CAST(SUM(b) AS BIGINT) AS sb,
           CAST(SUM(c) AS BIGINT) AS sc, CAST(SUM(d) AS BIGINT) AS sd,
           CAST(SUM(ad_n) AS BIGINT) AS num, CAST(SUM(bc_n) AS BIGINT) AS den
    FROM terms
)
SELECT n_strata,
       ROUND(CAST(sa AS DOUBLE) * sd / (CAST(sb AS DOUBLE) * sc), 4)
           AS or_crude,
       ROUND(CAST(num AS DOUBLE) / den, 4) AS or_mh
FROM agg
""",
    tags=("ab-test", "A12", "P12"),
)
def q328_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week-stratified Mantel-Haenszel odds ratio vs the crude OR:
    (n_strata, or_crude, or_mh)."""
    events = load_table(spark, sf_dir, "events")
    odd = F.col("user_id") % 2 == 1
    hi = F.col("value") >= 50
    cells = events.groupBy(F.dayofweek("ts").alias("dow")).agg(
        F.sum((odd & hi).cast("long")).alias("a"),
        F.sum((odd & ~hi).cast("long")).alias("b"),
        F.sum((~odd & hi).cast("long")).alias("c"),
        F.sum((~odd & ~hi).cast("long")).alias("d"),
    )
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    terms = cells.select(
        "a",
        "b",
        "c",
        "d",
        F.round(1000000.0 * (F.col("a").cast("double") * F.col("d") / n))
        .cast("long")
        .alias("ad_n"),
        F.round(1000000.0 * (F.col("b").cast("double") * F.col("c") / n))
        .cast("long")
        .alias("bc_n"),
    )
    agg = terms.agg(
        F.count(F.lit(1)).alias("n_strata"),
        F.sum("a").alias("sa"),
        F.sum("b").alias("sb"),
        F.sum("c").alias("sc"),
        F.sum("d").alias("sd"),
        F.sum("ad_n").alias("num"),
        F.sum("bc_n").alias("den"),
    )
    return agg.select(
        F.col("n_strata").cast("long").alias("n_strata"),
        F.round(
            F.col("sa").cast("double")
            * F.col("sd")
            / (F.col("sb").cast("double") * F.col("sc")),
            4,
        ).alias("or_crude"),
        F.round(F.col("num").cast("double") / F.col("den"), 4).alias(
            "or_mh"
        ),
    )


# --------------------------------------------------------------------------
# q329 - LATERAL correlated subquery surface (Spark 4 / ANSI): richest
# three customers per nation via a LATERAL per-nation top-k — the
# SQL-surface twin of q15's per-key limit, exercising the correlated
# LATERAL planner path (decorrelates to a ranked window, not a per-row
# re-scan). Deterministic tie-break on (c_acctbal DESC, c_custkey).
# Parity: pure SQL on both engines; balances rounded 4dp.
# Scale: Catalyst rewrites the lateral to a partitioned window with
# WindowGroupLimit pushdown — no per-nation re-scan of customer.
# --------------------------------------------------------------------------
@register(
    "q329_lateral_topk",
    oracle="""
SELECT n.n_name, c.c_name, ROUND(c.c_acctbal, 4) AS acctbal
FROM nation n,
     LATERAL (SELECT c_name, c_acctbal FROM customer
              WHERE c_nationkey = n.n_nationkey
              ORDER BY c_acctbal DESC, c_custkey LIMIT 3) c
ORDER BY n.n_name, acctbal DESC, c.c_name
""",
    tags=("sql-surface", "O4", "J1"),
)
def q329_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation lateral top-3 customers by balance:
    (n_name, c_name, acctbal)."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("q329_nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "q329_customer"
    )
    return spark.sql(
        """
        SELECT n.n_name, c.c_name, ROUND(c.c_acctbal, 4) AS acctbal
        FROM q329_nation n,
             LATERAL (SELECT c_name, c_acctbal FROM q329_customer
                      WHERE c_nationkey = n.n_nationkey
                      ORDER BY c_acctbal DESC, c_custkey LIMIT 3) c
        ORDER BY n.n_name, acctbal DESC, c.c_name
        """
    )


# --------------------------------------------------------------------------
# q330 - bag-semantics set operations (INTERSECT ALL / EXCEPT ALL): the
# multiplicity-preserving variants q100's set-semantics INTERSECT/EXCEPT
# cannot express. Which (custkey, month) purchase-activity pairs recur in
# BOTH eras (pre/post 1998), counted WITH multiplicity (a customer ordering twice
# in March of both eras contributes two intersect rows), and how many
# pre-1998 activity rows have no post-1998 counterpart (EXCEPT ALL keeps the excess
# copies). Output is the per-month rollup of both bag results.
# Parity: bag semantics are engine-portable (min/greatest-of-difference
# on per-key multiplicities); both engines run the literal INTERSECT ALL
# / EXCEPT ALL SQL; counts exact.
# Scale: two keyed aggregates + one equi-join on the (custkey, month)
# key (Spark plans INTERSECT/EXCEPT ALL as a single shuffle + generate);
# rollup is 12 rows.
# --------------------------------------------------------------------------
@register(
    "q330_set_ops_all",
    oracle="""
WITH h1 AS (
    SELECT o_custkey, MONTH(o_orderdate) AS m FROM orders
    WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
),
h2 AS (
    SELECT o_custkey, MONTH(o_orderdate) AS m FROM orders
    WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
),
both_all AS (SELECT * FROM h1 INTERSECT ALL SELECT * FROM h2),
only1_all AS (SELECT * FROM h1 EXCEPT ALL SELECT * FROM h2)
SELECT m AS month,
       CAST(SUM(CASE WHEN src = 'both' THEN 1 ELSE 0 END) AS BIGINT) AS n_recurring,
       CAST(SUM(CASE WHEN src = 'only1' THEN 1 ELSE 0 END) AS BIGINT) AS n_h1_excess
FROM (
    SELECT m, 'both' AS src FROM both_all
    UNION ALL
    SELECT m, 'only1' AS src FROM only1_all
)
GROUP BY m
ORDER BY month
""",
    tags=("sql-surface", "U3", "A10"),
)
def q330_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL / EXCEPT ALL multiplicity rollup by month:
    (month, n_recurring, n_h1_excess)."""
    orders = load_table(spark, sf_dir, "orders")
    h1 = orders.filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    ).select("o_custkey", F.month("o_orderdate").alias("m"))
    h2 = orders.filter(
        F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp")
    ).select("o_custkey", F.month("o_orderdate").alias("m"))
    both_all = h1.intersectAll(h2).select("m", F.lit("both").alias("src"))
    only1_all = h1.exceptAll(h2).select("m", F.lit("only1").alias("src"))
    return (
        both_all.unionByName(only1_all)
        .groupBy(F.col("m").cast("long").alias("month"))
        .agg(
            F.sum((F.col("src") == "both").cast("long")).alias(
                "n_recurring"
            ),
            F.sum((F.col("src") == "only1").cast("long")).alias(
                "n_h1_excess"
            ),
        )
        .orderBy("month")
    )


# --------------------------------------------------------------------------
# q332 - one-way ANOVA F per language: document length across the 20
# sources, the parametric twin of q315's Kruskal-Wallis (mean-based vs
# rank-based, reported from the same design so the two tests can be read
# together):
#   SSB = sum_j n_j (mean_j - mean)^2 = sum_j S_j^2/n_j - S^2/N
#   SSW = SS - sum_j S_j^2/n_j
#   F   = (SSB / (k-1)) / (SSW / (N-k))
# Parity: N, S, SS and the per-group (n_j, S_j) are exact integers from
# one keyed aggregate; each group's S_j^2/n_j is an identical double
# expression frozen to round(1e4 * term) before the cross-group sum;
# F and the eta^2 effect size are single double expressions, 4dp.
# Scale: one (lang, source) keyed aggregate with map-side partials; the
# cross-group reduce runs on <= |langs| x |sources| rows.
# --------------------------------------------------------------------------
@register(
    "q332_anova_f",
    oracle="""
WITH g AS (
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS nj,
           CAST(SUM(n_chars) AS BIGINT) AS sj,
           CAST(SUM(n_chars * n_chars) AS BIGINT) AS ssj
    FROM documents GROUP BY lang, source
),
terms AS (
    SELECT lang, nj, sj, ssj,
           CAST(ROUND(10000.0 * (CAST(sj AS DOUBLE) * sj / nj)) AS BIGINT)
               AS t
    FROM g
),
agg AS (
    SELECT lang,
           CAST(SUM(nj) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k,
           CAST(SUM(sj) AS BIGINT) AS s, CAST(SUM(ssj) AS BIGINT) AS ss,
           CAST(SUM(t) AS BIGINT) AS st
    FROM terms GROUP BY lang
)
SELECT lang, n, k,
       ROUND(((CAST(st AS DOUBLE) / 10000.0 - CAST(s AS DOUBLE) * s / n)
              / (k - 1))
             / ((CAST(ss AS DOUBLE) - CAST(st AS DOUBLE) / 10000.0)
                / (n - k)), 4) AS f,
       ROUND((CAST(st AS DOUBLE) / 10000.0 - CAST(s AS DOUBLE) * s / n)
             / (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n), 4)
           AS eta_sq
FROM agg
ORDER BY lang
""",
    tags=("robust-stats", "A12", "W4"),
)
def q332_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of n_chars across sources per language:
    (lang, n, k, f, eta_sq)."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("nj"),
        F.sum("n_chars").alias("sj"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("ssj"),
    )
    terms = g.select(
        "lang",
        "nj",
        "sj",
        "ssj",
        F.round(
            10000.0 * (F.col("sj").cast("double") * F.col("sj") / F.col("nj"))
        )
        .cast("long")
        .alias("t"),
    )
    agg = terms.groupBy("lang").agg(
        F.sum("nj").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum("sj").alias("s"),
        F.sum("ssj").alias("ss"),
        F.sum("t").alias("st"),
    )
    ssb = F.col("st").cast("double") / 10000.0 - F.col("s").cast(
        "double"
    ) * F.col("s") / F.col("n")
    ssw = F.col("ss").cast("double") - F.col("st").cast("double") / 10000.0
    sst = F.col("ss").cast("double") - F.col("s").cast("double") * F.col(
        "s"
    ) / F.col("n")
    return agg.select(
        "lang",
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        F.round(
            (ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k"))), 4
        ).alias("f"),
        F.round(ssb / sst, 4).alias("eta_sq"),
    ).orderBy("lang")


# --------------------------------------------------------------------------
# q333 - Brown-Forsythe robust variance-homogeneity test per language:
# are the SPREADS of document length equal across sources? (ANOVA/KW
# compare locations; pipelines also need "did one source's variance
# blow up".) The Levene statistic on absolute deviations from the GROUP
# MEDIAN: z_ij = |x_ij - med_j|, then the one-way ANOVA F over z.
# Two exact passes: (1) per-(lang, source) median via the q304 domain
# collapse (cum counts over the distinct n_chars domain, integer
# order-statistic pick — lower median, an identical convention on both
# engines); (2) the q332 sufficient-statistics F over z.
# Parity: medians and z are exact integers; per-group Sz_j^2/n_j terms
# frozen to round(1e4 * term) before the cross-group sum; F 4dp.
# Scale: both passes are keyed aggregates / bounded-domain windows; the
# corpus is touched twice, never sorted globally.
# --------------------------------------------------------------------------
@register(
    "q333_brown_forsythe",
    oracle="""
WITH dom AS (
    SELECT lang, source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
    FROM documents GROUP BY 1, 2, 3
),
cum AS (
    SELECT lang, source, v, c,
           CAST(SUM(c) OVER (PARTITION BY lang, source ORDER BY v
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS k,
           CAST(SUM(c) OVER (PARTITION BY lang, source) AS BIGINT) AS n
    FROM dom
),
med AS (
    SELECT lang, source, CAST(MIN(v) AS BIGINT) AS m
    FROM cum WHERE k >= (n + 1) // 2
    GROUP BY lang, source
),
z AS (
    SELECT d.lang, d.source,
           CAST(COUNT(*) AS BIGINT) AS nj,
           CAST(SUM(ABS(d.n_chars - m.m)) AS BIGINT) AS sj,
           CAST(SUM((d.n_chars - m.m) * (d.n_chars - m.m)) AS BIGINT) AS ssj
    FROM documents d JOIN med m ON m.lang = d.lang AND m.source = d.source
    GROUP BY d.lang, d.source
),
terms AS (
    SELECT lang, nj, sj, ssj,
           CAST(ROUND(10000.0 * (CAST(sj AS DOUBLE) * sj / nj)) AS BIGINT)
               AS t
    FROM z
),
agg AS (
    SELECT lang,
           CAST(SUM(nj) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k,
           CAST(SUM(sj) AS BIGINT) AS s, CAST(SUM(ssj) AS BIGINT) AS ss,
           CAST(SUM(t) AS BIGINT) AS st
    FROM terms GROUP BY lang
)
SELECT lang, n, k,
       ROUND(((CAST(st AS DOUBLE) / 10000.0 - CAST(s AS DOUBLE) * s / n)
              / (k - 1))
             / ((CAST(ss AS DOUBLE) - CAST(st AS DOUBLE) / 10000.0)
                / (n - k)), 4) AS f
FROM agg
ORDER BY lang
""",
    tags=("robust-stats", "A12", "W2"),
)
def q333_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe spread-homogeneity F across sources per language:
    (lang, n, k, f)."""
    docs = load_table(spark, sf_dir, "documents")
    dom = docs.groupBy(
        "lang", "source", F.col("n_chars").alias("v")
    ).agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        Window.partitionBy("lang", "source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("lang", "source")
    cum = dom.select(
        "lang",
        "source",
        "v",
        F.sum("c").over(wcum).alias("k"),
        F.sum("c").over(wtot).alias("n"),
    )
    med = (
        cum.filter(F.col("k") >= F.expr("(n + 1) div 2"))
        .groupBy("lang", "source")
        .agg(F.min("v").alias("m"))
    )
    z = (
        docs.join(F.broadcast(med), ["lang", "source"])
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("nj"),
            F.sum(F.abs(F.col("n_chars") - F.col("m"))).alias("sj"),
            F.sum(
                (F.col("n_chars") - F.col("m"))
                * (F.col("n_chars") - F.col("m"))
            ).alias("ssj"),
        )
    )
    terms = z.select(
        "lang",
        "nj",
        "sj",
        "ssj",
        F.round(
            10000.0 * (F.col("sj").cast("double") * F.col("sj") / F.col("nj"))
        )
        .cast("long")
        .alias("t"),
    )
    agg = terms.groupBy("lang").agg(
        F.sum("nj").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum("sj").alias("s"),
        F.sum("ssj").alias("ss"),
        F.sum("t").alias("st"),
    )
    ssb = F.col("st").cast("double") / 10000.0 - F.col("s").cast(
        "double"
    ) * F.col("s") / F.col("n")
    ssw = F.col("ss").cast("double") - F.col("st").cast("double") / 10000.0
    return agg.select(
        "lang",
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        F.round(
            (ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k"))), 4
        ).alias("f"),
    ).orderBy("lang")


# --------------------------------------------------------------------------
# q334 - partial correlation of daily purchase and error counts
# CONTROLLING for total daily traffic: does the purchase-error link
# survive once "busy days are busy everywhere" is partialled out?
#   r_xy.z = (r_xy - r_xz r_yz) / sqrt((1 - r_xz^2)(1 - r_yz^2))
# from the three pairwise Pearson correlations of the bounded daily
# series — the confounder-adjusted companion to q306's raw Spearman and
# q328's stratified OR.
# Parity: daily counts are exact integers; each pairwise r is one double
# expression over six integer sufficient statistics (computed on the
# SAME 30-row relation on both engines); r_xy, r_xz, r_yz and the
# partial r are 4dp.
# Scale: one conditional keyed aggregate to the calendar-bounded daily
# relation; one 1-row reduce. Nothing row-scaled after the collapse.
# --------------------------------------------------------------------------
@register(
    "q334_partial_correlation",
    oracle="""
WITH daily AS (
    SELECT CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS x,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS y,
           CAST(COUNT(*) AS BIGINT) AS z
    FROM events GROUP BY 1
),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(z) AS BIGINT) AS sz,
           CAST(SUM(x * x) AS BIGINT) AS sxx,
           CAST(SUM(y * y) AS BIGINT) AS syy,
           CAST(SUM(z * z) AS BIGINT) AS szz,
           CAST(SUM(x * y) AS BIGINT) AS sxy,
           CAST(SUM(x * z) AS BIGINT) AS sxz,
           CAST(SUM(y * z) AS BIGINT) AS syz
    FROM daily
),
r AS (
    SELECT n,
           (n * sxy - CAST(sx AS DOUBLE) * sy)
               / (SQRT(n * sxx - CAST(sx AS DOUBLE) * sx)
                  * SQRT(n * syy - CAST(sy AS DOUBLE) * sy)) AS rxy,
           (n * sxz - CAST(sx AS DOUBLE) * sz)
               / (SQRT(n * sxx - CAST(sx AS DOUBLE) * sx)
                  * SQRT(n * szz - CAST(sz AS DOUBLE) * sz)) AS rxz,
           (n * syz - CAST(sy AS DOUBLE) * sz)
               / (SQRT(n * syy - CAST(sy AS DOUBLE) * sy)
                  * SQRT(n * szz - CAST(sz AS DOUBLE) * sz)) AS ryz
    FROM s
)
SELECT n AS n_days, ROUND(rxy, 4) AS r_xy, ROUND(rxz, 4) AS r_xz,
       ROUND(ryz, 4) AS r_yz,
       ROUND((rxy - rxz * ryz)
             / SQRT((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 4)
           AS r_partial
FROM r
""",
    tags=("timeseries", "A12", "J14"),
)
def q334_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of daily purchases vs errors given traffic:
    (n_days, r_xy, r_xz, r_yz, r_partial)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("x"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("y"),
        F.count(F.lit(1)).alias("z"),
    )
    s = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("z").alias("sz"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("z")).alias("sxz"),
        F.sum(F.col("y") * F.col("z")).alias("syz"),
    )

    def corr(sab, sa, sb, saa, sbb):
        n = F.col("n")
        return (n * F.col(sab) - F.col(sa).cast("double") * F.col(sb)) / (
            F.sqrt(n * F.col(saa) - F.col(sa).cast("double") * F.col(sa))
            * F.sqrt(n * F.col(sbb) - F.col(sb).cast("double") * F.col(sb))
        )

    rxy = corr("sxy", "sx", "sy", "sxx", "syy")
    rxz = corr("sxz", "sx", "sz", "sxx", "szz")
    ryz = corr("syz", "sy", "sz", "syy", "szz")
    return s.select(
        F.col("n").cast("long").alias("n_days"),
        F.round(rxy, 4).alias("r_xy"),
        F.round(rxz, 4).alias("r_xz"),
        F.round(ryz, 4).alias("r_yz"),
        F.round(
            (rxy - rxz * ryz)
            / F.sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)),
            4,
        ).alias("r_partial"),
    )


# --------------------------------------------------------------------------
# q336 - MinHash-LSH parameter planner: for each target Jaccard
# threshold, score every (bands b, rows r) layout with b*r <= 64 hash
# budget by detection probability p(t) = 1 - (1 - t^r)^b at the target
# minus the false-candidate probability at j = 0.3, and rank layouts per
# target (score DESC, b ASC). The design-time relation behind q27/q195's
# chosen 4x3 layout — what a data engineer consults before committing a
# signature budget.
# Parity: the (b, r, t) grid is generated identically on both engines
# (range cross products); p and the score are closed-form double
# expressions of small integers (no cross-row accumulation, so no
# freezing needed); rank is deterministic. 4dp.
# Scale: a constant ~dozens-row relation; no input tables at all.
# --------------------------------------------------------------------------
@register(
    "q336_lsh_planner",
    oracle="""
WITH grid AS (
    SELECT b.b, r.r
    FROM (SELECT UNNEST([2, 4, 8, 16, 32]) AS b) b
    CROSS JOIN (SELECT UNNEST([2, 3, 4, 8, 16]) AS r) r
    WHERE b.b * r.r <= 64
),
targets AS (SELECT UNNEST([0.5, 0.7, 0.8, 0.9]) AS t),
scored AS (
    SELECT g.b, g.r, tt.t,
           1.0 - POW(1.0 - POW(tt.t, g.r), g.b) AS p_detect,
           1.0 - POW(1.0 - POW(0.3, g.r), g.b) AS p_fp
    FROM grid g CROSS JOIN targets tt
),
ranked AS (
    SELECT t, b, r, p_detect, p_fp, p_detect - p_fp AS score,
           ROW_NUMBER() OVER (PARTITION BY t
                              ORDER BY p_detect - p_fp DESC, b, r) AS rk
    FROM scored
)
SELECT t AS target_j, CAST(b AS BIGINT) AS bands, CAST(r AS BIGINT) AS rows_per_band,
       ROUND(p_detect, 4) AS p_detect, ROUND(p_fp, 4) AS p_fp,
       ROUND(score, 4) AS score, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 3
ORDER BY target_j, rk
""",
    tags=("dedup-setsim", "capacity", "O6"),
)
def q336_lsh_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 (bands, rows) LSH layouts per target Jaccard threshold:
    (target_j, bands, rows_per_band, p_detect, p_fp, score, rk)."""
    # The design lattice is a CONSTANT: enumerate the (b, r, t) rows as
    # one single-partition literal frame. A crossJoin of literal frames
    # both sprays 18 rows over defaultParallelism^2 tasks and trips the
    # no-cartesian plan pin; there is nothing to distribute here.
    rows = [
        (b, r, t)
        for b in [2, 4, 8, 16, 32]
        for r in [2, 3, 4, 8, 16]
        if b * r <= 64
        for t in [0.5, 0.7, 0.8, 0.9]
    ]
    grid = spark.createDataFrame(
        rows, "b long, r long, t double"
    ).coalesce(1)
    p_detect = 1.0 - F.pow(
        1.0 - F.pow(F.col("t"), F.col("r")), F.col("b")
    )
    p_fp = 1.0 - F.pow(1.0 - F.pow(F.lit(0.3), F.col("r")), F.col("b"))
    scored = grid.select(
        "b",
        "r",
        "t",
        p_detect.alias("p_detect"),
        p_fp.alias("p_fp"),
        (p_detect - p_fp).alias("score"),
    )
    w = Window.partitionBy("t").orderBy(
        F.desc("score"), F.asc("b"), F.asc("r")
    )
    return (
        scored.select(
            F.col("t").alias("target_j"),
            F.col("b").alias("bands"),
            F.col("r").alias("rows_per_band"),
            F.round("p_detect", 4).alias("p_detect"),
            F.round("p_fp", 4).alias("p_fp"),
            F.round("score", 4).alias("score"),
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 3)
        .select(
            "target_j",
            "bands",
            "rows_per_band",
            "p_detect",
            "p_fp",
            F.col("score"),
            F.col("rk").cast("long").alias("rk"),
        )
        .orderBy("target_j", "rk")
    )


# --------------------------------------------------------------------------
# q337 - filter-cascade ordering audit: measure each curation filter's
# real selectivity on the corpus, price it with its relative per-doc
# cost, and rank the cascade by drop-per-cost (1 - sel)/cost DESC — the
# ordering that minimises expected work for independent AND-filters.
# The cost-based-optimizer view of q106/q230's curation funnels: the
# funnels apply stages in a fixed order; this query says what order the
# measured selectivities actually justify.
# Filters: length (n_chars >= 100, cost 1), lang-id table check
# (lang = 'en', cost 1), stopword scan ('the' containment, cost 5),
# tokenize+count (>= 20 tokens, cost 10).
# Parity: pass counts are exact integers from one conditional aggregate;
# selectivity and drop-per-cost are single double expressions, 4dp;
# the rank's tie-break is the filter name.
# Scale: ONE full-table conditional aggregate; the 4-row planning
# relation does everything else.
# --------------------------------------------------------------------------
@register(
    "q337_filter_cascade",
    oracle="""
WITH counts AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END) AS BIGINT)
               AS p_len,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS p_lang,
           CAST(SUM(CASE WHEN ' ' || LOWER(text) || ' ' LIKE '% the %'
                    THEN 1 ELSE 0 END) AS BIGINT) AS p_stop,
           CAST(SUM(CASE WHEN LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                                              x -> x <> '')) >= 20
                    THEN 1 ELSE 0 END) AS BIGINT) AS p_tok
    FROM documents
),
f AS (
    SELECT 'length' AS filter, p_len AS n_pass, 1 AS cost, n FROM counts
    UNION ALL
    SELECT 'lang', p_lang, 1, n FROM counts
    UNION ALL
    SELECT 'stopword', p_stop, 5, n FROM counts
    UNION ALL
    SELECT 'tokens', p_tok, 10, n FROM counts
)
SELECT filter, n_pass,
       ROUND(CAST(n_pass AS DOUBLE) / n, 4) AS sel,
       CAST(cost AS BIGINT) AS cost,
       ROUND((1.0 - CAST(n_pass AS DOUBLE) / n) / cost, 4) AS drop_per_cost,
       CAST(ROW_NUMBER() OVER (
           ORDER BY (1.0 - CAST(n_pass AS DOUBLE) / n) / cost DESC, filter)
           AS BIGINT) AS opt_rank
FROM f
ORDER BY opt_rank
""",
    tags=("training-prep", "capacity", "P12"),
)
def q337_filter_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selectivity-measured cascade ordering for four curation filters:
    (filter, n_pass, sel, cost, drop_per_cost, opt_rank)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = text_analysis.tokens_raw("text")
    counts = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("n_chars") >= 100).cast("long")).alias("p_len"),
        F.sum((F.col("lang") == "en").cast("long")).alias("p_lang"),
        F.sum(
            F.concat(F.lit(" "), F.lower("text"), F.lit(" "))
            .contains(" the ")
            .cast("long")
        ).alias("p_stop"),
        F.sum((F.size(toks) >= 20).cast("long")).alias("p_tok"),
    )
    f = counts.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("length").alias("filter"),
                    F.col("p_len").alias("n_pass"),
                    F.lit(1).cast("long").alias("cost"),
                    F.col("n"),
                ),
                F.struct(
                    F.lit("lang").alias("filter"),
                    F.col("p_lang").alias("n_pass"),
                    F.lit(1).cast("long").alias("cost"),
                    F.col("n"),
                ),
                F.struct(
                    F.lit("stopword").alias("filter"),
                    F.col("p_stop").alias("n_pass"),
                    F.lit(5).cast("long").alias("cost"),
                    F.col("n"),
                ),
                F.struct(
                    F.lit("tokens").alias("filter"),
                    F.col("p_tok").alias("n_pass"),
                    F.lit(10).cast("long").alias("cost"),
                    F.col("n"),
                ),
            )
        ).alias("r")
    ).select("r.*")
    dpc = (1.0 - F.col("n_pass").cast("double") / F.col("n")) / F.col("cost")
    w = Window.orderBy(F.desc(dpc), F.asc("filter"))
    return (
        f.select(
            "filter",
            F.col("n_pass").cast("long").alias("n_pass"),
            F.round(F.col("n_pass").cast("double") / F.col("n"), 4).alias(
                "sel"
            ),
            "cost",
            F.round(dpc, 4).alias("drop_per_cost"),
            F.row_number().over(w).cast("long").alias("opt_rank"),
        )
        .orderBy("opt_rank")
    )


# --------------------------------------------------------------------------
# q338 - Jarque-Bera normality test of the value distribution per event
# type: skewness, excess kurtosis, and JB = n/6 * (g1^2 + g2^2/4) from
# exact integer power sums. The distribution-shape gate behind q144's
# summary stats — "is this metric even plausibly normal before anyone
# runs a t-test on it?"
# Parity: values frozen to round(100*value) (<= ~5e4 here, so v^4 fits a
# 64-bit per-row product); power sums accumulate exactly (Spark
# DECIMAL(38,0), DuckDB HUGEINT) and cast to double once; every moment /
# statistic is a single double expression over (n, s1..s4), 4dp.
# Scale: one map-side-combinable keyed aggregate; nothing row-scaled
# afterwards.
# --------------------------------------------------------------------------
@register(
    "q338_jarque_bera",
    oracle="""
WITH frozen AS (
    SELECT event_type, CAST(ROUND(100.0 * value) AS BIGINT) AS v
    FROM events
),
s AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(v) AS DOUBLE) AS s1,
           CAST(SUM(v * v) AS DOUBLE) AS s2,
           CAST(SUM(v * v * v) AS DOUBLE) AS s3,
           CAST(SUM((v * v) * (v * v)) AS DOUBLE) AS s4
    FROM frozen GROUP BY event_type
),
m AS (
    SELECT event_type, n,
           s2 / n - (s1 / n) * (s1 / n) AS m2,
           s3 / n - 3.0 * (s1 / n) * (s2 / n)
               + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
           s4 / n - 4.0 * (s1 / n) * (s3 / n)
               + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
               - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
    FROM s
),
g AS (
    SELECT event_type, n,
           m3 / (m2 * SQRT(m2)) AS g1,
           m4 / (m2 * m2) - 3.0 AS g2
    FROM m
)
SELECT event_type, n,
       ROUND(g1, 4) AS skewness,
       ROUND(g2, 4) AS ex_kurtosis,
       ROUND(CAST(n AS DOUBLE) / 6.0 * (g1 * g1 + g2 * g2 / 4.0), 4) AS jb
FROM g
ORDER BY event_type
""",
    tags=("ab-test", "A12"),
)
def q338_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality statistic per event type from exact integer
    power sums: (event_type, n, skewness, ex_kurtosis, jb)."""
    events = load_table(spark, sf_dir, "events")
    frozen = events.select(
        "event_type",
        F.round(100.0 * F.col("value")).cast("long").alias("v"),
    )
    v = F.col("v")
    v2 = v * v
    s = frozen.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v.cast("decimal(38,0)")).cast("double").alias("s1"),
        F.sum(v2.cast("decimal(38,0)")).cast("double").alias("s2"),
        F.sum((v2 * v).cast("decimal(38,0)")).cast("double").alias("s3"),
        F.sum(
            (v2.cast("decimal(19,0)") * v2.cast("decimal(19,0)")).cast(
                "decimal(38,0)"
            )
        )
        .cast("double")
        .alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - 3.0 * mu * (F.col("s2") / n) + 2.0 * mu * mu * mu
    m4 = (
        F.col("s4") / n
        - 4.0 * mu * (F.col("s3") / n)
        + 6.0 * mu * mu * (F.col("s2") / n)
        - 3.0 * mu * mu * mu * mu
    )
    g = s.select(
        "event_type",
        n.cast("long").alias("n"),
        (m3 / (m2 * F.sqrt(m2))).alias("g1"),
        (m4 / (m2 * m2) - 3.0).alias("g2"),
    )
    return g.select(
        "event_type",
        "n",
        F.round("g1", 4).alias("skewness"),
        F.round("g2", 4).alias("ex_kurtosis"),
        F.round(
            F.col("n").cast("double")
            / 6.0
            * (
                F.col("g1") * F.col("g1")
                + F.col("g2") * F.col("g2") / 4.0
            ),
            4,
        ).alias("jb"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# q353 - Tukey HSD post-hoc pairwise comparisons after q332's one-way
# ANOVA (n_chars by lang): for every language pair, the studentized-range
# statistic q = |mean_i - mean_j| / sqrt(MSW/2 * (1/n_i + 1/n_j)) with
# the pooled within-group mean square. The "WHICH groups differ" readout
# an omnibus F can't give.
# Parity: per-group n/Sx/Sxx are exact integers; SSW uses the exact
# identity SSW = sum_i (Sxx_i - Sx_i^2/n_i) evaluated as one double
# expression per group frozen to round(1e4*term) before the cross-group
# sum; means, MSW and q are single double expressions. 4dp.
# Scale: one (lang) keyed aggregate; the pair lattice is the bounded
# lang dim squared (~tens of rows) with the 1-row MSW broadcast.
# --------------------------------------------------------------------------
@register(
    "q353_tukey_hsd",
    oracle="""
WITH g AS (
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS sx,
           CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx
    FROM documents GROUP BY lang
),
ssw AS (
    SELECT CAST(SUM(CAST(ROUND(10000.0 *
               (sxx - CAST(sx AS DOUBLE) * sx / n)) AS BIGINT)) AS BIGINT)
               AS ssw_t,
           CAST(SUM(n) AS BIGINT) AS nn,
           CAST(COUNT(*) AS BIGINT) AS k
    FROM g
),
msw AS (
    SELECT ssw_t / 10000.0 / (nn - k) AS msw FROM ssw
)
SELECT a.lang AS lang_a, b.lang AS lang_b, a.n AS n_a, b.n AS n_b,
       ROUND(CAST(a.sx AS DOUBLE) / a.n
             - CAST(b.sx AS DOUBLE) / b.n, 4) AS mean_diff,
       ROUND(ABS(CAST(a.sx AS DOUBLE) / a.n - CAST(b.sx AS DOUBLE) / b.n)
             / SQRT(m.msw / 2.0 * (1.0 / a.n + 1.0 / b.n)), 4) AS q_stat
FROM g a JOIN g b ON a.lang < b.lang
CROSS JOIN msw m
ORDER BY lang_a, lang_b
""",
    tags=("inferential", "A12", "J15"),
)
def q353_tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey HSD pairwise studentized-range statistics for n_chars by
    lang: (lang_a, lang_b, n_a, n_b, mean_diff, q_stat)."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("sx"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("sxx"),
    )
    ssw = g.agg(
        F.sum(
            F.round(
                10000.0
                * (
                    F.col("sxx")
                    - F.col("sx").cast("double") * F.col("sx") / F.col("n")
                )
            ).cast("long")
        ).alias("ssw_t"),
        F.sum("n").alias("nn"),
        F.count(F.lit(1)).alias("k"),
    )
    msw = ssw.select(
        (F.col("ssw_t") / 10000.0 / (F.col("nn") - F.col("k"))).alias("msw")
    )
    a = g.select(
        F.col("lang").alias("lang_a"),
        F.col("n").alias("n_a"),
        F.col("sx").alias("sx_a"),
    )
    b = g.select(
        F.col("lang").alias("lang_b"),
        F.col("n").alias("n_b"),
        F.col("sx").alias("sx_b"),
    )
    mean_a = F.col("sx_a").cast("double") / F.col("n_a")
    mean_b = F.col("sx_b").cast("double") / F.col("n_b")
    return (
        a.join(F.broadcast(b), F.col("lang_a") < F.col("lang_b"))
        .crossJoin(F.broadcast(msw))
        .select(
            "lang_a",
            "lang_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(mean_a - mean_b, 4).alias("mean_diff"),
            F.round(
                F.abs(mean_a - mean_b)
                / F.sqrt(
                    F.col("msw")
                    / 2.0
                    * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
                ),
                4,
            ).alias("q_stat"),
        )
        .orderBy("lang_a", "lang_b")
    )


# --------------------------------------------------------------------------
# q360 - A/B sample-size / MDE planner anchored to the OBSERVED
# conversion baseline: with p0 = the measured click->purchase rate, for
# each candidate per-arm sample size n, the minimum detectable absolute
# effect at alpha = 0.05 (two-sided), power = 0.80 under the two-
# proportion normal approximation: MDE solves
# mde = (z_a*sqrt(2*p0(1-p0)) + z_b*sqrt(p0(1-p0) + p(1-p)))/sqrt(n)
# iterated twice from p = p0 (the standard fixed-point refinement,
# unrolled so both engines run the identical two steps). The design
# relation consulted BEFORE q175's test readout and q264's sequential
# monitor.
# Parity: p0 is one ratio of exact integer counts; the candidate grid is
# a literal single-partition frame; the MDE is a fixed unrolled double
# expression. 4dp.
# Scale: two user-keyed aggregates for the baseline; the planner runs on
# a 6-row constant grid.
# --------------------------------------------------------------------------
@register(
    "q360_power_planner",
    oracle="""
WITH clickers AS (
    SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
),
buyers AS (
    SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
),
base AS (
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM clickers) AS n_click,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM clickers c JOIN buyers b ON b.user_id = c.user_id)
               AS n_conv
),
grid AS (SELECT UNNEST([1000, 5000, 10000, 50000, 100000, 500000]) AS n),
p0 AS (SELECT CAST(n_conv AS DOUBLE) / n_click AS p, n_click, n_conv
       FROM base),
step1 AS (
    SELECT g.n, p0.p, p0.n_click, p0.n_conv,
           (1.959964 * SQRT(2.0 * p0.p * (1.0 - p0.p))
            + 0.841621 * SQRT(2.0 * p0.p * (1.0 - p0.p))) / SQRT(g.n)
               AS mde1
    FROM grid g CROSS JOIN p0
)
SELECT CAST(n AS BIGINT) AS n_per_arm, n_click, n_conv,
       ROUND(p, 4) AS baseline_rate,
       ROUND((1.959964 * SQRT(2.0 * p * (1.0 - p))
              + 0.841621 * SQRT(p * (1.0 - p)
                                + (p + mde1) * (1.0 - p - mde1)))
             / SQRT(n), 4) AS mde_abs
FROM step1
ORDER BY n_per_arm
""",
    tags=("inferential", "capacity", "A12"),
)
def q360_power_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect per candidate A/B arm size at the
    observed click->purchase baseline:
    (n_per_arm, n_click, n_conv, baseline_rate, mde_abs)."""
    events = load_table(spark, sf_dir, "events")
    clickers = (
        events.filter(F.col("event_type") == "click")
        .select("user_id")
        .distinct()
    )
    buyers = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
    )
    base = clickers.agg(F.count(F.lit(1)).alias("n_click")).crossJoin(
        clickers.join(buyers, "user_id")
        .agg(F.count(F.lit(1)).alias("n_conv"))
    )
    grid = spark.createDataFrame(
        [(n,) for n in (1000, 5000, 10000, 50000, 100000, 500000)],
        "n long",
    ).coalesce(1)
    za, zb = 1.959964, 0.841621
    p = F.col("n_conv").cast("double") / F.col("n_click")
    mde1 = (
        za * F.sqrt(2.0 * p * (1.0 - p)) + zb * F.sqrt(2.0 * p * (1.0 - p))
    ) / F.sqrt(F.col("n"))
    step1 = grid.crossJoin(F.broadcast(base)).select(
        "n", "n_click", "n_conv", p.alias("p"), mde1.alias("mde1")
    )
    mde = (
        za * F.sqrt(2.0 * F.col("p") * (1.0 - F.col("p")))
        + zb
        * F.sqrt(
            F.col("p") * (1.0 - F.col("p"))
            + (F.col("p") + F.col("mde1"))
            * (1.0 - F.col("p") - F.col("mde1"))
        )
    ) / F.sqrt(F.col("n"))
    return step1.select(
        F.col("n").alias("n_per_arm"),
        "n_click",
        "n_conv",
        F.round("p", 4).alias("baseline_rate"),
        F.round(mde, 4).alias("mde_abs"),
    ).orderBy("n_per_arm")


# --------------------------------------------------------------------------
# q362 - anomaly-vote ensemble over the per-type daily count series: the
# z-score detector (|z| > 2, q153's family), the Hampel/MAD detector
# (|x - med| > 3*1.4826*MAD, q342's), and the Tukey-fence detector
# (outside [q1 - 1.5*IQR, q3 + 1.5*IQR], q219's) each vote per
# (type, day); the ensemble flags days with >= 2 votes. Single detectors
# disagree exactly where anomalies are ambiguous - the vote is what a
# production alerting pipeline actually pages on.
# Parity: counts are integers; mean/std votes compare round(1e4*|z|)
# (the q342 freezing discipline); medians/quartiles of integer counts
# are exact multiples of 0.25 on both engines; every fence comparison is
# made on frozen integer sides. Output is all-integer votes.
# Scale: one (type, day) aggregate; per-type stats are keyed aggregates
# over the calendar-bounded relation broadcast back.
# --------------------------------------------------------------------------
@register(
    "q362_anomaly_ensemble",
    oracle="""
WITH daily AS (
    SELECT event_type,
           CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY 1, 2
),
st AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(x * x) AS BIGINT) AS sxx,
           QUANTILE_CONT(CAST(x AS DOUBLE), 0.5) AS med,
           QUANTILE_CONT(CAST(x AS DOUBLE), 0.25) AS q1,
           QUANTILE_CONT(CAST(x AS DOUBLE), 0.75) AS q3
    FROM daily GROUP BY event_type
),
mad AS (
    SELECT d.event_type,
           QUANTILE_CONT(ABS(CAST(d.x AS DOUBLE) - s.med), 0.5) AS mad
    FROM daily d JOIN st s ON s.event_type = d.event_type
    GROUP BY d.event_type
),
votes AS (
    SELECT d.event_type, CAST(d.day AS VARCHAR) AS day, d.x,
           CAST(CASE WHEN CAST(ROUND(10000.0 * ABS(d.x - CAST(s.sx AS DOUBLE) / s.n)
                     / SQRT((s.n * CAST(s.sxx AS DOUBLE) - CAST(s.sx AS DOUBLE) * s.sx)
                            / (CAST(s.n AS DOUBLE) * (s.n - 1)))) AS BIGINT)
                     > 20000 THEN 1 ELSE 0 END AS BIGINT) AS v_z,
           CAST(CASE WHEN CAST(ROUND(10000.0 * ABS(d.x - s.med)) AS BIGINT)
                     > CAST(ROUND(10000.0 * (3.0 * 1.4826 * m.mad)) AS BIGINT)
                     THEN 1 ELSE 0 END AS BIGINT) AS v_mad,
           CAST(CASE WHEN CAST(ROUND(10000.0 * d.x) AS BIGINT)
                       < CAST(ROUND(10000.0 * (s.q1 - 1.5 * (s.q3 - s.q1))) AS BIGINT)
                     OR CAST(ROUND(10000.0 * d.x) AS BIGINT)
                       > CAST(ROUND(10000.0 * (s.q3 + 1.5 * (s.q3 - s.q1))) AS BIGINT)
                     THEN 1 ELSE 0 END AS BIGINT) AS v_iqr
    FROM daily d
    JOIN st s ON s.event_type = d.event_type
    JOIN mad m ON m.event_type = d.event_type
)
SELECT event_type, day, x, v_z, v_mad, v_iqr,
       CAST(CASE WHEN v_z + v_mad + v_iqr >= 2 THEN 1 ELSE 0 END AS BIGINT)
           AS is_anomaly
FROM votes
WHERE v_z + v_mad + v_iqr >= 1
ORDER BY event_type, day
""",
    tags=("timeseries", "W4", "A12"),
)
def q362_anomaly_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-of-three anomaly vote (z / MAD / Tukey fence) on per-type
    daily counts: (event_type, day, x, v_z, v_mad, v_iqr, is_anomaly);
    only voted days are emitted."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("day"),
    ).agg(F.count(F.lit(1)).alias("x"))
    st = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.expr("percentile(CAST(x AS DOUBLE), 0.5)").alias("med"),
        F.expr("percentile(CAST(x AS DOUBLE), 0.25)").alias("q1"),
        F.expr("percentile(CAST(x AS DOUBLE), 0.75)").alias("q3"),
    )
    mad = (
        daily.join(st.select("event_type", "med"), "event_type")
        .groupBy("event_type")
        .agg(
            F.expr(
                "percentile(ABS(CAST(x AS DOUBLE) - med), 0.5)"
            ).alias("mad")
        )
    )
    j = daily.join(F.broadcast(st), "event_type").join(
        F.broadcast(mad), "event_type"
    )
    std = F.sqrt(
        (
            F.col("n") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx")
        )
        / (F.col("n").cast("double") * (F.col("n") - 1))
    )
    v_z = (
        F.round(
            10000.0
            * F.abs(
                F.col("x") - F.col("sx").cast("double") / F.col("n")
            )
            / std
        ).cast("long")
        > 20000
    ).cast("long")
    v_mad = (
        F.round(10000.0 * F.abs(F.col("x") - F.col("med"))).cast("long")
        > F.round(10000.0 * (3.0 * 1.4826 * F.col("mad"))).cast("long")
    ).cast("long")
    iqr = F.col("q3") - F.col("q1")
    v_iqr = (
        (
            F.round(10000.0 * F.col("x")).cast("long")
            < F.round(10000.0 * (F.col("q1") - 1.5 * iqr)).cast("long")
        )
        | (
            F.round(10000.0 * F.col("x")).cast("long")
            > F.round(10000.0 * (F.col("q3") + 1.5 * iqr)).cast("long")
        )
    ).cast("long")
    votes = j.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "x",
        v_z.alias("v_z"),
        v_mad.alias("v_mad"),
        v_iqr.alias("v_iqr"),
    )
    return (
        votes.withColumn(
            "is_anomaly",
            (
                F.col("v_z") + F.col("v_mad") + F.col("v_iqr") >= 2
            ).cast("long"),
        )
        .filter(F.col("v_z") + F.col("v_mad") + F.col("v_iqr") >= 1)
        .orderBy("event_type", "day")
    )


# --------------------------------------------------------------------------
# q368 - Friedman test over the (day x event type) block design: within
# each day, rank the k event types by their daily counts (average ranks
# on ties, zero-filled missing cells so every block is complete);
# Q = 12/(n*k*(k+1)) * sum R_j^2 - 3n(k+1), with the tie-corrected
# Q_c = Q / (1 - sum_b T_b / (n*k*(k^2-1))), T_b = sum(t^3 - t) over each
# block's tie groups. The within-block companion to q315's
# Kruskal-Wallis (between-group): "do event types keep a consistent
# volume ORDERING day after day".
# Parity: average ranks are exact multiples of 0.5 - doubled ranks are
# exact integers (min-rank window + tie-group size), so rank sums, tie
# terms and Q are integer algebra with one double expression at the end.
# 4dp.
# Scale: one (type, day) aggregate, a day-dim x type-dim zero-fill grid
# (calendar x type bounded), partitioned rank windows per day - never a
# global sort.
# --------------------------------------------------------------------------
@register(
    "q368_friedman_test",
    oracle="""
WITH daily AS (
    SELECT event_type,
           CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY 1, 2
),
grid AS (
    SELECT d.day, t.event_type, COALESCE(c.x, 0) AS x
    FROM (SELECT DISTINCT day FROM daily) d
    CROSS JOIN (SELECT DISTINCT event_type FROM daily) t
    LEFT JOIN daily c ON c.day = d.day AND c.event_type = t.event_type
),
ranked AS (
    SELECT day, event_type, x,
           CAST(RANK() OVER (PARTITION BY day ORDER BY x) AS BIGINT)
               AS min_rk,
           CAST(COUNT(*) OVER (PARTITION BY day, x) AS BIGINT) AS tie_n
    FROM grid
),
r2 AS (
    SELECT day, event_type,
           2 * min_rk + tie_n - 1 AS dbl_rank, tie_n
    FROM ranked
),
dims AS (
    SELECT CAST(COUNT(DISTINCT day) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k
    FROM grid
),
rsums AS (
    SELECT event_type, CAST(SUM(dbl_rank) AS BIGINT) AS r2sum
    FROM r2 GROUP BY event_type
),
tt AS (
    SELECT CAST(SUM(tie_n * tie_n * tie_n - tie_n) AS BIGINT) AS t_sum
    FROM (SELECT DISTINCT day, x, tie_n FROM ranked) g
),
q AS (
    SELECT d.n, d.k,
           12.0 / (d.n * d.k * (d.k + 1))
               * SUM((CAST(r.r2sum AS DOUBLE) / 2)
                     * (CAST(r.r2sum AS DOUBLE) / 2))
               - 3.0 * d.n * (d.k + 1) AS q_stat,
           MAX(t.t_sum) AS t_sum
    FROM rsums r CROSS JOIN dims d CROSS JOIN tt t
    GROUP BY d.n, d.k
)
SELECT r.event_type, r.r2sum / 2.0 AS rank_sum,
       ROUND(r.r2sum / 2.0 / q.n, 4) AS mean_rank,
       ROUND(q.q_stat, 4) AS q_stat,
       ROUND(q.q_stat
             / (1.0 - CAST(q.t_sum AS DOUBLE)
                      / (q.n * q.k * (q.k * q.k - 1))), 4) AS q_corrected
FROM rsums r CROSS JOIN q
ORDER BY event_type
""",
    tags=("inferential", "W2", "A12"),
)
def q368_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman within-day rank test of event-type volumes:
    (event_type, rank_sum, mean_rank, q_stat, q_corrected)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("day"),
    ).agg(F.count(F.lit(1)).alias("x"))
    days = daily.select("day").distinct()
    types = daily.select("event_type").distinct()
    grid = (
        days.crossJoin(F.broadcast(types))
        .join(daily, ["day", "event_type"], "left")
        .select(
            "day", "event_type", F.coalesce("x", F.lit(0)).alias("x")
        )
    )
    wday = Window.partitionBy("day").orderBy("x")
    wtie = Window.partitionBy("day", "x")
    ranked = grid.select(
        "day",
        "event_type",
        "x",
        F.rank().over(wday).cast("long").alias("min_rk"),
        F.count(F.lit(1)).over(wtie).cast("long").alias("tie_n"),
    )
    r2 = ranked.select(
        "day",
        "event_type",
        (2 * F.col("min_rk") + F.col("tie_n") - 1).alias("dbl_rank"),
        "tie_n",
        "x",
    )
    dims = grid.agg(
        F.countDistinct("day").alias("n"),
        F.countDistinct("event_type").alias("k"),
    )
    rsums = r2.groupBy("event_type").agg(
        F.sum("dbl_rank").alias("r2sum")
    )
    tsum = (
        ranked.select("day", "x", "tie_n")
        .distinct()
        .agg(
            F.sum(
                F.col("tie_n") * F.col("tie_n") * F.col("tie_n")
                - F.col("tie_n")
            ).alias("t_sum")
        )
    )
    qrow = (
        rsums.crossJoin(F.broadcast(dims))
        .crossJoin(F.broadcast(tsum))
        .groupBy("n", "k", "t_sum")
        .agg(
            (
                12.0
                / (F.col("n") * F.col("k") * (F.col("k") + 1))
                * F.sum(
                    (F.col("r2sum").cast("double") / 2)
                    * (F.col("r2sum").cast("double") / 2)
                )
                - 3.0 * F.col("n") * (F.col("k") + 1)
            ).alias("q_stat")
        )
    )
    return (
        rsums.crossJoin(F.broadcast(qrow))
        .select(
            "event_type",
            (F.col("r2sum") / 2.0).alias("rank_sum"),
            F.round(F.col("r2sum") / 2.0 / F.col("n"), 4).alias(
                "mean_rank"
            ),
            F.round("q_stat", 4).alias("q_stat"),
            F.round(
                F.col("q_stat")
                / (
                    1.0
                    - F.col("t_sum").cast("double")
                    / (
                        F.col("n")
                        * F.col("k")
                        * (F.col("k") * F.col("k") - 1)
                    )
                ),
                4,
            ).alias("q_corrected"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q386 - survey raking (iterative proportional fitting): weight an
# md5-half-sample of documents so its (source, lang) cell estimates hit
# the FULL corpus margins - 3 IPF rounds, each scaling weights to the
# source margins then the lang margins. The calibration tool behind
# every "reweight the sample to the population" ask (q216's DSIR is the
# importance-sampling cousin; this is the classic two-margin version).
# Parity: cell counts and targets are exact integers; weights live as
# micro-ints, rescaled once per margin pass with a single double ratio
# and refrozen (round(w * T/cur)) - both engines walk identical weight
# vectors; fit errors are exact integer differences of frozen masses.
# Scale: the sample is a hash predicate (no shuffle); cells are a
# (source, lang) aggregate (~100 rows); every IPF round is two keyed
# scalings of that bounded relation with 1-row broadcast margins.
# --------------------------------------------------------------------------
_IPF_ROUNDS = 3


def _ipf_ctes() -> str:
    parts = []
    prev = "cells0"
    for i in range(1, _IPF_ROUNDS + 1):
        parts.append(f"""rmar{i} AS (
    SELECT source, CAST(SUM(n * w) AS BIGINT) AS cur
    FROM {prev} GROUP BY source
),
rstep{i} AS (
    SELECT c.source, c.lang, c.n,
           CAST(ROUND(CAST(c.w AS DOUBLE) * ts.t / rm.cur)
                AS BIGINT) AS w
    FROM {prev} c
    JOIN rmar{i} rm ON rm.source = c.source
    JOIN tsrc ts ON ts.source = c.source
),
cmar{i} AS (
    SELECT lang, CAST(SUM(n * w) AS BIGINT) AS cur
    FROM rstep{i} GROUP BY lang
),
cells{i} AS (
    SELECT c.source, c.lang, c.n,
           CAST(ROUND(CAST(c.w AS DOUBLE) * tl.t / cm.cur)
                AS BIGINT) AS w
    FROM rstep{i} c
    JOIN cmar{i} cm ON cm.lang = c.lang
    JOIN tlang tl ON tl.lang = c.lang
)""")
        prev = f"cells{i}"
    return ",\n".join(parts)


@register(
    "q386_ipf_raking",
    oracle=f"""
WITH sample AS (
    SELECT source, lang FROM documents
    WHERE ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
          % 2 = 0
),
cells0 AS (
    SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(1000000 AS BIGINT) AS w
    FROM sample GROUP BY source, lang
),
tsrc AS (
    SELECT source, CAST(COUNT(*) * 1000000 AS BIGINT) AS t
    FROM documents
    WHERE lang IN (SELECT DISTINCT lang FROM sample)
      AND source IN (SELECT DISTINCT source FROM sample)
    GROUP BY source
),
tlang AS (
    SELECT lang, CAST(COUNT(*) * 1000000 AS BIGINT) AS t
    FROM documents
    WHERE lang IN (SELECT DISTINCT lang FROM sample)
      AND source IN (SELECT DISTINCT source FROM sample)
    GROUP BY lang
),
{_ipf_ctes()}
SELECT c.source, c.lang, c.n AS n_sample,
       ROUND(c.w / 1000000.0, 4) AS weight,
       ROUND(c.n * c.w / 1000000.0, 4) AS est_mass
FROM cells{_IPF_ROUNDS} c
ORDER BY source, lang
""",
    tags=("inferential", "training-prep", "A13"),
)
def q386_ipf_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPF/raking weights calibrating an md5-half-sample to full-corpus
    (source, lang) margins: (source, lang, n_sample, weight,
    est_mass)."""
    docs = load_table(spark, sf_dir, "documents")
    half = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 2
        == 0
    )
    sample = docs.filter(half).select("source", "lang")
    cells = sample.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n")
    ).withColumn("w", F.lit(1000000).cast("long"))

    s_src = sample.select("source").distinct()
    s_lang = sample.select("lang").distinct()
    pop = docs.join(F.broadcast(s_src), "source").join(
        F.broadcast(s_lang), "lang"
    )
    tsrc = pop.groupBy("source").agg(
        (F.count(F.lit(1)) * 1000000).cast("long").alias("t_s")
    )
    tlang = pop.groupBy("lang").agg(
        (F.count(F.lit(1)) * 1000000).cast("long").alias("t_l")
    )
    cur = cells
    for _ in range(_IPF_ROUNDS):
        rmar = cur.groupBy("source").agg(
            F.sum(F.col("n") * F.col("w")).cast("long").alias("cur_s")
        )
        cur = (
            cur.join(F.broadcast(rmar), "source")
            .join(F.broadcast(tsrc), "source")
            .select(
                "source",
                "lang",
                "n",
                F.round(
                    F.col("w").cast("double")
                    * F.col("t_s")
                    / F.col("cur_s")
                )
                .cast("long")
                .alias("w"),
            )
        )
        cmar = cur.groupBy("lang").agg(
            F.sum(F.col("n") * F.col("w")).cast("long").alias("cur_l")
        )
        cur = (
            cur.join(F.broadcast(cmar), "lang")
            .join(F.broadcast(tlang), "lang")
            .select(
                "source",
                "lang",
                "n",
                F.round(
                    F.col("w").cast("double")
                    * F.col("t_l")
                    / F.col("cur_l")
                )
                .cast("long")
                .alias("w"),
            )
        )
    return cur.select(
        "source",
        "lang",
        F.col("n").cast("long").alias("n_sample"),
        F.round(F.col("w") / 1000000.0, 4).alias("weight"),
        F.round(F.col("n") * F.col("w") / 1000000.0, 4).alias("est_mass"),
    ).orderBy("source", "lang")


# --------------------------------------------------------------------------
# q388 - capture-recapture population estimate (Chapman's
# Lincoln-Petersen): two deterministic md5 "captures" of the user
# population from DIFFERENT event-type windows (capture 1 = users with
# clicks, capture 2 = users with views), estimate total users as
# (n1+1)(n2+1)/(m+1) - 1 from the overlap m, next to the true count.
# The abundance-estimation companion to q313's Chao1 (which uses
# frequency-of-frequencies; this uses two lists) - the technique behind
# "how many total entities exist given two incomplete extractions".
# Parity: all counts exact; the estimator and its Seber variance are
# single double expressions. 4dp.
# Scale: two distinct aggregates + one semi-join overlap count; 1-row
# output.
# --------------------------------------------------------------------------
@register(
    "q388_capture_recapture",
    oracle="""
WITH c1 AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
c2 AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m
      FROM c1 JOIN c2 ON c2.user_id = c1.user_id),
s AS (
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM c1) AS n1,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c2) AS n2,
           (SELECT m FROM m) AS m,
           (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events)
               AS truth
)
SELECT n1, n2, m, truth,
       ROUND((CAST(n1 + 1 AS DOUBLE)) * (n2 + 1) / (m + 1) - 1.0, 4)
           AS chapman_est,
       ROUND(SQRT((CAST(n1 + 1 AS DOUBLE)) * (n2 + 1) * (n1 - m) * (n2 - m)
                  / ((CAST(m + 1 AS DOUBLE)) * (m + 1) * (m + 2))), 4)
           AS se,
       ROUND(((CAST(n1 + 1 AS DOUBLE)) * (n2 + 1) / (m + 1) - 1.0 - truth)
             / truth, 4) AS rel_err
FROM s
""",
    tags=("inferential", "A10", "P4"),
)
def q388_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimate of the user population from
    the click and view capture lists:
    (n1, n2, m, truth, chapman_est, se, rel_err)."""
    events = load_table(spark, sf_dir, "events")
    c1 = (
        events.filter(F.col("event_type") == "click")
        .select("user_id")
        .distinct()
    )
    c2 = (
        events.filter(F.col("event_type") == "view")
        .select("user_id")
        .distinct()
    )
    s = (
        c1.agg(F.count(F.lit(1)).alias("n1"))
        .crossJoin(c2.agg(F.count(F.lit(1)).alias("n2")))
        .crossJoin(
            c1.join(c2, "user_id").agg(F.count(F.lit(1)).alias("m"))
        )
        .crossJoin(
            events.agg(F.countDistinct("user_id").alias("truth"))
        )
    )
    est = (F.col("n1") + 1).cast("double") * (F.col("n2") + 1) / (
        F.col("m") + 1
    ) - 1.0
    se = F.sqrt(
        (F.col("n1") + 1).cast("double")
        * (F.col("n2") + 1)
        * (F.col("n1") - F.col("m"))
        * (F.col("n2") - F.col("m"))
        / (
            (F.col("m") + 1).cast("double")
            * (F.col("m") + 1)
            * (F.col("m") + 2)
        )
    )
    return s.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.col("m").cast("long").alias("m"),
        F.col("truth").cast("long").alias("truth"),
        F.round(est, 4).alias("chapman_est"),
        F.round(se, 4).alias("se"),
        F.round((est - F.col("truth")) / F.col("truth"), 4).alias(
            "rel_err"
        ),
    )


# --------------------------------------------------------------------------
# q390 - sample-ratio-mismatch (SRM) guard: assign users to two arms by
# the md5 split that a real experiment would use, then chi-square the
# observed arm counts against the designed 50/50 - overall AND per
# signup-week cohort (a per-cohort SRM with a clean overall is the
# classic symptom of a broken assignment cache). The pre-readout gate
# that q175's A/B analysis assumes has already passed.
# Parity: assignment is the shared md5 convention; counts exact;
# chi-square for 2 cells reduces to (n0 - n1)^2 / n - one double; the
# flag compares a frozen round(1e4*chi2) against the 3.841 critical
# value. 4dp.
# Scale: one user-keyed min aggregate (cohort) + one (cohort, arm)
# count; the overall row is a 2-value reduce.
# --------------------------------------------------------------------------
@register(
    "q390_srm_guard",
    oracle="""
WITH users AS (
    SELECT user_id,
           MIN(CAST(FLOOR(EPOCH(CAST(ts AS TIMESTAMP)) / 604800) AS BIGINT))
               AS cw
    FROM events GROUP BY user_id
),
assigned AS (
    SELECT cw,
           CAST(('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 8))
                ::UBIGINT AS BIGINT) % 2 AS arm
    FROM users
),
base AS (SELECT MIN(cw) AS cw0 FROM users),
cells AS (
    SELECT a.cw - b.cw0 AS cohort, a.arm, CAST(COUNT(*) AS BIGINT) AS n
    FROM assigned a CROSS JOIN base b
    GROUP BY a.cw - b.cw0, a.arm
),
per_cohort AS (
    SELECT cohort,
           CAST(SUM(CASE WHEN arm = 0 THEN n ELSE 0 END) AS BIGINT) AS n0,
           CAST(SUM(CASE WHEN arm = 1 THEN n ELSE 0 END) AS BIGINT) AS n1
    FROM cells GROUP BY cohort
),
rows_ AS (
    SELECT CAST(cohort AS VARCHAR) AS scope, n0, n1 FROM per_cohort
    UNION ALL
    SELECT 'overall', CAST(SUM(n0) AS BIGINT), CAST(SUM(n1) AS BIGINT)
    FROM per_cohort
)
SELECT scope, n0, n1,
       ROUND(CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / (n0 + n1), 4)
           AS chi2,
       CAST(CASE WHEN CAST(ROUND(10000.0 * CAST((n0 - n1) * (n0 - n1)
                                                AS DOUBLE) / (n0 + n1))
                      AS BIGINT) > 38410
                 THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
FROM rows_
ORDER BY scope
""",
    tags=("inferential", "quality", "A13"),
)
def q390_srm_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square sample-ratio-mismatch check of the md5 50/50 split,
    overall and per signup-week cohort: (scope, n0, n1, chi2,
    srm_flag)."""
    events = load_table(spark, sf_dir, "events")
    week = (F.unix_timestamp("ts") / 604800).cast("long")
    users = events.groupBy("user_id").agg(F.min(week).alias("cw"))
    assigned = users.select(
        "cw",
        (
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("long")
            % 2
        ).alias("arm"),
    )
    base = users.agg(F.min("cw").alias("cw0"))
    per_cohort = (
        assigned.crossJoin(F.broadcast(base))
        .groupBy((F.col("cw") - F.col("cw0")).alias("cohort"))
        .agg(
            F.sum((F.col("arm") == 0).cast("long")).alias("n0"),
            F.sum((F.col("arm") == 1).cast("long")).alias("n1"),
        )
    )
    overall = per_cohort.agg(
        F.lit("overall").alias("scope"),
        F.sum("n0").cast("long").alias("n0"),
        F.sum("n1").cast("long").alias("n1"),
    )
    rows = per_cohort.select(
        F.col("cohort").cast("string").alias("scope"),
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
    ).unionByName(overall)
    chi2 = ((F.col("n0") - F.col("n1")) * (F.col("n0") - F.col("n1"))).cast(
        "double"
    ) / (F.col("n0") + F.col("n1"))
    return rows.select(
        "scope",
        "n0",
        "n1",
        F.round(chi2, 4).alias("chi2"),
        (F.round(10000.0 * chi2).cast("long") > 38410)
        .cast("long")
        .alias("srm_flag"),
    ).orderBy("scope")


# --------------------------------------------------------------------------
# q391 - robust location trio per event type: the plain mean of `value`
# next to the 10%-trimmed mean (drop values outside the exact
# [p10, p90] band) and the winsorized mean (clamp to that band) - the
# side-by-side that shows how much tail mass is steering the plain mean
# (q86 winsorizes rows; this reports the ESTIMATORS).
# Parity: values are frozen to cents; the p10/p90 bounds are exact
# interpolated percentiles of integers (multiples of lcm denominators
# on both engines); trim membership and clamping compare integers
# against frozen round(1e4*bound) edges; each estimator is one double
# ratio of exact integer sums. 4dp.
# Scale: one (type) percentile aggregate broadcast back, one
# conditional-aggregate pass. No window.
# --------------------------------------------------------------------------
@register(
    "q391_robust_location",
    oracle="""
WITH v AS (
    SELECT event_type, CAST(ROUND(100.0 * value) AS BIGINT) AS c
    FROM events
),
b AS (
    SELECT event_type,
           CAST(ROUND(100.0 * QUANTILE_CONT(CAST(c AS DOUBLE), 0.1))
                AS BIGINT) AS lo4,
           CAST(ROUND(100.0 * QUANTILE_CONT(CAST(c AS DOUBLE), 0.9))
                AS BIGINT) AS hi4
    FROM v GROUP BY event_type
),
j AS (
    SELECT v.event_type, v.c, b.lo4, b.hi4,
           CASE WHEN 100 * v.c < b.lo4 THEN b.lo4
                WHEN 100 * v.c > b.hi4 THEN b.hi4
                ELSE 100 * v.c END AS w4,
           CASE WHEN 100 * v.c >= b.lo4 AND 100 * v.c <= b.hi4
                THEN 1 ELSE 0 END AS inband
    FROM v JOIN b ON b.event_type = v.event_type
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(c) AS DOUBLE) / 100.0 / COUNT(*), 4) AS mean,
       ROUND(CAST(SUM(CASE WHEN inband = 1 THEN c ELSE 0 END) AS DOUBLE)
             / 100.0 / SUM(inband), 4) AS trimmed_mean,
       ROUND(CAST(SUM(w4) AS DOUBLE) / 10000.0 / COUNT(*), 4)
           AS winsorized_mean,
       CAST(COUNT(*) - SUM(inband) AS BIGINT) AS n_clamped
FROM j GROUP BY event_type ORDER BY event_type
""",
    tags=("robust-stats", "A12", "P10"),
)
def q391_robust_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean vs 10%-trimmed vs winsorized mean of event values per type:
    (event_type, n, mean, trimmed_mean, winsorized_mean, n_clamped)."""
    events = load_table(spark, sf_dir, "events")
    v = events.select(
        "event_type",
        F.round(100.0 * F.col("value")).cast("long").alias("c"),
    )
    b = v.groupBy("event_type").agg(
        F.round(100.0 * F.expr("percentile(CAST(c AS DOUBLE), 0.1)"))
        .cast("long")
        .alias("lo4"),
        F.round(100.0 * F.expr("percentile(CAST(c AS DOUBLE), 0.9)"))
        .cast("long")
        .alias("hi4"),
    )
    j = v.join(F.broadcast(b), "event_type").select(
        "event_type",
        "c",
        F.when(100 * F.col("c") < F.col("lo4"), F.col("lo4"))
        .when(100 * F.col("c") > F.col("hi4"), F.col("hi4"))
        .otherwise(100 * F.col("c"))
        .alias("w4"),
        (
            (100 * F.col("c") >= F.col("lo4"))
            & (100 * F.col("c") <= F.col("hi4"))
        )
        .cast("long")
        .alias("inband"),
    )
    return (
        j.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum("c").cast("double") / 100.0 / F.count(F.lit(1)), 4
            ).alias("mean"),
            F.round(
                F.sum(
                    F.when(F.col("inband") == 1, F.col("c")).otherwise(0)
                ).cast("double")
                / 100.0
                / F.sum("inband"),
                4,
            ).alias("trimmed_mean"),
            F.round(
                F.sum("w4").cast("double") / 10000.0 / F.count(F.lit(1)),
                4,
            ).alias("winsorized_mean"),
            (F.count(F.lit(1)) - F.sum("inband"))
            .cast("long")
            .alias("n_clamped"),
        )
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            "mean",
            "trimmed_mean",
            "winsorized_mean",
            "n_clamped",
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q400 - A/B conversion comparison with P(B > A) under the normal
# approximation: per user-parity arm, the share of "high spenders"
# (users whose total purchase value exceeds the global median per-user
# purchase spend - a median split so the rate is non-degenerate at
# every SF), the relative lift, the two-proportion z, and P(B beats A)
# = Phi(z) evaluated with the Abramowitz-Stegun 7.1.26 polynomial - the
# closed-form stand-in for the Beta-posterior Monte Carlo readout
# dashboards report (q175 tests significance; q264 runs the sequential
# boundary; this answers "what's the probability B is better TODAY").
# Parity: per-user spends are frozen to cents; the median is an exact
# interpolated percentile of integers; counts are exact integers;
# p/z/Phi are ONE double expression tree written identically on both
# engines (A-S constants as literals, EXP/SQRT the only libm calls)
# under the final 4dp round.
# Scale: one user-keyed aggregate, one 1-row percentile broadcast, one
# arm aggregate; 1-row output.
# --------------------------------------------------------------------------
_AS_T = "1.0 / (1.0 + 0.2316419 * ABS(z))"
_AS_PHI = (
    "1.0 - EXP(-z * z / 2.0) / SQRT(2.0 * PI()) * "
    "(t * (0.319381530 + t * (-0.356563782 + t * (1.781477937 + "
    "t * (-1.821255978 + 1.330274429 * t)))))"
)


@register(
    "q400_bayes_ab",
    oracle=f"""
WITH spend AS (
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                         THEN CAST(ROUND(100.0 * value) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS cents
    FROM events GROUP BY user_id
),
med AS (
    SELECT QUANTILE_CONT(CAST(cents AS DOUBLE), 0.5) AS med FROM spend
),
arms AS (
    SELECT s.user_id % 2 AS arm,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN s.cents > m.med THEN 1 ELSE 0 END)
                AS BIGINT) AS conv
    FROM spend s CROSS JOIN med m GROUP BY 1
),
w AS (
    SELECT MAX(CASE WHEN arm = 0 THEN n END) AS na,
           MAX(CASE WHEN arm = 0 THEN conv END) AS ca,
           MAX(CASE WHEN arm = 1 THEN n END) AS nb,
           MAX(CASE WHEN arm = 1 THEN conv END) AS cb
    FROM arms
),
zc AS (
    SELECT na, ca, nb, cb,
           (CAST(cb AS DOUBLE) / nb - CAST(ca AS DOUBLE) / na)
           / SQRT((CAST(ca AS DOUBLE) / na) * (1.0 - CAST(ca AS DOUBLE) / na)
                      / na
                  + (CAST(cb AS DOUBLE) / nb)
                      * (1.0 - CAST(cb AS DOUBLE) / nb) / nb) AS z
    FROM w
),
tc AS (SELECT *, {_AS_T} AS t FROM zc)
SELECT na AS n_a, ca AS conv_a, nb AS n_b, cb AS conv_b,
       ROUND((CAST(cb AS DOUBLE) / nb - CAST(ca AS DOUBLE) / na)
             / (CAST(ca AS DOUBLE) / na), 4) AS rel_lift,
       ROUND(z, 4) AS z,
       ROUND(CASE WHEN z >= 0 THEN {_AS_PHI}
                  ELSE 1.0 - ({_AS_PHI.replace('-z * z', '-z * z')}) END,
             4) AS prob_b_beats_a
FROM tc
""",
    tags=("inferential", "abtest", "A10"),
)
def q400_bayes_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion conversion readout with P(B>A):
    (n_a, conv_a, n_b, conv_b, rel_lift, z, prob_b_beats_a)."""
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
    med = spend.agg(
        F.expr("percentile(CAST(cents AS DOUBLE), 0.5)").alias("med")
    )
    arms = (
        spend.crossJoin(F.broadcast(med))
        .groupBy((F.col("user_id") % 2).alias("arm"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum((F.col("cents") > F.col("med")).cast("long"))
            .cast("long")
            .alias("conv"),
        )
    )
    w = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("na"),
        F.max(F.when(F.col("arm") == 0, F.col("conv"))).alias("ca"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("nb"),
        F.max(F.when(F.col("arm") == 1, F.col("conv"))).alias("cb"),
    )
    pa = F.col("ca").cast("double") / F.col("na")
    pb = F.col("cb").cast("double") / F.col("nb")
    zc = w.withColumn(
        "z",
        (pb - pa)
        / F.sqrt(
            pa * (F.lit(1.0) - pa) / F.col("na")
            + pb * (F.lit(1.0) - pb) / F.col("nb")
        ),
    )
    tc = zc.withColumn("t", F.expr(_AS_T))
    phi = F.expr(_AS_PHI)
    return tc.select(
        F.col("na").alias("n_a"),
        F.col("ca").alias("conv_a"),
        F.col("nb").alias("n_b"),
        F.col("cb").alias("conv_b"),
        F.round((pb - pa) / pa, 4).alias("rel_lift"),
        F.round("z", 4).alias("z"),
        F.round(
            F.when(F.col("z") >= 0, phi).otherwise(F.lit(1.0) - phi), 4
        ).alias("prob_b_beats_a"),
    )


# --------------------------------------------------------------------------
# q407 - QQ decile table, odd- vs even-user cohorts: the nine decile
# values of `value` in each cohort side by side with their differences
# - the distribution-shape read that says WHERE two cohorts diverge
# (q305's KS gives one max-gap number; q318's Wasserstein one area;
# this is the plot analysts actually look at, as a relation).
# Parity: values frozen to cents; each decile is an exact interpolated
# percentile of integers (identical linear interpolation on both
# engines); diffs are integer-derived doubles. 4dp.
# Scale: one percentile aggregate per cohort (Spark's percentile over
# cents; no row sort survives the collapse), 9-row output via a
# broadcast decile dim.
# --------------------------------------------------------------------------
@register(
    "q407_qq_deciles",
    oracle="""
WITH v AS (
    SELECT user_id % 2 AS cohort,
           CAST(ROUND(100.0 * value) AS BIGINT) AS c
    FROM events
),
c0 AS (SELECT QUANTILE_CONT(CAST(c AS DOUBLE), 0.1) AS q1, QUANTILE_CONT(CAST(c AS DOUBLE), 0.2) AS q2, QUANTILE_CONT(CAST(c AS DOUBLE), 0.3) AS q3, QUANTILE_CONT(CAST(c AS DOUBLE), 0.4) AS q4, QUANTILE_CONT(CAST(c AS DOUBLE), 0.5) AS q5, QUANTILE_CONT(CAST(c AS DOUBLE), 0.6) AS q6, QUANTILE_CONT(CAST(c AS DOUBLE), 0.7) AS q7, QUANTILE_CONT(CAST(c AS DOUBLE), 0.8) AS q8, QUANTILE_CONT(CAST(c AS DOUBLE), 0.9) AS q9 FROM v WHERE cohort = 0),
c1 AS (SELECT QUANTILE_CONT(CAST(c AS DOUBLE), 0.1) AS q1, QUANTILE_CONT(CAST(c AS DOUBLE), 0.2) AS q2, QUANTILE_CONT(CAST(c AS DOUBLE), 0.3) AS q3, QUANTILE_CONT(CAST(c AS DOUBLE), 0.4) AS q4, QUANTILE_CONT(CAST(c AS DOUBLE), 0.5) AS q5, QUANTILE_CONT(CAST(c AS DOUBLE), 0.6) AS q6, QUANTILE_CONT(CAST(c AS DOUBLE), 0.7) AS q7, QUANTILE_CONT(CAST(c AS DOUBLE), 0.8) AS q8, QUANTILE_CONT(CAST(c AS DOUBLE), 0.9) AS q9 FROM v WHERE cohort = 1)
SELECT * FROM (
SELECT CAST(1 AS BIGINT) AS decile, ROUND(c0.q1 / 100.0, 4) AS q_even,
       ROUND(c1.q1 / 100.0, 4) AS q_odd,
       ROUND((c1.q1 - c0.q1) / 100.0, 4) AS qq_diff
FROM c0 CROSS JOIN c1
UNION ALL
SELECT CAST(2 AS BIGINT) AS decile, ROUND(c0.q2 / 100.0, 4) AS q_even,
       ROUND(c1.q2 / 100.0, 4) AS q_odd,
       ROUND((c1.q2 - c0.q2) / 100.0, 4) AS qq_diff
FROM c0 CROSS JOIN c1
UNION ALL
SELECT CAST(3 AS BIGINT) AS decile, ROUND(c0.q3 / 100.0, 4) AS q_even,
       ROUND(c1.q3 / 100.0, 4) AS q_odd,
       ROUND((c1.q3 - c0.q3) / 100.0, 4) AS qq_diff
FROM c0 CROSS JOIN c1
UNION ALL
SELECT CAST(4 AS BIGINT) AS decile, ROUND(c0.q4 / 100.0, 4) AS q_even,
       ROUND(c1.q4 / 100.0, 4) AS q_odd,
       ROUND((c1.q4 - c0.q4) / 100.0, 4) AS qq_diff
FROM c0 CROSS JOIN c1
UNION ALL
SELECT CAST(5 AS BIGINT) AS decile, ROUND(c0.q5 / 100.0, 4) AS q_even,
       ROUND(c1.q5 / 100.0, 4) AS q_odd,
       ROUND((c1.q5 - c0.q5) / 100.0, 4) AS qq_diff
FROM c0 CROSS JOIN c1
UNION ALL
SELECT CAST(6 AS BIGINT) AS decile, ROUND(c0.q6 / 100.0, 4) AS q_even,
       ROUND(c1.q6 / 100.0, 4) AS q_odd,
       ROUND((c1.q6 - c0.q6) / 100.0, 4) AS qq_diff
FROM c0 CROSS JOIN c1
UNION ALL
SELECT CAST(7 AS BIGINT) AS decile, ROUND(c0.q7 / 100.0, 4) AS q_even,
       ROUND(c1.q7 / 100.0, 4) AS q_odd,
       ROUND((c1.q7 - c0.q7) / 100.0, 4) AS qq_diff
FROM c0 CROSS JOIN c1
UNION ALL
SELECT CAST(8 AS BIGINT) AS decile, ROUND(c0.q8 / 100.0, 4) AS q_even,
       ROUND(c1.q8 / 100.0, 4) AS q_odd,
       ROUND((c1.q8 - c0.q8) / 100.0, 4) AS qq_diff
FROM c0 CROSS JOIN c1
UNION ALL
SELECT CAST(9 AS BIGINT) AS decile, ROUND(c0.q9 / 100.0, 4) AS q_even,
       ROUND(c1.q9 / 100.0, 4) AS q_odd,
       ROUND((c1.q9 - c0.q9) / 100.0, 4) AS qq_diff
FROM c0 CROSS JOIN c1
) ORDER BY decile
""",
    tags=("inferential", "distribution", "A12"),
)
def q407_qq_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort QQ table: (decile, q_even, q_odd, qq_diff)."""
    events = load_table(spark, sf_dir, "events")
    v = events.select(
        (F.col("user_id") % 2).alias("cohort"),
        F.round(100.0 * F.col("value")).cast("long").alias("c"),
    )
    fracs = ", ".join(f"{d / 10.0}" for d in range(1, 10))
    per_cohort = v.groupBy("cohort").agg(
        F.expr(f"percentile(CAST(c AS DOUBLE), array({fracs}))").alias("qs")
    )
    flat = per_cohort.select(
        "cohort", F.posexplode("qs").alias("d0", "qv")
    ).select("cohort", (F.col("d0") + 1).alias("decile"), "qv")
    q = flat.groupBy("decile").agg(
        F.max(F.when(F.col("cohort") == 0, F.col("qv"))).alias("q0"),
        F.max(F.when(F.col("cohort") == 1, F.col("qv"))).alias("q1"),
    )
    return q.select(
        F.col("decile").cast("long").alias("decile"),
        F.round(F.col("q0") / 100.0, 4).alias("q_even"),
        F.round(F.col("q1") / 100.0, 4).alias("q_odd"),
        F.round((F.col("q1") - F.col("q0")) / 100.0, 4).alias("qq_diff"),
    ).orderBy("decile")


# --------------------------------------------------------------------------
# q446 - Wilcoxon signed-rank test on PAIRED user halves: per user, the
# exact integer cent difference between their odd- and even-event-id
# spend; ranks of |d| (tie-averaged) via the q314 score-domain trick -
# one cumulative window over the DISTINCT |d| domain, never a corpus
# rank. The paired complement to q314's two-sample rank-sum: "did the
# same users shift?", robust to the heavy value skew a paired t-test
# chokes on. Zero differences drop per the standard treatment.
# Parity: 2W+ = sum over the domain of pos_v*(2*below_v + t_v + 1) is
# an exact integer (tie-average halves cancel); the tie-corrected z is
# one double expression over four integers, 4dp.
# Scale: one user aggregate, one (|d|)-domain aggregate, one cum window
# over the |d| domain (value-domain bounded - q283/q305's declared
# class, allowlisted), one 1-row reduce.
# --------------------------------------------------------------------------
@register(
    "q446_wilcoxon_signed_rank",
    oracle="""
WITH pairs AS (
    SELECT user_id,
           CAST(SUM(CASE WHEN event_id % 2 = 1
                    THEN CAST(ROUND(100.0 * value) AS BIGINT)
                    ELSE -CAST(ROUND(100.0 * value) AS BIGINT) END)
                AS BIGINT) AS d
    FROM events GROUP BY user_id
),
nz AS (SELECT ABS(d) AS ad, CASE WHEN d > 0 THEN 1 ELSE 0 END AS pos
       FROM pairs WHERE d <> 0),
dom AS (
    SELECT ad, CAST(COUNT(*) AS BIGINT) AS t,
           CAST(SUM(pos) AS BIGINT) AS p
    FROM nz GROUP BY ad
),
cum AS (
    SELECT ad, t, p,
           CAST(COALESCE(SUM(t) OVER (ORDER BY ad
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS BIGINT) AS below
    FROM dom
),
s AS (
    SELECT CAST(SUM(t) AS BIGINT) AS n,
           CAST(SUM(p * (2 * below + t + 1)) AS BIGINT) AS two_w,
           CAST(SUM(t * t * t - t) AS BIGINT) AS ties
    FROM cum
)
SELECT n AS n_pairs, two_w AS two_w_plus,
       ROUND((CAST(two_w AS DOUBLE) - CAST(n AS DOUBLE) * (n + 1) / 2.0)
             / (2.0 * SQRT(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24.0
                           - CAST(ties AS DOUBLE) / 48.0)), 4) AS z
FROM s
""",
    tags=("ab-test", "robust-stats", "A12"),
)
def q446_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired signed-rank z for odd-vs-even per-user spend halves:
    (n_pairs, two_w_plus, z)."""
    events = load_table(spark, sf_dir, "events")
    c = F.round(100.0 * F.col("value")).cast("long")
    pairs = events.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_id") % 2 == 1, c).otherwise(-c)
        ).alias("d")
    )
    nz = pairs.filter(F.col("d") != 0).select(
        F.abs("d").alias("ad"), (F.col("d") > 0).cast("long").alias("pos")
    )
    dom = nz.groupBy("ad").agg(
        F.count(F.lit(1)).alias("t"), F.sum("pos").alias("p")
    )
    w = Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, -1)
    cum = dom.select(
        "ad",
        "t",
        "p",
        F.coalesce(F.sum("t").over(w), F.lit(0)).alias("below"),
    )
    s = cum.agg(
        F.sum("t").alias("n"),
        F.sum(F.col("p") * (2 * F.col("below") + F.col("t") + 1)).alias("two_w"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("ties"),
    )
    n = F.col("n").cast("double")
    return s.select(
        F.col("n").cast("long").alias("n_pairs"),
        F.col("two_w").cast("long").alias("two_w_plus"),
        F.round(
            (F.col("two_w").cast("double") - n * (F.col("n") + 1) / 2.0)
            / (
                F.lit(2.0)
                * F.sqrt(
                    n * (F.col("n") + 1) * (2 * F.col("n") + 1) / 24.0
                    - F.col("ties").cast("double") / 48.0
                )
            ),
            4,
        ).alias("z"),
    )


# --------------------------------------------------------------------------
# q450 - two-way fixed-effects (within) estimator: effect of WEEKEND on
# a user's daily spend with user AND week fixed effects - the panel
# regression that generalises q284's 2x2 diff-in-diff to many units and
# periods. beta = sum(x~ y~) / sum(x~^2) over (user, day) cells, where
# x~ = x - xbar_user - xbar_week + xbar is the standard two-way within
# transformation (the TWFE estimator as defined for the demeaned
# design; exact for balanced panels, the estimator-of-record either
# way). Weekend from tz-free epoch-day arithmetic ((d + 3) % 7 >= 5).
# Parity: cell spends and all group counts are exact integers; the
# demeaning means are integer ratios; each cell's x~y~ and x~^2 terms
# are micro-rounded BIGINTs before summing (order-safe); beta is one
# double ratio.
# Scale: one (user, day) corpus aggregate; user means are a user-keyed
# aggregate joined back on the cell's own key (co-partitioned); week
# and global means are calendar-bounded broadcasts. No windows.
# --------------------------------------------------------------------------
@register(
    "q450_twfe_weekend",
    oracle="""
WITH cells AS (
    SELECT user_id AS u,
           CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 86400 AS d,
           CAST(SUM(CAST(ROUND(100.0 * value) AS BIGINT)) AS BIGINT) AS y
    FROM events GROUP BY 1, 2
),
lab AS (
    SELECT u, d, y, d // 7 AS w,
           CASE WHEN (d + 3) % 7 >= 5 THEN 1 ELSE 0 END AS x
    FROM cells
),
mu AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS nu, CAST(SUM(x) AS BIGINT) AS sxu,
              CAST(SUM(y) AS BIGINT) AS syu FROM lab GROUP BY u),
mw AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS nw, CAST(SUM(x) AS BIGINT) AS sxw,
              CAST(SUM(y) AS BIGINT) AS syw FROM lab GROUP BY w),
mg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
              CAST(SUM(y) AS BIGINT) AS sy FROM lab),
demeaned AS (
    SELECT l.x - CAST(mu.sxu AS DOUBLE) / mu.nu
               - CAST(mw.sxw AS DOUBLE) / mw.nw
               + CAST(mg.sx AS DOUBLE) / mg.n AS xt,
           l.y - CAST(mu.syu AS DOUBLE) / mu.nu
               - CAST(mw.syw AS DOUBLE) / mw.nw
               + CAST(mg.sy AS DOUBLE) / mg.n AS yt
    FROM lab l JOIN mu ON mu.u = l.u JOIN mw ON mw.w = l.w CROSS JOIN mg
),
terms AS (
    SELECT CAST(ROUND(1000000.0 * xt * yt) AS BIGINT) AS xy_u,
           CAST(ROUND(1000000.0 * xt * xt) AS BIGINT) AS xx_u
    FROM demeaned
)
SELECT (SELECT n FROM mg) AS n_cells,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM mu) AS n_users,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM mw) AS n_weeks,
       ROUND(CAST(SUM(xy_u) AS DOUBLE) / SUM(xx_u) / 100.0, 4)
           AS beta_weekend
FROM terms
""",
    tags=("ab-test", "causal", "A12"),
)
def q450_twfe_weekend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWFE weekend effect on daily user spend: (n_cells, n_users,
    n_weeks, beta_weekend)."""
    events = load_table(spark, sf_dir, "events")
    cells = events.groupBy(
        F.col("user_id").alias("u"),
        F.expr("CAST(FLOOR(CAST(ts AS DOUBLE)) AS BIGINT) DIV 86400").alias("d"),
    ).agg(F.sum(F.round(100.0 * F.col("value")).cast("long")).alias("y"))
    lab = cells.select(
        "u",
        "d",
        "y",
        F.expr("d DIV 7").alias("w"),
        ((F.col("d") + 3) % 7 >= 5).cast("long").alias("x"),
    )
    mu = lab.groupBy("u").agg(
        F.count(F.lit(1)).alias("nu"),
        F.sum("x").alias("sxu"),
        F.sum("y").alias("syu"),
    )
    mw = lab.groupBy("w").agg(
        F.count(F.lit(1)).alias("nw"),
        F.sum("x").alias("sxw"),
        F.sum("y").alias("syw"),
    )
    mg = lab.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
    )
    xt = (
        F.col("x")
        - F.col("sxu").cast("double") / F.col("nu")
        - F.col("sxw").cast("double") / F.col("nw")
        + F.col("sx").cast("double") / F.col("n")
    )
    yt = (
        F.col("y")
        - F.col("syu").cast("double") / F.col("nu")
        - F.col("syw").cast("double") / F.col("nw")
        + F.col("sy").cast("double") / F.col("n")
    )
    terms = (
        lab.join(mu, "u")
        .join(F.broadcast(mw), "w")
        .crossJoin(F.broadcast(mg))
        .select(
            F.round(1000000.0 * xt * yt).cast("long").alias("xy_u"),
            F.round(1000000.0 * xt * xt).cast("long").alias("xx_u"),
        )
    )
    n_users = mu.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    n_weeks = mw.agg(F.count(F.lit(1)).cast("long").alias("n_weeks"))
    return (
        terms.agg(
            F.round(
                F.sum("xy_u").cast("double") / F.sum("xx_u") / 100.0, 4
            ).alias("beta_weekend")
        )
        .crossJoin(F.broadcast(mg.select(F.col("n").cast("long").alias("n_cells"))))
        .crossJoin(F.broadcast(n_users))
        .crossJoin(F.broadcast(n_weeks))
        .select("n_cells", "n_users", "n_weeks", "beta_weekend")
    )
