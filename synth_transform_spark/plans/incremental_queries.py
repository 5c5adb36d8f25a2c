"""Incremental processing: snapshot diff (q66).

Both engines derive the two snapshots deterministically from the same
``orders`` table (the derived-input oracle pattern of q51-q53/q58-q61),
so the diff semantics — not the derivation — are what the hash-match
verifies.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.delta import snapshot_diff
from ..sources.readers import load_table
from .registry import register


def _old(orders: DataFrame) -> DataFrame:
    return orders.filter(F.col("o_orderkey") % 11 != 0).select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("stat"),
    )


def _new(orders: DataFrame) -> DataFrame:
    # +10.0 is exact in double — no rounding-mode hazard in the comparison.
    return orders.filter(F.col("o_orderkey") % 13 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + F.lit(10.0)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
        F.when(F.col("o_orderkey") % 19 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("stat"),
    )


@register(
    "q66_snapshot_diff",
    oracle="""
WITH old AS (
    SELECT o_orderkey, o_totalprice AS price, o_orderstatus AS stat
    FROM orders WHERE o_orderkey % 11 <> 0
),
new AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.0
                ELSE o_totalprice END AS price,
           CASE WHEN o_orderkey % 19 = 0 THEN 'X' ELSE o_orderstatus END AS stat
    FROM orders WHERE o_orderkey % 13 <> 0
)
SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'added'
            WHEN n.o_orderkey IS NULL THEN 'removed'
            ELSE 'changed' END AS status
FROM old o FULL OUTER JOIN new n ON n.o_orderkey = o.o_orderkey
WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
   OR o.price <> n.price OR o.stat <> n.stat
""",
    tags=("incremental", "S12", "U3"),
)
def q66_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed delta between two table snapshots: added/removed/changed.

    Engine path: map-side md5 value fingerprint + one full-outer equi-join
    (operators/delta.snapshot_diff) — wide tables compare one 32-char
    column through the shuffle, and bucketed snapshots make it
    shuffle-free. The oracle states the same semantics with direct value
    comparison.
    """
    orders = load_table(spark, sf_dir, "orders")
    return snapshot_diff(
        _old(orders), _new(orders), ["o_orderkey"], ["price", "stat"]
    )


@register(
    "q137_incremental_join",
    # Join-view maintenance identity (the join sibling of q97's aggregate
    # maintenance): with O = O_base ∪ ΔO and L = L_base ∪ ΔL,
    #   O ⋈ L  =  O_base⋈L_base  ∪  ΔO⋈L_base  ∪  O_base⋈ΔL  ∪  ΔO⋈ΔL
    # — the engine maintains the materialized join view from the three
    # delta terms (each a delta-driven join, never a rescan of the old
    # view's join), and the oracle states the FULL recompute over the
    # unioned inputs. Hash-match proves the maintenance algebra.
    oracle="""
SELECT o.o_orderkey,
       COUNT(*) AS n_lines,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderkey
""",
    tags=("incremental", "S12", "J1"),
)
def q137_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained join view: revenue + line count per order.

    Deterministic base/delta split (orderkey mod): the 'stored' view is
    the base⋈base aggregate; an update batch folds in the three delta
    joins keyed on the same orderkey, then a final keyed merge. At 100 TB
    the delta terms scan |Δ|-proportional data — the entire point of
    maintenance over recompute; every join and the merge shuffle on the
    same uniform orderkey."""
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    lines = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", rev.alias("rev")
    )
    o_base = orders.filter(F.col("o_orderkey") % 7 != 0)
    o_delta = orders.filter(F.col("o_orderkey") % 7 == 0)
    l_base = lines.filter(F.col("l_orderkey") % 5 != 0)
    l_delta = lines.filter(F.col("l_orderkey") % 5 == 0)

    def grouped(o: DataFrame, l: DataFrame) -> DataFrame:
        return (
            o.join(l, o["o_orderkey"] == l["l_orderkey"])
            .groupBy("o_orderkey")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("rev").alias("r"))
        )

    mv = grouped(o_base, l_base)  # the stored view
    deltas = (
        grouped(o_delta, l_base)
        .union(grouped(o_base, l_delta))
        .union(grouped(o_delta, l_delta))
    )
    return (
        mv.union(deltas)
        .groupBy("o_orderkey")
        .agg(
            F.sum("n").cast("long").alias("n_lines"),
            F.round(F.sum("r"), 4).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# q379 — HLL precision/error curve: estimate the distinct user count
# with 16-, 64-, 256- and 1024-register sketches next to the exact
# count, reporting each precision's relative error and whether it lands
# inside the 3-sigma theoretical band (sigma = 1.04/sqrt(m)). The
# capacity relation behind choosing q71's precision: registers cost
# memory per GROUP at 100 TB, and this is the measured error you buy at
# each size.
# Parity: the register algebra is bit-for-bit deterministic (md5-derived
# hash, integer rank, register-max), the q71 discipline generalized to a
# precision parameter; the estimate and error are single double
# expressions. 4dp.
# Scale: each precision is one (bucket) keyed register aggregate with
# map-side combine — four passes over the key column, or fold into one
# with a precision explode when scans dominate. The audit itself is a
# ≤1024-row reduce per precision.
# ---------------------------------------------------------------------------
def _q379_oracle() -> str:
    from ..operators.sketches import hll_alpha

    parts = []
    for bits in (4, 6, 8, 10):
        m = 1 << bits
        wbits = 32 - bits
        alpha_m2 = hll_alpha(m) * m * m
        parts.append(f"""
regs{bits} AS (
    SELECT CAST(h // {1 << wbits} AS BIGINT) AS bucket,
           MAX(CASE WHEN h % {1 << wbits} = 0 THEN {wbits + 1}
                    ELSE {wbits + 1} - LENGTH(BIN(h % {1 << wbits}))
               END) AS r
    FROM hashes GROUP BY 1
),
est{bits} AS (
    SELECT {bits} AS bits,
           CASE WHEN {alpha_m2!r} / (SUM(POW(2.0, -r)) + {m} - COUNT(*))
                     <= {2.5 * m!r}
                 AND {m} - COUNT(*) > 0
                THEN {m}.0 * LN({m}.0 / ({m} - COUNT(*)))
                ELSE {alpha_m2!r} / (SUM(POW(2.0, -r)) + {m} - COUNT(*))
           END AS est
    FROM regs{bits}
)""")
    unions = "\nUNION ALL\n".join(
        f"SELECT bits, est FROM est{bits}" for bits in (4, 6, 8, 10)
    )
    return f"""
WITH hashes AS (
    SELECT DISTINCT CAST(('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)),
                          1, 8))::UBIGINT AS BIGINT) AS h
    FROM events
),
exact_n AS (
    SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact FROM events
),
{", ".join(p.strip() for p in parts)},
curve AS ({unions})
SELECT CAST(c.bits AS BIGINT) AS bits,
       CAST(1 << c.bits AS BIGINT) AS m,
       ROUND(c.est, 4) AS estimate,
       e.exact,
       ROUND((c.est - e.exact) / e.exact, 4) AS rel_err,
       CAST(CASE WHEN ABS(c.est - e.exact) / e.exact
                      <= 3.0 * 1.04 / SQRT(CAST(1 << c.bits AS DOUBLE))
                 THEN 1 ELSE 0 END AS BIGINT) AS within_3sigma
FROM curve c CROSS JOIN exact_n e
ORDER BY bits
"""


@register(
    "q379_hll_error_curve",
    oracle=_q379_oracle(),
    tags=("sketches", "capacity", "A10"),
)
def q379_hll_error_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user HLL estimates across register precisions vs exact:
    (bits, m, estimate, exact, rel_err, within_3sigma)."""
    import pyspark.sql.functions as F

    from ..operators import sketches

    events = load_table(spark, sf_dir, "events")
    users = events.select("user_id")
    exact = events.agg(
        F.countDistinct("user_id").cast("long").alias("exact")
    )
    out = None
    for bits in (4, 6, 8, 10):
        regs = sketches.hll_registers(users, [], "user_id", bits=bits)
        est = sketches.hll_estimate_from_registers(regs, [], bits=bits).select(
            F.lit(bits).cast("long").alias("bits"),
            F.lit(1 << bits).cast("long").alias("m"),
            F.col("hll_distinct").alias("estimate"),
        )
        out = est if out is None else out.unionByName(est)
    sigma3 = 3.0 * 1.04 / F.sqrt(F.col("m").cast("double"))
    return (
        out.crossJoin(F.broadcast(exact))
        .select(
            "bits",
            "m",
            "estimate",
            "exact",
            F.round(
                (F.col("estimate") - F.col("exact")) / F.col("exact"), 4
            ).alias("rel_err"),
            (
                F.abs(F.col("estimate") - F.col("exact")) / F.col("exact")
                <= sigma3
            )
            .cast("long")
            .alias("within_3sigma"),
        )
        .orderBy("bits")
    )


# ---------------------------------------------------------------------------
# q380 — storage-strategy write planner: from the daily active-user
# profile, the total rows WRITTEN over the observed day range under the
# three standard lakehouse maintenance strategies for a user-state
# table — daily full snapshot (rewrite the whole cumulative table),
# SCD2/append (write only that day's active rows), and the final-state
# rewrite baseline (one write of the end-state table). The "why does
# the snapshot job cost 40× the merge" relation, quantified from real
# activity, complementing q78 (SCD2 mechanics) and q77 (MERGE
# mechanics).
# Parity: daily actives and first-seen days are exact; the cumulative
# distinct-user series is a running sum of first-seen counts; totals
# are integer sums; ratios single doubles. 4dp.
# Scale: one (user) min-day aggregate, one (day) count; the cumulative
# runs over the calendar-bounded day relation.
# ---------------------------------------------------------------------------
@register(
    "q380_storage_write_planner",
    oracle="""
WITH ud AS (
    SELECT user_id,
           CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day
    FROM events GROUP BY user_id, 2
),
active AS (
    SELECT day, CAST(COUNT(*) AS BIGINT) AS a FROM ud GROUP BY day
),
first_seen AS (
    SELECT MIN(day) AS d0, user_id FROM ud GROUP BY user_id
),
news AS (
    SELECT d0 AS day, CAST(COUNT(*) AS BIGINT) AS fresh
    FROM first_seen GROUP BY d0
),
cum AS (
    SELECT a.day, a.a,
           CAST(SUM(COALESCE(n.fresh, 0)) OVER (ORDER BY a.day
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
    FROM active a LEFT JOIN news n ON n.day = a.day
),
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(c) AS BIGINT) AS rows_snapshot,
           CAST(SUM(a) AS BIGINT) AS rows_append,
           CAST(MAX(c) AS BIGINT) AS end_state
    FROM cum
)
SELECT s.strategy, s.rows_written, t.n_days,
       ROUND(CAST(s.rows_written AS DOUBLE) / t.rows_append, 4)
           AS ratio_vs_append
FROM tot t,
LATERAL (
    SELECT 'daily_snapshot' AS strategy, t.rows_snapshot AS rows_written
    UNION ALL SELECT 'scd2_append', t.rows_append
    UNION ALL SELECT 'final_rewrite', t.end_state
) s
ORDER BY strategy
""",
    tags=("capacity", "S12", "A12"),
)
def q380_storage_write_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows written under snapshot / append / final-rewrite strategies:
    (strategy, rows_written, n_days, ratio_vs_append)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    ud = (
        events.select(
            "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .distinct()
    )
    active = ud.groupBy("day").agg(F.count(F.lit(1)).alias("a"))
    news = (
        ud.groupBy("user_id")
        .agg(F.min("day").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("fresh"))
    )
    wc = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        active.join(news, "day", "left")
        .select(
            "day",
            "a",
            F.sum(F.coalesce("fresh", F.lit(0)))
            .over(wc)
            .cast("long")
            .alias("c"),
        )
    )
    tot = cum.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("c").alias("rows_snapshot"),
        F.sum("a").alias("rows_append"),
        F.max("c").alias("end_state"),
    )
    rows = None
    for strat, col in (
        ("daily_snapshot", "rows_snapshot"),
        ("scd2_append", "rows_append"),
        ("final_rewrite", "end_state"),
    ):
        r = tot.select(
            F.lit(strat).alias("strategy"),
            F.col(col).cast("long").alias("rows_written"),
            F.col("n_days").cast("long").alias("n_days"),
            F.round(
                F.col(col).cast("double") / F.col("rows_append"), 4
            ).alias("ratio_vs_append"),
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows.orderBy("strategy")


# --------------------------------------------------------------------------
# q416 - profile-drift audit between the first and second half of the
# month: per audited column (event_type, user_id, props), the null
# rate, distinct count, and top-value concentration in each half, with
# integer-frozen drift flags - the schema/content monitoring pass run
# between pipeline increments (q96 audits one snapshot's quality; q302
# tracks a numeric distribution's PSI; this watches CATEGORICAL shape
# across a boundary: a feed that suddenly collapses to one value or
# doubles its id space shows up here first).
# Parity: every statistic is an exact integer or a single double ratio
# of exact integers; drift flags compare round(1e4*share) integers and
# integer distinct counts (2x band). 4dp.
# Scale: one stack/unpivot pass (narrow map) -> one (column, half,
# value) aggregate -> one (column, half) rollup -> a 3x2 pivot. Uniform
# keys throughout; output = |audited columns| rows.
# --------------------------------------------------------------------------
_PROFILE_COLS = ("event_type", "user_id", "props")


@register(
    "q416_profile_drift",
    oracle=f"""
WITH halves AS (
    SELECT CASE WHEN CAST(DATE_PART('day', CAST(ts AS TIMESTAMP)) AS BIGINT)
                     <= 15 THEN 1 ELSE 2 END AS half,
           CAST(event_type AS VARCHAR) AS event_type,
           CAST(user_id AS VARCHAR) AS user_id,
           CAST(props AS VARCHAR) AS props
    FROM events
),
stacked AS (
    {" UNION ALL ".join(
        f"SELECT half, '{c}' AS col, {c} AS val FROM halves"
        for c in _PROFILE_COLS)}
),
vc AS (
    SELECT col, half, val, CAST(COUNT(*) AS BIGINT) AS c
    FROM stacked GROUP BY col, half, val
),
agg AS (
    SELECT col, half,
           CAST(SUM(c) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN val IS NULL THEN c ELSE 0 END) AS BIGINT)
               AS nulls,
           CAST(COUNT(CASE WHEN val IS NOT NULL THEN 1 END) AS BIGINT)
               AS n_distinct,
           CAST(MAX(CASE WHEN val IS NOT NULL THEN c END) AS BIGINT)
               AS top_c
    FROM vc GROUP BY col, half
),
p AS (
    SELECT col,
           MAX(CASE WHEN half = 1 THEN n END) AS n1,
           MAX(CASE WHEN half = 1 THEN nulls END) AS null1,
           MAX(CASE WHEN half = 1 THEN n_distinct END) AS d1,
           MAX(CASE WHEN half = 1 THEN top_c END) AS t1,
           MAX(CASE WHEN half = 2 THEN n END) AS n2,
           MAX(CASE WHEN half = 2 THEN nulls END) AS null2,
           MAX(CASE WHEN half = 2 THEN n_distinct END) AS d2,
           MAX(CASE WHEN half = 2 THEN top_c END) AS t2
    FROM agg GROUP BY col
)
SELECT col,
       CAST(d1 AS BIGINT) AS distinct_h1, CAST(d2 AS BIGINT) AS distinct_h2,
       ROUND(CAST(null1 AS DOUBLE) / n1, 4) AS null_rate_h1,
       ROUND(CAST(null2 AS DOUBLE) / n2, 4) AS null_rate_h2,
       ROUND(CAST(t1 AS DOUBLE) / n1, 4) AS top_share_h1,
       ROUND(CAST(t2 AS DOUBLE) / n2, 4) AS top_share_h2,
       CAST(CASE WHEN d2 > 2 * d1 OR 2 * d2 < d1 THEN 1 ELSE 0 END
            AS BIGINT) AS distinct_drift,
       CAST(CASE WHEN ABS(CAST(ROUND(10000.0 * t1 / n1) AS BIGINT)
                          - CAST(ROUND(10000.0 * t2 / n2) AS BIGINT))
                      > 1000 THEN 1 ELSE 0 END AS BIGINT) AS top_drift
FROM p ORDER BY col
""",
    tags=("profiling", "incremental", "A6"),
)
def q416_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-month categorical profile drift: (col, distinct_h1,
    distinct_h2, null_rate_h1, null_rate_h2, top_share_h1, top_share_h2,
    distinct_drift, top_drift)."""
    events = load_table(spark, sf_dir, "events")
    halves = events.select(
        F.when(F.dayofmonth("ts") <= 15, 1).otherwise(2).alias("half"),
        *[F.col(c).cast("string").alias(c) for c in _PROFILE_COLS],
    )
    stack_expr = ", ".join(f"'{c}', {c}" for c in _PROFILE_COLS)
    stacked = halves.select(
        "half",
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_expr}) AS (col, val)"
        ),
    ).select("half", "col", "val")
    vc = stacked.groupBy("col", "half", "val").agg(
        F.count(F.lit(1)).alias("c")
    )
    agg = vc.groupBy("col", "half").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.when(F.col("val").isNull(), F.col("c")).otherwise(0))
        .cast("long")
        .alias("nulls"),
        F.count(F.when(F.col("val").isNotNull(), 1))
        .cast("long")
        .alias("n_distinct"),
        F.max(F.when(F.col("val").isNotNull(), F.col("c")))
        .cast("long")
        .alias("top_c"),
    )
    p = agg.groupBy("col").agg(
        *[
            F.max(F.when(F.col("half") == h, F.col(src))).alias(dst)
            for h, src, dst in [
                (1, "n", "n1"), (1, "nulls", "null1"),
                (1, "n_distinct", "d1"), (1, "top_c", "t1"),
                (2, "n", "n2"), (2, "nulls", "null2"),
                (2, "n_distinct", "d2"), (2, "top_c", "t2"),
            ]
        ]
    )
    t1s = F.round(10000.0 * F.col("t1") / F.col("n1")).cast("long")
    t2s = F.round(10000.0 * F.col("t2") / F.col("n2")).cast("long")
    return p.select(
        "col",
        F.col("d1").cast("long").alias("distinct_h1"),
        F.col("d2").cast("long").alias("distinct_h2"),
        F.round(F.col("null1").cast("double") / F.col("n1"), 4).alias(
            "null_rate_h1"
        ),
        F.round(F.col("null2").cast("double") / F.col("n2"), 4).alias(
            "null_rate_h2"
        ),
        F.round(F.col("t1").cast("double") / F.col("n1"), 4).alias(
            "top_share_h1"
        ),
        F.round(F.col("t2").cast("double") / F.col("n2"), 4).alias(
            "top_share_h2"
        ),
        (
            (F.col("d2") > 2 * F.col("d1"))
            | (2 * F.col("d2") < F.col("d1"))
        )
        .cast("long")
        .alias("distinct_drift"),
        (F.abs(t1s - t2s) > 1000).cast("long").alias("top_drift"),
    ).orderBy("col")


# --------------------------------------------------------------------------
# q439 - Count-Min sketch accuracy audit (the q352 bloom / q379 HLL
# family, completed with the COUNTING sketch): build a d=4 x w=64
# Count-Min sketch of the corpus token counts, then compare the CM
# estimate (min over the 4 row counters) against the exact count for
# the 20 heaviest tokens. CM never underestimates; the audit reports
# each heavy hitter's overestimate and answers "is w=64 wide enough for
# this skew before we deploy the sketch on the full stream".
# Hash parity: row j's bucket = first-8-hex-digits of md5(token#j) mod
# 64 - md5 is identical on both engines; Spark converts hex via
# conv(,16,10), DuckDB via an explicit digit polynomial (exact integer
# literals 16^i, no POWER doubles). All counts exact integers.
# Scale: the sketch IS the point - the corpus collapses to one
# (j, bucket) aggregate of 256 cells (broadcast); the exact side is the
# standard vocab aggregate + TakeOrdered(20). At 100 TB only the
# sketch build scans the stream; the audit joins 20 x 4 rows.
# --------------------------------------------------------------------------
_CM_D, _CM_W, _CM_TOPK = 4, 64, 20


def _duck_hex8_to_int(expr: str) -> str:
    """DuckDB SQL: first 8 hex digits of md5(expr) as a BIGINT."""
    digit = (
        "(STRPOS('0123456789abcdef', SUBSTRING(MD5({e}), {i}, 1)) - 1)"
    )
    pows = [268435456, 16777216, 1048576, 65536, 4096, 256, 16, 1]
    terms = [
        f"{digit.format(e=expr, i=i + 1)} * {p}" for i, p in enumerate(pows)
    ]
    return "(" + " + ".join(terms) + ")"


@register(
    "q439_countmin_audit",
    oracle=f"""
WITH toks AS (
    SELECT UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS token
    FROM documents
),
exact AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS true_count FROM toks GROUP BY token),
rows_g AS (SELECT UNNEST(GENERATE_SERIES(1, {_CM_D})) AS j),
hashed AS (
    SELECT t.token, g.j,
           {_duck_hex8_to_int("t.token || '#' || CAST(g.j AS VARCHAR)")} % {_CM_W}
               AS bucket
    FROM toks t CROSS JOIN rows_g g
),
sketch AS (
    SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS cell
    FROM hashed GROUP BY j, bucket
),
heavy AS (
    SELECT token, true_count FROM exact
    ORDER BY true_count DESC, token LIMIT {_CM_TOPK}
),
probes AS (
    SELECT h.token, h.true_count, g.j,
           {_duck_hex8_to_int("h.token || '#' || CAST(g.j AS VARCHAR)")} % {_CM_W}
               AS bucket
    FROM heavy h CROSS JOIN rows_g g
)
SELECT p.token, p.true_count,
       CAST(MIN(s.cell) AS BIGINT) AS cm_estimate,
       CAST(MIN(s.cell) - p.true_count AS BIGINT) AS overestimate
FROM probes p JOIN sketch s ON s.j = p.j AND s.bucket = p.bucket
GROUP BY p.token, p.true_count
ORDER BY p.true_count DESC, p.token
""",
    tags=("sketch", "quality", "A5"),
)
def q439_countmin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min (4x64) estimate vs exact count for the 20 heaviest
    tokens: (token, true_count, cm_estimate, overestimate)."""
    from ..operators import text_analysis

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(text_analysis.tokens_raw(F.col("text"))).alias("token")
    )
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("true_count"))
    rows_g = spark.createDataFrame(
        [(j,) for j in range(1, _CM_D + 1)], "j long"
    ).coalesce(1)
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("token"), F.lit("#"), F.col("j").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % _CM_W
    ).alias("bucket")
    hashed = toks.crossJoin(F.broadcast(rows_g)).select("token", "j", bucket)
    sketch = hashed.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("cell"))
    heavy = exact.orderBy(F.desc("true_count"), "token").limit(_CM_TOPK)
    probes = heavy.crossJoin(F.broadcast(rows_g)).select(
        "token", "true_count", "j", bucket
    )
    return (
        probes.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("token", "true_count")
        .agg(F.min("cell").alias("cm_estimate"))
        .select(
            "token",
            F.col("true_count").cast("long").alias("true_count"),
            F.col("cm_estimate").cast("long").alias("cm_estimate"),
            (F.col("cm_estimate") - F.col("true_count"))
            .cast("long")
            .alias("overestimate"),
        )
        .orderBy(F.desc("true_count"), "token")
    )
