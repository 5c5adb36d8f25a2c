"""Relational sketches with deterministic, engine-portable constructions:
HyperLogLog (distinct counts) and Count-Min (frequency / heavy hitters).

Both rebuild the classic constructions from md5 rather than using Spark's
internal sketches, so a DuckDB oracle computes IDENTICAL state and the
driver's hash gate can verify the sketch exactly.

HyperLogLog: a distinct-count sketch with a deterministic,
engine-portable register construction.

Spark's own ``approx_count_distinct`` is HLL++ too, but its hash and
register layout are engine-internal — unverifiable against another engine.
This operator rebuilds the classic HLL (Flajolet et al. 2007) from md5, so
the DuckDB oracle computes the IDENTICAL registers and estimate and the
driver's hash gate can verify a *sketch* exactly:

- h           = first 8 md5 hex chars of the value → 32-bit integer
- bucket      = top ``bits`` bits (m = 2^bits registers; default 8,
                m = 256; q379 audits 4, 6, 8 and 10)
- w           = low 32 - bits bits; rank = leading zeros in w + 1
              = 33 - bits - bit_length(w)  (bit_length via length(bin(w)) —
                both engines render minimal binary strings), 33 - bits if
                w = 0
- register[b] = max rank seen in bucket b
- raw         = alpha_m · m² / Σ 2^-R_b   (empty registers contribute 2⁰)
- estimate    = m · ln(m / V)  if raw ≤ 2.5 m and V > 0 (linear-counting
                small-range correction, V = empty registers), else raw

Determinism across engines: Σ 2^-R_b is a sum of powers of two spanning
< 53 binary orders — EXACT in IEEE double regardless of summation order,
so Spark's partial-agg tree and DuckDB's serial sum produce the same bits;
alpha_m·m² is computed in Python and inlined as one double literal; ln
differs across libms by ulps (≪ the 4dp round). The 32-bit-hash large-range correction is omitted —
register saturation, not hash collision, is the binding limit here.

Scale: the sketch IS the scale story — per group the state is ≤ m registers
(map-side combine on (group, bucket) then (group)), constant memory at any
cardinality; mergeable across partitions/days by register-wise max, which
is what makes it a streaming/continuous-aggregate primitive. ~6.5 % typical
relative error at m = 256 (1.04/√m); the exact twin lives alongside it in
q71's output so the gate also documents the achieved error.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

HLL_BUCKET_BITS = 8                     # m = 256 registers

# Standard HLL bias constants alpha_m for small register counts; for
# m >= 128 the closed form 0.7213/(1 + 1.079/m) applies.
HLL_ALPHAS = {
    16: 0.673,
    32: 0.697,
    64: 0.709,
}


def hll_alpha(m: int) -> float:
    """alpha_m for an m-register sketch (Flajolet et al. 2007)."""
    return HLL_ALPHAS.get(m, 0.7213 / (1.0 + 1.079 / m))


def hll_registers(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    bits: int = HLL_BUCKET_BITS,
) -> DataFrame:
    """(group_cols…, bucket, r): max-rank register per group and bucket of
    a 2^bits-register sketch. The top ``bits`` of the 32-bit hash select
    the bucket; the leading-zero rank of the remaining word fills it."""
    h = F.conv(F.substring(F.md5(F.col(value_col).cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    wbits = 32 - bits
    bucket = (h / F.lit(1 << wbits)).cast("long")
    w = h % F.lit(1 << wbits)
    tagged = df.select(
        *group_cols, bucket.alias("bucket"), w.alias("w")
    ).withColumn(
        "rank",
        F.when(F.col("w") == 0, F.lit(wbits + 1)).otherwise(
            F.lit(wbits + 1) - F.length(F.bin("w"))
        ),
    )
    return tagged.groupBy(*group_cols, "bucket").agg(F.max("rank").alias("r"))


def hll_estimate_from_registers(
    regs: DataFrame, group_cols: Sequence[str], bits: int = HLL_BUCKET_BITS
) -> DataFrame:
    """Estimate per group from a (group_cols…, bucket, r) register relation
    of a 2^bits-register sketch — the merge-then-estimate half of the
    sketch, reusable over registers that were merged across partitions/days
    (register-wise max)."""
    m = 1 << bits
    per_group = regs.groupBy(*group_cols).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("r"))).alias("sum_obs"),
        F.count(F.lit(1)).alias("n_obs"),
    )
    mc = F.lit(float(m))
    zeros = mc - F.col("n_obs")
    sum_inv = F.col("sum_obs") + zeros  # empty registers: 2⁰ each
    raw = F.lit(hll_alpha(m) * m * m) / sum_inv
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0), mc * F.log(mc / zeros)
    ).otherwise(raw)
    return per_group.select(
        *group_cols, F.round(est, 4).alias("hll_distinct")
    )


def hll_distinct(
    df: DataFrame, group_cols: Sequence[str], value_col: str
) -> DataFrame:
    """HLL distinct estimate per group: (group_cols…, hll_distinct)."""
    return hll_estimate_from_registers(
        hll_registers(df, group_cols, value_col), group_cols
    )


# --- Count-Min sketch (Cormode & Muthukrishnan 2005) -----------------------
#
# d × w counter grid; item x adds its weight to cell (r, h_r(x)) for each of
# the d rows; the estimate is min_r cell(r, h_r(x)) — an upper bound on the
# true count that overshoots only when x collides in ALL d rows. h_r(x) =
# first-8-md5-hex("r:" || x) mod w, identical in both engines.
#
# Scale: the sketch state is d·w counters per group — CONSTANT memory at any
# stream length, and mergeable across partitions/streams by cell-wise sum
# (pinned in tests), which makes it the streaming heavy-hitter primitive.
# At w = 64 the expected per-row collision noise is (total − count)/w; d = 4
# takes the min over independent rows. Production sizing: w = ⌈e/ε⌉ for an
# ε·total error bound, d = ⌈ln(1/δ)⌉.

CMS_DEPTH = 4
CMS_WIDTH = 64


def _cms_bucket(value_col, row: int):
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{row}:"), value_col.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % CMS_WIDTH
    )


def cms_cells(df: DataFrame, value_col: str, weight_col: str | None = None) -> DataFrame:
    """The sketch itself: (r, bucket, cell) — d·w rows max, mergeable by
    cell-wise sum. ``weight_col=None`` counts occurrences."""
    w = F.col(weight_col) if weight_col else F.lit(1)
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("r"),
                    _cms_bucket(F.col(value_col), r).alias("bucket"),
                )
                for r in range(CMS_DEPTH)
            ]
        )
    ).alias("rb")
    return (
        df.select(rows, w.alias("_w"))
        .select(F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket"), "_w")
        .groupBy("r", "bucket")
        .agg(F.sum("_w").cast("long").alias("cell"))
    )


def cms_estimates(items: DataFrame, cells: DataFrame, value_col: str) -> DataFrame:
    """Point-query the sketch for each item row: adds ``cms_est``.

    The d per-row lookups are a broadcast join on (r, bucket) — the cells
    relation is ≤ d·w rows — followed by a min over the d hits, keyed by the
    item value (callers pass distinct items).
    """
    from pyspark.sql.functions import broadcast

    probes = items.select(
        value_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        _cms_bucket(F.col(value_col), r).alias("bucket"),
                    )
                    for r in range(CMS_DEPTH)
                ]
            )
        ).alias("rb"),
    ).select(value_col, F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket"))
    # LEFT join + coalesce(0): an item whose (r, bucket) cell was never
    # touched must contribute 0 to the min (the canonical CMS answer for
    # unseen items is 0) — an inner join would both inflate the min and
    # silently drop items matching no occupied cell at all.
    return (
        probes.join(broadcast(cells), ["r", "bucket"], "left")
        .groupBy(value_col)
        .agg(F.min(F.coalesce("cell", F.lit(0).cast("long"))).alias("cms_est"))
    )


def hll_set_estimates(
    df: DataFrame, key_col: str, value_col: str
) -> DataFrame:
    """HLL set algebra across the groups of ``key_col``: for every group
    pair (a < b), the union estimate by REGISTER-WISE MAX merge and the
    intersection estimate by inclusion-exclusion.

    This is the mergeability payoff: |A∪B| needs no rescan — the two
    groups' 256-register sketches merge bucket-by-bucket (max), and
    |A∩B| ≈ est(A) + est(B) − est(A∪B). All three operands are rounded
    to 4dp BEFORE the subtraction so both engines subtract identical
    doubles. Inclusion-exclusion inherits the errors of all three
    estimates (relative error grows as the true intersection shrinks —
    the documented HLL limitation; theta sketches fix it, at the cost of
    an engine-portable construction).

    Scale: register relations are |groups|·256 rows and the pair frame is
    |groups|² — this operator is for SMALL group domains (event types,
    sources, days), where the whole pair computation is broadcast-sized.
    Returns (key_a, key_b, est_a, est_b, est_union, est_intersection).
    """
    regs = hll_registers(df, [key_col], value_col)
    ests = hll_estimate_from_registers(regs, [key_col])
    keys = regs.select(key_col).distinct()
    pairs = keys.select(F.col(key_col).alias("key_a")).join(
        F.broadcast(keys.select(F.col(key_col).alias("key_b"))),
        F.col("key_a") < F.col("key_b"),
    )
    ra = regs.select(
        F.col(key_col).alias("key_a"), "bucket", "r"
    ).join(F.broadcast(pairs), "key_a")
    rb = regs.select(
        F.col(key_col).alias("key_b"), "bucket", "r"
    ).join(F.broadcast(pairs), "key_b")
    cols = ["key_a", "key_b", "bucket", "r"]
    union_regs = (
        ra.select(*cols)
        .union(rb.select(*cols))
        .groupBy("key_a", "key_b", "bucket")
        .agg(F.max("r").alias("r"))
    )
    uest = hll_estimate_from_registers(union_regs, ["key_a", "key_b"]).withColumnRenamed(
        "hll_distinct", "est_union"
    )
    ea = ests.select(F.col(key_col).alias("key_a"), F.col("hll_distinct").alias("est_a"))
    eb = ests.select(F.col(key_col).alias("key_b"), F.col("hll_distinct").alias("est_b"))
    return (
        uest.join(F.broadcast(ea), "key_a")
        .join(F.broadcast(eb), "key_b")
        .select(
            "key_a",
            "key_b",
            "est_a",
            "est_b",
            "est_union",
            F.round(F.col("est_a") + F.col("est_b") - F.col("est_union"), 4).alias(
                "est_intersection"
            ),
        )
    )


# --- KMV / theta sketch (Bar-Yossef et al. 2002; Dasgupta et al. 2016) -----
#
# Keep the k smallest distinct md5-derived 32-bit hash values per group.
# With θ = k-th smallest hash (normalized to (0,1]), the distinct-count
# estimate is (k−1)/θ; below k distinct values the sketch IS the exact
# distinct set. Unlike HLL, the retained sample supports direct set
# algebra: Jaccard from the union's k-minima, intersection = J·|A∪B| —
# the theta-sketch answer to inclusion-exclusion's compounding error.
# Same engine-portable construction as HLL: first-8-md5-hex integer
# hashes, so a DuckDB oracle rebuilds identical sketch state.

KMV_K = 64
_KMV_SCALE = 4294967296.0  # 2^32: hash → (0, 1] normalizer


def _kmv_hash(value_col) -> F.Column:
    # +1 keeps θ strictly positive (hash 0 would make θ=0 ⇒ ∞ estimate)
    return (
        F.conv(F.substring(F.md5(F.col(value_col).cast("string")), 1, 8), 16, 10)
        .cast("long")
        + 1
    )


def kmv_minima(
    df: DataFrame, group_cols: Sequence[str], value_col: str, k: int = KMV_K
) -> DataFrame:
    """(group_cols…, hv, rn): the k smallest DISTINCT hash values per group.

    Two-phase exact k-min (the cosine_topk shard pattern): phase 1 ranks
    within (group, hash-shard) and keeps k per shard — parallelism is
    groups × 64, so no reducer ever sees a whole group's distinct set
    (the single-window spelling funnels a billion-distinct group through
    one task at 100 TB); phase 2 re-ranks the ≤ 64k survivors per group.
    Global k smallest ⊆ union of shard-local k smallest, so the result is
    exact. State is k longs per group (the sketch), mergeable by
    re-ranking unioned minima.
    """
    from pyspark.sql import Window

    hashed = df.select(*group_cols, _kmv_hash(value_col).alias("hv")).distinct()
    sharded = hashed.withColumn("_shard", F.pmod(F.col("hv"), F.lit(64)))
    w_local = Window.partitionBy(*group_cols, "_shard").orderBy(F.asc("hv"))
    survivors = (
        sharded.withColumn("rn", F.row_number().over(w_local))
        .filter(F.col("rn") <= k)
        .drop("rn", "_shard")
    )
    w = Window.partitionBy(*group_cols).orderBy(F.asc("hv"))
    return (
        survivors.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


def kmv_estimate_from_minima(
    minima: DataFrame, group_cols: Sequence[str], k: int = KMV_K
) -> DataFrame:
    """Distinct estimate per group from a k-minima relation: exact count
    when the group holds fewer than k hashes, else (k−1)·2³²/θ."""
    per = minima.groupBy(*group_cols).agg(
        F.max("hv").alias("theta"), F.count(F.lit(1)).alias("n_mins")
    )
    est = F.when(F.col("n_mins") < k, F.col("n_mins").cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(_KMV_SCALE) / F.col("theta")
    )
    return per.select(*group_cols, F.round(est, 4).alias("kmv_distinct"))


def kmv_set_estimates(
    df: DataFrame, key_col: str, value_col: str, k: int = KMV_K
) -> DataFrame:
    """Theta-sketch set algebra across the groups of ``key_col``: for each
    pair (a < b) the union estimate from the merged k-minima and the
    intersection via the Jaccard of the union sample —
    est_∩ = (|U ∩ A ∩ B| / |U|) · est_∪, the direct-sample estimator
    whose error does NOT compound three sketches like HLL
    inclusion-exclusion does.

    Same small-group-domain contract as hll_set_estimates; sketch state
    is k longs per group, pairs are broadcast-sized.
    Returns (key_a, key_b, est_a, est_b, est_union, est_intersection).
    """
    mins = kmv_minima(df, [key_col], value_col, k)
    ests = kmv_estimate_from_minima(mins, [key_col], k)
    keys = mins.select(key_col).distinct()
    pairs = keys.select(F.col(key_col).alias("key_a")).join(
        F.broadcast(keys.select(F.col(key_col).alias("key_b"))),
        F.col("key_a") < F.col("key_b"),
    )
    ma = mins.select(F.col(key_col).alias("key_a"), "hv").join(
        F.broadcast(pairs), "key_a"
    )
    mb = mins.select(F.col(key_col).alias("key_b"), "hv").join(
        F.broadcast(pairs), "key_b"
    )
    cols = ["key_a", "key_b", "hv"]
    from pyspark.sql import Window

    w = Window.partitionBy("key_a", "key_b").orderBy(F.asc("hv"))
    union_mins = (
        ma.select(*cols)
        .union(mb.select(*cols))
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )
    uest = kmv_estimate_from_minima(
        union_mins, ["key_a", "key_b"], k
    ).withColumnRenamed("kmv_distinct", "est_union")
    in_a = ma.select("key_a", "key_b", "hv").withColumn("in_a", F.lit(1))
    in_b = mb.select("key_a", "key_b", "hv").withColumn("in_b", F.lit(1))
    tagged = (
        union_mins.join(in_a, ["key_a", "key_b", "hv"], "left")
        .join(in_b, ["key_a", "key_b", "hv"], "left")
        .groupBy("key_a", "key_b")
        .agg(
            F.count(F.lit(1)).alias("ku"),
            F.sum(
                F.when(F.col("in_a").isNotNull() & F.col("in_b").isNotNull(), 1).otherwise(0)
            ).alias("x"),
        )
    )
    ea = ests.select(F.col(key_col).alias("key_a"), F.col("kmv_distinct").alias("est_a"))
    eb = ests.select(F.col(key_col).alias("key_b"), F.col("kmv_distinct").alias("est_b"))
    return (
        tagged.join(uest, ["key_a", "key_b"])
        .join(F.broadcast(ea), "key_a")
        .join(F.broadcast(eb), "key_b")
        .select(
            "key_a",
            "key_b",
            "est_a",
            "est_b",
            "est_union",
            F.round(F.col("x") * 1.0 / F.col("ku") * F.col("est_union"), 4).alias(
                "est_intersection"
            ),
        )
    )
