"""Similarity search over embedding columns (`array<float>`).

Two tiers:

- ``cosine_topk``     — brute-force exact top-k: broadcast the (small) query
                        set against the corpus; dot products run JVM-side via
                        ``zip_with``/``aggregate`` higher-order functions (no
                        Python UDF, stays in whole-stage codegen).
- ``ivf_assign`` /
  ``ivf_topk``        — IVF-style scale path: assign every vector to its
                        nearest coarse centroid (broadcast centroids), then
                        probe only the query's ``n_probe`` closest cells.
                        At 100 TB this turns a full corpus scan per query
                        into a partition-pruned scan of ~n_probe/n_cells of
                        the data; cells are also the natural partitioning
                        key for storage.
- ``cell_cosine_pairs`` — bucketed embedding near-dup: candidates are pairs
                        sharing one of each vector's ``n_assign`` nearest
                        cells, then the exact scorer verifies. Replaces the
                        all-pairs join (``cosine_pairs``, kept as the exact
                        small-scale baseline / recall yardstick): per-cell
                        quadratics are bounded by ``max_cell``, so the plan
                        survives 100 TB.

Ranking determinism: cosine is rounded to 4dp *before* ranking and ties break
on vector id, so results are stable across engines (DuckDB oracle) and across
partitionings (float summation-order noise is far below 1e-4).

No reference lineage — the reference has no embedding surface; this is the
north-star extension (BASELINE.json). The LSH candidate-generation pattern in
``dedup.py`` shares the same philosophy.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine(a, b):
    """Cosine similarity between two array<float/double> columns (JVM-side)."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return _dot(ad, bd) / (_norm(ad) * _norm(bd))


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_shards: int = 64,
) -> DataFrame:
    """Exact top-k neighbours for each query vector, two-phase.

    ``queries`` is expected to be small → broadcast; the corpus side streams
    once. Top-k is sharded: phase 1 takes a local top-k within each of
    ``n_shards`` deterministic hash shards per query (parallelism =
    queries × shards, so no single reducer sees the whole corpus — a
    plain ``partitionBy(query_id)`` window would funnel ALL scored rows
    through n_queries partitions at 100 TB); phase 2 re-ranks the
    queries × shards × k survivors (tiny). The global top-k is provably a
    subset of the union of shard-local top-ks, so the result is exact.
    Returns (query_id, neighbor_id, cosine) with rank ≤ k.
    """
    from ..sources.readers import ensure_parallelism

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    v = ensure_parallelism(
        vectors.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v_vec"))
    )
    scored = (
        v.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", F.round(cosine(F.col("q_vec"), F.col("v_vec")), 4))
        .withColumn("_shard", F.pmod(F.hash("neighbor_id"), F.lit(n_shards)))
    )
    return _topk_per_query(scored, k)


def _topk_per_query(
    scored: DataFrame, k: int, score_col: str = "cosine", ascending: bool = False
) -> DataFrame:
    """Exact per-query top-k in two phases over a ``_shard`` column:
    shard-local top-k (parallel) then global re-rank of the survivors.
    ``ascending=True`` ranks distances (smaller = better) instead of
    similarities.

    Projects to the four needed columns BEFORE the first window
    (round 11): callers' scored relations drag the query/corpus vector
    arrays (or PQ distance tables — 2 KB/row) along for the score
    expression, and without the projection both window exchanges ship
    and sort those payloads. Measured on q132 at sf0.1: shortlist stage
    4.4 s → ~0.5 s. The score also evaluates map-side exactly once.
    """
    best = F.asc(score_col) if ascending else F.desc(score_col)
    order = [best, F.asc("neighbor_id")]
    scored = scored.select("query_id", "neighbor_id", score_col, "_shard")
    w_local = Window.partitionBy("query_id", "_shard").orderBy(*order)
    survivors = (
        scored.withColumn("rk", F.row_number().over(w_local))
        .filter(F.col("rk") <= k)
        .drop("rk")
    )
    w_global = Window.partitionBy("query_id").orderBy(*order)
    return (
        survivors.withColumn("rk", F.row_number().over(w_global))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", score_col)
    )


def cosine_pairs(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine ≥ threshold (embedding near-duplicate detection).

    Exact all-pairs comparison (id_a < id_b). Quadratic by construction —
    correct and fine up to ~10^4 vectors per run; at 100 TB generate
    candidates per IVF cell (``ivf_assign`` then same-cell pairs) or via
    random-hyperplane LSH buckets so each bucket's quadratic stays bounded,
    then verify with this exact scorer. Returns (id_a, id_b, cosine).
    """
    from ..sources.readers import ensure_parallelism

    # Pre-cast + pre-compute the norm ONCE per vector (narrow), so the
    # quadratic pair stage does only the dot product — same
    # dot/(norm_a*norm_b) formula as the oracle, ~3× fewer flops per pair.
    vd = vectors.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    ).withColumn("_nrm", _norm(F.col("_v")))
    a = ensure_parallelism(
        vd.select(F.col(id_col).alias("id_a"), F.col("_v").alias("a_vec"), F.col("_nrm").alias("nrm_a"))
    )
    b = vd.select(F.col(id_col).alias("id_b"), F.col("_v").alias("b_vec"), F.col("_nrm").alias("nrm_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.round(_dot(F.col("a_vec"), F.col("b_vec")) / (F.col("nrm_a") * F.col("nrm_b")), 4),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def cell_assignments(
    vectors: DataFrame,
    centroids: DataFrame,
    n_assign: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "cell_id",
    centroid_vec: str = "centroid",
) -> DataFrame:
    """Each vector's ``n_assign`` nearest coarse cells: (id, vec, cell_id).

    Zero-shuffle assignment: the (small, by IVF contract) centroid set is
    packed into ONE broadcast row as an array of structs, so every vector
    scores / sorts / slices its cells inside whole-stage codegen — no
    corpus-wide window shuffle (the previous shape joined corpus×cells then
    ranked over ``partitionBy(id)``, an 8× data shuffle at 100 TB).

    Ranking determinism matches the oracle: cosine rounded to 4dp before
    ranking, ties break on ascending cell id (explicit comparator — no
    negated-double sort keys, so −0.0 can never reorder across engines).
    """
    packed = centroids.agg(
        F.collect_list(
            F.struct(F.col(centroid_id).alias("cid"), F.col(centroid_vec).alias("cvec"))
        ).alias("_cells")
    )
    scored_cells = F.transform(
        F.col("_cells"),
        lambda c: F.struct(
            F.round(cosine(F.col(vec_col), c["cvec"]), 4).alias("cos"),
            c["cid"].alias("cid"),
        ),
    )

    def by_cos_desc_cid_asc(a, b):
        return (
            F.when(a["cos"] > b["cos"], F.lit(-1))
            .when(a["cos"] < b["cos"], F.lit(1))
            .when(a["cid"] < b["cid"], F.lit(-1))
            .when(a["cid"] > b["cid"], F.lit(1))
            .otherwise(F.lit(0))
        )

    top = F.slice(F.array_sort(scored_cells, by_cos_desc_cid_asc), 1, n_assign)
    return (
        vectors.join(F.broadcast(packed))
        .select(F.col(id_col), F.col(vec_col), F.explode(top).alias("_c"))
        .select(id_col, vec_col, F.col("_c.cid").alias(centroid_id))
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "cell_id",
    centroid_vec: str = "centroid",
) -> DataFrame:
    """Assign each vector to its max-cosine centroid (broadcast centroids).

    One narrow pass over the corpus (see ``cell_assignments``); the
    resulting ``cell_id`` is the IVF partition key (write with
    ``partitionBy(cell_id)`` for pruned probes).
    """
    return cell_assignments(
        vectors, centroids, 1, id_col, vec_col, centroid_id, centroid_vec
    )


def cell_cosine_pairs(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float,
    n_assign: int = 2,
    max_cell: int = 10000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bucketed embedding near-dup: same-cell candidates → exact verify.

    The scale path that replaces ``cosine_pairs``'s all-pairs join:

    1. every vector gets its ``n_assign`` nearest coarse cells (narrow,
       broadcast centroids — no shuffle);
    2. candidate pairs share ≥1 cell — the self-join shuffles on ``cell_id``
       and each cell's quadratic is bounded by ``max_cell`` (degenerate-cell
       guard, same role as ``max_bucket`` in LSH dedup);
    3. the exact rounded-cosine scorer verifies candidates ≥ ``threshold``.

    Recall is tunable via ``n_assign`` (multi-probe catches pairs straddling
    a cell boundary); tests pin recall vs the exact all-pairs baseline.
    Returns (id_a, id_b, cosine).
    """
    from ..caching import persist_tracked

    vd = vectors.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    ).withColumn("_nrm", _norm(F.col("_v")))
    assigned = cell_assignments(vectors, centroids, n_assign, id_col, vec_col)
    # Both sides of the candidate self-join consume the assignment relation —
    # persist (tracked; hosts release between queries) so the packed-centroid
    # scoring runs once, same pattern as lsh_candidate_pairs.
    sized = persist_tracked(
        assigned.withColumn(
            "cell_n", F.count(F.lit(1)).over(Window.partitionBy("cell_id"))
        )
        .filter(F.col("cell_n") <= max_cell)
        .select(id_col, "cell_id")
    )
    a = sized.select(F.col("cell_id"), F.col(id_col).alias("id_a"))
    b = sized.select(F.col("cell_id"), F.col(id_col).alias("id_b"))
    cand = (
        a.join(b, ["cell_id"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = vd.select(F.col(id_col).alias("id_a"), F.col("_v").alias("a_vec"), F.col("_nrm").alias("nrm_a"))
    vb = vd.select(F.col(id_col).alias("id_b"), F.col("_v").alias("b_vec"), F.col("_nrm").alias("nrm_b"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cosine",
            F.round(_dot(F.col("a_vec"), F.col("b_vec")) / (F.col("nrm_a") * F.col("nrm_b")), 4),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def ivf_topk(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "cell_id",
    centroid_vec: str = "centroid",
) -> DataFrame:
    """Approximate top-k: probe only each query's ``n_probe`` nearest cells.

    With cell-partitioned storage the probe is a partition-pruned scan —
    the 100 TB path. Recall is tunable via n_probe.
    """
    probe = cell_assignments(
        queries, centroids, n_probe, id_col, vec_col, centroid_id, centroid_vec
    ).select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"), centroid_id)
    cand = assigned.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v_vec"), centroid_id
    )
    scored = (
        cand.join(F.broadcast(probe), centroid_id)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", F.round(cosine(F.col("q_vec"), F.col("v_vec")), 4))
        .withColumn("_shard", F.pmod(F.hash("neighbor_id"), F.lit(64)))
    )
    return _topk_per_query(scored, k)


def quantize_vectors(
    vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric int8 scalar quantization: (id, qvec, scale, nrm).

    q_i = floor(x_i / s · 127 + 0.5) with s = max|x_i| — the standard
    per-vector symmetric scheme (q ∈ [-127, 127], no clamp needed since
    |x_i| ≤ s). ``floor(v + 0.5)`` instead of round(): identical
    half-handling in Spark and DuckDB, so the oracle quantizes
    bit-identically. ``nrm`` is the ORIGINAL float L2 norm — kept so the
    dequantized dot can be rescaled to an approximate cosine.

    Zero vectors (s = 0) are dropped: they have no direction, and the
    division's 0-divisor behaviour differs across engines (NULL vs Inf).

    Scale story: int8 storage is 4× smaller than float32 — 4× less scan
    I/O and shuffle for the scoring pass of a 100 TB ANN sweep; integer
    dot products are exact (no float summation-order noise), so ranking
    is deterministic by construction.
    """
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    s = F.array_max(F.transform(vd, lambda x: F.abs(x)))
    qv = F.transform(
        F.col("_vd"), lambda x: F.floor(x / F.col("scale") * 127.0 + F.lit(0.5)).cast("long")
    )
    return (
        vectors.select(F.col(id_col), vd.alias("_vd"), s.alias("scale"))
        .filter(F.col("scale") > 0)
        .select(
            id_col,
            qv.alias("qvec"),
            "scale",
            _norm(F.col("_vd")).alias("nrm"),
        )
    )


def quantized_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_shards: int = 64,
) -> DataFrame:
    """Approximate cosine top-k over int8-quantized vectors.

    Same broadcast + two-phase-shard shape as ``cosine_topk``; the score is
    the exact integer dot product rescaled by the two quantization scales
    and the original norms — an approximate cosine whose error is bounded
    by the quantization step (≤ 1/254 per component pair). Returns
    (query_id, neighbor_id, approx_cos); recall vs the exact path is pinned
    in tests.
    """
    q = quantize_vectors(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("qvec").alias("q_qvec"),
        F.col("scale").alias("q_scale"),
        F.col("nrm").alias("q_nrm"),
    )
    v = quantize_vectors(vectors, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("qvec").alias("v_qvec"),
        F.col("scale").alias("v_scale"),
        F.col("nrm").alias("v_nrm"),
    )
    qdot = F.aggregate(
        F.zip_with(F.col("q_qvec"), F.col("v_qvec"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        v.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("_qdot", qdot)
        .withColumn(
            "approx_cos",
            F.round(
                F.col("_qdot")
                * F.col("q_scale")
                * F.col("v_scale")
                / F.lit(16129.0)
                / (F.col("q_nrm") * F.col("v_nrm")),
                4,
            ),
        )
        .withColumn("_shard", F.pmod(F.hash("neighbor_id"), F.lit(n_shards)))
    )
    return _topk_per_query(scored, k, score_col="approx_cos")


# --- signed-random-projection (SRP) LSH -----------------------------------

SRP_PLANES = 16
SRP_BAND_BITS = 4
SRP_QUANT = 1000.0


def srp_sign_matrix(n_planes: int = SRP_PLANES, dim: int = 64) -> list[list[int]]:
    """Deterministic ±1 hyperplane matrix, derived from md5 — the same
    formula both the Spark plan and the DuckDB oracle can state:
    sign(j, i) = +1 if the first hex digit of md5('srp|j|i') is even.
    No RNG, no seed state: any engine reproduces the planes bit-for-bit."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"srp|{j}|{i}".encode()).hexdigest()[0], 16) % 2 == 0 else -1
            for i in range(dim)
        ]
        for j in range(n_planes)
    ]


def srp_signatures(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = SRP_PLANES,
    band_bits: int = SRP_BAND_BITS,
    dim: int = 64,
) -> DataFrame:
    """Banded SRP-LSH signatures: (id, band_id, band_sig) long-form.

    Each plane's dot product runs in EXACT integer arithmetic: components
    are floor-quantized to 1/1000 (``floor(x*1000)`` — identical float64
    input gives the identical integer on every engine, so the sign bit can
    never flip with summation order, unlike a float dot whose near-zero
    sign is order-dependent). All narrow, whole-stage codegen; zero
    shuffle.

    Hamming-adjacent use (banded near-neighbour candidates) follows
    Charikar's SimHash rounding scheme — same construction the text
    SimHash in dedup.py uses, here over real-valued embeddings.
    """
    signs = srp_sign_matrix(n_planes, dim)
    n_bands = n_planes // band_bits
    xq = F.transform(
        F.col(vec_col), lambda x: F.floor(x.cast("double") * F.lit(SRP_QUANT)).cast("long")
    )
    sigs = vectors.select(F.col(id_col), xq.alias("_xq"))
    bits = [
        (
            F.aggregate(
                F.zip_with(
                    F.col("_xq"),
                    F.array(*[F.lit(s).cast("long") for s in signs[j]]),
                    lambda x, y: x * y,
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            >= 0
        ).cast("long")
        for j in range(n_planes)
    ]
    bands = [
        sum(
            (bits[b * band_bits + r] * F.lit(1 << r)) for r in range(band_bits)
        ).alias(f"_band{b}")
        for b in range(n_bands)
    ]
    wide = sigs.select(F.col(id_col), *bands)
    pairs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"), F.col(f"_band{b}").alias("band_sig")
            )
            for b in range(n_bands)
        ]
    )
    return wide.select(F.col(id_col), F.explode(pairs).alias("_bs")).select(
        F.col(id_col),
        F.col("_bs.band_id").alias("band_id"),
        F.col("_bs.band_sig").alias("band_sig"),
    )


def srp_near_duplicates(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = SRP_PLANES,
    band_bits: int = SRP_BAND_BITS,
    dim: int = 64,
    max_bucket: int = 10000,
) -> DataFrame:
    """Embedding near-dup via SRP-LSH buckets → exact cosine verify.

    The random-hyperplane alternative to ``cell_cosine_pairs``: candidates
    share ≥1 (band_id, band_sig) bucket; the self-join shuffles on the
    bucket key with the same degenerate-bucket guard as LSH text dedup;
    the exact rounded-cosine scorer verifies ≥ threshold.

    Band width trades recall against candidate volume: narrow bands (the
    4-bit default, tuned for this corpus's weak-similarity regime where
    cosines top out ~0.5) collide often but verify cheaply; for real
    high-similarity dedup (τ ≥ 0.9) use 8-bit bands — fewer, better
    candidates. Recall vs the exact all-pairs baseline is pinned in
    tests/test_similarity.py. Returns (id_a, id_b, cosine).
    """
    from ..caching import persist_tracked

    sigs = srp_signatures(vectors, id_col, vec_col, n_planes, band_bits, dim)
    sized = persist_tracked(
        sigs.withColumn(
            "bucket_n",
            F.count(F.lit(1)).over(Window.partitionBy("band_id", "band_sig")),
        )
        .filter(F.col("bucket_n") <= max_bucket)
        .select(id_col, "band_id", "band_sig")
    )
    a = sized.select("band_id", "band_sig", F.col(id_col).alias("id_a"))
    b = sized.select("band_id", "band_sig", F.col(id_col).alias("id_b"))
    cand = (
        a.join(b, ["band_id", "band_sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    vd = vectors.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    ).withColumn("_nrm", _norm(F.col("_v")))
    va = vd.select(F.col(id_col).alias("id_a"), F.col("_v").alias("a_vec"), F.col("_nrm").alias("nrm_a"))
    vb = vd.select(F.col(id_col).alias("id_b"), F.col("_v").alias("b_vec"), F.col("_nrm").alias("nrm_b"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cosine",
            F.round(_dot(F.col("a_vec"), F.col("b_vec")) / (F.col("nrm_a") * F.col("nrm_b")), 4),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# --- product quantization (PQ / ADC) --------------------------------------

PQ_M = 8  # subspaces: 64-d embedding → 8 subvectors of 8 dims
PQ_CODES = 8  # codewords per subspace (deterministic corpus seeds)


def _d2(a, b):
    """Squared L2 distance between two array<double> columns (codegen)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_pack_codebook(
    seeds: DataFrame,
    m: int = PQ_M,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pack PQ codebooks into ONE broadcast row: ``_cb[mi][j] = {j, cvec}``.

    The codebook for subspace ``mi`` is the mi-th subvector of each seed
    vector — deterministic k-means++-style seeding WITHOUT the Lloyd
    iterations (those would make codewords float-iteration-order dependent
    and kill the cross-engine oracle; the refinement hook is a documented
    quality extension, not a correctness need). Seed ids become codeword
    ids, re-indexed by ascending seed id so codes are dense 0..K-1.

    Same packing idea as ``cell_assignments``: the whole codebook rides in
    a single broadcast row, so encoding is zero-shuffle whole-stage
    codegen over the corpus.
    """
    sub = dim // m
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    subs = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda mi: F.slice(F.col("_vd"), mi * sub + 1, sub),
    )
    packed = (
        seeds.select(F.col(id_col).cast("int").alias("_sid"), vd.alias("_vd"))
        .select(F.col("_sid"), subs.alias("_subs"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_sid").alias("sid"), F.col("_subs").alias("subs")))
            ).alias("_seeds")
        )
    )
    cb = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda mi: F.transform(
            F.col("_seeds"),
            lambda s, j: F.struct(
                j.cast("int").alias("j"), F.element_at(s["subs"], mi + 1).alias("cvec")
            ),
        ),
    )
    return packed.select(cb.alias("_cb"))


def pq_encode(
    vectors: DataFrame,
    codebook: DataFrame,
    m: int = PQ_M,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_codes: int = PQ_CODES,
) -> DataFrame:
    """Encode each vector as ``m`` codeword ids: (id, codes array<int>).

    Per subspace: argmin of the 4dp-ROUNDED squared distance to each
    codeword, ties to the smallest codeword id (struct-ordered min on
    (d, j) — the ``cell_assignments`` determinism contract, L2 edition).
    8 bytes per vector instead of 256 — a 32× compression of the scan +
    shuffle footprint for the scoring pass at 100 TB.

    Round-11 measurement notes (both candidate rewrites A/B'd, neither
    adopted — recorded so they are not blindly retried): per-row encode
    evaluation IS q132's hot spot (~2 ms/row; the count-only plan prunes
    ``codes`` entirely, which is why encode looks free in naive
    timings). (a) Statically unrolling the m × n_codes × sub grid with
    a ``least``-struct argmin produced an ~8000-node expression whose
    analysis/codegen cost made the query 4x SLOWER end to end.
    (b) The form below keeps the HOF evaluation; the effective round-11
    mitigation was materializing the encoded relation in ``pq_topk`` so
    encode runs once, not once per query pairing. (c) Collecting the
    codebook to plan literals at build time (one ``array<array<double>>``
    literal per subspace, no codebook join) was adopted in round 12 and
    then deleted as a measured regression: q132 went 2.04 → 5.22 s at
    32 cores and 3.12 → 5.80 s at 4 cores (isolated, best of 3), and the
    build-time collect added two Spark jobs before the action. Do not
    retry it without a new reason; the next candidate is a vectorised
    batch kernel (``mapInArrow``) with Spark's exact sum order and
    HALF_UP rounding.
    """
    from ..sources.readers import ensure_parallelism

    sub = dim // m
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # The interpreted per-row argmin below is the operator's whole cost, and
    # a small parquet corpus scans as ONE task — encode then runs on one
    # core (measured 3.08 s vs 0.49 s at sf0.1, 2k vectors on local[32]).
    # ensure_parallelism is a no-op at real data scale (scan already split).
    vectors = ensure_parallelism(vectors)

    def code_for(mi):
        scored = F.transform(
            F.element_at(F.col("_cb"), mi + 1),
            lambda c: F.struct(
                F.round(_d2(F.slice(F.col("_vd"), mi * sub + 1, sub), c["cvec"]), 4).alias("d"),
                c["j"].alias("j"),
            ),
        )
        # array_min, not element_at(array_sort, 1): same struct ordering
        # (d asc, ties to smallest j) via the same interpreted ordering,
        # but an O(n) scan with no sorted-copy allocation — this argmin
        # runs 256 × m times PER ROW, so the allocation is the hot path.
        return F.array_min(scored)["j"]

    codes = F.transform(F.sequence(F.lit(0), F.lit(m - 1)), code_for)
    return (
        vectors.join(F.broadcast(codebook))
        .select(F.col(id_col), vd.alias("_vd"), F.col("_cb"))
        .select(id_col, codes.alias("codes"))
    )


def pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = PQ_M,
    n_codes: int = PQ_CODES,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_shards: int = 64,
    shortlist: int | None = None,
) -> DataFrame:
    """PQ search with ADC shortlist + exact re-rank (Jégou et al., TPAMI
    2011 — public method, re-expressed as DataFrame ops).

    Codebook = subvectors of the first ``n_codes`` corpus ids (seeds).
    Corpus vectors are ENCODED (m small ints each); queries stay exact
    and precompute an m×K distance table, broadcast with the query. The
    approximate distance is a pure table lookup-sum — no float vector
    math on the corpus side at scoring time, which is the whole PQ trade:
    the 100 TB corpus is scanned as codes (32× smaller), and each
    candidate costs m array lookups instead of a 64-dim dot.

    Production two-stage shape: ADC ranks the WHOLE corpus cheaply and
    keeps a ``shortlist`` (default 4k) per query; only those candidates
    fetch their float vectors (candidate-driven join, O(queries ×
    shortlist) rows) for an exact squared-L2 re-rank. The expensive exact
    math therefore touches ~shortlist/corpus of the data — the same
    filter-then-verify economics as the LSH dedup family.

    Fully deterministic (rounded subspace distances, rounded ADC sum,
    rounded exact distances, id tie-breaks) → DuckDB-oracle-able end to
    end. Returns (query_id, neighbor_id, d2) with the EXACT rounded
    distance, smaller = nearer.
    """
    sub = dim // m
    shortlist = shortlist or 4 * k
    seeds = vectors.filter(F.col(id_col) < n_codes)
    cb = pq_pack_codebook(seeds, m=m, dim=dim, id_col=id_col, vec_col=vec_col)
    # The encoded corpus is MATERIALIZED before the query cross (round 11):
    # left lazy, the per-vector argmin encode pipelines INTO the
    # broadcast-nested-loop join projection and re-evaluates once per
    # (vector, query) pairing — measured 25x re-encode at sf0.1, ~4 s of
    # the query's 5 s. Production PQ stores the code table as its index
    # (SCALE.md); the persist is that index's in-session form.
    from ..caching import persist_tracked

    encoded = persist_tracked(
        pq_encode(
            vectors, cb, m=m, dim=dim, id_col=id_col, vec_col=vec_col,
            n_codes=n_codes,
        )
    )

    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    dtable = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda mi: F.transform(
            F.element_at(F.col("_cb"), mi + 1),
            lambda c: F.round(_d2(F.slice(F.col("_qd"), mi * sub + 1, sub), c["cvec"]), 4),
        ),
    )
    q = (
        queries.join(F.broadcast(cb))
        .select(F.col(id_col).alias("query_id"), vd.alias("_qd"), F.col("_cb"))
        .select("query_id", dtable.alias("_dtable"))
    )
    # ADC lookup-sum UNROLLED over the m subspaces (round 11): the
    # aggregate(zip_with(...)) higher-order form evaluates interpreted —
    # measured ~76 µs/row at m=16 (3.8 s for 50k corpus rows, the whole
    # query's hot spot); the static sum below is straight-line
    # whole-stage-codegen arithmetic. Addition order is identical
    # (mi = 0..m-1 left to right, 0.0 start), so values — and the
    # oracle — are bit-unchanged.
    approx = F.round(
        sum(
            (
                F.element_at(
                    F.element_at(F.col("_dtable"), mi + 1),
                    F.element_at(F.col("codes"), mi + 1) + 1,
                )
                for mi in range(m)
            ),
            F.lit(0.0),
        ),
        4,
    )
    scored = (
        encoded.withColumnRenamed(id_col, "neighbor_id")
        .join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("approx_d2", approx)
        .withColumn("_shard", F.pmod(F.hash("neighbor_id"), F.lit(n_shards)))
    )
    cand = _topk_per_query(scored, shortlist, score_col="approx_d2", ascending=True)

    # Exact re-rank: only the shortlist fetches float vectors.
    vd_corpus = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_nvd"),
    )
    qvecs = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_qvd"),
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("neighbor_id"))
    return (
        cand.select("query_id", "neighbor_id")
        .join(vd_corpus, "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")
        .withColumn("d2", F.round(_d2(F.col("_qvd"), F.col("_nvd")), 4))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "d2")
    )


def semdedup_drops(
    vectors: DataFrame,
    clusters: DataFrame,
    threshold: float,
    max_cluster: int = 10000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) drop inventory: within each trained
    cluster, a vector is DROPPED when a lower-id cluster-mate sits within
    cosine >= ``threshold`` of it (the deterministic keep-one rule — the
    repo's exact-dedup keep-lowest-id convention applied to semantic
    groups). Returns (vec_id, cluster, n_dups, max_cos) for dropped ids.

    ``clusters`` is any (id, cluster) assignment — q217 feeds Lloyd-trained
    k-means (operators/ml.kmeans_assignments), the paper's setup.

    Scale: the only quadratic term is the within-cluster self-join, bounded
    by ``max_cluster`` (the max_bucket/max_cell guard); SemDeDup's own
    recipe keeps E[cluster size] constant by scaling k with corpus size, so
    the guard is a backstop, not the mechanism. No global window, no
    all-pairs.
    """
    from ..caching import persist_tracked

    vd = vectors.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    ).withColumn("_nrm", _norm(F.col("_v")))
    sized = persist_tracked(
        clusters.withColumn(
            "_cn", F.count(F.lit(1)).over(Window.partitionBy("cluster"))
        )
        .filter(F.col("_cn") <= max_cluster)
        .select(id_col, "cluster")
    )
    a = sized.select("cluster", F.col(id_col).alias("id_a"))
    b = sized.select("cluster", F.col(id_col).alias("id_b"))
    cand = a.join(b, ["cluster"]).filter(F.col("id_a") < F.col("id_b"))
    va = vd.select(
        F.col(id_col).alias("id_a"), F.col("_v").alias("a_vec"), F.col("_nrm").alias("nrm_a")
    )
    vb = vd.select(
        F.col(id_col).alias("id_b"), F.col("_v").alias("b_vec"), F.col("_nrm").alias("nrm_b")
    )
    sim = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("a_vec"), F.col("b_vec")) / (F.col("nrm_a") * F.col("nrm_b")),
                4,
            ),
        )
        .filter(F.col("cosine") >= threshold)
    )
    return sim.groupBy(F.col("id_b").alias(id_col), "cluster").agg(
        F.count(F.lit(1)).alias("n_dups"), F.max("cosine").alias("max_cos")
    )


def kcenter_coreset(
    vectors: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center (farthest-point) coreset selection — the classic
    2-approximation (Gonzalez 1985) used for training-data pruning and
    active-learning seed sets: start from the lowest id, then repeatedly
    add the point FARTHEST from the current selection (squared L2, 4dp
    rounded, min-id tie-break — fully deterministic).

    Returns (sel_rank, vec_id, dist_to_set): rank 1 is the seed with
    dist 0.0; rank t's dist is its distance to the set BEFORE joining.

    Scale: each of the k rounds scores the corpus against ONE new
    broadcast literal vector (narrow, zero-shuffle) and takes a
    TakeOrderedAndProject top-1 — work is k linear passes, the driver
    only ever holds k (id, vector) rows (the BPE argmax-per-round
    contract). The min-dist state is recomputed per round from the
    packed selection rather than persisted — k·d is tiny.
    """
    spark = vectors.sparkSession
    out_schema = f"sel_rank long, {id_col} long, dist_to_set double"
    vd = vectors.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    ).localCheckpoint(eager=True)
    n_rows = vd.count()
    if n_rows == 0:  # empty corpus → empty selection (totality)
        return spark.createDataFrame([], out_schema)
    k = min(k, n_rows)  # never re-select a point once the corpus is exhausted
    seed_id = vd.agg(F.min(id_col)).first()[0]
    seed_vec = vd.filter(F.col(id_col) == seed_id).first()["_v"]
    picked = [(1, int(seed_id), 0.0)]
    sel_vecs = [seed_vec]
    for t in range(2, k + 1):
        packed = F.array(*[F.array(*[F.lit(float(x)) for x in v]) for v in sel_vecs])
        mind = F.array_min(
            F.transform(packed, lambda s: F.round(_d2(F.col("_v"), s), 4))
        )
        row = (
            vd.select(F.col(id_col), mind.alias("d"))
            .orderBy(F.desc("d"), F.asc(id_col))
            .limit(1)
            .first()
        )
        picked.append((t, int(row[id_col]), float(row["d"])))
        sel_vecs.append(vd.filter(F.col(id_col) == row[id_col]).first()["_v"])
    return spark.createDataFrame(picked, out_schema)


def kcenter_oracle(k: int = 8) -> str:
    """DuckDB SQL replaying kcenter_coreset's exact greedy recurrence as
    unrolled CTEs: per round, distances to the previous pick fold into a
    running LEAST min-dist, then a (dist DESC, id ASC) LIMIT 1 argmax."""
    parts = ["""
WITH vflat AS MATERIALIZED (
    SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS x,
           GENERATE_SUBSCRIPTS(embedding, 1) AS i
    FROM embeddings
),
p1 AS (SELECT MIN(vec_id) AS pid, 0.0 AS d FROM vflat),
m1 AS MATERIALIZED (
    SELECT v.vec_id, ROUND(SUM((v.x - s.x) * (v.x - s.x)), 4) AS mind
    FROM vflat v
    JOIN p1 ON TRUE
    JOIN vflat s ON s.vec_id = p1.pid AND s.i = v.i
    GROUP BY v.vec_id
)"""]
    for t in range(2, k + 1):
        parts.append(f""",
p{t} AS MATERIALIZED (
    SELECT vec_id AS pid, mind AS d FROM m{t - 1}
    ORDER BY mind DESC, vec_id ASC LIMIT 1
),
m{t} AS MATERIALIZED (
    SELECT m.vec_id, LEAST(m.mind, nd.nd) AS mind
    FROM m{t - 1} m JOIN (
        SELECT v.vec_id, ROUND(SUM((v.x - s.x) * (v.x - s.x)), 4) AS nd
        FROM vflat v
        JOIN p{t} ON TRUE
        JOIN vflat s ON s.vec_id = p{t}.pid AND s.i = v.i
        GROUP BY v.vec_id
    ) nd ON nd.vec_id = m.vec_id
)""")
    sel = "\nUNION ALL\n".join(
        f"SELECT CAST({t} AS BIGINT) AS sel_rank, pid AS vec_id, d AS dist_to_set FROM p{t}"
        for t in range(1, k + 1)
    )
    return "".join(parts) + "\n" + sel


def srp_bit_vector(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 64,
    dim: int = 64,
) -> DataFrame:
    """Full (un-banded) SRP sign bits per vector: (id, bits array<long>).

    Same deterministic md5 hyperplanes and floor-quantized integer dot
    products as ``srp_signatures`` (sign bits can never flip with
    summation order), but keeps all ``n_planes`` bits so callers can
    measure Hamming distances directly — the Johnson–Lindenstrauss /
    SimHash distance-estimation use, rather than banded bucketing.
    Narrow per-row compute, zero shuffle.
    """
    signs = srp_sign_matrix(n_planes, dim)
    xq = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(SRP_QUANT)).cast("long"),
    )
    sigs = vectors.select(F.col(id_col), xq.alias("_xq"))
    bits = F.array(
        *[
            (
                F.aggregate(
                    F.zip_with(
                        F.col("_xq"),
                        F.array(*[F.lit(s).cast("long") for s in signs[j]]),
                        lambda x, y: x * y,
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                )
                >= 0
            ).cast("long")
            for j in range(n_planes)
        ]
    )
    return sigs.select(F.col(id_col), bits.alias("bits"))


def mmr_select(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool_size: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    greedily pick ``k`` results that trade relevance against redundancy,

        next = argmax  lam * rel(d) - (1 - lam) * max_{s in S} sim(d, s)

    over a relevance-pruned candidate pool. Returns (mmr_rank, vec_id, rel,
    score); the first pick's redundancy term is 0 (pure relevance).

    Two-phase, like ``bpe.train``'s per-round argmax: phase 1 is fully
    distributed (the sharded exact top-``pool_size`` relevance scan +
    one broadcast self-join for the pool's pairwise similarity matrix —
    pool_size**2 rows); phase 2 is the inherently sequential greedy over
    that BOUNDED pool, run driver-side on <= pool_size**2 collected rows
    (constants, never corpus-sized). rel/sim are 4dp-rounded engine
    doubles, so the driver arithmetic (plain IEEE multiply/subtract) is
    bit-identical to any engine's.
    """
    n_queries = queries.count()
    if n_queries > 1:
        raise ValueError(
            "mmr_select supports exactly one query vector per call: the "
            "greedy pool/similarity state is per-query (call it once per "
            "query, or fan out with a loop)"
        )
    if n_queries == 0:  # total on empty input, like the other operators
        spark = vectors.sparkSession
        id_type = dict(vectors.dtypes)[id_col]
        return spark.createDataFrame(
            [], f"mmr_rank long, vec_id {id_type}, rel double, score double"
        )
    pool = cosine_topk(
        vectors, queries, k=pool_size, id_col=id_col, vec_col=vec_col
    ).select("neighbor_id", F.col("cosine").alias("rel"))
    pv = pool.join(
        vectors.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v")
        ),
        "neighbor_id",
    )
    a = pv.select(F.col("neighbor_id").alias("a"), F.col("v").alias("va"))
    b = pv.select(F.col("neighbor_id").alias("b"), F.col("v").alias("vb"))
    sims = (
        a.join(F.broadcast(b), F.col("a") != F.col("b"))
        .select("a", "b", F.round(cosine(F.col("va"), F.col("vb")), 4).alias("sim"))
    )
    rel_rows = {r["neighbor_id"]: r["rel"] for r in pool.collect()}
    sim_rows = {(r["a"], r["b"]): r["sim"] for r in sims.collect()}

    selected: list[tuple[int, int, float, float]] = []
    chosen: list = []
    for rank in range(1, k + 1):
        best = None
        for d, rel in rel_rows.items():
            if d in chosen:
                continue
            maxsim = max((sim_rows[(d, s)] for s in chosen), default=0.0)
            raw = lam * rel - (1 - lam) * maxsim
            if best is None or raw > best[0] or (raw == best[0] and d < best[1]):
                best = (raw, d)
        if best is None:  # pool exhausted (pool_size < k, or empty corpus)
            break
        raw, d = best
        selected.append((rank, d, rel_rows[d], raw))
        chosen.append(d)

    # round engine-side (F.round is HALF_UP away-from-zero like the SQL
    # oracles; Python's round() is banker's and would diverge on .00005)
    spark = vectors.sparkSession
    id_type = dict(vectors.dtypes)[id_col]
    return spark.createDataFrame(
        selected,
        f"mmr_rank long, vec_id {id_type}, rel double, score_raw double",
    ).select("mmr_rank", "vec_id", "rel", F.round("score_raw", 4).alias("score"))
