"""Similarity-search queries over the `embeddings` table (north-star ANN).

Oracles compute cosine in explicit double arithmetic via position-joined
unnest, mirroring the Spark zip_with/aggregate formula; cosine is rounded to
4dp before ranking on both sides so float noise cannot reorder neighbours.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators import similarity, text_analysis
from ..sources.readers import load_table
from .registry import register

_N_QUERIES = 5
_K = 5

_COSINE_CTE = f"""
q AS (
    SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings
    WHERE vec_id < {_N_QUERIES}
),
qflat AS (
    SELECT query_id, CAST(UNNEST(q_vec) AS DOUBLE) AS x,
           GENERATE_SUBSCRIPTS(q_vec, 1) AS i
    FROM q
),
vflat AS (
    SELECT vec_id AS neighbor_id, CAST(UNNEST(embedding) AS DOUBLE) AS x,
           GENERATE_SUBSCRIPTS(embedding, 1) AS i
    FROM embeddings
),
norms AS (
    SELECT neighbor_id AS vid, SQRT(SUM(x * x)) AS nrm FROM vflat GROUP BY neighbor_id
),
dots AS (
    SELECT qf.query_id, vf.neighbor_id, SUM(qf.x * vf.x) AS dot
    FROM qflat qf JOIN vflat vf ON vf.i = qf.i
    WHERE qf.query_id <> vf.neighbor_id
    GROUP BY qf.query_id, vf.neighbor_id
),
scored AS (
    SELECT d.query_id, d.neighbor_id,
           ROUND(d.dot / (nq.nrm * nv.nrm), 4) AS cosine
    FROM dots d
    JOIN norms nq ON nq.vid = d.query_id
    JOIN norms nv ON nv.vid = d.neighbor_id
)
"""


@register(
    "q23_cosine_topk",
    oracle=f"""
WITH {_COSINE_CTE}
SELECT query_id, neighbor_id, cosine
FROM (
    SELECT query_id, neighbor_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rk
    FROM scored
) t
WHERE rk <= {_K}
""",
    tags=("similarity-topk",),
    bench=True,
)
def q23_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-k: broadcast 5 query vectors vs corpus."""
    import pyspark.sql.functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return similarity.cosine_topk(emb, queries, k=_K)


_N_CELLS = 8
_N_PROBE = 2


@register(
    "q33_ivf_topk",
    # The IVF path is approximate but fully DETERMINISTIC: every ingredient
    # (rounded-cosine argmax assignment with asc-cell tie-break, n_probe cell
    # probing, rounded-cosine ranking with asc-id tie-break) is
    # SQL-expressible, so the oracle replays the exact algorithm in DuckDB
    # CTEs — the same pattern q27's oracle uses for the LSH pipeline.
    oracle=f"""
WITH vflat AS (
    SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS x,
           GENERATE_SUBSCRIPTS(embedding, 1) AS i
    FROM embeddings
),
norms AS (
    SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM vflat GROUP BY vec_id
),
cdots AS (
    SELECT v.vec_id, c.vec_id AS cid, SUM(v.x * c.x) AS dot
    FROM vflat v JOIN vflat c ON c.i = v.i AND c.vec_id < {_N_CELLS}
    GROUP BY v.vec_id, c.vec_id
),
cscore AS (
    SELECT d.vec_id, d.cid, ROUND(d.dot / (nv.nrm * nc.nrm), 4) AS cos,
           ROW_NUMBER() OVER (PARTITION BY d.vec_id
                              ORDER BY ROUND(d.dot / (nv.nrm * nc.nrm), 4) DESC,
                                       d.cid ASC) AS rk
    FROM cdots d
    JOIN norms nv ON nv.vec_id = d.vec_id
    JOIN norms nc ON nc.vec_id = d.cid
),
assign AS (SELECT vec_id, cid FROM cscore WHERE rk = 1),
probe AS (
    SELECT vec_id AS query_id, cid FROM cscore
    WHERE rk <= {_N_PROBE} AND vec_id < {_N_QUERIES}
),
cand AS (
    SELECT p.query_id, a.vec_id AS neighbor_id
    FROM probe p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id
),
pdots AS (
    SELECT c.query_id, c.neighbor_id, SUM(q.x * v.x) AS dot
    FROM cand c
    JOIN vflat q ON q.vec_id = c.query_id
    JOIN vflat v ON v.vec_id = c.neighbor_id AND v.i = q.i
    GROUP BY c.query_id, c.neighbor_id
),
scored AS (
    SELECT p.query_id, p.neighbor_id,
           ROUND(p.dot / (nq.nrm * nv.nrm), 4) AS cosine
    FROM pdots p
    JOIN norms nq ON nq.vec_id = p.query_id
    JOIN norms nv ON nv.vec_id = p.neighbor_id
)
SELECT query_id, neighbor_id, cosine
FROM (
    SELECT query_id, neighbor_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rk
    FROM scored
) t
WHERE rk <= {_K}
""",
    tags=("similarity-ivf",),
)
def q33_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse cells from 8 seed centroids, probe 2 cells."""
    import pyspark.sql.functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = (
        emb.filter(F.col("vec_id") < _N_CELLS)
        .select(F.col("vec_id").alias("cell_id"), F.col("embedding").alias("centroid"))
    )
    assigned = similarity.ivf_assign(emb, centroids)
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return similarity.ivf_topk(assigned, centroids, queries, k=_K, n_probe=_N_PROBE)


def _pca_oracle() -> str:
    from ..operators.ml import deterministic_pca_oracle

    return deterministic_pca_oracle(k=2, rounds=40)


@register(
    "q62_pca_project",
    # Deterministic power-iteration PCA: integer-quantised exact sums +
    # fixed-round rounded recurrence + svd_flip sign canonicalisation make
    # the projection engine-portable — the oracle unrolls the identical
    # algebra as MATERIALIZED CTEs and hash-matches at 4dp (the q147
    # k-means contract, PCA edition). Scalar pc1/pc2 output columns.
    oracle=_pca_oracle(),
    tags=("ml", "pca"),
)
def q62_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic distributed PCA projection of the embedding corpus
    onto 2 principal components (classifiers.ipynb cells 16-18 shape):
    one exact-integer Gram pass over the data, d x d driver-side power
    iteration (fixed 40 rounds, state rounded each round), Catalyst-side
    4dp projection — scalar (vec_id, pc1, pc2)."""
    from ..operators.ml import deterministic_pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    return deterministic_pca_project(emb, k=2, dim=64, rounds=40)


@register(
    "q85_quantized_topk",
    # int8 scalar quantization is fully deterministic (floor(x/s*127+0.5)
    # — identical half-handling in both engines) and the integer dot is
    # exact, so the approximate-cosine ranking hash-matches bit-for-bit.
    # Rescale expression order matches the Spark side exactly:
    # ((qdot * s_a) * s_b / 127²) / (nrm_a * nrm_b).
    oracle=f"""
WITH vflat AS (
    SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS x,
           GENERATE_SUBSCRIPTS(embedding, 1) AS i
    FROM embeddings
),
scales AS (
    SELECT vec_id, MAX(ABS(x)) AS s FROM vflat GROUP BY vec_id HAVING MAX(ABS(x)) > 0
),
norms AS (
    SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM vflat GROUP BY vec_id
),
qflat AS (
    SELECT v.vec_id, v.i, CAST(FLOOR(v.x / s.s * 127.0 + 0.5) AS BIGINT) AS q
    FROM vflat v JOIN scales s ON s.vec_id = v.vec_id
),
qdots AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, SUM(a.q * b.q) AS qdot
    FROM qflat a
    JOIN qflat b ON b.i = a.i AND b.vec_id <> a.vec_id
    WHERE a.vec_id < {_N_QUERIES}
    GROUP BY a.vec_id, b.vec_id
),
scored AS (
    SELECT d.query_id, d.neighbor_id,
           ROUND(d.qdot * sa.s * sb.s / 16129.0 / (na.nrm * nb.nrm), 4)
               AS approx_cos
    FROM qdots d
    JOIN scales sa ON sa.vec_id = d.query_id
    JOIN scales sb ON sb.vec_id = d.neighbor_id
    JOIN norms na ON na.vec_id = d.query_id
    JOIN norms nb ON nb.vec_id = d.neighbor_id
)
SELECT query_id, neighbor_id, approx_cos
FROM (
    SELECT query_id, neighbor_id, approx_cos,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY approx_cos DESC, neighbor_id ASC) AS rk
    FROM scored
) t
WHERE rk <= {_K}
""",
    tags=("similarity-topk", "quantization"),
)
def q85_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8-quantized approximate cosine top-k — the 4×-less-I/O scale tier
    under q23's exact path (operators/similarity.quantized_topk; recall
    floor vs exact pinned in tests/test_similarity.py)."""
    import pyspark.sql.functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return similarity.quantized_topk(emb, queries, k=_K)


# q117 constants — see operators/similarity.srp_sign_matrix: planes are
# md5-derived (no RNG), dots run in floor-quantized integer arithmetic so
# the sign bit is summation-order-proof, 16 planes banded 4×4 bits (tuned
# for this corpus's weak-similarity regime; see srp_near_duplicates).
_Q117_THRESHOLD = 0.42


@register(
    "q117_srp_near_dups",
    oracle=f"""
WITH planes AS (
    SELECT j.j, i.i,
           CASE WHEN ('0x' || SUBSTR(MD5('srp|' || j.j || '|' || i.i), 1, 1))::INT % 2 = 0
                THEN 1 ELSE -1 END AS s
    FROM (SELECT UNNEST(GENERATE_SERIES(0, 15)) AS j) j,
         (SELECT UNNEST(GENERATE_SERIES(0, 63)) AS i) i
),
vq AS (
    SELECT vec_id,
           CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1000.0) AS BIGINT) AS xq,
           GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS i
    FROM embeddings
),
dots AS (
    SELECT v.vec_id, p.j, SUM(v.xq * p.s) AS d
    FROM vq v JOIN planes p ON p.i = v.i
    GROUP BY v.vec_id, p.j
),
sigs AS (
    SELECT vec_id, CAST(j // 4 AS INT) AS band_id,
           CAST(SUM((CASE WHEN d >= 0 THEN 1 ELSE 0 END) * (1 << (j % 4))) AS BIGINT) AS band_sig
    FROM dots GROUP BY vec_id, CAST(j // 4 AS INT)
),
cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM sigs a
    JOIN sigs b ON b.band_id = a.band_id AND b.band_sig = a.band_sig
                AND a.vec_id < b.vec_id
),
vflat AS (
    SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS x,
           GENERATE_SUBSCRIPTS(embedding, 1) AS i
    FROM embeddings
),
nrms AS (SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM vflat GROUP BY vec_id),
pdots AS (
    SELECT c.id_a, c.id_b, SUM(a.x * b.x) AS dot
    FROM cand c
    JOIN vflat a ON a.vec_id = c.id_a
    JOIN vflat b ON b.vec_id = c.id_b AND b.i = a.i
    GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b, ROUND(dot / (na.nrm * nb.nrm), 4) AS cosine
FROM pdots
JOIN nrms na ON na.vec_id = id_a
JOIN nrms nb ON nb.vec_id = id_b
WHERE ROUND(dot / (na.nrm * nb.nrm), 4) >= {_Q117_THRESHOLD}
""",
    tags=("dedup-embedding", "similarity", "lsh"),
)
def q117_srp_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via signed-random-projection LSH buckets — the
    random-hyperplane alternative to q38's IVF cells. Candidates share a
    (band_id, band_sig) bucket; exact rounded-cosine verify ≥ 0.42. The
    oracle recomputes planes, integer dots, bands, and verify from the
    same md5 formula. Recall vs the exact all-pairs baseline is pinned in
    tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.srp_near_duplicates(emb, threshold=_Q117_THRESHOLD)


_Q118_K = 50
_Q118_OUT = 20
_Q118_RRF_K = 60


@register(
    "q118_rrf_fusion",
    oracle=f"""
WITH {_COSINE_CTE.replace("vec_id < " + str(_N_QUERIES), "vec_id = 0")},
cos_rank AS (
    SELECT neighbor_id AS item_id,
           ROW_NUMBER() OVER (ORDER BY cosine DESC, neighbor_id ASC) AS rank_cos
    FROM scored
    QUALIFY rank_cos <= {_Q118_K}
),
qtoks AS (
    SELECT DISTINCT UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS tok
    FROM documents WHERE doc_id = 0
),
dtoks AS (
    SELECT DISTINCT doc_id, UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS tok
    FROM documents WHERE doc_id <> 0
),
ovl AS (
    SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS overlap
    FROM dtoks d JOIN qtoks q ON q.tok = d.tok
    GROUP BY d.doc_id
),
tok_rank AS (
    SELECT doc_id AS item_id,
           ROW_NUMBER() OVER (ORDER BY overlap DESC, doc_id ASC) AS rank_tok
    FROM ovl
    QUALIFY rank_tok <= {_Q118_K}
),
fused AS (
    SELECT COALESCE(c.item_id, t.item_id) AS item_id,
           CAST(c.rank_cos AS DOUBLE) AS rank_cos,
           CAST(t.rank_tok AS DOUBLE) AS rank_tok,
           ROUND(COALESCE(CAST(1.0 AS DOUBLE) / ({_Q118_RRF_K} + c.rank_cos), 0)
               + COALESCE(CAST(1.0 AS DOUBLE) / ({_Q118_RRF_K} + t.rank_tok), 0), 6) AS rrf_score
    FROM cos_rank c FULL OUTER JOIN tok_rank t ON t.item_id = c.item_id
)
SELECT item_id, rank_cos, rank_tok, rrf_score
FROM fused
ORDER BY rrf_score DESC, item_id ASC
LIMIT {_Q118_OUT}
""",
    tags=("similarity-topk", "rank-fusion"),
)
def q118_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrievers: embedding cosine top-50
    (query = vec 0) and distinct-token-overlap top-50 (query = doc 0).

    Each branch produces its top-k with the SCALE-correct machinery (the
    sharded two-phase cosine top-k; a grouped overlap count +
    TakeOrderedAndProject cut) — the rank windows then run over ≤ k rows,
    so the single-partition window is bounded by construction, which is
    exactly how RRF is deployed: fuse small top-k lists, never full-corpus
    rankings. rrf = Σ 1/(60 + rank); ties broken by item id.
    """
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0)
    topc = similarity.cosine_topk(emb, qvec, k=_Q118_K)
    w_c = Window.orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    cos_rank = topc.select(
        F.col("neighbor_id").alias("item_id"),
        F.row_number().over(w_c).alias("rank_cos"),
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.array_distinct(text_analysis.tokens_raw("text")).alias("toks")
    )
    qtoks = docs.filter(F.col("doc_id") == 0).select(F.explode("toks").alias("tok"))
    ovl = (
        docs.filter(F.col("doc_id") != 0)
        .select("doc_id", F.explode("toks").alias("tok"))
        .join(F.broadcast(qtoks), "tok")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("overlap"))
        .orderBy(F.desc("overlap"), F.asc("doc_id"))
        .limit(_Q118_K)
    )
    w_t = Window.orderBy(F.desc("overlap"), F.asc("doc_id"))
    tok_rank = ovl.select(
        F.col("doc_id").alias("item_id"),
        F.row_number().over(w_t).alias("rank_tok"),
    )

    fused = (
        cos_rank.join(tok_rank, "item_id", "full_outer")
        .select(
            "item_id",
            # ranks surface as double on both engines: a nullable int column
            # round-trips through pandas as float64 anyway, so pinning double
            # keeps the dtype stable whether or not nulls occur
            F.col("rank_cos").cast("double").alias("rank_cos"),
            F.col("rank_tok").cast("double").alias("rank_tok"),
            F.round(
                F.coalesce(F.lit(1.0) / (F.lit(_Q118_RRF_K) + F.col("rank_cos")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (F.lit(_Q118_RRF_K) + F.col("rank_tok")), F.lit(0.0)),
                6,
            ).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.asc("item_id"))
        .limit(_Q118_OUT)
    )
    return fused


_PQ_M = 16
_PQ_CODES = 16
_PQ_SHORTLIST = 20


@register(
    "q132_pq_topk",
    # PQ/ADC is approximate but deterministic end to end: 4dp-rounded
    # subspace distances drive both the encode argmin (tie -> smallest
    # codeword id) and the query distance tables; the ADC sum is rounded
    # before the shortlist ranking, and the exact re-rank distance is
    # rounded before the final ranking — so the oracle replays the exact
    # two-stage algorithm in CTEs, the q33/q85 pattern.
    # `//` is DuckDB integer division (plain `/` on ints yields DOUBLE).
    oracle=f"""
WITH vflat AS (
    SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS x,
           GENERATE_SUBSCRIPTS(embedding, 1) AS i
    FROM embeddings
),
d2 AS (
    SELECT v.vec_id, c.vec_id AS j, CAST((v.i - 1) // 4 AS INT) AS mi,
           ROUND(SUM((v.x - c.x) * (v.x - c.x)), 4) AS d
    FROM vflat v JOIN vflat c ON c.i = v.i AND c.vec_id < {_PQ_CODES}
    GROUP BY v.vec_id, c.vec_id, mi
),
codes AS (
    SELECT vec_id, mi, j FROM (
        SELECT vec_id, mi, j,
               ROW_NUMBER() OVER (PARTITION BY vec_id, mi
                                  ORDER BY d ASC, j ASC) AS rk
        FROM d2) t
    WHERE rk = 1
),
adc AS (
    SELECT qd.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROUND(SUM(qd.d), 4) AS approx_d2
    FROM codes c
    JOIN d2 qd ON qd.mi = c.mi AND qd.j = c.j
    WHERE qd.vec_id < {_N_QUERIES} AND c.vec_id <> qd.vec_id
    GROUP BY qd.vec_id, c.vec_id
),
shortlist AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY approx_d2 ASC, neighbor_id ASC) AS rk
        FROM adc) t
    WHERE rk <= {_PQ_SHORTLIST}
),
exact AS (
    SELECT s.query_id, s.neighbor_id,
           ROUND(SUM((q.x - v.x) * (q.x - v.x)), 4) AS d2
    FROM shortlist s
    JOIN vflat q ON q.vec_id = s.query_id
    JOIN vflat v ON v.vec_id = s.neighbor_id AND v.i = q.i
    GROUP BY s.query_id, s.neighbor_id
)
SELECT query_id, neighbor_id, d2
FROM (
    SELECT query_id, neighbor_id, d2,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY d2 ASC, neighbor_id ASC) AS rk
    FROM exact) t
WHERE rk <= {_K}
""",
    tags=("similarity-pq",),
)
def q132_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN: 16 4-dim codebooks from 16 corpus seeds, ADC
    lookup-sum shortlist of 20, exact squared-L2 re-rank to top-5."""
    import pyspark.sql.functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return similarity.pq_topk(
        emb, queries, k=_K, m=_PQ_M, n_codes=_PQ_CODES, shortlist=_PQ_SHORTLIST
    )


_KM_K = 4
_KM_ITER = 3


def _kmeans_ctes(k: int, n_iter: int) -> str:
    """CTE chain (no WITH) from ``vflat`` to the final assignment
    ``a{n_iter+1}`` — the same fixed-round Lloyd algebra as
    operators/ml.kmeans_assignments (4dp-rounded distances and centroid
    means, cluster-id tie-breaks). Every CTE is referenced at most once
    by any other, so DuckDB's inlining stays linear in rounds."""
    parts = [f"""
c0 AS (
    SELECT CAST(vec_id AS INT) AS cid, i, x FROM vflat WHERE vec_id < {k}
)"""]
    prev = "c0"
    for r in range(1, n_iter + 2):
        parts.append(f"""
d{r} AS (
    SELECT v.vec_id, c.cid, ROUND(SUM((v.x - c.x) * (v.x - c.x)), 4) AS d
    FROM vflat v JOIN {prev} c ON c.i = v.i
    GROUP BY v.vec_id, c.cid
),
a{r} AS (
    SELECT vec_id, cid AS cluster FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d ASC, cid ASC) AS rk
        FROM d{r}) t
    WHERE rk = 1
)""")
        if r <= n_iter:
            parts.append(f"""
c{r} AS (
    SELECT a.cluster AS cid, v.i, ROUND(AVG(v.x), 4) AS x
    FROM a{r} a JOIN vflat v ON v.vec_id = a.vec_id
    GROUP BY a.cluster, v.i
)""")
            prev = f"c{r}"
    return ",".join(parts)


@register(
    "q147_kmeans",
    # Iterative ML under the hash gate: fixed-round Lloyd k-means whose
    # every intermediate (rounded distances, rounded centroid means, id
    # tie-breaks) is a pure function of the data — the oracle chains the
    # identical rounds (q82/q135 pattern). Contrast with q41's
    # gradient-descent classifier, which is rows-only by design.
    oracle=f"""
WITH vflat AS MATERIALIZED (
    SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS x,
           GENERATE_SUBSCRIPTS(embedding, 1) AS i
    FROM embeddings
),
{_kmeans_ctes(_KM_K, _KM_ITER)}
SELECT vec_id, cluster FROM a{_KM_ITER + 1}
""",
    tags=("ml-kmeans", "iterative"),
)
def q147_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd k-means (k=4, 3 rounds) over the embedding
    corpus. Iterative — executes one checkpointed round per iteration
    (operators/ml.kmeans_assignments)."""
    from ..operators.ml import kmeans_assignments

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_assignments(emb, k=_KM_K, n_iter=_KM_ITER)


# --------------------------------------------------------------------------
# q217 — SemDeDup (Abbas et al. 2023): semantic dedup over TRAINED Lloyd
# clusters — q147's deterministic k-means assigns, then within each cluster
# any vector with a lower-id cluster-mate at cosine >= threshold is dropped
# (keep-lowest-id = the repo's exact-dedup survivor convention). The drop
# inventory (vec_id, cluster, n_dups, max_cos) is what a curation pipeline
# writes back. Distinct from q38 (IVF-cell near-dup candidates): q217
# clusters by the TRAINED partition (single assignment, the paper's setup)
# and emits the curation verdict, not candidate pairs.
# Scale: the within-cluster self-join is the only quadratic term, bounded
# by max_cluster; SemDeDup scales k with corpus size so E[cluster] is
# constant (documented in operators/similarity.semdedup_drops).
# --------------------------------------------------------------------------
_SD_T = 0.35
_SD_MAXC = 10000


@register(
    "q217_semdedup",
    oracle=f"""
WITH vflat AS MATERIALIZED (
    SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS x,
           GENERATE_SUBSCRIPTS(embedding, 1) AS i
    FROM embeddings
),
{_kmeans_ctes(_KM_K, _KM_ITER)},
csize AS (
    SELECT cluster, COUNT(*) AS n FROM a{_KM_ITER + 1} GROUP BY cluster
),
ok AS (
    SELECT a.vec_id, a.cluster
    FROM a{_KM_ITER + 1} a JOIN csize c ON c.cluster = a.cluster
    WHERE c.n <= {_SD_MAXC}
),
norms AS (
    SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM vflat GROUP BY vec_id
),
cand AS (
    SELECT a.vec_id AS ia, b.vec_id AS ib, a.cluster
    FROM ok a JOIN ok b ON b.cluster = a.cluster AND b.vec_id > a.vec_id
),
dots AS (
    SELECT c.ia, c.ib, c.cluster, SUM(va.x * vb.x) AS dot
    FROM cand c
    JOIN vflat va ON va.vec_id = c.ia
    JOIN vflat vb ON vb.vec_id = c.ib AND vb.i = va.i
    GROUP BY c.ia, c.ib, c.cluster
),
sim AS (
    SELECT d.ib, d.cluster,
           ROUND(d.dot / (na.nrm * nb.nrm), 4) AS cosine
    FROM dots d
    JOIN norms na ON na.vec_id = d.ia
    JOIN norms nb ON nb.vec_id = d.ib
)
SELECT ib AS vec_id, cluster,
       CAST(COUNT(*) AS BIGINT) AS n_dups,
       MAX(cosine) AS max_cos
FROM sim
WHERE cosine >= {_SD_T}
GROUP BY ib, cluster
""",
    tags=("dedup-semantic", "ml-kmeans", "iterative"),
)
def q217_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup drop inventory over Lloyd-trained clusters (k=4, 3 rounds,
    threshold 0.35): (vec_id, cluster, n_dups, max_cos) for every vector a
    curation pass would drop. Iterative (k-means rounds execute at plan
    build)."""
    from ..operators.ml import kmeans_assignments
    from ..operators.similarity import semdedup_drops

    emb = load_table(spark, sf_dir, "embeddings")
    clusters = kmeans_assignments(emb, k=_KM_K, n_iter=_KM_ITER)
    return semdedup_drops(emb, clusters, threshold=_SD_T, max_cluster=_SD_MAXC)


# --------------------------------------------------------------------------
# q222 — greedy k-center coreset (Gonzalez 1985 farthest-point, the
# data-pruning / active-learning seed-set selector): 8 deterministic
# rounds, each a linear corpus pass against one new broadcast vector plus
# a top-1 TakeOrderedAndProject — the BPE argmax-per-round contract.
# Oracle unrolls the identical greedy recurrence (running LEAST min-dist,
# (dist DESC, id ASC) argmax) as MATERIALIZED CTEs.
# --------------------------------------------------------------------------
def _kcenter_oracle() -> str:
    from ..operators.similarity import kcenter_oracle

    return kcenter_oracle(k=8)


@register(
    "q222_kcenter_coreset",
    oracle=_kcenter_oracle(),
    tags=("training-prep", "sampling", "iterative"),
)
def q222_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset over the embedding corpus (k=8):
    (sel_rank, vec_id, dist_to_set). Iterative — one argmax collect per
    round."""
    from ..operators.similarity import kcenter_coreset

    emb = load_table(spark, sf_dir, "embeddings")
    return kcenter_coreset(emb, k=8)


# --------------------------------------------------------------------------
# q225 — Matryoshka prefix-dimension recall (Kusupati et al. 2022, MRL):
# how much of the full-dimension exact top-5 survives when cosine runs on
# only the FIRST d dims of the embedding — the evaluation behind serving
# truncated Matryoshka embeddings (coarse prefix search → full-dim
# re-rank). For d ∈ {8, 16, 32}: per query, n_hits = |top5_d ∩ top5_full|
# and recall = n_hits/5.
# Scale: each dim level is the q23 sharded two-phase exact top-k over
# sliced (narrower!) arrays; the intersection join is keyed on
# (query, neighbor) over k-sized relations. No new shuffle shapes.
# --------------------------------------------------------------------------
_MRL_DIMS = (8, 16, 32)


def _mrl_oracle() -> str:
    def cte(d: int) -> str:
        return f"""
qf{d} AS (
    SELECT vec_id AS query_id, CAST(UNNEST(embedding[1:{d}]) AS DOUBLE) AS x,
           GENERATE_SUBSCRIPTS(embedding[1:{d}], 1) AS i
    FROM embeddings WHERE vec_id < {_N_QUERIES}
),
vf{d} AS (
    SELECT vec_id AS neighbor_id, CAST(UNNEST(embedding[1:{d}]) AS DOUBLE) AS x,
           GENERATE_SUBSCRIPTS(embedding[1:{d}], 1) AS i
    FROM embeddings
),
nr{d} AS (SELECT neighbor_id AS vid, SQRT(SUM(x * x)) AS nrm FROM vf{d} GROUP BY neighbor_id),
dt{d} AS (
    SELECT q.query_id, v.neighbor_id, SUM(q.x * v.x) AS dot
    FROM qf{d} q JOIN vf{d} v ON v.i = q.i
    WHERE q.query_id <> v.neighbor_id
    GROUP BY q.query_id, v.neighbor_id
),
tk{d} AS (
    SELECT query_id, neighbor_id FROM (
        SELECT d.query_id, d.neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY d.query_id
                   ORDER BY ROUND(d.dot / (nq.nrm * nv.nrm), 4) DESC,
                            d.neighbor_id ASC) AS rk
        FROM dt{d} d
        JOIN nr{d} nq ON nq.vid = d.query_id
        JOIN nr{d} nv ON nv.vid = d.neighbor_id
    ) t WHERE rk <= {_K}
)"""

    dims_ctes = ",".join(cte(d) for d in (64,) + _MRL_DIMS)
    hit_parts = "\nUNION ALL\n".join(
        f"""SELECT CAST({d} AS BIGINT) AS dim, p.query_id,
       CAST(COUNT(f.neighbor_id) AS BIGINT) AS n_hits
FROM tk{d} p LEFT JOIN tk64 f
     ON f.query_id = p.query_id AND f.neighbor_id = p.neighbor_id
GROUP BY p.query_id"""
        for d in _MRL_DIMS
    )
    return f"""
WITH {dims_ctes},
hits AS (
{hit_parts}
)
SELECT dim, query_id, n_hits, CAST(n_hits AS DOUBLE) / {_K}.0 AS recall
FROM hits
"""


@register(
    "q225_matryoshka_recall",
    oracle=_mrl_oracle(),
    tags=("similarity-topk", "quality"),
)
def q225_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of prefix-dim cosine top-5 vs the full 64-dim top-5 for
    d ∈ {8,16,32}: (dim, query_id, n_hits, recall)."""
    import pyspark.sql.functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)

    def topk_at(d: int) -> DataFrame:
        sl = lambda df: df.select(  # noqa: E731
            "vec_id", F.slice("embedding", 1, d).alias("embedding")
        )
        return similarity.cosine_topk(sl(emb), sl(queries), k=_K).select(
            "query_id", "neighbor_id"
        )

    full = topk_at(64)
    parts = None
    for d in _MRL_DIMS:
        hits = (
            topk_at(d)
            .join(
                full.withColumnRenamed("neighbor_id", "f_neighbor"),
                [
                    "query_id",
                ],
            )
            .filter(F.col("neighbor_id") == F.col("f_neighbor"))
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_hits"))
        )
        base = (
            queries.select(F.col("vec_id").alias("query_id"))
            .join(hits, "query_id", "left")
            .select(
                F.lit(d).cast("long").alias("dim"),
                "query_id",
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            )
        )
        parts = base if parts is None else parts.unionByName(base)
    return parts.withColumn(
        "recall", F.col("n_hits").cast("double") / F.lit(float(_K))
    )


# --------------------------------------------------------------------------
# q226 — embedding distribution drift (diagonal Fréchet distance): per
# dimension, mean and standard deviation of each corpus half (vec_id
# parity plays "reference build" vs "new build"), and the dimension's FID
# contribution (μa−μb)² + (σa−σb)² — the diagonal-covariance Fréchet
# distance production pipelines monitor to catch embedding-model or
# upstream-data drift between corpus builds (the full FID's off-diagonal
# term needs a matrix sqrt; the diagonal form is the standard monitoring
# tier). Moments are EXACT integer sums on 1e4-quantised values; μ and σ
# derive by identical single IEEE ops both engines (σ via
# SQRT(n·Σx²−(Σx)²)/(n·1e4) — no engine stddev algorithms).
# Scale: one posexplode + one (half, dim)-keyed exact-integer aggregate
# with map-side partials; the final compute is 2×64 rows.
# --------------------------------------------------------------------------
@register(
    "q226_embedding_drift",
    oracle="""
WITH xint AS (
    SELECT vec_id % 2 AS half, i,
           CAST(ROUND(CAST(x AS DOUBLE)*10000.0) AS BIGINT) AS xi
    FROM (SELECT vec_id, UNNEST(embedding) AS x,
                 GENERATE_SUBSCRIPTS(embedding, 1) AS i FROM embeddings)
),
mom AS (
    SELECT half, i, COUNT(*) AS n, SUM(xi) AS s1, SUM(xi * xi) AS s2
    FROM xint GROUP BY half, i
),
stats AS (
    SELECT half, i,
           CAST(s1 AS DOUBLE) / n / 10000.0 AS mu,
           SQRT(CAST(n * s2 - s1 * s1 AS DOUBLE)) / n / 10000.0 AS sigma
    FROM mom
)
SELECT a.i AS dim,
       ROUND(a.mu, 6) AS mu_a, ROUND(b.mu, 6) AS mu_b,
       ROUND(a.sigma, 6) AS sigma_a, ROUND(b.sigma, 6) AS sigma_b,
       ROUND((a.mu - b.mu) * (a.mu - b.mu)
             + (a.sigma - b.sigma) * (a.sigma - b.sigma), 6) AS fid_contrib
FROM stats a JOIN stats b ON b.i = a.i AND a.half = 0 AND b.half = 1
""",
    tags=("quality", "similarity-topk", "A12"),
)
def q226_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension diagonal-Fréchet drift between the two corpus halves:
    (dim, mu_a, mu_b, sigma_a, sigma_b, fid_contrib)."""
    import pyspark.sql.functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    xint = emb.select(
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(F.col("embedding")).alias("i0", "x"),
    ).select(
        "half",
        (F.col("i0") + 1).alias("i"),
        F.round(F.col("x").cast("double") * F.lit(10000.0)).cast("long").alias("xi"),
    )
    mom = xint.groupBy("half", "i").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xi").alias("s1"),
        F.sum(F.col("xi") * F.col("xi")).alias("s2"),
    )
    stats = mom.select(
        "half",
        "i",
        (F.col("s1").cast("double") / F.col("n") / F.lit(10000.0)).alias("mu"),
        (
            F.sqrt((F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double"))
            / F.col("n")
            / F.lit(10000.0)
        ).alias("sigma"),
    )
    a = stats.filter(F.col("half") == 0).select(
        F.col("i"), F.col("mu").alias("mu_a0"), F.col("sigma").alias("sg_a0")
    )
    b = stats.filter(F.col("half") == 1).select(
        F.col("i"), F.col("mu").alias("mu_b0"), F.col("sigma").alias("sg_b0")
    )
    return a.join(b, "i").select(
        F.col("i").cast("long").alias("dim"),
        F.round("mu_a0", 6).alias("mu_a"),
        F.round("mu_b0", 6).alias("mu_b"),
        F.round("sg_a0", 6).alias("sigma_a"),
        F.round("sg_b0", 6).alias("sigma_b"),
        F.round(
            (F.col("mu_a0") - F.col("mu_b0")) * (F.col("mu_a0") - F.col("mu_b0"))
            + (F.col("sg_a0") - F.col("sg_b0")) * (F.col("sg_a0") - F.col("sg_b0")),
            6,
        ).alias("fid_contrib"),
    )


_Q254_K = 5
_Q254_OUT = 20


@register(
    "q254_knn_shapley",
    oracle=f"""
WITH frozen AS (
    SELECT vec_id, label,
           LIST_TRANSFORM(embedding,
                          x -> CAST(ROUND(CAST(x AS DOUBLE) * 10000)
                                    AS BIGINT)) AS r
    FROM embeddings
),
tflat AS (
    SELECT vec_id AS query_id, label AS qy,
           UNNEST(r) AS a, GENERATE_SUBSCRIPTS(r, 1) AS i
    FROM frozen WHERE vec_id < {_N_QUERIES}
),
jflat AS (
    SELECT vec_id AS train_id, label AS ty,
           UNNEST(r) AS b, GENERATE_SUBSCRIPTS(r, 1) AS i
    FROM frozen WHERE vec_id >= {_N_QUERIES}
),
dists AS (
    SELECT t.query_id, j.train_id,
           MAX(t.qy) AS qy, MAX(j.ty) AS ty,
           CAST(SUM((t.a - j.b) * (t.a - j.b)) AS BIGINT) AS dist
    FROM tflat t JOIN jflat j ON j.i = t.i
    GROUP BY t.query_id, j.train_id
),
ranked AS (
    SELECT query_id, train_id,
           CAST(CASE WHEN ty = qy THEN 1 ELSE 0 END AS BIGINT) AS ind,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY dist, train_id) AS i
    FROM dists
),
terms AS (
    SELECT query_id, train_id, i, ind,
           LEAD(ind) OVER (PARTITION BY query_id ORDER BY i) AS ind_next,
           COUNT(*) OVER (PARTITION BY query_id) AS nt,
           CAST((ind - COALESCE(LEAD(ind) OVER (PARTITION BY query_id
                                                ORDER BY i), ind))
                * CAST(ROUND(1000000000.0 * LEAST({_Q254_K}, i)
                             / ({_Q254_K} * i)) AS BIGINT)
                AS BIGINT) AS t_li
    FROM ranked
),
suff AS (
    SELECT query_id, train_id, i, nt,
           MAX(CASE WHEN ind_next IS NULL THEN ind END)
               OVER (PARTITION BY query_id) AS last_ind,
           CAST(SUM(t_li) OVER (PARTITION BY query_id ORDER BY i
                                ROWS BETWEEN CURRENT ROW
                                AND UNBOUNDED FOLLOWING) AS BIGINT) AS sfx
    FROM terms
)
SELECT query_id, train_id, CAST(i AS BIGINT) AS rank,
       ROUND((CAST(ROUND(1000000000.0 * last_ind / nt) AS BIGINT) + sfx)
             / 1000000000.0, 4) AS shapley
FROM suff
WHERE i <= {_Q254_OUT}
ORDER BY query_id, rank
""",
    tags=("ml-eval", "similarity", "W2"),
)
def q254_knn_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact KNN-Shapley data valuation (Jia et al. 2019 closed form) of
    every training embedding against the 5 query points, top-20 ranks out:
    (query_id, train_id, rank, shapley).

    The recursion s_i = s_(i+1) + (1[y_i=y] − 1[y_(i+1)=y])/K · min(K,i)/i
    unrolls into a SUFFIX SUM along the distance-sorted order, computed
    as a window sum of per-row terms. Parity: coordinates are frozen to
    round(x·10⁴) BIGINTs so squared distances are exact integers (rank
    order cannot wobble); each term is sign · round(10⁹·min(K,i)/(K·i))
    — the magnitude rounded once, then multiplied by the ±1/0 integer
    sign, so negative-half rounding asymmetry can't occur — and the
    suffix sum is an integer sum. One final /10⁹ + 4dp round.

    Scale: distances are the q23 brute-force shape (broadcast 5-query
    set, map-side integer aggregation). The per-query sorted suffix scan
    is the algorithm's sequential core; it runs as a per-query window
    here, and at 100 TB becomes a range-partitioned sort per query with
    a per-range suffix offset (the ids.py prefix-offset pattern)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    frozen = emb.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 10000).cast("long"),
        ).alias("r"),
    )
    tests = frozen.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qy"),
        F.col("r").alias("qr"),
    )
    train = frozen.filter(F.col("vec_id") >= _N_QUERIES).select(
        F.col("vec_id").alias("train_id"),
        F.col("label").alias("ty"),
        "r",
    )
    dists = train.crossJoin(F.broadcast(tests)).select(
        "query_id",
        "train_id",
        (F.col("ty") == F.col("qy")).cast("long").alias("ind"),
        F.aggregate(
            F.zip_with("qr", "r", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dist"),
    )
    w = Window.partitionBy("query_id").orderBy("dist", "train_id")
    ranked = dists.withColumn("i", F.row_number().over(w))
    wi = Window.partitionBy("query_id").orderBy("i")
    wall = Window.partitionBy("query_id")
    terms = ranked.select(
        "query_id",
        "train_id",
        "i",
        "ind",
        F.lead("ind").over(wi).alias("ind_next"),
        F.count(F.lit(1)).over(wall).alias("nt"),
        (
            (F.col("ind") - F.coalesce(F.lead("ind").over(wi), F.col("ind")))
            * F.round(
                1000000000.0
                * F.least(F.lit(_Q254_K), F.col("i"))
                / (_Q254_K * F.col("i"))
            ).cast("long")
        )
        .cast("long")
        .alias("t_li"),
    )
    wsfx = (
        Window.partitionBy("query_id")
        .orderBy("i")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    suff = terms.select(
        "query_id",
        "train_id",
        "i",
        "nt",
        F.max(F.when(F.col("ind_next").isNull(), F.col("ind")))
        .over(wall)
        .alias("last_ind"),
        F.sum("t_li").over(wsfx).cast("long").alias("sfx"),
    )
    return (
        suff.filter(F.col("i") <= _Q254_OUT)
        .select(
            "query_id",
            "train_id",
            F.col("i").cast("long").alias("rank"),
            F.round(
                (
                    F.round(1000000000.0 * F.col("last_ind") / F.col("nt")).cast(
                        "long"
                    )
                    + F.col("sfx")
                )
                / 1000000000.0,
                4,
            ).alias("shapley"),
        )
        .orderBy("query_id", "rank")
    )


_Q257_PLANES = 64
_Q257_COHORT = 25


@register(
    "q257_srp_distortion",
    oracle=f"""
WITH planes AS (
    SELECT j.j, i.i,
           CASE WHEN ('0x' || SUBSTR(MD5('srp|' || j.j || '|' || i.i), 1, 1))::INT % 2 = 0
                THEN 1 ELSE -1 END AS s
    FROM (SELECT UNNEST(GENERATE_SERIES(0, {_Q257_PLANES - 1})) AS j) j,
         (SELECT UNNEST(GENERATE_SERIES(0, 63)) AS i) i
),
vq AS (
    SELECT vec_id,
           CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1000.0) AS BIGINT) AS xq,
           GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS i
    FROM embeddings
),
bits AS (
    SELECT v.vec_id, p.j,
           CAST(CASE WHEN SUM(v.xq * p.s) >= 0 THEN 1 ELSE 0 END AS BIGINT)
               AS bit
    FROM vq v JOIN planes p ON p.i = v.i
    GROUP BY v.vec_id, p.j
),
cohort_pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM (SELECT DISTINCT vec_id FROM vq) a
    JOIN (SELECT DISTINCT vec_id FROM vq) b
      ON b.vec_id // {_Q257_COHORT} = a.vec_id // {_Q257_COHORT}
     AND a.vec_id < b.vec_id
),
hams AS (
    SELECT c.id_a, c.id_b,
           CAST(SUM(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END) AS BIGINT)
               AS hamming
    FROM cohort_pairs c
    JOIN bits ba ON ba.vec_id = c.id_a
    JOIN bits bb ON bb.vec_id = c.id_b AND bb.j = ba.j
    GROUP BY c.id_a, c.id_b
),
geo AS (
    SELECT c.id_a, c.id_b,
           CAST(SUM(a.xq * b.xq) AS BIGINT) AS dot,
           CAST(SUM(a.xq * a.xq) AS BIGINT) AS na2,
           CAST(SUM(b.xq * b.xq) AS BIGINT) AS nb2
    FROM cohort_pairs c
    JOIN vq a ON a.vec_id = c.id_a
    JOIN vq b ON b.vec_id = c.id_b AND b.i = a.i
    GROUP BY c.id_a, c.id_b
),
scored AS (
    SELECT h.hamming,
           CAST(ROUND(1000000.0 * g.dot
                      / SQRT(CAST(g.na2 AS DOUBLE) * g.nb2)) AS BIGINT)
               AS cos_mi
    FROM hams h JOIN geo g ON g.id_a = h.id_a AND g.id_b = h.id_b
)
SELECT hamming,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(hamming / {_Q257_PLANES}.0, 4) AS est_theta_frac,
       ROUND(SUM(cos_mi) / 1000000.0 / COUNT(*), 4) AS mean_cos,
       ROUND(MIN(cos_mi) / 1000000.0, 4) AS min_cos,
       ROUND(MAX(cos_mi) / 1000000.0, 4) AS max_cos
FROM scored
GROUP BY hamming
ORDER BY hamming
""",
    tags=("similarity", "lsh", "A12"),
)
def q257_srp_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss distance-preservation audit of the 64-bit SRP
    sketch: per Hamming-distance bucket, the count and the exact-cosine
    spread of the pairs landing there — (hamming, n_pairs, est_theta_frac,
    mean_cos, min_cos, max_cos). A tight, monotone mean_cos/hamming
    relationship certifies the sketch preserves angular distance
    (Charikar: P[bit differs] = θ/π, so hamming/64 estimates θ/π).

    Parity: bits and Hamming distances are exact integers
    (floor-quantized integer dots, like q117); each pair's true cosine is
    frozen to round(10⁶·dot/√(na²·nb²)) — one double op per pair — before
    any cross-row aggregation, so bucket means are integer sums.

    Scale: pair generation is the q211 fixed-cohort shape (≤ C(25,2)
    pairs per cohort, never corpus×corpus); bit vectors are narrow
    zero-shuffle compute; the audit aggregate has ≤ 65 output rows."""
    import pyspark.sql.functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    frozen = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1000.0).cast("long"),
        ).alias("xq"),
        F.floor(F.col("vec_id") / _Q257_COHORT).alias("cohort"),
    )
    bits = similarity.srp_bit_vector(emb, n_planes=_Q257_PLANES)
    side_a = frozen.select(
        "cohort",
        F.col("vec_id").alias("id_a"),
        F.col("xq").alias("xa"),
    ).join(bits.select(F.col("vec_id").alias("id_a"), F.col("bits").alias("ba")), "id_a")
    side_b = frozen.select(
        "cohort",
        F.col("vec_id").alias("id_b"),
        F.col("xq").alias("xb"),
    ).join(bits.select(F.col("vec_id").alias("id_b"), F.col("bits").alias("bb")), "id_b")
    pairs = side_a.join(side_b, "cohort").filter(F.col("id_a") < F.col("id_b"))

    def _isum(arr):
        return F.aggregate(
            arr, F.lit(0).cast("long"), lambda acc, x: acc + x
        )

    scored = pairs.select(
        _isum(
            F.zip_with("ba", "bb", lambda a, b: (a != b).cast("long"))
        ).alias("hamming"),
        F.round(
            1000000.0
            * _isum(F.zip_with("xa", "xb", lambda a, b: a * b))
            / F.sqrt(
                _isum(F.zip_with("xa", "xa", lambda a, b: a * b)).cast(
                    "double"
                )
                * _isum(F.zip_with("xb", "xb", lambda a, b: a * b))
            )
        )
        .cast("long")
        .alias("cos_mi"),
    )
    return (
        scored.groupBy("hamming")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("cos_mi").alias("scm"),
            F.min("cos_mi").alias("mnc"),
            F.max("cos_mi").alias("mxc"),
        )
        .select(
            F.col("hamming").cast("long").alias("hamming"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.round(F.col("hamming") / float(_Q257_PLANES), 4).alias(
                "est_theta_frac"
            ),
            F.round(F.col("scm") / 1000000.0 / F.col("n_pairs"), 4).alias(
                "mean_cos"
            ),
            F.round(F.col("mnc") / 1000000.0, 4).alias("min_cos"),
            F.round(F.col("mxc") / 1000000.0, 4).alias("max_cos"),
        )
        .orderBy("hamming")
    )


_Q260_BINS = 10
_Q260_TOPK = 20


@register(
    "q260_hbos_outliers",
    oracle=f"""
WITH flat AS (
    SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS x,
           GENERATE_SUBSCRIPTS(embedding, 1) AS i
    FROM embeddings
),
rng AS (
    SELECT i, MIN(x) AS lo, MAX(x) AS hi FROM flat GROUP BY i
    HAVING MAX(x) > MIN(x)
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
binned AS (
    SELECT f.vec_id, f.i,
           LEAST(CAST(FLOOR((f.x - r.lo) / (r.hi - r.lo) * {_Q260_BINS})
                      AS BIGINT), {_Q260_BINS - 1}) AS bin
    FROM flat f JOIN rng r ON r.i = f.i
),
hist AS (
    SELECT i, bin, CAST(COUNT(*) AS BIGINT) AS nb
    FROM binned GROUP BY i, bin
),
weights AS (
    SELECT h.i, h.bin,
           CAST(ROUND(1000000.0 * LN(CAST(n.n AS DOUBLE) / h.nb)) AS BIGINT)
               AS w
    FROM hist h CROSS JOIN nn n
),
scores AS (
    SELECT b.vec_id, CAST(SUM(w.w) AS BIGINT) AS s
    FROM binned b JOIN weights w ON w.i = b.i AND w.bin = b.bin
    GROUP BY b.vec_id
)
SELECT vec_id, ROUND(s / 1000000.0, 4) AS hbos
FROM scores
ORDER BY s DESC, vec_id ASC
LIMIT {_Q260_TOPK}
""",
    tags=("outliers", "A12", "O6"),
)
def q260_hbos_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-based outlier score (HBOS, Goldstein & Dengel 2012) over
    the embedding corpus: per dimension a 10-bin equal-width histogram,
    per vector the sum of log-inverse-density terms, top-20 outliers out
    as (vec_id, hbos).

    Parity: bins come from identical double arithmetic on (min, max)
    broadcasts; each log term is frozen to round(10⁶·ln(N/n_bin)) ON THE
    640-row histogram relation, so the per-vector score is an integer sum
    and the ranking can't wobble; one final /10⁶ + 4dp round.

    Scale: histogram + range are bounded (64 dims × 10 bins) broadcast
    relations; the per-row scoring joins the exploded corpus to those tiny
    tables and re-aggregates per vec_id (map-side partials); top-20 is
    TakeOrderedAndProject. Linear end-to-end — the reason HBOS is the
    density-outlier detector that actually runs at 100 TB."""
    import pyspark.sql.functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id", F.posexplode("embedding").alias("i0", "xf")
    ).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.col("xf").cast("double").alias("x"),
    )
    # constant dimensions carry no density signal and would make the bin
    # expression 0/0 (NaN: DuckDB cast error vs Spark silent 0) - drop them
    rng = (
        flat.groupBy("i")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .filter(F.col("hi") > F.col("lo"))
    )
    nn = emb.agg(F.count(F.lit(1)).alias("n"))
    binned = flat.join(F.broadcast(rng), "i").select(
        "vec_id",
        "i",
        F.least(
            F.floor(
                (F.col("x") - F.col("lo"))
                / (F.col("hi") - F.col("lo"))
                * _Q260_BINS
            ).cast("long"),
            F.lit(_Q260_BINS - 1).cast("long"),
        ).alias("bin"),
    )
    hist = binned.groupBy("i", "bin").agg(F.count(F.lit(1)).alias("nb"))
    weights = hist.crossJoin(F.broadcast(nn)).select(
        "i",
        "bin",
        F.round(1000000.0 * F.log(F.col("n").cast("double") / F.col("nb")))
        .cast("long")
        .alias("w"),
    )
    scores = (
        binned.join(F.broadcast(weights), ["i", "bin"])
        .groupBy("vec_id")
        .agg(F.sum("w").alias("s"))
    )
    return (
        scores.orderBy(F.col("s").desc(), F.col("vec_id").asc())
        .limit(_Q260_TOPK)
        .select("vec_id", F.round(F.col("s") / 1000000.0, 4).alias("hbos"))
    )


_Q262_FOLDS = 5


@register(
    "q262_kfold_cv",
    oracle=f"""
WITH vecs AS (
    SELECT vec_id, label,
           CAST(('0x' || SUBSTR(MD5(CAST(vec_id AS VARCHAR)), 1, 2))::INT
                % {_Q262_FOLDS} AS BIGINT) AS fold,
           LIST_TRANSFORM(embedding,
                          x -> CAST(ROUND(CAST(x AS DOUBLE) * 10000)
                                    AS BIGINT)) AS xq
    FROM embeddings
),
flat AS (
    SELECT vec_id, label, fold, UNNEST(xq) AS xq,
           GENERATE_SUBSCRIPTS(xq, 1) AS i
    FROM vecs
),
nl AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM vecs GROUP BY label),
nlf AS (
    SELECT label, fold, CAST(COUNT(*) AS BIGINT) AS nf
    FROM vecs GROUP BY label, fold
),
sl AS (
    SELECT label, i, CAST(SUM(xq) AS BIGINT) AS s
    FROM flat GROUP BY label, i
),
slf AS (
    SELECT label, fold, i, CAST(SUM(xq) AS BIGINT) AS sf
    FROM flat GROUP BY label, fold, i
),
folds AS (SELECT DISTINCT fold FROM vecs),
cents AS (
    SELECT f.fold, s.label AS clabel, s.i,
           CAST(ROUND(100.0 * (s.s - COALESCE(sf.sf, 0))
                      / (n.n - COALESCE(nf.nf, 0))) AS BIGINT) AS c
    FROM sl s
    CROSS JOIN folds f
    LEFT JOIN slf sf ON sf.label = s.label AND sf.fold = f.fold AND sf.i = s.i
    LEFT JOIN nlf nf ON nf.label = s.label AND nf.fold = f.fold
    JOIN nl n ON n.label = s.label
    WHERE n.n > COALESCE(nf.nf, 0)
),
dists AS (
    SELECT t.vec_id, t.label AS true_label, t.fold, c.clabel,
           CAST(SUM((t.xq * 100 - c.c) * (t.xq * 100 - c.c)) AS BIGINT) AS d2
    FROM flat t
    JOIN cents c ON c.fold = t.fold AND c.i = t.i
    GROUP BY t.vec_id, t.label, t.fold, c.clabel
),
preds AS (
    SELECT vec_id, true_label, fold, clabel,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY d2, clabel) AS rk
    FROM dists
)
SELECT fold,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       CAST(SUM(CASE WHEN clabel = true_label THEN 1 ELSE 0 END) AS BIGINT)
           AS n_correct,
       ROUND(CAST(SUM(CASE WHEN clabel = true_label THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 4) AS accuracy
FROM preds WHERE rk = 1
GROUP BY fold
ORDER BY fold
""",
    tags=("ml-eval", "A13", "W3"),
)
def q262_kfold_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validated nearest-centroid classification, per-fold
    accuracy out: (fold, n_test, n_correct, accuracy).

    The per-fold training centroids are NEVER recomputed from scratch:
    total per-(label, dim) sums minus the fold's own sums give every
    leave-fold-out centroid from ONE pass of sufficient statistics —
    centroid(f, l) = (S_l − S_{l,f}) / (n_l − n_{l,f}) — the algebra that
    makes k-fold CV a constant number of aggregates instead of k corpus
    scans. Folds are md5-hash assignments (any executor recomputes
    membership locally; no RNG state).

    Parity: coordinates frozen to round(x·10⁴) ints; centroids frozen to
    round(100·ratio) (x·10⁶ units); squared distances are exact integer
    sums so the argmin can't wobble; ties break on label.

    Scale: sufficient statistics are bounded relations (labels × folds ×
    dims = 3,200 rows) that broadcast; scoring joins the exploded corpus
    to that tiny table (linear × |labels|); the argmin window partitions
    per vector. One corpus pass for stats + one for scoring."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id",
        "label",
        (
            F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 2), 16, 10)
            .cast("long")
            % _Q262_FOLDS
        ).alias("fold"),
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 10000).cast("long"),
        ).alias("xq"),
    )
    flat = vecs.select(
        "vec_id",
        "label",
        "fold",
        F.posexplode("xq").alias("i0", "xq"),
    ).select(
        "vec_id", "label", "fold", (F.col("i0") + 1).alias("i"), "xq"
    )
    nl = vecs.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    nlf = vecs.groupBy("label", "fold").agg(F.count(F.lit(1)).alias("nf"))
    sl = flat.groupBy("label", "i").agg(F.sum("xq").alias("s"))
    slf = flat.groupBy("label", "fold", "i").agg(F.sum("xq").alias("sf"))
    folds = vecs.select("fold").distinct()
    cents = (
        sl.crossJoin(F.broadcast(folds))
        .join(F.broadcast(slf), ["label", "fold", "i"], "left")
        .join(F.broadcast(nlf), ["label", "fold"], "left")
        .join(F.broadcast(nl), "label")
        # a label whose members ALL hash into this fold has an empty
        # leave-fold-out training set (n - nf = 0): no centroid (the
        # oracle's WHERE n > COALESCE(nf, 0) guard)
        .filter(F.col("n") > F.coalesce(F.col("nf"), F.lit(0)))
        .select(
            "fold",
            F.col("label").alias("clabel"),
            "i",
            F.round(
                100.0
                * (F.col("s") - F.coalesce(F.col("sf"), F.lit(0)))
                / (F.col("n") - F.coalesce(F.col("nf"), F.lit(0)))
            )
            .cast("long")
            .alias("c"),
        )
    )
    dists = (
        flat.join(F.broadcast(cents), ["fold", "i"])
        .groupBy(
            "vec_id", F.col("label").alias("true_label"), "fold", "clabel"
        )
        .agg(
            F.sum(
                (F.col("xq") * 100 - F.col("c"))
                * (F.col("xq") * 100 - F.col("c"))
            ).alias("d2")
        )
    )
    wv = Window.partitionBy("vec_id").orderBy("d2", "clabel")
    preds = dists.withColumn("rk", F.row_number().over(wv)).filter(
        F.col("rk") == 1
    )
    return (
        preds.groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                (F.col("clabel") == F.col("true_label")).cast("long")
            ).alias("n_correct"),
        )
        .select(
            "fold",
            F.col("n_test").cast("long").alias("n_test"),
            F.col("n_correct").cast("long").alias("n_correct"),
            F.round(
                F.col("n_correct").cast("double") / F.col("n_test"), 4
            ).alias("accuracy"),
        )
        .orderBy("fold")
    )


_Q263_BANDS = 10
_Q263_TEST_BANDS = (8, 9)
_Q263_STEPS = (2, 4, 6, 8)


@register(
    "q263_learning_curve",
    oracle=f"""
WITH vecs AS (
    SELECT vec_id, label,
           CAST(('0x' || SUBSTR(MD5(CAST(vec_id AS VARCHAR)), 1, 2))::INT
                % {_Q263_BANDS} AS BIGINT) AS band,
           LIST_TRANSFORM(embedding,
                          x -> CAST(ROUND(CAST(x AS DOUBLE) * 10000)
                                    AS BIGINT)) AS xq
    FROM embeddings
),
flat AS (
    SELECT vec_id, label, band, UNNEST(xq) AS xq,
           GENERATE_SUBSCRIPTS(xq, 1) AS i
    FROM vecs
),
nlb AS (
    SELECT label, band, CAST(COUNT(*) AS BIGINT) AS n
    FROM vecs GROUP BY label, band
),
slb AS (
    SELECT label, band, i, CAST(SUM(xq) AS BIGINT) AS s
    FROM flat GROUP BY label, band, i
),
steps AS (SELECT UNNEST(ARRAY{list(_Q263_STEPS)}) AS t),
cents AS (
    SELECT st.t, s.label AS clabel, s.i,
           CAST(ROUND(100.0 * SUM(s.s) / SUM(n.n)) AS BIGINT) AS c
    FROM steps st
    JOIN slb s ON s.band < st.t
    JOIN nlb n ON n.label = s.label AND n.band = s.band
    GROUP BY st.t, s.label, s.i
),
ntr AS (
    SELECT st.t, CAST(SUM(n.n) AS BIGINT) AS n_train
    FROM steps st JOIN nlb n ON n.band < st.t GROUP BY st.t
),
test AS (
    SELECT vec_id, label, xq, i FROM flat
    WHERE band IN {_Q263_TEST_BANDS}
),
dists AS (
    SELECT c.t, te.vec_id, te.label AS true_label, c.clabel,
           CAST(SUM((te.xq * 100 - c.c) * (te.xq * 100 - c.c)) AS BIGINT)
               AS d2
    FROM test te JOIN cents c ON c.i = te.i
    GROUP BY c.t, te.vec_id, te.label, c.clabel
),
preds AS (
    SELECT t, vec_id, true_label, clabel,
           ROW_NUMBER() OVER (PARTITION BY t, vec_id
                              ORDER BY d2, clabel) AS rk
    FROM dists
)
SELECT CAST(t * {100 // _Q263_BANDS} AS BIGINT) AS train_frac_pct,
       n.n_train,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       ROUND(CAST(SUM(CASE WHEN clabel = true_label THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 4) AS accuracy
FROM preds JOIN ntr n USING (t)
WHERE rk = 1
GROUP BY t, n.n_train
ORDER BY train_frac_pct
""",
    tags=("ml-eval", "A13", "W3"),
)
def q263_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learning curve of the nearest-centroid classifier: accuracy on a
    FIXED held-out 20% against nested training subsets of 20/40/60/80% —
    (train_frac_pct, n_train, n_test, accuracy), the "does more data
    help" diagnostic a curation pipeline runs after every filter change.

    Nested subsets come from md5-hash bands (band < t ⊂ band < t+2, so
    each curve point trains on a superset — the property that makes the
    curve monotone-comparable); per-step centroids are band-sliced sums
    of ONE sufficient-statistics relation, never recomputed from rows
    (the q262 algebra, here cumulated over bands).

    Parity: same integer freezing as q262 (coords ·10⁴, centroids
    round(100·ratio), integer squared distances, label tie-break).
    Scale: statistics are bounded (labels × bands × dims); scoring joins
    the fixed test slice to the broadcast centroid table — corpus touched
    twice regardless of the number of curve points."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id",
        "label",
        (
            F.conv(
                F.substring(F.md5(F.col("vec_id").cast("string")), 1, 2), 16, 10
            )
            .cast("long")
            % _Q263_BANDS
        ).alias("band"),
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 10000).cast("long"),
        ).alias("xq"),
    )
    flat = vecs.select(
        "vec_id", "label", "band", F.posexplode("xq").alias("i0", "xq")
    ).select("vec_id", "label", "band", (F.col("i0") + 1).alias("i"), "xq")
    nlb = vecs.groupBy("label", "band").agg(F.count(F.lit(1)).alias("n"))
    slb = flat.groupBy("label", "band", "i").agg(F.sum("xq").alias("s"))
    steps = spark.createDataFrame([(t,) for t in _Q263_STEPS], "t long")
    cents = (
        steps.join(F.broadcast(slb), F.col("band") < F.col("t"))
        .join(F.broadcast(nlb), ["label", "band"])
        .groupBy("t", F.col("label").alias("clabel"), "i")
        .agg(
            F.round(100.0 * F.sum("s") / F.sum("n")).cast("long").alias("c")
        )
    )
    ntr = (
        steps.join(F.broadcast(nlb), F.col("band") < F.col("t"))
        .groupBy("t")
        .agg(F.sum("n").alias("n_train"))
    )
    test = flat.filter(F.col("band").isin(*_Q263_TEST_BANDS))
    dists = (
        test.join(F.broadcast(cents), "i")
        .groupBy("t", "vec_id", F.col("label").alias("true_label"), "clabel")
        .agg(
            F.sum(
                (F.col("xq") * 100 - F.col("c"))
                * (F.col("xq") * 100 - F.col("c"))
            ).alias("d2")
        )
    )
    wv = Window.partitionBy("t", "vec_id").orderBy("d2", "clabel")
    preds = dists.withColumn("rk", F.row_number().over(wv)).filter(
        F.col("rk") == 1
    )
    return (
        preds.join(F.broadcast(ntr), "t")
        .groupBy("t", "n_train")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                (F.col("clabel") == F.col("true_label")).cast("long")
            ).alias("n_correct"),
        )
        .select(
            (F.col("t") * (100 // _Q263_BANDS)).cast("long").alias(
                "train_frac_pct"
            ),
            F.col("n_train").cast("long").alias("n_train"),
            F.col("n_test").cast("long").alias("n_test"),
            F.round(
                F.col("n_correct").cast("double") / F.col("n_test"), 4
            ).alias("accuracy"),
        )
        .orderBy("train_frac_pct")
    )


# --------------------------------------------------------------------------
# q270 - MMR diversified retrieval (Carbonell & Goldstein 1998): greedy
# maximal-marginal-relevance re-ranking of query vec 0's top-20 relevance
# pool down to 5 results that are relevant AND mutually dissimilar - the
# standard redundancy-removal pass between ANN retrieval and a context
# window. lam = 0.7.
# Parity: rel/sim are the q23 4dp-rounded cosines; each greedy step's
# objective is the fixed double expression 0.7*rel - (1.0-0.7)*maxsim
# over those rounded inputs ((1.0-0.7) spelled identically on both sides
# so the IEEE constant matches); the oracle unrolls the 5 sequential
# argmax steps as chained CTEs (the q267/q186 device).
# Scale: phase 1 is the q23 sharded exact top-k corpus scan + a
# pool**2-row broadcast self-join; the sequential greedy touches only
# that bounded pool (driver-side, like bpe.train's per-round argmax).
# --------------------------------------------------------------------------
_MMR_K = 5
_MMR_POOL = 20


def _mmr_oracle(k: int = _MMR_K, pool: int = _MMR_POOL) -> str:
    steps = []
    for j in range(1, k + 1):
        if j == 1:
            steps.append(
                "s1 AS (\n"
                "    SELECT neighbor_id, rel, 0.7 * rel AS raw FROM pool\n"
                "    ORDER BY rel DESC, neighbor_id ASC LIMIT 1\n)"
            )
            continue
        sim_joins = "\n    ".join(
            f"JOIN sims x{i} ON x{i}.a = p.neighbor_id"
            f" AND x{i}.b = (SELECT neighbor_id FROM s{i})"
            for i in range(1, j)
        )
        if j == 2:
            gexpr = "x1.sim"
        else:
            gexpr = "GREATEST(" + ", ".join(
                f"x{i}.sim" for i in range(1, j)
            ) + ")"
        not_in = ", ".join(f"(SELECT neighbor_id FROM s{i})" for i in range(1, j))
        steps.append(
            f"""s{j} AS (
    SELECT p.neighbor_id, p.rel, 0.7 * p.rel - (1.0 - 0.7) * {gexpr} AS raw
    FROM pool p
    {sim_joins}
    WHERE p.neighbor_id NOT IN ({not_in})
    ORDER BY raw DESC, p.neighbor_id ASC LIMIT 1
)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT {j} AS mmr_rank, neighbor_id, rel, raw FROM s{j}"
        for j in range(1, k + 1)
    )
    return f"""
WITH qflat AS (
    SELECT CAST(UNNEST(embedding) AS DOUBLE) AS x,
           GENERATE_SUBSCRIPTS(embedding, 1) AS i
    FROM embeddings WHERE vec_id = 0
),
vflat AS (
    SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS x,
           GENERATE_SUBSCRIPTS(embedding, 1) AS i
    FROM embeddings
),
norms AS (
    SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM vflat GROUP BY vec_id
),
rel AS (
    SELECT v.vec_id AS neighbor_id,
           ROUND(SUM(q.x * v.x)
                 / ((SELECT nrm FROM norms WHERE vec_id = 0) * n.nrm), 4)
               AS rel
    FROM vflat v JOIN qflat q ON q.i = v.i
    JOIN norms n ON n.vec_id = v.vec_id
    WHERE v.vec_id <> 0
    GROUP BY v.vec_id, n.nrm
),
pool AS (
    SELECT neighbor_id, rel FROM rel
    ORDER BY rel DESC, neighbor_id ASC LIMIT {pool}
),
sims AS (
    SELECT a.vec_id AS a, b.vec_id AS b,
           ROUND(SUM(a.x * b.x) / (na.nrm * nb.nrm), 4) AS sim
    FROM vflat a
    JOIN vflat b ON b.i = a.i AND b.vec_id <> a.vec_id
    JOIN pool pa ON pa.neighbor_id = a.vec_id
    JOIN pool pb ON pb.neighbor_id = b.vec_id
    JOIN norms na ON na.vec_id = a.vec_id
    JOIN norms nb ON nb.vec_id = b.vec_id
    GROUP BY a.vec_id, b.vec_id, na.nrm, nb.nrm
),
{",".join(steps)}
SELECT CAST(mmr_rank AS BIGINT) AS mmr_rank, neighbor_id AS vec_id, rel,
       ROUND(raw, 4) AS score
FROM ({union})
ORDER BY mmr_rank
"""


@register(
    "q270_mmr_rerank",
    oracle=_mmr_oracle(),
    tags=("similarity-topk", "O6", "W3"),
)
def q270_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-5 for query vector 0 from its top-20 relevance
    pool: (mmr_rank, vec_id, rel, score) - operators/similarity.mmr_select."""
    import pyspark.sql.functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") == 0)
    return similarity.mmr_select(
        emb, queries, k=_MMR_K, pool_size=_MMR_POOL, lam=0.7
    ).orderBy("mmr_rank")


# ---------------------------------------------------------------------------
# q356 — kNN-graph quality audit over a deterministic sample: build the
# exact k=5 cosine-neighbour graph WITHIN an md5-ordered 256-vector
# sample and report, per label, the mutual-edge rate (a→b with b→a —
# low mutuality predicts poor ANN recall) and the maximum in-degree
# (hubness — high-hub spaces break graph-based ANN). The index-health
# check run BEFORE committing to an HNSW/IVF build, complementing q195
# (LSH P/R) and q257 (SRP distortion).
# Parity: the sample is the md5(vec_id) order prefix (engine-portable);
# cosine is the shared position-joined double formula rounded 4dp before
# ranking with neighbor-id tie-break; mutuality and in-degree are exact
# integer counts on the materialized edge list. 4dp rates.
# Scale: sampling IS the scale story — the audit is statistical, so it
# runs on a fixed-size sample regardless of corpus size; within the
# sample the top-k uses the sharded two-phase reducer (no per-query
# funnel). At 100 TB only the md5 order-prefix scan touches the corpus.
# ---------------------------------------------------------------------------
_KNN_SAMPLE = 256
_KNN_K = 5


@register(
    "q356_knn_graph_audit",
    oracle=f"""
WITH sample AS (
    SELECT vec_id, label, embedding FROM embeddings
    ORDER BY MD5(CAST(vec_id AS VARCHAR)), vec_id
    LIMIT {_KNN_SAMPLE}
),
qflat AS (
    SELECT vec_id AS query_id, CAST(UNNEST(embedding) AS DOUBLE) AS x,
           GENERATE_SUBSCRIPTS(embedding, 1) AS i
    FROM sample
),
norms AS (
    SELECT query_id AS vid, SQRT(SUM(x * x)) AS nrm
    FROM qflat GROUP BY query_id
),
dots AS (
    SELECT qf.query_id, vf.query_id AS neighbor_id, SUM(qf.x * vf.x) AS dot
    FROM qflat qf JOIN qflat vf ON vf.i = qf.i
    WHERE qf.query_id <> vf.query_id
    GROUP BY qf.query_id, vf.query_id
),
scored AS (
    SELECT d.query_id, d.neighbor_id,
           ROUND(d.dot / (nq.nrm * nv.nrm), 4) AS cosine
    FROM dots d
    JOIN norms nq ON nq.vid = d.query_id
    JOIN norms nv ON nv.vid = d.neighbor_id
),
knn AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id ASC)
                   AS rk
        FROM scored
    ) t WHERE rk <= {_KNN_K}
),
mut AS (
    SELECT a.query_id,
           CASE WHEN b.query_id IS NULL THEN 0 ELSE 1 END AS m
    FROM knn a
    LEFT JOIN knn b ON b.query_id = a.neighbor_id
                   AND b.neighbor_id = a.query_id
),
per_node AS (
    SELECT s.vec_id, s.label,
           COALESCE(e.n_edges, 0) AS n_edges,
           COALESCE(e.n_mutual, 0) AS n_mutual,
           COALESCE(i.indeg, 0) AS indeg
    FROM sample s
    LEFT JOIN (SELECT query_id, COUNT(*) AS n_edges,
                      SUM(m) AS n_mutual
               FROM mut GROUP BY query_id) e ON e.query_id = s.vec_id
    LEFT JOIN (SELECT neighbor_id, COUNT(*) AS indeg
               FROM knn GROUP BY neighbor_id) i ON i.neighbor_id = s.vec_id
)
SELECT CAST(label AS INT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(n_edges) AS BIGINT) AS n_edges,
       CAST(SUM(n_mutual) AS BIGINT) AS n_mutual,
       ROUND(CAST(SUM(n_mutual) AS DOUBLE) / SUM(n_edges), 4)
           AS mutual_rate,
       CAST(MAX(indeg) AS BIGINT) AS max_indeg
FROM per_node GROUP BY label ORDER BY label
""",
    tags=("similarity", "ml-eval", "A12"),
)
def q356_knn_graph_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-rate + hubness audit of the exact k=5 cosine kNN graph on
    an md5-sampled 256-vector subset:
    (label, n_nodes, n_edges, n_mutual, mutual_rate, max_indeg)."""
    emb = load_table(spark, sf_dir, "embeddings")
    from ..caching import persist_tracked
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    sample = persist_tracked(
        emb.orderBy(
            F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
        ).limit(_KNN_SAMPLE)
    )
    knn = similarity.cosine_topk(
        sample, sample.select("vec_id", "embedding"), k=_KNN_K
    ).select("query_id", "neighbor_id")
    knn = persist_tracked(knn)
    rev = knn.select(
        F.col("query_id").alias("r_nb"), F.col("neighbor_id").alias("r_q")
    )
    mut = knn.join(
        rev,
        (F.col("r_q") == F.col("query_id"))
        & (F.col("r_nb") == F.col("neighbor_id")),
        "left",
    ).select(
        "query_id",
        F.when(F.col("r_q").isNull(), F.lit(0)).otherwise(F.lit(1)).alias(
            "m"
        ),
    )
    e = mut.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_edges"), F.sum("m").alias("n_mutual")
    )
    i = knn.groupBy(F.col("neighbor_id")).agg(
        F.count(F.lit(1)).alias("indeg")
    )
    per_node = (
        sample.select("vec_id", "label")
        .join(F.broadcast(e), F.col("query_id") == F.col("vec_id"), "left")
        .drop("query_id")
        .join(
            F.broadcast(i), F.col("neighbor_id") == F.col("vec_id"), "left"
        )
        .drop("neighbor_id")
        .select(
            "label",
            F.coalesce("n_edges", F.lit(0)).alias("n_edges"),
            F.coalesce("n_mutual", F.lit(0)).alias("n_mutual"),
            F.coalesce("indeg", F.lit(0)).alias("indeg"),
        )
    )
    return (
        per_node.groupBy(F.col("label").cast("int").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("n_edges").cast("long").alias("n_edges"),
            F.sum("n_mutual").cast("long").alias("n_mutual"),
            F.round(
                F.sum("n_mutual").cast("double") / F.sum("n_edges"), 4
            ).alias("mutual_rate"),
            F.max("indeg").cast("long").alias("max_indeg"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# q373 — rank-biased overlap (RBO, Webber et al. 2010) between the EXACT
# cosine top-20 ranking and the int8-quantized approximate ranking per
# query: truncated RBO@20 at p = 0.9, plus the plain top-20 set overlap
# for contrast. Recall@k (q85's pin) only counts set membership; RBO
# weights AGREEMENT AT THE TOP, which is what an ANN serving stack
# actually needs — a sketch can have perfect recall@20 and still ruin
# rank-1. A common pair contributes to every depth d ≥ max(rank_exact,
# rank_approx): X_d counts pairs with that max ≤ d, and
# RBO = (1−p)·Σ_d p^(d−1)·X_d/d.
# Parity: both rankings round their score to 4dp before ranking with
# neighbor-id tie-break (the q23/q85 discipline), so ranks are integers
# both engines agree on; each depth term is frozen to round(1e8·term)
# before the 20-term sum. 4dp.
# Scale: both rankers are broadcast-query + sharded two-phase top-k;
# RBO runs on ≤ queries × 20 rows joined to a 20-row depth literal.
# ---------------------------------------------------------------------------
_RBO_K = 20
_RBO_P = 0.9


@register(
    "q373_rank_biased_overlap",
    oracle=f"""
WITH {_COSINE_CTE},
exact_rk AS (
    SELECT query_id, neighbor_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS ra
    FROM scored QUALIFY ra <= {_RBO_K}
),
svflat AS (
    SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS x,
           GENERATE_SUBSCRIPTS(embedding, 1) AS i
    FROM embeddings
),
scales AS (
    SELECT vec_id, MAX(ABS(x)) AS s FROM svflat GROUP BY vec_id
    HAVING MAX(ABS(x)) > 0
),
snorms AS (
    SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM svflat GROUP BY vec_id
),
sqflat AS (
    SELECT v.vec_id, v.i, CAST(FLOOR(v.x / s.s * 127.0 + 0.5) AS BIGINT) AS q
    FROM svflat v JOIN scales s ON s.vec_id = v.vec_id
),
qdots AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           SUM(a.q * b.q) AS qdot
    FROM sqflat a
    JOIN sqflat b ON b.i = a.i AND b.vec_id <> a.vec_id
    WHERE a.vec_id < {_N_QUERIES}
    GROUP BY a.vec_id, b.vec_id
),
approx_rk AS (
    SELECT query_id, neighbor_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY ROUND(d.qdot * sa.s * sb.s / 16129.0
                                / (na.nrm * nb.nrm), 4) DESC,
                          neighbor_id ASC) AS BIGINT) AS rb
    FROM qdots d
    JOIN scales sa ON sa.vec_id = d.query_id
    JOIN scales sb ON sb.vec_id = d.neighbor_id
    JOIN snorms na ON na.vec_id = d.query_id
    JOIN snorms nb ON nb.vec_id = d.neighbor_id
    QUALIFY rb <= {_RBO_K}
),
common AS (
    SELECT e.query_id, GREATEST(e.ra, a.rb) AS m
    FROM exact_rk e
    JOIN approx_rk a ON a.query_id = e.query_id
                    AND a.neighbor_id = e.neighbor_id
),
depths AS (SELECT UNNEST(RANGE(1, {_RBO_K} + 1)) AS d),
xd AS (
    SELECT q.query_id, dp.d, CAST(COUNT(c.m) AS BIGINT) AS x_d
    FROM (SELECT DISTINCT query_id FROM exact_rk) q
    CROSS JOIN depths dp
    LEFT JOIN common c ON c.query_id = q.query_id AND c.m <= dp.d
    GROUP BY q.query_id, dp.d
),
terms AS (
    SELECT query_id, d,
           CAST(ROUND(100000000.0 * (1.0 - {_RBO_P}) * POW({_RBO_P}, d - 1)
                * x_d / d) AS BIGINT) AS term,
           x_d
    FROM xd
)
SELECT t.query_id,
       ROUND(CAST(SUM(t.term) AS BIGINT) / 100000000.0, 4) AS rbo,
       MAX(CASE WHEN t.d = {_RBO_K} THEN t.x_d END) AS n_common,
       ROUND(CAST(MAX(CASE WHEN t.d = {_RBO_K} THEN t.x_d END) AS DOUBLE)
             / {_RBO_K}, 4) AS overlap_at_k
FROM terms t GROUP BY t.query_id ORDER BY t.query_id
""",
    tags=("similarity", "ml-eval", "O6"),
)
def q373_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated RBO@20 (p=0.9) between exact and int8-quantized cosine
    rankings per query: (query_id, rbo, n_common, overlap_at_k)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        "vec_id", "embedding"
    )
    wq = Window.partitionBy("query_id")
    exact = similarity.cosine_topk(emb, queries, k=_RBO_K).select(
        "query_id",
        "neighbor_id",
        F.row_number()
        .over(wq.orderBy(F.desc("cosine"), F.asc("neighbor_id")))
        .cast("long")
        .alias("ra"),
    )
    approx = similarity.quantized_topk(emb, queries, k=_RBO_K).select(
        "query_id",
        "neighbor_id",
        F.row_number()
        .over(wq.orderBy(F.desc("approx_cos"), F.asc("neighbor_id")))
        .cast("long")
        .alias("rb"),
    )
    common = exact.join(approx, ["query_id", "neighbor_id"]).select(
        "query_id", F.greatest("ra", "rb").alias("m")
    )
    depths = spark.createDataFrame(
        [(d,) for d in range(1, _RBO_K + 1)], "d long"
    ).coalesce(1)
    qids = exact.select("query_id").distinct()
    xd = (
        qids.crossJoin(F.broadcast(depths))
        .join(
            common,
            ["query_id"],
            "left",
        )
        .select(
            "query_id",
            "d",
            F.when(F.col("m") <= F.col("d"), 1).otherwise(0).alias("hit"),
        )
        .groupBy("query_id", "d")
        .agg(F.sum("hit").cast("long").alias("x_d"))
    )
    terms = xd.select(
        "query_id",
        "d",
        "x_d",
        F.round(
            100000000.0
            * (1.0 - _RBO_P)
            * F.pow(F.lit(_RBO_P), F.col("d") - 1)
            * F.col("x_d")
            / F.col("d")
        )
        .cast("long")
        .alias("term"),
    )
    return (
        terms.groupBy("query_id")
        .agg(
            F.round(
                F.sum("term").cast("long") / 100000000.0, 4
            ).alias("rbo"),
            F.max(
                F.when(F.col("d") == _RBO_K, F.col("x_d"))
            ).alias("n_common"),
            F.round(
                F.max(
                    F.when(F.col("d") == _RBO_K, F.col("x_d"))
                ).cast("double")
                / _RBO_K,
                4,
            ).alias("overlap_at_k"),
        )
        .orderBy("query_id")
    )


# --------------------------------------------------------------------------
# q405 - embedding-table health audit per label: vector-norm statistics
# (mean/min/max) and the mean cosine to the label centroid (cluster
# tightness) - the sanity table read before trusting an embedding
# column for dedup/ANN (q226 tracks drift BETWEEN snapshots; q335
# scores cluster separation; this profiles the table itself).
# Parity: components are frozen to integer micro-units once
# (round(1e6*x)); norms are sqrt of exact integer sums (micro scale);
# the centroid is refrozen to micro-units (round(S_pos/n)) so the dot
# is again an exact integer (~5e5 * 5e5 * 64 = 1.6e13, long-safe at ANY
# row count because the centroid is frozen, not the raw sum); per-vec
# cosine frozen to 1e6 before the label mean. 4dp.
# Scale: one posexplode aggregate per (label, pos) - a labels x dim
# relation, broadcast back; one per-vector reduce; one label rollup.
# No windows, no vector pair joins.
# --------------------------------------------------------------------------
@register(
    "q405_embedding_norms",
    oracle="""
WITH flat AS (
    SELECT vec_id, label,
           CAST(ROUND(1000000.0 * CAST(UNNEST(embedding) AS DOUBLE))
                AS BIGINT) AS xi,
           GENERATE_SUBSCRIPTS(embedding, 1) AS i
    FROM embeddings
),
cent AS (
    SELECT label, i,
           CAST(ROUND(CAST(SUM(xi) AS DOUBLE) / COUNT(*)) AS BIGINT) AS ci
    FROM flat GROUP BY label, i
),
pv AS (
    SELECT f.vec_id, f.label,
           CAST(SUM(f.xi * f.xi) AS BIGINT) AS n2,
           CAST(SUM(f.xi * c.ci) AS BIGINT) AS dot,
           CAST(SUM(c.ci * c.ci) AS BIGINT) AS c2
    FROM flat f JOIN cent c ON c.label = f.label AND c.i = f.i
    GROUP BY f.vec_id, f.label
),
per_vec AS (
    SELECT label,
           CAST(ROUND(SQRT(CAST(n2 AS DOUBLE))) AS BIGINT) AS norm_micro,
           CAST(ROUND(1000000.0 * dot
                      / (SQRT(CAST(n2 AS DOUBLE))
                         * SQRT(CAST(c2 AS DOUBLE)))) AS BIGINT)
               AS cos_micro
    FROM pv
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       ROUND(CAST(SUM(norm_micro) AS DOUBLE) / COUNT(*) / 1000000.0, 4)
           AS mean_norm,
       ROUND(MIN(norm_micro) / 1000000.0, 4) AS min_norm,
       ROUND(MAX(norm_micro) / 1000000.0, 4) AS max_norm,
       ROUND(CAST(SUM(cos_micro) AS DOUBLE) / COUNT(*) / 1000000.0, 4)
           AS mean_centroid_cos
FROM per_vec GROUP BY label ORDER BY label
""",
    tags=("similarity", "quality", "A12"),
)
def q405_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding health per label: (label, n_vecs, mean_norm, min_norm,
    max_norm, mean_centroid_cos)."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("i0", "x"),
    ).select(
        "vec_id",
        "label",
        (F.col("i0") + 1).alias("i"),
        F.round(1000000.0 * F.col("x").cast("double"))
        .cast("long")
        .alias("xi"),
    )
    cent = flat.groupBy("label", "i").agg(
        F.round(F.sum("xi").cast("double") / F.count(F.lit(1)))
        .cast("long")
        .alias("ci")
    )
    pv = (
        flat.join(F.broadcast(cent), ["label", "i"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("xi") * F.col("xi")).cast("long").alias("n2"),
            F.sum(F.col("xi") * F.col("ci")).cast("long").alias("dot"),
            F.sum(F.col("ci") * F.col("ci")).cast("long").alias("c2"),
        )
    )
    per_vec = pv.select(
        "label",
        F.round(F.sqrt(F.col("n2").cast("double")))
        .cast("long")
        .alias("norm_micro"),
        F.round(
            1000000.0
            * F.col("dot")
            / (
                F.sqrt(F.col("n2").cast("double"))
                * F.sqrt(F.col("c2").cast("double"))
            )
        )
        .cast("long")
        .alias("cos_micro"),
    )
    cnt = F.count(F.lit(1))
    return (
        per_vec.groupBy("label")
        .agg(
            cnt.cast("long").alias("n_vecs"),
            F.round(
                F.sum("norm_micro").cast("double") / cnt / 1000000.0, 4
            ).alias("mean_norm"),
            F.round(F.min("norm_micro") / 1000000.0, 4).alias("min_norm"),
            F.round(F.max("norm_micro") / 1000000.0, 4).alias("max_norm"),
            F.round(
                F.sum("cos_micro").cast("double") / cnt / 1000000.0, 4
            ).alias("mean_centroid_cos"),
        )
        .select(
            F.col("label").cast("long").alias("label"),
            "n_vecs",
            "mean_norm",
            "min_norm",
            "max_norm",
            "mean_centroid_cos",
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# q427 - int8 scalar-quantization audit per label: quantize every
# embedding with symmetric per-vector max-abs scaling
# (q_i = round(127 * x_i / max|x|)), and report how much geometry
# survives - the mean/min cosine between each vector and its int8 twin
# plus the mean squared reconstruction error. The go/no-go table for
# shipping int8 embeddings (q257 audits SRP sign sketches; q132 runs
# PQ; this scores the simplest production quantizer, the one vector
# stores default to).
# Parity: components frozen once to micro-ints; the per-vector scale is
# an exact integer max; each q_i is one identical double round; cosine
# and MSE come from exact integer dots under per-vector 1e6 freezing
# before the label mean. 4dp.
# Scale: one posexplode pass, one per-vector max + reduce (uniform
# vec_id keys), one label rollup. No joins beyond the per-vector max
# broadcast-back, no windows.
# --------------------------------------------------------------------------
@register(
    "q427_int8_quant_audit",
    oracle="""
WITH flat AS (
    SELECT vec_id, label,
           CAST(ROUND(1000000.0 * CAST(UNNEST(embedding) AS DOUBLE))
                AS BIGINT) AS xi,
           GENERATE_SUBSCRIPTS(embedding, 1) AS i
    FROM embeddings
),
m AS (
    SELECT vec_id, CAST(MAX(ABS(xi)) AS BIGINT) AS mx
    FROM flat GROUP BY vec_id
),
qv AS (
    SELECT f.vec_id, f.label, f.xi,
           CAST(ROUND(127.0 * f.xi / m.mx) AS BIGINT) AS q,
           m.mx
    FROM flat f JOIN m ON m.vec_id = f.vec_id
),
pv AS (
    SELECT vec_id, label,
           CAST(SUM(xi * xi) AS BIGINT) AS nx,
           CAST(SUM(q * q) AS BIGINT) AS nq,
           CAST(SUM(xi * q) AS BIGINT) AS dq,
           CAST(ROUND(SUM((xi - q * CAST(mx AS DOUBLE) / 127.0)
                          * (xi - q * CAST(mx AS DOUBLE) / 127.0))
                      / COUNT(*)) AS BIGINT) AS mse_int
    FROM qv GROUP BY vec_id, label
),
per_vec AS (
    SELECT label,
           CAST(ROUND(1000000.0 * dq
                      / (SQRT(CAST(nx AS DOUBLE))
                         * SQRT(CAST(nq AS DOUBLE)))) AS BIGINT)
               AS cos_micro,
           mse_int
    FROM pv
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       ROUND(CAST(SUM(cos_micro) AS DOUBLE) / COUNT(*) / 1000000.0, 4)
           AS mean_quant_cos,
       ROUND(MIN(cos_micro) / 1000000.0, 4) AS min_quant_cos,
       ROUND(CAST(SUM(mse_int) AS DOUBLE) / COUNT(*) / 1000000000000.0, 4)
           AS mean_mse
FROM per_vec GROUP BY label ORDER BY label
""",
    tags=("similarity", "quantization", "A12"),
)
def q427_int8_quant_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric-quantization fidelity per label: (label, n_vecs,
    mean_quant_cos, min_quant_cos, mean_mse)."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("i0", "x"),
    ).select(
        "vec_id",
        "label",
        F.round(1000000.0 * F.col("x").cast("double"))
        .cast("long")
        .alias("xi"),
    )
    m = flat.groupBy("vec_id").agg(
        F.max(F.abs("xi")).cast("long").alias("mx")
    )
    qv = flat.join(m, "vec_id").select(
        "vec_id",
        "label",
        "xi",
        F.round(127.0 * F.col("xi") / F.col("mx")).cast("long").alias("q"),
        "mx",
    )
    err = F.col("xi") - F.col("q") * F.col("mx").cast("double") / 127.0
    pv = qv.groupBy("vec_id", "label").agg(
        F.sum(F.col("xi") * F.col("xi")).cast("long").alias("nx"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("nq"),
        F.sum(F.col("xi") * F.col("q")).cast("long").alias("dq"),
        F.round(F.sum(err * err) / F.count(F.lit(1)))
        .cast("long")
        .alias("mse_int"),
    )
    per_vec = pv.select(
        "label",
        F.round(
            1000000.0
            * F.col("dq")
            / (
                F.sqrt(F.col("nx").cast("double"))
                * F.sqrt(F.col("nq").cast("double"))
            )
        )
        .cast("long")
        .alias("cos_micro"),
        "mse_int",
    )
    cnt = F.count(F.lit(1))
    return (
        per_vec.groupBy("label")
        .agg(
            cnt.cast("long").alias("n_vecs"),
            F.round(
                F.sum("cos_micro").cast("double") / cnt / 1000000.0, 4
            ).alias("mean_quant_cos"),
            F.round(F.min("cos_micro") / 1000000.0, 4).alias(
                "min_quant_cos"
            ),
            F.round(
                F.sum("mse_int").cast("double") / cnt / 1000000000000.0, 4
            ).alias("mean_mse"),
        )
        .select(
            F.col("label").cast("long").alias("label"),
            "n_vecs",
            "mean_quant_cos",
            "min_quant_cos",
            "mean_mse",
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# q444 - alignment & uniformity of the embedding space (Wang-Isola): the
# two-number health check for contrastive embeddings. Alignment = mean
# squared distance between L2-normalised SAME-LABEL pairs (smaller =
# positives live close); uniformity = log mean exp(-2 d^2) over a
# deterministic vector subsample's pairs (closer to 0 = collapsed,
# more negative = well spread). A model that collapses labels scores
# great alignment and terrible uniformity; this query catches the
# trade-off before training on the embeddings.
# Determinism/parity: q226's 1e4 integer quantisation; dots and
# per-vector sum-of-squares are exact integers (norm product stays in
# doubles - the int product would overflow); every pair term is
# micro-rounded to BIGINT before summing, so order cannot diverge.
# Pair generation is label-blocked with a deterministic (id_a + id_b)
# stride sample for alignment, and an id % 4 vector subsample for
# uniformity - both levers cap the quadratic at ANY corpus size (the
# block/sample rates are the scale knobs, documented in SCALE.md).
# --------------------------------------------------------------------------
@register(
    "q444_alignment_uniformity",
    oracle="""
WITH xint AS (
    SELECT vec_id, label, i,
           CAST(ROUND(CAST(x AS DOUBLE) * 10000.0) AS BIGINT) AS xi
    FROM (SELECT vec_id, label, UNNEST(embedding) AS x,
                 GENERATE_SUBSCRIPTS(embedding, 1) AS i FROM embeddings)
),
ssq AS (SELECT vec_id, CAST(SUM(xi * xi) AS BIGINT) AS s2 FROM xint GROUP BY vec_id),
pos_dots AS (
    SELECT a.vec_id AS ia, b.vec_id AS ib,
           CAST(SUM(a.xi * b.xi) AS BIGINT) AS dot
    FROM xint a JOIN xint b
      ON b.i = a.i AND b.label = a.label AND a.vec_id < b.vec_id
         AND (a.vec_id + b.vec_id) % 3 = 0
    GROUP BY a.vec_id, b.vec_id
),
pos_terms AS (
    SELECT CAST(ROUND(1000000.0 * (2.0 - 2.0 * d.dot
               / (SQRT(CAST(sa.s2 AS DOUBLE)) * SQRT(CAST(sb.s2 AS DOUBLE)))))
               AS BIGINT) AS au
    FROM pos_dots d
    JOIN ssq sa ON sa.vec_id = d.ia JOIN ssq sb ON sb.vec_id = d.ib
),
uni_dots AS (
    SELECT a.vec_id AS ia, b.vec_id AS ib,
           CAST(SUM(a.xi * b.xi) AS BIGINT) AS dot
    FROM xint a JOIN xint b
      ON b.i = a.i AND a.vec_id < b.vec_id
         AND a.vec_id % 4 = 0 AND b.vec_id % 4 = 0
    GROUP BY a.vec_id, b.vec_id
),
uni_terms AS (
    SELECT CAST(ROUND(1000000.0 * EXP(-2.0 * (2.0 - 2.0 * d.dot
               / (SQRT(CAST(sa.s2 AS DOUBLE)) * SQRT(CAST(sb.s2 AS DOUBLE))))))
               AS BIGINT) AS uu
    FROM uni_dots d
    JOIN ssq sa ON sa.vec_id = d.ia JOIN ssq sb ON sb.vec_id = d.ib
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pos_terms) AS n_pos_pairs,
       (SELECT ROUND(CAST(SUM(au) AS DOUBLE) / 1000000.0 / COUNT(*), 4)
        FROM pos_terms) AS alignment,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM uni_terms) AS n_unif_pairs,
       (SELECT ROUND(LN(CAST(SUM(uu) AS DOUBLE) / 1000000.0 / COUNT(*)), 4)
        FROM uni_terms) AS uniformity
""",
    tags=("similarity-topk", "quality", "A12"),
)
def q444_alignment_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wang-Isola embedding metrics: (n_pos_pairs, alignment,
    n_unif_pairs, uniformity)."""
    emb = load_table(spark, sf_dir, "embeddings")
    xint = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("i0", "x"),
    ).select(
        "vec_id",
        "label",
        (F.col("i0") + 1).alias("i"),
        F.round(F.col("x").cast("double") * 10000.0).cast("long").alias("xi"),
    )
    ssq = xint.groupBy("vec_id").agg(
        F.sum(F.col("xi") * F.col("xi")).alias("s2")
    )

    def dots(extra_cond):
        a = xint.select(
            F.col("vec_id").alias("ia"),
            F.col("label").alias("la"),
            "i",
            F.col("xi").alias("xa"),
        )
        b = xint.select(
            F.col("vec_id").alias("ib"),
            F.col("label").alias("lb"),
            "i",
            F.col("xi").alias("xb"),
        )
        return (
            a.join(b, ["i"])
            .filter((F.col("ia") < F.col("ib")) & extra_cond)
            .groupBy("ia", "ib")
            .agg(F.sum(F.col("xa") * F.col("xb")).alias("dot"))
        )

    def d2col():
        return F.lit(2.0) - F.lit(2.0) * F.col("dot") / (
            F.sqrt(F.col("sa").cast("double")) * F.sqrt(F.col("sb").cast("double"))
        )

    def with_norms(d):
        return d.join(
            ssq.select(F.col("vec_id").alias("ia"), F.col("s2").alias("sa")), "ia"
        ).join(
            ssq.select(F.col("vec_id").alias("ib"), F.col("s2").alias("sb")), "ib"
        )

    pos = with_norms(
        dots(
            (F.col("la") == F.col("lb"))
            & ((F.col("ia") + F.col("ib")) % 3 == 0)
        )
    ).select(F.round(1000000.0 * d2col()).cast("long").alias("au"))
    uni = with_norms(
        dots((F.col("ia") % 4 == 0) & (F.col("ib") % 4 == 0))
    ).select(
        F.round(1000000.0 * F.exp(F.lit(-2.0) * d2col())).cast("long").alias("uu")
    )
    pa = pos.agg(
        F.count(F.lit(1)).cast("long").alias("n_pos_pairs"),
        F.round(F.sum("au").cast("double") / 1000000.0 / F.count(F.lit(1)), 4).alias(
            "alignment"
        ),
    )
    ua = uni.agg(
        F.count(F.lit(1)).cast("long").alias("n_unif_pairs"),
        F.round(
            F.log(F.sum("uu").cast("double") / 1000000.0 / F.count(F.lit(1))), 4
        ).alias("uniformity"),
    )
    return pa.crossJoin(F.broadcast(ua))


# ---------------------------------------------------------------------------
# q469 — CORAL covariance-alignment drift between the even- and odd-label
# embedding populations: the Frobenius distance between the two 16x16
# covariance matrices, ||C_A - C_B||_F^2 / (4 d^2) — the CORrelation
# ALignment domain-shift measure (Sun & Saenko 2016). Complements q226
# (per-dim mean/std drift) and q397 (distributional JSD) with the
# SECOND-moment structure read: two domains can match marginally while
# their dim-dim correlations diverge, and CORAL is what domain-adaptation
# pipelines minimise.
# Spark-first shape: the 136 upper-triangle (i, j) products per vector
# come from ONE array-lambda projection (flatten/transform — no self-
# join, no shuffle before the keyed aggregate); the quadratic never
# materialises beyond rows x 136 projected cells with map-side combine.
# Parity: components frozen to 1e6 micro-units so every (g, i, j) sum is
# an exact integer (DECIMAL(38,0)/HUGEINT: x^2 <= 2.8e11/row -> 2.8e23
# at 1e12 vectors); cov entries and the per-cell Frobenius terms are
# identical double expressions, each frozen to round(1e12 * w * diff^2)
# before the 136-cell reduce. 4dp.
# Scale: one rows x 136 projection + one (g, i, j) aggregate (272 output
# cells), one (g, i) mean aggregate, one (g) count — all map-side
# combined; everything downstream is grid-sized.
# ---------------------------------------------------------------------------
_CORAL_D = 16


@register(
    "q469_coral_drift",
    oracle=f"""
WITH base AS (
    SELECT CAST(label % 2 AS BIGINT) AS g, embedding AS e FROM embeddings
),
cnt AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY g),
means AS (
    SELECT g, i, CAST(SUM(CAST(ROUND(1000000.0 * e[i]) AS BIGINT))
                      AS HUGEINT) AS si
    FROM base, UNNEST(range(1, {_CORAL_D + 1})) AS t(i)
    GROUP BY g, i
),
prods AS (
    SELECT g, i, j,
           CAST(SUM(CAST(ROUND(1000000.0 * e[i]) AS BIGINT)
                    * CAST(ROUND(1000000.0 * e[j]) AS BIGINT)) AS HUGEINT)
               AS sij
    FROM base,
         UNNEST(range(1, {_CORAL_D + 1})) AS t1(i),
         UNNEST(range(1, {_CORAL_D + 1})) AS t2(j)
    WHERE j >= i
    GROUP BY g, i, j
),
cov AS (
    SELECT p.g, p.i, p.j,
           CAST(c.n * p.sij - ma.si * mb.si AS DOUBLE)
           / (CAST(c.n AS DOUBLE) * c.n) / 1000000000000.0 AS cv
    FROM prods p
    JOIN cnt c ON c.g = p.g
    JOIN means ma ON ma.g = p.g AND ma.i = p.i
    JOIN means mb ON mb.g = p.g AND mb.i = p.j
),
wide AS (
    SELECT i, j,
           MAX(CASE WHEN g = 0 THEN cv END) AS ca,
           MAX(CASE WHEN g = 1 THEN cv END) AS cb
    FROM cov GROUP BY i, j
),
terms AS (
    SELECT CAST(ROUND(1000000000000.0
               * (CASE WHEN i < j THEN 2.0 ELSE 1.0 END)
               * (ca - cb) * (ca - cb)) AS BIGINT) AS z
    FROM wide
)
SELECT CAST({_CORAL_D} AS BIGINT) AS dims,
       (SELECT n FROM cnt WHERE g = 0) AS n_even,
       (SELECT n FROM cnt WHERE g = 1) AS n_odd,
       ROUND(CAST(SUM(z) AS DOUBLE) / 1000000000000.0, 4) AS frob_sq,
       ROUND(CAST(SUM(z) AS DOUBLE) / 1000000000000.0
             / (4.0 * {_CORAL_D} * {_CORAL_D}), 4) AS coral_dist
FROM terms
""",
    tags=("embedding", "drift", "A12"),
)
def q469_coral_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORAL covariance-alignment distance between even/odd-label
    embedding populations (first 16 dims): (dims, n_even, n_odd,
    frob_sq, coral_dist)."""
    d = _CORAL_D
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        (F.col("label") % 2).cast("long").alias("g"),
        F.col("embedding").alias("e"),
    )
    cnt = base.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    mean_cells = base.select(
        "g",
        F.explode(
            F.expr(
                f"transform(sequence(1, {d}), i -> named_struct("
                f"'i', i, 'x', CAST(ROUND(1000000.0 * element_at(e, i)) AS BIGINT)))"
            )
        ).alias("c"),
    ).select("g", F.col("c.i").alias("i"), F.col("c.x").alias("x"))
    means = mean_cells.groupBy("g", "i").agg(
        F.sum(F.col("x").cast("decimal(38,0)")).alias("si")
    )
    prod_cells = base.select(
        "g",
        F.explode(
            F.expr(
                f"flatten(transform(sequence(1, {d}), i -> "
                f"transform(sequence(i, {d}), j -> named_struct("
                f"'i', i, 'j', j, "
                f"'p', CAST(ROUND(1000000.0 * element_at(e, i)) AS BIGINT)"
                f" * CAST(ROUND(1000000.0 * element_at(e, j)) AS BIGINT)))))"
            )
        ).alias("c"),
    ).select(
        "g",
        F.col("c.i").alias("i"),
        F.col("c.j").alias("j"),
        F.col("c.p").alias("p"),
    )
    prods = prod_cells.groupBy("g", "i", "j").agg(
        F.sum(F.col("p").cast("decimal(38,0)")).alias("sij")
    )
    ma = means.select(
        F.col("g").alias("ga"), F.col("i").alias("mi"), F.col("si").alias("sa")
    )
    mb = means.select(
        F.col("g").alias("gb"), F.col("i").alias("mj"), F.col("si").alias("sb")
    )
    cov = (
        prods.join(F.broadcast(cnt), "g")
        .join(
            F.broadcast(ma),
            (F.col("mi") == F.col("i")) & (F.col("ga") == F.col("g")),
        )
        .join(
            F.broadcast(mb),
            (F.col("mj") == F.col("j")) & (F.col("gb") == F.col("g")),
        )
        .select(
            "g",
            "i",
            "j",
            (
                (
                    F.col("n").cast("decimal(38,0)") * F.col("sij")
                    - F.col("sa") * F.col("sb")
                ).cast("double")
                / (F.col("n").cast("double") * F.col("n"))
                / 1e12
            ).alias("cv"),
        )
    )
    wide = cov.groupBy("i", "j").agg(
        F.max(F.when(F.col("g") == 0, F.col("cv"))).alias("ca"),
        F.max(F.when(F.col("g") == 1, F.col("cv"))).alias("cb"),
    )
    terms = wide.select(
        F.round(
            1e12
            * F.when(F.col("i") < F.col("j"), F.lit(2.0)).otherwise(1.0)
            * (F.col("ca") - F.col("cb"))
            * (F.col("ca") - F.col("cb"))
        )
        .cast("long")
        .alias("z")
    )
    n_even = cnt.filter(F.col("g") == 0).select(
        F.col("n").alias("n_even")
    )
    n_odd = cnt.filter(F.col("g") == 1).select(F.col("n").alias("n_odd"))
    return (
        terms.agg(F.sum("z").alias("sz"))
        .crossJoin(F.broadcast(n_even))
        .crossJoin(F.broadcast(n_odd))
        .select(
            F.lit(d).cast("long").alias("dims"),
            "n_even",
            "n_odd",
            F.round(F.col("sz").cast("double") / 1e12, 4).alias("frob_sq"),
            F.round(
                F.col("sz").cast("double") / 1e12 / (4.0 * d * d), 4
            ).alias("coral_dist"),
        )
    )
