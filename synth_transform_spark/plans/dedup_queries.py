"""Near-duplicate detection queries (north-star dedup operators).

The Spark implementations live in operators/dedup.py; the oracles mirror the
exact same md5-based algorithms in SQL so the hash-match is bit-for-bit.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators import dedup, text_analysis
from ..sources.readers import load_table
from .registry import register

# Shared CTE: distinct word-3-gram shingles per doc (portable SQL via an
# index self-join — DuckDB's lateral generate_series can't consume columns).
_SHINGLES_CTE = """
docs AS (
    SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '') AS w
    FROM documents
),
toks AS (
    SELECT doc_id, UNNEST(w) AS tok, GENERATE_SUBSCRIPTS(w, 1) AS i FROM docs
),
sh AS (
    SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
    FROM toks a
    JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
    JOIN toks c ON c.doc_id = a.doc_id AND c.i = a.i + 2
)
"""


def _minhash_ctes() -> str:
    """CTE body (no WITH keyword) ending in ``dups(id_a, id_b, jaccard)``
    — the verified near-dup pairs at threshold 0.8. Shared by the q27
    oracle (selects the pairs) and the q63 oracle (builds the transitive
    closure on top with a recursive CTE)."""
    n_perms, band_size = dedup.N_PERMS, dedup.BAND_SIZE
    n_bands = n_perms // band_size
    p = dedup.MINHASH_PRIME
    sig_cols = ", ".join(
        f"MIN(({a} * hb + {b}) % {p}) AS h{i}"
        for i, (a, b) in enumerate(dedup._perm_constants(n_perms))
    )
    band_selects = []
    for b in range(n_bands):
        cols = " || '|' || ".join(
            f"CAST(h{b * band_size + j} AS VARCHAR)" for j in range(band_size)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band_id, "
            f"CAST(('0x' || SUBSTR(MD5({cols}), 1, 15))::UBIGINT AS BIGINT) "
            f"AS band_key FROM sigs"
        )
    bands_sql = " UNION ALL ".join(band_selects)
    return f"""
{_SHINGLES_CTE},
shb AS (
    SELECT doc_id,
           CAST(('0x' || SUBSTR(MD5(shingle), 1, 8))::UBIGINT AS BIGINT) AS hb
    FROM sh
),
sigs AS (
    SELECT doc_id, {sig_cols} FROM shb GROUP BY doc_id
),
bands AS (
    {bands_sql}
),
sized AS (
    SELECT *, COUNT(*) OVER (PARTITION BY band_id, band_key) AS bucket_n FROM bands
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM sized a
    JOIN sized b ON b.band_id = a.band_id AND b.band_key = a.band_key
               AND a.doc_id < b.doc_id
    WHERE a.bucket_n <= 1000 AND b.bucket_n <= 1000
),
inter AS (
    SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.id_a
    JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
    GROUP BY c.id_a, c.id_b
),
sizes AS (
    SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
),
dups AS (
    SELECT id_a, id_b,
           ROUND(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    -- exact-rational accept at t = 4/5 (round 11): 5·inter >= 4·union,
    -- mirroring jaccard_verify_arrays — the rounded jaccard is output-only
    WHERE 5 * n_inter >= 4 * (sa.n + sb.n - n_inter)
)"""


@register(
    "q27_minhash_near_dups",
    oracle=f"WITH {_minhash_ctes()}\nSELECT id_a, id_b, jaccard FROM dups",
    tags=("dedup-minhash", "J13", "A4"),
    bench=True,
)
def q27_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle → MinHash(12) → LSH(4×3) → exact-Jaccard verify ≥ 0.8."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_near_duplicates(docs, threshold=0.8)


@register(
    "q32_ngram_jaccard_pairs",
    oracle=f"""
WITH {_SHINGLES_CTE},
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
    FROM sh a JOIN sh b ON b.shingle = a.shingle AND a.doc_id < b.doc_id
    GROUP BY id_a, id_b
),
sizes AS (
    SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
)
SELECT id_a, id_b,
       ROUND(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 4) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE 2 * n_inter >= sa.n + sb.n - n_inter
""",
    tags=("dedup-ngram", "J13"),
)
def q32_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force n-gram Jaccard ≥ 0.5 over all shingle-sharing pairs.

    The exact small-scale baseline the LSH path approximates; candidate
    space is every pair sharing ≥1 shingle (quadratic in bucket size — kept
    out of the bench suite by design; q27 is the scale path).
    """
    import pyspark.sql.functions as F

    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingles(docs)
    sh_a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    sh_b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    pairs = (
        sh_a.join(sh_b, ["shingle"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return dedup.jaccard_verify_arrays(
        pairs, dedup.shingle_arrays(docs), threshold=0.5
    )


# q38 constants: 8 deterministic seed centroids (vec_id < 8 — exact values,
# no float-summation-order hazard a trained mean would carry), each vector
# multi-assigned to its 3 nearest cells, cells capped at 10k assignments.
_Q38_N_CELLS = 8
_Q38_N_ASSIGN = 3
_Q38_MAX_CELL = 10000
_Q38_THRESHOLD = 0.42


@register(
    "q38_embedding_near_dups",
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
    FROM vflat v JOIN vflat c ON c.i = v.i AND c.vec_id < {_Q38_N_CELLS}
    GROUP BY v.vec_id, c.vec_id
),
cscore AS (
    SELECT d.vec_id, d.cid, ROUND(d.dot / (nv.nrm * nc.nrm), 4) AS cos
    FROM cdots d
    JOIN norms nv ON nv.vec_id = d.vec_id
    JOIN norms nc ON nc.vec_id = d.cid
),
assign AS (
    SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, cid ASC) AS rk
        FROM cscore) t
    WHERE rk <= {_Q38_N_ASSIGN}
),
sized AS (SELECT cid FROM assign GROUP BY cid HAVING COUNT(*) <= {_Q38_MAX_CELL}),
cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM assign a
    JOIN assign b ON b.cid = a.cid AND a.vec_id < b.vec_id
    JOIN sized s ON s.cid = a.cid
),
pdots AS (
    SELECT c.id_a, c.id_b, SUM(a.x * b.x) AS dot
    FROM cand c
    JOIN vflat a ON a.vec_id = c.id_a
    JOIN vflat b ON b.vec_id = c.id_b AND b.i = a.i
    GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b, ROUND(dot / (na.nrm * nb.nrm), 4) AS cosine
FROM pdots
JOIN norms na ON na.vec_id = id_a
JOIN norms nb ON nb.vec_id = id_b
WHERE ROUND(dot / (na.nrm * nb.nrm), 4) >= {_Q38_THRESHOLD}
""",
    tags=("dedup-embedding", "similarity"),
)
def q38_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicates, IVF-cell bucketed (the scale path).

    Candidates are pairs sharing one of each vector's 3 nearest coarse
    cells (8 deterministic seed centroids); the exact rounded-cosine scorer
    verifies ≥ 0.42 (just under the corpus max ~0.51 on the synthetic
    near-orthogonal vectors, so the result is non-trivial). No all-pairs
    join anywhere: the candidate self-join shuffles on cell_id with a
    degenerate-cell guard, so the plan holds at 100 TB. Recall vs the exact
    all-pairs baseline (0.91 at sf0.01) is pinned in tests/test_similarity.py;
    the oracle mirrors assignment, guard, and verify exactly.
    """
    import pyspark.sql.functions as F

    from ..operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < _Q38_N_CELLS).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("centroid")
    )
    return similarity.cell_cosine_pairs(
        emb,
        centroids,
        threshold=_Q38_THRESHOLD,
        n_assign=_Q38_N_ASSIGN,
        max_cell=_Q38_MAX_CELL,
    )


# Shared CTE chain ending in sigs(doc_id, simhash) — mirrors
# dedup.simhash_signatures exactly; q28 selects it, q56 builds pairs on it.
_SIMHASH_SIGS_CTE = f"""
docs2 AS (
    SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '') AS w
    FROM documents
),
toks2 AS (
    SELECT doc_id, tok, COUNT(*) AS wgt
    FROM (SELECT doc_id, UNNEST(w) AS tok FROM docs2) u
    GROUP BY doc_id, tok
),
hashed AS (
    SELECT doc_id, wgt,
           CAST(('0x' || SUBSTR(MD5(tok), 1, 15))::UBIGINT AS BIGINT) AS h
    FROM toks2
),
bits AS (
    SELECT doc_id, j.j,
           SUM((((h >> j.j) & 1) * 2 - 1) * wgt) AS s
    FROM hashed, (SELECT UNNEST(GENERATE_SERIES(0, {dedup.SIMHASH_BITS - 1})) AS j) j
    GROUP BY doc_id, j.j
),
sigs AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
    FROM bits
    GROUP BY doc_id
)
"""


@register(
    "q28_simhash",
    oracle=f"WITH {_SIMHASH_SIGS_CTE} SELECT doc_id, simhash FROM sigs",
    tags=("dedup-simhash",),
)
def q28_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_signatures(docs)


@register(
    "q56_simhash_near_dups",
    # The oracle computes the ALL-PAIRS hamming truth — a strictly stronger
    # check than mirroring the banded pipeline: with 4 bands of 15 bits,
    # pigeonhole guarantees every pair within hamming ≤ 3 collides on ≥1
    # band, so the banded Spark result must equal the exhaustive answer
    # (the degenerate-bucket guard never binds on the fixture corpus —
    # max band bucket is 27 ≪ 1000).
    oracle=f"""
WITH {_SIMHASH_SIGS_CTE}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(BIT_COUNT(XOR(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sigs a
JOIN sigs b ON a.doc_id < b.doc_id
WHERE BIT_COUNT(XOR(a.simhash, b.simhash)) <= 3
""",
    tags=("dedup-simhash", "A4"),
)
def q56_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded SimHash near-dups: signature → 4×15-bit band rotation →
    bucket self-join (max_bucket guard) → exact bit_count(xor) verify ≤ 3.
    Candidates never touch the O(n²) pair space; the band-collision
    guarantee makes the result exact at this distance."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_near_duplicates(docs, max_hamming=3)


# Transitive closure of the near-dup pairs as reusable CTE text (follows
# ``dups``; requires WITH RECURSIVE). The recursive CTE enumerates
# reachability over the symmetrised edge list (the UNION's set semantics
# deduplicate visited pairs, so it terminates on cycles); the component
# label is then min(node, reachable nodes) — exactly the fixpoint the
# Spark min-label propagation converges to. Shared by q63 / q105 / q106.
_CLUSTER_CTES = """
edges AS (
    SELECT id_a AS s, id_b AS d FROM dups
    UNION
    SELECT id_b AS s, id_a AS d FROM dups
),
reach(s, d) AS (
    SELECT s, d FROM edges
    UNION
    SELECT r.s, e.d FROM reach r JOIN edges e ON e.s = r.d
),
lab AS (
    SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster_id FROM reach GROUP BY s
)"""


@register(
    "q63_dup_clusters",
    oracle=f"""
WITH RECURSIVE {_minhash_ctes()},
{_CLUSTER_CTES}
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM lab
""",
    tags=("dedup-clusters", "A4", "U4"),
)
def q63_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: q27's verified pairs → connected components →
    (doc_id, cluster_id=min id, cluster_size). The dedup decision layer:
    keep cluster_id, drop the rest. Iterative — builds jobs, not a lazy
    plan (see operators/graph.py)."""
    from ..operators import graph

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_duplicates(docs, threshold=0.8).select("id_a", "id_b")
    return graph.duplicate_clusters(pairs)


def _pagerank_ctes(n_iter: int = 5, damping: float = 0.85) -> str:
    """CTE chain (no WITH) from ``dups`` to ``it{n_iter}(node, rank)`` —
    the same fixed-iteration algebra as operators/graph.pagerank."""
    head = """
edges AS (
    SELECT id_a AS s, id_b AS d FROM dups
    UNION
    SELECT id_b AS s, id_a AS d FROM dups
),
nodes AS (SELECT DISTINCT s AS node FROM edges),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
outdeg AS (SELECT s, COUNT(*) AS od FROM edges GROUP BY s),
r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn)"""
    its = []
    prev = "r0"
    for i in range(1, n_iter + 1):
        its.append(f"""
it{i} AS (
    SELECT n.node,
           (1.0 - {damping}) / nn.n
           + {damping} * COALESCE(SUM(r.rank / o.od), 0) AS rank
    FROM nodes n CROSS JOIN nn
    LEFT JOIN edges e ON e.d = n.node
    LEFT JOIN {prev} r ON r.node = e.s
    LEFT JOIN outdeg o ON o.s = e.s
    GROUP BY n.node, nn.n
)""")
        prev = f"it{i}"
    return head + "," + ",".join(its)


@register(
    "q82_pagerank",
    # Fixed 5-iteration PageRank over the symmetrised q27 near-dup graph:
    # the oracle chains the identical algebraic updates, so ranks match
    # bit-for-bit up to the 4dp round (per-node contribution sums span few
    # terms — summation-order ulps vanish under the round).
    oracle=f"""
WITH {_minhash_ctes()},
{_pagerank_ctes(n_iter=5, damping=0.85)}
SELECT node AS doc_id, ROUND(rank, 4) AS pagerank FROM it5
""",
    tags=("graph", "dedup-clusters", "U4"),
)
def q82_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centrality over the near-dup pair graph: which documents sit at the
    centre of duplicate neighbourhooods (dedup survivors are usually picked
    per cluster — rank adds an importance order within one). Iterative —
    executes one checkpointed round per iteration (operators/graph.pagerank),
    exactly like q63's components."""
    import pyspark.sql.functions as F

    from ..operators import graph

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_duplicates(docs, threshold=0.8).select("id_a", "id_b")
    sym = pairs.select(
        F.col("id_a").alias("s"), F.col("id_b").alias("d")
    ).union(pairs.select(F.col("id_b").alias("s"), F.col("id_a").alias("d")))
    ranks = graph.pagerank(sym, "s", "d", n_iter=5, damping=0.85)
    return ranks.select(
        F.col("node").alias("doc_id"), F.round("rank", 4).alias("pagerank")
    )


@register(
    "q101_triangle_count",
    # Triangles in the near-dup graph measure cluster cliquishness (pure
    # chains dedup differently than near-clique boilerplate families).
    # Canonical a < b < c enumeration: each triangle counted exactly once.
    oracle=f"""
WITH {_minhash_ctes()},
edges AS (SELECT id_a AS a, id_b AS b FROM dups),
tri AS (
    SELECT e1.a, e1.b, e2.b AS c
    FROM edges e1
    JOIN edges e2 ON e2.a = e1.b
    JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT a AS id_a, b AS id_b, c AS id_c FROM tri
""",
    tags=("graph", "dedup-clusters"),
)
def q101_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration over the verified near-dup pairs.

    The pair relation already stores each undirected edge once with
    id_a < id_b, so the canonical-order two-hop join (e1.b=e2.a closing
    edge e3=(e1.a, e2.b)) finds each triangle exactly once. Scale: two
    hash joins on vertex keys; production triangle counting orders
    vertices by degree first so high-degree hubs sit on the closing side
    (bounds the two-hop fan-out) — same plan shape, one extra ranking
    pass; the LSH pair graph is max_bucket-bounded already.
    """
    import pyspark.sql.functions as F

    docs = load_table(spark, sf_dir, "documents")
    e = dedup.minhash_near_duplicates(docs, threshold=0.8).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    ).localCheckpoint(eager=True)  # three consumers of an expensive relation
    e1 = e.select(F.col("a"), F.col("b"))
    e2 = e.select(F.col("a").alias("b2a"), F.col("b").alias("c"))
    e3 = e.select(F.col("a").alias("ca"), F.col("b").alias("cb"))
    return (
        e1.join(e2, e1["b"] == e2["b2a"])
        .join(e3, (F.col("a") == F.col("ca")) & (F.col("c") == F.col("cb")))
        .select(
            F.col("a").alias("id_a"), F.col("b").alias("id_b"), F.col("c").alias("id_c")
        )
    )


@register(
    "q105_dedup_decision",
    # The decision layer a dedup pass actually ships: one row per document
    # with its cluster (if any) and the keep/drop verdict — keep singletons
    # and each cluster's canonical min-id member.
    oracle=f"""
WITH RECURSIVE {_minhash_ctes()},
{_CLUSTER_CTES}
SELECT d.doc_id, l.cluster_id,
       (l.doc_id IS NULL OR l.cluster_id = d.doc_id) AS keep
FROM documents d LEFT JOIN lab l ON l.doc_id = d.doc_id
""",
    tags=("dedup-clusters", "A4", "U4"),
)
def q105_dedup_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document dedup verdict from the q63 clusters: (doc_id,
    cluster_id, keep). Iterative (cluster build executes jobs, like q63);
    the decision itself is one left join against the O(clustered-docs)
    label relation."""
    import pyspark.sql.functions as F

    from ..operators import graph

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_duplicates(docs, threshold=0.8).select("id_a", "id_b")
    clusters = graph.duplicate_clusters(pairs).select("doc_id", "cluster_id")
    return docs.select("doc_id").join(clusters, "doc_id", "left").select(
        "doc_id",
        "cluster_id",
        (
            F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("doc_id"))
        ).alias("keep"),
    )


def _kcore_ctes(k: int = 2, n_rounds: int = 4) -> str:
    """CTE chain (no WITH) from ``dups`` to ``e{n_rounds}(s, d)`` — the
    same fixed-round peeling as operators/graph.kcore.

    Each round reads its predecessor EXACTLY ONCE (both endpoint degrees
    come from two window passes over the same relation): a k{i}/e{i}
    formulation that references e{i-1} twice made DuckDB re-inline the
    whole upstream LSH pipeline 2^rounds times. e0 is MATERIALIZED for
    the same reason — it reads ``dups`` twice (the symmetrising union).
    """
    parts = ["""
e0 AS MATERIALIZED (
    SELECT id_a AS s, id_b AS d FROM dups
    UNION
    SELECT id_b AS s, id_a AS d FROM dups
)"""]
    for i in range(1, n_rounds + 1):
        parts.append(f"""
w{i} AS (
    SELECT s, d,
           COUNT(*) OVER (PARTITION BY s) AS sdeg,
           COUNT(*) OVER (PARTITION BY d) AS ddeg
    FROM e{i - 1}
),
e{i} AS (
    SELECT s, d FROM w{i} WHERE sdeg >= {k} AND ddeg >= {k}
)""")
    return ",".join(parts)


@register(
    "q135_kcore",
    # 2-core of the near-dup graph: documents in dense duplication
    # neighbourhoods (chains and pendants peel away — the boilerplate-
    # family detector). Fixed 4 peel rounds, converged on this graph
    # (pinned in tests/test_graph.py); oracle chains identical rounds.
    oracle=f"""
WITH {_minhash_ctes()},
{_kcore_ctes(k=2, n_rounds=4)}
SELECT s AS doc_id, COUNT(*) AS degree FROM e4 GROUP BY s
""",
    tags=("graph", "dedup-clusters"),
)
def q135_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core membership + within-core degree over the verified near-dup
    pairs. Iterative — executes one checkpointed peel per round (see
    operators/graph.kcore)."""
    import pyspark.sql.functions as F

    from ..operators import graph

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_duplicates(docs, threshold=0.8).select("id_a", "id_b")
    sym = pairs.select(
        F.col("id_a").alias("s"), F.col("id_b").alias("d")
    ).union(pairs.select(F.col("id_b").alias("s"), F.col("id_a").alias("d")))
    cores = graph.kcore(sym, k=2, n_rounds=4)
    return cores.select(F.col("node").alias("doc_id"), "degree")


def _weighted_pagerank_ctes(n_iter: int = 3, damping: float = 0.85) -> str:
    """CTE chain from ``dups`` (id_a, id_b, jaccard) to ``wit{n}`` —
    jaccard-weighted rank propagation, shares pre-rounded to 6dp exactly
    like operators/graph.weighted_pagerank."""
    head = """
wedges AS (
    SELECT id_a AS s, id_b AS d, jaccard AS w FROM dups
    UNION ALL
    SELECT id_b AS s, id_a AS d, jaccard AS w FROM dups
),
wnodes AS (SELECT DISTINCT s AS node FROM wedges),
wnn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM wnodes),
woutw AS (SELECT s, SUM(w) AS tw FROM wedges GROUP BY s),
wshared AS (
    SELECT e.s, e.d, ROUND(e.w / o.tw, 6) AS share
    FROM wedges e JOIN woutw o ON o.s = e.s
),
wit0 AS (SELECT node, 1.0 / wnn.n AS rank FROM wnodes CROSS JOIN wnn)"""
    its = []
    prev = "wit0"
    for i in range(1, n_iter + 1):
        its.append(f"""
wit{i} AS (
    SELECT n.node,
           (1.0 - {damping}) / wnn.n
           + {damping} * COALESCE(SUM(r.rank * e.share), 0) AS rank
    FROM wnodes n CROSS JOIN wnn
    LEFT JOIN wshared e ON e.d = n.node
    LEFT JOIN {prev} r ON r.node = e.s
    GROUP BY n.node, wnn.n
)""")
        prev = f"wit{i}"
    return head + "," + ",".join(its)


@register(
    "q178_weighted_pagerank",
    # Jaccard-weighted centrality over the near-dup graph: strong
    # near-dups pull rank harder than borderline pairs — the weighted
    # refinement of q82. Weight shares pre-rounded to 6dp on both
    # engines, ranks to 4dp after three chained rounds.
    oracle=f"""
WITH {_minhash_ctes()},
{_weighted_pagerank_ctes(n_iter=3, damping=0.85)}
SELECT node AS doc_id, ROUND(rank, 4) AS wrank FROM wit3
""",
    tags=("graph", "dedup-clusters"),
)
def q178_weighted_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the verified near-dup pairs, edge weight =
    verified jaccard. Iterative (checkpointed rounds)."""
    import pyspark.sql.functions as F

    from ..operators import graph

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_duplicates(docs, threshold=0.8).select(
        "id_a", "id_b", "jaccard"
    )
    sym = pairs.select(
        F.col("id_a").alias("s"), F.col("id_b").alias("d"), F.col("jaccard").alias("w")
    ).union(
        pairs.select(
            F.col("id_b").alias("s"), F.col("id_a").alias("d"), F.col("jaccard").alias("w")
        )
    )
    ranks = graph.weighted_pagerank(sym, n_iter=3, damping=0.85)
    return ranks.select(
        F.col("node").alias("doc_id"), F.round("rank", 4).alias("wrank")
    )


@register(
    "q182_prefix_jaccard_join",
    # All-pairs ground truth — a STRICTLY STRONGER check than mirroring the
    # prefix pipeline: the prefix-filter guarantee (rarest-first global
    # order, p = |s| - ceil(t·|s|) + 1) makes the Spark result exactly the
    # shared-shingle all-pairs answer at J ≥ t, so any candidate the
    # prefix join missed would hash-mismatch here.
    oracle=f"""
WITH {_SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS ov
    FROM sh a JOIN sh b ON b.shingle = a.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT ia AS id_a, ib AS id_b,
       ROUND(CAST(ov AS DOUBLE) / (sa.sz + sb.sz - ov), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = ia
JOIN sizes sb ON sb.doc_id = ib
WHERE 2 * ov >= sa.sz + sb.sz - ov
""",
    tags=("dedup-setsim", "A4", "prefix-filter"),
)
def q182_prefix_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard ≥ 0.5 self-join via prefix filtering (PPJoin family) —
    the deterministic, no-miss alternative to q27's MinHash-LSH. Candidates
    come only from shared PREFIX shingles under a rarest-first global
    order; verification is the same candidate-driven array_intersect as
    q32 (operators/dedup.prefix_jaccard_join)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.prefix_jaccard_join(docs, threshold=0.5)


@register(
    "q194_bfs_hops",
    # Multi-source BFS (level-synchronous frontier expansion) from the
    # lowest-id near-dup node: min-hop distance to every node within 4
    # hops. The recursive oracle enumerates bounded walks; set-semantics
    # UNION terminates despite cycles because dist is capped.
    oracle=f"""
WITH RECURSIVE {_minhash_ctes()},
edges AS (
    SELECT id_a AS s, id_b AS d FROM dups
    UNION
    SELECT id_b AS s, id_a AS d FROM dups
),
src AS (SELECT MIN(s) AS v FROM edges),
walk(node, dist) AS (
    SELECT v, 0 FROM src
    UNION
    SELECT e.d, w.dist + 1
    FROM walk w JOIN edges e ON e.s = w.node
    WHERE w.dist < 4
)
SELECT node AS doc_id, CAST(MIN(dist) AS BIGINT) AS dist
FROM walk GROUP BY node
""",
    tags=("graph", "dedup-clusters", "iterative"),
)
def q194_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-hop distances from the lowest-id near-dup doc over the verified
    pair graph (operators/graph.bfs_distances). Iterative — one frontier
    join per hop, frontier-only work per round."""
    import pyspark.sql.functions as F

    from ..operators import graph

    from ..caching import persist_tracked

    docs = load_table(spark, sf_dir, "documents")
    # checkpointed: TWO consumers — bfs_distances' edge symmetrisation and
    # the min-node source aggregate below — would otherwise each execute
    # the full MinHash verify stage (the candidate relation inside
    # minhash_near_duplicates is checkpointed, but the re-shingle +
    # verify joins after it are not; measured ~0.7 s of repeat work at
    # sf0.1).
    pairs = persist_tracked(
        dedup.minhash_near_duplicates(docs, threshold=0.8).select("id_a", "id_b"),
        checkpoint=True,
    )
    nodes = pairs.select(F.col("id_a").alias("node")).union(
        pairs.select(F.col("id_b").alias("node"))
    )
    src = nodes.agg(F.min("node").alias("node"))
    dists = graph.bfs_distances(pairs, src, max_hops=4)
    return dists.select(F.col("node").alias("doc_id"), "dist")


@register(
    "q195_lsh_quality",
    # Dedup-pipeline QA: precision/recall of the MinHash-LSH pair set
    # against the exact all-pairs Jaccard >= 0.8 truth (the prefix-filter
    # join computes that truth exactly without the pair space — q182's
    # guarantee). One full-outer membership join, one row out.
    oracle=f"""
WITH {_minhash_ctes()},
qa_sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
qa_inter AS (
    SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS ov
    FROM sh a JOIN sh b ON b.shingle = a.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
truth AS (
    SELECT ia AS id_a, ib AS id_b
    FROM qa_inter
    JOIN qa_sizes sa ON sa.doc_id = ia
    JOIN qa_sizes sb ON sb.doc_id = ib
    WHERE 5 * ov >= 4 * (sa.sz + sb.sz - ov)
),
j AS (
    SELECT COALESCE(t.id_a, d.id_a) AS id_a,
           CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END AS in_exact,
           CASE WHEN d.id_a IS NOT NULL THEN 1 ELSE 0 END AS in_lsh
    FROM truth t
    FULL OUTER JOIN (SELECT id_a, id_b FROM dups) d
      ON d.id_a = t.id_a AND d.id_b = t.id_b
)
SELECT CAST(SUM(in_exact) AS BIGINT) AS n_exact,
       CAST(SUM(in_lsh) AS BIGINT) AS n_lsh,
       CAST(SUM(in_exact * in_lsh) AS BIGINT) AS n_common,
       ROUND(CAST(SUM(in_exact * in_lsh) AS DOUBLE) / NULLIF(SUM(in_lsh), 0), 4)
           AS precision_,
       ROUND(CAST(SUM(in_exact * in_lsh) AS DOUBLE) / NULLIF(SUM(in_exact), 0), 4)
           AS recall_
FROM j
""",
    tags=("dedup-qa", "A12", "lsh"),
)
def q195_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic-dedup QA relation: LSH pair set vs the exact truth.
    Both sides are existing operators (minhash_near_duplicates,
    prefix_jaccard_join); membership flags meet in one full-outer join
    and a single-row rollup."""
    import pyspark.sql.functions as F

    docs = load_table(spark, sf_dir, "documents")
    lsh = dedup.minhash_near_duplicates(docs, threshold=0.8).select(
        "id_a", "id_b", F.lit(1).alias("in_lsh")
    )
    exact = dedup.prefix_jaccard_join(docs, threshold=0.8).select(
        "id_a", "id_b", F.lit(1).alias("in_exact")
    )
    j = exact.join(lsh, ["id_a", "id_b"], "full").select(
        F.coalesce("in_exact", F.lit(0)).alias("in_exact"),
        F.coalesce("in_lsh", F.lit(0)).alias("in_lsh"),
    )
    common = F.sum(F.col("in_exact") * F.col("in_lsh"))
    return j.agg(
        F.sum("in_exact").cast("long").alias("n_exact"),
        F.sum("in_lsh").cast("long").alias("n_lsh"),
        common.cast("long").alias("n_common"),
        F.round(
            common.cast("double") / F.nullif(F.sum("in_lsh"), F.lit(0)), 4
        ).alias("precision_"),
        F.round(
            common.cast("double") / F.nullif(F.sum("in_exact"), F.lit(0)), 4
        ).alias("recall_"),
    )


@register(
    "q207_incremental_lsh_probe",
    # Cross-batch near-dups via index probe (operators/dedup.lsh_probe):
    # delta docs (id >= 400) probed against the base corpus's band index.
    # The oracle restricts the full mirrored LSH pipeline to cross pairs —
    # identical because base ids < 400 <= delta ids makes every cross pair
    # (base, delta)-ordered, and the fixture's bucket guard never binds.
    oracle=f"""
WITH {_minhash_ctes()}
SELECT id_a, id_b, jaccard
FROM dups
WHERE id_a < 400 AND id_b >= 400
""",
    tags=("dedup-minhash", "incremental", "A4"),
)
def q207_incremental_lsh_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time dedup: new docs against the existing LSH index,
    work ∝ |delta| × bucket hits (delta-vs-delta handled by the normal
    self-join path at compaction)."""
    import pyspark.sql.functions as F

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") < 400)
    delta = docs.filter(F.col("doc_id") >= 400)
    return dedup.lsh_probe(base, delta, threshold=0.8)


# --------------------------------------------------------------------------
# q233 — directed containment near-dup: C(a→b) = |Sh(a) ∩ Sh(b)| / |Sh(a)|.
# Jaccard misses the quote/superset case (a short doc fully embedded in a
# long one scores low symmetric similarity but containment 1.0); corpus
# curation uses containment to drop the CONTAINED side. Exact
# shared-shingle baseline like q32 — candidate space is every pair sharing
# ≥1 shingle, the small-scale truth the LSH path (q27 candidates +
# containment verify instead of jaccard_verify_arrays) approximates at 100 TB.
# --------------------------------------------------------------------------
_CONTAIN_T = 0.7


@register(
    "q233_containment_pairs",
    oracle=f"""
WITH {{sh}},
pairs AS (
    SELECT a.doc_id AS src_id, b.doc_id AS dst_id, COUNT(*) AS n_inter
    FROM sh a JOIN sh b ON b.shingle = a.shingle AND b.doc_id <> a.doc_id
    GROUP BY src_id, dst_id
),
sizes AS (
    SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
)
SELECT src_id, dst_id,
       ROUND(CAST(n_inter AS DOUBLE) / s.n, 4) AS containment
FROM pairs p
JOIN sizes s ON s.doc_id = p.src_id
WHERE ROUND(CAST(n_inter AS DOUBLE) / s.n, 4) >= {_CONTAIN_T}
ORDER BY src_id, dst_id
""".format(sh=_SHINGLES_CTE.strip()),
    tags=("dedup-ngram", "J13", "U4"),
)
def q233_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle-containment pairs ≥ 0.7: (src_id, dst_id,
    containment) — src is the (near-)contained document. Distinct 3-gram
    shingles per doc (array-form, no corpus-wide distinct), shared-shingle
    candidate join, denominator = src's shingle count."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingles(docs)
    import pyspark.sql.functions as F

    pairs = (
        sh.select(F.col("doc_id").alias("src_id"), "shingle")
        .join(
            sh.select(F.col("doc_id").alias("dst_id"), "shingle"), ["shingle"]
        )
        .filter(F.col("src_id") != F.col("dst_id"))
        .groupBy("src_id", "dst_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    cont = F.round(F.col("n_inter") / F.col("n").cast("double"), 4)
    return (
        pairs.join(sizes, pairs["src_id"] == sizes["doc_id"])
        .select("src_id", "dst_id", cont.alias("containment"))
        .filter(F.col("containment") >= _CONTAIN_T)
        .orderBy("src_id", "dst_id")
    )


# --------------------------------------------------------------------------
# q261 — KMV-sketch source-overlap: the bounded-state twin of q203's exact
# shingle-Jaccard contamination matrix. Each source keeps only the k=64
# SMALLEST distinct 60-bit shingle hashes (a k-minimum-values sketch,
# Bar-Yossef et al. 2002); a pair's Jaccard estimate is
# |U_k ∩ A ∩ B| / |U_k| where U_k is the k smallest of the merged pair —
# the estimator cross-engine exact because every ingredient is an integer
# rank over md5 hashes. The exact Jaccard rides along so the relation IS
# the sketch-accuracy audit (df-style: est, exact, abs_err per pair).
# Parity: hashes, ranks, counts all integers; the two divisions happen on
# integers at the end, 4dp round.
# Scale: at 100 TB only the sketches are computed — per-source state is
# EXACTLY k rows regardless of corpus size, and the pair stage joins
# 20×64-row relations. The rank ≤ k filter compiles to Spark 4's
# WindowGroupLimit (partial, map-side) so the full shingle relation is
# never sorted per source; the exact columns here are the test-SF truth
# (q203's contract) and would be dropped at scale.
# --------------------------------------------------------------------------
_KMV_K = 64


@register(
    "q261_kmv_source_jaccard",
    oracle=f"""
WITH sdocs AS (
    SELECT doc_id, source, LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '') AS w
    FROM documents
),
stoks AS (
    SELECT doc_id, source, UNNEST(w) AS tok, GENERATE_SUBSCRIPTS(w, 1) AS i
    FROM sdocs
),
sh AS (
    SELECT DISTINCT a.source,
           CAST(('0x' || SUBSTR(MD5(a.tok || ' ' || b.tok || ' ' || c.tok), 1, 15))::UBIGINT
                AS BIGINT) AS h
    FROM stoks a
    JOIN stoks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
    JOIN stoks c ON c.doc_id = a.doc_id AND c.i = a.i + 2
),
sk AS (
    SELECT source, h
    FROM (SELECT source, h,
                 ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
          FROM sh)
    WHERE rn <= {_KMV_K}
),
srcs AS (SELECT DISTINCT source FROM sh),
prs AS (
    SELECT a.source AS source_a, b.source AS source_b
    FROM srcs a JOIN srcs b ON a.source < b.source
),
merged AS (
    SELECT p.source_a, p.source_b, s.h,
           MAX(CASE WHEN s.source = p.source_a THEN 1 ELSE 0 END) AS in_a,
           MAX(CASE WHEN s.source = p.source_b THEN 1 ELSE 0 END) AS in_b
    FROM prs p
    JOIN sk s ON s.source IN (p.source_a, p.source_b)
    GROUP BY p.source_a, p.source_b, s.h
),
topu AS (
    SELECT source_a, source_b, in_a, in_b,
           ROW_NUMBER() OVER (PARTITION BY source_a, source_b
                              ORDER BY h) AS rn
    FROM merged
),
est AS (
    SELECT source_a, source_b,
           CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_both,
           CAST(COUNT(*) AS BIGINT) AS denom
    FROM topu WHERE rn <= {_KMV_K}
    GROUP BY source_a, source_b
),
sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY source),
inter AS (
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS ov
    FROM sh a JOIN sh b ON b.h = a.h AND a.source < b.source
    GROUP BY 1, 2
)
SELECT e.source_a, e.source_b,
       ROUND(CAST(e.n_both AS DOUBLE) / e.denom, 4) AS est_jaccard,
       ROUND(CAST(COALESCE(i.ov, 0) AS DOUBLE)
             / (sa.sz + sb.sz - COALESCE(i.ov, 0)), 4) AS exact_jaccard,
       ROUND(ABS(CAST(e.n_both AS DOUBLE) / e.denom
                 - CAST(COALESCE(i.ov, 0) AS DOUBLE)
                   / (sa.sz + sb.sz - COALESCE(i.ov, 0))), 4) AS abs_err
FROM est e
LEFT JOIN inter i ON i.source_a = e.source_a AND i.source_b = e.source_b
JOIN sizes sa ON sa.source = e.source_a
JOIN sizes sb ON sb.source = e.source_b
ORDER BY e.source_a, e.source_b
""",
    tags=("sketch", "dedup-setsim", "A6"),
)
def q261_kmv_source_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV-sketch Jaccard between every source pair, with the exact value
    as audit: (source_a, source_b, est_jaccard, exact_jaccard, abs_err).
    Per-source state is exactly k=64 hash rows — the bounded-memory path
    q203 flips to at corpus scale."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = text_analysis.tokens_raw("text")
    sh = (
        docs.select("source", w.alias("w"))
        .filter(F.size("w") >= 3)
        .select(
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("w") - 3),
                    lambda i: F.concat_ws(" ", F.slice(F.col("w"), i + 1, 3)),
                )
            ).alias("shingle"),
        )
        .select(
            "source",
            F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10)
            .cast("long")
            .alias("h"),
        )
        .distinct()
    )
    from ..caching import persist_tracked

    sh = persist_tracked(sh)
    wsk = Window.partitionBy("source").orderBy("h")
    sk = (
        sh.withColumn("rn", F.row_number().over(wsk))
        .filter(F.col("rn") <= _KMV_K)
        .select("source", "h")
    )
    srcs = sh.select("source").distinct()
    prs = (
        srcs.select(F.col("source").alias("source_a"))
        .join(
            srcs.select(F.col("source").alias("source_b")),
            F.col("source_a") < F.col("source_b"),
        )
    )
    merged = (
        prs.join(
            F.broadcast(sk),
            (F.col("source") == F.col("source_a"))
            | (F.col("source") == F.col("source_b")),
        )
        .groupBy("source_a", "source_b", "h")
        .agg(
            F.max((F.col("source") == F.col("source_a")).cast("int")).alias(
                "in_a"
            ),
            F.max((F.col("source") == F.col("source_b")).cast("int")).alias(
                "in_b"
            ),
        )
    )
    wtu = Window.partitionBy("source_a", "source_b").orderBy("h")
    est = (
        merged.withColumn("rn", F.row_number().over(wtu))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("source_a", "source_b")
        .agg(
            F.sum(
                ((F.col("in_a") == 1) & (F.col("in_b") == 1)).cast("long")
            ).alias("n_both"),
            F.count(F.lit(1)).alias("denom"),
        )
    )
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        sh.select(F.col("source").alias("source_a"), "h")
        .join(
            sh.select(F.col("source").alias("source_b"), "h"),
            "h",
        )
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("ov"))
    )
    ej = F.col("n_both").cast("double") / F.col("denom")
    xj = F.coalesce(F.col("ov"), F.lit(0)).cast("double") / (
        F.col("sza") + F.col("szb") - F.coalesce(F.col("ov"), F.lit(0))
    )
    return (
        est.join(inter, ["source_a", "source_b"], "left")
        .join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_a"), F.col("sz").alias("sza")
                )
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_b"), F.col("sz").alias("szb")
                )
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            F.round(ej, 4).alias("est_jaccard"),
            F.round(xj, 4).alias("exact_jaccard"),
            F.round(F.abs(ej - xj), 4).alias("abs_err"),
        )
        .orderBy("source_a", "source_b")
    )


# --------------------------------------------------------------------------
# q290 - duplicate-cluster purity audit: for every q63 near-dup cluster
# (size >= 2), how concentrated are its members' sources? (size,
# n_sources, top source share, source entropy). High-entropy clusters
# mean the same text circulates across sources - the signal that drives
# cross-source decontamination policy rather than per-source dedup.
# Parity: cluster labels are q63's exact connected components (its
# recursive-CTE oracle chain is embedded); per-cluster entropy terms are
# frozen round(10^6 * c_i * ln(S/c_i)) integers BEFORE the cross-source
# sum (a float sum over sources would be order-sensitive), one /(10^6*S)
# at the end; top_share is one division. 4dp.
# Scale: q63's budget (bucketed LSH pairs -> pointer-doubling CC) plus
# one broadcast join to doc sources and two keyed aggregates over the
# cluster relation.
# --------------------------------------------------------------------------
@register(
    "q290_cluster_purity",
    oracle=f"""
WITH RECURSIVE {_minhash_ctes()},
{_CLUSTER_CTES},
members AS (
    SELECT l.cluster_id, d.source
    FROM lab l JOIN documents d ON d.doc_id = l.doc_id
),
bysrc AS (
    SELECT cluster_id, source, CAST(COUNT(*) AS BIGINT) AS c
    FROM members GROUP BY cluster_id, source
),
size_ AS (
    SELECT cluster_id, CAST(SUM(c) AS BIGINT) AS s FROM bysrc
    GROUP BY cluster_id HAVING SUM(c) >= 2
),
terms AS (
    SELECT b.cluster_id,
           CAST(ROUND(1000000.0 * b.c
                      * LN(CAST(z.s AS DOUBLE) / b.c)) AS BIGINT) AS t,
           b.c
    FROM bysrc b JOIN size_ z ON z.cluster_id = b.cluster_id
)
SELECT t.cluster_id,
       z.s AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_sources,
       ROUND(CAST(MAX(t.c) AS DOUBLE) / z.s, 4) AS top_share,
       ROUND(CAST(SUM(t.t) AS DOUBLE) / (1000000.0 * z.s), 4)
           AS entropy_nats
FROM terms t JOIN size_ z ON z.cluster_id = t.cluster_id
GROUP BY t.cluster_id, z.s
ORDER BY t.cluster_id
""",
    tags=("dedup-clusters", "A6", "U4"),
)
def q290_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source purity/entropy of each q63 near-dup cluster (size >= 2):
    (cluster_id, cluster_size, n_sources, top_share, entropy_nats)."""
    import pyspark.sql.functions as F

    from ..operators import graph

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_duplicates(docs, threshold=0.8).select(
        "id_a", "id_b"
    )
    clusters = graph.duplicate_clusters(pairs).select("doc_id", "cluster_id")
    members = clusters.join(docs.select("doc_id", "source"), "doc_id")
    bysrc = members.groupBy("cluster_id", "source").agg(
        F.count(F.lit(1)).alias("c")
    )
    size_ = (
        bysrc.groupBy("cluster_id")
        .agg(F.sum("c").alias("s"))
        .filter(F.col("s") >= 2)
    )
    terms = bysrc.join(size_, "cluster_id").select(
        "cluster_id",
        "c",
        "s",
        F.round(
            1000000.0
            * F.col("c")
            * F.log(F.col("s").cast("double") / F.col("c"))
        )
        .cast("long")
        .alias("t"),
    )
    return (
        terms.groupBy("cluster_id", "s")
        .agg(
            F.count(F.lit(1)).alias("n_sources"),
            F.round(F.max("c").cast("double") / F.col("s"), 4).alias(
                "top_share"
            ),
            F.round(
                F.sum("t").cast("double") / (1000000.0 * F.col("s")), 4
            ).alias("entropy_nats"),
        )
        .select(
            "cluster_id",
            F.col("s").cast("long").alias("cluster_size"),
            F.col("n_sources").cast("long").alias("n_sources"),
            "top_share",
            "entropy_nats",
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# q365 — weighted-Jaccard source similarity: J_w(A, B) =
# Σ_t min(c_A(t), c_B(t)) / Σ_t max(c_A(t), c_B(t)) over per-source token
# COUNT vectors — the multiset refinement of q203's set-shingle overlap
# (two sources sharing vocabulary but at wildly different frequencies
# score low here and high there) and the exact ground truth q261's KMV
# sketch approximates on sets.
# Parity: counts are exact integers; Σmax is derived exactly as
# tot_A + tot_B − Σmin so only the INNER token join is materialized;
# the ratio is one double, 4dp.
# Scale: one (source, token) keyed aggregate; the cross-source Σmin is a
# token-keyed self-join (uniform token keys) reduced to source pairs —
# pair space bounded by the source dim squared, never by the corpus.
# ---------------------------------------------------------------------------
@register(
    "q365_weighted_jaccard_sources",
    oracle="""
WITH toks AS (
    SELECT source,
           UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS tok
    FROM documents
),
cnt AS (
    SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
    FROM toks GROUP BY source, tok
),
tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS tot FROM cnt GROUP BY source),
mins AS (
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS smin
    FROM cnt a JOIN cnt b ON b.tok = a.tok AND a.source < b.source
    GROUP BY a.source, b.source
)
SELECT m.source_a, m.source_b, m.smin,
       ta.tot + tb.tot - m.smin AS smax,
       ROUND(CAST(m.smin AS DOUBLE) / (ta.tot + tb.tot - m.smin), 4)
           AS weighted_jaccard
FROM mins m
JOIN tot ta ON ta.source = m.source_a
JOIN tot tb ON tb.source = m.source_b
ORDER BY source_a, source_b
""",
    tags=("dedup-setsim", "text-analysis", "A5"),
)
def q365_weighted_jaccard_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted (multiset) Jaccard between every source pair:
    (source_a, source_b, smin, smax, weighted_jaccard)."""
    import pyspark.sql.functions as F


    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(text_analysis.tokens_raw(F.col("text"))).alias("tok"),
    )
    cnt = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("source").agg(F.sum("c").alias("tot"))
    a = cnt.select(
        F.col("source").alias("source_a"),
        "tok",
        F.col("c").alias("ca"),
    )
    b = cnt.select(
        F.col("source").alias("source_b"),
        "tok",
        F.col("c").alias("cb"),
    )
    mins = (
        a.join(b, ["tok"])
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.sum(F.least("ca", "cb")).alias("smin"))
    )
    ta = tot.select(
        F.col("source").alias("source_a"), F.col("tot").alias("tot_a")
    )
    tb = tot.select(
        F.col("source").alias("source_b"), F.col("tot").alias("tot_b")
    )
    smax = F.col("tot_a") + F.col("tot_b") - F.col("smin")
    return (
        mins.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("smin").cast("long").alias("smin"),
            smax.cast("long").alias("smax"),
            F.round(F.col("smin").cast("double") / smax, 4).alias(
                "weighted_jaccard"
            ),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# q383 — double-sweep diameter estimate of the co-purchase part graph:
# BFS from the minimum part id, hop to the farthest node found (u, ties
# by min id), BFS again from u — the second sweep's eccentricity is the
# classic diameter LOWER BOUND (Magnien et al.: double sweep is exact on
# trees and near-exact on real graphs, at 2 BFS instead of n). Both
# sweeps bounded at 8 hops. Completes the graph family (q194 gives one
# source's distances; this reads the graph's breadth).
# Parity: both sweeps are bounded-depth min-dist walks; the pivot pick
# is (max dist, min node) — deterministic; counts exact. The oracle
# chains two recursive CTEs, the second seeded by the first's argmax.
# Scale: two level-synchronous frontier BFS runs (operators/graph) over
# the order-bounded co-purchase edges; the pivot is a 1-row argmax
# (bounded driver action, the q186 pattern).
# ---------------------------------------------------------------------------
@register(
    "q383_double_sweep_diameter",
    oracle="""
WITH RECURSIVE items AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
cp AS (
    SELECT a.l_partkey AS pa, b.l_partkey AS pb
    FROM items a JOIN items b ON b.l_orderkey = a.l_orderkey
                             AND a.l_partkey < b.l_partkey
    GROUP BY pa, pb
),
edges AS (
    SELECT pa AS s, pb AS d FROM cp
    UNION
    SELECT pb AS s, pa AS d FROM cp
),
seed1 AS (SELECT MIN(s) AS v FROM edges),
walk1(node, dist) AS (
    SELECT v, 0 FROM seed1
    UNION
    SELECT e.d, w.dist + 1
    FROM walk1 w JOIN edges e ON e.s = w.node
    WHERE w.dist < 8
),
d1 AS (SELECT node, CAST(MIN(dist) AS BIGINT) AS dist
       FROM walk1 GROUP BY node),
pivot_n AS (
    SELECT node FROM d1 ORDER BY dist DESC, node ASC LIMIT 1
),
walk2(node, dist) AS (
    SELECT node, 0 FROM pivot_n
    UNION
    SELECT e.d, w.dist + 1
    FROM walk2 w JOIN edges e ON e.s = w.node
    WHERE w.dist < 8
),
d2 AS (SELECT node, CAST(MIN(dist) AS BIGINT) AS dist
       FROM walk2 GROUP BY node)
SELECT (SELECT v FROM seed1) AS seed,
       (SELECT node FROM pivot_n) AS pivot_node,
       (SELECT MAX(dist) FROM d1) AS ecc_seed,
       (SELECT MAX(dist) FROM d2) AS diameter_lb,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM d2) AS n_reached
""",
    tags=("graph", "iterative", "A12"),
)
def q383_double_sweep_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-sweep diameter lower bound of the co-purchase graph:
    (seed, pivot_node, ecc_seed, diameter_lb, n_reached)."""
    import pyspark.sql.functions as F

    from ..operators import graph

    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("pb"))
    cp = (
        a.join(b, "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .select("pa", "pb")
        .distinct()
    )
    from ..caching import persist_tracked

    cp = persist_tracked(cp)
    seed = cp.agg(
        F.least(F.min("pa"), F.min("pb")).alias("node")
    )
    d1 = graph.bfs_distances(
        cp, seed.select("node"), max_hops=8, src_col="pa", dst_col="pb"
    )
    # 1-row bounded driver action (the q186 argmax pattern): the pivot
    # for sweep 2 is the farthest node of sweep 1.
    pivot_row = (
        d1.orderBy(F.desc("dist"), F.asc("node")).limit(1).collect()[0]
    )
    pivot_node = int(pivot_row["node"])
    ecc_seed = int(pivot_row["dist"])
    d2 = graph.bfs_distances(
        cp,
        spark.createDataFrame([(pivot_node,)], "node long").coalesce(1),
        max_hops=8,
        src_col="pa",
        dst_col="pb",
    )
    seed_v = seed.collect()[0]["node"]
    return d2.agg(
        F.lit(int(seed_v)).cast("long").alias("seed"),
        F.lit(pivot_node).cast("long").alias("pivot_node"),
        F.lit(ecc_seed).cast("long").alias("ecc_seed"),
        F.max("dist").cast("long").alias("diameter_lb"),
        F.count(F.lit(1)).cast("long").alias("n_reached"),
    )


# ---------------------------------------------------------------------------
# q496 — canonical document selection over near-dup clusters: the KEEP
# RULE production curation stacks actually apply after clustering —
# instead of q63/q217's keep-lowest-id, keep the member with the richest
# content (max distinct-token count, tie-break min doc_id) from every
# SimHash hamming<=3 cluster. The survivorship step (q181) applied to
# text dedup: cluster → argmax → one golden doc per near-dup family.
# Parity: q56's deterministic SimHash pairs, the shared recursive-
# reachability cluster CTE (q63's fixpoint algebra), exact integer
# distinct-token counts, max_by with an explicit packed tie-break. Only
# clusters with >= 2 members are emitted (singletons need no decision).
# Scale: banded-bucket candidate pairs (never O(n^2)), O(E)-per-round
# components, then ONE cluster-keyed argmax aggregate; the distinct-token
# relation is the (doc, tok) aggregate already shuffled for signatures.
# ---------------------------------------------------------------------------
@register(
    "q496_canonical_doc_selection",
    oracle=f"""
WITH RECURSIVE {_SIMHASH_SIGS_CTE},
dups AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE BIT_COUNT(XOR(a.simhash, b.simhash)) <= 3
),
{_CLUSTER_CTES},
rich AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nd FROM toks2 GROUP BY doc_id
),
members AS (
    SELECT l.cluster_id, l.doc_id, r.nd
    FROM lab l JOIN rich r ON r.doc_id = l.doc_id
),
ranked AS (
    SELECT cluster_id, doc_id, nd,
           ROW_NUMBER() OVER (
               PARTITION BY cluster_id ORDER BY nd DESC, doc_id ASC
           ) AS rn
    FROM members
)
SELECT m.cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       MAX(CASE WHEN r.rn = 1 THEN r.doc_id END) AS kept_doc_id,
       MAX(CASE WHEN r.rn = 1 THEN r.nd END) AS kept_distinct_toks
FROM members m
JOIN ranked r ON r.cluster_id = m.cluster_id AND r.doc_id = m.doc_id
GROUP BY m.cluster_id
ORDER BY m.cluster_id
""",
    tags=("dedup-clusters", "A4", "U4", "training-prep", "W3"),
)
def q496_canonical_doc_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden doc per SimHash near-dup cluster — keep the member with
    the most distinct tokens (tie: min doc_id): (cluster_id, n_members,
    kept_doc_id, kept_distinct_toks)."""
    from ..operators import graph

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.simhash_near_duplicates(docs, max_hamming=3).select(
        "id_a", "id_b"
    )
    clusters = graph.duplicate_clusters(pairs)  # (doc_id, cluster_id, size)
    toks = docs.select(
        "doc_id",
        F.explode(text_analysis.tokens_raw(F.col("text"))).alias("tok"),
    )
    rich = toks.groupBy("doc_id").agg(
        F.countDistinct("tok").alias("nd")
    )
    members = clusters.select("cluster_id", "doc_id").join(rich, "doc_id")
    return (
        members.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.expr("max_by(doc_id, struct(nd, -doc_id))").alias(
                "kept_doc_id"
            ),
            F.max("nd").alias("kept_distinct_toks"),
        )
        .orderBy("cluster_id")
    )


_T12 = 20**12  # common denominator of the exact S-curve grid (< 2^53)


@register(
    "q503_lsh_band_planner",
    # The design-time companion to q27/q195/q207: for every (band_size r,
    # n_bands b) factorisation of the 12-perm MinHash budget, the banded-LSH
    # collision S-curve p(s) = 1 - (1 - s^r)^b on the s = k/20 grid — in
    # EXACT integer arithmetic. With s = k/20 and r*b = 12, the curve is
    # p = 1 - (20^r - k^r)^b / 20^12: every power stays a BIGINT < 2^53
    # (so the one double division is correctly rounded identically on both
    # engines — no libm pow anywhere). Emits the operating point of the
    # shipped 4x3 design (p at s=0.8) and the curve's s10/s50/s90 landmarks
    # per config. s90 is NULL where the curve never reaches 0.9 on the grid
    # (the 12x1 AND-only config) — both engines agree on the NULL.
    oracle=f"""
WITH conf AS (
    SELECT * FROM (VALUES (1, 12), (2, 6), (3, 4), (4, 3), (6, 2), (12, 1))
        AS c(r, b)
),
grid AS (SELECT r, b, k FROM conf CROSS JOIN range(1, 20) t(k)),
pw AS (
    SELECT r, b, k,
           list_reduce(list_transform(range(1, r + 1), x -> CAST(k AS BIGINT)),
                       (a, y) -> a * y) AS kr,
           list_reduce(list_transform(range(1, r + 1), x -> CAST(20 AS BIGINT)),
                       (a, y) -> a * y) AS tr
    FROM grid
),
curve AS (
    SELECT r, b, k,
           {_T12} - list_reduce(list_transform(range(1, b + 1), x -> tr - kr),
                                (a, y) -> a * y) AS p_num
    FROM pw
)
SELECT CAST(r AS BIGINT) AS band_size,
       CAST(b AS BIGINT) AS n_bands,
       ROUND(MAX(CASE WHEN k = 16 THEN p_num END) / {_T12}.0, 4) AS p_at_080,
       MIN(CASE WHEN 10 * p_num >= {_T12} THEN k END) / 20.0 AS s10,
       MIN(CASE WHEN 2 * p_num >= {_T12} THEN k END) / 20.0 AS s50,
       MIN(CASE WHEN 10 * p_num >= 9 * {_T12} THEN k END) / 20.0 AS s90
FROM curve
GROUP BY r, b
ORDER BY band_size
""",
    tags=("dedup-qa", "lsh", "planner"),
)
def q503_lsh_band_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH design table for the 12-perm MinHash budget: per (r, b)
    with r*b = 12, the exact-integer collision S-curve's operating point at
    the shipped 0.8 threshold and its s10/s50/s90 landmarks:
    (band_size, n_bands, p_at_080, s10, s50, s90)."""
    conf = spark.createDataFrame(
        [(r, 12 // r) for r in (1, 2, 3, 4, 6, 12)], "r int, b int"
    )
    grid = conf.select(
        "r", "b", F.explode(F.sequence(F.lit(1), F.lit(19))).alias("k")
    )

    def int_pow(base, times):
        # exact BIGINT power: fold `times` multiplications (never libm pow)
        return F.aggregate(
            F.sequence(F.lit(1), times),
            F.lit(1).cast("long"),
            lambda acc, _: acc * base,
        )

    curve = grid.select(
        "r",
        "b",
        "k",
        (
            F.lit(_T12)
            - int_pow(
                int_pow(F.lit(20).cast("long"), F.col("r"))
                - int_pow(F.col("k").cast("long"), F.col("r")),
                F.col("b"),
            )
        ).alias("p_num"),
    )
    t = F.lit(_T12)
    return (
        curve.groupBy("r", "b")
        .agg(
            F.round(
                F.max(F.when(F.col("k") == 16, F.col("p_num"))) / t.cast("double"),
                4,
            ).alias("p_at_080"),
            (F.min(F.when(10 * F.col("p_num") >= t, F.col("k"))) / 20.0).alias("s10"),
            (F.min(F.when(2 * F.col("p_num") >= t, F.col("k"))) / 20.0).alias("s50"),
            (
                F.min(F.when(10 * F.col("p_num") >= 9 * t, F.col("k"))) / 20.0
            ).alias("s90"),
        )
        .select(
            F.col("r").cast("long").alias("band_size"),
            F.col("b").cast("long").alias("n_bands"),
            "p_at_080",
            "s10",
            "s50",
            "s90",
        )
        .orderBy("band_size")
    )
