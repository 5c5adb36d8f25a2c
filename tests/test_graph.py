"""connected_components / duplicate_clusters and the other graph operators
(operators/graph.py), and the job cost of their `caching.iterate` rounds.

Shapes a near-dup pair graph actually produces: cliques (LSH bucket),
chains (A~B~C where A!~C — the transitive-closure case exact grouping
misses), parallel/reversed edges, plus randomized graphs checked against a
pure-Python union-find.
"""

from __future__ import annotations

import random

import pyspark.sql.functions as F

import pytest

from synth_transform_spark.operators.graph import (
    connected_components,
    duplicate_clusters,
)


def _components(spark, edges: list[tuple[int, int]]) -> dict[int, int]:
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    return {r["node"]: r["component"] for r in connected_components(df).collect()}


def _union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_chain_closes_transitively(spark):
    # A~B, B~C, C~D: exact-key grouping sees three pairs; the closure is one
    # cluster labelled by the min id.
    assert _components(spark, [(1, 2), (2, 3), (3, 4)]) == {1: 1, 2: 1, 3: 1, 4: 1}


def test_disjoint_components_and_direction(spark):
    # Edge direction must not matter: (9, 8) labels by min id 8.
    got = _components(spark, [(1, 2), (9, 8), (5, 6), (6, 5)])
    assert got == {1: 1, 2: 1, 8: 8, 9: 8, 5: 5, 6: 5}


def test_parallel_edges_do_not_multiply(spark):
    df = spark.createDataFrame([(1, 2), (1, 2), (2, 1)], ["id_a", "id_b"])
    rows = connected_components(df).collect()
    assert len(rows) == 2  # one row per node, despite duplicate edges


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_matches_union_find_on_random_graphs(spark, seed):
    rng = random.Random(seed)
    n = 60
    edges = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(40)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    assert _components(spark, edges) == _union_find(edges)


def test_duplicate_clusters_shape(spark):
    # Two clusters: {1,2,3} (chain) and {7,9}; sizes attached per row.
    df = spark.createDataFrame([(1, 2), (2, 3), (7, 9)], ["id_a", "id_b"])
    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        for r in duplicate_clusters(df).collect()
    }
    assert got == {1: (1, 3), 2: (1, 3), 3: (1, 3), 7: (7, 2), 9: (7, 2)}


def test_pagerank_known_graph(spark):
    # Star graph: 1→2, 3→2, 2→1 (directed). Hand-computed 2 iterations,
    # d=0.5, N=3: r0 = 1/3 each.
    # it1: in(1)={2}: 1/6+1/2*(1/3)=1/3; in(2)={1,3}: 1/6+1/2*(1/3+1/3)=1/2;
    #      in(3)={}: 1/6.
    # it2: r(1)=1/6+1/2*1/2=5/12; r(2)=1/6+1/2*(1/3+1/6)=5/12; r(3)=1/6.
    from synth_transform_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(1, 2), (3, 2), (2, 1)], ["s", "d"])
    got = {
        r.node: round(r.rank, 6)
        for r in pagerank(edges, "s", "d", n_iter=2, damping=0.5).collect()
    }
    assert got == {1: round(5 / 12, 6), 2: round(5 / 12, 6), 3: round(1 / 6, 6)}


def test_pagerank_mass_is_conserved_without_dangling_nodes(spark):
    from synth_transform_spark.operators.graph import pagerank

    # symmetric edges => no dangling nodes => ranks sum to 1
    pairs = [(i, (i + 1) % 10) for i in range(10)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], ["s", "d"]
    )
    total = (
        pagerank(edges, "s", "d", n_iter=4)
        .agg(F.sum("rank").alias("t"))
        .first()
        .t
    )
    assert abs(total - 1.0) < 1e-9


def test_kcore_converged_at_shipped_rounds(spark):
    """q135 ships n_rounds=4; peeling must have reached fixpoint on the
    shipped corpus (round 5 changes nothing) — otherwise the fixed-round
    result would be an artifact of the cutoff, not the 2-core."""
    import pyspark.sql.functions as F

    from conftest import SF_DIR
    from synth_transform_spark.operators import dedup, graph
    from synth_transform_spark.sources.readers import load_table

    docs = load_table(spark, SF_DIR, "documents")
    pairs = dedup.minhash_near_duplicates(docs, threshold=0.8).select("id_a", "id_b")
    sym = pairs.select(F.col("id_a").alias("s"), F.col("id_b").alias("d")).union(
        pairs.select(F.col("id_b").alias("s"), F.col("id_a").alias("d"))
    )
    r4 = sorted(map(tuple, graph.kcore(sym, k=2, n_rounds=4).collect()))
    r5 = sorted(map(tuple, graph.kcore(sym, k=2, n_rounds=5).collect()))
    assert r4 == r5
    # every surviving node genuinely has core degree >= 2
    assert all(deg >= 2 for _, deg in r4)


def test_bfs_distances_min_hops_and_cap(spark):
    """Path graph 1-2-3-4-5-6 plus a shortcut 1-4: BFS from {1} must take
    the shortcut (dist(4)=1, dist(5)=2) and respect the hop cap."""
    from synth_transform_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (1, 4)], "id_a long, id_b long"
    )
    src = spark.createDataFrame([(1,)], "node long")
    got = {r.node: r.dist for r in bfs_distances(edges, src, max_hops=2).collect()}
    assert got == {1: 0, 2: 1, 4: 1, 3: 2, 5: 2}
    # unlimited-enough cap reaches 6
    got4 = {r.node: r.dist for r in bfs_distances(edges, src, max_hops=4).collect()}
    assert got4[6] == 3


def test_bfs_multi_source_takes_nearest(spark):
    from synth_transform_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "id_a long, id_b long")
    src = spark.createDataFrame([(1,), (4,)], "node long")
    got = {r.node: r.dist for r in bfs_distances(edges, src, max_hops=3).collect()}
    assert got == {1: 0, 4: 0, 2: 1, 3: 1}


# --------------------------------------------------------------------------
# label_propagation (q238)
# --------------------------------------------------------------------------


def _lpa(spark, edges, rounds=3):
    """edges: undirected (a, b, w) — symmetrised here like q238 does."""
    df = spark.createDataFrame(edges, ["a", "b", "w"])
    sym = df.selectExpr("a AS s", "b AS d", "w").unionByName(
        df.selectExpr("b AS s", "a AS d", "w")
    )
    from synth_transform_spark.operators.graph import label_propagation

    out = label_propagation(sym, n_rounds=rounds)
    return {r["node"]: r["community"] for r in out.collect()}


def test_lpa_two_cliques_weak_bridge(spark):
    # Two triangles joined by one weight-1 bridge: each triangle's heavy
    # internal weight wins, communities = min label of each triangle.
    edges = [
        (1, 2, 5), (2, 3, 5), (1, 3, 5),
        (4, 5, 5), (5, 6, 5), (4, 6, 5),
        (3, 4, 1),
    ]
    lab = _lpa(spark, edges)
    assert lab[1] == lab[2] == lab[3]
    assert lab[4] == lab[5] == lab[6]
    assert lab[1] != lab[4]


def test_lpa_deterministic_tiebreak(spark):
    # Node 2 sees labels {1, 3} with equal weight after round 1's relabel:
    # the (wsum desc, lbl asc) argmax must always choose the smaller label,
    # so repeated runs agree exactly.
    edges = [(1, 2, 1), (2, 3, 1)]
    a = _lpa(spark, edges, rounds=2)
    b = _lpa(spark, edges, rounds=2)
    assert a == b


def test_lpa_round_zero_is_identity_labels(spark):
    # 0 rounds: every node keeps its own id.
    edges = [(7, 9, 2)]
    lab = _lpa(spark, edges, rounds=0)
    assert lab == {7: 7, 9: 9}


def test_bfs_two_hop_round_internals(spark):
    """Round-12 two-hops-per-round internals: odd caps take a one-hop tail
    round; a neighbourless source stops at the first empty level; cycles
    reach both directions without revisits (min dist wins)."""
    from synth_transform_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a long, id_b long"
    )
    src = spark.createDataFrame([(1,)], "node long")
    # odd cap: round 1 covers hops 1-2, the tail round computes only n1
    got3 = {r.node: r.dist for r in bfs_distances(edges, src, max_hops=3).collect()}
    assert got3 == {1: 0, 2: 1, 3: 2, 4: 3}
    # cap 1: the very first round is already the one-hop tail round
    got1 = {r.node: r.dist for r in bfs_distances(edges, src, max_hops=1).collect()}
    assert got1 == {1: 0, 2: 1}
    # isolated source: n1 empty in round 1 -> only the source at dist 0
    iso = spark.createDataFrame([(7,)], "node long")
    goti = {r.node: r.dist for r in bfs_distances(edges, iso, max_hops=4).collect()}
    assert goti == {7: 0}
    # cycle: dist via both directions; n2 must exclude n1's nodes (the
    # visited-union-n1 anti-join) or 3 would surface twice
    cyc = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "id_a long, id_b long"
    )
    gotc = {r.node: r.dist for r in bfs_distances(cyc, src, max_hops=8).collect()}
    assert gotc == {1: 0, 2: 1, 4: 1, 3: 2}


def _jobs(spark, build) -> int:
    """Spark jobs run by building ``build()`` and writing it to the noop
    sink, counted by the DAG scheduler's next job id (no UI retention
    limit can truncate it)."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = dag.nextJobId()
    build().write.format("noop").mode("overwrite").save()
    return dag.nextJobId() - j0


def test_fixed_round_loop_jobs_per_round(spark):
    # One more pagerank round is one more eager checkpoint of a round's
    # adaptive plan: a job per shuffle/broadcast stage plus one, 7 here.
    from synth_transform_spark.operators.graph import pagerank

    rng = random.Random(7)
    edges = spark.createDataFrame(
        [(rng.randrange(300), rng.randrange(300)) for _ in range(2000)], "s long, d long"
    )
    two, three = (_jobs(spark, lambda: pagerank(edges, n_iter=n)) for n in (2, 3))
    assert three - two == 7


def test_converging_loop_jobs_per_round(spark):
    # A chain one node longer needs one more min-label round; its lazy
    # checkpoint is materialised by the convergence count: 7 jobs a round.
    def chain(n):
        return spark.createDataFrame(
            [(i, i + 1) for i in range(1, n)], "id_a long, id_b long"
        )

    four, five = (_jobs(spark, lambda: connected_components(chain(n))) for n in (4, 5))
    assert five - four == 7


def test_round_cap_without_convergence_raises(spark):
    edges = spark.createDataFrame([(i, i + 1) for i in range(1, 10)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
        connected_components(edges, max_iter=2)
