"""Graph operators: connected components over candidate-pair edges.

The dedup operators (operators/dedup.py, operators/similarity.py) emit
near-duplicate PAIRS; an actual dedup decision needs CLUSTERS — the
transitive closure of the pair relation — so one canonical document can be
kept per component (the reference's duplicate analysis groups by shared key
for exactly this purpose: SURVEY.md §2.4 A4/U4,
/root/reference/notebooks/duplicates.ipynb cells 11-14 — its exact-key
grouping IS a 1-hop component; MinHash/SimHash edges need the general
closure).

Algorithm: iterative min-label propagation, pure DataFrame ops.

    label(v) ← min(label(v), min over neighbours' labels)

repeated to fixpoint. Each round is one equi-join on the edge list plus a
groupBy — a single shuffle over E — and the number of rounds equals the
largest component's diameter. For near-dup graphs that diameter is tiny
(duplicate clusters are cliques or short chains from banded LSH), so 2-4
rounds close real corpora. For general graphs with long paths the
large-star/small-star variant (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14) converges in O(log n) rounds with the same
per-round plan shape; min-propagation is the right default for dedup.

Determinism: labels are min node ids — no randomness, no seed; the DuckDB
oracle mirrors the fixpoint with a recursive reachability CTE.

Scale notes (100 TB): state per round is one (node, label) relation — O(V)
rows, 2 narrow columns; the join shuffles E on dst. Skew = high-degree
nodes; boilerplate-heavy corpora produce large near-clique clusters whose
groupBy(min) handles fan-in via partial aggregation (map-side combine), so
a million-doc duplicate cluster costs one hot reducer key for a LONG, not
a row explosion.

Every loop here except ``bfs_distances`` runs through
``caching.iterate``, which owns the per-round checkpoint policy and argues
why it is safe. These operators EXECUTE Spark jobs while their DataFrame
is built; they are iterative algorithms, not lazy plans.
"""

from __future__ import annotations

from itertools import cycle

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from ..caching import iterate


def _symmetrised(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Both directions of every edge as (s, d), distinct so parallel edges
    don't multiply join output; checkpointed, since every round re-reads
    it."""
    a = edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
    b = edges.select(F.col(dst_col).alias("s"), F.col(src_col).alias("d"))
    return a.union(b).distinct().localCheckpoint(eager=True)


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Components of the undirected graph ``edges``: (node, component).

    ``component`` is the minimum node id in the component — deterministic
    and engine-portable. Only nodes that appear in at least one edge are
    returned (isolated docs are their own singleton clusters by definition;
    callers that want them can union the node universe in). Each round's
    convergence test counts the labels that dropped; a graph that has not
    converged in ``max_iter`` rounds raises ``RuntimeError``.
    """
    sym = _symmetrised(edges, src_col, dst_col)

    def step(labels: DataFrame) -> DataFrame:
        labels = labels.select("node", "component")
        nbr = (
            sym.join(labels, sym["d"] == labels["node"])
            .groupBy("s")
            .agg(F.min("component").alias("nbr_min"))
        )
        return labels.join(nbr, labels["node"] == nbr["s"], "left").select(
            "node",
            F.col("component").alias("old_component"),
            F.least("component", F.coalesce("nbr_min", "component")).alias("component"),
        )

    labels = sym.select(F.col("s").alias("node")).distinct().select(
        "node", F.col("node").alias("component")
    )
    return iterate(
        labels,
        step,
        max_iter,
        until=lambda upd: upd.filter(F.col("component") < F.col("old_component")).count() == 0,
    ).select("node", "component")


def duplicate_clusters(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Near-dup clusters from a pair relation: (doc_id, cluster_id, cluster_size).

    ``cluster_id`` = min doc id in the component (the canonical survivor a
    dedup pass would keep); every returned doc belongs to a cluster of
    size ≥ 2 by construction (singletons never emit a pair). The size
    window partitions on cluster_id — bounded by the largest duplicate
    cluster, with partial aggregation absorbing the fan-in.
    """
    cc = connected_components(pairs, src_col, dst_col)
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
    ).withColumn(
        "cluster_size",
        F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
    )


def _rank_graph(
    e: DataFrame, out_weight: Column, coef: Column
) -> tuple[DataFrame, DataFrame]:
    """The PageRank family's set-up over an (s, d, ...) edge list: the node
    set (node) and the edges as (s, d, coef), where ``coef`` may read the
    source's out-weight ``out_weight`` as column ``out``. All three are
    checkpointed: every round re-reads them."""
    e = e.localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("s").alias("node"))
        .union(e.select(F.col("d").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    weighted = (
        e.join(e.groupBy("s").agg(out_weight.alias("out")), "s")
        .select("s", "d", coef.alias("coef"))
        .localCheckpoint(eager=True)
    )
    return nodes, weighted


def _propagate(
    weighted: DataFrame,
    base: DataFrame,
    ranks: DataFrame,
    contrib: Column,
    update: Column,
    n_iter: int,
) -> DataFrame:
    """``n_iter`` PageRank-family rounds from ``ranks`` (node, rank): each
    edge of ``weighted`` (s, d, coef) sends ``contrib`` from its source,
    the contributions are summed per destination as ``in_sum``, and every
    node of ``base`` (node, ...) gets ``update`` as its new rank."""

    def step(ranks: DataFrame) -> DataFrame:
        sums = (
            weighted.join(ranks, weighted["s"] == ranks["node"])
            .select("d", contrib.alias("c"))
            .groupBy("d")
            .agg(F.sum("c").alias("in_sum"))
        )
        return base.join(sums, base["node"] == sums["d"], "left").select(
            "node", update.alias("rank")
        )

    return iterate(ranks, step, n_iter)


def pagerank(
    edges: DataFrame,
    src_col: str = "s",
    dst_col: str = "d",
    n_iter: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list: (node, rank).

    A FIXED iteration count (not convergence-tested) keeps the result a
    deterministic function of the graph — the DuckDB oracle chains the same
    n_iter algebraic steps, so ranks hash-match after the 4dp round. Nodes
    are the union of sources and destinations; ranks start uniform at 1/N
    and update as

        rank(v) ← (1-d)/N + d · Σ_{(u,v)∈E} rank(u)/outdeg(u)

    Dangling nodes (no out-edges) leak their mass — acceptable for the
    near-dup-graph use (symmetrised edges ⇒ no dangling nodes); general
    webgraph use would redistribute it.

    Scale notes (100 TB): per iteration one shuffle of E on src (contrib
    join) and one on dst (partial-agg sum) — the canonical Pregel-free
    formulation; the rank relation is O(V) two narrow columns. High-in-degree
    hubs cost one hot reducer key for a DOUBLE with map-side combine
    absorbing the fan-in.
    """
    nodes, weighted = _rank_graph(
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d")),
        F.count(F.lit(1)),
        F.col("out"),
    )
    n = max(nodes.count(), 1)  # empty edge list → empty ranks
    return _propagate(
        weighted,
        nodes,
        nodes.select("node", F.lit(1.0 / n).alias("rank")),
        F.col("rank") / F.col("coef"),
        F.lit((1.0 - damping) / n) + F.lit(damping) * F.coalesce("in_sum", F.lit(0.0)),
        n_iter,
    )


def kcore(
    edges: DataFrame,
    k: int = 2,
    n_rounds: int = 4,
    src_col: str = "s",
    dst_col: str = "d",
) -> DataFrame:
    """k-core peeling over a SYMMETRISED edge list: (node, degree) of the
    nodes surviving ``n_rounds`` of remove-degree-<k.

    Each round recomputes degrees on the surviving subgraph and drops
    nodes below k; dropping a node can push its neighbours below k, which
    the next round catches. A FIXED round count keeps the result a pure
    function of the graph (the q82 pagerank contract) so the DuckDB
    oracle chains identical rounds; on the bounded-degree LSH pair graph
    peeling converges in a handful of rounds (convergence at the shipped
    n_rounds is pinned by test) — production use at unknown diameter runs
    rounds to fixpoint with the same per-round plan.

    Scale: per round one degree aggregation (map-side combined) and two
    semi-joins of the edge list against the surviving-node set — all
    keyed on uniform node ids.
    """

    def peel(e: DataFrame) -> DataFrame:
        deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("s")
        return e.join(keep, "s", "left_semi").join(
            keep.select(F.col("s").alias("d")), "d", "left_semi"
        )

    e = edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
    e = iterate(e.localCheckpoint(eager=True), peel, n_rounds)
    return e.groupBy(F.col("s").alias("node")).agg(F.count(F.lit(1)).alias("degree"))


def ancestor_closure(
    edges: DataFrame,
    node_col: str = "node",
    parent_col: str = "parent",
    n_rounds: int = 4,
) -> DataFrame:
    """Transitive ancestor closure of a forest by pointer doubling:
    (node, anc) for every proper ancestor, in ⌈log₂(depth)⌉ rounds.

    Round k unions paths of length ≤ 2^(k+1) — O(E·depth) total rows,
    log-depth rounds instead of a depth-iteration loop (the BOM-explosion
    shape: 100 TB part hierarchies are shallow-but-wide, exactly where
    doubling wins). Composition is DISTANCE-EXACT (round 11): the first
    segment must have length exactly 2^k, the second any length ≤ 2^k.
    In a forest every (node, anc) pair has one distance D and one node at
    exactly 2^k steps up, so each new pair is generated exactly once and
    never regenerates a pair already in the closure — the per-round
    ``distinct`` the ≤×≤ composition needed (a full shuffle + dedup of
    the ENTIRE growing closure every round) is dead weight and is gone.
    Requires ``edges`` to carry one row per node (a forest's node has one
    parent; every caller passes a keyed projection of a base table).
    Roots are rows whose parent is NULL — they contribute no edge.
    """
    spans = iter([1 << k for k in range(n_rounds)])  # 2^k, one per round

    def double(c: DataFrame) -> DataFrame:
        first = c.filter(F.col("_d") == next(spans)).select(
            "node", F.col("anc").alias("_mid"), F.col("_d").alias("_d1")
        )
        rest = c.select(
            F.col("node").alias("_mid"),
            F.col("anc").alias("_anc2"),
            F.col("_d").alias("_d2"),
        )
        longer = first.join(rest, "_mid").select(
            "node",
            F.col("_anc2").alias("anc"),
            (F.col("_d1") + F.col("_d2")).alias("_d"),
        )
        return c.union(longer)

    c = edges.filter(F.col(parent_col).isNotNull()).select(
        F.col(node_col).alias("node"),
        F.col(parent_col).alias("anc"),
        F.lit(1).cast("long").alias("_d"),
    )
    return iterate(c.localCheckpoint(eager=True), double, n_rounds).select("node", "anc")


def weighted_pagerank(
    edges: DataFrame,
    src_col: str = "s",
    dst_col: str = "d",
    weight_col: str = "w",
    n_iter: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank with edge weights: contributions split by weight share
    instead of 1/outdegree —
        rank(v) ← (1−d)/N + d · Σ_{(u,v)} rank(u) · w(u,v)/W(u)
    where W(u) is u's total out-weight. Same fixed-iteration contract as
    ``pagerank`` (the oracle chains identical rounds); weight SHARES are
    rounded to 6dp once up front so both engines propagate identical
    coefficients.

    Scale: identical shuffle profile to the unweighted operator (the share
    is precomputed on the edge relation itself).
    """
    nodes, shared = _rank_graph(
        edges.select(
            F.col(src_col).alias("s"), F.col(dst_col).alias("d"), F.col(weight_col).alias("w")
        ),
        F.sum("w"),
        F.round(F.col("w") / F.col("out"), 6),
    )
    n = max(nodes.count(), 1)  # empty edge list → empty ranks
    return _propagate(
        shared,
        nodes,
        nodes.select("node", F.lit(1.0 / n).alias("rank")),
        F.col("rank") * F.col("coef"),
        F.lit((1.0 - damping) / n) + F.lit(damping) * F.coalesce("in_sum", F.lit(0.0)),
        n_iter,
    )


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 4,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Multi-source BFS over the undirected graph: (node, dist) with
    dist = min hops from any source node, bounded by ``max_hops``.

    Level-synchronous frontier expansion — the MapReduce-classic shape:
    each round joins the CURRENT FRONTIER (only nodes first reached last
    round, not the whole visited set) against the edge list, anti-joins
    already-visited nodes, and checkpoints. Work per round is O(frontier
    boundary × avg degree); rounds = max_hops. Skewed hubs fan in through
    the groupBy's partial aggregation.

    ``sources`` is a one-column (``node``) relation. Iterative — executes
    jobs while building, like connected_components.

    TWO hops are composed into each round's plan (round 12): at sf-scale
    the per-hop wall is almost pure driver round-trip + job-launch latency
    (round-11 measurement: ~0.2-0.3 s/hop on a 256-edge graph), so halving
    the rounds halves that constant. Equivalence to the one-hop-per-round
    form: level-synchronous BFS maintains the invariant that ``frontier``
    is EXACTLY the set of nodes at distance h-1 and ``visited`` exactly
    the set at distance < h when round h starts. Then

        n1 = N(frontier) \\ visited            is exactly the dist-h set,
        n2 = N(n1) \\ (visited ∪ n1)           is exactly the dist-(h+1) set

    because visited ∪ n1 is precisely every node with dist <= h — the same
    two sets two sequential one-hop rounds produce, so the invariant holds
    entering round h+2. The count/max aggregate is the convergence test
    that materialises the round's lazy checkpoint (the ``caching.iterate``
    converging-loop policy) and doubles as the emptiness test; max(dist)
    distinguishes "closed at h" (n2 empty ⇒ no dist h+1 nodes exist ⇒ BFS
    complete) from "continue at h+2".

    This loop keeps its own checkpoint instead of ``caching.iterate``: its
    state is two relations, the frontier and a growing union of visited
    levels, and a hop cap that ends it is not a failure to converge.
    """
    sym = _symmetrised(edges, src_col, dst_col)

    visited = sources.select("node").distinct().withColumn(
        "dist", F.lit(0).cast("long")
    ).localCheckpoint(eager=True)
    frontier = visited.select("node")

    def expand(nodes: DataFrame, banned: list[DataFrame], hop: int) -> DataFrame:
        out = (
            sym.join(nodes, sym["s"] == nodes["node"])
            .select(F.col("d").alias("node"))
            .distinct()
        )
        for rel in banned:
            out = out.join(rel, "node", "left_anti")
        return out.withColumn("dist", F.lit(hop).cast("long"))

    hop = 1
    while hop <= max_hops:
        n1 = expand(frontier, [visited.select("node")], hop)
        if hop + 1 <= max_hops:
            # Second expansion composed into the SAME plan (no checkpoint
            # of n1): its subtree is evaluated again inside this round's
            # one job — a deliberate recompute-over-jobs trade; frontier
            # expansion is O(frontier boundary × degree), the cheapest
            # stage of the round, while a job launch is the measured
            # constant. The duplicated broadcast of n1's node set is a
            # ReusedExchange (identical canonical subplan).
            n2 = expand(n1.select("node"), [visited.select("node"), n1.select("node")], hop + 1)
            new = n1.union(n2)
        else:
            new = n1
        new = new.localCheckpoint(eager=False)
        row = new.agg(F.count(F.lit(1)).alias("c"), F.max("dist").alias("m")).collect()[0]
        if row["c"] == 0:
            break
        # visited = lazy union of checkpointed per-round relations: each
        # component is already materialised (by its round's count/max
        # aggregate), so re-checkpointing the union per round would buy
        # nothing — the union's lineage is flat.
        visited = visited.union(new)
        if row["m"] < hop + 1:
            # The round's last computed level is empty or capped: either
            # n2 was computed and came back empty (no dist h+1 nodes ⇒
            # BFS complete) or hop == max_hops (bound reached).
            break
        frontier = new.filter(F.col("dist") == hop + 1).select("node")
        hop += 2
    return visited


def label_propagation(
    edges: DataFrame,
    src_col: str = "s",
    dst_col: str = "d",
    weight_col: str = "w",
    n_rounds: int = 3,
) -> DataFrame:
    """Deterministic synchronous weighted label propagation:
    (node, community) after a FIXED number of rounds.

    Labels start as the node id; each round every node adopts the label
    with the highest summed edge weight among its neighbours, ties broken
    by the smaller label (row_number over (wsum desc, lbl asc)) — so the
    result is a pure function of the graph and the oracle can chain the
    same n_rounds algebraic steps. Callers pass a SYMMETRISED edge list
    (both directions), so every node occurs as a source and keeps a label
    each round.

    Scale notes (100 TB): per round one shuffle of E on dst (label join),
    one grouped agg on (src, lbl) with map-side partials, and one per-src
    argmax window — all keyed on uniform node ids, label relation O(V).
    """
    e = edges.select(
        F.col(src_col).alias("s"),
        F.col(dst_col).alias("d"),
        F.col(weight_col).alias("w"),
    ).localCheckpoint(eager=True)
    w_arg = Window.partitionBy("s").orderBy(F.desc("wsum"), F.asc("lbl"))

    def step(labels: DataFrame) -> DataFrame:
        nbr = (
            e.join(labels.select(F.col("node").alias("d"), "lbl"), "d")
            .groupBy("s", "lbl")
            .agg(F.sum("w").alias("wsum"))
        )
        return (
            nbr.withColumn("rn", F.row_number().over(w_arg))
            .filter(F.col("rn") == 1)
            .select(F.col("s").alias("node"), "lbl")
        )

    labels = (
        e.select(F.col("s").alias("node"))
        .union(e.select(F.col("d").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
        .localCheckpoint(eager=True)
    )
    return iterate(labels, step, n_rounds).select("node", F.col("lbl").alias("community"))


def hits(
    edges: DataFrame,
    src_col: str = "s",
    dst_col: str = "d",
    n_iter: int = 3,
) -> DataFrame:
    """Fixed-iteration HITS over a bipartite edge list: (node, side, score)
    where side 'hub' scores sources and side 'auth' scores destinations.

    Kleinberg's mutual-reinforcement update with MAX-normalisation instead
    of the usual L2 norm: auth(d) ← Σ hub(s over in-edges), hub(s) ←
    Σ auth(d over out-edges), each rescaled so the max score is 1. Max
    (unlike a sum or an L2 norm) is order-independent, and scores are
    frozen to (score·10⁶) div max — INTEGER floor division, no doubles —
    after every rescale, so every cross-row sum the engines perform is an
    integer sum and the result is bit-for-bit reproducible (a ROUND here
    lands on .5 boundaries where engines diverge — the q220 lesson): the
    DuckDB oracle chains the same n_iter algebraic steps with `//` and
    hash-matches after the 4dp round.

    Each ``caching.iterate`` round is half an iteration, alternating the
    authority and the hub update from hub_0 = 10⁶ everywhere; the last
    round yields auth_n, and the hub scores are H(auth_n).

    Scale (100 TB): per iteration one shuffle of E on dst (auth partial
    agg) and one on src (hub partial agg) — same budget as ``pagerank``;
    the 1-row max rides a broadcast; score relations are O(V).
    """
    e = edges.select(
        F.col(src_col).alias("s"), F.col(dst_col).alias("d")
    ).distinct().localCheckpoint(eager=True)

    def rescaled(raw: DataFrame, key: str, score: str) -> DataFrame:
        mx = raw.agg(F.max("raw").alias("mx"))
        return raw.crossJoin(F.broadcast(mx)).select(
            key,
            F.expr("(raw * CAST(1000000 AS BIGINT)) div mx").cast("long").alias(score),
        )

    def authority(hub: DataFrame) -> DataFrame:
        return rescaled(e.join(hub, "s").groupBy("d").agg(F.sum("h").alias("raw")), "d", "a")

    def hubness(auth: DataFrame) -> DataFrame:
        return rescaled(e.join(auth, "d").groupBy("s").agg(F.sum("a").alias("raw")), "s", "h")

    halves = cycle((authority, hubness))  # auth_1, hub_1, auth_2, ...
    hub = e.select("s").distinct().select("s", F.lit(1000000).alias("h"))
    auth = iterate(hub, lambda x: next(halves)(x), 2 * n_iter - 1)
    hub = hubness(auth)
    # no 4dp ROUND here: micro-int/10⁶ already has ≤6 exact decimal digits
    # and rounding would land on .00005 half-boundaries (the q220 lesson)
    return hub.select(
        F.col("s").alias("node"), F.lit("hub").alias("side"),
        (F.col("h") / 1000000.0).alias("score"),
    ).union(
        auth.select(
            F.col("d").alias("node"), F.lit("auth").alias("side"),
            (F.col("a") / 1000000.0).alias("score"),
        )
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "s",
    dst_col: str = "d",
    n_iter: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """Fixed-iteration personalized PageRank (random walk with restart to
    a SEED set): (node, score). The TrustRank shape — teleport mass goes
    only to ``seeds`` (one column ``node``), so scores measure proximity
    to the trusted set rather than global centrality.

        R(v) ← (100−d)·B·1[v∈S]/|S| + d·Σ_{(u,v)∈E} (R(u) div od(u)), /100

    entirely in INTEGER micro-units (B = 10⁹): per-edge contributions are
    integer floor divisions, cross-row sums are integer sums, the damping
    multiply/divide is integer — bit-for-bit reproducible on any engine
    (the q252 HITS device; a float rank sum over a high-in-degree hub
    would be summation-order sensitive). The tiny mass lost to floor
    division biases all scores identically and vanishes under the 4dp
    output round. With no reachable seed there is no teleport mass and
    every score is 0.

    Scale (100 TB): identical budget to ``pagerank`` — per iteration one
    shuffle of E on src and one partial-agg shuffle on dst; the seed set
    is a broadcast; score relations O(V).
    """
    B = 1_000_000_000
    nodes, weighted = _rank_graph(
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d")).distinct(),
        F.count(F.lit(1)),
        F.col("out"),
    )
    seed = seeds.select("node").distinct().join(nodes, "node", "left_semi")
    teleport = ((100 - damping_pct) * B) // (100 * max(seed.count(), 1))
    base = nodes.join(
        seed.withColumn("is_seed", F.lit(1)), "node", "left"
    ).select(
        "node",
        F.when(F.col("is_seed").isNotNull(), F.lit(teleport).cast("long"))
        .otherwise(F.lit(0).cast("long"))
        .alias("b"),
    ).localCheckpoint(eager=True)
    ranks = _propagate(
        weighted,
        base,
        base.select("node", F.col("b").alias("rank")),
        F.expr("rank div coef").cast("long"),
        (
            F.col("b")
            + F.expr(
                f"(CAST({damping_pct} AS BIGINT)"
                " * coalesce(in_sum, CAST(0 AS BIGINT))) div 100"
            )
        ).cast("long"),
        n_iter,
    )
    return ranks.select("node", (F.col("rank") / float(B)).alias("score"))


def removal_effect_attribution(
    trans_probs: DataFrame,
    channels: tuple[str, ...],
    start: str = "_START",
    conv: str = "purchase",
    end: str = "_END",
    n_iter: int = 12,
    B: int = 100_000_000_000,
    P: int = 1_000_000,
) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al. 2014): from a
    first-order transition matrix over user journeys, the conversion
    probability of the full chain and of each chain with one channel
    removed (walks that would enter the removed channel are lost), the
    per-channel removal effect (P_full - P_c) / P_full, and the
    normalised attribution shares.

    ``trans_probs`` is (s, t, p) with p already frozen to integer
    micro-units (floor((n_st * P) / n_s)). The chain algebra runs in
    integers end to end: mass starts at B on ``start``; each step moves
    floor(m * p / P) along every edge; ``conv`` mass is accumulated, and
    mass entering ``end`` (or the removed channel) is dropped. Fixed
    ``n_iter`` unrolled steps - bit-identical on any engine.

    Scale: the transition matrix is |states|^2 <= 49 rows - the ONE
    bounded collect (the bpe.train per-round pattern); everything
    corpus-sized happened upstream in the keyed count aggregate.
    """
    p = {(r["s"], r["t"]): r["p"] for r in trans_probs.collect()}

    def pconv(removed: str | None) -> int:
        v = {start: B}
        total = 0
        for _ in range(n_iter):
            total += sum(
                (m * p.get((s, conv), 0)) // P for s, m in v.items()
            )
            nv: dict[str, int] = {}
            for (s, t), pp in p.items():
                if s in v and t not in (conv, end) and t != removed:
                    nv[t] = nv.get(t, 0) + (v[s] * pp) // P
            v = nv
        return total

    full = pconv(None)
    effs = {c: full - pconv(c) for c in channels}
    tot_eff = sum(effs.values())
    rows = [
        (
            c,
            full / B,
            (full - effs[c]) / B,
            (effs[c] / full) if full else None,
            (effs[c] / tot_eff) if tot_eff else None,
        )
        for c in channels
    ]
    spark = trans_probs.sparkSession
    return spark.createDataFrame(
        rows,
        "channel string, p_full double, p_removed double,"
        " removal_effect double, attribution double",
    ).select(
        "channel",
        F.round("p_full", 4).alias("p_full"),
        F.round("p_removed", 4).alias("p_removed"),
        F.round("removal_effect", 4).alias("removal_effect"),
        F.round("attribution", 4).alias("attribution"),
    )
