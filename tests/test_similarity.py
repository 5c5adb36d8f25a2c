"""ANN / near-dup quality gates: approximate paths must actually find
neighbors.

Both approximate paths (q33 IVF top-k, q38 bucketed near-dup pairs) are
deterministic and oracle-matched (test_oracle_parity), but an oracle that
replays the same algorithm can't tell whether the algorithm FINDS anything —
these tests pin recall against the exact brute-force baselines. IVF:
measured 0.92 mean / 0.60 min recall@k at the default n_probe on the sf0.01
synthetic embeddings. Bucketed pairs: measured 0.91 at n_assign=3. Bounds
leave margin for table regeneration.
"""

from __future__ import annotations

from collections import defaultdict

from conftest import SF_DIR
from synth_transform_spark.plans import REGISTRY


def test_ivf_recall_against_brute_force(spark):
    bf = REGISTRY["q23_cosine_topk"].spark(spark, SF_DIR).toPandas()
    ivf = REGISTRY["q33_ivf_topk"].spark(spark, SF_DIR).toPandas()
    truth, got = defaultdict(set), defaultdict(set)
    for r in bf.itertuples():
        truth[r.query_id].add(r.neighbor_id)
    for r in ivf.itertuples():
        got[r.query_id].add(r.neighbor_id)
    assert truth, "brute-force baseline returned no rows"
    recalls = [len(truth[q] & got[q]) / len(truth[q]) for q in truth]
    assert sum(recalls) / len(recalls) >= 0.7
    assert min(recalls) >= 0.4


def test_bucketed_pairs_recall_vs_exact(spark):
    """q38's cell-bucketed pairs vs the exact all-pairs baseline: the verify
    stage is exact (no false positives), and multi-assignment must recover
    most true near-dup pairs."""
    from synth_transform_spark.operators import similarity
    from synth_transform_spark.sources.readers import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    exact = similarity.cosine_pairs(emb, threshold=0.42).toPandas()
    bucketed = REGISTRY["q38_embedding_near_dups"].spark(spark, SF_DIR).toPandas()
    truth = set(zip(exact.id_a, exact.id_b))
    got = set(zip(bucketed.id_a, bucketed.id_b))
    assert truth, "exact baseline returned no pairs"
    assert got <= truth, "bucketed path produced a pair the exact scorer rejects"
    assert len(got & truth) / len(truth) >= 0.8


def test_quantized_topk_recall_vs_exact(spark):
    """int8 quantization (q85) must keep high overlap with the exact top-k:
    ~0.4% per-component error rarely reorders neighbours that differ by
    more than the quantization step."""
    import pyspark.sql.functions as F
    from collections import defaultdict

    from synth_transform_spark.operators import similarity
    from synth_transform_spark.sources.readers import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(emb, queries, k=5).toPandas()
    quant = similarity.quantized_topk(emb, queries, k=5).toPandas()
    truth, got = defaultdict(set), defaultdict(set)
    for r in exact.itertuples():
        truth[r.query_id].add(r.neighbor_id)
    for r in quant.itertuples():
        got[r.query_id].add(r.neighbor_id)
    assert truth, "exact baseline returned no rows"
    recalls = [len(truth[q] & got[q]) / len(truth[q]) for q in truth]
    assert sum(recalls) / len(recalls) >= 0.7


def test_srp_pairs_sound_and_recall_floor(spark):
    """q117's SRP-LSH pairs vs the exact all-pairs baseline: verify stage
    is exact (subset of truth), and the 4-bit-band default recovers a
    non-trivial fraction of true pairs even in this corpus's weak-
    similarity regime (cosines top out ~0.5 — measured recall 0.38-0.41;
    SRP's design regime is high-similarity dedup, covered below)."""
    from synth_transform_spark.operators import similarity
    from synth_transform_spark.sources.readers import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    exact = similarity.cosine_pairs(emb, threshold=0.42).toPandas()
    srp = REGISTRY["q117_srp_near_dups"].spark(spark, SF_DIR).toPandas()
    truth = set(zip(exact.id_a, exact.id_b))
    got = set(zip(srp.id_a, srp.id_b))
    assert truth, "exact baseline returned no pairs"
    assert got <= truth, "SRP path produced a pair the exact scorer rejects"
    assert len(got & truth) / len(truth) >= 0.3


def test_srp_high_similarity_regime_recall(spark):
    """SRP's design point: near-identical vectors (cos >= 0.95). Planted
    deterministic pairs (base + tiny perturbation, sin-formula components,
    no RNG); wide 8-bit bands must recover essentially all of them."""
    import math

    from synth_transform_spark.operators import similarity

    dim = 64
    rows = []
    for b in range(20):
        base = [math.sin(0.7 * b + 1.3 * i) for i in range(dim)]
        pert = [x + 0.02 * math.sin(9.1 * b + 0.31 * i) for i, x in enumerate(base)]
        rows.append((2 * b, base))
        rows.append((2 * b + 1, pert))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    exact = similarity.cosine_pairs(emb, threshold=0.95).toPandas()
    truth = set(zip(exact.id_a, exact.id_b))
    assert len(truth) >= 15, "planted corpus should contain many 0.95+ pairs"
    srp = similarity.srp_near_duplicates(
        emb, threshold=0.95, n_planes=16, band_bits=8, dim=dim
    ).toPandas()
    got = set(zip(srp.id_a, srp.id_b))
    assert got <= truth
    assert len(got & truth) / len(truth) >= 0.9


def test_pq_topk_recall_vs_exact_l2(spark):
    """q132's two-stage PQ (ADC shortlist → exact re-rank) vs exact
    squared-L2 top-k. Measured 0.60-0.64 mean recall@5 on the
    sf0.001/sf0.01 corpora (one-shot 16×4d codebooks, shortlist 20);
    floors leave regeneration margin."""
    import numpy as np

    from synth_transform_spark.plans import REGISTRY
    from synth_transform_spark.sources.readers import load_table

    emb = load_table(spark, SF_DIR, "embeddings").toPandas()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=float) for r in emb.itertuples()}
    pq = REGISTRY["q132_pq_topk"].spark(spark, SF_DIR).toPandas()
    k = 5
    recalls = []
    for qid in sorted(pq.query_id.unique()):
        qv = vecs[qid]
        d = sorted(
            ((np.sum((qv - v) ** 2), vid) for vid, v in vecs.items() if vid != qid)
        )[:k]
        truth = {vid for _, vid in d}
        got = set(pq[pq.query_id == qid].neighbor_id)
        recalls.append(len(truth & got) / k)
    assert sum(recalls) / len(recalls) >= 0.4
    assert min(recalls) >= 0.2
