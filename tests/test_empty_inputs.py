"""Empty-input totality: core operators must return empty results (not
throw) when their input relation is empty — the behaviour a 100 TB DAG
needs when one partition-pruned branch comes back with zero rows."""

from __future__ import annotations

import pyspark.sql.functions as F


def _empty_like(spark, schema: str):
    return spark.createDataFrame([], schema)


def test_dedup_family_on_empty_corpus(spark):
    from synth_transform_spark.operators import dedup

    docs = _empty_like(spark, "doc_id long, text string")
    assert dedup.minhash_near_duplicates(docs, threshold=0.8).count() == 0
    assert dedup.exact_groups(docs).count() == 0


def test_similarity_on_empty_queries(spark):
    from synth_transform_spark.operators import similarity
    from synth_transform_spark.sources.readers import load_table

    from conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    none = emb.filter("vec_id < 0")
    assert similarity.cosine_topk(emb, none, k=3).count() == 0
    assert similarity.pq_topk(emb, none, k=3).count() == 0


def test_temporal_and_graph_on_empty(spark):
    from synth_transform_spark.operators.graph import (
        ancestor_closure,
        kcore,
        pagerank,
        weighted_pagerank,
    )
    from synth_transform_spark.operators.temporal import interval_overlap_join

    e = _empty_like(spark, "node long, parent long")
    assert ancestor_closure(e, n_rounds=3).count() == 0
    edges = _empty_like(spark, "s long, d long")
    assert kcore(edges, k=2, n_rounds=2).count() == 0
    assert pagerank(edges, n_iter=2).count() == 0
    wedges = _empty_like(spark, "s long, d long, w double")
    assert weighted_pagerank(wedges, n_iter=2).count() == 0
    ivals = _empty_like(spark, "l_start long, l_end long")
    rvals = _empty_like(spark, "r_start long, r_end long")
    assert interval_overlap_join(ivals, rvals).count() == 0


def test_sketches_on_empty(spark):
    from synth_transform_spark.operators import sketches

    df = _empty_like(spark, "g string, v string")
    assert sketches.hll_distinct(df, ["g"], "v").count() == 0
    assert sketches.kmv_set_estimates(df, "g", "v", k=8).count() == 0


def test_round5_operators_on_empty(spark):
    from synth_transform_spark.operators.ml import deterministic_pca_project
    from synth_transform_spark.operators.similarity import (
        kcenter_coreset,
        semdedup_drops,
    )

    emb = _empty_like(spark, "vec_id long, embedding array<float>")
    assert deterministic_pca_project(emb, k=2, dim=64).count() == 0
    assert kcenter_coreset(emb, k=8).count() == 0
    clusters = _empty_like(spark, "vec_id long, cluster int")
    assert semdedup_drops(emb, clusters, threshold=0.35).count() == 0


def test_kcenter_smaller_corpus_than_k(spark):
    """k-center must cap at the corpus size, never re-select a point."""
    from synth_transform_spark.operators.similarity import kcenter_coreset
    from synth_transform_spark.sources.readers import load_table

    from conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").filter("vec_id < 3")
    out = kcenter_coreset(emb, k=8).toPandas()
    assert len(out) == 3
    assert sorted(out.vec_id.tolist()) == [0, 1, 2]
    assert out.sel_rank.tolist() == sorted(out.sel_rank.tolist())


def test_round5b_operators_on_empty_and_degenerate(spark):
    """q267/q270/q276/q277 kernels: zero seeds -> all-zero scores, empty
    corpora -> empty results, pools smaller than k -> short result, an
    empty transition matrix -> zero conversion everywhere."""
    from synth_transform_spark.operators.bpe import unigram_viterbi
    from synth_transform_spark.operators.graph import (
        personalized_pagerank,
        removal_effect_attribution,
    )
    from synth_transform_spark.operators.similarity import mmr_select

    e = spark.createDataFrame([(1, 2)], "s long, d long")
    no_seeds = personalized_pagerank(e, _empty_like(spark, "node long"))
    assert [r["score"] for r in no_seeds.collect()] == [0.0, 0.0]
    assert (
        personalized_pagerank(
            _empty_like(spark, "s long, d long"),
            spark.createDataFrame([(1,)], "node long"),
        ).count()
        == 0
    )

    emb = _empty_like(spark, "vec_id long, embedding array<float>")
    assert mmr_select(emb, emb, k=3, pool_size=5).count() == 0
    emb2 = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    short = mmr_select(emb2, emb2.filter("vec_id = 0"), k=5, pool_size=5)
    assert short.count() == 2  # pool exhausted before k

    assert unigram_viterbi(_empty_like(spark, "doc_id long, text string")).count() == 0

    mk = removal_effect_attribution(
        _empty_like(spark, "s string, t string, p long"), ("a", "b")
    ).collect()
    assert all(r["p_full"] == 0.0 and r["attribution"] is None for r in mk)
