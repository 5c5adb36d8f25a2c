"""Plan-hygiene assertions: the physical plans the engine promises.

Scale behaviour can't be measured at test SF, but its preconditions are
visible in the plan: pushed filters, pruned columns, broadcast dims, no
row-at-a-time Python in relational paths, codegen coverage.
"""

from __future__ import annotations

import re

import pytest

from conftest import SF_DIR
from synth_transform_spark.plans import REGISTRY


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q01_pushes_filter_and_prunes_columns(spark):
    plan = _plan(REGISTRY["q01_pricing_summary"].spark(spark, SF_DIR))
    assert "PushedFilters" in plan and "l_shipdate" in plan
    # projection pruning: untouched wide columns never reach the scan
    assert "l_comment" not in plan and "l_tax" not in plan


def test_q08_broadcasts_dims(spark):
    plan = _plan(REGISTRY["q08_dim_denorm"].spark(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


# Queries whose plan-build EXECUTES heavy work (model training, PCA fit,
# a full streaming replay) — excluded from the whole-registry plan scans:
# each has its own dedicated tests, and building their "plan" costs tens of
# seconds of real execution per scan loop.
HEAVY_EXECUTING = {
    "q41_tfidf_classifier",
    "q214_svc_classifier",  # OneVsRest(LinearSVC) training at plan build
    "q55_model_outliers",
    "q57_streaming_running_totals",
    "q62_pca_project",
    "q63_dup_clusters",  # iterative label propagation: plan build runs jobs
    "q67_streaming_interval_join",  # streaming replay at build time
    "q82_pagerank",  # iterative rank propagation: plan build runs jobs
    "q101_triangle_count",  # checkpoints the pair relation at build time
    "q105_dedup_decision",  # iterative cluster build at plan time
    "q106_curation_funnel",  # iterative cluster build at plan time
    "q107_streaming_tumbling",  # streaming replay at build time
    "q108_streaming_sliding",  # streaming replay at build time
    "q134_streaming_session",  # streaming replay at build time
    "q135_kcore",  # iterative peeling: plan build runs jobs
    "q145_streaming_first_event",  # streaming replay at build time
    "q147_kmeans",  # iterative Lloyd rounds: plan build runs jobs
    "q217_semdedup",  # k-means rounds at plan build (q147 + drop verdict)
    "q222_kcenter_coreset",  # greedy argmax rounds at plan build
    "q223_doremi_weights",  # domain-loss collect + MW rounds at plan build
    "q229_cuped_adjustment",  # moment collect (theta) at plan build
    "q149_hierarchy_rollup",  # iterative doubling rounds: plan build runs jobs
    "q171_percent_of_parent",  # iterative doubling rounds: plan build runs jobs
    "q178_weighted_pagerank",  # iterative rank rounds: plan build runs jobs
    "q181_golden_records",  # iterative cluster build at plan time
    "q186_bpe_merges",  # iterative merge rounds: plan build runs jobs
    "q187_bpe_segmentation",  # iterative merge rounds: plan build runs jobs
    "q190_stream_static_enrich",  # streaming replay at build time
    "q194_bfs_hops",  # iterative frontier rounds: plan build runs jobs
    "q195_lsh_quality",  # double dedup pipeline: plan build runs jobs
    "q197_streaming_watermark_dedup",  # streaming replay at build time
}


PYTHON_OK = {
    "q177_token_spans_gate",  # declared UDTF stage
    "q35_frame_sample",
    "q36_byte_histogram",
    "q37_decoded_intensity",
    "q193_scene_changes",  # declared mapInPandas frame pass
    "q206_cooldown_alerts",  # declared applyInPandas sequential scan
    "q467_zlib_quality",  # declared mapInPandas compressor stage
} | HEAVY_EXECUTING  # ML/scoring stages are declared python by design

# Theta-join pair generators are the only sanctioned nested-loop joins.
CARTESIAN_OK = {
    "q32_ngram_jaccard_pairs",
    "q20_fuzzy_join",
    # ALS recommendForAllUsers is MLlib's blocked factor matmul — the
    # cross of user/item factor blocks is the designed plan shape,
    # not an accidental nested loop.
    "q375_als_recommend",
} | HEAVY_EXECUTING

# A Window whose child shuffle is `Exchange SinglePartition` funnels its
# whole input through ONE reducer — the 100 TB killer unless the input is
# bounded by construction. Every name below was audited (round 6): the
# windowed relation is bounded by the calendar / vocabulary / score
# domain / a top-k cut — never the corpus. See SCALE.md
# "Bounded-window exceptions".
BOUNDED_WINDOW_OK = {
    # calendar-bounded series (daily/hourly/monthly aggregate relation)
    "q99_rolling_hll",
    "q174_rolling_correlation",
    "q205_cusum_changepoints",
    "q264_sequential_ab",
    "q278_bh_fdr",
    "q331_topk_churn",  # per-week top-20 lists; weeks are calendar-bounded
    "q339_ljung_box",
    "q340_durbin_watson",
    "q341_ses_forecast",
    "q342_hampel_filter",
    "q348_granger_causality",
    "q349_pacf",
    "q359_forecast_eval",
    "q378_hurst_exponent",
    "q380_storage_write_planner",
    "q382_price_index",  # distinct-month index relation
    "q392_page_hinkley",  # daily relation walk
    "q417_binary_segmentation",  # daily relation candidate scan
    "q420_adstock",  # daily relation rank window (q341's class)
    "q393_brown_double_smoothing",  # daily relation, two SES pair joins
    "q458_adf_test",  # daily relation lag regression (q348's class)
    "q463_msprt",  # daily relation cumulative LR + running max
    "q464_kpss",  # daily relation partial sums + lag moments
    "q473_runs_test",  # daily relation lag compare
    "q476_chow_test",  # daily relation rank index
    "q477_theta_forecast",  # daily relation rank index
    "q478_croston",  # demand-day relation (calendar-bounded) occurrence index
    # vocabulary / value-domain-bounded (collapse-first to the domain)
    "q151_zipf_fit",
    "q404_vocab_coverage",  # rank window over the vocab relation
    "q244_unimax_budget",  # |langs| rows
    "q253_t_closeness",  # nation x priority grid
    "q273_randomized_response",  # category dim
    "q283_roc_auc",  # distinct-score domain (declared)
    "q408_threshold_sweep",  # distinct-score domain (q283's class)
    "q419_lorenz_table",  # distinct-spend domain + 10-row decile curve
    "q289_gain_chart",
    "q305_ks_test",
    "q446_wilcoxon_signed_rank",  # distinct-|d| domain (q283's class)
    "q459_yuen_trimmed_t",  # distinct-cents domain per group (q283's class)
    "q460_nelson_aalen",  # distinct-duration (days) domain
    "q462_cramer_von_mises",  # distinct-cents domain (q283's class)
    "q471_ansari_bradley",  # distinct-cents domain (q283's class)
    "q472_jonckheere_terpstra",  # distinct-cents domain (q283's class)
    "q481_mood_median",  # distinct-cents domain (q283's class)
    "q484_lepage",  # distinct-cents domain (q283's class)
    "q485_cucconi",  # distinct-cents domain (q283's class)
    "q491_conover_squared_ranks",  # distinct |deviation| domain — bounded by the cents grid (q283's class)
    "q492_brunner_munzel",  # distinct-cents domain (q283's class)
    "q493_kuiper_test",  # distinct-cents domain (q283's class)
    "q494_anderson_darling_2s",  # distinct-cents domain (q283's class)
    "q487_xi_correlation",  # daily relation walk + y-value domain
    "q316_average_precision",
    "q319_isotonic_calibration",  # <= 20 bins
    # top-k / survivor-bounded
    "q118_rrf_fusion",  # fuses two top-50 lists
    "q198_ir_eval",  # per-query top-k ranking
    "q210_pareto_frontier",  # band survivors only
    "q351_shapley_attribution",  # 2^u x u lattice
    "q389_markov_stationary",  # k^2 state matrix
    # day-shard stitch summaries (|days| rows; operators/windows.py)
    "q387_tail_gpd",
}

# Window node followed within a few tree lines (Sort / codegen markers)
# by its child single-partition exchange.
_WINDOW_OVER_SINGLE_PARTITION = re.compile(
    r"Window[^\n]*\n(?:[^\n]*\n){0,3}?[^\n]*Exchange SinglePartition"
)


def test_registry_plan_hygiene(spark):
    """ONE plan-build sweep over the whole registry, three lints per plan:

    1. no row-at-a-time Python (BatchEvalPython/ArrowEvalPython) outside
       the declared mapInPandas/UDTF stages;
    2. no CartesianProduct outside the sanctioned theta-join generators;
    3. no Window fed by `Exchange SinglePartition` unless the windowed
       relation is in the audited bounded allowlist — the lint that keeps
       the q381/q387 class (corpus-scaled window funnels) from recurring:
       a NEW query with a global/low-cardinality ordered window fails here
       until it is either day-sharded (operators/windows.py sharded_gaps)
       or audited into BOUNDED_WINDOW_OK with its boundedness argument.
    """
    py_off, cart_off, win_off, raised = [], [], [], []
    for name, q in sorted(REGISTRY.items()):
        if name in HEAVY_EXECUTING:
            continue
        try:
            plan = _plan(q.spark(spark, SF_DIR))
        except Exception as e:  # a plan the lint cannot see is a failure
            raised.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            continue
        if name not in PYTHON_OK and (
            "BatchEvalPython" in plan or "ArrowEvalPython" in plan
        ):
            py_off.append(name)
        if name not in CARTESIAN_OK and "CartesianProduct" in plan:
            cart_off.append(name)
        if name not in BOUNDED_WINDOW_OK and _WINDOW_OVER_SINGLE_PARTITION.search(
            plan
        ):
            win_off.append(name)
    assert raised == [], f"build raised: {raised}"
    assert py_off == [], f"python in relational path: {py_off}"
    assert cart_off == [], f"cartesian product: {cart_off}"
    assert win_off == [], f"corpus-scaled single-partition window: {win_off}"


# Headline (bench=True) queries that may launch Spark jobs while their
# DataFrame is built, with a ceiling each. Every other headline query
# builds with none: its plan can be explained, fingerprinted and linted
# without running it (ROADMAP direction 2). Lower a ceiling when a change
# removes jobs; never raise one.
BUILD_JOB_CEILING = {
    # eager checkpoint of the candidate pairs (the two-consumer cache race,
    # OPTIMIZATION_r11.md §10); ROADMAP direction 2 names its removal
    "q27_minhash_near_dups": 4,
}


def test_headline_builds_launch_no_job(spark):
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    over = {}
    for name, q in sorted(REGISTRY.items()):
        if not q.bench:
            continue
        j0 = dag.nextJobId()
        q.spark(spark, SF_DIR)
        jobs = dag.nextJobId() - j0
        if jobs > BUILD_JOB_CEILING.get(name, 0):
            over[name] = jobs
    assert over == {}, f"build-time Spark jobs over the ceiling: {over}"


def test_codegen_covers_hot_queries(spark):
    for name in ("q01_pricing_summary", "q08_dim_denorm", "q24_quality_score"):
        df = REGISTRY[name].spark(spark, SF_DIR)
        df.collect()  # AQE: codegen stages only appear in the FINAL plan
        plan = _plan(df)
        # '*(n)' prefixes mark whole-stage-codegen spans in the tree string
        assert "WholeStageCodegen" in plan or "*(" in plan, name


def test_temporal_joins_avoid_nested_loops(spark):
    """as-of (q49) and range (q50) joins must compile to shuffle/broadcast
    hash plans — an inequality join would fall back to
    BroadcastNestedLoopJoin, the O(n*m) shape they exist to avoid."""
    for name in ("q49_asof_join", "q50_range_join", "q143_interval_overlap"):
        plan = _plan(REGISTRY[name].spark(spark, SF_DIR))
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_no_single_partition_windows(spark):
    """q12 must show a range-partition exchange (ids numbered per range
    partition, offsets from that one reused exchange), and q14 must contain
    no Window at all (global scalars come from agg + broadcast) — both
    previously funneled the whole input through one reducer."""
    p12 = _plan(REGISTRY["q12_surrogate_ids"].spark(spark, SF_DIR))
    assert "rangepartitioning" in p12.lower()
    p14 = _plan(REGISTRY["q14_zscore_outliers"].spark(spark, SF_DIR))
    assert "Window" not in p14
    assert "BroadcastExchange" in p14 or "broadcast" in p14.lower()


def test_new_window_queries_stay_partitioned(spark):
    """q69 (sequence packing), q72 (weighted sample), q73 (rolling range
    window) all contain window passes — none may collapse to a single
    partition (the global-ORDER-BY trap; packing shards by id % 8,
    sampling/rolling partition by their group keys)."""
    for name in (
        "q69_sequence_pack",
        "q72_weighted_sample",
        "q73_rolling_time_window",
    ):
        plan = _plan(REGISTRY[name].spark(spark, SF_DIR))
        assert "Exchange SinglePartition" not in plan, name


def test_aggregates_are_partial(spark):
    """Sum/count aggregations must show a partial_ stage before the shuffle
    (map-side combine) — one full-row shuffle would be the 100 TB killer."""
    plan = _plan(REGISTRY["q01_pricing_summary"].spark(spark, SF_DIR))
    assert "partial_" in plan


def test_q38_is_bucketed(spark):
    """q38 must not contain an unbounded all-pairs join: candidates come
    from the IVF-cell self-join (hash/merge on cell_id); the only
    nested-loop allowed is the single-row packed-centroid broadcast."""
    plan = _plan(REGISTRY["q38_embedding_near_dups"].spark(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # pair generation must be a hash/merge join on cell_id — never a
    # nested-loop join over the id_a < id_b pair predicate
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "id_a" not in line and "id_b" not in line, line


def test_star_joins_broadcast_dims_and_push_filters(spark):
    """q83/q84: the selective dim sides must broadcast (no shuffle for
    customer-segment / region-nation-supplier), date filters must reach the
    fact scans, and no nested-loop join may appear anywhere in the chain."""
    p83 = _plan(REGISTRY["q83_shipping_priority"].spark(spark, SF_DIR))
    assert "BroadcastHashJoin" in p83
    assert "PushedFilters" in p83 and "o_orderdate" in p83
    assert "CartesianProduct" not in p83
    assert "TakeOrderedAndProject" in p83  # top-10 without a global sort
    p84 = _plan(REGISTRY["q84_local_supplier_volume"].spark(spark, SF_DIR))
    assert p84.count("BroadcastHashJoin") >= 2  # nation+region and supplier
    assert "CartesianProduct" not in p84
    assert "BroadcastNestedLoopJoin" not in p84
    assert "partial_" in p84  # nation rollup map-side combined


def test_round4_ops_broadcast_their_small_sides(spark):
    """The round-4 curation/stat ops all have a tiny statistics/dim side
    (benchmark shingles, CMS cells, percentile bounds, df/idf tables,
    unigram probabilities) — each must broadcast; a SortMergeJoin there
    would shuffle the full corpus against a vocab-sized relation."""
    for name in (
        "q74_decontamination",
        "q79_heavy_hitters",
        "q86_winsorize",
        "q91_mad_outliers",
        "q92_tfidf_weights",
        "q93_unigram_logprob",
    ):
        plan = _plan(REGISTRY[name].spark(spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_q80_probe_side_never_shuffles(spark):
    """The bloom prune must be a row-local filter against one broadcast
    row: no Exchange may touch the probe (orders) columns before the
    exact semi-join — shuffling pruned rows would defeat the runtime
    filter."""
    plan = _plan(REGISTRY["q80_bloom_semi_join"].spark(spark, SF_DIR))
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "o_orderkey" not in line and "_rowtag" not in line, line
    assert "LeftSemi" in plan


def test_gap_windows_are_day_sharded(spark):
    """q381/q387 inter-arrival gaps must come from the day-shard-and-stitch
    kernel: the corpus-scale Window hash-partitions by (key, _shard); only
    q387's |days|-row stitch summary may see a single partition."""
    p381 = _plan(REGISTRY["q381_burstiness"].spark(spark, SF_DIR))
    assert "_shard" in p381
    assert "Exchange SinglePartition" not in p381
    p387 = _plan(REGISTRY["q387_tail_gpd"].spark(spark, SF_DIR))
    assert "_shard" in p387
    # the event-stream window is sharded: its spec names _shard
    assert "windowspecdefinition(_shard" in p387
    # every single-partition exchange feeds either the bounded stitch
    # summary or a final scalar aggregate — never the event stream window
    for m in _WINDOW_OVER_SINGLE_PARTITION.finditer(p387):
        assert "lag(_last" in m.group(0) or "lead(_first" in m.group(0), m.group(0)


def test_q490_excision_reassembly_stays_keyed(spark):
    """Round-9 verdict #7: the substring-excision pipeline must never
    collapse the corpus to one partition. The keep-first window is keyed
    by the content-hash gram (reducer fan-in bounded by the hottest
    gram's occurrence list) and document reassembly is a doc-keyed
    aggregate (sort_array inside the group) — no corpus-wide
    single-partition window anywhere in the plan."""
    df = REGISTRY["q490_substring_excision"].spark(spark, SF_DIR)
    plan = _plan(df)
    assert "Exchange SinglePartition" not in plan
    assert not _WINDOW_OVER_SINGLE_PARTITION.search(plan)
    # the only window spec is gram-keyed
    specs = re.findall(r"windowspecdefinition\(([a-z_]+)", plan)
    assert specs and set(specs) == {"gram"}, specs
    # reassembly shuffles on doc_id (keyed aggregate), and the in-group
    # ordering lives in the aggregate, not a corpus-wide Sort: the only
    # global sorts allowed are the final presentation orderBy on doc_id
    for line in plan.splitlines():
        if re.search(r"\bSort \[", line) and "true" in line:
            assert "doc_id" in line, line
    assert "hashpartitioning(doc_id" in plan


def test_subquery_suite_decorrelated_plans(spark):
    """q109-q114: every correlated-subquery shape must execute as its
    decorrelated single-pass plan — no per-row re-scan artifacts, no
    nested loops, fact tables read once where the rewrite allows it."""
    # q109: window decorrelation — one lineitem scan, no self-join
    p109 = _plan(REGISTRY["q109_small_qty_revenue"].spark(spark, SF_DIR))
    assert p109.count("Window") == 1
    assert "SortMergeJoin" not in p109  # brand dim broadcasts
    # q110: the HAVING aggregate is computed once and joined, never regrouped
    p110 = _plan(REGISTRY["q110_large_volume_orders"].spark(spark, SF_DIR))
    assert "TakeOrderedAndProject" in p110
    assert p110.count("Scan parquet") == 3  # lineitem + orders + customer, once each
    # q111: EXISTS → LEFT SEMI with the non-equi residual on the equi join
    p111 = _plan(REGISTRY["q111_priority_late_exists"].spark(spark, SF_DIR))
    assert "LeftSemi" in p111
    assert "BroadcastNestedLoopJoin" not in p111 and "CartesianProduct" not in p111
    # q112: NOT EXISTS → LEFT ANTI; inner-side filters pushed to the scan
    p112 = _plan(REGISTRY["q112_dormant_low_balance"].spark(spark, SF_DIR))
    assert "LeftAnti" in p112
    assert "o_orderpriority" in p112 and "PushedFilters" in p112
    # q114: argmin via min_by-style struct agg — single scan, no window sort
    p114 = _plan(REGISTRY["q114_cheapest_supplier_per_part"].spark(spark, SF_DIR))
    assert p114.count("Scan parquet") == 1
    assert "Window" not in p114 and "partial_" in p114


def test_tpch_suite_plan_shapes(spark):
    """q121-q131: the round-4 TPC-H shapes keep the promised physical
    frames — dims broadcast, no nested loops/cartesians anywhere, the
    Q13 outer join preserves zeros without a cross, Q15's scalar max is a
    broadcast (no Window), Q21's double-EXISTS decorrelates to one
    orderkey-partitioned window pass."""
    tpch = [n for n in sorted(REGISTRY) if any(
        n.startswith(f"q{i}_") for i in range(121, 132))]
    assert len(tpch) == 11
    for name in tpch:
        plan = _plan(REGISTRY[name].spark(spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    # Q7/Q9/Q10/Q14/Q16/Q19: part/supplier/nation dims must broadcast
    for name in (
        "q121_volume_shipping",
        "q123_product_profit",
        "q124_returned_items",
        "q127_promo_revenue",
        "q129_supplier_part_counts",
        "q130_discounted_brackets",
    ):
        assert "BroadcastHashJoin" in _plan(REGISTRY[name].spark(spark, SF_DIR)), name
    # Q15: no Window — the quarter max is agg + broadcast join
    p128 = _plan(REGISTRY["q128_top_supplier"].spark(spark, SF_DIR))
    assert "Window" not in p128
    assert "broadcast" in p128.lower()
    # Q21: exactly one window pass, partitioned (no single-partition funnel)
    p131 = _plan(REGISTRY["q131_straggler_suppliers"].spark(spark, SF_DIR))
    assert p131.count("Window") >= 1
    assert "Exchange SinglePartition" not in p131.split("TakeOrderedAndProject")[-1]
    # Q13: left outer join, and the priority filter must NOT reach customer
    p126 = _plan(REGISTRY["q126_order_count_distribution"].spark(spark, SF_DIR))
    assert "LeftOuter" in p126


def test_model_table_joins_broadcast(spark):
    """Round-4 statistics/model relations (top-k vocab q141, NB log-lik
    matrix q148, bigram LM table q152, hour-of-day baseline q153,
    transition totals q154, equi-depth bounds q136, OLS closed-form
    q144) are all bounded small sides — each query must broadcast them;
    a SortMergeJoin there shuffles the full stream against a vocab-sized
    relation."""
    for name in (
        "q136_equidepth_histogram",
        "q141_oov_rate",
        "q148_naive_bayes",
        "q152_bigram_logprob",
        "q153_seasonal_anomalies",
        "q154_transition_matrix",
        # round-5 model/boundary relations: bigram LM + terciles (q215),
        # token LM ratio table + quartile threshold (q216), per-type
        # median/MAD (q219), seasonal/gate relations (q220), chunk share
        # counts (q218 — fingerprint-keyed, may legitimately SMJ, so only
        # the no-cartesian clause applies there via the generic scan)
        "q215_perplexity_filter",
        "q216_dsir_weights",
        "q219_mad_outliers",
        "q220_seasonal_decompose",
    ):
        plan = _plan(REGISTRY[name].spark(spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_round5_additions_stay_scale_shaped(spark):
    """Round-5 operators keep their promised plan shapes: the trigram
    posting join is a hash join (never cartesian), the AUC/gain-chart
    aggregations are partial before their bounded-domain windows, the
    ABC windows stay brand-partitioned, and the quantile normalizer
    reuses the range-partitioned id assigner."""
    p268 = _plan(REGISTRY["q268_trigram_search"].spark(spark, SF_DIR))
    assert "CartesianProduct" not in p268
    assert "PythonUDF" not in p268

    p283 = _plan(REGISTRY["q283_roc_auc"].spark(spark, SF_DIR))
    assert "partial_" in p283  # score-domain collapse happens map-side

    p289 = _plan(REGISTRY["q289_gain_chart"].spark(spark, SF_DIR))
    assert "partial_" in p289

    p281 = _plan(REGISTRY["q281_abc_classes"].spark(spark, SF_DIR))
    assert "Exchange SinglePartition" not in p281  # brand-partitioned only

    p293 = _plan(REGISTRY["q293_quantile_normalize"].spark(spark, SF_DIR))
    assert "rangepartitioning" in p293.lower()  # ids.assign_ids_scalable

    # none of the new relational paths fall back to row-at-a-time Python
    for name in (
        "q269_readability",
        "q271_theil_sen",
        "q278_bh_fdr",
        "q283_roc_auc",
        "q294_mann_kendall",
    ):
        assert "PythonUDF" not in _plan(REGISTRY[name].spark(spark, SF_DIR)), name


def test_round6_ops_keep_their_promised_plan_shapes(spark):
    """Round-6 plan pins: the as-of tolerance join stays a window pass
    (no nested loop), stickiness builds its rolling distinct from the
    bounded explode (no range join), the embedding-health centroid and
    the LOO category stats ride broadcasts (never a corpus shuffle
    against a bounded dim)."""
    p409 = _plan(REGISTRY["q409_asof_tolerance_join"].spark(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in p409
    assert "CartesianProduct" not in p409
    p398 = _plan(REGISTRY["q398_stickiness"].spark(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in p398
    assert "Explode" in p398 or "Generate" in p398
    p405 = _plan(REGISTRY["q405_embedding_norms"].spark(spark, SF_DIR))
    assert "BroadcastHashJoin" in p405
    assert "SortMergeJoin" not in p405
    p411 = _plan(REGISTRY["q411_loo_target_encoding"].spark(spark, SF_DIR))
    assert "BroadcastHashJoin" in p411
    assert "SortMergeJoin" not in p411


def test_registry_qids_contiguous_and_docs_in_sync():
    """q-id hygiene: ids run q01..qMAX with no holes (a silent drop or a
    numbering skip would otherwise only surface as count drift rounds
    later), and the query counts stated in README.md / COVERAGE.md equal
    len(REGISTRY) — the docs derive from the registry, not vice versa."""
    import pathlib
    import re as _re

    nums = sorted(
        int(_re.match(r"q(\d+)_", name).group(1)) for name in REGISTRY
    )
    assert nums == list(range(1, len(nums) + 1)), (
        "q-id holes/dups: "
        f"{sorted(set(range(1, max(nums) + 1)) - set(nums))}"
    )
    n_total = len(REGISTRY)
    n_oracle = sum(1 for q in REGISTRY.values() if q.oracle is not None)
    root = pathlib.Path(__file__).resolve().parents[1]
    readme = (root / "README.md").read_text()
    coverage = (root / "COVERAGE.md").read_text()
    assert f"declares {n_total} queries, {n_oracle} oracle-matched" in readme
    assert f"{n_total} declared queries, {n_oracle} oracle-backed" in coverage
