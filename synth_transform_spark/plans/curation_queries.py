"""Curation-audit queries (round 6): per-source quality/diversity
diagnostics a training-data curation run reports - lexical richness,
source-similarity (JSD), Gopher-style rule tables, language-ID
confidence, vocabulary coverage, distinctive-token log-odds.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators import text_analysis
from ..sources.readers import load_table
from .registry import register


# --------------------------------------------------------------------------
# q394 - lexical-richness profile per source: type-token ratio, hapax
# ratio (share of types seen exactly once), Simpson's repeat-rate
# D = sum n_i(n_i-1) / (N(N-1)), and Herdan's C = ln V / ln N. The
# vocabulary-side quality read that q24 (per-doc heuristics) and q151
# (corpus Zipf slope) don't give: synthetic/templated sources show low
# TTR + low hapax + high repeat-rate at any corpus size, which is why
# curation pipelines track it per source.
# Tokenizer: tokens_raw (the ONE shared corpus-statistics tokenizer;
# SQL mirror LIST_FILTER(STRING_SPLIT(...))).
# Parity: V, N, V1 and the Simpson numerator are exact integers; each
# reported stat is a single double expression over them. 4dp.
# Scale: one (source, tok) aggregate (map-side combined), one source
# aggregate. No windows, no corpus-wide sort.
# --------------------------------------------------------------------------
@register(
    "q394_lexical_richness",
    oracle="""
WITH toks AS (
    SELECT source, UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '),
                                      t -> t <> '')) AS tok
    FROM documents
),
freq AS (
    SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS n
    FROM toks GROUP BY source, tok
),
s AS (
    SELECT source,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax,
           CAST(SUM(n * (n - 1)) AS BIGINT) AS rep2
    FROM freq GROUP BY source
)
SELECT source, n_tokens, n_types,
       ROUND(CAST(n_types AS DOUBLE) / n_tokens, 4) AS ttr,
       ROUND(CAST(n_hapax AS DOUBLE) / n_types, 4) AS hapax_ratio,
       ROUND(CAST(rep2 AS DOUBLE) / (CAST(n_tokens AS DOUBLE)
                                     * (n_tokens - 1)), 4) AS simpson_d,
       ROUND(LN(CAST(n_types AS DOUBLE)) / LN(CAST(n_tokens AS DOUBLE)), 4)
           AS herdan_c
FROM s ORDER BY source
""",
    tags=("text-stats", "curation", "A12"),
)
def q394_lexical_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical richness: (source, n_tokens, n_types, ttr,
    hapax_ratio, simpson_d, herdan_c)."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(
            "source",
            F.explode(text_analysis.tokens_raw(F.col("text"))).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    s = freq.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum((F.col("n") == 1).cast("long")).cast("long").alias("n_hapax"),
        F.sum(F.col("n") * (F.col("n") - 1)).cast("long").alias("rep2"),
    )
    return s.select(
        "source",
        "n_tokens",
        "n_types",
        F.round(F.col("n_types").cast("double") / F.col("n_tokens"), 4).alias(
            "ttr"
        ),
        F.round(F.col("n_hapax").cast("double") / F.col("n_types"), 4).alias(
            "hapax_ratio"
        ),
        F.round(
            F.col("rep2").cast("double")
            / (F.col("n_tokens").cast("double") * (F.col("n_tokens") - 1)),
            4,
        ).alias("simpson_d"),
        F.round(
            F.log(F.col("n_types").cast("double"))
            / F.log(F.col("n_tokens").cast("double")),
            4,
        ).alias("herdan_c"),
    ).orderBy("source")


# --------------------------------------------------------------------------
# q397 - pairwise Jensen-Shannon divergence between the per-source
# unigram distributions: the source-similarity matrix a mix designer
# reads before weighting (q156 ranks drift vs the corpus; q216/q223
# weight vs a target; this is every source against every other).
# JSD(p,q) = 0.5 KL(p||m) + 0.5 KL(q||m), m = (p+q)/2, computed over
# the SHARED vocabulary plus closed-form ln2 corrections for each
# side's unshared probability mass (tokens absent from the other side
# contribute exactly p_i ln 2) - no smoothing needed, and JSD stays in
# [0, ln 2].
# Parity: each shared-token term is frozen to integer micro-nats
# (round(1e6 * p * ln(2p/(p+q)))) before the pair sum, so both engines
# sum identical integers; the two unshared-mass corrections are single
# double expressions over exact integer masses with ln 2 as a literal;
# p and q are IEEE divisions of the same integers. 4dp.
# Scale: one (source, tok) aggregate collapses the corpus; the pair
# join is keyed on tok over the vocab-bounded relation (|vocab| x
# |sources|); the source-pair grid is |sources|^2 / 2 rows.
# --------------------------------------------------------------------------
_LN2 = "0.6931471805599453"


@register(
    "q397_source_jsd",
    oracle=f"""
WITH freq AS (
    SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
    FROM (SELECT source, UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '),
                                            t -> t <> '')) AS tok
          FROM documents) t
    GROUP BY source, tok
),
tot AS (
    SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM freq GROUP BY source
),
shared AS (
    SELECT a.source AS sa, b.source AS sb,
           CAST(COUNT(*) AS BIGINT) AS shared_types,
           CAST(SUM(a.c) AS BIGINT) AS ca_sh,
           CAST(SUM(b.c) AS BIGINT) AS cb_sh,
           CAST(SUM(CAST(ROUND(1000000.0 * (CAST(a.c AS DOUBLE) / ta.n)
                * LN((2.0 * (CAST(a.c AS DOUBLE) / ta.n))
                     / ((CAST(a.c AS DOUBLE) / ta.n)
                        + (CAST(b.c AS DOUBLE) / tb.n)))) AS BIGINT))
                AS BIGINT) AS sp_int,
           CAST(SUM(CAST(ROUND(1000000.0 * (CAST(b.c AS DOUBLE) / tb.n)
                * LN((2.0 * (CAST(b.c AS DOUBLE) / tb.n))
                     / ((CAST(a.c AS DOUBLE) / ta.n)
                        + (CAST(b.c AS DOUBLE) / tb.n)))) AS BIGINT))
                AS BIGINT) AS sq_int
    FROM freq a
    JOIN freq b ON b.tok = a.tok AND a.source < b.source
    JOIN tot ta ON ta.source = a.source
    JOIN tot tb ON tb.source = b.source
    GROUP BY a.source, b.source
),
grid AS (
    SELECT x.source AS sa, y.source AS sb, x.n AS na, y.n AS nb
    FROM tot x JOIN tot y ON x.source < y.source
)
SELECT g.sa AS source_a, g.sb AS source_b,
       COALESCE(s.shared_types, 0) AS shared_types,
       ROUND((COALESCE(s.sp_int, 0) + COALESCE(s.sq_int, 0)
              + CAST(ROUND(1000000.0 * (CAST(g.na - COALESCE(s.ca_sh, 0)
                                             AS DOUBLE) / g.na) * {_LN2})
                     AS BIGINT)
              + CAST(ROUND(1000000.0 * (CAST(g.nb - COALESCE(s.cb_sh, 0)
                                             AS DOUBLE) / g.nb) * {_LN2})
                     AS BIGINT)) / 2000000.0, 4) AS jsd
FROM grid g LEFT JOIN shared s ON s.sa = g.sa AND s.sb = g.sb
ORDER BY source_a, source_b
""",
    tags=("text-stats", "curation", "A12"),
)
def q397_source_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source unigram JSD: (source_a, source_b, shared_types,
    jsd)."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(
            "source",
            F.explode(text_analysis.tokens_raw(F.col("text"))).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = freq.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    a = freq.select(
        F.col("source").alias("sa"), "tok", F.col("c").alias("ca")
    )
    b = freq.select(
        F.col("source").alias("sb"),
        F.col("tok").alias("tokb"),
        F.col("c").alias("cb"),
    )
    ta = tot.select(F.col("source").alias("sa"), F.col("n").alias("na"))
    tb = tot.select(F.col("source").alias("sb"), F.col("n").alias("nb"))
    p = F.col("ca").cast("double") / F.col("na")
    q = F.col("cb").cast("double") / F.col("nb")
    shared = (
        a.join(b, (F.col("tokb") == F.col("tok")) & (F.col("sa") < F.col("sb")))
        .join(F.broadcast(ta), "sa")
        .join(F.broadcast(tb), "sb")
        .groupBy("sa", "sb")
        .agg(
            F.count(F.lit(1)).cast("long").alias("shared_types"),
            F.sum("ca").cast("long").alias("ca_sh"),
            F.sum("cb").cast("long").alias("cb_sh"),
            F.sum(
                F.round(1000000.0 * p * F.log((2.0 * p) / (p + q))).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("sp_int"),
            F.sum(
                F.round(1000000.0 * q * F.log((2.0 * q) / (p + q))).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("sq_int"),
        )
    )
    grid = (
        ta.withColumnRenamed("sa", "source")
        .select(F.col("source").alias("ga"), F.col("na"))
        .join(
            tb.withColumnRenamed("sb", "source").select(
                F.col("source").alias("gb"), F.col("nb")
            ),
            F.col("ga") < F.col("gb"),
        )
    )
    ln2 = float(_LN2)
    corr_a = F.round(
        1000000.0
        * ((F.col("na") - F.coalesce("ca_sh", F.lit(0))).cast("double") / F.col("na"))
        * ln2
    ).cast("long")
    corr_b = F.round(
        1000000.0
        * ((F.col("nb") - F.coalesce("cb_sh", F.lit(0))).cast("double") / F.col("nb"))
        * ln2
    ).cast("long")
    return (
        grid.join(
            shared,
            (F.col("sa") == F.col("ga")) & (F.col("sb") == F.col("gb")),
            "left",
        )
        .select(
            F.col("ga").alias("source_a"),
            F.col("gb").alias("source_b"),
            F.coalesce("shared_types", F.lit(0)).cast("long").alias(
                "shared_types"
            ),
            F.round(
                (
                    F.coalesce("sp_int", F.lit(0))
                    + F.coalesce("sq_int", F.lit(0))
                    + corr_a
                    + corr_b
                )
                / 2000000.0,
                4,
            ).alias("jsd"),
        )
        .orderBy("source_a", "source_b")
    )


# --------------------------------------------------------------------------
# q401 - Gopher-style quality-rule audit per source: pass rates for five
# integer-exact curation rules - R1 token-count band (20..1000), R2
# mean-token-length band ([4, 10] chars), R3 stopword evidence
# (>= 2 stopword hits), R4 max-token dominance (most frequent token
# <= 10% of tokens), R5 distinct-token ratio >= 0.4 - plus the share
# passing ALL rules. q24 scores single docs and q337 sequences a filter
# cascade; this is the per-rule-per-source diagnostic table a curation
# run reports (which rule kills which source).
# Parity: every rule is an INTEGER comparison (4n <= chars, 10*mx <= n,
# 5*d >= 2n, hit counts) - no float thresholds anywhere; pass rates are
# single double ratios. 4dp.
# Scale: one exploded (doc, tok) aggregate, one doc rollup, one source
# rollup - uniform keys, no windows.
# --------------------------------------------------------------------------
_GOPHER_STOPS = "'the', 'a', 'and', 'of', 'to', 'in'"


@register(
    "q401_gopher_rules",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, source,
           UNNEST(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                              x -> x <> '')) AS tok
    FROM documents
),
tf AS (
    SELECT doc_id, source, tok, CAST(COUNT(*) AS BIGINT) AS c
    FROM toks GROUP BY doc_id, source, tok
),
d AS (
    SELECT doc_id, source,
           CAST(SUM(c) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS dt,
           CAST(MAX(c) AS BIGINT) AS mx,
           CAST(SUM(c * LENGTH(tok)) AS BIGINT) AS chars,
           CAST(SUM(CASE WHEN tok IN ({_GOPHER_STOPS}) THEN c ELSE 0 END)
                AS BIGINT) AS stop_hits
    FROM tf GROUP BY doc_id, source
),
r AS (
    SELECT source,
           CASE WHEN n >= 20 AND n <= 1000 THEN 1 ELSE 0 END AS r1,
           CASE WHEN 4 * n <= chars AND chars <= 10 * n THEN 1 ELSE 0 END
               AS r2,
           CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS r3,
           CASE WHEN 10 * mx <= n THEN 1 ELSE 0 END AS r4,
           CASE WHEN 5 * dt >= 2 * n THEN 1 ELSE 0 END AS r5
    FROM d
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(CAST(SUM(r1) AS DOUBLE) / COUNT(*), 4) AS word_count_rate,
       ROUND(CAST(SUM(r2) AS DOUBLE) / COUNT(*), 4) AS word_len_rate,
       ROUND(CAST(SUM(r3) AS DOUBLE) / COUNT(*), 4) AS stopword_rate,
       ROUND(CAST(SUM(r4) AS DOUBLE) / COUNT(*), 4) AS dominance_rate,
       ROUND(CAST(SUM(r5) AS DOUBLE) / COUNT(*), 4) AS distinct_rate,
       ROUND(CAST(SUM(r1 * r2 * r3 * r4 * r5) AS DOUBLE) / COUNT(*), 4)
           AS all_rules_rate
FROM r GROUP BY source ORDER BY source
""",
    tags=("curation", "quality", "A12"),
)
def q401_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gopher-rule pass rates: (source, n_docs,
    word_count_rate, word_len_rate, stopword_rate, dominance_rate,
    distinct_rate, all_rules_rate)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.explode(text_analysis.tokens_lower("text")).alias("tok"),
    )
    tf = toks.groupBy("doc_id", "source", "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    stops = [s.strip("' ") for s in _GOPHER_STOPS.split(",")]
    d = tf.groupBy("doc_id", "source").agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("dt"),
        F.max("c").cast("long").alias("mx"),
        F.sum(F.col("c") * F.length("tok")).cast("long").alias("chars"),
        F.sum(
            F.when(F.col("tok").isin(*stops), F.col("c")).otherwise(0)
        )
        .cast("long")
        .alias("stop_hits"),
    )
    r = d.select(
        "source",
        ((F.col("n") >= 20) & (F.col("n") <= 1000)).cast("long").alias("r1"),
        (
            (4 * F.col("n") <= F.col("chars"))
            & (F.col("chars") <= 10 * F.col("n"))
        )
        .cast("long")
        .alias("r2"),
        (F.col("stop_hits") >= 2).cast("long").alias("r3"),
        (10 * F.col("mx") <= F.col("n")).cast("long").alias("r4"),
        (5 * F.col("dt") >= 2 * F.col("n")).cast("long").alias("r5"),
    )
    cnt = F.count(F.lit(1))
    return (
        r.groupBy("source")
        .agg(
            cnt.cast("long").alias("n_docs"),
            F.round(F.sum("r1").cast("double") / cnt, 4).alias(
                "word_count_rate"
            ),
            F.round(F.sum("r2").cast("double") / cnt, 4).alias(
                "word_len_rate"
            ),
            F.round(F.sum("r3").cast("double") / cnt, 4).alias(
                "stopword_rate"
            ),
            F.round(F.sum("r4").cast("double") / cnt, 4).alias(
                "dominance_rate"
            ),
            F.round(F.sum("r5").cast("double") / cnt, 4).alias(
                "distinct_rate"
            ),
            F.round(
                F.sum(
                    F.col("r1") * F.col("r2") * F.col("r3") * F.col("r4")
                    * F.col("r5")
                ).cast("double")
                / cnt,
                4,
            ).alias("all_rules_rate"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q402 - language-ID confidence audit per source: the marker-lexicon
# scorer's accuracy against the gold `lang` column, the mean top1-top2
# score margin, and the share of zero-margin (ambiguous) docs - the
# confidence read that decides whether q25's cheap scorer is safe for a
# source or needs the gated model path (q245 measures document-level
# language MIXING; this measures classifier confidence).
# Parity: scores and margins are exact integer hit counts (the q25
# lexicon); accuracy/margin/ambiguity are single double ratios. 4dp.
# Scale: one narrow array pass per doc (JVM expressions), one source
# rollup. No joins, no windows.
# --------------------------------------------------------------------------
def _langid_margin_oracle() -> str:
    langs = sorted(text_analysis.LANG_MARKERS)
    score_exprs = []
    for lg in langs:
        markers = ", ".join(f"'{m}'" for m in text_analysis.LANG_MARKERS[lg])
        score_exprs.append(
            f"LEN(LIST_FILTER(toks, x -> x IN ({markers}))) AS score_{lg}"
        )
    greatest = "GREATEST(" + ", ".join(f"score_{lg}" for lg in langs) + ")"
    case = " ".join(f"WHEN score_{lg} = best THEN '{lg}'" for lg in langs)
    arr = "[" + ", ".join(f"score_{lg}" for lg in langs) + "]"
    return f"""
WITH t AS (
    SELECT doc_id, source, lang,
           LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> x <> '') AS toks
    FROM documents
),
s AS (
    SELECT doc_id, source, lang, {", ".join(score_exprs)} FROM t
),
g AS (
    SELECT *, {greatest} AS best,
           LIST_SORT({arr}) AS sorted_scores
    FROM s
),
p AS (
    SELECT source,
           CASE WHEN (CASE {case} END) = lang THEN 1 ELSE 0 END AS hit,
           best - sorted_scores[-2] AS margin
    FROM g
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(CAST(SUM(hit) AS DOUBLE) / COUNT(*), 4) AS accuracy,
       ROUND(CAST(SUM(margin) AS DOUBLE) / COUNT(*), 4) AS mean_margin,
       ROUND(CAST(SUM(CASE WHEN margin = 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 4) AS ambiguous_share
FROM p GROUP BY source ORDER BY source
"""


@register(
    "q402_langid_margin",
    oracle=_langid_margin_oracle(),
    tags=("text-langid", "quality", "A12"),
)
def q402_langid_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lang-ID confidence audit: (source, n_docs, accuracy, mean_margin,
    ambiguous_share)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = text_analysis.tokens_lower("text")
    langs = sorted(text_analysis.LANG_MARKERS)
    scores = [
        F.size(
            F.filter(
                toks,
                lambda t: t.isin(*text_analysis.LANG_MARKERS[lg]),
            )
        ).alias(f"score_{lg}")
        for lg in langs
    ]
    s = docs.select("doc_id", "source", "lang", *scores)
    best = F.greatest(*[F.col(f"score_{lg}") for lg in langs])
    pred = F.coalesce(
        *[F.when(F.col(f"score_{lg}") == best, F.lit(lg)) for lg in langs]
    )
    sorted_scores = F.sort_array(
        F.array(*[F.col(f"score_{lg}") for lg in langs])
    )
    p = s.select(
        "source",
        (pred == F.col("lang")).cast("long").alias("hit"),
        (best - F.element_at(sorted_scores, -2)).alias("margin"),
    )
    cnt = F.count(F.lit(1))
    return (
        p.groupBy("source")
        .agg(
            cnt.cast("long").alias("n_docs"),
            F.round(F.sum("hit").cast("double") / cnt, 4).alias("accuracy"),
            F.round(F.sum("margin").cast("double") / cnt, 4).alias(
                "mean_margin"
            ),
            F.round(
                F.sum((F.col("margin") == 0).cast("long")).cast("double")
                / cnt,
                4,
            ).alias("ambiguous_share"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q404 - vocabulary coverage curve: the share of all corpus tokens
# covered by the top-V vocabulary for V in (10, 20, 30) - the
# tokenizer-budget read (how big must a vocab be before OOV mass is
# negligible; q141 reports the OOV rate at ONE vocab, q239 fertility
# per language - this is the curve the budget is chosen from).
# Parity: token counts exact; the rank window orders by (count desc,
# token asc); coverage is one double ratio. 4dp.
# Scale: one token aggregate; the rank window runs over the VOCABULARY
# relation (lint-allowlisted bounded exception, q151's class).
# --------------------------------------------------------------------------
_COVERAGE_VS = (10, 20, 30)


@register(
    "q404_vocab_coverage",
    oracle=f"""
WITH freq AS (
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> ''))
            AS tok
        FROM documents) t
    GROUP BY tok
),
ranked AS (
    SELECT n, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, tok ASC) AS BIGINT)
               AS rk
    FROM freq
),
vs AS (SELECT UNNEST([{", ".join(str(v) for v in _COVERAGE_VS)}])
           AS vocab_size),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_types FROM ranked)
SELECT CAST(v.vocab_size AS BIGINT) AS vocab_size,
       t.n_types,
       CAST(SUM(CASE WHEN r.rk <= v.vocab_size THEN r.n ELSE 0 END)
            AS BIGINT) AS covered_tokens,
       t.total_tokens,
       ROUND(CAST(SUM(CASE WHEN r.rk <= v.vocab_size THEN r.n ELSE 0 END)
                  AS DOUBLE) / t.total_tokens, 4) AS coverage
FROM vs v CROSS JOIN tot t CROSS JOIN ranked r
GROUP BY v.vocab_size, t.n_types, t.total_tokens
ORDER BY vocab_size
""",
    tags=("curation", "tokenizer", "A11"),
)
def q404_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-V vocabulary coverage: (vocab_size, n_types, covered_tokens,
    total_tokens, coverage)."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(
            F.explode(text_analysis.tokens_raw(F.col("text"))).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ranked = freq.select(
        "n",
        F.row_number()
        .over(Window.orderBy(F.desc("n"), F.asc("tok")))
        .cast("long")
        .alias("rk"),
    )
    vs = spark.createDataFrame(
        [(v,) for v in _COVERAGE_VS], "vocab_size long"
    )
    tot = ranked.agg(
        F.sum("n").cast("long").alias("total_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
    )
    return (
        vs.crossJoin(F.broadcast(tot))
        .crossJoin(ranked)
        .groupBy("vocab_size", "n_types", "total_tokens")
        .agg(
            F.sum(
                F.when(F.col("rk") <= F.col("vocab_size"), F.col("n"))
                .otherwise(0)
            )
            .cast("long")
            .alias("covered_tokens"),
            F.round(
                F.sum(
                    F.when(F.col("rk") <= F.col("vocab_size"), F.col("n"))
                    .otherwise(0)
                ).cast("double")
                / F.max("total_tokens"),
                4,
            ).alias("coverage"),
        )
        .select(
            "vocab_size",
            "n_types",
            "covered_tokens",
            "total_tokens",
            "coverage",
        )
        .orderBy("vocab_size")
    )


# --------------------------------------------------------------------------
# q406 - distinctive tokens per source by smoothed log-odds (Monroe et
# al.'s "fightin' words" with a flat alpha=1 Dirichlet prior): for each
# source, the top-5 tokens most over-represented vs the REST of the
# corpus - the interpretable "what makes this source different" table
# read next to q397's JSD distances (JSD says HOW FAR apart; this says
# WHICH tokens).
# Parity: all counts exact integers; the log-odds is frozen to 6dp
# BEFORE ranking so both engines order identical values (count-desc +
# token-asc tiebreak inside equal frozen scores). 4dp output.
# Scale: one (source, token) aggregate + a vocab-bounded rest-of-corpus
# join; the rank window partitions by SOURCE over the vocab relation.
# --------------------------------------------------------------------------
_LOGODDS_TOPK = 5


@register(
    "q406_source_log_odds",
    oracle=f"""
WITH freq AS (
    SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
    FROM (SELECT source, UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '),
                                            t -> t <> '')) AS tok
          FROM documents) t
    GROUP BY source, tok
),
stot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ns FROM freq
         GROUP BY source),
gtok AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS ct FROM freq GROUP BY tok),
gtot AS (SELECT CAST(SUM(c) AS BIGINT) AS nt FROM freq),
lo AS (
    SELECT f.source, f.tok, f.c,
           ROUND(LN((f.c + 1.0) / (s.ns - f.c + 1.0))
                 - LN((g.ct - f.c + 1.0) / (t.nt - s.ns - (g.ct - f.c)
                                            + 1.0)), 6) AS delta
    FROM freq f
    JOIN stot s ON s.source = f.source
    JOIN gtok g ON g.tok = f.tok
    CROSS JOIN gtot t
),
rk AS (
    SELECT source, tok, c, delta,
           CAST(ROW_NUMBER() OVER (PARTITION BY source
                                   ORDER BY delta DESC, tok ASC)
                AS BIGINT) AS rank
    FROM lo
)
SELECT source, rank, tok, c AS n_in_source, ROUND(delta, 4) AS log_odds
FROM rk WHERE rank <= {_LOGODDS_TOPK}
ORDER BY source, rank
""",
    tags=("curation", "text-stats", "A11"),
)
def q406_source_log_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 distinctive tokens per source by smoothed log-odds:
    (source, rank, tok, n_in_source, log_odds)."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(
            "source",
            F.explode(text_analysis.tokens_raw(F.col("text"))).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stot = freq.groupBy("source").agg(F.sum("c").cast("long").alias("ns"))
    gtok = freq.groupBy("tok").agg(F.sum("c").cast("long").alias("ct"))
    gtot = freq.agg(F.sum("c").cast("long").alias("nt"))
    delta = F.round(
        F.log(
            (F.col("c") + 1.0) / (F.col("ns") - F.col("c") + 1.0)
        )
        - F.log(
            (F.col("ct") - F.col("c") + 1.0)
            / (
                F.col("nt")
                - F.col("ns")
                - (F.col("ct") - F.col("c"))
                + 1.0
            )
        ),
        6,
    )
    lo = (
        freq.join(F.broadcast(stot), "source")
        .join(F.broadcast(gtok), "tok")
        .crossJoin(F.broadcast(gtot))
        .select("source", "tok", "c", delta.alias("delta"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("delta"), F.asc("tok"))
    return (
        lo.select(
            "source",
            F.row_number().over(w).cast("long").alias("rank"),
            "tok",
            F.col("c").alias("n_in_source"),
            F.round("delta", 4).alias("log_odds"),
        )
        .filter(F.col("rank") <= _LOGODDS_TOPK)
        .orderBy("source", "rank")
    )


# --------------------------------------------------------------------------
# q429 - RAG/pretraining chunking-overhead audit: for a grid of chunk
# sizes with 25% overlap (size s, stride 3s/4), per source: how many
# chunks the corpus shards into, how many tokens the chunker EMITS
# (originals + re-emitted overlap tokens), and the emitted/original
# blow-up ratio - the storage/compute overhead term a chunking config
# costs at 100 TB, decided BEFORE running the chunker. Closed form per
# doc: k = ceil((T-s)/stride) full strides when T > s else 0, chunks =
# k+1, emitted = T + k*(s - stride); empty docs contribute nothing.
# Parity: all integer arithmetic (floor division on positives) until
# the single 4dp ratio; the size grid is ONE literal coalesced frame.
# Scale: per-doc token count (one projection, no explode - LEN of the
# split array), 3-row broadcast grid crossJoin, one (source, size)
# aggregate. No windows, no corpus sort.
# --------------------------------------------------------------------------
_CHUNK_GRID = ((128, 96), (256, 192), (512, 384))


@register(
    "q429_chunk_overlap_audit",
    oracle=f"""
WITH t AS (
    SELECT source,
           CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> ''))
                AS BIGINT) AS tok
    FROM documents
),
grid AS (
    SELECT * FROM (VALUES {", ".join(f"({s}, {st})" for s, st in _CHUNK_GRID)})
        AS g(size, stride)
),
perdoc AS (
    SELECT t.source, g.size, t.tok,
           CASE WHEN t.tok = 0 THEN 0
                WHEN t.tok > g.size
                THEN (t.tok - g.size + g.stride - 1) // g.stride + 1
                ELSE 1 END AS chunks,
           CASE WHEN t.tok = 0 THEN 0
                WHEN t.tok > g.size
                THEN t.tok + ((t.tok - g.size + g.stride - 1) // g.stride)
                     * (g.size - g.stride)
                ELSE t.tok END AS emitted
    FROM t CROSS JOIN grid g
)
SELECT source,
       CAST(size AS BIGINT) AS chunk_size,
       CAST(SUM(chunks) AS BIGINT) AS n_chunks,
       CAST(SUM(tok) AS BIGINT) AS tokens_in,
       CAST(SUM(emitted) AS BIGINT) AS tokens_emitted,
       ROUND(CAST(SUM(emitted) AS DOUBLE) / SUM(tok), 4) AS blowup
FROM perdoc GROUP BY source, size ORDER BY source, chunk_size
""",
    tags=("training-prep", "curation", "A12"),
)
def q429_chunk_overlap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunking overhead per (source, chunk_size): (source, chunk_size,
    n_chunks, tokens_in, tokens_emitted, blowup) for 25%-overlap chunkers
    of size 128/256/512."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source",
        F.size(text_analysis.tokens_raw(F.col("text"))).cast("long").alias("tok"),
    )
    grid = spark.createDataFrame(
        list(_CHUNK_GRID), "size long, stride long"
    ).coalesce(1)
    k = F.expr("(tok - size + stride - 1) DIV stride")
    perdoc = t.crossJoin(F.broadcast(grid)).select(
        "source",
        "size",
        "tok",
        F.when(F.col("tok") == 0, F.lit(0))
        .when(F.col("tok") > F.col("size"), k + 1)
        .otherwise(F.lit(1))
        .alias("chunks"),
        F.when(F.col("tok") == 0, F.lit(0))
        .when(
            F.col("tok") > F.col("size"),
            F.col("tok") + k * (F.col("size") - F.col("stride")),
        )
        .otherwise(F.col("tok"))
        .alias("emitted"),
    )
    return (
        perdoc.groupBy("source", "size")
        .agg(
            F.sum("chunks").cast("long").alias("n_chunks"),
            F.sum("tok").cast("long").alias("tokens_in"),
            F.sum("emitted").cast("long").alias("tokens_emitted"),
            F.round(
                F.sum("emitted").cast("double") / F.sum("tok"), 4
            ).alias("blowup"),
        )
        .select(
            "source",
            F.col("size").cast("long").alias("chunk_size"),
            "n_chunks",
            "tokens_in",
            "tokens_emitted",
            "blowup",
        )
        .orderBy("source", "chunk_size")
    )


# --------------------------------------------------------------------------
# q447 - Burrows' Delta between sources (stylometry): z-score each
# source's relative frequency of the 30 most common corpus tokens
# (the "function words" - style, not topic), then Delta(a, b) = mean
# |z_a - z_b| over those tokens. The classic authorship/provenance
# distance: two sources produced by the same generator/template score a
# small Delta even when their topics differ - the metadata-free dual of
# q397's content-level JSD and a direct synthetic-content fingerprint
# for curation.
# Parity: per-source relative frequencies are frozen to 1e6
# micro-integers (exact count ratios) — the coarser grid keeps
# SUM(fu*fu) <= k * 1e12 inside int64 up to ~1e6 sources (a 1e9 freeze
# wraps silently on Spark near 20 sources for a one-token-dominated
# corpus); token mean/std across sources come from exact integer sums
# over the |sources| relation; per-token |z_a - z_b| terms are
# micro-rounded before the 30-term mean.
# Scale: one (source, token) aggregate (map-side combined), a 30-row
# TakeOrdered vocabulary cut, then everything lives on the
# |sources| x 30 grid and its |sources|^2/2 x 30 pair relation - all
# broadcast-sized by construction.
# --------------------------------------------------------------------------
_DELTA_TOPK = 30


@register(
    "q447_burrows_delta",
    oracle=f"""
WITH toks AS (
    SELECT source,
           UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS token
    FROM documents
),
top_w AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n
    FROM toks GROUP BY token ORDER BY n DESC, token LIMIT {_DELTA_TOPK}
),
stot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS tot FROM toks GROUP BY source),
cnts AS (
    SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
    FROM toks WHERE token IN (SELECT token FROM top_w)
    GROUP BY source, token
),
grid AS (
    SELECT s.source, w.token, s.tot, COALESCE(c.c, 0) AS c
    FROM stot s CROSS JOIN top_w w
    LEFT JOIN cnts c ON c.source = s.source AND c.token = w.token
),
freq AS (
    SELECT source, token,
           CAST(ROUND(1000000.0 * c / tot) AS BIGINT) AS fu
    FROM grid
),
mom AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS k,
           CAST(SUM(fu) AS BIGINT) AS s1, CAST(SUM(fu * fu) AS BIGINT) AS s2
    FROM freq GROUP BY token
),
z AS (
    SELECT f.source, f.token,
           (f.fu - CAST(m.s1 AS DOUBLE) / m.k)
           / (SQRT(CAST(m.k AS DOUBLE) * m.s2 - CAST(m.s1 AS DOUBLE) * m.s1)
              / m.k) AS zv
    FROM freq f JOIN mom m ON m.token = f.token
    WHERE m.k * m.s2 > m.s1 * m.s1
),
pairs AS (
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(SUM(CAST(ROUND(1000000.0 * ABS(a.zv - b.zv)) AS BIGINT))
                AS BIGINT) AS du,
           CAST(COUNT(*) AS BIGINT) AS k
    FROM z a JOIN z b ON b.token = a.token AND a.source < b.source
    GROUP BY a.source, b.source
)
SELECT source_a, source_b,
       ROUND(CAST(du AS DOUBLE) / 1000000.0 / k, 4) AS delta
FROM pairs ORDER BY delta, source_a, source_b
""",
    tags=("curation", "quality", "A12"),
)
def q447_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stylometric Burrows' Delta for every source pair over the top-30
    corpus tokens: (source_a, source_b, delta), most similar first."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(text_analysis.tokens_raw(F.col("text"))).alias("token"),
    )
    top_w = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(_DELTA_TOPK)
    )
    stot = toks.groupBy("source").agg(F.count(F.lit(1)).alias("tot"))
    cnts = (
        toks.join(F.broadcast(top_w.select("token")), "token")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    grid = (
        stot.crossJoin(F.broadcast(top_w.select("token")))
        .join(F.broadcast(cnts), ["source", "token"], "left")
        .select(
            "source", "token", "tot", F.coalesce("c", F.lit(0)).alias("c")
        )
    )
    freq = grid.select(
        "source",
        "token",
        F.round(1000000.0 * F.col("c") / F.col("tot")).cast("long").alias("fu"),
    )
    mom = freq.groupBy("token").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("fu").alias("s1"),
        F.sum(F.col("fu") * F.col("fu")).alias("s2"),
    )
    z = freq.join(F.broadcast(mom), "token").filter(
        F.col("k") * F.col("s2") > F.col("s1") * F.col("s1")
    ).select(
        "source",
        "token",
        (
            (F.col("fu") - F.col("s1").cast("double") / F.col("k"))
            / (
                F.sqrt(
                    F.col("k").cast("double") * F.col("s2")
                    - F.col("s1").cast("double") * F.col("s1")
                )
                / F.col("k")
            )
        ).alias("zv"),
    )
    a = z.select(
        F.col("source").alias("source_a"), "token", F.col("zv").alias("za")
    )
    b = z.select(
        F.col("source").alias("source_b"), "token", F.col("zv").alias("zb")
    )
    pairs = (
        a.join(F.broadcast(b), "token")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.sum(
                F.round(1000000.0 * F.abs(F.col("za") - F.col("zb"))).cast("long")
            ).alias("du"),
            F.count(F.lit(1)).alias("k"),
        )
    )
    return pairs.select(
        "source_a",
        "source_b",
        F.round(F.col("du").cast("double") / 1000000.0 / F.col("k"), 4).alias(
            "delta"
        ),
    ).orderBy("delta", "source_a", "source_b")


# --------------------------------------------------------------------------
# q451 - token burstiness (Church-Gale): for the 20 most document-
# frequent tokens, compare collection frequency against document
# frequency. burstiness = cf/df (mean occurrences per document that
# HAS the token) and the adaptation probability p_repeat = 1 - df/cf
# (chance the next occurrence is a repeat within a document). The
# unigram-independence violation detector for LM data: function words
# sit near cf/df = 1 while templated/boilerplate tokens burst - a
# complementary fingerprint to q235's boilerplate templates and q75's
# within-doc repetition.
# Parity: cf, df, and n_docs are exact integers; the two ratios are
# single 4dp double expressions.
# Scale: one (token, doc) distinct aggregate and one token aggregate
# (both map-side combined), then a 20-row TakeOrdered cut. No windows.
# --------------------------------------------------------------------------
@register(
    "q451_token_burstiness",
    oracle="""
WITH toks AS (
    SELECT doc_id,
           UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS token
    FROM documents
),
stats AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS cf,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
    FROM toks GROUP BY token
),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
SELECT s.token, s.cf, s.df,
       ROUND(CAST(s.df AS DOUBLE) / nd.n_docs, 4) AS doc_rate,
       ROUND(CAST(s.cf AS DOUBLE) / s.df, 4) AS burstiness,
       ROUND(1.0 - CAST(s.df AS DOUBLE) / s.cf, 4) AS p_repeat
FROM stats s CROSS JOIN nd
ORDER BY s.df DESC, s.token LIMIT 20
""",
    tags=("curation", "quality", "A5"),
)
def q451_token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church-Gale burstiness of the 20 most document-frequent tokens:
    (token, cf, df, doc_rate, burstiness, p_repeat)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(text_analysis.tokens_raw(F.col("text"))).alias("token"),
    )
    stats = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("cf"),
        F.countDistinct("doc_id").alias("df"),
    )
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        stats.crossJoin(F.broadcast(nd))
        .select(
            "token",
            F.col("cf").cast("long").alias("cf"),
            F.col("df").cast("long").alias("df"),
            F.round(F.col("df").cast("double") / F.col("n_docs"), 4).alias(
                "doc_rate"
            ),
            F.round(F.col("cf").cast("double") / F.col("df"), 4).alias(
                "burstiness"
            ),
            F.round(
                F.lit(1.0) - F.col("df").cast("double") / F.col("cf"), 4
            ).alias("p_repeat"),
        )
        .orderBy(F.desc("df"), "token")
        .limit(20)
    )


# --------------------------------------------------------------------------
# q455 - quality-filter agreement audit: run TWO independent document
# filters - A: Gopher-style length heuristics (token count in [50,
# 1000], mean token length in [3, 10]); B: CCNet-style LM keep (q93's
# unigram avg-logprob above the corpus 25th percentile) - and report
# their per-source agreement plus global Cohen's kappa. The question a
# curation team asks before swapping filters: do they keep the SAME
# documents, or merely the same volume? (q372 audits one filter across
# subgroups; this audits two filters against each other.)
# Parity: doc scores are frozen to the 4dp grid q93 ships (then scaled
# to exact ints); the threshold is the q391 quantised-quantile compared
# at integer scale; contingency cells and kappa inputs are exact
# integers; kappa and rates are single 4dp double expressions.
# Scale: one vocab aggregate + one doc-keyed aggregate (q93's plan), a
# 1-row broadcast threshold, one (source) rollup. No windows.
# --------------------------------------------------------------------------
@register(
    "q455_filter_agreement",
    oracle="""
WITH toks AS (
    SELECT doc_id, source,
           UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS token
    FROM documents
),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM toks),
p AS (
    SELECT token, COUNT(*) / tot.n AS p FROM toks CROSS JOIN tot
    GROUP BY token, tot.n
),
docs AS (
    SELECT t.doc_id, t.source,
           CAST(COUNT(*) AS BIGINT) AS n_tok,
           CAST(SUM(LENGTH(t.token)) AS BIGINT) AS n_chars,
           CAST(ROUND(10000.0 * ROUND(AVG(LN(p.p)), 4)) AS BIGINT) AS lp4
    FROM toks t JOIN p ON p.token = t.token
    GROUP BY t.doc_id, t.source
),
thr AS (
    SELECT CAST(ROUND(100.0 * QUANTILE_CONT(CAST(lp4 AS DOUBLE), 0.25))
                AS BIGINT) AS t4
    FROM docs
),
flags AS (
    SELECT d.source,
           CASE WHEN d.n_tok BETWEEN 50 AND 1000
                 AND 10 * d.n_chars >= 30 * d.n_tok
                 AND 10 * d.n_chars <= 100 * d.n_tok
                THEN 1 ELSE 0 END AS a,
           CASE WHEN 100 * d.lp4 >= thr.t4 THEN 1 ELSE 0 END AS b
    FROM docs d CROSS JOIN thr
),
per_src AS (
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(a * b) AS BIGINT) AS both_keep,
           CAST(SUM(a * (1 - b)) AS BIGINT) AS only_a,
           CAST(SUM((1 - a) * b) AS BIGINT) AS only_b,
           CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS both_drop
    FROM flags GROUP BY source
),
tot2 AS (
    SELECT CAST(SUM(n_docs) AS BIGINT) AS n,
           CAST(SUM(both_keep) AS BIGINT) AS kk,
           CAST(SUM(only_a) AS BIGINT) AS ka,
           CAST(SUM(only_b) AS BIGINT) AS kb,
           CAST(SUM(both_drop) AS BIGINT) AS dd
    FROM per_src
)
SELECT s.source, s.n_docs, s.both_keep, s.only_a, s.only_b, s.both_drop,
       ROUND(CAST(s.both_keep + s.both_drop AS DOUBLE) / s.n_docs, 4)
           AS agree_rate,
       ROUND(((CAST(t.kk + t.dd AS DOUBLE) / t.n)
              - (CAST(t.kk + t.ka AS DOUBLE) / t.n
                 * (CAST(t.kk + t.kb AS DOUBLE) / t.n)
                 + CAST(t.kb + t.dd AS DOUBLE) / t.n
                   * (CAST(t.ka + t.dd AS DOUBLE) / t.n)))
             / (1.0 - (CAST(t.kk + t.ka AS DOUBLE) / t.n
                       * (CAST(t.kk + t.kb AS DOUBLE) / t.n)
                       + CAST(t.kb + t.dd AS DOUBLE) / t.n
                         * (CAST(t.ka + t.dd AS DOUBLE) / t.n))), 4)
           AS kappa_global
FROM per_src s CROSS JOIN tot2 t
ORDER BY s.source
""",
    tags=("curation", "quality", "A12"),
)
def q455_filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agreement between a Gopher-style heuristic filter and a CCNet-style
    LM filter: (source, n_docs, both_keep, only_a, only_b, both_drop,
    agree_rate, kappa_global)."""
    docs_t = load_table(spark, sf_dir, "documents")
    toks = docs_t.select(
        "doc_id",
        "source",
        F.explode(text_analysis.tokens_raw(F.col("text"))).alias("token"),
    )
    total = toks.count()
    p = toks.groupBy("token").agg(
        (F.count(F.lit(1)) / F.lit(float(total))).alias("p")
    )
    docs = (
        toks.join(F.broadcast(p), "token")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum(F.length("token")).alias("n_chars"),
            F.round(10000.0 * F.round(F.avg(F.log("p")), 4))
            .cast("long")
            .alias("lp4"),
        )
    )
    thr = docs.agg(
        F.round(100.0 * F.expr("percentile(CAST(lp4 AS DOUBLE), 0.25)"))
        .cast("long")
        .alias("t4")
    )
    a = (
        F.col("n_tok").between(50, 1000)
        & (10 * F.col("n_chars") >= 30 * F.col("n_tok"))
        & (10 * F.col("n_chars") <= 100 * F.col("n_tok"))
    ).cast("long")
    b = (100 * F.col("lp4") >= F.col("t4")).cast("long")
    flags = docs.crossJoin(F.broadcast(thr)).select(
        "source", a.alias("a"), b.alias("b")
    )
    per_src = flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("a") * F.col("b")).alias("both_keep"),
        F.sum(F.col("a") * (1 - F.col("b"))).alias("only_a"),
        F.sum((1 - F.col("a")) * F.col("b")).alias("only_b"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).alias("both_drop"),
    )
    tot2 = per_src.agg(
        F.sum("n_docs").alias("n"),
        F.sum("both_keep").alias("kk"),
        F.sum("only_a").alias("ka"),
        F.sum("only_b").alias("kb"),
        F.sum("both_drop").alias("dd"),
    )
    n = F.col("n")
    po = (F.col("kk") + F.col("dd")).cast("double") / n
    pe = (F.col("kk") + F.col("ka")).cast("double") / n * (
        (F.col("kk") + F.col("kb")).cast("double") / n
    ) + (F.col("kb") + F.col("dd")).cast("double") / n * (
        (F.col("ka") + F.col("dd")).cast("double") / n
    )
    return (
        per_src.crossJoin(F.broadcast(tot2))
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("both_keep").cast("long").alias("both_keep"),
            F.col("only_a").cast("long").alias("only_a"),
            F.col("only_b").cast("long").alias("only_b"),
            F.col("both_drop").cast("long").alias("both_drop"),
            F.round(
                (F.col("both_keep") + F.col("both_drop")).cast("double")
                / F.col("n_docs"),
                4,
            ).alias("agree_rate"),
            F.round((po - pe) / (F.lit(1.0) - pe), 4).alias("kappa_global"),
        )
        .orderBy("source")
    )
