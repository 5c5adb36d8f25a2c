"""Corpus-level span deduplication (round 5).

Two training-data curation operators the document-level dedup family
(q04 exact, q27 MinHash, q28/q56 SimHash, q38 embedding) does not cover —
duplication INSIDE and ACROSS documents at sub-document granularity:

- q115: segment-level exact dedup (the C4/RefinedWeb "remove repeated
  lines across the corpus" pass).  This corpus has no newlines, so the
  unit is a fixed 10-token segment — the same operation with a
  deterministic segmenter.  First occurrence (lowest (doc_id, seg_idx))
  wins; every later identical segment is dropped and each doc's surviving
  text is reassembled in order.
- q116: cross-document repeated n-gram spans (the detection half of
  suffix-array substring dedup, Lee et al. 2022 "Deduplicating Training
  Data Makes Language Models Better" — n-gram table approximation):
  8-grams occurring in ≥3 distinct docs, with doc- and occurrence-counts.

100 TB posture: q115 is one shuffle on the segment hash (window
rank-first) + one shuffle on doc_id to reassemble — both keys uniform
(segments are content-hashed; docs are the natural unit).  q116 is
explode → one grouped aggregation on the gram; count(distinct doc_id)
uses the two-phase partial-distinct plan.  The true suffix-array method
needs a global sort (Spark: repartitionByRange on suffix prefix) — the
n-gram table form trades that for a bounded-width shuffle, the standard
production compromise.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators.text_analysis import tokens_lower, tokens_raw
from ..sources.readers import ensure_parallelism, load_table
from .registry import register

SEG_TOKENS = 10
NGRAM_N = 8
MIN_DOCS = 3


@register(
    "q115_segment_dedup",
    oracle=f"""
WITH docs AS (
    SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '') AS w
    FROM documents
),
segs AS (
    SELECT doc_id, i AS seg_idx,
           ARRAY_TO_STRING(w[i * {SEG_TOKENS} + 1 : i * {SEG_TOKENS} + {SEG_TOKENS}], ' ') AS seg
    FROM docs, UNNEST(GENERATE_SERIES(0, CAST(CEIL(LEN(w) / {SEG_TOKENS}.0) AS INT) - 1)) AS t(i)
    WHERE LEN(w) > 0
),
ranked AS (
    SELECT doc_id, seg_idx, seg,
           ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
    FROM segs
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_segs,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COALESCE(STRING_AGG(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY seg_idx), '') AS kept_text
FROM ranked
GROUP BY doc_id
ORDER BY doc_id
""",
    tags=("corpus-dedup", "A4", "U4"),
)
def q115_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-level segment dedup with document reassembly.

    Plan: segment (narrow per-row transform) → explode → rank-first window
    partitioned by the segment string (ONE shuffle, content-hashed key so
    uniform unless a segment is pathologically viral) → per-doc reassembly
    (one shuffle on doc_id; surviving segments re-ordered by seg_idx
    inside an array sort, not a global sort).
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens_raw(F.col("text")).alias("w")
    ).filter(F.size("w") > 0)
    n_segs = F.ceil(F.size("w") / F.lit(float(SEG_TOKENS))).cast("int")
    segs = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_segs - 1),
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("w"), i * SEG_TOKENS + 1, SEG_TOKENS)
                ),
            )
        ).alias("seg_idx", "seg"),
    )
    w_first = Window.partitionBy("seg").orderBy("doc_id", "seg_idx")
    ranked = segs.withColumn("rn", F.row_number().over(w_first))
    kept_struct = F.sort_array(
        F.collect_list(
            F.when(F.col("rn") == 1, F.struct("seg_idx", "seg"))
        )
    )
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
            F.concat_ws(
                " ", F.transform(kept_struct, lambda s: s.getField("seg"))
            ).alias("kept_text"),
        )
        .orderBy("doc_id")
    )


@register(
    "q116_repeated_ngrams",
    oracle=f"""
WITH docs AS (
    SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '') AS w
    FROM documents
),
grams AS (
    SELECT doc_id, ARRAY_TO_STRING(w[i + 1 : i + {NGRAM_N}], ' ') AS gram
    FROM docs, UNNEST(GENERATE_SERIES(0, LEN(w) - {NGRAM_N})) AS t(i)
    WHERE LEN(w) >= {NGRAM_N}
)
SELECT gram,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM grams
GROUP BY gram
HAVING COUNT(DISTINCT doc_id) >= {MIN_DOCS}
ORDER BY n_docs DESC, n_occurrences DESC, gram ASC
LIMIT 100
""",
    tags=("corpus-dedup", "A5"),
)
def q116_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated 8-gram spans (substring-dedup detection).

    Positional n-grams (NOT distinct-per-doc: occurrence counts matter
    here), exploded then aggregated once on the gram; the distinct-doc
    count runs as Spark's two-phase partial-distinct aggregate.  Top-100
    with full-key tie-break executes as TakeOrderedAndProject.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens_raw(F.col("text")).alias("w")
    ).filter(F.size("w") >= NGRAM_N)
    grams = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("w") - NGRAM_N),
                lambda i: F.concat_ws(" ", F.slice(F.col("w"), i + 1, NGRAM_N)),
            )
        ).alias("gram"),
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= MIN_DOCS)
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), F.asc("gram"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q218 — content-defined chunking (CDC) + chunk-level cross-doc dedup: the
# rsync/FastCDC idea applied at word granularity, the chunking tier used by
# dataset pipelines so that chunk boundaries MOVE WITH CONTENT — an insert
# near the top of a document shifts every fixed-size window but leaves all
# content-defined chunks after the edit identical, so chunk-hash dedup
# still hits. A word w closes a chunk when md5(w) % DIVISOR == 0
# (E[chunk] = DIVISOR words); each chunk's fingerprint is the md5 of its
# space-joined words; a chunk is "shared" when its fingerprint occurs in
# more than one distinct document.
# Per doc: (doc_id, n_chunks, n_shared, shared_frac).
#
# 100 TB posture: the boundary test is a narrow per-token expression; the
# chunk index is a per-DOC running sum (window partitioned by doc_id — the
# natural unit, never global); fingerprints are one uniform content-hash
# shuffle; the share join is fingerprint-keyed. No quadratic term at all —
# this is what makes CDC the scale path vs all-pairs text comparison.
# ---------------------------------------------------------------------------
CDC_DIVISOR = 16


@register(
    "q218_cdc_chunk_dedup",
    oracle=f"""
WITH toks AS (
    SELECT doc_id,
           UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS tok,
           GENERATE_SUBSCRIPTS(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> ''), 1) AS i
    FROM documents
),
marked AS (
    SELECT doc_id, tok, i,
           CASE WHEN CAST(('0x' || SUBSTR(MD5(tok), 1, 8))::UBIGINT AS BIGINT)
                     % {CDC_DIVISOR} = 0 THEN 1 ELSE 0 END AS is_b
    FROM toks
),
chunked AS (
    SELECT doc_id, tok, i,
           SUM(is_b) OVER (PARTITION BY doc_id ORDER BY i) - is_b AS chunk_idx
    FROM marked
),
chunks AS (
    SELECT doc_id, chunk_idx,
           MD5(STRING_AGG(tok, ' ' ORDER BY i)) AS fp
    FROM chunked GROUP BY doc_id, chunk_idx
),
shared AS (
    SELECT fp, COUNT(DISTINCT doc_id) AS n_docs FROM chunks GROUP BY fp
)
SELECT c.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN s.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       ROUND(SUM(CASE WHEN s.n_docs > 1 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 4) AS shared_frac
FROM chunks c JOIN shared s ON s.fp = c.fp
GROUP BY c.doc_id
""",
    tags=("dedup-chunk", "training-prep", "W2"),
)
def q218_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking + chunk-hash cross-doc dedup:
    (doc_id, n_chunks, n_shared, shared_frac). Boundary = md5(word) %
    DIVISOR == 0 (boundary word CLOSES its chunk); fingerprint = md5 of
    the space-joined chunk."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(tokens_raw(F.col("text"))).alias("i", "tok")
    ).select("doc_id", (F.col("i") + 1).alias("i"), "tok")
    is_b = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
        % CDC_DIVISOR
        == 0
    ).cast("long")
    w = Window.partitionBy("doc_id").orderBy("i")
    chunked = toks.withColumn("is_b", is_b).withColumn(
        "chunk_idx", F.sum("is_b").over(w) - F.col("is_b")
    )
    chunks = chunked.groupBy("doc_id", "chunk_idx").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col("i"), F.col("tok")))),
                    lambda s: s["tok"],
                ),
                " ",
            )
        ).alias("fp")
    )
    shared = chunks.groupBy("fp").agg(F.countDistinct("doc_id").alias("n_docs"))
    return (
        chunks.join(shared, "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("n_docs") > 1).cast("long")).alias("n_shared"),
            F.round(
                F.sum((F.col("n_docs") > 1).cast("long"))
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("shared_frac"),
        )
    )


# ---------------------------------------------------------------------------
# q231 — per-document duplicated-span coverage: the DOCUMENT-level verdict
# built on q116's gram table (Lee et al. 2022 drop the duplicated SPANS;
# pipelines that can't splice text instead drop documents whose duplicated
# coverage is high). For every positional 8-gram of every doc, mark it
# duplicated when the gram occurs in ≥2 distinct docs; report per doc the
# gram count, duplicated count and coverage fraction.
#
# 100 TB posture: explode → one grouped agg on the gram (uniform
# content-hash key, two-phase partial distinct) → one gram-keyed join back
# → one doc-keyed agg. No pair join at all — coverage needs only the
# per-gram doc count, which is why this scales where all-pairs text
# comparison cannot.
# ---------------------------------------------------------------------------


@register(
    "q231_span_coverage",
    oracle=f"""
WITH docs AS (
    SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '') AS w
    FROM documents
),
grams AS (
    SELECT doc_id, ARRAY_TO_STRING(w[i + 1 : i + {NGRAM_N}], ' ') AS gram
    FROM docs, UNNEST(GENERATE_SERIES(0, LEN(w) - {NGRAM_N})) AS t(i)
    WHERE LEN(w) >= {NGRAM_N}
),
shared AS (
    SELECT gram, COUNT(DISTINCT doc_id) AS n_docs FROM grams GROUP BY gram
)
SELECT g.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN s.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       ROUND(SUM(CASE WHEN s.n_docs > 1 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 4) AS dup_frac
FROM grams g JOIN shared s ON s.gram = g.gram
GROUP BY g.doc_id
ORDER BY doc_id
""",
    tags=("corpus-dedup", "U4", "A5"),
)
def q231_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-8-gram coverage: (doc_id, n_grams, n_dup,
    dup_frac). Positional grams (occurrences count); a gram is duplicated
    when ≥2 distinct docs contain it. Docs with <8 tokens have no grams
    and are absent — same contract as q116."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens_raw(F.col("text")).alias("w")
    ).filter(F.size("w") >= NGRAM_N)
    grams = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("w") - NGRAM_N),
                lambda i: F.concat_ws(" ", F.slice(F.col("w"), i + 1, NGRAM_N)),
            )
        ).alias("gram"),
    )
    shared = grams.groupBy("gram").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    dup = (F.col("n_docs") > 1).cast("long")
    return (
        grams.join(shared, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(dup).alias("n_dup"),
            F.round(F.sum(dup) / F.count(F.lit(1)).cast("double"), 4).alias(
                "dup_frac"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q230 — the round-5 curation funnel: the NEW operator families composed
# into the one-relation report a data team reads after a corpus build
# (q106's shape, modern-filter edition). Stages apply cumulatively:
#   1 raw         — every document
#   2 perplexity  — q215's CCNet tercile keep (head+middle under the
#                   corpus bigram LM; docs too short to score drop here)
#   3 dsir        — q216's top-quartile DSIR importance selection
#   4 chunk_dedup — q218's CDC verdict: drop docs with > 50% shared chunks
# The Spark side literally COMPOSES the registered queries (semi-join
# chain over their keep-sets); the oracle re-derives each keep-set with
# prefixed CTEs (composing the shared names would collide) and counts the
# same intersections — so the gate verifies the composition, not just the
# parts.
# Scale: each stage is the already-audited plan of its query; the funnel
# adds three doc-keyed semi-joins and four 1-row counts.
# ---------------------------------------------------------------------------
@register(
    "q230_curation_funnel_v2",
    oracle="""
WITH p_toks AS MATERIALIZED (
    SELECT doc_id,
           UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS tok,
           GENERATE_SUBSCRIPTS(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> ''), 1) AS i
    FROM documents
),
p_big AS (
    SELECT a.doc_id, a.tok AS prev, b.tok AS cur
    FROM p_toks a JOIN p_toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
),
p_c2 AS (SELECT prev, cur, COUNT(*) AS n2 FROM p_big GROUP BY prev, cur),
p_c1 AS (SELECT prev, COUNT(*) AS n1 FROM p_big GROUP BY prev),
p_v AS (SELECT COUNT(DISTINCT tok) AS v FROM p_toks),
p_ll AS (
    SELECT c2.prev, c2.cur,
           ROUND(LN((c2.n2 + 1) / CAST(c1.n1 + vn.v AS DOUBLE)), 6) AS lp
    FROM p_c2 c2 JOIN p_c1 c1 ON c1.prev = c2.prev CROSS JOIN p_v vn
),
p_scored AS (
    SELECT b.doc_id, ROUND(EXP(-ROUND(AVG(l.lp), 4)), 4) AS ppl
    FROM p_big b JOIN p_ll l ON l.prev = b.prev AND l.cur = b.cur
    GROUP BY b.doc_id
),
p_bounds AS (SELECT ROUND(QUANTILE_CONT(ppl, 2.0/3), 4) AS t2 FROM p_scored),
ppl_keep AS (
    SELECT s.doc_id FROM p_scored s CROSS JOIN p_bounds b WHERE s.ppl <= b.t2
),
d_lang AS (
    SELECT d.doc_id, d.lang,
           UNNEST(LIST_FILTER(STRING_SPLIT(d.text, ' '), t -> t <> '')) AS tok
    FROM documents d
),
d_v AS (SELECT COUNT(DISTINCT tok) AS v FROM d_lang),
d_rt AS (SELECT COUNT(*) AS nr FROM d_lang),
d_tt AS (SELECT COUNT(*) AS nt FROM d_lang WHERE lang = 'en'),
d_rc AS (SELECT tok, COUNT(*) AS cr FROM d_lang GROUP BY tok),
d_tc AS (SELECT tok, COUNT(*) AS ct FROM d_lang WHERE lang = 'en' GROUP BY tok),
d_lw AS (
    SELECT r.tok,
           CAST(ROUND((LN((COALESCE(t.ct, 0) + 1) / CAST(tt.nt + vn.v AS DOUBLE))
                 - LN((r.cr + 1) / CAST(rt.nr + vn.v AS DOUBLE))) * 1000000.0)
                AS BIGINT) AS lwi
    FROM d_rc r
    LEFT JOIN d_tc t ON t.tok = r.tok
    CROSS JOIN d_tt tt CROSS JOIN d_rt rt CROSS JOIN d_v vn
),
d_scored AS (
    SELECT k.doc_id,
           CAST(FLOOR(CAST(SUM(l.lwi) AS DOUBLE) / COUNT(*)) AS BIGINT) AS alr
    FROM d_lang k JOIN d_lw l ON l.tok = k.tok
    GROUP BY k.doc_id
),
d_thr AS (SELECT QUANTILE_CONT(alr, 0.75) AS q3 FROM d_scored),
dsir_keep AS (
    SELECT s.doc_id FROM d_scored s CROSS JOIN d_thr t WHERE s.alr >= t.q3
),
c_marked AS (
    SELECT doc_id, tok, i,
           CASE WHEN CAST(('0x' || SUBSTR(MD5(tok), 1, 8))::UBIGINT AS BIGINT)
                     % 16 = 0 THEN 1 ELSE 0 END AS is_b
    FROM p_toks
),
c_chunked AS (
    SELECT doc_id, tok, i,
           SUM(is_b) OVER (PARTITION BY doc_id ORDER BY i) - is_b AS chunk_idx
    FROM c_marked
),
c_chunks AS (
    SELECT doc_id, chunk_idx, MD5(STRING_AGG(tok, ' ' ORDER BY i)) AS fp
    FROM c_chunked GROUP BY doc_id, chunk_idx
),
c_shared AS (SELECT fp, COUNT(DISTINCT doc_id) AS n_docs FROM c_chunks GROUP BY fp),
cdc_keep AS (
    SELECT c.doc_id
    FROM c_chunks c JOIN c_shared s ON s.fp = c.fp
    GROUP BY c.doc_id
    HAVING ROUND(SUM(CASE WHEN s.n_docs > 1 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 4) <= 0.5
),
s2 AS (SELECT doc_id FROM documents WHERE doc_id IN (SELECT doc_id FROM ppl_keep)),
s3 AS (SELECT doc_id FROM s2 WHERE doc_id IN (SELECT doc_id FROM dsir_keep)),
s4 AS (SELECT doc_id FROM s3 WHERE doc_id IN (SELECT doc_id FROM cdc_keep))
SELECT CAST(1 AS BIGINT) AS stage, 'raw' AS name,
       CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs
UNION ALL
SELECT 2, 'perplexity', CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
UNION ALL
SELECT 3, 'dsir', CAST((SELECT COUNT(*) FROM s3) AS BIGINT)
UNION ALL
SELECT 4, 'chunk_dedup', CAST((SELECT COUNT(*) FROM s4) AS BIGINT)
""",
    tags=("training-prep", "quality", "dedup-chunk"),
)
def q230_curation_funnel_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative keep-counts through the round-5 curation filters:
    (stage, name, n_docs) — composes the registered q215/q216/q218
    queries as semi-join stages."""
    from .registry import REGISTRY

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    ppl_keep = (
        REGISTRY["q215_perplexity_filter"].spark(spark, sf_dir)
        .filter(F.col("keep") == 1)
        .select("doc_id")
    )
    dsir_keep = (
        REGISTRY["q216_dsir_weights"].spark(spark, sf_dir)
        .filter(F.col("selected") == 1)
        .select("doc_id")
    )
    cdc_keep = (
        REGISTRY["q218_cdc_chunk_dedup"].spark(spark, sf_dir)
        .filter(F.col("shared_frac") <= 0.5)
        .select("doc_id")
    )
    s2 = docs.join(ppl_keep, "doc_id", "left_semi")
    s3 = s2.join(dsir_keep, "doc_id", "left_semi")
    s4 = s3.join(cdc_keep, "doc_id", "left_semi")
    rows = [
        (1, "raw", docs),
        (2, "perplexity", s2),
        (3, "dsir", s3),
        (4, "chunk_dedup", s4),
    ]
    parts = None
    for stage, name, rel in rows:
        one = rel.agg(F.count(F.lit(1)).alias("n_docs")).select(
            F.lit(stage).cast("long").alias("stage"),
            F.lit(name).alias("name"),
            F.col("n_docs"),
        )
        parts = one if parts is None else parts.unionByName(one)
    return parts


# ---------------------------------------------------------------------------
# q235 — boilerplate template detection: documents sharing an identical
# opening or closing 12-token run (site headers, license footers, scraped
# navigation). Cleaning pipelines strip the shared run from every member;
# this query emits the template groups a curator reviews. Snippets are
# narrow per-row slices; the only shuffle is one grouped aggregation on
# (kind, snippet) — content-hash key, uniform unless a template is truly
# corpus-viral, which is exactly what the report is for.
# ---------------------------------------------------------------------------
_BOILER_TOKENS = 12


@register(
    "q235_boilerplate_templates",
    oracle=f"""
WITH docs AS (
    SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '') AS w
    FROM documents
),
snips AS (
    SELECT doc_id, 'prefix' AS kind,
           ARRAY_TO_STRING(w[1:{_BOILER_TOKENS}], ' ') AS snippet
    FROM docs WHERE LEN(w) > 0
    UNION ALL
    SELECT doc_id, 'suffix',
           ARRAY_TO_STRING(w[GREATEST(LEN(w) - {_BOILER_TOKENS - 1}, 1):LEN(w)], ' ')
    FROM docs WHERE LEN(w) > 0
)
SELECT kind, snippet,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       STRING_AGG(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_list
FROM snips
GROUP BY kind, snippet
HAVING COUNT(*) >= 2
ORDER BY kind, snippet
""",
    tags=("corpus-dedup", "quality", "A4"),
)
def q235_boilerplate_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared opening/closing 12-token runs across ≥2 docs:
    (kind, snippet, n_docs, doc_list) — the template groups a boilerplate
    stripper would remove."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens_raw(F.col("text")).alias("w")
    ).filter(F.size("w") > 0)
    prefix = docs.select(
        "doc_id",
        F.lit("prefix").alias("kind"),
        F.concat_ws(" ", F.slice("w", 1, _BOILER_TOKENS)).alias("snippet"),
    )
    suffix = docs.select(
        "doc_id",
        F.lit("suffix").alias("kind"),
        F.concat_ws(
            " ",
            F.slice(
                "w",
                F.greatest(F.size("w") - (_BOILER_TOKENS - 1), F.lit(1)),
                _BOILER_TOKENS,
            ),
        ).alias("snippet"),
    )
    return (
        prefix.unionByName(suffix)
        .groupBy("kind", "snippet")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
            ).alias("doc_list"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("kind", "snippet")
    )


# --------------------------------------------------------------------------
# q256 — sorted-neighbour prefix dedup (the "sort once, compare adjacent"
# scale pattern): candidates for prefix duplication are found WITHOUT any
# pairwise join by sorting the corpus lexicographically and comparing
# each doc only to its predecessor. Completeness: any pair sharing a
# ≥16-char prefix shares the first-16-chars bucket, and within a bucket
# lexicographic adjacency visits every maximal prefix-run, so runs of
# prefix-dups appear as chains of adjacent pairs. The shared-prefix
# length is bucketed at checkpoints 16/32/64/128/256 (exact LCP needs a
# per-char loop; checkpoint equality is pure SQL on both engines).
# Parity: sort keys (text, doc_id) are a total order; all outputs are
# integers/strings — no float anywhere.
# Scale: the window partitions by the 16-char prefix bucket (never a
# global sort); bucket sizes are bounded by prefix-group cardinality and
# the heavy-bucket case is exactly the boilerplate-prefix case a curator
# wants surfaced. One shuffle total.
# --------------------------------------------------------------------------
@register(
    "q256_prefix_neighbor_dups",
    oracle="""
WITH b AS (
    SELECT doc_id, text, SUBSTR(text, 1, 16) AS bucket FROM documents
),
adj AS (
    SELECT bucket, doc_id, text,
           LAG(doc_id) OVER (PARTITION BY bucket
                             ORDER BY text, doc_id) AS prev_id,
           LAG(text) OVER (PARTITION BY bucket
                           ORDER BY text, doc_id) AS prev_text
    FROM b
)
SELECT prev_id AS doc_a, doc_id AS doc_b,
       CAST(CASE
            WHEN SUBSTR(text, 1, 256) = SUBSTR(prev_text, 1, 256) THEN 256
            WHEN SUBSTR(text, 1, 128) = SUBSTR(prev_text, 1, 128) THEN 128
            WHEN SUBSTR(text, 1, 64) = SUBSTR(prev_text, 1, 64) THEN 64
            WHEN SUBSTR(text, 1, 32) = SUBSTR(prev_text, 1, 32) THEN 32
            ELSE 16 END AS BIGINT) AS lcp_ge
FROM adj
WHERE prev_id IS NOT NULL
ORDER BY doc_a, doc_b
""",
    tags=("dedup-prefix", "W2", "O1"),
)
def q256_prefix_neighbor_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-duplicate candidates via sorted-neighbour comparison:
    (doc_a, doc_b, lcp_ge) — adjacent pairs in (16-char-prefix bucket,
    text, doc_id) order with the shared-prefix checkpoint (16/32/64/128/
    256). Zero pairwise joins — the distributed suffix-dedup shape."""
    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        "doc_id", "text", F.substring("text", 1, 16).alias("bucket")
    )
    w = Window.partitionBy("bucket").orderBy("text", "doc_id")
    adj = b.select(
        "doc_id",
        "text",
        F.lag("doc_id").over(w).alias("prev_id"),
        F.lag("text").over(w).alias("prev_text"),
    )
    lcp = (
        F.when(
            F.substring("text", 1, 256) == F.substring("prev_text", 1, 256),
            256,
        )
        .when(
            F.substring("text", 1, 128) == F.substring("prev_text", 1, 128),
            128,
        )
        .when(F.substring("text", 1, 64) == F.substring("prev_text", 1, 64), 64)
        .when(F.substring("text", 1, 32) == F.substring("prev_text", 1, 32), 32)
        .otherwise(16)
    )
    return (
        adj.filter(F.col("prev_id").isNotNull())
        .select(
            F.col("prev_id").alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
            lcp.cast("long").alias("lcp_ge"),
        )
        .orderBy("doc_a", "doc_b")
    )


_WINNOW_K = 8   # char-gram width (whitespace stripped first, MOSS-style)
_WINNOW_W = 8   # winnowing window: one fingerprint per w consecutive grams
_WINNOW_MIN_SHARED = 12
_WINNOW_MAX_BUCKET = 50


@register(
    "q258_winnowing_fingerprints",
    oracle=f"""
WITH norm AS (
    SELECT doc_id, REPLACE(LOWER(text), ' ', '') AS t FROM documents
),
grams AS (
    SELECT n.doc_id, p.p,
           CAST(('0x' || SUBSTR(MD5(SUBSTR(n.t, p.p, {_WINNOW_K})), 1, 15))::UBIGINT
                AS BIGINT) AS h
    FROM norm n,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(1,
                     GREATEST(LENGTH(n.t) - {_WINNOW_K} + 1, 1))) AS p) p
),
wins AS (
    SELECT doc_id, p,
           MIN(h) OVER (PARTITION BY doc_id ORDER BY p
                        ROWS BETWEEN CURRENT ROW
                        AND {_WINNOW_W - 1} FOLLOWING) AS fp,
           COUNT(*) OVER (PARTITION BY doc_id) AS ng
    FROM grams
),
fps AS (
    SELECT DISTINCT doc_id, fp FROM wins
    WHERE p <= ng - {_WINNOW_W} + 1
),
ok_fp AS (
    SELECT fp FROM fps GROUP BY fp
    HAVING COUNT(*) BETWEEN 2 AND {_WINNOW_MAX_BUCKET}
),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
    FROM fps a
    JOIN ok_fp k ON k.fp = a.fp
    JOIN fps b ON b.fp = a.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, CAST(shared AS BIGINT) AS shared
FROM pairs WHERE shared >= {_WINNOW_MIN_SHARED}
ORDER BY doc_a, doc_b
""",
    tags=("dedup-fingerprint", "lsh", "A5"),
)
def q258_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust-winnowing document fingerprints (Schleimer et al. 2003, the
    MOSS algorithm) + shared-fingerprint pair candidates:
    (doc_a, doc_b, shared) with ≥12 shared fingerprints.

    Pipeline: strip whitespace → 8-char rolling grams → 60-bit md5 hash
    (the q26 compact-hash convention) → per-window minimum over every 8
    consecutive grams (a per-doc ordered window, rows-frame) → distinct
    (doc, fp) → fingerprint-bucket join capped at 50 docs/bucket (the
    max_bucket guard of the LSH family). Guarantees: any substring match
    of length ≥ k + w − 1 = 15 chars shares ≥1 fingerprint.

    Parity: md5 hashes are integers; window minima, distincts and counts
    are integer-exact. Scale: the gram explode is linear in corpus bytes;
    the winnowing window partitions per doc; the candidate join is
    bucketed with a cap — never all-pairs."""
    docs = load_table(spark, sf_dir, "documents")
    norm = docs.select(
        "doc_id", F.replace(F.lower("text"), F.lit(" "), F.lit("")).alias("t")
    )
    grams = norm.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(1),
                F.greatest(F.length("t") - (_WINNOW_K - 1), F.lit(1)),
            )
        ).alias("p"),
        "t",
    ).select(
        "doc_id",
        "p",
        F.conv(
            F.substring(F.md5(F.expr(f"substring(t, p, {_WINNOW_K})")), 1, 15),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    wmin = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.currentRow, _WINNOW_W - 1)
    )
    wdoc = Window.partitionBy("doc_id")
    wins = grams.select(
        "doc_id",
        "p",
        F.min("h").over(wmin).alias("fp"),
        F.count(F.lit(1)).over(wdoc).alias("ng"),
    )
    fps = (
        wins.filter(F.col("p") <= F.col("ng") - (_WINNOW_W - 1))
        .select("doc_id", "fp")
        .distinct()
    )
    ok_fp = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("bn"))
        .filter((F.col("bn") >= 2) & (F.col("bn") <= _WINNOW_MAX_BUCKET))
        .select("fp")
    )
    fa = fps.join(ok_fp, "fp", "left_semi")
    pairs = (
        fa.select("fp", F.col("doc_id").alias("doc_a"))
        .join(fa.select("fp", F.col("doc_id").alias("doc_b")), "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        pairs.filter(F.col("shared") >= _WINNOW_MIN_SHARED)
        .select("doc_a", "doc_b", F.col("shared").cast("long").alias("shared"))
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# q399 - per-source n-gram novelty: for each document, the share of its
# DISTINCT 3-grams that appear in no other document, rolled up per
# source (mean novelty + share of low-novelty docs). The per-document
# quality signal dedup filters threshold on - q116 lists the repeated
# spans themselves (corpus view); this scores each document's
# originality (document view) and aggregates where templated sources
# sink. Docs shorter than 3 tokens drop on both engines.
# Parity: gram document-frequencies and per-doc distinct-gram counts
# are exact integers; per-doc novelty is frozen to micro-units before
# the source mean, so both engines average identical integers. 4dp.
# Scale: one (gram -> distinct-doc-count) aggregate and one join back
# on gram (uniform hash keys; the df table is vocab-scaled) - never a
# doc-pair join.
# --------------------------------------------------------------------------
_NOVELTY_N = 3
_NOVELTY_LOW_MICRO = 500000  # novelty < 0.5 = "mostly seen elsewhere"


@register(
    "q399_ngram_novelty",
    oracle=f"""
WITH docs AS (
    SELECT doc_id, source,
           LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '') AS w
    FROM documents
),
grams AS (
    SELECT DISTINCT doc_id, source,
           ARRAY_TO_STRING(w[i + 1 : i + {_NOVELTY_N}], ' ') AS gram
    FROM docs, UNNEST(GENERATE_SERIES(0, LEN(w) - {_NOVELTY_N})) AS t(i)
    WHERE LEN(w) >= {_NOVELTY_N}
),
df AS (
    SELECT gram, CAST(COUNT(*) AS BIGINT) AS df FROM grams GROUP BY gram
),
per_doc AS (
    SELECT g.doc_id, g.source,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unique,
           CAST(ROUND(1000000.0 * SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END)
                      / COUNT(*)) AS BIGINT) AS nov_micro
    FROM grams g JOIN df d ON d.gram = g.gram
    GROUP BY g.doc_id, g.source
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(CAST(SUM(nov_micro) AS DOUBLE) / COUNT(*) / 1000000.0, 4)
           AS mean_novelty,
       ROUND(CAST(SUM(CASE WHEN nov_micro < {_NOVELTY_LOW_MICRO}
                           THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4)
           AS low_novelty_share
FROM per_doc GROUP BY source ORDER BY source
""",
    tags=("corpus-dedup", "curation", "A12"),
)
def q399_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source 3-gram novelty rollup: (source, n_docs, mean_novelty,
    low_novelty_share).

    Round 11 shape: the old plan joined the exploded gram relation back to
    the gram document-frequency table — re-executing gram generation for
    the second consumer AND shuffling every (doc, gram) string twice (once
    into the df groupBy, once into the join). A df=1 gram belongs to
    exactly ONE doc (its min(doc_id) IS that doc), so per-doc unique-gram
    counts come straight off the df aggregate: filter df=1, count by
    owner. The per-doc distinct-gram total is ``size(array_distinct(...))``
    — a narrow expression, no explode needed. One gram-keyed shuffle total;
    the join back to docs is doc-keyed and novelty-table sized.
    """
    docs = (
        ensure_parallelism(
            load_table(spark, sf_dir, "documents").select(
                "doc_id", "source", "text"
            )
        )
        .select("doc_id", "source", tokens_raw(F.col("text")).alias("w"))
        .filter(F.size("w") >= _NOVELTY_N)
    )
    ga = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size("w") - _NOVELTY_N),
            lambda i: F.concat_ws(" ", F.slice(F.col("w"), i + 1, _NOVELTY_N)),
        )
    )
    base = docs.select("doc_id", "source", F.size(ga).alias("n_grams"))
    uniq = (
        docs.select("doc_id", F.explode(ga).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"), F.min("doc_id").alias("owner"))
        .filter(F.col("df") == 1)
        .groupBy(F.col("owner").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )
    per_doc = base.join(uniq, "doc_id", "left").select(
        "source",
        F.round(
            1000000.0
            * F.coalesce(F.col("n_unique"), F.lit(0).cast("long"))
            / F.col("n_grams")
        )
        .cast("long")
        .alias("nov_micro"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(
                F.sum("nov_micro").cast("double")
                / F.count(F.lit(1))
                / 1000000.0,
                4,
            ).alias("mean_novelty"),
            F.round(
                F.sum(
                    (F.col("nov_micro") < _NOVELTY_LOW_MICRO).cast("long")
                ).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("low_novelty_share"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q403 - duplicate-rate estimation from a fingerprint slice, next to the
# exact answer: sample 1/4 of the FINGERPRINT space (first md5 nibble in
# 0-3) and estimate the corpus duplicate rate from the slice. Because
# every copy of a text shares its fingerprint, a hash-range slice keeps
# duplicate GROUPS intact - the estimator is unbiased, unlike a doc-id
# sample (which splits groups and underestimates). This is the
# plan-before-you-pay primitive for dedup at 100 TB: the slice costs
# 1/4 of a scan and no corpus-wide shuffle, and the query reports
# exactly how close it lands (q04 computes the full answer; q336 plans
# LSH bands; this sizes the dedup before you run it).
# Parity: fingerprints are md5 hex (identical on both engines); all
# counts exact integers; the two rates and the error are single double
# ratios. 4dp.
# Scale: one md5 + predicate pass (the slice needs no shuffle to
# sample), two distinct-count aggregates on uniform hash keys; 1-row
# output.
# --------------------------------------------------------------------------
@register(
    "q403_dup_rate_estimator",
    oracle="""
WITH fp AS (
    SELECT MD5(TRIM(REGEXP_REPLACE(LOWER(text), '\\s+', ' ', 'g'))) AS h
    FROM documents
),
full_s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT h) AS BIGINT) AS n_groups
    FROM fp
),
slice_s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS s_docs,
           CAST(COUNT(DISTINCT h) AS BIGINT) AS s_groups
    FROM fp WHERE SUBSTR(h, 1, 1) IN ('0', '1', '2', '3')
)
SELECT f.n_docs, f.n_groups,
       ROUND(1.0 - CAST(f.n_groups AS DOUBLE) / f.n_docs, 4) AS dup_rate,
       s.s_docs, s.s_groups,
       ROUND(1.0 - CAST(s.s_groups AS DOUBLE) / s.s_docs, 4)
           AS est_dup_rate,
       ROUND(ABS((1.0 - CAST(s.s_groups AS DOUBLE) / s.s_docs)
                 - (1.0 - CAST(f.n_groups AS DOUBLE) / f.n_docs)), 4)
           AS abs_err
FROM full_s f CROSS JOIN slice_s s
""",
    tags=("corpus-dedup", "capacity", "A10"),
)
def q403_dup_rate_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-slice dup-rate estimate vs exact: (n_docs, n_groups,
    dup_rate, s_docs, s_groups, est_dup_rate, abs_err)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        F.md5(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
        ).alias("h")
    )
    full_s = fp.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("h").cast("long").alias("n_groups"),
    )
    slice_s = fp.filter(
        F.substring("h", 1, 1).isin("0", "1", "2", "3")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("s_docs"),
        F.countDistinct("h").cast("long").alias("s_groups"),
    )
    dup = F.lit(1.0) - F.col("n_groups").cast("double") / F.col("n_docs")
    est = F.lit(1.0) - F.col("s_groups").cast("double") / F.col("s_docs")
    return full_s.crossJoin(F.broadcast(slice_s)).select(
        "n_docs",
        "n_groups",
        F.round(dup, 4).alias("dup_rate"),
        "s_docs",
        "s_groups",
        F.round(est, 4).alias("est_dup_rate"),
        F.round(F.abs(est - dup), 4).alias("abs_err"),
    )


# --------------------------------------------------------------------------
# q413 - cross-source shared-head (boilerplate prefix) matrix: for
# every pair of sources, how many normalized 8-token DOCUMENT HEADS
# they share, and how many documents carry those heads on each side -
# the "same template/boilerplate opening across feeds" read (q203
# measures whole-document shingle similarity between sources; q403
# sizes global verbatim duplication; this attributes shared OPENINGS,
# the thing scrapers and mirrored feeds leak first, to source pairs).
# Parity: heads are md5 of the first 8 whitespace tokens of the
# lowercased text (identical list slicing both engines); counts exact;
# share one double ratio. 4dp.
# Scale: one (head, source) aggregate; pair generation is a self-join
# keyed on the HEAD fingerprint (never doc-pairs; a head in S sources
# yields S(S-1)/2 pair rows); one (source_a, source_b) rollup.
# --------------------------------------------------------------------------
_HEAD_K = 8


@register(
    "q413_cross_source_dups",
    oracle=f"""
WITH fp AS (
    SELECT source,
           MD5(ARRAY_TO_STRING(
               LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                           t -> t <> '')[1:{_HEAD_K}], ' ')) AS h
    FROM documents
),
gs AS (
    SELECT h, source, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM fp GROUP BY h, source
),
pairs AS (
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS shared_heads,
           CAST(SUM(a.n_docs) AS BIGINT) AS docs_a,
           CAST(SUM(b.n_docs) AS BIGINT) AS docs_b
    FROM gs a JOIN gs b ON b.h = a.h AND a.source < b.source
    GROUP BY a.source, b.source
),
tot AS (
    SELECT CAST(COUNT(DISTINCT h) AS BIGINT) AS all_heads FROM fp
)
SELECT p.source_a, p.source_b, p.shared_heads, p.docs_a, p.docs_b,
       ROUND(CAST(p.shared_heads AS DOUBLE) / t.all_heads, 4)
           AS head_share
FROM pairs p CROSS JOIN tot t
ORDER BY source_a, source_b
""",
    tags=("corpus-dedup", "curation", "A4"),
)
def q413_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared 8-token document heads per source pair: (source_a,
    source_b, shared_heads, docs_a, docs_b, head_share)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "source",
        F.md5(
            F.concat_ws(
                " ",
                F.slice(
                    tokens_lower("text"),
                    1,
                    _HEAD_K,
                ),
            )
        ).alias("h"),
    )
    gs = fp.groupBy("h", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    a = gs.select(
        F.col("h"), F.col("source").alias("source_a"),
        F.col("n_docs").alias("na"),
    )
    b = gs.select(
        F.col("h").alias("hb"), F.col("source").alias("source_b"),
        F.col("n_docs").alias("nb"),
    )
    pairs = (
        a.join(b, (F.col("hb") == F.col("h"))
               & (F.col("source_a") < F.col("source_b")))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("shared_heads"),
            F.sum("na").cast("long").alias("docs_a"),
            F.sum("nb").cast("long").alias("docs_b"),
        )
    )
    tot = fp.agg(F.countDistinct("h").cast("long").alias("all_heads"))
    return (
        pairs.crossJoin(F.broadcast(tot))
        .select(
            "source_a",
            "source_b",
            "shared_heads",
            "docs_a",
            "docs_b",
            F.round(
                F.col("shared_heads").cast("double") / F.col("all_heads"),
                4,
            ).alias("head_share"),
        )
        .orderBy("source_a", "source_b")
    )


# --------------------------------------------------------------------------
# q426 - duplication-depth profile: the histogram of shared-head group
# sizes (how many documents share each normalized 8-token opening),
# reported as (group_size -> n_groups, n_docs, share of corpus) - the
# depth read that q403's single rate can't give: a corpus with ten
# 2-deep groups needs different handling than one 20-deep template
# (near-boilerplate), and the tail of this histogram is what template
# removal targets. Uses the q413 head fingerprint so the profile is
# non-degenerate at every SF.
# Parity: md5 heads identical cross-engine; all counts exact; share one
# double ratio. 4dp.
# Scale: one (head) count aggregate, one (size) histogram aggregate -
# uniform hash keys, no windows; output bounded by max group depth.
# --------------------------------------------------------------------------
@register(
    "q426_dup_depth_profile",
    oracle=f"""
WITH fp AS (
    SELECT MD5(ARRAY_TO_STRING(
               LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                           t -> t <> '')[1:{_HEAD_K}], ' ')) AS h
    FROM documents
),
gs AS (
    SELECT h, CAST(COUNT(*) AS BIGINT) AS size FROM fp GROUP BY h
),
tot AS (SELECT CAST(SUM(size) AS BIGINT) AS n_docs FROM gs)
SELECT g.size AS group_size,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(g.size) AS BIGINT) AS n_docs,
       ROUND(CAST(SUM(g.size) AS DOUBLE) / t.n_docs, 4) AS corpus_share
FROM gs g CROSS JOIN tot t
GROUP BY g.size, t.n_docs
ORDER BY group_size
""",
    tags=("corpus-dedup", "curation", "A6"),
)
def q426_dup_depth_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-head group-size histogram: (group_size, n_groups, n_docs,
    corpus_share)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        F.md5(
            F.concat_ws(
                " ",
                F.slice(
                    tokens_lower("text"),
                    1,
                    _HEAD_K,
                ),
            )
        ).alias("h")
    )
    gs = fp.groupBy("h").agg(F.count(F.lit(1)).alias("size"))
    tot = gs.agg(F.sum("size").cast("long").alias("n_docs_t"))
    return (
        gs.crossJoin(F.broadcast(tot))
        .groupBy(F.col("size").alias("group_size"), "n_docs_t")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("size").cast("long").alias("n_docs"),
        )
        .select(
            F.col("group_size").cast("long").alias("group_size"),
            "n_groups",
            "n_docs",
            F.round(
                F.col("n_docs").cast("double") / F.col("n_docs_t"), 4
            ).alias("corpus_share"),
        )
        .orderBy("group_size")
    )


# ---------------------------------------------------------------------------
# q490 — substring-dedup EXCISION (the removal half of q116/q231's
# detection): RefinedWeb / Lee et al. 2022 ("Deduplicating Training Data
# Makes Language Models Better") exact-substring rule at 8-gram
# resolution — KEEP the corpus-wide first occurrence of every duplicated
# span, EXCISE every later occurrence, and reassemble each document from
# its surviving tokens in order. A token is excised iff some positional
# 8-gram covering it is a non-first occurrence of that gram (corpus
# order = (doc_id, position)); duplicated runs >= 8 tokens are therefore
# removed in full except their first appearance, shorter repeats are
# untouched (the resolution knob is NGRAM_N — Lee et al. use 50).
# Parity: pure integer/position algebra + deterministic string
# reassembly — exact hash match. Docs with < 8 tokens have no grams and
# pass through verbatim (n_removed = 0), including empty docs.
# Scale: NO pair join and no suffix array — one rank-first window on the
# gram (content-hash partition key, q115's frame), one distinct on
# covered (doc_id, pos), one anti join back to the token table, one
# doc-keyed reassembly agg. Every stage is keyed; reducer fan-in is
# bounded by the hottest gram's occurrence list (viral boilerplate —
# salt or cap with a per-gram occurrence LIMIT at extreme skew).
# ---------------------------------------------------------------------------
@register(
    "q490_substring_excision",
    oracle=f"""
WITH docs AS (
    SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '') AS w
    FROM documents
),
toks AS (
    SELECT doc_id, UNNEST(w) AS tok, GENERATE_SUBSCRIPTS(w, 1) AS pos
    FROM docs
),
grams AS (
    SELECT doc_id, i, ARRAY_TO_STRING(w[i + 1 : i + {NGRAM_N}], ' ') AS gram
    FROM docs, UNNEST(GENERATE_SERIES(0, LEN(w) - {NGRAM_N})) AS t(i)
    WHERE LEN(w) >= {NGRAM_N}
),
ranked AS (
    SELECT doc_id, i,
           ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, i) AS rn
    FROM grams
),
covered AS (
    SELECT DISTINCT r.doc_id, r.i + j.j AS pos
    FROM ranked r, UNNEST(GENERATE_SERIES(1, {NGRAM_N})) AS j(j)
    WHERE r.rn > 1
),
kept AS (
    SELECT t.doc_id, t.pos, t.tok
    FROM toks t LEFT JOIN covered c
      ON c.doc_id = t.doc_id AND c.pos = t.pos
    WHERE c.pos IS NULL
)
SELECT d.doc_id,
       CAST(LEN(d.w) AS BIGINT) AS n_tokens,
       CAST(LEN(d.w) - COUNT(k.pos) AS BIGINT) AS n_removed,
       COALESCE(STRING_AGG(k.tok, ' ' ORDER BY k.pos), '') AS kept_text
FROM docs d LEFT JOIN kept k ON k.doc_id = d.doc_id
GROUP BY d.doc_id, LEN(d.w)
ORDER BY d.doc_id
""",
    tags=("corpus-dedup", "U4", "A4", "training-prep"),
)
def q490_substring_excision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first substring excision at 8-gram resolution with document
    reassembly: (doc_id, n_tokens, n_removed, kept_text)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens_raw(F.col("text")).alias("w")
    )
    toks = docs.select(
        "doc_id", F.posexplode("w").alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "tok")
    gdocs = docs.filter(F.size("w") >= NGRAM_N)
    grams = gdocs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("w") - NGRAM_N),
                lambda i: F.concat_ws(" ", F.slice(F.col("w"), i + 1, NGRAM_N)),
            )
        ).alias("i", "gram"),
    )
    w_first = Window.partitionBy("gram").orderBy("doc_id", "i")
    covered = (
        grams.withColumn("rn", F.row_number().over(w_first))
        .filter(F.col("rn") > 1)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("i") + 1, F.col("i") + NGRAM_N)
            ).alias("pos"),
        )
        .distinct()
    )
    kept = toks.join(covered, ["doc_id", "pos"], "left_anti")
    kept_agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s.getField("tok"),
            ),
        ).alias("kept_text"),
    )
    return (
        docs.join(kept_agg, "doc_id", "left")
        .select(
            "doc_id",
            F.size("w").cast("long").alias("n_tokens"),
            (
                F.size("w") - F.coalesce(F.col("n_kept"), F.lit(0))
            ).cast("long").alias("n_removed"),
            F.coalesce(F.col("kept_text"), F.lit("")).alias("kept_text"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q495 — post-excision corpus report: what q490's keep-first substring
# excision does to each SOURCE — the one-relation summary a data team
# reads before shipping the deduplicated corpus (tokens before, tokens
# excised, removal rate, docs touched). Same covered-position algebra as
# q490 (exact integers), aggregated per source instead of reassembled.
# Scale: q490's frame minus the reassembly shuffle — rank-first window
# on the gram, distinct covered positions, then ONE source-keyed
# aggregate (no per-doc regroup, no anti join).
# ---------------------------------------------------------------------------
@register(
    "q495_excision_report",
    oracle=f"""
WITH docs AS (
    SELECT doc_id, source,
           LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '') AS w
    FROM documents
),
grams AS (
    SELECT doc_id, i, ARRAY_TO_STRING(w[i + 1 : i + {NGRAM_N}], ' ') AS gram
    FROM docs, UNNEST(GENERATE_SERIES(0, LEN(w) - {NGRAM_N})) AS t(i)
    WHERE LEN(w) >= {NGRAM_N}
),
ranked AS (
    SELECT doc_id, i,
           ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, i) AS rn
    FROM grams
),
covered AS (
    SELECT DISTINCT r.doc_id, r.i + j.j AS pos
    FROM ranked r, UNNEST(GENERATE_SERIES(1, {NGRAM_N})) AS j(j)
    WHERE r.rn > 1
),
per_doc AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS removed
    FROM covered GROUP BY doc_id
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN p.removed > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS docs_touched,
       CAST(SUM(LEN(d.w)) AS BIGINT) AS tokens_before,
       CAST(SUM(COALESCE(p.removed, 0)) AS BIGINT) AS tokens_removed,
       ROUND(SUM(COALESCE(p.removed, 0))
             / CAST(SUM(LEN(d.w)) AS DOUBLE), 4) AS removal_rate
FROM docs d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
GROUP BY d.source
ORDER BY d.source
""",
    tags=("corpus-dedup", "training-prep", "A5", "curation-report"),
)
def q495_excision_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source impact of q490's keep-first substring excision:
    (source, n_docs, docs_touched, tokens_before, tokens_removed,
    removal_rate)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", tokens_raw(F.col("text")).alias("w")
    )
    gdocs = docs.filter(F.size("w") >= NGRAM_N)
    grams = gdocs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("w") - NGRAM_N),
                lambda i: F.concat_ws(" ", F.slice(F.col("w"), i + 1, NGRAM_N)),
            )
        ).alias("i", "gram"),
    )
    w_first = Window.partitionBy("gram").orderBy("doc_id", "i")
    covered = (
        grams.withColumn("rn", F.row_number().over(w_first))
        .filter(F.col("rn") > 1)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("i") + 1, F.col("i") + NGRAM_N)
            ).alias("pos"),
        )
        .distinct()
    )
    per_doc = covered.groupBy("doc_id").agg(F.count(F.lit(1)).alias("removed"))
    joined = docs.join(per_doc, "doc_id", "left")
    removed = F.coalesce(F.col("removed"), F.lit(0))
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((removed > 0).cast("long")).alias("docs_touched"),
            F.sum(F.size("w")).cast("long").alias("tokens_before"),
            F.sum(removed).cast("long").alias("tokens_removed"),
            F.round(
                F.sum(removed) / F.sum(F.size("w")).cast("double"), 4
            ).alias("removal_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q499 — cross-source span contamination matrix: for every ordered
# source pair (A, B), the share of A's DISTINCT 8-grams that also occur
# in B — the "is slice B leaking into slice A" read data teams run
# before mixing corpus slices (directed containment, so A⊂B and B⊂A are
# distinguished — q365's weighted-Jaccard is the symmetric sibling).
# Parity: distinct-gram sets and intersection counts are exact
# integers; containment is one 4dp ratio.
# Scale: NO doc pair join — distinct (source, gram) relation, one
# gram-keyed self-join whose per-gram fan-out is bounded by the SOURCE
# count (≤ #sources², not corpus size), one source-pair aggregate.
# ---------------------------------------------------------------------------
@register(
    "q499_source_contamination",
    oracle=f"""
WITH docs AS (
    SELECT source, LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '') AS w
    FROM documents
),
grams AS (
    SELECT DISTINCT source,
           ARRAY_TO_STRING(w[i + 1 : i + {NGRAM_N}], ' ') AS gram
    FROM docs, UNNEST(GENERATE_SERIES(0, LEN(w) - {NGRAM_N})) AS t(i)
    WHERE LEN(w) >= {NGRAM_N}
),
per_src AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams FROM grams GROUP BY source
),
shared AS (
    SELECT a.source AS sa, b.source AS sb, CAST(COUNT(*) AS BIGINT) AS sh
    FROM grams a JOIN grams b ON b.gram = a.gram AND b.source <> a.source
    GROUP BY a.source, b.source
)
SELECT p.source AS source_a, q.source AS source_b,
       p.n_grams AS grams_a,
       COALESCE(s.sh, 0) AS shared_grams,
       ROUND(COALESCE(s.sh, 0) / CAST(p.n_grams AS DOUBLE), 4)
           AS containment_in_b
FROM per_src p
JOIN per_src q ON q.source <> p.source
LEFT JOIN shared s ON s.sa = p.source AND s.sb = q.source
ORDER BY source_a, source_b
""",
    tags=("corpus-dedup", "U4", "A5", "decontamination"),
)
def q499_source_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed 8-gram containment between source slices:
    (source_a, source_b, grams_a, shared_grams, containment_in_b)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", tokens_raw(F.col("text")).alias("w")
    ).filter(F.size("w") >= NGRAM_N)
    grams = docs.select(
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("w") - NGRAM_N),
                lambda i: F.concat_ws(" ", F.slice(F.col("w"), i + 1, NGRAM_N)),
            )
        ).alias("gram"),
    ).distinct()
    per_src = grams.groupBy("source").agg(F.count(F.lit(1)).alias("n_grams"))
    a = grams.select(F.col("source").alias("sa"), "gram")
    b = grams.select(F.col("source").alias("sb"), "gram")
    shared = (
        a.join(b, "gram")
        .filter(F.col("sa") != F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("sh"))
    )
    pq = (
        per_src.select(F.col("source").alias("source_a"), F.col("n_grams").alias("grams_a"))
        .crossJoin(
            F.broadcast(per_src.select(F.col("source").alias("source_b")))
        )
        .filter(F.col("source_a") != F.col("source_b"))
    )
    return (
        pq.join(
            shared,
            (F.col("sa") == F.col("source_a")) & (F.col("sb") == F.col("source_b")),
            "left",
        )
        .select(
            "source_a",
            "source_b",
            "grams_a",
            F.coalesce(F.col("sh"), F.lit(0)).alias("shared_grams"),
            F.round(
                F.coalesce(F.col("sh"), F.lit(0))
                / F.col("grams_a").cast("double"),
                4,
            ).alias("containment_in_b"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# q500 — the DEDUP FUNNEL: every dedup tier this engine ships, applied
# to the same corpus and read as one per-stage reduction table — the
# summary a data team inspects before choosing which tiers to run at
# 100 TB (the dedup-side sibling of q230's filter funnel; FineWeb/Dolma
# ablation tables have exactly this shape). Stages are INDEPENDENT
# measurements of the raw corpus (not sequential application):
#   1_exact_docs       — q04's tier:  docs surviving exact-text dedup
#   2_segment_tokens   — q115's tier: tokens surviving 10-token-segment
#                        keep-first dedup
#   3_substring_tokens — q490's tier: tokens surviving keep-first 8-gram
#                        span excision
#   4_neardup_docs     — q56/q496's tier: docs surviving SimHash
#                        hamming<=3 clustering (one kept per cluster)
# Parity: every stage is exact integer counting; the Spark side COMPOSES
# the registered operators (dedup.simhash_near_duplicates,
# graph.duplicate_clusters, the q115/q490 frames) while the oracle
# re-derives each tier with prefixed CTEs — the hash match verifies the
# COMPOSITION, not just the parts (q230's discipline).
# Scale: each stage is the already-audited plan of its query; the funnel
# adds four 1-row aggregates and a union.
# ---------------------------------------------------------------------------
def _q500_oracle() -> str:
    from .dedup_queries import _CLUSTER_CTES, _SIMHASH_SIGS_CTE

    return f"""
WITH RECURSIVE {_SIMHASH_SIGS_CTE},
dups AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE BIT_COUNT(XOR(a.simhash, b.simhash)) <= 3
),
{_CLUSTER_CTES},
f1 AS (
    SELECT '1_exact_docs' AS stage, 'docs' AS unit,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(DISTINCT text) AS BIGINT) AS n_kept
    FROM documents
),
fd AS (
    SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '') AS w
    FROM documents
),
f2s AS (
    SELECT doc_id, i AS seg_idx,
           ARRAY_TO_STRING(w[i * {SEG_TOKENS} + 1 : i * {SEG_TOKENS} + {SEG_TOKENS}], ' ') AS seg,
           LEN(w[i * {SEG_TOKENS} + 1 : i * {SEG_TOKENS} + {SEG_TOKENS}]) AS seg_toks
    FROM fd, UNNEST(GENERATE_SERIES(0, CAST(CEIL(LEN(w) / {SEG_TOKENS}.0) AS INT) - 1)) AS t(i)
    WHERE LEN(w) > 0
),
f2r AS (
    SELECT seg_toks,
           ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
    FROM f2s
),
f2 AS (
    SELECT '2_segment_tokens' AS stage, 'tokens' AS unit,
           CAST(SUM(seg_toks) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN rn = 1 THEN seg_toks ELSE 0 END) AS BIGINT)
               AS n_kept
    FROM f2r
),
f3g AS (
    SELECT doc_id, i, ARRAY_TO_STRING(w[i + 1 : i + {NGRAM_N}], ' ') AS gram
    FROM fd, UNNEST(GENERATE_SERIES(0, LEN(w) - {NGRAM_N})) AS t(i)
    WHERE LEN(w) >= {NGRAM_N}
),
f3r AS (
    SELECT doc_id, i,
           ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, i) AS rn
    FROM f3g
),
f3c AS (
    SELECT DISTINCT r.doc_id, r.i + j.j AS pos
    FROM f3r r, UNNEST(GENERATE_SERIES(1, {NGRAM_N})) AS j(j)
    WHERE r.rn > 1
),
f3 AS (
    SELECT '3_substring_tokens' AS stage, 'tokens' AS unit,
           (SELECT CAST(SUM(LEN(w)) AS BIGINT) FROM fd) AS n_total,
           (SELECT CAST(SUM(LEN(w)) AS BIGINT) FROM fd)
           - (SELECT CAST(COUNT(*) AS BIGINT) FROM f3c) AS n_kept
),
f4 AS (
    SELECT '4_neardup_docs' AS stage, 'docs' AS unit,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_total,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM documents)
           - (SELECT CAST(COUNT(*) AS BIGINT) FROM lab)
           + (SELECT CAST(COUNT(DISTINCT cluster_id) AS BIGINT) FROM lab)
               AS n_kept
)
SELECT stage, unit, n_total, n_kept,
       ROUND(1.0 - n_kept / CAST(n_total AS DOUBLE), 4) AS reduction
FROM (SELECT * FROM f1 UNION ALL SELECT * FROM f2
      UNION ALL SELECT * FROM f3 UNION ALL SELECT * FROM f4)
ORDER BY stage
"""


@register(
    "q500_dedup_funnel",
    oracle=_q500_oracle(),
    tags=("corpus-dedup", "training-prep", "A5", "curation-report", "U4"),
)
def q500_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tier dedup reduction table over the same corpus:
    (stage, unit, n_total, n_kept, reduction) for exact-doc, segment,
    substring-excision, and SimHash near-dup tiers."""
    from ..operators import dedup as dedup_ops
    from ..operators import graph

    docs = load_table(spark, sf_dir, "documents")

    def stage(name, unit, total_col, kept_col, frame):
        return frame.select(
            F.lit(name).alias("stage"),
            F.lit(unit).alias("unit"),
            total_col.cast("long").alias("n_total"),
            kept_col.cast("long").alias("n_kept"),
        )

    f1 = stage(
        "1_exact_docs",
        "docs",
        F.col("n"),
        F.col("k"),
        docs.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("text").alias("k"),
        ),
    )

    wdocs = docs.select("doc_id", tokens_raw(F.col("text")).alias("w")).filter(F.size("w") > 0)
    n_segs = F.ceil(F.size("w") / F.lit(float(SEG_TOKENS))).cast("int")
    segs = wdocs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_segs - 1),
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("w"), i * SEG_TOKENS + 1, SEG_TOKENS)
                ),
            )
        ).alias("seg_idx", "seg"),
    ).withColumn("seg_toks", F.size(F.split(F.col("seg"), " ")))
    w_seg = Window.partitionBy("seg").orderBy("doc_id", "seg_idx")
    f2 = stage(
        "2_segment_tokens",
        "tokens",
        F.col("tt"),
        F.col("kt"),
        segs.withColumn("rn", F.row_number().over(w_seg)).agg(
            F.sum("seg_toks").alias("tt"),
            F.sum(F.when(F.col("rn") == 1, F.col("seg_toks")).otherwise(0)).alias("kt"),
        ),
    )

    gdocs = wdocs.filter(F.size("w") >= NGRAM_N)
    grams = gdocs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("w") - NGRAM_N),
                lambda i: F.concat_ws(" ", F.slice(F.col("w"), i + 1, NGRAM_N)),
            )
        ).alias("i", "gram"),
    )
    w_gram = Window.partitionBy("gram").orderBy("doc_id", "i")
    covered_n = (
        grams.withColumn("rn", F.row_number().over(w_gram))
        .filter(F.col("rn") > 1)
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("i") + 1, F.col("i") + NGRAM_N)).alias("pos"),
        )
        .distinct()
        .agg(F.count(F.lit(1)).alias("rm"))
    )
    tok_total = wdocs.agg(F.sum(F.size("w")).alias("tt"))
    f3 = stage(
        "3_substring_tokens",
        "tokens",
        F.col("tt"),
        F.col("tt") - F.col("rm"),
        tok_total.crossJoin(F.broadcast(covered_n)),
    )

    pairs = dedup_ops.simhash_near_duplicates(docs, max_hamming=3).select(
        "id_a", "id_b"
    )
    clusters = graph.duplicate_clusters(pairs)
    cl = clusters.agg(
        F.count(F.lit(1)).alias("members"),
        F.countDistinct("cluster_id").alias("ncl"),
    )
    nd = docs.agg(F.count(F.lit(1)).alias("n"))
    f4 = stage(
        "4_neardup_docs",
        "docs",
        F.col("n"),
        F.col("n") - F.col("members") + F.col("ncl"),
        nd.crossJoin(F.broadcast(cl)),
    )

    return (
        f1.unionByName(f2)
        .unionByName(f3)
        .unionByName(f4)
        .select(
            "stage",
            "unit",
            "n_total",
            "n_kept",
            F.round(
                1.0 - F.col("n_kept") / F.col("n_total").cast("double"), 4
            ).alias("reduction"),
        )
        .orderBy("stage")
    )
