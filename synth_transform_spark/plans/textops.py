"""Text-analysis queries over the `documents` table.

Covers the reference's text surface (tokenise/top-k/profile — SURVEY.md §2.4
A6/A8, §2.8 F10/F23/F24) and the north-star training-data operators
(language-ID, quality scoring, fingerprinting).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators import dedup, text_analysis
from ..sources.readers import load_table
from .registry import register


# --------------------------------------------------------------------------
# q04 — exact-dedup groups (SURVEY §2.4 A4 duplicate grouping;
# north-star exact dedup). Canonical doc = min id per normalised-text hash.
# --------------------------------------------------------------------------
@register(
    "q04_exact_dedup_groups",
    oracle="""
SELECT MD5(TRIM(REGEXP_REPLACE(LOWER(text), '\\s+', ' ', 'g'))) AS text_key,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS canonical_id
FROM documents
GROUP BY text_key
""",
    tags=("A4", "dedup-exact"),
    bench=True,
)
def q04_exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_groups(docs)


# --------------------------------------------------------------------------
# q05 — corpus token top-k (SURVEY §2.4 A8 / §2.8 F23 explode).
# --------------------------------------------------------------------------
@register(
    "q05_top_tokens",
    oracle="""
SELECT token, COUNT(*) AS n
FROM (
    SELECT UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS token FROM documents
) t
WHERE token <> ''
GROUP BY token
ORDER BY n DESC, token ASC
LIMIT 10
""",
    tags=("A8", "F23", "O6"),
)
def q05_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.top_tokens(docs, k=10)


# --------------------------------------------------------------------------
# q06 — value profile via unpivot + windowed percentage (SURVEY §2.4 A6/A7,
# §2.8 F24 melt; /root/reference/notebooks/unidentified.ipynb cells 11-17).
# --------------------------------------------------------------------------
@register(
    "q06_value_profile",
    oracle="""
WITH m AS (
    SELECT 'lang' AS variable, lang AS col_value FROM documents
    UNION ALL
    SELECT 'source' AS variable, source AS col_value FROM documents
),
c AS (
    SELECT variable, col_value, COUNT(*) AS n FROM m GROUP BY variable, col_value
)
SELECT variable, col_value, n,
       ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY variable), 4) AS pct
FROM c
""",
    tags=("A6", "A7", "F24"),
)
def q06_value_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    melted = docs.select(
        F.explode(
            F.create_map(
                F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source")
            )
        ).alias("variable", "col_value")
    )
    counts = melted.groupBy("variable", "col_value").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("variable")
    return counts.withColumn(
        "pct", F.round(F.col("n").cast("double") / F.sum("n").over(w), 4)
    )


# --------------------------------------------------------------------------
# q19 — DOI regex extraction + normalisation (SURVEY §2.8 F9/F10;
# /root/reference/synth/parsers/doi.py:45-88). The driver corpus carries no
# DOIs, so a deterministic DOI-bearing string is synthesised per doc and the
# extraction chain (regex → uppercase → strip trailing dot) runs on it.
# --------------------------------------------------------------------------
@register(
    "q19_doi_extract",
    oracle="""
SELECT doc_id,
       UPPER(REGEXP_REPLACE(
           REGEXP_EXTRACT(
               'see doi:10.' || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   || '/j.rec.' || CAST(doc_id AS VARCHAR) || '. end',
               '10\\.\\d{4}/[-._;()/:a-zA-Z0-9]+'),
           '\\.$', '')) AS doi
FROM documents
""",
    tags=("F9", "F10", "F13"),
)
def q19_doi_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    synth = F.concat(
        F.lit("see doi:10."),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit("/j.rec."),
        F.col("doc_id").cast("string"),
        F.lit(". end"),
    )
    doi = F.regexp_extract(synth, r"10\.\d{4}/[-._;()/:a-zA-Z0-9]+", 0)
    return docs.select(
        "doc_id", F.upper(F.regexp_replace(doi, r"\.$", "")).alias("doi")
    )


# --------------------------------------------------------------------------
# q24 — quality scoring (north-star text analysis; C4/Gopher-style filters).
# The keep rule compares the ROUND(…, 4) ratios — text_analysis.
# quality_score's `keep` is computed from its rounded output columns, so an
# unrounded oracle comparison would flip boundary documents (e.g.
# distinct_ratio 0.09996 rounds to 0.1000 and passes on the Spark side).
# Shared with the q106 funnel oracle via QUALITY_KEEP_SQL.
# --------------------------------------------------------------------------

#: Boolean keep-rule over columns ``toks`` / ``text`` — the SQL twin of
#: text_analysis.quality_score's flag, rounded exactly like the operator.
QUALITY_KEEP_SQL = """(LEN(toks) >= 10
        AND ROUND(CAST(LEN(LIST_DISTINCT(toks)) AS DOUBLE) / LEN(toks), 4) >= 0.1
        AND ROUND(CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
            / LENGTH(text), 4) <= 0.3)"""

#: Full CTE body "doc_id → keep" for oracles composing the quality stage.
QUALITY_KEEP_CTE = f"""
    SELECT doc_id, {QUALITY_KEEP_SQL} AS keep
    FROM (SELECT doc_id, text,
                 LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> x <> '') AS toks
          FROM documents) qt
"""


@register(
    "q24_quality_score",
    oracle=f"""
WITH t AS (
    SELECT doc_id, text,
           LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> x <> '') AS toks
    FROM documents
)
SELECT doc_id,
       LENGTH(text) AS n_chars,
       LEN(toks) AS n_tokens,
       ROUND(CAST(LEN(LIST_FILTER(toks, x -> x IN ('the','a','and','of','to','in'))) AS DOUBLE)
             / LEN(toks), 4) AS stopword_ratio,
       ROUND(CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
             / LENGTH(text), 4) AS punct_ratio,
       ROUND(CAST(LEN(LIST_DISTINCT(toks)) AS DOUBLE) / LEN(toks), 4) AS distinct_ratio,
       {QUALITY_KEEP_SQL} AS keep
FROM t
""",
    tags=("text-quality", "F16"),
    bench=True,
)
def q24_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.quality_score(docs)


# --------------------------------------------------------------------------
# q25 — language ID via marker lexicons (north-star text analysis).
# --------------------------------------------------------------------------
def _langid_oracle() -> str:
    langs = sorted(text_analysis.LANG_MARKERS)
    score_exprs = []
    for lg in langs:
        markers = ", ".join(f"'{m}'" for m in text_analysis.LANG_MARKERS[lg])
        score_exprs.append(
            f"LEN(LIST_FILTER(toks, x -> x IN ({markers}))) AS score_{lg}"
        )
    greatest = "GREATEST(" + ", ".join(f"score_{lg}" for lg in langs) + ")"
    case = " ".join(
        f"WHEN score_{lg} = best THEN '{lg}'" for lg in langs
    )
    return f"""
WITH t AS (
    SELECT doc_id, LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> x <> '') AS toks
    FROM documents
),
s AS (
    SELECT doc_id, {", ".join(score_exprs)} FROM t
),
g AS (
    SELECT *, {greatest} AS best FROM s
)
SELECT doc_id, CASE {case} END AS pred_lang, best AS lang_score FROM g
"""


@register("q25_lang_id", oracle=_langid_oracle(), tags=("text-langid",))
def q25_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.lang_id(docs)


# --------------------------------------------------------------------------
# q26 — document fingerprinting (north-star; md5 + 60-bit compact hash).
# --------------------------------------------------------------------------
@register(
    "q26_fingerprint",
    oracle="""
SELECT doc_id,
       MD5(TRIM(REGEXP_REPLACE(LOWER(text), '\\s+', ' ', 'g'))) AS fp_md5,
       CAST(('0x' || SUBSTR(MD5(TRIM(REGEXP_REPLACE(LOWER(text), '\\s+', ' ', 'g'))), 1, 15))::UBIGINT AS BIGINT) AS fp_int
FROM documents
""",
    tags=("text-fingerprint",),
    bench=True,
)
def q26_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.fingerprint(docs)


# --------------------------------------------------------------------------
# q31 — per-doc token stats (token counting north-star op).
# --------------------------------------------------------------------------
@register(
    "q31_token_stats",
    oracle="""
WITH t AS (
    SELECT doc_id, text,
           LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> x <> '') AS toks
    FROM documents
)
SELECT doc_id,
       LEN(toks) AS n_tokens,
       LEN(LIST_DISTINCT(toks)) AS n_distinct_tokens,
       ROUND(CAST(LIST_SUM(LIST_TRANSFORM(toks, x -> LENGTH(x))) AS DOUBLE) / LEN(toks), 4)
           AS avg_token_len,
       CAST(LEN(REGEXP_EXTRACT_ALL(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+')) AS BIGINT)
           AS n_bpe_units
FROM t
""",
    tags=("text-tokens", "F16"),
)
def q31_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.token_stats(docs)


# --------------------------------------------------------------------------
# q41 — TF-IDF text classification on Spark ML (reference: classifiers.ipynb
# cells 12-18). Iterative training → no SQL oracle (rows-only driver check);
# the output is per-holdout-row (doc_id, label_str, predicted_str, correct)
# with a deterministic hash split, so the schema is stable and accuracy is
# auditable from the rows; determinism + an accuracy floor on a learnable
# derived label are asserted in tests/test_ml.py.
# --------------------------------------------------------------------------
@register(
    "q41_tfidf_classifier",
    oracle=None,
    tags=("text-classify", "F16", "ml"),
)
def q41_tfidf_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import ml

    docs = load_table(spark, sf_dir, "documents")
    return ml.train_and_predict(docs)


# --------------------------------------------------------------------------
# q214 — the SVC-family twin of q41 (the reference's ACTUAL model family:
# classifiers.ipynb cells 12-18 train an sklearn SVC). OneVsRest(LinearSVC)
# over the same TF-IDF features, identical verdict relation; iterative
# training → rows-only driver check, floors in tests/test_ml.py.
# --------------------------------------------------------------------------
@register(
    "q214_svc_classifier",
    oracle=None,
    tags=("text-classify", "F16", "ml"),
)
def q214_svc_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import ml

    docs = load_table(spark, sf_dir, "documents")
    return ml.train_and_predict(docs, family="svc")


# --------------------------------------------------------------------------
# q55 — pickled-model outlier workflow (reference: outliers.ipynb cells
# 4-6): apply a shipped (pickled) vectoriser+classifier via a broadcast
# mapInPandas stage, z-score the max probabilities (population std), keep
# the low-confidence tail. The notebook's threshold is -2.5 on its corpus;
# the fixture corpus' probability spread is tighter (min z ~ -1.86), so the
# query pins -1.5 to keep the result non-trivial — the operator default
# stays -2.5 for reference parity. No SQL oracle (rows-only check);
# scorer/Spark-model equivalence and z-score math are pinned in
# tests/test_ml.py.
# --------------------------------------------------------------------------
@register(
    "q55_model_outliers",
    oracle=None,
    tags=("ml", "W4", "outliers"),
)
def q55_model_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import ml

    docs = load_table(spark, sf_dir, "documents")
    train = ml.prepare(docs).filter(F.col("doc_id") % 5 != 0)
    model_bytes = ml.export_pickled_model(ml.build_export_pipeline().fit(train))
    scored = ml.score_pickled(docs, model_bytes)
    return ml.probability_outliers(scored, z_threshold=-1.5)


# --------------------------------------------------------------------------
# q48 — composite training-data prep: the LLM-pipeline flagship. One plan:
# quality filter (q24 rules) → exact dedup keeping the lowest doc id per
# normalised-text fingerprint → deterministic per-lang hash sample. Each
# stage is an operator already proven alone (q24/q04/q42); this is the
# end-to-end composition a 100 TB corpus prep would run.
# --------------------------------------------------------------------------
@register(
    "q48_training_prep",
    oracle="""
WITH t AS (
    SELECT doc_id, lang, text,
           LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> x <> '') AS toks
    FROM documents
),
quality AS (
    SELECT doc_id, lang, text, LEN(toks) AS n_tokens
    FROM t
    WHERE LEN(toks) >= 10
      AND CAST(LEN(LIST_DISTINCT(toks)) AS DOUBLE) / LEN(toks) >= 0.1
      AND CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
          / LENGTH(text) <= 0.3
),
deduped AS (
    SELECT doc_id, lang, n_tokens
    FROM (
        SELECT doc_id, lang, n_tokens,
               ROW_NUMBER() OVER (
                   PARTITION BY MD5(TRIM(REGEXP_REPLACE(LOWER(text), '\\s+', ' ', 'g')))
                   ORDER BY doc_id) AS dup_rk
        FROM quality
    ) d WHERE dup_rk = 1
)
SELECT lang, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens
FROM (
    SELECT lang, doc_id, n_tokens,
           ROW_NUMBER() OVER (PARTITION BY lang
                              ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
    FROM deduped
) s
WHERE rk <= 10
""",
    tags=("text-quality", "dedup-exact", "A13", "training-prep"),
    bench=True,
)
def q48_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from ..operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    q = text_analysis.quality_score(docs).filter(F.col("keep"))
    kept = docs.join(q.select("doc_id", "n_tokens"), "doc_id")
    dedup_w = Window.partitionBy(F.md5(normalize_text(F.col("text")))).orderBy("doc_id")
    deduped = (
        kept.withColumn("dup_rk", F.row_number().over(dedup_w))
        .filter(F.col("dup_rk") == 1)
    )
    sample_w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        deduped.withColumn("rk", F.row_number().over(sample_w))
        .filter(F.col("rk") <= 10)
        .select("lang", "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"))
    )


@register(
    "q65_inverted_index",
    oracle="""
WITH toks AS (
    SELECT DISTINCT doc_id, token FROM (
        SELECT doc_id,
               UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '[^a-z]+'),
                                  t -> t <> '')) AS token
        FROM documents)
)
SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
       ARRAY_TO_STRING(LIST(doc_id ORDER BY doc_id), ',') AS postings
FROM toks
GROUP BY token
HAVING COUNT(*) >= 100
""",
    tags=("A8", "A11", "F23"),
)
def q65_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term → posting-list index over documents (min_df=100 bounds the
    declared output to corpus-common terms; see
    operators/text_analysis.inverted_index for the skew discussion)."""
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.inverted_index(docs, min_df=100)


@register(
    "q68_token_chunks",
    oracle="""
WITH d AS (
    SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '') AS w
    FROM documents
),
sized AS (SELECT doc_id, w, LEN(w) AS n FROM d),
ks AS (
    SELECT doc_id, w, n,
           UNNEST(GENERATE_SERIES(0,
               GREATEST(CAST(CEIL((n - 64) / 48.0) AS BIGINT), 0))) AS k
    FROM sized
)
SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
       CAST(LEAST(64, n - k * 48) AS BIGINT) AS n_tokens,
       ARRAY_TO_STRING(w[k * 48 + 1 : LEAST(k * 48 + 64, n)], ' ') AS chunk_text
FROM ks
""",
    tags=("seqprep-chunk", "F23"),
)
def q68_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 64-token windows (stride 48) per document — the
    retrieval/embedding chunking pass. Narrow ops only; zero shuffles
    (operators/seqprep.chunk_documents)."""
    from ..operators import seqprep

    docs = load_table(spark, sf_dir, "documents")
    return seqprep.chunk_documents(docs, size=64, stride=48)


@register(
    "q69_sequence_pack",
    oracle="""
WITH toks AS (
    SELECT doc_id, doc_id % 8 AS shard,
           LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS n
    FROM documents
),
spans AS (
    SELECT doc_id, shard, n,
           SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) AS fin
    FROM toks WHERE n > 0
)
SELECT doc_id, CAST(shard AS BIGINT) AS shard, CAST(n AS BIGINT) AS n_tokens,
       CAST(FLOOR((fin - n) / 512.0) AS BIGINT) AS bin_first,
       CAST(FLOOR((fin - 1) / 512.0) AS BIGINT) AS bin_last,
       CAST((fin - n) % 512 AS BIGINT) AS offset_in_bin
FROM spans
""",
    tags=("seqprep-pack", "W-frame"),
)
def q69_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: concatenate docs (ascending id within 8
    hash shards) into 512-token context windows, docs spanning boundaries.
    One shuffle — the per-shard running-sum window; no global ordering
    (operators/seqprep.pack_sequences)."""
    from ..operators import seqprep

    docs = load_table(spark, sf_dir, "documents")
    return seqprep.pack_sequences(docs, capacity=512, n_shards=8)


# --------------------------------------------------------------------------
# q92 — TF-IDF term weights as a RELATION (doc, token, tfidf). The
# reference computes these inside sklearn's TfidfVectorizer
# (classifiers.ipynb cell 12) where they are unverifiable; as a relational
# computation, tf (per-doc count), df (per-token doc frequency) and
# idf = ln(N/df) are each one keyed aggregate — and the whole feature
# matrix sits inside the oracle gate. ln() differs across libms by ulps
# only (≪ the 4dp round — the q71 HLL precedent).
# Scale: two shuffles (doc-keyed, token-keyed); the df relation is tiny
# (vocab-sized) and broadcasts back onto the tf relation.
# --------------------------------------------------------------------------
@register(
    "q92_tfidf_weights",
    oracle="""
WITH toks AS (
    SELECT doc_id,
           UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS token
    FROM documents
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY token),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents)
SELECT tf.doc_id, tf.token, CAST(tf.tf AS BIGINT) AS tf,
       CAST(df.df AS BIGINT) AS df,
       ROUND(tf.tf * LN(n.n_docs / df.df), 4) AS tfidf
FROM tf JOIN df ON df.token = tf.token CROSS JOIN n
""",
    tags=("F16", "training-prep", "A5"),
)
def q92_tfidf_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(text_analysis.tokens_raw(F.col("text"))).alias("token"),
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("token").agg(
        F.count_distinct("doc_id").cast("long").alias("df")
    )
    n_docs = docs.count()  # scalar; one job, same as the oracle's COUNT(*)
    return tf.join(F.broadcast(df), "token").select(
        "doc_id",
        "token",
        "tf",
        "df",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 4
        ).alias("tfidf"),
    )


# --------------------------------------------------------------------------
# q93 — unigram language-model quality score: mean log-probability of a
# document's tokens under the corpus unigram distribution — the cheap tier
# of the perplexity-based quality filters production pipelines run (CCNet
# et al. use a KenLM n-gram model; the plan shape — score against a
# broadcast probability table, aggregate per doc — is identical). Low
# scores = rare-token-heavy documents (gibberish or OOD), high = common
# filler; filters cut both tails.
# Scale: token probabilities are vocab-sized → broadcast; the corpus side
# is one explode + one doc-keyed aggregate.
# --------------------------------------------------------------------------
@register(
    "q93_unigram_logprob",
    oracle="""
WITH toks AS (
    SELECT doc_id,
           UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS token
    FROM documents
),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM toks),
p AS (
    SELECT token, COUNT(*) / tot.n AS p FROM toks CROSS JOIN tot GROUP BY token, tot.n
)
SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(AVG(LN(p.p)), 4) AS avg_logprob
FROM toks t JOIN p ON p.token = t.token
GROUP BY t.doc_id
""",
    tags=("training-prep", "quality", "A5"),
)
def q93_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(text_analysis.tokens_raw(F.col("text"))).alias("token"),
    )
    total = toks.count()  # scalar corpus size, one job
    p = toks.groupBy("token").agg(
        (F.count(F.lit(1)) / F.lit(float(total))).alias("p")
    )
    return (
        toks.join(F.broadcast(p), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(F.log("p")), 4).alias("avg_logprob"),
        )
    )


# --------------------------------------------------------------------------
# q102 — token co-occurrence PMI (collocation mining): for token pairs
# sharing a document, pmi = ln(p(a,b) / (p(a)·p(b))) with probabilities
# over documents. Per-doc DISTINCT tokens self-join WITHIN the doc
# (fan-out bounded by per-doc vocabulary, capped in production) then one
# pair-keyed aggregate; the marginals are vocab-sized broadcasts. Top-50
# by co-occurrence count with full deterministic tie-break.
# --------------------------------------------------------------------------
@register(
    "q102_token_pmi",
    oracle="""
WITH dtoks AS (
    SELECT DISTINCT doc_id,
           UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS token
    FROM documents
),
n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM documents),
df AS (SELECT token, COUNT(*) AS df FROM dtoks GROUP BY token),
pairs AS (
    SELECT a.token AS tok_a, b.token AS tok_b, COUNT(*) AS n_co
    FROM dtoks a JOIN dtoks b ON b.doc_id = a.doc_id AND a.token < b.token
    GROUP BY a.token, b.token
)
SELECT tok_a, tok_b, CAST(n_co AS BIGINT) AS n_co,
       ROUND(LN((n_co * n.n_docs) / (da.df * CAST(db.df AS DOUBLE))), 4) AS pmi
FROM pairs
JOIN df da ON da.token = tok_a
JOIN df db ON db.token = tok_b
CROSS JOIN n
ORDER BY n_co DESC, tok_a ASC, tok_b ASC
LIMIT 50
""",
    tags=("training-prep", "A5", "J13"),
)
def q102_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dtoks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(text_analysis.tokens_raw(F.col("text")))
        ).alias("token"),
    )
    n_docs = float(docs.select("doc_id").distinct().count())
    df = dtoks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    a = dtoks.select("doc_id", F.col("token").alias("tok_a"))
    b = dtoks.select("doc_id", F.col("token").alias("tok_b"))
    pairs = (
        a.join(b, ["doc_id"])
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n_co"))
    )
    da = df.select(F.col("token").alias("tok_a"), F.col("df").alias("df_a"))
    db = df.select(F.col("token").alias("tok_b"), F.col("df").alias("df_b"))
    return (
        pairs.join(F.broadcast(da), "tok_a")
        .join(F.broadcast(db), "tok_b")
        .select(
            "tok_a",
            "tok_b",
            "n_co",
            F.round(
                F.log(
                    (F.col("n_co") * F.lit(n_docs))
                    / (F.col("df_a") * F.col("df_b").cast("double"))
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.desc("n_co"), F.asc("tok_a"), F.asc("tok_b"))
        .limit(50)
    )


@register(
    "q141_oov_rate",
    # Tokenizer-vocab coverage: corpus-frequency top-16 vocabulary (count
    # desc, token asc tie-break), then each document's out-of-vocabulary
    # occurrence rate — the curation signal for "will this doc tokenize
    # into mostly <unk>". The synthetic corpus has 31 distinct tokens, so
    # a 16-entry vocab leaves real OOV mass to measure.
    oracle="""
WITH toks AS (
    SELECT doc_id, UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS tok
    FROM documents
),
vocab AS (
    SELECT tok FROM (
        SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
        ORDER BY c DESC, tok ASC LIMIT 16)
)
SELECT t.doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       ROUND(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4)
           AS oov_rate
FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
GROUP BY t.doc_id
""",
    tags=("F16", "curation-vocab"),
)
def q141_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document OOV rate against the corpus top-k vocabulary.

    The vocab is vocabulary-sized by definition → broadcast; the token
    stream takes one narrow explode and one doc-keyed aggregate. At
    100 TB the vocab build is the only extra shuffle (token counts), and
    a production run would reuse a persisted vocab table instead."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(text_analysis.tokens_raw(F.col("text"))).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(16)
        .select(F.col("tok").alias("v_tok"))
    )
    return (
        toks.join(F.broadcast(vocab), toks["tok"] == F.col("v_tok"), "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("v_tok").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .withColumn(
            "oov_rate", F.round(F.col("n_oov") * 1.0 / F.col("n_tokens"), 4)
        )
    )


@register(
    "q148_naive_bayes",
    # A TRAINED CLASSIFIER under the hash gate: multinomial Naive Bayes is
    # pure counting, so with add-one smoothing, 6dp-rounded log terms
    # (identical operands on both engines before any sum), a 4dp-rounded
    # score, and a lexicographic tie-break, train + predict replay
    # exactly in SQL — the count-based counterpart to q41's rows-only
    # gradient model. Split: train doc_id%5!=0, test %5==0.
    oracle="""
WITH toks AS (
    SELECT doc_id, lang,
           UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS tok
    FROM documents
),
train AS (SELECT * FROM toks WHERE doc_id % 5 <> 0),
classes AS (
    SELECT lang AS cls, COUNT(DISTINCT doc_id) AS n_docs FROM train GROUP BY lang
),
totals AS (SELECT CAST(SUM(n_docs) AS DOUBLE) AS n_total FROM classes),
priors AS (
    SELECT cls, ROUND(LN(n_docs / t.n_total), 6) AS lp
    FROM classes CROSS JOIN totals t
),
vocab_n AS (SELECT COUNT(DISTINCT tok) AS v FROM train),
cls_tok AS (
    SELECT lang AS cls, tok, COUNT(*) AS n FROM train GROUP BY lang, tok
),
cls_tot AS (SELECT lang AS cls, COUNT(*) AS nt FROM train GROUP BY lang),
loglik AS (
    SELECT ct.cls, ct.tok,
           ROUND(LN((ct.n + 1) / CAST(tt.nt + vn.v AS DOUBLE)), 6) AS ll
    FROM cls_tok ct
    JOIN cls_tot tt ON tt.cls = ct.cls
    CROSS JOIN vocab_n vn
),
defaults AS (
    SELECT tt.cls, ROUND(LN(1 / CAST(tt.nt + vn.v AS DOUBLE)), 6) AS ll0
    FROM cls_tot tt CROSS JOIN vocab_n vn
),
test AS (SELECT doc_id, lang, tok FROM toks WHERE doc_id % 5 = 0),
scored AS (
    SELECT t.doc_id, t.lang AS actual, d.cls,
           ROUND(MIN(p.lp) + SUM(COALESCE(l.ll, d.ll0)), 4) AS score
    FROM test t
    CROSS JOIN defaults d
    JOIN priors p ON p.cls = d.cls
    LEFT JOIN loglik l ON l.cls = d.cls AND l.tok = t.tok
    GROUP BY t.doc_id, t.lang, d.cls
)
SELECT doc_id, actual, cls AS predicted,
       CAST(actual = cls AS BOOLEAN) AS correct
FROM (
    SELECT doc_id, actual, cls, score,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, cls ASC) AS rk
    FROM scored) t
WHERE rk = 1
""",
    tags=("ml-nb", "F16", "classifier"),
)
def q148_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier, fully relational:
    counting aggregates train it, a broadcast (class × token) log-lik
    matrix + class-default fallback scores the test split, argmax with a
    lexicographic tie-break predicts. The model tables are
    vocab-and-class-sized → broadcast; the token stream fans out ×k
    classes once (k=5).

    Honesty note: the synthetic corpus draws tokens independently of
    `lang`, so accuracy sits at the majority-class prior (~0.42) — the
    gate verifies the train+predict ALGEBRA end to end, not corpus
    signal (no signal exists to learn)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(text_analysis.tokens_raw(F.col("text"))).alias("tok"),
    )
    train = toks.filter(F.col("doc_id") % 5 != 0)
    test = toks.filter(F.col("doc_id") % 5 == 0)

    classes = train.groupBy(F.col("lang").alias("cls")).agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    n_total = classes.agg(F.sum("n_docs").cast("double").alias("n_total"))
    priors = classes.join(F.broadcast(n_total)).select(
        "cls", F.round(F.log(F.col("n_docs") / F.col("n_total")), 6).alias("lp")
    )
    vocab_n = train.agg(F.countDistinct("tok").alias("v"))
    cls_tok = train.groupBy(F.col("lang").alias("cls"), "tok").agg(
        F.count(F.lit(1)).alias("n")
    )
    cls_tot = train.groupBy(F.col("lang").alias("cls")).agg(
        F.count(F.lit(1)).alias("nt")
    )
    loglik = (
        cls_tok.join(cls_tot, "cls")
        .join(F.broadcast(vocab_n))
        .select(
            "cls",
            "tok",
            F.round(
                F.log((F.col("n") + 1) / (F.col("nt") + F.col("v")).cast("double")), 6
            ).alias("ll"),
        )
    )
    defaults = (
        cls_tot.join(F.broadcast(vocab_n))
        .select(
            "cls",
            F.round(
                F.log(F.lit(1) / (F.col("nt") + F.col("v")).cast("double")), 6
            ).alias("ll0"),
        )
    )
    scored = (
        test.join(F.broadcast(defaults))
        .join(F.broadcast(priors), "cls")
        .join(
            F.broadcast(
                loglik.select(
                    F.col("cls").alias("l_cls"), F.col("tok").alias("l_tok"), "ll"
                )
            ),
            (F.col("l_cls") == F.col("cls")) & (F.col("l_tok") == F.col("tok")),
            "left",
        )
        .groupBy("doc_id", F.col("lang").alias("actual"), "cls")
        .agg(
            F.round(F.min("lp") + F.sum(F.coalesce("ll", "ll0")), 4).alias("score")
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("cls"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id",
            "actual",
            F.col("cls").alias("predicted"),
            (F.col("actual") == F.col("cls")).alias("correct"),
        )
    )


@register(
    "q151_zipf_fit",
    # Zipf's-law diagnostic for the corpus: OLS of ln(freq) on ln(rank)
    # over the token frequency table — the q144 sufficient-statistics
    # shape applied to log-log space. Both log vectors are rounded to
    # 6dp BEFORE the sums (identical operands cross-engine); the tiny
    # vocab relation makes every Σ a handful of terms under the final
    # 4dp round.
    oracle="""
WITH freq AS (
    SELECT tok, COUNT(*) AS n FROM (
        SELECT UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS tok
        FROM documents) t
    GROUP BY tok
),
ranked AS (
    SELECT ROUND(LN(ROW_NUMBER() OVER (ORDER BY n DESC, tok ASC)), 6) AS lx,
           ROUND(LN(n), 6) AS ly
    FROM freq
),
stats AS (
    SELECT COUNT(*) AS n,
           ROUND(SUM(lx), 6) AS sx, ROUND(SUM(lx * lx), 6) AS sxx,
           ROUND(SUM(ly), 6) AS sy, ROUND(SUM(lx * ly), 6) AS sxy
    FROM ranked
)
SELECT n,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS zipf_slope,
       ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 4)
           AS zipf_intercept
FROM stats
""",
    tags=("A12", "text-stats"),
)
def q151_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf slope of the corpus token-frequency distribution (a natural
    corpus follows slope ≈ −1; strong deviation flags synthetic or
    degenerate text — a curation diagnostic). The rank window runs over
    the VOCABULARY relation (31 rows here; always vocabulary-sized), not
    the token stream."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(text_analysis.tokens_raw(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy(F.lit(1)).orderBy(F.desc("n"), F.asc("tok"))
    ranked = freq.select(
        F.round(F.log(F.row_number().over(w).cast("double")), 6).alias("lx"),
        F.round(F.log(F.col("n").cast("double")), 6).alias("ly"),
    )
    stats = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("lx"), 6).alias("sx"),
        F.round(F.sum(F.col("lx") * F.col("lx")), 6).alias("sxx"),
        F.round(F.sum("ly"), 6).alias("sy"),
        F.round(F.sum(F.col("lx") * F.col("ly")), 6).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return stats.select(
        "n",
        F.round(slope, 4).alias("zipf_slope"),
        F.round(
            (F.col("sy") - slope * F.col("sx")) / F.col("n"), 4
        ).alias("zipf_intercept"),
    )


@register(
    "q152_bigram_logprob",
    # Bigram LM quality score (the order-2 sibling of q93's unigram LM):
    # corpus-trained add-one-smoothed conditionals, per-doc mean bigram
    # log-likelihood. Log terms rounded to 6dp before the per-doc mean
    # (identical operands cross-engine), mean rounded to 4dp.
    oracle="""
WITH toks AS (
    SELECT doc_id,
           UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS tok,
           GENERATE_SUBSCRIPTS(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> ''), 1) AS i
    FROM documents
),
big AS (
    SELECT a.doc_id, a.tok AS prev, b.tok AS cur
    FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
),
c2 AS (SELECT prev, cur, COUNT(*) AS n2 FROM big GROUP BY prev, cur),
c1 AS (SELECT prev, COUNT(*) AS n1 FROM big GROUP BY prev),
vocab_n AS (SELECT COUNT(DISTINCT tok) AS v FROM toks),
ll AS (
    SELECT c2.prev, c2.cur,
           ROUND(LN((c2.n2 + 1) / CAST(c1.n1 + vn.v AS DOUBLE)), 6) AS lp
    FROM c2 JOIN c1 ON c1.prev = c2.prev CROSS JOIN vocab_n vn
)
SELECT b.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(AVG(l.lp), 4) AS avg_bigram_logprob
FROM big b JOIN ll l ON l.prev = b.prev AND l.cur = b.cur
GROUP BY b.doc_id
""",
    tags=("text-lm", "F16"),
)
def q152_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean bigram log-likelihood under the corpus bigram LM.

    Bigrams come from a NARROW arrays_zip over each doc's token array
    (no positional self-join shuffle — the oracle's join spelling is the
    semantics, not the plan); the (prev,cur) model table is at most
    vocab² rows → broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", text_analysis.tokens_raw(F.col("text")).alias("ts")
    ).filter(F.size("ts") >= 2)
    big = toks.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("ts", 1, F.size("ts") - 1),
                F.slice("ts", 2, F.size("ts") - 1),
            )
        ).alias("_bg"),
    ).select("doc_id", F.col("_bg.0").alias("prev"), F.col("_bg.1").alias("cur"))
    c2 = big.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("n2"))
    c1 = big.groupBy("prev").agg(F.count(F.lit(1)).alias("n1"))
    vocab_n = (
        docs.select(F.explode(text_analysis.tokens_raw(F.col("text"))).alias("tok"))
        .agg(F.countDistinct("tok").alias("v"))
    )
    ll = (
        c2.join(c1, "prev")
        .join(F.broadcast(vocab_n))
        .select(
            "prev",
            "cur",
            F.round(
                F.log((F.col("n2") + 1) / (F.col("n1") + F.col("v")).cast("double")), 6
            ).alias("lp"),
        )
    )
    return (
        big.join(F.broadcast(ll), ["prev", "cur"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(F.avg("lp"), 4).alias("avg_bigram_logprob"),
        )
    )


@register(
    "q155_epoch_shuffle",
    # Deterministic training-epoch shuffles: per epoch, every doc gets a
    # dense position by md5(epoch:doc_id) order — reproducible data
    # ordering across runs/engines, the standard seeded-shuffle contract
    # of a training pipeline. Uses the SCALABLE assigner (q12's W1
    # operator) per epoch: repartitionByRange on the shuffle key +
    # per-partition offsets in the same plan — never a global-sort window.
    oracle="""
WITH keyed AS (
    SELECT doc_id,
           MD5('0:' || CAST(doc_id AS VARCHAR)) AS k0,
           MD5('1:' || CAST(doc_id AS VARCHAR)) AS k1
    FROM documents
)
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (ORDER BY k0) AS BIGINT) AS epoch0_pos,
       CAST(ROW_NUMBER() OVER (ORDER BY k1) AS BIGINT) AS epoch1_pos
FROM keyed
""",
    tags=("W1", "O1", "training-shuffle"),
)
def q155_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two reproducible epoch orderings of the corpus (md5-keyed)."""
    from ..operators.ids import assign_ids_scalable

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    keyed = docs.select(
        "doc_id",
        F.md5(F.concat(F.lit("0:"), F.col("doc_id").cast("string"))).alias("k0"),
        F.md5(F.concat(F.lit("1:"), F.col("doc_id").cast("string"))).alias("k1"),
    )
    # k is the md5 of a unique doc_id, so (k, doc_id) orders as k alone;
    # assign_ids_scalable numbers a relation of exactly its order columns
    e0 = assign_ids_scalable(
        keyed.select("k0", "doc_id"), ["k0", "doc_id"], "epoch0_pos"
    ).select("doc_id", "epoch0_pos")
    e1 = assign_ids_scalable(
        keyed.select("k1", "doc_id"), ["k1", "doc_id"], "epoch1_pos"
    ).select(F.col("doc_id").alias("d1"), "epoch1_pos")
    return e0.join(e1, e0["doc_id"] == e1["d1"]).select(
        "doc_id", "epoch0_pos", "epoch1_pos"
    )


@register(
    "q156_corpus_drift",
    # Distribution-shift detection between two corpus halves: add-one-
    # smoothed token distributions, per-token KL contribution
    # P_a·ln(P_a/P_b) with the log ROUNDED to 6dp before the product
    # (identical operands cross-engine), ranked by |contribution|. The
    # data-quality probe for "did the new crawl's token mix drift".
    oracle="""
WITH toks AS (
    SELECT doc_id % 2 AS half,
           UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS tok
    FROM documents
),
vocab AS (SELECT DISTINCT tok FROM toks),
vn AS (SELECT COUNT(*) AS v FROM vocab),
cnt AS (
    SELECT v.tok,
           SUM(CASE WHEN t.half = 0 THEN 1 ELSE 0 END) AS na,
           SUM(CASE WHEN t.half = 1 THEN 1 ELSE 0 END) AS nb
    FROM vocab v LEFT JOIN toks t ON t.tok = v.tok
    GROUP BY v.tok
),
tot AS (SELECT SUM(na) AS ta, SUM(nb) AS tb FROM cnt),
probs AS (
    SELECT c.tok,
           (c.na + 1) / CAST(t.ta + vn.v AS DOUBLE) AS pa,
           (c.nb + 1) / CAST(t.tb + vn.v AS DOUBLE) AS pb
    FROM cnt c CROSS JOIN tot t CROSS JOIN vn
),
contrib AS (
    SELECT tok, ROUND(pa * ROUND(LN(pa / pb), 6), 6) AS kl_term
    FROM probs
)
SELECT tok, kl_term
FROM (
    SELECT tok, kl_term,
           ROW_NUMBER() OVER (ORDER BY ABS(kl_term) DESC, tok ASC) AS rk
    FROM contrib) t
WHERE rk <= 10
""",
    tags=("A12", "data-quality", "drift"),
)
def q156_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 token-level KL-divergence contributors between the two
    doc_id-parity halves of the corpus. Counts are one conditional
    aggregate over the token stream; the probability/contribution math
    runs on the VOCABULARY relation (31 rows; always vocab-sized)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(text_analysis.tokens_raw(F.col("text"))).alias("tok"),
    )
    cnt = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("nb"),
    )
    vn = cnt.agg(F.count(F.lit(1)).alias("v"))
    tot = cnt.agg(F.sum("na").alias("ta"), F.sum("nb").alias("tb"))
    probs = cnt.join(F.broadcast(tot)).join(F.broadcast(vn)).select(
        "tok",
        ((F.col("na") + 1) / (F.col("ta") + F.col("v")).cast("double")).alias("pa"),
        ((F.col("nb") + 1) / (F.col("tb") + F.col("v")).cast("double")).alias("pb"),
    )
    contrib = probs.select(
        "tok",
        F.round(
            F.col("pa") * F.round(F.log(F.col("pa") / F.col("pb")), 6), 6
        ).alias("kl_term"),
    )
    w = Window.partitionBy(F.lit(1)).orderBy(F.desc(F.abs(F.col("kl_term"))), F.asc("tok"))
    return (
        contrib.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("tok", "kl_term")
    )


@register(
    "q157_source_scorecard",
    # The curation dashboard: one relation scoring every source on
    # volume, length, quality-gate pass rate, and exact-duplicate rate —
    # the roll-up a 100 TB ingest review starts from. Reuses the q24
    # keep rule verbatim and the q04 md5 dup key.
    oracle=f"""
WITH t AS (
    SELECT doc_id, source, text,
           LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> x <> '') AS toks
    FROM documents
),
flags AS (
    SELECT doc_id, source,
           LENGTH(text) AS n_chars,
           LEN(toks) AS n_tokens,
           CASE WHEN {QUALITY_KEEP_SQL} THEN 1 ELSE 0 END AS keep
    FROM t
),
dups AS (
    SELECT doc_id,
           CASE WHEN COUNT(*) OVER (PARTITION BY MD5(text)) > 1
                THEN 1 ELSE 0 END AS is_dup
    FROM documents
)
SELECT f.source,
       COUNT(*) AS n_docs,
       ROUND(AVG(f.n_chars), 4) AS avg_chars,
       ROUND(AVG(f.n_tokens), 4) AS avg_tokens,
       ROUND(CAST(SUM(f.keep) AS DOUBLE) / COUNT(*), 4) AS keep_rate,
       ROUND(CAST(SUM(d.is_dup) AS DOUBLE) / COUNT(*), 4) AS dup_rate
FROM flags f JOIN dups d ON d.doc_id = f.doc_id
GROUP BY f.source
""",
    tags=("text-quality", "A12", "curation-report"),
)
def q157_source_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation scorecard: volume, mean length, quality-gate
    pass rate, exact-dup rate. Dup flags come from one md5-keyed count
    join (uniform key); everything else is a single keyed aggregate —
    integer AVGs are exact-ratio divides, so 4dp rounding is
    engine-stable."""
    docs = load_table(spark, sf_dir, "documents")
    toks = text_analysis.tokens_lower(F.col("text"))
    punct_ratio = F.round(
        (
            F.length("text")
            - F.length(F.regexp_replace("text", r"[^\w\s]", ""))
        ).cast("double")
        / F.length("text"),
        4,
    )
    distinct_ratio = F.round(
        F.size(F.array_distinct("_toks")).cast("double") / F.size("_toks"), 4
    )
    flags = docs.select(
        "doc_id",
        "source",
        F.length("text").alias("n_chars"),
        toks.alias("_toks"),
        F.col("text"),
    ).select(
        "doc_id",
        "source",
        "n_chars",
        F.size("_toks").alias("n_tokens"),
        F.when(
            (F.size("_toks") >= 10)
            & (distinct_ratio >= 0.1)
            & (punct_ratio <= 0.3),
            1,
        )
        .otherwise(0)
        .alias("keep"),
    )
    md5_counts = docs.groupBy(F.md5("text").alias("_h")).agg(
        F.count(F.lit(1)).alias("_hn")
    )
    dups = (
        docs.select("doc_id", F.md5("text").alias("_h"))
        .join(md5_counts, "_h")
        .select("doc_id", F.when(F.col("_hn") > 1, 1).otherwise(0).alias("is_dup"))
    )
    return (
        flags.join(dups, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.round(F.sum("keep").cast("double") / F.count(F.lit(1)), 4).alias(
                "keep_rate"
            ),
            F.round(F.sum("is_dup").cast("double") / F.count(F.lit(1)), 4).alias(
                "dup_rate"
            ),
        )
    )


@register(
    "q159_array_functions",
    # Higher-order-function coverage in one pass: filter / exists /
    # forall / zip_with+aggregate (position-weighted fold) over each
    # doc's token array — all whole-stage-codegen, zero explode
    # shuffles. The position-weighted sum is integer arithmetic (exact);
    # the oracle flattens with ordinality since DuckDB's lambda algebra
    # differs, but the semantics match term for term.
    oracle="""
WITH t AS (
    SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '') AS toks
    FROM documents
),
flat AS (
    SELECT doc_id, UNNEST(toks) AS tok, GENERATE_SUBSCRIPTS(toks, 1) AS i
    FROM t
)
SELECT f.doc_id,
       CAST(LEN(LIST_FILTER(t.toks, x -> LENGTH(x) > 4)) AS BIGINT) AS n_long,
       LEN(LIST_FILTER(t.toks, x -> x = 'the')) > 0 AS has_the,
       LEN(LIST_FILTER(t.toks, x -> NOT REGEXP_MATCHES(x, '^[a-z]+$'))) = 0
           AS all_lower_alpha,
       CAST(SUM(f.i * LENGTH(f.tok)) AS BIGINT) AS pos_weighted_len
FROM flat f JOIN t ON t.doc_id = f.doc_id
GROUP BY f.doc_id, t.toks
""",
    tags=("F23", "higher-order-functions"),
)
def q159_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter/exists/forall/zip_with/aggregate over per-doc token
    arrays — the narrow array-form idiom the dedup family is built on,
    exercised as a declared query."""
    docs = load_table(spark, sf_dir, "documents")
    toks = text_analysis.tokens_raw(F.col("text"))
    pos_weighted = F.aggregate(
        F.zip_with(
            F.col("_t"),
            F.sequence(F.lit(1), F.size("_t")),
            lambda t, i: i.cast("long") * F.length(t).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        docs.select("doc_id", toks.alias("_t"))
        .filter(F.size("_t") > 0)
        .select(
            "doc_id",
            F.size(F.filter("_t", lambda x: F.length(x) > 4)).cast("long").alias("n_long"),
            F.exists("_t", lambda x: x == "the").alias("has_the"),
            F.forall("_t", lambda x: x.rlike("^[a-z]+$")).alias("all_lower_alpha"),
            pos_weighted.alias("pos_weighted_len"),
        )
    )


@register(
    "q173_vocab_growth",
    # Heaps-law diagnostic: distinct-vocabulary size after each batch of
    # 50 documents (doc_id order) — the q150 first-touch trick applied
    # to tokens: V(prefix) = |{tokens whose FIRST doc falls in or before
    # the batch}|, one min-aggregate + a bounded triangle join; never a
    # per-prefix distinct rescan.
    oracle="""
WITH firsts AS (
    SELECT tok, MIN(doc_id) AS first_doc FROM (
        SELECT doc_id,
               UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS tok
        FROM documents) t
    GROUP BY tok
),
batches AS (
    SELECT DISTINCT CAST(doc_id // 50 AS BIGINT) AS batch FROM documents
),
news AS (
    SELECT CAST(first_doc // 50 AS BIGINT) AS batch, COUNT(*) AS n_new
    FROM firsts GROUP BY batch
)
SELECT b.batch,
       CAST(SUM(COALESCE(n.n_new, 0)) AS BIGINT) AS vocab_size
FROM batches b LEFT JOIN news n ON n.batch <= b.batch
GROUP BY b.batch
""",
    tags=("A10", "first-touch", "text-stats"),
)
def q173_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct-token count per 50-doc ingest batch."""
    docs = load_table(spark, sf_dir, "documents")
    firsts = (
        docs.select(
            "doc_id", F.explode(text_analysis.tokens_raw(F.col("text"))).alias("tok")
        )
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    batches = docs.select(
        F.floor(F.col("doc_id") / 50).cast("long").alias("batch")
    ).distinct()
    news = firsts.groupBy(
        F.floor(F.col("first_doc") / 50).cast("long").alias("n_batch")
    ).agg(F.count(F.lit(1)).alias("n_new"))
    return (
        batches.join(F.broadcast(news), F.col("n_batch") <= F.col("batch"), "left")
        .groupBy("batch")
        .agg(F.sum(F.coalesce("n_new", F.lit(0))).cast("long").alias("vocab_size"))
    )


@register(
    "q177_token_spans_gate",
    # The UDTF surface under the hash gate: LATERAL token_spans over the
    # corpus, rolled up per doc. The corpus text is single-spaced
    # (verified), so the oracle reconstructs each token's character
    # offset as cumsum(previous lengths + separators) — checking the
    # UDTF's scan arithmetic byte-for-byte, not just row counts.
    oracle="""
WITH toks AS (
    SELECT doc_id,
           UNNEST(STRING_SPLIT(text, ' ')) AS tok,
           GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS i
    FROM documents
),
offs AS (
    SELECT doc_id, tok, i,
           CAST(COALESCE(SUM(LENGTH(tok) + 1) OVER (
               PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS start
    FROM toks
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(start) AS BIGINT) AS sum_start,
       CAST(SUM(LENGTH(tok)) AS BIGINT) AS sum_len
FROM offs
GROUP BY doc_id
""",
    tags=("F23", "udtf"),
)
def q177_token_spans_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc span statistics produced by the TokenSpans UDTF (LATERAL
    table-function call), aggregated relationally — declared-Python
    expansion, JVM-side rollup."""
    from ..functions.udtfs import TokenSpans

    spark.udtf.register("token_spans", TokenSpans)
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("_q177_docs")
    return spark.sql(
        """
        SELECT d.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(s.start) AS BIGINT) AS sum_start,
               CAST(SUM(s.end - s.start) AS BIGINT) AS sum_len
        FROM _q177_docs d, LATERAL token_spans(d.text) AS s
        GROUP BY d.doc_id
        """
    )


# Lucene-style BM25 (k1=1.2, b=0.75, idf = ln((N-df+.5)/(df+.5)+1)); query =
# doc 0's distinct tokens (q118's convention). CTE body ends at
# ``bm_scored(doc_id, score)`` — shared by q188 and the q198 IR-eval oracle.
_BM25_CTES = """
bm_toks AS (
    SELECT doc_id, UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS tok
    FROM documents
),
bm_tf AS (
    SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
    FROM bm_toks GROUP BY doc_id, tok
),
bm_dl AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM bm_toks GROUP BY doc_id
),
bm_stats AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM bm_dl
),
bm_dfreq AS (
    SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
    FROM bm_toks GROUP BY tok
),
bm_qtoks AS (
    SELECT DISTINCT tok FROM bm_toks WHERE doc_id = 0
),
bm_scored AS (
    SELECT t.doc_id,
           SUM(
               LN((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
               * t.tf * (1.2 + 1.0)
               / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl))
           ) AS score
    FROM bm_tf t
    JOIN bm_qtoks q ON q.tok = t.tok
    JOIN bm_dfreq d ON d.tok = t.tok
    JOIN bm_dl l ON l.doc_id = t.doc_id
    CROSS JOIN bm_stats s
    WHERE t.doc_id <> 0
    GROUP BY t.doc_id
)"""


@register(
    "q188_bm25_retrieval",
    # Scores round to 4dp BEFORE ranking; doc_id breaks ties.
    oracle=f"""
WITH {_BM25_CTES}
SELECT doc_id, ROUND(score, 4) AS bm25
FROM bm_scored
ORDER BY ROUND(score, 4) DESC, doc_id ASC
LIMIT 10
""",
    tags=("search", "A8", "ranking"),
)
def q188_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval over the corpus for doc 0's token set — the
    scoring layer the inverted index (q65) feeds. Term stats (tf, df,
    doc length, avgdl) are keyed aggregations with map-side partials; the
    query-token relation is tiny and broadcast; the top-10 executes as
    TakeOrderedAndProject (no global sort)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    dfreq = toks.distinct().groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    qtoks = toks.filter(F.col("doc_id") == 0).select("tok").distinct()
    k1, b = 1.2, 0.75
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    contrib = idf * F.col("tf") * (k1 + 1.0) / denom
    scored = (
        tf.join(F.broadcast(qtoks), "tok")
        .join(dfreq, "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .filter(F.col("doc_id") != 0)
        .groupBy("doc_id")
        .agg(F.round(F.sum(contrib), 4).alias("bm25"))
    )
    return scored.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()).limit(10)


# "relevant" = cosine ≥ 0.05: the synthetic corpus's lexical and semantic
# signals are nearly independent (max graded rel ≈ 0.11 at sf0.01), so the
# threshold sits where MRR is informative rather than constant-zero.
_REL_THRESHOLD = 0.05


@register(
    "q198_ir_eval",
    # Retrieval eval harness: nDCG@10 and MRR of the BM25 ranking (q188)
    # against embedding-cosine relevance for the same query doc. Gains are
    # GREATEST(rounded cosine, 0); both metrics round to 4dp at the end.
    oracle=None,  # composed below (needs the similarity module's CTE)
    tags=("search", "eval", "A12"),
)
def q198_ir_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IR quality metrics for the lexical ranker vs the semantic
    ground truth — the eval loop a retrieval pipeline runs after every
    index build. All inputs are existing operators; the metric math is a
    ten-row rollup."""
    from pyspark.sql import Window

    from ..operators import similarity

    bm = q188_bm25_retrieval(spark, sf_dir).withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        ),
    )
    emb = load_table(spark, sf_dir, "embeddings")
    q0 = emb.filter(F.col("vec_id") == 0)
    # Direct rounded cosine vs the broadcast query vector — NOT the top-k
    # operator with a corpus-sized k, which would defeat its sharded
    # design and funnel every scored row through the phase-2 re-rank.
    rel = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q0.select(F.col("embedding").alias("q_vec"))))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.greatest(
                F.round(
                    similarity.cosine(F.col("embedding"), F.col("q_vec")), 4
                ),
                F.lit(0.0),
            ).alias("rel"),
        )
    )
    graded = bm.join(rel, "doc_id", "left").na.fill({"rel": 0.0})
    dcg = graded.agg(
        F.sum(F.col("rel") / F.log2(F.col("rk") + 1)).alias("dcg"),
        F.round(
            1.0
            / F.min(F.when(F.col("rel") >= _REL_THRESHOLD, F.col("rk"))),
            4,
        ).alias("mrr_raw"),
    )
    # IDCG from the sharded exact top-10 (no corpus-wide window): clamped-
    # zero gains contribute nothing, so top-10-by-cosine ≡ top-10-by-rel.
    ideal = (
        similarity.cosine_topk(emb, q0, k=10)
        .select(F.greatest(F.col("cosine"), F.lit(0.0)).alias("irel"))
        .withColumn(
            "irk",
            F.row_number().over(Window.orderBy(F.col("irel").desc())),
        )
        .agg(F.sum(F.col("irel") / F.log2(F.col("irk") + 1)).alias("idcg"))
    )
    return dcg.crossJoin(ideal).select(
        F.round(F.col("dcg") / F.col("idcg"), 4).alias("ndcg_10"),
        F.coalesce(F.col("mrr_raw"), F.lit(0.0)).alias("mrr"),
    )


def _ir_eval_oracle() -> str:
    from .similarity_queries import _COSINE_CTE, _N_QUERIES

    cos = _COSINE_CTE.replace(f"vec_id < {_N_QUERIES}", "vec_id = 0")
    if "vec_id = 0" not in cos:
        raise RuntimeError("cosine CTE shape changed; fix the rewrite")
    return f"""
WITH {_BM25_CTES},
{cos},
rel AS (
    SELECT neighbor_id AS doc_id, GREATEST(cosine, 0) AS rel FROM scored
),
bmtop AS (
    SELECT doc_id, ROW_NUMBER() OVER (
        ORDER BY ROUND(score, 4) DESC, doc_id ASC
    ) AS rk
    FROM bm_scored
    QUALIFY rk <= 10
),
graded AS (
    SELECT b.rk, COALESCE(r.rel, 0) AS rel
    FROM bmtop b LEFT JOIN rel r ON r.doc_id = b.doc_id
),
dcg AS (
    SELECT SUM(rel / LOG2(rk + 1)) AS dcg,
           ROUND(1.0 / MIN(CASE WHEN rel >= {_REL_THRESHOLD} THEN rk END), 4) AS mrr_raw
    FROM graded
),
ideal AS (
    SELECT SUM(rel / LOG2(irk + 1)) AS idcg FROM (
        SELECT rel, ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id ASC) AS irk
        FROM rel
    ) WHERE irk <= 10
)
SELECT ROUND(d.dcg / i.idcg, 4) AS ndcg_10,
       COALESCE(d.mrr_raw, 0.0) AS mrr
FROM dcg d CROSS JOIN ideal i
"""


from .registry import REGISTRY as _REG  # noqa: E402

_REG["q198_ir_eval"].oracle = _ir_eval_oracle()


# --------------------------------------------------------------------------
# q215 — CCNet-style perplexity tercile filter: the full production quality-
# filter workflow on top of q152's bigram LM. Per-doc perplexity under the
# corpus-trained add-one-smoothed bigram model, bucketed by the CORPUS
# perplexity terciles into head/middle/tail (CCNet's vocabulary), with the
# keep verdict (head+middle kept, tail cut). Wetterstrand/CCNet use KenLM
# 5-grams; the plan shape — broadcast LM table, per-doc aggregate, 1-row
# broadcast quantile boundaries — is identical at any order.
# Scale: model table ≤ observed-bigram count → broadcast; two doc-keyed
# aggregates; terciles are ONE 1-row aggregate broadcast back (no global
# window). Log terms rounded 6dp pre-mean, mean 4dp, EXP on the rounded
# operand → engine-portable (q152 contract).
# --------------------------------------------------------------------------
@register(
    "q215_perplexity_filter",
    oracle="""
WITH toks AS (
    SELECT doc_id,
           UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS tok,
           GENERATE_SUBSCRIPTS(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> ''), 1) AS i
    FROM documents
),
big AS (
    SELECT a.doc_id, a.tok AS prev, b.tok AS cur
    FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
),
c2 AS (SELECT prev, cur, COUNT(*) AS n2 FROM big GROUP BY prev, cur),
c1 AS (SELECT prev, COUNT(*) AS n1 FROM big GROUP BY prev),
vocab_n AS (SELECT COUNT(DISTINCT tok) AS v FROM toks),
ll AS (
    SELECT c2.prev, c2.cur,
           ROUND(LN((c2.n2 + 1) / CAST(c1.n1 + vn.v AS DOUBLE)), 6) AS lp
    FROM c2 JOIN c1 ON c1.prev = c2.prev CROSS JOIN vocab_n vn
),
scored AS (
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(EXP(-ROUND(AVG(l.lp), 4)), 4) AS ppl
    FROM big b JOIN ll l ON l.prev = b.prev AND l.cur = b.cur
    GROUP BY b.doc_id
),
bounds AS (
    SELECT ROUND(QUANTILE_CONT(ppl, 1.0/3), 4) AS t1,
           ROUND(QUANTILE_CONT(ppl, 2.0/3), 4) AS t2
    FROM scored
)
SELECT s.doc_id, s.n_bigrams, s.ppl,
       CASE WHEN s.ppl <= b.t1 THEN 'head'
            WHEN s.ppl <= b.t2 THEN 'middle'
            ELSE 'tail' END AS bucket,
       CAST(CASE WHEN s.ppl <= b.t2 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM scored s CROSS JOIN bounds b
""",
    tags=("training-prep", "quality", "text-lm"),
)
def q215_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet tercile perplexity filter: (doc_id, n_bigrams, ppl, bucket,
    keep) under the corpus add-one bigram LM. Bigrams via a narrow
    arrays_zip (no positional self-join); LM and tercile boundaries are
    broadcasts."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", text_analysis.tokens_raw(F.col("text")).alias("ts")
    ).filter(F.size("ts") >= 2)
    big = toks.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("ts", 1, F.size("ts") - 1),
                F.slice("ts", 2, F.size("ts") - 1),
            )
        ).alias("_bg"),
    ).select("doc_id", F.col("_bg.0").alias("prev"), F.col("_bg.1").alias("cur"))
    c2 = big.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("n2"))
    c1 = big.groupBy("prev").agg(F.count(F.lit(1)).alias("n1"))
    vocab_n = (
        docs.select(F.explode(text_analysis.tokens_raw(F.col("text"))).alias("tok"))
        .agg(F.countDistinct("tok").alias("v"))
    )
    ll = (
        c2.join(c1, "prev")
        .join(F.broadcast(vocab_n))
        .select(
            "prev",
            "cur",
            F.round(
                F.log((F.col("n2") + 1) / (F.col("n1") + F.col("v")).cast("double")), 6
            ).alias("lp"),
        )
    )
    scored = (
        big.join(F.broadcast(ll), ["prev", "cur"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.exp(-F.round(F.avg("lp"), 4)), 4).alias("ppl"),
        )
    )
    bounds = scored.agg(
        F.round(F.percentile("ppl", F.lit(1.0 / 3)), 4).alias("t1"),
        F.round(F.percentile("ppl", F.lit(2.0 / 3)), 4).alias("t2"),
    )
    return scored.crossJoin(F.broadcast(bounds)).select(
        "doc_id",
        "n_bigrams",
        "ppl",
        F.when(F.col("ppl") <= F.col("t1"), F.lit("head"))
        .when(F.col("ppl") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
        (F.col("ppl") <= F.col("t2")).cast("long").alias("keep"),
    )


# --------------------------------------------------------------------------
# q221 — Stupid Backoff scoring (Brants et al. 2007, "Large Language
# Models in Machine Translation"): the web-scale n-gram smoothing used at
# Google BECAUSE it distributes — no discount mass bookkeeping, just
# S(w2|w1) = c(w1 w2)/c(w1) when the bigram was seen, else 0.4·c(w2)/N
# (0.4·0.5/N when even the unigram is unseen — documented OOV floor).
# The LM trains on the SMALL doc_id % 13 == 1 slice and scores the
# disjoint doc_id % 13 == 0 held-out slice — sized so backoff genuinely
# triggers on unseen bigrams (~10% of held-out bigrams at sf0.01; a
# train-on-everything split saw every bigram and never backed off). Per doc: mean log-score in exact integer micro-nats + the
# backoff count — all-integer outputs, zero rounding knife-edges.
# Scale: counting aggregates with map-side partials; LM tables broadcast
# at vocab scale (shuffle-hash on uniform token keys beyond that); one
# doc-keyed aggregate. No global window.
# --------------------------------------------------------------------------
@register(
    "q221_stupid_backoff",
    oracle="""
WITH toks AS (
    SELECT doc_id,
           UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS tok,
           GENERATE_SUBSCRIPTS(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> ''), 1) AS i
    FROM documents
),
train_toks AS (SELECT * FROM toks WHERE doc_id % 13 = 1),
n_tot AS (SELECT COUNT(*) AS n FROM train_toks),
big_tr AS (
    SELECT a.tok AS prev, b.tok AS cur, COUNT(*) AS n2
    FROM train_toks a JOIN train_toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
    GROUP BY a.tok, b.tok
),
c1 AS (SELECT prev, SUM(n2) AS n1 FROM big_tr GROUP BY prev),
cu AS (SELECT tok, COUNT(*) AS nu FROM train_toks GROUP BY tok),
held AS (
    SELECT a.doc_id, a.tok AS prev, b.tok AS cur
    FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
    WHERE a.doc_id % 13 = 0
),
scored AS (
    SELECT h.doc_id,
           CASE WHEN b.n2 IS NOT NULL THEN 0 ELSE 1 END AS backed,
           CAST(ROUND(LN(
               CASE WHEN b.n2 IS NOT NULL
                    THEN CAST(b.n2 AS DOUBLE) / c1.n1
                    ELSE 0.4 * (COALESCE(CAST(u.nu AS DOUBLE), 0.5) / t.n)
               END) * 1000000.0) AS BIGINT) AS ls
    FROM held h
    LEFT JOIN big_tr b ON b.prev = h.prev AND b.cur = h.cur
    LEFT JOIN c1 ON c1.prev = h.prev
    LEFT JOIN cu u ON u.tok = h.cur
    CROSS JOIN n_tot t
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(backed) AS BIGINT) AS n_backoff,
       CAST(FLOOR(CAST(SUM(ls) AS DOUBLE) / COUNT(*)) AS BIGINT)
           AS avg_score_micro
FROM scored GROUP BY doc_id
""",
    tags=("text-lm", "training-prep", "quality"),
)
def q221_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out documents scored under a Stupid Backoff bigram LM trained
    on the other split: (doc_id, n_bigrams, n_backoff, avg_score_micro) —
    integer micro-nat outputs."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", text_analysis.tokens_raw(F.col("text")).alias("ts")
    ).filter(F.size("ts") >= 2)
    big_all = toks.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("ts", 1, F.size("ts") - 1),
                F.slice("ts", 2, F.size("ts") - 1),
            )
        ).alias("_bg"),
    ).select("doc_id", F.col("_bg.0").alias("prev"), F.col("_bg.1").alias("cur"))
    train_toks = docs.filter(F.col("doc_id") % 13 == 1).select(
        F.explode(text_analysis.tokens_raw(F.col("text"))).alias("tok")
    )
    n_tot = train_toks.agg(F.count(F.lit(1)).alias("n"))
    big_tr = (
        big_all.filter(F.col("doc_id") % 13 == 1)
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("n2"))
    )
    c1 = big_tr.groupBy("prev").agg(F.sum("n2").alias("n1"))
    cu = train_toks.groupBy("tok").agg(F.count(F.lit(1)).alias("nu"))
    held = big_all.filter(F.col("doc_id") % 13 == 0)
    score = F.when(
        F.col("n2").isNotNull(), F.col("n2").cast("double") / F.col("n1")
    ).otherwise(
        F.lit(0.4) * (F.coalesce(F.col("nu").cast("double"), F.lit(0.5)) / F.col("n"))
    )
    scored = (
        held.join(F.broadcast(big_tr), ["prev", "cur"], "left")
        .join(F.broadcast(c1), "prev", "left")
        .join(F.broadcast(cu.withColumnRenamed("tok", "cur")), "cur", "left")
        .join(F.broadcast(n_tot))
        .select(
            "doc_id",
            F.when(F.col("n2").isNotNull(), F.lit(0)).otherwise(F.lit(1)).alias("backed"),
            F.round(F.log(score) * F.lit(1000000.0)).cast("long").alias("ls"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("backed").alias("n_backoff"),
        F.floor(F.sum("ls").cast("double") / F.count(F.lit(1)))
        .cast("long")
        .alias("avg_score_micro"),
    )


# --------------------------------------------------------------------------
# q234 — token-entropy gibberish signal. Low-entropy documents (a few
# tokens repeated over and over) and pathologically high-entropy ones
# (every token unique, no natural-language redundancy) are both classic
# crawl junk; the curation gate keeps the interior band. H = log2(n) −
# (Σ c·log2 c)/n over per-doc token counts — the per-type term is frozen
# to an exact micro-integer (round(c·log2(c)·1e6)) so the cross-partition
# sum is integer math: order-independent, hash-identical to DuckDB (the
# q221 Stupid-Backoff trick). One doc-keyed count agg + one doc-keyed sum;
# no corpus-wide state at all, so the plan is embarrassingly parallel.
# --------------------------------------------------------------------------
_ENTROPY_LO = 2.0
_ENTROPY_HI = 7.5


@register(
    "q234_token_entropy",
    oracle=f"""
WITH toks AS (
    SELECT doc_id,
           UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS tok
    FROM documents
),
counts AS (
    SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok
),
terms AS (
    SELECT doc_id, c,
           CAST(ROUND(c * LOG2(CAST(c AS DOUBLE)) * 1000000.0) AS BIGINT)
               AS clc_micro
    FROM counts
),
agg AS (
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           SUM(clc_micro) AS s_micro
    FROM terms GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_types,
       ROUND(LOG2(CAST(n_tokens AS DOUBLE))
             - (CAST(s_micro AS DOUBLE) / 1000000.0) / n_tokens, 4)
           AS entropy,
       CAST(CASE WHEN LOG2(CAST(n_tokens AS DOUBLE))
                      - (CAST(s_micro AS DOUBLE) / 1000000.0) / n_tokens
                      BETWEEN {_ENTROPY_LO} AND {_ENTROPY_HI}
                 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM agg
ORDER BY doc_id
""",
    tags=("quality", "text-analysis", "A5"),
)
def q234_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token Shannon entropy + keep-band flag:
    (doc_id, n_tokens, n_types, entropy, keep). Exact integer sum of
    micro-scaled c·log2(c) terms so partitioned summation matches the
    single-node oracle bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(text_analysis.tokens_raw(F.col("text"))).alias("tok"),
    )
    counts = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    clc_micro = F.round(
        F.col("c") * F.log2(F.col("c").cast("double")) * 1000000.0
    ).cast("long")
    agg = counts.select("doc_id", "c", clc_micro.alias("clc_micro")).groupBy(
        "doc_id"
    ).agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum("clc_micro").alias("s_micro"),
    )
    h = F.log2(F.col("n_tokens").cast("double")) - (
        F.col("s_micro").cast("double") / 1000000.0
    ) / F.col("n_tokens")
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_types",
        F.round(h, 4).alias("entropy"),
        ((h >= _ENTROPY_LO) & (h <= _ENTROPY_HI)).cast("long").alias("keep"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# q245 — mixed-language (polyglot-contamination) detection: q25's marker
# lang-ID applied per 10-token window instead of per document, rolled up
# to how many languages a doc's windows predict and the dominant share.
# Catches concatenated bilingual crawl pages that a whole-doc argmax
# labels confidently as one language.
# --------------------------------------------------------------------------
_MIXSEG = 10


def _mixed_lang_oracle() -> str:
    langs = sorted(text_analysis.LANG_MARKERS)
    score_exprs = []
    for lg in langs:
        markers = ", ".join(f"'{m}'" for m in text_analysis.LANG_MARKERS[lg])
        score_exprs.append(
            f"LEN(LIST_FILTER(sw, x -> x IN ({markers}))) AS score_{lg}"
        )
    greatest = "GREATEST(" + ", ".join(f"score_{lg}" for lg in langs) + ")"
    case = " ".join(f"WHEN score_{lg} = best THEN '{lg}'" for lg in langs)
    return f"""
WITH mdocs AS (
    SELECT doc_id,
           LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> x <> '') AS w
    FROM documents
),
msegs AS (
    SELECT doc_id,
           w[i * {_MIXSEG} + 1 : i * {_MIXSEG} + {_MIXSEG}] AS sw
    FROM mdocs,
         UNNEST(GENERATE_SERIES(0,
             CAST(CEIL(LEN(w) / {_MIXSEG}.0) AS INT) - 1)) AS t(i)
    WHERE LEN(w) > 0
),
ms AS (SELECT doc_id, {", ".join(score_exprs)} FROM msegs),
mg AS (SELECT *, {greatest} AS best FROM ms),
mp AS (SELECT doc_id, CASE {case} END AS pred FROM mg),
mc AS (SELECT doc_id, pred, COUNT(*) AS c FROM mp GROUP BY doc_id, pred)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_segs,
       CAST(COUNT(*) AS BIGINT) AS n_langs,
       ROUND(MAX(c) / CAST(SUM(c) AS DOUBLE), 4) AS top_share,
       CAST(CASE WHEN COUNT(*) > 1 THEN 1 ELSE 0 END AS BIGINT) AS mixed
FROM mc
GROUP BY doc_id
ORDER BY doc_id
"""


@register(
    "q245_mixed_language",
    oracle=_mixed_lang_oracle(),
    tags=("text-langid", "quality", "A5"),
)
def q245_mixed_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed lang-ID rollup per doc: (doc_id, n_segs, n_langs,
    top_share, mixed) — operators/text_analysis.segment_lang_profile."""
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.segment_lang_profile(
        docs, seg_tokens=_MIXSEG
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# q265 — distinct-n diversity per source: the generation-diversity metric
# (ratio of DISTINCT n-grams to total n-grams, n = 1, 2, 3) computed per
# corpus source — low distinct-n means templated/repetitive text, the
# signal mixing pipelines use to down-weight a source before training.
# Parity: gram totals and distinct counts are exact integers (positional
# grams, md5-free — the strings themselves are the keys); three divisions
# at the end, 4dp.
# Scale: one explode per n (narrow, linear in corpus tokens) feeding one
# (source, gram)-keyed partial-distinct aggregate each — the same
# two-phase COUNT(DISTINCT) plan as q116; output is |sources| rows.
# --------------------------------------------------------------------------
@register(
    "q265_distinct_n_diversity",
    oracle="""
WITH docs AS (
    SELECT source, LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '') AS w
    FROM documents
),
g1 AS (
    SELECT source, UNNEST(w) AS gram FROM docs
),
g2 AS (
    SELECT source, ARRAY_TO_STRING(w[i + 1 : i + 2], ' ') AS gram
    FROM docs, UNNEST(GENERATE_SERIES(0, LEN(w) - 2)) AS t(i)
    WHERE LEN(w) >= 2
),
g3 AS (
    SELECT source, ARRAY_TO_STRING(w[i + 1 : i + 3], ' ') AS gram
    FROM docs, UNNEST(GENERATE_SERIES(0, LEN(w) - 3)) AS t(i)
    WHERE LEN(w) >= 3
),
s1 AS (SELECT source, COUNT(*) AS n1, COUNT(DISTINCT gram) AS d1 FROM g1 GROUP BY source),
s2 AS (SELECT source, COUNT(*) AS n2, COUNT(DISTINCT gram) AS d2 FROM g2 GROUP BY source),
s3 AS (SELECT source, COUNT(*) AS n3, COUNT(DISTINCT gram) AS d3 FROM g3 GROUP BY source)
SELECT s1.source,
       CAST(n1 AS BIGINT) AS n_tokens,
       ROUND(CAST(d1 AS DOUBLE) / n1, 4) AS distinct_1,
       ROUND(CAST(d2 AS DOUBLE) / n2, 4) AS distinct_2,
       ROUND(CAST(d3 AS DOUBLE) / n3, 4) AS distinct_3
FROM s1 JOIN s2 ON s2.source = s1.source JOIN s3 ON s3.source = s1.source
ORDER BY s1.source
""",
    tags=("text-diversity", "A5", "A12"),
)
def q265_distinct_n_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-1/2/3 n-gram diversity ratios per source:
    (source, n_tokens, distinct_1, distinct_2, distinct_3)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", text_analysis.tokens_raw("text").alias("w")
    )

    def grams(n: int):
        if n == 1:
            return docs.select("source", F.explode("w").alias("gram"))
        return docs.filter(F.size("w") >= n).select(
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("w") - n),
                    lambda i: F.concat_ws(" ", F.slice(F.col("w"), i + 1, n)),
                )
            ).alias("gram"),
        )

    stats = [
        grams(n)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias(f"n{n}"),
            F.countDistinct("gram").alias(f"d{n}"),
        )
        for n in (1, 2, 3)
    ]
    return (
        stats[0]
        .join(stats[1], "source")
        .join(stats[2], "source")
        .select(
            "source",
            F.col("n1").cast("long").alias("n_tokens"),
            F.round(F.col("d1").cast("double") / F.col("n1"), 4).alias(
                "distinct_1"
            ),
            F.round(F.col("d2").cast("double") / F.col("n2"), 4).alias(
                "distinct_2"
            ),
            F.round(F.col("d3").cast("double") / F.col("n3"), 4).alias(
                "distinct_3"
            ),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q268 - trigram-index substring search (the pg_trgm pattern): build a
# character-trigram posting relation over the corpus, answer a batch of
# LIKE '%pattern%' probes through the index (candidate = doc containing
# EVERY pattern trigram), verify candidates with an exact containment
# check, and report index effectiveness. This is how a curation pipeline
# runs thousands of keyword/blocklist probes in ONE corpus pass instead
# of thousands of full scans.
# Parity: trigram sets, posting joins and containment flags are exact
# integer/string algebra; precision is one division, 4dp.
# Scale: the posting relation is a narrow per-doc explode (<=3x corpus
# bytes, the shingle budget); the pattern trigram table is a broadcast;
# candidate testing is one (pattern, doc) aggregate with map-side
# partials; exact verification touches only candidates (trigram
# containment is necessary for substring match - no false negatives).
# --------------------------------------------------------------------------
_Q268_PATTERNS = (
    "table scan",
    "batch batch batch",
    "merge data",
    "vector join vector",
    "hash scan join",
)


def _q268_pattern_sql() -> str:
    rows = ", ".join(f"('{p}')" for p in _Q268_PATTERNS)
    return f"(VALUES {rows}) AS pats(pattern)"


@register(
    "q268_trigram_search",
    oracle=f"""
WITH pats AS (SELECT pattern FROM {_q268_pattern_sql()}),
ptg AS (
    SELECT DISTINCT pattern, SUBSTR(pattern, i, 3) AS tg
    FROM pats, UNNEST(GENERATE_SERIES(1, LEN(pattern) - 2)) AS t(i)
),
pneed AS (
    SELECT pattern, CAST(COUNT(*) AS BIGINT) AS need FROM ptg GROUP BY pattern
),
dtg AS (
    SELECT DISTINCT doc_id, SUBSTR(text, i, 3) AS tg
    FROM documents, UNNEST(GENERATE_SERIES(1, LEN(text) - 2)) AS t(i)
),
hits AS (
    SELECT p.pattern, d.doc_id, CAST(COUNT(*) AS BIGINT) AS got
    FROM ptg p JOIN dtg d ON d.tg = p.tg
    GROUP BY p.pattern, d.doc_id
),
cand AS (
    SELECT h.pattern, h.doc_id
    FROM hits h JOIN pneed n ON n.pattern = h.pattern
    WHERE h.got = n.need
),
verified AS (
    SELECT c.pattern,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(SUM(CASE WHEN POSITION(c.pattern IN d.text) > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_matches
    FROM cand c JOIN documents d ON d.doc_id = c.doc_id
    GROUP BY c.pattern
)
SELECT p.pattern,
       COALESCE(v.n_candidates, 0) AS n_candidates,
       COALESCE(v.n_matches, 0) AS n_matches,
       CASE WHEN COALESCE(v.n_candidates, 0) > 0
            THEN ROUND(CAST(v.n_matches AS DOUBLE) / v.n_candidates, 4)
            END AS match_precision
FROM pats p LEFT JOIN verified v ON v.pattern = p.pattern
ORDER BY p.pattern
""",
    tags=("text-search", "P6", "A5"),
)
def q268_trigram_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch substring probes through a char-trigram inverted index:
    (pattern, n_candidates, n_matches, match_precision)."""
    docs = load_table(spark, sf_dir, "documents")
    pats = spark.createDataFrame(
        [(p,) for p in _Q268_PATTERNS], "pattern string"
    )

    def trigrams(col):
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(col) - 2),
                lambda i: F.substr(col, i, F.lit(3)),
            )
        )

    ptg = pats.select(
        "pattern", F.explode(trigrams(F.col("pattern"))).alias("tg")
    )
    pneed = ptg.groupBy("pattern").agg(F.count(F.lit(1)).alias("need"))
    dtg = docs.select(
        "doc_id", F.explode(trigrams(F.col("text"))).alias("tg")
    )
    hits = (
        dtg.join(F.broadcast(ptg), "tg")
        .groupBy("pattern", "doc_id")
        .agg(F.count(F.lit(1)).alias("got"))
    )
    cand = hits.join(F.broadcast(pneed), "pattern").filter(
        F.col("got") == F.col("need")
    )
    verified = (
        cand.join(docs, "doc_id")
        .groupBy("pattern")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum(
                (F.instr("text", F.col("pattern")) > 0).cast("long")
            ).alias("n_matches"),
        )
    )
    return (
        pats.join(verified, "pattern", "left")
        .select(
            "pattern",
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias(
                "n_candidates"
            ),
            F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
            F.when(
                F.coalesce("n_candidates", F.lit(0)) > 0,
                F.round(
                    F.col("n_matches").cast("double") / F.col("n_candidates"),
                    4,
                ),
            ).alias("match_precision"),
        )
        .orderBy("pattern")
    )


# --------------------------------------------------------------------------
# q269 - readability scoring per source (Flesch-Kincaid grade / Flesch
# reading ease over pooled per-source totals): the classic text-quality
# signal mixing pipelines bucket sources by before assigning weights.
# Syllables use the plain vowel-group estimator (runs of [aeiouy]); the
# synthetic corpus has no sentence terminators, so sentence := document
# (documented corpus-specific segmentation - the formulas are unchanged).
# Parity: word / syllable / doc totals are exact integers; the two
# formulas are fixed double expressions over 3 integers with identical
# literal constants and operation order in both engines; 4dp.
# Scale: one narrow map (two regexp counts per doc) feeding one per-source
# aggregate with map-side partials; output is |sources| rows.
# --------------------------------------------------------------------------
@register(
    "q269_readability",
    oracle="""
WITH per_doc AS (
    SELECT source,
           CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> ''))
                AS BIGINT) AS words,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '[aeiouy]+')) AS BIGINT)
               AS syllables
    FROM documents
),
pooled AS (
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(words) AS BIGINT) AS n_words,
           CAST(SUM(syllables) AS BIGINT) AS n_syllables
    FROM per_doc GROUP BY source
)
SELECT source, n_docs, n_words, n_syllables,
       ROUND(0.39 * (CAST(n_words AS DOUBLE) / n_docs)
             + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59, 4)
           AS fk_grade,
       ROUND(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_docs)
             - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 4)
           AS flesch_ease
FROM pooled
ORDER BY source
""",
    tags=("text-quality", "A12", "F19"),
)
def q269_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade + reading ease per source from pooled word /
    syllable / sentence(=doc) totals: (source, n_docs, n_words,
    n_syllables, fk_grade, flesch_ease)."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        F.size(text_analysis.tokens_raw("text")).cast("long").alias("words"),
        F.size(F.regexp_extract_all("text", F.lit("[aeiouy]+"), F.lit(0)))
        .cast("long")
        .alias("syllables"),
    )
    pooled = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("words").alias("n_words"),
        F.sum("syllables").alias("n_syllables"),
    )
    wps = F.col("n_words").cast("double") / F.col("n_docs")
    spw = F.col("n_syllables").cast("double") / F.col("n_words")
    return pooled.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_syllables").cast("long").alias("n_syllables"),
        F.round(0.39 * wps + 11.8 * spw - 15.59, 4).alias("fk_grade"),
        F.round(206.835 - 1.015 * wps - 84.6 * spw, 4).alias("flesch_ease"),
    ).orderBy("source")


# --------------------------------------------------------------------------
# q280 - classifier-vs-gold agreement audit: confusion of the q25 marker
# lang-ID against the gold `lang` column, per-language precision /
# recall / F1 plus chance-corrected Cohen's kappa - the relation a
# labeling pipeline materialises before trusting a cheap heuristic as a
# training-data filter (raw accuracy lies when classes are imbalanced;
# kappa doesn't).
# Parity: the confusion matrix is exact integers from the q25 argmax
# (deterministic score + alphabetic tie-break); po/pe/kappa and P/R/F1
# are fixed double expressions over those integers, 4dp.
# Scale: lang_id is a narrow JVM map; ONE (gold, pred) aggregate makes
# the bounded confusion matrix; all metrics run on its |langs|^2 rows.
# --------------------------------------------------------------------------
def _kappa_oracle() -> str:
    langs = sorted(text_analysis.LANG_MARKERS)
    score_exprs = []
    for lg in langs:
        markers = ", ".join(f"'{m}'" for m in text_analysis.LANG_MARKERS[lg])
        score_exprs.append(
            f"LEN(LIST_FILTER(toks, x -> x IN ({markers}))) AS score_{lg}"
        )
    greatest = "GREATEST(" + ", ".join(f"score_{lg}" for lg in langs) + ")"
    case = " ".join(f"WHEN score_{lg} = best THEN '{lg}'" for lg in langs)
    return f"""
WITH t AS (
    SELECT doc_id, lang,
           LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> x <> '') AS toks
    FROM documents
),
s AS (SELECT doc_id, lang, {", ".join(score_exprs)} FROM t),
g AS (SELECT *, {greatest} AS best FROM s),
pairs AS (SELECT lang, CASE {case} END AS pred_lang FROM g),
conf AS (
    SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS c
    FROM pairs GROUP BY lang, pred_lang
),
gold AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n_gold FROM conf GROUP BY lang),
predt AS (
    SELECT pred_lang AS lang, CAST(SUM(c) AS BIGINT) AS n_pred
    FROM conf GROUP BY pred_lang
),
diag AS (
    SELECT lang, c AS n_correct FROM conf WHERE lang = pred_lang
),
per_lang AS (
    SELECT COALESCE(g.lang, p.lang) AS lang,
           COALESCE(g.n_gold, 0) AS n_gold,
           COALESCE(p.n_pred, 0) AS n_pred,
           COALESCE(d.n_correct, 0) AS n_correct
    FROM gold g
    FULL JOIN predt p ON p.lang = g.lang
    LEFT JOIN diag d ON d.lang = COALESCE(g.lang, p.lang)
),
tot AS (
    SELECT CAST(SUM(n_gold) AS BIGINT) AS n,
           CAST(SUM(n_correct) AS BIGINT) AS agree,
           CAST(SUM(n_gold * n_pred) AS BIGINT) AS chance_num
    FROM per_lang
)
SELECT pl.lang, pl.n_gold, pl.n_pred, pl.n_correct,
       ROUND(CASE WHEN pl.n_pred > 0
                  THEN CAST(pl.n_correct AS DOUBLE) / pl.n_pred END, 4)
           AS p_precision,
       ROUND(CASE WHEN pl.n_gold > 0
                  THEN CAST(pl.n_correct AS DOUBLE) / pl.n_gold END, 4)
           AS p_recall,
       ROUND(CASE WHEN (CASE WHEN pl.n_pred > 0
                             THEN CAST(pl.n_correct AS DOUBLE) / pl.n_pred END
                        + CASE WHEN pl.n_gold > 0
                               THEN CAST(pl.n_correct AS DOUBLE) / pl.n_gold END)
                       > 0
                  THEN 2.0 * (CAST(pl.n_correct AS DOUBLE) / pl.n_pred)
                           * (CAST(pl.n_correct AS DOUBLE) / pl.n_gold)
                       / (CAST(pl.n_correct AS DOUBLE) / pl.n_pred
                          + CAST(pl.n_correct AS DOUBLE) / pl.n_gold)
                  ELSE 0.0 END, 4) AS f1,
       ROUND((CAST(t.agree AS DOUBLE) / t.n
              - CAST(t.chance_num AS DOUBLE) / (t.n * t.n))
             / (1.0 - CAST(t.chance_num AS DOUBLE) / (t.n * t.n)), 4)
           AS kappa
FROM per_lang pl CROSS JOIN tot t
ORDER BY pl.lang
"""


@register(
    "q280_cohens_kappa",
    oracle=_kappa_oracle(),
    tags=("ml-eval", "A6", "A12"),
)
def q280_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language P/R/F1 of the q25 lang-ID against gold labels, with
    Cohen's kappa replicated on every row: (lang, n_gold, n_pred,
    n_correct, p_precision, p_recall, f1, kappa)."""
    docs = load_table(spark, sf_dir, "documents")
    pred = text_analysis.lang_id(docs).select("doc_id", "pred_lang")
    pairs = docs.select("doc_id", "lang").join(pred, "doc_id")
    conf = pairs.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("c")
    )
    gold = conf.groupBy("lang").agg(F.sum("c").alias("n_gold"))
    predt = conf.groupBy(F.col("pred_lang").alias("lang")).agg(
        F.sum("c").alias("n_pred")
    )
    diag = conf.filter(F.col("lang") == F.col("pred_lang")).select(
        "lang", F.col("c").alias("n_correct")
    )
    per_lang = (
        gold.join(predt, "lang", "full")
        .join(diag, "lang", "left")
        .select(
            "lang",
            F.coalesce("n_gold", F.lit(0)).cast("long").alias("n_gold"),
            F.coalesce("n_pred", F.lit(0)).cast("long").alias("n_pred"),
            F.coalesce("n_correct", F.lit(0)).cast("long").alias("n_correct"),
        )
    )
    tot = per_lang.agg(
        F.sum("n_gold").alias("n"),
        F.sum("n_correct").alias("agree"),
        F.sum(F.col("n_gold") * F.col("n_pred")).alias("chance_num"),
    )
    po = F.col("agree").cast("double") / F.col("n")
    pe = F.col("chance_num").cast("double") / (F.col("n") * F.col("n"))
    prec = F.when(
        F.col("n_pred") > 0,
        F.col("n_correct").cast("double") / F.col("n_pred"),
    )
    rec = F.when(
        F.col("n_gold") > 0,
        F.col("n_correct").cast("double") / F.col("n_gold"),
    )
    return (
        per_lang.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_gold",
            "n_pred",
            "n_correct",
            F.round(prec, 4).alias("p_precision"),
            F.round(rec, 4).alias("p_recall"),
            F.round(
                F.when(
                    prec + rec > 0, 2.0 * prec * rec / (prec + rec)
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("f1"),
            F.round((po - pe) / (1.0 - pe), 4).alias("kappa"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# q293 - quantile normalization across sources: map every document's
# n_chars onto the GLOBAL n_chars distribution at the same within-source
# quantile (the microarray-normalization trick, used on corpora to
# remove per-source length bias before mixing). doc at within-source
# rank r of n maps to the global value at position
# round((r-1) * (N-1) / (n-1)) + 1.
# Parity: both ranks order by (n_chars, doc_id) so ties are
# deterministic; the target position uses exact round-half-up INTEGER
# arithmetic ((2*(r-1)*(N-1) + (n-1)) // (2*(n-1)) + 1); the output is a
# join, no float anywhere.
# Scale: the within-source rank is a W2 partitioned window; the GLOBAL
# rank reuses operators/ids.assign_ids_scalable (repartitionByRange +
# per-partition offsets - NO single-reducer sort) over (n_chars, doc_id)
# alone, and source joins back on doc_id; the mapping join is keyed on
# the dense global position.
# --------------------------------------------------------------------------
@register(
    "q293_quantile_normalize",
    oracle="""
WITH g AS (
    SELECT doc_id, source, n_chars,
           ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS gr,
           COUNT(*) OVER () AS nn
    FROM documents
),
s AS (
    SELECT doc_id, source, n_chars, nn,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY n_chars, doc_id) AS r,
           COUNT(*) OVER (PARTITION BY source) AS n
    FROM g
),
mapped AS (
    SELECT doc_id, source, n_chars,
           CASE WHEN n = 1 THEN (nn + 1) // 2
                ELSE (2 * (r - 1) * (nn - 1) + (n - 1)) // (2 * (n - 1)) + 1
           END AS tp
    FROM s
)
SELECT m.doc_id, m.source, m.n_chars,
       CAST(g.n_chars AS BIGINT) AS qnorm_chars
FROM mapped m JOIN g ON g.gr = m.tp
ORDER BY m.doc_id
""",
    tags=("normalization", "W2", "W1"),
)
def q293_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalize per-source n_chars onto the global
    distribution: (doc_id, source, n_chars, qnorm_chars)."""
    from ..operators.ids import assign_ids_scalable

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    g = assign_ids_scalable(
        docs.select("n_chars", "doc_id"), ["n_chars", "doc_id"], id_name="gr"
    ).join(docs.select("doc_id", "source"), "doc_id")
    nn_df = g.agg(F.count(F.lit(1)).alias("nn"))
    ws = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    wn = Window.partitionBy("source")
    s = (
        g.crossJoin(F.broadcast(nn_df))
        .withColumn("r", F.row_number().over(ws).cast("long"))
        .withColumn("n", F.count(F.lit(1)).over(wn).cast("long"))
    )
    tp = F.when(
        F.col("n") == 1, F.expr("(nn + 1) div 2").cast("long")
    ).otherwise(
        F.expr(
            "(2 * (r - 1) * (nn - 1) + (n - 1)) div (2 * (n - 1))"
        ).cast("long")
        + 1
    )
    mapped = s.select("doc_id", "source", "n_chars", tp.alias("tp"))
    target = g.select(F.col("gr").alias("tp"), F.col("n_chars").alias("qnorm_chars"))
    return (
        mapped.join(target, "tp")
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.col("qnorm_chars").cast("long").alias("qnorm_chars"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q370 — UMass coherence of the corpus's top-10 content tokens: for
# every ordered pair (w_i, w_j) with i < j by document-frequency rank,
# the coherence term ln((D(w_i, w_j) + 1) / D(w_j)) over document
# co-occurrence counts, plus the summed coherence score. The topic-
# quality metric (Mimno et al. 2011) applied to the frequency head —
# high coherence = the head tokens genuinely co-occur (a topical
# corpus), low = they live in disjoint documents (a mixed dump). Reads
# q102's PMI pairs through an eval lens.
# Parity: document frequencies and co-occurrence counts are exact
# integers (distinct (doc, token) pairs); each term is frozen to
# round(1e6·ln(...)) before the total. Rank ties break by token. 4dp.
# Scale: one (token) doc-frequency aggregate; top-10 via
# TakeOrderedAndProject; co-occurrence via a doc-keyed self-join of the
# 10-token-filtered postings (bounded by 10 rows per doc). Never a
# corpus-wide pair join.
# --------------------------------------------------------------------------
@register(
    "q370_umass_coherence",
    oracle="""
WITH toks AS (
    SELECT DISTINCT doc_id,
           UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '),
                              t -> LENGTH(t) >= 4)) AS tok
    FROM documents
),
df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS d FROM toks GROUP BY tok),
top AS (
    SELECT tok, d, CAST(ROW_NUMBER() OVER (ORDER BY d DESC, tok ASC)
                        AS BIGINT) AS rk
    FROM df QUALIFY rk <= 10
),
posts AS (
    SELECT t.doc_id, p.tok, p.rk, p.d
    FROM toks t JOIN top p ON p.tok = t.tok
),
co AS (
    SELECT a.tok AS w_i, a.rk AS rk_i, a.d AS d_i,
           b.tok AS w_j, b.rk AS rk_j, b.d AS d_j,
           CAST(COUNT(*) AS BIGINT) AS d_ij
    FROM posts a JOIN posts b ON b.doc_id = a.doc_id AND a.rk < b.rk
    GROUP BY a.tok, a.rk, a.d, b.tok, b.rk, b.d
),
pairs AS (
    SELECT i.tok AS w_i, i.rk AS rk_i, i.d AS d_i,
           j.tok AS w_j, j.rk AS rk_j, j.d AS d_j,
           COALESCE(c.d_ij, 0) AS d_ij
    FROM top i
    JOIN top j ON i.rk < j.rk
    LEFT JOIN co c ON c.rk_i = i.rk AND c.rk_j = j.rk
),
terms AS (
    SELECT w_i, w_j, rk_i, rk_j, d_i, d_j, d_ij,
           CAST(ROUND(1000000.0 * LN((CAST(d_ij AS DOUBLE) + 1.0) / d_j))
                AS BIGINT) AS term
    FROM pairs
),
tot AS (SELECT CAST(SUM(term) AS BIGINT) AS coh FROM terms)
SELECT t.w_i, t.w_j, t.d_i, t.d_j, t.d_ij,
       ROUND(t.term / 1000000.0, 4) AS term,
       ROUND(x.coh / 1000000.0, 4) AS coherence
FROM terms t CROSS JOIN tot x
ORDER BY t.rk_i, t.rk_j
""",
    tags=("text-analysis", "ml-eval", "A8"),
)
def q370_umass_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UMass coherence over the top-10 content tokens' co-occurrence:
    (w_i, w_j, d_i, d_j, d_ij, term, coherence)."""

    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            F.explode(
                F.filter(
                    text_analysis.tokens_raw(F.col("text")),
                    lambda t: F.length(t) >= 4,
                )
            ).alias("tok"),
        )
        .distinct()
    )
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("d"))
    top10 = dfreq.orderBy(F.desc("d"), F.asc("tok")).limit(10)
    top = top10.select(
        "tok",
        "d",
        F.row_number()
        .over(Window.orderBy(F.desc("d"), F.asc("tok")))
        .cast("long")
        .alias("rk"),
    )
    posts = toks.join(F.broadcast(top), "tok").select(
        "doc_id", "tok", "rk", "d"
    )
    a = posts.select(
        "doc_id",
        F.col("tok").alias("w_i"),
        F.col("rk").alias("rk_i"),
        F.col("d").alias("d_i"),
    )
    b = posts.select(
        "doc_id",
        F.col("tok").alias("w_j"),
        F.col("rk").alias("rk_j"),
        F.col("d").alias("d_j"),
    )
    co = (
        a.join(b, "doc_id")
        .filter(F.col("rk_i") < F.col("rk_j"))
        .groupBy("w_i", "rk_i", "d_i", "w_j", "rk_j", "d_j")
        .agg(F.count(F.lit(1)).alias("d_ij"))
    )
    ti = top.select(
        F.col("tok").alias("w_i"),
        F.col("rk").alias("rk_i"),
        F.col("d").alias("d_i"),
    )
    tj = top.select(
        F.col("tok").alias("w_j"),
        F.col("rk").alias("rk_j"),
        F.col("d").alias("d_j"),
    )
    pairs = (
        ti.join(tj, F.col("rk_i") < F.col("rk_j"))
        .join(
            F.broadcast(co.select("rk_i", "rk_j", "d_ij")),
            ["rk_i", "rk_j"],
            "left",
        )
        .select(
            "w_i",
            "w_j",
            "rk_i",
            "rk_j",
            "d_i",
            "d_j",
            F.coalesce("d_ij", F.lit(0)).cast("long").alias("d_ij"),
        )
    )
    terms = pairs.select(
        "w_i",
        "w_j",
        "rk_i",
        "rk_j",
        "d_i",
        "d_j",
        "d_ij",
        F.round(
            1000000.0
            * F.log((F.col("d_ij").cast("double") + 1.0) / F.col("d_j"))
        )
        .cast("long")
        .alias("term"),
    )
    tot = terms.agg(F.sum("term").alias("coh"))
    return (
        terms.crossJoin(F.broadcast(tot))
        .select(
            "w_i",
            "w_j",
            "d_i",
            "d_j",
            "d_ij",
            F.round(F.col("term") / 1000000.0, 4).alias("term"),
            F.round(F.col("coh") / 1000000.0, 4).alias("coherence"),
            "rk_i",
            "rk_j",
        )
        .orderBy("rk_i", "rk_j")
        .drop("rk_i", "rk_j")
    )


# --------------------------------------------------------------------------
# q372 — curation-filter disparity audit: per (filter, source), the
# filter's pass rate against the corpus-wide pass rate, flagging
# disparate impact under the four-fifths rule (ratio < 0.8). Filters
# are q337's cascade (length ≥ 100, lang = en, contains-'the', token
# count ≥ 20). The data-governance read of a curation pipeline: a
# filter that silently guts one source biases the trained model — this
# is the relation a dataset card should print.
# Parity: pass counts are exact conditional aggregates; rates and
# ratios are single double expressions; the flag compares a frozen
# round(1e4·ratio) so last-ulp wiggle can't flip it. 4dp.
# Scale: ONE corpus pass computes all four filters' per-source pass
# counts as conditional aggregates; global rates are a 4-value reduce
# of the per-source relation broadcast back.
# --------------------------------------------------------------------------
_Q372_FILTERS = [
    ("length", "n_chars >= 100"),
    ("lang", "lang = 'en'"),
    ("stopword", "CONTAINS(' ' || LOWER(text) || ' ', ' the ')"),
    ("tokens",
     "LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) >= 20"),
]


@register(
    "q372_filter_disparity",
    oracle=f"""
WITH per_source AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
           {", ".join(
               f"CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT)"
               f" AS p_{name}"
               for name, cond in _Q372_FILTERS
           )}
    FROM documents GROUP BY source
),
gtot AS (
    SELECT CAST(SUM(n) AS BIGINT) AS gn,
           {", ".join(
               f"CAST(SUM(p_{name}) AS BIGINT) AS g_{name}"
               for name, _ in _Q372_FILTERS
           )}
    FROM per_source
),
rows_ AS (
    {" UNION ALL ".join(
        f"SELECT '{name}' AS filter, s.source, s.n, s.p_{name} AS n_pass, "
        f"CAST(g.g_{name} AS DOUBLE) / g.gn AS global_rate "
        f"FROM per_source s CROSS JOIN gtot g"
        for name, _ in _Q372_FILTERS
    )}
)
SELECT filter, source, n, n_pass,
       ROUND(CAST(n_pass AS DOUBLE) / n, 4) AS pass_rate,
       ROUND((CAST(n_pass AS DOUBLE) / n) / global_rate, 4) AS impact_ratio,
       CAST(CASE WHEN CAST(ROUND(10000.0 * (CAST(n_pass AS DOUBLE) / n)
                                 / global_rate) AS BIGINT) < 8000
                 THEN 1 ELSE 0 END AS BIGINT) AS disparate
FROM rows_
ORDER BY filter, source
""",
    tags=("quality", "training-prep", "A6"),
)
def q372_filter_disparity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four-fifths-rule disparity audit of the curation filters per
    source: (filter, source, n, n_pass, pass_rate, impact_ratio,
    disparate)."""

    docs = load_table(spark, sf_dir, "documents")
    conds = {
        "length": F.col("n_chars") >= 100,
        "lang": F.col("lang") == "en",
        "stopword": F.concat(
            F.lit(" "), F.lower("text"), F.lit(" ")
        ).contains(" the "),
        "tokens": F.size(text_analysis.tokens_raw(F.col("text"))) >= 20,
    }
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(c.cast("long")).alias(f"p_{name}")
            for name, c in conds.items()
        ],
    )
    glob = per_source.agg(
        F.sum("n").alias("gn"),
        *[
            F.sum(f"p_{name}").alias(f"g_{name}")
            for name in conds
        ],
    )
    out = None
    for name in conds:
        rate = F.col(f"p_{name}").cast("double") / F.col("n")
        grate = F.col(f"g_{name}").cast("double") / F.col("gn")
        row = (
            per_source.crossJoin(F.broadcast(glob))
            .select(
                F.lit(name).alias("filter"),
                "source",
                F.col("n").cast("long").alias("n"),
                F.col(f"p_{name}").cast("long").alias("n_pass"),
                F.round(rate, 4).alias("pass_rate"),
                F.round(rate / grate, 4).alias("impact_ratio"),
                (
                    F.round(10000.0 * rate / grate).cast("long") < 8000
                ).cast("long").alias("disparate"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("filter", "source")


# --------------------------------------------------------------------------
# q428 — Good–Turing frequency-of-frequencies table: for the 8 smallest
# observed count classes r, the number of types N_r seen exactly r times, the
# Good–Turing adjusted count r* = (r+1)·N_{r+1}/N_r (the smoothed count
# an LM assigns instead of the raw MLE), and the probability mass
# r·N_r/N the class carries. The N_1/N row IS the classic missing-mass
# estimate (how much probability the corpus reserves for unseen tokens)
# — the quantity LM smoothing (Katz, simple Good–Turing) and
# vocabulary-coverage planning start from; complements q343's
# Kneser–Ney (which discounts) and q313's Chao1 (which extrapolates
# richness).
# Tokenizer: tokens_raw (the one shared corpus-statistics tokenizer).
# Parity: r, N_r and N are exact integers; r* and mass are each ONE
# double expression over them, 4dp both engines.
# Scale: one vocab-sized (token) aggregate with map-side combine, then
# the count-of-counts relation is frequency-domain-bounded (O(sqrt N)
# distinct r values) — the 8-row class cut is a TakeOrderedAndProject
# over it (no window), and the r+1 self-join and the 1-row total are
# broadcasts by construction. No corpus sort.
# --------------------------------------------------------------------------
@register(
    "q428_good_turing",
    oracle="""
WITH toks AS (
    SELECT UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS token
    FROM documents
),
cnt AS (SELECT token, COUNT(*) AS r FROM toks GROUP BY token),
coc AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r FROM cnt GROUP BY r),
low AS (SELECT * FROM coc ORDER BY r LIMIT 8),
tot AS (SELECT CAST(SUM(r * n_r) AS BIGINT) AS n FROM coc)
SELECT CAST(a.r AS BIGINT) AS r,
       a.n_r AS n_types,
       ROUND((a.r + 1) * CAST(COALESCE(b.n_r, 0) AS DOUBLE) / a.n_r, 4)
           AS r_star,
       ROUND(a.r * CAST(a.n_r AS DOUBLE) / t.n, 4) AS mass
FROM low a LEFT JOIN coc b ON b.r = a.r + 1 CROSS JOIN tot t
ORDER BY r
""",
    tags=("lm", "quality", "A12"),
)
def q428_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good–Turing count-of-counts for the 8 smallest count classes:
    (r, n_types, r_star, mass) — r* = (r+1)N_{r+1}/N_r, mass = r·N_r/N."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(text_analysis.tokens_raw(F.col("text"))).alias("token")
    )
    cnt = toks.groupBy("token").agg(F.count(F.lit(1)).alias("r"))
    coc = cnt.groupBy("r").agg(F.count(F.lit(1)).alias("n_r"))
    tot = coc.agg(F.sum(F.col("r") * F.col("n_r")).alias("n"))
    nxt = coc.select(F.col("r").alias("r1"), F.col("n_r").alias("n_r1"))
    return (
        coc.orderBy("r")
        .limit(8)
        .join(F.broadcast(nxt), F.col("r") + 1 == F.col("r1"), "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("r").cast("long").alias("r"),
            F.col("n_r").cast("long").alias("n_types"),
            F.round(
                (F.col("r") + 1)
                * F.coalesce(F.col("n_r1"), F.lit(0)).cast("double")
                / F.col("n_r"),
                4,
            ).alias("r_star"),
            F.round(
                F.col("r") * F.col("n_r").cast("double") / F.col("n"), 4
            ).alias("mass"),
        )
        .orderBy("r")
    )
