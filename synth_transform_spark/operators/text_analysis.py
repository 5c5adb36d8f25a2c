"""Text-analysis operators over a documents table.

All JVM-side column expressions (split/regexp/aggregate) — no Python UDFs —
so they run inside whole-stage codegen and scale linearly with input bytes.

Reference lineage: tokenisation/cleaning (SURVEY.md §2.8 F1/F2/F16,
/root/reference/synth/utils.py:56-87, notebooks/outliers.ipynb cell 3) and
token top-k (§2.4 A8). Language-ID, quality scoring and fingerprinting are
north-star extensions for training-data pipelines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

#: Tiny deterministic marker lexicons for the n-gram/stopword language
#: heuristic. Real deployments swap in per-language frequency tables; the
#: operator shape (score per language via token-set hits → argmax) is the same.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "fast"),
    "es": ("el", "la", "de", "que", "data"),
    "de": ("der", "die", "und", "von", "table"),
    "fr": ("le", "la", "et", "de", "join"),
    "zh": ("de", "le", "shi", "zai", "merge"),
}

STOPWORDS = ("the", "a", "and", "of", "to", "in")


def tokens_lower(text_col):
    """Non-empty whitespace tokens of the lowercased text — the shared
    tokenizer for lang-ID, quality and casing-insensitive corpus queries;
    its SQL mirror is ``LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
    t -> t <> '')``."""
    return F.filter(F.split(F.lower(text_col), " "), lambda t: t != "")


def tokens_raw(text_col):
    """Non-empty whitespace tokens, case-preserving — the ONE shared
    tokenizer for corpus statistics, dedup, BPE and ``seqprep``; its SQL
    mirror is ``LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')``.
    Distinct from ``tokens_lower`` and from the ``" +"``-splitting
    tokenizers of ``ml.tokens_col`` and ``stemming``.
    ``tests/test_coverage_catalog.py`` fails on an inline copy of either."""
    return F.filter(F.split(text_col, " "), lambda t: t != "")


# GPT-2-style pre-tokenizer approximation, restricted to the subset where
# Java regex (Spark) and RE2 (DuckDB) agree exactly: a unit is an optional
# leading space + a letter run, digit run, or punctuation run. Counting
# these units estimates BPE token counts (each unit is split further by
# merges, but unit count is the stable, engine-portable lower bound that
# budget planning uses).
BPE_UNIT_PATTERN = r" ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"


def token_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc token counting: whitespace tokens (n/distinct/avg length)
    plus the BPE-ish subword-unit count (``BPE_UNIT_PATTERN``)."""
    toks = tokens_lower(F.col(text_col))
    return docs.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        F.round(
            F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)).cast("double")
            / F.size(toks),
            4,
        ).alias("avg_token_len"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_UNIT_PATTERN), 0))
        .cast("long")
        .alias("n_bpe_units"),
    )


def quality_score(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic quality features: length, stopword ratio, punct ratio,
    distinct-token ratio, and a composite keep/drop flag.

    The shape matches production quality filters (Gopher/C4-style rules);
    thresholds are illustrative.
    """
    toks = tokens_lower(F.col(text_col))
    n = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    punct = F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), r"[^\w\s]", "")
    )
    return docs.select(
        F.col(id_col),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
        n.cast("long").alias("n_tokens"),
        F.round(stop_hits.cast("double") / n, 4).alias("stopword_ratio"),
        F.round(punct.cast("double") / F.length(F.col(text_col)), 4).alias("punct_ratio"),
        F.round(F.size(F.array_distinct(toks)).cast("double") / n, 4).alias("distinct_ratio"),
    ).withColumn(
        "keep",
        (F.col("n_tokens") >= 10)
        & (F.col("distinct_ratio") >= 0.1)
        & (F.col("punct_ratio") <= 0.3),
    )


def lang_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Marker-lexicon language ID: argmax over per-language token hits.

    Deterministic tie-break: higher score wins, then alphabetical language
    code. Entirely JVM-side (array intersect over a literal lexicon).
    """
    toks = tokens_lower(F.col(text_col))
    scores = [
        F.size(F.filter(toks, lambda t: t.isin(*markers))).alias(f"score_{lang}")
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    scored = docs.select(F.col(id_col), *scores)
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{lg}") for lg in langs])
    pred = F.coalesce(
        *[F.when(F.col(f"score_{lg}") == best, F.lit(lg)) for lg in langs]
    )
    return scored.select(
        F.col(id_col), pred.alias("pred_lang"), best.cast("long").alias("lang_score")
    )


def fingerprint(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Document fingerprints: md5 of normalised text + a 60-bit integer hash
    (first 15 md5 hex chars), the join-friendly compact form."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return docs.select(
        F.col(id_col),
        F.md5(norm).alias("fp_md5"),
        F.conv(F.substring(F.md5(norm), 1, 15), 16, 10).cast("long").alias("fp_int"),
    )


def top_tokens(docs: DataFrame, text_col: str = "text", k: int = 10) -> DataFrame:
    """Corpus-wide token frequency top-k (SURVEY §2.4 A8).

    explode → partial-agg groupBy → global top-k; ties break on token asc so
    the result set is deterministic.
    """
    return (
        docs.select(F.explode(tokens_lower(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(k)
    )


def inverted_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", min_df: int = 1
) -> DataFrame:
    """Term → posting-list index: (token, df, postings).

    Tokens are lowercase alpha runs; per-doc distinctness happens in the
    array (narrow) before exploding, so the single shuffle is the
    groupBy(token). ``postings`` is the ascending doc-id list serialised as
    a comma string — engine-portable and hash-stable. ``df`` (doc
    frequency) rides along for free and is the IDF numerator a search
    pipeline needs.

    Scale notes (100 TB): token cardinality is huge and Zipf-skewed —
    stopword-grade terms produce posting lists the size of the corpus.
    ``min_df`` bounds the *output*, not the skew; production indexes shard
    postings (term, shard_id) or cap list length. collect_set state for one
    hot term is one reducer's memory — the map-side partial sets absorb
    most of the fan-in. Mirrored by the q65 oracle.
    """
    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.filter(
                    F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda t: t != ""
                )
            )
        ).alias("token"),
    )
    return (
        toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_set(id_col)),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
        .filter(F.col("df") >= min_df)
    )


def repetition_signals(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style within-document repetition features.

    Per doc over word n-grams (counting multiplicity, not distinct):
    - ``top2_frac``  — occurrences of the most frequent 2-gram / all 2-grams
    - ``dup3_frac``  — fraction of 3-gram occurrences whose gram repeats
    (the "fraction of characters in the most common n-gram" / "in duplicate
    n-grams" rules of Rae et al. 2021 §A1.1, re-based to occurrence counts —
    engine-portable, no char-length weighting ambiguity). ``repetitive``
    flags docs over either threshold; filters drop them before training.

    Scale: explode → two keyed aggregations per n, everything keyed by
    (doc, gram) then (doc) — uniform high-cardinality keys, map-side
    partials absorb the fan-in. Stays linear in corpus tokens; nothing is
    quadratic in document length (the per-row array-counting alternative
    is, so it's not used).
    """
    from .dedup import _gram_expr

    def per_doc(n: int, top_alias: str, dup_alias: str) -> DataFrame:
        grams = docs.select(
            F.col(id_col), F.explode(_gram_expr(text_col, n)).alias("gram")
        )
        counted = grams.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("c"))
        return counted.groupBy(id_col).agg(
            F.round(F.max("c") / F.sum("c"), 4).alias(top_alias),
            F.round(
                F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(F.lit(0)))
                / F.sum("c"),
                4,
            ).alias(dup_alias),
        )
    g2 = per_doc(2, "top2_frac", "dup2_frac")
    g3 = per_doc(3, "top3_frac", "dup3_frac")
    # LEFT join: an exactly-2-token doc has 2-grams but no 3-grams — it must
    # still appear (3-gram features NULL, flag driven by the 2-gram side),
    # not silently vanish from the signal relation. Docs with < 2 tokens
    # have no n-grams at all and carry no repetition signal by definition.
    return (
        g2.join(g3, id_col, "left")
        .select(
            id_col,
            "top2_frac",
            "dup2_frac",
            "top3_frac",
            "dup3_frac",
            (
                (F.col("top2_frac") > 0.06)
                | (F.coalesce(F.col("dup3_frac"), F.lit(0.0)) > 0.08)
            ).alias("repetitive"),
        )
    )


# PII patterns restricted to the Java-regex ∩ RE2 common subset (no
# lookaround, no backrefs) so Spark and the DuckDB oracle match identically.
PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\b\d{3}-\d{4}\b"


def redact_pii(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Detect-and-redact PII spans: emails, IPv4 addresses, phone numbers.

    Emits per-doc match counts plus the redacted text (spans replaced by
    <EMAIL>/<IP>/<PHONE> placeholders, applied in that order). Entirely
    JVM-side regexp_extract_all / regexp_replace — narrow, zero shuffles,
    linear in input bytes; the production shape for corpus PII scrubbing
    (regex tier; ML NER tiers run as a mapInPandas stage like the
    multimodal decoders).
    """
    t = F.col(text_col)
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL, "<EMAIL>"), PII_IPV4, "<IP>"
        ),
        PII_PHONE,
        "<PHONE>",
    )
    return docs.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL), 0)).cast("long").alias("n_email"),
        F.size(F.regexp_extract_all(t, F.lit(PII_IPV4), 0)).cast("long").alias("n_ip"),
        F.size(F.regexp_extract_all(t, F.lit(PII_PHONE), 0)).cast("long").alias("n_phone"),
        red.alias("redacted"),
    )


def segment_lang_profile(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_tokens: int = 10,
) -> DataFrame:
    """Per-document mixed-language profile from windowed lang-ID:
    (id, n_segs, n_langs, top_share, mixed).

    The document is cut into fixed ``seg_tokens`` windows; each window is
    language-identified with the q25 marker-lexicon argmax (same
    tie-break: greatest score, then alphabetical code); the profile
    reports how many distinct languages the windows predict and the
    dominant language's share — the polyglot-contamination signal a
    document-level lang-ID (one label per doc) cannot see.

    Scale: segmentation and scoring are narrow per-row array expressions
    (zero shuffle); the only shuffles are the (doc, pred) count and the
    per-doc rollup — both doc-keyed, the natural unit.
    """
    toks = tokens_lower(F.col(text_col))
    n_segs = F.ceil(F.size("w") / F.lit(float(seg_tokens))).cast("int")
    segs = (
        docs.select(F.col(id_col), toks.alias("w"))
        .filter(F.size("w") > 0)
        .select(
            id_col,
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), n_segs - 1),
                    lambda i: F.slice(F.col("w"), i * seg_tokens + 1, seg_tokens),
                )
            ).alias("sw"),
        )
    )
    langs = sorted(LANG_MARKERS)
    scores = [
        F.size(
            F.filter(F.col("sw"), lambda t: t.isin(*LANG_MARKERS[lg]))
        ).alias(f"score_{lg}")
        for lg in langs
    ]
    scored = segs.select(id_col, *scores)
    best = F.greatest(*[F.col(f"score_{lg}") for lg in langs])
    pred = F.coalesce(
        *[F.when(F.col(f"score_{lg}") == best, F.lit(lg)) for lg in langs]
    )
    per_pred = (
        scored.select(id_col, pred.alias("pred"))
        .groupBy(id_col, "pred")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return per_pred.groupBy(id_col).agg(
        F.sum("c").alias("n_segs"),
        F.count(F.lit(1)).alias("n_langs"),
        F.round(F.max("c") / F.sum("c").cast("double"), 4).alias("top_share"),
        (F.count(F.lit(1)) > 1).cast("long").alias("mixed"),
    )
