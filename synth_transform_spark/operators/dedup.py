"""Deduplication operators for large text corpora.

Four families, all expressed as DataFrame pipelines (no Python row loops):

- exact          — hash-groupBy on a normalised fingerprint (one shuffle).
- minhash + LSH  — shingle → 12-permutation linear MinHash
                   (``minhash_signatures_linear``) → 4 banded buckets →
                   per-bucket member arrays (groupBy collect_list, guarded
                   by a pre-collect spillable window count) → in-row pair
                   expansion → exact Jaccard verify. The scale path:
                   candidate generation touches only docs sharing a band
                   key, never the O(n²) pair space.
- n-gram Jaccard — exact array-form verification (``jaccard_verify_arrays``)
                   used standalone at small scale or as the verify stage
                   after LSH.
- SimHash        — 60-bit weighted-token signature; hamming-adjacent bucket
                   grouping (exact-signature grouping here; banded variants
                   are a trivial extension).

Reference lineage: duplicate-DOI analysis (SURVEY.md §2.4 A4,
/root/reference/notebooks/duplicates.ipynb cells 11-14) and the fuzzy-match
join (SURVEY.md §2.3 J13, /root/reference/synth/resources.py:278-331) are the
reference's only dedup/similarity surfaces; MinHash/SimHash generalise them to
corpus scale per the north-star extensions.

Determinism: every hash derives from md5 over an explicit string encoding
(MinHash: one md5 per shingle, then integer permutations), so results
are reproducible across engines (the DuckDB oracle mirrors the same formulas)
and across cluster sizes — no seed-dependent JVM hashing in the signatures.

Scale notes (100 TB): shingling is a narrow map; signatures are narrow
array expressions (zero shuffle); banding is a map. Candidate generation
groups band rows into sorted member arrays keyed by bucket and expands
pairs IN-ROW (round 10), behind ONE bucket-keyed shuffle: a spillable
window COUNT guards degenerate buckets (> ``max_bucket`` members —
near-constant boilerplate) BEFORE any array is materialised (round 11:
a multi-million-member bucket never reaches a collect_list buffer; it
degrades to a spilled window task, and the bucket groupBy reuses the
window's partitioning, no second exchange).
Threshold accepts are exact-rational integer comparisons (round 11):
``den·|A∩B| ≥ num·|A∪B|`` with threshold = num/den, never a comparison
against the ROUNDED jaccard — the rounded value is output-only, so the
no-miss length/positional prefilters and the accept filter agree on
exactly which boundary pairs qualify, in both engines.

CANDIDATE-DERIVATION SPEC — FROZEN as of round 12. LSH is lossy, so the
candidate set IS semantics: every term below is mirrored bit-for-bit by
the DuckDB oracle CTEs (plans/dedup_queries._minhash_ctes) and pinned by
tests/test_lsh_spec.py; changing any of them is a declared-output change,
not an optimization. The frozen terms:

- ``shingle_hash``: first 8 hex chars of md5(shingle) as BIGINT
  (oracle: ``('0x' || SUBSTR(MD5(s), 1, 8))::UBIGINT``).
- MinHash: ``h_i = min((a_i * hb + b_i) % MINHASH_PRIME)`` over the doc's
  shingle hashes, constants from ``_perm_constants`` (shared LCG), 12
  permutations in 4 bands of 3.
- ``band_key``: first 15 hex chars (60 bits) of
  md5(concat_ws('|', h_a, h_b, h_c)) as BIGINT — decimal h values, '|'
  separator, no trailing separator.
- Bucket guard: a spillable window COUNT over (band_id, band_key)
  BEFORE any collect; buckets with more than ``max_bucket`` (default
  1000) members emit no candidates.
- Accepts: exact-rational ``den·|A∩B| ≥ num·|A∪B|``; the 4dp-rounded
  jaccard is output-only.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from .text_analysis import tokens_raw

# 12 permutations in 4 bands of 3: P(candidate | jaccard s) = 1-(1-s^3)^4,
# ≈0.97 at s=0.9, ≈0.29 at s=0.5 — tuned for near-dup (s≥0.8) recall.
N_PERMS = 12
BAND_SIZE = 3


def normalize_text(col):
    """Canonical text form for exact dedup: lowercase, collapsed whitespace."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact-dedup groups: md5(normalised text) → (key, n_docs, canonical id).

    Canonical = min id (deterministic). One shuffle on the 32-hex key; at
    100 TB the key is high-cardinality and uniform → no skew.
    """
    return (
        docs.select(F.col(id_col), F.md5(normalize_text(F.col(text_col))).alias("text_key"))
        .groupBy("text_key")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("canonical_id"),
        )
    )


def _gram_expr(text_col: str, n: int):
    toks_raw = tokens_raw(F.col(text_col))

    # Round 11: bind the token array ONCE via a single-element transform.
    # Building the gram lambda directly over ``toks_raw`` duplicates the
    # whole filter(split(text)) tree at every reference site — n element_at
    # calls PER GRAM each re-split the full text, an O(len²)-per-doc
    # evaluation (higher-order lambdas are interpreted: no common-
    # subexpression elimination rescues it). Measured at sf0.1 it made the
    # un-persisted signature pipeline 8.1 s vs 0.9 s with the binding.
    def grams_of(toks):
        # Docs with < n tokens must yield an EMPTY array — sequence(0, -1)
        # would instead generate the DESCENDING [0, -1] and element_at(_, 0)
        # throws INVALID_INDEX_OF_ZERO, so the short-doc case is gated
        # explicitly (fixture docs are long; real corpora contain empty docs).
        idx = F.when(
            F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
            ),
        )

    return F.element_at(F.transform(F.array(toks_raw), grams_of), 1)


def shingle_arrays(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per doc as ONE array row: (id, sh_arr).

    The array form is the scale-path backbone: dedup within a doc is
    ``array_distinct`` (narrow, per-row) instead of an explode + distinct
    shuffle of the whole corpus, and downstream MinHash / Jaccard stages
    stay narrow too. Docs shorter than ``n`` tokens yield an empty array.
    """
    return docs.select(
        F.col(id_col), F.array_distinct(_gram_expr(text_col, n)).alias("sh_arr")
    )


def shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc, exploded: (id_col, shingle).

    Long form for relational consumers (e.g. shingle-equality candidate
    joins); per-doc distinctness happens in the array before exploding, so
    no corpus-wide distinct shuffle is needed.
    """
    return shingle_arrays(docs, id_col, text_col, n).select(
        F.col(id_col), F.explode("sh_arr").alias("shingle")
    )


# Linear-permutation MinHash: one md5 per shingle, then n cheap integer
# permutations h_i = (a_i*x + b_i) mod P.  P is the smallest prime > 2^32;
# x < 2^32 and a_i,b_i < 2^31 keep a_i*x + b_i < 2^63 - 1, so the arithmetic
# never overflows signed 64-bit — identical (and exception-free) under both
# Spark ANSI mode and DuckDB's checked bigint ops.
MINHASH_PRIME = 4294967311
_LCG_A, _LCG_C, _LCG_M = 1103515245, 12345, 1 << 31


def _perm_constants(n_perms: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs from a fixed LCG — engine-portable."""
    out, s = [], 42
    for _ in range(n_perms):
        s = (_LCG_A * s + _LCG_C) % _LCG_M
        a = s | 1  # odd ⇒ nonzero mod P
        s = (_LCG_A * s + _LCG_C) % _LCG_M
        out.append((a, s))
    return out


def shingle_hash(col):
    """32-bit integer hash of a shingle: first 8 md5 hex chars as a long.

    Computed ONCE per shingle; every MinHash permutation derives from it by
    linear arithmetic. This is the 100 TB lever: signature cost drops from
    n_perms md5 evaluations per shingle to one.
    """
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def minhash_signatures_linear(
    doc_sh: DataFrame, id_col: str = "doc_id", n_perms: int = N_PERMS
) -> DataFrame:
    """MinHash via one md5 + linear permutations.

    A narrow map over per-doc shingle arrays (zero shuffle, whole-stage
    codegen): md5 runs once per shingle into ``hb_arr``, then each h_i is
    an ``array_min`` over ``(a_i*x + b_i) % P`` — n_perms× less hashing
    than one md5 per permutation. The q27 oracle mirrors this formula
    exactly. Shingle-less docs are dropped (they have no signature).
    """
    consts = _perm_constants(n_perms)
    hashed = doc_sh.filter(F.size("sh_arr") > 0).select(
        F.col(id_col), F.transform(F.col("sh_arr"), shingle_hash).alias("hb_arr")
    )

    def perm(a: int, b: int):
        return lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(MINHASH_PRIME)

    mins = [
        F.array_min(F.transform(F.col("hb_arr"), perm(a, b))).alias(f"h{i}")
        for i, (a, b) in enumerate(consts)
    ]
    return hashed.select(F.col(id_col), *mins)


def lsh_bands(
    sigs: DataFrame, id_col: str = "doc_id", n_perms: int = N_PERMS, band_size: int = BAND_SIZE
) -> DataFrame:
    """Band keys: (id_col, band_id, band_key).

    band_key is the first 60 bits of md5(h_a|h_b|h_c) as a BIGINT (the
    ``shingle_hash`` idiom: 15 hex chars < 2^63 — overflow-free in both
    engines). Round 11: it was the full 32-char md5 hex STRING; every
    downstream wide stage (the bucket window count + groupBy, the q207
    index probe join) shuffles and compares this column, so an 8-byte
    long cuts those shuffle bytes ~4× and the comparisons to integer ops
    (guide §2.3 "narrower types"). The DuckDB oracle CTE mirrors the same
    truncation, so band-collision behaviour stays bit-identical across
    engines. All bands emit in ONE pass (array of structs → explode), not
    one union branch per band — the input is read once.
    """
    n_bands = n_perms // band_size
    entries = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band_id"),
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                "|",
                                *[
                                    F.col(f"h{b * band_size + j}")
                                    for j in range(band_size)
                                ],
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                )
                .cast("long")
                .alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    return sigs.select(F.col(id_col), F.explode(entries).alias("e")).select(
        id_col, F.col("e.band_id").alias("band_id"), F.col("e.band_key").alias("band_key")
    )


def _bucket_pair_expansion(
    bands: DataFrame, key_cols: list[str], id_col: str, max_bucket: int
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing any bucket key.

    Shape (round 11, shared by MinHash-LSH and SimHash banding) — ONE
    shuffle, guard BEFORE any array materialises:

    1. a bucket-keyed window COUNT over the band relation — WindowExec
       sorts/buffers per key with disk spill, so a degenerate
       multi-million-member boilerplate bucket degrades to a spilled
       straggler task, never an OOM;
    2. filter 2 ≤ count ≤ ``max_bucket`` — so the collect_list below only
       ever buffers ≤ ``max_bucket`` ids per bucket (the round-10 shape
       collected FIRST and filtered the array size after, which put the
       whole degenerate bucket in one aggregation buffer — the OOM the
       guard exists to prevent);
    3. groupBy(collect_list) REUSES the window's hash partitioning (same
       keys — EnsureRequirements inserts no second exchange) and the pair
       expansion is a narrow in-row expression: ≤ C(max_bucket, 2) structs
       per bucket row — ≈500k small structs (a few MB) at the default
       1000, growing QUADRATICALLY; treat ~5k as the safe raise ceiling
       (SCALE.md).

    Measured A/B at sf0.1 (round 11): this shape 2.0 s vs 2.3 s for
    collect-then-filter vs 2.7 s for a count+semi-join pre-filter — the
    semi-join variant map-side-collapses degenerate buckets before the
    shuffle and is the fallback if degenerate-straggler time ever
    dominates a real corpus, but it shuffles the band relation twice and
    forces the caller to persist it. Candidate set identical across all
    three; the trailing distinct dedups cross-band repeats.
    """
    w = Window.partitionBy(*key_cols)
    buckets = (
        bands.withColumn("_bn", F.count(F.lit(1)).over(w))
        .filter((F.col("_bn") >= 2) & (F.col("_bn") <= max_bucket))
        .groupBy(*key_cols)
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("_m"))
    )
    pair_expr = F.expr(
        "flatten(transform(_m, (x, i) -> "
        "transform(slice(_m, i + 2, size(_m)), y -> struct(x AS id_a, y AS id_b))))"
    )
    return (
        buckets.select(F.explode(pair_expr).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def lsh_candidate_pairs(
    bands: DataFrame, id_col: str = "doc_id", max_bucket: int = 1000
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing any band bucket.

    Bucket-array expansion with the pre-collect window-count guard — see
    ``_bucket_pair_expansion``; ``bands`` is consumed once.
    """
    return _bucket_pair_expansion(bands, ["band_id", "band_key"], id_col, max_bucket)


def jaccard_verify_arrays(
    pairs: DataFrame, doc_sh: DataFrame, id_col: str = "doc_id", threshold: float = 0.8
) -> DataFrame:
    """Exact Jaccard via ``array_intersect`` on per-doc shingle arrays.

    Two candidate-driven equi-joins pull each side's array onto the pair
    row; the set math is then a narrow map, with no shuffle of the
    shingle relation on (id, shingle). Returns (id_a, id_b, jaccard) with
    jaccard 4dp-rounded OUTPUT-ONLY; the accept is exact-rational (see
    below).
    """
    from fractions import Fraction

    a = doc_sh.select(F.col(id_col).alias("id_a"), F.col("sh_arr").alias("sh_a"))
    b = doc_sh.select(F.col(id_col).alias("id_b"), F.col("sh_arr").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    # No-miss length prefilter (round-10): J(A,B) >= t forces
    # min(|A|,|B|) >= t·max(|A|,|B|) (ov <= min and ov >= t·max), so pairs
    # failing it are dropped BEFORE the O(|A|+|B|) array_intersect — a
    # narrow filter on two size() calls, no new shuffle. Exact-rational
    # (q182's Fraction discipline: IEEE t·sz can round the wrong way).
    frac = Fraction(str(threshold))
    num, den = frac.numerator, frac.denominator
    na, nb = F.size("sh_a"), F.size("sh_b")
    # Round-11: the ACCEPT is the same exact rational — den·inter ≥
    # num·union — NOT a comparison on the rounded jaccard. The prefilter
    # above is no-miss for exact J ≥ t; accepting on round(J,4) ≥ t
    # instead would admit boundary pairs (J ∈ [t−5e-5, t)) that the
    # prefilter may legitimately drop — a divergence between this path
    # and any engine mirroring the exact semantics.
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .filter(F.lit(den) * F.least(na, nb) >= F.lit(num) * F.greatest(na, nb))
        .withColumn("n_inter", inter)
        .filter(
            F.lit(den) * F.col("n_inter")
            >= F.lit(num) * (na + nb - F.col("n_inter"))
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.size("sh_a") + F.size("sh_b") - F.col("n_inter")),
                4,
            ),
        )
        .select("id_a", "id_b", "jaccard")
    )


def minhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    n: int = 3,
) -> DataFrame:
    """Full near-dup pipeline: shingle → MinHash → LSH → Jaccard verify.

    Array-form end to end: shingling, signatures, and banding are all
    narrow; the wide stages are the ONE bucket window-count + groupBy
    (guard before any array materialises, pairs expand in-row from
    sorted bucket arrays — round-11 shape), the candidate distinct, and
    the two verify joins.

    Round 11: the full-corpus shingle arrays are NOT persisted any more.
    They used to be, because the signature path and the verify path both
    consume them — but materialising every doc's shingle strings was the
    single most expensive stage of the pipeline (measured 1.5 s of the
    2.2 s warm total at sf0.1), and the verify stage only ever needs the
    arrays of docs that appear in a candidate pair (a vanishing fraction
    at 100 TB: LSH exists to make it so). Shingles now stream once,
    unmaterialised, into the signature computation; the verify side
    re-shingles just the candidate docs behind a semi-join on the
    persisted candidate-pair relation (tiny, two consumers).
    """
    from ..caching import persist_tracked
    from ..sources.readers import ensure_parallelism

    # Repartition the raw docs (cheap rows) BEFORE shingling so the gram
    # computation itself is parallel; project to the two consumed columns
    # so the repartition never ships unused payload.
    src = ensure_parallelism(docs).select(F.col(id_col), F.col(text_col))
    doc_sh = shingle_arrays(src, id_col, text_col, n)
    sigs = minhash_signatures_linear(doc_sh, id_col)
    # checkpoint (not lazy persist): the pair relation is consumed by the
    # verify join AND the semi-join id set; a lazy persist lets the
    # broadcast-build job and the main scan race the cold cache and
    # re-execute the whole LSH pipeline (measured 2.6 s vs 1.8 s at sf0.1)
    cands = persist_tracked(
        lsh_candidate_pairs(lsh_bands(sigs, id_col), id_col), checkpoint=True
    )
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .union(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    cand_sh = shingle_arrays(
        src.join(cand_ids, id_col, "left_semi"), id_col, text_col, n
    )
    return jaccard_verify_arrays(cands, cand_sh, id_col, threshold)


# SimHash uses 60 bits: 15 hex chars of md5 fit a signed 64-bit int in every
# engine (Spark conv()→bigint, DuckDB ::ubigint) without overflow.
SIMHASH_BITS = 60
# 4 bands × 15 bits: by pigeonhole, any pair with hamming distance ≤ 3
# shares at least one identical band — candidate generation is LOSSLESS for
# the default max_hamming=3 (n_bands must be > max_hamming for that
# guarantee; larger d ⇒ more/narrower bands).
SIMHASH_BANDS = 4


def simhash_signatures(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Weighted 60-bit SimHash per doc.

    token hash h = first 15 md5 hex chars as int; for each bit j the doc
    accumulates +weight if bit set else -weight; signature bit j = (sum > 0).
    Expressed relationally (explode tokens × bits → groupBy) so the oracle
    can mirror it exactly; at scale the bit explosion is a narrow map and the
    single shuffle is groupBy(doc).
    """
    from ..sources.readers import ensure_parallelism

    toks = (
        ensure_parallelism(docs)
        .select(
            F.col(id_col),
            F.explode(tokens_raw(F.col(text_col))).alias("tok"),
        )
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("w"))
        .withColumn("h", F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long"))
    )
    bits = toks.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("j"),
        F.col("w"),
        F.col("h"),
    ).withColumn(
        "contrib", F.expr("((shiftright(h, j) & 1) * 2 - 1) * w")
    )
    return (
        bits.groupBy(id_col, "j")
        .agg(F.sum("contrib").alias("s"))
        .withColumn(
            "bitval",
            F.when(F.col("s") > 0, F.expr("shiftleft(cast(1 as bigint), j)")).otherwise(
                F.lit(0).cast("long")
            ),
        )
        .groupBy(id_col)
        .agg(F.sum("bitval").cast("long").alias("simhash"))
    )


def simhash_bands(
    sigs: DataFrame, id_col: str = "doc_id", n_bands: int = SIMHASH_BANDS
) -> DataFrame:
    """Band keys over 60-bit SimHash signatures: (id, band_id, band_val).

    band_val = bits [band_id*w, (band_id+1)*w) of the signature (w =
    60/n_bands) — pure shift/mask arithmetic, narrow, one explode like
    ``lsh_bands``. Pairs within hamming ≤ n_bands-1 are guaranteed to
    collide on ≥1 band (pigeonhole), so the bucket self-join loses nothing
    at the default distance.
    """
    width = SIMHASH_BITS // n_bands
    mask = (1 << width) - 1
    entries = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band_id"),
                F.shiftright(F.col("simhash"), b * width)
                .bitwiseAND(F.lit(mask))
                .alias("band_val"),
            )
            for b in range(n_bands)
        ]
    )
    return sigs.select(F.col(id_col), F.explode(entries).alias("e")).select(
        id_col, F.col("e.band_id").alias("band_id"), F.col("e.band_val").alias("band_val")
    )


def simhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Banded SimHash near-dup pairs: (id_a, id_b, hamming ≤ max_hamming).

    signature (one groupBy(doc) shuffle) → band rotation (narrow) →
    bucket-array candidate expansion on (band_id, band_val) — groupBy
    collect_list of sorted member arrays with the pre-collect count +
    semi-join degeneracy guard, pairs expanded in-row
    (``_bucket_pair_expansion``) → exact hamming verify via
    ``bit_count(xor)`` on the candidate pairs.
    The extension noted in the module header, now first-class: candidates
    never touch the O(n²) pair space, and for max_hamming ≤ n_bands-1 the
    band collision guarantee makes the result EXACT (q56's oracle computes
    the all-pairs truth and hash-matches).
    """
    from ..caching import persist_tracked

    n_bands = SIMHASH_BANDS if max_hamming < SIMHASH_BANDS else max_hamming + 1
    sigs = persist_tracked(simhash_signatures(docs, id_col, text_col))
    bands = simhash_bands(sigs, id_col, n_bands)
    cand = _bucket_pair_expansion(bands, ["band_id", "band_val"], id_col, max_bucket)
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("long")
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: flag training docs overlapping an eval set.

    The GPT-3/PaLM-style n-gram decontamination check: a training document
    is contaminated if it shares word n-grams with any benchmark document.
    Returns one row per contaminated corpus doc: (id, n_contam = distinct
    overlapping shingles, contam_frac = n_contam / doc's distinct shingles,
    4dp). Production pipelines then drop or split flagged docs.

    Scale: the benchmark shingle set is tiny relative to the corpus (eval
    suites are thousands of docs, the corpus is billions), so it broadcasts:
    the corpus side never shuffles — per-doc shingling is narrow, the
    overlap probe is a broadcast semi-ish inner join, and the count rolls up
    keyed by doc id with map-side partials. Real deployments shingle with
    n = 8-13; n is a parameter here (the fixture vocabulary is tiny, so
    tests use n = 3 to keep overlap non-degenerate).
    """
    from pyspark.sql.functions import broadcast

    bench_sh = shingles(benchmark, id_col, text_col, n).select("shingle").distinct()
    corp_sh = shingles(corpus, id_col, text_col, n)
    sizes = corp_sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n_sh"))
    hits = (
        corp_sh.join(broadcast(bench_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contam"))
    )
    return hits.join(sizes, id_col).select(
        F.col(id_col),
        F.col("n_contam"),
        F.round(F.col("n_contam") / F.col("_n_sh"), 4).alias("contam_frac"),
    )


def prefix_jaccard_join(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    n: int = 3,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (SSJoin/PPJoin
    family: Chaudhuri et al. ICDE'06, Xiao et al. WWW'08).

    Deterministic alternative to MinHash-LSH (`minhash_near_duplicates`):
    no probabilistic candidate misses — the result EQUALS the all-pairs
    Jaccard ≥ t answer, yet the join never touches the O(n²) pair space.

    Order shingles globally by (document frequency ASC, xxhash64 ASC,
    shingle ASC) — rarest first, hash-keyed — and keep only each doc's
    first ``p = |s| - ceil(t·|s|) + 1`` shingles as its *prefix*.
    Pigeonhole guarantee: if J(A,B) ≥ t then ov(A,B) ≥ t·max(|A|,|B|), so
    the lowest-ordered common shingle must sit inside BOTH prefixes —
    joining prefix-to-prefix loses nothing (the guarantee holds for ANY
    total order; see ``prefix_jaccard_candidates`` for why the hashed
    order stays total and no-miss). Rare-first ordering makes prefix
    postings short (frequent shingles never land in a prefix unless a doc
    is tiny), which is what bounds the candidate blow-up at corpus scale.

    Shuffles: df count (keyed by the 8-byte shingle hash), per-doc rank
    (window bounded by doc length), prefix self-join (hash-keyed, strings
    never shuffled), then the candidate-driven `jaccard_verify_arrays` —
    no stage touches all pairs. Skewed postings (a rare shingle shared by
    a dup cluster) are exactly the pairs we want; truly hot shingles are
    excluded by construction.
    """
    from ..caching import persist_tracked
    from ..sources.readers import ensure_parallelism

    doc_sh = persist_tracked(
        shingle_arrays(ensure_parallelism(docs), id_col, text_col, n)
    )
    cands = prefix_jaccard_candidates(doc_sh, id_col, threshold)
    return jaccard_verify_arrays(cands, doc_sh, id_col, threshold)


def prefix_jaccard_candidates(
    doc_sh: DataFrame, id_col: str = "doc_id", threshold: float = 0.5
) -> DataFrame:
    """Candidate stage of ``prefix_jaccard_join``: distinct (id_a, id_b)
    pairs surviving the prefix + length + positional filters, BEFORE the
    exact verify. Exposed separately (round 11) so the empirical scale
    probe (tools/scale_probe.py) can measure candidate growth directly —
    the no-miss guarantees are documented on ``prefix_jaccard_join``.
    """
    from fractions import Fraction

    # ceil(t·|s|) must be EXACT rational ceil, not float ceil — IEEE
    # ceil(0.55*100) is 56, one too many, which shortens the prefix and
    # silently drops qualifying pairs. Express t as the exact fraction of
    # its decimal literal and ceil in integer arithmetic:
    # ceil(num·sz / den) = (num·sz + den - 1) div den.
    from ..caching import persist_tracked

    frac = Fraction(str(threshold))
    num, den = frac.numerator, frac.denominator

    # _sz rides along from the array form (round 11) — it used to be a
    # second window pass (count over the id partition) recomputing what
    # size(sh_arr) already holds.
    #
    # Round 11 (second pass): every wide stage of the candidate pipeline
    # is keyed on ``_h = xxhash64(shingle)`` — an 8-byte long — instead of
    # the ~40-byte shingle STRING (guide §2.3 "narrower types" / "shuffle
    # keys, not payloads"): the df groupBy, the df join back, and the
    # prefix self-join all shuffle and compare longs, and the string is
    # dropped from the prefix relation entirely. No-miss is preserved:
    #   - the global order (_df, _h, shingle) is still a TOTAL order on
    #     shingles (the string tiebreak restores totality under hash
    #     collisions), and the prefix guarantee holds for ANY total order
    #     — rarest-first is only the performance heuristic;
    #   - df counts merge colliding shingles, which only perturbs that
    #     heuristic, never the prefix length p = |s| - ceil(t·|s|) + 1;
    #   - joining on _h equality is a SUPERSET of string equality, so
    #     collisions can only ADD candidates, and the exact verify keeps
    #     the output equal to the all-pairs J ≥ t answer either way.
    sh = doc_sh.select(
        F.col(id_col),
        F.size("sh_arr").cast("long").alias("_sz"),
        F.explode("sh_arr").alias("shingle"),
    ).withColumn("_h", F.xxhash64("shingle"))
    df_rel = sh.groupBy("_h").agg(F.count(F.lit(1)).alias("_df"))
    ranked = sh.join(df_rel, "_h").withColumn(
        "_r",
        F.row_number().over(
            Window.partitionBy(id_col).orderBy("_df", "_h", "shingle")
        ),
    )
    ceil_t_sz = F.expr(f"({num}L * _sz + {den - 1}L) div {den}L")
    # persist (round 11): the self-join consumes the prefix relation on
    # BOTH sides; without a cache the planner re-executes the whole
    # shingle→df-join→rank subtree per side (the broadcast build side
    # cannot reuse the probe side's Exchange) — the single most expensive
    # stage of q182 ran twice.
    prefix = persist_tracked(
        ranked.filter(F.col("_r") <= F.col("_sz") - ceil_t_sz + 1).select(
            F.col(id_col), "_h", "_r", "_sz"
        )
    )
    # PPJoin candidate pruning (Xiao et al. WWW'08 §3), round-10 audit:
    # both predicates are provably no-miss and run INSIDE the shingle-
    # keyed join, before the distinct shuffle and the verify joins.
    # - length filter: J(A,B) >= t  ⇒  min(|A|,|B|) >= t·max(|A|,|B|)
    #   (ov >= t·max and ov <= min), in exact integer form via num/den.
    # - positional filter: for the LOWEST-ordered common shingle, at
    #   ranks (ra, rb) of the global rarest-first order, every other
    #   common shingle sits after it in both docs, so
    #   ov <= 1 + min(|A|-ra, |B|-rb); a qualifying pair needs
    #   ov >= α = ceil(t/(1+t)·(|A|+|B|)). A pair's lowest common
    #   shingle is in both prefixes (the prefix guarantee), so the
    #   generating row for it passes whenever the pair qualifies —
    #   filtering rows then taking DISTINCT pairs loses nothing.
    sa, sb = F.col("a._sz"), F.col("b._sz")
    # exact integer ceil: α = (num·(sa+sb) + num+den-1) div (num+den)
    alpha_int = F.expr(
        f"({num}L * (a._sz + b._sz) + {num + den - 1}L) div {num + den}L"
    )
    ubound = F.lit(1) + F.least(sa - F.col("a._r"), sb - F.col("b._r"))
    return (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            on=[
                F.col("a._h") == F.col("b._h"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
                F.lit(den) * F.least(sa, sb) >= F.lit(num) * F.greatest(sa, sb),
                ubound >= alpha_int,
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def lsh_probe(
    base: DataFrame,
    delta: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    n: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Incremental near-dup detection: probe a DELTA batch against the
    BASE corpus's LSH index without recomputing base-vs-base pairs.

    The production ingestion shape: the base band relation is the
    persisted index (rebuilt here from the base frame; a deployment keeps
    it as a bucketed table, sources/writers.py), the delta batch computes
    its own signatures, and candidates come from an index-probe equi-join
    on (band_id, band_key) — work scales with |delta| × bucket hit rate,
    never |base|². Returns cross-batch pairs (id_a = base doc, id_b =
    delta doc) with exact verified Jaccard ≥ threshold.
    """
    from ..caching import persist_tracked
    from ..sources.readers import ensure_parallelism

    base_sh = persist_tracked(
        shingle_arrays(ensure_parallelism(base), id_col, text_col, n)
    )
    delta_sh = persist_tracked(
        shingle_arrays(ensure_parallelism(delta), id_col, text_col, n)
    )
    base_bands = lsh_bands(minhash_signatures_linear(base_sh, id_col), id_col)
    delta_bands = lsh_bands(minhash_signatures_linear(delta_sh, id_col), id_col)
    b = base_bands.select(
        F.col(id_col).alias("id_a"), "band_id", "band_key"
    )
    d = delta_bands.select(
        F.col(id_col).alias("id_b"), "band_id", "band_key"
    )
    # Degenerate-bucket guard, mirroring lsh_candidate_pairs: bucket size
    # is counted over the UNION of base and delta band rows (what a batch
    # recompute of base ∪ delta would see), so incremental ingest keeps
    # batch semantics — a boilerplate bucket that the batch path drops is
    # dropped here too, and the probe join stays sub-quadratic.
    allowed = (
        b.select("band_id", "band_key")
        .unionByName(d.select("band_id", "band_key"))
        .groupBy("band_id", "band_key")
        .agg(F.count(F.lit(1)).alias("bucket_n"))
        .filter(F.col("bucket_n") <= max_bucket)
        .select("band_id", "band_key")
    )
    b = b.join(allowed, ["band_id", "band_key"], "left_semi")
    d = d.join(allowed, ["band_id", "band_key"], "left_semi")
    # SIDED verify: id_a resolves against the BASE arrays and id_b against
    # the DELTA arrays (a re-ingested id may carry different text per
    # side), and an id meeting itself is not a duplicate pair. A unioned
    # verify relation would both self-match shared ids at jaccard=1 and
    # duplicate join rows for them.
    cands = (
        b.join(d, ["band_id", "band_key"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    av = base_sh.select(F.col(id_col).alias("id_a"), F.col("sh_arr").alias("sh_a"))
    bv = delta_sh.select(F.col(id_col).alias("id_b"), F.col("sh_arr").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    # exact-rational accept (round 11) — same semantics as
    # jaccard_verify_arrays so batch and incremental paths agree on
    # boundary pairs; rounded jaccard is output-only. The no-miss length
    # prefilter (min ≥ t·max) runs before the O(|A|+|B|) intersect,
    # mirroring the batch verify.
    from fractions import Fraction

    frac = Fraction(str(threshold))
    num, den = frac.numerator, frac.denominator
    na, nb = F.size("sh_a"), F.size("sh_b")
    return (
        cands.join(av, "id_a")
        .join(bv, "id_b")
        .filter(F.lit(den) * F.least(na, nb) >= F.lit(num) * F.greatest(na, nb))
        .withColumn("n_inter", inter)
        .filter(
            F.lit(den) * F.col("n_inter")
            >= F.lit(num) * (F.size("sh_a") + F.size("sh_b") - F.col("n_inter"))
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.size("sh_a") + F.size("sh_b") - F.col("n_inter")),
                4,
            ),
        )
        .select("id_a", "id_b", "jaccard")
    )
