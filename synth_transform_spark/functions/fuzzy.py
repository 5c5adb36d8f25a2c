"""`fuzz.partial_ratio` parity (SURVEY §2.8 F15 / §2.3 J13).

Reference: /root/reference/synth/resources.py:278,296 (``similarity >= 80``
gates Crossref/ReFindIt title matches) and :330 (``match > 50`` gates
extracted-DOI metadata verification), computed by fuzzywuzzy's
``fuzz.partial_ratio`` backed by python-Levenshtein (setup.py:23-24).
partial_ratio is a SUBSTRING-ALIGNMENT ratio — the shorter string scored
against length-|shorter| windows of the longer — so a title contained in a
longer citation string scores 100 where plain edit distance rejects it (the
common Crossref case).

Two implementations:

- ``partial_ratio`` (pure Python, the reference that
  ``partial_ratio_window`` is tested against): reference semantics — best
  indel ratio (2·LCS/(|a|+|b|), which is python-Levenshtein's ``ratio``:
  substitution cost 2 makes the weighted distance |a|+|b|−2·LCS) of the
  shorter string over windows of the longer, with fuzzywuzzy's >0.995 early-100 rule and ``int(round())`` half-even
  rounding (fuzzywuzzy utils.intr). One documented divergence: fuzzywuzzy
  anchors candidate windows on SequenceMatcher matching blocks, a heuristic
  whose choices depend on python-Levenshtein's DP tie-breaking; here EVERY
  window start is evaluated — a superset of the heuristic's candidates, so
  scores are never below fuzzywuzzy's and equal on containment and all
  golden cases (tests/test_functions.py).

- ``partial_ratio_window`` (JVM Column, the relational/scale variant used
  by q54): max over windows of half-up-rounded
  ``100·(1 − levenshtein(s, w)/|s|)`` using Spark's built-in unit edit
  distance, expressed with sequence/transform/array_max higher-order
  functions — stays inside whole-stage codegen, no Python, and has an exact
  DuckDB twin (LIST_TRANSFORM/LEVENSHTEIN). Unit-cost distance is the
  deliberate trade for a JVM/SQL-portable expression; thresholds 80/50
  behave like the reference's on the fixture distributions.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def _indel_ratio(a: str, b: str) -> float:
    """python-Levenshtein ``ratio``: 2·LCS(a,b) / (|a|+|b|); 1.0 for two
    empty strings."""
    la, lb = len(a), len(b)
    if la + lb == 0:
        return 1.0
    if la == 0 or lb == 0:
        return 0.0
    prev = [0] * (lb + 1)
    for ca in a:
        cur = [0] * (lb + 1)
        for j, cb in enumerate(b, 1):
            cur[j] = prev[j - 1] + 1 if ca == cb else max(prev[j], cur[j - 1])
        prev = cur
    return 2.0 * prev[lb] / (la + lb)


def partial_ratio(s1: str | None, s2: str | None) -> int | None:
    """Reference-parity partial ratio (see module docstring). NULL-safe."""
    if s1 is None or s2 is None:
        return None
    shorter, longer = (s1, s2) if len(s1) <= len(s2) else (s2, s1)
    if len(longer) == 0:
        return 100  # both empty — fuzzywuzzy's ratio of empties
    if len(shorter) == 0:
        return 0
    best = 0.0
    n = len(shorter)
    for start in range(0, len(longer) - n + 1):
        r = _indel_ratio(shorter, longer[start : start + n])
        if r > 0.995:
            return 100
        if r > best:
            best = r
    return int(round(100 * best))


def partial_ratio_window(a: Column, b: Column) -> Column:
    """JVM-side window partial ratio: max over length-|shorter| windows of
    ``round_half_up(100·(1 − levenshtein(s, w)/|s|))`` as a BIGINT.

    Integer half-up rounding is computed as
    ``floor((200·(|s|−lev) + |s|) / (2·|s|))`` — exact in IEEE double for
    these magnitudes, so Spark and DuckDB agree bit-for-bit. NULL in → NULL
    out; two empties → 100 (matching ``partial_ratio``).
    """
    s = F.when(F.length(a) <= F.length(b), a).otherwise(b)
    l = F.when(F.length(a) <= F.length(b), b).otherwise(a)
    n = F.length(s)
    scores = F.transform(
        F.sequence(F.lit(1), F.length(l) - n + 1),
        lambda i: F.floor(
            (200 * (n - F.levenshtein(s, l.substr(i, n))) + n) / (2 * n)
        ),
    )
    return (
        F.when(a.isNull() | b.isNull(), F.lit(None))
        .when(F.length(l) == 0, F.lit(100))
        .when(n == 0, F.lit(0))
        .otherwise(F.array_max(scores))
        .cast("long")
    )


def levenshtein_band_pairs(
    df,
    text_col: str,
    max_dist: int = 2,
):
    """Length-banded exact edit-distance self-join over DISTINCT values of
    ``text_col``: (name_a, name_b, dist) with dist ≤ ``max_dist`` and
    name_a < name_b.

    The Ed-Join-style blocking is provably complete: levenshtein(a, b) ≥
    |len(a) − len(b)|, so candidates only need |len diff| ≤ max_dist.
    Values are bucketed by ``len // (max_dist + 1)`` and the probe side is
    exploded into its 3 admissible buckets — the join is an equi-join on
    the bucket id (hash-shuffle, never all-pairs), and each unordered pair
    meets exactly once because each value owns one bucket. The verify
    filter uses Spark's threshold-bounded ``levenshtein(l, r, t)`` kernel
    which abandons rows early at t+1.

    Scale: dedup-to-distinct FIRST bounds the join input by vocabulary
    size, not corpus size; the banded equi-join keys are uniform unless
    one length dominates, in which case the band key can be salted.
    """
    width = max_dist + 1
    names = df.select(F.col(text_col).alias("name")).distinct()
    left = names.select(
        "name",
        F.length("name").alias("len"),
        F.floor(F.length("name") / width).alias("bucket"),
    )
    right = names.select(
        F.col("name").alias("name_r"), F.length("name").alias("len_r")
    ).withColumn(
        "bucket",
        F.explode(
            F.array(
                F.floor(F.length("name_r") / width) - 1,
                F.floor(F.length("name_r") / width),
                F.floor(F.length("name_r") / width) + 1,
            )
        ),
    )
    return (
        left.join(right, "bucket")
        .filter(
            (F.col("name") < F.col("name_r"))
            & (F.abs(F.col("len") - F.col("len_r")) <= max_dist)
            & (F.levenshtein("name", "name_r", max_dist) >= 0)
        )
        .select(
            F.col("name").alias("name_a"),
            F.col("name_r").alias("name_b"),
            F.levenshtein("name", "name_r").cast("long").alias("dist"),
        )
    )


def jaro_winkler_expr(a: str, b: str) -> str:
    """Exact Jaro-Winkler similarity as ONE pure Catalyst expression —
    no Python, no UDF: the greedy matching fold runs as a higher-order
    ``aggregate`` over positions, transpositions come from a positional
    array comparison, and the Winkler prefix boost (p = 0.1, prefix <= 4,
    boost threshold 0.7) is a plain CASE.

    Semantics are pinned to DuckDB's ``jaro_winkler_similarity`` (the
    independent C++ implementation used as the oracle): transposition
    count uses integer halving (t = mismatches DIV 2), the matching
    window is max(|a|,|b|)/2 - 1, and the boost applies only when
    jaro > 0.7. Property-fuzzed to bitwise agreement on thousands of
    random string pairs (tests/test_texteval.py).

    Note the window predicate lives INSIDE the position scan: Spark's
    ``sequence(lo, hi)`` with lo > hi yields a DESCENDING range (not
    empty like DuckDB's ``range``), so bounding j via sequence endpoints
    silently widens the window for positions past the end of ``b``.

    Unicode caveat: this expression is CHARACTER-based (Spark
    substring/length count codepoints) while DuckDB's builtin is
    BYTE-based (e.g. 'café' vs 'cafe': 0.8833 here vs 0.8483 in
    DuckDB — the multibyte é becomes two unmatchable bytes there).
    The two agree exactly on ASCII, which covers q470's customer-name
    domain; tests/test_round8_math.py pins both behaviours.

    ``a``/``b`` are SQL expressions (column names) evaluating to
    non-null strings.
    """
    w = f"greatest(CAST(greatest(length({a}), length({b})) DIV 2 AS INT) - 1, 0)"
    pred = (
        f"j >= greatest(1, i - {w}) AND j <= i + {w} AND "
        f"NOT array_contains(acc.used, j) AND "
        f"substring({b}, j, 1) = substring({a}, i, 1)"
    )
    seq_j = f"sequence(1, length({b}))"
    merge = (
        f"(acc, i) -> CASE WHEN exists({seq_j}, j -> {pred}) "
        f"THEN named_struct("
        f"'used', array_append(acc.used, element_at(filter({seq_j}, j -> {pred}), 1)), "
        f"'mc', concat(acc.mc, substring({a}, i, 1))) ELSE acc END"
    )
    t2 = (
        f"size(filter(sequence(1, length(acc.mc)), "
        f"k -> substring(acc.mc, k, 1) <> "
        f"substring({b}, element_at(array_sort(acc.used), k), 1)))"
    )
    finish = (
        f"acc -> CASE WHEN length(acc.mc) = 0 THEN CAST(0.0 AS DOUBLE) ELSE "
        f"(length(acc.mc) / CAST(length({a}) AS DOUBLE) "
        f"+ length(acc.mc) / CAST(length({b}) AS DOUBLE) "
        f"+ (length(acc.mc) - CAST({t2} DIV 2 AS DOUBLE)) / length(acc.mc)) "
        f"/ 3.0 END"
    )
    jaro = (
        f"aggregate(sequence(1, length({a})), "
        f"named_struct('used', CAST(array() AS array<int>), 'mc', ''), "
        f"{merge}, {finish})"
    )
    pfx = (
        f"size(filter(sequence(1, least(4, length({a}), length({b}))), "
        f"k -> substring({a}, 1, k) = substring({b}, 1, k)))"
    )
    return (
        f"CASE WHEN ({jaro}) > 0.7 "
        f"THEN ({jaro}) + 0.1 * ({pfx}) * (1.0 - ({jaro})) "
        f"ELSE ({jaro}) END"
    )
