"""String-cleaning functions (reference scalar surface).

Re-expressions of /root/reference/synth/utils.py:56-124 as composable Column
expressions (SURVEY.md §2.8 F1/F2/F4). Everything is JVM-side regexp for the
relational scale path. Two F1 HTML-strip tiers:

1. clean_string — JVM regex approximation (scale default, plan-linted);
2. clean_string_html_stdlib — stdlib html.parser pandas UDF, matching the
   reference's bs4+lxml output on the golden corpus
   (tests/html_strip_goldens.py) with no optional dependency; its known
   divergences are pinned in tests/test_functions.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def clean_string(col: Column) -> Column:
    """F1 — /root/reference/synth/utils.py:69-87.

    collapse [\\r\\n\\t]+ → ' '; strip HTML tags; NBSP → ' '; collapse
    runs of ≥2 whitespace chars (``\\s{2,}`` — the reference's
    multi_space_rgx, not just literal spaces); strip LEADING whitespace
    only (utils.py:76 start_space_rgx — a trailing single space survives,
    exactly as the reference emits); NULL if empty or no word character
    remains. Parity matters because clean_institution uses the cleaned
    string as an exact lookup key into master_clean.

    HTML stripping here is the regex approximation ``<[^>]+>`` → '' (the
    reference uses BeautifulSoup text extraction; divergence only on
    malformed markup/entities — all 8 annotated divergences of the golden
    corpus are closed by clean_string_html_stdlib).
    """
    c = F.regexp_replace(col, r"[\r\n\t]+", " ")
    c = F.regexp_replace(c, r"<[^>]+>", "")
    c = F.regexp_replace(c, " ", " ")
    c = F.regexp_replace(c, r"\s{2,}", " ")
    c = F.regexp_replace(c, r"^\s+", "")
    # (?U): Java \w is ASCII-only by default, but the reference's Python \w
    # is Unicode — without the flag, non-Latin-only strings ("α β") wrongly
    # null out (pinned by the html_strip golden corpus, case 23).
    return F.when(c.rlike(r"(?U)\w"), c)


def clean_string_html_stdlib(col: Column) -> Column:
    """F1 with HTML text extraction via the stdlib ``html.parser`` (no
    bs4/lxml dependency).

    Closes all 8 annotated regex-path divergences in the golden corpus
    (tests/html_strip_goldens.py): bare ``<``/``>`` next to spaces or
    digits stay literal text, quoted attribute values don't terminate
    tags early, entities and numeric charrefs decode
    (``&amp; &nbsp; &lt; &#65;``), comments are removed, script/style
    bodies are kept — the same outputs the reference's
    BeautifulSoup(..., 'lxml').get_text() chain produces
    (/root/reference/synth/utils.py:69-87) on every pinned case.
    Outside that corpus it is not byte-identical to bs4: a ``<`` + letter
    with no closing ``>`` (``"a <b things"``) stays text here, where bs4
    drops the rest of the string (pinned in tests/test_functions.py).

    Arrow-batched pandas UDF: this is the ACCURACY path for
    document-cleaning stages; the JVM regex path (clean_string) remains
    the relational-scale default (plan-linted: no Python in relational
    paths).
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    @pandas_udf(StringType())
    def _clean(s):
        import re
        from html.parser import HTMLParser

        class _Text(HTMLParser):
            def __init__(self):
                super().__init__(convert_charrefs=True)
                self.parts = []

            def handle_data(self, d):
                self.parts.append(d)

        def one(v):
            if v is None:
                return None
            v = re.sub(r"[\r\n\t]+", " ", v)
            if len(v) == 0:
                return None
            p = _Text()
            p.feed(v)
            p.close()
            v = "".join(p.parts)
            v = v.replace("\xa0", " ")
            v = re.sub(r"^\s+", "", re.sub(r"\s{2,}", " ", v))
            return v if re.search(r"\w", v) else None

        return s.map(one)

    return _clean(col)


def find_names(col: Column) -> Column:
    """F2 — /root/reference/synth/utils.py:56-66.

    Replace ' and ' / '&' (case-insensitive) with '; ', then extract
    name-like tokens: runs of ≥3 letters optionally joined by -, ' or space.
    Returns an array<string> of names.

    Divergence note: the reference's ``findall`` with a repeated capture
    group returns only the LAST repetition per match (``"Lee-Wong"`` →
    ``"Wong"``). Here the full match is kept (``"Lee-Wong"``) with trailing
    separators trimmed — strictly more faithful to the intent documented in
    the reference docstring ("attempts to find names").
    """
    sep = F.regexp_replace(col, r"(?i)( and |&)", "; ")
    # (?U) for Unicode letters, matching the reference's Python \W semantics
    matches = F.regexp_extract_all(sep, F.lit(r"(?U)([^\W\d_]{3,}[-' ]?)+"), 0)
    return F.transform(matches, lambda m: F.regexp_replace(m, r"[-' ]+$", ""))


def clean_institution(
    df: DataFrame, name_col: str, mapping: DataFrame, out_col: str = "clean_name"
) -> DataFrame:
    """F4 — /root/reference/synth/utils.py:105-124.

    clean_string → broadcast lookup in master_clean mapping
    (dirty → clean, 'nil' sentinel ⇒ NULL) → hit wins, miss keeps the
    cleaned original. ``mapping`` has columns (dirty, clean).
    """
    cleaned = df.withColumn("_cleaned", clean_string(F.col(name_col)))
    m = mapping.select(
        F.col("dirty").alias("_cleaned"),
        F.when(F.col("clean") != "nil", F.col("clean")).alias("_mapped"),
        F.lit(True).alias("_hit"),
    )
    return (
        cleaned.join(F.broadcast(m), "_cleaned", "left")
        .withColumn(
            out_col,
            F.when(F.col("_hit").isNotNull(), F.col("_mapped")).otherwise(
                F.col("_cleaned")
            ),
        )
        .drop("_cleaned", "_mapped", "_hit")
    )
