"""F1 HTML-strip golden-corpus tests: the regex path is pinned exactly;
the stdlib html.parser path is asserted against the recorded reference
(bs4+lxml) behaviour. See tests/html_strip_goldens.py for the corpus +
divergence notes."""

from __future__ import annotations

import pyspark.sql.functions as F

from html_strip_goldens import GOLDENS, STDLIB_EXPECTED_OVERRIDES, UNPINNED


def _run(spark, col_fn):
    df = spark.createDataFrame(
        [(i, case[0]) for i, case in enumerate(GOLDENS)], ["i", "s"]
    )
    out = df.select("i", col_fn(F.col("s")).alias("o")).collect()
    return {r.i: r.o for r in out}


def test_regex_path_matches_goldens(spark):
    from synth_transform_spark.functions.cleaning import clean_string

    got = _run(spark, clean_string)
    for i, (inp, regex_exp, _, note) in enumerate(GOLDENS):
        assert got[i] == regex_exp, f"case {i} ({note}): {inp!r} -> {got[i]!r}"


def test_stdlib_path_matches_reference_goldens(spark):
    """clean_string_html_stdlib (no import gate — runs in EVERY container)
    must reproduce the reference bs4+lxml output on all pinned cases and
    its own pinned value on the two parser-version corners."""
    from synth_transform_spark.functions.cleaning import clean_string_html_stdlib

    got = _run(spark, clean_string_html_stdlib)
    for i, (inp, _, bs4_exp, note) in enumerate(GOLDENS):
        exp = (
            STDLIB_EXPECTED_OVERRIDES[inp]
            if bs4_exp is UNPINNED
            else bs4_exp
        )
        assert got[i] == exp, f"case {i} ({note}): {inp!r} -> {got[i]!r}"


def test_divergence_inventory_is_complete():
    """Every case where the two pinned paths differ must say DIVERGES in
    its note (and vice versa) — the corpus IS the divergence record."""
    for i, (inp, regex_exp, bs4_exp, note) in enumerate(GOLDENS):
        if bs4_exp is UNPINNED:
            assert "UNPINNED" in note, f"case {i}: unpinned without note"
            continue
        if regex_exp != bs4_exp:
            assert "DIVERGES" in note, f"case {i}: silent divergence {inp!r}"
        else:
            assert "DIVERGES" not in note, f"case {i}: note claims false divergence"
