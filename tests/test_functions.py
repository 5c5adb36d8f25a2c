"""Unit tests for the reference scalar-function library (SURVEY §2.8),
including the reference's documented semantic traps (SURVEY §5.2.4)."""

from __future__ import annotations

import datetime

import pyspark.sql.functions as F

from synth_transform_spark.functions import cleaning, dates, doi


def _one(spark, col_expr, value):
    return (
        spark.createDataFrame([(value,)], "v string")
        .select(col_expr.alias("out"))
        .first()["out"]
    )


class TestCleanString:
    def test_collapses_whitespace_and_html(self, spark):
        out = _one(
            spark, cleaning.clean_string(F.col("v")), "  <b>Natural</b>\r\n History\t Museum "
        )
        # utils.py:75-76: \s{2,} collapse + LEADING-only strip — the
        # reference keeps a trailing single space, and so do we (the cleaned
        # string is an exact master_clean lookup key).
        assert out == "Natural History Museum "

    def test_trailing_single_space_survives(self, spark):
        assert _one(spark, cleaning.clean_string(F.col("v")), " a ") == "a "

    def test_nbsp(self, spark):
        assert _one(spark, cleaning.clean_string(F.col("v")), "a\xa0b") == "a b"

    def test_empty_returns_null(self, spark):
        # utils.py:78-87 — None when empty or no word char remains
        assert _one(spark, cleaning.clean_string(F.col("v")), "   ") is None
        assert _one(spark, cleaning.clean_string(F.col("v")), "<br/>") is None
        assert _one(spark, cleaning.clean_string(F.col("v")), "---") is None


class TestFindNames:
    def test_and_and_ampersand_split(self, spark):
        out = _one(
            spark, cleaning.find_names(F.col("v")), "Smith AND Jones & Lee-Wong"
        )
        assert "Smith" in out and "Jones" in out
        assert any("Lee-Wong" in n for n in out)

    def test_short_tokens_dropped(self, spark):
        out = _one(spark, cleaning.find_names(F.col("v")), "J. R. Hartley")
        assert all(len(n.strip("-' ")) >= 3 for n in out)


class TestSubmissionDate:
    def test_gmt(self, spark):
        out = _one(
            spark,
            dates.parse_submission_date(F.col("v")),
            "Tue Mar 03 14:21:05 GMT 2009",
        )
        assert out == datetime.datetime(2009, 3, 3, 14, 21, 5)

    def test_bst_offset_applied(self, spark):
        out = _one(
            spark,
            dates.parse_submission_date(F.col("v")),
            "Mon Jun 01 12:00:00 BST 2009",
        )
        assert out == datetime.datetime(2009, 6, 1, 11, 0, 0)

    def test_empty_is_null(self, spark):
        # utils.py:98-99 falsy → None
        assert _one(spark, dates.parse_submission_date(F.col("v")), "") is None


class TestDoi:
    def test_standard_extract_and_normalize(self, spark):
        out = _one(
            spark,
            doi.normalize_doi(doi.extract_doi(F.col("v"))),
            "see https://doi.org/10.1234/abc.def. ",
        )
        assert out == "10.1234/ABC.DEF"

    def test_pdf_suffix_stripped(self, spark):
        out = _one(
            spark, doi.normalize_doi(F.col("v")), "10.1234/abc.def.pdf"
        )
        assert out == "10.1234/ABC.DEF"

    def test_mapress(self, spark):
        out = _one(spark, doi.extract_doi_mapress(F.col("v")), "zootaxa.1234.1.2-x")
        assert out == "10.11646/zootaxa.1234.1.2"

    def test_nature_article(self, spark):
        out = _one(
            spark,
            doi.extract_doi_nature(F.col("v")),
            "https://www.nature.com/articles/s41586-020-1234-5",
        )
        assert out == "10.1038/s41586-020-1234-5"

    def test_cambridge(self, spark):
        out = _one(
            spark,
            doi.extract_doi_cambridge(F.col("v")),
            "download?fileId=S0022112010001234",
        )
        assert out == "10.1017/S0022112010001234"

    def test_chain_priority_and_miss(self, spark):
        assert (
            _one(spark, doi.extract_doi_chain(F.col("v")), "10.1/x") is None
        )  # too-short prefix: no stage hits
        assert (
            _one(spark, doi.extract_doi_chain(F.col("v")), "doi%3A10.5555/j.1")
            == "10.5555/J.1"
        )  # url-encoded then standard stage (regex stages normalise: upper)

    def test_chain_normalises_regex_stage_hits(self, spark):
        # parsers/doi.py:58-64 — upper, rstrip dots, split at the FIRST
        # extras token anywhere (not end-anchored).
        assert (
            _one(spark, doi.extract_doi_chain(F.col("v")), "doi:10.5555/j.abc.pdf")
            == "10.5555/J.ABC"
        )
        assert (
            _one(spark, doi.extract_doi_chain(F.col("v")), "10.5555/x.pdf/extra")
            == "10.5555/X"
        )
        assert (
            _one(spark, doi.extract_doi_chain(F.col("v")), "10.1234/abc...")
            == "10.1234/ABC"
        )

    def test_chain_decodes_before_removing_spaces(self, spark):
        # parsers/doi.py:32-34 — unquote_plus FIRST, then remove ' ' only:
        # '+' and '%20' decode to spaces which are then removed.
        assert (
            _one(spark, doi.extract_doi_chain(F.col("v")), "10.5555/a+b")
            == "10.5555/AB"
        )
        assert (
            _one(spark, doi.extract_doi_chain(F.col("v")), "10.55%2055/ab")
            == "10.5555/AB"
        )

    def test_strict_stage_runs_second_with_unescaped_dot(self, spark):
        # parsers/doi.py:76 — the strict pattern's '10.' dot is unescaped
        # (any char); strict runs SECOND, before the publisher stages.
        assert (
            _one(spark, doi.extract_doi_chain(F.col("v")), "10x5555/abc")
            == "10X5555/ABC"
        )

    def test_standard_stage_wins_over_publisher_stages(self, spark):
        out = _one(
            spark,
            doi.extract_doi_chain(F.col("v")),
            "zootaxa.1234.1.2 via 10.9999/xyz",
        )
        assert out == "10.9999/XYZ"


class TestCleanInstitution:
    def test_hit_miss_and_nil(self, spark):
        df = spark.createDataFrame(
            [("NHM <i>London</i>",), ("Unknown  Uni",), ("junk",)], "name string"
        )
        mapping = spark.createDataFrame(
            [("NHM London", "Natural History Museum"), ("junk", "nil")],
            "dirty string, clean string",
        )
        out = {
            r["name"]: r["clean_name"]
            for r in cleaning.clean_institution(df, "name", mapping).collect()
        }
        assert out["NHM <i>London</i>"] == "Natural History Museum"  # map hit
        assert out["Unknown  Uni"] == "Unknown Uni"  # miss keeps cleaned
        assert out["junk"] is None  # 'nil' sentinel → NULL (utils.py:121-122)


class TestPartialRatio:
    """Goldens for fuzz.partial_ratio parity (reference resources.py:278,330
    thresholds: >= 80 Crossref accept, > 50 DOI-metadata verify)."""

    def test_containment_scores_100(self):
        from synth_transform_spark.functions.fuzzy import partial_ratio

        # the common Crossref case: title contained in a longer citation —
        # plain edit distance (q20's gate) would reject this match
        title = "deep learning for bird song"
        citation = "a survey of deep learning for bird song, vol 3, 2019"
        assert partial_ratio(title, citation) == 100
        assert partial_ratio(citation, title) == 100  # symmetric arg order

    def test_reference_gate_cases(self):
        from synth_transform_spark.functions.fuzzy import partial_ratio

        # near-containment with one typo: passes >= 80
        assert partial_ratio("bird song atlas", "the bird songs atlas (2nd ed)") >= 80
        # moderate overlap: passes the weak > 50 gate but not the strong one
        mid = partial_ratio("taxonomy of beetles", "notes on beetle taxonomy")
        assert 50 < mid < 80
        # disjoint strings: fails both gates
        assert partial_ratio("quantum chromodynamics", "medieval pottery") <= 50

    def test_edges_and_nulls(self):
        from synth_transform_spark.functions.fuzzy import partial_ratio

        assert partial_ratio(None, "x") is None
        assert partial_ratio("x", None) is None
        assert partial_ratio("", "") == 100
        assert partial_ratio("", "abc") == 0
        assert partial_ratio("abc", "abc") == 100

    def test_indel_ratio_is_python_levenshtein_ratio(self):
        # ratio = 2*LCS/(la+lb): substitution costs 2, so the weighted
        # distance is la+lb-2*LCS (python-Levenshtein's formula)
        from synth_transform_spark.functions.fuzzy import _indel_ratio

        assert _indel_ratio("abcd", "abcd") == 1.0
        assert _indel_ratio("abcd", "abed") == 0.75  # LCS=3 → 6/8
        assert _indel_ratio("abc", "xyz") == 0.0

    def test_window_variant_agrees_on_containment_and_gates(self, spark):
        from synth_transform_spark.functions.fuzzy import (
            partial_ratio,
            partial_ratio_window,
        )

        rows = [
            ("deep learning for bird song",
             "a survey of deep learning for bird song, vol 3, 2019"),
            ("bird song atlas", "the bird songs atlas (2nd ed)"),
            ("quantum chromodynamics", "medieval pottery"),
            ("abc", "abc"),
        ]
        df = spark.createDataFrame(rows, "a string, b string")
        got = [
            r["pr"]
            for r in df.select(
                partial_ratio_window(F.col("a"), F.col("b")).alias("pr")
            ).collect()
        ]
        # same gate decisions as the exact implementation on the goldens
        for (a, b), w in zip(rows, got):
            e = partial_ratio(a, b)
            assert (w >= 80) == (e >= 80), (a, b, w, e)
            assert (w > 50) == (e > 50), (a, b, w, e)
        assert got[0] == 100  # containment is exact in both variants


class TestPorterStemming:
    """F16 parity tier: pure-Python original Porter (1980) + the notebook
    tokeniser chain (outliers.ipynb cell 3) without the spaCy POS filter."""

    def test_full_pipeline_goldens(self):
        from synth_transform_spark.functions.stemming import porter_stem

        golden = {
            # step-1 family
            "caresses": "caress", "ponies": "poni", "ties": "ti", "cats": "cat",
            "feed": "feed", "agreed": "agre", "plastered": "plaster",
            "bled": "bled", "motoring": "motor", "sing": "sing",
            "hopping": "hop", "tanned": "tan", "falling": "fall",
            "hissing": "hiss", "fizzed": "fizz", "failing": "fail",
            "filing": "file", "happy": "happi", "sky": "sky",
            # multi-step classics
            "generalizations": "gener", "oscillators": "oscil",
            "relational": "relat", "conditional": "condit",
            "rational": "ration", "operator": "oper",
            "hopefulness": "hope", "electrical": "electr",
            "adoption": "adopt", "adjustment": "adjust",
            "dependent": "depend", "controll": "control", "roll": "roll",
            "rate": "rate", "cease": "ceas",
            # length <= 2 untouched
            "a": "a", "is": "is",
        }
        bad = {
            w: (porter_stem(w), e)
            for w, e in golden.items()
            if porter_stem(w) != e
        }
        assert not bad, bad

    def test_notebook_tokeniser_chain(self):
        from synth_transform_spark.functions.stemming import tokenize_notebook

        # lowercase, [^a-z- ] -> space, \s-\s -> space, len>1, stem
        assert tokenize_notebook("The 123 Spotted-Owls; flying - fast!") == [
            "the", "spotted-owl", "fly", "fast"
        ]
        assert tokenize_notebook(None) == []
        assert tokenize_notebook("a b") == []  # single-letter tokens dropped

    # spaCy-parity golden (VERDICT r4 item 5): one fixture paragraph of
    # POS-unambiguous words, with the expected output of BOTH F16 paths
    # recorded, so the primary path's divergence (no POS filter → function
    # words and verbs survive) is pinned, not unknown.
    POS_FIXTURE = (
        "The quick brown fox jumped over the lazy dog. A clever scientist "
        "measured the heavy stone with a simple instrument."
    )
    # primary path: regex clean + len>1 + Porter — keeps everything
    POS_PRIMARY_EXPECTED = [
        "the", "quick", "brown", "fox", "jump", "over", "the", "lazi",
        "dog", "clever", "scientist", "measur", "the", "heavi", "stone",
        "with", "simpl", "instrument",
    ]
    # reference path (outliers.ipynb cell 3): spaCy en_core_web_sm keeps
    # NOUN/ADJ only — dets, verbs and adpositions drop
    POS_SPACY_EXPECTED = [
        "quick", "brown", "fox", "lazi", "dog", "clever", "scientist",
        "heavi", "stone", "simpl", "instrument",
    ]

    def test_primary_tokeniser_golden(self):
        from synth_transform_spark.functions.stemming import tokenize_notebook

        assert tokenize_notebook(self.POS_FIXTURE) == self.POS_PRIMARY_EXPECTED
        # divergence inventory: primary minus reference = the non-NOUN/ADJ
        # survivors — exactly the POS filter's job
        extra = [t for t in self.POS_PRIMARY_EXPECTED if t not in self.POS_SPACY_EXPECTED]
        assert extra == ["the", "jump", "over", "the", "measur", "the", "with"]

    def test_stemmed_tokens_udf(self, spark):
        from synth_transform_spark.functions.stemming import (
            tokenize_notebook,
            tokens_stemmed_udf,
        )

        rows = [("Relational databases; happily agreed!",), (None,)]
        df = spark.createDataFrame(rows, "text string")
        got = [
            r["t"]
            for r in df.select(tokens_stemmed_udf()(F.col("text")).alias("t")).collect()
        ]
        assert got == [tokenize_notebook(rows[0][0]), []]

class TestCleanStringHtmlDivergence:
    """Golden fixtures for the regex-vs-bs4 divergence surface (F1).

    These goldens pin (a) what the regex default emits on malformed markup
    and (b) what the reference's bs4 chain emits, which the stdlib
    html.parser tier (clean_string_html_stdlib) must reproduce except on
    the cases listed in STDLIB_DIVERGES.
    """

    # (input, regex_expected, bs4_expected_or_None)
    CASES = [
        # well-formed: both agree
        ("<b>Museum</b> of <i>Stuff</i>", "Museum of Stuff", "Museum of Stuff"),
        # unclosed tag: regex strips the complete tag only; bs4 treats the
        # rest of the string as that element's TEXT and keeps it too
        ("before <b>bold", "before bold", "before bold"),
        # '<' not followed by a letter never starts a tag in html.parser,
        # and never matches a complete '<...>' regex tag either: both keep
        ("5 < 6 things", "5 < 6 things", "5 < 6 things"),
        # '<' + letter with no closing '>': THE divergence case — the regex
        # finds no complete tag and keeps everything; bs4 starts a bogus
        # tag and drops the rest of the string
        ("a <b things", "a <b things", "a "),
        # angle-bracket run spanning a real tag: the regex '<[^>]+>' eats
        # from the FIRST '<' to the first '>', swallowing interior text
        ("a <x or <b>keep</b>", "a keep", "a keep"),
        # comment: regex treats '<!-- note -->' as one tag; whether bs4's
        # get_text keeps Comment text is parser-version-dependent — not
        # asserted (None)
        ("x <!-- note --> y", "x y", None),
    ]

    # Where the stdlib tier differs from the recorded bs4 output: at
    # close() html.parser flushes the unterminated '<b things' as text.
    STDLIB_DIVERGES = {"a <b things": "a <b things"}

    def test_regex_default_goldens(self, spark):
        for raw, regex_expected, _ in self.CASES:
            got = _one(spark, cleaning.clean_string(F.col("v")), raw)
            assert got == regex_expected, (raw, got, regex_expected)

    def test_stdlib_goldens(self, spark):
        for raw, _, bs4_expected in self.CASES:
            if bs4_expected is None:
                continue
            expected = self.STDLIB_DIVERGES.get(raw, bs4_expected)
            got = _one(spark, cleaning.clean_string_html_stdlib(F.col("v")), raw)
            assert got == expected, (raw, got, expected)


class TestAdviceRegressionFixes:
    """Round-3 regressions for ADVICE.md findings."""

    def test_url_decode_fallback_is_ansi_safe(self, spark, monkeypatch):
        # Simulate a Spark build without try_url_decode: the fallback must
        # gate url_decode behind a well-formedness check (coalesce cannot
        # trap the ANSI runtime error), leaving malformed %-seqs untouched.
        monkeypatch.delattr(F, "try_url_decode", raising=False)
        assert (
            _one(spark, doi.extract_doi_chain(F.col("v")), "10.55%2055/ab")
            == "10.5555/AB"
        )  # well-formed: still decodes
        # Malformed %-seq: left undecoded (unquote_plus parity), no runtime
        # error; the DOI regex then stops at '%' (not in its char class),
        # exactly as the reference's re.search over the raw string does.
        assert (
            _one(spark, doi.extract_doi_chain(F.col("v")), "doi:10.5555/a%zqb")
            == "10.5555/A"
        )

    def test_q52_split_delimiters_are_literal(self, spark):
        # '. ' passed to F.split unescaped is a regex (any char + space) and
        # would split 'Ab Cd, Ef' into 3 parts; the literal escape keeps 1.
        import re as _re

        df = spark.createDataFrame([("Ab Cd, Ef",)], "town string")
        lit_parts = F.split(F.col("town"), F.lit(_re.escape(". ")), -1)
        raw_parts = F.split(F.col("town"), F.lit(". "), -1)
        row = df.select(
            F.size(lit_parts).alias("lit_n"), F.size(raw_parts).alias("raw_n")
        ).first()
        assert row.lit_n == 1
        assert row.raw_n == 3  # documents the divergence the escape prevents

    def test_q52_resolves_towns_at_test_scale(self, spark, oracle_con):
        # Cities and towns come from a part-key parity split, so the tests'
        # sf0.001 (200 parts) has both: the oracle comparison is not two
        # empty frames, and the manual-map ('MM') and exact (undelimited
        # town) stages each resolve a town.
        from conftest import SF_DIR
        from synth_transform_spark.plans import REGISTRY
        from synth_transform_spark.testing import compare

        q = REGISTRY["q52_city_resolution"]
        got = q.spark(spark, SF_DIR).toPandas()
        assert len(got) > 0
        assert compare(got, oracle_con.execute(q.oracle).df()).ok
        assert (got.country_code == "MM").any()
        undelimited = ~got.town.str.contains(", | - |\\. ", regex=True)
        assert (undelimited & (got.country_code != "MM")).any()
