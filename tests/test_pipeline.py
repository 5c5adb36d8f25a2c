"""Full-pipeline golden tests on reference-shaped fixtures (SURVEY §5.2.2-4):
every documented semantic trap of the reference rebuild is asserted."""

from __future__ import annotations

import datetime as dt
import os

import pytest

import pipeline_fixtures as fx
from synth_transform_spark.cli import read_inputs
from synth_transform_spark.pipeline import rebuild
from synth_transform_spark.pipeline.errors import (
    DuplicateUserGUIDError,
    SpecificDisciplineParentMismatch,
)


@pytest.fixture(scope="module")
def rebuilt(spark, pipeline_dirs):
    _, src_dir, res_dir = pipeline_dirs
    return rebuild(*read_inputs(spark, str(src_dir), str(res_dir)))


@pytest.fixture(scope="module")
def built(rebuilt):
    tables, ctx = rebuilt
    return {name: df.toPandas() for name, df in tables.items()}, ctx


def _rows(pdf, **filters):
    for k, v in filters.items():
        pdf = pdf[pdf[k] == v]
    return pdf.to_dict("records")


class TestRoundCallCountry:
    def test_round_spans(self, built):
        t, _ = built
        rounds = {r["id"]: r for r in t["Round"].to_dict("records")}
        assert len(rounds) == 4
        assert rounds[1]["name"] == "Synthesys 1"
        assert rounds[2]["start"] == dt.datetime(2005, 1, 1)
        assert rounds[2]["end"] == dt.datetime(2006, 6, 30)

    def test_call_ids_follow_round_and_call_order(self, built):
        t, ctx = built
        calls = sorted(t["Call"].to_dict("records"), key=lambda r: r["id"])
        assert [c["round_id"] for c in calls] == [1, 1, 2, 2, 2, 3, 3, 4, 4]
        # round 2 call order ≠ callID order: callID 202 (call 1) gets id 3
        mapping = {
            (r["synth_round"], r["original_id"]): r["new_id"]
            for r in ctx.mappings["NHM_Call"].collect()
        }
        assert mapping[(2, 202)] == 3
        assert mapping[(2, 201)] == 4
        assert mapping[(2, 203)] == 5

    def test_country_ids_by_code_order(self, built):
        t, _ = built
        codes = {r["code"]: r["id"] for r in t["Country"].to_dict("records")}
        assert codes == {"BD": 1, "DE": 2, "FR": 3, "GB": 4, "PK": 5, "RU": 6, "US": 7}


class TestSpecificDiscipline:
    def test_round4_preferred_dedup(self, built):
        t, ctx = built
        sd = {r["name"]: r for r in t["SpecificDiscipline"].to_dict("records")}
        assert sd["Mycology"]["id"] == 1 and sd["Mycology"]["discipline_id"] == 1
        assert sd["Entomology"]["id"] == 2
        assert sd["Palaeobotany"]["id"] == 3
        mapping = {
            (r["synth_round"], r["original_id"]): r["new_id"]
            for r in ctx.mappings["NHM_Specific_Discipline"].collect()
        }
        assert mapping[(2, 201)] == 1  # round-2 Mycology folded into round-4 row

    def test_parent_mismatch_raises(self, spark, tmp_path_factory):
        tmpdir = str(tmp_path_factory.mktemp("resources_pm"))
        sources = fx.build_sources(spark, parent_mismatch=True)
        res = fx.build_resources(spark, tmpdir)
        with pytest.raises(SpecificDisciplineParentMismatch):
            tables, _ = rebuild(sources, res)
            tables["SpecificDiscipline"].collect()


class TestOutputs:
    def test_ids_and_dim_denorm(self, built):
        t, _ = built
        out = {r["id"]: r for r in t["Output"].to_dict("records")}
        assert len(out) == 5
        assert out[1]["output_type"] == "Journal"
        assert out[3]["output_type"] is None  # OutputType_ID 99 missing → NULL
        assert out[2]["year"] == 19998  # typo year survives int cast

    def test_doi_metadata_enrichment(self, built):
        t, _ = built
        out = {r["id"]: r for r in t["Output"].to_dict("records")}
        # output (1,101) → id 1: full Crossref enrichment
        assert out[1]["authors"] == "Smith Jane"  # Solo skipped (no given)
        assert out[1]["title"] == "The Real Title"
        assert out[1]["year"] == 2005
        assert out[1]["publisher"] == "RealPub"
        assert out[1]["volume"] == "42"
        assert out[1]["pages"] == "100-110"
        # output (2,201) → id 3 shares the DOI → same enrichment
        assert out[3]["title"] == "The Real Title"
        # output (3,301) → id 4: DOI cached but no metadata → cleaned only.
        # Trailing space is reference-faithful: utils.py:75-76 strips
        # leading whitespace only.
        assert out[4]["title"] == "Clean me "


class TestVisitorProject:
    def test_drop_semantics_and_dense_ids(self, built):
        t, _ = built
        vp = t["VisitorProject"].sort_values("id")
        # 9 source projects − 1 'edit' − 1 ghost user = 7, ids dense 1..7
        assert list(vp["id"]) == [1, 2, 3, 4, 5, 6, 7]
        assert list(vp["original_project_id"]) == [110, 112, 211, 310, 410, 411, 412]

    def test_positional_call_join(self, built):
        t, _ = built
        vp = {r["original_project_id"]: r for r in t["VisitorProject"].to_dict("records")}
        assert vp[110]["call_submitted"] == 2  # round 1, ordinal 2
        assert vp[211]["call_submitted"] == 5  # round 2, ordinal 3 → callID 203
        assert vp[410]["call_submitted"] == 8  # round 4, ordinal 1

    def test_submission_date_parsing(self, built):
        t, _ = built
        vp = {r["original_project_id"]: r for r in t["VisitorProject"].to_dict("records")}
        assert vp[110]["submission_date"] == dt.datetime(2009, 3, 3, 14, 21, 5)
        assert vp[112]["submission_date"] == dt.datetime(2009, 6, 1, 11, 0, 0)  # BST→UTC
        assert vp[211]["submission_date"] is None or str(vp[211]["submission_date"]) == "NaT"

    def test_institution_cleaning(self, built):
        t, _ = built
        vp = {r["original_project_id"]: r for r in t["VisitorProject"].to_dict("records")}
        assert vp[110]["supporter_institution"] == "Natural History Museum"  # map hit
        assert vp[110]["group_leader_institution"] == "Unknown Uni"  # miss → cleaned
        assert vp[110]["home_institution_name"] == "Natural History Museum"
        assert vp[112]["home_institution_name"] is None  # 'nil' sentinel

    def test_bool_casts_and_age(self, built):
        t, _ = built
        vp = {r["original_project_id"]: r for r in t["VisitorProject"].to_dict("records")}
        assert vp[110]["home_facilities"] is True or vp[110]["home_facilities"] == 1
        assert vp[110]["group_leader"] is False or vp[110]["group_leader"] == 0
        assert vp[110]["user_age_range"] == "25-34"
        assert vp[410]["user_age_range"] == "45-54"

    def test_country_translate_and_guid(self, built):
        t, _ = built
        vp = {r["original_project_id"]: r for r in t["VisitorProject"].to_dict("records")}
        assert vp[110]["nationality"] == 2  # DE
        assert vp[110]["user_guid"] == -636396585  # negative GUID supported
        assert vp[112]["home_institution_country"] == 4  # direct GB code


class TestMissingCountry:
    def test_all_resolution_stages(self, built):
        t, _ = built
        vp = {r["original_project_id"]: r for r in t["VisitorProject"].to_dict("records")}
        assert vp[110]["home_institution_country"] == 4  # London exact → GB
        assert vp[211]["home_institution_country"] == 2  # Köln altname → DE
        assert vp[310]["home_institution_country"] == 4  # "Cambridge, UK" split → GB (pop)
        assert vp[410]["home_institution_country"] == 6  # Moscow → RU (max pop)
        assert vp[411]["home_institution_country"] == 5  # Islamabad manual → PK not BD
        assert vp[412]["home_institution_country"] is None or vp[412][
            "home_institution_country"
        ] != vp[412]["home_institution_country"]  # NaN → unmatched stays NULL


class TestMissingCountryStagePriority:
    """Stage order of the single-join resolution on in-test inputs: manual
    map, exact name, then the ', ', ' - ', '. ' splits; within a stage the
    most populous city wins, ties on the larger city_id."""

    def test_stage_priority(self, spark):
        from synth_transform_spark.pipeline.steps import Resources, fill_missing_country

        codes = ["BD", "DE", "FR", "GB", "PK", "RU", "US"]
        country = spark.createDataFrame(
            [(i + 1, c) for i, c in enumerate(codes)], "id long, code string"
        )
        cid = {c: i + 1 for i, c in enumerate(codes)}
        city_names = spark.createDataFrame(
            [
                # exact "bath - spa" (small) beats the " - " split "bath" (large)
                ("bath - spa", "FR", 10, 1),
                ("bath", "GB", 1000, 2),
                # ", " split "alpha" beats the " - " split "alpha, beta"
                ("alpha", "DE", 1, 3),
                ("alpha, beta", "GB", 1000, 4),
                # ". " is literal: "Rio Claro" must not split after "Ri" (as
                # the regex ". " would, "o " matching); "St. Albans" splits
                ("ri", "BD", 5, 5),
                ("st", "GB", 5, 12),
                # manual map beats an exact match
                ("islamabad", "BD", 2000000, 6),
                # population tie → larger city_id
                ("twin", "DE", 500, 7),
                ("twin", "FR", 500, 8),
                # the exact stage's pick has no code → the ", " split resolves
                ("gamma, delta", None, 100, 9),
                ("gamma, delta", "RU", 5, 10),
                ("gamma", "US", 1, 11),
            ],
            "name_lc string, countrycode string, population long, city_id long",
        )
        res = Resources(
            user_ids=None,
            user_ages=None,
            master_clean=None,
            unmatched_towns=spark.createDataFrame(
                [("Islamabad", "PK")], "town string, country_code string"
            ),
            workbook={},
            output_dois=None,
            doi_metadata=None,
            city_names=city_names,
            countries=None,
        )
        towns = {
            1: ("Bath - Spa", None),
            2: ("Alpha, Beta - Gamma", None),
            3: ("Rio Claro", None),
            4: ("Islamabad", None),
            5: ("Nowhereville", None),
            6: ("Twin", None),
            7: ("Gamma, Delta", None),
            8: ("Bath", cid["DE"]),  # country already set: untouched
            9: ("St. Albans", None),
        }
        vp = spark.createDataFrame(
            [(i, t, c) for i, (t, c) in towns.items()],
            "id long, home_institution_town string, home_institution_country long",
        )
        got = {
            r["id"]: r["home_institution_country"]
            for r in fill_missing_country(vp, res, country).collect()
        }
        assert got == {
            1: cid["FR"],
            2: cid["DE"],
            3: None,
            4: cid["PK"],
            5: None,
            6: cid["FR"],
            7: cid["US"],
            8: cid["DE"],
            9: cid["GB"],
        }


class TestAccessRequestsAndView:
    def test_translate_with_dropped_project(self, built):
        t, _ = built
        ar = {r["id"]: r for r in t["AccessRequest"].to_dict("records")}
        assert ar[1]["visitor_project_id"] == 1
        assert ar[3]["visitor_project_id"] == 3
        import math

        assert math.isnan(ar[4]["visitor_project_id"])  # ghost project → NULL

    def test_view_rollup(self, built):
        t, _ = built
        view = {
            r["visitor_project_id"]: r
            for r in t["vw_project_access_requests"].to_dict("records")
            if r["visitor_project_id"] == r["visitor_project_id"]  # drop NaN key
        }
        assert view[1]["sub_installation_requests"] == 2
        assert view[1]["project_days_requested"] == 8
        assert bool(view[1]["multi_access_flag"]) is True
        assert view[3]["sub_installation_requests"] == 1
        assert bool(view[3]["multi_access_flag"]) is False


class TestEvaluationScores:
    def _get(self, built, orig_project, name):
        t, _ = built
        vp = {r["original_project_id"]: r["id"] for r in t["VisitorProject"].to_dict("records")}
        rows = _rows(t["EvaluationScore"], visitor_project_id=vp[orig_project], name=name)
        assert len(rows) == 1
        return rows[0]

    def test_grid_complete(self, built):
        t, _ = built
        assert len(t["EvaluationScore"]) == 7 * 7

    def test_falsy_zero_excluded(self, built):
        # project 110 Methodology: 15.0 and 0.0 → the 0 is DROPPED (utils.py:181)
        r = self._get(built, 110, "Methodology")
        assert r["count"] == 1
        assert r["mean"] == pytest.approx(0.5)

    def test_stddev_gate(self, built):
        r = self._get(built, 110, "Methodology")
        import math

        assert math.isnan(r["std_dev"]) or r["std_dev"] is None  # n=1 → NULL
        r2 = self._get(built, 110, "Scientific Merit")
        assert r2["count"] == 2
        assert r2["mean"] == pytest.approx(0.7)  # (12/15 + 9/15)/2
        assert r2["std_dev"] == pytest.approx(0.14142, abs=1e-4)

    def test_mode_first_encountered_tie(self, built):
        # project 211 Support Stmt: 7,7,9,9 → bimodal; statistics.mode over
        # PK-ordered data returns 0.7 (first most-common)
        r = self._get(built, 211, "Support Stmt")
        assert r["count"] == 4
        assert r["mode"] == pytest.approx(0.7)
        assert r["mean"] == pytest.approx(0.8)

    def test_round4_totals(self, built):
        r = self._get(built, 410, "Scientific Merit")  # /10 in round 4
        assert r["mean"] == pytest.approx(0.85)
        r2 = self._get(built, 410, "Societal Challenge")  # /5, round-4 only
        assert r2["count"] == 2
        assert r2["mean"] == pytest.approx(0.9)

    def test_empty_scores_count_zero(self, built):
        import math

        r = self._get(built, 310, "Methodology")
        assert r["count"] == 0
        assert math.isnan(r["mean"]) or r["mean"] is None
        r2 = self._get(built, 110, "Societal Challenge")  # NULL in rounds 1-3
        assert r2["count"] == 0


#: Upper bounds on the leaves of each rebuilt table's analysed plan. A leaf
#: is one source relation read in the table's lineage; Catalyst's analysis
#: and optimisation time, and the scans executed, grow with their number.
#: Melting the scores as a per-column union (one VisitorProject lineage per
#: score column) or resolving missing countries with one join per stage
#: (one VisitorProject lineage per stage) breaks these bounds.
PLAN_LEAF_BOUNDS = {
    "Round": 2,
    "Call": 2,
    "Country": 2,
    "Discipline": 2,
    "SpecificDiscipline": 2,
    "Output": 10,
    "Category": 2,
    "Institution": 4,
    "InstallationFacility": 2,
    "AccessRequest": 5,
    "vw_project_access_requests": 20,
    "VisitorProject": 40,
    "EvaluationScore": 50,
}


class TestPlanSize:
    def test_analysed_plan_leaves_bounded(self, rebuilt):
        tables, _ = rebuilt
        assert set(tables) == set(PLAN_LEAF_BOUNDS)
        leaves = {
            name: df._jdf.queryExecution().analyzed().collectLeaves().size()
            for name, df in tables.items()
        }
        over = {
            name: (n, PLAN_LEAF_BOUNDS[name])
            for name, n in leaves.items()
            if n > PLAN_LEAF_BOUNDS[name]
        }
        assert not over, f"(leaves, bound) over the bound: {over}"


class TestResourceInvariants:
    def test_duplicate_guid_raises(self, spark, tmp_path_factory):
        tmpdir = str(tmp_path_factory.mktemp("resources_dup"))
        with pytest.raises(DuplicateUserGUIDError):
            fx.build_resources(spark, tmpdir, duplicate_guid=True)


class TestDump:
    # default tier: the end-to-end dump replay takes ~25 s on a 4-core host,
    # inside the 60 s budget for a default-tier test
    def test_dump_literal_rules_and_order(self, tmp_path_factory, rebuilt):
        from synth_transform_spark.pipeline.rebuild import TABLE_ORDER
        from synth_transform_spark.sources.dump import dump_database

        tmpdir = str(tmp_path_factory.mktemp("dump"))
        tables, _ = rebuilt
        path = os.path.join(tmpdir, "analysis.sql")
        counts = dump_database(tables, TABLE_ORDER, path)
        assert counts["VisitorProject"] == 7
        text = open(path).read()
        # deterministic table order
        assert text.index("CREATE TABLE `Round`") < text.index(
            "CREATE TABLE `Call`"
        ) < text.index("CREATE TABLE `VisitorProject`")
        # literal rules: booleans, nulls, quoted strings with escaping
        assert "TRUE" in text and "null" in text
        assert "'Synthesys 1'" in text
