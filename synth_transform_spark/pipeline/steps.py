"""The 15 rebuild steps as DataFrame transforms.

Reference: /root/reference/synth/etl.py:25-58 (step list) and the step
classes at etl.py:180-821. Each function here is a pure transform over the
union-of-rounds source DataFrames (each carrying a ``synth_round`` column)
plus the supplementary resources; per-row Python loops, N+1 point queries
and dict probes become joins, windows and aggregations (SURVEY.md §4.2's
anti-patterns removed by construction).

ID determinism: the reference assigns dense ids with ``itertools.count(1)``
while iterating ordered streams (SURVEY.md §2.5 W1). Here
``operators.ids.assign_ids_window`` reproduces the identical numbering; the
scalable ``assign_ids_scalable`` is a drop-in swap at cluster scale for a
relation of exactly its order columns.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..functions import cleaning, dates
from ..operators.ids import assign_ids_window
from .context import PipelineContext
from .errors import AmbiguousCountryError, SpecificDisciplineParentMismatch


@dataclass
class Resources:
    """The six supplementary resources, pre-loaded (see resources.py)."""

    user_ids: DataFrame  # (guid, synth_round, user_id)
    user_ages: DataFrame  # (guid, synth_round, age_range)
    master_clean: DataFrame  # (dirty, clean) with 'nil' sentinel
    unmatched_towns: DataFrame  # (town, country_code)
    workbook: dict[str, DataFrame]  # Category / Institution / InstallationFacility / AccessRequest
    output_dois: DataFrame  # (synth_round, output_id, doi)
    doi_metadata: DataFrame  # (doi, m_author array<struct<given,family>>, m_title array<string>, m_created string, m_publisher, m_url, m_volume, m_page)
    city_names: DataFrame  # (name_lc, countrycode, population, city_id)
    countries: DataFrame  # (code, name) ISO-3166 seed


# ---------------------------------------------------------------------------
# Step 1-2: Round + Call (etl.py:180-223)
# ---------------------------------------------------------------------------
def fill_round(calls_src: DataFrame) -> DataFrame:
    """Round per source db: id = round number, span = min(dateOpen) →
    max(dateClosed) (A1)."""
    return (
        calls_src.groupBy("synth_round")
        .agg(F.min("dateOpen").alias("start"), F.max("dateClosed").alias("end"))
        .select(
            F.col("synth_round").alias("id"),
            F.concat(F.lit("Synthesys "), F.col("synth_round")).alias("name"),
            "start",
            "end",
        )
    )


def fill_call(ctx: PipelineContext, calls_src: DataFrame) -> DataFrame:
    """Dense call ids over (round asc, call asc) — W1+O1; maps
    (round, callID) → id."""
    with_ids = assign_ids_window(calls_src, [F.asc("synth_round"), F.asc("call")], "id")
    ctx.set_mapping(
        "NHM_Call",
        with_ids.select(
            "synth_round", F.col("callID").alias("original_id"), F.col("id").alias("new_id")
        ),
    )
    return with_ids.select(
        "id",
        F.col("synth_round").alias("round_id"),
        F.col("dateOpen").alias("start"),
        F.col("dateClosed").alias("end"),
    )


# ---------------------------------------------------------------------------
# Step 3: Country (etl.py:225-241) — seed table replaces pycountry.
# ---------------------------------------------------------------------------
def fill_country(ctx: PipelineContext, countries: DataFrame) -> DataFrame:
    with_ids = assign_ids_window(countries, [F.asc("code")], "id")
    ctx.set_mapping(
        "CountryIsoCode",
        with_ids.select(F.col("code").alias("original_id"), F.col("id").alias("new_id")),
    )
    return with_ids.select("id", "code", "name")


# ---------------------------------------------------------------------------
# Step 4-5: Discipline + SpecificDiscipline (etl.py:243-321)
# ---------------------------------------------------------------------------
def fill_discipline(ctx: PipelineContext, disciplines_src: DataFrame) -> DataFrame:
    """Synth-4 copy only (all rounds identical); identity mapping."""
    d4 = disciplines_src.filter(F.col("synth_round") == 4)
    ctx.set_mapping(
        "NHM_Discipline",
        d4.select(
            F.col("DisciplineID").alias("original_id"),
            F.col("DisciplineID").alias("new_id"),
        ),
    )
    return d4.select(
        F.col("DisciplineID").alias("id"), F.col("DisciplineName").alias("name")
    )


def fill_specific_discipline(ctx: PipelineContext, sd_src: DataFrame) -> DataFrame:
    """Cross-round name dedup, round-4-preferred canonical row
    (etl.py:286-321): traversal order is rounds DESC, id ASC; first
    occurrence of a name wins and gets the next dense id; duplicates with a
    different parent discipline raise SpecificDisciplineParentMismatch.
    """
    w = Window.partitionBy("SpecificDisciplineName").orderBy(
        F.desc("synth_round"), F.asc("SpecificDisciplineID")
    )
    ranked = sd_src.withColumn("_rk", F.row_number().over(w))

    # invariant: one parent per name (etl.py:310-312). The reference compares
    # *translated* parents; translation is identity on discipline ids.
    mismatches = (
        sd_src.groupBy("SpecificDisciplineName")
        .agg(F.countDistinct("DisciplineID").alias("n_parents"))
        .filter(F.col("n_parents") > 1)
        .collect()
    )
    if mismatches:
        raise SpecificDisciplineParentMismatch(
            ", ".join(r["SpecificDisciplineName"] for r in mismatches)
        )

    canonical = ranked.filter(F.col("_rk") == 1)
    canonical = assign_ids_window(
        canonical, [F.desc("synth_round"), F.asc("SpecificDisciplineID")], "new_id"
    )
    mapping = (
        sd_src.select(
            "synth_round",
            F.col("SpecificDisciplineID").alias("original_id"),
            "SpecificDisciplineName",
        )
        .join(
            canonical.select("SpecificDisciplineName", "new_id"),
            "SpecificDisciplineName",
        )
        .select("synth_round", "original_id", "new_id")
    )
    ctx.set_mapping("NHM_Specific_Discipline", mapping)
    return canonical.select(
        F.col("new_id").alias("id"),
        F.col("SpecificDisciplineName").alias("name"),
        F.col("DisciplineID").alias("discipline_id"),
    )


# ---------------------------------------------------------------------------
# Step 6: Output (etl.py:324-372)
# ---------------------------------------------------------------------------
def fill_output(
    ctx: PipelineContext,
    outputs_src: DataFrame,
    output_types_src: DataFrame,
    pub_statuses_src: DataFrame,
) -> DataFrame:
    """Union of rounds, dims denormalised via broadcast left joins (J1),
    dense ids over (round asc, Output_ID asc), year cast to int (F5)."""
    types4 = output_types_src.filter(F.col("synth_round") == 4).select(
        "OutputType_ID", F.col("OutputType").alias("output_type")
    )
    statuses4 = pub_statuses_src.filter(F.col("synth_round") == 4).select(
        "PublicationStatus_ID", F.col("PublicationStatus").alias("publication_status")
    )
    with_ids = assign_ids_window(
        outputs_src, [F.asc("synth_round"), F.asc("Output_ID")], "id"
    )
    ctx.set_mapping(
        "NHM_Output",
        with_ids.select(
            "synth_round",
            F.col("Output_ID").alias("original_id"),
            F.col("id").alias("new_id"),
        ),
    )
    return (
        with_ids.join(F.broadcast(types4), "OutputType_ID", "left")
        .join(F.broadcast(statuses4), "PublicationStatus_ID", "left")
        .select(
            "id",
            "output_type",
            "publication_status",
            F.col("Authors").alias("authors"),
            F.col("Year").cast("int").alias("year"),
            F.col("Title").alias("title"),
            F.col("Publisher").alias("publisher"),
            F.col("URL").alias("url"),
            F.col("Volume").alias("volume"),
            F.col("Pages").alias("pages"),
            F.col("Conference").alias("conference"),
            F.col("Degree").alias("degree"),
        )
    )


# ---------------------------------------------------------------------------
# Step 7: CleanOutputs (etl.py:375-445)
# ---------------------------------------------------------------------------
def clean_outputs(
    ctx: PipelineContext,
    output: DataFrame,
    output_dois: DataFrame,
    doi_metadata: DataFrame,
) -> DataFrame:
    """clean_string over authors/titles (P1: only non-null non-empty), then
    enrich rows whose (round, original output id) has a cached DOI with
    Crossref metadata (S12-style recompute, expressed as withColumn +
    coalesce instead of in-place mutation).

    Metadata rules (etl.py:385-412): authors := 'family given' joined by
    '; ' (entries missing either part skipped — F7); title := clean_string
    of first title element, kept when the array is empty (F8); year :=
    first 4 chars of created date; publisher/url overwrite; volume/pages
    only when present.
    """
    cleaned = output.withColumn(
        "authors",
        F.when(
            F.col("authors").isNotNull() & (F.col("authors") != ""),
            cleaning.clean_string(F.col("authors")),
        ).otherwise(F.col("authors")),
    ).withColumn(
        "title",
        F.when(
            F.col("title").isNotNull() & (F.col("title") != ""),
            cleaning.clean_string(F.col("title")),
        ).otherwise(F.col("title")),
    )

    # (round, original_id) → new id → doi → metadata
    out_map = ctx.mappings["NHM_Output"]
    dois = (
        output_dois.join(
            out_map,
            (output_dois.synth_round == out_map.synth_round)
            & (output_dois.output_id == out_map.original_id),
        )
        .select(F.col("new_id").alias("id"), F.upper("doi").alias("doi"))
    )
    meta = dois.join(doi_metadata, "doi")

    m_authors = F.array_join(
        F.transform(
            F.filter(
                F.col("m_author"),
                lambda a: a.getField("given").isNotNull()
                & a.getField("family").isNotNull(),
            ),
            lambda a: F.concat_ws(" ", a.getField("family"), a.getField("given")),
        ),
        "; ",
    )
    enriched = meta.select(
        "id",
        m_authors.alias("e_authors"),
        F.when(
            F.size("m_title") > 0, cleaning.clean_string(F.element_at("m_title", 1))
        ).alias("e_title"),
        F.substring("m_created", 1, 4).cast("int").alias("e_year"),
        F.col("m_publisher").alias("e_publisher"),
        F.col("m_url").alias("e_url"),
        F.col("m_volume").alias("e_volume"),
        F.col("m_page").alias("e_pages"),
        F.lit(True).alias("_enriched"),
    )
    j = cleaned.join(F.broadcast(enriched), "id", "left")
    pick = lambda e, orig: F.when(F.col("_enriched"), e).otherwise(F.col(orig))  # noqa: E731
    return j.select(
        "id",
        "output_type",
        "publication_status",
        pick(F.col("e_authors"), "authors").alias("authors"),
        pick(F.coalesce("e_year", "year"), "year").alias("year"),
        pick(F.coalesce("e_title", "title"), "title").alias("title"),
        pick(F.col("e_publisher"), "publisher").alias("publisher"),
        pick(F.col("e_url"), "url").alias("url"),
        pick(F.coalesce("e_volume", "volume"), "volume").alias("volume"),
        pick(F.coalesce("e_pages", "pages"), "pages").alias("pages"),
        "conference",
        "degree",
    )


# ---------------------------------------------------------------------------
# Step 8: VisitorProject — the monster join (etl.py:448-561)
# ---------------------------------------------------------------------------
def fill_visitor_project(
    ctx: PipelineContext,
    projects_src: DataFrame,
    users_src: DataFrame,
    calls: DataFrame,
    res: Resources,
) -> DataFrame:
    """P2 state filter + J3 guid inner join (drop-on-miss) + J2 user join +
    J15 positional call join + J4/J14 translates + F3/F4/F6 scalar work,
    with dense ids assigned over (round asc, UserProject_ID asc) AFTER the
    guid filter (the reference increments its counter only for kept
    projects, etl.py:476-488)."""
    p = projects_src.filter(F.col("Application_State") != "edit")

    # J3: users.csv GUID join — inner = drop projects whose user is absent.
    p = p.join(
        F.broadcast(
            res.user_ids.select(
                "guid", "synth_round", F.col("user_id").alias("User_ID")
            )
        ),
        ["synth_round", "User_ID"],
        "inner",
    )

    p = assign_ids_window(p, [F.asc("synth_round"), F.asc("UserProject_ID")], "id")
    ctx.set_mapping(
        "T_List_of_UserProject",
        p.select(
            "synth_round",
            F.col("UserProject_ID").alias("original_id"),
            F.col("id").alias("new_id"),
        ),
    )

    # J15: positional call lookup — calls of the round ordered by id,
    # 1-based position = int(Call_Submitted).
    wcall = Window.partitionBy("round_id").orderBy("id")
    call_pos = calls.select(
        F.col("round_id").alias("synth_round"),
        F.col("id").alias("_call_new"),
        F.row_number().over(wcall).alias("_pos"),
    )
    p = p.withColumn("_pos", F.col("Call_Submitted").cast("int")).join(
        F.broadcast(call_pos), ["synth_round", "_pos"], "left"
    )

    # J2: project → user
    u = users_src.select(
        "synth_round",
        "User_ID",
        "Gender",
        "Researcher_status",
        "Nationality_Country_code",
        "Nationality_OtherText",
        "Discipline1",
        "Discipline2",
        "Discipline3",
        "Home_Institution_Type",
        "Home_Institution_Dept",
        "Home_Institution_Name",
        "Home_Institution_Town",
        "Home_Institution_Country_code",
        "Home_Institution_Postcode",
        "Number_of_visits",
        "Duration_of_stays",
        "Remote_user",
        "Travel_and_Subsistence_reimbursed",
        "jobTitle",
    )
    p = p.join(u, ["synth_round", "User_ID"], "inner")

    # J14: age lookup
    p = p.join(F.broadcast(res.user_ages), ["guid", "synth_round"], "left")

    # J4: translates. Output names are temp (_x) — Spark resolves column
    # names case-insensitively, so snake_case finals would collide with the
    # CamelCase source columns until the final select renames them.
    p = ctx.translate(
        p, "NHM_Specific_Discipline", "Project_Specific_Discipline", out_col="_psd"
    )
    p = ctx.translate(
        p, "CountryIsoCode", "Nationality_Country_code", round_col=None,
        out_col="nationality",
    )
    p = ctx.translate(
        p, "CountryIsoCode", "Home_Institution_Country_code", round_col=None,
        out_col="_hic",
    )

    # F4: institution cleaning (broadcast master_clean map)
    p = cleaning.clean_institution(p, "Supporter_Institution", res.master_clean, "_supp")
    p = cleaning.clean_institution(
        p, "Group_Leader_Institution", res.master_clean, "_gli"
    )
    p = cleaning.clean_institution(p, "Home_Institution_Name", res.master_clean, "_hin")

    b = lambda c: F.col(c).cast("boolean")  # noqa: E731  (F6 tinyint→bool)
    return p.select(
        "id",
        F.col("UserProject_ID").alias("original_project_id"),
        F.col("UserProject_Title").alias("title"),
        F.col("UserProject_Objectives").alias("objectives"),
        F.col("UserProject_Achievements").alias("achievements"),
        F.col("guid").alias("user_guid"),
        F.col("age_range").alias("user_age_range"),
        F.col("length_of_visit").alias("length_of_visit"),
        F.col("start_date").alias("start"),
        F.col("finish_date").alias("end"),
        F.col("TAF_ID").alias("taf_id"),
        b("Home_Facilities").alias("home_facilities"),
        F.col("Application_State").alias("application_state"),
        F.col("Acceptance").alias("acceptance"),
        F.col("UserProject_Summary").alias("summary"),
        b("New_User").alias("new_user"),
        F.col("UserProject_Facility_Reasons").alias("facility_reasons"),
        dates.parse_submission_date(F.col("Submission_Date")).alias("submission_date"),
        b("Support_Final").alias("support_final"),
        F.col("Project_Discipline").alias("project_discipline"),
        F.col("_psd").alias("project_specific_discipline"),
        F.col("_call_new").alias("call_submitted"),
        b("Previous_Application").alias("previous_application"),
        F.col("Training_Requirement").alias("training_requirement"),
        F.col("_supp").alias("supporter_institution"),
        F.col("Administration_State").alias("administration_state"),
        b("Group_leader").alias("group_leader"),
        F.col("Group_Members").alias("group_members"),
        F.col("UserProject_Background").alias("background"),
        F.col("UserProject_Reasons").alias("reasons"),
        F.col("UserProject_Expectations").alias("expectations"),
        F.col("UserProject_Outputs").alias("outputs"),
        F.col("_gli").alias("group_leader_institution"),
        F.col("Visit_Funded_Previously").alias("visit_funded_previously"),
        F.col("Gender").alias("gender"),
        "nationality",
        F.col("Researcher_status").alias("researcher_status"),
        F.col("Discipline1").alias("researcher_discipline1"),
        F.col("Discipline2").alias("researcher_discipline2"),
        F.col("Discipline3").alias("researcher_discipline3"),
        F.col("Home_Institution_Type").alias("home_institution_type"),
        F.col("Home_Institution_Dept").alias("home_institution_dept"),
        F.col("_hin").alias("home_institution_name"),
        F.col("Home_Institution_Town").alias("home_institution_town"),
        F.col("_hic").alias("home_institution_country"),
        F.col("Home_Institution_Postcode").alias("home_institution_postcode"),
        F.col("Number_of_visits").alias("number_of_visits"),
        F.col("Duration_of_stays").alias("duration_of_stays"),
        F.col("Nationality_OtherText").alias("nationality_other"),
        F.col("Remote_user").alias("remote_user"),
        F.col("Travel_and_Subsistence_reimbursed").alias(
            "travel_and_subsistence_reimbursed"
        ),
        F.col("jobTitle").alias("job_title"),
        "synth_round",  # retained for downstream steps (scores); dropped at write
    )


# ---------------------------------------------------------------------------
# Steps 9-12: workbook-backed tables (etl.py:564-648)
# ---------------------------------------------------------------------------
def fill_category(sheet: DataFrame) -> DataFrame:
    return sheet.select(
        F.col("Category_ID").alias("id"),
        F.col("CategoryName").alias("name"),
        F.col("HigherCategoryName").alias("higherName"),
    )


def fill_institution(sheet: DataFrame, country: DataFrame) -> DataFrame:
    """J6 with the reference's ``.one()`` uniqueness semantics: every row's
    CountryCode must match exactly one Country row (etl.py:598-602)."""
    c = country.select(F.col("code").alias("CountryCode"), F.col("id").alias("country_id"))
    joined = sheet.join(F.broadcast(c), "CountryCode", "left")
    bad = joined.filter(F.col("country_id").isNull()).select("CountryCode").collect()
    if bad:
        raise AmbiguousCountryError(
            f"unmatched codes: {sorted({r['CountryCode'] for r in bad})}"
        )
    return joined.select(
        F.col("Institution_ID").alias("id"),
        F.col("InstitutionAcronym").alias("acronym"),
        F.col("InstitutionName").alias("name"),
        "country_id",
    )


def fill_installation_facility(sheet: DataFrame) -> DataFrame:
    return sheet.select(
        F.col("InstallationFacility_ID").alias("id"),
        F.col("InstallationCode").alias("code"),
        F.col("InstallationFacilityDescription").alias("description"),
        F.col("Category_ID").alias("category_id"),
        F.col("Institution_ID").alias("institution_id"),
    )


def fill_access_request(ctx: PipelineContext, sheet: DataFrame) -> DataFrame:
    """Translate (SynthRound, UserProject_ID) → visitor_project_id (J4);
    misses (dropped projects) stay NULL like the reference's default-None
    probe."""
    s = sheet.withColumnRenamed("SynthRound", "synth_round")
    s = ctx.translate(
        s, "T_List_of_UserProject", "UserProject_ID", out_col="visitor_project_id"
    )
    return s.select(
        F.col("AccessRequest_ID").alias("id"),
        "visitor_project_id",
        F.col("InstallationFacility_ID").alias("installation_facility_id"),
        F.col("DaysRequested").alias("days_requested"),
        F.col("RequestDetail").alias("request_detail"),
    )


# ---------------------------------------------------------------------------
# Step 13: the view (etl.py:651-671) — A2/J7
# ---------------------------------------------------------------------------
def project_access_requests_view(
    access_request: DataFrame, visitor_project: DataFrame
) -> DataFrame:
    """``vw_project_access_requests`` — per project: distinct request count,
    total days, multi-access flag. The left join to VisitorProject is
    vestigial in the reference (no vp columns used) but kept for parity."""
    ar = access_request.join(
        visitor_project.select(F.col("id").alias("visitor_project_id")),
        "visitor_project_id",
        "left",
    )
    return ar.groupBy("visitor_project_id").agg(
        F.countDistinct("id").alias("sub_installation_requests"),
        F.sum("days_requested").alias("project_days_requested"),
        (F.countDistinct("id") > 1).alias("multi_access_flag"),
    )


# ---------------------------------------------------------------------------
# Step 14: missing-country enrichment (etl.py:674-769) — J12 + W3
# ---------------------------------------------------------------------------
#: The split stages' delimiters, in priority order. Each is
#: literal, as in the reference's ``str.split``; ``F.split`` takes a Java
#: regex, so ``resolve_towns`` escapes them ('. ' unescaped matches any
#: character followed by a space).
TOWN_DELIMS = (", ", " - ", ". ")


def resolve_towns(todo: DataFrame, city_names: DataFrame) -> DataFrame:
    """Stage-keyed town → city country code (J12, W3):
    (id, home_institution_town, m_code) → (id, m_code, city_code).

    Each row carries its four stage-tagged lookup keys (stage 0 the exact
    lowercase name/alt-name, stages 1-3 the prefix before the first
    ``TOWN_DELIMS`` split, NULL when the town does not split), so the input
    lineage is read once and joined to the name index once. Each stage
    picks its most populous candidate; the lowest stage whose pick has a
    country code wins, so a pick without a code falls through to the next
    stage. ``city_code`` is NULL when no stage resolves; the caller
    coalesces ``m_code`` (the manual map) over it."""
    town = F.col("home_institution_town")
    keys = [F.lower(F.trim(town))]
    for delim in TOWN_DELIMS:
        parts = F.split(town, F.lit(re.escape(delim)), -1)
        keys.append(
            F.when(F.size(parts) > 1, F.lower(F.trim(F.element_at(parts, 1))))
        )
    staged = F.inline(
        F.array(
            *[
                F.struct(F.lit(i).alias("_stage"), k.alias("name_lc"))
                for i, k in enumerate(keys)
            ]
        )
    )
    cand = todo.select("id", "m_code", staged).join(city_names, "name_lc", "left")

    # per stage, single-country candidate sets resolve to that country either
    # way, so the max-population pick covers both reference branches
    # (etl.py:735-750); population ties break on city_id (deterministic; the
    # reference's stable-sort tie is order-of-load arbitrary).
    wpop = Window.partitionBy("id", "_stage").orderBy(
        F.desc("population"), F.desc("city_id")
    )
    winners = cand.withColumn("_rk", F.row_number().over(wpop)).filter(
        F.col("_rk") == 1
    )
    # the lowest stage whose pick has a country code resolves the town
    first_code = F.min_by(
        "countrycode", F.when(F.col("countrycode").isNotNull(), F.col("_stage"))
    )
    return winners.groupBy("id", "m_code").agg(first_code.alias("city_code"))


def fill_missing_country(
    visitor_project: DataFrame, res: Resources, country: DataFrame
) -> DataFrame:
    """For rows with NULL country and a town: manual map wins, else exact
    lowercase name/alt-name match, else first delimiter split (', ', ' - ',
    '. ') whose prefix matches; ambiguity resolved by single-country check
    then max population (W3). The per-row scan over ~25k cities becomes one
    equi-join against a precomputed name index (``resolve_towns``)."""
    todo = visitor_project.filter(
        F.col("home_institution_country").isNull()
        & F.col("home_institution_town").isNotNull()
        & (F.col("home_institution_town") != "")
    ).select("id", "home_institution_town")

    # manual map on the raw town string wins over every stage (etl.py:714-715)
    manual = res.unmatched_towns.select(
        F.col("town").alias("home_institution_town"),
        F.col("country_code").alias("m_code"),
    )
    todo = todo.join(F.broadcast(manual), "home_institution_town", "left")
    resolved = (
        resolve_towns(todo, res.city_names)
        .select("id", F.coalesce("m_code", "city_code").alias("found_code"))
        .filter(F.col("found_code").isNotNull())
    )

    # code → country id (round-agnostic translate against the Country table)
    resolved = resolved.join(
        F.broadcast(
            country.select(
                F.col("code").alias("found_code"), F.col("id").alias("found_country")
            )
        ),
        "found_code",
        "left",
    ).select("id", "found_country")

    return visitor_project.join(F.broadcast(resolved), "id", "left").withColumn(
        "home_institution_country",
        F.coalesce("home_institution_country", "found_country"),
    ).drop("found_country")


# ---------------------------------------------------------------------------
# Step 15: evaluation-score aggregation (etl.py:772-821) — A3
# ---------------------------------------------------------------------------
#: (column, default total, round-4 total) — etl.py:789-798.
SCORE_DEFINITIONS = [
    ("Methodology_Score", 30, 30),
    ("Research_Excellence_Score", 10, 10),
    ("Support_Stmt_Score", 10, 10),
    ("Justification_Score", 25, 25),
    ("Expected_Gains_Score", 10, 10),
    ("Scientific_Merit_Score", 15, 10),  # lowered in round 4
    ("Societal_Challenge_Score", None, 5),  # round-4 only
]


def aggregate_evaluation_scores(
    visitor_project: DataFrame, scores_src: DataFrame
) -> DataFrame:
    """Per (project, score type): count / mean / mode / sum / sample-stddev
    of score/total, with the reference's semantic traps encoded:

    - ``filter(None, data)`` drops NULL **and 0.00** scores (utils.py:181);
    - mean/mode/sum need ≥1 value, stddev ≥2, count min 0 (utils.py:183-199);
    - a row exists for every (project, type) pair even when count = 0;
    - mode = most frequent, first-encountered in PK order on ties — the
      exact semantics of ``statistics.mode`` over PK-ordered rows.

    The 7 score columns are melted in one projection of the score rows, so
    the VisitorProject lineage is read once by the stats, once by the mode
    and once by the (project, type) grid, not once per score column.
    """
    vp = visitor_project.select(
        F.col("id").alias("visitor_project_id"),
        "synth_round",
        F.col("original_project_id").alias("UserProject_ID"),
    )

    # melt the 7 score columns (F24) with per-round totals
    names = [" ".join(col.split("_")[:-1]) for col, _, _ in SCORE_DEFINITIONS]

    def melt(name: str, col: str, default_total, r4_total):
        total = F.when(F.col("synth_round") == 4, F.lit(r4_total)).otherwise(
            F.lit(default_total)
        )
        return F.struct(
            F.lit(name).alias("name"),
            F.col(col).cast("double").alias("score"),
            total.cast("double").alias("total"),
        )

    melted = scores_src.select(
        "synth_round",
        "UserProject_ID",
        F.col("PK_App_Score_ID").alias("pk"),
        F.inline(F.array(*[melt(n, *d) for n, d in zip(names, SCORE_DEFINITIONS)])),
    )
    vals = vp.join(
        melted.filter(F.col("score").isNotNull() & (F.col("score") != 0)),
        ["synth_round", "UserProject_ID"],
    ).withColumn("norm", F.col("score") / F.col("total"))

    stats = vals.groupBy("visitor_project_id", "name").agg(
        F.count(F.lit(1)).alias("count"),
        F.avg("norm").alias("mean"),
        F.sum("norm").alias("sum"),
        F.stddev_samp("norm").alias("_sd"),
    )
    stats = stats.withColumn(
        "std_dev", F.when(F.col("count") >= 2, F.col("_sd"))
    ).drop("_sd")

    counts = vals.groupBy("visitor_project_id", "name", "norm").agg(
        F.count(F.lit(1)).alias("_c"), F.min("pk").alias("_first_pk")
    )
    wmode = Window.partitionBy("visitor_project_id", "name").orderBy(
        F.desc("_c"), F.asc("_first_pk")
    )
    mode = (
        counts.withColumn("_rk", F.row_number().over(wmode))
        .filter(F.col("_rk") == 1)
        .select("visitor_project_id", "name", F.col("norm").alias("mode"))
    )

    # full grid: every (project, type) row exists, count coalesced to 0
    grid = vp.select(
        "visitor_project_id", F.explode(F.array(*map(F.lit, names))).alias("name")
    )
    return (
        grid.join(stats, ["visitor_project_id", "name"], "left")
        .join(mode, ["visitor_project_id", "name"], "left")
        .withColumn("count", F.coalesce("count", F.lit(0)))
        .select(
            "visitor_project_id", "name", "count", "mean", "mode", "sum", "std_dev"
        )
    )
