"""Reference-shaped fixtures (FIXTURES.md family A) with every dirty-data
trap the reference's semantics depend on (SURVEY.md §5.2.4)."""

from __future__ import annotations

import datetime as dt
import json
import os

from synth_transform_spark.pipeline.resources import (
    load_json_map,
    load_users,
    load_workbook,
)
from synth_transform_spark.pipeline.steps import Resources

D = dt.datetime


def _df(spark, schema, rows):
    return spark.createDataFrame(rows, schema)


def source_rows(parent_mismatch: bool = False) -> dict[str, tuple[str, list]]:
    """Union-of-rounds source tables (disjoint id spaces: round*100+i), as
    {name: (DDL schema, rows)}."""
    calls = (
        "synth_round int, callID int, call int, dateOpen timestamp, dateClosed timestamp",
        [
            (1, 101, 1, D(2004, 1, 1), D(2004, 6, 30)),
            (1, 102, 2, D(2004, 7, 1), D(2004, 12, 31)),
            # round 2: call order ≠ callID order (FIXTURES trap)
            (2, 202, 1, D(2005, 1, 1), D(2005, 6, 30)),
            (2, 201, 2, D(2005, 7, 1), D(2005, 12, 31)),
            (2, 203, 3, D(2006, 1, 1), D(2006, 6, 30)),
            (3, 301, 1, D(2009, 1, 1), D(2009, 6, 30)),
            (3, 302, 2, D(2009, 7, 1), D(2009, 12, 31)),
            (4, 401, 1, D(2013, 1, 1), D(2013, 6, 30)),
            (4, 402, 2, D(2013, 7, 1), D(2013, 12, 31)),
        ],
    )
    disciplines = (
        "synth_round int, DisciplineID int, DisciplineName string",
        [
            (r, i, n)
            for r in (1, 2, 3, 4)
            for i, n in [(1, "Botany"), (2, "Zoology"), (3, "Geology")]
        ],
    )
    sd_rows = [
        (4, 401, "Mycology", 1),
        (4, 402, "Entomology", 2),
        (2, 201, "Mycology", 1),  # dedups into round-4 Mycology
        (1, 101, "Palaeobotany", 3),
    ]
    if parent_mismatch:
        sd_rows.append((2, 202, "Entomology", 3))  # same name, different parent
    specific_disciplines = (
        "synth_round int, SpecificDisciplineID int, SpecificDisciplineName string, DisciplineID int",
        sd_rows,
    )
    output_types = (
        "synth_round int, OutputType_ID int, OutputType string",
        [(r, i, n) for r in (1, 2, 3, 4) for i, n in [(1, "Journal"), (2, "Thesis")]],
    )
    pub_statuses = (
        "synth_round int, PublicationStatus_ID int, PublicationStatus string",
        [(r, i, n) for r in (1, 2, 3, 4) for i, n in [(1, "Published"), (2, "In Press")]],
    )
    outputs = (
        "synth_round int, Output_ID int, User_ID int, OutputType_ID int, "
        "Authors string, Year string, Title string, Publisher string, URL string, "
        "Volume string, Pages string, Conference string, Degree string, "
        "PublicationStatus_ID int",
        [
            # dirty authors/title; has cached DOI + metadata (enriched)
            (1, 101, 1001, 1, "<i>Smith, J.</i> and  Jones,\r\nK.", "2004",
             "A  study of <b>things</b>.", "OldPub", "http://x.test/10.1234/abc.1",
             None, "10-20", None, None, 1),
            # no DOI; year typo preserved as int cast (unidentified.ipynb trap)
            (1, 102, 1002, 2, "Brown, A.", "19998", "Another study", None, None,
             None, None, None, None, 2),
            # missing OutputType (→ NULL type, etl.py:361); DOI cached but
            # shared with output 101 (duplicates.ipynb trap)
            (2, 201, 2001, 99, "Lee, C.", None, "Shared doi paper", None, None,
             "doi:10.1234/abc.1", None, None, None, 1),
            # DOI cached but no metadata → cleaned only
            (3, 301, 3001, 1, "", "2009", "  <p>Clean me</p> ", None, None,
             "10.5555/xyz.2", None, None, None, None),
            (4, 401, 4001, 1, None, None, None, None, None, None, None, None, None, 1),
        ],
    )
    users = (
        "synth_round int, User_ID int, Gender string, Researcher_status string, "
        "Nationality_Country_code string, Nationality_OtherText string, "
        "Discipline1 int, Discipline2 int, Discipline3 int, "
        "Home_Institution_Type string, Home_Institution_Dept string, "
        "Home_Institution_Name string, Home_Institution_Town string, "
        "Home_Institution_Country_code string, Home_Institution_Postcode string, "
        "Number_of_visits int, Duration_of_stays int, Remote_user string, "
        "Travel_and_Subsistence_reimbursed string, jobTitle string",
        [
            # country NULL + town exact-match (→ GB via cities)
            (1, 1001, "F", "PhD", "DE", None, 1, None, None, "uni", "botany",
             "NHM <i>London</i>", "London", None, "N1", 2, 10, "no", "yes", "Dr"),
            # country set (no enrichment), name hits master_clean 'nil'
            (1, 1002, "M", "Prof", "GB", None, 2, 3, None, "uni", "zoo",
             "Junk Inst", "London", "GB", "N2", 1, 5, "no", "no", "Prof"),
            # country NULL + altname match (Köln → Cologne/DE)
            (2, 2001, "F", "PostDoc", None, None, 1, None, None, "museum", None,
             "Unknown  Uni", "Köln", None, None, 3, 12, "yes", "no", "Dr"),
            # country NULL + split form "Cambridge, UK"
            (3, 3001, "M", "PhD", "FR", None, 3, None, None, "uni", None,
             "Some Inst", "Cambridge, UK", None, None, 1, 3, "no", "yes", "Mr"),
            # country NULL + ambiguous Moscow (max population → RU)
            (4, 4001, "F", "Prof", "RU", None, 1, 2, 3, "uni", None,
             "Another Inst", "Moscow", None, None, 2, 8, "no", "no", "Prof"),
            # country NULL + manual-map-only Islamabad (→ PK despite BD pop)
            (4, 4002, "M", "PhD", "PK", None, 2, None, None, "uni", None,
             "Inst Pk", "Islamabad", None, None, 1, 4, "no", "no", "Dr"),
            # country NULL + unmatchable town (stays NULL)
            (4, 4003, "F", "PhD", None, None, 1, None, None, "uni", None,
             "Inst X", "Nowhereville", None, None, 1, 2, "no", "no", "Ms"),
        ],
    )
    projects = (
        "synth_round int, UserProject_ID int, User_ID int, UserProject_Title string, "
        "UserProject_Objectives string, UserProject_Achievements string, "
        "UserProject_Summary string, UserProject_Background string, "
        "UserProject_Reasons string, UserProject_Expectations string, "
        "UserProject_Outputs string, UserProject_Facility_Reasons string, "
        "length_of_visit int, start_date timestamp, finish_date timestamp, "
        "TAF_ID int, Home_Facilities int, Acceptance string, Group_leader int, "
        "New_User int, Support_Final int, Previous_Application int, "
        "Visit_Funded_Previously string, Support_Requested int, TAF_Host_Contacted int, "
        "Application_State string, Administration_State string, "
        "Training_Requirement string, Supporter_Institution string, "
        "Group_Members string, Group_Leader_Institution string, "
        "Submission_Date string, Project_Discipline int, "
        "Project_Specific_Discipline int, Call_Submitted string",
        [
            # kept: round 1, call ordinal 2, GMT date, sd 101→Palaeobotany
            (1, 110, 1001, "P1", "obj", "ach", "sum", "bg", "rsn", "exp", "out",
             "fac", 10, D(2004, 8, 1), D(2004, 8, 11), 11, 1, "yes", 0, 1, 1, 0,
             "no", 1, 1, "submitted", "done", None, "NHM <i>London</i>", None,
             "Unknown  Uni", "Tue Mar 03 14:21:05 GMT 2009", 1, 101, "2"),
            # dropped: 'edit' state (etl.py:465-466)
            (1, 111, 1002, "P-edit", None, None, None, None, None, None, None,
             None, 5, None, None, 12, 0, None, 0, 0, 0, 0, None, 0, 0,
             "edit", None, None, None, None, None, "", 1, None, "1"),
            # kept: round 1, user 1002
            (1, 112, 1002, "P2", None, None, None, None, None, None, None, None,
             7, D(2004, 9, 1), D(2004, 9, 8), 13, 0, "no", 1, 0, 0, 1, "yes",
             1, 0, "submitted", None, None, "Junk Inst", None, None,
             "Mon Jun 01 12:00:00 BST 2009", 2, None, "1"),
            # dropped: user 9999 not in users.csv (etl.py:476-481)
            (2, 210, 9999, "P-ghost", None, None, None, None, None, None, None,
             None, 3, None, None, 21, 0, None, 0, 0, 0, 0, None, 0, 0,
             "submitted", None, None, None, None, None, "", 1, None, "1"),
            # kept: round 2, call ordinal 3 → callID 203's new id; sd 201→Mycology(id dedup)
            (2, 211, 2001, "P3", None, None, None, None, None, None, None, None,
             14, D(2006, 2, 1), D(2006, 2, 15), 22, 1, "yes", 0, 1, 1, 1, "no",
             1, 1, "submitted", None, None, None, None, None, "", 2, 201, "3"),
            # kept: round 3
            (3, 310, 3001, "P4", None, None, None, None, None, None, None, None,
             5, None, None, 31, 0, None, 0, 0, 0, 0, None, 0, 0,
             "submitted", None, None, None, None, None, "", 3, None, "1"),
            # kept: round 4 ×3 (scores traps live here)
            (4, 410, 4001, "P5", None, None, None, None, None, None, None, None,
             9, None, None, 41, 1, "yes", 1, 1, 1, 0, "no", 1, 1,
             "submitted", None, None, None, None, None, "", 1, 401, "1"),
            (4, 411, 4002, "P6", None, None, None, None, None, None, None, None,
             4, None, None, 42, 0, None, 0, 0, 0, 0, None, 0, 0,
             "submitted", None, None, None, None, None, "", 2, 402, "2"),
            (4, 412, 4003, "P7", None, None, None, None, None, None, None, None,
             6, None, None, 43, 0, None, 0, 0, 0, 0, None, 0, 0,
             "submitted", None, None, None, None, None, "", 1, None, "1"),
        ],
    )
    scores = (
        "synth_round int, PK_App_Score_ID int, UserProject_ID int, TAF_Scorer_ID int, "
        "Methodology_Score double, Research_Excellence_Score double, "
        "Support_Stmt_Score double, Justification_Score double, "
        "Expected_Gains_Score double, Scientific_Merit_Score double, "
        "Societal_Challenge_Score double, Scored_Flag int, USP_Comment string",
        [
            # project 110 (round 1): two scorers; one 0.00 methodology (dropped
            # by falsy filter) and one NULL research score
            (1, 1, 110, 1, 15.0, 8.0, 9.0, 20.0, 7.0, 12.0, None, 1, None),
            (1, 2, 110, 2, 0.0, None, 7.0, 15.0, 9.0, 9.0, None, 1, None),
            # project 112 (round 1): single scorer → stddev NULL
            (1, 3, 112, 1, 24.0, 6.0, 8.0, 10.0, 5.0, 15.0, None, 1, None),
            # project 211 (round 2): multimodal support scores (7,7,9,9) →
            # mode = first-encountered most-common in PK order = 7
            (2, 4, 211, 1, 20.0, 7.0, 7.0, 12.0, 6.0, 10.0, None, 1, None),
            (2, 5, 211, 2, 21.0, 8.0, 7.0, 13.0, 7.0, 11.0, None, 1, None),
            (2, 6, 211, 3, 22.0, 9.0, 9.0, 14.0, 8.0, 12.0, None, 1, None),
            (2, 7, 211, 4, 23.0, 6.0, 9.0, 15.0, 9.0, 13.0, None, 1, None),
            # project 410 (round 4): Societal Challenge /5, Scientific Merit /10
            (4, 8, 410, 1, 27.0, 9.0, 8.0, 22.0, 8.0, 8.0, 4.0, 1, None),
            (4, 9, 410, 2, 24.0, 7.0, 9.0, 20.0, 9.0, 9.0, 5.0, 1, None),
            # project 310 and 411/412: no scores at all → count 0 rows
        ],
    )
    return {
        "NHM_Call": calls,
        "NHM_Disciplines": disciplines,
        "NHM_Specific_Disciplines": specific_disciplines,
        "NHM_OutputTypes": output_types,
        "NHM_PublicationStatus": pub_statuses,
        "NHM_Outputs": outputs,
        "T_List_of_Users": users,
        "T_List_of_UserProjects": projects,
        "NHM_Application_Scores": scores,
    }


def build_sources(spark, parent_mismatch: bool = False):
    """``source_rows`` as DataFrames."""
    return {
        name: _df(spark, schema, rows)
        for name, (schema, rows) in source_rows(parent_mismatch).items()
    }


USERS_CSV = """GUID,synth1,synth3,synth4,synth2,"synth round 1 age","synth round 2 age","synth round 3 age","synth round 4 age"
-636396585,"1001,1002",,,,25-34,,,
77001,,3001,,2001,,25-34,35-44,
88001,,,"4001,4002",,,,,45-54
99001,,,4003,,,,,25-34
"""


MASTER_CLEAN = {"NHM London": "Natural History Museum", "Junk Inst": "nil"}
UNMATCHED_TOWNS = {"Islamabad": "PK"}


def resource_rows() -> dict[str, tuple[str, list]]:
    """The resource tables that are plain rows, as {field: (DDL schema,
    rows)}; the two JSON maps as ``load_json_map`` reads them."""
    return {
        "master_clean": ("dirty string, clean string", list(MASTER_CLEAN.items())),
        "unmatched_towns": ("town string, country_code string", list(UNMATCHED_TOWNS.items())),
        "output_dois": (
            "synth_round int, output_id int, doi string",
            [
                (1, 101, "10.1234/ABC.1"),
                (2, 201, "10.1234/ABC.1"),  # shared DOI (duplicates trap)
                (3, 301, "10.5555/XYZ.2"),  # cached DOI without metadata
                (3, 999, "10.9999/NOPE"),  # key not present in outputs → skipped
            ],
        ),
        "doi_metadata": (
            "doi string, m_author array<struct<given:string,family:string>>, "
            "m_title array<string>, m_created string, m_publisher string, "
            "m_url string, m_volume string, m_page string",
            [
                (
                    "10.1234/ABC.1",
                    [
                        {"given": "Jane", "family": "Smith"},
                        {"given": None, "family": "Solo"},  # skipped (missing given)
                    ],
                    ["The <b>Real</b>  Title"],
                    "2005-03-01T00:00:00Z",
                    "RealPub",
                    "https://doi.org/10.1234/abc.1",
                    "42",
                    "100-110",
                ),
            ],
        ),
        "countries": (
            "code string, name string",
            [
                ("BD", "Bangladesh"),
                ("DE", "Germany"),
                ("FR", "France"),
                ("GB", "United Kingdom"),
                ("PK", "Pakistan"),
                ("RU", "Russia"),
                ("US", "United States"),
            ],
        ),
    }


def build_resources(spark, tmpdir, duplicate_guid: bool = False) -> Resources:
    os.makedirs(tmpdir, exist_ok=True)
    users_path = os.path.join(tmpdir, "users.csv")
    csv = USERS_CSV
    if duplicate_guid:
        csv += "77001,,,,,\n"
    with open(users_path, "w") as f:
        f.write(csv)
    user_ids, user_ages = load_users(spark, users_path)

    mc_path = os.path.join(tmpdir, "master_clean.json")
    with open(mc_path, "w") as f:
        json.dump(MASTER_CLEAN, f)
    master_clean = load_json_map(spark, mc_path, "dirty", "clean")

    ut_path = os.path.join(tmpdir, "unmatched_home_institutions.json")
    with open(ut_path, "w") as f:
        json.dump(UNMATCHED_TOWNS, f)
    unmatched = load_json_map(spark, ut_path, "town", "country_code")

    wb_dir = os.path.join(tmpdir, "access_request_rebuild")
    os.makedirs(wb_dir, exist_ok=True)
    with open(os.path.join(wb_dir, "Category.csv"), "w") as f:
        f.write("Category_ID,CategoryName,HigherCategoryName\n")
        f.write("1,Collections,Science\n2,Labs,Science\n")
    with open(os.path.join(wb_dir, "Institution.csv"), "w") as f:
        f.write("Institution_ID,InstitutionAcronym,InstitutionName,CountryCode\n")
        f.write("1,NHM,Natural History Museum,GB\n2,MfN,Museum fur Naturkunde,DE\n")
    with open(os.path.join(wb_dir, "InstallationFacility.csv"), "w") as f:
        f.write(
            "InstallationFacility_ID,InstallationCode,InstallationFacilityDescription,Category_ID,Institution_ID\n"
        )
        f.write("1,GB-C,Collections access,1,1\n2,DE-L,Lab access,2,2\n")
    with open(os.path.join(wb_dir, "AccessRequest.csv"), "w") as f:
        f.write(
            "AccessRequest_ID,UserProject_ID,SynthRound,InstallationFacility_ID,DaysRequested,RequestDetail\n"
        )
        # project 110 (round 1): two requests → multi_access_flag TRUE
        f.write("1,110,1,1,5,visit a\n")
        f.write("2,110,1,2,3,visit b\n")
        # project 211 (round 2): one request → flag FALSE
        f.write("3,211,2,1,7,visit c\n")
        # dropped project 210 → NULL visitor_project_id
        f.write("4,210,2,2,2,ghost\n")
    workbook = load_workbook(spark, wb_dir)
    rows = resource_rows()

    cities = spark.createDataFrame(
        [
            ("London", "GB", 9000000, []),
            ("Cologne", "DE", 1000000, ["Köln", "Koeln"]),
            ("Cambridge", "GB", 120000, []),
            ("Cambridge", "US", 110000, []),  # same-name, lower pop → GB wins
            ("Moscow", "RU", 12000000, ["Moskva"]),
            ("Moscow", "US", 25000, []),
            ("Islamabad", "PK", 1000000, []),
            ("Islamabad", "BD", 2000000, []),  # the reference's famous trap
        ],
        "name string, countrycode string, population long, alternatenames array<string>",
    )
    from synth_transform_spark.pipeline.resources import city_name_index

    return Resources(
        user_ids=user_ids,
        user_ages=user_ages,
        master_clean=master_clean,
        unmatched_towns=unmatched,
        workbook=workbook,
        output_dois=_df(spark, *rows["output_dois"]),
        doi_metadata=_df(spark, *rows["doi_metadata"]),
        city_names=city_name_index(cities),
        countries=_df(spark, *rows["countries"]),
    )
