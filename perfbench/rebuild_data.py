"""Seeded reference-shaped inputs for the ``rebuild`` workload.

``write_inputs`` writes the nine union-of-rounds source tables and the
supplementary resources as parquet, in the layout ``cli rebuild`` reads
(``sources/<table>.parquet``, ``resources/<name>.parquet`` and
``resources/workbook_<sheet>.parquet``). The shapes follow the pipeline
fixtures (four rounds with disjoint id spaces, one column type per field),
scaled up and drawn from a seed. They keep the dirty-data traps that the
pipeline cleans up rather than rejects: HTML and stray whitespace in names,
call order unlike callID order, duplicate specific disciplines across
rounds, projects in the ``edit`` state or of unknown users, missing output
types, shared and unknown DOIs, missing home countries resolved through
town names (alternate names, "Town, UK" forms, a manual map, an ambiguous
town and an unmatchable one), zero and missing scores. Traps that make the
pipeline raise (one specific discipline under two parents, an institution
in an unknown country) are left out. numpy and pyarrow only: the same seed
gives the same bytes.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROUNDS = (1, 2, 3, 4)
_TS = pa.timestamp("us", tz="UTC")
_DISCIPLINES = ("Botany", "Zoology", "Geology", "Palaeontology", "Mineralogy")
#: specific discipline -> its one parent discipline id
_SPECIFIC = {
    "Mycology": 1, "Palaeobotany": 1, "Bryology": 1, "Entomology": 2,
    "Ornithology": 2, "Ichthyology": 2, "Petrology": 3, "Volcanology": 3,
    "Micropalaeontology": 4, "Crystallography": 5,
}
_COUNTRIES = {
    "BD": "Bangladesh", "DE": "Germany", "ES": "Spain", "FR": "France",
    "GB": "United Kingdom", "IT": "Italy", "NL": "Netherlands", "PK": "Pakistan",
    "RU": "Russia", "US": "United States",
}
#: (name, country, population, alternate names); same-name towns in two
#: countries are resolved by population, Islamabad by the manual map
_CITIES = (
    ("London", "GB", 9_000_000, ()),
    ("Cologne", "DE", 1_000_000, ("Köln", "Koeln")),
    ("Cambridge", "GB", 120_000, ()),
    ("Cambridge", "US", 110_000, ()),
    ("Moscow", "RU", 12_000_000, ("Moskva",)),
    ("Moscow", "US", 25_000, ()),
    ("Islamabad", "PK", 1_000_000, ()),
    ("Islamabad", "BD", 2_000_000, ()),
    ("Paris", "FR", 2_100_000, ()),
    ("Leiden", "NL", 125_000, ()),
)
_TOWNS = (
    "London", "Köln", "Cambridge, UK", "Moscow", "Islamabad", "Nowhereville",
    "Paris", "leiden", "  London ", "Moskva",
)
_INSTITUTIONS = (
    "NHM <i>London</i>", "NHM London", "Junk Inst", "Unknown  Uni", "Some Inst",
    "Museum <b>Leiden</b>", "Inst X", "Sorbonne", "Universidad  de Madrid",
)
_WORDS = (
    "collection specimen type survey fossil herbarium genome morphology "
    "taxonomy imaging sequencing field archive mineral insect study"
).split()
_STATUSES = ("PhD", "PostDoc", "Prof", "Technician", "Curator")
_AGES = ("18-24", "25-34", "35-44", "45-54", "55-64")

#: per-round row counts
N_CALLS = 3
N_USERS = 24
N_PROJECTS = 30
N_OUTPUTS = 20


def _write(path: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), path)


def _i32(values) -> pa.Array:
    return pa.array(values, pa.int32())


def _i64(values) -> pa.Array:
    return pa.array(values, pa.int64())


def _text(rng, p_none: float = 0.3) -> str | None:
    if rng.random() < p_none:
        return None
    return " ".join(rng.choice(_WORDS, int(rng.integers(1, 6))))


def _maybe(rng, value, p_none: float):
    return None if rng.random() < p_none else value


def write_inputs(root: str, seed: int) -> dict[str, int]:
    """Write sources and resources under ``root``; returns rows per table."""
    rng = np.random.default_rng(seed)
    src_dir = os.path.join(root, "sources")
    res_dir = os.path.join(root, "resources")
    os.makedirs(src_dir, exist_ok=True)
    os.makedirs(res_dir, exist_ok=True)
    rows: dict[str, int] = {}

    def source(name: str, cols: dict[str, pa.Array]) -> None:
        _write(os.path.join(src_dir, f"{name}.parquet"), cols)
        rows[name] = len(next(iter(cols.values())))

    def resource(name: str, cols: dict[str, pa.Array]) -> None:
        _write(os.path.join(res_dir, f"{name}.parquet"), cols)
        rows[name] = len(next(iter(cols.values())))

    # -- calls: call ordinal order differs from callID order ---------------
    call = {k: [] for k in ("synth_round", "callID", "call", "dateOpen", "dateClosed")}
    for r in ROUNDS:
        for i, ordinal in enumerate(rng.permutation(N_CALLS) + 1):
            opened = dt.datetime(2002 + 3 * r, 1, 1) + dt.timedelta(days=182 * int(ordinal - 1))
            for k, v in zip(call, (r, r * 100 + i + 1, int(ordinal), opened,
                                   opened + dt.timedelta(days=180))):
                call[k].append(v)
    source("NHM_Call", {
        "synth_round": _i32(call["synth_round"]),
        "callID": _i32(call["callID"]),
        "call": _i32(call["call"]),
        "dateOpen": pa.array(call["dateOpen"], _TS),
        "dateClosed": pa.array(call["dateClosed"], _TS),
    })

    # -- reference vocabularies, repeated per round ----------------------
    def per_round(names, id_col: str, name_col: str) -> dict[str, pa.Array]:
        pairs = [(r, i + 1, n) for r in ROUNDS for i, n in enumerate(names)]
        return {
            "synth_round": _i32([p[0] for p in pairs]),
            id_col: _i32([p[1] for p in pairs]),
            name_col: pa.array([p[2] for p in pairs]),
        }

    source("NHM_Disciplines", per_round(_DISCIPLINES, "DisciplineID", "DisciplineName"))
    source("NHM_OutputTypes", per_round(
        ("Journal", "Thesis", "Book chapter"), "OutputType_ID", "OutputType"))
    source("NHM_PublicationStatus", per_round(
        ("Published", "In Press", "Submitted"), "PublicationStatus_ID", "PublicationStatus"))

    # -- specific disciplines: names recur across rounds, one parent each --
    sd = {k: [] for k in ("synth_round", "SpecificDisciplineID", "SpecificDisciplineName", "DisciplineID")}
    sd_ids: dict[int, list[int]] = {}
    names = sorted(_SPECIFIC)
    for r in ROUNDS:
        picked = rng.choice(len(names), 5, replace=False)
        sd_ids[r] = []
        for j, k in enumerate(sorted(picked)):
            sid = r * 100 + j + 1
            sd_ids[r].append(sid)
            for col, v in zip(sd, (r, sid, names[k], _SPECIFIC[names[k]])):
                sd[col].append(v)
    source("NHM_Specific_Disciplines", {
        "synth_round": _i32(sd["synth_round"]),
        "SpecificDisciplineID": _i32(sd["SpecificDisciplineID"]),
        "SpecificDisciplineName": pa.array(sd["SpecificDisciplineName"]),
        "DisciplineID": _i32(sd["DisciplineID"]),
    })

    # -- users: a missing home country is resolved from the town ----------
    codes = sorted(_COUNTRIES)
    user_cols = (
        "synth_round", "User_ID", "Gender", "Researcher_status",
        "Nationality_Country_code", "Nationality_OtherText", "Discipline1",
        "Discipline2", "Discipline3", "Home_Institution_Type",
        "Home_Institution_Dept", "Home_Institution_Name", "Home_Institution_Town",
        "Home_Institution_Country_code", "Home_Institution_Postcode",
        "Number_of_visits", "Duration_of_stays", "Remote_user",
        "Travel_and_Subsistence_reimbursed", "jobTitle",
    )
    users = {k: [] for k in user_cols}
    user_ids: dict[int, list[int]] = {}
    for r in ROUNDS:
        user_ids[r] = [r * 1000 + i + 1 for i in range(N_USERS)]
        for uid in user_ids[r]:
            values = (
                r, uid, str(rng.choice(("F", "M"))), str(rng.choice(_STATUSES)),
                _maybe(rng, str(rng.choice(codes)), 0.2), _maybe(rng, "dual", 0.9),
                int(rng.integers(1, 6)), _maybe(rng, int(rng.integers(1, 6)), 0.5),
                _maybe(rng, int(rng.integers(1, 6)), 0.8),
                str(rng.choice(("uni", "museum", "institute"))), _text(rng, 0.5),
                str(rng.choice(_INSTITUTIONS)), str(rng.choice(_TOWNS)),
                _maybe(rng, str(rng.choice(codes)), 0.5),
                _maybe(rng, f"N{int(rng.integers(1, 30))}", 0.4),
                int(rng.integers(1, 5)), int(rng.integers(1, 30)),
                str(rng.choice(("yes", "no"))), str(rng.choice(("yes", "no"))),
                str(rng.choice(("Dr", "Prof", "Mr", "Ms"))),
            )
            for k, v in zip(user_cols, values):
                users[k].append(v)
    int_cols = {"synth_round", "User_ID", "Discipline1", "Discipline2", "Discipline3",
                "Number_of_visits", "Duration_of_stays"}
    source("T_List_of_Users", {
        k: _i32(v) if k in int_cols else pa.array(v, pa.string()) for k, v in users.items()
    })

    # -- projects: some in the edit state, some of unknown users ----------
    proj_cols = (
        "synth_round", "UserProject_ID", "User_ID", "UserProject_Title",
        "UserProject_Objectives", "UserProject_Achievements", "UserProject_Summary",
        "UserProject_Background", "UserProject_Reasons", "UserProject_Expectations",
        "UserProject_Outputs", "UserProject_Facility_Reasons", "length_of_visit",
        "start_date", "finish_date", "TAF_ID", "Home_Facilities", "Acceptance",
        "Group_leader", "New_User", "Support_Final", "Previous_Application",
        "Visit_Funded_Previously", "Support_Requested", "TAF_Host_Contacted",
        "Application_State", "Administration_State", "Training_Requirement",
        "Supporter_Institution", "Group_Members", "Group_Leader_Institution",
        "Submission_Date", "Project_Discipline", "Project_Specific_Discipline",
        "Call_Submitted",
    )
    projects = {k: [] for k in proj_cols}
    project_ids: dict[int, list[int]] = {}
    for r in ROUNDS:
        project_ids[r] = [r * 1000 + 500 + i + 1 for i in range(N_PROJECTS)]
        for pid in project_ids[r]:
            uid = 9999 if rng.random() < 0.07 else int(rng.choice(user_ids[r]))
            length = int(rng.integers(2, 30))
            start = _maybe(rng, dt.datetime(2002 + 3 * r, 1, 1)
                           + dt.timedelta(days=int(rng.integers(0, 700))), 0.3)
            finish = None if start is None else start + dt.timedelta(days=length)
            submitted = _maybe(rng, (dt.datetime(2002 + 3 * r, 1, 1)
                                     + dt.timedelta(seconds=int(rng.integers(0, 6e7)))), 0.3)
            zone = str(rng.choice(("GMT", "BST")))
            values = (
                r, pid, uid, f"P{pid}", _text(rng), _text(rng), _text(rng), _text(rng),
                _text(rng), _text(rng), _text(rng), _text(rng), length, start, finish,
                int(rng.integers(1, 50)), int(rng.integers(0, 2)),
                _maybe(rng, str(rng.choice(("yes", "no"))), 0.4), int(rng.integers(0, 2)),
                int(rng.integers(0, 2)), int(rng.integers(0, 2)), int(rng.integers(0, 2)),
                _maybe(rng, str(rng.choice(("yes", "no"))), 0.4), int(rng.integers(0, 2)),
                int(rng.integers(0, 2)),
                "edit" if rng.random() < 0.1 else "submitted",
                _maybe(rng, "done", 0.6), None,
                _maybe(rng, str(rng.choice(_INSTITUTIONS)), 0.5), None,
                _maybe(rng, str(rng.choice(_INSTITUTIONS)), 0.5),
                "" if submitted is None else submitted.strftime(f"%a %b %d %H:%M:%S {zone} %Y"),
                int(rng.integers(1, 6)), _maybe(rng, int(rng.choice(sd_ids[r])), 0.4),
                str(int(rng.integers(1, N_CALLS + 1))),
            )
            for k, v in zip(proj_cols, values):
                projects[k].append(v)
    proj_types = {
        "length_of_visit": pa.int32(), "start_date": _TS, "finish_date": _TS,
        "TAF_ID": pa.int32(), "Home_Facilities": pa.int32(), "Group_leader": pa.int32(),
        "New_User": pa.int32(), "Support_Final": pa.int32(),
        "Previous_Application": pa.int32(), "Support_Requested": pa.int32(),
        "TAF_Host_Contacted": pa.int32(), "Project_Discipline": pa.int32(),
        "Project_Specific_Discipline": pa.int32(), "synth_round": pa.int32(),
        "UserProject_ID": pa.int32(), "User_ID": pa.int32(),
    }
    source("T_List_of_UserProjects", {
        k: pa.array(v, proj_types.get(k, pa.string())) for k, v in projects.items()
    })

    # -- outputs: dirty authors and titles, missing types, year typos -----
    out_cols = (
        "synth_round", "Output_ID", "User_ID", "OutputType_ID", "Authors", "Year",
        "Title", "Publisher", "URL", "Volume", "Pages", "Conference", "Degree",
        "PublicationStatus_ID",
    )
    outputs = {k: [] for k in out_cols}
    output_keys: list[tuple[int, int]] = []
    for r in ROUNDS:
        for i in range(N_OUTPUTS):
            oid = r * 100 + i + 1
            output_keys.append((r, oid))
            year = str(2002 + 3 * r + int(rng.integers(0, 4)))
            values = (
                r, oid, int(rng.choice(user_ids[r])), int(rng.choice((1, 2, 3, 99))),
                _maybe(rng, f"<i>{rng.choice(_WORDS).title()}, A.</i> and  "
                            f"{rng.choice(_WORDS).title()},\r\nB.", 0.2),
                _maybe(rng, year + ("8" if rng.random() < 0.1 else ""), 0.2),
                _maybe(rng, f"  A <b>{_text(rng, 0.0)}</b>.", 0.1),
                _maybe(rng, "OldPub", 0.6),
                _maybe(rng, f"http://x.test/10.1234/abc.{i}", 0.7),
                _maybe(rng, str(int(rng.integers(1, 60))), 0.6),
                _maybe(rng, f"{int(rng.integers(1, 50))}-{int(rng.integers(50, 99))}", 0.6),
                None, None, _maybe(rng, int(rng.integers(1, 4)), 0.2),
            )
            for k, v in zip(out_cols, values):
                outputs[k].append(v)
    out_ints = {"synth_round", "Output_ID", "User_ID", "OutputType_ID", "PublicationStatus_ID"}
    source("NHM_Outputs", {
        k: _i32(v) if k in out_ints else pa.array(v, pa.string()) for k, v in outputs.items()
    })

    # -- scores: several scorers per project, zeros and gaps --------------
    score_names = (
        "Methodology_Score", "Research_Excellence_Score", "Support_Stmt_Score",
        "Justification_Score", "Expected_Gains_Score", "Scientific_Merit_Score",
    )
    scores = {k: [] for k in ("synth_round", "PK_App_Score_ID", "UserProject_ID",
                              "TAF_Scorer_ID", *score_names, "Societal_Challenge_Score",
                              "Scored_Flag", "USP_Comment")}
    pk = 0
    for r in ROUNDS:
        for pid in project_ids[r]:
            for scorer in range(int(rng.integers(0, 5))):
                pk += 1
                marks = [float(rng.integers(1, 30)) for _ in score_names]
                if rng.random() < 0.1:
                    marks[0] = 0.0
                if rng.random() < 0.1:
                    marks[1] = None
                values = (r, pk, pid, scorer + 1, *marks,
                          float(rng.integers(1, 6)) if r == 4 else None, 1, None)
                for k, v in zip(scores, values):
                    scores[k].append(v)
    source("NHM_Application_Scores", {
        k: (_i32(v) if k in ("synth_round", "PK_App_Score_ID", "UserProject_ID",
                             "TAF_Scorer_ID", "Scored_Flag")
            else pa.array(v, pa.string() if k == "USP_Comment" else pa.float64()))
        for k, v in scores.items()
    })

    # -- resources ----------------------------------------------------------
    # one person may hold user ids in several rounds: the first users of
    # every round share a GUID
    guid_rows = []
    for r in ROUNDS:
        for i, uid in enumerate(user_ids[r]):
            guid = -636396585 if i == 0 else (70000 + i if i < 8 else 80000 + uid)
            guid_rows.append((guid, r, uid))
    resource("user_ids", {
        "guid": _i64([g for g, _, _ in guid_rows]),
        "synth_round": _i32([r for _, r, _ in guid_rows]),
        "user_id": _i64([u for _, _, u in guid_rows]),
    })
    guids = sorted({g for g, _, _ in guid_rows})
    has_round = {(g, r) for g, r, _ in guid_rows}
    ages = [(g, r, str(rng.choice(_AGES)) if (g, r) in has_round else None)
            for g in guids for r in ROUNDS]
    resource("user_ages", {
        "guid": _i64([a[0] for a in ages]),
        "synth_round": _i32([a[1] for a in ages]),
        "age_range": pa.array([a[2] for a in ages], pa.string()),
    })
    resource("master_clean", {
        "dirty": pa.array(["NHM London", "Junk Inst", "Museum Leiden", "Sorbonne"]),
        "clean": pa.array(["Natural History Museum", "nil", "Naturalis", "Sorbonne University"]),
    })
    resource("unmatched_towns", {
        "town": pa.array(["Islamabad"]), "country_code": pa.array(["PK"]),
    })
    # DOIs: every third output has one; two outputs share each; one key
    # names no output
    doi_rows = [(r, oid, f"10.{1000 + k // 2}/ABC.{k // 2}")
                for k, (r, oid) in enumerate(output_keys[::3])]
    doi_rows.append((3, 999, "10.9999/NOPE"))
    resource("output_dois", {
        "synth_round": _i32([d[0] for d in doi_rows]),
        "output_id": _i32([d[1] for d in doi_rows]),
        "doi": pa.array([d[2] for d in doi_rows]),
    })
    dois = sorted({d[2] for d in doi_rows})[::2]  # metadata for half of them
    author = pa.struct([("given", pa.string()), ("family", pa.string())])
    resource("doi_metadata", {
        "doi": pa.array(dois),
        "m_author": pa.array(
            [[{"given": "Jane", "family": "Smith"}, {"given": None, "family": "Solo"}]
             for _ in dois], pa.list_(author)),
        "m_title": pa.array([[f"The <b>Real</b>  Title {k}"] for k in range(len(dois))],
                            pa.list_(pa.string())),
        "m_created": pa.array([f"20{5 + k % 10:02d}-03-01T00:00:00Z" for k in range(len(dois))]),
        "m_publisher": pa.array(["RealPub"] * len(dois)),
        "m_url": pa.array([f"https://doi.org/{d.lower()}" for d in dois]),
        "m_volume": pa.array([str(40 + k) for k in range(len(dois))]),
        "m_page": pa.array(["100-110"] * len(dois)),
    })
    # the exploded lower-case name index that pipeline.resources.city_name_index
    # builds from a gazetteer
    index = sorted(
        (name.lower(), cid + 1, cc, pop)
        for cid, (name0, cc, pop, alts) in enumerate(_CITIES)
        for name in {name0, *alts}
    )
    resource("city_names", {
        "city_id": _i64([c[1] for c in index]),
        "countrycode": pa.array([c[2] for c in index]),
        "population": _i64([c[3] for c in index]),
        "name_lc": pa.array([c[0] for c in index]),
    })
    resource("countries", {
        "code": pa.array(codes), "name": pa.array([_COUNTRIES[c] for c in codes]),
    })

    # -- the access-request workbook, one sheet per table -------------------
    resource("workbook_Category", {
        "Category_ID": _i64([1, 2, 3]),
        "CategoryName": pa.array(["Collections", "Labs", "Imaging"]),
        "HigherCategoryName": pa.array(["Science", "Science", "Digital"]),
    })
    inst_codes = ["GB", "DE", "NL", "FR", "ES"]
    resource("workbook_Institution", {
        "Institution_ID": _i64(range(1, 6)),
        "InstitutionAcronym": pa.array(["NHM", "MfN", "NBC", "MNHN", "MNCN"]),
        "InstitutionName": pa.array([f"Institution {c}" for c in inst_codes]),
        "CountryCode": pa.array(inst_codes),
    })
    n_fac = 8
    resource("workbook_InstallationFacility", {
        "InstallationFacility_ID": _i64(range(1, n_fac + 1)),
        "InstallationCode": pa.array([f"{inst_codes[k % 5]}-{k}" for k in range(n_fac)]),
        "InstallationFacilityDescription": pa.array([f"facility {k}" for k in range(n_fac)]),
        "Category_ID": _i64([k % 3 + 1 for k in range(n_fac)]),
        "Institution_ID": _i64([k % 5 + 1 for k in range(n_fac)]),
    })
    # requests name kept, dropped and several-times-requested projects
    reqs = [(r, int(rng.choice(project_ids[r]))) for r in ROUNDS for _ in range(12)]
    resource("workbook_AccessRequest", {
        "AccessRequest_ID": _i64(range(1, len(reqs) + 1)),
        "UserProject_ID": _i64([p for _, p in reqs]),
        "SynthRound": _i64([r for r, _ in reqs]),
        "InstallationFacility_ID": _i64(rng.integers(1, n_fac + 1, len(reqs))),
        "DaysRequested": _i64(rng.integers(1, 15, len(reqs))),
        "RequestDetail": pa.array([f"visit {k}" for k in range(len(reqs))]),
    })
    return rows
