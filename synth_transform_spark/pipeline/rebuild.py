"""`synth rebuild` orchestration (reference: /root/reference/synth/etl.py:25-58).

The reference runs 17 hand-ordered steps, each in its own transaction; the
ordering encodes the mapping-dependency chain (etl.py:37-56 comment). Here
the same order builds a dict of target DataFrames; Catalyst fuses each
table's lineage into one job at write/collect time, and the per-step commit
becomes a per-table atomic write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from . import steps
from .context import PipelineContext
from .steps import Resources

#: FK-topological table order — mirrors metadata.sorted_tables for the dump
#: (etl.py:133).
TABLE_ORDER = (
    "Round",
    "Call",
    "Country",
    "Discipline",
    "SpecificDiscipline",
    "Output",
    "Category",
    "Institution",
    "InstallationFacility",
    "VisitorProject",
    "AccessRequest",
    "EvaluationScore",
)


def rebuild(
    sources: dict[str, DataFrame], res: Resources
) -> tuple[dict[str, DataFrame], PipelineContext]:
    """Run the full pipeline.

    ``sources``: union-of-rounds source tables, each with a ``synth_round``
    column — keys: NHM_Call, NHM_Disciplines, NHM_Specific_Disciplines,
    NHM_OutputTypes, NHM_PublicationStatus, NHM_Outputs, T_List_of_Users,
    T_List_of_UserProjects, NHM_Application_Scores.

    Returns ({table: DataFrame}, context-with-mappings); the
    ``vw_project_access_requests`` view is included under its own key.
    """
    ctx = PipelineContext()
    t: dict[str, DataFrame] = {}

    t["Round"] = steps.fill_round(sources["NHM_Call"])
    t["Call"] = steps.fill_call(ctx, sources["NHM_Call"])
    t["Country"] = steps.fill_country(ctx, res.countries)
    t["Discipline"] = steps.fill_discipline(ctx, sources["NHM_Disciplines"])
    t["SpecificDiscipline"] = steps.fill_specific_discipline(
        ctx, sources["NHM_Specific_Disciplines"]
    )
    t["Output"] = steps.fill_output(
        ctx,
        sources["NHM_Outputs"],
        sources["NHM_OutputTypes"],
        sources["NHM_PublicationStatus"],
    )
    t["Output"] = steps.clean_outputs(
        ctx, t["Output"], res.output_dois, res.doi_metadata
    )
    vp = steps.fill_visitor_project(
        ctx,
        sources["T_List_of_UserProjects"],
        sources["T_List_of_Users"],
        t["Call"],
        res,
    )
    t["Category"] = steps.fill_category(res.workbook["Category"])
    t["Institution"] = steps.fill_institution(
        res.workbook["Institution"], t["Country"]
    )
    t["InstallationFacility"] = steps.fill_installation_facility(
        res.workbook["InstallationFacility"]
    )
    t["AccessRequest"] = steps.fill_access_request(ctx, res.workbook["AccessRequest"])
    t["vw_project_access_requests"] = steps.project_access_requests_view(
        t["AccessRequest"], vp
    )
    # scores read only the project keys, which the country fill leaves
    # alone, so they join the lineage from before it
    t["EvaluationScore"] = steps.aggregate_evaluation_scores(
        vp, sources["NHM_Application_Scores"]
    )
    vp = steps.fill_missing_country(vp, res, t["Country"])
    t["VisitorProject"] = vp.drop("synth_round")
    return t, ctx
