"""Workload definitions: what each workload runs, over which inputs.

The query workloads read the star-schema tables ``datagen.write_tables``
writes at ``DATA_SCALE`` (0.001: the row counts of the sf0.001 test tables)
from the fixed ``DATA_SEED``. The ``rebuild`` workload reads the
reference-shaped sources and resources ``rebuild_data.write_inputs`` writes
from the same seed. ``--seed`` sets the order of every pass: the query order,
or the order in which ``rebuild`` writes its tables. Fixed data keeps each
unit's plan, job count and output digest the same for every seed, so
run-to-run spread is host noise, not input variation.
"""

from __future__ import annotations

from dataclasses import dataclass

DATA_SEED = 20240101
DATA_SCALE = 0.001


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    #: registry queries, or for ``rebuild`` the tables written and dumped
    queries: tuple[str, ...]
    #: timed passes per run: a fresh JVM keeps getting faster for several
    #: passes, so every run times the same number
    passes: int
    #: ``queries``: run registry queries; ``rebuild``: the ETL of ``cli rebuild``
    #: and ``cli dump``
    kind: str = "queries"


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "queries",
            "five short scan/join/aggregate queries and BPE training: moves with "
            "read-path, plan-build and BPE-loop changes, not with the pipeline",
            (
                "q01_pricing_summary",
                "q12_surrogate_ids",
                "q21_tumbling_window",
                "q49_asof_join",
                "q180_record_linkage",
                "q186_bpe_merges",
            ),
            passes=6,
        ),
        Workload(
            "rebuild",
            "the ETL: pipeline.rebuild() over seeded sources, five tables written "
            "and read back, then the SQL dump: moves with plan-size and write changes",
            ("Call", "SpecificDiscipline", "Output", "Institution", "AccessRequest"),
            passes=1,
            kind="rebuild",
        ),
    )
}
