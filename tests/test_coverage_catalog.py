"""COVERAGE.md per-query catalog must equal the registry-generated one
(round-8 verdict #6 — the headroom-ledger sync trick applied to the
coverage catalog). Static analysis only, no Spark session."""

from __future__ import annotations

import pathlib
import re

import synth_transform_spark.plans  # noqa: F401  (registers everything)
from synth_transform_spark.plans.catalog import END, START, render_section
from synth_transform_spark.plans.registry import REGISTRY

ROOT = pathlib.Path(__file__).resolve().parents[1]


def test_coverage_catalog_matches_registry():
    text = (ROOT / "COVERAGE.md").read_text()
    m = re.search(re.escape(START) + r".*?" + re.escape(END), text, re.S)
    assert m, "COVERAGE.md is missing the generated query-catalog section"
    want = render_section(REGISTRY, ROOT / "tests")
    assert m.group(0) == want, (
        "COVERAGE.md catalog drifted from the registry — regenerate with "
        "`python -m synth_transform_spark.plans.catalog`"
    )


def test_catalog_covers_every_query_once():
    text = (ROOT / "COVERAGE.md").read_text()
    m = re.search(re.escape(START) + r".*?" + re.escape(END), text, re.S)
    names = re.findall(r"^- `(q[0-9a-z_]+)`", m.group(0), re.M)
    assert sorted(names) == sorted(REGISTRY)


def _statements(nodes):
    """Every statement, nested bodies included (imports are statements, so
    expressions need not be walked — a full ast.walk is twice as slow)."""
    for node in nodes:
        yield node
        for field in ("body", "orelse", "finalbody", "handlers", "cases"):
            yield from _statements(getattr(node, field, ()))


def test_every_package_import_resolves():
    """Every absolute import under synth_transform_spark/ — module level or
    inside a function — must name an installed top-level module, so no
    code path depends on an optional package this environment lacks."""
    import ast
    import importlib.util

    sites: dict[str, list[str]] = {}
    for path in sorted((ROOT / "synth_transform_spark").rglob("*.py")):
        for node in _statements(ast.parse(path.read_text()).body):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.level == 0:
                names = [node.module]
            else:
                continue
            for name in names:
                sites.setdefault(name.split(".")[0], []).append(
                    f"{path.relative_to(ROOT)}:{node.lineno}"
                )
    missing = {
        top: where
        for top, where in sites.items()
        if importlib.util.find_spec(top) is None
    }
    assert not missing, missing
