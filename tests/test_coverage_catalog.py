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


#: Imports kept for their side effect: the catalog imports the plans
#: package so that every query is registered before it renders.
SIDE_EFFECT_IMPORTS = {"synth_transform_spark/plans/catalog.py:synth_transform_spark"}


def test_no_unused_imports():
    """Every name an import binds under synth_transform_spark/ is used in
    its module; package ``__init__.py`` files are exempt, their imports are
    the package's exports."""
    import ast

    unused = []
    for path in sorted((ROOT / "synth_transform_spark").rglob("*.py")):
        if path.name == "__init__.py":
            continue
        tree = ast.parse(path.read_text())
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        rel = path.relative_to(ROOT).as_posix()
        for node in _statements(tree.body):
            if isinstance(node, ast.Import):
                bound = [a.asname or a.name.split(".")[0] for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
                bound = [a.asname or a.name for a in node.names]
            else:
                continue
            unused += [
                f"{rel}:{node.lineno} {name}"
                for name in bound
                if name not in used and f"{rel}:{name}" not in SIDE_EFFECT_IMPORTS
            ]
    assert not unused, unused


def _tokenizer_copy(node) -> str | None:
    """'raw' or 'lower' when ``node`` is an inline copy of
    ``text_analysis.tokens_raw`` / ``tokens_lower``:
    ``F.filter(F.split(x, " "), lambda t: t != "")``, with ``x`` wrapped
    in ``F.lower`` for the lowercased one."""
    import ast

    def f_call(n, name, nargs):
        return (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == name
            and isinstance(n.func.value, ast.Name)
            and n.func.value.id == "F"
            and len(n.args) == nargs
            and not n.keywords
        )

    if not f_call(node, "filter", 2):
        return None
    split, lam = node.args
    if not (
        f_call(split, "split", 2)
        and isinstance(split.args[1], ast.Constant)
        and split.args[1].value == " "
        and isinstance(lam, ast.Lambda)
        and len(lam.args.args) == 1
    ):
        return None
    body, var = lam.body, lam.args.args[0].arg
    if not (
        isinstance(body, ast.Compare)
        and isinstance(body.ops[0], ast.NotEq)
        and isinstance(body.left, ast.Name)
        and body.left.id == var
        and isinstance(body.comparators[0], ast.Constant)
        and body.comparators[0].value == ""
    ):
        return None
    return "lower" if f_call(split.args[0], "lower", 1) else "raw"


def test_no_inline_tokenizer_copies():
    """The whitespace tokenizers have one owner each, ``tokens_raw`` and
    ``tokens_lower`` in operators/text_analysis.py; an inline copy
    elsewhere is a second place to change when the token rule moves."""
    import ast

    copies = [
        f"{path.relative_to(ROOT)}:{node.lineno} ({kind})"
        for path in sorted((ROOT / "synth_transform_spark").rglob("*.py"))
        if path.name != "text_analysis.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if (kind := _tokenizer_copy(node))
    ]
    assert not copies, copies
