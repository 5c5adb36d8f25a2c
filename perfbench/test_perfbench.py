"""Tests of the benchmark itself: run with ``python3 -m pytest perfbench``.

The smoke tests start Spark once per workload and trace mode (up to a
minute each); the others need no Spark.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import rebuild_data  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    cmd = [*SPEC["command"], *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def test_spec_matches_the_runner():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == {
        k: unit for k, (unit, _field) in run.PER_LAYER.items()
    }
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_every_output_has_an_expected_digest():
    with open(run.DIGESTS) as fh:
        expected = json.load(fh)
    for w in WORKLOADS.values():
        if w.kind == "rebuild":
            wanted = {f"rebuild.write.{t}" for t in w.queries} | {"rebuild.dump"}
        else:
            wanted = set(w.queries)
        assert wanted <= set(expected), w.name


def _tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            h.update(name.encode() + fh.read())
    return h.hexdigest()


def test_inputs_depend_only_on_the_seed(tmp_path):
    a, b, c = (str(tmp_path / d) for d in "abc")
    rows = datagen.write_tables(a, 0.001, 7)
    datagen.write_tables(b, 0.001, 7)
    datagen.write_tables(c, 0.001, 8)
    assert _tree_digest(a) == _tree_digest(b) != _tree_digest(c)
    assert rows["lineitem"] == 6000 and rows["documents"] == 500


def test_rebuild_inputs_depend_only_on_the_seed(tmp_path):
    a, b, c = (str(tmp_path / d) for d in "abc")
    rows = rebuild_data.write_inputs(a, 7)
    rebuild_data.write_inputs(b, 7)
    rebuild_data.write_inputs(c, 8)
    for sub in ("sources", "resources"):
        assert _tree_digest(f"{a}/{sub}") == _tree_digest(f"{b}/{sub}") != _tree_digest(f"{c}/{sub}")
    assert rows["T_List_of_Users"] == 4 * rebuild_data.N_USERS


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p, ignore=shutil.ignore_patterns("__pycache__"))
    workload = SPEC["workloads"][0]["name"]
    out = _run(str(tmp_path), "--workload", workload, "--seed", "1", "--seconds", "1", "--trace", "0")
    assert out.returncode != 0
    assert out.stdout.strip() == ""


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_prints_every_metric_with_its_unit(workload, trace):
    out = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke")
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 2 * len(WORKLOADS[workload].queries)
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
