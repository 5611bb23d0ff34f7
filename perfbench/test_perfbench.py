"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import spread  # noqa: E402
from workloads import END_TO_END, MODULES, OWNER, WORKLOADS, per_layer_metrics  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_are_pinned():
    spec = _spec()
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == per_layer_metrics()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert len(spec["per_layer"]) <= 128
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for m in spec["end_to_end"] + spec["per_layer"])
    assert any(m["name"] == "setup_s" and m["better"] == "lower" for m in spec["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_every_slug_has_an_owner_and_an_expected_digest():
    with open(os.path.join(HERE, "expected_digests.json")) as f:
        expected = json.load(f)
    for slugs in WORKLOADS.values():
        for slug in slugs:
            assert OWNER[slug] in MODULES
            assert slug in expected


def test_seed_changes_layout_not_content(tmp_path):
    def rows(d, name):
        t = pq.read_table(os.path.join(d, f"{name}.parquet"))
        keys = [c for c in t.column_names if c != "embedding"]
        return t.sort_by([(c, "ascending") for c in keys])

    def file_rows(d, name):
        leaf = d / f"{name}.parquet"
        return [pq.read_metadata(leaf / f).num_rows for f in sorted(os.listdir(leaf))]

    a, b = tmp_path / "a", tmp_path / "b"
    gen.write_inputs(str(a), seed=1)
    gen.write_inputs(str(b), seed=2)
    for name in gen.TABLES:
        assert rows(a, name).equals(rows(b, name)), name
        assert len(file_rows(a, name)) == len(file_rows(b, name)) == gen.N_FILES
    assert any(file_rows(a, name) != file_rows(b, name) for name in gen.TABLES)


def _runs(workload: str, values: dict[str, list[float]]) -> list[dict]:
    n = len(next(iter(values.values())))
    return [{"workload": workload, "result": {"metrics": {
        k: {"value": v[i], "unit": "s"} for k, v in values.items()}}} for i in range(n)]


def test_two_sets_of_runs_agree_within_bounds():
    base = {m["name"]: [10.0 + 0.1 * i for i in range(10)] for m in _spec()["end_to_end"]}
    same = _runs("events_pipeline", base)
    shifted = _runs("events_pipeline", {k: [v * 1.02 for v in vs] for k, vs in base.items()})
    slower = _runs("events_pipeline", {k: [v * 1.5 for v in vs] for k, vs in base.items()})
    assert spread.compare(same, shifted)
    assert not spread.compare(same, slower)
    assert spread.spread([1.0, 1.0, 1.0, 1.0]) == 0.0


def test_tree_cpu_counts_child_processes():
    before = run.tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.5: pass"], check=True)
    assert run.tree_cpu_s(os.getpid()) - before >= 0.4


def test_timed_pass_count_depends_only_on_seconds():
    assert run.timed_passes(20) == 3
    assert run.timed_passes(1) == 1
    assert run.timed_passes(run.PASS_BUDGET_S) == 1
