"""Unit tests for the benchmark's own rules. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from perfbench import fixtures, measure, tracing
from perfbench.batch import rows_match
from perfbench.spec import END_TO_END_UNITS, LAYER_METRICS, WORKLOADS
from perfbench.stream import Landing, check_ref_rows

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _beyond(n: int, pct: int) -> int:
    return n - math.ceil(pct / 100 * n)


@pytest.mark.parametrize("n, pct", [(11, 50), (20, 50), (21, 52), (40, 75), (100, 90), (1000, 99), (5000, 99)])
def test_tail_percentile_examples(n, pct):
    assert measure.tail_percentile(n) == pct


def test_tail_percentile_is_highest_with_ten_beyond():
    for n in range(20, 3000):
        pct = measure.tail_percentile(n)
        assert _beyond(n, pct) >= 10
        assert pct == 99 or _beyond(n, pct + 1) < 10


def test_latency_summary_leaves_ten_samples_beyond_tail():
    values = [float(v) for v in np.random.default_rng(0).permutation(137)]
    s = measure.latency_summary(values)
    assert s["n"] == 137
    assert sum(v > s["tail"] for v in values) >= 10
    assert s["p50"] == 68.0


def test_nearest_rank():
    v = [1.0, 2.0, 3.0, 4.0]
    assert measure.nearest_rank(v, 50) == 2.0
    assert measure.nearest_rank(v, 51) == 3.0
    assert measure.nearest_rank(v, 100) == 4.0
    with pytest.raises(ValueError):
        measure.nearest_rank([], 50)


def test_map_triggers_to_files():
    files = [100, 100, 50, 200, 100]
    # trigger 0 takes file 0, an idle trigger, then files 1-2, then file 3
    assert measure.map_triggers_to_files(files, [100, 0, 150, 200]) == [0, 2, 2, 3, -1]


def test_map_triggers_rejects_split_file():
    with pytest.raises(ValueError):
        measure.map_triggers_to_files([100, 100], [150, 50])
    with pytest.raises(ValueError):
        measure.map_triggers_to_files([100], [100, 10])


def test_slope():
    assert measure.slope([0, 1, 2, 3], [1, 3, 5, 7]) == pytest.approx(2.0)
    assert measure.slope([1.0], [5.0]) == 0.0


def test_covered_intervals():
    assert tracing.covered([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4


def test_check_ref_rows():
    files = [Landing("a", 3, 0), Landing("b", 2, 3)]

    def sink(ids, bad_len=()):
        values = [f"Message {i}" for i in ids]
        return pa.table({
            "key": [f"Key {i}" for i in ids],
            "value": values,
            "len_value": [len(v) + (1 if i in bad_len else 0) for i, v in zip(ids, values)],
        })

    assert check_ref_rows(sink(range(5)), files) == []
    assert check_ref_rows(sink([0, 1, 2, 3]), files) == [1]  # a row is missing
    assert check_ref_rows(sink([0, 1, 2, 2, 3, 4]), files) == [0]  # a duplicate
    assert check_ref_rows(sink(range(5), bad_len={4}), files) == [1]
    assert check_ref_rows(None, files) == [0, 1]


def test_rows_match_ignores_row_and_column_order():
    a = pd.DataFrame({"x": [1, 2], "y": ["a", "b"]})
    b = pd.DataFrame({"y": ["b", "a"], "x": [2, 1]})
    assert rows_match(a, b)
    assert not rows_match(a, b.assign(x=[2, 3]))
    assert not rows_match(a, b.rename(columns={"x": "z"}))


def test_fixtures_are_deterministic():
    a = fixtures.relational_tables(0.001, 42)
    b = fixtures.relational_tables(0.001, 42)
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    assert all(a[t].equals(b[t]) for t in a)
    e1 = fixtures.event_table(10, 50, 7, np.random.default_rng(3))
    e2 = fixtures.event_table(10, 50, 7, np.random.default_rng(3))
    assert e1.equals(e2)
    assert e1.column("event_id").to_pylist() == list(range(10, 60))


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_spec():
    bench = _benchmark_json()
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {k: v[0] for k, v in LAYER_METRICS.items()}
    for _, moves, workloads in LAYER_METRICS.values():
        assert moves in END_TO_END_UNITS or moves == "failed"
        assert set(workloads) <= set(WORKLOADS)


def test_benchmark_json_names_and_bounds():
    bench = _benchmark_json()
    names = [x["name"] for key in ("workloads", "end_to_end", "per_layer") for x in bench[key]]
    assert len(names) == len(set(names))
    assert all(measure.valid_name(n) for n in names)
    assert all(set(x) == {"name", "why"} for x in bench["workloads"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert 1 <= bench["run_seconds"] <= 60


@pytest.mark.parametrize("name, ok", [
    ("latency_p50_s", True), ("operators.task_wait_s", True), ("stream-ref", True),
    ("_x", False), ("a b", False), ("x/y", False), ("a" * 65, False), ("", False),
])
def test_valid_name(name, ok):
    assert measure.valid_name(name) is ok
