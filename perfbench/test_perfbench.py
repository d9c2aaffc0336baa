"""Self-tests of the benchmark's own arithmetic, comparator and generator.

    python3 -m pytest -q perfbench/test_perfbench.py

They need no Spark session.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen  # noqa: E402
from perfbench.check import compare  # noqa: E402
from perfbench.stats import (  # noqa: E402
    beta_cdf, percentile, samples_above, self_time_by_layer, self_times,
    union_length)


def test_beta_cdf_matches_closed_forms():
    for x in (0.1, 0.5, 0.93):
        assert beta_cdf(3.0, 1.0, x) == pytest.approx(x ** 3, rel=1e-12)
        assert beta_cdf(1.0, 2.5, x) == pytest.approx(1 - (1 - x) ** 2.5,
                                                      rel=1e-12)
    assert beta_cdf(0.5, 0.5, 0.3) == pytest.approx(
        2 / math.pi * math.asin(math.sqrt(0.3)), rel=1e-12)
    assert beta_cdf(2.0, 3.0, 0.0) == 0.0
    assert beta_cdf(2.0, 3.0, 1.0) == 1.0


def test_percentile_is_harrell_davis():
    # n = 3, p = 75: weights from Beta(3, 1), whose CDF is x^3, so the
    # order statistics weigh 1/27, 7/27 and 19/27
    assert percentile([30, 10, 20], 75) == pytest.approx(720 / 27)
    # a symmetric sample's median is its centre
    assert percentile(list(range(1, 101)), 50) == pytest.approx(50.5)
    assert percentile([7.0], 90) == 7.0
    assert percentile([5.0] * 4, 90) == pytest.approx(5.0)
    v = [1.0, 2.0, 4.0, 8.0, 100.0]
    assert min(v) < percentile(v, 50) < percentile(v, 90) < max(v)


def test_samples_above_p90():
    v = [float(i) for i in range(100)]
    assert samples_above(v, 90) == 10
    assert samples_above(v[:50], 90) == 5


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 0)
    with pytest.raises(ValueError):
        percentile([1.0], 100)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_children_once():
    spans = [
        {"id": 0, "parent": None, "layer": "container", "start": 0.0, "end": 10.0},
        # two overlapping children cover [1, 6]
        {"id": 1, "parent": 0, "layer": "operators", "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "layer": "operators", "start": 3.0, "end": 6.0},
        # a grandchild only reduces its own parent
        {"id": 3, "parent": 2, "layer": "sql.tql", "start": 3.5, "end": 4.5},
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(5.0)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)
    by_layer = self_time_by_layer(spans)
    assert by_layer == pytest.approx(
        {"container": 5.0, "operators": 5.0, "sql.tql": 1.0})
    # properly nested spans (one call stack): self times add up to the
    # root span's wall
    nested = [
        {"id": 0, "parent": None, "layer": "a", "start": 0.0, "end": 4.0},
        {"id": 1, "parent": 0, "layer": "b", "start": 0.5, "end": 1.5},
        {"id": 2, "parent": 0, "layer": "b", "start": 2.0, "end": 3.5},
        {"id": 3, "parent": 2, "layer": "c", "start": 2.5, "end": 3.0},
    ]
    assert sum(self_times(nested).values()) == pytest.approx(4.0)


COLS = ["k", "v", "s"]
ROWS = [(1, 0.5, "a"), (2, 1.25, "b"), (3, None, "c")]


def test_comparator_accepts_reordered_rows_and_columns():
    shuffled = [(r[2], r[0], r[1]) for r in reversed(ROWS)]
    assert compare(COLS, ROWS, ["s", "k", "v"], shuffled) is None


def test_comparator_rejects_an_injected_wrong_row():
    bad = list(ROWS)
    bad[1] = (2, 1.2500001, "b")
    assert compare(COLS, ROWS, COLS, bad) is not None
    assert compare(COLS, ROWS, COLS, ROWS[:2]) is not None
    assert compare(COLS, ROWS, COLS, ROWS + [(4, 0.0, "d")]) is not None


def test_comparator_is_dtype_strict():
    assert compare(["x"], [(6,)], ["x"], [(6.0,)]) is not None
    assert compare(["x"], [(None,)], ["x"], [(0,)]) is not None


def test_comparator_tolerance_only_where_named():
    a = [(1, 100.0)]
    b = [(1, 100.0 + 1e-10)]
    assert compare(["k", "s"], a, ["k", "s"], b) is not None
    assert compare(["k", "s"], a, ["k", "s"], b, {"s": 1e-9}) is None
    assert compare(["k", "s"], a, ["k", "s"], [(1, 100.1)], {"s": 1e-9}) is not None


def test_group_by_range_tolerance_admits_one_rounding_step_only():
    from perfbench.sql import REL_TOL

    tol = REL_TOL["range_15m_fill_null"]
    cols = ["ts", "avg_value", "n"]
    # a half-way tie rounded apart at the sixth decimal
    assert compare(cols, [(0, 45.035312, 32)],
                   cols, [(0, 45.035313, 32)], tol) is None
    assert compare(cols, [(0, 45.035312, 32)],
                   cols, [(0, 45.03532, 32)], tol) is not None
    assert compare(cols, [(0, 45.035312, 32)],
                   cols, [(0, 45.035312, 33)], tol) is not None


def _digest(root: str) -> dict:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_generator_same_seed_same_bytes(tmp_path):
    a = _digest(gen.generate(5, str(tmp_path / "a")))
    b = _digest(gen.generate(5, str(tmp_path / "b")))
    c = _digest(gen.generate(6, str(tmp_path / "c")))
    assert a == b
    assert len(a) > 20
    assert a["base/events.parquet"] != c["base/events.parquet"]


def test_benchmark_json_lists_what_the_runs_report():
    import json

    from perfbench.layers import METRICS

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert {m["name"]: (m["unit"], m["better"]) for m in doc["per_layer"]} \
        == METRICS
    assert [w["name"] for w in doc["workloads"]] == [
        "iot_mixed", "sql_analytics"]
    e2e = {m["name"] for m in doc["end_to_end"]}
    assert "setup_s" in e2e
    assert all(0 < m["bound"] <= 0.25 for m in doc["end_to_end"])
