"""The pure functions of the scripts/ tools: bench_compare.compare and
plan_inventory.compare."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

SCRIPTS = Path(__file__).resolve().parent.parent / "scripts"


def _load_script(name: str):
    spec = importlib.util.spec_from_file_location(name, SCRIPTS / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# --- bench_compare.compare ---------------------------------------------

def test_bench_compare_divides_out_host_contention():
    bc = _load_script("bench_compare")
    old = {"queries": {"q1": 1.0}, "canary_sec": 0.365, "value": 1.0}
    # 1.39x raw slowdown entirely explained by a 1.39x slower canary
    new = {"queries": {"q1": 1.39}, "canary_sec": 0.507, "value": 1.39}
    res = bc.compare(old, new, gate_ratio=1.3, gate_abs=0.2)
    row = res["rows"][0]
    assert row["raw_ratio"] == pytest.approx(1.39)
    assert row["adj_ratio"] == pytest.approx(1.0, abs=0.01)
    assert not res["flagged"]


def test_bench_compare_flags_real_regression_even_on_contended_host():
    bc = _load_script("bench_compare")
    old = {"queries": {"q1": 1.0}, "canary_sec": 0.4, "value": 1.0}
    # canary says host is 1.1x slower, but the query is 2x slower
    new = {"queries": {"q1": 2.0}, "canary_sec": 0.44, "value": 2.0}
    res = bc.compare(old, new, gate_ratio=1.3, gate_abs=0.2)
    assert res["flagged"] == ["q1"]


def test_bench_compare_unadjusted_without_canary():
    bc = _load_script("bench_compare")
    old = {"queries": {"q1": 1.0}, "value": 1.0}
    new = {"queries": {"q1": 1.2}, "canary_sec": 0.5, "value": 1.2}
    res = bc.compare(old, new, gate_ratio=1.3, gate_abs=0.2)
    assert res["canary_ratio"] == 1.0
    assert res["rows"][0]["adj_ratio"] == pytest.approx(1.2)


def test_bench_compare_uses_worst_of_start_end_canary():
    bc = _load_script("bench_compare")
    old = {"queries": {"q1": 1.0}, "canary_sec": 0.5, "value": 1.0}
    # start canary looks calm but the end canary caught the burst
    new = {"queries": {"q1": 1.5}, "canary_sec": 0.5, "canary_end_sec": 0.75,
           "value": 1.5}
    res = bc.compare(old, new, gate_ratio=1.3, gate_abs=0.2)
    assert res["canary_ratio"] == pytest.approx(1.5)
    assert res["rows"][0]["adj_ratio"] == pytest.approx(1.0)
    assert not res["flagged"]


# --- plan_inventory.compare --------------------------------------------

def test_plan_inventory_flags_only_increases_in_drift_keys():
    pi = _load_script("plan_inventory")
    base = {"q1": {"exchanges": 2, "python_nodes": 0, "cartesian": 0,
                   "broadcasts": 1, "smj": 1, "bhj": 0}}
    cur = {"q1": {"exchanges": 3, "python_nodes": 1, "cartesian": 0,
                  "broadcasts": 0, "smj": 0, "bhj": 1}}
    drift, info = pi.compare(base, cur)
    assert any("exchanges 2 -> 3" in d for d in drift)
    assert any("python_nodes 0 -> 1" in d for d in drift)
    # join-mix / broadcast changes are informational, not drift
    assert not any("smj" in d or "bhj" in d or "broadcasts" in d for d in drift)
    assert any("smj" in i for i in info)


def test_plan_inventory_improvements_and_new_queries_are_not_drift():
    pi = _load_script("plan_inventory")
    base = {"q1": {"exchanges": 3, "python_nodes": 1, "cartesian": 0,
                   "broadcasts": 0, "smj": 0, "bhj": 0}}
    cur = {"q1": {"exchanges": 2, "python_nodes": 0, "cartesian": 0,
                  "broadcasts": 0, "smj": 0, "bhj": 0},
           "q2": {"exchanges": 9, "python_nodes": 0, "cartesian": 0,
                  "broadcasts": 0, "smj": 0, "bhj": 0}}
    drift, info = pi.compare(base, cur)
    assert not drift
    assert any("NEW query q2" in i for i in info)
    assert any("exchanges 3 -> 2" in i for i in info)


def test_plan_inventory_plan_error_is_drift():
    pi = _load_script("plan_inventory")
    base = {"q1": {"exchanges": 1, "python_nodes": 0, "cartesian": 0,
                   "broadcasts": 0, "smj": 0, "bhj": 0}}
    cur = {"q1": {"error": 1, "msg": "boom"}}
    drift, _ = pi.compare(base, cur)
    assert drift and "fails to plan" in drift[0]
