"""bench.py's regression gate, both tiers, without Spark: a budget file in
``tmp_path`` and a fake warm re-run."""

from __future__ import annotations

import json

import pytest

import bench

#: (drift, floor, a slowdown over that tier's bar) per tier
TIERS = [
    pytest.param(bench.DRIFT, bench.FLOOR, 1.5, id="headline"),
    pytest.param(bench.TIER2_DRIFT, bench.TIER2_FLOOR, 3.0, id="tier2"),
]
PEERS = ("a", "b", "c", "d", "e")


def _budgets(tmp_path, sf=None):
    path = tmp_path / "budgets.json"
    budgets = {n: 1.0 for n in PEERS} | {"tiny": 0.1}
    path.write_text(json.dumps({"sf": bench._sf() if sf is None else sf, "budgets": budgets}))
    return str(path)


def _rerun(times: dict[str, float], calls: list[str]):
    def rerun(name: str) -> float:
        calls.append(name)
        return times[name]

    return rerun


@pytest.mark.parametrize("drift, floor, slow", TIERS)
def test_uniform_slowdown_flags_nothing(tmp_path, drift, floor, slow):
    # every query 2x slower; the tiny one 4x, but its budget is under the floor
    timings = {n: 2.0 for n in PEERS} | {"tiny": 0.4}
    calls: list[str] = []
    assert bench._gate(timings, _budgets(tmp_path), drift, floor, _rerun(timings, calls)) == 0
    assert calls == []


@pytest.mark.parametrize("drift, floor, slow", TIERS)
def test_one_slow_query_among_flat_peers_is_flagged(tmp_path, drift, floor, slow):
    timings = {n: 1.0 for n in PEERS} | {"a": slow}
    calls: list[str] = []
    assert bench._gate(timings, _budgets(tmp_path), drift, floor, _rerun(timings, calls)) == 1
    assert calls == ["a"]


@pytest.mark.parametrize("drift, floor, slow", TIERS)
def test_flag_cleared_by_warm_rerun_within_budget(tmp_path, drift, floor, slow):
    timings = {n: 1.0 for n in PEERS} | {"a": slow}
    calls: list[str] = []
    rerun = _rerun({"a": 1.0}, calls)
    assert bench._gate(timings, _budgets(tmp_path), drift, floor, rerun) == 0
    assert calls == ["a"]


@pytest.mark.parametrize("drift, floor, slow", TIERS)
def test_sf_mismatch_skips(tmp_path, drift, floor, slow):
    timings = {n: 1.0 for n in PEERS} | {"a": slow}
    path = _budgets(tmp_path, sf="another")
    assert bench._gate(timings, path, drift, floor, _rerun(timings, [])) == 0


@pytest.mark.parametrize("drift, floor, slow", TIERS)
def test_missing_budget_file_fails(tmp_path, drift, floor, slow):
    timings = {n: 1.0 for n in PEERS}
    missing = str(tmp_path / "absent.json")
    assert bench._gate(timings, missing, drift, floor, _rerun(timings, [])) == 1
