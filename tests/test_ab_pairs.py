"""tools/ab_pairs.py on canned run results: the per-metric summary, the
gain rule (at least 9 of 10 wins and a median gap beyond the parent's
quartile spread, and no more failed operations than the parent) and the
alternating run order. No Spark."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from tools import ab_pairs  # noqa: E402

SPEC = [{"name": "setup_s", "unit": "s", "better": "lower"}]


def _run(value: float, correct: bool = True) -> dict:
    return {"correct": correct, "failed": 0 if correct else 1, "metrics": {"setup_s": {"value": value}}}


def _pairs(parent: list[float], change: list[float]) -> list[tuple[dict, dict]]:
    return [(_run(p), _run(c)) for p, c in zip(parent, change)]


def test_clear_gain_holds():
    parent = [55.0, 52.0, 59.0, 54.0, 56.0, 53.0, 58.0, 55.5, 54.5, 57.0]
    change = [p - 10.0 for p in parent]
    lines = ab_pairs.report(SPEC, _pairs(parent, change))
    assert "  change lower in 10 of 10; gain rule holds" in lines[4]
    assert lines[1] == "  parent  median 55.25  quartiles [54.12, 56.75]"
    assert lines[-1] == "every run correct, 0 failed operations"


def test_no_op_does_not_hold():
    parent = [55.0, 52.0, 59.0, 54.0, 56.0, 53.0, 58.0, 55.5, 54.5, 57.0]
    change = parent[1:] + parent[:1]
    r = ab_pairs.compare(parent, change, "lower")
    assert not r["holds"] and r["gap"] == 0.0


def test_eight_of_ten_wins_do_not_hold_even_with_a_wide_gap():
    parent = [50.0] * 10
    change = [30.0] * 8 + [60.0, 60.0]
    r = ab_pairs.compare(parent, change, "lower")
    assert (r["wins"], r["need"]) == (8, 9) and r["gap"] > r["spread"] and not r["holds"]


def test_nine_wins_inside_the_parent_spread_do_not_hold():
    parent = [40.0, 60.0] * 5
    change = [p - 1.0 for p in parent]
    r = ab_pairs.compare(parent, change, "lower")
    assert r["wins"] == 10 and r["gap"] < r["spread"] and not r["holds"]


def test_higher_is_better_is_mirrored():
    r = ab_pairs.compare([1.0] * 10, [2.0] * 10, "higher")
    assert r["wins"] == 10 and r["holds"]


def test_clear_gain_with_more_failed_operations_does_not_hold():
    parent = [55.0, 52.0, 59.0, 54.0, 56.0, 53.0, 58.0, 55.5, 54.5, 57.0]
    pairs = _pairs(parent, [p - 10.0 for p in parent])
    pairs[3] = (pairs[3][0], _run(44.0, correct=False))
    lines = ab_pairs.report(SPEC, pairs)
    assert lines[4].startswith(
        "  change lower in 10 of 10; gain rule does not hold (more failed operations than the parent)"
    )
    assert lines[-1] == "runs with failures (pair, side): (3, change)"


def test_failed_run_is_reported():
    pairs = _pairs([1.0, 2.0], [1.0, 2.0])
    pairs[1] = (pairs[1][0], _run(2.0, correct=False))
    assert ab_pairs.report(SPEC, pairs)[-1] == "runs with failures (pair, side): (1, change)"


def test_main_alternates_order_with_one_seed_per_pair(tmp_path, monkeypatch, capsys):
    for d in ("parent", "change"):
        (tmp_path / d).mkdir()
        (tmp_path / d / "BENCHMARK.json").write_text(json.dumps({"run_seconds": 6, "end_to_end": SPEC}))
    calls = []

    def fake_run(checkout, workload, seed, seconds):
        calls.append((os.path.basename(checkout), workload, seed, seconds))
        return _run(50.0 if checkout.endswith("parent") else 40.0)

    monkeypatch.setattr(ab_pairs, "run_once", fake_run)
    monkeypatch.setattr(sys, "argv", [
        "ab_pairs.py", str(tmp_path / "parent"), str(tmp_path / "change"),
        "--workload", "serving_open_loop", "--pairs", "3", "--seed", "701",
    ])
    assert ab_pairs.main() == 0
    assert [(side, seed) for side, _w, seed, _s in calls] == [
        ("parent", 701), ("change", 701), ("change", 702), ("parent", 702), ("parent", 703), ("change", 703),
    ]
    assert {(w, s) for _c, w, _seed, s in calls} == {("serving_open_loop", 6)}
    out = capsys.readouterr().out
    assert "pair 1 seed 701 (parent/change): setup_s 50.00/40.00" in out
    assert "change lower in 3 of 3; gain rule holds" in out


def test_main_refuses_checkouts_with_different_run_seconds(tmp_path, monkeypatch):
    for d, seconds in (("parent", 6), ("change", 8)):
        (tmp_path / d).mkdir()
        (tmp_path / d / "BENCHMARK.json").write_text(json.dumps({"run_seconds": seconds, "end_to_end": SPEC}))
    monkeypatch.setattr(ab_pairs, "run_once", lambda *a: pytest.fail("ran a benchmark"))
    monkeypatch.setattr(sys, "argv", [
        "ab_pairs.py", str(tmp_path / "parent"), str(tmp_path / "change"), "--workload", "w", "--seed", "1",
    ])
    with pytest.raises(SystemExit, match="run_seconds differs"):
        ab_pairs.main()
