"""scripts/ab.py: arm rotation and summary math (no Spark)."""

from __future__ import annotations

import json

import pytest

from scripts import ab


def test_arm_order_rotates_each_cycle():
    arms = ["a", "b", "c"]
    orders = [ab.arm_order(arms, c) for c in range(4)]
    assert orders == [["a", "b", "c"], ["b", "c", "a"], ["c", "a", "b"], ["a", "b", "c"]]
    # every arm takes every slot once per len(arms) cycles
    for slot in range(3):
        assert sorted(o[slot] for o in orders[:3]) == arms
    assert [ab.arm_order(["ref", "new"], c) for c in range(3)] == [
        ["ref", "new"], ["new", "ref"], ["ref", "new"],
    ]


def test_summary_from_canned_result_lines():
    lines = {
        "ref:c4": ['ABRESULT {"q": [3.0, 1.0, 2.0]}', 'ABRESULT {"q": [5.0, 4.0, 1.5]}'],
        "new:c4": ['ABRESULT {"q": [1.5, 0.5, 1.0]}', 'ABRESULT {"q": [2.5, 0.8, 0.9]}'],
    }
    results = {arm: [ab.parse_result("noise\n" + ln) for ln in ls] for arm, ls in lines.items()}
    s = ab.summarize(results)
    ref, new = s["q"]["ref:c4"], s["q"]["new:c4"]
    # cold: median of run 1 over cycles; warm: min/median of runs 2+
    assert (ref["cold"], ref["warm_min"], ref["warm_med"]) == (4.0, 1.0, 1.75)
    assert (new["cold"], new["warm_min"], new["warm_med"]) == (2.0, 0.5, 0.85)
    assert ref["ratio"] == {"cold": 1.0, "warm_min": 1.0, "warm_med": 1.0}
    assert new["ratio"] == {"cold": 0.5, "warm_min": 0.5, "warm_med": round(0.85 / 1.75, 3)}
    assert len(ab.format_summary(s)) == 3
    json.dumps(s)


def test_missing_result_line_is_an_error():
    with pytest.raises(ValueError):
        ab.parse_result("Traceback (most recent call last):\n")
