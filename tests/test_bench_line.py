"""bench.py's stdout line: ``min_sec`` stays aligned with the
``queries`` keys, a failed query is ``null`` in both, and the line
degrades to fit its budget by dropping ``min_sec`` before the per-query
map."""

from __future__ import annotations

import json

import bench

REGISTRY = ["q_a", "q_b", "q_c", "q_d"]
TIMINGS = {"q_c": 3.456, "q_a": 1.234, "q_b": float("inf"), "not_registered": 9.0}
MINS = {"q_c": 3.001, "q_a": 1.111, "q_b": None, "not_registered": 8.0}


def test_min_sec_is_the_floor_of_the_ith_queries_key():
    line, dropped = bench.stdout_line(14.69, TIMINGS, MINS, REGISTRY, 0.1)
    out = json.loads(line)
    assert dropped == []
    # registry order, registry queries only, absent ones skipped
    assert list(out["queries"]) == ["q_a", "q_b", "q_c"]
    assert out["min_sec"] == [1.11, None, 3.0]
    for i, name in enumerate(out["queries"]):
        floor = MINS[name]
        assert out["min_sec"][i] == (None if floor is None else round(floor, 2))
    assert out["queries"] == {"q_a": 1.23, "q_b": None, "q_c": 3.46}
    assert (out["metric"], out["value"], out["unit"], out["sf"]) == (
        "sum_query_sec",
        14.69,
        "sec",
        0.1,
    )


def test_null_min_sec_mirrors_a_failed_query():
    out = json.loads(bench.stdout_line(1.0, TIMINGS, MINS, REGISTRY, 0.1)[0])
    failed = [k for k, v in out["queries"].items() if v is None]
    assert failed == ["q_b"]
    assert [k for k, v in zip(out["queries"], out["min_sec"]) if v is None] == failed


def test_over_budget_drops_min_sec_first_then_queries():
    full, _ = bench.stdout_line(1.0, TIMINGS, MINS, REGISTRY, 0.1)
    no_min = dict(json.loads(full))
    del no_min["min_sec"]
    no_min_len = len(json.dumps(no_min, separators=(",", ":")))

    line, dropped = bench.stdout_line(
        1.0, TIMINGS, MINS, REGISTRY, 0.1, budget=len(full) - 1
    )
    assert dropped == ["min_sec"]
    out = json.loads(line)
    assert "min_sec" not in out and out["queries"] == json.loads(full)["queries"]
    assert len(line) == no_min_len

    line, dropped = bench.stdout_line(
        1.0, TIMINGS, MINS, REGISTRY, 0.1, budget=no_min_len - 1
    )
    assert dropped == ["min_sec", "queries"]
    out = json.loads(line)
    assert out["queries"] == {} and out["value"] == 1.0 and "min_sec" not in out

