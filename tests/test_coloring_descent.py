"""Exactness of the derived palette descent: ``minimal_coloring`` runs one
attempt and derives the failing one, so it is checked against a NumPy
replay that executes every attempt of the descent."""

from __future__ import annotations

import numpy as np
import pytest

from distributed_graph_coloring_with_pyspark_spark.operators.coloring import (
    _failing_round,
    minimal_coloring,
)
from distributed_graph_coloring_with_pyspark_spark.sources.generator import generate_graph


def _attempt(n, src, dst, deg, k):
    """One palette-k attempt, round by round: each uncolored vertex
    proposes its lowest free color in [0, min(k-1, degree)] and keeps it
    unless a neighbour with a larger (degree, id) proposed the same one.
    Returns (success, rounds, colors)."""
    color = np.full(n, -1)
    rounds = 0
    while True:
        rounds += 1
        unc = color < 0
        if not unc.any():
            return True, rounds, color
        blocked = np.zeros((n, k), dtype=bool)
        hit = color[dst] >= 0
        blocked[src[hit], color[dst[hit]]] = True
        blocked |= np.arange(k)[None, :] > np.minimum(k - 1, deg)[:, None]
        has_free = ~blocked.all(axis=1)
        if (unc & ~has_free).any():
            return False, rounds, color
        cand = np.where(has_free, blocked.argmin(axis=1), -1)
        clash = unc[src] & unc[dst] & (cand[src] == cand[dst])
        beaten = clash & ((deg[dst] > deg[src]) | ((deg[dst] == deg[src]) & (dst > src)))
        wins = unc.copy()
        wins[src[beaten]] = False
        color[wins] = cand[wins]


def reference_descent(n, src, dst, start_k=None):
    """The full descent over ids 0..n-1: start at ``start_k`` (default
    Δ+1), and after a success with m colors retry with m-1 until an
    attempt fails.  Returns (minimal_colors, attempts, colors)."""
    deg = np.bincount(src, minlength=n)
    k = max(start_k if start_k is not None else int(deg.max(initial=0)) + 1, 1)
    attempts, best, best_colors = [], None, None
    while k >= 1:
        ok, rounds, color = _attempt(n, src, dst, deg, k)
        attempts.append((k, ok, rounds))
        if not ok:
            break
        best, best_colors = int(color.max(initial=-1)) + 1, color
        k = best - 1
    return best, attempts, best_colors


def _assert_matches_replay(n, node_ids, edges, start_k=None):
    e = edges.toPandas()
    src = e["src"].to_numpy(dtype=np.int64)
    dst = e["dst"].to_numpy(dtype=np.int64)
    want_m, want_attempts, want_colors = reference_descent(n, src, dst, start_k)

    result = minimal_coloring(node_ids, edges, start_k=start_k)

    assert result.minimal_colors == want_m
    assert result.attempts == want_attempts
    got = {r.id: r.color for r in result.vertices.collect()}
    assert got == {i: int(c) for i, c in enumerate(want_colors)}
    return result


@pytest.mark.parametrize(
    "n,max_deg,seed",
    [(20, 3, 1), (60, 8, 2), (300, 29, 3), (300, 3, 4), (60, 29, 5)],
)
def test_descent_matches_full_replay(spark, n, max_deg, seed):
    node_ids, edges = generate_graph(spark, n, max_deg, seed=seed)
    result = _assert_matches_replay(n, node_ids, edges)
    assert len(result.attempts) == 2  # every graph with an edge needs m >= 2


def test_descent_isolated_vertices_one_attempt(spark):
    node_ids, edges = generate_graph(spark, 5, 0, seed=1)
    result = _assert_matches_replay(5, node_ids, edges)
    assert result.minimal_colors == 1
    assert result.attempts == [(1, True, 2)]


def test_descent_empty_graph(spark):
    node_ids = spark.createDataFrame([], "id long")
    edges = spark.createDataFrame([], "src long, dst long")
    result = _assert_matches_replay(0, node_ids, edges)
    assert result.minimal_colors == 0
    assert result.attempts == [(1, True, 1)]


def test_descent_caller_start_k_above_delta(spark):
    node_ids, edges = generate_graph(spark, 60, 8, seed=6)
    result = _assert_matches_replay(60, node_ids, edges, start_k=15)
    assert result.attempts[0][0] == 15


def test_failing_round_is_first_round_reaching_the_palette():
    assert _failing_round([2, 4, 1, None], 4) == 2
    assert _failing_round([5, 0, None], 3) == 1


def test_failing_round_guard_raises_when_maxima_fall_short():
    with pytest.raises(RuntimeError, match="internal error"):
        _failing_round([1, 2, 2, None], 3)


def test_descent_stalled_first_attempt_still_raises(spark):
    node_ids, edges = generate_graph(spark, 60, 8, seed=2)
    with pytest.raises(ValueError, match="coloring failed at k"):
        minimal_coloring(node_ids, edges, max_rounds=1)
