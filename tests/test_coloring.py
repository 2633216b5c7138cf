"""Property-based coloring tests (SURVEY.md §5.2): the validator G6 is
a perfect oracle — correctness needs no golden output.  Golden e2e:
the reference's graph.json has true chromatic number 3 (brute-forced;
BASELINE.md)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from oracle_util import jobs_launched

from distributed_graph_coloring_with_pyspark_spark.operators.coloring import (
    color_graph_attempt,
    init_vertices,
    minimal_coloring,
    validate_coloring,
)
from distributed_graph_coloring_with_pyspark_spark.sources.generator import generate_graph
from distributed_graph_coloring_with_pyspark_spark.sources.graph_json import read_graph_json


@pytest.mark.parametrize(
    "n,max_deg,seed",
    [(20, 3, 1), (40, 5, 2), (60, 8, 3), (30, 29, 4)],  # last: near-complete
)
def test_coloring_properties(spark, n, max_deg, seed):
    node_ids, edges = generate_graph(spark, n, max_deg, seed=seed)
    result = minimal_coloring(node_ids, edges)

    valid, n_uncolored, conflicts = validate_coloring(result.vertices, edges)
    assert valid, f"invalid: uncolored={n_uncolored} conflicts={conflicts}"

    # colors used ≤ Δ+1 (greedy bound) and == minimal_colors reported
    max_deg_actual = (
        edges.groupBy("src").count().agg(F.max("count")).collect()[0][0] or 0
    )
    distinct_colors = result.vertices.select("color").distinct().count()
    assert distinct_colors == result.minimal_colors
    assert result.minimal_colors <= max_deg_actual + 1

    # every color class is an independent set == validator properness,
    # already asserted; check completeness explicitly too
    assert result.vertices.filter(F.col("color").isNull()).count() == 0


def test_coloring_deterministic(spark):
    node_ids, edges = generate_graph(spark, 50, 6, seed=7)
    r1 = minimal_coloring(node_ids, edges)
    r2 = minimal_coloring(node_ids, edges)
    assert r1.minimal_colors == r2.minimal_colors
    c1 = sorted((r.id, r.color) for r in r1.vertices.collect())
    c2 = sorted((r.id, r.color) for r in r2.vertices.collect())
    assert c1 == c2  # deterministic (degree, id) tie-break, no rand()


def test_golden_reference_graph(spark):
    node_ids, edges = read_graph_json(spark, "/root/reference/graph.json")
    result = minimal_coloring(node_ids, edges)
    assert result.minimal_colors == 3  # true chromatic number (BASELINE.md)
    valid, _, _ = validate_coloring(result.vertices, edges)
    assert valid
    # descent trajectory: starts at Δ+1=6, ends failing at 2
    ks = [k for k, _, _ in result.attempts]
    assert ks[0] == 6 and ks[-1] == 2


def test_isolated_nodes_color_zero(spark):
    # 5 isolated vertices: all get color 0 in one round (reference G2)
    node_ids = spark.range(5).select("id")
    edges = spark.createDataFrame([], "src long, dst long")
    verts = init_vertices(node_ids, edges)
    res = color_graph_attempt(verts, edges, k=1)
    assert res.success
    assert res.colors_used == 1
    assert res.vertices.filter(F.col("color") == 0).count() == 5


def _count_actions(monkeypatch, DF):
    """{"collect": n, "count": n}, counting the calls made from now on.
    ``DF`` is the concrete (classic) DataFrame class, which overrides
    collect/count: patching the pyspark.sql.DataFrame base would not
    intercept instance calls."""
    calls = {"collect": 0, "count": 0}
    for name in calls:
        orig = getattr(DF, name)

        def counted(self, _name=name, _orig=orig):
            calls[_name] += 1
            return _orig(self)

        monkeypatch.setattr(DF, name, counted)
    return calls


def test_one_action_per_round(spark, monkeypatch):
    """Pin the module's core perf contract (coloring.py docstring): each
    executed round issues exactly ONE Spark action, the stats collect,
    and the reported trailing round (nothing left to color) and the
    color count come from the last collect, not from more actions.  The
    reference runs 4-8 jobs per round (collectAsMap + broadcast + 2
    counts, coloring.py:80-131).  Catches regressions like an eager
    localCheckpoint or a stray .count() sneaking into the loop.
    ``minimal_coloring`` runs only its first attempt (the failing one is
    derived), adding just the (n, Δ) collect."""
    node_ids, edges = generate_graph(spark, 60, 6, seed=11)
    verts = init_vertices(node_ids, edges)
    calls = _count_actions(monkeypatch, type(verts))
    res = color_graph_attempt(verts, edges, k=7)
    assert res.success
    assert res.max_candidates[-1] is None
    assert calls["collect"] == res.rounds - 1, calls
    assert calls["count"] == 0, calls

    calls.update(collect=0, count=0)
    result = minimal_coloring(node_ids, edges)
    assert len(result.attempts) == 2
    assert calls["collect"] == result.attempts[0][2], calls
    assert calls["count"] == 0, calls


def test_coloring_job_budget(spark):
    """An executed round is about four Spark jobs under AQE: the map
    stages of its two message exchanges and the stats collect's two
    stages; the adjacency build and its (n, Δ) collect add a few more.
    A join-per-phase round is about eleven."""
    node_ids, edges = generate_graph(spark, 60, 6, seed=13)
    out = {}
    n_jobs = jobs_launched(
        spark,
        "test_coloring_job_budget",
        lambda: out.setdefault("result", minimal_coloring(node_ids, edges)),
    )
    executed = out["result"].attempts[0][2] - 1
    assert executed >= 2
    assert n_jobs <= 4 * executed + 6, (n_jobs, executed)


def test_validate_coloring_one_action(spark, monkeypatch):
    """The validator is one collect and no count, and counts each
    conflicting symmetric edge twice, as the reference does
    (coloring.py:157-159)."""
    und = [(0, 1), (1, 2), (2, 3), (3, 4), (0, 2)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    # conflicts on 0-1 (color 0) and 2-3 (color 1); 4 is uncolored, and
    # an uncolored endpoint is no conflict
    improper = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 1), (3, 1), (4, None)], "id long, color int"
    )
    proper = spark.createDataFrame(
        [(0, 0), (1, 1), (2, 2), (3, 0), (4, 1)], "id long, color int"
    )
    calls = _count_actions(monkeypatch, type(edges))
    assert validate_coloring(improper, edges) == (False, 1, 4)
    assert calls == {"collect": 1, "count": 0}, calls
    assert validate_coloring(proper, edges) == (True, 0, 0)


def test_palette_exhaustion_fails(spark):
    # triangle needs 3 colors; k=2 must fail (reference G5)
    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 1), (0, 2), (2, 0)], "src long, dst long"
    )
    node_ids = spark.range(3).select("id")
    verts = init_vertices(node_ids, edges)
    assert not color_graph_attempt(verts, edges, k=2).success
    assert color_graph_attempt(verts, edges, k=3).success


def test_empty_graph_uses_zero_colors(spark):
    """Review r5: max(color) over zero rows is NULL, which must report
    0 colors, not 1."""
    node_ids = spark.createDataFrame([], "id long")
    edges = spark.createDataFrame([], "src long, dst long")
    res = minimal_coloring(node_ids, edges)
    assert res.minimal_colors == 0
    assert res.vertices.count() == 0


def test_attempt_rejects_nonpositive_palette(spark):
    """Review r5: sequence(0, k-1) descends for k <= 0, which would
    hand out negative colors — must raise instead."""
    und = [(0, 1)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    verts = init_vertices(edges.select(F.col("src").alias("id")).distinct(), edges)
    with pytest.raises(ValueError, match="k must be >= 1"):
        color_graph_attempt(verts, edges, k=0)


def test_start_k_below_chromatic_reports_clearly(spark):
    """Review r5: a caller palette below the chromatic number is an
    expected outcome with its own message, not a bogus 'input graph is
    not simple/symmetric' diagnosis."""
    und = [(0, 1), (1, 2), (0, 2)]  # triangle: chromatic number 3
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    node_ids = spark.createDataFrame([(i,) for i in range(3)], "id long")
    with pytest.raises(ValueError, match="below the chromatic number"):
        minimal_coloring(node_ids, edges, start_k=2)


def test_read_graph_json_rejects_null_ids(spark, tmp_path):
    """Review r5: a node object missing 'id' must fail at the read
    boundary, not spin the coloring loop on an unjoinable NULL key."""
    import json as _json

    p = tmp_path / "bad_graph.json"
    p.write_text(
        _json.dumps(
            [
                {"id": 0, "neighbors": [1], "color": -1},
                {"neighbors": [0], "color": -1},
            ],
            indent=4,
        )
    )
    with pytest.raises(ValueError, match="NULL id"):
        read_graph_json(spark, str(p))


def test_minimal_coloring_respects_caller_persisted_edges(spark):
    """Persist ownership (an evicted caller cache once cost
    graph_color_customers 4.4 s → 16.8 s): a caller-persisted edge frame
    (the session customer-graph cache) must stay cached for the
    caller's validator and subsequent queries, and a cold edge frame,
    which minimal_coloring reads once, must not be left persisted."""
    node_ids, edges = generate_graph(spark, 40, 5, seed=11)

    cached = edges.persist()
    try:
        cached.count()  # materialize the caller's cache
        minimal_coloring(node_ids, cached)
        lvl = cached.storageLevel
        assert lvl.useMemory or lvl.useDisk, "caller cache was evicted"
    finally:
        cached.unpersist(False)

    # a cold frame is read by the adjacency build and never persisted
    node_ids2, cold = generate_graph(spark, 40, 5, seed=12)
    minimal_coloring(node_ids2, cold)
    lvl = cold.storageLevel
    assert not (lvl.useMemory or lvl.useDisk), "cold frame leaked"
