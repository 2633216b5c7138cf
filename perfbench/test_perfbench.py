"""Unit tests of the benchmark's own code; no Spark session needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import itertools
import json
import os

import numpy as np
import pytest

import run
import tables
from tracing import NullTracer, Span, _union_seconds, check_metric_names, fold, layer_table, read_event_log
from workloads import WORKLOADS, CheckFailed, CurationFunnel, reference_coloring

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "testdata")


@pytest.fixture(scope="module")
def recorded():
    """A traced session's event log, trimmed to the events the fold
    reads: the session span (2 jobs), ``demo.groupby`` (an aggregation
    over 4 partitions: 2 jobs), ``demo.count`` (1 job over 1 partition),
    then one job outside any span."""
    with open(os.path.join(DATA, "spans.json")) as fh:
        spans = [Span(**s) for s in json.load(fh)]
    return read_event_log(os.path.join(DATA, "eventlog")), spans


def _task_sum(events, stages, key):
    return sum(
        e["Task Metrics"][key]
        for e in events
        if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in stages
    )


def test_fold_counts_each_spans_jobs_stages_and_tasks(recorded):
    events, spans = recorded
    rows = fold(events, spans)
    assert set(rows) == {"session.get_spark#0", "demo.groupby#1", "demo.count#2"}
    counts = {
        sid: (r["jobs"], r["tasks"], r["single_task_stages"]) for sid, r in rows.items()
    }
    assert counts == {
        "session.get_spark#0": (2, 5, 1),
        "demo.groupby#1": (2, 5, 1),
        "demo.count#2": (1, 1, 1),
    }
    # stages 3 and 5 ran the aggregation; only its map side writes shuffle
    group = rows["demo.groupby#1"]
    assert group["exec_cpu_s"] == pytest.approx(
        _task_sum(events, {3, 5}, "Executor CPU Time") / 1e9
    )
    assert group["shuffle_write_bytes"] > 0
    assert rows["demo.count#2"]["shuffle_write_bytes"] == 0


def test_fold_driver_time_is_wall_outside_jobs(recorded):
    events, spans = recorded
    rows = fold(events, spans)
    span = next(s for s in spans if s.id == "demo.count#2")
    start = next(
        e["Submission Time"] / 1000
        for e in events
        if e["Event"] == "SparkListenerJobStart" and e["Job ID"] == 4
    )
    end = next(
        e["Completion Time"] / 1000
        for e in events
        if e["Event"] == "SparkListenerJobEnd" and e["Job ID"] == 4
    )
    row = rows["demo.count#2"]
    assert row["wall_s"] == pytest.approx(span.end - span.start)
    assert row["driver_s"] == pytest.approx(row["wall_s"] - (end - start))
    for r in rows.values():
        assert 0 <= r["driver_s"] <= r["wall_s"]


def test_fold_ignores_jobs_outside_spans(recorded):
    events, spans = recorded
    n_jobs = sum(e["Event"] == "SparkListenerJobStart" for e in events)
    assert n_jobs == 6
    assert sum(r["jobs"] for r in fold(events, spans).values()) == 5


def test_union_seconds_merges_overlaps():
    assert _union_seconds([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == pytest.approx(4)
    assert _union_seconds([]) == 0


def test_layer_table_sums_calls_per_op_then_takes_the_median():
    spans = [
        Span("q#0", "q", 1, 0, 1),
        Span("q#1", "q", 1, 1, 2),
        Span("q#2", "q", 2, 2, 5),
        Span("q#3", "q", 3, 5, 10),
        Span("s#4", "s", None, 0, 7),
    ]
    rows = {s.id: {**dict.fromkeys(run.FIELDS, 0), "wall_s": s.end - s.start, "jobs": 1} for s in spans}
    table = layer_table(spans, rows)
    assert table["q"]["wall_s"] == 3  # per op: 2, 3, 5
    assert table["q"]["jobs"] == 1  # per op: 2, 1, 1
    assert table["s"]["wall_s"] == 7


def test_steady_is_the_median_of_the_passing_timed_ops():
    ops = run.Ops.__new__(run.Ops)  # no session: only the bookkeeping
    ops.walls, ops.ok, ops.window = [30, 9, 8, 2, 3, 4], [True] * 6, 3
    assert (ops.cold, ops.timed, ops.steady) == (30, [2, 3, 4], 3)
    ops.ok[3] = False
    assert ops.steady == 3.5


class _Stub:
    name = "stub"

    def __init__(self, op, check):
        self.op = lambda spark, tracer: op()
        self.check = lambda spark, out: check(out)


def _raise(exc):
    raise exc


def test_attempt_reports_checked_counts_or_none():
    ok = _Stub(lambda: 3, lambda out: {"n": out})
    assert run.attempt(ok, None, NullTracer())[1] == {"n": 3}
    raised = _Stub(lambda: _raise(RuntimeError("op")), lambda out: {})
    assert run.attempt(raised, None, NullTracer())[1] is None
    wrong = _Stub(lambda: 3, lambda out: _raise(CheckFailed("check")))
    assert run.attempt(wrong, None, NullTracer())[1] is None


def test_tables_are_made_from_the_seed():
    def make(seed):
        rng = np.random.default_rng(seed)
        return {**tables.customer_tables(rng, 0.001), **tables.corpus_tables(rng, 0.001)}

    a, b, c = make(7), make(7), make(8)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["orders"].num_rows == 1500 and a["documents"].num_rows == 50


def test_curation_digest_ignores_row_order():
    class Row(tuple):
        doc_id = property(lambda self: self[0])

    dropped = [Row((3,)), Row((1,))]
    manifest = [(0, 0, 5, 4, 300), (1, 1, 2, 2, 90)]
    digest = CurationFunnel.digest(dropped, manifest)
    assert digest == CurationFunnel.digest(dropped[::-1], manifest[::-1])
    assert digest != CurationFunnel.digest(dropped[:1], manifest)


def test_overhead_compares_the_same_timed_ops():
    assert run.overhead([5, 3], [3, 2, 1, 1]) == pytest.approx(1.5)
    assert run.overhead([4], [3, 2]) == pytest.approx(1)


def test_metric_names_are_checked():
    check_metric_names(list(run.END_TO_END) + list(run.PER_LAYER))
    for bad in ("has space", "_leading", "x" * 65, "a/b"):
        with pytest.raises(ValueError):
            check_metric_names([bad])


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert spec["command"][:2] == ["python3", "perfbench/run.py"]


def _brute_force_colors(n, edges):
    for k in range(1, n + 1):
        for colors in itertools.product(range(k), repeat=n):
            if all(colors[u] != colors[v] for u, v in edges):
                return k
    return 0


@pytest.mark.parametrize(
    "n, edges, colors",
    [
        (4, [(0, 1), (1, 2), (2, 0), (2, 3)], 3),  # triangle with a tail
        (5, [(0, 1), (1, 2), (2, 3), (3, 4)], 2),  # path
        (3, [], 1),  # no edges
    ],
)
def test_reference_coloring_on_small_graphs(n, edges, colors):
    sym = np.array(edges + [(v, u) for u, v in edges], dtype=np.int64).reshape(-1, 2)
    got, attempts = reference_coloring(n, sym[:, 0], sym[:, 1])
    assert got == colors == _brute_force_colors(n, edges)
    assert attempts[-1][1] is False or attempts[-1][0] == 1
    assert all(ok for _, ok, _ in attempts[:-1])
