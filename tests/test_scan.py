"""``scan.running_total`` against a pure-Python running sum, and the
width guard ``scan.widen_to_cores``."""

from __future__ import annotations

import random

import pytest

from distributed_graph_coloring_with_pyspark_spark.scan import (
    running_total,
    widen_to_cores,
)


def _reference(rows, order, weight=None, within=()):
    """{id: cum} by definition: the weight total of the rows of the same
    ``within`` group whose ``order`` key is ≤ the row's, ties included;
    and the per-group totals."""
    key = lambda r: tuple(r[c] for c in order)  # noqa: E731
    grp = lambda r: tuple(r[c] for c in within)  # noqa: E731
    wt = lambda r: 1 if weight is None else r[weight]  # noqa: E731
    cum = {
        r["id"]: sum(wt(s) for s in rows if grp(s) == grp(r) and key(s) <= key(r))
        for r in rows
    }
    totals = {}
    for r in rows:
        totals[grp(r)] = totals.get(grp(r), 0) + wt(r)
    return cum, totals


def _check(spark, rows, schema, order, weight=None, within=()):
    df = spark.createDataFrame(rows, schema)
    got, totals = running_total(df, order, weight, within)
    assert got.columns == df.columns + ["cum"]
    dicts = [r.asDict() for r in df.collect()]
    want_cum, want_totals = _reference(dicts, order, weight, within)
    assert {r["id"]: r["cum"] for r in got.collect()} == want_cum
    assert totals == want_totals
    return got


def test_empty_frame(spark):
    df = spark.createDataFrame([], "id long, k long, w long")
    got, totals = running_total(df, ["k"], "w")
    assert got.collect() == [] and totals == {}


def test_single_row(spark):
    _check(spark, [(0, 7, 3)], "id long, k long, w long", ["k"], "w")


def test_many_rows_on_one_key_do_not_straddle_a_cut(spark):
    # 300 of 400 rows share k = 50: the sampled cut points repeat that
    # value, and a tied row in a bucket of its own would miss the ties
    # counted in the next one
    rng = random.Random(3)
    rows = [
        (i, 50 if i < 300 else rng.randrange(100), rng.randrange(1, 9))
        for i in range(400)
    ]
    schema = "id long, k long, w long"
    _check(spark, rows, schema, ["k"], "w")
    _check(spark, rows, schema, ["k", "id"])


@pytest.mark.parametrize("ktype", ["long", "double"])
def test_integer_and_float_keys(spark, ktype):
    rng = random.Random(5)
    key = (lambda v: v / 7) if ktype == "double" else (lambda v: v)
    rows = [
        (i, key(rng.randrange(-500, 500)), rng.randrange(0, 5)) for i in range(500)
    ]
    _check(spark, rows, f"id long, k {ktype}, w long", ["k", "id"], "w")


def test_within_groups(spark):
    rng = random.Random(7)
    rows = [
        (i, rng.randrange(1000), rng.randrange(4), rng.randrange(1, 4))
        for i in range(400)
    ]
    _check(spark, rows, "id long, k long, g long, w long", ["k"], "w", ["g"])
    _check(spark, rows, "id long, k long, g long, w long", ["k", "id"], within=["g"])


def test_fewer_distinct_keys_than_cores(spark):
    assert spark.sparkContext.defaultParallelism > 2
    rows = [(i, i % 2, 1 + i % 3) for i in range(300)]
    _check(spark, rows, "id long, k long, w long", ["k"], "w")


def test_persistence_stays_with_the_caller(spark):
    """An unpersisted input is persisted only for the scan's actions;
    a persisted one stays persisted for the caller."""
    jsc = spark.sparkContext._jsc

    def persistent_ids():
        return set(jsc.getPersistentRDDs().keySet())

    rows = [(i, i * 3 % 17) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, k long")
    before = persistent_ids()
    got, _ = running_total(df, ["k", "id"])
    assert persistent_ids() - before == set()
    assert got.count() == 100

    kept = df.persist()
    try:
        running_total(kept, ["k", "id"])[0].count()
        assert kept.storageLevel.useMemory or kept.storageLevel.useDisk
    finally:
        kept.unpersist(True)


def test_widen_to_cores(spark):
    par = spark.sparkContext.defaultParallelism
    one = spark.range(10).coalesce(1)
    assert widen_to_cores(one).rdd.getNumPartitions() == par
    wide = spark.range(0, 10, numPartitions=par + 1)
    assert widen_to_cores(wide) is wide
