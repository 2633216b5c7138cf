"""Source/sink breadth + partition pruning.

The reference's only format is its JSON graph array (covered in
test_graph_io); an engine replacing it must also round-trip the
relational tables through the standard formats and prune partitioned
layouts at the scan — the properties that decide scan cost at 100 TB."""

from __future__ import annotations

from oracle_util import jobs_launched
from pyspark.sql import functions as F

from distributed_graph_coloring_with_pyspark_spark.plans.audit import plan_string
from distributed_graph_coloring_with_pyspark_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_csv_roundtrip(spark, tmp_path):
    nation = load_table(spark, SF, "nation")
    path = str(tmp_path / "nation_csv")
    nation.write.mode("overwrite").option("header", True).csv(path)
    back = spark.read.option("header", True).schema(nation.schema).csv(path)
    assert _sorted_rows(back) == _sorted_rows(nation)


def test_jsonl_roundtrip(spark, tmp_path):
    cust = load_table(spark, SF, "customer")
    path = str(tmp_path / "customer_jsonl")
    cust.write.mode("overwrite").json(path)  # JSON-lines, the distributed sink
    back = spark.read.schema(cust.schema).json(path)
    assert _sorted_rows(back) == _sorted_rows(cust)


def test_orc_roundtrip(spark, tmp_path):
    orders = load_table(spark, SF, "orders")
    path = str(tmp_path / "orders_orc")
    orders.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert _sorted_rows(back) == _sorted_rows(orders)


def test_orc_pushes_filters(spark, tmp_path):
    # ORC scans must push predicates just like parquet ones
    orders = load_table(spark, SF, "orders")
    path = str(tmp_path / "orders_orc2")
    orders.write.mode("overwrite").orc(path)
    p = plan_string(spark.read.orc(path).filter(F.col("o_custkey") == 7))
    assert "PushedFilters" in p and "o_custkey" in p.split("PushedFilters", 1)[1][:200]


def test_partitioned_write_prunes_at_scan(spark, tmp_path):
    """Hive-style partitioned layout + a partition-key filter must show
    up as PartitionFilters (pruned directories), not a post-scan filter
    — the difference between reading one partition and reading 100 TB."""
    ev = load_table(spark, SF, "events")
    path = str(tmp_path / "events_by_type")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)

    filtered = spark.read.parquet(path).filter(F.col("event_type") == "click")
    p = plan_string(filtered)
    assert "PartitionFilters" in p and "event_type" in p.split("PartitionFilters", 1)[1][:200]
    # count matches the unpartitioned filter
    assert filtered.count() == ev.filter(F.col("event_type") == "click").count()


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """DYNAMIC partition pruning — the star-schema scan eliminator at
    100 TB: joining a partitioned fact on its partition column against
    a selectively-filtered dim must inject a DynamicPruningExpression
    into the fact scan's PartitionFilters, so the partitions to read
    are decided at RUNTIME from the dim's surviving keys (static
    pruning can't see through the join).  Complements the static pins:
    the partition-key-filter test above and the IVF index's IN-list
    pruning (test_ivf_index.py)."""
    fact_path = str(tmp_path / "orders_by_priority")
    dim_path = str(tmp_path / "priority_dim")
    od = load_table(spark, SF, "orders")
    od.write.mode("overwrite").partitionBy("o_orderpriority").parquet(fact_path)
    prios = [r.o_orderpriority for r in od.select("o_orderpriority").distinct().collect()]
    spark.createDataFrame(
        [(p, "hot" if p.startswith("1") else "cold") for p in prios],
        "o_orderpriority string, tag string",
    ).write.mode("overwrite").parquet(dim_path)

    dim = spark.read.parquet(dim_path).filter(F.col("tag") == "hot")
    joined = spark.read.parquet(fact_path).join(dim, "o_orderpriority")
    assert "dynamicpruningexpression" in plan_string(joined).lower()
    # and the pruned result is the plain filtered answer
    want = od.filter(F.col("o_orderpriority").startswith("1")).count()
    assert joined.count() == want > 0


def test_events_ts_unit_sniff(spark, tmp_path):
    """The events loader adapts to the file's physical ts unit: micros
    (current generator) reads natively; int64/nanos (earlier
    generations, and what Spark writes for a LongType ts) takes the
    exact div-1000 path.  Both must yield identical timestamps."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from distributed_graph_coloring_with_pyspark_spark.sources.tables import (
        events_ts_is_nanos,
        load_table,
    )

    # real testdata is micros
    assert events_ts_is_nanos(SF) is False

    base = load_table(spark, SF, "events").limit(50).collect()
    # integer arithmetic end to end: .timestamp()*1e6 routes through
    # float64 (~0.24µs resolution at current epochs, truncating toward
    # zero) and could land the fixture 1µs off the base rows (ADVICE r4)
    import calendar

    micros = [
        calendar.timegm(r.ts.timetuple()) * 1_000_000 + r.ts.microsecond
        for r in base
    ]
    nanos_dir = tmp_path / "nanos"
    nanos_dir.mkdir()
    pq.write_table(
        pa.table(
            {
                "event_id": [r.event_id for r in base],
                "ts": pa.array([m * 1000 for m in micros], pa.int64()),
                "user_id": [r.user_id for r in base],
                "event_type": [r.event_type for r in base],
                "value": [r.value for r in base],
                "props": [r.props for r in base],
            }
        ),
        str(nanos_dir / "events.parquet"),
    )
    assert events_ts_is_nanos(str(nanos_dir)) is True
    got = load_table(spark, str(nanos_dir), "events").collect()
    assert sorted((r.event_id, r.ts) for r in got) == sorted(
        (r.event_id, r.ts) for r in base
    )


def test_multifile_corpus_layout(spark, tmp_path):
    """Operators must give identical answers when a table is a
    directory of part files (the real-corpus layout every 100 TB claim
    assumes) instead of one file.  Repartition documents+events into
    4-part directories and compare three representative operators
    against their single-file results."""
    from distributed_graph_coloring_with_pyspark_spark import cache
    from distributed_graph_coloring_with_pyspark_spark.operators.text_dedup import (
        dedup_near_minhash,
        dedup_ngram_jaccard,
        repetition_stats,
        text_stats,
    )
    from distributed_graph_coloring_with_pyspark_spark.streaming.events import (
        events_sessionization,
        streaming_hourly_counts,
    )

    sf = SF
    multi = tmp_path / "multi"
    multi.mkdir()
    for name in ("documents", "events"):
        load_table(spark, sf, name).repartition(4).write.parquet(
            str(multi / f"{name}.parquet")
        )
    cache.release(spark, "shingles")
    try:
        # dedup_ngram_jaccard exercises the session shingle cache on the
        # directory layout; the others exercise private projections
        for fn in (text_stats, repetition_stats, dedup_near_minhash, dedup_ngram_jaccard):
            a = _sorted_rows(fn(spark, sf))
            cache.release(spark, "shingles")
            b = _sorted_rows(fn(spark, str(multi)))
            assert a == b, fn.__name__
        # streaming file source must see the part files, not zero rows
        # (a glob of 'events.parquet' matches no part-*.parquet leaf)
        a = _sorted_rows(events_sessionization(spark, sf))
        b = _sorted_rows(events_sessionization(spark, str(multi)))
        assert a == b
        sa = _sorted_rows(streaming_hourly_counts(spark, sf))
        sb = _sorted_rows(streaming_hourly_counts(spark, str(multi)))
        assert sa and sa == sb
    finally:
        cache.release(spark, "shingles")


def test_load_table_infers_each_schema_once(spark, tmp_path):
    """The first ``load_table`` of a table infers its schema (a Spark
    job); a second load of the same table launches none.  A package
    writer that rewrites the path (compaction here) drops the kept
    schema, so the next load sees the new one."""
    from distributed_graph_coloring_with_pyspark_spark.sources.maintenance import (
        compact_parquet,
    )

    sf = str(tmp_path)
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(
        f"{sf}/part.parquet"
    )
    first = jobs_launched(spark, "load-first", lambda: load_table(spark, sf, "part"))
    again = jobs_launched(spark, "load-again", lambda: load_table(spark, sf, "part"))
    assert (first, again) == (1, 0)
    assert _sorted_rows(load_table(spark, sf, "part")) == [(1, "a")]

    src = str(tmp_path / "wider.parquet")
    spark.createDataFrame([(2, "b", 0.5)], "k long, v string, w double").write.parquet(
        src
    )
    compact_parquet(spark, src, f"{sf}/part.parquet")
    assert _sorted_rows(load_table(spark, sf, "part")) == [(2, "b", 0.5)]


def test_compact_parquet_preserves_content_and_shrinks_files(spark, tmp_path):
    """Small-file compaction (sources/maintenance.py): 40 kilobyte part
    files → size-targeted rewrite must (a) preserve every row (full
    value compare), (b) cut the file count to the byte-derived target,
    (c) report consistent numbers."""
    from distributed_graph_coloring_with_pyspark_spark.sources.maintenance import (
        _part_files,
        compact_parquet,
    )

    src = str(tmp_path / "frag")
    out = str(tmp_path / "compact")
    df = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    df.repartition(40).write.parquet(src)
    assert len(_part_files(src)) == 40

    report = compact_parquet(spark, src, out, target_mb=128).collect()[0]
    assert report.n_files_in == 40
    assert report.n_files_out < 10  # ~6 MB of data: far under one 128 MB target
    assert report.n_rows == df.count()
    before = sorted(tuple(r) for r in df.collect())
    after = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert before == after
