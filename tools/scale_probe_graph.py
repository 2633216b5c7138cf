"""10× scaling probes for the graph-analytics family + the skewed
coloring probe (VERDICT r5 #6/#7): the families whose SCALE.md curves
were argued but not measured.

Runs on synthetic graphs from the distributed generator (the fixture
graph has one size per sf, so scaling needs generated inputs):

  * pagerank_ranks / triangle_stats / kcore_numbers at 100k and 1M
    nodes (Δ=8) — 10× nodes AND edges;
  * minimal_coloring on a POWER-LAW-ish star fixture (uniform Δ=8
    background + one hub adjacent to 10k vertices) at 100k nodes,
    exercising the AQE skew-join path in the candidate/winner joins
    that the uniform 50k/500k curve (SCALE.md §Coloring) never hits.

Each measurement is the SECOND run (warm — JIT/codegen amortized, same
convention as bench.py's medians); the skewed coloring prints its cold
run too, and the `xl`/`xxl` colorings run once.  Results are
transcribed into SCALE.md; re-run with `python tools/scale_probe_graph.py`.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from distributed_graph_coloring_with_pyspark_spark.operators.coloring import (
    degrees,
    minimal_coloring,
    validate_coloring,
)
from distributed_graph_coloring_with_pyspark_spark.operators.graph_analytics import (
    kcore_numbers,
    pagerank_ranks,
    triangle_stats,
)
from distributed_graph_coloring_with_pyspark_spark.session import get_spark
from distributed_graph_coloring_with_pyspark_spark.sources.generator import (
    generate_graph_distributed,
)


def _timed(label, fn, runs=2):
    last = None
    for _ in range(runs):
        t0 = time.monotonic()
        fn()
        last = time.monotonic() - t0
    print(f"{label}: {last:.1f} s (warm)", flush=True)
    return last


def main() -> int:
    # run a subset with `python tools/scale_probe_graph.py [tenx] [skew] [xl]`
    # (each family alone fits a ~10 min harness timeout; default: the two
    # cheap parts — `xl`/`xxl` are the 8M/16M decade probes, each
    # ~10-30 min alone)
    parts = set(sys.argv[1:]) or {"tenx", "skew"}
    spark = get_spark(app_name="dgc-graph-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    for n in (100_000, 1_000_000) if "tenx" in parts else ():
        node_ids, edges = generate_graph_distributed(spark, n, 8, seed=42)
        edges = edges.persist()
        n_edges = edges.count()  # materialize once; probes time the op
        verts = (
            node_ids.join(degrees(edges), "id", "left")
            .select("id", F.coalesce("degree", F.lit(0)).alias("out_deg"))
            .persist()
        )
        verts.count()
        print(f"--- n={n:,} sym_edges={n_edges:,} ---", flush=True)
        _timed(
            f"pagerank n={n}",
            lambda: pagerank_ranks(verts, edges, n)
            .write.format("noop")
            .mode("overwrite")
            .save(),
        )
        _timed(
            f"triangles n={n}",
            lambda: triangle_stats(edges)
            .write.format("noop")
            .mode("overwrite")
            .save(),
        )
        _timed(
            f"kcore n={n}",
            lambda: kcore_numbers(edges)
            .write.format("noop")
            .mode("overwrite")
            .save(),
        )
        verts.unpersist()
        edges.unpersist()

    # skewed coloring: uniform background + one high-degree hub.
    # `skew` is the original 100k/10k-hub probe (r6); `xl` extends the
    # SCALE.md coloring curve one decade past the 4M point (VERDICT r10
    # #6) AND keeps the hub so the degree-capped palette + AQE skew
    # paths are exercised at curve scale, not just at 100k.
    # `xxl` (r12, VERDICT r11 #7): one decade further — 16M nodes /
    # ~100M directed edges, same 50k hub; confirms the round count
    # stays flat (<=10) while wall grows ~linearly with edges.
    for part, n, hub_deg, runs in (
        ("skew", 100_000, 10_000, 2),
        ("xl", 8_000_000, 50_000, 1),
        ("xxl", 16_000_000, 50_000, 1),
    ):
        if part not in parts:
            continue
        node_ids, bg = generate_graph_distributed(spark, n, 8, seed=42)
        spokes = spark.range(1, hub_deg + 1).select(
            F.lit(0).cast("long").alias("src"), F.col("id").alias("dst")
        )
        edges = (
            bg.unionByName(spokes)
            .unionByName(
                spokes.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .persist()
        )
        ne = edges.count()
        hd = edges.groupBy("src").count().agg(F.max("count")).collect()[0][0]
        print(
            f"--- skewed coloring ({part}) n={n:,} sym_edges={ne:,} "
            f"max_degree={hd:,} ---",
            flush=True,
        )
        for run in range(runs):
            t0 = time.monotonic()
            res = minimal_coloring(node_ids, edges)  # Δ+1 seed = hub_deg+1 —
            # the skew case that motivated the degree-capped palette expression
            valid, nu, cf = validate_coloring(res.vertices, edges)
            wall = time.monotonic() - t0
            print(
                f"skewed coloring ({part}, {'warm' if run else 'cold'}): {wall:.1f} s,"
                f" colors={res.minimal_colors}, attempts={res.attempts},"
                f" valid={valid} (uncolored={nu}, conflicts={cf})",
                flush=True,
            )
            assert valid
        edges.unpersist()
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
