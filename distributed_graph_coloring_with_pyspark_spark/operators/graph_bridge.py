"""Graph-over-relational bridge (FIXTURES.md §3): derive a deterministic
graph fixture from the TPC-H-ish testdata and run the coloring engine on
it — the flagship query tying the reference's native domain (graph
coloring) to the extended relational surface.

Edge rule: two distinct customers are adjacent iff they ordered the SAME
part on the SAME calendar day (``orders ⋈ lineitem``, symmetrized,
self-loops removed). The share-any-part projection is near-complete even
at sf0.001 (avg degree 146 of 149 — measured), so the day restriction is
what keeps the co-purchase graph sparse and the fixture meaningful;
density stays ~1-2 avg degree across scale factors.

Scale: the bipartite projection groups by (part, day) — bounded fan-out
per group — then pair-joins within groups. The pair join is quadratic
*per cell*, so a hot (part, day) cell is the one real 100× risk; the
``_CELL_CAP`` filter makes the projection scale-safe by construction
(a cell hotter than the cap contributes ≥ cap² pairs — drop it, exactly
like LSH bucket caps in text_dedup). The cap is mirrored in the DuckDB
oracles, and is far above any cell size the synthetic data produces, so
results are unchanged at test scale. No driver-side state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cache
from ..sources.tables import load_table
from .coloring import minimal_coloring, scoped_shuffle_partitions, validate_coloring

_CELL_CAP = 1000  # max customers per (part, day) cell before it is dropped


def customer_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric edges(src, dst): customers sharing a (part, order-day).

    The persisted edge frame is memoized per (session, sf_dir) — four
    queries share this projection (the engine-side equivalent of a
    materialized view).  Release with
    ``clear_customer_graph_cache(spark)``."""
    return cache.memo(
        spark,
        "customer_graph",
        sf_dir,
        lambda: _build_customer_graph_edges(spark, sf_dir).persist(),
    )


def clear_customer_graph_cache(spark: SparkSession) -> int:
    """Unpersist and drop every memoized edge frame of this session;
    returns the number of entries released."""
    return cache.release(spark, "customer_graph")["customer_graph"]


def _build_customer_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cp = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .select(
            F.col("o_custkey").alias("c"),
            F.col("l_partkey").alias("p"),
            F.date_trunc("day", "o_orderdate").alias("dy"),
        )
        .distinct()
    )
    # skew guard: drop pathological (part, day) cells before the pair join
    cp = cp.join(
        cp.groupBy("p", "dy").count().filter(F.col("count") <= _CELL_CAP).drop("count"),
        ["p", "dy"],
    )
    a = cp.select(F.col("c").alias("src"), "p", "dy")
    b = cp.select(F.col("c").alias("dst"), "p", "dy")
    return (
        a.join(b, ["p", "dy"])
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the fixture graph → (degree, n_customers)."""
    edges = customer_graph_edges(spark, sf_dir)
    cu = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("id"))
    deg = edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("degree"))
    return (
        cu.join(deg, "id", "left")
        .select(F.coalesce("degree", F.lit(0)).alias("degree"))
        .groupBy("degree")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("degree")
    )


def graph_avg_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean/max degree of the fixture graph (reference A1
    ``average_degree``, coloring.py:9-10 — dead code there, a first-class
    query here; max degree is the palette seed Δ+1, coloring.py:212)."""
    edges = customer_graph_edges(spark, sf_dir)
    cu = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("id"))
    deg = edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("degree"))
    return (
        cu.join(deg, "id", "left")
        .select(F.coalesce("degree", F.lit(0)).alias("degree"))
        .agg(
            F.round(F.avg("degree"), 6).alias("avg_degree"),
            F.max("degree").alias("max_degree"),
            F.count("*").alias("n_vertices"),
        )
    )


def color_customer_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: minimal proper coloring of the customer fixture graph.
    Returns (id, color) — validity is asserted (the reference's G6 oracle
    is the correctness check; not SQL-expressible, so the driver records
    a rows-only check for this one)."""
    edges = customer_graph_edges(spark, sf_dir)
    # Materialize the (persisted) edge frame BEFORE any narrowed scope:
    # the edge build's shuffles (lineitem⋈orders, the (p,dy) self-join)
    # scale with |lineitem|, not |V|, and must run at the session's
    # shuffle width.  The count also sizes the validator's clamp below.
    n_edge_rows = edges.count()
    cu = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("id"))
    result = minimal_coloring(cu, edges)  # sizes its own loop scope by |V|
    # the validator joins edges×vertices — clamp by the larger side
    with scoped_shuffle_partitions(spark, n_edge_rows):
        valid, n_uncolored, conflicts = validate_coloring(result.vertices, edges)
    if not valid:
        raise AssertionError(
            f"invalid coloring: uncolored={n_uncolored} conflicts={conflicts}"
        )
    return result.vertices.select("id", F.col("color").cast("long").alias("color"))


QUERIES = {
    "customer_graph_edges": customer_graph_edges,
    "graph_degree_stats": graph_degree_stats,
    "graph_avg_degree": graph_avg_degree,
    "graph_color_customers": color_customer_graph,
}

# The shared DuckDB definition of the fixture graph's symmetric edge set
# (`e(src, dst)`), mirroring _build_customer_graph_edges including the
# _CELL_CAP skew guard.  Splice as  f"WITH {EDGES_CTE}, ..."  — every
# oracle over the fixture graph (here and in graph_analytics.py) reuses
# this one definition so the two engines can never drift per-query.
EDGES_CTE = f"""cp0 AS (
            SELECT DISTINCT o_custkey AS c, l_partkey AS p,
                   date_trunc('day', o_orderdate) AS dy
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ),
        cp AS (
            SELECT c, p, dy FROM cp0
            QUALIFY count(*) OVER (PARTITION BY p, dy) <= {_CELL_CAP}
        ),
        e AS (
            SELECT DISTINCT a.c AS src, b.c AS dst
            FROM cp a JOIN cp b USING (p, dy)
            WHERE a.c <> b.c
        )"""

ORACLES = {
    "customer_graph_edges": f"""
        WITH {EDGES_CTE}
        SELECT src, dst FROM e
    """,
    "graph_degree_stats": f"""
        WITH {EDGES_CTE},
        deg AS (SELECT src AS id, count(*) AS degree FROM e GROUP BY src)
        SELECT coalesce(degree, 0) AS degree, count(*) AS n_customers
        FROM customer LEFT JOIN deg ON c_custkey = id
        GROUP BY 1
        ORDER BY degree
    """,
    "graph_avg_degree": f"""
        WITH {EDGES_CTE},
        deg AS (SELECT src AS id, count(*) AS degree FROM e GROUP BY src)
        SELECT round(avg(coalesce(degree, 0)), 6) AS avg_degree,
               max(coalesce(degree, 0)) AS max_degree,
               count(*) AS n_vertices
        FROM customer LEFT JOIN deg ON c_custkey = id
    """,
    # graph_color_customers: not SQL-expressible (iterative fixed-point);
    # rows-only check + the G6 validator assertion inside the query itself.
}
