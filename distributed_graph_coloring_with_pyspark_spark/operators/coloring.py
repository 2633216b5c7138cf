"""Distributed greedy graph coloring: the reference's core algorithm
(the reference's coloring.py:73-132 and coloring_optimized.py:70-146)
as vertex-centric ("Pregel") rounds over one DataFrame.

Data model (SURVEY.md §1): the reference shuffles pickled ``Node``
objects whose ``neighbors`` are *object pointers* (node.py:4), so each
shuffled element drags a copy of its connected component.  Here the
loop state is one adjacency-list frame, built once per attempt:

    state(id LONG, degree LONG, nbrs ARRAY<LONG>, color INT)
                                    -- color NULL = uncolored

``nbrs`` is the vertex's row of the symmetric ``edges(src, dst)`` frame
(the reference's doubled adjacency, graph.py:40-41), gathered by one
``groupBy(id).collect_list(dst)`` over the union of the vertex ids and
the edges, and ``degree = size(nbrs)``.

Per round, two message exchanges and no joins (the reference spends a
collectAsMap, a broadcast, 2 counts and 4 shuffles, coloring.py:80-131):

1. candidates: each vertex's own row and one message per neighbour of
   every colored vertex (``explode(nbrs)`` carrying its color) meet in
   one ``groupBy(id)``, which gives ``used``, the set of neighbour
   colors.  An uncolored vertex's candidate is its lowest color in
   [0, min(k-1, degree)] not in ``used``.  The palette is capped at
   degree+1 because at most ``degree`` neighbour colors can block, so
   the cap is exactly the full [0, k) rule at O(min(k, degree)) work per
   vertex.  A NULL candidate means the palette is exhausted and the
   attempt fails (reference G5, coloring.py:104-108).  Zero colored
   neighbours means color 0 at once, the optimized variant's semantic
   (coloring_optimized.py:159-160, not baseline's defer at
   coloring.py:48-49).
2. winners: own rows and one ``(degree, id, candidate)`` message per
   neighbour of every vertex with a candidate meet in a second
   ``groupBy(id)``; a vertex keeps its candidate unless a neighbour
   proposed the same color with a lexicographically greater (degree,
   id).  This order-free Jones-Plassmann/Luby local-max rule replaces
   the reference's sequential per-bucket greedy scan
   (coloring.py:56-70, coloring_optimized.py:168-200), which depends on
   partition order.  Two adjacent winners never share a color: the
   lower-priority one loses.

The new state also carries the round's candidate and a
``was_uncolored`` flag.  It is ``localCheckpoint(eager=False)``-ed,
which truncates the lineage (the reference never truncates; its
``-Xss4m`` at coloring.py:198 survives deep recursive lineage), and ONE
stats collect over it returns the round's uncolored-before, exhausted,
max-candidate, uncolored-after and max-color figures.  Under AQE a
round is four Spark jobs: planning the checkpoint runs the two
exchanges' map stages, and the collect runs the stats' partial and
final aggregates.  A 5k-vertex, Δ=8 ``minimal_coloring`` on local[4]
runs 28 jobs: 4 for the adjacency build and its (n, Δ) collect (2 when
the adjacency is already cached), 4 for each of its 6 rounds.

Progress: the max-priority uncolored vertex with a candidate always
wins its round, so each round colors at least one vertex and the loop
ends within |V| rounds (O(log n) rounds on random graphs).  Both
exchanges are id-keyed aggregations, shuffle-partitioned by Catalyst
and coalesced by AQE; a vertex sends at most ``degree`` messages per
exchange.  No driver state grows with |V| (the reference collects an
id→color map to the driver every round, coloring.py:136).
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n_rows: int):
    """Clamp ``spark.sql.shuffle.partitions`` to the working-set size
    for the duration of a driver-side loop, restoring the session value
    after.  Small iterative workloads (thousands of rows per round) pay
    pure task-launch overhead on core-count-wide shuffles (measured at
    sf0.1: 6.2 s → 4.7 s); big inputs keep the session value and AQE
    still coalesces at runtime.  Assumes the engine's standard usage —
    one driver loop at a time per session (the same assumption any
    session-conf tuning makes)."""
    raw = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        sess = int(raw)
    except ValueError:
        # some deployments set a non-numeric value (e.g. "auto" under
        # third-party AQE layers) — fall back to the cluster's default
        # parallelism rather than crash, and restore the original string
        sess = spark.sparkContext.defaultParallelism
    # floor-then-min: never raise the width above the session value
    # (a session configured below 8 keeps its own setting)
    target = min(sess, max(8, -(-n_rows // 20_000)))
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(target))
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", raw)


def degrees(edges: DataFrame) -> DataFrame:
    """degree per vertex from a symmetric edges frame → (id, degree).

    Vertices with no edges are absent; callers left-join and coalesce to 0.
    Reference: ``len(node.neighbors)`` (coloring.py:10).
    """
    return edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("degree"))


def init_vertices(node_ids: DataFrame, edges: DataFrame) -> DataFrame:
    """(id, degree, color=NULL) from a frame with an ``id`` column plus
    the symmetric edges frame."""
    return (
        node_ids.select("id")
        .join(degrees(edges), "id", "left")
        .select(
            "id",
            F.coalesce("degree", F.lit(0)).alias("degree"),
            F.lit(None).cast("int").alias("color"),
        )
    )


def adjacency(node_ids: DataFrame, edges: DataFrame) -> DataFrame:
    """The loop state (id, degree, nbrs, color=NULL) from a frame with
    an ``id`` column plus the symmetric edges frame: each vertex's
    out-neighbours in one array, empty for an isolated vertex.  One
    exchange: the vertices' own rows and the edges meet in one
    ``groupBy(id)``, and edges whose ``src`` is not a vertex are
    dropped, as a left join of the neighbour lists would drop them."""
    own = node_ids.select("id", F.lit(None).cast("long").alias("dst"), F.lit(1).alias("own"))
    out = edges.select(F.col("src").alias("id"), "dst", F.lit(None).cast("int").alias("own"))
    return (
        own.unionByName(out)
        .groupBy("id")
        .agg(F.collect_list("dst").alias("nbrs"), F.max("own").alias("own"))
        .filter(F.col("own").isNotNull())
        .select(
            "id",
            F.size("nbrs").cast("long").alias("degree"),
            "nbrs",
            F.lit(None).cast("int").alias("color"),
        )
    )


# One round as two SQL texts, because a round's plan is rebuilt on the
# driver every round and one ``spark.sql`` call costs far fewer py4j
# calls than the same plan built Column by Column.  Each phase is a
# union of the vertices' own rows and their messages, grouped by the
# receiving id: ``max`` picks the one own row's fields out of a group
# (message rows carry NULL there), and a group with no own row (a
# message to an id missing from the vertex frame) is dropped.  Phase 2
# keeps a candidate unless a neighbour proposed it with a greater
# (degree, id): a deterministic tie-break, where the reference's reduce
# (coloring.py:19-35) and greedy scan order (coloring.py:64 asc vs
# coloring_optimized.py:170-172 desc) depend on partition order.
_CANDIDATES_SQL = """
SELECT id, degree, nbrs, color,
       CASE WHEN color IS NULL THEN try_element_at(array_except(
         sequence(0, CAST(least({top}, degree) AS INT)), used), 1) END AS cand
FROM (
  SELECT id, max(degree) AS degree, max(nbrs) AS nbrs, max(color) AS color,
         collect_set(msg) AS used
  FROM (
    SELECT id, degree, nbrs, color, CAST(NULL AS INT) AS msg FROM {state}
    UNION ALL
    SELECT explode(nbrs), NULL, NULL, NULL, color FROM {state}
    WHERE color IS NOT NULL
  )
  GROUP BY id
)
WHERE degree IS NOT NULL
"""

_WINNERS_SQL = """
SELECT id, degree, nbrs,
       CASE WHEN cand IS NOT NULL AND NOT exists(msgs, m -> m.c = cand
              AND (m.d > degree OR (m.d = degree AND m.i > id)))
            THEN cand ELSE old_color END AS color,
       cand, old_color IS NULL AS was_uncolored
FROM (
  SELECT id, max(degree) AS degree, max(nbrs) AS nbrs,
         max(color) AS old_color, max(cand) AS cand, collect_list(msg) AS msgs
  FROM (
    SELECT id, degree, nbrs, color, cand,
           CAST(NULL AS STRUCT<d: BIGINT, i: BIGINT, c: INT>) AS msg
    FROM {cands}
    UNION ALL
    SELECT explode(nbrs), NULL, NULL, NULL, NULL,
           named_struct('d', degree, 'i', id, 'c', cand)
    FROM {cands} WHERE cand IS NOT NULL
  )
  GROUP BY id
)
WHERE degree IS NOT NULL
"""

_ROUND_STATS_SQL = """
SELECT count_if(was_uncolored) AS uncolored,
       count_if(was_uncolored AND cand IS NULL) AS exhausted,
       max(cand) AS max_candidate,
       count_if(color IS NULL) AS uncolored_after,
       max(color) AS max_color
FROM {state}
"""


@dataclass
class AttemptResult:
    success: bool
    vertices: DataFrame  # final state; on failure, partial (callers keep last success)
    rounds: int
    colors_used: int  # max(color)+1 on success, else -1
    # max(candidate) over the uncolored vertices, one entry per round
    # (None once nothing is left uncolored)
    max_candidates: list[int | None]


@dataclass
class ColoringResult:
    minimal_colors: int
    vertices: DataFrame  # the LAST SUCCESSFUL coloring (fixes the reference's
    # save-after-failure bug, coloring.py:215-241 / colors.json fossil)
    # (k, ok, rounds) per descent attempt.  Only the first attempt runs;
    # the last entry's failing round is derived from the first attempt's
    # per-round candidate maxima, not executed (see minimal_coloring).
    attempts: list[tuple[int, bool, int]] = field(default_factory=list)


def color_graph_attempt(
    vertices: DataFrame, edges: DataFrame, k: int, max_rounds: int = 10_000
) -> AttemptResult:
    """One coloring attempt with palette [0, k). Reference G1
    (coloring.py:73-132).

    ``vertices`` supplies the vertex ids (an ``init_vertices`` frame or
    any frame with an ``id`` column); every vertex starts uncolored.
    ``edges`` is symmetric.  The attempt builds its ``adjacency`` state
    from the two and colors it.
    """
    return _color_rounds(adjacency(vertices, edges), k, max_rounds)


def _color_rounds(state: DataFrame, k: int, max_rounds: int) -> AttemptResult:
    """The round loop over an ``adjacency`` state.

    ``AttemptResult.rounds`` counts the round that would find nothing
    left to color, though it is not run: its answer is the last run
    round's uncolored-after count, and its ``max_candidates`` entry is
    None.  The returned vertices are (id, degree, color)."""
    if k < 1:
        # sequence(0, k-1) DESCENDS for k <= 0 (Spark infers step -1),
        # which would hand out negative "colors" and report a bogus
        # success — fail loudly instead
        raise ValueError(f"color_graph_attempt: palette size k must be >= 1, got {k}")
    spark = state.sparkSession
    # ``spark.sql`` reads a DataFrame argument through a temporary view,
    # and a view's plan does not pick up the frame's persisted blocks:
    # start the loop from a checkpoint, whose rows come from the cache
    state = state.localCheckpoint(eager=False)
    max_candidates: list[int | None] = []
    rounds = 0

    def result(success: bool, max_color: int | None = None) -> AttemptResult:
        # an EMPTY graph has max(color) = NULL and uses zero colors
        n_used = -1 if not success else (max_color + 1 if max_color is not None else 0)
        return AttemptResult(
            success, state.select("id", "degree", "color"), rounds, n_used, max_candidates
        )

    while True:
        rounds += 1
        if rounds > max_rounds:  # stall guard (reference G4, coloring.py:93-96;
            # unreachable here since every round makes progress, kept as a belt)
            return result(False)
        cands = spark.sql(_CANDIDATES_SQL, state=state, top=k - 1)
        state = spark.sql(_WINNERS_SQL, cands=cands).localCheckpoint(eager=False)
        # ONE action per round; it also materializes the checkpoint
        stats = spark.sql(_ROUND_STATS_SQL, state=state).collect()[0]
        max_candidates.append(stats["max_candidate"])
        if stats["uncolored"] == 0:
            return result(True, stats["max_color"])
        if stats["exhausted"] > 0:  # G5 failure detector (coloring.py:104-108)
            return result(False)
        if stats["uncolored_after"] == 0:
            rounds += 1  # the round that finds nothing left to color
            if rounds > max_rounds:
                return result(False)
            max_candidates.append(None)
            return result(True, stats["max_color"])


def _failing_round(max_candidates: list[int | None], k: int) -> int:
    """The round at which a palette-``k`` attempt fails, given a
    successful larger-palette attempt's per-round candidate maxima: the
    first round (1-based) that proposed a color ≥ ``k``."""
    for r, top in enumerate(max_candidates, 1):
        if top is not None and top >= k:
            return r
    raise RuntimeError(
        f"internal error: no round proposed a color >= {k}, but the"
        f" coloring used {k + 1} colors"
    )


def minimal_coloring(
    node_ids: DataFrame,
    edges: DataFrame,
    start_k: int | None = None,
    max_rounds: int = 10_000,
) -> ColoringResult:
    """Palette-descent driver (reference G7, coloring.py:211-241): start at
    k = Δ+1 (guaranteed colorable), re-color from scratch with a smaller
    palette until an attempt fails; minimal = last success's color count.

    Divergences from the reference, both documented in SURVEY.md §2.8/§7:
    - we keep (and report) the last *successful* coloring — the reference
      saves the failed attempt's partial coloring (colors.json fossil);
    - after a success using m ≤ k colors the next attempt is m-1, not
      k-1.

    Only the first attempt runs; the failing one is derived.  A palette-k′
    attempt gives each uncolored vertex the lowest free color in
    [0, min(k′-1, degree)], so it matches the palette-K attempt round for
    round until the first round where some uncolored vertex's candidate
    in the K run is ≥ k′.  In that round its k′ candidate is NULL and the
    exhaustion check fails the attempt.  The K run used m colors, so it
    proposed color m-1 in some round: for k′ = m-1 that round always
    exists, and the descent always ends after exactly two attempts.  The
    failing attempt's round count is the first round whose maximum
    candidate (``AttemptResult.max_candidates``) is ≥ m-1.

    ``edges`` is read once, by the adjacency build.  The adjacency state
    is a tracked persist (``cache.persist_tracked``) that lives until
    ``release_session_caches``: Spark's CacheManager matches cached
    plans by canonical form, so a later coloring of the same graph
    reuses its blocks.  Callers coloring many distinct graphs in one
    session should call ``release_session_caches(spark)`` now and then,
    or each graph's blocks stay until Spark's LRU eviction.
    """
    from ..cache import persist_tracked

    caller_k = start_k is not None
    adj = persist_tracked(node_ids.sparkSession, adjacency(node_ids, edges))
    stats = adj.agg(F.count("*").alias("n"), F.max("degree").alias("max_deg")).collect()[0]
    if start_k is None:
        start_k = (stats["max_deg"] or 0) + 1  # Δ+1 always suffices (coloring.py:212)

    k = max(start_k, 1)
    # every round aggregates |V|-row frames — size the loop's shuffle
    # width to that, not to the session's scan-oriented value
    with scoped_shuffle_partitions(edges.sparkSession, int(stats["n"])):
        res = _color_rounds(adj, k, max_rounds)

    if not res.success:
        if caller_k:
            # a too-small CALLER palette is an expected outcome, not a
            # broken input — say so
            raise ValueError(
                f"coloring failed: caller-supplied start_k={start_k} is"
                " below the chromatic number; retry with a larger palette"
                " or start_k=None for the Δ+1 guarantee"
            )
        # Even Δ+1 failed — impossible for a simple graph; only reachable
        # if the input violates the symmetric/no-self-loop contract.
        raise ValueError("coloring failed at k = Δ+1; input graph is not simple/symmetric")
    m = res.colors_used
    attempts = [(k, True, res.rounds)]
    if m >= 2:
        attempts.append((m - 1, False, _failing_round(res.max_candidates, m - 1)))
    return ColoringResult(m, res.vertices, attempts)


def validate_coloring(vertices: DataFrame, edges: DataFrame) -> tuple[bool, int, int]:
    """The reference's self-check oracle G6 (coloring.py:149-162):
    (a) completeness — no uncolored vertex remains; (b) properness — no
    edge joins two equal colors. Returns (valid, n_uncolored,
    conflict_count); symmetric edges mean each conflict edge counts twice,
    exactly like the reference (coloring.py:157-159).

    One Spark action: the uncolored vertices and the conflicting edges
    are counted by one aggregate over their union.
    """
    cs = vertices.select(F.col("id").alias("s_id"), F.col("color").alias("s_color"))
    cd = vertices.select(F.col("id").alias("d_id"), F.col("color").alias("d_color"))
    conflicts = (
        edges.join(cs, edges.src == cs.s_id)
        .join(cd, edges.dst == cd.d_id)
        .filter(F.col("s_color") == F.col("d_color"))
        .select(F.lit(0).alias("uncolored"), F.lit(1).alias("conflict"))
    )
    uncolored = vertices.filter(F.col("color").isNull()).select(
        F.lit(1).alias("uncolored"), F.lit(0).alias("conflict")
    )
    row = (
        uncolored.unionByName(conflicts)
        .agg(F.sum("uncolored").alias("uncolored"), F.sum("conflict").alias("conflicts"))
        .collect()[0]
    )
    n_uncolored, conflicts = row["uncolored"] or 0, row["conflicts"] or 0
    return (n_uncolored == 0 and conflicts == 0, n_uncolored, conflicts)
