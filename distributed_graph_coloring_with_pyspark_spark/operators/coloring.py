"""Distributed greedy graph coloring — the reference's core algorithm,
rebuilt as DataFrame plans (reference: /root/reference/coloring.py:73-132,
coloring_optimized.py:70-146).

Data model (SURVEY.md §1): the reference shuffles pickled ``Node`` objects
whose ``neighbors`` are *object pointers* (node.py:4), so each shuffled
element drags a copy of its connected component. Here the graph is two
normalized DataFrames:

    vertices(id LONG, degree LONG, color INT)   -- color NULL = uncolored
    edges(src LONG, dst LONG)                   -- symmetric, like the
                                                   reference's doubled
                                                   adjacency (graph.py:40-41)

Per-round algorithm (one Spark action per round, vs the reference's
collectAsMap + broadcast + 2 counts + 4 shuffles, coloring.py:80-131).
One action is not one Spark job: under AQE each query stage runs as its
own job, and ``localCheckpoint(eager=False)`` runs the winner-side
shuffle stages when it is called, so a round is about 11 jobs (a traced
5k-vertex, Δ=8 ``minimal_coloring`` on local[4]: 77 jobs for the 7
rounds it runs):

1. candidates: for each uncolored vertex, ``used`` = set of neighbor
   colors (edges join colored vertices, groupBy src + collect_set);
   candidate = lowest color in [0, k) not in ``used`` — pure Catalyst:
   ``element_at(array_except(sequence(0, k-1), used), 1)``. NULL
   candidate ⇒ palette exhausted ⇒ the attempt fails (reference G5,
   coloring.py:104-108). This follows the *optimized* variant's semantic
   (zero colored neighbors ⇒ take color 0 immediately,
   coloring_optimized.py:159-160, not baseline's defer at coloring.py:48-49).
2. winners: a vertex keeps its candidate iff no neighbor shares the same
   candidate with lexicographically greater (degree, id) — an order-free
   Jones-Plassmann/Luby-style local-max rule replacing the reference's
   sequential per-bucket greedy scan (coloring.py:56-70,
   coloring_optimized.py:168-200), which is partition-order-dependent.
   Each color class is still an independent set (two adjacent winners
   with equal candidates is impossible: the lower-priority one loses).
3. patch: left join winners onto vertices, ``coalesce(old, new)``, then
   ``localCheckpoint(eager=False)`` to truncate lineage (the reference
   never truncates — its ``-Xss4m`` at coloring.py:198 exists to survive
   deep recursive lineage/pickling).  The checkpointed rows and the
   persisted candidate frame both materialize inside the next round's
   stats collect, so each round issues exactly ONE Spark action.

Progress: the globally max-priority uncolored vertex with a non-NULL
candidate always wins its round, so each round colors ≥1 vertex and the
loop terminates in ≤ |V| rounds (typically O(log n) for random graphs —
measured on local[32], generate+color+validate, validator-clean:
50 000 nodes / 383 000 directed edges → 9 rounds, 28 s; 500 000 nodes
/ 3.83 M edges → 8 rounds, 46 s — 10× the data for 1.65× the wall
clock, because the round count is size-stable and per-round work
parallelizes).

Scale notes (100 TB): every step is joins/aggregations on (id)-keyed
frames — shuffle-partitioned by Catalyst, AQE-coalesced, skew-join
splittable. The small ``winners``/``used`` sides become runtime
broadcast joins under AQE. No driver-side state grows with |V| (the
reference collects an id→color map to the driver every round,
coloring.py:136).
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


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
    """Build the loop state (id, degree, color=NULL) from a frame with an
    ``id`` column plus the symmetric edges frame."""
    return (
        node_ids.select("id")
        .join(degrees(edges), "id", "left")
        .select(
            "id",
            F.coalesce("degree", F.lit(0)).alias("degree"),
            F.lit(None).cast("int").alias("color"),
        )
    )


def _higher_priority(du: Column, u: Column, dv: Column, v: Column) -> Column:
    """(dv, v) lexicographically greater than (du, u) — deterministic
    tie-break replacing the reference's partition-order-dependent reduce
    (coloring.py:19-35) and greedy scan order (coloring.py:64 asc vs
    coloring_optimized.py:170-172 desc — the two variants disagree)."""
    return (dv > du) | ((dv == du) & (v > u))


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

    ``vertices`` must be (id, degree, color) with color all-NULL;
    ``edges`` symmetric and ideally persisted by the caller.
    """
    if k < 1:
        # review r5: sequence(0, k-1) DESCENDS for k <= 0 (Spark infers
        # step -1), which would hand out negative "colors" and report a
        # bogus success — fail loudly instead
        raise ValueError(f"color_graph_attempt: palette size k must be >= 1, got {k}")
    state = vertices.localCheckpoint(eager=False)
    rounds = 0
    max_candidates: list[int | None] = []
    prev_cand: DataFrame | None = None

    def _cleanup() -> None:
        if prev_cand is not None:
            prev_cand.unpersist(False)

    while True:
        rounds += 1
        if rounds > max_rounds:  # stall guard (reference G4, coloring.py:93-96;
            # unreachable here since every round makes progress, kept as a belt)
            _cleanup()
            return AttemptResult(False, state, rounds, -1, max_candidates)

        colored = state.filter(F.col("color").isNotNull()).select(
            F.col("id").alias("nbr_id"), F.col("color").alias("nbr_color")
        )
        used = (
            edges.join(colored, edges.dst == colored.nbr_id)
            .groupBy(F.col("src").alias("id"))
            .agg(F.collect_set("nbr_color").alias("used"))
        )
        cand = (
            state.filter(F.col("color").isNull())
            .join(used, "id", "left")
            .select(
                "id",
                "degree",
                F.try_element_at(
                    F.array_except(
                        # palette capped at degree+1 (pigeonhole: <= degree
                        # neighbor colors can block, so a free color always
                        # exists in 0..degree) -- EXACTLY equivalent to the
                        # full 0..k-1 sequence but per-vertex work becomes
                        # O(min(k, deg)) instead of O(k).  Matters when the
                        # Delta+1 seed meets a hub: a 10k-degree skew probe
                        # at k=10009 runs 37.5 s uncapped vs 15.8 s capped
                        # (r6 A/B, tools/scale_probe_graph.py).
                        F.sequence(
                            F.lit(0),
                            F.least(F.lit(k - 1), F.col("degree")).cast("int"),
                        ),
                        F.coalesce(F.col("used"), F.array().cast("array<int>")),
                    ),
                    F.lit(1),
                ).alias("candidate"),
            )
        )
        cand = cand.persist(StorageLevel.MEMORY_AND_DISK)

        # ONE action per round: remaining-uncolored + palette-exhausted
        # counts, and the largest candidate (minimal_coloring derives the
        # smaller-palette attempt from it).  This collect also
        # materializes the checkpointed ``state`` from the previous round
        # and caches ``cand`` for the winner join below.
        stats = cand.agg(
            F.count("*").alias("uncolored"),
            F.count(F.when(F.col("candidate").isNull(), 1)).alias("exhausted"),
            F.max("candidate").alias("max_candidate"),
        ).collect()[0]
        max_candidates.append(stats["max_candidate"])
        # the prior round's cand is now unreferenced (state was checkpointed
        # inside the collect above) — release it
        _cleanup()
        prev_cand = cand
        if stats["uncolored"] == 0:
            used_colors = state.agg(F.max("color")).collect()[0][0]
            _cleanup()
            # None-checked, not `or 0` (review r5): an EMPTY graph has
            # max(color) = NULL and uses zero colors, not one
            n_used = (used_colors + 1) if used_colors is not None else 0
            return AttemptResult(True, state, rounds, n_used, max_candidates)
        if stats["exhausted"] > 0:  # G5 failure detector (coloring.py:104-108)
            _cleanup()
            return AttemptResult(False, state, rounds, -1, max_candidates)

        c_src = cand.select(
            F.col("id").alias("u"), F.col("degree").alias("du"), F.col("candidate").alias("cu")
        )
        c_dst = cand.select(
            F.col("id").alias("v"), F.col("degree").alias("dv"), F.col("candidate").alias("cv")
        )
        losers = (
            edges.join(c_src, edges.src == c_src.u)
            .join(c_dst, edges.dst == c_dst.v)
            .filter(
                (F.col("cu") == F.col("cv"))
                & _higher_priority(F.col("du"), F.col("u"), F.col("dv"), F.col("v"))
            )
            .select(F.col("u").alias("id"))
        )
        winners = cand.join(losers, "id", "left_anti").select(
            "id", F.col("candidate").alias("new_color")
        )
        state = (
            state.join(winners, "id", "left")
            .select(
                "id",
                "degree",
                F.coalesce("color", "new_color").cast("int").alias("color"),
            )
            .localCheckpoint(eager=False)
        )


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

    Cache lifetime (ADVICE r6): each call registers one tracked persist
    of its vertex frame (see the verts0 note below) that lives until
    ``release_session_caches`` — deliberate for repeated colorings of
    the SAME graph (the bench/serve pattern).  Callers looping over many
    DISTINCT graphs (scale probes, library use) should call
    ``release_session_caches(spark)`` periodically, or each graph's
    blocks accumulate until Spark's LRU eviction.
    """
    caller_k = start_k is not None
    # persist-ownership discipline (perf regression r5: the bench showed
    # graph_color_customers 4.4 s → 16.8 s after the finally-unpersist
    # landed): when the CALLER hands in an already-persisted edge frame
    # (the session customer-graph cache, a caller's own working set),
    # unpersisting it here silently evicts THEIR cache — the flagship
    # query then rebuilt the edge projection for the in-query validator
    # and again on every subsequent run.  Only release what this
    # function itself persisted.
    edges_were_persisted = edges.storageLevel.useMemory or edges.storageLevel.useDisk
    if not edges_were_persisted:
        edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    # verts0 is a TRACKED persist (cache.py), not a per-call
    # persist/finally-unpersist pair: Spark's CacheManager matches
    # cached plans by canonicalized form, so a later coloring of the
    # same graph reuses these blocks outright — the r5 finally-unpersist
    # destroyed that reuse and cost the flagship ~0.7 s/run at sf0.1
    # plus a much longer warmup (r6 isolation of the graph-family
    # creep: 12-run steady state 4.6 → 3.9 s with the unpersist
    # removed).  The r5 leak concern stays addressed with the same
    # lifetime every session memo has: release_session_caches drops the
    # tracked blocks in bulk.
    from ..cache import persist_tracked

    verts0 = persist_tracked(node_ids.sparkSession, init_vertices(node_ids, edges))
    try:
        stats = verts0.agg(
            F.count("*").alias("n"), F.max("degree").alias("max_deg")
        ).collect()[0]
        if start_k is None:
            start_k = (stats["max_deg"] or 0) + 1  # Δ+1 always suffices (coloring.py:212)

        k = max(start_k, 1)
        # every round is joins/aggs over |V|-row frames — size the loop's
        # shuffle width to that, not to the session's scan-oriented value
        with scoped_shuffle_partitions(edges.sparkSession, int(stats["n"])):
            res = color_graph_attempt(verts0, edges, k, max_rounds=max_rounds)

        if not res.success:
            if caller_k:
                # review r5: a too-small CALLER palette is an expected
                # outcome, not a broken input — say so
                raise ValueError(
                    f"coloring failed: caller-supplied start_k={start_k} is"
                    " below the chromatic number; retry with a larger palette"
                    " or start_k=None for the Δ+1 guarantee"
                )
            # Even Δ+1 failed — impossible for a simple graph; only reachable
            # if the input violates the symmetric/no-self-loop contract.
            raise ValueError(
                "coloring failed at k = Δ+1; input graph is not simple/symmetric"
            )
        m = res.colors_used
        attempts = [(k, True, res.rounds)]
        if m >= 2:
            attempts.append((m - 1, False, _failing_round(res.max_candidates, m - 1)))
        return ColoringResult(m, res.vertices, attempts)
    finally:
        # the returned vertices are localCheckpoint-backed (materialized
        # by the attempt's final stats collect), so the edge blocks THIS
        # call persisted can be released; caller-persisted edges stay
        # cached (see ownership note above).  verts0 deliberately stays
        # cached under the tracked-persist registry for cross-call plan
        # reuse — release_session_caches is its lifetime.
        if not edges_were_persisted:
            edges.unpersist(False)


def validate_coloring(vertices: DataFrame, edges: DataFrame) -> tuple[bool, int, int]:
    """The reference's self-check oracle G6 (coloring.py:149-162):
    (a) completeness — no uncolored vertex remains; (b) properness — no
    edge joins two equal colors. Returns (valid, n_uncolored,
    conflict_count); symmetric edges mean each conflict edge counts twice,
    exactly like the reference (coloring.py:157-159).
    """
    n_uncolored = vertices.filter(F.col("color").isNull()).count()
    cs = vertices.select(F.col("id").alias("s_id"), F.col("color").alias("s_color"))
    cd = vertices.select(F.col("id").alias("d_id"), F.col("color").alias("d_color"))
    conflicts = (
        edges.join(cs, edges.src == cs.s_id)
        .join(cd, edges.dst == cd.d_id)
        .filter(F.col("s_color") == F.col("d_color"))
        .count()
    )
    return (n_uncolored == 0 and conflicts == 0, n_uncolored, conflicts)
