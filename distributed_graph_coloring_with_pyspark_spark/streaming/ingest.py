"""Streaming near-duplicate ingestion gate — the ONLINE form of the
dedup family: documents arrive as a Structured Streaming file source,
and each micro-batch is admitted or rejected against everything kept so
far.  This is the shape a production corpus builder actually runs (new
crawl slices land continuously; re-running batch dedup over the full
corpus per slice is quadratic in wall-clock), and it composes the
engine's existing verified pieces:

- the MinHash band machinery of ``dedup_near_minhash`` /
  ``build_minhash_index`` (operators/text_dedup.py) generates
  candidates — band keys only, 8-byte join keys, no text shuffles;
- candidates are exact-verified with the shared 3-gram Jaccard
  expression before anything is dropped (precision 1 by construction,
  the prefilter-then-verify discipline every dedup tier uses);
- within a batch, survivors are the LEXICOGRAPHICALLY-FIRST maximal
  independent set of the verified pair graph — equivalent to feeding
  the docs one-by-one through "keep unless near-dup of something
  already kept" (classic online/greedy dedup), computed by the same
  local-min round loop as the coloring core rather than a sequential
  scan;
- state (kept corpus + band index + decision log) is ONE
  (kind, epoch)-partitioned parquet store maintained by ``foreachBatch``
  with dynamic partition overwrite — a single write job + commit per
  epoch lands all three kinds transactionally (r15; they were three
  separate writes = three jobs + three commits of batch-sized frames):
  a replayed epoch overwrites exactly its own partitions and reads only
  strictly-earlier epochs, so restarts are exactly-once (same
  idempotency pattern as streaming_scd2_incremental).

Semantics (the python-oracle contract, tests/test_streaming_ingest.py):
with documents arriving in doc_id order, a doc is KEPT iff it is not a
near-dup (3-gram Jaccard ≥ 0.5) of any earlier kept doc — replayed
greedily by an independent pure-Python reference over all-pairs exact
Jaccard.  Banding can in principle miss a true pair (recall 0.99 at
the threshold); on the test corpus banding is pair-complete (the same
measured property dedup_near_minhash's oracle equality rests on), so
the gate is checked for exact equality.

100 TB notes: per-epoch work is batch-sized signatures + an equi-join
against the standing band index (partitioned parquet, band-pruned);
the kept-corpus text is read only for docs an LSH bucket actually
flagged.  The index grows uncapped per epoch — hot-bucket capping is a
compaction-time concern (``build_minhash_index`` applies it when
rebuilding the standing index from the kept corpus).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.coloring import scoped_shuffle_partitions
from ..operators.text_dedup import (
    _JACCARD_THRESHOLD,
    _minhash_band_frame,
    _shingles,
    _tokens,
)

DOC_STREAM_SCHEMA = "doc_id long, text string"
_N_CHUNKS = 4  # arrival slices for the corpus-driven entry below

# The fused state store's on-file schema (every kind partition carries
# the full union schema with typed NULLs; ``kind`` and ``epoch`` are
# partition columns — ``kind`` is below each reader's root, so only
# ``epoch`` appears).  Passed EXPLICITLY to every state read (r15,
# guide §1.2 driver work): schema inference re-listed and re-read
# parquet footers on every per-epoch read — measured 135 -> 42 ms per
# read construction, ×2 reads per epoch, plus one fewer tiny job each.
_STORE_SCHEMA = (
    "doc_id long, verdict string, matched_doc long, "
    "text string, band int, bucket long, epoch int"
)


def _greedy_survivors(
    cand: DataFrame, pairs: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Greedy-by-id online dedup inside one batch: docs in ``cand``
    (doc_id) processed in id order, each kept unless a verified pair
    links it to an already-kept doc.  Equivalent formulation: the
    lexicographically-first maximal independent set of the pair graph —
    computed as a local-min round loop (a doc wins a round when every
    UNDECIDED neighbor has a larger id; its neighbors lose), the same
    order-free rewrite the coloring core uses for the reference's
    sequential greedy (operators/coloring.py §winners).  Rounds are
    O(longest monotone path); ONE count action per round.

    Returns (kept(doc_id), dropped(doc_id, matched_doc)) with
    matched_doc = the smallest kept neighbor that caused the drop."""
    sym = pairs.select(F.col("a").alias("id"), F.col("b").alias("nbr")).unionByName(
        pairs.select(F.col("b").alias("id"), F.col("a").alias("nbr"))
    )
    undecided = cand.select(F.col("doc_id").alias("id")).localCheckpoint(eager=False)
    kept = None
    dropped = None
    while undecided.count() > 0:
        e = (
            sym.join(undecided, "id", "semi")
            .join(undecided.withColumnRenamed("id", "nbr"), "nbr", "semi")
        )
        nbr_min = e.groupBy("id").agg(F.min("nbr").alias("nbr_min"))
        winners = (
            undecided.join(nbr_min, "id", "left")
            .filter(F.col("nbr_min").isNull() | (F.col("nbr_min") > F.col("id")))
            .select("id")
        )
        losers = (
            e.join(winners.withColumnRenamed("id", "nbr"), "nbr", "semi")
            .groupBy("id")
            .agg(F.min("nbr").alias("matched_doc"))
        )
        kept = winners if kept is None else kept.unionByName(winners)
        dropped = losers if dropped is None else dropped.unionByName(losers)
        undecided = (
            undecided.join(winners, "id", "anti")
            .join(losers.select("id"), "id", "anti")
            .localCheckpoint(eager=False)
        )
    empty_k = cand.sparkSession.createDataFrame([], "id long")
    empty_d = cand.sparkSession.createDataFrame([], "id long, matched_doc long")
    return (kept if kept is not None else empty_k), (
        dropped if dropped is not None else empty_d
    )


def write_arrival_file(df: DataFrame, src_dir: str, name: str) -> None:
    """Land ``df`` in the monitored directory as ONE plain parquet file
    (the classic atomic-drop feed pattern): the streaming file source
    lists leaf files, so a Spark-written parquet DIRECTORY would not be
    picked up as a single arrival.  Written to a sibling temp dir and
    renamed in — rename is atomic on one filesystem, so the source can
    never observe a half-written file."""
    import glob
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="arrival_", dir=os.path.dirname(src_dir))
    try:
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(tmp, "p"))
        [part] = glob.glob(os.path.join(tmp, "p", "part-*.parquet"))
        os.replace(part, os.path.join(src_dir, f"{name}.parquet"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _state_paths(state_dir: str) -> tuple[str, str, str]:
    """The three logical state stores (kept corpus, band index, decision
    log).  Since r15 they are the ``kind=`` partitions of ONE
    (kind, epoch)-partitioned parquet store, so an epoch commits all
    three in ONE write job + commit instead of three (VERDICT r14 #1:
    two of the gate's per-epoch jobs were pure commit overhead).  Each
    returned path is a kind-partition directory — reading it directly
    sees exactly the epoch-partitioned frame the old per-store layout
    held (column pruning drops the other kinds' all-NULL columns), so
    every reader below is unchanged."""
    store = os.path.join(state_dir, "store")
    return (
        os.path.join(store, "kind=kept"),
        os.path.join(store, "kind=index"),
        os.path.join(store, "kind=decisions"),
    )


_LEGACY_STATE_DIRS = ("kept", "index", "decisions")  # the older layout:
# one top-level epoch-partitioned dir per store instead of ``store/kind=*``


def _refuse_legacy_state(state_dir: str) -> None:
    """Raise ``ValueError`` when ``state_dir`` holds the older per-store
    layout (top-level ``kept/``, ``index/`` or ``decisions/`` dirs).  The
    gate reads only ``store/kind=*``, so it would take such a state dir
    for an empty corpus and admit every duplicate of what it kept."""
    legacy = [
        d for d in _LEGACY_STATE_DIRS if os.path.isdir(os.path.join(state_dir, d))
    ]
    if legacy:
        raise ValueError(
            f"gate state at {state_dir} uses the legacy per-store layout "
            f"({', '.join(d + '/' for d in legacy)}), which this gate does "
            "not read; continuing would treat the kept corpus as empty. "
            "Start from a fresh state_dir or migrate the state first"
        )


def _has_epochs(path: str) -> bool:
    return os.path.isdir(path) and any(e.startswith("epoch=") for e in os.listdir(path))


def _decisions_frame(spark: SparkSession, dec_dir: str) -> DataFrame:
    """Decision log as a DataFrame; an EMPTY log (no epoch ever wrote —
    empty corpus, or every arrival file was an empty replay) is a valid
    state and returns an empty frame with the contract schema instead
    of crashing on a nonexistent parquet path (ADVICE r11)."""
    if not _has_epochs(dec_dir):
        return spark.createDataFrame(
            [], "doc_id long, verdict string, matched_doc long"
        )
    return (
        spark.read.schema(_STORE_SCHEMA)
        .parquet(dec_dir)
        .select("doc_id", "verdict", "matched_doc")
    )


def _gate_epoch(
    spark: SparkSession, state_dir: str, batch_df: DataFrame, epoch_id: int
) -> None:
    cur = int(epoch_id)
    kept_dir, idx_dir, dec_dir = _state_paths(state_dir)
    # sever from the streaming source so the several reuses below don't
    # re-trigger the file scan; batches are file-sized (bounded).  ONE
    # eager checkpoint carries text AND shingles (r14 opt: the gate
    # paid two materialization jobs per epoch for frames over the same
    # batch — guide §1.2, fewer passes)
    b = batch_df.select(
        "doc_id", "text", _shingles(_tokens()).alias("shingles")
    ).localCheckpoint(eager=True)
    n_batch = b.count()  # cheap: counts the checkpointed blocks
    if n_batch == 0:
        return  # replayed empty epoch
    # Width scales with the WHOLE epoch working set, not just the batch
    # (ADVICE r14): the vs-corpus join's left side is the standing kept
    # corpus, which grows across epochs — a clamp sized to the batch
    # alone would funnel an ever-growing sort-merge join through as few
    # as 8 partitions once the corpus outgrows the broadcast threshold.
    # n_batch * (cur + 1) is a stateless upper-bound proxy for "docs
    # seen so far" (epochs are roughly batch-sized feeds); it still
    # never exceeds the session value (scoped_shuffle_partitions only
    # clamps downward), so big deployments keep their configured width.
    with scoped_shuffle_partitions(spark, n_batch * (cur + 1)):
        _gate_epoch_body(spark, cur, kept_dir, idx_dir, dec_dir, b)


def _gate_epoch_body(
    spark: SparkSession,
    cur: int,
    kept_dir: str,
    idx_dir: str,
    dec_dir: str,
    b: DataFrame,
) -> None:
    """The batch-sized epoch work, run under a shuffle width clamped to
    the batch row count (r14 opt — coloring.py's scoped-width
    discipline: a micro-batch's joins are working-set-sized, so a
    core-count-wide shuffle is pure task-launch overhead; measured
    ~0.85 s/epoch at sf0.1, scale-adaptive by construction since the
    width derives from the batch size and never exceeds the session
    value)."""
    sh_b = b.select("doc_id", "shingles")
    bands_b = _minhash_band_frame(sh_b)

    # --- vs the standing kept corpus (strictly earlier epochs only:
    # a replay of THIS epoch must not see its own partial writes) ---
    if _has_epochs(idx_dir):
        idx = (
            spark.read.schema(_STORE_SCHEMA)
            .parquet(idx_dir)
            .filter(F.col("epoch") < cur)
            .select(F.col("doc_id").alias("corpus_doc"), "band", "bucket")
        )
        cand = (
            bands_b.withColumnRenamed("doc_id", "batch_doc")
            .join(idx, ["band", "bucket"])
            .select("batch_doc", "corpus_doc")
            .distinct()
        )
        corpus_sh = (
            spark.read.schema(_STORE_SCHEMA)
            .parquet(kept_dir)
            .filter(F.col("epoch") < cur)
            .join(
                cand.select(F.col("corpus_doc").alias("doc_id")).distinct(),
                "doc_id",
                "semi",
            )
            .select(
                F.col("doc_id").alias("corpus_doc"),
                _shingles(_tokens()).alias("sb"),
            )
        )
        vs_corpus = (
            cand.join(
                sh_b.select(
                    F.col("doc_id").alias("batch_doc"),
                    F.col("shingles").alias("sa"),
                ),
                "batch_doc",
            )
            .join(corpus_sh, "corpus_doc")
            .filter(
                F.size(F.array_intersect("sa", "sb"))
                >= F.lit(_JACCARD_THRESHOLD) * F.size(F.array_union("sa", "sb"))
            )
            .groupBy(F.col("batch_doc").alias("doc_id"))
            .agg(F.min("corpus_doc").alias("matched_doc"))
            # LAZY checkpoint (r14 opt): the pairs checkpoint below is
            # the first action over this frame (via cand_batch's anti
            # join) and materializes it as a side effect — an eager
            # checkpoint here was one extra per-epoch job
            .localCheckpoint(eager=False)
        )
    else:
        vs_corpus = spark.createDataFrame([], "doc_id long, matched_doc long")

    # --- within-batch survivors (greedy by id over verified pairs) ---
    cand_batch = b.select("doc_id").join(vs_corpus.select("doc_id"), "doc_id", "anti")
    bands_c = bands_b.join(cand_batch, "doc_id", "semi")
    raw_pairs = (
        bands_c.select(F.col("doc_id").alias("a"), "band", "bucket")
        .join(
            bands_c.select(F.col("doc_id").alias("b"), "band", "bucket"),
            ["band", "bucket"],
        )
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    pairs = (
        raw_pairs.join(
            sh_b.select(F.col("doc_id").alias("a"), F.col("shingles").alias("sa")),
            "a",
        )
        .join(
            sh_b.select(F.col("doc_id").alias("b"), F.col("shingles").alias("sb")),
            "b",
        )
        .filter(
            F.size(F.array_intersect("sa", "sb"))
            >= F.lit(_JACCARD_THRESHOLD) * F.size(F.array_union("sa", "sb"))
        )
        .select("a", "b")
        .localCheckpoint(eager=True)
    )
    if pairs.isEmpty():
        # no verified within-batch pair: every candidate wins round 1
        # (its nbr_min is NULL) — skip the MIS round loop outright
        # (r14 opt; the checkpointed `pairs` makes this check free)
        kept_b = cand_batch.select(F.col("doc_id").alias("id"))
        dropped_b = spark.createDataFrame([], "id long, matched_doc long")
    else:
        kept_b, dropped_b = _greedy_survivors(cand_batch, pairs)

    # ONE eagerly-materialized decision frame; the state write derives
    # from it (r14 opt: kept_b/dropped_b are lazy union chains over the
    # MIS rounds — every consumer below would re-execute that whole
    # chain; one checkpoint job pays it once)
    decisions = (
        vs_corpus.select(
            "doc_id", F.lit("dup_vs_corpus").alias("verdict"), "matched_doc"
        )
        .unionByName(
            dropped_b.select(
                F.col("id").alias("doc_id"),
                F.lit("dup_in_batch").alias("verdict"),
                "matched_doc",
            )
        )
        .unionByName(
            kept_b.select(
                F.col("id").alias("doc_id"),
                F.lit("novel").alias("verdict"),
                F.lit(None).cast("long").alias("matched_doc"),
            )
        )
        .withColumn("epoch", F.lit(cur))
        .localCheckpoint(eager=True)
    )
    kept_ids = decisions.filter(F.col("verdict") == "novel").select("doc_id")
    kept_docs = (
        b.select("doc_id", "text")
        .join(kept_ids, "doc_id", "semi")
        .withColumn("epoch", F.lit(cur))
    )
    kept_bands = bands_b.join(kept_ids, "doc_id", "semi").withColumn(
        "epoch", F.lit(cur)
    )

    # ONE transactional state write (r15, VERDICT r14 #1): the three
    # per-epoch dynamic-overwrite writes (decisions / kept / index) were
    # three jobs + three commit protocols over batch-sized frames —
    # measured pure fixed cost.  The three stores are now kind=
    # partitions of one layout, committed by a single dynamic-overwrite
    # write: a replayed epoch overwrites exactly its own (kind, epoch=
    # cur) partitions, preserving the exactly-once contract (readers
    # filter epoch < cur, so a replay never sees its own partials
    # either way).  Each branch carries the union schema with typed
    # NULLs; parquet stores the absent columns as nulls at ~zero cost
    # and every reader column-prunes them away.
    null_s = F.lit(None).cast("string")
    null_l = F.lit(None).cast("long")
    null_i = F.lit(None).cast("int")
    state_rows = (
        decisions.select(
            F.lit("decisions").alias("kind"),
            "doc_id",
            "verdict",
            "matched_doc",
            null_s.alias("text"),
            null_i.alias("band"),
            null_l.alias("bucket"),
            "epoch",
        )
        .unionByName(
            kept_docs.select(
                F.lit("kept").alias("kind"),
                "doc_id",
                null_s.alias("verdict"),
                null_l.alias("matched_doc"),
                "text",
                null_i.alias("band"),
                null_l.alias("bucket"),
                "epoch",
            )
        )
        .unionByName(
            kept_bands.select(
                F.lit("index").alias("kind"),
                "doc_id",
                null_s.alias("verdict"),
                null_l.alias("matched_doc"),
                null_s.alias("text"),
                "band",
                "bucket",
                "epoch",
            )
        )
    )
    store = os.path.dirname(dec_dir)  # .../state/store (see _state_paths)
    (
        state_rows.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("kind", "epoch")
        .parquet(store)
    )


def streaming_neardup_gate(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Drive the gate over every file currently in ``src_dir`` (one
    micro-batch per file) and return the accumulated decision log →
    (doc_id, verdict ∈ {novel, dup_vs_corpus, dup_in_batch},
    matched_doc).  Restartable: pass the same ``checkpoint_dir`` and
    ``state_dir`` to resume exactly-once after a stop.  A ``state_dir``
    in the legacy per-store layout raises ``ValueError`` before the
    stream starts."""
    _refuse_legacy_state(state_dir)
    stream = (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    w = stream.writeStream.outputMode("append").foreachBatch(
        lambda df, eid: _gate_epoch(spark, state_dir, df, eid)
    )
    if checkpoint_dir:
        w = w.option("checkpointLocation", checkpoint_dir)
    q = w.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    _, _, dec_dir = _state_paths(state_dir)
    return _decisions_frame(spark, dec_dir).orderBy("doc_id")


def streaming_neardup_gate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-contained (spark, sf_dir) entry for bench/pytest: slice the
    documents table into ``_N_CHUNKS`` doc_id-ordered arrival files,
    feed them through the gate ONE SLICE AT A TIME (write → drain, so
    arrival order is deterministic — a pre-populated directory's file
    order is a listing-order implementation detail), and return the
    decision log.  State lives in a per-call temp dir."""
    import shutil
    import tempfile

    from ..sources.tables import load_table

    root = tempfile.mkdtemp(prefix="neardup_gate_")
    src = os.path.join(root, "src")
    state = os.path.join(root, "state")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(src)
    try:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        n = docs.count()
        step = max(1, -(-n // _N_CHUNKS))  # n == 0 → step 1, not a
        # zero slice stride (ADVICE r10); the loop below then breaks
        # on the empty bounds list before writing any arrival file
        bounds = [
            r["doc_id"] for r in docs.select("doc_id").orderBy("doc_id").collect()
        ][::step] + [
            None
        ]  # n+1-th bound open; the key-only collect is test/bench-scale
        # only — a production feed arrives pre-sliced
        stream = (
            spark.readStream.schema(DOC_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        w = (
            stream.writeStream.outputMode("append")
            .foreachBatch(lambda df, eid: _gate_epoch(spark, state, df, eid))
            .option("checkpointLocation", ckpt)
        )
        q = w.start()
        try:
            for i in range(_N_CHUNKS):
                if i >= len(bounds) - 1 or bounds[i] is None:
                    break  # tiny corpus: fewer real slices than
                    # _N_CHUNKS — stop instead of writing empty
                    # arrival files through a null-comparison filter
                lo = bounds[i]
                hi = bounds[i + 1] if i + 1 < len(bounds) else None
                chunk = docs.filter(F.col("doc_id") >= lo)
                if hi is not None:
                    chunk = chunk.filter(F.col("doc_id") < hi)
                write_arrival_file(chunk, src, f"chunk{i}")
                q.processAllAvailable()
        finally:
            q.stop()
        _, _, dec_dir = _state_paths(state)
        out = (
            _decisions_frame(spark, dec_dir)
            .orderBy("doc_id")
            .localCheckpoint(eager=True)  # sever from the temp dir
        )
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


# python-oracle-gated (greedy replay over all-pairs exact Jaccard —
# tests/test_streaming_ingest.py); benched with the streaming family.
QUERIES = {"streaming_neardup_gate": streaming_neardup_gate_corpus}
