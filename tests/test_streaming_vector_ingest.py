"""Streaming vector-index maintenance (streaming/vector_ingest.py):
the streamed (epoch, cell)-partitioned IVFPQ+OPQ index must hold
exactly the batch lifecycle's rows (base build + ivfpq_index_add per
slice), serve identical top-k through the UNCHANGED indexed query —
partition pruning and sidecar quantizer included — and resume
exactly-once across a stop/restart."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from distributed_graph_coloring_with_pyspark_spark import cache
from distributed_graph_coloring_with_pyspark_spark.operators import similarity as S
from distributed_graph_coloring_with_pyspark_spark.plans.audit import plan_string
from distributed_graph_coloring_with_pyspark_spark.sources.tables import load_table
from distributed_graph_coloring_with_pyspark_spark.streaming import vector_ingest as VI
from distributed_graph_coloring_with_pyspark_spark.streaming.ingest import (
    write_arrival_file,
)

SF = "/root/testdata/sf0.001"


def _slices(emb):
    base = emb.filter(F.pmod("vec_id", F.lit(4)) != 0)
    arr = emb.filter(F.pmod("vec_id", F.lit(4)) == 0)
    return base, [
        arr.filter(F.pmod(F.expr("vec_id div 4"), F.lit(VI._N_SLICES)) == i)
        for i in range(VI._N_SLICES)
    ]


def _canon(spark, path):
    return sorted(
        (r.vec_id, r.cell, tuple(r.codes))
        for r in spark.read.parquet(path).select("vec_id", "cell", "codes").collect()
    )


def test_streamed_index_equals_batch_lifecycle_and_serves(spark, tmp_path):
    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    base, slices = _slices(emb)

    # batch twin: the already-pinned build + incremental-add lifecycle
    bidx = str(tmp_path / "batch_idx")
    S.build_ivfpq_index(spark, SF, bidx, vectors=base, opq=True)
    n_added = sum(S.ivfpq_index_add(spark, SF, bidx, s) for s in slices)
    assert n_added == emb.count() - base.count() > 0

    # streamed index: base build, then all slices as one-file epochs
    sidx = str(tmp_path / "stream_idx")
    src = tmp_path / "src"
    src.mkdir()
    n_cells = VI.build_streaming_ivfpq_base(spark, SF, sidx, base, opq=True)
    assert n_cells == S._IVF_K
    for i, s in enumerate(slices):
        write_arrival_file(s, str(src), f"slice{i}")
    report = VI.streaming_vector_index_ingest(
        spark, str(src), sidx, checkpoint_dir=str(tmp_path / "ckpt")
    ).collect()

    # content identity: same (vec_id, cell, codes) multiset — the
    # sidecar quantizer (incl. the OPQ rotation) governed both paths
    assert _canon(spark, sidx) == _canon(spark, bidx)

    # per-epoch report: base at epoch=-1 plus one epoch per non-empty
    # slice, totals covering the corpus
    by_epoch = {r.epoch: r.n_vectors for r in report}
    assert by_epoch[VI._BASE_EPOCH] == base.count()
    assert sum(by_epoch.values()) == emb.count()
    assert all(r.n_cells <= S._IVF_K for r in report)

    # serve: the UNCHANGED indexed query answers identically from the
    # (epoch, cell) layout, keeps cell partition-pruning, and reads the
    # quantizer from the sidecar even under poisoned session memos
    want = [tuple(r) for r in S.ann_ivfpq_topk_indexed(spark, SF, bidx).collect()]
    streamed_q = S.ann_ivfpq_topk_indexed(spark, SF, sidx)
    assert re.search(
        r"PartitionFilters: \[[^\]]*cell[^\]]*IN", plan_string(streamed_q)
    ), plan_string(streamed_q)[:2000]
    assert [tuple(r) for r in streamed_q.collect()] == want

    side = S._read_quantizer_sidecar(spark, sidx)
    assert side and "rotation" in side
    cache.release(spark, "ivf_centroids")
    cache.release(spark, "pq_codebooks")
    good = side["centroids"]
    cache.entries(spark, "ivf_centroids")[SF] = good[1:] + good[:1]
    try:
        again = [
            tuple(r) for r in S.ann_ivfpq_topk_indexed(spark, SF, sidx).collect()
        ]
        assert again == want
    finally:
        cache.release(spark, "ivf_centroids")
        cache.release(spark, "pq_codebooks")


def test_streaming_vector_ingest_resume_exactly_once(spark, tmp_path):
    """Stop after two slices, restart with the same checkpoint for the
    rest, then run a THIRD pass with nothing new: the final index must
    equal the batch twin (no missing epochs) and the idle pass must
    change nothing (no duplicate appends — the dynamic-overwrite
    replay contract)."""
    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    base, slices = _slices(emb)

    bidx = str(tmp_path / "batch_idx")
    S.build_ivfpq_index(spark, SF, bidx, vectors=base, opq=True)
    for s in slices:
        S.ivfpq_index_add(spark, SF, bidx, s)

    sidx = str(tmp_path / "stream_idx")
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    VI.build_streaming_ivfpq_base(spark, SF, sidx, base, opq=True)

    for i in (0, 1):
        write_arrival_file(slices[i], str(src), f"slice{i}")
    VI.streaming_vector_index_ingest(spark, str(src), sidx, checkpoint_dir=ckpt)
    for i in (2, 3):
        write_arrival_file(slices[i], str(src), f"slice{i}")
    VI.streaming_vector_index_ingest(spark, str(src), sidx, checkpoint_dir=ckpt)

    want = _canon(spark, bidx)
    assert _canon(spark, sidx) == want

    # idle restart: nothing new to process, nothing may change
    VI.streaming_vector_index_ingest(spark, str(src), sidx, checkpoint_dir=ckpt)
    assert _canon(spark, sidx) == want

    cache.release(spark, "ivf_centroids")
    cache.release(spark, "pq_codebooks")


def test_epoch_publish_is_staged_rename(spark, tmp_path):
    """r15 opt (VERDICT r14 #5): an epoch is staged under an invisible
    ``_staged_epoch_N`` dir and published with one atomic rename — after
    ingest no staging dirs remain, every epoch dir is a complete
    partitioned parquet dir, and a STALE crashed staging dir is both
    invisible to readers and overwritten by the epoch's replay."""
    import os

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    base, slices = _slices(emb)
    sidx = str(tmp_path / "stream_idx")
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    VI.build_streaming_ivfpq_base(spark, SF, sidx, base, opq=True)

    # plant a stale staging dir as a crashed earlier attempt would
    stale = os.path.join(sidx, "_staged_epoch_0")
    os.makedirs(os.path.join(stale, "cell=0"))
    with open(os.path.join(stale, "cell=0", "garbage.parquet"), "w") as f:
        f.write("not parquet")
    before = spark.read.parquet(sidx).count()  # invisible to readers

    write_arrival_file(slices[0], str(src), "slice0")
    VI.streaming_vector_index_ingest(spark, str(src), sidx, checkpoint_dir=ckpt)

    entries = os.listdir(sidx)
    assert not any(e.startswith("_staged") for e in entries)  # all published
    epochs = sorted(e for e in entries if e.startswith("epoch="))
    assert epochs == ["epoch=-1", "epoch=0"]
    # the published epoch is a complete partitioned dir: its rows are
    # exactly the slice, readable through the root with epoch recovered
    # from the dir name
    got = spark.read.parquet(sidx).filter(F.col("epoch") == 0)
    assert got.count() == slices[0].count()
    assert before + slices[0].count() == spark.read.parquet(sidx).count()
    cache.release(spark, "ivf_centroids")
    cache.release(spark, "pq_codebooks")


def test_corpus_entry_report_shape(spark):
    """The bench/pytest (spark, sf_dir) entry: epochs are the base plus
    the arrival slices, counts cover the corpus exactly once."""
    emb = load_table(spark, SF, "embeddings")
    rows = VI.streaming_vector_ingest_corpus(spark, SF).collect()
    assert rows[0].epoch == VI._BASE_EPOCH
    assert sum(r.n_vectors for r in rows) == emb.count()
    assert len(rows) >= 2  # base + at least one arrival epoch
    assert all(r.n_cells <= S._IVF_K for r in rows)
    cache.release(spark, "ivf_centroids")
    cache.release(spark, "pq_codebooks")


def test_default_checkpoint_resumes_and_fresh_checkpoint_refuses(
    spark, tmp_path
):
    """ADVICE r13: an un-checkpointed ingest call restarted batch ids
    at 0 and dynamic-overwrote existing epoch partitions — silent data
    loss on API misuse.  Now (a) checkpoint_dir defaults to
    ``<index>/_ingest_checkpoint`` so repeat default calls RESUME, and
    (b) a checkpoint with no committed offsets against an index that
    already holds streamed epochs REFUSES to start."""
    import pytest

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    base, slices = _slices(emb)
    sidx = str(tmp_path / "stream_idx")
    src = tmp_path / "src"
    src.mkdir()
    VI.build_streaming_ivfpq_base(spark, SF, sidx, base, opq=True)

    write_arrival_file(slices[0], str(src), "slice0")
    VI.streaming_vector_index_ingest(spark, str(src), sidx)  # default ckpt
    assert (tmp_path / "stream_idx" / VI._INGEST_CHECKPOINT).exists()

    # second default call resumes the same checkpoint: slice1 lands as a
    # NEW epoch, slice0's rows are not duplicated or replaced
    write_arrival_file(slices[1], str(src), "slice1")
    VI.streaming_vector_index_ingest(spark, str(src), sidx)
    bidx = str(tmp_path / "batch_idx")
    S.build_ivfpq_index(spark, SF, bidx, vectors=base, opq=True)
    S.ivfpq_index_add(spark, SF, bidx, slices[0])
    S.ivfpq_index_add(spark, SF, bidx, slices[1])
    want = _canon(spark, bidx)
    assert _canon(spark, sidx) == want

    # a FRESH checkpoint against the streamed index refuses to start
    # (its first batch would renumber from 0 over the existing epoch)
    with pytest.raises(ValueError, match="renumber"):
        VI.streaming_vector_index_ingest(
            spark, str(src), sidx, checkpoint_dir=str(tmp_path / "fresh_ckpt")
        )
    assert _canon(spark, sidx) == want  # index untouched by the refusal
    cache.release(spark, "ivf_centroids")
    cache.release(spark, "pq_codebooks")


def test_drift_rebuild_composes_with_streaming_ingest(spark, tmp_path):
    """The full production loop (r14, VERDICT r13 #1 composed with the
    streaming story): stream epochs into v1 under a versioned root,
    drift-rebuild into v2 (epoch layout PRESERVED — everything lands at
    epoch=-1, because a flat cell layout would break partition
    discovery the moment the ingest loop writes its next epoch=N dir),
    flip the pointer, and keep ingesting NEW arrivals against the root:
    the fresh default checkpoint starts at batch 0 without tripping the
    fresh-checkpoint guard (v2 has no epoch>=0 yet), and the final
    index equals the batch lifecycle built under the same retrained
    quantizer."""
    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    base, slices = _slices(emb)
    root = tmp_path / "root"
    root.mkdir()
    v1 = str(root / "v1")
    VI.build_streaming_ivfpq_base(spark, SF, v1, base, opq=True)
    S.write_index_pointer(spark, str(root), v1)

    src1 = tmp_path / "src1"
    src1.mkdir()
    for i in (0, 1):
        write_arrival_file(slices[i], str(src1), f"slice{i}")
    VI.streaming_vector_index_ingest(spark, str(src1), str(root))  # → v1

    # drift rebuild on the corpus AS INGESTED SO FAR (base + slices 0-1)
    cur = base.unionByName(slices[0]).unionByName(slices[1])
    v2 = str(root / "v2")
    S.rebuild_ivfpq_index(spark, SF, str(root), v2, vectors=cur)
    assert (root / "v2" / "epoch=-1").exists()  # layout inherited
    S.write_index_pointer(spark, str(root), v2)

    # new arrivals keep flowing against the ROOT: fresh default
    # checkpoint (inside v2), batch ids restart at 0, guard silent
    src2 = tmp_path / "src2"
    src2.mkdir()
    for i in (2, 3):
        write_arrival_file(slices[i], str(src2), f"slice{i}")
    VI.streaming_vector_index_ingest(spark, str(src2), str(root))

    # batch twin under the SAME retrained quantizer: fresh-trio build on
    # `cur` + incremental adds of the late slices
    bidx = str(tmp_path / "batch_idx")
    S.rebuild_ivfpq_index(spark, SF, None, bidx, vectors=cur, opq=True)
    for i in (2, 3):
        S.ivfpq_index_add(spark, SF, bidx, slices[i])
    assert _canon(spark, v2) == _canon(spark, bidx)

    want = [tuple(r) for r in S.ann_ivfpq_topk_indexed(spark, SF, bidx).collect()]
    got = [
        tuple(r) for r in S.ann_ivfpq_topk_indexed(spark, SF, str(root)).collect()
    ]
    assert got == want
    cache.release(spark, "ivf_centroids")
    cache.release(spark, "pq_codebooks")


def test_streamed_index_compacts_to_flat_cell_layout(spark, tmp_path):
    """The nightly close of the streaming lifecycle: compacting the
    (epoch, cell) streamed index with partition_by=["cell"] flattens
    the epoch level (epoch becomes a plain data column the serve path
    never selects), sheds the per-epoch file slivers, CARRIES the
    quantizer sidecar (r13 compact_parquet contract), and serves
    identically — so ingest → compact → serve is a closed loop."""
    import glob

    from distributed_graph_coloring_with_pyspark_spark.sources.maintenance import (
        compact_parquet,
    )

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    base, slices = _slices(emb)
    sidx = str(tmp_path / "stream_idx")
    src = tmp_path / "src"
    src.mkdir()
    VI.build_streaming_ivfpq_base(spark, SF, sidx, base, opq=True)
    for i, s in enumerate(slices):
        write_arrival_file(s, str(src), f"slice{i}")
    VI.streaming_vector_index_ingest(
        spark, str(src), sidx, checkpoint_dir=str(tmp_path / "ckpt")
    )
    want = [tuple(r) for r in S.ann_ivfpq_topk_indexed(spark, SF, sidx).collect()]

    flat = str(tmp_path / "flat_idx")
    compact_parquet(spark, sidx, flat, partition_by=["cell"])
    # epoch level flattened: cell dirs at the root, sidecar carried
    assert glob.glob(f"{flat}/cell=*") and not glob.glob(f"{flat}/epoch=*")
    assert (tmp_path / "flat_idx" / "_quantizer.json").exists()
    assert len(glob.glob(f"{flat}/cell=*/*.parquet")) < len(
        glob.glob(f"{sidx}/epoch=*/cell=*/*.parquet")
    )

    served = S.ann_ivfpq_topk_indexed(spark, SF, flat)
    assert re.search(
        r"PartitionFilters: \[[^\]]*cell[^\]]*IN", plan_string(served)
    )
    assert [tuple(r) for r in served.collect()] == want
    cache.release(spark, "ivf_centroids")
    cache.release(spark, "pq_codebooks")


def test_drift_report_flags_drift_and_clears_after_rebuild(spark, tmp_path):
    """The full drift LIFECYCLE the r14 monitor closes: ingest a
    distribution-shifted arrival wave under the frozen base quantizer →
    index_drift_report's streamed segment shows the rebuild trigger
    (reconstruction error well above base, balance no better) →
    rebuild_ivfpq_index retrains on the current corpus, the pointer
    flips, and the re-report through the SAME versioned root shows the
    recovered fit."""
    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    root = tmp_path / "root"
    root.mkdir()
    v1 = str(root / "v1")
    VI.build_streaming_ivfpq_base(spark, SF, v1, emb, opq=True)
    S.write_index_pointer(spark, str(root), v1)

    drifted = emb.select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.transform("embedding", lambda x: F.lit(4.0) - x)
        .cast("array<float>")
        .alias("embedding"),
    )
    src = tmp_path / "src"
    src.mkdir()
    write_arrival_file(drifted, str(src), "drift0")
    VI.streaming_vector_index_ingest(spark, str(src), str(root))

    allvec = emb.unionByName(drifted)
    rep = {
        r.segment: r
        for r in S.index_drift_report(
            spark, SF, str(root), vectors=allvec
        ).collect()
    }
    assert set(rep) == {"base", "streamed"}
    assert rep["streamed"].n_vectors == emb.count()
    # the frozen codebooks were trained on the BASE distribution: the
    # shifted arrivals reconstruct far worse — the rebuild trigger
    assert rep["streamed"].mean_sq_err > 1.5 * rep["base"].mean_sq_err
    assert rep["streamed"].top_cell_share >= rep["base"].top_cell_share

    # by_epoch: the TREND view — same numbers, epoch-labelled; "-1" is
    # the base build, and the streamed epochs roll up (count-weighted
    # mean, max of maxes) to the segment view's streamed row
    import math

    per_epoch = {
        r.segment: r
        for r in S.index_drift_report(
            spark, SF, str(root), vectors=allvec, by_epoch=True
        ).collect()
    }
    assert "-1" in per_epoch and len(per_epoch) >= 2
    b = per_epoch["-1"]
    assert (b.n_vectors, b.n_cells_used) == (
        rep["base"].n_vectors,
        rep["base"].n_cells_used,
    )
    assert math.isclose(b.mean_sq_err, rep["base"].mean_sq_err, rel_tol=1e-9)
    streamed = [r for k, r in per_epoch.items() if int(k) >= 0]
    assert sum(r.n_vectors for r in streamed) == rep["streamed"].n_vectors
    wmean = sum(r.mean_sq_err * r.n_vectors for r in streamed) / sum(
        r.n_vectors for r in streamed
    )
    assert math.isclose(wmean, rep["streamed"].mean_sq_err, rel_tol=1e-9)
    assert math.isclose(
        max(r.max_sq_err for r in streamed),
        rep["streamed"].max_sq_err,
        rel_tol=1e-12,
    )

    # recovery: retrain on the corpus as it NOW is, flip, re-report
    v2 = str(root / "v2")
    S.rebuild_ivfpq_index(spark, SF, str(root), v2, vectors=allvec)
    S.write_index_pointer(spark, str(root), v2)
    rep2 = {
        r.segment: r
        for r in S.index_drift_report(
            spark, SF, str(root), vectors=allvec
        ).collect()
    }
    assert set(rep2) == {"base"}  # fresh epoch=-1 layout, nothing streamed
    assert rep2["base"].n_vectors == allvec.count()
    assert rep2["base"].mean_sq_err < rep["streamed"].mean_sq_err
    cache.release(spark, "ivf_centroids")
    cache.release(spark, "pq_codebooks")


def test_rebuild_epoch_layout_override_enables_streaming(spark, tmp_path):
    """The explicit ``epoch_layout=True`` override (otherwise inherited
    from old_path): rebuilding a FLAT batch index into the (epoch, cell)
    layout must land everything under epoch=-1, serve identically
    through the unchanged indexed query, and accept a fresh streaming
    ingest — the migration path from a batch-built index into the
    online-maintenance loop."""
    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    base, slices = _slices(emb)

    flat = str(tmp_path / "flat_idx")
    S.build_ivfpq_index(spark, SF, flat, vectors=base, opq=True)
    assert not any(
        p.name.startswith("epoch=") for p in (tmp_path / "flat_idx").iterdir()
    )

    # two memo-free rebuilds of the SAME corpus, differing ONLY in the
    # layout flag: identical codes, identical serve — the layout is
    # physical, not semantic (the flat source index can't be the serve
    # twin: its codes carry the session-memoized quantizer, a rebuild
    # retrains by design)
    layered = str(tmp_path / "layered_idx")
    reflat = str(tmp_path / "reflat_idx")
    S.rebuild_ivfpq_index(
        spark, SF, flat, layered, vectors=base, epoch_layout=True
    )
    S.rebuild_ivfpq_index(
        spark, SF, flat, reflat, vectors=base, epoch_layout=False
    )
    names = {p.name for p in (tmp_path / "layered_idx").iterdir()}
    assert "epoch=-1" in names and not any(
        n.startswith("cell=") for n in names
    )
    assert _canon(spark, layered) == _canon(spark, reflat)
    want = [
        tuple(r) for r in S.ann_ivfpq_topk_indexed(spark, SF, reflat).collect()
    ]
    got = [
        tuple(r)
        for r in S.ann_ivfpq_topk_indexed(spark, SF, layered).collect()
    ]
    assert got == want

    # the migrated index joins the ingest loop: one arrival epoch lands
    src = tmp_path / "src"
    src.mkdir()
    write_arrival_file(slices[0], str(src), "wave0")
    report = VI.streaming_vector_index_ingest(spark, str(src), layered)
    by_epoch = {r.epoch: r.n_vectors for r in report.collect()}
    assert by_epoch[VI._BASE_EPOCH] == base.count()
    assert sum(v for k, v in by_epoch.items() if k >= 0) == slices[0].count()
    cache.release(spark, "ivf_centroids")
    cache.release(spark, "pq_codebooks")


def test_add_refuses_stream_maintained_index(spark, tmp_path):
    """``ivfpq_index_add`` writes flat ``cell=N`` dirs; next to the
    ``epoch=N`` dirs of a stream-maintained index they would make every
    later read fail on conflicting partition columns.  The add refuses
    such an index before writing, and the index stays readable."""
    import pytest

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.pmod("vec_id", F.lit(4)) != 0)
    rest = emb.filter(F.pmod("vec_id", F.lit(4)) == 0)
    sidx = str(tmp_path / "stream_idx")
    VI.build_streaming_ivfpq_base(spark, SF, sidx, base, opq=True)

    with pytest.raises(ValueError, match="streaming_vector_index_ingest"):
        S.ivfpq_index_add(spark, SF, sidx, rest)
    assert spark.read.parquet(sidx).count() == base.count()
    cache.release(spark, "ivf_centroids")
    cache.release(spark, "pq_codebooks")
