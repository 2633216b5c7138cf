"""Persisted-IVF-index path: build_ivf_index writes the corpus as
cell-partitioned parquet, ann_ivf_topk_indexed queries it with static
partition pruning.  The scale claim under test: the probed-cell IN
filter must reach the parquet source as a PartitionFilter (unprobed
cells never leave disk), and the indexed query must return exactly the
in-memory ``ann_ivf_topk`` answer (same centroids, same rerank)."""

from __future__ import annotations

import os
import re

import pytest

from distributed_graph_coloring_with_pyspark_spark import cache
from distributed_graph_coloring_with_pyspark_spark.operators import similarity as S
from distributed_graph_coloring_with_pyspark_spark.plans.audit import plan_string

SF = "/root/testdata/sf0.001"


def test_ivf_index_roundtrip_and_pruning(spark, tmp_path):
    idx = str(tmp_path / "ivf_index")
    n_cells = S.build_ivf_index(spark, SF, idx)
    assert n_cells == S._IVF_K

    # the index is physically partitioned by cell
    cell_dirs = sorted(p.name for p in (tmp_path / "ivf_index").glob("cell=*"))
    assert cell_dirs, "expected cell=N partition directories"
    assert len(cell_dirs) <= n_cells

    indexed = S.ann_ivf_topk_indexed(spark, SF, idx)

    # partition pruning is STATIC: the probed-cell IN list appears as a
    # PartitionFilter on the index scan (not a post-scan filter)
    plan = plan_string(indexed)
    m = re.search(r"PartitionFilters: \[[^\]]*cell[^\]]*IN", plan)
    assert m, f"no partition-pruning IN filter on cell in plan:\n{plan[:2000]}"

    # identical answers: same centroids (session cache), same rerank
    got = [tuple(r) for r in indexed.collect()]
    want = [tuple(r) for r in S.ann_ivf_topk(spark, SF).collect()]
    assert got == want
    assert got  # non-empty

    cache.release(spark, "ivf_centroids")


def test_ivf_indexed_queries_leave_no_tracked_frames(spark, tmp_path):
    """A serving session's repeated indexed IVF queries keep nothing in
    the session store: the probe frame is checkpointed per query, not a
    tracked persist that only ``release_session_caches`` drops."""
    idx = str(tmp_path / "ivf_index")
    S.build_ivf_index(spark, SF, idx)
    before = len(cache.entries(spark, "tracked_frames"))
    want = [tuple(r) for r in S.ann_ivf_topk_indexed(spark, SF, idx).collect()]
    for _ in range(4):
        got = [tuple(r) for r in S.ann_ivf_topk_indexed(spark, SF, idx).collect()]
        assert got == want
    assert len(cache.entries(spark, "tracked_frames")) == before
    cache.release(spark, "ivf_centroids")


def test_ivf_index_incremental_add_equals_full_build(spark, tmp_path):
    """Partial build + ivf_index_add batches must equal a from-scratch
    full build row-for-row (same session quantizer), and the indexed
    query over the incrementally-maintained index must equal the
    non-indexed ann_ivf_topk answer."""
    from pyspark.sql import functions as F

    from distributed_graph_coloring_with_pyspark_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    base = emb.filter(F.pmod("vec_id", F.lit(5)) != 0)
    batch1 = emb.filter(F.pmod("vec_id", F.lit(5)) == 0).filter(
        F.col("vec_id") % 2 == 0
    )
    batch2 = emb.filter(F.pmod("vec_id", F.lit(5)) == 0).filter(
        F.col("vec_id") % 2 != 0
    )

    incr = str(tmp_path / "ivf_incr")
    full = str(tmp_path / "ivf_full")
    S.build_ivf_index(spark, SF, incr, vectors=base)
    n1 = S.ivf_index_add(spark, SF, incr, batch1)
    n2 = S.ivf_index_add(spark, SF, incr, batch2)
    assert n1 + n2 == emb.count() - base.count() > 0

    S.build_ivf_index(spark, SF, full)
    rows_incr = sorted(tuple(r) for r in spark.read.parquet(incr).collect())
    rows_full = sorted(tuple(r) for r in spark.read.parquet(full).collect())
    assert rows_incr == rows_full  # same rows, same cells

    got = [tuple(r) for r in S.ann_ivf_topk_indexed(spark, SF, incr).collect()]
    want = [tuple(r) for r in S.ann_ivf_topk(spark, SF).collect()]
    assert got == want
    cache.release(spark, "ivf_centroids")


def test_ivf_index_compaction_preserves_answers(spark, tmp_path):
    """r10 (VERDICT r9 #7): the incremental-append lifecycle composed
    with small-file compaction — ivf_index_add leaves one file per
    (batch, cell) touched, so a long-lived serving index accretes
    slivers; compact_parquet(partition_by=["cell"]) must shed them
    while preserving (a) the stored rows byte-for-row, (b) the indexed
    query answer, and (c) STATIC partition pruning on the compacted
    layout — the same close-the-loop contract the MinHash index pins
    in tests/test_maintenance_lifecycle.py."""
    import glob

    from pyspark.sql import functions as F

    from distributed_graph_coloring_with_pyspark_spark.sources.maintenance import (
        compact_parquet,
    )
    from distributed_graph_coloring_with_pyspark_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    base = emb.filter(F.pmod("vec_id", F.lit(4)) != 0)
    incr = str(tmp_path / "ivf_incr")
    S.build_ivf_index(spark, SF, incr, vectors=base)
    # three single-batch appends → ≥3 extra files in the touched cells
    for m in range(3):
        S.ivf_index_add(
            spark,
            SF,
            incr,
            emb.filter(
                (F.pmod("vec_id", F.lit(4)) == 0)
                & (F.pmod(F.col("vec_id") / 4, F.lit(3)) == m)
            ),
        )

    def n_files(root):
        return len(glob.glob(f"{root}/cell=*/*.parquet"))

    files_before = n_files(incr)
    compacted = str(tmp_path / "ivf_compacted")
    report = compact_parquet(
        spark, incr, compacted, partition_by=["cell"]
    ).collect()[0]
    assert report["n_rows"] == emb.count()
    assert n_files(compacted) < files_before  # slivers actually shed

    rows_incr = sorted(tuple(r) for r in spark.read.parquet(incr).collect())
    rows_comp = sorted(tuple(r) for r in spark.read.parquet(compacted).collect())
    assert rows_comp == rows_incr  # content identity, cells preserved

    want = [tuple(r) for r in S.ann_ivf_topk(spark, SF).collect()]

    # r13 (ADVICE r12 medium): compaction must CARRY the quantizer
    # sidecar — a compacted index served in a fresh session would
    # otherwise silently retrain.  Pin it the hard way: poison the
    # session memo; the compacted index must still answer from its own
    # persisted quantizer.
    side = S._read_quantizer_sidecar(spark, compacted)
    assert side and "centroids" in side, "compaction dropped _quantizer.json"
    cache.release(spark, "ivf_centroids")
    good = side["centroids"]
    cache.entries(spark, "ivf_centroids")[SF] = good[1:] + good[:1]
    try:
        got = [
            tuple(r) for r in S.ann_ivf_topk_indexed(spark, SF, compacted).collect()
        ]
        assert got == want

        # pruning survives the rewrite: probed-cell IN list still reaches
        # the compacted parquet source as a PartitionFilter
        plan = plan_string(S.ann_ivf_topk_indexed(spark, SF, compacted))
        assert re.search(r"PartitionFilters: \[[^\]]*cell[^\]]*IN", plan), plan[:2000]
    finally:
        cache.release(spark, "ivf_centroids")


def test_ivfpq_index_roundtrip_and_pruning(spark, tmp_path):
    """The composite-index twin of the IVF pair: build_ivfpq_index
    stores 8-bit residual codes cell-partitioned; the indexed query
    must (a) prune to the probed cells at the parquet source, (b) read
    codes instead of vectors, and (c) return exactly the in-session
    ``ann_ivfpq_topk`` answer — the stored codes come from the same
    ``_batch_codes`` argmin, so ADC distances are bit-identical."""
    idx = str(tmp_path / "ivfpq_index")
    n_cells = S.build_ivfpq_index(spark, SF, idx)
    assert n_cells == S._IVF_K

    cell_dirs = sorted(p.name for p in (tmp_path / "ivfpq_index").glob("cell=*"))
    assert cell_dirs and len(cell_dirs) <= n_cells

    # stored rows are codes, not vectors: M small ints per row
    one = spark.read.parquet(idx).limit(1).collect()[0]
    assert len(one.codes) == S._PQ_M
    assert all(0 <= c < S._PQ_KS for c in one.codes)

    indexed = S.ann_ivfpq_topk_indexed(spark, SF, idx)
    plan = plan_string(indexed)
    m = re.search(r"PartitionFilters: \[[^\]]*cell[^\]]*IN", plan)
    assert m, f"no partition-pruning IN filter on cell in plan:\n{plan[:2000]}"

    got = [tuple(r) for r in indexed.collect()]
    want = [tuple(r) for r in S.ann_ivfpq_topk(spark, SF).collect()]
    assert got == want
    assert got  # non-empty

    cache.release(spark, "ivf_centroids")
    cache.release(spark, "pq_codebooks")


def test_ivfpq_index_incremental_add_equals_full_build(spark, tmp_path):
    """The IVFPQ lifecycle under incremental maintenance + compaction:
    partial build + ivfpq_index_add batches must equal a from-scratch
    full build row-for-row (same session quantizer PAIR — coarse
    centroids and residual codebooks), the indexed query over the
    accreted index must equal the in-session answer, and compaction
    must shed the per-(batch, cell) file slivers while preserving rows,
    answers, and static pruning."""
    import glob

    from pyspark.sql import functions as F

    from distributed_graph_coloring_with_pyspark_spark.sources.maintenance import (
        compact_parquet,
    )
    from distributed_graph_coloring_with_pyspark_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    base = emb.filter(F.pmod("vec_id", F.lit(5)) != 0)
    batch1 = emb.filter(F.pmod("vec_id", F.lit(5)) == 0).filter(
        F.col("vec_id") % 2 == 0
    )
    batch2 = emb.filter(F.pmod("vec_id", F.lit(5)) == 0).filter(
        F.col("vec_id") % 2 != 0
    )

    incr = str(tmp_path / "ivfpq_incr")
    full = str(tmp_path / "ivfpq_full")
    S.build_ivfpq_index(spark, SF, incr, vectors=base)
    n1 = S.ivfpq_index_add(spark, SF, incr, batch1)
    n2 = S.ivfpq_index_add(spark, SF, incr, batch2)
    assert n1 + n2 == emb.count() - base.count() > 0

    S.build_ivfpq_index(spark, SF, full)

    def canon(path):
        return sorted(
            (r.vec_id, r.cell, tuple(r.codes))
            for r in spark.read.parquet(path).collect()
        )

    assert canon(incr) == canon(full)

    got = [tuple(r) for r in S.ann_ivfpq_topk_indexed(spark, SF, incr).collect()]
    want = [tuple(r) for r in S.ann_ivfpq_topk(spark, SF).collect()]
    assert got == want

    # compaction: fewer files, same rows, same answers, pruning intact —
    # and (r13, ADVICE r12) the quantizer sidecar carried, pinned by
    # poisoning BOTH session memos before the compacted-index serve
    files_before = len(glob.glob(f"{incr}/cell=*/*.parquet"))
    compacted = str(tmp_path / "ivfpq_compacted")
    compact_parquet(spark, incr, compacted, partition_by=["cell"])
    assert len(glob.glob(f"{compacted}/cell=*/*.parquet")) < files_before
    assert canon(compacted) == canon(full)
    side = S._read_quantizer_sidecar(spark, compacted)
    assert side and "codebooks" in side, "compaction dropped _quantizer.json"
    cache.release(spark, "ivf_centroids")
    cache.release(spark, "pq_codebooks")
    good = side["centroids"]
    cache.entries(spark, "ivf_centroids")[SF] = good[1:] + good[:1]
    cache.entries(spark, "pq_codebooks")[f"{SF}#ivfpq-residual"] = [
        [[0.0] * S._PQ_SUB for _ in range(len(side["codebooks"][0]))]
        for _ in range(S._PQ_M)
    ]
    try:
        after = S.ann_ivfpq_topk_indexed(spark, SF, compacted)
        assert re.search(
            r"PartitionFilters: \[[^\]]*cell[^\]]*IN", plan_string(after)
        )
        assert [tuple(r) for r in after.collect()] == want
    finally:
        cache.release(spark, "ivf_centroids")
        cache.release(spark, "pq_codebooks")


def test_ivfpq_index_is_much_smaller_than_ivf_index(spark, tmp_path):
    """The compression half of the composite claim: the code-carrying
    inverted file must be a small fraction of the float-carrying one on
    the same corpus (raw ratio ~32×; parquet encoding narrows it, so
    the pin is a conservative 4×)."""
    import pathlib

    ivf = str(tmp_path / "ivf")
    ivfpq = str(tmp_path / "ivfpq")
    S.build_ivf_index(spark, SF, ivf)
    S.build_ivfpq_index(spark, SF, ivfpq)

    def nbytes(root):
        return sum(
            p.stat().st_size for p in pathlib.Path(root).rglob("*.parquet")
        )

    assert nbytes(ivfpq) * 4 < nbytes(ivf)
    cache.release(spark, "ivf_centroids")
    cache.release(spark, "pq_codebooks")


def test_index_quantizer_sidecar_survives_session_state(spark, tmp_path):
    """r12: both index builds persist their quantizer as a sidecar, and
    the serve + add paths READ it — so a fresh session (simulated by
    clearing the memos and then POISONING them with a wrong quantizer)
    still probes the cells the index actually assigned.  Before the
    sidecar, the indexed query retrained from the source table: right
    on an immutable corpus, silently wrong once the corpus grows."""
    ivf = str(tmp_path / "ivf_index")
    pq = str(tmp_path / "ivfpq_index")
    S.build_ivf_index(spark, SF, ivf)
    S.build_ivfpq_index(spark, SF, pq)
    assert (tmp_path / "ivf_index" / "_quantizer.json").exists()
    side = S._read_quantizer_sidecar(spark, pq)
    assert side and "codebooks" in side

    base_ivf = [tuple(r) for r in S.ann_ivf_topk_indexed(spark, SF, ivf).collect()]
    base_pq = [
        tuple(r) for r in S.ann_ivfpq_topk_indexed(spark, SF, pq).collect()
    ]

    # simulate a fresh session with a DIFFERENT would-be quantizer: the
    # memo now holds rotated centroids / zeroed codebooks — if any serve
    # or add path consulted the session trainer, results would change
    cache.release(spark, "ivf_centroids")
    cache.release(spark, "pq_codebooks")
    good = side["centroids"]
    poison = good[1:] + good[:1]
    cache.entries(spark, "ivf_centroids")[SF] = poison
    cache.entries(spark, "pq_codebooks")[f"{SF}#ivfpq-residual"] = [
        [[0.0] * S._PQ_SUB for _ in range(len(side["codebooks"][0]))]
        for _ in range(S._PQ_M)
    ]
    try:
        again_ivf = [
            tuple(r) for r in S.ann_ivf_topk_indexed(spark, SF, ivf).collect()
        ]
        again_pq = [
            tuple(r) for r in S.ann_ivfpq_topk_indexed(spark, SF, pq).collect()
        ]
        assert again_ivf == base_ivf
        assert again_pq == base_pq
        # adds under poison must also encode with the INDEX's quantizer:
        # appending a batch then re-querying stays consistent with a
        # clean-session append (row parity via the returned count)
        emb = S.load_table(spark, SF, "embeddings")
        batch = emb.filter("vec_id >= 990")
        n = S.ivfpq_index_add(spark, SF, pq, batch)
        assert n == batch.count()
    finally:
        cache.release(spark, "ivf_centroids")
        cache.release(spark, "pq_codebooks")


def test_opq_index_serves_rotated_tier_from_disk(spark, tmp_path):
    """r13 (VERDICT r12 #1): build_ivfpq_index(opq=True) persists the
    learned rotation in the sidecar and encodes codes in the rotated
    residual space — the indexed serve must equal the in-session
    ``ann_opq_topk`` answer EXACTLY (same deterministic ADC cut), keep
    static partition pruning, and survive poisoned session memos (the
    rotation comes from the index, never the session trainer)."""
    idx = str(tmp_path / "opq_index")
    n_cells = S.build_ivfpq_index(spark, SF, idx, opq=True)
    assert n_cells == S._IVF_K

    side = S._read_quantizer_sidecar(spark, idx)
    assert side and "rotation" in side and "codebooks" in side
    import numpy as np

    R = np.asarray(side["rotation"])
    assert R.shape == (S._DIM, S._DIM)
    assert np.allclose(R.T @ R, np.eye(S._DIM), atol=1e-9)  # orthogonal

    want = [tuple(r) for r in S.ann_opq_topk(spark, SF).collect()]
    assert want

    indexed = S.ann_ivfpq_topk_indexed(spark, SF, idx)
    plan = plan_string(indexed)
    assert re.search(r"PartitionFilters: \[[^\]]*cell[^\]]*IN", plan), plan[:2000]
    assert [tuple(r) for r in indexed.collect()] == want

    # poisoned-memo extension: wrong rotation + wrong books + rotated
    # centroids in the session memos must not leak into the serve path
    cache.release(spark, "ivf_centroids")
    cache.release(spark, "pq_codebooks")
    good = side["centroids"]
    cache.entries(spark, "ivf_centroids")[SF] = good[1:] + good[:1]
    cache.entries(spark, "pq_codebooks")[f"{SF}#opq"] = (
        np.eye(S._DIM),  # identity rotation — NOT the trained one
        [
            [[0.0] * S._PQ_SUB for _ in range(len(side["codebooks"][0]))]
            for _ in range(S._PQ_M)
        ],
    )
    try:
        again = [
            tuple(r) for r in S.ann_ivfpq_topk_indexed(spark, SF, idx).collect()
        ]
        assert again == want
    finally:
        cache.release(spark, "ivf_centroids")
        cache.release(spark, "pq_codebooks")


def test_opq_index_incremental_add_equals_full_build(spark, tmp_path):
    """Adds against an OPQ index must encode in the index's ROTATED
    space (sidecar rotation), so partial build + adds equals the full
    rotated build row-for-row — the lifecycle pin the plain-PQ tier
    already carries, extended to the rotation."""
    from pyspark.sql import functions as F

    from distributed_graph_coloring_with_pyspark_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    base = emb.filter(F.pmod("vec_id", F.lit(5)) != 0)
    batch = emb.filter(F.pmod("vec_id", F.lit(5)) == 0)

    incr = str(tmp_path / "opq_incr")
    full = str(tmp_path / "opq_full")
    S.build_ivfpq_index(spark, SF, incr, vectors=base, opq=True)
    n = S.ivfpq_index_add(spark, SF, incr, batch)
    assert n == batch.count() > 0
    S.build_ivfpq_index(spark, SF, full, opq=True)

    def canon(path):
        return sorted(
            (r.vec_id, r.cell, tuple(r.codes))
            for r in spark.read.parquet(path).collect()
        )

    assert canon(incr) == canon(full)
    got = [tuple(r) for r in S.ann_ivfpq_topk_indexed(spark, SF, incr).collect()]
    want = [tuple(r) for r in S.ann_opq_topk(spark, SF).collect()]
    assert got == want
    cache.release(spark, "ivf_centroids")
    cache.release(spark, "pq_codebooks")


def test_rebuild_equals_from_scratch_build(spark, tmp_path):
    """r14 (VERDICT r13 #1, pin a): ``rebuild_ivfpq_index`` — which
    retrains the quantizer trio fresh on the current corpus and
    re-encodes from the SOURCE embeddings, never touching session memos
    — must equal a from-scratch ``build_ivfpq_index`` on the same
    corpus row-for-row, for both tiers; the tier is inherited from the
    old index's sidecar when ``opq`` is not given."""
    old = str(tmp_path / "old_idx")
    S.build_ivfpq_index(spark, SF, old, opq=True)

    def canon(path):
        return sorted(
            (r.vec_id, r.cell, tuple(r.codes))
            for r in spark.read.parquet(path).collect()
        )

    rebuilt = str(tmp_path / "rebuilt_idx")
    n = S.rebuild_ivfpq_index(spark, SF, old, rebuilt)  # opq inherited
    assert n == S._IVF_K
    assert canon(rebuilt) == canon(old)
    side = S._read_quantizer_sidecar(spark, rebuilt)
    assert side and side.get("rotation") is not None  # tier inherited

    # plain tier too, and the memo-independence claim: poison the
    # session memos first — a rebuild that consulted them would encode
    # garbage
    plain = str(tmp_path / "plain_idx")
    S.build_ivfpq_index(spark, SF, plain, opq=False)
    cache.release(spark, "ivf_centroids")
    cache.release(spark, "pq_codebooks")
    good = side["centroids"]
    cache.entries(spark, "ivf_centroids")[SF] = good[1:] + good[:1]
    try:
        replain = str(tmp_path / "replain_idx")
        S.rebuild_ivfpq_index(spark, SF, plain, replain)
        assert canon(replain) == canon(plain)
    finally:
        cache.release(spark, "ivf_centroids")
        cache.release(spark, "pq_codebooks")


def test_rebuild_serve_continuity_via_pointer(spark, tmp_path):
    """r14 (VERDICT r13 #1, pin b): a versioned root + ``_current.json``
    pointer serves the OLD index all through a rebuild and switches in
    ONE atomic publish — and the serve/add entry points resolve the
    root transparently."""
    root = tmp_path / "index_root"
    root.mkdir()
    v1 = str(root / "v1")
    S.build_ivfpq_index(spark, SF, v1, opq=True)
    S.write_index_pointer(spark, str(root), v1)
    # pointer is stored relative → the root is relocatable
    import json

    assert json.loads((root / "_current.json").read_text()) == {"current": "v1"}

    want_v1 = [
        tuple(r) for r in S.ann_ivfpq_topk_indexed(spark, SF, v1).collect()
    ]
    via_root = [
        tuple(r) for r in S.ann_ivfpq_topk_indexed(spark, SF, str(root)).collect()
    ]
    assert via_root == want_v1

    # rebuild into v2: v1's files untouched, root still serves v1
    v1_files = sorted(p.name for p in (root / "v1").rglob("*"))
    v2 = str(root / "v2")
    S.rebuild_ivfpq_index(spark, SF, str(root), v2)  # old = resolved root
    assert sorted(p.name for p in (root / "v1").rglob("*")) == v1_files
    assert [
        tuple(r) for r in S.ann_ivfpq_topk_indexed(spark, SF, str(root)).collect()
    ] == want_v1

    # atomic publish: one pointer write flips the root to v2
    S.write_index_pointer(spark, str(root), v2)
    want_v2 = [
        tuple(r) for r in S.ann_ivfpq_topk_indexed(spark, SF, v2).collect()
    ]
    assert [
        tuple(r) for r in S.ann_ivfpq_topk_indexed(spark, SF, str(root)).collect()
    ] == want_v2

    # adds through the root land in the ACTIVE version only (re-adding
    # existing ids is fine here — this pin is about ROUTING, and the
    # append path doesn't dedup by contract)
    emb = S.load_table(spark, SF, "embeddings")
    batch = emb.filter("vec_id < 10")
    before_v1 = spark.read.parquet(v1).count()
    n = S.ivfpq_index_add(spark, SF, str(root), batch)
    assert n == batch.count() > 0
    assert spark.read.parquet(v1).count() == before_v1
    assert spark.read.parquet(v2).count() == emb.count() + n
    cache.release(spark, "ivf_centroids")
    cache.release(spark, "pq_codebooks")


def test_ivf_family_resolves_version_pointer(spark, tmp_path):
    """The plain-IVF serve/add entry points resolve a versioned root
    exactly like the IVFPQ pair (r14 symmetry)."""
    root = tmp_path / "ivf_root"
    root.mkdir()
    v1 = str(root / "v1")
    S.build_ivf_index(spark, SF, v1)
    S.write_index_pointer(spark, str(root), v1)
    want = [tuple(r) for r in S.ann_ivf_topk_indexed(spark, SF, v1).collect()]
    got = [
        tuple(r) for r in S.ann_ivf_topk_indexed(spark, SF, str(root)).collect()
    ]
    assert got == want
    emb = S.load_table(spark, SF, "embeddings")
    batch = emb.filter("vec_id < 5")
    before = spark.read.parquet(v1).count()
    n = S.ivf_index_add(spark, SF, str(root), batch)
    assert n == batch.count() > 0
    assert spark.read.parquet(v1).count() == before + n
    cache.release(spark, "ivf_centroids")


def test_rebuild_recovers_recall_after_drift(spark, tmp_path):
    """r14 (VERDICT r13 #1, pin c): the drift scenario end-to-end — an
    index whose quantizer was trained on the ORIGINAL corpus absorbs
    arrivals via incremental adds (encoded under the frozen stale
    quantizer, by design); the rebuild retrains on the grown corpus and
    its recall against exact KNN must be >= the stale index's."""
    from pyspark.sql import functions as F

    emb = S.load_table(spark, SF, "embeddings")
    base = emb.filter(F.pmod("vec_id", F.lit(4)) != 0)
    arrivals = emb.filter(F.pmod("vec_id", F.lit(4)) == 0)

    stale = str(tmp_path / "stale_idx")
    # quantizer trained on BASE only (the corpus as of base-build time)
    S.rebuild_ivfpq_index(spark, SF, None, stale, vectors=base, opq=True)
    S.ivfpq_index_add(spark, SF, stale, arrivals)
    assert spark.read.parquet(stale).count() == emb.count()

    rebuilt = str(tmp_path / "rebuilt_idx")
    S.rebuild_ivfpq_index(spark, SF, stale, rebuilt)  # current = full table

    exact = {
        (r.probe_id, r.neighbor_id)
        for r in S.knn_exact_topk(spark, SF).collect()
    }

    def recall(idx):
        got = {
            (r.probe_id, r.neighbor_id)
            for r in S.ann_ivfpq_topk_indexed(spark, SF, idx).collect()
        }
        return len(exact & got) / len(exact)

    r_stale, r_rebuilt = recall(stale), recall(rebuilt)
    assert r_rebuilt >= r_stale, (r_stale, r_rebuilt)
    assert r_rebuilt >= 0.85  # the family floor holds on the rebuild
    cache.release(spark, "ivf_centroids")
    cache.release(spark, "pq_codebooks")


def test_corrupt_sidecar_raises_absent_sidecar_falls_back(spark, tmp_path):
    """Sidecar failure policy (review r13): a sidecar that EXISTS but
    is unreadable (tampering — the atomic temp+rename write can't
    produce one) must RAISE with an actionable message, never silently
    fall back — since the OPQ tier, the session trainer is not
    guaranteed equivalent and a fallback could serve wrong neighbors or
    append wrong-space codes.  An ABSENT sidecar (pre-r12 artifact) is
    the legacy case and still falls back to the session trainer."""
    import pytest

    idx = str(tmp_path / "ivf_index")
    S.build_ivf_index(spark, SF, idx)
    want = [tuple(r) for r in S.ann_ivf_topk_indexed(spark, SF, idx).collect()]

    sidecar = tmp_path / "ivf_index" / "_quantizer.json"
    sidecar.write_text('{"centro')  # truncate (stale checksum too)
    with pytest.raises(ValueError, match="unreadable"):
        S._read_quantizer_sidecar(spark, idx)
    with pytest.raises(ValueError, match="unreadable"):
        S.ann_ivf_topk_indexed(spark, SF, idx).collect()

    # absent sidecar: legacy fallback to the session memo still serves
    sidecar.unlink()
    crc = tmp_path / "ivf_index" / "._quantizer.json.crc"
    if crc.exists():
        crc.unlink()
    assert S._read_quantizer_sidecar(spark, idx) is None
    got = [tuple(r) for r in S.ann_ivf_topk_indexed(spark, SF, idx).collect()]
    assert got == want
    cache.release(spark, "ivf_centroids")


def test_control_file_with_undecodable_bytes_raises(spark, tmp_path):
    """A control file whose bytes are not UTF-8 is refused like a
    truncated one; it is never decoded into a guessed target."""
    (tmp_path / "_current.json").write_bytes(b'{"current": "v\xff1"}')
    with pytest.raises(ValueError, match="unreadable"):
        S.read_index_pointer(spark, str(tmp_path))


def test_sidecar_write_is_tempfile_then_rename(spark, tmp_path):
    """The durability contract itself: after a build the index dir holds
    the final sidecar and NO leftover temp file, and rewriting an
    existing sidecar (rebuild into the same path) succeeds."""
    idx = str(tmp_path / "ivf_index")
    S.build_ivf_index(spark, SF, idx)
    S.build_ivf_index(spark, SF, idx)  # overwrite path: rename over existing
    names = {p.name for p in (tmp_path / "ivf_index").iterdir()}
    assert "_quantizer.json" in names
    assert not any(n.endswith(".tmp") for n in names), names
    # no ORPHAN checksum companions either (ADVICE r13): the raw
    # FileContext rename does not move the local ChecksumFileSystem's
    # '.<tmp>.crc', so the writer deletes it explicitly.  Spark's own
    # paired '._SUCCESS.crc' (its data file exists) is fine.
    orphans = [
        n
        for n in names
        if n.endswith(".crc") and n[1 : -len(".crc")] not in names
    ]
    assert not orphans, orphans
    cache.release(spark, "ivf_centroids")


def test_drift_report_matches_numpy_oracle(spark, tmp_path):
    """index_drift_report (r14 — the drift MONITOR): every reported
    number replicated independently in numpy from the index parquet +
    the sidecar JSON (decode codes, un-rotate, add the centroid,
    square-error against the raw vector)."""
    import json
    import math

    import numpy as np

    path = str(tmp_path / "opq_idx")
    S.build_ivfpq_index(spark, SF, path, opq=True)
    got = {r.segment: r for r in S.index_drift_report(spark, SF, path).collect()}
    assert set(got) == {"base"}  # flat build: no streamed epochs

    side = json.load(open(f"{path}/_quantizer.json"))
    cents = np.asarray(side["centroids"], dtype=np.float64)
    books = np.asarray(side["codebooks"], dtype=np.float64)
    rot = np.asarray(side["rotation"], dtype=np.float64)
    emb = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in S.load_table(spark, SF, "embeddings").collect()
    }
    errs, cells = [], {}
    for r in spark.read.parquet(path).collect():
        res_hat = (
            np.concatenate([books[m][r.codes[m]] for m in range(S._PQ_M)])
            @ rot.T
        )
        d = emb[r.vec_id] - (cents[r.cell] + res_hat)
        errs.append(float(d @ d))
        cells[r.cell] = cells.get(r.cell, 0) + 1
    g = got["base"]
    assert g.n_vectors == len(errs) == len(emb)
    assert g.n_cells_used == len(cells)
    assert math.isclose(
        g.top_cell_share, max(cells.values()) / len(errs), rel_tol=1e-12
    )
    assert math.isclose(g.mean_sq_err, sum(errs) / len(errs), rel_tol=1e-9)
    assert math.isclose(g.max_sq_err, max(errs), rel_tol=1e-9)

    # sample_mod: the deterministic 1/mod id-slice, replicated the same
    # way (scheduled monitoring pays 1/mod of the scan)
    s_errs, s_cells = [], {}
    for r in spark.read.parquet(path).filter("vec_id % 4 = 0").collect():
        res_hat = (
            np.concatenate([books[m][r.codes[m]] for m in range(S._PQ_M)])
            @ rot.T
        )
        d = emb[r.vec_id] - (cents[r.cell] + res_hat)
        s_errs.append(float(d @ d))
        s_cells[r.cell] = s_cells.get(r.cell, 0) + 1
    [s] = S.index_drift_report(spark, SF, path, sample_mod=4).collect()
    assert 0 < s.n_vectors == len(s_errs) < len(errs)
    assert s.n_cells_used == len(s_cells)
    assert math.isclose(s.mean_sq_err, sum(s_errs) / len(s_errs), rel_tol=1e-9)
    cache.release(spark, "ivf_centroids")
    cache.release(spark, "pq_codebooks")


def test_drift_report_requires_sidecar(spark, tmp_path):
    """A code-bearing index without its quantizer sidecar cannot be
    decoded — the report must refuse, not fabricate a session
    quantizer (the codes were NOT encoded under one)."""
    import os

    import pytest

    path = str(tmp_path / "opq_idx")
    S.build_ivfpq_index(spark, SF, path, opq=True)
    os.remove(os.path.join(path, "_quantizer.json"))
    with pytest.raises(ValueError, match="sidecar"):
        S.index_drift_report(spark, SF, path)
    cache.release(spark, "ivf_centroids")
    cache.release(spark, "pq_codebooks")


@pytest.mark.parametrize("case", ["serve", "add", "rebuild", "add_to_ivf"])
def test_ivfpq_readers_require_sidecar(spark, tmp_path, case):
    """Every IVFPQ reader takes the quantizer from the index's sidecar
    and refuses an index without one: the stored codes were encoded
    under that quantizer, and a session-trained one could serve wrong
    neighbours, append codes in another space, or rebuild the wrong
    tier.  A plain IVF index's sidecar holds centroids only, so an
    IVFPQ add to it must refuse too, not encode with session
    codebooks."""
    import os

    path = str(tmp_path / "idx")
    if case == "add_to_ivf":
        S.build_ivf_index(spark, SF, path)
    else:
        S.build_ivfpq_index(spark, SF, path, opq=True)
        os.remove(os.path.join(path, "_quantizer.json"))
        crc = os.path.join(path, "._quantizer.json.crc")
        if os.path.exists(crc):
            os.remove(crc)
    batch = S.load_table(spark, SF, "embeddings").filter("vec_id < 10")
    calls = {
        "serve": lambda: S.ann_ivfpq_topk_indexed(spark, SF, path).collect(),
        "add": lambda: S.ivfpq_index_add(spark, SF, path, batch),
        "rebuild": lambda: S.rebuild_ivfpq_index(
            spark, SF, path, str(tmp_path / "new"), opq=None
        ),
        "add_to_ivf": lambda: S.ivfpq_index_add(spark, SF, path, batch),
    }
    n_before = spark.read.parquet(path).count()
    try:
        with pytest.raises(ValueError, match="sidecar"):
            calls[case]()
        assert spark.read.parquet(path).count() == n_before  # nothing appended
        assert not (tmp_path / "new").exists()  # nothing rebuilt
    finally:
        cache.release(spark, "ivf_centroids")
        cache.release(spark, "pq_codebooks")


def test_versioned_root_is_relocatable(spark, tmp_path):
    """write_index_pointer stores an inside-root target RELATIVE so
    "the root stays relocatable" (its documented contract) — pin the
    claim: move the WHOLE versioned root (pointer + version dirs) to a
    new path and the serve through the moved root must answer
    identically, resolving the pointer against its new location."""
    import shutil

    root = tmp_path / "rootA"
    root.mkdir()
    v1 = str(root / "v1")
    S.build_ivfpq_index(spark, SF, v1, opq=True)
    S.write_index_pointer(spark, str(root), v1)
    want = [
        tuple(r)
        for r in S.ann_ivfpq_topk_indexed(spark, SF, str(root)).collect()
    ]

    moved = tmp_path / "moved" / "rootB"
    moved.parent.mkdir()
    shutil.move(str(root), str(moved))
    assert S.resolve_index_path(spark, str(moved)) == str(moved / "v1")
    got = [
        tuple(r)
        for r in S.ann_ivfpq_topk_indexed(spark, SF, str(moved)).collect()
    ]
    assert got == want
    cache.release(spark, "ivf_centroids")
    cache.release(spark, "pq_codebooks")


# --- the indexed serve state is kept per index and table version ------


def _served(spark, sf_dir, idx):
    return [tuple(r) for r in S.ann_ivfpq_topk_indexed(spark, sf_dir, idx).collect()]


def _fresh_served(spark, sf_dir, idx):
    """The answer of a session that has kept nothing for the index."""
    fresh = spark.newSession()
    try:
        return _served(fresh, sf_dir, idx)
    finally:
        cache.release(fresh)


def _served_rotation(spark, idx):
    """The OPQ rotation of the serve state kept for ``idx``."""
    (state,) = [
        v for k, v in cache.entries(spark, "ivfpq_serve").items() if k[0] == idx
    ]
    return state.quantizer.rotation


def test_serve_state_follows_in_place_rebuild(spark, tmp_path):
    """An index rebuilt in place on the other tier is served under its
    new quantizer by the next query, as a fresh session serves it."""
    idx = str(tmp_path / "index")
    S.build_ivfpq_index(spark, SF, idx)
    _served(spark, SF, idx)
    _served(spark, SF, idx)
    assert _served_rotation(spark, idx) is None

    S.build_ivfpq_index(spark, SF, idx, opq=True)
    got = _served(spark, SF, idx)
    assert _served_rotation(spark, idx) is not None
    assert got == _fresh_served(spark, SF, idx)
    assert got == [tuple(r) for r in S.ann_opq_topk(spark, SF).collect()]
    cache.release(spark, "ivf_centroids")
    cache.release(spark, "pq_codebooks")


def test_serve_state_follows_pointer_move(spark, tmp_path):
    """A warm root serves the rebuilt version as soon as the pointer
    moves to it."""
    root = tmp_path / "root"
    root.mkdir()
    v1, v2 = str(root / "v1"), str(root / "v2")
    S.build_ivfpq_index(spark, SF, v1, opq=True)
    S.write_index_pointer(spark, str(root), v1)
    want_v1 = _served(spark, SF, str(root))
    assert _served(spark, SF, str(root)) == want_v1

    S.rebuild_ivfpq_index(spark, SF, str(root), v2, opq=False)
    assert _served(spark, SF, str(root)) == want_v1  # not published yet
    (old,) = [
        v for k, v in cache.entries(spark, "ivfpq_serve").items() if k[0] == v1
    ]
    S.write_index_pointer(spark, str(root), v2)
    got = _served(spark, SF, str(root))
    assert _served_rotation(spark, v2) is None
    # the retired version's state is dropped and its broadcast destroyed
    assert not [k for k in cache.entries(spark, "ivfpq_serve") if k[0] == v1]
    assert not os.path.exists(old.luts._path)
    assert got == _fresh_served(spark, SF, str(root))
    assert got == _fresh_served(spark, SF, v2)
    cache.release(spark, "ivf_centroids")
    cache.release(spark, "pq_codebooks")


def test_serve_state_follows_table_rewritten_outside_the_package(spark, tmp_path):
    """``embeddings.parquet`` overwritten through plain pyarrow with
    other probe vectors: the next query serves the new probes.  Each
    probe i now holds the vector of row 100 + i, so that row is its
    nearest neighbour at cosine 1."""
    import shutil

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = tmp_path / "sf"
    sf.mkdir()
    table = str(sf / "embeddings.parquet")
    shutil.copy(f"{SF}/embeddings.parquet", table)
    (sf / "embeddings.parquet").chmod(0o644)  # the copy keeps a read-only mode
    idx = str(tmp_path / "index")
    S.build_ivfpq_index(spark, str(sf), idx, opq=True)
    before = _served(spark, str(sf), idx)
    assert _served(spark, str(sf), idx) == before

    t = pq.read_table(table)
    ids = t.column("vec_id").to_numpy()
    X = np.stack(t.column("embedding").to_numpy(zero_copy_only=False))
    row = {int(v): i for i, v in enumerate(ids)}
    for p in range(S._N_PROBES):
        X[row[p]] = X[row[100 + p]]
    emb = pa.array(list(X.astype(np.float32)), type=t.schema.field("embedding").type)
    pq.write_table(t.set_column(t.schema.get_field_index("embedding"), "embedding", emb), table)

    got = _served(spark, str(sf), idx)
    assert got != before
    assert got == _fresh_served(spark, str(sf), idx)
    top1 = {r[0]: r[2] for r in got if r[1] == 1}
    assert top1 == {p: 100 + p for p in range(S._N_PROBES)}
    cache.release(spark, "ivf_centroids")
    cache.release(spark, "pq_codebooks")


def test_session_ivfpq_queries_keep_one_broadcast(spark):
    """Warm in-session IVFPQ queries reuse the kept ADC-table broadcast:
    no new broadcast file appears in the driver's temp dir after the
    first call.  A replaced quantizer memo gets a fresh state."""
    temp = spark.sparkContext._temp_dir

    def files():
        return set(os.listdir(temp))

    want = [tuple(r) for r in S.ann_opq_topk(spark, SF).collect()]
    after_first = files()
    for _ in range(5):
        assert [tuple(r) for r in S.ann_opq_topk(spark, SF).collect()] == want
    assert files() - after_first == set()

    good = cache.entries(spark, "ivf_centroids")[SF]
    poison = good[1:] + good[:1]
    cache.entries(spark, "ivf_centroids")[SF] = poison
    try:
        S.ann_ivfpq_topk(spark, SF).collect()
        state = cache.entries(spark, "ivfpq_session")[(SF, False)]
        assert state.quantizer.centroids is poison
    finally:
        cache.release(spark, "ivf_centroids")
        cache.release(spark, "pq_codebooks")
        cache.release(spark, "ivfpq_session")
