"""Streaming vector-index maintenance — the ONLINE form of the ANN
serving family: embedding batches arrive as a Structured Streaming file
source and are encoded + landed into the persisted IVFPQ(+OPQ) inverted
file under the index's FIXED sidecar quantizer, so a serving index
absorbs a continuous embedding feed with no rebuild and no retrain.
This is the deployment loop a 100 TB vector store actually runs (new
embeddings land continuously; rebuilding the inverted file per arrival
is corpus-quadratic over time) and it composes the engine's pinned
pieces:

- the base build (``build_streaming_ivfpq_base``) is
  ``build_ivfpq_index``'s session quantizer and index writer, laid out
  (epoch, cell)-partitioned under ``epoch=-1``;
- each ingest reads the quantizer once from the index's
  ``_quantizer.json`` sidecar (``_index_quantizer``: centroids,
  residual codebooks and, for an ``opq=True`` base, the rotation) and
  refuses an index without one, so every epoch encodes in exactly the
  space the stored codes live in;
- per-epoch encoding is the shared ``_ivfpq_encode_frame`` Arrow pass
  (cell + residual in Catalyst, codeword argmin in NumPy) — batch-
  sized work, one partitioned write touching only the batch's cells;
- each epoch is STAGED as an invisible ``_staged_epoch_N`` dir and
  PUBLISHED with one rename to ``epoch=N`` (see ``_index_epoch`` for
  which filesystems make that rename atomic), so restarts are
  exactly-once — a plain append (the batch ``ivfpq_index_add``) would
  double-write on replay;
- the serve path is UNCHANGED: ``ann_ivfpq_topk_indexed`` reads the
  (epoch, cell) layout through the same probed-cell PartitionFilter
  (cell stays a physical partition key; the extra epoch level is
  transparent to pruning) and the same sidecar.

Equivalence contract (tests/test_streaming_vector_ingest.py): the
streamed index holds exactly the (vec_id, cell, codes) rows of the
batch lifecycle — ``build_ivfpq_index(vectors=base, opq=True)`` +
``ivfpq_index_add`` per slice — and serves identical top-k, including
under poisoned session memos and across a kill/restart resume.

100 TB notes: per-epoch cost ∝ batch size (encode + a write into the
batch's cells); the standing index is never read by ingestion.  The
quantizer is fixed at base-build time by design — distribution drift
degrades cell balance, not correctness, and the answer is periodic
retrain + rebuild: ``rebuild_ivfpq_index`` (operators/similarity.py)
retrains on the current corpus into a fresh dir + sidecar, keeping the
(epoch, cell) layout, and ``write_index_pointer`` publishes it
atomically under serving traffic.  Epoch proliferation is the
small-files disease ``compact_parquet`` treats (it carries the
sidecar); a nightly compaction to a single epoch level keeps file
counts bounded.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import (
    _BASE_EPOCH,
    _index_quantizer,
    _ivfpq_encode_frame,
    _session_quantizer,
    _sidecar_fs,
    _write_ivfpq_index,
    resolve_index_path,
)
from ..sources.tables import load_table
from .ingest import write_arrival_file

VEC_STREAM_SCHEMA = "vec_id long, embedding array<float>"
_N_SLICES = 4  # arrival slices for the corpus-driven entry below


def build_streaming_ivfpq_base(
    spark: SparkSession,
    sf_dir: str,
    index_path: str,
    base_vectors: DataFrame,
    opq: bool = True,
) -> int:
    """The base build of a STREAM-MAINTAINED inverted file: the same
    session quantizer and index writer as ``build_ivfpq_index``
    (``opq=True`` stores the rotation), laid out (epoch, cell)-
    partitioned under ``epoch=-1`` so no streamed epoch can overwrite
    it.  Returns the number of cells."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _session_quantizer(spark, sf_dir, emb, opq)
    return _write_ivfpq_index(base_vectors, index_path, q, epoch_layout=True)


def _index_epoch(
    index_path: str, quant, batch_df: DataFrame, epoch_id: int
) -> None:
    """One micro-batch: encode under the index's fixed quantizer
    ``quant`` (read from the sidecar once at query start) and land the
    codes as this epoch's partitions.

    The batch is written as a plain parquet dir STAGED under
    ``_staged_epoch_N`` (underscore-prefixed — invisible to every
    parquet reader) and PUBLISHED with one filesystem rename to
    ``epoch=N``; the epoch value comes from the directory name.  A
    replayed epoch deletes the prior ``epoch=N`` and renames again, and
    a crash mid-epoch leaves only an invisible staging dir that the
    replay overwrites, so restarts are exactly-once.  Staging keeps the
    commit to this epoch's own dir instead of a dynamic partition
    overwrite reconciled against every ``epoch=*/cell=*`` dir of the
    index (measured in SCALE.md).

    The publish is atomic only where rename is: on HDFS and the local
    filesystem ``epoch=N`` is either absent or complete.  On object
    stores such as s3a a directory rename is a non-atomic copy and
    delete, so a reader listing the index mid-publish, or after a crash
    inside the rename, can see part of an epoch; the filesystem is not
    checked.  On any filesystem a concurrent reader of a replayed epoch
    can see it absent between the delete and the rename."""
    b = batch_df.select("vec_id", "embedding").localCheckpoint(eager=True)
    if b.isEmpty():
        return  # replayed empty epoch
    cur = int(epoch_id)
    coded = _ivfpq_encode_frame(b, quant)
    staged = os.path.join(index_path, f"_staged_epoch_{cur}")
    coded.write.mode("overwrite").partitionBy("cell").parquet(staged)
    spark = b.sparkSession
    jvm, fs, _ = _sidecar_fs(spark, index_path)
    src = jvm.org.apache.hadoop.fs.Path(staged)
    dst = jvm.org.apache.hadoop.fs.Path(
        os.path.join(index_path, f"epoch={cur}")
    )
    if fs.exists(dst):  # replay: re-publish over the prior attempt
        fs.delete(dst, True)
    if not fs.rename(src, dst):
        raise IOError(
            f"could not publish epoch {cur}: rename {staged} -> {dst} failed"
        )


def _epoch_report(spark: SparkSession, index_path: str) -> DataFrame:
    """Per-epoch index report → (epoch, n_vectors, n_cells)."""
    return (
        spark.read.parquet(index_path)
        .groupBy("epoch")
        .agg(
            F.count("*").cast("long").alias("n_vectors"),
            F.countDistinct("cell").cast("long").alias("n_cells"),
        )
        .orderBy("epoch")
    )


_INGEST_CHECKPOINT = "_ingest_checkpoint"  # default: lives inside the
# index dir (underscore-prefixed — parquet readers skip it), so the
# batch-id sequence travels WITH the state it numbers


def _existing_stream_epochs(spark: SparkSession, index_path: str) -> bool:
    """True when ``index_path`` already holds streamed ``epoch>=0``
    partitions (the base build's ``epoch=-1`` does not count)."""
    _, fs, p = _sidecar_fs(spark, index_path)
    if not fs.exists(p):
        return False
    return any(
        st.getPath().getName().startswith("epoch=")
        and not st.getPath().getName().startswith("epoch=-")
        for st in fs.listStatus(p)
    )


def _checkpoint_has_progress(
    spark: SparkSession, checkpoint_dir: str
) -> bool:
    """True when the Structured Streaming checkpoint has committed at
    least one offset — i.e. a restart would RESUME batch numbering, not
    restart it at 0."""
    _, fs, p = _sidecar_fs(spark, os.path.join(checkpoint_dir, "offsets"))
    return fs.exists(p) and len(fs.listStatus(p)) > 0


def streaming_vector_index_ingest(
    spark: SparkSession,
    src_dir: str,
    index_path: str,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Drive the ingest over every file currently in ``src_dir`` (one
    micro-batch per file) and return the per-epoch index report →
    (epoch, n_vectors, n_cells).  Restartable: pass the same
    ``checkpoint_dir`` and ``index_path`` to resume exactly-once after
    a stop — replayed epochs overwrite their own partitions only.

    ``checkpoint_dir`` defaults to ``<index_path>/_ingest_checkpoint``,
    so repeat calls resume rather than restart batch ids at 0 and
    overwrite existing ``epoch=0..`` partitions with new arrivals; a
    FRESH checkpoint (default or explicit) against an index that
    already holds streamed epochs refuses to start rather than renumber
    over them.  An index without an IVFPQ sidecar raises ``ValueError``
    before the stream starts.

    ``index_path`` may be a versioned root: the ingest resolves the
    pointer ONCE at query start and lands epochs in the active version
    — after a drift rebuild + pointer flip, the next ingest call (with
    its default checkpoint, which lives INSIDE the version dir) starts
    a clean batch sequence against the rebuilt index."""
    index_path = resolve_index_path(spark, index_path)
    if checkpoint_dir is None:
        checkpoint_dir = os.path.join(index_path, _INGEST_CHECKPOINT)
    if not _checkpoint_has_progress(
        spark, checkpoint_dir
    ) and _existing_stream_epochs(spark, index_path):
        raise ValueError(
            f"index at {index_path} already holds streamed epoch>=0 "
            f"partitions but checkpoint {checkpoint_dir} has no committed "
            "offsets — starting fresh would renumber batches from 0 and "
            "dynamic-overwrite existing epochs; pass the original "
            "checkpoint_dir to resume, or compact the index to a new "
            "path first"
        )
    quant = _index_quantizer(spark, index_path)  # once per query
    stream = (
        spark.readStream.schema(VEC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    w = (
        stream.writeStream.outputMode("append")
        .foreachBatch(lambda df, eid: _index_epoch(index_path, quant, df, eid))
        .option("checkpointLocation", checkpoint_dir)
    )
    q = w.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return _epoch_report(spark, index_path)


def streaming_vector_ingest_corpus(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Self-contained (spark, sf_dir) entry for bench/pytest: base =
    the mod-4 ≠ 0 embeddings; the mod-4 == 0 remainder arrives as
    ``_N_SLICES`` vec_id-ordered slices fed one at a time (write →
    drain, deterministic arrival order); returns the per-epoch report.
    State lives in a per-call temp dir."""
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="vec_ingest_")
    src = os.path.join(root, "src")
    idx = os.path.join(root, "index")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(src)
    try:
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        base = emb.filter(F.pmod("vec_id", F.lit(4)) != 0)
        arriving = emb.filter(F.pmod("vec_id", F.lit(4)) == 0)
        build_streaming_ivfpq_base(spark, sf_dir, idx, base, opq=True)
        quant = _index_quantizer(spark, idx)  # once per query

        stream = (
            spark.readStream.schema(VEC_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        w = (
            stream.writeStream.outputMode("append")
            .foreachBatch(lambda df, eid: _index_epoch(idx, quant, df, eid))
            .option("checkpointLocation", ckpt)
        )
        q = w.start()
        try:
            for i in range(_N_SLICES):
                write_arrival_file(
                    # integer slice key: `div` is exact long division —
                    # a double vec_id/4 would mis-bucket past 2^53
                    arriving.filter(
                        F.pmod(F.expr("vec_id div 4"), F.lit(_N_SLICES)) == i
                    ),
                    src,
                    f"slice{i}",
                )
                q.processAllAvailable()
        finally:
            q.stop()
        return _epoch_report(spark, idx).localCheckpoint(
            eager=True  # sever from the temp dir
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


# pytest-gated (content + serve equivalence vs the batch lifecycle,
# kill/restart resume — tests/test_streaming_vector_ingest.py); benched
# with the streaming family.
QUERIES = {"streaming_vector_ingest": streaming_vector_ingest_corpus}
