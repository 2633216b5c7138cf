"""Gate for the streaming near-dup ingestion gate: an independent
pure-Python greedy replay (all-pairs exact 3-gram Jaccard, docs fed in
doc_id order, keep unless near-dup of something already kept) must
agree with the gate's kept/dropped partition exactly; matched_doc must
be a true kept near-dup; and a kill/restart on the same checkpoint +
state dirs must resume exactly-once to the same decision log."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from distributed_graph_coloring_with_pyspark_spark.operators.text_dedup import (
    _JACCARD_THRESHOLD,
)
from distributed_graph_coloring_with_pyspark_spark.sources.tables import load_table
from distributed_graph_coloring_with_pyspark_spark.streaming.ingest import (
    streaming_neardup_gate,
    streaming_neardup_gate_corpus,
)

SF = "/root/testdata/sf0.01"


def _sh(text: str) -> frozenset:
    ts = text.strip().split(" ")
    if len(ts) < 3:
        return frozenset()
    return frozenset(
        " ".join(ts[i : i + 3]) for i in range(len(ts) - 2)
    )


def _jac(a: frozenset, b: frozenset) -> float:
    u = len(a | b)
    return len(a & b) / u if u else 0.0


def _python_greedy(docs: list[tuple[int, str]]):
    """Sequential online dedup: returns (kept set, {dropped: some kept
    near-dup exists} — the oracle checks membership, not which one)."""
    kept: dict[int, frozenset] = {}
    dropped: set[int] = set()
    for doc_id, text in sorted(docs):
        s = _sh(text)
        if any(_jac(s, ks) >= _JACCARD_THRESHOLD for ks in kept.values()):
            dropped.add(doc_id)
        else:
            kept[doc_id] = s
    return kept, dropped


@pytest.fixture(scope="module")
def corpus(spark):
    rows = load_table(spark, SF, "documents").select("doc_id", "text").collect()
    return [(r.doc_id, r.text) for r in rows]


def test_gate_matches_greedy_python_oracle(spark, corpus):
    kept, dropped = _python_greedy(corpus)
    shingles = {d: _sh(t) for d, t in corpus}
    rows = streaming_neardup_gate_corpus(spark, SF).collect()
    assert len(rows) == len(corpus)  # every doc gets a verdict
    got_kept = {r.doc_id for r in rows if r.verdict == "novel"}
    got_dropped = {r.doc_id for r in rows if r.verdict != "novel"}
    assert got_kept == set(kept)
    assert got_dropped == dropped
    # the fixture must exercise the gate for real
    assert dropped, "corpus has no near-dups — gate untested"
    for r in rows:
        if r.verdict == "novel":
            assert r.matched_doc is None
        else:
            assert r.matched_doc in kept and r.matched_doc < r.doc_id
            assert (
                _jac(shingles[r.doc_id], shingles[r.matched_doc])
                >= _JACCARD_THRESHOLD
            )


def _write_chunk(spark, docs, lo, hi, src, name):
    from distributed_graph_coloring_with_pyspark_spark.streaming.ingest import (
        write_arrival_file,
    )

    rows = [(d, t) for d, t in docs if lo <= d < hi]
    write_arrival_file(
        spark.createDataFrame(rows, "doc_id long, text string"), src, name
    )


def test_gate_restart_resumes_exactly_once(spark, corpus, tmp_path):
    """Kill the gate after two arrival files, restart on the same
    checkpoint + state dirs with two more waiting: the final decision
    log must equal the python greedy replay over all four — replayed
    epochs may not double-admit, double-drop, or see their own
    partial state."""
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    n = max(d for d, _ in corpus) + 1
    q = n // 4
    _write_chunk(spark, corpus, 0, q, src, "c0")
    _write_chunk(spark, corpus, q, 2 * q, src, "c1")
    first = streaming_neardup_gate(spark, src, state, ckpt).collect()
    assert {r.doc_id for r in first} == {d for d, _ in corpus if d < 2 * q}

    # two more slices land while the gate is DOWN
    _write_chunk(spark, corpus, 2 * q, 3 * q, src, "c2")
    _write_chunk(spark, corpus, 3 * q, n, src, "c3")
    rows = streaming_neardup_gate(spark, src, state, ckpt).collect()

    kept, dropped = _python_greedy(corpus)
    assert len(rows) == len(corpus)
    assert {r.doc_id for r in rows if r.verdict == "novel"} == set(kept)
    assert {r.doc_id for r in rows if r.verdict != "novel"} == dropped


def test_gate_state_is_one_fused_store(spark, corpus, tmp_path):
    """r15 opt (VERDICT r14 #1): an epoch commits kept corpus, band
    index and decision log as ONE (kind, epoch)-partitioned write — the
    state dir must hold exactly the single store with all three kind
    partitions carrying every epoch, and no legacy per-store dirs.  The
    kind-partition dirs must each read back as the frames the old
    layout held (the readers address them directly)."""
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    n = max(d for d, _ in corpus) + 1
    _write_chunk(spark, corpus, 0, n // 2, src, "c0")
    _write_chunk(spark, corpus, n // 2, n, src, "c1")
    rows = streaming_neardup_gate(spark, src, state, ckpt).collect()
    assert len(rows) == len(corpus)

    assert sorted(e for e in os.listdir(state) if not e.startswith(".")) == [
        "store"
    ]
    store = os.path.join(state, "store")
    kinds = sorted(e for e in os.listdir(store) if e.startswith("kind="))
    assert kinds == ["kind=decisions", "kind=index", "kind=kept"]
    for kind in kinds:
        epochs = {
            e
            for e in os.listdir(os.path.join(store, kind))
            if e.startswith("epoch=")
        }
        assert epochs == {"epoch=0", "epoch=1"}

    # the kind dirs read back as the old per-store frames
    kept = spark.read.parquet(os.path.join(store, "kind=kept"))
    novel = {r.doc_id for r in rows if r.verdict == "novel"}
    assert {r.doc_id for r in kept.select("doc_id").collect()} == novel
    assert {r.doc_id: r.text for r in kept.select("doc_id", "text").collect()} == {
        d: t for d, t in corpus if d in novel
    }
    idx = spark.read.parquet(os.path.join(store, "kind=index"))
    assert {r.doc_id for r in idx.select("doc_id").distinct().collect()} == novel
    assert not idx.filter(
        F.col("band").isNull() | F.col("bucket").isNull()
    ).count()


def test_gate_empty_corpus_returns_empty_log(spark, tmp_path):
    """r12 (VERDICT r11 #2): an EMPTY documents table is a valid input —
    the corpus entry must return an empty decision log with the
    contract schema (it crashed on the nonexistent decisions dir
    before), and the raw gate must do the same on a src dir holding
    only an empty arrival file."""
    path = str(tmp_path / "documents.parquet")
    spark.createDataFrame([], "doc_id long, text string").write.parquet(path)
    out = streaming_neardup_gate_corpus(spark, str(tmp_path))
    assert out.columns == ["doc_id", "verdict", "matched_doc"]
    assert out.count() == 0

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    os.makedirs(src)
    from distributed_graph_coloring_with_pyspark_spark.streaming.ingest import (
        write_arrival_file,
    )

    write_arrival_file(
        spark.createDataFrame([], "doc_id long, text string"), src, "c0"
    )
    out2 = streaming_neardup_gate(spark, src, state)
    assert out2.columns == ["doc_id", "verdict", "matched_doc"]
    assert out2.count() == 0


def test_gate_refuses_legacy_state_layout(spark, tmp_path):
    """A state dir in the older layout (top-level ``kept/``, ``index/``,
    ``decisions/`` dirs) is not read by the gate, which would take it for
    an empty corpus and admit duplicates of everything it kept: the gate
    must refuse it before any epoch runs and write no ``store/``."""
    from distributed_graph_coloring_with_pyspark_spark.streaming.ingest import (
        write_arrival_file,
    )

    src = str(tmp_path / "src")
    state = tmp_path / "state"
    os.makedirs(src)
    (state / "kept" / "epoch=0").mkdir(parents=True)
    write_arrival_file(
        spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string"),
        src,
        "c0",
    )
    with pytest.raises(ValueError, match="legacy"):
        streaming_neardup_gate(spark, src, str(state))
    assert not (state / "store").exists()
