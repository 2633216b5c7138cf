"""BPE tokenizer training: the Spark trainer vs a definitional
pure-Python oracle (classic Sennrich-style BPE on word counts), merge
table EXACT-SEQUENCE checked, tokenization stats value-checked, the
merge fold brute-forced with hypothesis, and the one-action-per-round
perf contract pinned like the coloring engine's."""

from __future__ import annotations

import re
from collections import Counter

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from distributed_graph_coloring_with_pyspark_spark import cache
from distributed_graph_coloring_with_pyspark_spark.operators.tokenizer import (
    _BPE_PATTERN,
    _apply_merge,
    bpe_tokenize_stats,
    train_bpe,
)

SF0001 = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# Pure-Python reference (the definitional oracle, no Spark)


def ref_word_freqs(sf_dir: str) -> Counter:
    rows = duckdb.sql(
        f"SELECT lower(text) FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    freqs: Counter = Counter()
    for (text,) in rows:
        freqs.update(re.findall(_BPE_PATTERN, text))
    return freqs


def ref_merge_apply(segs: list[str], left: str, right: str) -> list[str]:
    """Left-to-right non-overlapping replacement — the classic scan."""
    out: list[str] = []
    i = 0
    while i < len(segs):
        if i + 1 < len(segs) and segs[i] == left and segs[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(segs[i])
            i += 1
    return out


def ref_train_bpe(freqs: Counter, num_merges: int, min_pair_count: int = 2):
    vocab = {w: list(w) for w in freqs}
    merges = []
    for rank in range(num_merges):
        pairs: Counter = Counter()
        for w, segs in vocab.items():
            c = freqs[w]
            for a, b in zip(segs, segs[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        # max count, ties to the lexicographically least (left, right)
        (left, right), pc = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if pc < min_pair_count:
            break
        merges.append((rank, left, right, pc))
        vocab = {w: ref_merge_apply(s, left, right) for w, s in vocab.items()}
    return merges, vocab


# ---------------------------------------------------------------------------


def test_train_bpe_matches_python_reference(spark):
    """EXACT merge-sequence equality over 12 rounds at sf0.001 — counts,
    tie-breaks and the non-overlapping replacement all have to agree for
    twelve consecutive argmaxes to line up."""
    merges, vocab = train_bpe(spark, SF0001, num_merges=12)
    ref_merges, ref_vocab = ref_train_bpe(ref_word_freqs(SF0001), 12)
    assert merges == ref_merges
    got = {
        r["word"]: list(r["segs"])
        for r in vocab.select("word", "segs").collect()
    }
    assert got == ref_vocab


def test_train_bpe_min_pair_count_stops_early(spark):
    """A corpus of unique single-occurrence words has no pair reaching
    min_pair_count=2 beyond the shared prefixes; with a high floor the
    trainer must stop rather than emit marginal merges."""
    merges, _ = train_bpe(spark, SF0001, num_merges=50, min_pair_count=10**9)
    assert merges == []


_hyp_spark = None


def _get_spark():
    """Module-level session for hypothesis tests (the repo convention —
    see test_substring_dedup_properties.py — since @given can't take a
    pytest fixture per example)."""
    global _hyp_spark
    if _hyp_spark is None:
        from distributed_graph_coloring_with_pyspark_spark.session import get_spark

        _hyp_spark = get_spark(app_name="dgc-tests", cpus=4, shuffle_partitions=4)
        _hyp_spark.sparkContext.setLogLevel("ERROR")
    return _hyp_spark


@settings(max_examples=25, deadline=None)
@given(
    segs=st.lists(st.sampled_from(["a", "b", "ab", "c"]), min_size=0, max_size=9),
    pair=st.tuples(
        st.sampled_from(["a", "b", "ab"]), st.sampled_from(["a", "b", "c"])
    ),
)
def test_apply_merge_matches_reference_fold(segs, pair):
    """The JVM aggregate fold == the classic Python scan on adversarial
    symbol lists — including merged-token-equals-symbol collisions
    ('ab' already a symbol) and overlapping runs ([a,a,a])."""
    spark = _get_spark()
    left, right = pair
    df = spark.createDataFrame([(segs,)], "segs array<string>")
    got = df.select(
        _apply_merge(F.col("segs"), left, right).alias("m")
    ).collect()[0]["m"]
    assert list(got) == ref_merge_apply(segs, left, right)


def test_tokenize_stats_match_python_reference(spark):
    """Per-lang token totals under the 16-merge model, value-for-value
    against the Python reference tokenizing the same corpus."""
    from distributed_graph_coloring_with_pyspark_spark.operators.tokenizer import (
        _DEFAULT_MERGES,
    )

    cache.release(spark, "bpe_models")
    got = {
        r["lang"]: (
            r["n_words"],
            r["total_tokens"],
            r["merged_tokens"],
            r["chars_per_token"],
        )
        for r in bpe_tokenize_stats(spark, SF0001).collect()
    }
    cache.release(spark, "bpe_models")

    freqs = ref_word_freqs(SF0001)
    _, vocab = ref_train_bpe(freqs, _DEFAULT_MERGES)
    rows = duckdb.sql(
        f"SELECT lang, lower(text) FROM '{SF0001}/documents.parquet'"
    ).fetchall()
    agg: dict[str, list[float]] = {}
    for lang, text in rows:
        for w in re.findall(_BPE_PATTERN, text):
            segs = vocab[w]
            a = agg.setdefault(lang, [0, 0, 0, 0])
            a[0] += 1
            a[1] += len(segs)
            a[2] += sum(1 for s in segs if len(s) > 1)
            a[3] += len(w)
    assert set(got) == set(agg)
    for lang, (n, t, m, ch) in agg.items():
        gn, gt, gm, gr = got[lang]
        assert (gn, gt, gm) == (n, t, m), lang
        # rounding mode differs on exact half-ulps (Spark HALF_UP vs
        # Python banker's) — tolerance instead of string equality
        assert abs(gr - ch / t) <= 1e-4, lang


def test_bpe_encode_round_trip(spark, tmp_path):
    """Encode → decode is lossless: concatenating each document's
    decoded symbols reproduces its pre-token stream byte-for-byte, and
    the parquet export reads back identically."""
    from distributed_graph_coloring_with_pyspark_spark.operators.tokenizer import (
        bpe_encode_export,
        bpe_vocabulary,
    )

    out = str(tmp_path / "enc")
    enc = {
        r["doc_id"]: (r["n_tokens"], list(r["token_ids"]))
        for r in bpe_encode_export(spark, SF0001, out).collect()
    }
    id2sym = {
        r["token_id"]: r["symbol"]
        for r in bpe_vocabulary(spark, SF0001).collect()
    }
    texts = duckdb.sql(
        f"SELECT doc_id, lower(text) FROM '{SF0001}/documents.parquet'"
    ).fetchall()
    assert enc, "no documents encoded"
    assert set(enc) == {d for d, _ in texts}  # EVERY document has a row
    for doc_id, text in texts:
        want = "".join(re.findall(_BPE_PATTERN, text))
        n, ids = enc[doc_id]
        assert n == len(ids)
        if not want:
            assert (n, ids) == (0, [])  # zero pre-tokens → explicit empty row
            continue
        assert "".join(id2sym[t] for t in ids) == want, doc_id


def test_bpe_one_action_per_round(spark, monkeypatch):
    """Perf contract, same pin as the coloring engine's: each merge
    round issues exactly ONE collect (the argmax pair) and zero counts —
    a stray materialization inside the loop multiplies corpus passes at
    scale."""
    probe = spark.range(1)
    DF = type(probe)

    calls = {"collect": 0, "count": 0}
    orig_collect, orig_count = DF.collect, DF.count
    monkeypatch.setattr(
        DF,
        "collect",
        lambda self: (
            calls.__setitem__("collect", calls["collect"] + 1),
            orig_collect(self),
        )[1],
    )
    monkeypatch.setattr(
        DF,
        "count",
        lambda self: (
            calls.__setitem__("count", calls["count"] + 1),
            orig_count(self),
        )[1],
    )
    merges, _ = train_bpe(spark, SF0001, num_merges=6)
    assert len(merges) == 6
    assert calls["collect"] == 6, calls
    assert calls["count"] == 0, calls


def test_bpe_empty_docs_emit_rows(spark, tmp_path):
    """ADVICE r8: documents with zero pre-tokens must appear in the
    exported artifact as (doc_id, 0, []) and count toward
    bpe_encode_stats.n_docs."""
    from distributed_graph_coloring_with_pyspark_spark.operators.tokenizer import (
        bpe_encode_export,
        bpe_encode_stats,
    )

    sf = str(tmp_path)
    spark.createDataFrame(
        [
            (1, "low lower lowest low low", "en", "s", 24),
            (2, "", "en", "s", 0),
            (3, "   ", "zz", "s", 3),  # whitespace-only: no pre-tokens
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{sf}/documents.parquet")
    cache.release(spark, "bpe_models")
    try:
        rows = {
            r["doc_id"]: (r["n_tokens"], list(r["token_ids"]))
            for r in bpe_encode_export(spark, sf).collect()
        }
        assert set(rows) == {1, 2, 3}
        assert rows[2] == (0, [])
        assert rows[3] == (0, [])
        assert rows[1][0] > 0
        stats = bpe_encode_stats(spark, sf).collect()[0]
        assert stats["n_docs"] == 3
        assert stats["total_tokens"] == rows[1][0]
    finally:
        cache.release(spark, "bpe_models")


def test_tokenize_join_broadcasts(spark):
    """VERDICT r8 #7: both tokenize-path joins must put the vocab side
    on a BroadcastExchange — the corpus side never shuffles for the
    lookup (the bucketed-join fallback for web-scale type tables is
    documented in the bpe_tokenize_stats docstring)."""
    from distributed_graph_coloring_with_pyspark_spark.operators.tokenizer import (
        bpe_encode_export,
    )

    cache.release(spark, "bpe_models")
    try:
        # (query, required broadcast joins, allowed non-broadcast joins)
        # — encode's single allowed SMJ is the DOC-keyed left join that
        # re-attaches empty documents (corpus-sized on both sides, not
        # a vocab lookup)
        for df, n_bcast, n_smj in (
            (bpe_tokenize_stats(spark, SF0001), 1, 0),
            (bpe_encode_export(spark, SF0001), 2, 1),
        ):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert plan.count("BroadcastHashJoin") >= n_bcast, plan
            assert plan.count("SortMergeJoin") <= n_smj, plan
    finally:
        cache.release(spark, "bpe_models")
