"""Oracle gate for pytest-gated dedup operators (driver registry is
capped at 50 entries) — same contract as tools/check_oracle.py at the
same scale factor (sf0.01), using its own canon function.

dedup_ngram_jaccard's prefix filter is LOSSLESS by the set-similarity-
join prefix theorem; the all-pairs DuckDB oracle pins that empirically
— a dropped candidate would show up as a missing row here."""

from __future__ import annotations

import duckdb
import pytest
from oracle_util import canon_rows
from pyspark.sql import functions as F

from distributed_graph_coloring_with_pyspark_spark.operators.text_dedup import (
    PYTEST_ORACLES,
    PYTEST_QUERIES,
)

SF = "/root/testdata/sf0.01"


@pytest.mark.parametrize("name", sorted(PYTEST_QUERIES))
def test_dedup_extra_matches_oracle(spark, name):
    assert set(PYTEST_QUERIES) == set(PYTEST_ORACLES)
    sdf = PYTEST_QUERIES[name](spark, SF)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    ddf = con.sql(PYTEST_ORACLES[name])
    assert sorted(scols) == sorted(ddf.columns), name
    drows = ddf.fetchall()
    con.close()
    assert len(srows) == len(drows), name
    assert srows, f"{name}: empty result — threshold excludes every pair"
    assert canon_rows(scols, srows) == canon_rows(ddf.columns, drows), name


def test_prefix_l2_scheme_matches_l1_on_fixture(spark):
    """The l1 → l2 escalation (VERDICT r7 #2) is a pure candidate-
    generation swap: forced-l2 pairs must equal the default l1 pairs
    on the sf0.01 fixture (both lossless, so both equal the all-pairs
    oracle the parametrized gate above pins).  Also pins the decision:
    this corpus sits far below the escalation budget, so the oracle
    rows of record are always l1-built."""
    from distributed_graph_coloring_with_pyspark_spark.operators.text_dedup import (
        _PREFIX_L2_BUDGET_FACTOR,
        _PREFIX_L2_BUDGET_FLOOR,
        _prefix_jaccard_pairs,
        shingle_frame,
    )

    grams = shingle_frame(spark, SF).filter(F.size("shingles") > 0)
    l1 = {
        (r.doc_a, r.doc_b, round(r.j, 6))
        for r in _prefix_jaccard_pairs(grams, scheme="l1").collect()
    }
    l2 = {
        (r.doc_a, r.doc_b, round(r.j, 6))
        for r in _prefix_jaccard_pairs(grams, scheme="l2").collect()
    }
    assert l1 == l2
    assert l1  # non-degenerate fixture

    # decision stays l1 here: the l1 candidate volume is far below both
    # budget terms (the sf0.01 prefix index is a few thousand entries)
    ex = grams.select("doc_id", F.explode("shingles").alias("g"))
    entries = ex.count()  # upper bound on prefix entries
    assert _PREFIX_L2_BUDGET_FLOOR > entries**2 / 2 or entries < 1_000_000
    assert _PREFIX_L2_BUDGET_FACTOR > 0


def test_prefix_l2_escalation_fires_under_forced_budget(spark, monkeypatch):
    """Drop the escalation budget to zero and the AUTO path must pick
    l2 and still return the l1 result — the end-to-end form of the
    decision logic the sf1 run exercises for real (52.7 M candidates >
    the real budget)."""
    import distributed_graph_coloring_with_pyspark_spark.operators.text_dedup as TD

    grams = TD.shingle_frame(spark, SF).filter(F.size("shingles") > 0)
    want = {
        (r.doc_a, r.doc_b, round(r.j, 6))
        for r in TD._prefix_jaccard_pairs(grams, scheme="l1").collect()
    }
    monkeypatch.setattr(TD, "_PREFIX_L2_BUDGET_FLOOR", 0)
    monkeypatch.setattr(TD, "_PREFIX_L2_BUDGET_FACTOR", 0)
    got = {
        (r.doc_a, r.doc_b, round(r.j, 6))
        for r in TD._prefix_jaccard_pairs(grams).collect()
    }
    assert got == want


def test_ngram_jaccard_cross_validates_minhash(spark):
    """Two independent Spark algorithms, one predicate: the lossless
    prefix-filter join and the probabilistic MinHash-LSH path must
    return identical pairs at the shared threshold (any diff would be a
    banding miss or a prefix bug)."""
    from distributed_graph_coloring_with_pyspark_spark.operators.text_dedup import (
        dedup_near_minhash,
        dedup_ngram_jaccard,
    )

    exact = dedup_ngram_jaccard(spark, SF)
    mh = dedup_near_minhash(spark, SF)
    assert canon_rows(exact.columns, [tuple(r) for r in exact.collect()]) == canon_rows(
        mh.columns, [tuple(r) for r in mh.collect()]
    )


def test_chunk_documents_covers_every_byte(spark, tmp_path):
    """Planted boundary lengths (review r5: the bare stride grid
    dropped up to stride-1 trailing chars of unaligned docs): for every
    doc the final chunk must be exactly the last min(len, 200) chars,
    the first chunk the first min(len, 200), and the count must match
    the closed form curate_corpus uses."""
    import hashlib as _hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from distributed_graph_coloring_with_pyspark_spark.operators.text_dedup import (
        _CHUNK_SIZE,
        _CHUNK_STRIDE,
        chunk_documents,
    )

    lengths = [1, 149, 199, 200, 201, 349, 350, 500, 501, 650]
    texts = {i: ("ab%d " % i + "x" * n)[:n] for i, n in enumerate(lengths)}
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(sorted(texts), pa.int64()),
                "text": pa.array([texts[i] for i in sorted(texts)], pa.string()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    rows = chunk_documents(spark, str(tmp_path)).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, n in enumerate(lengths):
        t = texts[i]
        chunks = sorted(by_doc[i], key=lambda r: r.chunk_idx)
        md5 = lambda s: _hashlib.md5(s.encode()).hexdigest()
        assert chunks[0].chunk_md5 == md5(t[:_CHUNK_SIZE]), n
        assert chunks[-1].chunk_md5 == md5(t[-min(n, _CHUNK_SIZE):]), n
        if n >= _CHUNK_SIZE:
            want = (n - _CHUNK_SIZE) // _CHUNK_STRIDE + 1
            if (n - _CHUNK_SIZE) % _CHUNK_STRIDE != 0:
                want += 1
        else:
            want = 1
        assert len(chunks) == want, (n, len(chunks), want)


def test_pack_sequences_survives_cache_loss(spark):
    """VERDICT r5 item 5: the prefix sum's bucket assignment must be a
    pure function of doc_id (literal cut points), not a persist-pinned
    spark_partition_id — so releasing every session cache between
    building the lazy frame and forcing it (simulating executor/block
    loss recompute) must not change a single manifest row."""
    from distributed_graph_coloring_with_pyspark_spark.operators.text_dedup import (
        pack_sequences,
    )
    from distributed_graph_coloring_with_pyspark_spark.session import (
        release_session_caches,
    )

    lazy = pack_sequences(spark, SF)
    release_session_caches(spark)  # unpersists the token-count base
    after_loss = [tuple(r) for r in lazy.collect()]
    fresh = [tuple(r) for r in pack_sequences(spark, SF).collect()]
    release_session_caches(spark)
    assert after_loss == fresh
    assert after_loss  # non-degenerate fixture


def test_dedup_incremental_index_matches_allpairs_oracle(spark, tmp_path):
    """The persisted MinHash index pair (build_minhash_index /
    dedup_incremental): incoming-batch-vs-corpus near-dup pairs must
    equal the DuckDB all-pairs batch × corpus exact-Jaccard join —
    value-exact AND banding-complete on this corpus split, the same
    cross-check dedup_near_minhash carries corpus-wide."""
    from distributed_graph_coloring_with_pyspark_spark.operators.text_dedup import (
        _INCREMENTAL_ORACLE,
        build_minhash_index,
        dedup_incremental,
    )

    idx = str(tmp_path / "mh_index")
    build_minhash_index(spark, SF, idx)
    sdf = dedup_incremental(spark, SF, idx)
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    ddf = con.sql(_INCREMENTAL_ORACLE)
    drows = ddf.fetchall()
    assert sorted(sdf.columns) == sorted(ddf.columns)
    con.close()
    assert srows, "degenerate fixture: no cross-split near-dup pairs"
    assert canon_rows(sdf.columns, srows) == canon_rows(ddf.columns, drows)


def test_minhash_index_has_no_dropped_buckets(spark):
    """Make the oracle-equality test's corpus-shape dependence explicit
    (ADVICE r6): build_minhash_index DROPS buckets hotter than
    _BUCKET_CAP, so dedup_incremental's all-pairs equality above holds
    only while the sf0.01 corpus split produces no such bucket.  Assert
    that directly — if a future fixture change ever creates a dropped
    bucket, THIS test fails with a named reason instead of the
    equality test failing with a confusing hash mismatch (at which
    point the equality test needs a planted-drop carve-out like
    test_prefix_bucket_cap_drop_semantics)."""
    from distributed_graph_coloring_with_pyspark_spark.operators.text_dedup import (
        _BUCKET_CAP,
        _doc_shingles,
        _incr_is_batch,
        _minhash_band_frame,
    )

    bands = _minhash_band_frame(
        _doc_shingles(spark, SF, parallel=True).filter(~_incr_is_batch())
    )
    hottest = (
        bands.groupBy("band", "bucket").count().agg(F.max("count")).collect()[0][0]
    )
    assert hottest is not None and hottest <= _BUCKET_CAP, (
        f"corpus index would drop a bucket (hottest={hottest} > cap="
        f"{_BUCKET_CAP}) — dedup_incremental's all-pairs oracle equality "
        "no longer holds by construction on this fixture"
    )


def test_prefix_index_has_no_dropped_buckets(spark):
    """Prefix-filter twin of the MinHash assertion above (ADVICE r7:
    curate_corpus consumes the PREFIX pair artifact via semi-joins, and
    its hot-gram frequencies are computed over the full corpus — so its
    survivor-pair oracle equality also rests on no prefix bucket being
    dropped on this fixture).  Assert the hottest l1 prefix bucket sits
    under _PREFIX_BUCKET_CAP directly, so a fixture change fails HERE
    with a named reason."""
    from pyspark.sql.window import Window

    from distributed_graph_coloring_with_pyspark_spark.operators.text_dedup import (
        _JACCARD_THRESHOLD,
        _PREFIX_BUCKET_CAP,
        shingle_frame,
    )

    grams = shingle_frame(spark, SF).filter(F.size("shingles") > 0)
    ex = grams.select(
        "doc_id", F.size("shingles").alias("n"), F.explode("shingles").alias("g")
    ).select("doc_id", "n", F.xxhash64("g").alias("gram"))
    df = ex.groupBy("gram").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "gram")
    prefix = (
        ex.join(df, "gram")
        .withColumn("rk", F.row_number().over(w))
        .filter(
            F.col("rk")
            <= F.col("n") - F.floor(F.lit(_JACCARD_THRESHOLD) * F.col("n")) + 1
        )
    )
    hottest = prefix.groupBy("gram").count().agg(F.max("count")).collect()[0][0]
    assert hottest is not None and hottest <= _PREFIX_BUCKET_CAP, (
        f"prefix index would drop a bucket (hottest={hottest} > cap="
        f"{_PREFIX_BUCKET_CAP}) — curate_corpus's survivor-pair oracle "
        "equality no longer holds by construction on this fixture"
    )


def test_redact_pii_planted_fixture(spark, tmp_path):
    """Planted emails/phones/long ids: every rule must fire, counts
    must match, and the redacted text must carry the placeholders (the
    corpus-wide oracle run can't prove this — synthetic text is clean,
    so only the planted rows exercise actual replacement)."""
    import hashlib as _hashlib

    from distributed_graph_coloring_with_pyspark_spark.operators.text_dedup import (
        redact_pii,
    )

    rows = [
        (0, "contact alice.smith+x@example.co.uk or bob@ex.org today", "src0", "en", 55),
        (1, "call +1(415)555-0199 now", "src0", "en", 24),
        (2, "order 123456789 shipped to 987654 dock", "src0", "en", 38),
        (3, "clean text with no identifiers at all", "src0", "en", 37),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string, n_chars int"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {r.doc_id: r for r in redact_pii(spark, str(tmp_path)).collect()}
    assert (got[0].n_email, got[0].n_phone, got[0].n_longnum) == (2, 0, 0)
    assert got[0].redacted_md5 == _hashlib.md5(
        b"contact <EMAIL> or <EMAIL> today"
    ).hexdigest()
    assert got[1].n_phone == 1
    assert got[1].redacted_md5 == _hashlib.md5(b"call <PHONE> now").hexdigest()
    # 123456789 (9 digits) is phone-shaped and consumed by the earlier
    # phone rule, so longnum only sees the remaining 6-digit id
    assert (got[2].n_phone, got[2].n_longnum) == (1, 1)
    assert got[3].redacted_md5 == _hashlib.md5(rows[3][1].encode()).hexdigest()


def test_dedup_incremental_planted_cross_split_pair(spark, tmp_path):
    """Recall by construction for the index pair: plant one batch doc
    that is a near-copy (Jaccard >= 0.5 on 3-gram shingles) of one
    corpus doc — ids chosen ON OPPOSITE SIDES of the md5 incoming
    split — plus unrelated noise docs; the banded index check must
    surface exactly that pair."""
    import hashlib as _h

    from distributed_graph_coloring_with_pyspark_spark.operators.text_dedup import (
        _INCR_BATCH_CUT,
        build_minhash_index,
        dedup_incremental,
    )

    def h32(s: str) -> int:
        return int(_h.md5(s.encode()).hexdigest()[:8], 16)

    is_batch = lambda i: h32(f"incr:{i}") < _INCR_BATCH_CUT
    batch_id = next(i for i in range(1000) if is_batch(i))
    corpus_id = next(i for i in range(1000) if not is_batch(i))
    noise_ids = [i for i in range(1000) if i not in (batch_id, corpus_id)][:6]

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base + " lambda"  # one appended token: high shingle overlap
    rows = [(batch_id, near), (corpus_id, base)] + [
        (i, f"noise{i} " * 12) for i in noise_ids
    ]
    spark.createDataFrame(
        [(i, t, "src0", "en", len(t)) for i, t in rows],
        "doc_id long, text string, source string, lang string, n_chars int",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    idx = str(tmp_path / "mh_index")
    build_minhash_index(spark, str(tmp_path), idx)
    got = dedup_incremental(spark, str(tmp_path), idx).collect()
    assert [(r.batch_doc, r.corpus_doc) for r in got] == [(batch_id, corpus_id)]
    assert got[0].jaccard >= 0.5


def test_keep_policy_tie_breaks_to_min_doc_id(spark, tmp_path):
    """Planted equal-length near-dup cluster: the canonical pick must
    fall to the SMALLEST doc_id (the tie-break the synthetic corpus's
    varied lengths never force)."""
    from distributed_graph_coloring_with_pyspark_spark.operators.text_dedup import (
        dedup_keep_policy,
    )

    base = "one two three four five six seven eight nine ten"
    rows = [
        (7, base), (3, base), (9, base),  # identical -> one cluster, equal n_chars
        (20, "unrelated words entirely different content here now"),
    ]
    spark.createDataFrame(
        [(i, t, "src0", "en", len(t)) for i, t in rows],
        "doc_id long, text string, source string, lang string, n_chars int",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {r.doc_id: r for r in dedup_keep_policy(spark, str(tmp_path)).collect()}
    assert set(got) == {3, 7, 9}  # doc 20 touches no pair
    assert [i for i in got if got[i].keep] == [3]
    assert all(got[i].component_id == 3 for i in got)


def test_export_training_shards_write_roundtrip(spark, tmp_path):
    """The write path: shard=-partitioned parquet where each writer
    task owns WHOLE shards (exactly one file per shard directory), the
    read-back agrees with the manifest shard-for-shard, and in-shard
    row order is the h_order sort (the seeded reproducible shuffle)."""
    import glob

    from distributed_graph_coloring_with_pyspark_spark.operators.text_dedup import (
        _N_SHARDS,
        export_training_shards,
    )

    out = str(tmp_path / "shards")
    manifest = {
        r.shard: r for r in export_training_shards(spark, SF, out).collect()
    }
    assert set(manifest) == set(range(_N_SHARDS))  # sf0.01: every shard hit

    back = spark.read.parquet(out)
    counts = {r.shard: r.n for r in back.groupBy("shard").agg(
        F.count("*").alias("n")).collect()}
    sums = {r.shard: r.s for r in back.groupBy("shard").agg(
        F.sum("h_order").cast("long").alias("s")).collect()}
    assert counts == {s: manifest[s].n_docs for s in manifest}
    assert sums == {s: manifest[s].id_checksum for s in manifest}

    # whole-shard file ownership: one part file per shard directory
    for s in manifest:
        files = [
            f for f in glob.glob(f"{out}/shard={s}/*.parquet")
        ]
        assert len(files) == 1, (s, files)

    # reproducible in-shard order: rows in file order == h_order asc
    one = spark.read.parquet(f"{out}/shard=0").select("h_order").collect()
    vals = [r.h_order for r in one]
    assert vals == sorted(vals) and len(vals) == manifest[0].n_docs

    # no doc lost or duplicated across shards
    assert back.select("doc_id").distinct().count() == back.count() == sum(
        r.n_docs for r in manifest.values()
    )


def test_substring_spans_planted_boundaries(spark, tmp_path):
    """dedup_substring_spans on a hand-built corpus where the correct
    maximal spans are known by construction: a 10-token phrase shared
    by two docs at DIFFERENT offsets, an internal 2x repeat inside a
    third doc, and a clean doc that must emit nothing.  Pins the
    boundary arithmetic (1-based inclusive token indices, W-1 window
    coverage extension, island merging) rather than just oracle
    equality on whole-doc duplicates."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from distributed_graph_coloring_with_pyspark_spark.operators.text_dedup import (
        _SUBSTR_W,
        dedup_substring_spans,
    )

    assert _SUBSTR_W == 8  # boundary expectations below hard-code W
    shared = " ".join(f"s{i}" for i in range(10))  # 10-token phrase
    rep = " ".join(f"r{i}" for i in range(_SUBSTR_W))  # exactly W tokens
    docs = {
        # shared phrase at tokens 3..12 (two unique lead tokens + 1-based)
        1: "a1 a2 " + shared + " a3 a4",
        # same phrase at tokens 6..15
        2: "b1 b2 b3 b4 b5 " + shared,
        # internal repeat: rep at 1..8 and again at 10..17 (gap breaks
        # the island: c1 at position 9 is covered by NO duplicated window)
        3: rep + " c1 " + rep,
        # clean doc, longer than W, no duplicated window
        4: " ".join(f"d{i}" for i in range(20)),
        # shorter than W: generates no windows at all
        5: "e1 e2 e3",
    }
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(sorted(docs), pa.int64()),
                "text": pa.array([docs[k] for k in sorted(docs)], pa.string()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    got = [
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in dedup_substring_spans(spark, str(tmp_path)).collect()
    ]
    assert got == [
        (1, 3, 12, 10),
        (2, 6, 15, 10),
        (3, 1, 8, 8),
        (3, 10, 17, 8),
    ]


def test_apply_substring_dedup_planted(spark, tmp_path):
    """Removal half on the same planted corpus as the spans test: the
    corpus-first occurrence of each duplicated window survives, later
    occurrences are stripped, untouched docs hash to their original
    text, and the cleaned text is exactly the kept tokens in order."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from distributed_graph_coloring_with_pyspark_spark.operators.text_dedup import (
        _SUBSTR_W,
        apply_substring_dedup,
    )

    assert _SUBSTR_W == 8
    shared = " ".join(f"s{i}" for i in range(10))
    rep = " ".join(f"r{i}" for i in range(_SUBSTR_W))
    docs = {
        1: "a1 a2 " + shared + " a3 a4",
        2: "b1 b2 b3 b4 b5 " + shared,
        3: rep + " c1 " + rep,
        4: " ".join(f"d{i}" for i in range(20)),
        5: "e1 e2 e3",
    }
    cleaned = {
        1: docs[1],  # canonical holder of the shared phrase: untouched
        2: "b1 b2 b3 b4 b5",  # loses tokens 6..15
        3: rep + " c1",  # second internal repeat stripped
        4: docs[4],
        5: docs[5],
    }
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(sorted(docs), pa.int64()),
                "text": pa.array([docs[k] for k in sorted(docs)], pa.string()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.clean_md5)
        for r in apply_substring_dedup(spark, str(tmp_path)).collect()
    }
    want = {
        k: (
            len(docs[k].split(" ")),
            len(docs[k].split(" ")) - len(cleaned[k].split(" ")),
            hashlib.md5(cleaned[k].encode()).hexdigest(),
        )
        for k in docs
    }
    assert got == want


def test_prefix_index_has_no_dropped_buckets(spark):
    """Mirror of test_minhash_index_has_no_dropped_buckets for the
    l1 prefix index (ADVICE r7 #3 / VERDICT r8 #4): the l1 path drops
    prefix grams hotter than _PREFIX_BUCKET_CAP, so the oracle
    equality of dedup_ngram_jaccard — and of everything consuming
    jaccard_pair_frame (curate_corpus's survivor semi-joins,
    dedup_modality_agreement's text tier) — holds only while the
    sf0.01 corpus produces no such bucket.  Assert that directly, so a
    fixture change surfaces here with a named reason instead of as a
    hash mismatch downstream.  Drop semantics under a planted trigger
    are pinned separately (test_cap_semantics.py::
    test_prefix_bucket_cap_drops_hot_cluster)."""
    from pyspark.sql import Window
    from distributed_graph_coloring_with_pyspark_spark.operators.text_dedup import (
        _JACCARD_THRESHOLD,
        _PREFIX_BUCKET_CAP,
        shingle_frame,
    )

    grams = shingle_frame(spark, SF).filter(F.size("shingles") > 0)
    ex = grams.select(
        "doc_id", F.size("shingles").alias("n"), F.explode("shingles").alias("g")
    ).select("doc_id", "n", F.xxhash64("g").alias("gram"))
    gram_df = ex.groupBy("gram").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "gram")
    pi1 = F.col("n") - F.floor(F.lit(_JACCARD_THRESHOLD) * F.col("n")) + 1
    hottest = (
        ex.join(gram_df, "gram")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= pi1)
        .groupBy("gram")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert hottest is not None and hottest <= _PREFIX_BUCKET_CAP, (
        f"corpus prefix index would drop a bucket (hottest={hottest} > "
        f"cap={_PREFIX_BUCKET_CAP}) — the lossless-prefix-join claim (and "
        "curate_corpus's oracle equality) no longer holds on this fixture"
    )


def test_remove_boilerplate_planted_fixture(spark, tmp_path):
    """Planted boilerplate: a segment shared by 3 docs (>= _BOILER_MIN_DOCS)
    must be stripped from every carrier; a segment shared by only 2 docs
    must survive; an all-boilerplate doc must clean to the empty string;
    a short tail segment still counts as its own segment.  The corpus-
    wide oracle run proves hash equality but its organic boilerplate is
    sparse — only planted rows pin the removal semantics end to end."""
    import hashlib as _h

    from distributed_graph_coloring_with_pyspark_spark.operators.text_dedup import (
        _BOILER_MIN_DOCS,
        _BOILER_SEG_TOKENS,
        remove_boilerplate,
    )

    assert (_BOILER_SEG_TOKENS, _BOILER_MIN_DOCS) == (8, 3)  # fixture shape
    B = "nav home about contact privacy terms login search"   # 8 tokens, 3 docs
    S2 = "promo sale deal click here buy now today"           # 8 tokens, 2 docs
    U = [
        " ".join(f"u{d}t{i}" for i in range(8)) for d in range(4)
    ]  # unique 8-token content per doc
    tail = "tail0 tail1"  # short trailing segment (2 tokens)
    rows = [
        (0, f"{B} {S2} {U[0]}", "src0", "en", 0),
        (1, f"{B} {S2} {U[1]}", "src0", "en", 0),
        (2, f"{B} {U[2]}", "src0", "en", 0),
        (3, f"{U[3]} {tail}", "src0", "en", 0),
        (4, B, "src0", "en", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string, n_chars int"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {r.doc_id: r for r in remove_boilerplate(spark, str(tmp_path)).collect()}

    def md5(s: str) -> str:
        return _h.md5(s.encode()).hexdigest()

    assert (got[0].n_segs, got[0].n_boiler) == (3, 1)
    assert got[0].clean_md5 == md5(f"{S2} {U[0]}")
    assert (got[1].n_segs, got[1].n_boiler) == (3, 1)
    assert got[1].clean_md5 == md5(f"{S2} {U[1]}")
    assert (got[2].n_segs, got[2].n_boiler) == (2, 1)
    assert got[2].clean_md5 == md5(U[2])
    # short tail is a distinct segment and unique content survives whole
    assert (got[3].n_segs, got[3].n_boiler) == (2, 0)
    assert got[3].clean_md5 == md5(f"{U[3]} {tail}")
    assert got[3].clean_n_chars == len(f"{U[3]} {tail}")
    # all-boilerplate doc cleans to the empty string, not a NULL
    assert (got[4].n_segs, got[4].n_boiler) == (1, 1)
    assert got[4].clean_n_chars == 0 and got[4].clean_md5 == md5("")


def test_mixture_temperature_planted_fixture(spark, tmp_path):
    """Planted skewed sources pin the α=1/2 semantics: exact integer
    isqrt weights (including the truncate-vs-round cast divergence the
    ±1 correction absorbs), the scarcest source keeping EVERYTHING
    (its cut is exactly 2^32 by construction of K), no upsampling, and
    head-flattening (the big source's kept share strictly below its raw
    share)."""
    from distributed_graph_coloring_with_pyspark_spark.operators.text_dedup import (
        mixture_temperature_sample,
    )

    rows = []
    did = 0
    for src, n in (("big", 400), ("mid", 99), ("rare", 9)):
        for _ in range(n):
            rows.append((did, f"doc {did} words here", src, "en", 0))
            did += 1
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string, n_chars int"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {r.source: r for r in mixture_temperature_sample(spark, str(tmp_path)).collect()}

    # exact integer isqrt: 400 → 20 (perfect square, the FP-exactness
    # case), 99 → 9 (sqrt ≈ 9.95, DuckDB's round-to-nearest gives 10
    # and must be corrected down), 9 → 3
    assert (got["big"].w, got["mid"].w, got["rare"].w) == (20, 9, 3)
    # K = min(400//20, 99//9, 9//3) = 3; rare's cut is 3*3*2^32//9 = 2^32
    assert got["rare"].n_kept == 9  # scarcest source keeps everything
    for r in got.values():
        assert 0 < r.n_kept <= r.n_docs  # never upsamples
    raw_share = got["big"].n_docs / sum(r.n_docs for r in got.values())
    kept_share = got["big"].n_kept / sum(r.n_kept for r in got.values())
    assert kept_share < raw_share  # the head is flattened toward the tail


def test_epoch_shuffle_manifest_permutation_properties(spark):
    """Beyond hash equality: each epoch is a true permutation of the
    corpus (pos = 0..n-1, every doc exactly once), shard sizes are
    equal ±1 by round-robin construction, and different epochs produce
    genuinely different visit orders (different salts)."""
    from collections import Counter

    from distributed_graph_coloring_with_pyspark_spark.operators.text_dedup import (
        _EPOCH_SHUFFLE_EPOCHS,
        _EPOCH_SHUFFLE_SHARDS,
        epoch_shuffle_manifest,
    )

    rows = epoch_shuffle_manifest(spark, SF).collect()
    n = len(rows) // _EPOCH_SHUFFLE_EPOCHS
    by_epoch = {}
    for r in rows:
        by_epoch.setdefault(r.epoch, []).append(r)
    assert set(by_epoch) == set(range(_EPOCH_SHUFFLE_EPOCHS))
    orders = {}
    for epoch, er in by_epoch.items():
        assert sorted(r.pos for r in er) == list(range(n))  # permutation
        assert len({r.doc_id for r in er}) == n  # every doc once
        sizes = Counter(r.shard for r in er)
        assert set(sizes) == set(range(_EPOCH_SHUFFLE_SHARDS))
        assert max(sizes.values()) - min(sizes.values()) <= 1  # balanced
        for r in er:  # striping arithmetic is self-consistent
            assert (r.shard, r.pos_in_shard) == (
                r.pos % _EPOCH_SHUFFLE_SHARDS,
                r.pos // _EPOCH_SHUFFLE_SHARDS,
            )
        orders[epoch] = [r.doc_id for r in sorted(er, key=lambda x: x.pos)]
    assert orders[0] != orders[1]  # epochs differ
    assert orders[0] != sorted(orders[0])  # and neither is doc_id order


def test_budget_cut_two_step_division_is_exact_and_bounded():
    """r12 (ADVICE r11): the mixture cut `k*w*2^32 div n` is computed
    as two base-2^16 long-division steps so every int64 intermediate
    stays < 2^63 up to n < 2^47 docs.  Pure-python property check:
    the recombination equals exact big-int arithmetic and every
    intermediate fits int64, across the regime the old single-multiply
    form overflowed (n >= 2^31)."""
    import random

    rng = random.Random(12)
    # edge cases at the construction's k = n div w maximum
    cases = [(1, 1, 1)]
    for n_e, w_e in [(2**31, 1), (2**42, 7), (2**47 - 1, 1), (2**47 - 1, 63)]:
        cases.append((n_e // w_e, w_e, n_e))
    for _ in range(200):
        n = rng.randrange(1, 2**47)
        w = rng.randrange(1, 64)
        k = rng.randrange(0, n // w + 1)  # K <= n div w by construction
        cases.append((k, w, n))
    for k, w, n in cases:
        a = k * w
        assert a <= n or k == 0  # the construction invariant
        t = a * 65536
        assert t < 2**63
        q1, r1 = t // n, t % n
        assert q1 * 65536 < 2**63 and r1 * 65536 < 2**63
        got = q1 * 65536 + (r1 * 65536) // n
        assert got == (a * 4294967296) // n  # exact vs big-int
        assert got <= 2**32


def test_epoch_shuffle_repeat_calls_accumulate_nothing(spark):
    """r12 (ADVICE r11): epoch_shuffle_manifest persisted one tracked
    frame per epoch per CALL with no release; now the per-epoch keyed
    frame is a plain persist released after its offsets collect, so
    repeated calls leave the session cache unchanged."""
    from distributed_graph_coloring_with_pyspark_spark.operators.text_dedup import (
        epoch_shuffle_manifest,
    )

    jsc = spark.sparkContext._jsc

    def persistent_ids():
        # ids, not a size: the ContextCleaner may drop an earlier test's
        # RDD mid-call, and equal sizes could hide a leak plus a cleanup
        return set(jsc.getPersistentRDDs().keySet())

    before = persistent_ids()
    first = epoch_shuffle_manifest(spark, SF)
    assert persistent_ids() - before == set()
    n1 = first.count()
    epoch_shuffle_manifest(spark, SF).count()
    assert persistent_ids() - before == set()
    assert n1 > 0
