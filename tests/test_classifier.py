"""Quality classifier: the Spark GD trainer vs a numpy reference
implementing the identical math (same gate class as the PCA numpy
oracle), plus the action-count pin and a planted-separability test."""

from __future__ import annotations

import hashlib
import math
import os
from collections import Counter, defaultdict

import duckdb
import numpy as np

from distributed_graph_coloring_with_pyspark_spark.operators.classifier import (
    _CLS_BUCKETS,
    _CLS_LR,
    _CLS_STEPS,
    _TARGET_LANG,
    classifier_eval,
    train_quality_classifier,
)

SF0001 = "/root/testdata/sf0.001"


def _hash_bucket(tok: str) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % _CLS_BUCKETS


def _ref_features(rows):
    """rows: [(doc_id, text, lang)] → (X sparse dicts, y) matching
    _feature_frame: tf-normalized hashed unigrams + bias at -1."""
    X, y = [], []
    for _, text, lang in rows:
        toks = text.strip().split(" ")
        cnt = Counter(_hash_bucket(t) for t in toks)
        tot = sum(cnt.values())
        feat = {b: c / tot for b, c in cnt.items()}
        feat[-1] = 1.0
        X.append(feat)
        y.append(1.0 if lang == _TARGET_LANG else 0.0)
    return X, np.array(y)


def _ref_train(X, y, steps, lr):
    w = defaultdict(float)
    losses = []
    n = len(X)
    for _ in range(steps):
        grad = defaultdict(float)
        loss = 0.0
        for feat, yi in zip(X, y):
            s = sum(v * w[b] for b, v in feat.items())
            p = 1.0 / (1.0 + math.exp(-s))
            r = p - yi
            yy = 2 * yi - 1
            loss += math.log1p(math.exp(-abs(s))) + (abs(s) if yy * s < 0 else 0.0)
            for b, v in feat.items():
                grad[b] += v * r
        for b, g in grad.items():
            w[b] -= lr * g / n
        losses.append(loss / n)
    return w, losses


def _load_rows(sf_dir):
    return duckdb.sql(
        f"SELECT doc_id, text, lang FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).fetchall()


def test_classifier_matches_numpy_reference(spark):
    got_w, got_losses = train_quality_classifier(spark, SF0001)
    X, y = _ref_features(_load_rows(SF0001))
    ref_w, ref_losses = _ref_train(X, y, _CLS_STEPS, _CLS_LR)
    # weights agree to float-sum-order tolerance after all steps
    for b, v in ref_w.items():
        assert abs(got_w[b] - v) < 1e-6, (b, got_w[b], v)
    for b, v in got_w.items():
        if b not in ref_w:
            assert v == 0.0, (b, v)  # untouched buckets stay at init
    assert np.allclose(got_losses, ref_losses, atol=1e-9)
    # the descent actually descends
    assert all(a > b for a, b in zip(got_losses, got_losses[1:]))


def test_classifier_eval_confusion_matches_reference(spark):
    got = {r["lang"]: r for r in classifier_eval(spark, SF0001).collect()}
    rows = _load_rows(SF0001)
    X, y = _ref_features(rows)
    w, _ = _ref_train(X, y, _CLS_STEPS, _CLS_LR)
    agg = {}
    for (doc_id, text, lang), feat in zip(rows, X):
        s = sum(v * w[b] for b, v in feat.items())
        a = agg.setdefault(lang, [0, 0, 0.0])
        a[0] += 1
        a[1] += 1 if s > 0 else 0
        a[2] += 1.0 / (1.0 + math.exp(-s))
    assert set(got) == set(agg)
    for lang, (n, pred, psum) in agg.items():
        assert got[lang]["n_docs"] == n
        assert got[lang]["pred_target"] == pred, lang
        assert abs(got[lang]["mean_p_target"] - psum / n) < 1e-3, lang


def test_classifier_separates_planted_domains(spark, tmp_path):
    """Two disjoint vocabularies → GD must reach training accuracy 1.0
    (linearly separable by construction)."""
    rows = []
    for i in range(12):
        rows.append((i, f"alpha beta gamma delta tag{i % 3}", "en"))
    for i in range(20):
        rows.append((100 + i, f"omega psi chi phi tag{i % 3}", "fr"))
    df = spark.createDataFrame(
        [(i, t, l, "src0", len(t)) for i, t, l in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "documents.parquet")
    )
    out = {r["lang"]: r for r in classifier_eval(spark, str(tmp_path)).collect()}
    assert out["en"]["pred_target"] == 12
    assert out["fr"]["pred_target"] == 0
    # 15 full-batch steps separate the domains decisively by margin
    # sign (asserted above); probabilities are still mid-calibration
    assert out["en"]["mean_p_target"] > 0.6
    assert out["fr"]["mean_p_target"] < 0.4


def test_classifier_gradient_plan_has_one_exchange(spark):
    """Pin the step's structural claim: scoring is map-side (literal
    weight array + fold), so the gradient plan contains exactly ONE
    Exchange — the B+1-row hash agg — over the persisted feature frame.
    A reintroduced weight JOIN or doc-keyed score shuffle would add
    exchanges and double per-step cost at 100 TB."""
    from pyspark.sql import functions as F

    from distributed_graph_coloring_with_pyspark_spark.operators.classifier import (
        _feature_frame,
        _resid_cols,
        _scored_frame,
    )
    from distributed_graph_coloring_with_pyspark_spark.plans.audit import plan_string

    feats = _feature_frame(spark, SF0001).persist()
    try:
        feats.count()
        resid = _resid_cols(_scored_frame(feats, {b: 0.0 for b in range(-1, _CLS_BUCKETS)}))
        grad = (
            resid.select(
                F.explode(
                    F.zip_with(
                        "bs",
                        "xs",
                        lambda b, x: F.struct(
                            b.alias("bucket"), (x * F.col("r")).alias("gx")
                        ),
                    )
                ).alias("e")
            )
            .groupBy(F.col("e.bucket").alias("bucket"))
            .agg(F.sum("e.gx").alias("g"))
        )
        p = plan_string(grad, "simple")  # one tree line per operator
        assert "InMemoryTableScan" in p, p
        # explain() also prints the cached relation's BUILD plan below
        # the InMemoryTableScan boundary; the step's own cost is only
        # what sits above it
        step_plan = p.split("InMemoryTableScan")[0]
        assert step_plan.count("Exchange") == 1, p
    finally:
        feats.unpersist(False)


def test_classifier_empty_corpus(spark, tmp_path):
    """Zero documents: train returns ({}, []) and eval returns an empty
    frame instead of raising (the weight-array fallback covers the
    untrained-model path)."""
    spark.createDataFrame(
        [],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "documents.parquet")
    )
    w, losses = train_quality_classifier(spark, str(tmp_path))
    assert (w, losses) == ({}, [])
    assert classifier_eval(spark, str(tmp_path)).count() == 0


def test_classifier_one_action_per_step(spark, monkeypatch):
    """T steps ⇒ exactly T unioned gradient collects + the single
    feature-frame count; a stray action inside the loop multiplies
    corpus passes at scale."""
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
    _, losses = train_quality_classifier(spark, SF0001, steps=4)
    assert len(losses) == 4
    assert calls["collect"] == 4, calls
    assert calls["count"] == 1, calls


def test_classifier_eval_covers_empty_docs(spark, tmp_path):
    """ADVICE r8: zero-token documents get a bias-only feature row, so
    they count in training n_docs and a lang whose docs are ALL empty
    still appears in the confusion table."""
    rows = [(i, f"alpha beta tag{i % 2}", "en") for i in range(8)]
    rows += [(50 + i, f"omega psi tag{i % 2}", "fr") for i in range(8)]
    rows += [(90, "", "zz"), (91, "   ", "zz")]  # all-empty lang
    spark.createDataFrame(
        [(i, t, l, "src0", len(t)) for i, t, l in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "documents.parquet")
    )
    out = {r["lang"]: r for r in classifier_eval(spark, str(tmp_path)).collect()}
    assert set(out) == {"en", "fr", "zz"}
    assert out["zz"]["n_docs"] == 2
    assert out["en"]["n_docs"] == 8
    # the empty docs carry only the bias feature — scored, not dropped
    assert out["zz"]["pred_target"] in (0, 2)


def test_classifier_eval_matches_duckdb_gd_oracle(spark):
    """r9: classifier_eval vs the train-in-SQL DuckDB oracle — the
    whole 15-step gradient descent re-run in generated CTEs (shared
    with the curation funnel's gate), value-for-value per lang."""
    from distributed_graph_coloring_with_pyspark_spark.operators.classifier import (
        _eval_oracle,
    )

    srows = [tuple(r) for r in classifier_eval(spark, SF0001).collect()]
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{SF0001}/documents.parquet'"
    )
    drows = con.sql(_eval_oracle()).fetchall()
    con.close()
    assert srows == drows


def _ref_held(doc_id) -> bool:
    from distributed_graph_coloring_with_pyspark_spark.operators.classifier import (
        _HOLDOUT_CUT,
    )

    h = int(hashlib.md5(f"cls_holdout:{doc_id}".encode()).hexdigest()[:8], 16)
    return h >= _HOLDOUT_CUT


def _ref_holdout_metrics(rows):
    """Pure-python twin of classifier_holdout_eval: split, train on
    the 80%, score the 20%, exact confusion + ties-aware pairwise AUC
    (O(P·N) — fine at fixture scale)."""
    train_rows = [r for r in rows if not _ref_held(r[0])]
    hold_rows = [r for r in rows if _ref_held(r[0])]
    X, y = _ref_features(train_rows)
    w, _ = _ref_train(X, y, _CLS_STEPS, _CLS_LR)
    Xh, yh = _ref_features(hold_rows)
    scores = [sum(v * w[b] for b, v in feat.items()) for feat in Xh]
    tp = sum(1 for s, yi in zip(scores, yh) if yi == 1 and s > 0)
    fp = sum(1 for s, yi in zip(scores, yh) if yi == 0 and s > 0)
    tn = sum(1 for s, yi in zip(scores, yh) if yi == 0 and s <= 0)
    fn = sum(1 for s, yi in zip(scores, yh) if yi == 1 and s <= 0)
    pos = [s for s, yi in zip(scores, yh) if yi == 1]
    neg = [s for s, yi in zip(scores, yh) if yi == 0]
    auc = (
        sum((1.0 if p > n else 0.5 if p == n else 0.0) for p in pos for n in neg)
        / (len(pos) * len(neg))
        if pos and neg
        else None
    )
    return {
        "n_train": len(train_rows),
        "n_holdout": len(hold_rows),
        "tp": tp,
        "fp": fp,
        "tn": tn,
        "fn": fn,
        "accuracy": (tp + tn) / len(hold_rows) if hold_rows else None,
        "auc": auc,
    }


def test_classifier_holdout_matches_numpy_reference(spark):
    """The calibration surface vs the pure-python twin: integer fields
    exact, accuracy/AUC to rounding tolerance (scores agree to float-
    sum-order ulps, so pair orderings — and hence the exact pairwise
    AUC — agree; only the 4-dp rounding boundary is slack)."""
    from distributed_graph_coloring_with_pyspark_spark.operators.classifier import (
        classifier_holdout_eval,
    )

    got = classifier_holdout_eval(spark, SF0001).collect()[0]
    ref = _ref_holdout_metrics(_load_rows(SF0001))
    for k in ("n_train", "n_holdout", "tp", "fp", "tn", "fn"):
        assert got[k] == ref[k], (k, got[k], ref[k])
    assert abs(got["accuracy"] - ref["accuracy"]) < 1e-4
    assert abs(got["auc"] - ref["auc"]) < 2e-4
    # the split actually held: train + holdout partition the corpus
    assert got["n_train"] + got["n_holdout"] == len(_load_rows(SF0001))


def _write_planted(spark, tmp_path, flip_every: int | None):
    """120-doc two-vocabulary corpus; optionally mislabel every
    ``flip_every``-th doc of each domain (deterministic noise)."""
    rows = []
    for i in range(60):
        lang = "fr" if flip_every and i % flip_every == 0 else "en"
        rows.append((i, f"alpha beta gamma delta tag{i % 5}", lang))
    for i in range(60):
        lang = "en" if flip_every and i % flip_every == 0 else "fr"
        rows.append((1000 + i, f"omega psi chi phi tag{i % 5}", lang))
    df = spark.createDataFrame(
        [(i, t, l, "src0", len(t)) for i, t, l in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "documents.parquet")
    )
    return rows


def test_classifier_holdout_planted_clean_and_noisy(spark, tmp_path):
    """Planted separable corpus: clean labels → holdout accuracy and
    AUC hit 1.0 (the domains are disjoint vocabularies, so the split
    can't leak).  Flipping every 5th label (20% symmetric noise) drags
    accuracy toward ~0.8 while AUC stays at the score-ordering ceiling
    the clean features impose — the measured difference between a gate
    that ranks well and labels that lie, which is exactly what a
    calibration row must expose.  Both runs cross-check the numpy twin
    value-for-value."""
    from distributed_graph_coloring_with_pyspark_spark.operators.classifier import (
        classifier_holdout_eval,
    )

    rows = _write_planted(spark, tmp_path / "clean", None)
    got = classifier_holdout_eval(spark, str(tmp_path / "clean")).collect()[0]
    ref = _ref_holdout_metrics(rows)
    assert got["accuracy"] == 1.0 and got["auc"] == 1.0
    for k in ("n_train", "n_holdout", "tp", "fp", "tn", "fn"):
        assert got[k] == ref[k], (k, got[k], ref[k])

    rows = _write_planted(spark, tmp_path / "noisy", 5)
    got = classifier_holdout_eval(spark, str(tmp_path / "noisy")).collect()[0]
    ref = _ref_holdout_metrics(rows)
    for k in ("n_train", "n_holdout", "tp", "fp", "tn", "fn"):
        assert got[k] == ref[k], (k, got[k], ref[k])
    assert abs(got["accuracy"] - ref["accuracy"]) < 1e-4
    assert abs(got["auc"] - ref["auc"]) < 2e-4
    # noise hurts threshold accuracy but can't invert a separable
    # ranking: the flipped minority caps accuracy below the clean 1.0
    assert 0.5 < got["accuracy"] < 1.0
    assert got["auc"] < 1.0  # flipped holdout labels break perfect ordering


def test_classifier_session_memo_lifecycle(spark):
    """r11 (VERDICT r10 #3): every classifier surface shares ONE
    session-memoized feature frame and ONE training per split —
    repeated calls return the identical cached objects (no persist
    accumulation, the ADVICE r10 lifecycle point), and the release hook
    drops the memo so the next call rebuilds and still agrees."""
    from distributed_graph_coloring_with_pyspark_spark import cache
    from distributed_graph_coloring_with_pyspark_spark.operators.classifier import (
        clear_classifier_cache,
        classifier_holdout_eval,
        feature_frame_cached,
        holdout_metrics,
        trained_weights_cached,
    )

    clear_classifier_cache(spark)
    feats = feature_frame_cached(spark, SF0001)
    assert feature_frame_cached(spark, SF0001) is feats
    w_full = trained_weights_cached(spark, SF0001, "full")
    assert trained_weights_cached(spark, SF0001, "full") is w_full
    w80 = trained_weights_cached(spark, SF0001, "train80")
    assert trained_weights_cached(spark, SF0001, "train80") is w80
    assert w_full[0] != w80[0]  # different splits → different weights
    assert w80[2] < w_full[2]  # train80 saw fewer docs
    m = holdout_metrics(spark, SF0001)
    assert holdout_metrics(spark, SF0001) is m
    # the memo holds exactly: 1 frame + 2 weight entries + 1 metrics
    per = cache.entries(spark, "classifier")
    assert per is not None and len(per) == 4, sorted(per)
    row = classifier_holdout_eval(spark, SF0001).collect()[0]

    # release → rebuild from scratch → identical report
    assert clear_classifier_cache(spark) == 4
    assert cache.entries(spark, "classifier") == {}
    row2 = classifier_holdout_eval(spark, SF0001).collect()[0]
    assert row.asDict() == row2.asDict()


def test_funnel_gate_columns_match_holdout_eval(spark):
    """r11 (VERDICT r10 #4): the funnel's gate_acc/gate_auc columns are
    the SAME measured calibration classifier_holdout_eval reports —
    constant across manifest rows and equal to the one-row surface."""
    from distributed_graph_coloring_with_pyspark_spark.operators.classifier import (
        classifier_holdout_eval,
    )
    from distributed_graph_coloring_with_pyspark_spark.operators.curation import (
        curation_pipeline_e2e,
    )

    hrow = classifier_holdout_eval(spark, SF0001).collect()[0]
    rows = curation_pipeline_e2e(spark, SF0001).collect()
    assert rows
    assert {r["gate_acc"] for r in rows} == {hrow["accuracy"]}
    assert {r["gate_auc"] for r in rows} == {hrow["auc"]}


def test_dual_training_matches_sequential(spark):
    """r11: the fused dual-split trainer (one GD loop, both models per
    action) must agree with two independent sequential trainings —
    same math, different float-sum grouping, so 1e-9 per weight."""
    from pyspark.sql import functions as F

    from distributed_graph_coloring_with_pyspark_spark.operators.classifier import (
        clear_classifier_cache,
        feature_frame_cached,
        train_quality_classifier,
        trained_weights_cached,
    )

    clear_classifier_cache(spark)
    feats = feature_frame_cached(spark, SF0001)
    w_full, l_full, n_full = trained_weights_cached(spark, SF0001, "full")
    w_80, l_80, n_80 = trained_weights_cached(spark, SF0001, "train80")
    assert n_80 < n_full

    seq_full, seq_l_full = train_quality_classifier(spark, SF0001, feats=feats)
    seq_80, seq_l_80 = train_quality_classifier(
        spark, SF0001, feats=feats.filter(~F.col("held"))
    )
    for b in seq_full:
        assert abs(w_full[b] - seq_full[b]) < 1e-9, b
    for b in seq_80:
        assert abs(w_80[b] - seq_80[b]) < 1e-9, b
    assert len(l_full) == len(seq_l_full) and len(l_80) == len(seq_l_80)
    for a, b in zip(l_full, seq_l_full):
        assert abs(a - b) < 1e-9
    for a, b in zip(l_80, seq_l_80):
        assert abs(a - b) < 1e-9


def test_dual_training_one_action_per_step(spark, monkeypatch):
    """The fused trainer keeps the one-action-per-step pin: T steps ⇒
    T unioned collects + the single dual-count agg collect, for BOTH
    models together (the whole point of fusing)."""
    from distributed_graph_coloring_with_pyspark_spark.operators.classifier import (
        _train_dual,
        clear_classifier_cache,
        feature_frame_cached,
    )

    clear_classifier_cache(spark)
    feats = feature_frame_cached(spark, SF0001)
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
    (w_f, l_f, n_f), (w_h, l_h, n_h) = _train_dual(spark, feats, steps=4)
    assert len(l_f) == 4 and len(l_h) == 4 and 0 < n_h < n_f
    assert calls["collect"] == 5, calls  # 1 count-agg + 4 step collects
    assert calls["count"] == 0, calls


def test_holdout_eval_repeat_calls_accumulate_nothing(spark):
    """r12 pin (VERDICT r11 #3): repeated classifier_holdout_eval calls
    in one session must not grow the persisted-frame set — the scored
    holdout and histogram persists are released inside holdout_metrics
    and the scalars are memoized, so only the shared feature frame may
    stay cached (released by clear_classifier_cache)."""
    from distributed_graph_coloring_with_pyspark_spark.operators.classifier import (
        classifier_holdout_eval,
        clear_classifier_cache,
    )

    clear_classifier_cache(spark)
    jsc = spark.sparkContext._jsc

    def persistent_ids():
        # ids, not a size: the ContextCleaner may drop an earlier test's
        # RDD mid-call, and equal sizes could hide a leak plus a cleanup
        return set(jsc.getPersistentRDDs().keySet())

    classifier_holdout_eval(spark, SF0001).collect()
    after_first = persistent_ids()
    classifier_holdout_eval(spark, SF0001).collect()
    classifier_holdout_eval(spark, SF0001).collect()
    assert persistent_ids() - after_first == set()
    clear_classifier_cache(spark)
