"""Hashed linear quality classifier vs an independent numpy reference
(same featurization replayed with hashlib md5, same full-batch GD), plus
planted-separability, anchoring, determinism, and plan-shape checks."""

from __future__ import annotations

import hashlib
import math
import random
import re

import numpy as np
import pytest

from mistral_ocr_spark.operators import quality_clf as Q

B = 1 << 12
SALT = "qclf-v1"
_WS = re.compile(r"[ \t\n\x0b\f\r]+")


# --- independent reference -------------------------------------------------

def _bucket(gram: str) -> int:
    h = hashlib.md5((gram + "|" + SALT).encode()).hexdigest()
    return int(h[:8], 16) % B


def _feats(text: str | None) -> dict[int, float]:
    w = [t for t in _WS.split(text or "") if t]
    grams = w + [f"{a} {b}" for a, b in zip(w, w[1:])]
    if not grams:
        return {}
    c: dict[int, float] = {}
    for g in grams:
        b = _bucket(g)
        c[b] = c.get(b, 0.0) + 1.0
    tot = float(len(grams))
    return {b: v / tot for b, v in c.items()}


def _ref_train(rows, n_iters, lr, l2=0.0):
    feats = [(_feats(t), float(y)) for t, y in rows if y is not None]
    n = len(feats)
    w = np.zeros(B)
    bias = 0.0
    for _ in range(n_iters):
        grad = np.zeros(B)
        gb = 0.0
        for fx, y in feats:
            z = sum(x * w[b] for b, x in fx.items()) + bias
            p = 1.0 / (1.0 + math.exp(-z)) if z >= 0 else math.exp(z) / (1 + math.exp(z))
            err = p - y
            for b, x in fx.items():
                grad[b] += err * x
            gb += err
        w -= lr * (grad / n + l2 * w)
        bias -= lr * gb / n
    return w, bias


def _ref_score(text, w, bias):
    z = sum(x * w[b] for b, x in _feats(text).items()) + bias
    return 1.0 / (1.0 + math.exp(-z))


# --- fixtures --------------------------------------------------------------

def _labeled_corpus():
    rng = random.Random(11)
    good_vocab = ["theory", "study", "result", "method", "because", "which"]
    junk_vocab = ["click", "buy", "cheap", "win", "free", "casino"]
    rows = []
    for i in range(40):
        v = good_vocab if i % 2 == 0 else junk_vocab
        n = rng.randint(8, 20)
        rows.append((i, " ".join(rng.choice(v) for _ in range(n)), 1 if i % 2 == 0 else 0))
    rows.append((100, "", 1))          # zero-gram doc: trains only the bias
    rows.append((101, "theory study", None))  # NULL label: dropped
    return rows


def _train(spark, tmp_path, rows, n_iters=15, lr=2.0):
    df = spark.createDataFrame(rows, "doc_id long, text string, label int")
    model_dir = str(tmp_path / "model")
    meta = Q.train_quality_classifier(
        df, model_dir, n_buckets=B, n_iters=n_iters, lr=lr, salt=SALT
    )
    return df, model_dir, meta


def test_matches_numpy_reference(spark, tmp_path):
    rows = _labeled_corpus()
    df, model_dir, meta = _train(spark, tmp_path, rows)
    w_ref, b_ref = _ref_train([(t, y) for _, t, y in rows], n_iters=15, lr=2.0)
    assert meta["bias"] == pytest.approx(b_ref, abs=1e-9)
    wdf = {r["bucket"]: r["weight"] for r in spark.read.parquet(f"{model_dir}/weights").collect()}
    for b in np.flatnonzero(w_ref):
        assert wdf.get(int(b), 0.0) == pytest.approx(w_ref[b], abs=1e-9)
    assert set(wdf) <= set(int(b) for b in np.flatnonzero(w_ref))
    # scores replay too (incl. the empty doc → sigmoid(bias))
    got = {
        r["doc_id"]: r["score"]
        for r in Q.quality_score(df, model_dir).collect()
    }
    for i, t, _ in rows:
        assert got[i] == pytest.approx(_ref_score(t, w_ref, b_ref), abs=1e-8)


def test_planted_separability_and_loss_decreases(spark, tmp_path):
    rows = _labeled_corpus()
    df, model_dir, meta = _train(spark, tmp_path, rows)
    assert meta["loss_history"][-1] < meta["loss_history"][0]
    scores = {
        r["doc_id"]: r["score"] for r in Q.quality_score(df, model_dir).collect()
    }
    good = [s for i, s in scores.items() if i < 100 and i % 2 == 0]
    junk = [s for i, s in scores.items() if i < 100 and i % 2 == 1]
    assert min(good) > max(junk)
    # unseen docs from the same vocabularies rank correctly
    new = spark.createDataFrame(
        [(200, "study method result"), (201, "cheap casino win free")],
        "doc_id long, text string",
    )
    ns = {r["doc_id"]: r["score"] for r in Q.quality_score(new, model_dir).collect()}
    assert ns[200] > ns[201]


def test_deterministic_across_parallelism(spark, tmp_path):
    rows = _labeled_corpus()
    df2 = spark.createDataFrame(rows, "doc_id long, text string, label int").repartition(2)
    df16 = spark.createDataFrame(rows, "doc_id long, text string, label int").repartition(16)
    m1 = Q.train_quality_classifier(
        df2, str(tmp_path / "m1"), n_buckets=B, n_iters=8, salt=SALT
    )
    m2 = Q.train_quality_classifier(
        df16, str(tmp_path / "m2"), n_buckets=B, n_iters=8, salt=SALT
    )
    # full-batch GD: only FP summation order differs
    assert m1["bias"] == pytest.approx(m2["bias"], abs=1e-10)
    w1 = {r["bucket"]: r["weight"] for r in spark.read.parquet(str(tmp_path / "m1/weights")).collect()}
    w2 = {r["bucket"]: r["weight"] for r in spark.read.parquet(str(tmp_path / "m2/weights")).collect()}
    assert set(w1) == set(w2)
    for b in w1:
        assert w1[b] == pytest.approx(w2[b], abs=1e-10)


def test_scoring_plan_is_jvm_only(spark, tmp_path):
    rows = _labeled_corpus()
    df, model_dir, _ = _train(spark, tmp_path, rows, n_iters=2)
    plan = (
        Q.quality_score(df, model_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInArrow" not in plan and "BatchEvalPython" not in plan


def test_bias_only_model_from_all_empty_texts(spark, tmp_path):
    """All-zero weight vector (every training doc zero-gram) must still
    persist and score — empty-frame schema inference crashed here
    (review catch)."""
    df = spark.createDataFrame(
        [(1, "", 1), (2, "", 0), (3, "   ", 1)],
        "doc_id long, text string, label int",
    )
    model_dir = str(tmp_path / "bias_only")
    meta = Q.train_quality_classifier(
        df, model_dir, n_buckets=B, n_iters=3, lr=1.0, salt=SALT
    )
    # 2 positives / 1 negative → bias climbs toward log(2) over GD steps
    assert meta["bias"] > 0
    s = {r["doc_id"]: r["score"] for r in Q.quality_score(df, model_dir).collect()}
    expected = 1.0 / (1.0 + math.exp(-meta["bias"]))
    for v in s.values():
        assert v == pytest.approx(expected, abs=1e-12)


def test_empty_labels_raise(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a b", None)], "doc_id long, text string, label int"
    )
    with pytest.raises(ValueError, match="no labeled rows"):
        Q.train_quality_classifier(
            df, str(tmp_path / "m"), n_buckets=B, n_iters=1, salt=SALT
        )
