"""Hashed linear quality classifier — the fastText/CCNet-style document
quality filter (Joulin et al. 2016 "Bag of Tricks"; the GPT-3 / CCNet /
RedPajama web-quality gate): logistic regression over hashed unigram +
bigram bag-of-words features, trained with full-batch gradient descent
and applied corpus-wide as a pure JVM scoring plan.

The reference has no ML surface at all (it classifies documents only by
extension/magic, ``simple_client.py`` mime dispatch); this operator is
what a training-data pipeline puts between extraction and selection —
learn "looks like the high-quality seed corpus" vs "random crawl" from a
LABELED SAMPLE, then score every document.

Scale design (the asymmetry is the point):
- **Scoring is the 100-TB path** and is pure DataFrame ops: hashed-gram
  explode → join the (bucket, weight) table (≤ ``n_buckets`` rows — AQE
  broadcasts it) → one map-side-combined groupBy(doc). Linear, zero
  Python in the loop, ANSI-SQL-expressible (the bucket hash is the
  portable md5-prefix arithmetic shared with DSIR/sampling, so a DuckDB
  oracle can replay scoring bit-for-bit modulo libm).
- **Training runs on the labeled sample** (fastText quality classifiers
  train on 10^5-10^7 docs, not the corpus): features materialize ONCE to
  scratch parquet as per-doc ragged arrays; each GD iteration is one
  narrow ``mapInArrow`` pass — vectorized numpy (``np.bincount`` over
  the flattened feature stream) emits ONE dense gradient partial per
  Arrow batch, summed on the driver. No per-iteration shuffle at all;
  collect volume = n_batches × n_buckets × 8 B.

Determinism: full-batch GD with a fixed iteration count and deterministic
featurization — the only run-to-run wiggle is floating-point summation
order across partitions (~1e-13 relative), which tests bound with
tolerances rather than pretending it away.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mistral_ocr_spark import arrowcols as C
from mistral_ocr_spark.operators import dsir
from mistral_ocr_spark.scratch import materialize, scratch_path, scratch_table_dir
from mistral_ocr_spark.session import spread


def doc_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1 << 16,
    salt: str = "qclf-v1",
) -> DataFrame:
    """(id, bucket, x): L1-normalized hashed-gram term frequencies —
    x[b] = count of grams hashing to b / total grams in the doc (the
    fastText mean-of-bucket-embeddings analog for a linear model).
    Grams = unigrams + bigrams, bucketed with DSIR's portable md5-prefix
    hash so any engine can replay featurization. Zero-gram docs yield no
    rows (callers anchor on input ids; both train and score do)."""
    # total grams per doc is known BEFORE the explode: |w| unigrams plus
    # max(|w|-1, 0) bigrams — carried through the explode as a column, so
    # the L1 normalizer needs no second exchange (r6: replaces a
    # Window.partitionBy(id) sum that re-shuffled + sorted every
    # (id, bucket) row; the value is the identical integer-valued double,
    # so x is bit-for-bit unchanged)
    wdf = df.select(F.col(id_col), dsir.words_expr(F.col(text_col)).alias("_ws"))
    nw = F.size("_ws")
    g = wdf.select(
        F.col(id_col),
        F.explode_outer(dsir.grams_from_words(F.col("_ws"))).alias("gram"),
        (nw + F.greatest(nw - F.lit(1), F.lit(0))).cast("double").alias("_tot"),
    ).filter(F.col("gram").isNotNull())
    cnt = (
        g.select(
            F.col(id_col),
            dsir.gram_bucket(F.col("gram"), n_buckets, salt).alias("bucket"),
            "_tot",
        )
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).cast("double").alias("_c"), F.first("_tot").alias("_t"))
    )
    return cnt.select(id_col, "bucket", (F.col("_c") / F.col("_t")).alias("x"))


_FEATURES_SCHEMA = "_y double, _bs array<bigint>, _xs array<double>"
_GRAD_SCHEMA = "g binary, gb double, n bigint, loss double"


def _train_features_fn(n_buckets: int, salt: str):
    """Per-doc hashed-gram featurization for the TRAINING sample, done in
    one Python pass: words (the shared ASCII ``\\s+`` split convention),
    unigram+bigram md5-prefix buckets (hashlib md5 — byte-identical to
    ``dsir.gram_bucket``'s ``conv(substr(md5(...),1,8),16,10) % B``), L1
    normalization, ragged arrays sorted by bucket. Replaces the r5
    explode → groupBy(id, bucket) → collect_list → join chain for the
    train scratch (the labeled sample is bounded by design — the module
    docstring's asymmetry; SCORING keeps the JVM plan). Input batches:
    (_y double, _t string); output: (_y, _bs, _xs)."""
    import hashlib
    import re

    ws = re.compile(r"[ \t\n\x0b\f\r]+")  # Java \s, not Unicode \s
    sb = ("|" + salt).encode("utf-8")

    def fn(batches):
        for batch in batches:
            bss, xss, lens = [], [], []
            for t in batch.column(1).to_pylist():
                # trim = SPACES only (Spark F.trim), empties dropped
                words = [w for w in ws.split((t or "").strip(" ")) if w]
                grams = words + [
                    words[i] + " " + words[i + 1] for i in range(len(words) - 1)
                ]
                counts: dict[int, int] = {}
                for g in grams:
                    # first 8 md5 hex digits == first 4 digest bytes
                    b = (
                        int.from_bytes(
                            hashlib.md5(g.encode("utf-8") + sb).digest()[:4],
                            "big",
                        )
                        % n_buckets
                    )
                    counts[b] = counts.get(b, 0) + 1
                tot = float(len(grams))
                bs = sorted(counts)
                bss += bs
                xss += [counts[b] / tot for b in bs]
                lens.append(len(bs))
            bs, xs = C.numbers(bss, pa.int64()), C.numbers(xss, pa.float64())
            yield C.batch(_FEATURES_SCHEMA, [batch.column(0), C.lists(lens, bs), C.lists(lens, xs)])

    return fn


def _sigmoid(z: np.ndarray) -> np.ndarray:
    # numerically stable two-sided form
    out = np.empty_like(z)
    pos = z >= 0
    out[pos] = 1.0 / (1.0 + np.exp(-z[pos]))
    ez = np.exp(z[~pos])
    out[~pos] = ez / (1.0 + ez)
    return out


def _grad_fn(model, V: int):
    """mapInArrow kernel of one GD iteration: one dense gradient partial
    (plus error sum, row count and log-loss) per Arrow batch of the
    materialized (_y, _bs, _xs) features. ``model.value`` is the (w, bias)
    broadcast of this iteration."""

    def _grad(batches):
        # Arrow batches: the ragged (_bs, _xs) arrays arrive as ONE flat
        # child buffer + offsets per batch — zero-copy numpy, no per-row
        # list materialization (r6: the pandas form spent most of each GD
        # iteration converting 50k object-dtype lists; the math below is
        # unchanged)
        bw, bb = model.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            y = C.view(batch.column(0))
            bs, xs = batch.column(1), batch.column(2)
            offs = C.view(bs.offsets).astype(np.int64)
            lens = np.diff(offs)
            if lens.sum() == 0:
                dots = np.zeros(batch.num_rows)
                fb = np.empty(0, dtype=np.int64)
                fx = np.empty(0, dtype=np.float64)
            else:
                # slice by this batch's own offsets: .values spans the
                # whole child buffer even for a sliced ListArray
                xoffs = C.view(xs.offsets).astype(np.int64)
                fb = C.view(bs.values)[offs[0] : offs[-1]]
                fx = C.view(xs.values)[xoffs[0] : xoffs[-1]]
                seg = np.repeat(np.arange(batch.num_rows), lens)
                dots = np.bincount(
                    seg, weights=fx * bw[fb], minlength=batch.num_rows
                )
            p = _sigmoid(dots + bb)
            err = p - y
            gvec = (
                np.bincount(fb, weights=fx * np.repeat(err, lens), minlength=V)
                if len(fb)
                else np.zeros(V)
            )
            eps = 1e-12
            loss = -np.sum(
                y * np.log(p + eps) + (1.0 - y) * np.log(1.0 - p + eps)
            )
            yield C.batch(
                _GRAD_SCHEMA, [[gvec.tobytes()], [float(err.sum())], [batch.num_rows], [float(loss)]]
            )

    return _grad


def train_quality_classifier(
    labeled: DataFrame,
    model_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "label",
    n_buckets: int = 1 << 16,
    n_iters: int = 30,
    lr: float = 2.0,
    l2: float = 0.0,
    salt: str = "qclf-v1",
    scratch_dir: str | None = None,
) -> dict:
    """Train on (text, label∈{0,1}) rows and persist the model under
    ``model_dir``: ``weights/`` parquet (bucket, weight — nonzero rows
    only) + ``meta.json`` (n_buckets, salt, bias, loss history). NULL
    labels are dropped (never fabricated); zero-gram docs still train the
    bias. Returns the meta dict.

    Full-batch GD on the mean log-loss: w ← w − lr·(∇/N + l2·w). One
    scratch materialization of the per-doc feature arrays, then one
    narrow numpy pass per iteration (module docstring has the scale
    argument)."""
    spark = labeled.sparkSession
    scratch = scratch_dir or scratch_table_dir(spark)
    # drop NULL-label rows BEFORE featurization: in the common shape
    # (small labeled seed inside a mostly-unlabeled corpus) featurizing
    # first would pay the gram explode + both shuffles for rows the
    # train join then discards (review catch)
    labeled = labeled.filter(F.col(label_col).isNotNull())
    # the per-doc featurization kernel inherits the source scan's
    # partitioning — spread it (no-op on an already-parallel input); the
    # kernel output keeps that width, so the scratch parquet and every GD
    # iteration over it run wide without a further exchange
    labeled = spread(labeled)
    tdf = materialize(
        labeled.select(
            F.col(label_col).cast("double").alias("_y"),
            F.col(text_col).alias("_t"),
        ).mapInArrow(_train_features_fn(int(n_buckets), salt), _FEATURES_SCHEMA),
        scratch_path(scratch, "qclf_train"),
    )

    V = int(n_buckets)
    w = np.zeros(V, dtype=np.float64)
    bias = 0.0
    n_docs: int | None = None
    losses: list[float] = []
    sc = spark.sparkContext
    for _ in range(n_iters):
        bc = sc.broadcast((w, bias))
        parts = tdf.mapInArrow(_grad_fn(bc, V), _GRAD_SCHEMA).collect()
        bc.unpersist()
        grad = np.zeros(V, dtype=np.float64)
        gb = 0.0
        n = 0
        loss = 0.0
        for r in parts:
            grad += np.frombuffer(r["g"], dtype=np.float64)
            gb += r["gb"]
            n += r["n"]
            loss += r["loss"]
        if n == 0:
            raise ValueError("no labeled rows to train on")
        n_docs = n
        losses.append(loss / n)
        w -= lr * (grad / n + l2 * w)
        bias -= lr * (gb / n)

    nz = np.flatnonzero(w)
    # explicit schema: an all-zero weight vector (legitimate bias-only
    # model from an all-empty-text sample) yields NO rows, and schema
    # inference raises CANNOT_INFER_EMPTY_SCHEMA (review catch)
    spark.createDataFrame(
        list(zip(nz.tolist(), w[nz].tolist())),
        schema="bucket bigint, weight double",
    ).coalesce(1).write.mode("overwrite").parquet(f"{model_dir}/weights")
    meta = {
        "n_buckets": V,
        "salt": salt,
        "bias": float(bias),
        "lr": lr,
        "l2": l2,
        "n_iters": n_iters,
        "n_docs": n_docs,
        "loss_history": [float(x) for x in losses],
    }
    os.makedirs(model_dir, exist_ok=True)
    with open(f"{model_dir}/meta.json", "w") as f:
        json.dump(meta, f)
    return meta


def quality_score(
    df: DataFrame,
    model_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, score): P(label=1 | text) under the persisted model — the
    corpus-wide JVM-only scoring plan (explode grams → join ≤n_buckets
    weight rows, AQE-broadcast → map-side-combined groupBy(id) →
    sigmoid). Featurization params come from the model's meta.json —
    never from caller arguments, so a hash-salt mismatch is impossible
    (the BM25 stored-modulus rule). Docs with zero grams score
    sigmoid(bias), anchored on the input ids."""
    spark = df.sparkSession
    with open(f"{model_dir}/meta.json") as f:
        meta = json.load(f)
    df = spread(df)
    wdf = spark.read.parquet(f"{model_dir}/weights")
    feats = doc_features(
        df, text_col, id_col, int(meta["n_buckets"]), meta["salt"]
    )
    dots = (
        feats.join(wdf, "bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("x") * F.col("weight")).alias("_dot"))
    )
    z = F.coalesce(F.col("_dot"), F.lit(0.0)) + F.lit(float(meta["bias"]))
    return df.select(id_col).join(dots, id_col, "left").select(
        id_col,
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))).alias("score"),
    )
