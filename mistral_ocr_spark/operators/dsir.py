"""DSIR: Data Selection via Importance Resampling (Xie et al., NeurIPS
2023, arXiv:2302.03169) — select raw-corpus documents whose hashed-n-gram
distribution looks like a small target corpus.

The published recipe, re-expressed as three Spark plans over the
``documents``-shaped table:

1. **Feature map** — each document's unigrams + bigrams hashed into a
   FIXED number of buckets ``B`` (the paper uses 10k; B bounds every
   downstream structure, which is what makes the method 100-TB-safe: no
   vocabulary ever materializes, just a B-row table).
2. **Bucket distributions** — one groupBy per corpus gives smoothed bucket
   probabilities p̂_target / p̂_raw; the per-bucket log-likelihood ratio
   λ[b] = log p̂_t[b] − log p̂_r[b] is a ≤B-row table, **broadcast** to the
   scoring join (never shuffled against the corpus).
3. **Importance weight + Gumbel top-k** — log w(x) = Σ_b n_x[b]·λ[b] via
   explode → broadcast-join → one groupBy(doc) shuffle (partial aggs make
   the shuffled rows ≈ one per document), then sampling-without-
   replacement via the Gumbel-max trick with DETERMINISTIC noise derived
   from a hash of the document key — the same selection on every run, at
   any parallelism, on any engine (the driver's DuckDB oracle reproduces
   it bit-for-bit at 6 dp).

Hashing is the md5-prefix arithmetic from ``sampling._bucket``'s portable
mode, so an ANSI engine can reproduce buckets exactly:
``CAST('0x' || substr(md5(gram || '|' || salt), 1, 8) AS BIGINT) % B``.

Scale notes: two corpus scans (one to build p̂_raw, one to score — the
target corpus is small by definition); the only corpus-sized shuffle is
the per-doc sum, keyed on the doc id (never skewed); λ is O(B) and rides
a broadcast. Raising B to the paper's 10k or beyond changes no plan shape.

Reference parity: stevegsax/mistral-ocr has no selection surface; this is
training-data-pipeline breadth (the brief's 100-TB pipeline ops), the
data-mixing counterpart of `sampling.stratified_sample`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mistral_ocr_spark.session import spread

_HASH_DENOM = 1 << 32  # md5-prefix space; buckets = prefix % n_buckets


def gram_bucket(gram: Column, n_buckets: int, salt: str) -> Column:
    """Portable bucket in [0, n_buckets): first 8 md5 hex digits of
    ``gram|salt`` mod n_buckets (the `sampling.py` md5-mode arithmetic —
    byte-identical in any engine with md5 + hex parsing)."""
    from mistral_ocr_spark.operators.sampling import md5_prefix_long

    return md5_prefix_long(gram, salt, 8, sep="|") % F.lit(n_buckets)


def words_expr(text_col: Column) -> Column:
    """THE word-split convention, shared by dsir and tokenizer (and
    matching the dedup.py gram queries): split on Java ``\\s+`` — the
    ASCII class [ \\t\\n\\x0b\\f\\r], NOT Unicode whitespace — empty
    strings dropped, so empty/blank documents yield ZERO words. Any
    Python-side kernel that re-tokenizes (tokenizer.bpe_encode) must use
    the same ASCII class or its word set silently diverges on NBSP-style
    Unicode whitespace."""
    return F.filter(F.split(F.trim(text_col), r"\s+"), lambda w: w != "")


def grams_from_words(w: Column) -> Column:
    """Unigrams + bigrams from an ALREADY-MATERIALIZED words column.
    Bigram join char is a single space (words cannot contain whitespace,
    so the mapping gram→string is injective). ``sequence(1,0)`` is
    DESCENDING in Spark, hence the explicit size guard on the bigram leg.

    ``w`` must be a plain column reference, not a computed expression:
    Spark does NO common-subexpression elimination inside transform
    lambdas, so a computed ``w`` would re-run (e.g.) the regex word split
    TWICE PER BIGRAM — O(words²) splits per document (measured 10× on
    dsir_select; the quantize_embeddings materialize-first rule)."""
    bis = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.concat_ws(" ", F.element_at(w, i), F.element_at(w, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(w, bis)


def _doc_buckets(df: DataFrame, text_col: str, id_col: str, n_buckets: int, salt: str) -> DataFrame:
    """(id, bucket) — one row per gram occurrence. Words materialize in
    their own projection FIRST (no-CSE-in-lambdas rule, see
    grams_from_words). explode_outer, not explode: Catalyst's
    InferFiltersFromGenerate would otherwise clone the whole gram kernel
    into an inferred size(...)>0 filter and evaluate it twice per row
    (the r4 decontaminate 26s trap)."""
    wdf = df.select(F.col(id_col), words_expr(F.col(text_col)).alias("_ws"))
    g = wdf.select(
        F.col(id_col),
        F.explode_outer(grams_from_words(F.col("_ws"))).alias("gram"),
    ).filter(F.col("gram").isNotNull())
    return g.select(id_col, gram_bucket(F.col("gram"), n_buckets, salt).alias("bucket"))


def bucket_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    salt: str = "dsir-v1",
) -> DataFrame:
    """(bucket, cnt): corpus-wide hashed-gram occurrence counts — the
    sufficient statistic for one side of the likelihood ratio. ≤B rows."""
    return _doc_buckets(df, text_col, id_col, n_buckets, salt).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )


def log_ratio_table(
    raw_counts: DataFrame, target_counts: DataFrame, n_buckets: int, alpha: float = 1.0
) -> DataFrame:
    """(bucket, lam): λ[b] = log(c_t[b]+α) − log(N_t+αB) − log(c_r[b]+α)
    + log(N_r+αB), over the RAW support only — every gram that can ever be
    scored came from a raw document, so its bucket has c_r ≥ 1; target
    buckets outside the raw support can never be looked up. Laplace α
    keeps target-unseen buckets finite. ≤B rows; broadcast downstream."""
    nr = raw_counts.agg(F.sum("cnt").alias("n_raw"))
    nt = target_counts.agg(F.sum("cnt").alias("n_tgt"))
    joined = (
        raw_counts.withColumnRenamed("cnt", "c_raw")
        .join(target_counts.withColumnRenamed("cnt", "c_tgt"), "bucket", "left")
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nt))
    )
    lam = (
        F.log(F.coalesce(F.col("c_tgt"), F.lit(0)) + F.lit(alpha))
        - F.log(F.col("n_tgt") + F.lit(alpha * n_buckets))
        - F.log(F.col("c_raw") + F.lit(alpha))
        + F.log(F.col("n_raw") + F.lit(alpha * n_buckets))
    )
    return joined.select("bucket", lam.alias("lam"))


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    alpha: float = 1.0,
    salt: str = "dsir-v1",
) -> DataFrame:
    """(id, logw): per-document importance log-weight Σ n_x[b]·λ[b].

    Plan: raw grams explode → broadcast-join λ (≤B rows) → groupBy(id).
    Documents with zero grams keep a row with logw = 0 (left-join anchor
    on the input ids — the line-dedup anchoring rule)."""
    from mistral_ocr_spark.scratch import materialize, scratch_path, scratch_table_dir

    # the per-gram md5 bucketing (the dominant cost over raw) inherits the
    # SOURCE scan's partitioning — spread it first (no-op on an
    # already-parallel input; see session.spread)
    raw = spread(raw)
    target = spread(target)
    # materialize raw's (id, bucket) stream once: it feeds BOTH p̂_raw and
    # the scoring join, and the md5 gram kernel would otherwise evaluate
    # once per branch (r6) — compact rows, a fraction of the kernel cost
    db = materialize(
        _doc_buckets(raw, text_col, id_col, n_buckets, salt),
        scratch_path(scratch_table_dir(raw.sparkSession), "dsir_buckets"),
    )
    raw_counts = db.groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    lam = log_ratio_table(
        raw_counts,
        bucket_counts(target, text_col, id_col, n_buckets, salt),
        n_buckets,
        alpha,
    )
    scored = (
        db.join(F.broadcast(lam), "bucket")
        .groupBy(id_col)
        .agg(F.sum("lam").alias("logw"))
    )
    return raw.select(id_col).join(scored, id_col, "left").select(
        id_col, F.coalesce(F.col("logw"), F.lit(0.0)).alias("logw")
    )


def gumbel_noise(key: Column, salt: str) -> Column:
    """Deterministic standard Gumbel draw from a hash of the key:
    u = (md5_prefix + 0.5) / 2^32 ∈ (0,1), g = −ln(−ln u). Same value on
    every engine, every run — the Gumbel-max trick (adding g to log-weights
    and taking top-k samples k items without replacement ∝ softmax(logw))
    without RNG state."""
    from mistral_ocr_spark.operators.sampling import md5_prefix_long

    u = (md5_prefix_long(key, salt, 8, sep="|").cast("double") + F.lit(0.5)) / F.lit(
        float(_HASH_DENOM)
    )
    return -F.log(-F.log(u))


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    alpha: float = 1.0,
    salt: str = "dsir-v1",
) -> DataFrame:
    """Top-k Gumbel importance resample: (id, logw, score) for the k
    documents maximizing logw + Gumbel(hash(id)), deterministically.

    Ordering compares scores ROUNDED to 6 dp (ties broken by id): the
    engines' libm log/sum differ at ~1e-14, and a raw-double comparator
    would let that noise flip the k-th seat between engines. The rounding
    happens IN the sort key, so the returned set is reproducible
    everywhere. Top-k is TakeOrderedAndProject — no global sort at scale."""
    w = dsir_weights(raw, target, text_col, id_col, n_buckets, alpha, salt)
    score = F.round(F.col("logw") + gumbel_noise(F.col(id_col), salt), 6)
    return (
        w.select(
            id_col,
            F.round("logw", 6).alias("logw"),
            score.alias("score"),
        )
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )
