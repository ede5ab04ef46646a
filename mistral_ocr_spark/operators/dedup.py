"""Deduplication operators for a large-scale training-data pipeline.

Exact (hash-groupBy), exact n-gram Jaccard (distributed shingle join),
MinHash+LSH (banded candidate generation + exact verification), and
SimHash (bit-band blocking + JVM-side hamming verification).

Scale notes (the 100 TB design point):
- The shingle join carries an optional ``max_df`` document-frequency cut:
  shingles occurring in more than ``max_df`` documents are dropped before
  the join (stopword-shingles otherwise explode the join at web scale).
- MinHash and SimHash signatures are each computed in *one* Arrow-batched
  ``mapInArrow`` pass: word/shingle hashing runs JVM-side, Python does only a
  vectorized numpy reduction per doc. Candidate pairs verify with built-in
  array / bit functions — the O(n²) work never touches Python.
- All hash functions are explicitly seeded/fixed — signatures are
  deterministic across executors, which resume/idempotency depends on.
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mistral_ocr_spark import arrowcols as C
from mistral_ocr_spark.scratch import materialize, scratch_path, scratch_table_dir
from mistral_ocr_spark.session import partition_width, spread

_MERSENNE = (1 << 61) - 1
_MAX32 = (1 << 32) - 1


def _perm_params(num_hashes: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    rs = np.random.RandomState(seed)
    a = rs.randint(1, _MERSENNE, size=num_hashes, dtype=np.int64).astype(np.uint64)
    b = rs.randint(0, _MERSENNE, size=num_hashes, dtype=np.int64).astype(np.uint64)
    return a, b


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def content_fingerprint(text_col: str = "text") -> "F.Column":
    """THE exact-dedup identity: md5 of the whitespace-normalized text.
    Every consumer (exact_dedup, exact_dedup_survivors, the corpus
    pipeline's Bloom stage) must share this one definition — two
    hand-copied normalizations silently stop matching the moment one
    drifts (r5 review)."""
    norm = F.trim(F.regexp_replace(F.col(text_col), r"\s+", " "))
    return F.md5(norm)


def exact_dedup(docs: DataFrame, text_col: str = "text", key_col: str = "doc_id") -> DataFrame:
    """Group identical (whitespace-normalized) texts; keep min key as the
    representative. Pure hash aggregation: map-side partial agg for free."""
    return (
        docs.select(F.col(key_col), content_fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(key_col).alias("keeper_id"),
            F.count(F.lit(1)).cast("bigint").alias("dup_count"),
        )
    )


def exact_dedup_survivors(
    docs: DataFrame, text_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """The surviving ROWS of ``exact_dedup`` (min key per fingerprint wins)
    as a LINEAR single-pass plan: a window filter instead of the
    aggregate + join-back, so it can sit mid-lineage — e.g. under an
    Observation-carrying checkpoint write in the corpus pipeline, where a
    self-join would branch the plan and double-observe (VERDICT r4 #7).
    Same fingerprint, same keeper rule, same survivors as ``exact_dedup``;
    one full-row shuffle on the fingerprint (vs the join formulation's
    full-row join shuffle plus the separate aggregate)."""
    from pyspark.sql import Window

    w = Window.partitionBy(content_fingerprint(text_col)).orderBy(F.col(key_col))
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def cross_doc_line_dedup(
    docs: DataFrame,
    min_df: int = 2,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Cross-document LINE dedup (the FineWeb/CCNet granularity between
    whole-document exact dedup and near-dup pairing): a line appearing in
    ≥ ``min_df`` distinct documents is boilerplate (cookie banners, nav
    text, license footers duplicated across a crawl) and is dropped from
    every document; each document's surviving lines are reassembled in
    their original order.

    Returns ``(key_col, text, n_lines_kept, n_lines_dropped)`` — one row
    per input document (documents whose every line is boilerplate come
    back with empty text, not dropped rows).

    Plan shape at 100 TB: explode trimmed non-blank lines with their
    position, ONE shuffle on the line hash to count distinct docs per line
    (map-side partial agg), broadcast-or-shuffle join the hot-line set
    back (hot lines are the tiny side by construction — boilerplate is
    frequent, so distinct hot lines ≪ distinct lines), then one shuffle
    back on the doc key to reassemble with ``array_join(sort by pos)``.
    Never a self-join, never a driver-side collect; the reassembly
    ``collect_list`` holds ONE document's lines per group — the same
    per-document memory bound the input row itself already imposes. The
    line KEY is the xxhash64 of the trimmed line — 10^12-scale safe (a
    hash collision merely drops an innocent line along with the colliding
    boilerplate one).
    """
    # the line explode + regex strip inherit the source scan's partitioning
    docs = spread(docs)
    lines = docs.select(
        F.col(key_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "_line"),
    ).withColumn(
        # full-whitespace strip (F.trim strips SPACES only — a "\t" line
        # would otherwise count as content, r4 review follow-up)
        "_t",
        F.regexp_replace(F.col("_line"), r"^\s+|\s+$", ""),
    )
    body = lines.filter(F.col("_t") != "").withColumn("h", F.xxhash64("_t"))
    hot = (
        body.groupBy("h")
        .agg(F.count_distinct(key_col).alias("df"))
        .filter(F.col("df") >= min_df)
        .select("h")
    )
    kept = body.join(hot, "h", "left_anti")
    rebuilt = kept.groupBy(key_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", F.col("_t").alias("l")))),
                lambda s: s["l"],
            ),
            "\n",
        ).alias("text"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines_kept"),
    )
    line_counts = body.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("_n_total")
    )
    # anchor on the INPUT docs, not the non-blank line stream: a document
    # whose text is empty or all-blank has no `body` rows but must still
    # come back as ("", 0, 0) — "one row per input document" (r4 review)
    totals = docs.select(key_col).join(line_counts, key_col, "left").select(
        key_col, F.coalesce("_n_total", F.lit(0)).alias("_n_total")
    )
    return (
        totals.join(rebuilt, key_col, "left")
        .select(
            key_col,
            F.coalesce("text", F.lit("")).alias("text"),
            F.coalesce("n_lines_kept", F.lit(0)).cast("bigint").alias("n_lines_kept"),
            (F.col("_n_total") - F.coalesce("n_lines_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_lines_dropped"),
        )
    )


# ---------------------------------------------------------------------------
# word-3-gram shingles + exact Jaccard via distributed shingle join
# ---------------------------------------------------------------------------

def with_shingles(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct word-3-gram shingle array per doc (built-in array exprs).

    Documents with fewer than 3 words get a single shingle equal to the
    whole normalized text — full 3-grams only otherwise, so the identical
    CASE is expressible in ANSI SQL (concat_ws's NULL-skipping vs SQL ||'s
    NULL-propagation never comes into play; the two engines agree on every
    input length). The words array is MATERIALIZED as a real column first:
    referencing the split() expression inside the transform lambda
    re-evaluates the regex split per element_at (no common-subexpression
    elimination in interpreted higher-order functions — measured
    9 s → 1.3 s on the sf0.1 fixture when materialized). The join paths
    use the hashed form, ``with_ngram_hashes(docs, 3)``.
    """
    w = F.col("_words")
    tri = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(w) - 2, F.lit(1))),
        lambda i: F.concat_ws(
            " ", F.element_at(w, i), F.element_at(w, i + 1), F.element_at(w, i + 2)
        ),
    )
    shingles = F.when(F.size(w) < 3, F.array(F.array_join(w, " "))).otherwise(
        F.array_distinct(tri)
    )
    return (
        docs.withColumn("_words", F.split(F.trim(F.col(text_col)), r"\s+"))
        .withColumn("shingles", shingles)
        .drop("_words")
    )


def with_ngram_hashes(
    docs: DataFrame,
    n: int,
    text_col: str = "text",
    out_col: str = "ngram_hashes",
) -> DataFrame:
    """Distinct word-n-gram HASH array per doc: one ``xxhash64(slice(words,
    i, n))`` per gram, no gram string materialized. With n=3 these are the
    hashed ``with_shingles`` sets the near-dup joins run on (set sizes and
    intersections equal the string sets up to a ~n²/2^64 collision
    probability, so Jaccard counts are interchangeable); n=13 is the
    decontamination gram. The slice form hashes the word sub-array in ONE
    call instead of n element_at arguments — measured 2.3× faster at n=13
    on the sf0.1 corpus (r4; xxhash64 accepts complex types and chains
    element hashes, so equal word tuples still hash equally). Documents
    shorter than n words hash the whole normalized text as their single
    gram, the ``with_shingles`` <3-word CASE."""
    w = F.col("_words")
    cnt = F.greatest(F.size(w) - (n - 1), F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), cnt),
        lambda i: F.xxhash64(F.slice(w, i, n)),
    )
    out = F.when(
        F.size(w) < n, F.array(F.xxhash64(F.array_join(w, " ")))
    ).otherwise(F.array_distinct(grams))
    return (
        docs.withColumn("_words", F.split(F.trim(F.col(text_col)), r"\s+"))
        .withColumn(out_col, out)
        .drop("_words")
    )


def jaccard_pairs_exact(
    docs: DataFrame,
    threshold: float,
    key_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """All pairs with word-3-gram Jaccard ≥ threshold — exact algorithm.

    Plan shape: explode shingles → (optional df-cut) → self-join on shingle
    → count shared per pair → jaccard filter. Only pairs sharing ≥1
    shingle are ever materialized (never the O(n²) cross product). Joins
    run on hashed shingles (int64 keys, not 3-word strings) — Jaccard
    counts are identical up to a negligible collision probability.
    """
    sh = with_ngram_hashes(docs, 3, text_col, "shingles").select(
        F.col(key_col).alias("id"), "shingles", F.size("shingles").alias("n_sh")
    )
    # explode_outer, NOT explode: exploding a computed array column by name
    # makes Catalyst's InferFiltersFromGenerate add a `size(col) > 0`
    # filter, and predicate pushdown then substitutes the FULL shingle
    # expression into it — with `_words` re-expanded to the regex split
    # inside every element_at (no CSE), the whole shingle kernel evaluates
    # twice, once at 13 splits/element. Measured 13.7 s → 0.54 s at sf0.1
    # (r4). explode_outer infers nothing, and the arrays are never empty
    # (<3-word docs still get one whole-text shingle).
    ex = sh.select("id", "n_sh", F.explode_outer("shingles").alias("shingle"))
    if max_df is not None:
        hot = ex.groupBy("shingle").count().filter(F.col("count") > max_df)
        ex = ex.join(F.broadcast(hot.select("shingle")), "shingle", "left_anti")
    a = ex.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"), "shingle")
    b = ex.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"), "shingle")
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    jac = F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    return pairs.select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _minhash_batch_fn(num_hashes: int):
    """Vectorized across the WHOLE Arrow batch (r6: the r5 version looped
    per doc — ~80 µs of numpy-call overhead per row dominated the
    signature stage). The shingle-hash list column arrives as one flat
    child array plus offsets; all permutations evaluate in one (W, H)
    matrix op and ``np.minimum.reduceat`` takes each doc's per-permutation
    min in a single pass. Arithmetic is bit-identical to the r5 loop
    (same uint64 wrap, same mod, same & _MAX32 fold)."""
    a, b = _perm_params(num_hashes)

    def fn(batches):
        import pyarrow as pa

        for batch in batches:
            ids = batch.column(0)
            col = batch.column(1)
            n_rows = batch.num_rows
            offsets = C.view(col.offsets).astype(np.int64)
            flat = (
                C.view(col.values)
                .astype(np.int64)[offsets[0] : offsets[-1]]
                .astype(np.uint64)
            )
            n = np.diff(offsets)
            valid = n > 0
            if col.null_count:
                valid &= C.valid_mask(col)  # NULL text → sentinel sig
            sigs = np.full((n_rows, num_hashes), _MAX32, dtype=np.uint64)
            if valid.any():
                starts = offsets[:-1][valid] - offsets[0]
                # one permutation at a time over the flat 1-D stream: the
                # working set stays cache-sized (the (W, H) matrix form
                # measured 9× slower — memory-bound temporaries); same
                # uint64 wrap arithmetic as np.outer, bit-identical sigs
                mins = np.empty((int(valid.sum()), num_hashes), dtype=np.uint64)
                t = np.empty_like(flat)
                for h in range(num_hashes):
                    np.multiply(flat, a[h], out=t)
                    t += b[h]
                    t %= _MERSENNE
                    mins[:, h] = np.minimum.reduceat(t, starts)
                sigs[valid] = mins & _MAX32
            out = sigs.astype(np.int64).ravel()
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.ListArray.from_arrays(
                        C.numbers(C.offsets(np.full(n_rows, num_hashes)), pa.int32()),
                        C.numbers(out, pa.int64()),
                    ),
                ],
                names=["id", "sig"],
            )

    return fn


def _signatures_from_shingle_hashes(sh: DataFrame, num_hashes: int) -> DataFrame:
    """(id, shingles) → (id, sig): the numpy permutation/min reduction over
    pre-hashed shingle arrays — shared by the one-shot path and the
    persisted index (which derives signatures from its stored shingle
    table so index build costs ONE corpus text pass)."""
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("sig", T.ArrayType(T.LongType())),
        ]
    )
    return sh.select("id", F.col("shingles").alias("sh_hash")).mapInArrow(
        _minhash_batch_fn(num_hashes), schema
    )


def _estimate_prefilter(
    cand: DataFrame, sigs: DataFrame, num_hashes: int, threshold: float
) -> DataFrame:
    """Signature-estimate prefilter shared by the one-shot and incremental
    tiers: E[matching minhash components] = true Jaccard, so candidate
    pairs whose estimate sits more than ``hoeffding_margin(num_hashes)``
    below the threshold are cut before the exact-verification join
    (Hoeffding-bounded miss probability)."""
    sig_a = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m)
    ) / F.lit(num_hashes)
    return (
        cand.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .filter(est >= threshold - hoeffding_margin(num_hashes))
        .select("id_a", "id_b")
    )


def _exact_verify_pairs(cand: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """Exact hashed-shingle Jaccard verification tail shared by both
    tiers: join each candidate side to its shingle array, compute
    intersection-over-union, keep pairs ≥ threshold (6-dp rounded)."""
    verified = (
        cand.join(sh.withColumnRenamed("shingles", "sh_a"), cand.id_a == sh.id)
        .drop("id")
        .join(
            sh.withColumnRenamed("shingles", "sh_b").withColumnRenamed("id", "id2"),
            F.col("id_b") == F.col("id2"),
        )
        .drop("id2")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    return verified.select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def hoeffding_margin(num_hashes: int, miss_prob: float = 1e-6) -> float:
    """Signature-estimate prefilter margin sized so a true pair sitting
    exactly at the threshold is dropped with probability ≤ ``miss_prob``
    (Hoeffding: P[est < s - m] ≤ exp(-2·num_hashes·m²))."""
    return math.sqrt(math.log(1.0 / miss_prob) / (2.0 * num_hashes))


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float,
    num_hashes: int = 64,
    bands: int = 32,
    key_col: str = "doc_id",
    text_col: str = "text",
    scratch_dir: str | None = None,
    spread_input: bool = True,
) -> DataFrame:
    """Near-dup pairs ≥ threshold: LSH banding for candidates, then exact
    word-3-gram Jaccard verification (so output = exact answer set, with
    recall governed by the band/row choice: P[miss | s=0.6, 32 bands of 2]
    ≈ (1-0.36)^32 < 1e-6).

    A prefilter cuts candidate pairs whose signature-estimated Jaccard
    sits more than ``hoeffding_margin(num_hashes)`` below the threshold
    before the exact verify join. The margin is sized for a ≤1e-6 miss
    probability (≈0.33 at 64 hashes), so the output stays the exact answer
    set up to that bound.

    Signatures feed three plan branches; they are materialized once to a
    scratch parquet "signatures table" (the production shape: an explicit
    Iceberg signatures table) instead of ``persist()`` — no executor cache
    blocks outlive the query.
    """
    rows = num_hashes // bands
    scratch = scratch_dir or scratch_table_dir(docs.sparkSession)
    # the shingle-hash kernel + signature pass inherit the source scan's
    # partitioning (both scratch writes serialize on a 1-2 partition scan).
    # ``spread_input=False`` opts out for fixture-scale inputs where the
    # extra task waves cost more than the serial kernel (size-only plan
    # stats cannot see a filter's selectivity, so the caller decides).
    if spread_input:
        docs = spread(docs)
    # ONE shingle-kernel pass over the corpus (r6): the hashed-shingle
    # table is materialized first and signatures derive from the scratch
    # read — the r5 order computed the identical shingle kernel twice
    # (once under the signature pass, once for the verify table).
    sh = materialize(
        with_ngram_hashes(docs, 3, text_col, "shingles").select(
            F.col(key_col).alias("id"), "shingles"
        ),
        scratch_path(scratch, "shingle_hashes"),
    )
    sigs = materialize(
        _signatures_from_shingle_hashes(sh, num_hashes), scratch_path(scratch, "signatures")
    )
    buckets = sigs.select("id", _band_bucket_cols(bands, rows).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    # candidate generation stays a band self-join (r6: a grouped-kernel
    # variant — the simhash treatment — was built and A/B-measured 0.5 s
    # SLOWER here: with no per-pair filter to amortize, collect_list +
    # Arrow overhead exceeds the join's emission cost at ~1.6M candidates)
    cand = (
        buckets.alias("x")
        .join(buckets.alias("y"), ["band", "bucket"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    cand = _estimate_prefilter(cand, sigs, num_hashes, threshold)
    # Exact verification reads the same hashed-shingle scratch table
    # (int64 arrays instead of ~20-byte strings: identical set sizes and
    # intersections up to a ~n²/2^64 collision probability, at a fraction
    # of the verify join's shuffle volume; no persist() — zero cache
    # blocks left behind in a long-lived session).
    return _exact_verify_pairs(cand, sh, threshold)


def _band_bucket_cols(bands: int, rows: int):
    """The exploded (band, bucket) struct stream for a signature column —
    shared between the one-shot LSH path and the persisted index."""
    return F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda i: F.struct(
                i.alias("band"),
                F.xxhash64(
                    F.concat_ws("_", F.slice(F.col("sig"), i * rows + 1, rows)), i
                ).alias("bucket"),
            ),
        )
    )


_MINHASH_INDEX_DIRS = 64  # bucket-hash partition dirs (pruning granularity)


def minhash_index(
    docs: DataFrame,
    index_dir: str,
    num_hashes: int = 64,
    bands: int = 32,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Persist the MinHash dedup index ONCE — the query-many tier
    (completing the signature_index / ivf_index / bm25_index family for
    text near-dup): the production shape where a daily crawl increment
    dedups against the historical corpus without re-signing it.

    - ``meta/`` — (num_hashes, bands) one row. Stored params are
      AUTHORITATIVE at query time (the bm25 modulus rule: a caller-side
      mismatch would silently hash bands differently and miss every
      cross-increment duplicate).
    - ``signatures/`` — (id, sig) for the estimate prefilter.
    - ``buckets/`` — (band, bucket, id), written
      ``partitionBy(_bb = pmod(bucket, 64))`` so a SMALL increment's
      candidate buckets prune parquet partitions at the storage layer
      (the lsh_bucket_index pattern).
    - ``shingles/`` — (id, shingles) hashed-shingle arrays for EXACT
      verification (the index trades storage ~ corpus token count for
      keeping the exact-answer-set contract incrementally).
    """
    rows = num_hashes // bands
    spark = docs.sparkSession
    # ONE corpus text pass: shingle-hash → persist; signatures derive from
    # the persisted shingle table, buckets from the persisted signatures
    sh = materialize(
        with_ngram_hashes(docs, 3, text_col, "shingles").select(
            F.col(key_col).alias("id"), "shingles"
        ),
        f"{index_dir}/shingles",
    )
    sigs = materialize(
        _signatures_from_shingle_hashes(sh, num_hashes), f"{index_dir}/signatures"
    )
    (
        sigs.select("id", _band_bucket_cols(bands, rows).alias("bb"))
        .select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
        .withColumn("_bb", F.pmod(F.col("bucket"), F.lit(_MINHASH_INDEX_DIRS)))
        .write.mode("overwrite")
        .partitionBy("_bb")
        .parquet(f"{index_dir}/buckets")
    )
    # bucket_dirs persisted too (r5 review): the partition-pruning modulus
    # is as load-bearing as num_hashes/bands — a query-side constant that
    # drifted from the build would prune away real bucket directories and
    # silently miss cross-increment duplicates (the bm25 modulus rule)
    spark.range(1).select(
        F.lit(num_hashes).alias("num_hashes"),
        F.lit(bands).alias("bands"),
        F.lit(_MINHASH_INDEX_DIRS).alias("bucket_dirs"),
    ).write.mode("overwrite").parquet(f"{index_dir}/meta")
    return index_dir


def minhash_lsh_pairs_incremental(
    new_docs: DataFrame,
    index_dir: str,
    threshold: float,
    key_col: str = "doc_id",
    text_col: str = "text",
    include_new_new: bool = True,
    scratch_dir: str | None = None,
) -> DataFrame:
    """Near-dup pairs ≥ ``threshold`` INVOLVING the new batch — new-vs-
    indexed-corpus and (with ``include_new_new``) new-vs-new — against a
    ``minhash_index``, without touching the indexed corpus's text: only
    the increment is signed/shingled; the corpus contributes its persisted
    tables. Output matches ``minhash_lsh_pairs`` over the union corpus,
    restricted to pairs with ≥1 new member (same banding, same Hoeffding
    prefilter, same exact verification ⇒ same exact answer set; ids must
    be unique across corpus and increment — the pipeline's xxhash64(url)
    key satisfies this by construction).

    Plan shape at 10^12 indexed docs + 10^6-doc increment: the increment's
    distinct (band,bucket) keys reduce the indexed ``buckets/`` scan to
    the matching ``_bb`` partitions (storage-layer pruning, plan-asserted
    in tests); the candidate join, prefilter join, and verify join are all
    keyed on ids that appear in candidates — never a corpus-wide scan of
    signatures or shingles without the candidate cut. No forced broadcast
    anywhere: a pathological increment degrades to shuffle joins instead
    of OOMing the driver (the signature_rerank policy).
    """
    spark = new_docs.sparkSession
    meta = spark.read.parquet(f"{index_dir}/meta").collect()[0]
    num_hashes, bands = int(meta.num_hashes), int(meta.bands)
    bucket_dirs = int(meta.bucket_dirs)
    rows = num_hashes // bands
    scratch = scratch_dir or scratch_table_dir(spark)

    # one text pass over the increment: shingle-hash → scratch; signatures
    # derive from the stored table (the index-build shape)
    new_sh = materialize(
        with_ngram_hashes(new_docs, 3, text_col, "shingles").select(
            F.col(key_col).alias("id"), "shingles"
        ),
        scratch_path(scratch, "inc_shingles"),
    )
    new_sigs = materialize(
        _signatures_from_shingle_hashes(new_sh, num_hashes),
        scratch_path(scratch, "inc_signatures"),
    )
    new_buckets = materialize(
        new_sigs.select("id", _band_bucket_cols(bands, rows).alias("bb"))
        .select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")),
        scratch_path(scratch, "inc_buckets"),
    )

    # storage-layer pruning: the increment's bucket dirs, driver-side
    # (bounded: ≤ bucket_dirs distinct _bb values by construction; the
    # modulus comes from the index meta, never a module constant)
    bbs = [
        r._bb
        for r in new_buckets.select(
            F.pmod(F.col("bucket"), F.lit(bucket_dirs)).alias("_bb")
        )
        .distinct()
        .collect()
    ]
    idx_buckets = (
        spark.read.parquet(f"{index_dir}/buckets")
        .filter(F.col("_bb").isin(bbs))
        .select("id", "band", "bucket")
    )
    old_new = (
        idx_buckets.alias("x")
        .join(new_buckets.alias("y"), ["band", "bucket"])
        .filter(F.col("x.id") != F.col("y.id"))
        .select(
            F.least("x.id", "y.id").alias("id_a"),
            F.greatest("x.id", "y.id").alias("id_b"),
        )
    )
    cand = old_new
    if include_new_new:
        new_new = (
            new_buckets.alias("x")
            .join(new_buckets.alias("y"), ["band", "bucket"])
            .filter(F.col("x.id") < F.col("y.id"))
            .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        )
        cand = cand.unionByName(new_new)
    cand = cand.distinct()

    # ADVICE r5: when increment ids overlap the index (the same-table
    # `neardup` CLI flow), a naive union holds each overlapping id TWICE
    # and the prefilter/verify joins fan out (measured 16 duplicate rows
    # per distinct pair). Anti-join the index tables against the
    # increment's ids first — the increment's freshly-signed copy wins.
    new_ids = new_sigs.select("id")
    sigs = (
        spark.read.parquet(f"{index_dir}/signatures")
        .join(new_ids, "id", "left_anti")
        .unionByName(new_sigs)
    )
    cand = _estimate_prefilter(cand, sigs, num_hashes, threshold)
    sh = (
        spark.read.parquet(f"{index_dir}/shingles")
        .join(new_ids, "id", "left_anti")
        .unionByName(new_sh)
    )
    return _exact_verify_pairs(cand, sh, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _simhash_batch_fn():
    """numpy bit-majority over JVM-prehashed words, vectorized across the
    WHOLE Arrow batch (r6: the r5 version looped per doc — ~50 µs of
    numpy-call overhead × n_docs dominated the signature stage). The list
    column arrives as one flat child array plus offsets, so each bit's
    counts for every doc in the batch are one ``np.add.reduceat`` over the
    flat word-hash array — 32 passes per half, zero per-doc Python, and
    ~8 B of scratch per word."""
    import pyarrow as pa

    def half_sigs(col: "pa.Array", n_rows: int) -> np.ndarray:
        """32-bit majority signature per row of a list<int64> column."""
        sig = np.zeros(n_rows, dtype=np.int64)
        offsets = C.view(col.offsets).astype(np.int64)
        # slice by the batch's own offsets: .values spans the whole child
        # buffer even for a sliced ListArray, and reduceat's final segment
        # runs to the end of whatever array it is given
        flat = C.view(col.values).astype(np.int64, copy=False)[offsets[0] : offsets[-1]]
        n = np.diff(offsets)
        valid = n > 0
        if col.null_count:
            valid &= C.valid_mask(col)  # NULL text → all-zero sig
        if not valid.any():
            return sig
        starts = offsets[:-1][valid] - offsets[0]
        n_valid = n[valid]
        acc = np.zeros(len(starts), dtype=np.int64)
        bit = np.empty_like(flat)
        for k in range(32):
            # one bit at a time keeps the scratch at ~8 B per word (a
            # (total_words, 32) bit matrix is 256 B per word). reduceat
            # segment i spans [starts[i], starts[i+1]): exactly row i's
            # words (skipped empty/null rows add no flat elements)
            np.right_shift(flat, k, out=bit)
            np.bitwise_and(bit, 1, out=bit)
            acc |= (np.add.reduceat(bit, starts) * 2 > n_valid).astype(np.int64) << k
        sig[valid] = acc
        return sig

    def fn(batches):
        for batch in batches:
            los = half_sigs(batch.column(1), batch.num_rows)
            his = half_sigs(batch.column(2), batch.num_rows)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    C.numbers(los, pa.int64()),
                    C.numbers(his, pa.int64()),
                ],
                names=["id", "sim_lo", "sim_hi"],
            )

    return fn


def simhash_signatures(
    docs: DataFrame, key_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, sim_lo, sim_hi): the 64-bit SimHash split into two unsigned
    32-bit halves (bits 0-31 from the first 8 hex digits of md5(word),
    bits 32-63 from the next 8; each half stored in a bigint).

    Word *hashing* runs JVM-side (``md5``/``substring``/``conv`` inside a
    ``transform`` — same pattern as the MinHash kernel); Python only does
    the numpy bit-majority reduction over the pre-hashed int arrays, one
    vectorized matrix op per doc, never a per-word loop. md5 (not
    xxhash64) keeps the identical arithmetic expressible in ANSI SQL, so
    the whole signature is DuckDB-oracle checkable (queries._SIMHASH_ORACLE).
    A fully-expression version (no Python at all) was 20× slower: 64-wide
    higher-order array expressions are interpreted, not codegen'd.
    """
    norm = F.trim(F.regexp_replace(F.col(text_col), r"\s+", " "))
    words = F.split(norm, " ")
    wlo = F.transform(
        words, lambda w: F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long")
    )
    whi = F.transform(
        words, lambda w: F.conv(F.substring(F.md5(w), 9, 8), 16, 10).cast("long")
    )
    pre = docs.select(F.col(key_col).alias("id"), wlo.alias("wlo"), whi.alias("whi"))
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("sim_lo", T.LongType()),
            T.StructField("sim_hi", T.LongType()),
        ]
    )
    return pre.mapInArrow(_simhash_batch_fn(), schema)


def _simhash_bucket_pair_fn(max_hamming: int, small_max: int = 64, row_chunk: int = 256):
    """Per-bucket pairwise hamming, vectorized in numpy over whole buckets.

    Input batches hold one row per (band, bucket) group: a
    list<struct<id, sim_lo, sim_hi>> of the bucket's members. Small
    buckets (n ≤ ``small_max``) are stacked per exact size so one
    broadcasted XOR+popcount evaluates every bucket of that size at once;
    heavy buckets run a row-chunked kernel over ``row_chunk`` × n blocks,
    so a task's memory is still LINEAR in the bucket size n (the members'
    arrays plus int64 hamming temporaries per chunk — ~10 KB per member at
    the default chunk; a 10^7-member bucket needs ~100 GB). Popcount is a
    16-bit lookup table over the int64 words — exact, same arithmetic as
    the JVM ``bit_count`` it replaces.

    Why Python here at all: the r5 all-JVM band self-join emitted every
    candidate row through the join (measured ~3.7M rows/s/core at sf1.0 —
    482M candidates on a 2-partition probe side took 130+ s); one numpy
    XOR over a bucket's signature array does the same comparisons at
    >100M/s/core and only survivors ever become rows.
    """
    import pyarrow as pa

    def fn(batches):
        lut8 = (
            np.unpackbits(np.arange(256, dtype=np.uint8)[:, None], axis=1)
            .sum(axis=1)
            .astype(np.uint8)
        )
        idx16 = np.arange(65536)
        lut16 = (lut8[idx16 >> 8] + lut8[idx16 & 255]).astype(np.uint8)

        def pop64(x: np.ndarray) -> np.ndarray:
            # sim_lo/sim_hi are 32-bit halves stored in int64, so any XOR
            # is < 2^32: two 16-bit LUT lookups cover it (measured ~2× the
            # 4-lookup uint16-view form)
            return (
                lut16[x & 0xFFFF].astype(np.int64)
                + lut16[(x >> 16) & 0xFFFF]
            )

        for batch in batches:
            members = batch.column(0)
            offsets = C.view(members.offsets).astype(np.int64)
            vals = members.values
            ids = C.view(vals.field("id"))
            lo = C.view(vals.field("sim_lo"))
            hi = C.view(vals.field("sim_hi"))
            sizes = np.diff(offsets)
            starts = offsets[:-1]
            out_a: list[np.ndarray] = []
            out_b: list[np.ndarray] = []
            out_h: list[np.ndarray] = []

            small = (sizes >= 2) & (sizes <= small_max)
            for s in np.unique(sizes[small]):
                st = starts[small & (sizes == s)]
                gather = st[:, None] + np.arange(s)[None, :]  # (k, s)
                l, h, d = lo[gather], hi[gather], ids[gather]
                iu, ju = np.triu_indices(int(s), k=1)
                hm = pop64(l[:, iu] ^ l[:, ju]) + pop64(h[:, iu] ^ h[:, ju])
                ki, pi = np.nonzero(hm <= max_hamming)
                if len(ki):
                    out_a.append(d[ki, iu[pi]])
                    out_b.append(d[ki, ju[pi]])
                    out_h.append(hm[ki, pi])

            for b in np.nonzero(sizes > small_max)[0]:
                sl = slice(starts[b], starts[b] + sizes[b])
                l, h, d = lo[sl], hi[sl], ids[sl]
                n = int(sizes[b])
                for r0 in range(0, n, row_chunk):
                    r1 = min(n, r0 + row_chunk)
                    hm = pop64(l[r0:r1, None] ^ l[None, :]) + pop64(
                        h[r0:r1, None] ^ h[None, :]
                    )
                    ri, ci = np.nonzero(hm <= max_hamming)
                    keep = ci > ri + r0  # each unordered pair once, by position
                    if keep.any():
                        ri, ci = ri[keep], ci[keep]
                        out_a.append(d[ri + r0])
                        out_b.append(d[ci])
                        out_h.append(hm[ri, ci])

            if out_a:
                ia = np.concatenate(out_a)
                ib = np.concatenate(out_b)
                yield pa.RecordBatch.from_arrays(
                    [
                        C.numbers(np.minimum(ia, ib), pa.int64()),
                        C.numbers(np.maximum(ia, ib), pa.int64()),
                        C.numbers(np.concatenate(out_h), pa.int32()),
                    ],
                    names=["id_a", "id_b", "hamming"],
                )

    return fn


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 6,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pairs with simhash hamming distance ≤ max_hamming.

    Blocking: by pigeonhole, a pair within hamming 6 has ≥2 of the 8 8-bit
    bands clean — so candidates are keyed on PAIRS of bands (28 composite
    16-bit keys), recall 1, with far fewer and far flatter collisions than
    single bands (worst single-band bucket held 26% of the fixture corpus).

    Candidate *evaluation* (r6 rewrite): buckets are grouped once
    (`groupBy(band, bucket).collect_list`) and each bucket's pairwise
    hamming matrix is evaluated by a vectorized numpy kernel
    (``_simhash_bucket_pair_fn``) instead of a band self-join. The r5
    self-join materialized every candidate pair as a joined row (482M
    rows at sf1.0, emitted at ~3.7M rows/s/core on however many
    partitions the tiny signature scan produced — 2); the kernel does
    the identical XOR+popcount comparisons inside numpy at >100M/s/core
    and emits only survivors. An explicit keyed ``repartition`` pins the
    kernel's parallelism at ``partition_width`` (AQE would otherwise
    coalesce the ~100 MB shuffle, serializing the quadratic work).
    ``distinct`` stays: a pair is found once per clean band-pair.

    Scale bound (honest): one bucket is evaluated by one task, whose
    memory grows linearly with the bucket's member count (see
    ``_simhash_bucket_pair_fn``). The r5 join had the same practical
    bound in expansion form (n² joined rows through one task); at web
    scale both want a document-frequency-style cut on degenerate buckets
    first. Signatures flow straight into the bucket shuffle (single
    consumer), so nothing is materialized.
    """
    import itertools

    n_parts = partition_width(docs.sparkSession)
    # The signature pass + 28-way band explode + bucket-shuffle write all
    # run on the SOURCE's partitioning (measured: 23s → 10s at sf1.0 when
    # the corpus scanned as 2 partitions).
    docs = spread(docs)
    sigs = simhash_signatures(docs, key_col, text_col)

    def band_bits(i: int):
        # bands 0-3 slice sim_lo, bands 4-7 slice sim_hi (8 bits each)
        return F.shiftright(F.col("sim_lo" if i < 4 else "sim_hi"), (i % 4) * 8).bitwiseAND(
            F.lit(255)
        )

    composite = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(k).alias("band"),
                    (band_bits(i) * 256 + band_bits(j)).alias("bucket"),
                )
                for k, (i, j) in enumerate(itertools.combinations(range(8), 2))
            ]
        )
    )
    buckets = sigs.select("id", "sim_lo", "sim_hi", composite.alias("bb")).select(
        "id", "sim_lo", "sim_hi", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    grouped = (
        buckets.repartition(n_parts, "band", "bucket")
        .groupBy("band", "bucket")
        .agg(F.collect_list(F.struct("id", "sim_lo", "sim_hi")).alias("members"))
        .filter(F.size("members") >= 2)
        .select("members")
    )
    schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("hamming", T.IntegerType()),
        ]
    )
    return grouped.mapInArrow(_simhash_bucket_pair_fn(max_hamming), schema).distinct()


# ---------------------------------------------------------------------------
# benchmark decontamination (GPT-3 Appendix C / FineWeb-style)
# ---------------------------------------------------------------------------

def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    min_hits: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "bench_id",
) -> DataFrame:
    """Flag training documents sharing ≥ ``min_hits`` distinct word-n-grams
    with any benchmark/eval document (the GPT-3 Appendix-C 13-gram rule,
    the same shape FineWeb-class pipelines use for eval decontamination).

    Plan shape at 100 TB: the benchmark side (eval suites — thousands of
    rows, not billions) is exploded to DISTINCT gram hashes and BROADCAST;
    the corpus side explodes its grams once and hash-joins map-side, so
    non-matching grams (the overwhelming majority) die without shuffling.
    Only matching (doc, bench, gram) rows reach the per-pair aggregate.
    Never an all-pairs comparison; never a driver-side set.

    Returns one row per contaminated (doc, benchmark-doc) pair:
    ``(id_col, bench_id_col, hits)`` — callers anti-join the corpus against
    the distinct ids to drop, or keep the pairs for audit.
    """
    # explode_outer on both sides: see jaccard_pairs_exact — explode of the
    # named gram column triggers InferFiltersFromGenerate + pushdown
    # substitution, evaluating the 13-gram kernel TWICE (the second time
    # with the word split re-expanded per element_at: measured 26 s → 0.55 s
    # on the sf0.1 corpus, r4). Gram arrays are never empty (short docs
    # produce one whole-text gram), so outer == inner here.
    d = with_ngram_hashes(spread(docs), n, text_col).select(
        F.col(id_col), F.explode_outer("ngram_hashes").alias("_g")
    )
    b = (
        with_ngram_hashes(benchmark, n, text_col)
        .select(F.col(bench_id_col), F.explode_outer("ngram_hashes").alias("_g"))
        .distinct()
    )
    return (
        d.join(F.broadcast(b), "_g")
        .groupBy(id_col, bench_id_col)
        .agg(F.count_distinct("_g").cast("bigint").alias("hits"))
        .filter(F.col("hits") >= min_hits)
    )


# ---------------------------------------------------------------------------
# fixture augmentation: guaranteed near-dups (shared with the oracle SQL)
# ---------------------------------------------------------------------------

def augmented_docs(docs: DataFrame, id_offset: int = 100000) -> DataFrame:
    """documents ∪ copies with the last word dropped (doc_id + offset) —
    deterministic true-positive near-dups, expressible in ANSI SQL so the
    DuckDB oracle builds the identical input."""
    pert = docs.select(
        (F.col("doc_id") + id_offset).alias("doc_id"),
        F.regexp_replace(F.col("text"), r"\s+\S+$", "").alias("text"),
    )
    return docs.select("doc_id", "text").unionAll(pert)


# ---------------------------------------------------------------------------
# ExactSubstr: corpus-wide duplicated-span removal (Lee et al. 2022)
# ---------------------------------------------------------------------------

def exact_substring_dedup(
    docs: DataFrame,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    scratch_dir: str | None = None,
) -> DataFrame:
    """ExactSubstr deduplication (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better", §4.1), word-token variant: any
    span of ≥ ``k`` words that occurs more than once ANYWHERE in the
    corpus (across documents or repeated inside one) is removed from
    every occurrence except one deterministic winner. This is the span
    granularity between whole-document exact dedup and line dedup — it
    catches quoted passages, syndicated paragraphs, and templated spans
    that whole-doc and line rules both miss. The reference has no analog
    (its dedup surface is whole-file get-or-create,
    simple_client.py:520-536); this is the pipeline-scale generalization.

    Semantics (matched by the pure-Python ground truth in
    tests/test_exact_substring.py):
    - tokenization = ``dsir.words_expr`` (ASCII ``\\s+``, empties dropped)
      — the shared split convention, so token positions agree with the
      BPE/DSIR operators;
    - a word position is dropped iff some k-window covering it has ≥2
      occurrence sites corpus-wide and this site is not that window's
      global winner ``min(struct(id, start))``;
    - documents that lose NO words return their original text
      byte-for-byte; documents that lose a span are reassembled as the
      surviving words space-joined (original whitespace inside a
      modified doc is not preserved — reassembly happens at the shared
      word granularity);
    - documents shorter than ``k`` words are never touched (run
      ``exact_dedup`` for whole-short-doc copies); documents with
      empty/NULL text come back as ("", 0, 0) rows, never dropped.

    Returns one row per input document:
    ``(id_col, text, n_words_kept, n_words_dropped)``.

    Plan shape at 100 TB (all stages linear, no self-join on the corpus):
    1. The word split materializes ONCE to scratch parquet before the
       plan branches (occurrences / tokens / totals all read it — the
       materialize-before-branching rule from the corpus pipeline and
       semdedup); the original text is NOT copied into scratch — the
       final anchor re-reads only (id, text) from the source, a pruned
       columnar scan with no kernel on it.
    2. k-window hashing is JVM-side ``xxhash64(slice(words, i, k))`` —
       O(n·k) hash work per doc, embarrassingly parallel inside
       whole-stage codegen. (A mod-2^61 rolling hash would make this
       O(n), but needs 128-bit mulmod — not expressible JVM-side without
       a UDF; measured acceptable at k=50, see BENCH.md.) TWO
       independent slice hashes key each window: a single 64-bit key
       collides ~10^4 times at 10^12-scale window counts and every
       collision falsely deletes k words; 128 bits pushes that to ~1e-7
       expected corpus-wide.
    3. Occurrence count + global winner per window key via
       ``groupBy(h1,h2)`` (map-side partial agg — count and min both
       combine, so hot keys collapse BEFORE the shuffle), then an inner
       join of the occurrence stream against the ≥2-count keys only.
       NOT a window function over partitionBy(h1,h2): a boilerplate
       span repeated 10^8 times corpus-wide would funnel every
       occurrence into one sorting WindowExec task (a straggler AQE
       cannot split), while AQE's skew-join handling CAN split the
       equivalent hot join partition. The occurrence stream itself is
       materialized to scratch (r6), so the window kernel evaluates
       exactly ONCE regardless of how many branches read it.
    4. Non-winner duplicate starts shuffle once on the doc key; maximal
       covered intervals come from the classic run-split (new run when
       start gap > k — fixed-length-k intervals merge iff gap ≤ k), so
       exploded covered positions are exact and disjoint: never more
       than one row per covered word, no ``distinct`` rescue shuffle.
    5. Tokens anti-join covered positions on (id, pos) and reassemble
       per doc (``array_sort(collect_list(struct))`` — per-group memory
       is one document, the line-dedup bound).
    """
    from pyspark.sql import Window

    from mistral_ocr_spark.operators.dsir import words_expr

    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")

    scratch = scratch_dir or scratch_table_dir(docs.sparkSession)
    # word split + the O(n·k) window-hash kernel downstream inherit the
    # source scan's partitioning — spread before the scratch write
    docs = spread(docs)
    wdf = materialize(
        docs.select(F.col(id_col), words_expr(F.col(text_col)).alias("_ws")),
        scratch_path(scratch, "exsub_words"),
    )

    # -- 1. window occurrences --------------------------------------------
    w = F.col("_ws")
    wins = F.when(
        F.size(w) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (k - 1)),
            lambda i: F.struct(
                i.alias("start"),
                F.xxhash64(F.slice(w, i, k)).alias("h1"),
                F.xxhash64(F.lit(k), F.slice(w, i, k)).alias("h2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<start:int,h1:bigint,h2:bigint>>"))
    # explode_outer: plain explode of a computed array re-evaluates the
    # whole O(n·k) kernel inside an inferred size(...)>0 filter (the r4
    # InferFiltersFromGenerate trap)
    occ = (
        wdf.select(F.col(id_col), F.explode_outer(wins).alias("_w"))
        .filter(F.col("_w").isNotNull())
        .select(id_col, "_w.start", "_w.h1", "_w.h2")
    )
    # materialize the occurrence stream once: it feeds BOTH the key
    # aggregate and the join probe below, and re-evaluating the O(n·k)
    # slice-hash kernel per branch measured 4.4s vs ~2s for write+reads
    # at sf1.0 (r6) — compact (id, start, h1, h2) rows, a fraction of the
    # kernel's cost to persist
    occ = materialize(occ, scratch_path(scratch, "exsub_occ"))

    # -- 2. count + winner: map-side-combined agg + skew-splittable join --
    site = F.struct(F.col(id_col), F.col("start"))
    dup_keys = (
        occ.groupBy("h1", "h2")
        .agg(F.count(F.lit(1)).alias("_cnt"), F.min(site).alias("_win"))
        .filter(F.col("_cnt") >= 2)
    )
    # inner join: the non-duplicated majority of occurrences drops here;
    # no broadcast hint — AQE decides (and can split skewed partitions)
    nonwin = (
        occ.join(dup_keys, ["h1", "h2"])
        .filter(site != F.col("_win"))
        .select(id_col, "start")
    )

    # -- 3. maximal covered intervals per doc -----------------------------
    dw = Window.partitionBy(id_col).orderBy("start")
    run_sum = Window.partitionBy(id_col).orderBy("start").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )  # explicit ROWS frame (RANGE double-counts peers — prep.py lesson;
    # starts are unique per doc here, but never rely on that implicitly)
    covered = (
        nonwin.withColumn(
            "_new",
            F.when(
                F.col("start") - F.lag("start").over(dw) > k, F.lit(1)
            ).otherwise(F.lit(0)),
        )
        .withColumn("_run", F.sum("_new").over(run_sum))
        .groupBy(id_col, "_run")
        .agg(
            F.min("start").alias("_lo"),
            (F.max("start") + F.lit(k - 1)).alias("_hi"),
        )
        .select(id_col, F.explode(F.sequence("_lo", "_hi")).alias("tpos"))
    )

    # -- 4. anti-join tokens, reassemble, anchor on every input doc -------
    # posexplode_outer + null filter (not plain posexplode): the
    # InferFiltersFromGenerate clone again. Reassembly cannot anchor the
    # output by itself — a doc whose EVERY token is covered has zero kept
    # rows (caught by the small-vocab fuzz test) — so the final row set
    # left-joins from the input ids, the line-dedup rule.
    toks = (
        wdf.select(F.col(id_col), F.posexplode_outer("_ws").alias("_p0", "_word"))
        .filter(F.col("_word").isNotNull())
        .select(id_col, (F.col("_p0") + 1).alias("tpos"), "_word")
    )
    kept = toks.join(covered, [id_col, "tpos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tpos", F.col("_word").alias("w")))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("_text"),
        F.count(F.lit(1)).cast("bigint").alias("_kept"),
    )
    totals = wdf.select(
        F.col(id_col), F.coalesce(F.size("_ws"), F.lit(0)).alias("_n")
    )
    kept_n = F.coalesce("_kept", F.lit(0))
    dropped = F.col("_n") - kept_n
    return (
        docs.select(F.col(id_col), F.col(text_col).alias("_orig"))
        .join(totals, id_col, "left")
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            # untouched docs return their ORIGINAL text byte-for-byte
            # (space-joined reassembly would silently normalize every
            # doc's whitespace — review catch); only modified docs get
            # the reassembled form
            F.when(dropped > 0, F.coalesce("_text", F.lit("")))
            .otherwise(F.coalesce("_orig", F.lit("")))
            .alias("text"),
            kept_n.cast("bigint").alias("n_words_kept"),
            dropped.cast("bigint").alias("n_words_dropped"),
        )
    )
