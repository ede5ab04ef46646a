"""Distributed Bloom filter + membership-based incremental exact dedup.

The scale story: deduplicating a daily crawl INCREMENT against a 10^12-row
corpus with an anti-join shuffles (or at best semi-join-scans) the corpus
per increment. A Bloom filter inverts the cost: ONE corpus scan builds a
fixed-size bitmap (``-n·ln(p)/ln2²`` bits — 1.2 GB for 10^9 keys at 1% FP),
which is then broadcast and probed map-side, so the increment never
shuffles and the corpus is never re-read. This is the runtime-filter /
"semi-join reduction" pattern Spark applies internally to shuffle joins
(`InjectRuntimeFilter` uses the same `BloomFilterAggregate` machinery);
that aggregate is not registered in the public function registry, so the
bitmap build here is from scratch:

1. key hashing stays JVM-side (two independent ``xxhash64`` seeds);
2. each partition folds its hashes into ONE ``n_bits/8``-byte numpy bitmap
   inside a single ``mapInArrow`` pass (bounded memory per task — the
   bitmap, never the keys);
3. partition bitmaps are OR-merged in a tree: an optional intermediate
   ``repartition(G)`` OR stage bounds what the final single-task OR (and
   the driver) ever sees to ``G`` bitmaps, so a 100k-partition corpus
   does not funnel 100k blobs into one task.

Bit positions use Kirsch–Mitzenmacher double hashing
(``pos_i = h1 + i·h2 mod n_bits``, "Less Hashing, Same Performance",
ESA 2006): two 64-bit hashes simulate k independent hash functions with
no asymptotic FP-rate loss.

Guarantees (and the dedup contract built on them):
- **No false negatives**: a key present in the corpus always probes True,
  so a row the filter calls "new" is DEFINITELY new — Bloom-only mode
  (``exact_verify=False``) never emits a duplicate, it only *over-drops*
  at the configured false-positive rate.
- With ``exact_verify=True`` the might-contain candidates (a ~fpp-sized
  sliver of the increment plus the true duplicates) are re-checked with a
  real anti-join against the corpus, restoring exact
  ``increment ANTI JOIN corpus`` semantics — the anti-join's probe side
  shrinks from the whole increment to the candidate sliver.
- NULL keys follow SQL anti-join semantics: ``NULL = x`` is never true, so
  NULL-keyed corpus rows are not inserted and NULL-keyed increment rows
  are always "new" (matches ``LEFT ANTI JOIN``, tested).

Reference parity: stevegsax/mistral-ocr skips whole already-committed
batches by chunk id (simple_client.py — resume path); this operator is the
row-level, crawl-scale generalization.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mistral_ocr_spark import arrowcols as C

_H1_SEED = "bloom-h1"  # xxhash64 second-arg salts: independent h1/h2 streams
_H2_SEED = "bloom-h2"
_BITMAP_SCHEMA = "bitmap binary"  # the fold kernels' one-row output


def bloom_sizing(expected_items: int, fpp: float) -> tuple[int, int]:
    """Textbook sizing: n_bits = ceil(-n·ln p / ln2²), n_hashes =
    round(n_bits/n · ln2), both clamped to sane minimums. n_bits is
    rounded up to a multiple of 8 so the bitmap is whole bytes."""
    if expected_items <= 0:
        raise ValueError(f"expected_items must be positive, got {expected_items}")
    if not (0.0 < fpp < 1.0):
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    n_bits = math.ceil(-expected_items * math.log(fpp) / (math.log(2) ** 2))
    n_bits = max(64, (n_bits + 7) // 8 * 8)
    n_hashes = max(1, round(n_bits / expected_items * math.log(2)))
    return n_bits, n_hashes


@dataclass(frozen=True)
class BloomFilter:
    """An immutable built filter. ``bitmap`` is ``n_bits/8`` bytes,
    little-endian bit order within each byte (bit j of byte i = position
    8·i + j). Merging two filters with identical (n_bits, n_hashes) is a
    byte-wise OR — used by the build tree and valid for callers too."""

    bitmap: bytes
    n_bits: int
    n_hashes: int


def _hash_cols(col: str) -> list:
    """Two independent JVM-side 64-bit hashes of the key column. Never
    NULL-valued (xxhash64 of a NULL input collapses to the seed constant),
    so callers handle NULL keys separately (build filters them out, probe
    masks them via ``_bknull``) so all NULLs don't alias one key."""
    c = F.col(col)
    return [
        F.xxhash64(c, F.lit(_H1_SEED)).alias("_bh1"),
        F.xxhash64(c, F.lit(_H2_SEED)).alias("_bh2"),
    ]


def _bitmap_fold_fn(n_bits: int, n_hashes: int, h1_col: str, h2_col: str):
    """mapInArrow kernel: fold a partition's (h1, h2) rows into one
    bitmap row. Memory = the bitmap + one Arrow batch, never the keys."""

    def fn(batches):
        bm = np.zeros(n_bits // 8, dtype=np.uint8)
        touched = False
        for batch in batches:
            touched = True
            if batch.num_rows == 0:
                continue
            h1 = C.view(batch.column(h1_col)).view(np.uint64)
            h2 = C.view(batch.column(h2_col)).view(np.uint64)
            # all k positions for the batch at once; uint64 wrap-around is
            # deterministic and identical on the probe side, so
            # (h1 + i*h2) mod n_bits is consistent between build and probe
            i = np.arange(n_hashes, dtype=np.uint64)[:, None]
            pos = (h1[None, :] + i * h2[None, :]) % np.uint64(n_bits)
            # scatter-OR without ufunc.at (element-wise scalar loop,
            # 10-100x slower than buffered kernels — review finding):
            # after unique(), every (byte, bit) pair appears once, so the
            # per-byte OR equals the per-byte SUM and bincount computes it
            # in one vectorized pass (max sum per byte = 255, exact in the
            # float64 weights)
            upos = np.unique(pos)
            bits = (np.uint8(1) << (upos & np.uint64(7)).astype(np.uint8))
            bm |= np.bincount(
                (upos >> np.uint64(3)).astype(np.int64),
                weights=bits,
                minlength=n_bits // 8,
            ).astype(np.uint8)
        if touched:
            yield C.batch(_BITMAP_SCHEMA, [[bm.tobytes()]])

    return fn


def _or_fold_fn(n_bytes: int):
    """mapInArrow kernel: OR a partition's bitmap rows into one."""

    def fn(batches):
        acc = np.zeros(n_bytes, dtype=np.uint8)
        touched = False
        for batch in batches:
            for blob in batch.column(0).to_pylist():
                acc |= np.frombuffer(blob, dtype=np.uint8)
                touched = True
        if touched:
            yield C.batch(_BITMAP_SCHEMA, [[acc.tobytes()]])

    return fn


def build_bloom(
    df: DataFrame,
    key_col: str,
    *,
    expected_items: int,
    fpp: float = 0.01,
    merge_groups: int = 0,
) -> BloomFilter:
    """ONE scan of ``df`` → a BloomFilter over ``key_col``.

    ``merge_groups`` > 0 inserts an intermediate OR stage over that many
    groups before the final single-task OR — at cluster scale set it to
    ~sqrt(input partitions) so no single task (or the driver) ever holds
    more than max(G, P/G) bitmaps. 0 (default) skips straight to the
    final OR, which is right when P is small (tests, local mode)."""
    n_bits, n_hashes = bloom_sizing(expected_items, fpp)
    per_part = (
        df.filter(F.col(key_col).isNotNull())  # NULL ∉ filter (module contract)
        .select(*_hash_cols(key_col))
        .mapInArrow(_bitmap_fold_fn(n_bits, n_hashes, "_bh1", "_bh2"), _BITMAP_SCHEMA)
    )
    if merge_groups > 0:
        per_part = per_part.repartition(merge_groups).mapInArrow(
            _or_fold_fn(n_bits // 8), _BITMAP_SCHEMA
        )
    final = per_part.repartition(1).mapInArrow(_or_fold_fn(n_bits // 8), _BITMAP_SCHEMA)
    rows = final.collect()
    bitmap = rows[0].bitmap if rows else bytes(n_bits // 8)
    return BloomFilter(bitmap=bytes(bitmap), n_bits=n_bits, n_hashes=n_hashes)


def save_bloom(spark, bloom: BloomFilter, path: str) -> None:
    """Persist a built filter (one-row parquet: bitmap + params) so a
    corpus's membership filter is built once and reused across jobs —
    the index-once tier of the signature/IVF/BM25/minhash index family."""
    spark.createDataFrame(
        [(bloom.bitmap, bloom.n_bits, bloom.n_hashes)],
        "bitmap binary, n_bits long, n_hashes int",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_bloom(spark, path: str) -> BloomFilter:
    """Inverse of ``save_bloom``. The stored params are AUTHORITATIVE
    (the bm25 modulus rule): a caller-side n_bits/n_hashes mismatch would
    silently probe the wrong bit positions."""
    row = spark.read.parquet(path).collect()[0]
    return BloomFilter(
        bitmap=bytes(row.bitmap), n_bits=int(row.n_bits), n_hashes=int(row.n_hashes)
    )


def probe_might_contain(
    df: DataFrame,
    bloom: BloomFilter,
    key_col: str,
    *,
    flag_col: str = "might_contain",
) -> DataFrame:
    """``df`` + a boolean ``flag_col``: True iff the filter MIGHT contain
    the row's key (NULL keys → False, see module contract). The bitmap
    rides in the kernel's closure: pyspark serializes the function once
    per JOB and ships oversized commands through an internally-managed
    broadcast that the ContextCleaner releases when the plan is dropped —
    unlike an explicit ``sc.broadcast``, which this function cannot
    unpersist (it returns a lazy DataFrame) and which would accumulate a
    bitmap-sized blob per call in a long-lived session (review finding).
    The probe itself is a vectorized numpy gather per Arrow batch."""
    reserved = {"_bknull", "_bh1", "_bh2", flag_col}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"probe_might_contain: input columns collide with helper/flag "
            f"names {sorted(clash)}; rename them or pass a different flag_col"
        )
    # NULL-key rows are masked by their own flag so the flag is False for
    # them regardless of the seed constant's bits their hashes carry
    # (NULL ∉ filter, module contract); a byte, so the kernel reads it as
    # a numpy view
    hashed = df.select(
        "*",
        F.col(key_col).isNull().cast("byte").alias("_bknull"),
        *_hash_cols(key_col),
    )
    out_schema = hashed.drop("_bknull", "_bh1", "_bh2").schema.add(
        flag_col, "boolean", False
    )
    return hashed.mapInArrow(_probe_fn(bloom, out_schema), out_schema)


def _probe_fn(bloom: BloomFilter, out_schema):
    """mapInArrow kernel of ``probe_might_contain``: its input batch, whose
    own columns lead and ``_bknull/_bh1/_bh2`` follow, becomes those own
    columns plus the flag (the last field of ``out_schema``)."""
    bitmap_bytes, n_bits, n_hashes = bloom.bitmap, bloom.n_bits, bloom.n_hashes
    n_out = len(out_schema) - 1

    def fn(batches):
        bm = np.frombuffer(bitmap_bytes, dtype=np.uint8)
        for batch in batches:
            flags = np.zeros(batch.num_rows, dtype=bool)
            valid = C.view(batch.column("_bknull")) == 0
            if valid.any():
                h1 = C.view(batch.column("_bh1")).view(np.uint64)[valid]
                h2 = C.view(batch.column("_bh2")).view(np.uint64)[valid]
                hit = np.ones(len(h1), dtype=bool)
                for i in range(n_hashes):
                    pos = (h1 + np.uint64(i) * h2) % np.uint64(n_bits)
                    bit = (bm[pos >> np.uint64(3)] >> (pos & np.uint64(7)).astype(np.uint8)) & np.uint8(1)
                    hit &= bit.astype(bool)
                    if not hit.any():
                        break
                flags[valid] = hit
            yield C.batch(out_schema, batch.columns[:n_out] + [flags])

    return fn


def bloom_dedup_increment(
    corpus: DataFrame,
    increment: DataFrame,
    key_col: str,
    *,
    expected_items: int,
    fpp: float = 0.01,
    exact_verify: bool = True,
    merge_groups: int = 0,
    scratch_dir: str | None = None,
    prebuilt: BloomFilter | None = None,
) -> DataFrame:
    """Rows of ``increment`` whose ``key_col`` is NOT in ``corpus``.

    - ``exact_verify=True`` (default): exactly equals
      ``increment LEFT ANTI JOIN corpus USING (key_col)`` — the Bloom
      pass splits the increment map-side into definitely-new rows (no
      false negatives ⇒ they skip the join entirely) and a ~fpp-sized
      candidate sliver that alone pays the anti-join. The corpus side of
      that join is semi-reduced the usual Catalyst way; at 10^12 rows the
      win is that ~(1-dup_rate-fpp) of the increment never reaches a
      shuffle.
    - ``exact_verify=False``: zero joins, zero shuffles — the corpus is
      read once (filter build), the increment once (probe). May FALSELY
      DROP ~fpp of genuinely-new rows; never emits a duplicate. The right
      mode when the increment is huge and a small recall loss is cheaper
      than the join.
    """
    # the Bloom guarantee is BINARY xxhash64 equality, but a join coerces
    # differing key types to a common one ('5' matches 5L) — a coercible
    # mismatch would route true duplicates into definite_new (their hashes
    # differ) and silently break the anti-join equality, so refuse it
    ct = corpus.schema[key_col].dataType
    it = increment.schema[key_col].dataType
    if ct != it:
        raise ValueError(
            f"bloom_dedup_increment: key dtype mismatch — corpus {ct} vs "
            f"increment {it}; cast one side so hash and join equality agree"
        )
    # ``prebuilt`` (e.g. via load_bloom) skips the corpus scan entirely —
    # the filter-once/probe-many tier; the caller owns the guarantee that
    # it was built over THIS corpus's key column
    bloom = prebuilt or build_bloom(
        corpus.select(key_col), key_col,
        expected_items=expected_items, fpp=fpp, merge_groups=merge_groups,
    )
    flagged = probe_might_contain(increment, bloom, key_col, flag_col="_mc")
    if not exact_verify:
        # single-branch plan: the one probe pass feeds the one filter
        return flagged.filter(~F.col("_mc")).drop("_mc")
    # exact mode branches the probe output twice (new-rows filter + the
    # candidate verify join); materialize it once so a nondeterministic
    # increment source can't flag a row differently per branch (losing or
    # duplicating it) and the probe kernel runs once, not per branch —
    # the corpus.py join-hub rule
    from mistral_ocr_spark.scratch import materialize, scratch_path, scratch_table_dir

    scratch = scratch_dir or scratch_table_dir(increment.sparkSession)
    flagged = materialize(flagged, scratch_path(scratch, "bloom_flagged"))
    definite_new = flagged.filter(~F.col("_mc")).drop("_mc")
    candidates = flagged.filter(F.col("_mc")).drop("_mc")
    fp_survivors = candidates.join(corpus.select(key_col), on=key_col, how="left_anti")
    # column order differs after join-on-key reorders key_col first
    return definite_new.unionByName(fp_survivors.select(*definite_new.columns))
