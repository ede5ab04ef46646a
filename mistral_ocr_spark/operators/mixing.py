"""Corpus mixing / budgeted selection — the knobs between scoring and
training-set assembly.

- ``balance_to_target``: resample a corpus so stratum shares (language,
  domain, source) hit a target distribution — the largest corpus
  satisfying the target exactly in expectation, with deterministic
  hash membership (DoReMi-style domain reweighting applied as data
  selection rather than loss weighting).
- ``select_until_budget``: greedy top-score selection under a global
  cost budget (token budget, byte budget) — "take the best documents
  until the budget is spent", the standard assembly step after quality/
  DSIR scoring. Runs the global running sum as a distributed prefix sum
  (the ``pack_sequences`` machinery), never a single-partition window.

Reference parity note: stevegsax/mistral-ocr has no corpus-assembly
surface; this is training-data-pipeline breadth over the same tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mistral_ocr_spark.operators.sampling import stratified_sample


def balance_to_target(
    df: DataFrame,
    stratum_col: str,
    target: dict[str, float],
    key_col: str,
    salt: str = "mix-v1",
    hash: str = "xxhash64",
    stats: dict | None = None,
) -> DataFrame:
    """Keep the LARGEST subcorpus whose stratum proportions match
    ``target`` (weights normalized to sum 1): the binding stratum — the
    one whose corpus share falls shortest of its target share — is kept
    in full, every other stratum is deterministically downsampled to
    match. Strata absent from ``target`` are dropped; target strata
    absent from the corpus raise (an empty result would silently satisfy
    any target). Membership is ``stratified_sample``'s hash rule: stable
    across runs and parallelism, exact in expectation per stratum.

    One map-side-combined count aggregate (strata are driver-bounded by
    assumption — languages/sources/domains, not urls), then a pure
    map-side filter; the only shuffle is the count. Pass ``stats`` to
    receive {stratum: (corpus_count, keep_fraction)} plus the implied
    total ``_total_expected``."""
    tot_w = sum(target.values())
    if not target or tot_w <= 0:
        raise ValueError("target must contain positive weights")
    neg = {s: w for s, w in target.items() if w < 0}
    if neg:
        # a sign typo would silently DROP the stratum (like an untargeted
        # one) while inflating every other share — fail loudly instead
        raise ValueError(f"negative target weights: {neg}")
    norm = {s: w / tot_w for s, w in target.items()}
    counts = {
        r["_s"]: r["_c"]
        for r in df.groupBy(F.col(stratum_col).alias("_s"))
        .agg(F.count(F.lit(1)).alias("_c"))
        .collect()
    }
    missing = [s for s, w in norm.items() if w > 0 and counts.get(s, 0) == 0]
    if missing:
        raise ValueError(f"target strata absent from corpus: {sorted(missing)}")
    # largest T with w_s * T <= count_s for every target stratum
    t_max = min(counts[s] / w for s, w in norm.items() if w > 0)
    fracs = {s: (w * t_max) / counts[s] for s, w in norm.items() if w > 0}
    if stats is not None:
        stats.update({s: (counts[s], fracs[s]) for s in fracs})
        stats["_total_expected"] = t_max
    return stratified_sample(
        df, key_col, fracs, stratum_col=stratum_col, salt=salt, hash=hash
    )


def shuffle_shards(
    df: DataFrame,
    n_shards: int,
    key_col: str = "doc_id",
    salt: str = "shard-v1",
) -> DataFrame:
    """Deterministic global shuffle + shard assignment — the last
    assembly step before a pretraining dataloader: adds ``shard``
    (``int`` in [0, n_shards)) and ``sort_key`` (the shuffle order
    within the shard). ``(shard, sort_key, key)`` orders the corpus as a
    pseudorandom permutation that is stable across runs, parallelism,
    row additions to OTHER shards, and engines — the properties
    ``df.orderBy(rand())`` has none of.

    The hash is the shared portable rule (``sampling.md5_prefix_long``):
    the first 15 hex digits of ``md5(key || '-' || salt)`` as a 60-bit
    integer; ``shard = h % n_shards``, ``sort_key = h``. Any engine can
    replay membership and order from the same string ops. NULL keys hash
    under the ``''`` pseudo-key (all land in one deterministic shard —
    never a NULL shard that a dataloader streaming ``shard=0..n-1``
    would silently skip; the ``host_cap_sample`` NULL rule). Pure
    map-side expressions — zero shuffle; the shuffle happens once, in
    ``write_shards``."""
    from mistral_ocr_spark.operators.sampling import md5_prefix_long

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    key = F.coalesce(F.col(key_col).cast("string"), F.lit(""))
    h = md5_prefix_long(key, salt, 15)
    return df.withColumn("sort_key", h).withColumn(
        "shard", (F.col("sort_key") % n_shards).cast("int")
    )


def write_shards(
    sharded: DataFrame,
    path: str,
    n_shards: int,
    key_col: str = "doc_id",
) -> None:
    """Write a ``shuffle_shards`` result as one ordered parquet file per
    shard under ``path/shard=K/``. All rows of a shard hash to ONE task
    (``repartition(n_shards, shard)`` — the explicit count matters: the
    bare column form caps parallelism at ``spark.sql.shuffle.partitions``
    and would pile ~n_shards/200 shards onto each task at scale, r5
    review), and ``sortWithinPartitions(shard, sort_key, key)`` orders
    them before the write — the ``key_col`` tiebreak keeps the file
    byte-stable even when two keys collide on the 60-bit hash (expected
    ~20 collisions at 10^10 docs; without it their relative order would
    be shuffle-arrival order). A dataloader streaming
    ``shard=K/part-*.parquet`` replays the global permutation.

    Scale contract: a shard is written by a single task, so ``n_shards``
    is the write parallelism AND the per-task size bound — at 100 TB
    pick n_shards so a shard is ~1 GB (10^5 shards), not 10 shards of
    10 TB. One corpus shuffle total."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    (
        sharded.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "sort_key", key_col)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def select_until_budget(
    df: DataFrame,
    budget: int,
    score_col: str = "score",
    cost_col: str = "n_tokens",
    id_col: str = "doc_id",
    partitions: int | None = None,
    scratch_dir: str | None = None,
) -> DataFrame:
    """Greedy selection under a global budget: order by (``score_col``
    DESC, ``id_col`` ASC — the id breaks score ties deterministically),
    keep every row whose INCLUSIVE cumulative ``cost_col`` stays within
    ``budget`` (whole documents only — the first row that would overflow
    is excluded, and with non-negative costs so is everything after it).
    Returns the input columns + ``cum_cost``.

    The global running sum is ``prep.distributed_prefix_sum`` (the
    ``pack_sequences`` machinery, shared — never a single-partition
    window): identical output at any parallelism, which also requires an
    INTEGRAL cost column (the helper rejects fractional types — float
    offset merges would make boundary membership partition-layout
    dependent).

    NULL scores/costs and negative costs raise — a NULL would silently
    vanish from (or corrupt) the running sum, and a negative cost breaks
    the greedy-prefix semantics (checked in the same totals aggregate,
    no extra pass)."""
    from mistral_ocr_spark.operators.prep import distributed_prefix_sum

    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    order = [F.col(score_col).desc(), F.col(id_col).asc()]
    staged, agg_rows = distributed_prefix_sum(
        df,
        order,
        cost_col,
        partitions=partitions,
        scratch_dir=scratch_dir,
        extra_aggs=[
            F.sum(F.col(score_col).isNull().cast("int")).alias("_snulls"),
            F.min(cost_col).alias("_min"),
        ],
    )
    n_bad = sum(r["_snulls"] for r in agg_rows)
    if n_bad:
        raise ValueError(f"{n_bad} rows have NULL {score_col!r}")
    neg = [r["_min"] for r in agg_rows if r["_min"] is not None and r["_min"] < 0]
    if neg:
        raise ValueError(f"negative {cost_col!r} values (min {min(neg)})")
    return (
        staged.withColumnRenamed("_cum", "cum_cost")
        .filter(F.col("cum_cost") <= budget)
    )
