"""Heavy-hitter (two-pass weighted Misra-Gries) and HLL sketch tests:
exactness vs a full wordcount ground truth, the no-miss guarantee on a
genuinely adversarial partition layout, NaN canonicalization, the bounded
candidate-set property, determinism across parallelism, and the HLL error
bound."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from mistral_ocr_spark.operators import sketches as K


def _word_stream(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("w"))
    )


def _exact_heavy(words, frac, col="w"):
    total = words.count()
    rows = (
        words.groupBy(col).count().filter(F.col("count") >= total * frac).collect()
    )
    return {r[col]: r["count"] for r in rows}


@pytest.mark.parametrize("frac", [0.01, 0.002])
def test_heavy_hitters_exact_vs_wordcount(spark, sf_dir, frac):
    words = _word_stream(spark, sf_dir)
    want = _exact_heavy(words, frac)
    got = {r.item: r.freq for r in K.heavy_hitters(words, "w", frac).collect()}
    assert got == want, f"frac={frac}: {len(got)} vs {len(want)} items"


def test_heavy_hitters_no_miss_on_skewed_partitions(spark):
    """Genuinely adversarial layout (hash-partitioned on the block key, so
    each partition REALLY holds its own dominator): the global heavy item
    is spread thinly — its per-partition share is far below each local
    dominator, so naive per-partition top-k would drop it. The MG merge
    guarantee must still surface it, and the recount must eliminate the
    local dominators that are not globally heavy."""
    rows = []
    for p in range(16):
        rows += [(p, f"local{p}")] * 200    # per-partition dominator
        rows += [(p, "global")] * 30        # thin everywhere, heavy overall
        rows += [(p, f"noise{p}-{i}") for i in range(200)]
    df = spark.createDataFrame(rows, ["p", "w"]).repartition(16, "p").drop("p")
    got = {r.item: r.freq for r in K.heavy_hitters(df, "w", 0.05).collect()}
    # 'global' (480 of 6880 ≈ 7%) is the only item above the 5% bar; the
    # per-partition dominators (200 ≈ 2.9%) must be recount-eliminated
    assert got == _exact_heavy(df, 0.05) == {"global": 480}


def test_heavy_hitters_nan_excluded_by_contract(spark):
    """Float NaN is excluded like NULL — explicitly, not silently wrong
    (r4 review: pandas/Arrow treat NaN as the missing marker in float
    columns, so a NaN item cannot round-trip through the summary; the
    operator filters it up front and the denominator excludes it too)."""
    rows = [(float("nan"),)] * 300 + [(2.5,)] * 100 + [(float(i),) for i in range(600)]
    df = spark.createDataFrame(rows, "v double").repartition(8)
    got = {r.item: (r.freq, r.frac) for r in K.heavy_hitters(df, "v", 0.1).collect()}
    # denominator = 700 non-NaN items: 2.5 at 100/700 ≈ 14.3% qualifies
    assert got == {2.5: (100, round(100 / 700, 6))}


def test_summary_counts_signed_zero_as_one_item():
    """-0.0 == 0.0 in the recount join, so the summary must count them as
    one item too; split in two, each half could fall under the MG cut."""
    import pyarrow as pa

    batch = pa.RecordBatch.from_arrays(
        [pa.array([0.0, -0.0, -0.0, 1.0, None, float("nan")], pa.float64())], names=["v"]
    )
    (out,) = K._mg_partition_fn(3, "v")(iter([batch]))
    got = out.to_pydict()
    assert got["is_sentinel"] == [False, False, True]
    assert got["item"][:2] == [0.0, 1.0] and got["lb"] == [3, 1, 4]


def test_heavy_hitters_deterministic_across_parallelism(spark, sf_dir):
    words = _word_stream(spark, sf_dir)
    a = sorted(tuple(r) for r in K.heavy_hitters(words.repartition(1), "w", 0.005).collect())
    b = sorted(tuple(r) for r in K.heavy_hitters(words.repartition(16), "w", 0.005).collect())
    assert a == b and len(a) > 0


def test_heavy_hitters_candidate_set_is_bounded(spark):
    """The pass-1 shuffle is partitions × (k+1) rows plus one sentinel per
    partition, not the distinct-item universe: on a high-cardinality
    stream the summary row count must stay ≤ partitions × (k+2) even
    though distinct items vastly exceed it."""
    import math

    from pyspark.sql import types as T

    n_parts, frac = 8, 0.01
    k = max(2, math.ceil(2.0 / frac))
    df = (
        spark.range(200_000)
        .repartition(n_parts)
        .select(F.concat(F.lit("item"), (F.col("id") % 150_000).cast("string")).alias("_item"))
    )
    schema = T.StructType(
        [
            T.StructField("item", T.StringType()),
            T.StructField("lb", T.LongType()),
            T.StructField("is_sentinel", T.BooleanType()),
        ]
    )
    summary = df.mapInArrow(K._mg_partition_fn(k, "_item"), schema)
    assert summary.count() <= n_parts * (k + 2)
    # sentinel rows carry the exact denominator
    n = summary.filter("is_sentinel").agg(F.sum("lb")).collect()[0][0]
    assert n == 200_000


def test_approx_distinct_within_rsd(spark, sf_dir):
    words = _word_stream(spark, sf_dir)
    exact = words.select("w").distinct().count()
    approx = K.approx_distinct(words, "w", rsd=0.02).collect()[0].approx_distinct
    assert abs(approx - exact) / exact < 0.1, (approx, exact)

def test_heavy_hitters_threshold_boundary_is_exact_rational(spark):
    """"At or above the threshold" is decided against the float's EXACT
    rational value, not an FP product (ADVICE r4). Two boundary cases:

    - threshold 0.125 is exactly representable: 8 singletons sit exactly
      on the boundary (1/8) and must ALL be reported;
    - the double 0.125-like literal 0.1 is strictly GREATER than 1/10
      (0.1000000000000000055…), so 10 singletons sit strictly below it
      and NONE may be reported — even though the float product
      10 * 0.1 rounds to exactly 1.0 and would have admitted them."""
    eight = spark.createDataFrame([(f"w{i}",) for i in range(8)], "v string")
    got = {r.item for r in K.heavy_hitters(eight, "v", 0.125).collect()}
    assert got == {f"w{i}" for i in range(8)}

    ten = spark.createDataFrame([(f"w{i}",) for i in range(10)], "v string")
    assert K.heavy_hitters(ten, "v", 0.1).count() == 0


def test_heavy_hitters_rejects_sub_floor_threshold(spark):
    df = spark.createDataFrame([("a",)], "v string")
    with pytest.raises(ValueError, match="1e-9"):
        K.heavy_hitters(df, "v", 1e-12)
