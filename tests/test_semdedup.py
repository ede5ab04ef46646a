"""SemDeDup (cluster-then-dedup): independent numpy ground truth of the
keep-the-least-central rule, tie safety, cross-cluster recall property,
end-to-end planted duplicates, and parallelism determinism."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from mistral_ocr_spark.operators import similarity as S


# --- independent reference implementation (pure numpy) ---------------------

def _ref_semdedup(vecs: dict[int, list[float]], C: np.ndarray, threshold: float):
    """Same contract as S.semdedup with fixed centroids: returns
    {vec_id: keep}. Implemented from the paper's rule, not from the Spark
    code: cosine-argmax assignment, unit-normalize, drop x iff some y in
    the same cluster has round9-cos(x,y) ≥ τ and (cs_y, id_y) < (cs_x, id_x)."""
    ids = sorted(vecs)
    V = np.array([vecs[i] for i in ids], dtype=np.float64)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-30)
    cid = (Vn @ Cn.T).argmax(axis=1)
    n = np.linalg.norm(V, axis=1)
    U = np.where(n[:, None] == 0, V, V / np.where(n == 0, 1, n)[:, None])
    cs = {i: round(float(U[k] @ Cn[cid[k]]), 9) for k, i in enumerate(ids)}
    keep = {}
    for k, i in enumerate(ids):
        dropped = False
        for m, j in enumerate(ids):
            if i == j or cid[k] != cid[m]:
                continue
            if round(float(U[k] @ U[m]), 9) >= threshold and (cs[j], j) < (cs[i], i):
                dropped = True
                break
        keep[i] = not dropped
    return keep, {i: int(cid[k]) for k, i in enumerate(ids)}


CENTROIDS = np.array(
    [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]]
)
VECS = {
    1: [0.90, 0.10, 0.00, 0.0],   # near-dup pair with 2 (same cluster 0)
    2: [0.88, 0.12, 0.00, 0.0],
    3: [0.50, 0.50, 0.00, 0.0],   # tie-to-two-centroids corner (argmax -> 0)
    4: [0.00, 0.95, 0.05, 0.0],   # cluster-1 singleton
    5: [0.00, 0.05, 0.95, 0.0],   # identical twins in cluster 2
    6: [0.00, 0.05, 0.95, 0.0],
    7: [0.00, 0.00, 0.00, 0.0],   # zero vector: cent_sim 0, never similar
    8: [0.70, 0.70, 0.01, 0.0],   # near-dup of 3 but may split clusters
}


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [(i, v) for i, v in VECS.items()], "vec_id long, embedding array<double>"
    )


def _run(df, threshold=0.95):
    out = S.semdedup(df, threshold=threshold, centroids=CENTROIDS).collect()
    return (
        {r.vec_id: r.keep for r in out},
        {r.vec_id: r.centroid_id for r in out},
    )


def test_matches_numpy_reference(spark, df):
    keep, cid = _run(df)
    ref_keep, ref_cid = _ref_semdedup(VECS, CENTROIDS, 0.95)
    assert cid == ref_cid
    assert keep == ref_keep


def test_least_central_survivor_of_planted_pair(spark, df):
    """Of the 1/2 near-dup pair, the one FARTHER from its centroid must be
    the survivor (the paper's rule), not an arbitrary one."""
    keep, _ = _run(df)
    # 2 is farther from centroid 0 than 1 (0.88 vs 0.90 axis weight)
    assert keep[2] and not keep[1]


def test_identical_twins_keep_exactly_one(spark, df):
    keep, _ = _run(df)
    assert keep[5] != keep[6]
    assert keep[5]  # cent_sim tie -> smaller id wins


def test_zero_vector_is_kept(spark, df):
    keep, _ = _run(df)
    assert keep[7]


def test_every_row_returned_with_flag(spark, df):
    out = S.semdedup(df, centroids=CENTROIDS)
    assert out.count() == len(VECS)
    assert set(out.columns) == {"vec_id", "centroid_id", "cent_sim", "keep"}


def test_deterministic_across_parallelism(spark, df):
    a = S.semdedup(df.repartition(1), centroids=CENTROIDS).collect()
    b = S.semdedup(df.repartition(7), centroids=CENTROIDS).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_end_to_end_planted_scaled_duplicates(spark, sf_dir):
    """Augment the fixture with exact scaled copies (cosine 1.0, identical
    cluster assignment by construction): every copy must be dropped, every
    original kept, under TRAINED centroids."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(100)
    base = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    copies = base.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.5).alias("embedding"),
    )
    aug = base.unionAll(copies)
    out = S.semdedup(aug, n_clusters=4, threshold=0.999, n_iters=2).collect()
    keep = {r.vec_id: r.keep for r in out}
    for r in base.select("vec_id").collect():
        assert keep[r.vec_id], f"original {r.vec_id} dropped"
        assert not keep[r.vec_id + 100000], f"copy {r.vec_id + 100000} kept"


def test_empty_input_raises_cleanly(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty"):
        S.semdedup(empty)


def test_null_embedding_element_raises_instead_of_nan_rows(spark):
    """One NULL element used to poison its cluster: rows came back with a
    NaN ``cent_sim`` and keep/drop decided by NaN comparisons. The vector
    reader refuses it, in the clustering kernel and in training."""
    rows = [(i, [1.0, float(i % 7), 2.0, 3.0]) for i in range(40)]
    rows[5] = (5, [1.0, None, 2.0, 3.0])
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(2)
    centroids = np.vstack([CENTROIDS, [0.0, 0.0, 0.0, 1.0]])
    with pytest.raises(Exception, match="null elements"):
        S.semdedup(df, threshold=0.95, centroids=centroids).collect()
    with pytest.raises(Exception, match="null elements"):
        S.ivf_train(df, n_centroids=4, n_iters=2)
