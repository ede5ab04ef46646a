"""Targeted tests for the dedup / similarity operators beyond the driver
parity gate: ANN recall, banding exactness, cache hygiene, and the
short-document shingle CASE both engines must agree on."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from pyspark.sql import functions as F

from mistral_ocr_spark.operators import dedup as D
from mistral_ocr_spark.operators import similarity as S

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def _emb(spark, sf):
    return spark.read.parquet(f"{sf}/embeddings.parquet")


def test_multiprobe_ann_fills_k_and_recall(spark):
    """Hamming-ordered multi-probe (signature prescreen + exact rerank) at
    the RECALL-1 threshold (n_planes/2 - 1, the setting the driver query
    pins) returns the full k and ≥0.9 recall@10 vs the exact brute-force
    ranking, averaged over several query points — on the WORST case for
    ANN, a near-uniform random corpus (top-10 cosines ≈ 0.3). The
    function's own default (n_planes/4) targets clustered corpora and is
    covered by test_multiprobe_default_retrieves_planted_twin."""
    emb = _emb(spark, SF01)
    recalls = []
    for qid in (0, 7, 42, 111, 303):
        exact = {r.vec_id for r in S.brute_force_topk(emb, qid, k=10).collect()}
        approx_rows = S.signature_rerank_topk(emb, qid, k=10, max_hamming=63).collect()
        assert len(approx_rows) == 10, f"qid={qid}: ANN returned {len(approx_rows)} rows"
        recalls.append(len(exact & {r.vec_id for r in approx_rows}) / 10)
    avg = sum(recalls) / len(recalls)
    assert avg >= 0.9, f"recall@10 {recalls} (avg {avg}) below 0.9"


def test_multiprobe_default_retrieves_planted_twin(spark):
    """The tightened default threshold (n_planes/4, VERDICT r3 #4 —
    measured on the planted-cluster sweep, BENCH.md) must retrieve the
    genuine near-dup (cos 0.92-0.99) as the TOP result for every probed
    query while admitting only a sliver of the corpus to the rerank."""
    emb = _perturbed_embeddings(spark, SF001)
    for qid in (0, 2, 4, 96):  # vec_id % 97 spreads cos over [0.92, 0.99]
        rows = S.signature_rerank_topk(emb, query_id=qid, k=3, vec_col="emb").collect()
        assert rows, f"qid={qid}: no survivors at the default threshold"
        assert rows[0].vec_id == qid + 100000, (
            f"qid={qid}: planted twin not top-1, got {[r.vec_id for r in rows]}"
        )


def _perturbed_embeddings(spark, sf, lo=0.92, hi=0.99):
    """The base corpus plus one deterministically-perturbed copy per vector
    (ids +100000): v' = v·cosφ + u·|v|·sinφ with u a seeded random direction
    orthogonalized against v, so cos(v, v') = cosφ exactly, with cosφ swept
    uniformly across [lo, hi] — genuinely non-trivial near-dup pairs
    (VERDICT r2 #4: the cos=1 fixture made LSH recall trivially 1)."""
    import numpy as np

    rows = spark.read.parquet(f"{sf}/embeddings.parquet").select("vec_id", "embedding").collect()
    out = []
    for r in rows:
        v = np.asarray(r.embedding, dtype=np.float64)
        rs = np.random.RandomState(10_000 + r.vec_id)
        u = rs.randn(v.shape[0])
        u -= u.dot(v) / v.dot(v) * v  # orthogonalize
        u *= np.linalg.norm(v) / np.linalg.norm(u)
        cos_phi = lo + (hi - lo) * (r.vec_id % 97) / 96.0
        vp = v * cos_phi + u * np.sqrt(1.0 - cos_phi**2)
        out.append((r.vec_id, [float(x) for x in v]))
        out.append((r.vec_id + 100000, [float(x) for x in vp]))
    return spark.createDataFrame(out, "vec_id long, emb array<double>")


def test_embedding_lsh_recall_on_perturbed_pairs(spark):
    """Multi-table hyperplane LSH must recover ≥0.9 of the TRUE perturbed
    pairs (cos ∈ [0.92, 0.99]) found by the exact all-pairs scan — the
    non-trivial recall evidence a 100-TB dedup claim needs."""
    aug = _perturbed_embeddings(spark, SF001)
    truth = {
        (r.id_a, r.id_b)
        for r in S.embedding_near_dup_pairs(aug, 0.9, vec_col="emb").collect()
    }
    true_planted = {p for p in truth if p[1] - p[0] == 100000}
    assert len(true_planted) >= 400, f"fixture broken: {len(true_planted)} planted pairs"
    got = {
        (r.id_a, r.id_b)
        for r in S.embedding_near_dup_lsh(aug, 0.9, vec_col="emb").collect()
    }
    assert got <= truth  # exact verify: no false positives ever
    recall = len(got & true_planted) / len(true_planted)
    assert recall >= 0.9, f"multi-table LSH recall {recall:.3f} < 0.9"
    # single-table is the motivating failure: measurably worse
    single = {
        (r.id_a, r.id_b)
        for r in S.embedding_near_dup_lsh(aug, 0.9, n_tables=1, vec_col="emb").collect()
    }
    single_recall = len(single & true_planted) / len(true_planted)
    assert single_recall < recall, (single_recall, recall)


def test_bucketed_multiprobe_finds_planted_twin(spark):
    """The bucketed multi-probe variant (the clustered-corpus scale path):
    a planted exact-direction twin (cosine 1 → identical sign signature)
    must surface in the top-k even at n_flip=0, and multi-probing can only
    widen the candidate set."""
    emb = _emb(spark, SF001).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    twin = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("emb", lambda x: x * 2).alias("emb"),
    )
    aug = emb.unionAll(twin)
    for n_flip in (0, 2):
        rows = S.lsh_topk(aug, query_id=0, k=10, n_flip=n_flip, vec_col="emb").collect()
        assert rows, f"n_flip={n_flip}: no candidates"
        assert rows[0].vec_id == 100000 and abs(rows[0].cos_sim - 1.0) < 1e-6
    single = {r.vec_id for r in S.lsh_topk(aug, 0, k=50, n_flip=0, vec_col="emb").collect()}
    multi = {r.vec_id for r in S.lsh_topk(aug, 0, k=50, n_flip=2, vec_col="emb").collect()}
    assert len(single) <= len(multi)


def test_minhash_lsh_leaves_no_cached_rdds(spark):
    """minhash_lsh_pairs must not leave cache blocks behind (VERDICT r1 #6):
    signatures go through a scratch parquet table, never executor cache."""
    docs = D.augmented_docs(spark.read.parquet(f"{SF001}/documents.parquet"))
    pairs = D.minhash_lsh_pairs(docs, threshold=0.6)
    pairs.count()  # materialize
    cached = spark.sparkContext._jsc.getPersistentRDDs()
    assert cached.size() == 0, f"{cached.size()} persistent RDDs left behind"


def test_ivf_recall_and_probe_budget(spark, tmp_path):
    """IVF (k-means coarse quantizer + nprobe search): recall@10 vs exact
    brute force rises with the probe budget and reaches 1.0 at
    nprobe = n_centroids (every list scanned = exact)."""
    emb = _emb(spark, SF01)
    C = S.ivf_index(emb, str(tmp_path / "ivf"), n_centroids=16, n_iters=4)
    assert C.shape == (16, 64)
    recalls = {}
    for nprobe in (4, 16):
        got = []
        for qid in (0, 7, 42):
            exact = {r.vec_id for r in S.brute_force_topk(emb, qid, k=10).collect()}
            approx = {
                r.vec_id
                for r in S.ivf_topk(spark, str(tmp_path / "ivf"), C, qid, k=10, nprobe=nprobe).collect()
            }
            got.append(len(exact & approx) / 10)
        recalls[nprobe] = sum(got) / len(got)
    assert recalls[16] == 1.0, recalls  # all lists scanned = exact
    # Near-uniform corpus is IVF's worst case: recall ~ probe fraction
    # (the query's own list is always probed, so strictly above it).
    assert recalls[4] >= 0.25, recalls
    assert recalls[4] <= recalls[16]


def test_ivf_finds_clustered_neighbors_at_tiny_nprobe(spark, tmp_path):
    """IVF's design case — clustered data: a perturbed twin (cos 0.92-0.99)
    lands in the same Voronoi cell as its base almost surely, so nprobe=2
    must surface it as the top hit while reading 2/16 of the table."""
    aug = _perturbed_embeddings(spark, SF001)
    C = S.ivf_index(aug, str(tmp_path / "ivf"), n_centroids=16, n_iters=3, vec_col="emb")
    hits = 0
    qids = (0, 7, 42, 111, 303)
    for qid in qids:
        rows = S.ivf_topk(
            spark, str(tmp_path / "ivf"), C, qid, k=3, nprobe=2, vec_col="emb"
        ).collect()
        hits += any(r.vec_id == qid + 100000 for r in rows)
    assert hits >= len(qids) - 1, f"planted twin found for only {hits}/{len(qids)} queries"


def test_ivf_search_prunes_partitions(spark, tmp_path):
    """The IVF point at 10^12 vectors: the probe join must reach the scan as
    a partition filter (dynamic partition pruning over the centroid_id
    directory layout), so a search reads nprobe/n_centroids of the table."""
    emb = _emb(spark, SF001)
    C = S.ivf_index(emb, str(tmp_path / "ivf"), n_centroids=8, n_iters=2)
    df = S.ivf_topk(spark, str(tmp_path / "ivf"), C, query_id=0, k=5, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower() or "PartitionFilters: [isnotnull(centroid_id" in plan, (
        f"probe filter not pushed to partition pruning:\n{plan[:1200]}"
    )
    assert df.count() == 5


def test_ivf_train_deterministic_across_parallelism(spark):
    """Seeded init + mean updates: identical centroids at different input
    partitionings (the O5 determinism contract)."""
    import numpy as np

    emb = _emb(spark, SF001)
    c1 = S.ivf_train(emb.repartition(2), n_centroids=8, n_iters=2)
    c2 = S.ivf_train(emb.repartition(13), n_centroids=8, n_iters=2)
    assert np.allclose(c1, c2, atol=1e-9)


def test_scratch_default_is_warehouse_relative_and_cleaned(spark):
    """VERDICT r2 #3: the auto-created scratch dir must live under
    spark.sql.warehouse.dir (a path real executors can read), never
    driver-local /tmp, and must be registered for atexit cleanup."""
    import os
    import re

    from mistral_ocr_spark import scratch as SC

    wh = spark.conf.get("spark.sql.warehouse.dir")
    wh_local = re.sub("^file:/+", "/", wh)
    before = set(SC._SCRATCH_CLEANUP)

    docs = D.augmented_docs(spark.read.parquet(f"{SF001}/documents.parquet"))
    D.minhash_lsh_pairs(docs, threshold=0.6).count()
    # r6: simhash_pairs no longer materializes scratch (signatures flow
    # straight into the bucket shuffle) — it must NOT register a dir
    D.simhash_pairs(docs, max_hamming=6).count()

    created = set(SC._SCRATCH_CLEANUP) - before
    assert len(created) == 1, f"expected 1 registered scratch dir, got {created}"
    for d in created:
        assert d.startswith(wh_local.rstrip("/") + "/_scratch/"), d
        assert os.path.isdir(d)
        assert any(
            f.endswith(".parquet")
            for _, _, fs in os.walk(d)
            for f in fs
        ), f"no scratch parquet under {d}"
    SC._cleanup_scratch()
    assert not any(os.path.exists(d) for d in created)
    assert not SC._SCRATCH_CLEANUP


def test_simhash_banding_is_exact_vs_all_pairs(spark):
    """The 8x8-bit band blocking must return exactly the all-pairs answer at
    hamming ≤ 6 (pigeonhole recall 1) — verified by brute force."""
    docs = D.augmented_docs(spark.read.parquet(f"{SF001}/documents.parquet"))
    blocked = {
        (r.id_a, r.id_b, r.hamming) for r in D.simhash_pairs(docs, max_hamming=6).collect()
    }
    sigs = D.simhash_signatures(docs)
    a = sigs.select(
        F.col("id").alias("id_a"), F.col("sim_lo").alias("lo_a"), F.col("sim_hi").alias("hi_a")
    )
    b = sigs.select(
        F.col("id").alias("id_b"), F.col("sim_lo").alias("lo_b"), F.col("sim_hi").alias("hi_b")
    )
    ham = F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b"))) + F.bit_count(
        F.col("hi_a").bitwiseXOR(F.col("hi_b"))
    )
    brute = {
        (r.id_a, r.id_b, r.hamming)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= 6)
        .collect()
    }
    assert blocked == brute and len(brute) > 0


def _word_hash_batch(rng, lengths, null_rows=()):
    """(id, wlo, whi) batch of list<bigint> word-hash columns: the 32-bit
    halves ``simhash_signatures`` hands its kernel. ``null_rows`` are null
    and, as in the batches Spark sends, span no words."""
    import pyarrow as pa

    from mistral_ocr_spark import arrowcols as C

    lengths = np.array(lengths)
    lengths[list(null_rows)] = 0
    offsets = C.numbers(C.offsets(lengths), pa.int32())
    total = int(np.sum(lengths))
    valid = np.ones(len(lengths), dtype=bool)
    valid[list(null_rows)] = False
    mask = pa.py_buffer(np.packbits(valid, bitorder="little"))

    def column():
        words = C.numbers(rng.integers(0, 1 << 32, size=total), pa.int64())
        return pa.ListArray.from_buffers(
            pa.list_(pa.int64()), len(lengths), [mask, offsets.buffers()[1]],
            null_count=int((~valid).sum()), children=[words],
        )

    ids = C.numbers(np.arange(len(lengths)), pa.int64())
    return pa.RecordBatch.from_arrays([ids, column(), column()], names=["id", "wlo", "whi"])


def _majority_sig(words) -> int:
    """One doc's 32-bit majority signature by the (words, 32) bit-matrix
    form the kernel used to build for a whole batch."""
    if not words:
        return 0
    w = np.asarray(words, dtype=np.int64)
    cnt = ((w[:, None] >> np.arange(32)) & 1).sum(axis=0)
    return int(((cnt * 2 > len(w)) * (1 << np.arange(32, dtype=np.int64))).sum())


def test_simhash_kernel_equals_bit_matrix_form_on_long_docs():
    rng = np.random.default_rng(7)
    lengths = rng.integers(2000, 9000, size=24)
    lengths[[3, 11]] = 0  # empty docs
    batch = _word_hash_batch(rng, lengths, null_rows=(5, 17))
    for part in (batch, batch.slice(4, 15)):
        (out,) = D._simhash_batch_fn()(iter([part]))
        for col, name in ((1, "sim_lo"), (2, "sim_hi")):
            want = [_majority_sig(v or []) for v in part.column(col).to_pylist()]
            assert out.column(name).to_pylist() == want


def test_simhash_kernel_scratch_is_bounded_per_word():
    """~10^6 words in one batch: the kernel's Python-heap peak stays near
    its 8 B/word bit scratch (the input is already an Arrow buffer). The
    (total_words, 32) int64 bit matrix it replaced took 256 B/word."""
    import tracemalloc

    rng = np.random.default_rng(3)
    lengths = np.full(100, 10_000)
    batch = _word_hash_batch(rng, lengths)
    n_words = int(lengths.sum())
    tracemalloc.start()
    try:
        (out,) = D._simhash_batch_fn()(iter([batch]))
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert out.num_rows == 100
    assert peak < 16 * n_words, peak


@pytest.mark.parametrize(
    "text",
    ["", "one", "two words", "now three words", "a b c d e", "  padded   runs\t\there "],
)
def test_shingles_match_duckdb_on_short_docs(spark, text):
    """The <3-word shingle CASE must agree byte-for-byte across engines
    (ADVICE r1: concat_ws NULL-skipping vs SQL || NULL-propagation)."""
    from mistral_ocr_spark.plans.queries import _SHINGLE_SQL

    sdf = D.with_shingles(spark.createDataFrame([(1, text)], ["doc_id", "text"]))
    spark_sh = sorted(sdf.select("shingles").collect()[0].shingles)
    con = duckdb.connect()
    duck_sh = sorted(
        con.execute(
            f"SELECT {_SHINGLE_SQL} AS s FROM (SELECT ? AS text)", [text]
        ).fetchone()[0]
    )
    con.close()
    assert spark_sh == duck_sh


def test_minhash_prefilter_margin_is_hoeffding_sized():
    m = D.hoeffding_margin(64, miss_prob=1e-6)
    assert 0.3 < m < 0.35
    # with the margin, a threshold-sitting pair survives w.p. ≥ 1 - 1e-6
    import math

    assert math.exp(-2 * 64 * m * m) <= 1e-6 + 1e-12


def test_decontaminate_matches_python_ngram_ground_truth(spark):
    """13-gram decontamination vs an independent pure-Python n-gram-set
    computation: planted exact overlaps flagged, 12-of-13-gram near misses
    not flagged, min_hits threshold honored, short docs use the whole-text
    rule."""
    import random

    from mistral_ocr_spark.operators.dedup import decontaminate

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(40)]

    def sent(k):
        return [rng.choice(vocab) for _ in range(k)]

    bench_words = [sent(30) for _ in range(5)]
    docs_words = []
    for i in range(40):
        w = sent(60)
        if i % 7 == 0:  # plant a full 13-gram from a benchmark doc
            src = bench_words[i % 5]
            w[10:23] = src[4:17]
        if i % 11 == 3:  # near miss: only 12 consecutive shared words
            w[30:42] = bench_words[0][0:12]
        docs_words.append(w)
    docs_words.append(["short", "doc"])  # < n words: whole-text gram
    bench_words.append(["short", "doc"])  # identical short text in bench

    docs = spark.createDataFrame(
        [(i, " ".join(w)) for i, w in enumerate(docs_words)], ["doc_id", "text"]
    )
    bench = spark.createDataFrame(
        [(j, " ".join(w)) for j, w in enumerate(bench_words)], ["bench_id", "text"]
    )

    def ngrams(w, n=13):
        if len(w) < n:
            return {" ".join(w)}
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    want = set()
    want_hits = {}
    for i, dw in enumerate(docs_words):
        for j, bw in enumerate(bench_words):
            hits = len(ngrams(dw) & ngrams(bw))
            if hits >= 1:
                want.add((i, j))
                want_hits[(i, j)] = hits

    out = decontaminate(docs, bench, n=13).collect()
    got = {(r.doc_id, r.bench_id): r.hits for r in out}
    assert set(got) == want
    assert got == want_hits  # hit counts exact, not just membership
    assert (len(docs_words) - 1, len(bench_words) - 1) in got  # short-doc rule
    # threshold: min_hits=2 keeps only pairs with >= 2 shared grams
    out2 = {(r.doc_id, r.bench_id) for r in decontaminate(docs, bench, n=13, min_hits=2).collect()}
    assert out2 == {p for p, h in want_hits.items() if h >= 2}


def test_decontaminate_plan_broadcasts_benchmark(spark):
    from mistral_ocr_spark.operators.dedup import decontaminate

    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    bench = spark.createDataFrame([(1, "a b c")], ["bench_id", "text"])
    plan = (
        decontaminate(docs, bench)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan


def test_signature_index_reuse_matches_and_skips_kernel(spark, tmp_path):
    """VERDICT r3 #3: a persisted signature table makes the multi-probe
    prescreen a parquet scan — results identical to the inline-kernel path,
    and the query plan contains NO Python kernel (MapInArrow) anywhere."""
    emb = _emb(spark, SF001)
    idx = S.signature_index(emb, str(tmp_path / "sigs"))
    inline = S.signature_rerank_topk(emb, query_id=0, k=10, max_hamming=63)
    cached = S.signature_rerank_topk(
        emb, query_id=0, k=10, max_hamming=63, sig_table=idx
    )
    assert [tuple(r) for r in inline.collect()] == [tuple(r) for r in cached.collect()]
    plan = cached._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan, f"signature kernel still in query path:\n{plan[:800]}"
    assert "MapInArrow" in inline._jdf.queryExecution().executedPlan().toString()


def test_lsh_bucket_index_reuse_matches_and_prunes(spark, tmp_path):
    """Persisted bucket table (partitionBy(bucket)): identical top-k to the
    inline path and the probe set reaches the scan as a partition filter."""
    emb = _emb(spark, SF001)
    idx = S.lsh_bucket_index(emb, str(tmp_path / "buckets"))
    inline = S.lsh_topk(emb, query_id=3, k=10)
    cached = S.lsh_topk(emb, query_id=3, k=10, bucket_table=idx)
    assert [tuple(r) for r in inline.collect()] == [tuple(r) for r in cached.collect()]
    plan = cached._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower() or "PartitionFilters: [isnotnull(bucket" in plan, (
        f"probe set not pushed to partition pruning:\n{plan[:1200]}"
    )


def test_gram_kernels_evaluate_once_not_twice(spark):
    """Regression (r4): exploding a computed gram/shingle column by NAME
    lets InferFiltersFromGenerate + pushdown substitute the whole kernel
    into an inferred `size(...) > 0` filter — evaluating the expensive
    expression twice, the second time with the word split re-expanded
    inside every element_at (measured 26 s vs 0.55 s at sf0.1). The plans
    must contain the gram transform exactly ONCE."""
    d = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine ten eleven twelve thirteen x")],
        ["doc_id", "text"],
    )
    decon_side = D.with_ngram_hashes(d, 13).select(
        "doc_id", F.explode_outer("ngram_hashes").alias("_g")
    )
    plan = decon_side._jdf.queryExecution().executedPlan().toString()
    assert plan.count("transform(sequence") == 1, f"gram kernel duplicated:\n{plan[:1500]}"

    pairs = D.jaccard_pairs_exact(d, threshold=0.1)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("transform(sequence") <= 2, (  # a/b sides of the self-join
        f"shingle kernel duplicated per side:\n{plan[:1500]}"
    )


def test_cross_doc_line_dedup_matches_python_ground_truth(spark):
    """FineWeb-granularity line dedup: lines appearing in >= min_df distinct
    docs are dropped everywhere, order preserved, empty-but-present docs
    kept. Checked against an independent pure-Python implementation on a
    corpus with planted boilerplate, repeats-within-one-doc (df=1, must
    survive), blank lines, and an all-boilerplate doc."""
    docs = [
        (1, "Accept cookies\nreal content one\nSite nav\nunique closing line"),
        (2, "Accept cookies\nreal content two\nSite nav"),
        (3, "real content three\nAccept cookies"),
        (4, "solo line\nsolo line\n\n  \nlast line"),  # within-doc repeat: df=1
        (5, "Accept cookies\nSite nav"),               # all boilerplate
        (6, ""),                                       # empty doc: must survive
        (7, "  \n\t\n"),                               # all-blank doc: must survive
    ]
    from collections import Counter

    per_doc_lines = {
        i: [ln.strip() for ln in t.split("\n") if ln.strip() != ""] for i, t in docs
    }
    df_count = Counter()
    for i, lines in per_doc_lines.items():
        for ln in set(lines):
            df_count[ln] += 1
    hot = {ln for ln, c in df_count.items() if c >= 2}
    want = {}
    for i, lines in per_doc_lines.items():
        kept = [ln for ln in lines if ln not in hot]
        want[i] = ("\n".join(kept), len(kept), len(lines) - len(kept))

    out = D.cross_doc_line_dedup(spark.createDataFrame(docs, ["doc_id", "text"]))
    got = {
        r.doc_id: (r.text, r.n_lines_kept, r.n_lines_dropped) for r in out.collect()
    }
    assert got == want
    assert got[5] == ("", 0, 2)          # all-boilerplate doc kept as empty
    assert got[4][1] == 3                # within-doc repeat survives (df=1)
    assert got[6] == ("", 0, 0)          # empty doc: one row per input doc
    assert got[7] == ("", 0, 0)          # all-blank doc likewise (r4 review)
    assert "Accept cookies" not in got[1][0] and "real content one" in got[1][0]


def test_cross_doc_line_dedup_deterministic_across_parallelism(spark):
    docs = [
        (i, f"common header\nbody {i} alpha\nbody {i} beta\ncommon footer")
        for i in range(40)
    ]
    a = D.cross_doc_line_dedup(spark.createDataFrame(docs, ["doc_id", "text"]).repartition(1))
    b = D.cross_doc_line_dedup(spark.createDataFrame(docs, ["doc_id", "text"]).repartition(16))
    ra = sorted(tuple(r) for r in a.collect())
    rb = sorted(tuple(r) for r in b.collect())
    assert ra == rb
    assert all(r[1] == f"body {r[0]} alpha\nbody {r[0]} beta" for r in ra)


def test_exact_dedup_survivors_equals_join_formulation(spark, sf_dir):
    """The linear window form keeps exactly the rows the aggregate+join
    form would (same fingerprint, same min-key keeper rule) — including on
    planted exact-duplicate pairs that differ only in whitespace."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    extra = spark.createDataFrame(
        [(100001, "a  b\tc "), (100002, "a b c"), (100003, " a b  c")],
        ["doc_id", "text"],
    )
    docs = docs.unionByName(extra)
    keepers = {
        r.keeper_id for r in D.exact_dedup(docs, key_col="doc_id").collect()
    }
    survivors = {
        r.doc_id for r in D.exact_dedup_survivors(docs, key_col="doc_id").collect()
    }
    assert survivors == keepers
    assert 100001 in survivors and 100002 not in survivors and 100003 not in survivors


def test_minhash_incremental_index_matches_union_brute_force(spark, sf_dir, tmp_path):
    """The persisted-index incremental tier returns EXACTLY the pairs the
    one-shot path would find on the union corpus, restricted to pairs
    involving the increment — without re-signing the indexed corpus. The
    increment contains near-dups of indexed docs (last word dropped) AND
    a near-dup pair within the increment itself."""
    base = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 60)
    )
    idx = D.minhash_index(base, str(tmp_path / "mh_idx"))
    # increment: perturbed copies of indexed docs 0-9 (new-vs-old dups),
    # plus a new-vs-new dup pair planted at ids 200000/200001
    inc = (
        base.filter(F.col("doc_id") < 10)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.regexp_replace(F.col("text"), r"\s+\S+$", "").alias("text"),
        )
    )
    pair = spark.createDataFrame(
        [
            (200000, "planted twin document about shuffle hash join plans here"),
            (200001, "planted twin document about shuffle hash join plans there"),
        ],
        ["doc_id", "text"],
    )
    inc = inc.unionByName(pair)

    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in D.minhash_lsh_pairs_incremental(inc, idx, threshold=0.5).collect()
    }
    new_ids = {r.doc_id for r in inc.select("doc_id").collect()}
    want = {
        (r.id_a, r.id_b, r.jaccard)
        for r in D.jaccard_pairs_exact(base.unionByName(inc), threshold=0.5).collect()
        if r.id_a in new_ids or r.id_b in new_ids
    }
    assert got == want and len(want) >= 11, f"{len(got)} vs {len(want)}"


def test_minhash_incremental_uses_stored_params_and_prunes(spark, sf_dir, tmp_path):
    """Index built at NON-default (num_hashes=32, bands=16): the query side
    must read the stored params (a 64-hash default would zip 64-wide
    signatures against 32-wide ones and break), and the increment's bucket
    filter must reach the indexed buckets scan as a PARTITION filter."""
    base = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 40)
    )
    idx = D.minhash_index(
        base, str(tmp_path / "mh_idx32"), num_hashes=32, bands=16
    )
    inc = base.filter(F.col("doc_id") < 6).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.regexp_replace(F.col("text"), r"\s+\S+$", "").alias("text"),
    )
    df = D.minhash_lsh_pairs_incremental(inc, idx, threshold=0.5)
    got = {(r.id_a, r.id_b) for r in df.collect()}
    assert {(i, i + 100000) for i in range(6)} <= got
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "_bb" in plan.split("PartitionFilters")[1][:160], (
        f"bucket-dir filter not pushed to partition pruning:\n{plan[:1200]}"
    )


def test_minhash_incremental_overlapping_ids_no_fanout(spark, sf_dir, tmp_path):
    """ADVICE r5: when the increment's ids OVERLAP the index (the
    same-table `neardup` CLI flow), the unioned signature/shingle tables
    held each id twice and the prefilter/verify joins fanned out — 16
    duplicate rows per distinct pair. The index tables are now anti-joined
    against the increment's ids first, so every verified pair appears
    exactly once and the pair SET equals the non-overlapping answer."""
    base = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 30)
    )
    aug = D.augmented_docs(base)  # 30 docs + 30 near-dup copies
    idx = D.minhash_index(aug, str(tmp_path / "mh_overlap"))
    # increment = a SUBSET of the indexed corpus itself (full id overlap)
    inc = aug.filter((F.col("doc_id") < 6) | (F.col("doc_id").between(100000, 100005)))
    rows = D.minhash_lsh_pairs_incremental(inc, idx, threshold=0.5).collect()
    pairs = [(r.id_a, r.id_b) for r in rows]
    assert len(pairs) == len(set(pairs)), (
        f"duplicate verified rows: {len(pairs)} rows, {len(set(pairs))} distinct"
    )
    assert {(i, i + 100000) for i in range(6)} <= set(pairs)
