"""The composed training-corpus pipeline — the end-to-end job the
individual operator families exist for, chained in the order production
web-corpus pipelines (C4, Gopher, FineWeb) run them:

    extract → exact dedup → boilerplate-line dedup → quality filters
            → eval-set decontamination → deterministic split

Ordering note (caught by the composition test, not theory): exact dedup
MUST precede cross-document line dedup — an exact-duplicate pair feeds
every one of its lines into the frequency count at df ≥ 2, so line dedup
at ``min_df=2`` annihilates BOTH copies entirely instead of leaving one
survivor. Collapsing exact duplicates first keeps the line-frequency
counts meaningful (one vote per distinct document).

Execution shape: stages that feed MULTIPLE downstream branches
(extraction output; the line-deduped text; the pre-decontamination
survivor set) are materialized to scratch parquet — the repo's
established pattern (dedup signatures, CC frontiers) — because a
DataFrame joined against a derivative of itself otherwise re-executes its
whole lineage once per branch: before this, one action's physical plan
contained 32 MapInArrow extraction nodes (the full corpus re-extracted
per self-join side, doubling at every stage — r4 review, verified by plan
inspection). With the checkpoints, extraction runs exactly once and the
final plan contains ZERO MapInArrow nodes (plan-asserted in
tests/test_corpus_pipeline.py); the optional per-stage stats counts ride
the checkpoint writes themselves as ``Observation`` metrics — zero extra
actions, zero re-scans (VERDICT r4 #7; enforced by
test_stats_cost_zero_extra_actions, which bans DataFrame.count outright
during a stats run).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mistral_ocr_spark.operators import dedup as D
from mistral_ocr_spark.operators import sampling as SM
from mistral_ocr_spark.operators import textstats as X
from mistral_ocr_spark.operators.extract import extract_pages
from mistral_ocr_spark.scratch import materialize, scratch_path, scratch_table_dir


def _materialize(
    df: DataFrame,
    scratch: str,
    name: str,
    stats: dict | None = None,
    stat_key: str | None = None,
    extra_obs: list | None = None,
) -> DataFrame:
    """Checkpoint ``df`` to scratch parquet. When ``stats`` is given, the
    surviving-row count rides the write itself via an ``Observation``
    (the CC-fingerprint pattern, graph.py) — zero extra actions, zero
    re-scans (VERDICT r4 #7: per-stage ``count()`` calls paid a full extra
    scan each at corpus scale). ``extra_obs`` lets mid-plan observations
    (attached upstream of this write) resolve on the same action: pass
    ``(observation, stat_key)`` pairs."""
    from pyspark.sql import Observation

    obs = None
    if stats is not None and stat_key is not None:
        obs = Observation(f"corpus_{name}_{stat_key}")
        df = df.observe(obs, F.count(F.lit(1)).alias("n"))
    out = materialize(df, scratch_path(scratch, name))
    if obs is not None:
        stats[stat_key] = int(obs.get["n"])
    if stats is not None:
        for o, key in extra_obs or []:
            stats[key] = int(o.get["n"])
    return out


def build_training_corpus(
    pages: DataFrame,
    benchmark: DataFrame | None = None,
    robots_rules: DataFrame | None = None,
    honor_directives: bool = False,
    min_quality: float = 0.0,
    require_gopher: bool = False,
    require_rep: bool = True,
    line_min_df: int | None = 2,
    decontaminate_n: int = 13,
    lm_dir: str | None = None,
    max_ppl: float | None = None,
    train_frac: float = 0.9,
    split_salt: str = "corpus-v1",
    stats: dict | None = None,
    scratch_dir: str | None = None,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → training corpus
    ``(doc_id, url, text, quality, n_words, split)``.

    Stages (each optional where a production recipe would make it so):

    0. CRAWL POLICY (optional) — ``robots_rules`` (a ``parse_robots``
       output) drops pages the site disallowed for the collecting
       crawler BEFORE extraction (one host-keyed join, map-side
       decision); ``honor_directives=True`` then collapses
       ``rel=canonical`` mirror sets to their declared target and drops
       robots-noindex pages (``urls.canonical_dedup`` — costs one extra
       window shuffle of the RAW pages, which is why it is opt-in).
    1. EXTRACT — in-cluster main-content extraction; rows with an
       ``error_class`` (undecodable, empty, unsupported PDF) drop here.
       ``doc_id`` is the deterministic xxhash64 of the url, and one row
       survives per doc_id via a max-struct reduce — re-crawled URLs
       (same url, multiple WARC snapshots) and 64-bit hash collisions
       (expected in the thousands at 10^12 urls) would otherwise fan out
       every downstream self-join (r4 review, verified by execution).
    2. EXACT DEDUP — one survivor per normalized-text fingerprint
       (min doc_id wins, deterministic). Runs BEFORE line dedup — see the
       module docstring's ordering note.
    3. LINE DEDUP — ``cross_doc_line_dedup``: boilerplate lines appearing
       in ≥ ``line_min_df`` DISTINCT documents vanish from every document
       (skipped when ``line_min_df`` is None); documents left empty drop.
    4. QUALITY — ``web_quality_signals`` over the cleaned text, with the
       legacy quality score CARRIED through the operator's single
       exchange (no separate branch, no extra join); keep rows with
       ``quality ≥ min_quality`` and the requested Gopher / repetition
       flags.
    5. LM FILTER — CCNet's perplexity cut (when ``lm_dir`` AND ``max_ppl``
       are given): score the survivors against the persisted
       ``ngram_lm_train`` model and keep ``ppl ≤ max_ppl`` (low
       perplexity = reference-like text; gibberish and boilerplate score
       high). Runs after the cheap quality heuristics so the LM joins see
       the smallest candidate set.
    6. DECONTAMINATE — drop any document sharing a ``decontaminate_n``-gram
       with the ``benchmark`` DataFrame (id_col ``bench_id``, text column
       ``text``); skipped when no benchmark is given.
    7. SPLIT — ``sampling.hash_split_column``: shuffle-free,
       cluster-size-stable train/holdout labeling (the same bucket ranges
       as ``hash_split``, via the shared public API).

    ``stats``, when given, is filled with per-stage surviving-row counts,
    each observed ON the stage's checkpoint write (no extra jobs; the
    decontamination stage gains a final checkpoint so its count — and the
    gram join itself — runs once, shared with the caller's action).
    """
    from pyspark.sql import Observation

    scratch = scratch_dir or scratch_table_dir(pages.sparkSession)

    if robots_rules is not None:
        from mistral_ocr_spark.operators.robots import filter_disallowed

        pages = filter_disallowed(pages, robots_rules)
    if honor_directives:
        from mistral_ocr_spark.operators.urls import canonical_dedup

        pages = canonical_dedup(pages, drop_noindex=True).drop("canonical_key")

    ext = extract_pages(pages)
    docs = (
        ext.filter(F.col("error_class").isNull())
        .select(F.xxhash64("url").alias("doc_id"), "url", "text")
        .groupBy("doc_id")
        .agg(F.max(F.struct("url", "text")).alias("_r"))
        .select("doc_id", F.col("_r.url").alias("url"), F.col("_r.text").alias("text"))
    )
    # the "extracted" count rides MID-PLAN on the checkpoint-1 write (the
    # exact-dedup window below is linear, so the observed node appears in
    # the plan exactly once — no branch, no double-observe)
    obs_ext = None
    if stats is not None:
        obs_ext = Observation("corpus_extracted_rows")
        docs = docs.observe(obs_ext, F.count(F.lit(1)).alias("n"))
    # exact dedup in its single-pass window form (min doc_id per
    # normalized-text fingerprint survives — same keeper rule as
    # D.exact_dedup, see its docstring) so extraction, the dedup, and BOTH
    # stage counts resolve in checkpoint 1's one write action
    docs = D.exact_dedup_survivors(docs, key_col="doc_id")
    # checkpoint 1: extraction runs ONCE; every later branch reads parquet
    docs = _materialize(
        docs,
        scratch,
        "corpus_extracted",
        stats,
        "after_exact_dedup",
        extra_obs=[(obs_ext, "extracted")] if obs_ext is not None else None,
    )

    if line_min_df is not None:
        cleaned = D.cross_doc_line_dedup(
            docs.select("doc_id", "text"), min_df=line_min_df
        ).select("doc_id", "text")
        docs = docs.drop("text").join(cleaned, "doc_id")
        docs = docs.filter(F.length(F.trim("text")) > 0)
    # checkpoint 2: the cleaned text feeds the quality exchange and (when
    # decontaminating) the gram join — materialize once; the line-dedup
    # survivor count rides the write
    docs = _materialize(
        docs,
        scratch,
        "corpus_cleaned",
        stats if line_min_df is not None else None,
        "after_line_dedup",
    )

    scored = X.web_quality_signals(
        X.with_quality_score(docs), carry_cols=["url", "text", "quality"]
    )
    keep = F.col("quality") >= min_quality
    if require_gopher:
        keep = keep & (F.col("gopher_pass") == 1)
    if require_rep:
        keep = keep & (F.col("rep_pass") == 1)
    deduped = scored.filter(keep).select(
        "doc_id", "url", "text", "quality", "n_words"
    )
    if (lm_dir is None) != (max_ppl is None):
        # half-specified LM config must fail loudly: silently skipping the
        # stage ships an unfiltered corpus and surfaces only after model
        # training (r5 review)
        raise ValueError(
            "lm_dir and max_ppl must be given together "
            f"(got lm_dir={lm_dir!r}, max_ppl={max_ppl!r})"
        )
    lm_active = lm_dir is not None
    if benchmark is not None or stats is not None or lm_active:
        # checkpoint 3: the survivor set is both the decontamination /
        # LM-scoring input and the join-back left side (a lazy deduped
        # here would re-run the whole quality lineage once per self-join
        # branch); when only stats are requested the materialization also
        # carries the count and spares the caller the quality recompute
        deduped = _materialize(deduped, scratch, "corpus_quality", stats, "after_quality")

    if lm_active:
        ppl = X.lm_perplexity(deduped.select("doc_id", "text"), lm_dir)
        keep_ids = ppl.filter(F.col("ppl") <= max_ppl).select("doc_id")
        deduped = deduped.join(keep_ids, "doc_id")
        # NULL-text docs get no score row and thus drop here too — they
        # cannot exist at this stage (extraction errors dropped at stage
        # 1), so the inner join loses nothing else
        if stats is not None or benchmark is not None:
            # materialize whenever decontamination follows (r5 review: a
            # lazy LM-join would feed BOTH decontamination self-join
            # branches and re-score the whole corpus once per branch) or
            # the stats contract needs the count
            deduped = _materialize(
                deduped, scratch, "corpus_lm", stats, "after_lm_filter"
            )

    if benchmark is not None:
        dirty = (
            D.decontaminate(deduped, benchmark, n=decontaminate_n)
            .select("doc_id")
            .distinct()
        )
        deduped = deduped.join(dirty, "doc_id", "left_anti")
        if stats is not None:
            # checkpoint 4 exists only for the stats contract: the count
            # rides the write, and the one decontamination execution is
            # shared with the caller's downstream action via the parquet
            deduped = _materialize(
                deduped, scratch, "corpus_final", stats, "after_decontamination"
            )

    split = SM.hash_split_column(
        "doc_id", {"train": train_frac, "holdout": 1.0 - train_frac}, salt=split_salt
    )
    return deduped.select(
        "doc_id", "url", "text", "quality", "n_words", split.alias("split")
    )


def dedup_increment(
    corpus_docs: DataFrame | None,
    increment_docs: DataFrame,
    *,
    expected_corpus_docs: int,
    corpus_bloom=None,
    corpus_fingerprints: DataFrame | None = None,
    minhash_index_dir: str | None = None,
    threshold: float = 0.8,
    fpp: float = 1e-3,
    text_col: str = "text",
    key_col: str = "doc_id",
    scratch_dir: str | None = None,
) -> DataFrame:
    """The incremental-ingestion composition: rows of ``increment_docs``
    that are NOVEL against an existing corpus. The daily-crawl shape at
    10^12 docs: the corpus contributes a fixed-size Bloom bitmap and a
    fingerprint table — BOTH persistable (``bloom.save_bloom`` /
    a parquet of ``dedup.content_fingerprint`` values), so with
    ``corpus_bloom`` + ``corpus_fingerprints`` supplied the corpus TEXT
    is never touched; passing only ``corpus_docs`` derives both from it
    (one corpus text scan for the bitmap build and one for the verify
    join — correct, but not the incremental cost model, and the reason
    the prebuilt parameters exist). Only the increment's text is ever
    normalized, shingled, and signed.

    1. EXACT — within-increment duplicates collapse first
       (``exact_dedup_survivors``'s min-key rule), then the corpus Bloom
       filter drops every increment row whose exact content already
       exists (``exact_verify=True`` keeps the anti-join equality exact —
       only the ~fpp candidate sliver joins the corpus FINGERPRINTS).
    2. NEAR (when ``minhash_index_dir`` is given) —
       ``minhash_lsh_pairs_incremental`` against the prebuilt index,
       resolved with BATCH semantics: connected components run over ALL
       within-increment pairs, and a cluster with ANY member that
       near-matches the corpus drops WHOLLY (the corpus already holds a
       representative of that content — exactly what a full rebuild's CC
       over the union would decide; pre-filtering the edges instead
       would break transitivity whenever the bridge doc is the one that
       matched the corpus, r5 review, reproduced). Untainted clusters
       keep their min doc_id.

    ids must be unique across corpus and increment (the pipeline's
    xxhash64(url) key). Output: the surviving increment rows, original
    columns. The exact stage runs FIRST for the same reason the corpus
    pipeline orders exact before line dedup: it shrinks what the
    (costlier) near-dup stage must sign.
    """
    from mistral_ocr_spark.operators.bloom import bloom_dedup_increment, build_bloom
    from mistral_ocr_spark.operators.graph import connected_components

    if "_fp" in increment_docs.columns:
        raise ValueError(
            "dedup_increment: increment_docs carries a column named '_fp', "
            "which collides with the internal fingerprint helper"
        )
    if corpus_fingerprints is None and corpus_docs is None:
        raise ValueError(
            "dedup_increment: pass corpus_docs, or the prebuilt "
            "corpus_fingerprints (+ optionally corpus_bloom)"
        )
    scratch = scratch_dir or scratch_table_dir(increment_docs.sparkSession)

    inc = D.exact_dedup_survivors(increment_docs, text_col=text_col, key_col=key_col)
    inc = inc.withColumn("_fp", D.content_fingerprint(text_col))
    if corpus_fingerprints is None:
        corpus_fingerprints = corpus_docs.select(
            D.content_fingerprint(text_col).alias("_fp")
        )
    else:
        corpus_fingerprints = corpus_fingerprints.select(
            F.col(corpus_fingerprints.columns[0]).alias("_fp")
        )
    if corpus_bloom is None:
        corpus_bloom = build_bloom(
            corpus_fingerprints, "_fp", expected_items=expected_corpus_docs, fpp=fpp
        )
    novel = bloom_dedup_increment(
        corpus_fingerprints,
        inc,
        "_fp",
        expected_items=expected_corpus_docs,
        fpp=fpp,
        exact_verify=True,
        scratch_dir=scratch,
        prebuilt=corpus_bloom,
    ).drop("_fp")
    if minhash_index_dir is None:
        return novel

    # checkpoint: the near-dup stage branches `novel` (pair mining + the
    # final anti-joins) — materialize so the bloom probe runs once
    novel = materialize(novel, scratch_path(scratch, "inc_novel"))

    pairs = D.minhash_lsh_pairs_incremental(
        novel,
        minhash_index_dir,
        threshold=threshold,
        key_col=key_col,
        text_col=text_col,
        include_new_new=True,
        scratch_dir=scratch,
    )
    pairs = materialize(pairs, scratch_path(scratch, "inc_pairs"))
    inc_ids = novel.select(F.col(key_col).alias("_iid"))
    # a pair is within-increment iff BOTH sides are increment ids; any
    # other pair names a corpus member
    a_inc = pairs.join(inc_ids, pairs["id_a"] == inc_ids["_iid"], "left_semi")
    b_inc = pairs.join(inc_ids, pairs["id_b"] == inc_ids["_iid"], "left_semi")
    both = a_inc.select("id_a", "id_b").intersect(b_inc.select("id_a", "id_b"))
    vs_corpus_members = (
        a_inc.select("id_a", "id_b").union(b_inc.select("id_a", "id_b"))
        .subtract(both)
    )
    drop_vs_corpus = (
        vs_corpus_members.select(F.col("id_a").alias("_did"))
        .union(vs_corpus_members.select(F.col("id_b").alias("_did")))
        .join(inc_ids, F.col("_did") == F.col("_iid"), "left_semi")
        .distinct()
    )
    # join hubs: `both` feeds CC and the taint join; `drop_vs_corpus`
    # feeds the taint join and the final anti-join — materialize each
    # once (the module's checkpoint discipline; r5 review)
    both = materialize(both, scratch_path(scratch, "inc_within"))
    drop_vs_corpus = materialize(drop_vs_corpus, scratch_path(scratch, "inc_vs_corpus"))

    # BATCH semantics: CC over ALL within pairs (edges through
    # corpus-dropped bridges included), then a cluster containing any
    # corpus-matching member drops wholly; untainted clusters keep min id
    clusters = connected_components(both, scratch_dir=scratch)
    tainted = (
        clusters.join(
            drop_vs_corpus, clusters["node"] == drop_vs_corpus["_did"], "left_semi"
        )
        .select("cluster_id")
        .distinct()
    )
    cluster_drops = (
        clusters.join(tainted, "cluster_id", "left_semi")
        .select(F.col("node").alias("_lid"))
        .union(
            clusters.filter(F.col("node") != F.col("cluster_id")).select(
                F.col("node").alias("_lid")
            )
        )
        .union(drop_vs_corpus.select(F.col("_did").alias("_lid")))
        .distinct()
    )
    return novel.join(
        cluster_drops, novel[key_col] == cluster_drops["_lid"], "left_anti"
    )
