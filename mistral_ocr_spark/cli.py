"""CLI — the reference's six verbs re-expressed over Spark tables.

Reference: submit / status / results / search / list / files
(/root/reference/src/mistral_ocr/simple_cli.py:391-425). Here:

- ``submit``  → run (or resume) the extraction pipeline over a pages dir
- ``status``  → per-run counters from the lineage table (pending/complete)
- ``results`` → extracted rows for a url (cache-first semantics: reads the
  committed table, never recomputes — simple_client.py:481-483)
- ``search``  → LIKE search over extracted text, newest-first, LIMIT 50
  (simple_client.py:261-272) with ±50-char snippet (simple_cli.py:209-218)
- ``list``    → runs/chunks newest-first from lineage
- ``files``   → committed data files from the manifest

Beyond the reference's verbs: ``export`` (download tree), ``cancel``
(cooperative, checked before a submit's job), ``compact`` (bin-pack data files),
``snapshots`` (history), ``expire`` (snapshot expiry + orphan-file
removal), ``results --as-of`` (time travel), ``neardup-index`` /
``neardup`` (persisted MinHash index + incremental near-dup pairs over
extracted text), ``lm-train`` / ``lm-score`` (CCNet-style bigram-LM
perplexity triage of extracted text), ``ingest`` (append a new batch
deduplicated against the committed corpus — exact via Bloom, near via
the MinHash index), ``submit --robots`` (REP permission filter before
extraction).

Usage: python -m mistral_ocr_spark.cli <verb> [...]
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F

from mistral_ocr_spark.session import get_spark
from mistral_ocr_spark.sources import catalog
from mistral_ocr_spark.sources.tables import PAGES_SCHEMA


def cmd_submit(args) -> int:
    from mistral_ocr_spark import pipeline
    from mistral_ocr_spark.sources.fixtures import generate_pages

    spark = get_spark(app_name="ocr-submit")
    if getattr(args, "stream", False):
        # Streaming ingestion into the SAME catalog table (micro-batch =
        # committed chunk); requires --pages (a directory new files land in).
        if not args.pages:
            print(json.dumps({"error": "--stream requires --pages"}))
            return 1
        from mistral_ocr_spark.streaming.incremental import (
            incremental_extract_to_catalog,
        )

        ckpt = args.checkpoint or f"{args.table}/_stream_checkpoint"
        incremental_extract_to_catalog(
            spark, args.pages, args.table, ckpt, run_id=args.run_id
        )
        n = catalog.read_lineage(spark, args.table).filter(
            F.col("run_id") == args.run_id
        ).agg(F.sum("doc_count")).collect()[0][0]
        print(json.dumps({"streamed": True, "run_id": args.run_id, "docs": int(n or 0)}))
        return 0
    if args.pages:
        # the declared schema spares a schema-inference job; not
        # io.read_pages, whose hidden-url filter would change what submits
        pages = spark.read.schema(PAGES_SCHEMA).parquet(args.pages)
    else:
        pages = generate_pages(spark, args.generate)
    if getattr(args, "robots", None):
        # REP permission filter BEFORE extraction (operators/robots.py):
        # disallowed pages never reach the extractor or the table
        from mistral_ocr_spark.operators.robots import (
            filter_disallowed,
            parse_robots,
        )

        rules = parse_robots(
            spark.read.parquet(args.robots), user_agent=args.user_agent
        )
        pages = filter_disallowed(pages, rules)
    stats = pipeline.run(
        spark,
        pages,
        args.table,
        run_id=args.run_id,
        n_chunks=args.chunks,
        max_chunks=args.max_chunks,
    )
    print(json.dumps(stats))
    return 0


def cmd_status(args) -> int:
    spark = get_spark(app_name="ocr-status")
    lin = catalog.read_lineage(spark, args.table)
    if args.run_id:
        lin = lin.filter(F.col("run_id") == args.run_id)
    agg = lin.groupBy("run_id", "status").agg(
        F.count(F.lit(1)).alias("partitions"),
        F.sum("doc_count").alias("docs"),
        F.sum("succeeded").alias("succeeded"),
        F.sum("failed").alias("failed"),
        F.round(F.sum("succeeded") * 100.0 / F.sum("doc_count"), 1).alias("pct_ok"),
    )
    agg.orderBy("run_id", "status").show(100, truncate=False)
    return 0


def cmd_results(args) -> int:
    spark = get_spark(app_name="ocr-results")
    ext = catalog.read_extracted(spark, args.table, as_of=args.as_of)
    rows = ext.filter(F.col("url") == args.url).select(
        "url", "text", "markdown", "error_class"
    ).collect()
    for r in rows:
        print(json.dumps({"url": r.url, "text": r.text, "markdown": r.markdown,
                          "error_class": r.error_class}))
    return 0 if rows else 1


def cmd_search(args) -> int:
    spark = get_spark(app_name="ocr-search")
    ext = catalog.read_extracted(spark, args.table)
    q = args.query
    pos = F.locate(q, F.col("text"))
    hits = (
        ext.filter(F.col("text").contains(q))
        .select(
            "url",
            F.substring(
                F.col("text"), F.greatest(pos - 50, F.lit(1)), 100 + len(q)
            ).alias("snippet"),
            "warc_ts",
        )
        .orderBy(F.desc("warc_ts"), F.asc("url"))
        .limit(50)
    )
    hits.show(50, truncate=80)
    return 0


def cmd_list(args) -> int:
    spark = get_spark(app_name="ocr-list")
    lin = catalog.read_lineage(spark, args.table)
    lin.groupBy("run_id", "chunk_id").agg(
        F.sum("doc_count").alias("docs"),
        F.sum("byte_count").alias("bytes"),
        F.max("completed_at").alias("completed_at"),
    ).orderBy(F.desc("completed_at")).show(100, truncate=False)
    return 0


def cmd_cancel(args) -> int:
    import os

    marker = os.path.join(args.table, f"_CANCEL-{args.run_id}")
    if args.clear:
        try:
            os.remove(marker)
            print(json.dumps({"cleared": True, "run_id": args.run_id}))
        except FileNotFoundError:
            print(json.dumps({"cleared": False, "run_id": args.run_id}))
        return 0
    os.makedirs(args.table, exist_ok=True)
    open(marker, "w").close()
    print(json.dumps({"cancelled": True, "run_id": args.run_id}))
    return 0


def cmd_export(args) -> int:
    from mistral_ocr_spark.sources.io import export_download_tree

    spark = get_spark(app_name="ocr-export")
    ext = catalog.read_extracted_latest(spark, args.table)
    n = export_download_tree(ext, args.dest, limit=args.limit)
    print(json.dumps({"exported": n, "dest": args.dest}))
    return 0


def cmd_compact(args) -> int:
    """Table maintenance: bin-pack data files under a new snapshot (the
    Iceberg rewrite_data_files analog; preserves resume state, lineage, and
    upsert ordering — see catalog.compact)."""
    spark = get_spark(app_name="ocr-compact")
    before = len(catalog.load_manifest(args.table)["data_files"])
    m = catalog.compact(
        spark,
        args.table,
        target_rows_per_file=args.target_rows,
        expire_old_files=args.expire,
    )
    print(
        json.dumps(
            {
                "snapshot_id": m["snapshot_id"],
                "data_files_before": before,
                "data_files_after": len(m["data_files"]),
                "expired_old_files": bool(args.expire),
            }
        )
    )
    return 0


def cmd_snapshots(args) -> int:
    """Snapshot history — no Spark session needed (manifest metadata only)."""
    for s in catalog.snapshots(args.table):
        print(json.dumps(s))
    return 0


def cmd_expire(args) -> int:
    """Maintenance: expire all but the newest --keep-last snapshots and
    delete files referenced only by the expired ones (see
    catalog.expire_snapshots for the Iceberg-contract details)."""
    print(json.dumps(catalog.expire_snapshots(args.table, keep_last=args.keep_last)))
    return 0


def cmd_files(args) -> int:
    """Manifest summary + the input-file registry (the reference `files`
    verb covers both sides: simple_client.py:82-96 input registry and the
    output store). ``--refresh PATH`` upserts registry rows for PATH first."""
    if getattr(args, "refresh", None):
        spark = get_spark(app_name="ocr-files")
        catalog.register_input_files(spark, args.table, args.refresh, table="pages")
    m = catalog.load_manifest(args.table)
    out = {
        "snapshot_id": m["snapshot_id"],
        "schema_version": m.get("schema_version", 1),
        "n_data_files": len(m["data_files"]),
        "n_lineage_files": len(m["lineage_files"]),
        "committed_chunks": m["committed_chunks"],
    }
    if m.get("input_file_files"):
        spark = get_spark(app_name="ocr-files")
        reg = catalog.read_input_files(spark, args.table)
        from pyspark.sql import functions as F

        agg = reg.groupBy("table").agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("byte_size").alias("bytes"),
        ).collect()
        out["input_registry"] = {
            r.table: {"n_files": r.n_files, "n_rows": r.n_rows, "bytes": r.bytes}
            for r in agg
        }
    print(json.dumps(out, indent=1))
    return 0


def _corpus_docs(spark, table):
    """THE corpus selection every dedup-adjacent verb shares — one
    predicate and one key convention (error-free, non-empty extracted
    text; doc_id = xxhash64(url), the corpus-pipeline key): the exact
    tier's corpus, the near tier's index, and the LM's training text must
    be defined identically or the tiers silently dedup against different
    corpora (the content_fingerprint one-definition rule, r5 review)."""
    return (
        catalog.read_extracted_latest(spark, table)
        .filter(F.col("error_class").isNull() & (F.length("text") > 0))
        .select(F.xxhash64("url").alias("doc_id"), "url", "text")
    )


def cmd_ingest(args) -> int:
    """Append a NEW crawl batch to an existing table, deduplicating
    against the committed corpus first (operators/corpus.py::
    dedup_increment): exact duplicates drop via a Bloom filter over the
    corpus's content fingerprints; with ``--neardup-index`` (a
    ``neardup-index`` dir built over this table) near-duplicates drop via
    the incremental MinHash tier.

    Contract:
    - ingest appends NEW urls only — urls already committed are skipped
      outright (updating a re-crawled url is ``submit``'s job: latest-wins
      upsert semantics); this also keeps dedup_increment's id-uniqueness
      precondition intact;
    - within the batch, one snapshot per url proceeds (latest warc_ts,
      deterministic tiebreak) — the corpus pipeline's recrawl-collapse
      rule;
    - error-class / empty pages are NOT silently discarded: they flow to
      the committed run so failure counters, lineage, and the error side
      channel see them — only pages POSITIVELY identified as duplicates
      (or as already-committed urls) are withheld;
    - the near tier dedups against the index AS BUILT: rebuild
      ``neardup-index`` periodically (after ingests) or near-duplicates
      of recently ingested batches go unseen — the exact tier has no such
      lag (its filter derives from the live table every run); the stats
      line reports which index dir decided;
    - ``--run-id`` defaults to a hash of the batch path, so re-running
      the SAME batch resumes its half-committed chunks while a different
      batch gets its own run (a fixed default would mark every later
      batch's chunks "already committed" and silently ingest nothing);
    - the increment is extracted twice (decision pass + committed run) —
      extraction is the cheap in-cluster leg, and the second pass touches
      only the survivors.
    """
    import hashlib

    from pyspark.sql import Window

    from mistral_ocr_spark.operators.corpus import dedup_increment
    from mistral_ocr_spark.operators.extract import extract_pages
    from mistral_ocr_spark import pipeline
    from mistral_ocr_spark.scratch import materialize, scratch_path, scratch_table_dir

    spark = get_spark(app_name="ocr-ingest")
    scratch = scratch_table_dir(spark)
    run_id = args.run_id or (
        "ingest-" + hashlib.md5(args.pages.encode()).hexdigest()[:10]
    )

    # the corpus contributes ONLY its content fingerprints (one narrow
    # column, materialized once) — never its text (dedup_increment's
    # prebuilt-artifact path); n_corpus is a count on that compact table
    from mistral_ocr_spark.operators.dedup import content_fingerprint

    corpus_fp = materialize(
        _corpus_docs(spark, args.table).select(content_fingerprint("text").alias("fp")),
        scratch_path(scratch, "ingest_corpus_fp"),
    )
    n_corpus = corpus_fp.count()
    # the "already committed" url set is EVERY committed url — including
    # error rows, which _corpus_docs excludes from the dedup corpus: an
    # error page's url must not re-commit on every later batch it appears
    # in (its failure is already recorded; resubmitting it is submit's
    # explicit retry path, not ingest's). Plain read + distinct: the
    # latest-wins window would cost a full-table sort for an identical
    # url set (review).
    committed_urls = materialize(
        catalog.read_extracted(spark, args.table).select("url").distinct(),
        scratch_path(scratch, "ingest_committed_urls"),
    )

    pages = spark.read.schema(PAGES_SCHEMA).parquet(args.pages)  # no inference job
    # one snapshot per url: latest warc_ts, content-hash tiebreak
    w = Window.partitionBy("url").orderBy(
        F.desc_nulls_last("warc_ts"), F.xxhash64("html")
    )
    pages_one = materialize(
        pages.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        # new urls only (see contract), decided BEFORE extraction so the
        # decision pass never extracts already-committed urls (a re-run
        # of an ingested batch would otherwise re-extract everything just
        # to discard it — review). Distinct urls also keep doc_ids unique
        # across corpus and increment up to 64-bit xxhash64 collisions
        # (the corpus.py expectation: thousands at 10^12 urls; one
        # collision can misclassify one near-dup pair — accepted odds).
        .join(committed_urls, "url", "left_anti"),
        scratch_path(scratch, "ingest_pages"),
    )
    inc = materialize(
        extract_pages(pages_one)
        .filter(F.col("error_class").isNull() & (F.length("text") > 0))
        .select(F.xxhash64("url").alias("doc_id"), "url", "text"),
        scratch_path(scratch, "ingest_inc"),
    )
    novel = dedup_increment(
        None,
        inc,
        expected_corpus_docs=max(n_corpus, 1),
        corpus_fingerprints=corpus_fp,
        minhash_index_dir=args.neardup_index,
        threshold=args.threshold,
        scratch_dir=scratch,
    )
    # withhold ONLY positively-identified duplicates; error/empty pages
    # (urls absent from `inc`) flow to the run so failure accounting
    # still happens
    drop_urls = materialize(
        inc.select("url").subtract(novel.select("url")).distinct(),
        scratch_path(scratch, "ingest_drop"),
    )
    # both inputs are materialized and pipeline.run reads its pages in one
    # job, so the final page set needs no checkpoint of its own
    stats = pipeline.run(
        spark,
        pages_one.join(drop_urls, "url", "left_anti"),
        args.table,
        run_id=run_id,
        n_chunks=args.chunks,
    )
    stats["corpus_docs_before"] = n_corpus
    stats["skipped_duplicate_urls"] = drop_urls.count()
    stats["neardup_index"] = args.neardup_index
    if stats.get("chunks_skipped") and not stats.get("docs"):
        # path-derived run ids resume the SAME batch; if this path now
        # holds NEW content, the skip is wrong and must be loud (review:
        # a reused staging path would otherwise drop batches silently)
        stats["warning"] = (
            f"all chunks previously committed under run id '{run_id}' — "
            "if this path now holds a NEW batch, pass an explicit --run-id"
        )
    print(json.dumps(stats))
    return 0


def cmd_neardup_index(args) -> int:
    """Build the persisted MinHash near-dup index over a table's extracted
    text (the query-many tier — operators/dedup.py::minhash_index). Keyed
    by ``xxhash64(url)`` — the corpus-pipeline doc_id convention (urls are
    unique by the upsert contract, so the hash key is too up to the
    documented 64-bit collision odds)."""
    from mistral_ocr_spark.operators.dedup import minhash_index

    spark = get_spark(app_name="ocr-neardup-index")
    ext = _corpus_docs(spark, args.table).select("doc_id", "text")
    minhash_index(
        ext, args.index,
        num_hashes=args.num_hashes, bands=args.bands,
    )
    print(json.dumps({
        "index_dir": args.index, "docs": ext.count(),
        "num_hashes": args.num_hashes, "bands": args.bands,
    }))
    return 0


def cmd_neardup(args) -> int:
    """Near-duplicate pairs involving THIS table's docs, against a
    ``neardup-index`` built earlier (possibly from another table): the
    incremental tier — only this table's text is shingled/signed; the
    indexed corpus contributes its persisted tables."""
    from mistral_ocr_spark.operators.dedup import minhash_lsh_pairs_incremental

    spark = get_spark(app_name="ocr-neardup")
    ext = _corpus_docs(spark, args.table)
    pairs = minhash_lsh_pairs_incremental(
        ext.select("doc_id", "text"), args.index, threshold=args.threshold,
        include_new_new=not args.no_new_new,
    )
    # map THIS table's ids back to urls for display; ids only in the
    # indexed corpus (built from another table) stay numeric
    urls = ext.select("doc_id", "url")
    shown = (
        # distinct before limit (ADVICE r5): duplicate verified rows must
        # never crowd real pairs out of the display budget
        pairs.distinct()
        .join(urls.withColumnsRenamed({"doc_id": "id_a", "url": "url_a"}), "id_a", "left")
        .join(urls.withColumnsRenamed({"doc_id": "id_b", "url": "url_b"}), "id_b", "left")
        .orderBy(F.desc("jaccard"), "id_a", "id_b")
        .limit(args.limit)
        .collect()
    )
    for r in shown:
        print(json.dumps({
            "a": r.url_a if r.url_a is not None else r.id_a,
            "b": r.url_b if r.url_b is not None else r.id_b,
            "jaccard": r.jaccard,
        }))
    print(json.dumps({"pairs_shown": len(shown), "threshold": args.threshold}))
    return 0


def cmd_lm_train(args) -> int:
    """Train + persist the count-based bigram LM over a table's extracted
    text (textstats.ngram_lm_train) for CCNet-style perplexity scoring."""
    from mistral_ocr_spark.operators.textstats import ngram_lm_train

    spark = get_spark(app_name="ocr-lm-train")
    ext = _corpus_docs(spark, args.table).select("url", "text")
    ngram_lm_train(ext, args.lm, id_col="url", min_count=args.min_count)
    stats = spark.read.parquet(f"{args.lm}/stats").collect()[0]
    print(json.dumps({
        "lm_dir": args.lm,
        "n_tokens": int(stats.n_tokens),
        "vocab_size": int(stats.vocab_size),
    }))
    return 0


def cmd_lm_score(args) -> int:
    """Per-document perplexity against a ``lm-train`` model, worst (most
    gibberish-like) first — the CCNet head/middle/tail triage view."""
    from mistral_ocr_spark.operators.textstats import lm_perplexity

    spark = get_spark(app_name="ocr-lm-score")
    ext = catalog.read_extracted_latest(spark, args.table).select("url", "text")
    scored = lm_perplexity(ext, args.lm, id_col="url")
    if args.max_ppl is not None:
        scored = scored.filter(F.col("ppl") > args.max_ppl)
    rows = scored.orderBy(F.desc("ppl"), "url").limit(args.limit).collect()
    for r in rows:
        print(json.dumps({"url": r.url, "ppl": r.ppl, "n_tokens": r.n_tokens}))
    print(json.dumps({"shown": len(rows), "over_max_ppl": args.max_ppl}))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="mistral-ocr-spark")
    sub = p.add_subparsers(dest="verb", required=True)

    s = sub.add_parser("submit", help="run/resume the extraction pipeline")
    s.add_argument("--table", required=True, help="output table root dir")
    s.add_argument("--pages", help="input pages parquet dir")
    s.add_argument("--generate", type=int, default=10000,
                   help="synthesize N pages when --pages is absent")
    s.add_argument("--run-id", default="run-0001")
    s.add_argument("--chunks", type=int, default=4)
    s.add_argument("--max-chunks", type=int, default=None)
    s.add_argument("--stream", action="store_true",
                   help="streaming ingestion (micro-batch commits) instead of chunked batch")
    s.add_argument("--checkpoint", help="streaming checkpoint dir (default under table)")
    s.add_argument("--robots", help="per-host robots.txt parquet dir (host, robots_txt); "
                   "disallowed pages are dropped before extraction")
    s.add_argument("--user-agent", default="*",
                   help="crawler product token for --robots group selection")
    s.set_defaults(func=cmd_submit)

    s = sub.add_parser("status", help="per-run counters from lineage")
    s.add_argument("--table", required=True)
    s.add_argument("--run-id")
    s.set_defaults(func=cmd_status)

    s = sub.add_parser("results", help="extracted rows for a url")
    s.add_argument("--table", required=True)
    s.add_argument("--url", required=True)
    s.add_argument("--as-of", type=int, default=None, dest="as_of",
                   help="time-travel: read the table AS OF this snapshot id")
    s.set_defaults(func=cmd_results)

    s = sub.add_parser("snapshots", help="snapshot history (Iceberg snapshots table analog)")
    s.add_argument("--table", required=True)
    s.set_defaults(func=cmd_snapshots)

    s = sub.add_parser("expire", help="expire old snapshots + delete orphaned files")
    s.add_argument("--table", required=True)
    s.add_argument("--keep-last", type=int, default=3, dest="keep_last")
    s.set_defaults(func=cmd_expire)

    s = sub.add_parser("search", help="substring search over extracted text")
    s.add_argument("--table", required=True)
    s.add_argument("--query", required=True)
    s.set_defaults(func=cmd_search)

    s = sub.add_parser("list", help="runs/chunks newest-first")
    s.add_argument("--table", required=True)
    s.set_defaults(func=cmd_list)

    s = sub.add_parser("files", help="manifest summary + input-file registry")
    s.add_argument("--table", required=True)
    s.add_argument("--refresh", help="input dir to (re)register in the registry")
    s.set_defaults(func=cmd_files)

    s = sub.add_parser("compact", help="bin-pack data files under a new snapshot")
    s.add_argument("--table", required=True)
    s.add_argument("--target-rows", type=int, default=250_000)
    s.add_argument("--expire", action="store_true", help="delete superseded files")
    s.set_defaults(func=cmd_compact)

    s = sub.add_parser("cancel", help="cooperatively cancel a run: submit checks the marker before "
                       "its extraction job and then extracts nothing; committed chunks stay "
                       "committed and no chunk is left half committed")
    s.add_argument("--table", required=True)
    s.add_argument("--run-id", default="run-0001")
    s.add_argument("--clear", action="store_true", help="clear the cancel marker")
    s.set_defaults(func=cmd_cancel)

    s = sub.add_parser("export", help="write per-doc .txt/.md download tree")
    s.add_argument("--table", required=True)
    s.add_argument("--dest", required=True)
    s.add_argument("--limit", type=int, default=1000)
    s.set_defaults(func=cmd_export)

    s = sub.add_parser("ingest", help="append a new batch, deduplicated against the table")
    s.add_argument("--table", required=True)
    s.add_argument("--pages", required=True, help="new-batch pages parquet dir")
    s.add_argument("--run-id", default=None,
                   help="default: derived from the batch path, so re-running the "
                   "same batch resumes and a different batch gets its own run")
    s.add_argument("--chunks", type=int, default=4)
    s.add_argument("--neardup-index", default=None,
                   help="neardup-index dir for the near-duplicate tier (optional)")
    s.add_argument("--threshold", type=float, default=0.8)
    s.set_defaults(func=cmd_ingest)

    s = sub.add_parser("neardup-index", help="build the persisted MinHash near-dup index")
    s.add_argument("--table", required=True)
    s.add_argument("--index", required=True)
    s.add_argument("--num-hashes", type=int, default=64)
    s.add_argument("--bands", type=int, default=32)
    s.set_defaults(func=cmd_neardup_index)

    s = sub.add_parser("neardup", help="near-dup pairs vs a neardup-index (incremental tier)")
    s.add_argument("--table", required=True)
    s.add_argument("--index", required=True)
    s.add_argument("--threshold", type=float, default=0.8)
    s.add_argument("--limit", type=int, default=50)
    s.add_argument("--no-new-new", action="store_true",
                   help="only pairs against the indexed corpus, not within this table")
    s.set_defaults(func=cmd_neardup)

    s = sub.add_parser("lm-train", help="train + persist the bigram LM over extracted text")
    s.add_argument("--table", required=True)
    s.add_argument("--lm", required=True)
    s.add_argument("--min-count", type=int, default=1)
    s.set_defaults(func=cmd_lm_train)

    s = sub.add_parser("lm-score", help="per-doc perplexity vs an lm-train model, worst first")
    s.add_argument("--table", required=True)
    s.add_argument("--lm", required=True)
    s.add_argument("--max-ppl", type=float, default=None)
    s.add_argument("--limit", type=int, default=20)
    s.set_defaults(func=cmd_lm_score)

    args = p.parse_args(argv)
    return args.func(args)


if __name__ == "__main__":
    sys.exit(main())
