"""Streaming incremental-extraction tests: exactly-once across restarts
via Spark's streaming checkpoint (the alternative to lineage resume)."""

from __future__ import annotations

import shutil
import tempfile

from mistral_ocr_spark.sources.fixtures import generate_pages


def test_stateful_host_stats_across_restarts(spark):
    """applyInPandasWithState: per-host counters accumulate across two
    separate stream invocations (state restored from the checkpoint), and
    the final counters equal the batch groupBy over all input."""
    import tempfile

    from pyspark.sql import functions as F

    from mistral_ocr_spark.streaming.stateful import host_stats_stream, latest_host_stats

    base = tempfile.mkdtemp(prefix="ocr_state_")
    pages_dir, out_dir, ckpt = f"{base}/pages", f"{base}/out", f"{base}/ckpt"

    first = generate_pages(spark, 300, partitions=2)
    first.write.mode("append").parquet(pages_dir)
    host_stats_stream(spark, pages_dir, out_dir, ckpt)
    hot_1 = latest_host_stats(spark, out_dir).filter("host = 'hot.example.com'").first()
    assert hot_1.pages == 90  # 30% of 300

    # new files land; state must carry over, not restart from zero
    second = generate_pages(spark, 200, partitions=1).selectExpr(
        "concat(url, '?r2') AS url", "warc_ts", "html", "text", "lang"
    )
    second.write.mode("append").parquet(pages_dir)
    host_stats_stream(spark, pages_dir, out_dir, ckpt)

    stats = {r.host: (r.pages, r.bytes) for r in latest_host_stats(spark, out_dir).collect()}
    expected = {
        r.host: (r.pages, r.bytes)
        for r in spark.read.parquet(pages_dir)
        .groupBy(F.parse_url("url", F.lit("HOST")).alias("host"))
        .agg(
            F.count(F.lit(1)).alias("pages"),
            F.sum(F.coalesce(F.octet_length("html"), F.lit(0))).alias("bytes"),
        )
        .collect()
    }
    assert stats == expected
    assert stats["hot.example.com"][0] == 150  # 90 + 60
    shutil.rmtree(base, ignore_errors=True)


def test_windowed_counts_match_batch(spark):
    """Watermarked streaming window agg == batch window agg on a finite
    input (all windows emit under AvailableNow because the stream ends)."""
    import tempfile

    from mistral_ocr_spark.streaming.metrics import (
        batch_event_counts,
        windowed_event_counts,
    )

    base = tempfile.mkdtemp(prefix="ocr_winagg_")
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.write.mode("overwrite").parquet(f"{base}/events")
    windowed_event_counts(spark, f"{base}/events", f"{base}/out", f"{base}/ckpt")
    streamed = spark.read.parquet(f"{base}/out")
    expected = batch_event_counts(spark, events)

    # Append mode only emits windows the watermark has passed; windows
    # inside the final watermark horizon stay in state when a finite
    # stream ends. Compare the closed-window prefix.
    from pyspark.sql import functions as F

    max_ts = events.agg(F.max("ts")).collect()[0][0]
    import datetime

    horizon = max_ts - datetime.timedelta(hours=2)
    key = ["window_start", "window_end", "event_type"]
    s = {tuple(r) for r in streamed.select(*key, "n", "sum_value").collect()}
    e = {
        tuple(r)
        for r in expected.filter(F.col("window_end") <= horizon)
        .select(*key, "n", "sum_value")
        .collect()
    }
    assert e <= s and len(e) > 0  # every closed window matches exactly
    assert s <= {
        tuple(r) for r in expected.select(*key, "n", "sum_value").collect()
    }  # and nothing emitted disagrees with batch
    shutil.rmtree(base, ignore_errors=True)


def test_streaming_commits_into_catalog(spark):
    """Streamed extraction lands in the same manifest table as the batch
    pipeline: committed chunks per micro-batch, lineage rows, latest-wins
    reads, exactly-once across re-invocations, CLI-readable."""
    import tempfile

    from pyspark.sql import functions as F

    from mistral_ocr_spark.sources import catalog
    from mistral_ocr_spark.streaming.incremental import incremental_extract_to_catalog

    base = tempfile.mkdtemp(prefix="ocr_stream_cat_")
    pages_dir, tbl, ckpt = f"{base}/pages", f"{base}/tbl", f"{base}/ckpt"

    generate_pages(spark, 400, partitions=2).write.mode("append").parquet(pages_dir)
    incremental_extract_to_catalog(spark, pages_dir, tbl, ckpt)
    assert catalog.read_extracted(spark, tbl).count() == 400
    lin = catalog.read_lineage(spark, tbl)
    assert lin.agg(F.sum("doc_count")).collect()[0][0] == 400

    # idempotent rerun: no new files, nothing duplicated
    m_before = catalog.load_manifest(tbl)
    incremental_extract_to_catalog(spark, pages_dir, tbl, ckpt)
    assert catalog.read_extracted(spark, tbl).count() == 400
    assert catalog.load_manifest(tbl)["data_files"] == m_before["data_files"]

    # new files land -> a new chunk commits; urls stay exactly-once
    generate_pages(spark, 150, partitions=1).selectExpr(
        "concat(url, '?s2') AS url", "warc_ts", "html", "text", "lang"
    ).write.mode("append").parquet(pages_dir)
    incremental_extract_to_catalog(spark, pages_dir, tbl, ckpt)
    latest = catalog.read_extracted_latest(spark, tbl)
    assert latest.count() == 550
    assert latest.select("url").distinct().count() == 550
    chunks = catalog.committed_chunks(tbl, "stream-0001")
    assert len(chunks) >= 2

    shutil.rmtree(base, ignore_errors=True)


def test_streaming_dedup_across_invocations(spark):
    """dropDuplicates state survives restarts: a fingerprint emitted in
    invocation 1 must be suppressed when it re-arrives in invocation 2,
    and duplicates inside one batch collapse to one row."""
    from pyspark.sql import functions as F

    from mistral_ocr_spark.streaming.dedup import dedup_stream, read_deduped

    base = tempfile.mkdtemp(prefix="ocr_sdedup_")
    pages_dir, out_dir, ckpt = f"{base}/pages", f"{base}/out", f"{base}/ckpt"

    first = generate_pages(spark, 300, partitions=2)
    # plant in-batch duplicates: same text under new urls
    dupes = first.limit(50).selectExpr(
        "concat(url, '?dup') AS url", "warc_ts", "html", "text", "lang"
    )
    first.unionAll(dupes).write.mode("append").parquet(pages_dir)
    dedup_stream(spark, pages_dir, out_dir, ckpt)
    out1 = read_deduped(spark, out_dir)
    n1 = out1.count()
    assert n1 == out1.select("fingerprint").distinct().count()
    distinct_first = (
        generate_pages(spark, 300, partitions=2)
        .select(F.md5(F.trim(F.regexp_replace("text", r"\s+", " "))).alias("f"))
        .distinct()
        .count()
    )
    assert n1 == distinct_first

    # invocation 2: 100 replayed duplicates + 100 genuinely new docs
    second_dupes = first.limit(100).selectExpr(
        "concat(url, '?r2') AS url", "warc_ts", "html", "text", "lang"
    )
    fresh = generate_pages(spark, 400, partitions=1).filter(
        ~F.col("url").isin([r.url for r in first.select("url").collect()])
    )
    second_dupes.unionAll(fresh).write.mode("append").parquet(pages_dir)
    dedup_stream(spark, pages_dir, out_dir, ckpt)

    out2 = read_deduped(spark, out_dir)
    assert out2.count() == out2.select("fingerprint").distinct().count()
    all_distinct = (
        spark.read.parquet(pages_dir)
        .select(F.md5(F.trim(F.regexp_replace("text", r"\s+", " "))).alias("f"))
        .distinct()
        .count()
    )
    assert out2.count() == all_distinct  # exactly one row per fingerprint ever

    shutil.rmtree(base, ignore_errors=True)


def test_streaming_dedup_within_watermark_bounds_state(spark):
    """The bounded-state variant: duplicates arriving inside the watermark
    horizon are suppressed; the stream runs with event-time state eviction
    (the 10^12-row shape — state O(horizon), not O(corpus))."""
    from pyspark.sql import functions as F

    from mistral_ocr_spark.streaming.dedup import dedup_stream, read_deduped

    base = tempfile.mkdtemp(prefix="ocr_sdedup_wm_")
    pages_dir, out_dir, ckpt = f"{base}/pages", f"{base}/out", f"{base}/ckpt"

    pages = generate_pages(spark, 200, partitions=2)
    dupes = pages.limit(60).selectExpr(
        "concat(url, '?dup') AS url",
        "warc_ts + INTERVAL 10 MINUTES AS warc_ts",  # inside the horizon
        "html", "text", "lang",
    )
    pages.unionAll(dupes).write.mode("append").parquet(pages_dir)
    dedup_stream(spark, pages_dir, out_dir, ckpt, within_watermark="1 hour")

    out = read_deduped(spark, out_dir)
    expected = (
        spark.read.parquet(pages_dir)
        .select(F.md5(F.trim(F.regexp_replace("text", r"\s+", " "))).alias("f"))
        .distinct()
        .count()
    )
    assert out.count() == expected
    assert out.select("fingerprint").distinct().count() == expected

    shutil.rmtree(base, ignore_errors=True)
