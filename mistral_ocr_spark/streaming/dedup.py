"""Streaming exact deduplication: content fingerprints deduped ACROSS
micro-batches through the streaming state store.

The batch pipeline dedups with a hash-groupBy (`operators/dedup.py`); a
continuously-ingesting training-data pipeline needs the same guarantee as
pages arrive: a page whose normalized-text fingerprint was already emitted
— in this batch or any earlier one — must not be emitted again. Two
variants, same fingerprint as `dedup.exact_dedup`
(`dedup.content_fingerprint`, md5 of whitespace-normalized text):

- ``dedup_stream`` (no watermark): `dropDuplicates` over the fingerprint —
  exact forever, but the state store grows with one entry per distinct
  fingerprint; right when the key space is bounded or the run is finite
  (AvailableNow backfills).
- ``dedup_stream`` with ``within_watermark``: `dropDuplicatesWithinWatermark`
  bounds state to the watermark horizon — duplicates arriving within the
  horizon are dropped, and state for older fingerprints is evicted. The
  10^12-row shape: web crawls re-fetch a url within days, so a multi-day
  horizon removes nearly all dupes with O(horizon-throughput) state
  instead of O(corpus).

Exactly-once across restarts comes from Spark's streaming checkpoint, same
as `incremental.py` (test: duplicates spanning two separate invocations of
the stream are still suppressed — state is restored, not reset).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mistral_ocr_spark.operators.dedup import content_fingerprint
from mistral_ocr_spark.sources.tables import PAGES_SCHEMA


def dedup_stream(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    within_watermark: str | None = None,
) -> None:
    """Process all currently-available files (AvailableNow), appending only
    first-seen fingerprints to ``out_dir``. See module docstring for the
    watermarked vs unbounded state trade."""
    pages = spark.readStream.schema(PAGES_SCHEMA).format("parquet").load(pages_dir)
    fp = pages.withColumn("fingerprint", content_fingerprint())
    if within_watermark is not None:
        deduped = fp.withWatermark("warc_ts", within_watermark).dropDuplicatesWithinWatermark(
            ["fingerprint"]
        )
    else:
        deduped = fp.dropDuplicates(["fingerprint"])
    q = (
        deduped.select("url", "warc_ts", "fingerprint")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_deduped(spark: SparkSession, out_dir: str) -> DataFrame:
    import os

    schema = "url string, warc_ts timestamp, fingerprint string"
    if not os.path.exists(out_dir):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(out_dir)
