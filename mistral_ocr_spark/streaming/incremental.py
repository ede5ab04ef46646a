"""Incremental extraction via Structured Streaming (Trigger.AvailableNow).

The reference is explicitly poll-based batch ("No realtime feedback is
required", /root/reference/specs/01_REQUIREMENTS.md:121), so the core
pipeline uses lineage-chunk resume. This module is the alternative
checkpointing path (SURVEY.md §2.10 stretch), behind ``cli submit
--stream``: a file-source stream over a pages directory — new parquet
files landing between runs are extracted exactly-once using Spark's own
streaming checkpoint, and each micro-batch commits into the same catalog
table the batch pipeline writes.

At production scale this maps to readStream over an Iceberg/Kafka source
with the identical transformation body.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mistral_ocr_spark.operators.extract import extract_pages
from mistral_ocr_spark.sources.tables import PAGES_SCHEMA


def incremental_extract_to_catalog(
    spark: SparkSession,
    pages_dir: str,
    table_root: str,
    checkpoint_dir: str,
    run_id: str = "stream-0001",
) -> None:
    """Streaming extraction that lands in the SAME catalog table the batch
    pipeline writes: each micro-batch commits data files + per-partition
    lineage rows under one atomic manifest snapshot (chunk_id = the
    streaming batch_id), so every CLI verb — status, results, search,
    files, compact — works identically on streamed and batch tables.

    Exactly-once is double-layered: Spark's checkpoint replays an
    unacknowledged batch with the SAME batch_id after a crash, and the
    commit guard skips batch ids already in the manifest — a replayed
    foreachBatch becomes a no-op instead of duplicate files (the streaming
    analog of pipeline.run's committed-chunk skip).
    """
    from pyspark.sql import functions as F

    from mistral_ocr_spark import pipeline
    from mistral_ocr_spark.sources import catalog

    pages = spark.readStream.schema(PAGES_SCHEMA).format("parquet").load(pages_dir)
    extracted = extract_pages(pages)

    def commit_batch(df: DataFrame, batch_id: int) -> None:
        if batch_id in catalog.committed_chunks(table_root, run_id):
            return  # checkpoint replay after a crash: already committed
        pipeline.commit_chunks(
            spark, df, table_root, run_id, F.lit(batch_id), [batch_id]
        )

    q = (
        extracted.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
