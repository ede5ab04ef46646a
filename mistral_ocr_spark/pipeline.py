"""The extraction pipeline: scan → resume → salted repartition →
mapInArrow extract → atomic commit of results + per-partition lineage.

Spark-native re-expression of the reference's submit/track/retrieve loop
(/root/reference/src/mistral_ocr/simple_client.py:378-536). A "batch job"
becomes a *chunk* — a deterministic hash-slice of the input keyspace —
and the 100-docs-per-request partitioning rule (README.md:380-392) becomes
partition sizing inside each chunk. Crash-resume semantics mirror the
reference's cache-first idempotency (simple_client.py:481-483): committed
chunks are never reprocessed, and a chunk is either fully committed
(data + lineage, one atomic manifest swap) or invisible.

Scale design (100 TB / 10^12 rows):
- chunk predicate ``pmod(xxhash64(url), n_chunks)`` is deterministic in the
  data, independent of partitioning/executor count → resume is exact on a
  1000-executor cluster too.
- **salted repartition on url-host hash** defuses crawl-domain skew: hot
  hosts (one host can be >30% of a crawl) are split over a salt of 8
  cells per partition while typical hosts stay co-located, which
  keeps any later per-host aggregation cheap and bounds task stragglers.
- extraction itself is map-only (no shuffle besides the explicit
  repartition); lineage aggregation reads back the just-written parquet
  (column-pruned: url + counters) instead of recomputing the extraction.
"""

from __future__ import annotations

import datetime as _dt
import os
import time
import uuid

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from mistral_ocr_spark import EXTRACTOR_VERSION
from mistral_ocr_spark.operators.extract import extract_pages
from mistral_ocr_spark.sources import catalog


def salted_repartition(pages: DataFrame, num_partitions: int) -> DataFrame:
    """Repartition on (host-hash, salt) — SURVEY.md §4.2 point 1.

    Plain ``repartition(n, host)`` would put an entire hot host in one
    task; adding a salt of ``8 × num_partitions`` cells splits each host
    across partitions while keeping the shuffle a single exchange, so a
    single pathological host (30%+ of a crawl) still spreads ~uniformly
    over all partitions rather than landing on a few.
    Measured on the hot-host fixture (12 partitions): 4× salt → max/mean
    2.0 at an 80%-hot host; 8× → 1.6; 16× → 1.4. Salt cells cost nothing
    downstream (extraction is per-row) and finer cells smooth the
    partition-composition variance.
    """
    salt_buckets = 8 * num_partitions
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    # Salt from a DIFFERENT hash than the chunking hash: chunk membership
    # already conditions on xxhash64(url) % n_chunks, so reusing the same
    # hash for the salt would leave only salt_buckets/n_chunks distinct
    # salt values within a chunk (measured: skew ratio 3.2x at 8 chunks).
    # Hashing (url, 'salt') decorrelates the two.
    salt = F.pmod(F.xxhash64(F.col("url"), F.lit("salt")), F.lit(salt_buckets))
    return pages.repartition(num_partitions, F.xxhash64(host), salt)


def _lineage(ext: DataFrame, run_id: str, started_at: _dt.datetime) -> DataFrame:
    """Per-(chunk, partition) lineage rows, aggregated from the written
    rows; ``chunk`` stays as the partition column of the lineage write."""
    completed = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
    return ext.groupBy("chunk", "partition_id").agg(
        F.min("url").alias("url_min"),
        F.max("url").alias("url_max"),
        F.count(F.lit(1)).alias("doc_count"),
        F.sum("html_bytes").alias("byte_count"),
        F.sum(F.when(F.col("error_class").isNull(), 1).otherwise(0)).alias("succeeded"),
        F.sum(F.when(F.col("error_class").isNotNull(), 1).otherwise(0)).alias("failed"),
    ).select(
        F.lit(run_id).alias("run_id"),
        F.col("chunk").alias("chunk_id"),
        F.col("partition_id"),
        "url_min",
        "url_max",
        "doc_count",
        "byte_count",
        "succeeded",
        "failed",
        F.lit(EXTRACTOR_VERSION).alias("extractor_version"),
        F.lit("complete").alias("status"),
        F.lit(started_at).alias("started_at"),
        F.lit(completed).alias("completed_at"),
        "chunk",
    )


def commit_chunks(
    spark: SparkSession,
    extracted: DataFrame,
    out_root: str,
    run_id: str,
    chunk: Column,
    pending: list[int],
) -> int:
    """Write ``extracted`` rows, aggregate their lineage, and commit each of
    ``pending`` chunks (``chunk`` gives each row's chunk id) under its own
    atomic manifest, in chunk order. Returns the number of rows written.

    Two jobs whatever ``len(pending)``: one writes the data with
    ``partitionBy("chunk")``; one reads back the pruned counter columns and
    writes one lineage file per chunk, its doc count observed on that
    write. Both land in a fresh directory per call: committed manifests
    reference absolute file paths from earlier calls, so overwriting a
    shared directory on resume would delete committed files. A crash
    before a chunk's commit leaves its files orphaned and invisible.
    """
    started = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
    extracted = extracted.withColumn("run_id", F.lit(run_id))
    schema_json = extracted.schema.jsonValue()  # before the partition column
    write_id = f"write-{uuid.uuid4().hex[:12]}"
    data_root = os.path.join(out_root, "data", f"run={run_id}", write_id)
    lin_root = os.path.join(out_root, "lineage", f"run={run_id}", write_id)
    # chunk becomes a directory (dropped from the file contents; readers
    # list leaf files under the table schema). Sorting by url within each
    # (partition, chunk) makes parquet row-group min/max stats tight url
    # ranges, so point lookups (results/search verbs) prune row groups.
    (
        extracted.withColumn("chunk", chunk.cast("int"))
        .sortWithinPartitions("chunk", "url")
        .write.partitionBy("chunk")
        .parquet(data_root)
    )
    data_files = {c: catalog.list_parquet_files(f"{data_root}/chunk={c}") for c in pending}
    docs = 0
    if any(data_files.values()):  # a pending chunk can be empty
        # explicit schema: no schema-inference job; `chunk` comes from the
        # directory names. Only the counter columns are read back.
        ext = spark.read.schema(
            "url string, html_bytes long, error_class string, partition_id int, chunk int"
        ).parquet(data_root)
        obs = Observation(f"lineage_{write_id}")
        (
            _lineage(ext, run_id, started)
            .observe(obs, F.sum("doc_count").alias("docs"))
            .coalesce(1)
            .write.partitionBy("chunk")
            .parquet(lin_root)
        )
        docs = int(obs.get["docs"] or 0)
    for c in pending:
        catalog.commit_chunk(
            out_root,
            run_id,
            c,
            data_files[c],
            catalog.list_parquet_files(f"{lin_root}/chunk={c}"),
            schema_json=schema_json,
        )
    return docs


def run(
    spark: SparkSession,
    pages: DataFrame,
    out_root: str,
    run_id: str = "run-0001",
    n_chunks: int = 4,
    num_partitions: int | None = None,
    max_chunks: int | None = None,
) -> dict:
    """Run (or resume) an extraction over ``pages`` into ``out_root``.

    Every pending chunk (not yet committed for ``run_id``) is extracted in
    ONE job: the input is scanned once, the chunk id is derived as a
    column, and the rows are written ``partitionBy("chunk")``; then one
    lineage job covers all of them and each chunk commits its own atomic
    manifest (``commit_chunks``). The number of Python tasks per call is
    ``num_partitions``, whatever ``n_chunks`` is.

    The trade: a chunk is still visible iff its manifest committed, and a
    resume still skips committed chunks, but a driver crash before the
    commits loses the whole invocation's work, not one chunk's.
    ``max_chunks`` bounds that loss: it extracts and commits at most that
    many pending chunks this invocation (the hook the kill/resume tests
    use to simulate a crash).

    A cancel marker (the ``cancel`` verb) is checked once, before the
    invocation's job: a cancelled invocation extracts nothing, and a
    cancel never leaves a chunk half committed.

    Returns run stats: {"chunks_done", "chunks_skipped", "docs", "seconds"},
    where "docs" counts every committed doc of ``run_id``, earlier
    invocations' included.
    """
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    os.makedirs(out_root, exist_ok=True)
    done = catalog.committed_chunks(out_root, run_id)
    pending = [c for c in range(n_chunks) if c not in done][:max_chunks]
    stats = {"chunks_done": 0, "chunks_skipped": len(done), "docs": 0, "seconds": 0.0}
    t0 = time.time()
    if os.path.exists(os.path.join(out_root, f"_CANCEL-{run_id}")):
        # Cooperative cancel (the reference's job-cancel verb,
        # tests/test_mistral_ocr.py.original:223-225): committed chunks
        # stay committed; clearing the marker + rerunning resumes.
        stats["cancelled"] = True
    elif pending:
        chunk_expr = F.pmod(F.xxhash64(F.col("url")), F.lit(n_chunks))
        todo = pages.filter(chunk_expr.isin(pending))
        extracted = extract_pages(salted_repartition(todo, num_partitions))
        stats["docs"] = commit_chunks(spark, extracted, out_root, run_id, chunk_expr, pending)
        stats["chunks_done"] = len(pending)
        if done:  # earlier invocations committed part of this run
            lin = catalog.read_lineage(spark, out_root).filter(F.col("run_id") == run_id)
            stats["docs"] = lin.agg(F.sum("doc_count")).collect()[0][0] or 0
    stats["seconds"] = time.time() - t0
    return stats
