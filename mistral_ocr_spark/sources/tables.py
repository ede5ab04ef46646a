"""Table schemas of the engine (the Spark re-expression of the reference's
five SQLite tables, /root/reference/src/mistral_ocr/simple_client.py:30-97).

Everything is an explicit StructType — the reference's JSON-in-TEXT columns
become real nested types (SURVEY.md §1.4).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Input table (authoritative shape per BASELINE.json input_hint):
# Common-Crawl-style pages.
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

SPAN_TYPE = T.StructType(
    [
        T.StructField("start", T.LongType(), False),
        T.StructField("end", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
    ]
)

# Output table — analog of the reference's results table
# (simple_client.py:63-71: job_id, file_name, text_content, markdown_content)
# plus spans/error/version per the north rule.
EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("markdown", T.StringType(), True),
        T.StructField("spans", T.ArrayType(SPAN_TYPE), True),
        T.StructField("images", T.ArrayType(T.StringType()), True),
        T.StructField("error_class", T.StringType(), True),
        T.StructField("encoding", T.StringType(), True),
        T.StructField("extractor_version", T.StringType(), False),
        T.StructField("html_bytes", T.LongType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
    ]
)

# On-disk table schema: operator output + run provenance (added by the
# pipeline at write time; used for MERGE latest-wins read resolution).
EXTRACTED_TABLE_SCHEMA = T.StructType(
    EXTRACTED_SCHEMA.fields + [T.StructField("run_id", T.StringType(), False)]
)

# Lineage table — analog of the reference's jobs table with its request
# counters (simple_client.py:37-61,54-56), one row per (run, chunk,
# partition).
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("chunk_id", T.IntegerType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("url_min", T.StringType(), True),
        T.StructField("url_max", T.StringType(), True),
        T.StructField("doc_count", T.LongType(), False),
        T.StructField("byte_count", T.LongType(), False),
        T.StructField("succeeded", T.LongType(), False),
        T.StructField("failed", T.LongType(), False),
        T.StructField("extractor_version", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("started_at", T.TimestampType(), True),
        T.StructField("completed_at", T.TimestampType(), True),
    ]
)
