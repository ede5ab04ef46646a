"""The Spark-side extraction operator: ``mapInArrow`` over page batches.

Vectorization contract (BASELINE.json input_hint: "vectorized pandas/Arrow
UDFs (no per-row Python) throughout"): Spark crosses the JVM→Python
boundary once per Arrow record batch, not per row. Inside the batch the
per-document parser runs as plain Python over the Arrow buffers (HTML
parsing is inherently per-document), with all regexes/parsers compiled
module-level so they are reused across batches by the long-lived Python
worker (SURVEY.md §4.2 point 3).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from pyspark import TaskContext
from pyspark.sql import DataFrame

from mistral_ocr_spark import EXTRACTOR_VERSION
from mistral_ocr_spark.extractor import ExtractResult, extract

_FAILED = ExtractResult(None, None, [], "extractor_error", None)

# Arrow-level output schema; must stay in sync with tables.EXTRACTED_SCHEMA.
_ARROW_SPAN = pa.struct(
    [("start", pa.int64()), ("end", pa.int64()), ("kind", pa.string())]
)
ARROW_EXTRACTED_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("lang", pa.string()),
        ("text", pa.string()),
        ("markdown", pa.string()),
        ("spans", pa.list_(_ARROW_SPAN)),
        ("images", pa.list_(pa.string())),
        ("error_class", pa.string()),
        ("encoding", pa.string()),
        ("extractor_version", pa.string()),
        ("html_bytes", pa.int64()),
        ("partition_id", pa.int32()),
    ]
)


def extract_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow kernel: pages(url, warc_ts, html, text, lang) → extracted.

    ``spans`` and ``images`` are built as flat child columns plus list
    offsets, not as one Python object per span."""
    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx is not None else -1
    for batch in batches:
        n = batch.num_rows
        texts: list[str | None] = []
        mds: list[str | None] = []
        errs: list[str | None] = []
        encs: list[str | None] = []
        nbytes: list[int] = []
        spans: list[tuple[int, int, str]] = []
        span_offsets = [0]
        images: list[str] = []
        image_offsets = [0]

        for raw, fb in zip(batch.column("html").to_pylist(), batch.column("text").to_pylist()):
            try:
                r = extract(raw, fb)
            except Exception:  # defensive: one bad row must not fail the
                # batch/task — per-row error capture like the reference's
                # error_files side channel (simple_client.py:630-664).
                # extract() is property-tested total, so this is insurance
                # against pathological inputs only.
                r = _FAILED
            texts.append(r.text)
            mds.append(r.markdown)
            errs.append(r.error_class)
            encs.append(r.encoding)
            nbytes.append(len(raw) if raw is not None else 0)
            spans += r.spans
            span_offsets.append(len(spans))
            images += r.images
            image_offsets.append(len(images))

        starts, ends, kinds = zip(*spans) if spans else ((), (), ())
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("url"),
                batch.column("warc_ts"),
                batch.column("lang"),
                pa.array(texts, pa.string()),
                pa.array(mds, pa.string()),
                pa.ListArray.from_arrays(
                    pa.array(span_offsets, pa.int32()),
                    pa.StructArray.from_arrays(
                        [
                            pa.array(starts, pa.int64()),
                            pa.array(ends, pa.int64()),
                            pa.array(kinds, pa.string()),
                        ],
                        fields=list(_ARROW_SPAN),
                    ),
                ),
                pa.ListArray.from_arrays(
                    pa.array(image_offsets, pa.int32()), pa.array(images, pa.string())
                ),
                pa.array(errs, pa.string()),
                pa.array(encs, pa.string()),
                pa.array([EXTRACTOR_VERSION] * n, pa.string()),
                pa.array(nbytes, pa.int64()),
                pa.array([pid] * n, pa.int32()),
            ],
            schema=ARROW_EXTRACTED_SCHEMA,
        )


def extract_pages(pages: DataFrame) -> DataFrame:
    """pages DataFrame → extracted DataFrame (no shuffle introduced here;
    partitioning policy is the pipeline's job — see pipeline.run)."""
    from mistral_ocr_spark.sources.tables import EXTRACTED_SCHEMA

    cols = ["url", "warc_ts", "html", "text", "lang"]
    return pages.select(*cols).mapInArrow(extract_batches, EXTRACTED_SCHEMA)
