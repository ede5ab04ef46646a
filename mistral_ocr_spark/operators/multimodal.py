"""Multimodal column plumbing: opaque ``binary`` payloads + typed metadata.

Real in this module: the Spark-side schema, partitioning, Arrow batch
shape, and the ``mapInArrow`` feature-extraction contract. STUBBED (this
container has no image/audio codecs): the actual pixel/sample decode —
``decode_image`` raises ``NotImplementedError`` unless the deterministic
fake decoder is selected, which derives metadata purely from the bytes so
tests/oracles stay exact.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mistral_ocr_spark import arrowcols as C

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("byte_len", T.LongType(), False),
        T.StructField("content_md5", T.StringType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
    ]
)


def decode_image(payload: bytes) -> object:
    """Real decode path — requires an image codec library.

    STUB: not available in this container. The Spark plumbing around it
    (batching, schema, partitioning) is real and tested with the fake
    decoder below.
    """
    raise NotImplementedError("no image codec in this environment; use fake_decode")


def fake_decode(payload: bytes) -> tuple[int, int]:
    """Deterministic fake decoder: (width, height) derived from the bytes.

    Matches the arithmetic the DuckDB oracle uses, so the whole mapInArrow
    path is value-checkable end-to-end.
    """
    n = len(payload)
    return (n % 640) + 16, (n % 480) + 16


def _feature_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        payloads = batch.column(1).to_pylist()
        dims = [fake_decode(p) for p in payloads]
        yield C.batch(
            FEATURES_SCHEMA,
            [
                batch.column(0),
                [len(p) for p in payloads],
                [hashlib.md5(p).hexdigest() for p in payloads],
                [d[0] for d in dims],
                [d[1] for d in dims],
            ],
        )


def extract_features(media: DataFrame) -> DataFrame:
    """media(media_id, kind, payload, meta) → per-item features.

    One JVM→Python crossing per Arrow batch; payloads stream through in
    bounded batches (arrow.maxRecordsPerBatch), never materialized per
    partition.
    """
    return media.select("media_id", "payload").mapInArrow(
        _feature_batches, FEATURES_SCHEMA
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("out_width", T.IntegerType(), False),
        T.StructField("out_height", T.IntegerType(), False),
        T.StructField("out_payload", T.BinaryType(), False),
    ]
)


def resize_pixels(payload: bytes, out_w: int, out_h: int) -> bytes:
    """Real resample path — requires an image codec library.

    STUB: not available in this container (same policy as decode_image)."""
    raise NotImplementedError("no image codec in this environment; use fake_resize")


def fake_resize(payload: bytes, out_w: int, out_h: int) -> bytes:
    """Deterministic fake resample: output bytes are a pure function of
    (payload, out dims) with length out_w*out_h//64 — size-realistic
    plumbing (the shuffle/write cost of a resize stage is its byte volume)
    while staying byte-reproducible for tests."""
    n = max(1, (out_w * out_h) // 64)
    seed = hashlib.md5(payload + f"{out_w}x{out_h}".encode()).digest()
    return (seed * (n // len(seed) + 1))[:n]


def resize_media(media: DataFrame, max_dim: int = 64) -> DataFrame:
    """Bound both dimensions to ``max_dim`` preserving aspect ratio — the
    training-data normalization step before vision-encoder batching. Scale
    arithmetic is integer-exact (floor((d*max_dim)/longest), min 1) so the
    DuckDB oracle reproduces it; one Arrow batch per JVM→Python crossing."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = []
            for payload in batch.column(1).to_pylist():
                w, h = fake_decode(payload)
                longest = max(w, h)
                if longest <= max_dim:
                    ow, oh = w, h
                else:
                    ow = max(1, (w * max_dim) // longest)
                    oh = max(1, (h * max_dim) // longest)
                rows.append((w, h, ow, oh, fake_resize(payload, ow, oh)))
            if rows:
                yield C.batch(RESIZED_SCHEMA, [batch.column(0), *zip(*rows)])

    return media.select("media_id", "payload").mapInArrow(fn, RESIZED_SCHEMA)


FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_len", T.IntegerType(), False),
        T.StructField("frame_md5", T.StringType(), False),
    ]
)


def sample_frames(media: DataFrame, frame_bytes: int = 1024, every: int = 2) -> DataFrame:
    """Frame sampling for video-like payloads: the payload is a
    concatenation of fixed-size frames (``frame_bytes``); emit every
    ``every``-th frame's (index, length, md5). The 1→N output shape is the
    point — a mapInArrow stage whose output rows fan out from input rows
    (the decode-then-sample plan at scale), with the frame slicing
    reproducible in ANSI SQL (substring on the blob) for the value oracle."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = []
            for mid, payload in zip(batch.column(0).to_pylist(), batch.column(1).to_pylist()):
                n_frames = max(1, -(-len(payload) // frame_bytes))
                for idx in range(0, n_frames, every):
                    fr = payload[idx * frame_bytes : (idx + 1) * frame_bytes]
                    rows.append((mid, idx, len(fr), hashlib.md5(fr).hexdigest()))
            if rows:
                yield C.batch(FRAMES_SCHEMA, zip(*rows))

    return media.select("media_id", "payload").mapInArrow(fn, FRAMES_SCHEMA)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Synthesize a media table from documents (text bytes as payload) —
    the fixture path; at production the payload column comes from WARC."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.create_map(F.lit("source"), F.col("source")).alias("meta"),
    )
