"""Unicode text normalization as a batch-vectorized operator.

Web corpora mix composed and decomposed codepoints (e\u0301 vs \u00e9),
compatibility ligatures, and width variants — byte-level dedup keys and
n-gram hashes split on them unless text is normalized first. Spark has no
built-in Unicode-normalization expression, so this is the designed Python
escape hatch: ``mapInArrow`` batches through CPython's C-accelerated
``unicodedata.normalize``.

(pyarrow 16's ``pc.utf8_normalize`` was evaluated first and REJECTED by
test: its NFC output equals its NFD output — composed inputs come back
decomposed — so the Arrow kernel cannot express NFC composition; the
pytest suite pins the correct behavior against DuckDB's ``nfc_normalize``
and unicodedata, which agree.)

Oracle: DuckDB's ``nfc_normalize`` implements the same normalization, so
NFC-normalized columns stay value-hash checkable cross-engine.

Reference parity note: stevegsax/mistral-ocr stores API-returned text
verbatim; normalization is training-data-pipeline breadth (the dedup
fingerprint's correctness depends on it on real crawl data).
"""

from __future__ import annotations

import unicodedata
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame

from mistral_ocr_spark import arrowcols as C

_FORMS = ("NFC", "NFKC", "NFD", "NFKD")


def with_normalized_text(
    df: DataFrame, text_col: str = "text", out_col: str | None = None, form: str = "NFC"
) -> DataFrame:
    """Append ``out_col`` (default: overwrite ``text_col``) with the
    Unicode-normalized text. One Python crossing per Arrow batch; NULLs
    pass through; schema and row order preserved (1:1 map, no shuffle)."""
    if form not in _FORMS:
        raise ValueError(f"form must be one of {_FORMS}, got {form!r}")
    from pyspark.sql import types as T

    out = out_col or text_col
    idx = df.columns.index(text_col)
    # fresh StructType — StructType.add mutates the instance it's called on,
    # which would corrupt the DataFrame's own schema object
    out_schema = (
        df.schema
        if out == text_col
        else T.StructType(list(df.schema.fields) + [T.StructField(out, T.StringType(), True)])
    )

    return df.mapInArrow(_normalize_fn(idx, form, out, replace=out == text_col), out_schema)


def _normalize_fn(idx: int, form: str, name: str, replace: bool):
    """mapInArrow kernel: normalize column ``idx`` and either replace it
    or append the result as ``name``."""

    def norm_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        norm = unicodedata.normalize
        for batch in batches:
            normalized = C.strings(
                [None if v is None else norm(form, v) for v in batch.column(idx).to_pylist()]
            )
            if replace:
                yield batch.set_column(idx, name, normalized)
            else:
                yield batch.append_column(name, normalized)

    return norm_batches
