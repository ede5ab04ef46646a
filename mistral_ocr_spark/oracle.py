"""Single-process oracle runner: ``python -m mistral_ocr_spark.oracle``.

Runs the pure-Python extractor (stdlib tokenizer engine — deliberately the
*other* engine from the production fast path) over a pages parquet file
with no Spark involved, producing golden output. The byte-identity test
compares the cluster pipeline's output against this runner per url
(SURVEY.md §2.9 determinism contract / M0 golden harness).
"""

from __future__ import annotations

import argparse

import pyarrow as pa
import pyarrow.parquet as pq

from mistral_ocr_spark import EXTRACTOR_VERSION
from mistral_ocr_spark.extractor.classify import classify
from mistral_ocr_spark.extractor.core import ExtractResult, non_html_result
from mistral_ocr_spark.extractor.decode import decode_html
from mistral_ocr_spark.extractor.parser import parse_document
from mistral_ocr_spark.extractor.render import render


def extract_reference(html: bytes | None, fallback_text: str | None = None) -> ExtractResult:
    """Same contract as extractor.core.extract but using the stdlib
    tokenizer engine — an independent implementation path for the oracle.
    Pages that are not HTML share ``core.non_html_result``."""
    result = non_html_result(html, fallback_text)
    if result is not None:
        return result
    decoded, encoding = decode_html(html)
    blocks, images = parse_document(decoded, engine="stdlib")
    content = [b for b in classify(blocks) if b.is_content]
    if not content:
        return ExtractResult(None, None, [], "no_content", encoding, tuple(images))
    text, markdown, spans = render(content)
    return ExtractResult(text, markdown, spans, None, encoding, tuple(images))


def run_oracle(pages_parquet: str, out_parquet: str) -> int:
    """Extract every row of a pages parquet single-process; write goldens."""
    t = pq.read_table(pages_parquet, columns=["url", "html", "text"])
    urls = t.column("url").to_pylist()
    htmls = t.column("html").to_pylist()
    fallbacks = t.column("text").to_pylist()
    texts, mds, errs = [], [], []
    for h, fb in zip(htmls, fallbacks):
        r = extract_reference(h, fb)
        texts.append(r.text)
        mds.append(r.markdown)
        errs.append(r.error_class)
    out = pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "text": pa.array(texts, pa.string()),
            "markdown": pa.array(mds, pa.string()),
            "error_class": pa.array(errs, pa.string()),
            "extractor_version": pa.array([EXTRACTOR_VERSION] * len(urls), pa.string()),
        }
    )
    pq.write_table(out, out_parquet)
    return len(urls)


def main() -> None:
    p = argparse.ArgumentParser(prog="python -m mistral_ocr_spark.oracle")
    p.add_argument("--pages", required=True, help="pages parquet file/dir")
    p.add_argument("--out", required=True, help="golden output parquet file")
    args = p.parse_args()
    n = run_oracle(args.pages, args.out)
    print(f"oracle extracted {n} docs -> {args.out}")


if __name__ == "__main__":
    main()
