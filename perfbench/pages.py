"""Seeded workload inputs and the cached single-process oracle.

Pages come from ``sources.fixtures``, whose rows are a pure function of the
row id, so the seed only picks the id offset. The Common-Crawl-size input
also carries a FlateDecode-bomb PDF built here: a tiny page whose one
stream inflates to tens of MiB, the unbounded-decode case a byte budget in
the PDF path would cap.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import json
import os
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

ID_STRIDE = 10_000_000  # seeds own disjoint id ranges
BOMB_URL = "https://bombs.example.com/"


def first_id(seed: int) -> int:
    return (seed % 1000 + 1) * ID_STRIDE


@functools.lru_cache(maxsize=None)
def _bomb_payload(mib: int) -> bytes:
    stream = zlib.compress(bytes(mib << 20), 9)
    return (b"%PDF-1.5\n4 0 obj\n<< /Filter /FlateDecode >>\nstream\n" + stream
            + b"\nendstream\nendobj\ntrailer\n<< /Root 4 0 R >>\n%%EOF")


def bomb_table(count: int, mib: int, schema: pa.Schema) -> pa.Table:
    """The same urls for every seed, so the bombs land in the same chunks
    and partitions and the seed does not move the straggler."""
    import datetime as dt

    ts = dt.datetime(2024, 1, 1, 10, 0, 0)
    return pa.table([[f"{BOMB_URL}bomb-{k}.pdf" for k in range(count)], [ts] * count,
                     [_bomb_payload(mib)] * count, [None] * count, ["zz"] * count], schema=schema)


def write_pages(path: str, seed: int, n: int, paras_mult: int, files: int,
                bombs: int = 0, bomb_mib: int = 0) -> None:
    """Materialize ``n`` fixture pages (ids from the seed's offset) as
    ``files`` parquet files, plus one file of ``bombs`` bomb PDFs. The
    timestamps are written UTC-adjusted, as a UTC Spark session writes
    ``PAGES_SCHEMA``, so Spark reads them back with that schema."""
    from mistral_ocr_spark.sources import fixtures

    os.makedirs(path, exist_ok=True)
    start, step = first_id(seed), -(-n // files)
    schema = None
    for k, lo in enumerate(range(start, start + n, step)):
        ids = pa.record_batch([pa.array(range(lo, min(lo + step, start + n)), pa.int64())], ["id"])
        t = pa.Table.from_batches(list(fixtures._gen_batches(iter([ids]), paras_mult=paras_mult)))
        t = t.set_column(1, "warc_ts", t.column("warc_ts").cast(pa.timestamp("us", tz="UTC")))
        schema = t.schema
        pq.write_table(t, os.path.join(path, f"part-{k:05d}.parquet"))
    if bombs:
        pq.write_table(bomb_table(bombs, bomb_mib, schema), os.path.join(path, "part-bombs.parquet"))


def read_pages(path: str) -> pa.Table:
    return pq.read_table(path, columns=["url", "html", "text"])


def package_sources(root: str) -> list[str]:
    return sorted(glob.glob(os.path.join(root, "mistral_ocr_spark", "**", "*.py"), recursive=True))


def cache_key(sources: list[str], **params) -> str:
    """Key of a cached reference: its parameters and a digest of the
    source files it must not outlive."""
    h = hashlib.sha256(json.dumps(params, sort_keys=True).encode())
    for p in sources:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:20]


def oracle(pages: pa.Table, cache_path: str) -> dict[str, tuple]:
    """url -> (text, markdown, error_class) from ``oracle.extract_reference``,
    cached at ``cache_path``."""
    from mistral_ocr_spark.oracle import extract_reference

    if not os.path.exists(cache_path):
        urls = pages.column("url").to_pylist()
        rows = [extract_reference(h, fb) for h, fb in zip(pages.column("html").to_pylist(),
                                                          pages.column("text").to_pylist())]
        os.makedirs(os.path.dirname(cache_path), exist_ok=True)
        tmp = cache_path + ".tmp"
        pq.write_table(pa.table({
            "url": urls,
            "text": pa.array([r.text for r in rows], pa.string()),
            "markdown": pa.array([r.markdown for r in rows], pa.string()),
            "error_class": pa.array([r.error_class for r in rows], pa.string()),
        }), tmp)
        os.replace(tmp, cache_path)
    t = pq.read_table(cache_path)
    return {u: (tx, md, ec) for u, tx, md, ec in zip(
        *(t.column(c).to_pylist() for c in ("url", "text", "markdown", "error_class")))}
