"""WARC container source: parse Common-Crawl-style WARC files (ISO 28500)
into page rows the extraction pipeline consumes.

The reference ingests local files one path at a time
(`/root/reference/src/mistral_ocr/simple_client.py` upload loop); the
crawl-native equivalent at 10^12 documents is WARC segments — each a
multi-member-gzip stream of records:

    WARC/1.0\\r\\n
    WARC-Type: response\\r\\n
    WARC-Target-URI: http://...\\r\\n
    WARC-Date: 2017-06-03T21:00:12Z\\r\\n
    Content-Length: N\\r\\n
    \\r\\n
    <N payload bytes (an HTTP response for WARC-Type: response)>\\r\\n\\r\\n

Design (the extract.py vectorization contract): one ``mapInArrow`` pass,
one Python-boundary crossing per Arrow batch; each input row is a whole
WARC file/segment blob (binary), each output row one record. Splitting at
record granularity is a per-blob sequential scan by construction — WARC
members are back-to-back deflate streams with no index — so parallelism
comes from MANY segment blobs per partition (Common Crawl ships ~64k
segments per crawl; a 1000-executor cluster reads them as ordinary
splittable-by-file parquet/binaryFile inputs). All parsing is stdlib
zlib + bytes.find — no per-row Python UDF, no external deps.

Tolerance contract: a malformed record terminates parsing of THAT blob
(emitting everything already parsed, plus a synthetic ``warc_type =
'parse_error'`` row carrying the byte offset); other blobs in the batch
are unaffected — the per-row error-capture rule of extract_batches.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame

from mistral_ocr_spark import arrowcols as C

ARROW_WARC_SCHEMA = pa.schema(
    [
        ("src_id", pa.int64()),        # input blob id (lineage back-pointer)
        ("rec_index", pa.int32()),     # record ordinal within the blob
        ("warc_type", pa.string()),    # response/request/warcinfo/... or parse_error
        ("record_id", pa.string()),
        ("warc_date", pa.string()),    # RFC3339 as-written; cast downstream
        ("url", pa.string()),          # WARC-Target-URI
        ("http_status", pa.int32()),   # response records; NULL otherwise
        ("http_content_type", pa.string()),
        ("body", pa.binary()),         # HTTP body for responses, raw payload otherwise
    ]
)

WARC_SCHEMA_DDL = (
    "src_id long, rec_index int, warc_type string, record_id string, "
    "warc_date string, url string, http_status int, http_content_type string, "
    "body binary"
)


def gunzip_members(data: bytes) -> bytes:
    """Concatenated-gzip-member decompression (the Common Crawl layout:
    one member per record). Plain (non-gzip) input passes through so
    fixtures can skip compression. A trailing partial member raises."""
    if not data[:2] == b"\x1f\x8b":
        return data
    out = []
    buf = data
    while buf:
        d = zlib.decompressobj(wbits=16 + zlib.MAX_WBITS)
        out.append(d.decompress(buf))
        if not d.eof:
            raise ValueError("truncated gzip member")
        buf = d.unused_data
    return b"".join(out)


def _parse_http(payload: bytes) -> tuple[int | None, str | None, bytes]:
    """HTTP response payload → (status, content-type, body). Non-HTTP
    payloads come back as (None, None, payload) unchanged."""
    if not payload.startswith(b"HTTP/"):
        return None, None, payload
    head_end = payload.find(b"\r\n\r\n")
    if head_end < 0:
        return None, None, payload
    head = payload[:head_end].decode("latin-1", "replace")
    lines = head.split("\r\n")
    parts = lines[0].split(None, 2)
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        return None, None, payload
    ctype = None
    for ln in lines[1:]:
        k, _, v = ln.partition(":")
        if k.strip().lower() == "content-type":
            ctype = v.strip()
            break
    return status, ctype, payload[head_end + 4 :]


def parse_warc_records(data: bytes) -> tuple[list[dict], int | None]:
    """Sequential record scan over one (decompressed) WARC blob.

    Returns (records, error_offset): error_offset is None on a clean
    parse, else the byte offset where the scan gave up (records holds
    everything parsed before that point). Trailing CRLF padding between
    records is tolerated per the spec's two-CRLF record separator."""
    recs: list[dict] = []
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record CRLF padding
        while data.startswith(b"\r\n", pos):
            pos += 2
        if pos >= n:
            break
        if not data.startswith(b"WARC/", pos):
            return recs, pos
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end < 0:
            return recs, pos
        headers: dict[str, str] = {}
        head = data[pos:head_end].decode("latin-1", "replace")
        for ln in head.split("\r\n")[1:]:
            k, _, v = ln.partition(":")
            headers[k.strip().lower()] = v.strip()
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError):
            return recs, pos
        body_start = head_end + 4
        if body_start + clen > n:
            return recs, pos
        payload = data[body_start : body_start + clen]
        recs.append(
            {
                "warc_type": headers.get("warc-type", ""),
                "record_id": headers.get("warc-record-id"),
                "warc_date": headers.get("warc-date"),
                "url": headers.get("warc-target-uri"),
                "payload": payload,
            }
        )
        pos = body_start + clen
    return recs, None


def warc_record_batches(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """mapInArrow kernel: (src_id, warc) blobs → one row per record."""
    for batch in batches:
        cols: dict[str, list] = {name: [] for name in ARROW_WARC_SCHEMA.names}

        def emit(src_id, idx, wtype, rid, wdate, url, status, ctype, body):
            cols["src_id"].append(src_id)
            cols["rec_index"].append(idx)
            cols["warc_type"].append(wtype)
            cols["record_id"].append(rid)
            cols["warc_date"].append(wdate)
            cols["url"].append(url)
            cols["http_status"].append(status)
            cols["http_content_type"].append(ctype)
            cols["body"].append(body)

        src_ids = batch.column("src_id")
        blobs = batch.column("warc")
        for i in range(batch.num_rows):
            sid = src_ids[i].as_py()
            raw = blobs[i].as_py()
            if raw is None:
                emit(sid, 0, "parse_error", None, None, None, None, None, b"missing blob")
                continue
            try:
                data = gunzip_members(raw)
            except Exception as exc:
                emit(sid, 0, "parse_error", None, None, None, None, None,
                     f"gzip: {exc}".encode())
                continue
            recs, err_off = parse_warc_records(data)
            for j, r in enumerate(recs):
                if r["warc_type"] == "response":
                    status, ctype, body = _parse_http(r["payload"])
                else:
                    status, ctype, body = None, None, r["payload"]
                emit(sid, j, r["warc_type"], r["record_id"], r["warc_date"],
                     r["url"], status, ctype, body)
            if err_off is not None:
                emit(sid, len(recs), "parse_error", None, None, None, None, None,
                     f"malformed record at byte {err_off}".encode())
        yield pa.RecordBatch.from_arrays(
            [
                C.numbers(cols["src_id"], pa.int64()),
                C.numbers(cols["rec_index"], pa.int32()),
                C.strings(cols["warc_type"]),
                C.strings(cols["record_id"]),
                C.strings(cols["warc_date"]),
                C.strings(cols["url"]),
                C.numbers(cols["http_status"], pa.int32()),
                C.strings(cols["http_content_type"]),
                C.binaries(cols["body"]),
            ],
            schema=ARROW_WARC_SCHEMA,
        )


def read_warc(blobs: DataFrame, blob_col: str = "warc", id_col: str = "src_id") -> DataFrame:
    """(id, warc-blob) DataFrame → record DataFrame (ARROW_WARC_SCHEMA).
    No shuffle: record rows stay in their blob's partition; downstream
    repartitioning (e.g. the pipeline's salted url-host hash) is the
    caller's policy, as with extract_pages."""
    from pyspark.sql import functions as F

    src = blobs.select(
        F.col(id_col).cast("long").alias("src_id"), F.col(blob_col).alias("warc")
    )
    return src.mapInArrow(warc_record_batches, WARC_SCHEMA_DDL)


def warc_to_pages(
    records: DataFrame, content_types: tuple[str, ...] = ("text/html",)
) -> DataFrame:
    """Successful HTML response records → the pages shape the extractor
    consumes (url, warc_ts, html, text, lang) — BASELINE.json input_hint.
    text/lang are NULL at ingest (the extractor fills text; lang-id is a
    downstream operator).

    ``content_types`` is a prefix allowlist ("text/html" matches
    "text/html; charset=utf-8"): a 200 image/png or application/pdf
    response must NOT become a page — pass a wider tuple to route other
    media to their own pipelines. WARC-Date parses with or without the
    WARC/1.1 fractional seconds (the fraction is stripped first — a
    single-pattern to_timestamp would silently NULL every 1.1-written
    crawl's timestamps)."""
    from pyspark.sql import functions as F

    if not content_types:
        # fail loudly up front (ADVICE r5): an empty allowlist would leave
        # ct_ok as None and `... & None` raises an opaque plan-build error
        raise ValueError("content_types must name at least one prefix")
    ct_ok = None
    for p in content_types:
        c = F.col("http_content_type").startswith(p)
        ct_ok = c if ct_ok is None else (ct_ok | c)
    ts = F.to_timestamp(
        F.regexp_replace("warc_date", r"\.\d+", ""), "yyyy-MM-dd'T'HH:mm:ssX"
    )
    return (
        records.filter(
            (F.col("warc_type") == "response")
            & (F.col("http_status") == 200)
            & F.col("url").isNotNull()
            & ct_ok
        )
        .select(
            "url",
            ts.alias("warc_ts"),
            F.col("body").alias("html"),
            F.lit(None).cast("string").alias("text"),
            F.lit(None).cast("string").alias("lang"),
        )
    )


# --- deterministic fixture writer (tests/bench only) -----------------------

def make_warc(records: list[dict], gzip_members: bool = False) -> bytes:
    """Build a spec-shaped WARC blob from dicts with keys
    {warc_type, url, warc_date, record_id, payload: bytes}. With
    ``gzip_members`` each record becomes its own gzip member (the Common
    Crawl layout). Deterministic: gzip mtime pinned to 0."""
    out = []
    for r in records:
        payload = r["payload"]
        headers = [
            ("WARC-Type", r.get("warc_type", "response")),
            ("WARC-Record-ID", r.get("record_id", "<urn:uuid:0>")),
            ("WARC-Date", r.get("warc_date", "2017-06-03T21:00:12Z")),
        ]
        if r.get("url") is not None:
            headers.append(("WARC-Target-URI", r["url"]))
        headers.append(("Content-Length", str(len(payload))))
        head = "WARC/1.0\r\n" + "".join(f"{k}: {v}\r\n" for k, v in headers)
        rec = head.encode("latin-1") + b"\r\n" + payload + b"\r\n\r\n"
        if gzip_members:
            co = zlib.compressobj(9, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
            rec = co.compress(rec) + co.flush()
        out.append(rec)
    return b"".join(out)


def make_http_response(
    body: bytes, status: int = 200, content_type: str = "text/html"
) -> bytes:
    reason = {200: "OK", 404: "Not Found", 500: "Internal Server Error"}.get(
        status, "Unknown"
    )
    return (
        f"HTTP/1.1 {status} {reason}\r\n"
        f"Content-Type: {content_type}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode("latin-1") + body
