"""WARC source: record parsing round-trips, gzip member handling, error
tolerance, and the warc → pages → extractor composition (byte-identical
text per url vs the direct path)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mistral_ocr_spark.operators.extract import extract_pages
from mistral_ocr_spark.sources import warc as W
from mistral_ocr_spark.sources.fixtures import pages_from_documents

HTML_A = b"<html><body><article><h1>T</h1><p>alpha beta</p></article></body></html>"
HTML_B = b"<html><body><article><h1>U</h1><p>gamma delta</p></article></body></html>"


def _blob(gzip_members=False):
    return W.make_warc(
        [
            {
                "warc_type": "warcinfo",
                "url": None,
                "payload": b"software: test\r\n",
                "record_id": "<urn:uuid:info>",
            },
            {
                "warc_type": "request",
                "url": "http://a.example/x",
                "payload": b"GET /x HTTP/1.1\r\n\r\n",
            },
            {
                "warc_type": "response",
                "url": "http://a.example/x",
                "warc_date": "2017-06-03T21:00:12Z",
                "payload": W.make_http_response(HTML_A),
                "record_id": "<urn:uuid:a>",
            },
            {
                "warc_type": "response",
                "url": "http://a.example/missing",
                "payload": W.make_http_response(b"gone", status=404),
            },
        ],
        gzip_members=gzip_members,
    )


@pytest.mark.parametrize("gz", [False, True])
def test_roundtrip_records(spark, gz):
    df = spark.createDataFrame([(1, _blob(gz))], "src_id long, warc binary")
    rows = {(r.src_id, r.rec_index): r for r in W.read_warc(df).collect()}
    assert len(rows) == 4
    assert rows[(1, 0)].warc_type == "warcinfo"
    assert rows[(1, 0)].body == b"software: test\r\n"
    assert rows[(1, 0)].url is None
    assert rows[(1, 1)].warc_type == "request"
    resp = rows[(1, 2)]
    assert resp.url == "http://a.example/x"
    assert resp.http_status == 200
    assert resp.http_content_type == "text/html"
    assert resp.body == HTML_A
    assert resp.warc_date == "2017-06-03T21:00:12Z"
    assert resp.record_id == "<urn:uuid:a>"
    assert rows[(1, 3)].http_status == 404


def test_corrupt_blob_emits_parse_error_and_spares_others(spark):
    good = _blob()
    bad = good[: len(good) - 30] + b"GARBAGE-NOT-A-WARC-HEADER"
    df = spark.createDataFrame(
        [(1, bad), (2, good)], "src_id long, warc binary"
    ).repartition(1)  # same partition => same Arrow batch
    rows = W.read_warc(df).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.src_id, []).append(r)
    assert len(by_src[2]) == 4  # intact blob fully parsed
    kinds = [r.warc_type for r in sorted(by_src[1], key=lambda r: r.rec_index)]
    assert kinds[-1] == "parse_error"
    assert b"malformed record at byte" in by_src[1][-1].body
    assert len(kinds) >= 2  # records before the corruption survived


@pytest.mark.parametrize(
    "code", [b"99999999999", "\uff12\uff10\uff10".encode(), b"2_00", b"20", b"+20"]
)
def test_status_that_is_not_three_digits_is_not_http(code):
    """RFC 9110 ``status-code = 3DIGIT``: any other status takes the
    non-HTTP fallback (NULL status, the payload kept whole). A status past
    int32 used to fail the whole batch; the other blob's records must come
    out as they do alone."""
    import pyarrow as pa

    weird = b"HTTP/1.1 " + code + b" OK\r\nContent-Type: text/html\r\n\r\n<p>x</p>"
    bad = W.make_warc([{"warc_type": "response", "url": "http://b.example/", "payload": weird}])

    def run(ids, blobs):
        batch = pa.RecordBatch.from_arrays(
            [pa.array(ids, pa.int64()), pa.array(blobs, pa.binary())], names=["src_id", "warc"]
        )
        return pa.Table.from_batches(list(W.warc_record_batches(iter([batch])))).to_pylist()

    both = run([1, 2], [_blob(), bad])
    assert [r for r in both if r["src_id"] == 1] == run([1], [_blob()])
    (rec,) = [r for r in both if r["src_id"] == 2]
    assert rec["warc_type"] == "response"
    assert rec["http_status"] is None and rec["http_content_type"] is None
    assert rec["body"] == weird


def test_truncated_gzip_member_reports_error(spark):
    blob = _blob(gzip_members=True)[:-10]
    df = spark.createDataFrame([(9, blob)], "src_id long, warc binary")
    rows = W.read_warc(df).collect()
    assert len(rows) == 1 and rows[0].warc_type == "parse_error"
    assert rows[0].body.startswith(b"gzip:")


def test_warc_to_pages_keeps_only_200_html_responses(spark):
    df = spark.createDataFrame([(1, _blob())], "src_id long, warc binary")
    pages = W.warc_to_pages(W.read_warc(df)).collect()
    assert len(pages) == 1
    p = pages[0]
    assert p.url == "http://a.example/x"
    assert bytes(p.html) == HTML_A
    assert p.warc_ts is not None


def test_composition_matches_direct_extraction(spark, sf_dir):
    """Pages wrapped in WARC blobs, read back, extracted ⇒ byte-identical
    text per url vs extracting the original pages (the north-rule
    invariant through the container layer)."""
    pages = pages_from_documents(spark, sf_dir).filter(F.col("doc_id") < 40)
    rows = pages.select("url", "warc_ts", "html").collect()
    blobs, group = [], []
    for i, r in enumerate(rows):
        group.append(
            {
                "warc_type": "response",
                "url": r.url,
                "warc_date": r.warc_ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
                "payload": W.make_http_response(bytes(r.html)),
            }
        )
        if len(group) == 8 or i == len(rows) - 1:
            blobs.append((len(blobs), W.make_warc(group, gzip_members=True)))
            group = []
    wdf = spark.createDataFrame(blobs, "src_id long, warc binary").repartition(3)
    via_warc = {
        r.url: r.text
        for r in extract_pages(W.warc_to_pages(W.read_warc(wdf))).collect()
    }
    direct = {r.url: r.text for r in extract_pages(pages).collect()}
    assert via_warc == direct
    assert len(via_warc) == len(rows)


def test_records_deterministic_across_parallelism(spark):
    blobs = [(i, _blob(gzip_members=i % 2 == 0)) for i in range(10)]
    df1 = spark.createDataFrame(blobs, "src_id long, warc binary").repartition(1)
    df5 = spark.createDataFrame(blobs, "src_id long, warc binary").repartition(5)
    a = sorted(map(tuple, W.read_warc(df1).collect()))
    b = sorted(map(tuple, W.read_warc(df5).collect()))
    assert a == b


def test_non_html_200_response_is_not_a_page(spark):
    blob = W.make_warc(
        [
            {
                "warc_type": "response",
                "url": "http://a.example/pic",
                "payload": W.make_http_response(b"\x89PNG...", content_type="image/png"),
            },
            {
                "warc_type": "response",
                "url": "http://a.example/page",
                "payload": W.make_http_response(HTML_B, content_type="text/html; charset=utf-8"),
            },
        ]
    )
    df = spark.createDataFrame([(1, blob)], "src_id long, warc binary")
    pages = W.warc_to_pages(W.read_warc(df)).collect()
    assert [p.url for p in pages] == ["http://a.example/page"]  # prefix match keeps charset variant


def test_warc11_fractional_second_dates_parse(spark):
    blob = W.make_warc(
        [
            {
                "warc_type": "response",
                "url": "http://a.example/x",
                "warc_date": "2017-06-03T21:00:12.123Z",
                "payload": W.make_http_response(HTML_A),
            }
        ]
    )
    df = spark.createDataFrame([(1, blob)], "src_id long, warc binary")
    p = W.warc_to_pages(W.read_warc(df)).collect()[0]
    assert p.warc_ts is not None and p.warc_ts.second == 12


def test_empty_content_types_raises(spark):
    """ADVICE r5: an empty allowlist must fail loudly at the call site,
    not as an opaque `Column & None` plan-build error."""
    import pytest as _pytest

    from mistral_ocr_spark.sources import warc as W

    df = spark.createDataFrame([(0, b"")], "src_id long, warc binary")
    recs = W.read_warc(df)
    with _pytest.raises(ValueError, match="content_types"):
        W.warc_to_pages(recs, content_types=())
