"""Multimodal plumbing tests: feature extraction, aspect-preserving resize,
and frame sampling — each mapInArrow path value-checked against DuckDB
running the same arithmetic on the same payload bytes (the fake decoder is
a pure function of the bytes, so the oracle is exact)."""

from __future__ import annotations

import duckdb
import pytest

from mistral_ocr_spark.operators import multimodal as M

SF001 = "/root/testdata/sf0.001"


@pytest.fixture()
def media(spark):
    return M.media_from_documents(spark.read.parquet(f"{SF001}/documents.parquet"))


def _duck():
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF001}/documents.parquet')"
    )
    return con


def test_resize_matches_sql_oracle(spark, media):
    """Dims from the fake decoder, integer-exact scale arithmetic, and the
    size-realistic output length all reproduce in ANSI SQL."""
    rows = {r.media_id: r for r in M.resize_media(media, max_dim=64).collect()}
    con = _duck()
    oracle = con.execute(
        """
        WITH m AS (
          SELECT doc_id AS media_id, octet_length(encode(text)) AS n FROM documents
        ), d AS (
          SELECT media_id, (n % 640) + 16 AS w, (n % 480) + 16 AS h FROM m
        )
        SELECT media_id, w, h,
          CASE WHEN greatest(w, h) <= 64 THEN w
               ELSE greatest(1, (w * 64) // greatest(w, h)) END AS ow,
          CASE WHEN greatest(w, h) <= 64 THEN h
               ELSE greatest(1, (h * 64) // greatest(w, h)) END AS oh
        FROM d
        """
    ).fetchall()
    assert len(oracle) == len(rows) == 500
    for mid, w, h, ow, oh in oracle:
        r = rows[mid]
        assert (r.width, r.height, r.out_width, r.out_height) == (w, h, ow, oh), mid
        assert max(r.out_width, r.out_height) <= 64
        # aspect ratio preserved within integer rounding
        assert len(r.out_payload) == max(1, (ow * oh) // 64)
    # deterministic bytes: same input -> same output across jobs
    again = {r.media_id: bytes(r.out_payload) for r in M.resize_media(media, max_dim=64).collect()}
    assert all(bytes(rows[k].out_payload) == again[k] for k in rows)


def test_resize_noop_below_max_dim(spark, media):
    big = M.resize_media(media, max_dim=2000).collect()
    assert all(r.out_width == r.width and r.out_height == r.height for r in big)


def test_frame_sampling_matches_sql_oracle(spark, media):
    """1→N fan-out: every 2nd 128-byte frame per payload, md5s equal to
    DuckDB slicing the identical text (pure-ASCII corpus: chars == bytes)."""
    got = {
        (r.media_id, r.frame_idx): (r.frame_len, r.frame_md5)
        for r in M.sample_frames(media, frame_bytes=128, every=2).collect()
    }
    con = _duck()
    # DuckDB has no BLOB substring; the fixture corpus is pure ASCII
    # (verified codepoints 32-121), so char slicing == byte slicing and
    # md5(encode(slice)) hashes the identical frame bytes.
    oracle = con.execute(
        """
        WITH m AS (
          SELECT doc_id AS media_id, text,
                 greatest(1, CAST(ceil(octet_length(encode(text)) / 128.0) AS INT)) AS nf
          FROM documents
        ), idx AS (
          SELECT media_id, text, unnest(range(0, nf, 2)) AS frame_idx FROM m
        )
        SELECT media_id, frame_idx,
               octet_length(encode(substring(text, frame_idx * 128 + 1, 128))) AS frame_len,
               md5(substring(text, frame_idx * 128 + 1, 128)) AS frame_md5
        FROM idx
        """
    ).fetchall()
    assert len(oracle) == len(got) > 500  # fan-out: more frames than docs
    for mid, idx, flen, fmd5 in oracle:
        assert got[(mid, int(idx))] == (flen, fmd5), (mid, idx)


def test_decode_stub_is_declared(media):
    with pytest.raises(NotImplementedError):
        M.decode_image(b"\x89PNG...")
    with pytest.raises(NotImplementedError):
        M.resize_pixels(b"\x89PNG...", 8, 8)
