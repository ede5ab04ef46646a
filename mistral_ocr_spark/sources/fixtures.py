"""Deterministic synthetic ``pages`` fixtures (FIXTURES.md §1).

Two generators:

1. ``pages_from_documents`` — wraps the driver's ``documents`` parquet rows
   in a fixed HTML shell using *pure Spark SQL expressions* (JVM-side, no
   Python). Because the shell is fixed and the expected extraction is
   expressible in ANSI SQL, the whole extractor becomes DuckDB-oracle
   checkable end-to-end (the flagship correctness gate).

2. ``generate_pages`` — standalone Common-Crawl-style corpus from
   ``spark.range``: seeded Zipf-ish host distribution with one deliberately
   hot host (≥30% of rows — exercises salted repartitioning, FIXTURES.md),
   multi-block HTML, and edge rows (empty body, malformed nesting, latin-1
   bytes, %PDF magic, NULL html with fallback text). Deterministic in row
   id via arithmetic hashing — independent of partitioning, so any two runs
   at any parallelism generate identical rows.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mistral_ocr_spark import arrowcols as C
from mistral_ocr_spark.sources.tables import PAGES_SCHEMA

# ---------------------------------------------------------------------------
# 1. SQL-expressible corpus over the driver's documents table
# ---------------------------------------------------------------------------

#: SQL (both Spark and DuckDB dialects) for the canonical url of doc_id.
URL_SQL = "'https://host-' || (doc_id % 50) || '.example.com/doc-' || doc_id || '.html'"

#: DuckDB-side expectation of the extracted text for pages_from_documents.
#: Extractor whitespace policy == collapse runs to one space + strip.
ORACLE_TEXT_SQL = (
    "'Doc ' || doc_id || chr(10) || chr(10) || trim(regexp_replace(text, '\\s+', ' ', 'g'))"
)
ORACLE_MD_SQL = (
    "'# Doc ' || doc_id || chr(10) || chr(10) || trim(regexp_replace(text, '\\s+', ' ', 'g'))"
)


def pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents(doc_id, text, lang, …) → pages(url, warc_ts, html, text, lang).

    The HTML shell carries realistic boilerplate (nav/header/footer with
    high link density) around an <article> with an <h1> and the document
    text in one <p> (HTML-escaped; the parser unescapes, so the text
    round-trips byte-identically).
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    esc = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(F.col("text"), "&", "&amp;"), "<", "&lt;"),
        ">",
        "&gt;",
    )
    html_str = F.concat(
        F.lit(
            "<html><head><title>Synthetic Corpus</title></head><body>"
            '<nav><ul><li><a href="/">Home</a></li>'
            '<li><a href="/search">Search</a></li>'
            '<li><a href="/login">Login</a></li></ul></nav>'
            '<header><a href="/">corpus.example</a></header>'
            "<article><h1>Doc "
        ),
        F.col("doc_id").cast("string"),
        F.lit('</h1><img src="/img/doc-'),
        F.col("doc_id").cast("string"),
        F.lit('.png" alt="figure"><p>'),
        esc,
        F.lit(
            "</p></article>"
            '<footer><a href="/terms">Terms</a> <a href="/privacy">Privacy</a>'
            "</footer></body></html>"
        ),
    )
    # PDF rows (driver-oracled end-to-end since r3): doc_id % 25 == 7 rows
    # carry a PDF instead of HTML — the extracted text is IDENTICAL by
    # construction ('Doc N' paragraph + the normalized document text), so
    # ORACLE_TEXT_SQL needs no change; pipeline_extract/pipeline_spans CASE
    # on doc_id % 25 for the pdf-specific outputs (markdown == text, spans
    # are two paragraphs, no images). Two sub-variants:
    # - literal-string PDF (escaped \\ \( \)), byte-order scan path
    #   (doc_id % 100 == 57);
    # - doc_id % 50 == 32: page tree + /Resources font whose /ToUnicode
    #   CMap is a ROT1 map (codes = char+1, bfrange <21><7a> → U+0020…) and
    #   the content uses <hex> strings — the hash check then covers CMap
    #   font decoding through the distributed pipeline, because ignoring
    #   the CMap would garble every one of these rows;
    # - doc_id % 100 == 7 (r4): the same literal content inside an
    #   /ASCIIHexDecode-FILTERED stream — the §7.4 filter cascade
    #   (extractor 1.5.0) is then on the flagship hash path too: skipping
    #   or mis-decoding the declared filter would blank these rows.
    did = F.col("doc_id").cast("string")
    esc_pdf = F.replace(
        F.replace(
            F.replace(F.col("text"), F.lit("\\"), F.lit("\\\\")),
            F.lit("("),
            F.lit("\\("),
        ),
        F.lit(")"),
        F.lit("\\)"),
    )
    lit_pdf = F.concat(
        F.lit("%PDF-1.4\n1 0 obj\nBT (Doc "),
        did,
        F.lit(") Tj ET\nBT ("),
        esc_pdf,
        F.lit(") Tj ET\nendobj"),
    )
    # ASCIIHex-filtered variant: hex(UTF-8 bytes) of the identical literal
    # content — F.hex is JVM-side; the decoder accepts either hex case.
    ahx_pdf = F.concat(
        F.lit("%PDF-1.4\n4 0 obj\n<< /Filter /ASCIIHexDecode >>\nstream\n"),
        F.hex(
            F.concat(
                F.lit("BT (Doc "), did, F.lit(") Tj ET\nBT ("), esc_pdf, F.lit(") Tj ET")
            )
        ),
        F.lit(">\nendstream\nendobj\n"),
    )

    def rot1hex(col):
        return F.concat_ws(
            "",
            F.transform(F.split(col, ""), lambda c: F.lpad(F.hex(F.ascii(c) + 1), 2, "0")),
        )

    cmap = (
        "1 begincodespacerange\n<00> <FF>\nendcodespacerange\n"
        "1 beginbfrange\n<21> <7a> <0020>\nendbfrange"
    )
    tounicode_pdf = F.concat(
        F.lit(
            "%PDF-1.4\n"
            "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
            "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
            "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            "/Resources << /Font << /F1 7 0 R >> >> >>\nendobj\n"
            "4 0 obj\n<< >>\nstream\nBT /F1 12 Tf <"
        ),
        rot1hex(F.concat(F.lit("Doc "), did)),
        F.lit("> Tj ET\nBT /F1 12 Tf <"),
        rot1hex(F.col("text")),
        F.lit(
            "> Tj ET\nendstream\nendobj\n"
            "7 0 obj\n<< /Type /Font /ToUnicode 8 0 R >>\nendobj\n"
            "8 0 obj\n<< >>\nstream\n" + cmap + "\nendstream\nendobj\n"
            "trailer\n<< /Root 1 0 R >>\n%%EOF"
        ),
    )
    body = (
        F.when(F.col("doc_id") % 50 == 32, tounicode_pdf)
        .when(F.col("doc_id") % 100 == 7, ahx_pdf)
        .when(F.col("doc_id") % 25 == 7, lit_pdf)
        .otherwise(html_str)
    )
    return docs.select(
        F.expr(URL_SQL).alias("url"),
        (
            F.to_timestamp(F.lit("2024-01-01 10:00:00"))
            + F.make_interval(secs=F.col("doc_id").cast("double"))
        ).alias("warc_ts"),
        F.encode(body, "UTF-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang").alias("lang"),
    )


# ---------------------------------------------------------------------------
# 2. Standalone skewed corpus with edge rows
# ---------------------------------------------------------------------------

_VOCAB = (
    "the quick brown fox jumps over lazy dog spark shuffle partition salt "
    "merge lineage extract block density heading paragraph anchor crawl "
    "warc host domain page content boiler plate nav footer table list "
    "stream batch arrow codegen catalyst tungsten broadcast skew hash"
).split()

_HOT_HOST = "hot.example.com"

# knuth multiplicative hashing constants (public domain folklore)
_K1 = 2654435761
_K2 = 40503
_MOD = 2**32


def _h(x: int) -> int:
    return (x * _K1 + 0x9E3779B9) % _MOD


def _words(doc_id: int, para: int, n: int) -> str:
    base = _h(doc_id * 31 + para * 7)
    v = len(_VOCAB)
    return " ".join(_VOCAB[(base + j * _K2) % v] for j in range(n))


def _make_page(
    i: int, hot_tenths: int = 3, paras_mult: int = 1
) -> tuple[str, bytes | None, str | None, str]:
    """Return (url, html, fallback_text, lang) for row id i. Pure in i."""
    h = _h(i)
    if i % 10 < hot_tenths:  # deliberately hot host (default 30% of rows)
        host = _HOT_HOST
    else:
        host = f"host-{h % 997}.example.com"
    url = f"https://{host}/page-{i}.html"
    lang = ("en", "de", "fr", "zz")[i % 4]

    if i % 109 == 1:  # NULL html → fallback text path
        return url, None, _words(i, 0, 12), lang
    if i % 103 == 1:  # PDF with text objects (layout variants, det. in i)
        l1 = _words(i, 0, 6).encode("latin-1")
        l2 = _words(i, 1, 5).encode("latin-1")
        w3 = _words(i, 2, 2).encode("latin-1").split(b" ")
        content = (
            b"BT /F1 12 Tf 72 720 Td (" + l1 + b") Tj 0 -14 Td (" + l2 + b") Tj ET\n"
            b"BT [(" + w3[0] + b") -400 (" + w3[1] + b")] TJ ET"
        )
        if i % 3 == 0:  # FlateDecode-compressed content stream variant
            import zlib as _z

            pdf = (
                b"%PDF-1.5\n4 0 obj\n<< /Filter /FlateDecode >>\nstream\n"
                + _z.compress(content)
                + b"\nendstream\nendobj\n"
            )
        elif i % 3 == 1:
            # page-tree variant: catalog → Pages → 2 leaf pages, with page
            # 2's content object stored FIRST in the file — reads correctly
            # only through the page-tree walk (extractor 1.3.0). The
            # paragraph list is identical to the single-stream variant, so
            # goldens are unchanged while the structure path is exercised
            # end-to-end through the distributed pipeline.
            page1, page2 = content.split(b"\n", 1)

            def _sobj(num: int, data: bytes) -> bytes:
                return (
                    b"%d 0 obj\n<< /Length %d >>\nstream\n" % (num, len(data))
                    + data
                    + b"\nendstream\nendobj\n"
                )

            pdf = (
                b"%PDF-1.5\n"
                + _sobj(6, page2)
                + b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
                + b"2 0 obj\n<< /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 >>\nendobj\n"
                + b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
                + _sobj(4, page1)
                + b"5 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>\nendobj\n"
                + b"trailer\n<< /Size 7 /Root 1 0 R >>\nstartxref\n0\n%%EOF"
            )
        else:
            pdf = b"%PDF-1.4\n1 0 obj\n" + content + b"\nendobj\n"
        return url, pdf, None, lang
    if i % 97 == 1:  # empty body
        return url, b"<html><head><title>t</title></head><body></body></html>", None, lang
    if i % 93 == 1:  # script/style-heavy page: code must never leak into text
        body = _words(i, 0, 14)
        doc = (
            "<html><head><title>t</title>"
            "<style>p:before{content:'<fake>'} .x{color:red}</style>"
            '<script>var s = "<p>not text</p>"; if (a<b && c>d) { run(); }</script>'
            f"</head><body><article><p>{body}</p>"
            "<script>inline(1<2);</script></article></body></html>"
        )
        return url, doc.encode("utf-8"), None, lang
    if i % 91 == 1:  # comment/CDATA-wrapped chrome around real content
        body = _words(i, 1, 16)
        doc = (
            "<html><head><title>t</title></head><body>"
            "<!-- <nav><a href='/'>commented-out nav</a></nav> -->"
            "<![CDATA[ stray cdata block ]]>"
            f"<article><p>{body}</p></article>"
            "<!-- trailing comment --></body></html>"
        )
        return url, doc.encode("utf-8"), None, lang

    n_paras = (1 + i % 4) * paras_mult
    paras = []
    for p in range(n_paras):
        paras.append(f"<p>{_words(i, p, 8 + (h + p * 13) % 25)}</p>")
    maybe_list = ""
    if i % 5 == 0:
        items = "".join(f"<li>{_words(i, 90 + j, 6)}</li>" for j in range(3))
        maybe_list = f"<ul>{items}</ul>"
    maybe_img = f'<img src="/img/page-{i}.png">' if i % 7 == 0 else ""
    malformed = "<div><p>" if i % 89 == 1 else ""  # unclosed tags edge
    doc = (
        "<html><head><title>Page</title></head><body>"
        '<nav><ul><li><a href="/">Home</a></li><li><a href="/a">A</a></li>'
        '<li><a href="/b">B</a></li></ul></nav>'
        f"<article><h2>Section {i % 7}</h2>{malformed}{maybe_img}"
        f"{''.join(paras)}{maybe_list}</article>"
        '<footer><a href="/t">T</a> <a href="/p">P</a></footer></body></html>'
    )
    if i % 101 == 1:  # latin-1 bytes with declared charset
        doc = doc.replace("<head>", '<head><meta charset="iso-8859-1">')
        doc = doc.replace("<h2>", "<h2>café ")
        return url, doc.encode("latin-1"), None, lang
    return url, doc.encode("utf-8"), None, lang


def _gen_batches(
    batches: Iterator[pa.RecordBatch], hot_tenths: int = 3, paras_mult: int = 1
) -> Iterator[pa.RecordBatch]:
    import datetime as _dt

    # warc_ts as microseconds since the epoch, read as naive wall-clock time
    base_us = (_dt.datetime(2024, 1, 1, 10, 0, 0) - _dt.datetime(1970, 1, 1)) // _dt.timedelta(
        microseconds=1
    )
    for batch in batches:
        ids = batch.column("id").to_pylist()
        urls, htmls, texts, langs, tss = [], [], [], [], []
        for i in ids:
            url, html, text, lang = _make_page(i, hot_tenths, paras_mult)
            urls.append(url)
            htmls.append(html)
            texts.append(text)
            langs.append(lang)
            tss.append(base_us + (i % 86400) * 1_000_000)
        yield pa.RecordBatch.from_arrays(
            [
                C.strings(urls),
                C.numbers(tss, pa.timestamp("us")),
                C.binaries(htmls),
                C.strings(texts),
                C.strings(langs),
            ],
            names=["url", "warc_ts", "html", "text", "lang"],
        )


def generate_pages(
    spark: SparkSession,
    n_rows: int,
    partitions: int = 32,
    hot_tenths: int = 3,
    paras_mult: int = 1,
) -> DataFrame:
    """Seeded Common-Crawl-style pages corpus (see module docstring).

    ``hot_tenths``: tenths of the corpus assigned to the single hot host
    (3 → 30%; crank to 8 for pathological-skew tests).
    ``paras_mult``: multiplies the paragraph count per page (1 → ~0.6-2 KB
    pages; 20 → ~12 KB average, closer to real Common-Crawl page sizes).
    """
    import functools

    rng = spark.range(0, n_rows, 1, partitions)
    gen = functools.partial(_gen_batches, hot_tenths=hot_tenths, paras_mult=paras_mult)
    return rng.mapInArrow(gen, PAGES_SCHEMA)
