"""Sitemap source: parse sitemap.xml / sitemap-index blobs into url rows.

The discovery-side sibling of the WARC source: a crawl pipeline learns
WHAT to fetch from sitemaps (sitemaps.org protocol — ``<urlset>`` leaf
files and ``<sitemapindex>`` files pointing at more sitemaps, either
possibly gzip-compressed, ≤50k entries each by spec), and at web scale
the input is a table of fetched sitemap blobs, one row per file.

Design (the warc.py contract): one ``mapInArrow`` pass, each input row
a whole sitemap blob, each output row one ``<url>``/``<sitemap>`` entry.
Parallelism = many blobs (the spec's 50k-entry cap bounds per-row work).
Parsing is stdlib ``xml.etree`` on the decompressed bytes — namespace-
agnostic localname matching, since real-world sitemaps disagree about
default-namespace declarations.

Tolerance contract: an undecodable or malformed blob emits ONE
``kind='parse_error'`` row carrying the error class; other blobs are
unaffected (the extract_batches error-capture rule). ``lastmod`` is
emitted as the raw W3C-datetime string — casting is the caller's choice
(``to_timestamp`` handles the common forms), and a malformed lastmod
must not cost the loc.

Reference parity: stevegsax/mistral-ocr enumerates local files to
process (simple_client.py upload loop); sitemaps are the crawl-native
enumeration of the same decision.
"""

from __future__ import annotations

import gzip
import io
import re

from pyspark.sql import DataFrame

from mistral_ocr_spark import arrowcols as C

SITEMAP_SCHEMA = (
    "src_id bigint, kind string, loc string, lastmod string, "
    "changefreq string, priority double, error_class string"
)


def _localname(tag: str) -> str:
    return tag.rsplit("}", 1)[-1].lower()


def parse_sitemap_bytes(payload: bytes) -> list[tuple]:
    """One blob → entry tuples (kind, loc, lastmod, changefreq, priority).
    ``kind`` is ``url`` (leaf urlset entry) or ``sitemap`` (index entry —
    its loc names ANOTHER sitemap to fetch, not a page). Raises on
    malformed input; the Spark wrapper turns that into a parse_error row.
    Driver/tests call this directly; ``read_sitemaps`` runs it in the
    kernel."""
    import xml.etree.ElementTree as ET

    if payload[:2] == b"\x1f\x8b":
        payload = gzip.decompress(payload)
    root = ET.parse(io.BytesIO(payload)).getroot()
    rootname = _localname(root.tag)
    if rootname not in ("urlset", "sitemapindex"):
        raise ValueError(f"not a sitemap root element: {rootname}")
    kind = "url" if rootname == "urlset" else "sitemap"
    # only the root-appropriate entry tag: a stray <sitemap> child inside
    # a <urlset> is NOT a page and must not leak into the fetch frontier
    # as one (review finding, reproduced)
    entry_tag = "url" if kind == "url" else "sitemap"
    out = []
    for entry in root:
        if _localname(entry.tag) != entry_tag:
            continue
        fields = {"loc": None, "lastmod": None, "changefreq": None, "priority": None}
        for child in entry:
            name = _localname(child.tag)
            if name in fields:
                fields[name] = (child.text or "").strip() or None
        if not fields["loc"]:
            continue  # an entry without a loc carries nothing fetchable
        prio = None
        if fields["priority"] is not None and re.fullmatch(
            r"[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?", fields["priority"]
        ):
            # plain-decimal gate before float(): bare float() accepts
            # 'nan'/'Infinity'/'1_0', which are malformed per the spec and
            # must become None, not NaN/inf in a double column (review)
            prio = float(fields["priority"])
        out.append((kind, fields["loc"], fields["lastmod"], fields["changefreq"], prio))
    return out


def read_sitemaps(
    blobs: DataFrame,
    id_col: str = "src_id",
    payload_col: str = "payload",
) -> DataFrame:
    """``(src_id, payload binary)`` → one row per sitemap entry
    (``SITEMAP_SCHEMA``). Plain or gzip blobs; per-blob error isolation
    (``kind='parse_error'`` + ``error_class``, loc NULL)."""
    return blobs.select(
        blobs[id_col].cast("long").alias("src_id"), blobs[payload_col].alias("payload")
    ).mapInArrow(_entry_batches, SITEMAP_SCHEMA)


def _entry_batches(batches):
    """mapInArrow kernel of ``read_sitemaps`` over (src_id, payload)."""
    for batch in batches:
        rows = []
        for sid, payload in zip(batch.column(0).to_pylist(), batch.column(1).to_pylist()):
            if payload is None:
                rows.append((sid, "parse_error", None, None, None, None, "null_payload"))
                continue
            try:
                for kind, loc, lastmod, cf, prio in parse_sitemap_bytes(payload):
                    rows.append((sid, kind, loc, lastmod, cf, prio, None))
            except Exception as exc:  # malformed blob → one typed row
                rows.append((sid, "parse_error", None, None, None, None, type(exc).__name__))
        if rows:
            yield C.batch(SITEMAP_SCHEMA, zip(*rows))


def sitemap_pages(entries: DataFrame) -> DataFrame:
    """Leaf page urls from ``read_sitemaps`` output, deduplicated — the
    fetch frontier. Index entries (``kind='sitemap'``) are pointers to
    MORE sitemaps: fetch those blobs and run ``read_sitemaps`` again
    (fetching is outside this engine — no network in-cluster by design,
    the same boundary the WARC source draws)."""
    from pyspark.sql import functions as F

    return (
        entries.filter(F.col("kind") == "url")
        .select("loc", "lastmod")
        .groupBy("loc")
        # chronological recency, not string order: a lexicographic max
        # over raw W3C datetimes picks '13:00+02:00' over '12:00Z' even
        # though it is the OLDER instant (review finding). max_by on the
        # timestamp cast decides among parseable values (unparseable cast
        # to NULL and are ignored); the string max is only the fallback
        # when no value parses at all.
        .agg(
            F.coalesce(
                F.max_by("lastmod", F.col("lastmod").cast("timestamp")),
                F.max("lastmod"),
            ).alias("lastmod")
        )
    )
