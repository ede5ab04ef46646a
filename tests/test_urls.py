"""URL canonicalization / host ops vs an independent Python reference
implementing the same documented contract with plain string ops."""

from __future__ import annotations

import hashlib
import math
import random
import re

import pytest

from pyspark.sql import functions as F

from mistral_ocr_spark.operators import urls as U

_TRACK = re.compile(r"^(utm_[^=]*|gclid|fbclid|msclkid|mc_eid)(=.*)?$")


# --- independent reference -------------------------------------------------

def ref_canon(u: str | None) -> str | None:
    if u is None:
        return None
    u = u.split("#", 1)[0]
    m = re.match(r"^([^/?#]*://[^/?#]*)(.*)$", u, re.S)
    if m:
        u = m.group(1).lower() + m.group(2)
    m = re.match(r"^(http://[^/?#:]+):80($|[/?#].*)$", u, re.S)
    if m:
        u = m.group(1) + m.group(2)
    m = re.match(r"^(https://[^/?#:]+):443($|[/?#].*)$", u, re.S)
    if m:
        u = m.group(1) + m.group(2)
    if "?" in u:
        base, qs = u.split("?", 1)
        kept = [p for p in qs.split("&") if not _TRACK.match(p)]
        u = base + ("?" + "&".join(kept) if kept else "")
    m = re.match(r"^([a-z][a-z0-9+.\-]*://[^/?#]+)/$", u)
    if m:
        u = m.group(1)
    return u


def ref_host(u: str | None) -> str:
    if u is None:
        return ""
    m = re.match(r"^[^/?#]*://(?:[^/?#@]*@)?(\[[^\]/?#]*\]|[^/?#:]+)", u)
    return m.group(1).lower() if m else ""


def ref_bucket(i, salt="hostcap-v1"):
    h = hashlib.md5(f"{i}-{salt}".encode()).hexdigest()
    return int(h[:8], 16) % 1_000_000


def ref_host_cap(rows, cap, salt="hostcap-v1"):
    by_host: dict[str, list] = {}
    for i, u in rows:
        by_host.setdefault(ref_host(u), []).append(i)
    keep = set()
    for ids in by_host.values():
        if len(ids) <= cap:
            keep.update(ids)
            continue
        thresh = min(1_000_000, math.ceil(2 * cap * 1_000_000 / len(ids)))
        surv = sorted(
            (ref_bucket(i, salt), i) for i in ids if ref_bucket(i, salt) < thresh
        )
        keep.update(i for _, i in surv[:cap])
    return keep


# --- canonicalization ------------------------------------------------------

CASES = [
    ("HTTP://Example.COM:80/Path?utm_source=x&q=1#frag", "http://example.com/Path?q=1"),
    ("https://A.B:443/", "https://a.b"),
    ("http://x.com/?gclid=5", "http://x.com"),
    ("http://x.com/?gclidx=5", "http://x.com/?gclidx=5"),  # name boundary
    ("http://x.com:8080/", "http://x.com:8080"),  # port kept, root / dropped
    ("example.com/page?utm_a=1&b=2", "example.com/page?b=2"),
    ("http://User@X.com/P", "http://user@x.com/P"),
    ("https://x.com/a/?utm_campaign=z", "https://x.com/a/"),  # non-root slash kept
    ("http://x.com", "http://x.com"),
    ("", ""),
    (None, None),
]


def test_canonicalize_cases(spark):
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(CASES)], "i long, url string"
    )
    got = {
        r["i"]: r["c"]
        for r in df.select("i", U.canonicalize_url(F.col("url")).alias("c")).collect()
    }
    for i, (u, want) in enumerate(CASES):
        assert got[i] == want, (u, got[i], want)
        assert ref_canon(u) == want, (u, ref_canon(u), want)  # ref agrees too


def _rand_urls(n=250, seed=31):
    rng = random.Random(seed)
    schemes = ["http", "HTTP", "https", "ftp", ""]
    hosts = ["Example.com", "a.b.co.uk", "X.Y", "localhost", "pics.example.com"]
    ports = ["", ":80", ":443", ":8080"]
    paths = ["", "/", "/a", "/a/b.html", "/a/"]
    params = ["utm_source=x", "q=1", "gclid=9", "id=a&utm_medium=m", "fbclid", "x=y"]
    frags = ["", "#top", "#a?b"]
    out = []
    for _ in range(n):
        s = rng.choice(schemes)
        pre = f"{s}://" if s else ""
        q = rng.choice(["", "?" + "&".join(rng.sample(params, rng.randint(1, 3)))])
        out.append(
            pre
            + rng.choice(hosts)
            + rng.choice(ports)
            + rng.choice(paths)
            + q
            + rng.choice(frags)
        )
    return out


def test_canonicalize_fuzz_matches_reference(spark):
    urls = _rand_urls()
    df = spark.createDataFrame(list(enumerate(urls)), "i long, url string")
    got = {
        r["i"]: r["c"]
        for r in df.select("i", U.canonicalize_url(F.col("url")).alias("c")).collect()
    }
    for i, u in enumerate(urls):
        assert got[i] == ref_canon(u), (u, got[i], ref_canon(u))


def test_host_and_registrable_domain(spark):
    cases = [
        ("http://www.BBC.co.uk/news", "www.bbc.co.uk", "bbc.co.uk"),
        ("https://a.sub.example.com/x", "a.sub.example.com", "example.com"),
        ("http://u:p@shop.com.au:8080/", "shop.com.au", "shop.com.au"),
        ("http://localhost/x", "localhost", "localhost"),
        ("no-scheme/path", "", ""),
        # IPv6 literal keeps its brackets (would truncate at ':' otherwise)
        ("http://[2001:db8::1]:8080/x", "[2001:db8::1]", "[2001:db8::1]"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _, _) in enumerate(cases)], "i long, url string"
    )
    h = U.url_host(F.col("url"))
    got = {
        r["i"]: (r["h"], r["d"])
        for r in df.select(
            "i", h.alias("h"), U.registrable_domain(h).alias("d")
        ).collect()
    }
    for i, (u, wh, wd) in enumerate(cases):
        assert got[i] == (wh, wd), (u, got[i])
        assert ref_host(u) == wh


# --- host cap --------------------------------------------------------------

def _cap_corpus():
    rng = random.Random(5)
    rows = []
    i = 0
    for host, n in [("big.com", 200), ("mid.org", 12), ("tiny.net", 3), ("", 5)]:
        for _ in range(n):
            pre = f"http://{host}" if host else "relative"
            rows.append((i, f"{pre}/p{rng.randint(0, 10**6)}"))
            i += 1
    # NULL urls must survive under the '' pseudo-host, never vanish
    rows.append((i, None))
    rows.append((i + 1, None))
    return rows


def test_host_cap_matches_reference(spark):
    rows = _cap_corpus()
    cap = 10
    df = spark.createDataFrame(rows, "doc_id long, url string").repartition(8)
    kept = {r["doc_id"] for r in U.host_cap_sample(df, cap, "url").collect()}
    assert kept == ref_host_cap(rows, cap)
    # structural: cap respected, small hosts intact
    by_host: dict[str, int] = {}
    urlmap = dict(rows)
    for i in kept:
        h = ref_host(urlmap[i])
        by_host[h] = by_host.get(h, 0) + 1
    assert by_host["big.com"] == cap
    assert by_host["mid.org"] == cap
    assert by_host["tiny.net"] == 3
    assert by_host[""] == 7  # 5 relative + 2 NULL urls, all kept


def test_host_cap_deterministic_across_parallelism(spark):
    rows = _cap_corpus()
    a = {
        r["doc_id"]
        for r in U.host_cap_sample(
            spark.createDataFrame(rows, "doc_id long, url string").repartition(2), 7
        ).collect()
    }
    b = {
        r["doc_id"]
        for r in U.host_cap_sample(
            spark.createDataFrame(rows, "doc_id long, url string").repartition(16), 7
        ).collect()
    }
    assert a == b


def test_host_cap_validation(spark):
    df = spark.createDataFrame([(1, "http://x/")], "doc_id long, url string")
    with pytest.raises(ValueError):
        U.host_cap_sample(df, 0)


def test_mid_host_cap_exactness_note(spark):
    """mid.org has 12 rows, cap 10: thresh = ceil(2*10*1e6/12) > 1e6 so
    the prefilter keeps everything and the window rank is exact — the
    'fewer than cap' tail risk only exists when thresh < 1e6 AND the
    hash draw starves, i.e. genuinely hot hosts."""
    rows = [(i, "http://mid.org/x%d" % i) for i in range(12)]
    kept = U.host_cap_sample(
        spark.createDataFrame(rows, "doc_id long, url string"), 10
    ).count()
    assert kept == 10


# --- extract_links / host_link_graph ---------------------------------------

_HREF_PATS = [
    r"(?is)<a\s(?:[^>]*?\s)?href\s*=\s*\"([^\"]*)\"",
    r"(?is)<a\s(?:[^>]*?\s)?href\s*=\s*'([^']*)'",
    r"(?is)<a\s(?:[^>]*?\s)?href\s*=\s*([^\s\"'>][^\s>]*)",
]


def ref_links(url: str, html) -> set[str]:
    """Independent replay of the extract_links contract (module docstring)."""
    if html is None:
        return set()
    text = html.decode("utf-8", "replace") if isinstance(html, (bytes, bytearray)) else html
    text = re.sub(r"(?s)<!--.*?-->", "", text)
    raws = [m for pat in _HREF_PATS for m in re.findall(pat, text)]
    # resolution shared with ref_directives — one replay of the
    # _resolve_href contract (review finding: two inline copies drifted)
    return {r for r in (_ref_resolve(url, link) for link in raws) if r}


_PAGES = [
    # quoting variants + case + extra attrs
    ("https://a.example/dir/page.html",
     '<a href="https://b.example/x">b</a> <A CLASS=z HREF=\'https://c.example/\'>c</A> '
     '<a id=q href=https://d.example/y>d</a>'),
    # relative resolution: root-relative, subdir-relative, protocol-relative
    ("https://a.example/dir/page2.html",
     '<a href="/top">t</a><a href="sub/leaf.html">s</a><a href="//e.example/p">e</a>'),
    # base with no path: relative joins root + /
    ("https://bare.example",
     '<a href="x.html">x</a><a href="/y">y</a>'),
    # drops: other schemes, fragment-only, empty, commented-out, <link> tag
    ("https://a.example/",
     '<a href="mailto:a@b.c">m</a><a href="javascript:void(0)">j</a>'
     '<a href="#frag">f</a><a href="">e</a>'
     '<!-- <a href="https://ghost.example/">gone</a> -->'
     '<link rel="stylesheet" href="https://cdn.example/app.css">'
     '<a href="https://keep.example/page#sec">k</a>'),
    # dedup within a page + uppercase scheme kept
    ("http://dup.example/",
     '<a href="https://t.example/1">1</a><a href="https://t.example/1">1b</a>'
     '<a href="HTTPS://up.example/P">up</a>'),
    # attribute names merely ENDING in href are not links (r5 review:
    # the pattern needs a whitespace boundary before 'href')
    ("https://ph.example/",
     '<a data-href="https://phantom.example/">p</a>'
     '<a ng-href="https://phantom2.example/">n</a>'
     '<a class=x href="https://real.example/">r</a>'),
]


def test_extract_links_matches_reference(spark):
    rows = [(u, h.encode()) for u, h in _PAGES]
    df = spark.createDataFrame(rows, "url string, html binary")
    got: dict[str, set] = {}
    for r in U.extract_links(df).collect():
        got.setdefault(r["url"], set()).add(r["link"])
    want = {u: ref_links(u, h) for u, h in _PAGES}
    want = {u: ls for u, ls in want.items() if ls}
    assert got == want
    # spot-check the contract, not just the replay
    assert "https://a.example/top" in got["https://a.example/dir/page2.html"]
    assert "https://a.example/dir/sub/leaf.html" in got["https://a.example/dir/page2.html"]
    assert "https://e.example/p" in got["https://a.example/dir/page2.html"]
    assert got["https://bare.example"] == {
        "https://bare.example/x.html", "https://bare.example/y"}
    assert got["https://a.example/"] == {"https://keep.example/page"}
    assert got["http://dup.example/"] == {
        "https://t.example/1", "HTTPS://up.example/P"}
    assert got["https://ph.example/"] == {"https://real.example/"}


def test_extract_links_custom_column_names(spark):
    # r5 review: resolution expressions must bind to the post-select
    # alias, not the caller's column name
    df = spark.createDataFrame(
        [("https://c.example/d/", b'<a href="x">x</a>')],
        "page_url string, body binary",
    )
    got = {
        (r["url"], r["link"])
        for r in U.extract_links(df, url_col="page_url", html_col="body").collect()
    }
    assert got == {("https://c.example/d/", "https://c.example/d/x")}


def test_extract_links_null_html_and_no_links(spark):
    df = spark.createDataFrame(
        [("https://n.example/", None), ("https://p.example/", b"<p>plain</p>")],
        "url string, html binary",
    )
    assert U.extract_links(df).count() == 0


def test_host_link_graph_edges(spark):
    links = spark.createDataFrame(
        [
            ("https://a.example/1", "https://b.example/x"),
            ("https://a.example/2", "https://b.example/y"),   # same host pair
            ("https://a.example/1", "https://a.example/self"),  # self-loop
            ("https://b.example/1", "https://a.example/"),      # reverse edge
            ("nohost", "https://b.example/"),                   # no authority
        ],
        "url string, link string",
    )
    got = {(r["src_host"], r["dst_host"]) for r in U.host_link_graph(links).collect()}
    assert got == {("a.example", "b.example"), ("b.example", "a.example")}


def test_extract_links_kernel_evaluates_once(spark):
    """The href-extraction regexes must appear exactly once each in the
    physical plan: a plain explode would let InferFiltersFromGenerate
    clone the whole kernel into a size()>0 filter (the r4 lesson)."""
    df = spark.createDataFrame(
        [("https://a.example/", b'<a href="https://b.example/">x</a>')],
        "url string, html binary",
    )
    plan = U.extract_links(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("regexp_extract_all") == 3, f"kernel duplicated:\n{plan[:1500]}"


def test_filter_blocked_domains(spark):
    rows = [
        (0, "https://www.bad.example/p"),       # subdomain of blocked
        (1, "https://cdn.sub.bad.example/x"),   # deeper subdomain
        (2, "https://goodbad.example/x"),       # name suffix, different domain
        (3, "https://bad.example.au/x"),        # different TLD
        (4, "https://EVIL.co.uk/x"),            # case-folded, multi-part TLD
        (5, "https://fine.example/x"),
        (6, "no-authority-url"),                # '' domain passes
        (7, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    kept = {
        r["doc_id"]
        for r in U.filter_blocked_domains(
            df, ["bad.example", "Evil.co.uk"]
        ).collect()
    }
    assert kept == {2, 3, 5, 6, 7}
    # DataFrame blocklist form + plan stays a broadcast anti-join
    bl = spark.createDataFrame([("bad.example",)], "domain string")
    out = U.filter_blocked_domains(df, bl)
    assert {r["doc_id"] for r in out.collect()} == {2, 3, 4, 5, 6, 7}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:800]


# ---------------------------------------------------------------------------
# page directives (rel=canonical, meta robots) + canonical dedup
# ---------------------------------------------------------------------------

def _ref_resolve(url: str, link: str):
    """The shared _resolve_href contract, replayed in stdlib re."""
    if re.match(r"(?i)^https?://", link):
        r = link
    elif re.match(r"^[a-zA-Z][a-zA-Z0-9+.\-]*:", link):
        return None
    elif link.startswith("//"):
        m = re.match(r"^([a-z][a-z0-9+.\-]*):", url)
        r = (m.group(1) if m else "") + ":" + link
    elif link.startswith("/"):
        m = re.match(r"^([^/?#]*://[^/?#]*)", url)
        r = (m.group(1) if m else "") + link
    elif link.startswith("#") or link == "":
        return None
    else:
        root_m = re.match(r"^([^/?#]*://[^/?#]*)", url)
        root = root_m.group(1) if root_m else ""
        path_m = re.match(r"^[^/?#]*://[^/?#]*(/[^?#]*)?", url)
        path = (path_m.group(1) or "") if path_m else ""
        pdir = root + re.sub(r"[^/]*$", "", path)
        if not re.search(r"://[^/?#]*/", pdir):
            pdir = root + "/"
        r = pdir + link
    return r.split("#", 1)[0] or None


_ATTR_RE = re.compile(
    r"""([a-zA-Z][\w:.-]*)\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s"'>]+))"""
)


def _tag_attrs(tag: str) -> dict[str, str]:
    """Attribute map of one tag string — a real (if small) attribute
    parser, structurally different from the implementation's regexes."""
    out = {}
    for m in _ATTR_RE.finditer(tag):
        v = m.group(2) if m.group(2) is not None else m.group(3)
        if v is None:
            v = m.group(4)
        out.setdefault(m.group(1).lower(), v)
    return out


def ref_directives(url: str, html):
    """INDEPENDENT replay of the with_page_directives contract: tags are
    enumerated and their attributes parsed semantically (name/value map),
    instead of re-running the implementation's whole-page regexes — a
    same-regex 'oracle' is structurally incapable of catching boundary
    bugs in those regexes (review finding; the tag-spillover bug survived
    exactly that way). Fixtures must stay inside the documented contract
    (no '>' in attribute values; robots tokens carried in the content
    attribute), where the two formulations provably agree."""
    if html is None:
        return (None, False, False)
    text = html.decode("utf-8", "replace") if isinstance(html, (bytes, bytearray)) else html
    text = re.sub(r"(?s)<!--.*?-->", "", text)
    canonical = None
    for tag in re.findall(r"(?is)<link\b[^>]*>", text):
        attrs = _tag_attrs(tag)
        if attrs.get("rel", "").lower() == "canonical":
            raw = attrs.get("href", "")
            if raw:
                canonical = _ref_resolve(url, raw)
            break  # FIRST canonical link decides, href or not
    noindex = nofollow = False
    for tag in re.findall(r"(?is)<meta\b[^>]*>", text):
        attrs = _tag_attrs(tag)
        if attrs.get("name", "").lower() == "robots":
            toks = set(re.split(r"[,\s]+", attrs.get("content", "").lower()))
            noindex = noindex or "noindex" in toks
            nofollow = nofollow or "nofollow" in toks
    return (canonical, noindex, nofollow)


_DIRECTIVE_PAGES = [
    # canonical: double-quoted, extra attrs, absolute target
    ("https://s.example/a?utm_source=x",
     '<link rel="canonical" href="https://s.example/a"><p>x</p>'),
    # href BEFORE rel, single quotes
    ("https://s.example/b.amp",
     "<link href='https://s.example/b' rel='canonical'>"),
    # unquoted both attrs + relative href resolves against the page dir
    ("https://s.example/dir/c.print",
     "<link rel=canonical href=c.html>"),
    # root-relative target
    ("https://s.example/d?sess=9",
     '<link rel="canonical" href="/d">'),
    # multi-token rel list: documented conservative -> NOT matched
    ("https://s.example/e",
     '<link rel="canonical alternate" href="https://s.example/other">'),
    # commented-out directive ignored; fragment stripped from target
    ("https://s.example/f",
     '<!-- <link rel="canonical" href="https://ghost.example/"> -->'
     '<link rel="canonical" href="https://s.example/f2#top">'),
    # unresolvable (non-http scheme) target -> NULL
    ("https://s.example/g",
     '<link rel="canonical" href="mailto:x@y.z">'),
    # robots: both tokens, case-insensitive name/content, comma list
    ("https://s.example/h",
     '<meta NAME="ROBOTS" CONTENT="NOINDEX, nofollow"><p>t</p>'),
    # content before name; unquoted attrs; only noindex
    ("https://s.example/i",
     '<meta content="noindex" name=robots>'),
    # 'noindexed' must NOT match; other meta names must NOT match
    ("https://s.example/j",
     '<meta name="robots" content="noindexed"><meta name="x" content="noindex">'),
    # token directly before tag end (unquoted content=noindex>)
    ("https://s.example/k",
     "<meta name=robots content=noindex>"),
    # no markup at all
    ("https://s.example/plain", "<p>hello</p>"),
    # --- review-reproduced boundary bugs, pinned ---
    # bare rel=canonical closing its tag must NOT spill the match into
    # the next tag and steal ITS href
    ("https://s.example/evil",
     '<link rel=canonical><a href="https://evil.example/page">x</a>'),
    # bare rel=canonical as the LAST attribute of the document's last tag
    ("https://s.example/endbare",
     '<p>x</p><link href="https://s.example/t" rel=canonical>'),
    # token needs a LEFT boundary too
    ("https://s.example/non", '<meta name="robots" content="nonoindex">'),
    # robots value must be closed (quote/whitespace), not a prefix match
    ("https://s.example/rx", '<meta name="robotsx" content="noindex">'),
    ("https://s.example/rf", '<meta name="robots-foo" content="noindex">'),
    # attribute NAMES need a whitespace boundary (data-name, data-rel)
    ("https://s.example/dn", '<meta data-name="robots" content="noindex">'),
    ("https://s.example/drel",
     '<link data-rel=canonical href="https://x.example/q">'),
    # the FIRST canonical link decides, even when it has no href
    ("https://s.example/first",
     '<link rel="canonical"><link rel="canonical" href="https://s.example/second">'),
]


def test_page_directives_match_reference(spark):
    rows = [(u, h.encode()) for u, h in _DIRECTIVE_PAGES] + [
        ("https://s.example/nullhtml", None)
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    got = {r.url: (r.canonical, r.noindex, r.nofollow)
           for r in U.page_directives(df).collect()}
    want = {u: ref_directives(u, h) for u, h in _DIRECTIVE_PAGES}
    want["https://s.example/nullhtml"] = (None, False, False)
    assert got == want
    # contract spot-checks, not just the replay
    assert got["https://s.example/a?utm_source=x"][0] == "https://s.example/a"
    assert got["https://s.example/b.amp"][0] == "https://s.example/b"
    assert got["https://s.example/dir/c.print"][0] == "https://s.example/dir/c.html"
    assert got["https://s.example/d?sess=9"][0] == "https://s.example/d"
    assert got["https://s.example/e"][0] is None
    assert got["https://s.example/f"][0] == "https://s.example/f2"
    assert got["https://s.example/g"][0] is None
    assert got["https://s.example/h"][1:] == (True, True)
    assert got["https://s.example/i"][1:] == (True, False)
    assert got["https://s.example/j"][1:] == (False, False)
    assert got["https://s.example/k"][1:] == (True, False)
    assert got["https://s.example/plain"] == (None, False, False)
    assert got["https://s.example/evil"][0] is None  # no href theft
    assert got["https://s.example/endbare"][0] == "https://s.example/t"
    assert got["https://s.example/non"][1:] == (False, False)
    assert got["https://s.example/rx"][1:] == (False, False)
    assert got["https://s.example/rf"][1:] == (False, False)
    assert got["https://s.example/dn"][1:] == (False, False)
    assert got["https://s.example/drel"][0] is None
    assert got["https://s.example/first"][0] is None


def test_with_page_directives_column_collision_raises(spark):
    df = spark.createDataFrame(
        [("https://x/", b"<p>t</p>", "z")], "url string, html binary, canonical string"
    )
    with pytest.raises(ValueError, match="collide"):
        U.with_page_directives(df)


_CANON_PAGES = [
    # group 1: the target itself + two declaring variants -> target wins
    ("https://s.example/art", '<link rel="canonical" href="https://s.example/art">body'),
    ("https://s.example/art.amp", '<link rel="canonical" href="https://s.example/art">amp'),
    ("https://s.example/art?utm_campaign=q", '<link rel="canonical" href="https://s.example/art">utm'),
    # group 2: two variants of an uncrawled target -> min url wins
    ("https://s.example/p2.print", '<link rel="canonical" href="https://s.example/p2">pr'),
    ("https://s.example/p2.amp", '<link rel="canonical" href="https://s.example/p2">am'),
    # undeclared pages whose urls collapse under canonicalize_url alone
    ("https://MIRROR.example/?utm_source=x", "<p>m1</p>"),
    ("https://mirror.example", "<p>m2</p>"),
    # independent undeclared page, survives alone
    ("https://solo.example/one", "<p>s</p>"),
    # noindex page, its own identity
    ("https://noidx.example/x", '<meta name="robots" content="noindex"><p>n</p>'),
]


def test_canonical_dedup_planted_groups(spark):
    df = spark.createDataFrame(
        [(u, h.encode()) for u, h in _CANON_PAGES], "url string, html binary"
    )
    out = U.canonical_dedup(df)
    assert out.columns == ["url", "html", "canonical_key"]
    got = {r.canonical_key: r.url for r in out.collect()}
    # group 1: the self-declaring target page wins over its variants
    assert got["https://s.example/art"] == "https://s.example/art"
    # group 2: no self page -> deterministic min url
    assert got["https://s.example/p2"] == "https://s.example/p2.amp"
    # url-trivia collapse without any declaration (canonicalize_url alone)
    assert got["https://mirror.example"] == "https://MIRROR.example/?utm_source=x"
    assert got["https://solo.example/one"] == "https://solo.example/one"
    assert len(got) == 5  # art, p2, mirror, solo, noidx
    # drop_noindex filters the opt-out page before the window
    got2 = {r.canonical_key for r in U.canonical_dedup(df, drop_noindex=True).collect()}
    assert "https://noidx.example/x" not in got2 and len(got2) == 4


def test_canonical_dedup_null_urls_never_dropped(spark):
    # N NULL-url pages must ALL survive (a NULL window key would group
    # them and keep one — the host_cap_sample never-silently-drop rule)
    rows = [(None, b"<p>a</p>"), (None, b"<p>b</p>"), (None, b"<p>c</p>"),
            ("https://ok.example/x", b"<p>d</p>")]
    df = spark.createDataFrame(rows, "url string, html binary")
    out = U.canonical_dedup(df).collect()
    assert len(out) == 4
    assert sum(1 for r in out if r.url is None) == 3
    assert all(r.canonical_key is None for r in out if r.url is None)


def test_canonical_dedup_column_collision_raises(spark):
    df = spark.createDataFrame(
        [("https://x/", b"<p>t</p>", "old")],
        "url string, html binary, canonical_key string",
    )
    with pytest.raises(ValueError, match="collide"):
        U.canonical_dedup(df)


def test_canonical_dedup_deterministic_across_parallelism(spark):
    rows = [(u, h.encode()) for u, h in _CANON_PAGES]
    df2 = spark.createDataFrame(rows, "url string, html binary").repartition(2)
    df16 = spark.createDataFrame(rows, "url string, html binary").repartition(16)
    a = sorted((r.url, r.canonical_key) for r in U.canonical_dedup(df2).collect())
    b = sorted((r.url, r.canonical_key) for r in U.canonical_dedup(df16).collect())
    assert a == b


def test_page_directives_kernels_evaluate_once(spark):
    """The page-sized regex kernels must each appear exactly once in the
    physical plan: comment strip (referenced by the canonical-tag extract
    AND four robots flags), and the <link> tag extract (referenced by
    three href whens) — the no-CSE-in-projections lesson. The four <meta>
    regexes are four DISTINCT kernels (fwd/bwd x noindex/nofollow)."""
    df = spark.createDataFrame(
        [("https://a.example/", b"<p>x</p>")], "url string, html binary"
    )
    plan = U.page_directives(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("<!--") == 1, f"comment-strip kernel duplicated:\n{plan[:1500]}"
    assert plan.count("<link") == 1, f"ctag kernel duplicated:\n{plan[:1500]}"
    assert plan.count("<meta") == 4
    # in canonical_dedup the robots flags are dropped -> column pruning
    # must eliminate their kernels outright (default drop_noindex=False)
    plan2 = U.canonical_dedup(df)._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("<!--") == 1 and plan2.count("<link") == 1
    assert plan2.count("<meta") == 0, "unused robots kernels not pruned"


def test_host_cap_sample_null_ids_not_silently_dropped(spark):
    """ADVICE r5: rows with NULL id hashed to a NULL md5 bucket, so in an
    OVER-CAP host the prefilter predicate evaluated NULL and those rows
    silently vanished. NULL ids now hash via a pseudo-value: the total
    kept for the hot host still honors the cap, and a NULL-id row is
    eligible like any other (never auto-dropped)."""
    rows = [(f"https://hot.example/p{i}", i) for i in range(40)]
    rows.append(("https://hot.example/pnull", None))
    rows.append(("https://cold.example/q", 7000))
    df = spark.createDataFrame(rows, "url string, id long")
    kept = U.host_cap_sample(df, 40, url_col="url", id_col="id").collect()
    # under-cap host keeps its row; hot host (41 rows > cap 40) keeps cap
    assert sum(1 for r in kept if "cold" in r.url) == 1
    hot = [r for r in kept if "hot" in r.url]
    assert len(hot) == 40
    # the NULL-id row competed: it is either kept or displaced by rank,
    # but with cap 40 of 41 rows exactly one row lost — non-silently
    assert sum(1 for r in kept if r.id is None) in (0, 1)


def test_host_cap_sample_null_id_ties_deterministic_across_parallelism(spark):
    """NULL-id rows share one hash bucket, so in an over-cap host they tie
    on ``(_b, id)``; url breaks the tie, so the kept urls do not depend on
    the partitioning (the smallest urls win)."""
    rows = [(f"https://hot.example/p{i:02d}", None) for i in range(20)]
    rows += [(f"https://cold.example/q{i}", i) for i in range(3)]

    def kept(n):
        df = spark.createDataFrame(rows, "url string, id long").repartition(n)
        kept = U.host_cap_sample(df, 7, url_col="url", id_col="id").collect()
        return sorted(r.url for r in kept)

    a, b = kept(2), kept(16)
    assert a == b
    assert [u for u in a if "hot" in u] == sorted(u for u, _ in rows if "hot" in u)[:7]
    assert sum(1 for u in a if "cold" in u) == 3
