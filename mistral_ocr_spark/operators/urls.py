"""URL canonicalization and host-level corpus controls.

A web-scale training-data pipeline keys almost everything on the url
(dedup identity, per-host politeness caps, domain mixing weights), and
raw crawl urls disagree on trivia — scheme/host case, default ports,
tracking parameters, fragments. The reference stores urls verbatim and
keys its get-or-create on the exact string
(simple_client.py:520-536); these operators supply the canonical-key
layer above that, plus the Common-Crawl-style host controls.

Everything here is pure Spark built-ins (regexp + array functions — no
lookarounds anywhere, so every pattern is portable to RE2 engines; the
redact_pii lesson). The expression ops are map-side zero-shuffle;
``host_cap_sample`` shuffles twice by design (see its docstring's
shuffle accounting).

Canonicalization contract (documented, deliberately conservative — no
path re-encoding, no query-param sorting, since both can change remote
semantics):
1. strip the fragment (first ``#`` onward);
2. lowercase the ``scheme://authority`` prefix only (path/query case is
   significant);
3. drop default ports ``:80`` (http) / ``:443`` (https);
4. drop tracking query parameters (``utm_*``, ``gclid``, ``fbclid``,
   ``msclkid``, ``mc_eid``), dropping the ``?`` if the query empties;
5. drop the trailing slash of a bare-root url (``…//host/`` →
   ``…//host``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_TRACKING_RE = r"^(utm_[^=]*|gclid|fbclid|msclkid|mc_eid)(=.*)?$"


def canonicalize_url(url: Column) -> Column:
    """The canonical form of ``url`` per the module contract. NULL in →
    NULL out; strings without a ``scheme://`` prefix pass through steps
    1/4 only (no authority to case-fold or de-port)."""
    # 1. fragment
    u = F.substring_index(url, "#", 1)
    # 2. lowercase scheme://authority (authority = up to first /?# after
    #    the //); rest untouched
    pre = F.regexp_extract(u, r"^[^/?#]*://[^/?#]*", 0)
    u = F.when(pre != "", F.concat(F.lower(pre), F.substr(u, F.length(pre) + 1))).otherwise(u)
    # 3. default ports (group 2 may be unmatched → substitutes empty)
    u = F.regexp_replace(u, r"^(http://[^/?#:]+):80([/?#].*)?$", r"$1$2")
    u = F.regexp_replace(u, r"^(https://[^/?#:]+):443([/?#].*)?$", r"$1$2")
    # 4. tracking params via ARRAY filtering, not a regex over the whole
    #    query: an alternation like (gclid)=? inside a bigger pattern
    #    would need a boundary lookahead to avoid eating 'gclidx=5', and
    #    lookarounds are banned (RE2 portability)
    qpos = F.instr(u, "?")
    base = F.when(qpos > 0, F.substr(u, F.lit(1), qpos - 1)).otherwise(u)
    qs = F.when(qpos > 0, F.substr(u, qpos + 1))
    kept = F.filter(
        F.split(qs, "&"), lambda p: ~p.rlike(_TRACKING_RE)
    )
    u = F.when(
        qpos > 0,
        F.when(
            F.size(kept) > 0,
            F.concat(base, F.lit("?"), F.array_join(kept, "&")),
        ).otherwise(base),
    ).otherwise(u)
    # 5. bare-root trailing slash
    return F.regexp_replace(u, r"^([a-z][a-z0-9+.\-]*://[^/?#]+)/$", r"$1")


def url_host(url: Column) -> Column:
    """Lowercased host of ``url`` ('' when there is no ``scheme://``
    authority, NULL for NULL input; userinfo and port excluded).
    IPv6-literal authorities keep their brackets (``[2001:db8::1]``) —
    the bracket alternation matches BEFORE the colon-terminated form, or
    the address would truncate at its first group."""
    return F.lower(
        F.regexp_extract(
            url, r"^[^/?#]*://([^/?#@]*@)?(\[[^\]/?#]*\]|[^/?#:]+)", 2
        )
    )


def registrable_domain(host: Column) -> Column:
    """Registered-domain heuristic: last two labels, or last three when
    the second-to-last label is a known multi-part-TLD second level
    (co/com/org/net/ac/gov/edu/mil + 2-letter ccTLD — e.g. ``co.uk``,
    ``com.au``). A full public-suffix list is an external artifact this
    sandbox doesn't ship; the heuristic covers the bulk of crawl traffic
    and the limitation is part of the contract. Hosts without a dot come
    back unchanged."""
    three = F.regexp_extract(
        host, r"([^.]+\.(co|com|org|net|ac|gov|edu|mil)\.[a-z][a-z])$", 1
    )
    two = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    return F.when(three != "", three).when(two != "", two).otherwise(host)




def _resolve_href(base: Column, link: Column) -> Column:
    """Resolve an href value against its page url — the shared resolution
    contract of ``extract_links`` and ``page_directives``: absolute
    ``http(s)://`` kept; other schemes (mailto:, javascript:) → NULL;
    ``//host/…`` inherits the page's scheme; ``/path`` joins
    ``scheme://host``; relative ``path`` joins the page's directory
    WITHOUT dot-segment normalization (``../`` passes through literally —
    documented conservative); empty / ``#fragment``-only → NULL."""
    scheme = F.regexp_extract(base, r"^([a-z][a-z0-9+.\-]*):", 1)
    root = F.regexp_extract(base, r"^([^/?#]*://[^/?#]*)", 1)
    # page directory: authority root + path up to (and incl.) the last /
    path = F.regexp_extract(base, r"^[^/?#]*://[^/?#]*(/[^?#]*)?", 1)
    pdir = F.concat(root, F.regexp_replace(path, r"[^/]*$", ""))
    pdir = F.when(F.regexp_like(pdir, F.lit(r"://[^/?#]*/")), pdir).otherwise(
        F.concat(root, F.lit("/"))
    )
    return (
        F.when(link.rlike(r"^(?i)https?://"), link)
        .when(link.rlike(r"^[a-zA-Z][a-zA-Z0-9+.\-]*:"), F.lit(None))
        .when(link.startswith("//"), F.concat(scheme, F.lit(":"), link))
        .when(link.startswith("/"), F.concat(root, link))
        .when(link.startswith("#") | (link == ""), F.lit(None))
        .otherwise(F.concat(pdir, link))
    )


def extract_links(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """Outbound links per page: one row ``(url, link)`` per distinct
    resolved ``<a href=…>`` target in the page's HTML — the edge emitter
    under a crawl link graph (host ranking, seed discovery, spam-cluster
    detection all start here).

    Extraction contract (deterministic, regex-over-bytes — no DOM
    library in the sandbox, and the patterns are RE2-portable so a SQL
    engine can replay them):
    - HTML comments are stripped first (``<!-- … -->``, dot-matches-all
      non-greedy) so commented-out markup never emits edges;
    - href values are taken from ``<a>`` tags only (``<link>``/
      ``<script>`` srcs are resources, not crawl edges), double-quoted,
      single-quoted, or unquoted, case-insensitive;
    - resolution: absolute ``http(s)://`` kept as-is; other schemes
      (``mailto:``, ``javascript:``) dropped; ``//host/…`` inherits the
      page's scheme; ``/path`` joins ``scheme://host``; ``path`` joins
      the page url's directory WITHOUT dot-segment normalization
      (``../`` passes through literally — documented conservative);
      empty and ``#fragment``-only hrefs dropped;
    - fragments are stripped from resolved links (crawl identity rule,
      same as ``canonicalize_url`` step 1) and duplicates collapse
      per page.

    Binary ``html_col`` is decoded as UTF-8 (invalid bytes →
    replacement chars, deterministically). Pages with NULL html emit no
    rows. Pure map-side expressions + one explode — zero shuffle; the
    per-row memory bound is the page itself.
    """
    html = F.col(html_col).cast("string")
    nocmt = F.regexp_replace(html, r"(?s)<!--.*?-->", "")
    # (?:[^>]*?\s)? forces a whitespace boundary BEFORE 'href' so
    # attribute names merely ending in it (data-href, ng-href,
    # xlink:href) never emit phantom edges (r5 review)
    hrefs = F.concat(
        F.regexp_extract_all(nocmt, F.lit(r"(?is)<a\s(?:[^>]*?\s)?href\s*=\s*\"([^\"]*)\""), 1),
        F.regexp_extract_all(nocmt, F.lit(r"(?is)<a\s(?:[^>]*?\s)?href\s*=\s*'([^']*)'"), 1),
        F.regexp_extract_all(nocmt, F.lit(r"(?is)<a\s(?:[^>]*?\s)?href\s*=\s*([^\s\"'>][^\s>]*)"), 1),
    )
    # resolution expressions evaluate in the SECOND select, whose input
    # schema is (url, _raw) — reference the alias, not url_col (r5
    # review: F.col(url_col) broke every non-default column name)
    resolved = _resolve_href(F.col("url"), F.col("_raw"))
    return (
        # explode_outer, NOT explode: InferFiltersFromGenerate would turn
        # a plain explode into an inferred size(hrefs)>0 filter that
        # re-evaluates the whole extraction kernel a second time (the r4
        # decontaminate lesson, 26 s → 0.7 s)
        pages.select(F.col(url_col).alias("url"), F.explode_outer(hrefs).alias("_raw"))
        .select("url", F.substring_index(resolved, "#", 1).alias("link"))
        .filter(F.col("link").isNotNull() & (F.col("link") != ""))
        .distinct()
    )


def host_link_graph(links: DataFrame) -> DataFrame:
    """Collapse a page-level ``(url, link)`` edge list to the distinct
    host-level directed graph ``(src_host, dst_host)`` — self-loops
    (intra-host navigation, the bulk of page links) dropped, rows whose
    url or link has no authority dropped. One distinct shuffle; the
    input for ``graph.pagerank``."""
    e = links.select(
        url_host(F.col("url")).alias("src_host"),
        url_host(F.col("link")).alias("dst_host"),
    )
    return e.filter(
        (F.col("src_host") != "") & (F.col("dst_host") != "")
        & (F.col("src_host") != F.col("dst_host"))
    ).distinct()


def filter_blocked_domains(
    df: DataFrame,
    blocked,
    url_col: str = "url",
) -> DataFrame:
    """Drop rows whose url's registrable domain is on a blocklist — the
    UT1/RefinedWeb-style adult/malware/spam domain filter applied before
    corpus assembly. ``blocked`` is a list of domain strings or a
    one-column DataFrame. Matching is on ``registrable_domain`` so every
    subdomain of a blocked domain is dropped too (``www.bad.example`` /
    ``cdn.bad.example`` both fall to ``bad.example``); rows with no
    authority pass (blocklists name domains, not url shapes).

    100-TB shape: blocklists are O(10^6) rows — the join side is forced
    ``broadcast`` so the filter is a map-side hash anti-join, zero
    shuffle of the corpus."""
    spark = df.sparkSession
    if not isinstance(blocked, DataFrame):
        blocked = spark.createDataFrame([(d,) for d in blocked], "domain string")
    bl = blocked.select(
        F.lower(F.col(blocked.columns[0])).alias("_bdom")
    ).distinct()
    dom = registrable_domain(url_host(F.col(url_col)))
    return (
        df.withColumn("_dom", dom)
        .join(F.broadcast(bl), F.col("_dom") == F.col("_bdom"), "left_anti")
        .drop("_dom")
    )


def host_cap_sample(
    df: DataFrame,
    max_per_host: int,
    url_col: str = "url",
    id_col: str = "doc_id",
    salt: str = "hostcap-v1",
) -> DataFrame:
    """Keep at most ``max_per_host`` rows per host, membership decided by
    a deterministic per-row hash order (never 'first N seen' — that's
    partition-order-dependent): the Common-Crawl-style politeness /
    anti-domination cap applied before training-corpus assembly.

    100-TB shape: per-host counts come from a map-side-combined
    ``groupBy`` + join back (the line-dedup hot-set pattern). The exact
    rank is a ``row_number`` window per host — which on a 10^9-page host
    would be one sorting straggler task — so a deterministic hash
    PREFILTER runs first: rows with bucket < 2·cap/count·1e6 survive to
    the window (expected 2·cap rows per hot host, Chernoff-concentrated),
    and the window then ranks ~2·cap rows per host instead of count.
    Shuffle accounting, honestly: TWO corpus-scale shuffles (the count
    join and the rank window — small hosts pass the prefilter whole, so
    the window still exchanges most of the corpus); what the prefilter
    bounds is the per-KEY sort size — the straggler — not total shuffle
    volume. Fully deterministic in (id, salt), url breaking the tie
    between NULL ids: same members at any parallelism, on any engine
    that can replay md5-prefix arithmetic (the bucket is
    ``sampling._bucket``'s md5 mode — one shared implementation, the
    cross-engine replay rule). Rows with NULL url
    group under the '' pseudo-host and are capped like any other (never
    silently dropped — review catch; NULL equi-join keys vanish).

    The prefilter makes the cap exact-with-overwhelming-probability for
    hot hosts (a host would need its 2×-expected survivor draw to land
    under cap — e^-Ω(cap) by Chernoff; for cap=1000 that is ~1e-60):
    hosts at or under the cap always keep every row, hot hosts keep
    exactly the cap except with that vanishing probability (then:
    slightly fewer). Exactness matters less than determinism here — the
    cap is a corpus-shaping knob, not an accounting invariant."""
    from pyspark.sql import Window

    from mistral_ocr_spark.operators.sampling import _DENOM

    if max_per_host < 1:
        raise ValueError(f"max_per_host must be >= 1, got {max_per_host}")
    from mistral_ocr_spark.operators.sampling import md5_prefix_long

    host = F.coalesce(url_host(F.col(url_col)), F.lit(""))
    hdf = df.withColumn("_host", host)
    counts = hdf.groupBy("_host").agg(F.count(F.lit(1)).alias("_hc"))
    # NULL ids hash to a pseudo-value (the shuffle_shards convention), not
    # to a NULL bucket that the over-cap prefilter would silently drop —
    # the module's never-silently-drop-NULL policy (ADVICE r5); non-NULL
    # ids keep the exact _bucket md5 arithmetic
    b = md5_prefix_long(
        F.coalesce(F.col(id_col).cast("string"), F.lit("")), salt, 8
    ) % F.lit(_DENOM)
    thresh = F.least(
        F.lit(_DENOM),
        F.ceil(F.lit(2 * max_per_host * _DENOM) / F.col("_hc")),
    )
    survivors = (
        hdf.join(counts, "_host")
        .withColumn("_b", b)
        .filter((F.col("_hc") <= max_per_host) | (F.col("_b") < thresh))
    )
    # url breaks the (_b, id) tie between NULL-id rows, which share one _b
    w = Window.partitionBy("_host").orderBy("_b", F.col(id_col), F.col(url_col))
    return (
        survivors.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_per_host)
        .drop("_host", "_hc", "_b", "_rn")
    )


def with_page_directives(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """``pages`` + per-page indexing directives appended map-side:
    ``canonical`` (resolved url or NULL), ``noindex``, ``nofollow`` — the
    signals a crawl corpus must honor before training on a page (the
    site's declared duplicate identity and its do-not-index opt-out).

    Contract (deterministic regex-over-markup, same grounds as
    ``extract_links``: no DOM library in the sandbox, RE2-portable):
    - HTML comments are stripped first, so commented-out directives are
      ignored;
    - ``canonical`` = the href of the FIRST ``<link … rel="canonical" …>``
      tag (either attribute order, any quote style on both attributes,
      bare ``rel=canonical`` token only — a multi-token ``rel`` list is
      not matched, documented conservative), resolved against the page
      url by the shared ``_resolve_href`` contract and fragment-stripped;
      NULL when absent or unresolvable (e.g. a ``mailto:`` href);
    - ``noindex`` / ``nofollow`` = true iff ANY ``<meta … name="robots"
      …>`` tag carries the token — bounded by non-word chars on both
      sides — anywhere in the same tag (approximating "in its content
      attribute": a robots meta tag has no other free-text attribute in
      practice; documented);
    - NULL html → (NULL, false, false): no markup, no directives;
    - attribute values containing a literal ``>`` are outside the
      contract (regex-over-markup, no DOM library in the sandbox).

    Two chained selects so the tag-extraction kernel lands in a real
    column before the resolution whens reference it (no CSE inside
    expression trees — the r2 lesson); still one stage, zero shuffle.
    """
    reserved = {"_pd_nocmt", "_pd_ctag", "_pd_raw", "canonical", "noindex", "nofollow"}
    clash = reserved & set(pages.columns)
    if clash:
        raise ValueError(
            f"with_page_directives: input columns collide with output/helper "
            f"names {sorted(clash)}"
        )
    # Each expensive kernel lands in a REAL column before anything
    # references it more than once: there is no CSE inside a projection's
    # expression tree (the r2 shingle lesson), and CollapseProject leaves
    # non-cheap aliases in their own Project when they are multiply
    # referenced — so the comment-strip regex runs once per row, not once
    # per downstream regex (plan-asserted in tests).
    html = F.col(html_col).cast("string")
    s0 = pages.select(
        "*", F.regexp_replace(html, r"(?s)<!--.*?-->", "").alias("_pd_nocmt")
    )
    nocmt = F.col("_pd_nocmt")
    # The first <link> tag carrying rel=canonical, attribute order free
    # ((?:[^>]*?\s)? = whitespace boundary before 'rel', so data-rel never
    # matches — the extract_links href rule). The value alternation keeps
    # the match INSIDE the tag: each alternative ends at the tag's own
    # '>' — the earlier `canonical[\s/>]` consumed the '>' itself, so an
    # unquoted rel=canonical closing the tag spilled the match into the
    # NEXT tag (and stole its href) or failed at end-of-document (review
    # finding, both reproduced).
    ctag = F.regexp_extract(
        nocmt,
        r"(?is)<link\s(?:[^>]*?\s)?rel\s*=\s*"
        r"(\"canonical\"[^>]*|'canonical'[^>]*|canonical(\s[^>]*)?/?)>",
        0,
    )

    def _robots_flag(token: str) -> Column:
        # name=robots and the token inside ONE tag, either order, with
        # explicit boundaries everywhere a lookaround would normally sit
        # (lookarounds are banned for RE2 portability, the redact_pii
        # rule): whitespace before 'name' (data-name never matches), the
        # robots VALUE closed by quote/whitespace/slash (robotsx and
        # robots-foo never match), and the token bounded by non-word
        # chars on BOTH sides ('nonoindex'/'noindexed' never match).
        # Nothing before the token may consume a '>', so the token is
        # guaranteed to sit in the same tag as name=robots.
        fwd = (
            rf"(?is)<meta\s(?:[^>]*?\s)?name\s*=\s*"
            rf"(\"robots\"|'robots'|robots[\s/])"
            rf"[^>]*?[^\w-]{token}([^\w-][^>]*)?>"
        )
        bwd = (
            rf"(?is)<meta\s[^>]*?[^\w-]{token}[^\w-][^>]*?\sname\s*=\s*"
            rf"(\"robots\"[^>]*|'robots'[^>]*|robots(\s[^>]*)?/?)>"
        )
        return F.coalesce(
            F.regexp_like(nocmt, F.lit(fwd)) | F.regexp_like(nocmt, F.lit(bwd)),
            F.lit(False),
        )

    s1 = s0.select(
        "*",
        ctag.alias("_pd_ctag"),
        _robots_flag("noindex").alias("noindex"),
        _robots_flag("nofollow").alias("nofollow"),
    )
    # href out of the (short) tag string: the extracts reference the
    # _pd_ctag COLUMN, so their duplication across the whens is regex
    # over a tag-sized string, not the page
    tag = F.col("_pd_ctag")
    # \shref = whitespace boundary so data-href inside the tag never
    # supplies the canonical target (attrs are always space-separated)
    raw = (
        F.when(
            tag.rlike(r"(?is)\shref\s*=\s*\""),
            F.regexp_extract(tag, r"(?is)\shref\s*=\s*\"([^\"]*)\"", 1),
        )
        .when(
            tag.rlike(r"(?is)\shref\s*=\s*'"),
            F.regexp_extract(tag, r"(?is)\shref\s*=\s*'([^']*)'", 1),
        )
        .otherwise(F.regexp_extract(tag, r"(?is)\shref\s*=\s*([^\s\"'>][^\s>]*)", 1))
    )
    s2 = s1.select("*", F.when(raw != "", raw).alias("_pd_raw"))
    resolved = _resolve_href(F.col(url_col), F.col("_pd_raw"))
    return s2.select(
        *pages.columns,
        F.substring_index(resolved, "#", 1).alias("canonical"),
        "noindex",
        "nofollow",
    )


def page_directives(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """The directives alone: ``(url, canonical, noindex, nofollow)`` —
    the projection view of ``with_page_directives``."""
    return with_page_directives(pages, url_col=url_col, html_col=html_col).select(
        F.col(url_col).alias("url"), "canonical", "noindex", "nofollow"
    )


def canonical_dedup(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    drop_noindex: bool = False,
) -> DataFrame:
    """One surviving page per canonical identity: pages declaring the same
    ``rel=canonical`` target collapse to a single row (print/AMP/tracking-
    variant mirrors all point at one target — the site-declared duplicate
    set that url-string dedup cannot see). Identity =
    ``canonicalize_url(coalesce(canonical, url))``, so undeclared pages
    are their own identity and the url-trivia rules still apply on top.

    Winner per identity is deterministic and content-motivated: the page
    whose canonicalized url IS the target wins when present (the page the
    site says to index), else the minimum url. One shuffle (the dedup
    window); per-group memory is bounded by the duplicate-set size —
    canonical clusters are site-declared and small, unlike crawl-hot
    hosts (contrast ``host_cap_sample``, whose prefilter exists because
    host groups are NOT small).

    ``drop_noindex=True`` additionally drops robots-noindex pages BEFORE
    the window (map-side filter, shrinks the shuffle). Output: the input
    columns + ``canonical_key``.

    NULL-url pages have no canonical identity: they bypass the window
    untouched with a NULL ``canonical_key`` — a NULL key would funnel
    every NULL-url page into ONE window group and keep exactly one,
    silently dropping the rest (the host_cap_sample NULL rule: never
    silently drop; review finding).
    """
    from pyspark.sql import Window

    reserved = {"canonical_key", "_is_target", "_rn"}
    clash = reserved & set(pages.columns)
    if clash:
        raise ValueError(
            f"canonical_dedup: input columns collide with output/helper "
            f"names {sorted(clash)}"
        )
    null_rows = pages.filter(F.col(url_col).isNull()).withColumn(
        "canonical_key", F.lit(None).cast("string")
    )
    pg = with_page_directives(
        pages.filter(F.col(url_col).isNotNull()), url_col=url_col, html_col=html_col
    )
    if drop_noindex:
        pg = pg.filter(~F.col("noindex"))
    pg = pg.withColumn(
        "canonical_key",
        canonicalize_url(F.coalesce(F.col("canonical"), F.col(url_col))),
    ).withColumn(
        "_is_target",
        (canonicalize_url(F.col(url_col)) == F.col("canonical_key")).cast("int"),
    )
    w = Window.partitionBy("canonical_key").orderBy(
        F.desc("_is_target"), F.col(url_col)
    )
    return (
        pg.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_is_target", "canonical", "noindex", "nofollow")
        .unionByName(null_rows)
    )
