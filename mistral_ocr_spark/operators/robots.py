"""robots.txt parsing + crawl-permission filtering (REP, RFC 9309).

A responsibly-assembled web corpus drops pages their site disallowed for
the collecting crawler. The inputs at crawl scale are two tables — pages
(one row per url) and robots (one row per host, the fetched robots.txt
body) — and the operator splits cleanly along them:

- ``parse_robots`` — one ``mapInArrow`` pass over the robots table (the
  REP group grammar is a line-oriented state machine, a legitimate
  non-expressible kernel): selects the rule group for the given
  user-agent per RFC 9309 §2.2.1 (exact case-insensitive product-token
  match, else the ``*`` group — a matching EMPTY group still shadows
  ``*``), and emits one row per Allow/Disallow rule with the pattern
  pre-translated to a SQL LIKE pattern so the match stage needs no
  Python at all.
- ``filter_disallowed`` — the 100-TB path, pure JVM: rules aggregate to
  one array per host (a shuffle of the SMALL rules table only), pages
  join host→rules once (AQE picks broadcast when the rules table fits),
  and the RFC longest-match decision is a map-side array expression:
  ``array_max`` over ``struct(spec, allow)`` of the LIKE-matching rules
  — longest pattern wins, ties prefer Allow (struct comparison gives
  both for free). Hosts with no rules (or no robots row) default to
  allowed; NULL urls pass (never silently drop).

Pattern semantics (Google/RFC superset of the 1994 spec): ``*`` matches
any run, a TRAILING ``$`` anchors the end, matching is against the
url's path+query (fragment excluded) and starts at the path's first
octet. Specificity = octet length of the raw pattern. LIKE translation:
``%``/``_``/``\\`` escaped with ``\\``, ``*`` → ``%``, non-anchored
patterns get a trailing ``%`` (LIKE is whole-string, which also gives
the start anchor for free). Percent-encoding equivalence (``%2F`` vs
``/``) is NOT normalized — documented conservative, same contract class
as ``canonicalize_url``.

Reference parity: stevegsax/mistral-ocr has no crawl layer; this is
training-data-pipeline surface (the RefinedWeb/CCBot opt-out step).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mistral_ocr_spark import arrowcols as C
from mistral_ocr_spark.operators.urls import url_host

_LINE_RE = re.compile(r"(?i)^(user-agent|allow|disallow)\s*:\s*(.*)$")


def _to_like(pattern: str) -> str:
    """Robots path pattern → SQL LIKE pattern (ESCAPE ``\\``)."""
    esc = (
        pattern.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
    )
    if esc.endswith("$"):
        esc = esc[:-1]
        return esc.replace("*", "%")
    return esc.replace("*", "%") + "%"


def parse_robots_text(txt: str, user_agent: str) -> list[tuple[bool, str]]:
    """The per-document REP grammar (RFC 9309 §2.2): rule list
    ``[(allow, pattern), …]`` for ``user_agent``. Driver/tests call this
    directly; ``parse_robots`` runs it inside the Arrow kernel.

    - consecutive ``User-agent`` lines share one group — blank lines do
      NOT split groups (RFC 9309 ignores them, unlike the 1994 draft);
      a ``User-agent`` line AFTER rules starts a new group;
    - rules before any ``User-agent`` line are invalid → ignored;
    - group choice: exact case-insensitive UA token match, else ``*``;
      a matching group with zero rules still shadows ``*`` (its answer
      is "all allowed");
    - empty rule values carry no restriction → dropped;
    - ``#`` starts a comment; keys are case-insensitive; CRLF tolerated.
    """
    groups: dict[str, list[tuple[bool, str]]] = {}
    cur: list[str] = []
    after_rules = False
    # BOM-prefixed robots.txt is common in the wild (Google's parser
    # strips it); without this the first User-agent line fails the line
    # regex and the whole first group silently default-allows (review)
    txt = txt.lstrip("\ufeff")
    for line in txt.splitlines():
        line = line.split("#", 1)[0].strip()
        m = _LINE_RE.match(line)
        if not m:
            continue
        key, val = m.group(1).lower(), m.group(2).strip()
        if key == "user-agent":
            if after_rules:
                cur = []
                after_rules = False
            ua = val.lower()
            cur.append(ua)
            groups.setdefault(ua, [])
        else:
            after_rules = True
            if not val:
                continue
            for ua in cur:
                groups[ua].append((key == "allow", val))
    ua = user_agent.lower()
    if ua in groups:
        return groups[ua]
    return groups.get("*", [])


def parse_robots(
    robots: DataFrame,
    user_agent: str = "*",
    host_col: str = "host",
    robots_col: str = "robots_txt",
) -> DataFrame:
    """``(host, allow, pattern, like_pat, spec)`` — one row per rule of
    the group RFC-selected for ``user_agent``. Hosts whose selected group
    has no rules emit nothing (absence = default allow downstream).
    ``robots_col`` may be string or binary (UTF-8, errors replaced)."""
    return robots.select(host_col, robots_col).mapInArrow(_rules_fn(user_agent), _RULES_SCHEMA)


_RULES_SCHEMA = "host string, allow boolean, pattern string, like_pat string, spec int"


def _rules_fn(user_agent: str):
    """mapInArrow kernel of ``parse_robots`` over (host, robots.txt)."""

    def fn(batches):
        for batch in batches:
            hosts, allows, pats = [], [], []
            for host, txt in zip(batch.column(0).to_pylist(), batch.column(1).to_pylist()):
                if txt is None or host is None:
                    continue
                if isinstance(txt, (bytes, bytearray)):
                    txt = bytes(txt).decode("utf-8", "replace")
                for allow, pat in parse_robots_text(txt, user_agent):
                    # lowercased to meet filter_disallowed's url_host join
                    # key — a mixed-case host row would otherwise have its
                    # rules silently ignored (review finding)
                    hosts.append(host.lower())
                    allows.append(allow)
                    pats.append(pat)
            if hosts:
                # spec: octet length per RFC 9309 (and the module contract);
                # len(pat) would flip longest-match winners for non-ASCII
                # patterns (review finding)
                specs = [len(pat.encode("utf-8")) for pat in pats]
                likes = [_to_like(pat) for pat in pats]
                yield C.batch(_RULES_SCHEMA, [hosts, allows, pats, likes, specs])

    return fn


def filter_disallowed(
    pages: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Pages the rules PERMIT — the RFC longest-match decision evaluated
    map-side after one host-keyed join against the per-host rule arrays.
    ``rules`` is ``parse_robots`` output. Unknown hosts, rule-less hosts,
    and NULL urls are allowed (default-allow; never silently drop)."""
    reserved = {"_rb_host", "_rb_path", "_rules"}
    clash = reserved & set(pages.columns)
    if clash:
        raise ValueError(
            f"filter_disallowed: input columns collide with helper names "
            f"{sorted(clash)}"
        )
    by_host = rules.groupBy(F.col("host").alias("_rb_host")).agg(
        F.collect_list(F.struct("spec", "allow", "like_pat")).alias("_rules")
    )
    # the raw capture lands in its own column before the normalization
    # references it twice (no CSE inside a projection — the urls.py rule);
    # RFC 9309 §2.2.2: an empty path is "/", so 'https://h?x=1' must match
    # as '/?x=1', not '?x=1' which would evade every /-prefixed rule
    pg = (
        pages.withColumn("_rb_host", url_host(F.col(url_col)))
        .withColumn(
            "_rb_path",
            F.regexp_extract(F.col(url_col), r"^[^/?#]*://[^/?#]*([^#]*)", 1),
        )
        .withColumn(
            "_rb_path",
            F.when(
                F.col("_rb_path").startswith("/"), F.col("_rb_path")
            ).otherwise(F.concat(F.lit("/"), F.col("_rb_path"))),
        )
    )
    joined = pg.join(by_host, "_rb_host", "left")
    hits = F.filter(
        F.col("_rules"),
        lambda r: F.like(F.col("_rb_path"), r["like_pat"], F.lit("\\")),
    )
    # longest pattern wins; spec ties prefer allow=true — one struct max
    best = F.array_max(
        F.transform(hits, lambda r: F.struct(r["spec"], r["allow"]))
    )
    allowed = F.coalesce(best["allow"], F.lit(True))
    return joined.filter(allowed).drop("_rb_host", "_rb_path", "_rules")
