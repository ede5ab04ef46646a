"""Dual-engine verification: the fast regex tokenizer (production path)
must produce blocks identical to the stdlib html.parser engine over the
full fixture corpus (edge rows included) and adversarial snippets."""

from __future__ import annotations

import pytest

from mistral_ocr_spark.extractor.decode import decode_html
from mistral_ocr_spark.extractor.parser import (
    _ACTIONS,
    _ARTICLE_TAGS,
    _BLOCK_TAGS,
    _CHROME_TAGS,
    _KIND,
    _BlockBuilder,
    parse_blocks,
    parse_document,
)
from mistral_ocr_spark.sources.fixtures import _make_page


def _sig(blocks):
    return [
        (b.kind, b.level, b.text, b.link_chars, b.chars, b.in_article, b.in_chrome)
        for b in blocks
    ]


def test_engines_agree_on_corpus():
    mismatches = []
    for i in range(4000):
        _url, html, _text, _lang = _make_page(i)
        if html is None or html[:5] == b"%PDF-":
            continue
        txt, _enc = decode_html(html)
        if _sig(parse_blocks(txt, "fast")) != _sig(parse_blocks(txt, "stdlib")):
            mismatches.append(i)
    assert not mismatches, f"engines disagree on rows {mismatches[:10]}"


@pytest.mark.parametrize(
    "snippet",
    [
        "<p>a < b and c > d</p>",
        "<!-- <p>hidden</p> --><p>after comment content</p>",
        '<script>var x = "<p>not text</p>";</script><p>real</p>',
        '<a href="/x" title="a > b">link</a><p>content</p>',
        "<P>UPPER</P><ARTICLE><P>mixed case</P></ARTICLE>",
        "<![CDATA[ junk ]]><p>after cdata</p>",
        "<?php echo '<p>x</p>'; ?><p>after pi</p>",
        "<div><p>unclosed everywhere",
        "<style>p:before{content:'<fake>'}</style><p>styled</p>",
        "&amp; &lt;tag&gt; &#65; &#x42; stand-alone & ampersand",
        # round 2: nested templates / deeper malformation / entity storms
        "<div><div><div><p>deeply <b>nested</b> content</p></div></div></div>",
        "<table><tr><td><p>cell para</p></td><td><ul><li>item</li></ul></td></tr></table>",
        "<p>one</p><p>two<p>three</p>",  # implicit-close chain
        "</p></div></article><p>starts with stray closers</p>",
        '<a href=/unquoted class=x>unquoted attrs</a><p>after</p>',
        "<p>&amp;&amp;&amp; &lt;&lt;&gt;&gt; &#8212;&#x2014; entity storm &quot;quoted&quot;</p>",
        "<p>emoji \U0001f600 and combining é accents</p>",
        "<P CLASS='X'><SPAN>upper attrs</SPAN> tail</P>",
        "<template><p>template content</p></template><p>real content</p>",
        "<noscript><p>noscript body</p></noscript><p>visible</p>",
        "<p>a<br>b<br/>c</p><hr><p>after rule</p>",
        "<article><header><h1>inner chrome in article</h1></header><p>body</p></article>",
        "<div title='<p>tag soup in attr</p>'>attr soup</div><p>next</p>",
        "<p>trailing unterminated entity &am",
        # round 3 (VERDICT r2 #6): entity edge cases beyond &amp;/&lt;/&gt;,
        # deeply nested tables, inline-tag-split text runs
        "<p>non-breaking&nbsp;space and &NBSP; unknown-case</p>",
        "<p>decimal &#169; hex &#xA9; no-semicolon &#169 mixed</p>",
        "<p>cp1252 remaps: &#150; &#128; &#159;</p>",
        "<p>null &#0; surrogate &#xD800; overflow &#x110000;</p>",
        "<p>unknown entities &foobar; &qqq stay literal</p>",
        "<p>no-semicolon named &amp &lt &gt &copy done</p>",
        "<p>&lt;div&gt;escaped markup&lt;/div&gt; renders as text</p>",
        "<p>ambiguous &ampx; &amp;x; &not-it; &notit;</p>",
        "<p>&#38;#38; double-escaped stays &amp;#38;</p>",
        "<p>sp<b>li</b>t wo<i>r</i>ds stay one run</p>",
        "<p>a<b></b>b empty inline</p>",
        "<p>tail <b>bold</b>then no space</p>",
        "<table><tr><td><table><tr><td><p>inner cell</p></td></tr></table>"
        "</td></tr><tr><td>outer</td></tr></table>",
        "<table><thead><tr><th>h1</th></tr></thead><tbody><tr>"
        "<td colspan=2>body &amp; cell</td></tr></tbody>"
        "<tfoot><tr><td>foot</td></tr></tfoot></table>",
        # HTML5: the self-closing flag is ignored on non-void elements, and
        # an unterminated comment runs to the end of the document
        "<ul><li/>hello world</ul>",
        "<h2/>title text<p>body</p>",
        "<nav/>menu text here",
        "<script/>var x=1;</script><p>ok</p>",
        "<p>x<!-- unterminated",
        # HTML5 tokenization of malformed markup (test_html5_tokenization)
        "<p>a<!-- a -- >b</p><p>c</p>",
        "<p>z</p><script>x</scriptfoo>y</script><p>w</p>",
        "<p class='x>y</p><p>q</p>",
        "<p>a</ p>b",
        "<p>a<b",
        # an end tag's attributes are read quote-aware, as a start tag's
        "<p>l</a b='>'>t</p>",
    ],
)
def test_engines_agree_on_adversarial(snippet):
    assert _sig(parse_blocks(snippet, "fast")) == _sig(parse_blocks(snippet, "stdlib"))


@pytest.mark.parametrize("engine", ["fast", "stdlib"])
@pytest.mark.parametrize(
    "snippet, texts",
    [
        # a comment ends only at "-->" (or EOF), not at "-- >"
        ("<p>a<!-- a -- >b</p><p>c</p>", ["a"]),
        # "</scriptfoo>" does not end the script
        ("<p>z</p><script>x</scriptfoo>y</script><p>w</p>", ["z", "w"]),
        # an unterminated quoted value runs to EOF, and the tag is dropped
        ("<p class='x>y</p><p>q</p>", []),
        # a quote that does not follow "=" opens no value
        ("<p a=b'c>text</p>", ["text"]),
        # "</ " opens a bogus comment; "</>" is dropped
        ("<p>a</ p>b", ["ab"]),
        ("<p>a</>b", ["ab"]),
        # a tag EOF cuts short is dropped; a lone "<" or "</" is text
        ("<p>a<b", ["a"]),
        ("<p>a</", ["a</"]),
        ("<p>a<", ["a<"]),
    ],
)
def test_html5_tokenization(engine, snippet, texts):
    assert [b.text for b in parse_blocks(snippet, engine)] == texts


@pytest.mark.parametrize("engine", ["fast", "stdlib"])
def test_tag_cut_short_by_eof_adds_no_image(engine):
    assert parse_document("<p>a<img src=x.png", engine)[1] == []
    assert parse_document("<p>a<img src=x.png>", engine)[1] == ["x.png"]


def _context(b):
    return (b.kind_stack[-1:], b.chrome_depth, b.article_depth)


def test_context_tags_are_block_tags():
    """The builder reads a block's context when it flushes it. That is
    exact only while every tag that changes the context flushes first."""
    assert _CHROME_TAGS | _ARTICLE_TAGS | _KIND.keys() <= _BLOCK_TAGS
    for name, act in _ACTIONS.items():
        tag = name.lstrip("/")
        b = _BlockBuilder()
        if name.startswith("/"):  # give the close tag something to close
            b.start(tag, "x.png")
            b.flush()
            b.blocks.clear()
        b.data("pending words")
        before = _context(b)
        if tag == "img":
            act(b, "x.png")
        else:
            act(b)
        if _context(b) != before:
            assert not b.parts, name
            assert [x.text for x in b.blocks] == ["pending words"], name


def test_adversarial_corpus_matches_oracle_runner(spark, tmp_path):
    """Full-pipeline byte-identity on the adversarial corpus: the Spark
    mapInArrow path (fast engine, salted repartition) must equal the
    single-process oracle runner byte-for-byte per url — entities, nested
    tables, and split runs included (VERDICT r2 #6)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mistral_ocr_spark.operators.extract import extract_pages
    from mistral_ocr_spark.oracle import run_oracle
    from mistral_ocr_spark.pipeline import salted_repartition

    snippets = [
        p[0] if isinstance(p, tuple) else p
        for p in test_engines_agree_on_adversarial.pytestmark[0].args[1]
    ]
    # wrap each snippet in enough real content that classification keeps it
    body = "<article>{}<p>Padding sentence with enough ordinary words to keep \
the article body classified as content for this page.</p></article>"
    urls = [f"https://adv.example.com/case-{i}.html" for i in range(len(snippets))]
    pages = pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array([None] * len(urls), pa.timestamp("us")),
            "html": pa.array(
                [body.format(s).encode("utf-8") for s in snippets], pa.binary()
            ),
            "text": pa.array([None] * len(urls), pa.string()),
            "lang": pa.array(["en"] * len(urls), pa.string()),
        }
    )
    pq.write_table(pages, f"{tmp_path}/pages.parquet")
    n = run_oracle(f"{tmp_path}/pages.parquet", f"{tmp_path}/golden.parquet")
    assert n == len(snippets)
    g = pq.read_table(f"{tmp_path}/golden.parquet")
    golden = {
        u: (t, m)
        for u, t, m in zip(
            g.column("url").to_pylist(),
            g.column("text").to_pylist(),
            g.column("markdown").to_pylist(),
        )
    }
    ext = extract_pages(
        salted_repartition(
            spark.read.schema(
                "url string, warc_ts timestamp, html binary, text string, lang string"
            ).parquet(f"{tmp_path}/pages.parquet"),
            4,
        )
    )
    bad = [
        r.url for r in ext.collect() if golden[r.url] != (r.text, r.markdown)
    ]
    assert not bad, f"byte-identity broken on adversarial rows: {bad[:5]}"


def test_engines_agree_on_hard_quality_corpus():
    """The round-2 hard fixture (long link-dense boilerplate, short leads)
    must also tokenize identically under both engines."""
    from test_quality_eval import _hard_page

    for i in range(500):
        html, _c, _b = _hard_page(i)
        txt, _enc = decode_html(html)
        assert _sig(parse_blocks(txt, "fast")) == _sig(parse_blocks(txt, "stdlib")), i
