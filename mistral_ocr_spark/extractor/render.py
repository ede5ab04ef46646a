"""Deterministic text/markdown serialization + span offsets.

Mirrors the two parallel renderings the reference stores per document
(results.text_content / results.markdown_content,
/root/reference/src/mistral_ocr/simple_client.py:63-71) and the newline
reflow rules of its prompt tooling (/root/reference/prompts/f.py:5-32,
fix-newlines.txt: exactly one blank line between blocks, headings start
their own block, list items keep their marker lines).

Spans are (start, end, kind) character offsets into the *text* rendering —
the north rule verifies "extracted text and span offsets".
"""

from __future__ import annotations

from mistral_ocr_spark.extractor.parser import Block

# kinds surfaced in spans; title/pre fold into paragraph for span purposes
_SPAN_KIND = {
    "heading": "heading",
    "paragraph": "paragraph",
    "list_item": "list_item",
    "table": "table",
    "pre": "paragraph",
    "title": "paragraph",
}


def render(
    content_blocks: list[Block],
) -> tuple[str, str, list[tuple[int, int, str]]]:
    """Render classified content blocks.

    Returns ``(text, markdown, spans)``. Blocks are joined with exactly one
    blank line (``\\n\\n``); span offsets index into ``text``.
    """
    text_parts: list[str] = []
    md_parts: list[str] = []
    spans: list[tuple[int, int, str]] = []
    pos = 0
    for b in content_blocks:
        t = b.text  # never empty: the builder emits only blocks with a word
        if text_parts:
            pos += 2  # the "\n\n" separator
        start = pos
        pos += len(t)
        spans.append((start, pos, _SPAN_KIND.get(b.kind, "paragraph")))
        text_parts.append(t)

        if b.kind == "heading":
            level = b.level if 1 <= b.level <= 6 else 1
            md_parts.append("#" * level + " " + t)
        elif b.kind == "list_item":
            md_parts.append("- " + t)
        elif b.kind == "pre":
            md_parts.append("```\n" + t + "\n```")
        else:  # paragraph / table / title
            md_parts.append(t)

    return "\n\n".join(text_parts), "\n\n".join(md_parts), spans
