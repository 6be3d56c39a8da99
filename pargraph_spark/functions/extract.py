"""Deterministic, dependency-free HTML text + outlink extraction.

This is THE byte-identical invariant of the engine: one pure function,
stdlib-only, shared verbatim by the Spark Arrow UDF
(pargraph_spark.operators.extract_links) and the pytest oracle, so the
extracted text per url is byte-identical by construction.

The reference does its parsing/I/O inside opaque task nodes (e.g.
/root/reference/examples/taxi.py:15 reads parquet inside a @delayed node);
we hoist extraction into a first-class vectorized operator with a pinned,
deterministic implementation instead.

Determinism policy:
- bytes -> str is always UTF-8 with errors="replace" (explicit, pinned).
- entity decoding via html.parser's convert_charrefs (stdlib, stable).
- whitespace normalization: str.split()/" ".join (locale-independent).
- no third-party parser (lxml/bs4 version drift would break byte-equality).
"""

from __future__ import annotations

from html.parser import HTMLParser

# Elements whose text content is never document text.
_SKIP_CONTENT = frozenset({"script", "style", "noscript", "template", "head"})
# Void elements never pushed on the skip stack (they cannot nest content).
_VOID = frozenset(
    {"area", "base", "br", "col", "embed", "hr", "img", "input",
     "link", "meta", "param", "source", "track", "wbr"}
)


class _Extractor(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._chunks: list[str] = []
        self._links: list[str] = []
        self._skip_depth = 0

    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        if tag in _SKIP_CONTENT and tag not in _VOID:
            self._skip_depth += 1
        if tag == "a":
            for name, value in attrs:
                if name == "href" and value is not None:
                    self._links.append(value)
                    break

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_CONTENT and self._skip_depth > 0:
            self._skip_depth -= 1

    def handle_data(self, data: str) -> None:
        if self._skip_depth == 0 and data:
            self._chunks.append(data)


def extract_text_and_links(html: bytes | str | None) -> tuple[str, list[str]]:
    """Extract (normalized_text, raw_hrefs_in_document_order) from HTML.

    Text normalization: concatenate text nodes (outside script/style/head),
    collapse all whitespace runs to single spaces, strip. Raw hrefs are
    returned unresolved — URL resolution is urlnorm's job.
    """
    if html is None:
        return "", []
    if isinstance(html, (bytes, bytearray, memoryview)):
        html = bytes(html).decode("utf-8", errors="replace")
    parser = _Extractor()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        # Malformed-beyond-repair input: keep whatever was parsed so far.
        pass
    # Policy: text nodes join with a single space, then whitespace-collapse.
    # Head/script/style content is never text (titles are metadata).
    text = " ".join(" ".join(parser._chunks).split())
    return text, parser._links


_BLOCK_CLOSES_ANCHOR = frozenset(
    {
        "p", "div", "li", "ul", "ol", "table", "tr", "td", "th",
        "h1", "h2", "h3", "h4", "h5", "h6", "section", "article",
        "aside", "header", "footer", "nav", "blockquote", "body",
        "form", "pre",
    }
)


class _AnchorExtractor(HTMLParser):
    """Anchor-text capture, separate from _Extractor so the byte-identical
    (text, links) invariant above is untouched. An <a> opening inside an
    open anchor implicitly closes it (HTML forbids nesting); text inside
    skip elements is never anchor text. Block-level boundaries (open or
    close) also close an open anchor — HTML5-recovery-style — so an
    UNCLOSED <a> (malformed page, or one opened inside <head>) cannot
    swallow the rest of the document as its anchor text."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._out: list[tuple[str, str]] = []
        self._skip_depth = 0
        self._href: str | None = None
        self._chunks: list[str] = []

    def _finalize(self) -> None:
        if self._href is not None:
            self._out.append(
                (self._href, " ".join(" ".join(self._chunks).split()))
            )
        self._href, self._chunks = None, []

    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        if tag in _SKIP_CONTENT and tag not in _VOID:
            self._skip_depth += 1
        if tag in _BLOCK_CLOSES_ANCHOR:
            self._finalize()
        if tag == "a":
            self._finalize()
            for name, value in attrs:
                if name == "href" and value is not None:
                    self._href = value
                    break

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_CONTENT and self._skip_depth > 0:
            self._skip_depth -= 1
        if tag == "a" or tag in _BLOCK_CLOSES_ANCHOR:
            self._finalize()

    def handle_data(self, data: str) -> None:
        if self._skip_depth == 0 and data and self._href is not None:
            self._chunks.append(data)


def extract_anchors(html: bytes | str | None) -> list[tuple[str, str]]:
    """(href, anchor_text) per <a href> in document order — the pinned
    pure function shared by the Spark operator and the pytest oracle
    (the extract_text_and_links determinism policy, applied to anchors).
    Anchor text is the whitespace-collapsed text between the tag and its
    close; href-less and nested-implicit-closed anchors follow HTML5
    recovery. Empty anchor text (image links) is kept: emptiness is
    signal for link-spam analysis and callers can filter."""
    if html is None:
        return []
    if isinstance(html, (bytes, bytearray, memoryview)):
        html = bytes(html).decode("utf-8", errors="replace")
    parser = _AnchorExtractor()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        pass
    parser._finalize()
    return parser._out
