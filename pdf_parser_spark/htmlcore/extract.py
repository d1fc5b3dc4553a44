"""HTML boilerplate stripping: tag-density + text-block scoring.

Pure Python, regex/stack tokenizer (no lxml/bs4 — not in the container
and not needed at this fidelity). Two-stage classifier:

1. **semantic-first**: if the page declares ``<article>`` or ``<main>``
   regions, the main content is exactly the text blocks inside them
   (scripts/styles excluded). This mirrors readability's preference for
   semantic containers and makes extraction exactly invertible for the
   synthetic corpus (the DuckDB oracle for the HTML flagship query).
2. **density fallback**: otherwise keep blocks whose normalized text is
   ≥ MIN_BLOCK_CHARS with link density ≤ MAX_LINK_DENSITY — the classic
   boilerpipe NumWords/LinkDensity rule reduced to characters.

Whitespace normalization is ASCII-only ([ \\t\\r\\n\\f\\v]) on purpose:
the same class exists verbatim in RE2/DuckDB, keeping the SQL oracle
bit-identical (python's \\s would also eat U+00A0 etc.).
"""

from __future__ import annotations

import html as _html
import re
from dataclasses import dataclass

_TOKEN_RE = re.compile(
    r"<!--.*?(?:-->|$)|<!\[CDATA\[.*?(?:\]\]>|$)|<[^>]*>|[^<]+", re.S
)
_TAG_RE = re.compile(r"<\s*(/?)\s*([a-zA-Z][a-zA-Z0-9:-]*)")
# markup-only tokenizer (round-5 rework): text between tags is taken by
# SLICING the source between consecutive markup matches, so text tokens
# allocate no match objects at all. group(2) = named tag, else
# comment/CDATA/nameless markup (skipped, uncounted — same as _TAG_RE
# failing to match). An inter-tag slice can never contain '<': the
# scan stops at the LAST '>' of the document (nothing past it can be
# markup — see html_blocks), so within the scanned region every '<'
# has a later '>' and is consumed by `<[^>]*>`; bare-'<' tails are
# handled by split('<'), which reproduces the old regex's
# skip-one-char resync per token. Unterminated comments/CDATA swallow
# to the end of the region (`|$`) — the HTML spec's eof-in-comment
# behavior, and the reason a failing `-->` scan can't repeat at every
# `<!--` (a crawled `<!-- >' x n page was QUADRATIC pre-fix: 18 s at
# 200 KB of markup junk).
_MARKUP_RE = re.compile(
    r"<!--.*?(?:-->|$)|<!\[CDATA\[.*?(?:\]\]>|$)"
    r"|<\s*(/?)\s*([a-zA-Z][a-zA-Z0-9:-]*)[^>]*>"
    r"|<[^>]*>",
    re.S,
)
_WS_RE = re.compile(r"[ \t\r\n\f\v]+")
# fast-path probe: matches only when normalization would CHANGE the
# (already stripped) text — any non-space ASCII whitespace or a run of
# 2+ spaces. On the synthetic corpus ~100% of segments are clean, so
# the common case is one C-level search instead of a full sub pass.
_WS_DIRTY_RE = re.compile(r"[\t\r\n\f\v]| {2}")
_ASCII_WS = " \t\r\n\f\v"

BLOCK_TAGS = frozenset(
    """p div h1 h2 h3 h4 h5 h6 li ul ol dl dt dd td th tr table thead tbody
    article section header footer nav aside main blockquote pre br hr form
    fieldset figure figcaption address body html head title""".split()
)
SKIP_TAGS = frozenset("script style noscript template svg iframe".split())
SEMANTIC_MAIN = frozenset(("article", "main"))
BOILERPLATE_CONTAINERS = frozenset(("nav", "footer", "aside", "header", "form"))

MIN_BLOCK_CHARS = 25
MAX_LINK_DENSITY = 0.33

# one dict probe replaces four frozenset probes per tag in the hot loop
_F_SKIP, _F_BLOCK, _F_MAIN, _F_BOILER, _F_A = 1, 2, 4, 8, 16
_TAG_FLAGS: dict[str, int] = {}
for _t in SKIP_TAGS:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _F_SKIP
for _t in BLOCK_TAGS:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _F_BLOCK
for _t in SEMANTIC_MAIN:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _F_MAIN
for _t in BOILERPLATE_CONTAINERS:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _F_BOILER
_TAG_FLAGS["a"] = _TAG_FLAGS.get("a", 0) | _F_A
del _t


def normalize_ws(text: str) -> str:
    # strip-then-collapse commutes with collapse-then-strip for the
    # ASCII class, so the dirty probe can run on the stripped text
    text = text.strip(_ASCII_WS)
    if _WS_DIRTY_RE.search(text) is None:
        return text
    return _WS_RE.sub(" ", text)


@dataclass
class Block:
    text: str  # normalized
    in_main: bool  # inside <article>/<main>
    in_boiler: bool  # inside nav/footer/aside/header/form
    link_chars: int
    total_chars: int
    tag_count: int

    @property
    def link_density(self) -> float:
        return self.link_chars / self.total_chars if self.total_chars else 0.0


def html_blocks(html_text: str) -> list[Block]:
    """Segment an HTML document into normalized text blocks with features."""
    blocks: list[Block] = []
    buf: list[str] = []
    buf_link_chars = 0
    buf_tag_count = 0
    skip_depth = 0
    main_depth = 0
    boiler_depth = 0
    a_depth = 0

    def unescape(seg: str) -> str:
        # html.unescape int()s numeric references; CPython raises
        # ValueError past 4300 digits (int-str conversion limit), so a
        # crawled `&#9…9;` bomb would leak through the total-function
        # contract. Keep the segment raw in that case.
        try:
            return _html.unescape(seg)
        except ValueError:
            return seg

    flags_get = _TAG_FLAGS.get
    buf_append = buf.append

    def flush() -> None:
        nonlocal buf_link_chars, buf_tag_count
        if not buf:  # nothing buffered: only the tag counter can be set
            buf_tag_count = 0
            return
        text = normalize_ws("".join(buf))
        if text:
            blocks.append(
                Block(
                    text=text,
                    in_main=main_depth > 0,
                    in_boiler=boiler_depth > 0,
                    link_chars=buf_link_chars,
                    total_chars=len(text),
                    tag_count=buf_tag_count,
                )
            )
        buf.clear()
        buf_link_chars = 0
        buf_tag_count = 0

    pos = 0
    # markup can only exist up to the last '>' — bounding the scan
    # there makes every '<' inside the region match (no '>'-less
    # O(n) failure rescans), so a '<'-run page costs O(n), not O(n²)
    markup_end = html_text.rfind(">") + 1
    for m in _MARKUP_RE.finditer(html_text, 0, markup_end):
        start = m.start()
        if start > pos and not skip_depth:
            seg = html_text[pos:start]
            if "&" in seg:
                seg = unescape(seg)
            buf_append(seg)
            if a_depth > 0:
                buf_link_chars += len(normalize_ws(seg))
        pos = m.end()
        name = m.group(2)
        if name is None:  # comment / CDATA / nameless markup
            continue
        buf_tag_count += 1
        flags = flags_get(name)
        if flags is None:
            flags = flags_get(name.lower(), 0)
            if not flags:  # unknown tag: counted, nothing else to do
                continue
        # a markup match always ends in '>', so char pos-2 == '/' is
        # exactly the old m.group(0).endswith('/>') without building
        # the match string; the always-self-closing names (br/hr/img/
        # input/meta/link) carry none of the depth flags below, so the
        # old `or tag in (...)` term can never fire on these branches
        if flags & _F_SKIP:
            if html_text[pos - 2] != "/":
                closing = m.group(1) == "/"
                skip_depth = max(0, skip_depth - 1) if closing else skip_depth + 1
            continue
        if flags & _F_BLOCK:
            # inline the empty-buffer case: most block tags arrive with
            # nothing buffered (nested <div><p>…), and a Python call
            # per tag is measurable at 50+ markup tokens per doc
            if buf:
                flush()
            else:
                buf_tag_count = 0
        if flags & (_F_MAIN | _F_BOILER):
            if html_text[pos - 2] != "/":
                closing = m.group(1) == "/"
                if flags & _F_MAIN:
                    main_depth = max(0, main_depth - 1) if closing else main_depth + 1
                else:
                    boiler_depth = max(0, boiler_depth - 1) if closing else boiler_depth + 1
        if flags & _F_A:
            a_depth = max(0, a_depth - 1) if m.group(1) == "/" else a_depth + 1
    if pos < len(html_text) and not skip_depth:
        # tail after the last markup: the only place bare '<'s can
        # survive; split('<') reproduces the old tokenizer's
        # skip-one-char resync (each piece was its own text token)
        for seg in html_text[pos:].split("<"):
            if not seg:
                continue
            if "&" in seg:
                seg = unescape(seg)
            buf_append(seg)
            if a_depth > 0:
                buf_link_chars += len(normalize_ws(seg))
    flush()
    return blocks


def extract_html(html_text: str) -> str:
    """Main-content text of an HTML document (blocks joined by newline)."""
    blocks = html_blocks(html_text)
    main = [b for b in blocks if b.in_main]
    if main:
        return "\n".join(b.text for b in main)
    kept = [
        b
        for b in blocks
        if not b.in_boiler
        and b.total_chars >= MIN_BLOCK_CHARS
        and b.link_density <= MAX_LINK_DENSITY
    ]
    return "\n".join(b.text for b in kept)


# -------------------------------------------------------------------------
# WAT-style page metadata (the Common Crawl metadata-record surface):
# head fields + link inventory, extracted with linear find/slice scans —
# no backtracking-prone regexes, same hostile-input posture as the
# tokenizer above.

_HREF_RE = re.compile(r"""href=["']?(https?://[^"'\s>]+)""", re.I)
_A_TAG_RE = re.compile(r"<a[\s>]", re.I)
_LANG_RE = re.compile(r"""\blang\s*=\s*["']?([A-Za-z0-9-]+)""", re.I)
_CHARSET_RE = re.compile(r"""charset\s*=\s*["']?([A-Za-z0-9_-]+)""", re.I)


def html_metadata(html_text: str) -> dict:
    """Head metadata + link inventory of a page:

    - ``title``: first ``<title>`` body, entity-unescaped and
      whitespace-normalized (None when absent/unterminated),
    - ``lang``: the ``lang`` attribute of the first ``<html>`` tag,
    - ``charset``: the first ``<meta charset=…>`` / http-equiv
      ``charset=`` value, lowercased,
    - ``n_anchors``: count of ``<a>`` start tags,
    - ``outlinks``: absolute http(s) hrefs in document order
      (deduplicated, first occurrence wins).

    Every scan is a bounded find/slice or an alternation-free regex
    over the raw text — linear on hostile input."""
    low = html_text.lower()
    # title: find-based (no DOTALL regex — unterminated titles would
    # scan quadratically under backtracking)
    title = None
    i = low.find("<title")
    if i != -1:
        gt = html_text.find(">", i)
        if gt != -1:
            j = low.find("</title", gt)
            if j != -1:
                raw = html_text[gt + 1 : j]
                if "&" in raw:
                    try:
                        raw = _html.unescape(raw)
                    except ValueError:
                        pass
                title = normalize_ws(raw).strip() or None
    # lang: attribute of the first <html ...> tag only
    lang = None
    i = low.find("<html")
    if i != -1:
        gt = html_text.find(">", i)
        tag = html_text[i : gt if gt != -1 else i + 512]
        m = _LANG_RE.search(tag)
        if m:
            lang = m.group(1)
    # charset: first <meta ...charset=...> tag
    charset = None
    i = low.find("<meta")
    while i != -1:
        # bounded: '<meta ' * N without a '>' must stay linear
        gt = html_text.find(">", i, i + 512)
        tag = html_text[i : gt if gt != -1 else i + 512]
        m = _CHARSET_RE.search(tag)
        if m:
            charset = m.group(1).lower()
            break
        i = low.find("<meta", i + 5)
    seen: set[str] = set()
    outlinks: list[str] = []
    for m in _HREF_RE.finditer(html_text):
        u = m.group(1)
        if u not in seen:
            seen.add(u)
            outlinks.append(u)
    return {
        "title": title,
        "lang": lang,
        "charset": charset,
        "n_anchors": len(_A_TAG_RE.findall(html_text)),
        "outlinks": outlinks,
    }
