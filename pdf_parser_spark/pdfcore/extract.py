"""Per-document PDF extraction: bytes in → (text, spans, metrics) out.

This is the pure-Python equivalent of the reference's
``parse_page_text`` lifecycle (/root/reference/pdf_parser/api.py:6-195,
documented in SURVEY.md §3.1), generalized to all pages and driven from
raw bytes instead of a filesystem path:

1. object graph + page tree   (document.py — replaces pikepdf)
2. per-page font CMaps: /ToUnicode parse (utf-8, errors ignored, like
   api.py:56) or WinAnsi synthesis when absent (api.py:59-70)
3. /Contents concatenation    (api.py:74-87)
4. reference-identical text pass (tokenizer.extract_text_items)
5. span pass with real Tm/Td/Tf/Widths geometry (tokenizer.extract_spans)

The canonical "extracted text" for a document is the newline-join of
every decoded item across pages in content-stream order — the same
item sequence the reference's per-page result list contains.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import lru_cache

import re

from .cmap import CMap, parse_cmap, synthesize_tounicode_cmap
from .document import PdfDocument, PdfError
from .lexer import Name, Stream
from .tokenizer import (
    FontMetrics,
    Span,
    extract_spans,
    extract_text_items,
    normalize_escapes,
)


@dataclass
class ExtractResult:
    text: str
    items: list  # (page_no, font, text, encoded_bytes, instance_index)
    spans: list  # Span records (page-tagged via span.seq grouping)
    span_pages: list  # page_no parallel to spans
    n_pages: int
    n_items: int
    error: str | None = None
    fonts_seen: list = field(default_factory=list)
    fallback_pages: int = 0  # pages that used the degraded literal sweep
    recovered: bool = False  # xref chain was rebuilt by the recovery scan


_LITERAL_RE = re.compile(r"\(((?:[^()\\]|\\.)*)\)")


def fallback_sweep(content: bytes) -> list[tuple[str, bytes]]:
    """Degraded extraction for pages whose content yields no decoded
    items (fontless / unparseable-font pages): a best-effort sweep of
    every string literal in the content stream, latin1-decoded.

    The reference's equivalent is its PyMuPDF ``get_text()`` fallback
    (/root/reference/pdf_parser/api.py:197-264): when the content-stream
    walk finds nothing it emits stripped non-empty text lines from a
    second, lossier pass. We have no PyMuPDF, so the degraded pass reads
    the literals directly — same trigger, same line discipline (strip,
    drop empty), same bookkeeping (instance dance, ``source`` marker).
    """
    out: list[tuple[str, bytes]] = []
    for m in _LITERAL_RE.finditer(content.decode("latin1", errors="replace")):
        try:
            encoded = normalize_escapes(m.group(1))
        except UnicodeEncodeError:
            continue
        stripped = encoded.decode("latin1").strip()
        if stripped:
            out.append((stripped, encoded))
    return out


@lru_cache(maxsize=64)
def _synthesized_cmap(enc_name: str) -> CMap:
    """Parsed WinAnsi-fallback CMap per encoding name. Pure function
    (the synthesized string depends only on *enc_name*) and CMap is
    never mutated after construction, so one parse per worker process
    serves every document — fonts without /ToUnicode repeat by the
    million across a crawl."""
    return parse_cmap(synthesize_tounicode_cmap(enc_name))


@lru_cache(maxsize=256)
def _parsed_tounicode(cmap_str: str, multibyte: bool) -> CMap:
    """Parsed /ToUnicode CMap keyed by the exact stream text. Same
    safety argument as _synthesized_cmap (CMap is never mutated after
    construction); a crawl re-embeds the identical subset CMaps by the
    million, so per-worker reuse beats re-parsing per document."""
    return parse_cmap(cmap_str, multibyte=multibyte)


def _font_cmaps_and_metrics(
    doc: PdfDocument,
    page: dict,
    multibyte_cmaps: bool = False,
    with_metrics: bool = True,
) -> tuple[dict[str, CMap], dict[str, FontMetrics]]:
    cmaps: dict[str, CMap] = {}
    metrics: dict[str, FontMetrics] = {}
    for fname, fdict in doc.page_fonts(page).items():
        tounicode = doc.resolve(fdict.get("ToUnicode"))
        if isinstance(tounicode, Stream):
            cmap_str = doc.stream_bytes(tounicode).decode("utf-8", errors="ignore")
            cmaps[fname] = _parsed_tounicode(cmap_str, multibyte_cmaps)
        else:
            enc = doc.resolve(fdict.get("Encoding"))
            enc_name = "/" + str(enc) if isinstance(enc, Name) else "/WinAnsiEncoding"
            cmaps[fname] = _synthesized_cmap(enc_name)
        if not with_metrics:
            continue
        first_char = doc.resolve(fdict.get("FirstChar"))
        widths = doc.resolve(fdict.get("Widths"))
        if not (isinstance(widths, list) and isinstance(first_char, (int, float))):
            continue
        widths = [doc.resolve(w) for w in widths]
        # a non-numeric entry voids the table (spans fall back to the
        # default advance) rather than the page's text
        if all(isinstance(w, (int, float)) for w in widths):
            metrics[fname] = FontMetrics(
                first_char=int(first_char), widths=[float(w) for w in widths]
            )
    return cmaps, metrics


def font_encoding_differences(doc: PdfDocument, fdict: dict) -> dict[int, str]:
    """Code → glyph-name map from a font's /Encoding /Differences array
    (reference fonts/analysis.py:31-67 semantics): integers reset the
    running code, names consume consecutive codes. Name-typed /Encoding
    (standard encodings) yields {} exactly like the reference's TODO
    branch. Read-side analysis surface only — per reference parity,
    /Differences never alters text decoding."""
    out: dict[int, str] = {}
    enc = doc.resolve(fdict.get("Encoding"))
    if not isinstance(enc, dict):
        return out
    diffs = doc.resolve(enc.get("Differences"))
    if not isinstance(diffs, list):
        return out
    code = 0
    for item in diffs:
        item = doc.resolve(item)
        if isinstance(item, Name):
            out[code] = "/" + str(item)
            code += 1
        elif isinstance(item, (int, float)):
            code = int(item)
    return out


def extract_pdf(
    data: bytes, multibyte_cmaps: bool = False, spans: bool = True
) -> ExtractResult:
    """Extract text + spans from raw PDF bytes. Never raises: failures are
    reported in ``.error`` so the Spark audit table can count them
    (north rule: parse-failure counts per partition).

    ``multibyte_cmaps=True`` enables the CID 2-byte CMap extension
    (SURVEY §2.2 T7): CJK-style ToUnicode entries decode instead of
    falling to '?'. OFF by default — reference-identical output.

    ``spans=False`` is the text-only parse: the span pass and the
    ``/FirstChar``+``/Widths`` tables it alone reads are skipped, and
    ``.spans``/``.span_pages`` come back empty. Text, items and the
    other counters are those of the full parse."""
    try:
        doc = PdfDocument(data)
        if doc.encryption_error is not None:
            # typed audit row: an /Encrypt dict the standard security
            # handler cannot open (a real user password, an unknown
            # filter or crypt method, malformed) means decoding would
            # produce garbage — surface a classified error instead of a
            # generic parse failure. RC4 and AES documents whose EMPTY
            # user password verifies (the common crawl case) are
            # transparently decrypted and extract normally
            # (pdfcore/crypt.py, ISO 32000-1 §7.6.3).
            return ExtractResult(
                text="", items=[], spans=[], span_pages=[], n_pages=0,
                n_items=0, error="encrypted", recovered=doc.recovered,
            )
        pages = doc.pages()
    except (PdfError, ValueError, KeyError, IndexError, OverflowError) as exc:
        return ExtractResult(
            text="", items=[], spans=[], span_pages=[], n_pages=0,
            n_items=0, error=f"{type(exc).__name__}: {exc}",
        )

    items: list = []
    all_spans: list[Span] = []
    span_pages: list[int] = []
    fonts_seen: set[str] = set()
    # instance_index is a per-document running count per distinct text,
    # mirroring the reference's text_instance_counts (api.py:136-149)
    instance_counts: dict[str, int] = {}
    error = None
    fallback_pages = 0
    for page_no, page in enumerate(pages):
        try:
            cmaps, metrics = _font_cmaps_and_metrics(
                doc, page, multibyte_cmaps=multibyte_cmaps, with_metrics=spans
            )
            content = doc.page_content_bytes(page)
        except (PdfError, ValueError, KeyError, IndexError) as exc:
            error = f"page {page_no}: {type(exc).__name__}: {exc}"
            continue
        if not content:
            continue
        fonts_seen.update(cmaps)
        n_before = len(items)
        for font, text, encoded in extract_text_items(content, cmaps):
            idx = instance_counts.get(text, 0)
            instance_counts[text] = idx + 1
            items.append((page_no, font, text, encoded, idx))
        if len(items) == n_before:
            # degraded path: same per-page trigger as the reference's
            # PyMuPDF fallback (api.py:197) — no decoded items on this page
            swept = fallback_sweep(content)
            for text, encoded in swept:
                idx = instance_counts.get(text, 0)
                instance_counts[text] = idx + 1
                items.append((page_no, None, text, encoded, idx))
            if swept:
                fallback_pages += 1
        if spans:
            page_spans = extract_spans(content, cmaps, metrics, page_no=page_no)
            all_spans.extend(page_spans)
            span_pages.extend([page_no] * len(page_spans))

    text = "\n".join(it[2] for it in items)
    return ExtractResult(
        text=text,
        items=items,
        spans=all_spans,
        span_pages=span_pages,
        n_pages=len(pages),
        n_items=len(items),
        error=error,
        fonts_seen=sorted(fonts_seen),
        fallback_pages=fallback_pages,
        recovered=doc.recovered,
    )
