"""Seeded mutation fuzz over the document kernels (extract_pdf,
extract_html): byte flips, truncations, splices and byte-run smears of
valid documents must TERMINATE promptly and never leak an exception —
extract_pdf's contract is errors-in-the-result ("never raises"), and
extract_html returns a string for any input text.

This suite is the pinned, fast subset of the larger ad-hoc fuzz that
found three real defects in round 5 (reference-cycle resolve() hang,
self-containing ObjStm recursion, catastrophic regex backtracking in
the lexer/tokenizer fast paths). Seeds are fixed; each case that ever
fails should be promoted to a named regression in
test_adversarial_pdfs.py."""

import random
import time

from pdf_parser_spark.htmlcore.extract import extract_html
from pdf_parser_spark.htmlcore.gen import text_to_html
from pdf_parser_spark.pdfcore.extract import extract_pdf
from pdf_parser_spark.pdfgen import text_to_pdf


def _mutate(valid: bytes, rng: random.Random) -> bytes:
    b = bytearray(valid)
    kind = rng.randrange(4)
    if kind == 0:
        for _ in range(rng.randrange(1, 6)):
            b[rng.randrange(len(b))] ^= rng.randrange(1, 256)
    elif kind == 1:
        b = b[: rng.randrange(len(b))]
    elif kind == 2:
        i, j = sorted(rng.randrange(len(b)) for _ in range(2))
        b = b[:i] + b[j:] if rng.random() < 0.5 else b + b[i:j]
    else:
        i = rng.randrange(len(b))
        run = rng.randrange(1, 200)
        b[i : i + run] = bytes([rng.randrange(256)]) * min(run, len(b) - i)
    return bytes(b)


def test_fuzz_extract_pdf_never_raises():
    src = "Alpha beta\ngamma (delta)\nmore text here"
    bases = [
        text_to_pdf(src, variant="classic"),
        text_to_pdf(src, variant="xrefstream"),
        text_to_pdf(src, variant="xrefstream", use_objstm=True),
    ]
    rng = random.Random(20260820)
    t0 = time.perf_counter()
    n_err = 0
    for trial in range(600):
        r = extract_pdf(_mutate(bases[trial % 3], rng))  # must not raise
        n_err += r.error is not None
    wall = time.perf_counter() - t0
    # 600 sub-KB docs; pre-fix a single pathological one took seconds
    assert wall < 30.0, wall
    assert 0 < n_err < 600  # mix of degraded and survivable mutations


def test_fuzz_extract_pdf_encrypted_and_cid_bases():
    """The decryption (RC4 R2/R3, AES R4/R6) and CID-multibyte decode
    paths run different code than the plain kernel; fuzz them too
    (this pass found the odd-width-hex OverflowError in cmap._put)."""
    from pdf_parser_spark.pdfgen.writer import make_cid_text_pdf, make_text_pdf

    lines = [["alpha beta", "gamma (delta)"], ["page two"]]
    bases = [
        make_text_pdf(lines, encrypted=True, encrypt_revision=r)
        for r in (2, 3, 4, 6)
    ] + [make_cid_text_pdf([["héllo wörld", "日本語テキスト", "ascii"]])]
    rng = random.Random(99)
    t0 = time.perf_counter()
    for trial in range(500):
        extract_pdf(_mutate(bases[trial % len(bases)], rng),
                    multibyte_cmaps=(trial % len(bases) == 4))
    assert time.perf_counter() - t0 < 30.0


def test_fuzz_extract_html_total_function():
    base = text_to_html(
        "Title here\nA paragraph with <odd> chars & entities\nmore"
    ).encode()
    rng = random.Random(5)
    t0 = time.perf_counter()
    for _ in range(600):
        out = extract_html(_mutate(base, rng).decode("utf-8", "replace"))
        assert isinstance(out, str)
    assert time.perf_counter() - t0 < 30.0


def test_fuzz_html_metadata_total_function():
    """html_metadata must return a well-formed dict for ANY mutated
    page — same totality contract as extract_html — and stay linear
    (the title/lang/charset scans are find/slice-based)."""
    from pdf_parser_spark.htmlcore.extract import html_metadata

    base = text_to_html(
        "Title here\nA paragraph with <odd> chars & entities\nmore",
        lang="en", doc_id=3,
    ).encode()
    rng = random.Random(11)
    t0 = time.perf_counter()
    for _ in range(600):
        m = html_metadata(_mutate(base, rng).decode("utf-8", "replace"))
        assert isinstance(m["n_anchors"], int)
        assert isinstance(m["outlinks"], list)
        assert m["title"] is None or isinstance(m["title"], str)
    assert time.perf_counter() - t0 < 30.0


def test_html_metadata_meta_run_without_gt_linear():
    """Worst shape of the <meta> charset scan: a run of '<meta ' with
    no '>' anywhere. An unbounded find('>') per tag rescanned the rest
    of the page each time (O(N^2)); bounded to 512 chars per tag, the
    characters scanned grow linearly with N."""
    from pdf_parser_spark.htmlcore.extract import html_metadata

    class CountingStr(str):
        scanned = 0

        def find(self, sub, start=0, end=None):
            stop = len(self) if end is None else min(end, len(self))
            CountingStr.scanned += max(0, stop - start)
            return str.find(self, sub, start, stop)

    for n in (1_000, 4_000):
        CountingStr.scanned = 0
        assert html_metadata(CountingStr("<meta " * n))["charset"] is None
        assert CountingStr.scanned <= 600 * n, (n, CountingStr.scanned)
    t0 = time.perf_counter()
    assert html_metadata("<meta " * 100_000)["charset"] is None
    assert time.perf_counter() - t0 < 10.0
