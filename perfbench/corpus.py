"""Seeded input generator for the three benchmark workloads.

Every workload draws its source texts from one fixed pool (built from a
constant seed, so every ``--seed`` sees the same multiset of texts and
therefore nearly the same amount of work). The workload seed sets:

- the doc_id offset (so urls, hosts and PDF layouts change per seed),
- the permutation that assigns pool texts to doc_ids,
- where duplicates (``crawl_to_shards``) and corruptions (``pdf_hard``)
  go.

Output per generated corpus, under the cache directory:

- ``payloads/part-*.parquet`` — ``(doc_id, url, host, html, lang)``, the
  only thing the job under test reads;
- ``truth.parquet`` — ``(doc_id, url, host, kind, expected)``,
  the ground-truth extracted text, read only by the checker;
- ``meta.json`` — corpus digest, doc count, payload bytes, generation
  time.

Corpora are cached by (workload, seed, size, digest of this file), so a
change to the generator regenerates rather than reusing stale inputs.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time

import pyarrow as pa
import pyarrow.parquet as pq

from pdf_parser_spark.htmlcore.gen import (
    expected_text_from_html_source,
    text_to_html,
)
from pdf_parser_spark.pdfgen.writer import (
    expected_fallback_text_from_source,
    expected_text_from_source,
    make_cid_text_pdf,
    make_text_pdf,
)

WORKLOADS = ("extract_text", "pdf_hard", "crawl_to_shards")

# docs per corpus; on local[3] one warm job takes ~2.5 s (extract_text,
# pdf_hard) and ~10 s (crawl_to_shards, mostly fixed per-stage cost)
SIZES = {"extract_text": 12000, "pdf_hard": 2400, "crawl_to_shards": 1500}

# tokens per line: every generated line is exactly this long (except a
# document's last), so the package's 12-token re-wrapping is the identity
WRAP = 12
HOT_HOST = "heavy.example.org"
PAYLOAD_FILES = 8

_STOP = ["the", "a", "and", "of", "to", "in", "is"]
_ACCENTED = ["café", "naïve", "Zürich", "señor", "façade", "déjà"]


def _vocab() -> list[str]:
    rng = random.Random(20240101)
    cons, vows = "bcdfghklmnprstvwz", "aeiou"
    words = set()
    while len(words) < 400:
        n = rng.choice((1, 2, 2, 3))
        words.add(
            "".join(rng.choice(cons) + rng.choice(vows) for _ in range(n))
            + rng.choice(("", "", "n", "s", "t"))
        )
    return sorted(words)


def _line(rng: random.Random, vocab: list[str], n: int = WRAP) -> str:
    toks = []
    for _ in range(n):
        r = rng.random()
        if r < 0.18:
            toks.append(rng.choice(_STOP))
        elif r < 0.19:
            toks.append(rng.choice(_ACCENTED))
        else:
            toks.append(rng.choice(vocab))
    if rng.random() < 0.5:
        toks[-1] += rng.choice((".", ",", ";", "?"))
    return " ".join(toks)


def source_pool(n: int, min_lines: int, max_lines: int) -> list[list[str]]:
    """``n`` source documents as lists of lines, independent of the
    workload seed (same pool for every seed of a workload)."""
    rng = random.Random(7 * n + min_lines * 131 + max_lines)
    vocab = _vocab()
    pool = []
    for _ in range(n):
        k = rng.randint(min_lines, max_lines)
        lines = [_line(rng, vocab) for _ in range(k)]
        lines[-1] = _line(rng, vocab, rng.randint(3, WRAP))
        pool.append(lines)
    return pool


def host_for(doc_id: int) -> str:
    # 40% of documents on one hot host, like engine.corpus.host_for; kept
    # here so a change to the package's own generator cannot silently
    # change the benchmark's inputs
    return HOT_HOST if doc_id % 10 < 4 else f"site-{doc_id % 97}.example.com"


def url_for(doc_id: int) -> str:
    return f"https://{host_for(doc_id)}/doc/{doc_id}"


_WEB_PDF = [("classic", False), ("xrefstream", False), ("xrefstream", True)]


def _web_payload(doc_id: int, lines: list[str], lang: str) -> tuple[bytes, str, str]:
    """Even doc_ids: PDF cycling classic / xref-stream / ObjStm layouts;
    odd: boilerplate HTML — the shape of engine.corpus.synthesize_webdocs."""
    text = "\n".join(lines)
    if doc_id % 2 == 0:
        variant, objstm = _WEB_PDF[(doc_id // 2) % 3]
        pdf = make_text_pdf([lines], variant=variant, use_objstm=objstm)
        return pdf, "pdf", expected_text_from_source(text)
    html = text_to_html(text, lang=lang, doc_id=doc_id).encode("utf-8")
    return html, "html", expected_text_from_html_source(text)


# pdf_hard variants: (name, make_text_pdf kwargs); "cid" is handled apart
HARD_VARIANTS = ("aes128", "aes256", "rc4", "cid", "objstm", "fontless")
_HARD_KW = {
    "aes128": dict(encrypted=True, encrypt_revision=4),
    "aes256": dict(encrypted=True, encrypt_revision=6),
    "rc4": dict(encrypted=True, encrypt_revision=3),
    "objstm": dict(variant="xrefstream", use_objstm=True),
    "fontless": dict(fontless=True),
}
LINES_PER_PAGE = 4
CORRUPT_SHARE = 0.1


def _corrupt(pdf: bytes, how: str) -> bytes:
    """Recoverable damage: the kernel's recovery scan must rebuild the
    object index and still extract the exact text."""
    if how == "startxref":
        # point startxref into the middle of the body
        i = pdf.rfind(b"startxref")
        return pdf[:i] + b"startxref\n17\n%%EOF\n"
    # "truncate": lose the xref section, trailer and startxref
    i = pdf.rfind(b"endobj")
    return pdf[: i + len(b"endobj")] + b"\n"


def _hard_payload(
    doc_id: int, lines: list[str], corrupt: str | None
) -> tuple[bytes, str]:
    variant = HARD_VARIANTS[(doc_id // 2) % len(HARD_VARIANTS)]
    pages = [lines[i : i + LINES_PER_PAGE] for i in range(0, len(lines), LINES_PER_PAGE)]
    text = "\n".join(lines)
    if variant == "cid":
        pdf = make_cid_text_pdf(pages)
        expected = "\n".join(s for s in (ln.strip() for ln in lines) if s)
    else:
        pdf = make_text_pdf(pages, **_HARD_KW[variant])
        if variant == "fontless":
            expected = expected_fallback_text_from_source(text)
        else:
            expected = expected_text_from_source(text)
    if corrupt:
        pdf = _corrupt(pdf, corrupt)
    return pdf, expected


def _near_dup(lines: list[str], rng: random.Random) -> list[str]:
    """Drop a few leading tokens and the last line, then re-wrap: every
    line differs from the original (paragraph dedup keeps it) while most
    3-gram shingles are shared (MinHash-LSH pairs it)."""
    toks = " ".join(lines[:-1] if len(lines) > 2 else lines).split(" ")
    toks = toks[rng.randint(1, 4):]
    return [" ".join(toks[i : i + WRAP]) for i in range(0, len(toks), WRAP)]


def generate(workload: str, seed: int, n_docs: int) -> dict:
    """Rows of the payload table and the truth table for one corpus."""
    rng = random.Random(seed * 1_000_003 + WORKLOADS.index(workload))
    base = 1_000 + (seed % 100_000) * 100_000
    langs = ("en", "de", "fr", "es", "zh")
    if workload == "pdf_hard":
        pool = source_pool(n_docs, 6, 14)
    else:
        pool = source_pool(n_docs, 2, 8)
    order = list(range(n_docs))
    rng.shuffle(order)
    texts = [pool[i] for i in order]
    if workload == "crawl_to_shards":
        # exact shares, shuffled: 10% exact replicas, 12% shifted and
        # truncated near-dups, 18% with a shared syndicated paragraph.
        # Replicas and near-dups copy an earlier original only, so each
        # near-dup cluster is a star around its original.
        n_rep, n_near, n_syn = n_docs // 10, n_docs * 12 // 100, n_docs * 18 // 100
        roles = ["replica"] * n_rep + ["near"] * n_near + ["syndicated"] * n_syn
        roles += ["original"] * (n_docs - len(roles))
        rng.shuffle(roles)
        syndicated = [_line(random.Random(99 + k), _vocab()) for k in range(24)]
        originals: list[int] = []
        for i, role in enumerate(roles):
            if role == "original" or (role in ("replica", "near") and not originals):
                originals.append(i)
            elif role == "replica":
                texts[i] = list(texts[rng.choice(originals)])
            elif role == "near":
                texts[i] = _near_dup(texts[rng.choice(originals)], rng)
            else:
                lines = list(texts[i])
                lines.insert(rng.randrange(len(lines) + 1), rng.choice(syndicated))
                texts[i] = lines
    corrupt = [None] * n_docs
    if workload == "pdf_hard":
        for i in rng.sample(range(n_docs), int(n_docs * CORRUPT_SHARE)):
            variant = HARD_VARIANTS[((base + 2 * i) // 2) % len(HARD_VARIANTS)]
            # truncation loses /Encrypt with the trailer: only plain layouts
            encrypted = variant in ("aes128", "aes256", "rc4")
            corrupt[i] = "startxref" if encrypted or rng.random() < 0.5 else "truncate"
    rows = {k: [] for k in ("doc_id", "url", "host", "html", "lang")}
    truth = {k: [] for k in ("doc_id", "url", "host", "kind", "expected")}
    for i, lines in enumerate(texts):
        if workload == "pdf_hard":
            doc_id = base + 2 * i  # PDF half only: even doc_ids
            payload, expected = _hard_payload(doc_id, lines, corrupt[i])
            kind = "pdf"
        else:
            doc_id = base + i
            payload, kind, expected = _web_payload(doc_id, lines, langs[doc_id % 5])
        url = url_for(doc_id)
        rows["doc_id"].append(doc_id)
        rows["url"].append(url)
        rows["host"].append(host_for(doc_id))
        rows["html"].append(payload)
        rows["lang"].append(langs[doc_id % 5])
        truth["doc_id"].append(doc_id)
        truth["url"].append(url)
        truth["host"].append(host_for(doc_id))
        truth["kind"].append(kind)
        truth["expected"].append(expected)
    return {"rows": rows, "truth": truth, "corrupt": sum(c is not None for c in corrupt)}


def _source_digest() -> str:
    with open(__file__, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:16]


def corpus_digest(rows: dict) -> str:
    h = hashlib.sha256()
    for url, payload in zip(rows["url"], rows["html"]):
        h.update(url.encode())
        h.update(len(payload).to_bytes(8, "little"))
        h.update(payload)
    return h.hexdigest()[:16]


def ensure_corpus(cache_root: str, workload: str, seed: int, n_docs: int) -> dict:
    """Generate (or reuse) a corpus; returns its meta dict, with
    ``path`` set to the corpus directory."""
    key = f"{workload}-s{seed}-n{n_docs}-g{_source_digest()}"
    path = os.path.join(cache_root, key)
    meta_path = os.path.join(path, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
        meta.update(path=path, cached=True)
        return meta
    t0 = time.perf_counter()
    out = generate(workload, seed, n_docs)
    rows, truth = out["rows"], out["truth"]
    tmp = path + ".tmp"
    os.makedirs(os.path.join(tmp, "payloads"), exist_ok=True)
    table = pa.table(
        {
            "doc_id": pa.array(rows["doc_id"], pa.int64()),
            "url": pa.array(rows["url"], pa.string()),
            "host": pa.array(rows["host"], pa.string()),
            "html": pa.array(rows["html"], pa.binary()),
            "lang": pa.array(rows["lang"], pa.string()),
        }
    )
    step = -(-n_docs // PAYLOAD_FILES)
    for k in range(PAYLOAD_FILES):
        pq.write_table(
            table.slice(k * step, step),
            os.path.join(tmp, "payloads", f"part-{k:03d}.parquet"),
        )
    pq.write_table(pa.table(truth), os.path.join(tmp, "truth.parquet"))
    meta = {
        "workload": workload,
        "seed": seed,
        "docs": n_docs,
        "payload_bytes": sum(len(p) for p in rows["html"]),
        "corrupted_docs": out["corrupt"],
        "corpus_digest": corpus_digest(rows),
        "generator_digest": _source_digest(),
        "gen_s": time.perf_counter() - t0,
    }
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, path)
    meta.update(path=path, cached=False)
    return meta
