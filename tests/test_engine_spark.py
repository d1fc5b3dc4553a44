"""End-to-end Spark pipeline tests on the sf0.001 synthetic corpus:
corpus synthesis → salted repartition → mapInArrow extraction →
extracted/spans/audit views."""

import pytest

from pyspark.sql import functions as F

from pdf_parser_spark.engine.corpus import (
    HOT_HOST,
    expected_extracted,
    synthesize_webdocs,
)
from pdf_parser_spark.engine.extractor import (
    audit_view,
    extracted_view,
    parse_webdocs,
    spans_view,
)
from pdf_parser_spark.engine.partitioning import compute_salt_map

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def webdocs(spark):
    return synthesize_webdocs(spark, SF_DIR).cache()


@pytest.fixture(scope="module")
def parsed(spark, webdocs):
    return parse_webdocs(webdocs, num_partitions=8, emit_spans=True).cache()


def test_corpus_shape(webdocs):
    rows = webdocs.select("doc_id", "url", "host", "lang").collect()
    assert len(rows) == 500
    assert len({r.url for r in rows}) == 500
    hot = sum(1 for r in rows if r.host == HOT_HOST)
    assert hot == pytest.approx(200, abs=5)  # 40% skew by construction


def test_extraction_byte_identical_per_url(spark, webdocs, parsed):
    # the core north-rule invariant: extracted text matches the oracle
    # transform byte-for-byte for every document, PDF and HTML alike
    truth = {
        r.doc_id: expected_extracted(r.doc_id, r.text or "")
        for r in webdocs.select("doc_id", "text").collect()
    }
    got = {
        int(r.url.rsplit("/", 1)[1]): r.text
        for r in extracted_view(parsed).select("url", "text").collect()
    }
    assert len(got) == len(truth)
    mismatches = [k for k in truth if got[k] != truth[k]]
    assert mismatches == []


def test_no_parse_failures_on_clean_corpus(parsed):
    assert parsed.filter(F.col("error").isNotNull()).count() == 0


def test_both_payload_kinds_present(parsed):
    kinds = dict(
        parsed.groupBy("kind").count().rdd.map(lambda r: (r["kind"], r["count"])).collect()
    )
    assert kinds == {"pdf": 250, "html": 250}


def test_spans_view_has_geometry_for_pdfs(parsed):
    sp = spans_view(parsed)
    row = sp.filter((F.col("size") > 0) & (F.col("x") > 0)).first()
    assert row is not None
    assert row.font == "/F1"
    n_urls = sp.select("url").distinct().count()
    assert n_urls == 250  # every PDF produced spans; html produces none


def test_audit_covers_all_partitions_and_docs(parsed):
    audit = audit_view(parsed).collect()
    assert sum(r.n_docs for r in audit) == 500
    assert sum(r.n_failures for r in audit) == 0
    assert all(r.docs_per_sec > 0 for r in audit)
    assert len(audit) <= 8


def test_payload_cap_degrades_to_error_row(spark, webdocs):
    # a mislabeled multi-GB crawl row must become an error row, not a
    # task failure — and must not affect its batch neighbors
    big = spark.createDataFrame(
        [("https://big.example/doc/x", "big.example", bytearray(b"<p>" + b"A" * 4096))],
        "url STRING, host STRING, html BINARY",
    )
    both = webdocs.select("url", "host", "html").limit(20).union(big)
    out = parse_webdocs(both, num_partitions=2, max_payload_bytes=2048)
    rows = {r.url: r for r in out.select("url", "text", "error", "payload_bytes").collect()}
    bad = rows["https://big.example/doc/x"]
    assert bad.error.startswith("PayloadTooLarge: ")
    assert bad.payload_bytes == 4099 and bad.text == ""
    others = [r for u, r in rows.items() if u != "https://big.example/doc/x"]
    assert len(others) == 20 and all(r.error is None for r in others)
    # spans are opt-in: the default parse leaves them uncomputed (null)
    assert out.where(
        F.col("spans").isNotNull() | F.col("n_spans").isNotNull()
    ).count() == 0
    # cap=0 disables the guard
    out2 = parse_webdocs(big, num_partitions=1, max_payload_bytes=0)
    assert out2.filter(F.col("error").isNotNull()).count() == 0


def test_payload_cap_arrow_body():
    # the mapInArrow body enforces the cap per row, outside Spark too
    import pyarrow as pa

    from pdf_parser_spark.engine.extractor import extract_batch_arrow

    batch = pa.RecordBatch.from_pydict(
        {"url": ["u1", "u2"], "html": [b"<p>ok</p>", b"<p>" + b"B" * 9000]},
        schema=pa.schema([("url", pa.string()), ("html", pa.binary())]),
    )
    (out,) = extract_batch_arrow(iter([batch]), max_payload_bytes=4096)
    by_url = {r["url"]: r for r in out.to_pylist()}
    assert by_url["u1"]["error"] is None
    assert by_url["u2"]["error"].startswith("PayloadTooLarge")
    assert by_url["u2"]["text"] == "" and by_url["u2"]["payload_bytes"] == 9003


def test_sniff_routes_only_a_line_start_header_to_pdf():
    """An HTML page that quotes the %PDF- magic mid-line stays HTML and
    keeps its text; a header at byte 0, after a UTF-8 BOM or after a
    banner line (§7.5.2 makes the header a line) still goes to the PDF
    kernel."""
    import pyarrow as pa

    from pdf_parser_spark.engine.extractor import extract_batch_arrow
    from pdf_parser_spark.htmlcore.extract import extract_html
    from pdf_parser_spark.pdfgen import text_to_pdf

    mention = (
        b"<html><body><p>Every PDF file begins with the bytes %PDF-1.7 "
        b"followed by a binary comment.</p></body></html>"
    )
    pdf = text_to_pdf("sniffed header")
    payloads = {
        "mention": mention,
        "pdf": pdf,
        "bom": b"\xef\xbb\xbf" + pdf,
        "banner": b"<!-- proxy banner -->\r\n\r\n" + pdf,
    }
    batch = pa.RecordBatch.from_pydict(
        {"url": list(payloads), "html": list(payloads.values())},
        schema=pa.schema([("url", pa.string()), ("html", pa.binary())]),
    )
    (out,) = extract_batch_arrow(iter([batch]))
    rows = {r["url"]: r for r in out.to_pylist()}
    m = rows["mention"]
    assert (m["kind"], m["error"]) == ("html", None)
    assert m["text"] == extract_html(mention.decode()) != ""
    for url in ("pdf", "bom", "banner"):
        r = rows[url]
        assert (r["kind"], r["error"], r["text"]) == (
            "pdf", None, "sniffed header"
        ), url


def _mixed_payloads() -> dict:
    """One payload per kernel shape the span switch could disturb."""
    from pdf_parser_spark.htmlcore.gen import text_to_html
    from pdf_parser_spark.pdfgen import FontSpec, make_text_pdf, text_to_pdf
    from pdf_parser_spark.pdfgen.writer import make_cid_text_pdf

    src = "Alpha beta\ngamma (delta)\n" + "\n".join(f"row {i}" for i in range(60))
    lines = [["alpha beta", "gamma (delta)"], ["page two"]]
    classic = text_to_pdf(src)
    xref_at = classic.rindex(b"startxref\n") + len(b"startxref\n")
    return {
        "classic": classic,
        "xrefstream": text_to_pdf(src, variant="xrefstream"),
        "objstm": text_to_pdf(src, variant="xrefstream", use_objstm=True),
        "widths": make_text_pdf(lines, font=FontSpec(widths=[250 + i for i in range(95)])),
        "rc4": make_text_pdf(lines, encrypted=True, encrypt_revision=3),
        "aes128": make_text_pdf(lines, encrypted=True, encrypt_revision=4),
        "aes256": make_text_pdf(lines, encrypted=True, encrypt_revision=6),
        "cid": make_cid_text_pdf([["héllo wörld", "日本語テキスト", "ascii"]]),
        "fontless": make_text_pdf(lines, fontless=True),
        "recovered": classic[:xref_at] + b"999999\n%%EOF\n",
        "truncated": classic[: len(classic) // 2],
        "garbage": b"%PDF-1.7\n" + bytes(range(256)) * 4,
        "html": text_to_html(src).encode(),
        "oversize": b"%PDF-1.7\n" + b"x" * 300_000,
        "null": None,
    }


@pytest.mark.parametrize("multibyte", [False, True])
def test_span_projection_parity(multibyte):
    """emit_spans=False changes only spans/n_spans (null: not computed);
    every other column equals the spans-on parse, and the spans-on
    column carries exactly the kernel's span records."""
    import pyarrow as pa

    from pdf_parser_spark.engine.extractor import extract_batch_arrow
    from pdf_parser_spark.pdfcore.extract import extract_pdf

    payloads = _mixed_payloads()
    batch = pa.RecordBatch.from_pydict(
        {"url": list(payloads), "html": list(payloads.values())},
        schema=pa.schema([("url", pa.string()), ("html", pa.binary())]),
    )

    def run(emit_spans):
        (out,) = extract_batch_arrow(
            iter([batch]),
            emit_spans=emit_spans,
            multibyte=multibyte,
            max_payload_bytes=200_000,
        )
        return {r["url"]: r for r in out.to_pylist()}

    on, off = run(True), run(False)
    same = ("kind", "text", "error", "n_pages", "n_items", "fallback_pages",
            "recovered", "payload_bytes", "items")
    for url in payloads:
        assert {c: off[url][c] for c in same} == {c: on[url][c] for c in same}, url
        assert off[url]["spans"] is None and off[url]["n_spans"] is None, url
    # the batch really covers the shapes it names
    assert on["fontless"]["fallback_pages"] > 0
    assert on["recovered"]["recovered"] == 1 and on["recovered"]["text"]
    assert on["truncated"]["error"] or on["truncated"]["recovered"]
    assert on["oversize"]["error"].startswith("PayloadTooLarge")
    assert on["html"]["kind"] == "html" and on["html"]["spans"] == []
    for name in ("rc4", "aes128", "aes256"):
        assert on[name]["text"] == "alpha beta\ngamma (delta)\npage two", name
    assert ("日本語テキスト" in on["cid"]["text"]) == multibyte
    # spans on: the kernel's own span records, packed losslessly
    for url, raw in payloads.items():
        want = []
        if on[url]["kind"] == "pdf" and url != "oversize":
            r = extract_pdf(raw, multibyte_cmaps=multibyte)
            want = [
                {"page_no": pg, "seq": s.seq, "text": s.text, "x": s.x,
                 "y": s.y, "font": s.font, "size": s.size, "width": s.width}
                for s, pg in zip(r.spans, r.span_pages)
            ]
        assert on[url]["spans"] == want, url
        assert on[url]["n_spans"] == len(want), url
    assert all(on[u]["n_spans"] > 0 for u in ("classic", "objstm", "widths", "aes256"))


def test_salt_map_splits_hot_host(webdocs):
    salt_map = compute_salt_map(webdocs, target_docs_per_bucket=25)
    assert salt_map[HOT_HOST] >= 4  # ~200 docs / 25 per bucket
    # bounded driver materialization: only hosts ABOVE the per-bucket
    # threshold are collected — the long tail (≤ 25 docs/host here)
    # stays distributed and defaults to 1 bucket in salted_repartition
    cold = [h for h in salt_map if h != HOT_HOST]
    assert cold == []


def test_hot_host_spread_across_partitions(parsed, webdocs, spark):
    # join parsed back to host and check the hot host did not serialize
    # onto a single partition
    hosts = webdocs.select("url", "host")
    dist = (
        parsed.join(hosts, "url")
        .filter(F.col("host") == HOT_HOST)
        .select("partition_id")
        .distinct()
        .count()
    )
    assert dist >= 3


def test_scan_partitioned_matches_salted(spark, tmp_path, webdocs, parsed):
    """Both branches of the default partitioning rule. A parquet read,
    alone or under a Filter/Project, parses on the scan's own splits (no
    Exchange — the shippable plan for a stateless parse at 10^12 docs).
    A generated input keeps the salted (host, salt) shuffle: the
    mapInPandas synthesis fixture, and a mapInArrow over the very same
    parquet, which reports the same input files as the scan. Every plan
    extracts the same (url, text) set."""
    corpus_path = str(tmp_path / "corpus")
    webdocs.write.parquet(corpus_path)
    read = spark.read.parquet(corpus_path)
    scans = [
        read,
        read.where(F.length("url") > 0),
        read.withColumn("url", F.trim("url")),
    ]
    generated = [webdocs, read.mapInArrow(lambda it: it, read.schema)]
    want = {(r.url, r.text) for r in parsed.select("url", "text").collect()}
    for i, src in enumerate(scans + generated):
        out = parse_webdocs(src)
        plan = out._jdf.queryExecution().executedPlan().toString()
        if i < len(scans):
            assert "Exchange" not in plan, i
        else:
            assert "hashpartitioning(host" in plan, i
        got = {(r.url, r.text) for r in out.select("url", "text").collect()}
        assert got == want, i
