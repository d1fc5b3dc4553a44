"""Driver-contract query registry: Spark DataFrame query + DuckDB oracle
SQL per implemented operator (SURVEY.md §2 reframings + training-data
pipeline ops).

Parity rules that make the value-hash comparison exact across engines:

- md5 is the only hash primitive (bit-identical everywhere); MinHash
  minima compare *hex strings* lexicographically.
- outputs are ints / strings / rounded doubles — no raw timestamps, no
  booleans, no arrays.
- float folds (dot products) run sequentially in double precision on
  both sides.
- every computed column is aliased identically in both dialects.

Each Spark callable takes (spark, sf_dir) and reads the driver's
parquet tables; the oracle runs on DuckDB views of the same files.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .engine.corpus import (
    CHUNKS_SQL,
    EXPECTED_SQL_EXPR,
    HOST_SQL,
    PDF_LINES_SQL,
    _HTML_LINES_SQL,
    synthesize_cid_variant,
    synthesize_encrypted_variant,
    synthesize_pdf_variant,
    synthesize_webdocs,
    webdocs_salt_map,
)
from .engine.extractor import items_view, parse_webdocs, spans_view
from .functions import (
    cleaning,
    dedup,
    filtering,
    linkgraph,
    packing,
    sketches,
    textstats,
)

# ---------------------------------------------------------------------------
# registry plumbing

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def _ship_package(spark: SparkSession) -> None:
    """Make pdf_parser_spark importable on executor Python workers.

    The driver process may import this package from a sys.path entry
    the workers never see (e.g. the round driver running with a foreign
    CWD); cloudpickled UDFs reference the module by name, so workers
    need a copy. addPyFile distributes a zip once per SparkContext —
    the programmatic twin of `spark-submit --py-files`.
    """
    import os
    import tempfile
    import zipfile

    sc = spark.sparkContext
    if getattr(sc, "_pdf_parser_spark_shipped", False):
        return
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(root, "pdf_parser_spark")
    zpath = os.path.join(
        tempfile.gettempdir(), f"pdf_parser_spark_ship_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _, files in os.walk(pkg):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
    sc.addPyFile(zpath)
    sc._pdf_parser_spark_shipped = True


def q(name: str, sql: str | None = None):
    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ship_package(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = wrapped
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# private mkdtemp scratch per (session, sf_dir) for the WARC round-trip,
# removed at interpreter exit — no fixed world-guessable /tmp name
# (symlink/squatting hazard) and no cross-session clobbering; growth is
# bounded at one corpus copy per live (session, sf_dir)
_WARC_SCRATCH: dict[tuple[str, str], str] = {}


def _warc_scratch_dir(spark: SparkSession, sf_dir: str) -> str:
    import atexit
    import os
    import shutil
    import tempfile

    key = (spark.sparkContext.applicationId, sf_dir)
    path = _WARC_SCRATCH.get(key)
    if path is None or not os.path.isdir(path):
        path = tempfile.mkdtemp(prefix="warc_ingest_")
        _WARC_SCRATCH[key] = path
        atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


# ---------------------------------------------------------------------------
# shared DuckDB SQL fragments (dialect twins of textstats helpers)

CLONE_OFFSET = 1_000_000


def duck_toks(col: str = "text") -> str:
    """DuckDB twin of textstats.tokens()."""
    return (
        f"list_filter(string_split(replace(replace({col}, chr(10), ' '), "
        f"chr(9), ' '), ' '), x -> x <> '')"
    )


def duck_shingles(toks: str, k: int = 3) -> str:
    """DuckDB twin of textstats.shingles(): k-gram space-joined grams."""
    parts = " || ' ' || ".join(
        f"({toks})[i+{j}]" if j else f"({toks})[i]" for j in range(k)
    )
    return (
        f"CASE WHEN len({toks}) >= {k} THEN "
        f"list_transform(range(1, len({toks}) - {k - 2}), i -> {parts}) "
        f"ELSE []::VARCHAR[] END"
    )


def duck_occ(word: str, col: str = "text") -> str:
    """DuckDB twin of textstats.word_occurrences()."""
    pad = (
        f"(' ' || lower(replace(replace({col}, chr(10), ' '), chr(9), ' ')) || ' ')"
    )
    pat = f" {word} "
    return (
        f"((length({pad}) - length(replace({pad}, '{pat}', ''))) // {len(pat)})"
    )


URL_SQL = (
    "'https://' || CASE WHEN doc_id % 10 < 4 THEN 'heavy.example.org' "
    "ELSE 'site-' || (doc_id % 97) || '.example.com' END || '/doc/' || doc_id"
)

PDF_TEXT_SQL = f"array_to_string({PDF_LINES_SQL}, chr(10))"


# ---------------------------------------------------------------------------
# extraction pipeline queries (the flagship surface)


@q(
    "flagship_extract",
    f"SELECT {URL_SQL} AS url, {EXPECTED_SQL_EXPR} AS text FROM documents",
)
def flagship_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end: synthesize webdocs → salted mapInArrow extraction →
    (url, text). The oracle recomputes the expected byte-exact text in
    SQL — this entry IS the byte-identical-extraction gate."""
    webdocs = synthesize_webdocs(spark, sf_dir)
    parsed = parse_webdocs(webdocs, salt_map=webdocs_salt_map(spark, sf_dir))
    return parsed.select("url", "text")


@q(
    "warc_ingest",
    f"SELECT {URL_SQL} AS url, {EXPECTED_SQL_EXPR} AS text FROM documents",
)
def warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full archive-format cycle: synthesize webdocs → write
    member-per-record .warc.gz files (one per partition) → read them
    back via the binaryFile-based WARC source → same salted extraction
    kernel → (url, text). The oracle is the flagship's — proving the
    WARC path is byte-equivalent to the table path end-to-end."""
    import os

    from .engine.extractor import HOST_FROM_URL
    from .sources.warc import read_warc, write_warc_dir

    out_dir = _warc_scratch_dir(spark, sf_dir)
    if not os.listdir(out_dir):
        write_warc_dir(synthesize_webdocs(spark, sf_dir), out_dir)
    webdocs = (
        read_warc(spark, os.path.join(out_dir, "*.warc.gz"))
        .where(F.col("url").isNotNull())
        .withColumn("host", F.regexp_extract("url", HOST_FROM_URL, 1))
    )
    parsed = parse_webdocs(webdocs, salt_map=webdocs_salt_map(spark, sf_dir))
    return parsed.select("url", "text")


@q(
    "payload_sniff",
    f"SELECT {URL_SQL} AS url, CASE WHEN doc_id % 2 = 0 THEN 'pdf' ELSE 'html' "
    "END AS kind FROM documents",
)
def payload_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload dispatch as a pure JVM expression over the binary column
    (no UDF): magic-byte check on the first 5 bytes."""
    webdocs = synthesize_webdocs(spark, sf_dir)
    return webdocs.select(
        "url",
        F.when(
            F.decode(F.substring("html", 1, 5), "UTF-8") == "%PDF-", "pdf"
        )
        .otherwise("html")
        .alias("kind"),
    )


@q(
    "span_text_roundtrip",
    f"SELECT {URL_SQL} AS url, {PDF_TEXT_SQL} AS text FROM documents "
    "WHERE doc_id % 2 = 0",
)
def span_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span records stitched back into document text: proves the span
    stream (page_no, seq, text, x, y, font, size) is lossless wrt the
    extracted text on the PDF path."""
    webdocs = synthesize_webdocs(spark, sf_dir).where(F.col("doc_id") % 2 == 0)
    spans = spans_view(
        parse_webdocs(
            webdocs, salt_map=webdocs_salt_map(spark, sf_dir), emit_spans=True
        )
    )
    return spans.groupBy("url").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("page_no", "seq", "text"))),
                lambda s: s["text"],
            ),
            "\n",
        ).alias("text")
    )


@q(
    "span_search",
    f"WITH exp AS (SELECT {URL_SQL} AS url, {PDF_LINES_SQL} AS flines "
    "FROM documents WHERE doc_id % 2 = 0) "
    "SELECT url, seq::INT AS seq, text FROM (SELECT url, "
    "unnest(list_transform(range(1, len(flines) + 1), "
    "i -> {'seq': i - 1, 'text': flines[i]}), recursive := true) FROM exp) "
    "WHERE text LIKE '%table%'",
)
def span_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search over span records (the reference's search_text_in_pdf
    reframed, api.py:395-484): hit spans identified by (url, seq) —
    seq doubles as the block-order analog. The oracle reconstructs the
    expected span stream per PDF from the corpus transform."""
    webdocs = synthesize_webdocs(spark, sf_dir).where(F.col("doc_id") % 2 == 0)
    spans = spans_view(
        parse_webdocs(
            webdocs, salt_map=webdocs_salt_map(spark, sf_dir), emit_spans=True
        )
    )
    return spans.where(F.col("text").contains("table")).select(
        "url", F.col("seq").cast("int").alias("seq"), "text"
    )


@q(
    "span_geometry_clean",
    f"SELECT {URL_SQL} AS url, len({PDF_LINES_SQL})::BIGINT AS n_spans "
    "FROM documents WHERE doc_id % 2 = 0",
)
def span_geometry_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2+F3 span hygiene (ghost-rect filter + 0.1pt rect dedup): on
    the clean synthetic corpus every emitted span survives, so the
    per-url clean-span count must equal the expected line count — the
    oracle-checkable invariant for the geometry filters."""
    from .engine.extractor import clean_spans_view

    webdocs = synthesize_webdocs(spark, sf_dir).where(F.col("doc_id") % 2 == 0)
    parsed = parse_webdocs(
        webdocs, salt_map=webdocs_salt_map(spark, sf_dir), emit_spans=True
    )
    return clean_spans_view(parsed).groupBy("url").agg(
        F.count("*").cast("bigint").alias("n_spans")
    )


@q(
    "audit_metrics",
    f"SELECT {HOST_SQL} AS host, count(*)::BIGINT AS n_docs, "
    "0::BIGINT AS n_failures, "
    f"sum(CASE WHEN doc_id % 2 = 0 THEN len({PDF_LINES_SQL}) ELSE 0 END)"
    "::BIGINT AS n_spans, "
    f"sum(CASE WHEN doc_id % 2 = 0 THEN len({PDF_LINES_SQL}) "
    f"ELSE len({_HTML_LINES_SQL}) END)::BIGINT AS n_items, "
    "0::BIGINT AS n_fallback_pages FROM documents GROUP BY 1",
)
def audit_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit rollup keyed on host — deterministic, so the whole audit
    surface (doc/failure/span/item/fallback counts) is oracle-checked.
    The runtime partition-lineage twin (audit_view, keyed on Spark
    partition id + wall-clock docs/sec) stays the operational surface
    and is exercised in tests/test_engine_spark.py."""
    from .engine.extractor import audit_by_host

    webdocs = synthesize_webdocs(spark, sf_dir)
    return audit_by_host(
        parse_webdocs(
            webdocs, salt_map=webdocs_salt_map(spark, sf_dir), emit_spans=True
        )
    )


# epoch seconds of the corpus _EPOCH (2024-01-01 UTC); warc_ts derives
# as _EPOCH + doc_id % 86400 seconds (engine/corpus.py), so the window
# oracle can stay in pure integer arithmetic.
_EPOCH_S = 1704067200
_WIN_S = 600  # 10-minute tumbling windows


@q(
    "windowed_host_stats",
    f"SELECT (({_EPOCH_S} + doc_id % 86400) // {_WIN_S} * {_WIN_S})::BIGINT "
    "AS win_start, "
    f"(({_EPOCH_S} + doc_id % 86400) // {_WIN_S} * {_WIN_S} + {_WIN_S})::BIGINT "
    "AS win_end, "
    f"{HOST_SQL} AS host, count(*)::BIGINT AS n_docs, "
    "sum(length(text))::BIGINT AS bytes_in FROM documents GROUP BY 1, 2, 3",
)
def windowed_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregation — the EXACT code the
    streaming surface runs (streaming/ingest.windowed_host_stats;
    withWatermark is a no-op on a batch frame), verified here against
    an integer-arithmetic window oracle. Streaming-only semantics
    (late-row drop, append-mode single emission, state eviction) are
    pinned by tests/test_sinks_streaming.py."""
    from .streaming.ingest import windowed_host_stats as _wstats

    w = synthesize_webdocs(spark, sf_dir)
    stats = _wstats(w, size_col="text")
    return stats.select(
        F.col("win_start").cast("long").alias("win_start"),
        F.col("win_end").cast("long").alias("win_end"),
        "host",
        "n_docs",
        F.col("bytes_in").cast("long").alias("bytes_in"),
    )


@q(
    "host_running_totals",
    f"WITH w AS (SELECT doc_id, {HOST_SQL} AS host, "
    f"{_EPOCH_S} + doc_id % 86400 AS ts, length(text) AS nb FROM documents) "
    "SELECT doc_id, host, "
    "(row_number() OVER (PARTITION BY host ORDER BY ts, doc_id))::BIGINT "
    "AS running_docs, "
    "sum(nb) OVER (PARTITION BY host ORDER BY ts, doc_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT "
    "AS running_bytes FROM w",
)
def host_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host running totals in event-time order — the batch twin of
    the applyInPandasWithState stateful operator
    (streaming/ingest.stateful_host_totals): the cumulative window here
    must equal the stream's state trajectory after each row. Partition-
    scoped window (no global sort); (warc_ts, doc_id) ordering is
    deterministic."""
    w = synthesize_webdocs(spark, sf_dir)
    order = Window.partitionBy("host").orderBy("warc_ts", "doc_id")
    cum = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return w.select(
        "doc_id",
        "host",
        F.row_number().over(order).cast("bigint").alias("running_docs"),
        F.sum(F.length("text")).over(cum).cast("bigint").alias("running_bytes"),
    )


_STREAM_OFF = 300_000


@q(
    "dedup_stream_twin",
    f"WITH w AS (SELECT doc_id, md5(text) AS content_hash, "
    f"{_EPOCH_S} + doc_id % 86400 AS ts FROM documents "
    f"UNION ALL SELECT doc_id + {_STREAM_OFF}, md5(text), "
    f"{_EPOCH_S} + doc_id % 86400 + 3600 FROM documents) "
    "SELECT doc_id, content_hash FROM (SELECT doc_id, content_hash, "
    "row_number() OVER (PARTITION BY content_hash ORDER BY ts, doc_id) "
    "AS rn FROM w) WHERE rn = 1",
)
def dedup_stream_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the watermarked streaming dedup
    (streaming/ingest.streaming_dedup — dropDuplicatesWithinWatermark
    keyed on md5(text)): first-seen row per content hash, with clones
    injected one event-time hour later so every original wins and every
    clone is suppressed. The cross-micro-batch/state-eviction semantics
    are pinned by tests/test_sinks_streaming.py."""
    from .streaming.ingest import first_seen_per_hash

    w = synthesize_webdocs(spark, sf_dir).select("doc_id", "warc_ts", "text")
    clones = w.select(
        (F.col("doc_id") + _STREAM_OFF).alias("doc_id"),
        (F.col("warc_ts") + F.expr("INTERVAL 1 HOUR")).alias("warc_ts"),
        "text",
    )
    return first_seen_per_hash(w.unionAll(clones)).select(
        "doc_id", "content_hash"
    )


@q(
    "fallback_extract",
    f"WITH exp AS (SELECT {URL_SQL} AS url, {CHUNKS_SQL} AS chunks "
    "FROM documents WHERE doc_id % 2 = 0) "
    "SELECT url, array_to_string(list_filter(list_transform(chunks, "
    r"x -> trim(regexp_replace(x, '[^\x00-\x{00ff}]', '?', 'g'))), "
    "x -> x <> ''), chr(10)) AS text, "
    # the kernel counts one fallback per swept PAGE; the variant renders
    # 48 lines per page and no chunk transforms to empty, so the page
    # count is ceil(lines / 48) — not a 0/1 flag (a >48-line fontless
    # doc sweeps multiple pages)
    "cast(ceil(len(list_filter(list_transform(chunks, "
    r"x -> trim(regexp_replace(x, '[^\x00-\x{00ff}]', '?', 'g'))), "
    "x -> x <> '')) / 48.0) as int) AS fallback_pages FROM exp",
)
def fallback_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degraded-path extraction: the corpus re-rendered WITHOUT font
    resources, so the content-stream walk decodes nothing and the
    literal-sweep fallback (the reference's PyMuPDF-fallback analog,
    api.py:197-264) produces the text. Unlike the main path there is no
    WinAnsi filtering — bytes 0x80-0xFF survive latin1 round-trip; only
    chars > U+00FF degrade to '?'."""
    w = synthesize_pdf_variant(spark, sf_dir, fontless=True)
    parsed = parse_webdocs(w, salt_map=webdocs_salt_map(spark, sf_dir))
    return parsed.select(
        "url", "text", F.col("fallback_pages").cast("int").alias("fallback_pages")
    )


_CID_LINES_SQL = (
    f"list_filter(list_transform({CHUNKS_SQL}, x -> trim(x)), x -> x <> '')"
)


@q(
    "cid_extract",
    f"SELECT {URL_SQL} AS url, "
    f"array_to_string({_CID_LINES_SQL}, chr(10)) AS text "
    "FROM documents WHERE doc_id % 2 = 0",
)
def cid_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CID/multibyte decode at corpus scale (SURVEY §2.2 T7 extension):
    the corpus re-rendered with 2-byte code units + codespacerange
    ToUnicode CMaps, parsed with multibyte=True — extracted text must
    equal the source lines EXACTLY (no WinAnsi '?' degradation, unlike
    the single-byte flagship path). The reference-identical flag-off
    behavior is pinned by the kernel golden in test_pdf_end_to_end."""
    w = synthesize_cid_variant(spark, sf_dir)
    parsed = parse_webdocs(
        w, salt_map=webdocs_salt_map(spark, sf_dir), multibyte=True
    )
    return parsed.select("url", "text")


@q(
    "encrypted_extract",
    f"SELECT {URL_SQL} AS url, "
    f"array_to_string({PDF_LINES_SQL}, chr(10)) AS text "
    "FROM documents WHERE doc_id % 2 = 0",
)
def encrypted_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RC4-encrypted corpus at scale: every PDF enciphered with the
    standard security handler (empty user password, R2/R3 cycling,
    classic + xref-stream layouts), extracted by the SAME kernel call
    as the flagship — decryption is transparent (pdfcore/crypt.py,
    ISO 32000-1 §7.6.3). The oracle recomputes the plain PDF-half
    text: ciphertext in, byte-identical plaintext out."""
    w = synthesize_encrypted_variant(spark, sf_dir)
    parsed = parse_webdocs(w, salt_map=webdocs_salt_map(spark, sf_dir))
    return parsed.select("url", "text")


@q(
    "rewrite_roundtrip",
    f"WITH exp AS (SELECT {URL_SQL} AS url, {PDF_LINES_SQL} AS flines "
    "FROM documents WHERE doc_id % 2 = 0) "
    "SELECT url, array_to_string(list_transform(range(1, len(flines) + 1), "
    "i -> CASE WHEN i <= 48 AND flines[i] = flines[1] "
    "THEN reverse(flines[i]) ELSE flines[i] END), chr(10)) AS text FROM exp",
)
def rewrite_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE path end-to-end under oracle: per PDF, replace every
    page-0 occurrence of the document's first decoded line with its
    reverse (same character multiset, so census validation passes),
    via the from-scratch rewrite kernel (census → validation → splice
    → incremental-update sink), then re-extract the REWRITTEN bytes
    with the normal kernel. The oracle recomputes the expected final
    text in SQL — this entry proves K2/J5/T9/T10/F7 produce documents
    our own reader round-trips byte-exactly."""
    from collections.abc import Iterator as _It

    import pandas as _pd

    webdocs = synthesize_webdocs(spark, sf_dir).where(F.col("doc_id") % 2 == 0)

    def rw(batches: "_It[_pd.DataFrame]") -> "_It[_pd.DataFrame]":
        from pdf_parser_spark.pdfcore.extract import extract_pdf
        from pdf_parser_spark.pdfcore.rewrite import replace_text

        for pdf in batches:
            urls, texts = [], []
            for url, payload in zip(pdf["url"], pdf["html"]):
                data = bytes(payload)
                r = extract_pdf(data)
                if r.items:
                    target = r.items[0][2]
                    rep = replace_text(data, target, target[::-1], page_num=0)
                    texts.append(extract_pdf(rep.data).text)
                else:
                    texts.append(r.text)
                urls.append(url)
            yield _pd.DataFrame({"url": urls, "text": texts})

    return webdocs.select("url", "html").mapInPandas(
        rw, schema="url STRING, text STRING"
    )


@q(
    "rewrite_autoinsert",
    f"WITH exp AS (SELECT {URL_SQL} AS url, {PDF_LINES_SQL} AS flines "
    "FROM documents WHERE doc_id % 2 = 0) "
    "SELECT url, array_to_string(list_transform(range(1, len(flines) + 1), "
    "i -> CASE WHEN i <= 48 AND flines[i] = flines[1] "
    "THEN flines[i] || ' ±§' ELSE flines[i] END), chr(10)) AS text FROM exp",
)
def rewrite_autoinsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE path with FONT AUTO-INSERT under oracle (the reference's
    broken aspiration, fonts/embedding.py:11-230, working end-to-end):
    per PDF, every page-0 occurrence of the first decoded line is
    replaced by itself + ' ±§' — two characters provably absent from
    the census and the synthesized reverse-CMap domain, so the rewrite
    must allocate safe codes (E1), merge them into the font's ToUnicode
    (E3) through the incremental-update writer, reconcile /Differences,
    splice, and re-extract to EXACTLY the oracle-recomputed text."""
    from collections.abc import Iterator as _It

    import pandas as _pd

    webdocs = synthesize_webdocs(spark, sf_dir).where(F.col("doc_id") % 2 == 0)

    def rw(batches: "_It[_pd.DataFrame]") -> "_It[_pd.DataFrame]":
        from pdf_parser_spark.pdfcore.extract import extract_pdf
        from pdf_parser_spark.pdfcore.rewrite import replace_text

        for pdf in batches:
            urls, texts = [], []
            for url, payload in zip(pdf["url"], pdf["html"]):
                data = bytes(payload)
                r = extract_pdf(data)
                if r.items:
                    target = r.items[0][2]
                    rep = replace_text(
                        data,
                        target,
                        target + " ±§",
                        page_num=0,
                        allow_auto_insert=True,
                    )
                    texts.append(extract_pdf(rep.data).text)
                else:
                    texts.append(r.text)
                urls.append(url)
            yield _pd.DataFrame({"url": urls, "text": texts})

    return webdocs.select("url", "html").mapInPandas(
        rw, schema="url STRING, text STRING"
    )


# ---------------------------------------------------------------------------
# relational reframings of the reference's dataflow operators, running
# over REAL extracted output (spans/items from parse_webdocs), with
# DuckDB oracles that reconstruct the deterministic span geometry:
# line i (1-based, L lines/page) → page_no=(i-1)//L, seq=(i-1)%L,
# x=72, y=720-14*seq, size=12, width=6*len (default /Widths advance
# 500/1000 × 12pt — pdfgen writes no /Widths array).


def _span_lines_cte(lines_per_page: int = 48, repeat_first: int = 0) -> str:
    """Reconstructed span stream per PDF url: (url, gseq, page_no, seq,
    text) — the SQL twin of spans_view over the synthetic corpus.
    ``repeat_first`` mirrors synthesize_pdf_variant's repeated-lines
    corpus (first k lines appended again at the end)."""
    l = lines_per_page
    cte = (
        f"WITH exp AS (SELECT {URL_SQL} AS url, {PDF_LINES_SQL} AS flines "
        "FROM documents WHERE doc_id % 2 = 0), "
    )
    src = "exp"
    if repeat_first:
        cte += (
            "ext AS (SELECT url, list_concat(flines, "
            f"flines[1:{repeat_first}]) AS flines FROM exp), "
        )
        src = "ext"
    return cte + (
        "lines AS (SELECT url, unnest(list_transform(range(1, len(flines) + 1), "
        f"i -> {{'gseq': i - 1, 'page_no': (i - 1) // {l}, "
        f"'seq': (i - 1) % {l}, 'text': flines[i]}}), recursive := true) FROM {src})"
    )


# one parsed frame per (session, sf_dir[, variant]) — the in-session
# analog of parse-once-write-spans-table: the span-operator queries all
# read the SAME materialized parse instead of each re-running the
# mapInArrow kernel. Keyed by applicationId so a new session re-parses;
# _evict_stale_parses drops entries from other (stopped or concurrent)
# sessions so localCheckpointed blocks never outlive their session in a
# long-lived multi-session driver.
_PARSED_CACHE: dict[tuple[str, str, int], DataFrame] = {}


def _evict_stale_parses(spark: SparkSession) -> None:
    app_id = spark.sparkContext.applicationId
    for key in [k for k in _PARSED_CACHE if k[0] != app_id]:
        del _PARSED_CACHE[key]


def _parsed_pdf_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parsed PDF half of the corpus, materialized once per session.

    localCheckpoint because every consumer branches the parsed frame at
    least twice (items + spans, hits + blocks, self-join sides);
    without it each branch re-runs the whole mapInArrow parse. Blocks
    are reclaimed on GC (unlike a bare persist)."""
    _evict_stale_parses(spark)
    key = (spark.sparkContext.applicationId, sf_dir, 0)
    cached = _PARSED_CACHE.get(key)
    if cached is not None:
        return cached
    webdocs = synthesize_webdocs(spark, sf_dir).where(F.col("doc_id") % 2 == 0)
    parsed = parse_webdocs(
        webdocs,
        salt_map=webdocs_salt_map(spark, sf_dir),
        emit_items=True,
        emit_spans=True,
    ).localCheckpoint(eager=True)
    _PARSED_CACHE[key] = parsed
    return parsed


_REPEAT_K = 3  # first k lines repeated → every doc has duplicate text


def _parsed_repeat_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parsed repeated-lines corpus variant (synthesize_pdf_variant
    repeat_first=_REPEAT_K): every document contains genuine duplicate
    lines, so instance ordinals take values > 0. Cached like
    _parsed_pdf_docs; the cache key's variant tag is -_REPEAT_K (>0
    tags mean lines_per_page variants)."""
    _evict_stale_parses(spark)
    key = (spark.sparkContext.applicationId, sf_dir, -_REPEAT_K)
    cached = _PARSED_CACHE.get(key)
    if cached is not None:
        return cached
    w = synthesize_pdf_variant(spark, sf_dir, repeat_first=_REPEAT_K)
    parsed = parse_webdocs(
        w, salt_map=webdocs_salt_map(spark, sf_dir), emit_items=True
    ).localCheckpoint(eager=True)
    _PARSED_CACHE[key] = parsed
    return parsed


@q(
    "instance_index",
    f"{_span_lines_cte(repeat_first=_REPEAT_K)} "
    "SELECT url, gseq::INT AS seq, text, (row_number() OVER (PARTITION BY "
    "url, text ORDER BY gseq) - 1)::INT AS instance_index FROM lines",
)
def instance_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/F4 over real extraction output: the KERNEL's forward-only
    instance counter (api.py:139-186 semantics, computed inside
    extract_pdf) exposed via items_view and verified against a SQL
    rank-window recomputation — kernel ordinal vs relational ordinal
    must agree exactly. Runs over the repeated-lines corpus variant so
    ordinals > 0 genuinely occur (the base corpus has no duplicate
    lines — every ordinal would be 0)."""
    items = items_view(_parsed_repeat_docs(spark, sf_dir))
    return items.select("url", "seq", "text", "instance_index")


@q(
    "instance_selector",
    f"{_span_lines_cte(repeat_first=_REPEAT_K)} "
    "SELECT url, text, gseq::INT AS seq FROM (SELECT url, text, gseq, "
    "row_number() OVER (PARTITION BY url, text ORDER BY gseq) AS rn "
    "FROM lines) WHERE rn = 2",
)
def instance_selector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 over real extraction output: select only instance #k (k=2
    here) of each repeated (url, text) from the decoded item stream —
    the reference's instance_index gate (replacer.py:491-500) as a
    rank-window filter, non-vacuous on the repeated-lines variant (one
    row per document line that repeats). The kernel's own instance
    ordinal is verified separately by instance_index."""
    items = items_view(_parsed_repeat_docs(spark, sf_dir))
    w = Window.partitionBy("url", "text").orderBy("seq")
    return (
        items.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 2)
        .select("url", "text", F.col("seq").cast("int").alias("seq"))
    )


@q(
    "rank_join",
    f"{_span_lines_cte()} "
    ", l AS (SELECT url, text, row_number() OVER (PARTITION BY url, text "
    "ORDER BY gseq) AS rank FROM lines), "
    "r AS (SELECT url, text, 72.0 AS x, 720.0 - 14.0 * seq AS y, "
    "row_number() OVER (PARTITION BY url, text ORDER BY page_no, "
    "720.0 - 14.0 * seq DESC, 72.0) AS rank FROM lines) "
    "SELECT l.url, l.text, l.rank::INT AS rank, r.x, r.y FROM l "
    "LEFT JOIN r ON l.url = r.url AND l.text = r.text AND l.rank = r.rank",
)
def rank_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/F4 over real extraction output: the reference's decoded-text ⋈
    geometry forward-only matching (api.py:151-169) as a rank-aligned
    left equi-join — decoded items ranked by content-stream order, span
    geometry ranked by position (page, y desc, x), joined on (url,
    text, rank). Hash-partitions on the join key; no theta join."""
    parsed = _parsed_pdf_docs(spark, sf_dir)
    items = items_view(parsed).select("url", "text", "seq")
    spans = spans_view(parsed).select(
        F.col("url").alias("r_url"),
        F.col("text").alias("r_text"),
        "page_no",
        "x",
        "y",
    )
    wl = Window.partitionBy("url", "text").orderBy("seq")
    wr = Window.partitionBy("r_url", "r_text").orderBy(
        "page_no", F.desc("y"), "x"
    )
    l = items.withColumn("rank", F.row_number().over(wl).cast("int"))
    r = spans.withColumn("rank", F.row_number().over(wr).cast("int")).drop(
        "page_no"
    )
    return l.join(
        r,
        (l["url"] == r["r_url"])
        & (l["text"] == r["r_text"])
        & (l["rank"] == r["rank"]),
        "left",
    ).select("url", "text", l["rank"].alias("rank"), "x", "y")


_CONTAIN_LPP = 4  # short pages → same (x, y) recurs across pages → real drops


@q(
    "containment_anti_join",
    f"{_span_lines_cte(_CONTAIN_LPP)} "
    ", rects AS (SELECT url, page_no, seq, text, 72.0 AS x0, "
    "720.0 - 14.0 * seq AS y0, 72.0 + 6.0 * length(text) AS x1, "
    "732.0 - 14.0 * seq AS y1, 6.0 * length(text) * 12.0 AS area FROM lines) "
    "SELECT a.url, a.page_no::INT AS page_no, a.seq::INT AS seq, a.text "
    "FROM rects a WHERE NOT EXISTS (SELECT 1 FROM rects b "
    "WHERE b.url = a.url AND b.x0 <= a.x0 AND b.y0 <= a.y0 "
    "AND b.x1 >= a.x1 AND b.y1 >= a.y1 AND b.area > a.area)",
)
def containment_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 over real span rects (api.py:337-388): nested-bbox containment
    as a self anti-join scoped by url — equi on the key so it
    hash-partitions; the containment predicate rides along as a join
    residual. The corpus is re-rendered at 4 lines/page so the same
    page-space (x, y) recurs on different pages of one document and
    shorter lines are genuinely dropped inside longer ones (strict-area
    form; the order-dependent equal-rect case is pinned by the kernel
    golden in tests/test_api_compat.py)."""
    _evict_stale_parses(spark)
    key = (spark.sparkContext.applicationId, sf_dir, _CONTAIN_LPP)
    parsed = _PARSED_CACHE.get(key)
    if parsed is None:
        w = synthesize_pdf_variant(spark, sf_dir, lines_per_page=_CONTAIN_LPP)
        # parse once; the anti-join branches twice
        parsed = parse_webdocs(
            w, salt_map=webdocs_salt_map(spark, sf_dir), emit_spans=True
        ).localCheckpoint(eager=True)
        _PARSED_CACHE[key] = parsed
    rects = spans_view(parsed).select(
        "url",
        "page_no",
        "seq",
        "text",
        F.col("x").alias("x0"),
        F.col("y").alias("y0"),
        (F.col("x") + F.col("width")).alias("x1"),
        (F.col("y") + F.col("size")).alias("y1"),
        (F.col("width") * F.col("size")).alias("area"),
    )
    a, b = rects.alias("a"), rects.alias("b")
    cond = (
        (F.col("b.url") == F.col("a.url"))
        & (F.col("b.x0") <= F.col("a.x0"))
        & (F.col("b.y0") <= F.col("a.y0"))
        & (F.col("b.x1") >= F.col("a.x1"))
        & (F.col("b.y1") >= F.col("a.y1"))
        & (F.col("b.area") > F.col("a.area"))
    )
    return a.join(b, cond, "left_anti").select(
        "url",
        F.col("page_no").cast("int").alias("page_no"),
        F.col("seq").cast("int").alias("seq"),
        "text",
    )


_BLOCK_LINES = 4  # spans per text block (the get_text("blocks") analog)


@q(
    "spatial_block_join",
    f"{_span_lines_cte()} "
    "SELECT url, page_no::INT AS page_no, seq::INT AS seq, "
    f"(page_no * {48 // _BLOCK_LINES} + seq // {_BLOCK_LINES})::INT "
    "AS block_order FROM lines WHERE text LIKE '%table%'",
)
def spatial_block_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 over real spans (api.py:446-473): search hits assigned to
    text blocks by geometric containment. Blocks are aggregates of
    consecutive span runs (the page.get_text("blocks") analog:
    min/max bbox over each 4-line run); each hit's midpoint probes
    blocks of its own (url, page) via an equi-prefixed theta join;
    first block by order wins, unmatched → -1. The oracle computes the
    expected assignment arithmetically — two independent routes to the
    same answer."""
    parsed = _parsed_pdf_docs(spark, sf_dir)
    spans = spans_view(parsed)
    blocks = (
        spans.groupBy(
            F.col("url").alias("b_url"),
            F.col("page_no").alias("b_page"),
            F.floor(F.col("seq") / _BLOCK_LINES).alias("blk"),
        )
        .agg(
            F.min("x").alias("bx0"),
            F.min("y").alias("by0"),
            F.max(F.col("x") + F.col("width")).alias("bx1"),
            F.max(F.col("y") + F.col("size")).alias("by1"),
        )
        .withColumn(
            "b_order",
            (F.col("b_page") * (48 // _BLOCK_LINES) + F.col("blk")).cast("int"),
        )
    )
    hits = spans.where(F.col("text").contains("table")).select(
        "url",
        "page_no",
        "seq",
        (F.col("x") + F.col("width") / 2).alias("hx"),
        (F.col("y") + F.col("size") / 2).alias("hy"),
    )
    cond = (
        (F.col("b_url") == F.col("url"))
        & (F.col("b_page") == F.col("page_no"))
        & (F.col("bx0") <= F.col("hx"))
        & (F.col("hx") <= F.col("bx1"))
        & (F.col("by0") <= F.col("hy"))
        & (F.col("hy") <= F.col("by1"))
    )
    return (
        hits.join(blocks, cond, "left")
        .groupBy("url", "page_no", "seq")
        .agg(F.coalesce(F.min("b_order"), F.lit(-1)).alias("block_order"))
        .select(
            "url",
            F.col("page_no").cast("int").alias("page_no"),
            F.col("seq").cast("int").alias("seq"),
            "block_order",
        )
    )


@q(
    "vocab_census",
    f"WITH toks AS (SELECT lang, unnest({duck_toks('text')}) AS tok "
    "FROM documents) SELECT lang, count(DISTINCT tok)::BIGINT AS vocab_n, "
    "count(*)::BIGINT AS token_n FROM toks GROUP BY lang",
)
def vocab_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2-A4: charset/vocab census per group — explode + two-level agg."""
    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(textstats.tokens("text")).alias("tok")
    )
    return toks.groupBy("lang").agg(
        F.countDistinct("tok").cast("bigint").alias("vocab_n"),
        F.count("*").cast("bigint").alias("token_n"),
    )


@q(
    "oov_count",
    f"WITH toks AS (SELECT doc_id, unnest({duck_toks('text')}) AS tok "
    "FROM documents), vocab AS (SELECT tok FROM toks GROUP BY tok "
    "ORDER BY count(*) DESC, tok LIMIT 100) "
    "SELECT doc_id, sum(CASE WHEN tok NOT IN (SELECT tok FROM vocab) "
    "THEN 1 ELSE 0 END)::BIGINT AS oov_n FROM toks GROUP BY doc_id",
)
def oov_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2: out-of-vocabulary detection — per-doc tokens minus a top-100
    vocabulary (broadcast), the engine form of array_except validation."""
    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(textstats.tokens("text")).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .count()
        .orderBy(F.desc("count"), "tok")
        .limit(100)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("oov_n")
        )
    )


@q(
    "scalar_chain",
    "SELECT doc_id, upper(to_hex(doc_id)) AS hex_id, "
    "trim(substr(text, 1, 50)) AS head FROM documents "
    "WHERE length(trim(substr(text, 1, 50))) > 0",
)
def scalar_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T11/T12: hex projection + trim + empty filter scalar chain."""
    docs = _read(spark, sf_dir, "documents")
    head = F.trim(F.substring("text", 1, 50))
    return docs.select(
        "doc_id", F.hex("doc_id").alias("hex_id"), head.alias("head")
    ).where(F.length("head") > 0)


@q(
    "search_context",
    "SELECT doc_id, strpos(text, 'spark')::INT AS pos, "
    "substr(text, greatest(strpos(text, 'spark') - 20, 1), 60) AS context "
    "FROM documents WHERE strpos(text, 'spark') > 0",
)
def search_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2/O4 search surface: substring hit position + truncated context
    (example.py:249-252)."""
    docs = _read(spark, sf_dir, "documents")
    pos = F.instr("text", "spark")
    return docs.select(
        "doc_id",
        pos.cast("int").alias("pos"),
        F.expr(
            "substring(text, greatest(instr(text, 'spark') - 20, 1), 60)"
        ).alias("context"),
    ).where(pos > 0)


@q("distinct_sources", "SELECT DISTINCT lang, source FROM documents")
def distinct_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: distinct listing."""
    return _read(spark, sf_dir, "documents").select("lang", "source").distinct()


# ---------------------------------------------------------------------------
# deduplication family


_CLONES_SQL = (
    f"SELECT doc_id + {CLONE_OFFSET} AS doc_id, text FROM documents"
)
_TRUNC_CLONES_SQL = (
    f"SELECT doc_id + {CLONE_OFFSET} AS doc_id, "
    "substr(text, 1, (length(text) * 4) // 5) AS text FROM documents"
)


def _with_clones(docs: DataFrame, truncate: bool) -> DataFrame:
    base = docs.select("doc_id", "text")
    if truncate:
        clone_text = F.expr(
            "substring(text, 1, cast(floor(length(text) * 4 / 5) as int))"
        )
    else:
        clone_text = F.col("text")
    clones = docs.select(
        (F.col("doc_id") + CLONE_OFFSET).alias("doc_id"),
        clone_text.alias("text"),
    )
    return base.unionAll(clones)


@q(
    "dedup_exact",
    f"WITH docs2 AS (SELECT doc_id, text FROM documents UNION ALL {_CLONES_SQL}) "
    "SELECT md5(text) AS text_md5, count(*)::BIGINT AS n_copies, "
    "min(doc_id) AS keeper_id FROM docs2 GROUP BY md5(text)",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one hash-shuffle groupBy on md5(text). Clones are
    injected (doc_id + 1e6) so every group provably collapses to 2."""
    docs = _with_clones(_read(spark, sf_dir, "documents"), truncate=False)
    return dedup.exact_dedup_stats(docs)


@q(
    "dedup_ngram_jaccard",
    f"WITH clones AS ({_TRUNC_CLONES_SQL}), "
    f"a AS (SELECT doc_id AS a_id, list_distinct({duck_shingles(duck_toks('text'))}) "
    "AS sh_a FROM documents), "
    f"b AS (SELECT doc_id AS b_id, list_distinct({duck_shingles(duck_toks('text'))}) "
    "AS sh_b FROM clones) "
    "SELECT a_id, b_id, len(list_intersect(sh_a, sh_b))::INT AS inter_n, "
    "len(list_distinct(list_concat(sh_a, sh_b)))::INT AS union_n, "
    "CASE WHEN len(list_distinct(list_concat(sh_a, sh_b))) > 0 AND "
    "len(list_intersect(sh_a, sh_b)) * 5 >= "
    "len(list_distinct(list_concat(sh_a, sh_b))) * 4 THEN 1 ELSE 0 END AS is_dup "
    f"FROM a JOIN b ON a.a_id + {CLONE_OFFSET} = b.b_id",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram Jaccard between each doc and its 80%-truncated clone:
    integer |∩|/|∪| + threshold J≥0.8 via cross-multiplication, on the
    relational (exploded-shingle) path."""
    docs = _read(spark, sf_dir, "documents")
    clones = _with_clones(docs, truncate=True).where(
        F.col("doc_id") >= CLONE_OFFSET
    )
    pairs = dedup.jaccard_pair_counts(
        docs, clones, F.col("doc_id") - CLONE_OFFSET
    )
    return pairs.withColumn(
        "is_dup",
        F.when(
            (F.col("union_n") > 0)
            & (F.col("inter_n") * 5 >= F.col("union_n") * 4),
            1,
        ).otherwise(0),
    )


def _duck_sig_ctes() -> str:
    """CTE chain ``docs2 → tok → shin → sig`` — one-permutation
    hashing, mirroring dedup._oph_bucket: one md5 per shingle, slot =
    leading byte (2 hex digits) mod 8, min per slot, '~empty' sentinel
    for unfilled slots."""
    sh = f"list_distinct({duck_shingles('toks')})"
    slot = (
        "(((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 + "
        "(strpos('0123456789abcdef', substr(h, 2, 1)) - 1)) % 8)"
    )
    sigs = ", ".join(
        "coalesce(list_min(list_filter(list_transform(sh, x -> md5(x)), "
        f"h -> {slot} = {s})), '~empty') AS s{s}"
        for s in range(8)
    )
    return (
        f"docs2 AS (SELECT doc_id, text FROM documents UNION ALL "
        f"{_TRUNC_CLONES_SQL}), "
        f"tok AS (SELECT doc_id, {duck_toks('text')} AS toks FROM docs2), "
        f"shin AS (SELECT doc_id, {sh} AS sh FROM tok WHERE len(toks) >= 3), "
        f"sig AS (SELECT doc_id, {sigs} FROM shin)"
    )


def _duck_dsig_cte() -> str:
    """``dsig``: rotation-densified signature (dedup.rotation_densify
    twin) — an empty slot i borrows the nearest filled slot to its
    circular right as ``h || '@t'``; filled slots pass through."""
    cols = []
    for i in range(8):
        borrows = ", ".join(
            f"CASE WHEN s{(i + t) % 8} <> '~empty' "
            f"THEN s{(i + t) % 8} || '@{t}' END"
            for t in range(1, 8)
        )
        cols.append(
            f"CASE WHEN s{i} <> '~empty' THEN s{i} "
            f"ELSE coalesce({borrows}, '~empty') END AS s{i}"
        )
    return f"dsig AS (SELECT doc_id, {', '.join(cols)} FROM sig)"


def _duck_band_pair_ctes(src: str, bands_name: str, pairs_name: str) -> str:
    """``bands → pairs`` from a signature CTE: 4 bands × 2 rows,
    distinct self-equi-join candidate pairs with a_id < b_id."""
    bands = " UNION ALL ".join(
        f"SELECT doc_id, 'b{b}|' || s{2*b} || '|' || s{2*b+1} AS band_key "
        f"FROM {src}"
        for b in range(4)
    )
    return (
        f"{bands_name} AS ({bands}), "
        f"{pairs_name} AS (SELECT DISTINCT a.doc_id AS a_id, "
        f"b.doc_id AS b_id FROM {bands_name} a JOIN {bands_name} b "
        "ON a.band_key = b.band_key AND a.doc_id < b.doc_id)"
    )


def _duck_lsh_ctes() -> str:
    """CTE chain ending in ``lsh_pairs`` (naive-densified OPH MinHash
    LSH). Shared by the pair oracle and the pipeline oracle."""
    return (
        f"{_duck_sig_ctes()}, "
        f"{_duck_band_pair_ctes('sig', 'bands', 'lsh_pairs')}"
    )


def _duck_minhash_sql() -> str:
    return f"WITH {_duck_lsh_ctes()} SELECT a_id, b_id FROM lsh_pairs"


@q("dedup_minhash_lsh", _duck_minhash_sql())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8)+LSH(4 bands × 2 rows) candidate pairs over docs +
    truncated clones — shingle→signature→band→equi-self-join."""
    docs2 = _with_clones(_read(spark, sf_dir, "documents"), truncate=True)
    return dedup.lsh_candidate_pairs(docs2, num_hashes=8, bands=4)


@q(
    "dedup_pipeline",
    f"WITH RECURSIVE {_duck_lsh_ctes()}, "
    "ue AS (SELECT a_id AS src, b_id AS dst FROM lsh_pairs "
    "UNION SELECT b_id, a_id FROM lsh_pairs), "
    "reach(id, comp) AS (SELECT src, src FROM ue "
    "UNION SELECT ue.dst, r.comp FROM reach r JOIN ue ON ue.src = r.id), "
    "labels AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id) "
    "SELECT d.doc_id, coalesce(l.comp, d.doc_id)::BIGINT AS comp, "
    "(CASE WHEN coalesce(l.comp, d.doc_id) = d.doc_id THEN 1 ELSE 0 END)::INT "
    "AS keep FROM docs2 d LEFT JOIN labels l ON l.id = d.doc_id",
)
def dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup dedup decision table: MinHash+LSH candidate
    pairs → connected components (so CLUSTERS collapse, not just
    pairs) → keeper election (min doc_id per component; docs outside
    the pair graph are their own keeper). This is the full shape a
    training-data pipeline runs at crawl scale — the oracle recomputes
    the identical pair set and components with a recursive CTE."""
    docs2 = _with_clones(_read(spark, sf_dir, "documents"), truncate=True)
    pairs = dedup.lsh_candidate_pairs(docs2, num_hashes=8, bands=4)
    labels = dedup.connected_components(pairs)
    decided = docs2.select("doc_id").join(
        labels, docs2["doc_id"] == labels["id"], "left"
    )
    comp = F.coalesce(F.col("comp"), F.col("doc_id"))
    return decided.select(
        "doc_id",
        comp.alias("comp"),
        (comp == F.col("doc_id")).cast("int").alias("keep"),
    )


def _duck_simhash_sql() -> str:
    bit_terms = []
    for j in range(16):
        dp, bp = j // 4, j % 4
        digit = f"(strpos('0123456789abcdef', substr(md5(t), {dp + 1}, 1)) - 1)"
        bit = f"(({digit} >> {bp}) & 1)"
        vote = (
            f"coalesce(list_sum(list_transform(dt, t -> 2 * {bit} - 1)), 0)"
        )
        bit_terms.append(f"(CASE WHEN {vote} > 0 THEN {1 << j} ELSE 0 END)")
    total = " + ".join(bit_terms)
    return (
        f"WITH tok AS (SELECT doc_id, list_distinct({duck_toks('text')}) AS dt "
        "FROM documents) "
        f"SELECT doc_id, ({total})::INT AS simhash FROM tok"
    )


@q("dedup_simhash", _duck_simhash_sql())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (relational bit-vote path)."""
    docs = _read(spark, sf_dir, "documents")
    return dedup.simhash16_table(docs)


# ---------------------------------------------------------------------------
# text analysis


@q(
    "lang_id",
    f"SELECT doc_id, ({duck_occ('the')} + {duck_occ('a')} + {duck_occ('and')})::INT "
    "AS en_score, "
    f"({duck_occ('der')} + {duck_occ('und')} + {duck_occ('die')})::INT AS de_score, "
    f"({duck_occ('le')} + {duck_occ('et')} + {duck_occ('la')})::INT AS fr_score, "
    "CASE WHEN "
    f"({duck_occ('the')} + {duck_occ('a')} + {duck_occ('and')}) >= "
    f"({duck_occ('der')} + {duck_occ('und')} + {duck_occ('die')}) AND "
    f"({duck_occ('the')} + {duck_occ('a')} + {duck_occ('and')}) >= "
    f"({duck_occ('le')} + {duck_occ('et')} + {duck_occ('la')}) THEN 'en' "
    f"WHEN ({duck_occ('der')} + {duck_occ('und')} + {duck_occ('die')}) >= "
    f"({duck_occ('le')} + {duck_occ('et')} + {duck_occ('la')}) THEN 'de' "
    "ELSE 'fr' END AS pred_lang FROM documents",
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID (deterministic argmax, en>de>fr ties)."""
    docs = _read(spark, sf_dir, "documents")
    return textstats.with_lang_id(docs).select(
        "doc_id", "en_score", "de_score", "fr_score", "pred_lang"
    )


@q(
    "quality_score",
    "SELECT doc_id, length(text)::INT AS n_chars, "
    f"len({duck_toks('text')})::INT AS n_tokens, "
    "len(regexp_extract_all(text, '[.,;:!?]'))::INT AS n_punct, "
    f"({' + '.join(duck_occ(w) for w in textstats.STOPWORDS_EN)})::INT AS n_stop, "
    "CASE WHEN "
    f"len({duck_toks('text')}) >= 10 AND len({duck_toks('text')}) <= 100000 AND "
    f"({' + '.join(duck_occ(w) for w in textstats.STOPWORDS_EN)}) * 100 >= "
    f"len({duck_toks('text')}) * 2 AND "
    "len(regexp_extract_all(text, '[.,;:!?]')) * 100 <= length(text) * 10 "
    "THEN 'good' ELSE 'low' END AS quality FROM documents",
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact quality features + bucket (length/stopword/punct)."""
    docs = _read(spark, sf_dir, "documents")
    return textstats.with_quality(docs).select(
        "doc_id", "n_chars", "n_tokens", "n_punct", "n_stop", "quality"
    )


@q(
    "token_count",
    f"SELECT doc_id, len({duck_toks('text')})::INT AS ws_tokens, "
    f"len(regexp_extract_all(text, '{textstats.BPE_REGEX}'))::INT AS bpe_tokens "
    "FROM documents",
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish-regex token counts per document."""
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        textstats.ws_token_count("text").alias("ws_tokens"),
        textstats.bpe_token_count("text").alias("bpe_tokens"),
    )


@q(
    "doc_fingerprint",
    f"WITH tok AS (SELECT doc_id, text, {duck_toks('text')} AS toks FROM documents), "
    f"sh AS (SELECT doc_id, text, {duck_shingles('toks', 5)} AS s5 FROM tok) "
    "SELECT doc_id, CASE WHEN len(s5) > 0 THEN "
    "list_min(list_transform(s5, x -> md5(x))) ELSE md5(text) END AS fingerprint "
    "FROM sh",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-gram min-hash document fingerprint (stable under local edits),
    via the relational exploded-shingle path."""
    docs = _read(spark, sf_dir, "documents")
    return dedup.fingerprint_table(docs, k=5)


@q(
    "repetition_score",
    f"WITH tok AS (SELECT doc_id, {duck_toks('text')} AS toks FROM documents), "
    f"sh AS (SELECT doc_id, {duck_shingles('toks', 3)} AS s3 FROM tok) "
    "SELECT doc_id, len(s3)::INT AS n_shingles, "
    "len(list_distinct(s3))::INT AS n_distinct, "
    "CASE WHEN len(s3) = 0 THEN 0.0 ELSE "
    "round((len(s3) - len(list_distinct(s3))) / len(s3), 4) END AS rep_ratio "
    "FROM sh",
)
def repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition (duplicate 3-gram fraction) — the
    boilerplate/template-spam quality signal (cf. the Gopher repetition
    filters): a per-row size / size-of-distinct over each document's
    shingle array, no shuffle."""
    docs = _read(spark, sf_dir, "documents")
    return dedup.repetition_stats(docs, k=3)


_CC_M = 1_000_000


@q(
    "dedup_components",
    "WITH RECURSIVE "
    f"e AS (SELECT doc_id AS src, doc_id + {_CC_M} AS dst FROM documents "
    f"UNION ALL SELECT doc_id + {_CC_M}, doc_id + {2 * _CC_M} FROM documents "
    f"UNION ALL SELECT doc_id + {3 * _CC_M}, doc_id FROM documents "
    "WHERE doc_id % 7 = 0), "
    "ue AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e), "
    "reach(id, comp) AS (SELECT src, src FROM ue "
    "UNION SELECT ue.dst, r.comp FROM reach r JOIN ue ON ue.src = r.id) "
    "SELECT id, min(comp)::BIGINT AS comp FROM reach GROUP BY id",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over a deterministic candidate-pair graph
    (chained clone generations: x—x+1M—x+2M paths, plus x+3M spokes on
    every 7th doc — multi-hop paths force real label propagation, not
    just a one-round min). The oracle recomputes components from the
    SAME edge list with a recursive CTE, so the iterative Spark
    propagation is verified against an independent algorithm."""
    docs = _read(spark, sf_dir, "documents").select("doc_id")
    p1 = docs.select(
        F.col("doc_id").alias("a_id"),
        (F.col("doc_id") + _CC_M).alias("b_id"),
    )
    p2 = docs.select(
        (F.col("doc_id") + _CC_M).alias("a_id"),
        (F.col("doc_id") + 2 * _CC_M).alias("b_id"),
    )
    p3 = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 3 * _CC_M).alias("a_id"),
        F.col("doc_id").alias("b_id"),
    )
    pairs = p1.unionAll(p2).unionAll(p3)
    return dedup.connected_components(pairs)


# ---------------------------------------------------------------------------
# deterministic sampling / splitting (functions/sampling.py)

_SPLIT_SALT = "v1"
_SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}
_STRATA = {"en": 0.5, "zh": 0.25}
_STRATA_DEFAULT = 0.1


def _split_case_sql() -> str:
    from .functions import sampling

    names = sorted(_SPLIT_WEIGHTS)
    coord = f"substr(md5(doc_id::VARCHAR || '{_SPLIT_SALT}'), 1, 4)"
    cum, arms = 0.0, []
    for name in names[:-1]:
        cum += _SPLIT_WEIGHTS[name]
        arms.append(f"WHEN {coord} < '{sampling._threshold_hex(cum)}' THEN '{name}'")
    return f"CASE {' '.join(arms)} ELSE '{names[-1]}' END"


@q(
    "sample_split",
    f"SELECT doc_id, {_split_case_sql()} AS split FROM documents",
)
def sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by md5-hash ranges —
    membership is a property of the row (key + salt), not of the run,
    so resumes/backfills and a DuckDB oracle agree exactly; a pure
    expression, no shuffle, no RNG."""
    from .functions import sampling

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    return sampling.hash_split(docs, _SPLIT_WEIGHTS, salt=_SPLIT_SALT)


def _strata_thr_sql() -> str:
    from .functions import sampling

    arms = "".join(
        f"WHEN lang = '{v}' THEN '{sampling._threshold_hex(f)}' "
        for v, f in sorted(_STRATA.items())
    )
    return f"CASE {arms}ELSE '{sampling._threshold_hex(_STRATA_DEFAULT)}' END"


@q(
    "stratified_sample",
    f"SELECT doc_id, lang FROM documents WHERE "
    f"substr(md5(doc_id::VARCHAR || '{_SPLIT_SALT}'), 1, 4) < {_strata_thr_sql()}",
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic sampling (the reproducible `sampleBy`
    twin): rebalance the corpus language mix with per-stratum hash
    thresholds — one CASE expression, still a pure filter."""
    from .functions import sampling

    docs = _read(spark, sf_dir, "documents").select("doc_id", "lang")
    return sampling.stratified_sample(
        docs, _STRATA, default_fraction=_STRATA_DEFAULT, salt=_SPLIT_SALT
    )


# ---------------------------------------------------------------------------
# corpus filtering (functions/filtering.py)

_CAP_K = 10


@q(
    "host_cap",
    "SELECT doc_id, source, rk FROM (SELECT doc_id, source, "
    "row_number() OVER (PARTITION BY source "
    "ORDER BY md5(doc_id::VARCHAR), doc_id)::INT AS rk FROM documents) "
    f"WHERE rk <= {_CAP_K}",
)
def host_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host frequency cap: at most k docs per source, picked by
    deterministic md5 order (a uniform per-host sample, not a crawl
    prefix). The engine runs the two-phase salted form — rank within
    (host, salt) first, then rank the bounded survivors — which is
    provably identical to the oracle's single global window but never
    funnels a hot host through one reducer."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "source")
    return filtering.host_cap(docs, host_col="source", k=_CAP_K)


def _duck_pred_lang() -> str:
    score = {
        lang: " + ".join(duck_occ(w) for w in words)
        for lang, words in textstats.LANG_MARKERS.items()
    }
    return (
        f"CASE WHEN ({score['en']}) >= ({score['de']}) AND "
        f"({score['en']}) >= ({score['fr']}) THEN 'en' "
        f"WHEN ({score['de']}) >= ({score['fr']}) THEN 'de' "
        "ELSE 'fr' END"
    )


def _duck_quality_gate_sql() -> str:
    stops = " + ".join(duck_occ(w) for w in textstats.STOPWORDS_EN)
    s3 = duck_shingles("toks", 3)
    return (
        f"WITH tok AS (SELECT doc_id, lang, text, {duck_toks('text')} AS toks "
        "FROM documents), "
        "base AS (SELECT doc_id, lang, len(toks)::INT AS n_tokens, "
        "length(text)::INT AS n_chars, "
        f"len(regexp_extract_all(text, '{textstats.PUNCT_REGEX}'))::INT AS n_punct, "
        f"({stops})::INT AS n_stop, {_duck_pred_lang()} AS pred_lang, "
        f"len({s3})::INT AS ns, len(list_distinct({s3}))::INT AS nd FROM tok) "
        "SELECT doc_id, reason, (reason = 'kept')::INT AS keep FROM ("
        "SELECT doc_id, CASE WHEN n_tokens < 10 THEN 'too_short' "
        "WHEN (ns - nd) * 5 > ns * 1 THEN 'repetitive' "
        "WHEN NOT (n_tokens >= 10 AND n_tokens <= 100000 AND "
        "n_stop * 100 >= n_tokens * 2 AND n_punct * 100 <= n_chars * 10) "
        "THEN 'low_quality' WHEN pred_lang <> lang THEN 'lang_mismatch' "
        "ELSE 'kept' END AS reason FROM base)"
    )


@q("corpus_filter", _duck_quality_gate_sql())
def corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite C4/Gopher-style quality gate: first-failing-rule
    reason per document (too_short → repetitive → low_quality →
    lang_mismatch → kept) plus a keep flag — the decision table a
    training-data mix is built from. Map-only: every signal, the
    repetition counts included, is a per-row expression."""
    docs = _read(spark, sf_dir, "documents")
    return filtering.quality_gate(docs)


_TT_K = 5


@q(
    "top_terms",
    f"WITH tok AS (SELECT doc_id, lang, unnest({duck_toks('text')}) AS term "
    "FROM documents), "
    "tf AS (SELECT lang, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2), "
    "dfreq AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS doc_freq "
    "FROM tok GROUP BY 1), "
    "n AS (SELECT count(*) AS n_docs FROM documents), "
    "scored AS (SELECT lang, term, tf, doc_freq, "
    "tf * round(ln(1 + n_docs / doc_freq) * 1000000)::BIGINT AS score "
    "FROM tf JOIN dfreq USING (term) CROSS JOIN n), "
    "ranked AS (SELECT lang, term, tf, doc_freq, score, "
    "row_number() OVER (PARTITION BY lang ORDER BY score DESC, term)::INT "
    f"AS rk FROM scored) SELECT * FROM ranked WHERE rk <= {_TT_K}",
)
def top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-5 terms by tf-idf (integer-exact ranking key:
    tf × round(ln(1 + N/df)·1e6)) — explode feeds two partial-agg
    rollups; only the vocabulary reaches the per-lang window."""
    docs = _read(spark, sf_dir, "documents")
    return textstats.top_terms_by_lang(docs, k=_TT_K)


def _duck_fp(src: str) -> str:
    s5 = duck_shingles("toks", 5)
    return (
        f"SELECT doc_id, CASE WHEN len({s5}) > 0 THEN "
        f"list_min(list_transform({s5}, x -> md5(x))) ELSE md5(text) END AS fp "
        f"FROM (SELECT doc_id, text, {duck_toks('text')} AS toks FROM {src})"
    )


@q(
    "incremental_dedup",
    f"WITH inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1 "
    f"UNION ALL SELECT doc_id + {CLONE_OFFSET}, text FROM documents "
    "WHERE doc_id % 2 = 0), "
    "seen AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0), "
    f"fp_inc AS ({_duck_fp('inc')}), fp_seen AS ({_duck_fp('seen')}) "
    "SELECT i.doc_id, (CASE WHEN i.fp IN (SELECT fp FROM fp_seen) "
    "THEN 1 ELSE 0 END)::INT AS is_dup FROM fp_inc i",
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-incremental dedup: a new batch (odd docs + exact
    clones of the committed evens) is flagged against the committed
    snapshot by fingerprint equi-join — at crawl scale the seen side
    is the previous snapshot's fingerprint column, so only the new
    batch touches raw text."""
    docs = _read(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 2 == 0)
    incoming = docs.where(F.col("doc_id") % 2 == 1).select(
        "doc_id", "text"
    ).unionAll(
        old.select(
            (F.col("doc_id") + CLONE_OFFSET).alias("doc_id"), "text"
        )
    )
    return dedup.incremental_dedup(incoming, old)


_CHUNK_SIZE, _CHUNK_OVERLAP = 40, 8
_CHUNK_STRIDE = _CHUNK_SIZE - _CHUNK_OVERLAP


def _duck_chunk_sql() -> str:
    sl = f"toks[1 + i * {_CHUNK_STRIDE} : i * {_CHUNK_STRIDE} + {_CHUNK_SIZE}]"
    return (
        f"WITH tok AS (SELECT doc_id, {duck_toks('text')} AS toks FROM documents), "
        "nc AS (SELECT doc_id, toks, CASE WHEN len(toks) = 0 THEN 0 ELSE "
        f"(greatest(len(toks) - {_CHUNK_SIZE}, 0) + {_CHUNK_STRIDE} - 1) "
        f"// {_CHUNK_STRIDE} + 1 END AS n_chunks FROM tok), "
        "ex AS (SELECT doc_id, toks, "
        "unnest(generate_series(0, n_chunks - 1)) AS i FROM nc "
        "WHERE n_chunks > 0) "
        f"SELECT doc_id, i::INT AS chunk_id, len({sl})::INT AS n_chunk_tokens, "
        f"array_to_string({sl}, ' ') AS chunk_text FROM ex"
    )


@q("chunk_docs", _duck_chunk_sql())
def chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping token windows (size 40, overlap 8) — the
    pretraining-loader unit. Tokenize once, slice per window; integer
    ceil math keeps chunk counts engine-exact."""
    from .functions import chunking

    docs = _read(spark, sf_dir, "documents")
    return chunking.chunk_tokens(
        docs, size=_CHUNK_SIZE, overlap=_CHUNK_OVERLAP
    )


def _pii_query_pair():
    """(spark_fn, oracle_sql) for the PII scrub over deterministically
    augmented text (the corpus itself is synthetic and PII-free, so a
    per-doc email/phone/ip suffix makes the scrub non-vacuous)."""
    from .functions import pii as piimod

    aug_sql = (
        "text || ' contact user' || doc_id::VARCHAR || "
        "'@example.com or +1-555-' || "
        "lpad((doc_id % 10000)::VARCHAR, 4, '0') || "
        "' ip 10.0.' || (doc_id % 256)::VARCHAR || '.7'"
    )
    counts, scrub = [], "text"
    for name, pat, repl in piimod.PII_PATTERNS:
        counts.append(
            "len(regexp_extract_all(text, '" + pat + "'))::INT AS n_" + name
        )
        scrub = "regexp_replace(" + scrub + ", '" + pat + "', '" + repl + "', 'g')"
    sql = (
        "WITH aug AS (SELECT doc_id, " + aug_sql + " AS text FROM documents) "
        "SELECT doc_id, " + ", ".join(counts) + ", " + scrub
        + " AS scrubbed FROM aug"
    )

    def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Regex PII scrub (emails, phones, IPv4) over augmented text:
        JVM-side regexp_count + chained regexp_replace, patterns
        restricted to the Java∩RE2 regex subset."""
        docs = _read(spark, sf_dir, "documents")
        aug = docs.select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or +1-555-"),
                F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
                F.lit(" ip 10.0."),
                F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
                F.lit(".7"),
            ).alias("text"),
        )
        out = piimod.with_pii_scrub(aug)
        return out.select(
            "doc_id",
            *[f"n_{name}" for name, _, _ in piimod.PII_PATTERNS],
            "scrubbed",
        )

    return pii_scrub, sql


_pii_fn, _pii_sql = _pii_query_pair()
q("pii_scrub", _pii_sql)(_pii_fn)


@q(
    "neardup_verified",
    f"WITH {_duck_lsh_ctes()}, "
    f"sh2 AS (SELECT doc_id, list_distinct({duck_shingles(duck_toks('text'))}) "
    "AS s FROM docs2) "
    "SELECT p.a_id, p.b_id, len(list_intersect(a.s, b.s))::INT AS inter_n, "
    "(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::INT AS union_n, "
    "(CASE WHEN len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) > 0 AND "
    "len(list_intersect(a.s, b.s)) * 5 >= "
    "(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) * 4 "
    "THEN 1 ELSE 0 END)::INT AS confirmed "
    "FROM lsh_pairs p JOIN sh2 a ON a.doc_id = p.a_id "
    "JOIN sh2 b ON b.doc_id = p.b_id",
)
def neardup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage near-dup: LSH candidates verified by exact n-gram
    Jaccard (J ≥ 0.8 cross-multiplied) — buckets propose, exact
    similarity disposes; only the sparse candidate set ever pays the
    exact computation."""
    docs2 = _with_clones(_read(spark, sf_dir, "documents"), truncate=True)
    pairs = dedup.lsh_candidate_pairs(docs2, num_hashes=8, bands=4)
    jac = dedup.jaccard_for_pairs(pairs, docs2)
    return jac.select(
        "a_id",
        "b_id",
        "inter_n",
        "union_n",
        F.when(
            (F.col("union_n") > 0)
            & (F.col("inter_n") * 5 >= F.col("union_n") * 4),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("confirmed"),
    )


@q(
    "corpus_report",
    "SELECT s.n_docs, s.n_langs, s.total_tokens, s.total_chars, g.n_kept "
    "FROM (SELECT count(*)::BIGINT AS n_docs, "
    "count(DISTINCT lang)::BIGINT AS n_langs, "
    f"sum(len({duck_toks('text')}))::BIGINT AS total_tokens, "
    "sum(length(text))::BIGINT AS total_chars FROM documents) s, "
    f"(SELECT sum(keep)::BIGINT AS n_kept FROM ({_duck_quality_gate_sql()})) g",
)
def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus dashboard: doc/lang/token/char totals plus the
    kept-count under the composite quality gate — two single-row
    aggregates cross-joined (both sides collapse before the join, so
    the 'cross' is 1×1)."""
    docs = _read(spark, sf_dir, "documents")
    stats = docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(textstats.ws_token_count("text")).alias("total_tokens"),
        F.sum(F.length("text")).alias("total_chars"),
    )
    kept = filtering.quality_gate(docs).agg(
        F.sum("keep").cast("bigint").alias("n_kept")
    )
    return stats.crossJoin(kept)


# ---------------------------------------------------------------------------
# link-graph queries (web-graph quality priors; functions/linkgraph.py)

# The generator's footer emits exactly three absolute partner links per
# HTML page (htmlcore/gen.py related_links): page doc_id → documents
# doc_id*31+k, k ∈ {1,2,3}, each on host_for(target). The oracle
# reconstructs the edge list arithmetically from doc_id; the Spark side
# recovers it from the raw payload bytes — two independent routes to
# the same graph.
_LINK_TARGETS_SQL = (
    "unnest([doc_id * 31 + 1, doc_id * 31 + 2, doc_id * 31 + 3])"
)


def _host_sql_for(col: str) -> str:
    return (
        f"CASE WHEN {col} % 10 < 4 THEN 'heavy.example.org' "
        f"ELSE 'site-' || ({col} % 97) || '.example.com' END"
    )


_EDGES_SQL = (
    f"SELECT {_host_sql_for('doc_id')} AS src_host, "
    f"{_host_sql_for('t')} AS dst_host, count(*)::BIGINT AS w "
    f"FROM (SELECT doc_id, {_LINK_TARGETS_SQL} AS t FROM documents "
    "WHERE doc_id % 2 = 1) GROUP BY src_host, dst_host"
)


@q("host_outlinks", _EDGES_SQL)
def host_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction from raw HTML payloads → weighted host→host
    edge list. Pure JVM path (regexp_extract_all + explode inside
    codegen next to the synthesis scan), one hash shuffle with map-side
    partial counts — the pages→host-pairs reducer that makes 10^12-page
    link graphs tractable (~10^8 host pairs)."""
    webdocs = synthesize_webdocs(spark, sf_dir)
    return linkgraph.host_edges(linkgraph.extract_outlinks(webdocs))


def _duck_pagerank_sql(
    iters: int = 4, total: int = linkgraph.PR_TOTAL, final: str | None = None
) -> str:
    """Unrolled-CTE integer PageRank — the DuckDB twin of
    linkgraph.pagerank. One (dangling, rank) CTE pair per iteration;
    all arithmetic int64 with ``//`` (truncating on positives, matching
    Spark ``div``), every sum cast back to BIGINT so DuckDB's HUGEINT
    sums never reach the output schema. ``final`` overrides the
    terminal SELECT (it may reference r{iters})."""
    parts = [
        f"WITH e AS ({_EDGES_SQL}), ",
        "outw AS (SELECT src_host AS src, sum(w)::BIGINT AS outw "
        "FROM e GROUP BY src_host), ",
        "nodes AS (SELECT DISTINCT src_host AS host FROM e "
        "UNION SELECT DISTINCT dst_host FROM e), ",
        f"p AS (SELECT count(*)::BIGINT AS n, "
        f"({total} // count(*))::BIGINT AS base FROM nodes), ",
        "r0 AS (SELECT host, p.base AS pr FROM nodes CROSS JOIN p)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f", d{i} AS (SELECT coalesce(sum(pr), 0)::BIGINT AS dang "
            f"FROM r{i - 1} WHERE host NOT IN (SELECT src FROM outw))"
            f", r{i} AS (SELECT n.host, "
            f"((15 * p.base + 85 * (coalesce(inf.inflow, 0::BIGINT) "
            f"+ d{i}.dang // p.n)) // 100)::BIGINT AS pr "
            f"FROM nodes n CROSS JOIN p CROSS JOIN d{i} "
            f"LEFT JOIN (SELECT e.dst_host AS host, "
            f"sum((r.pr * e.w) // o.outw)::BIGINT AS inflow "
            f"FROM e JOIN r{i - 1} r ON r.host = e.src_host "
            f"JOIN outw o ON o.src = e.src_host "
            f"GROUP BY e.dst_host) inf ON inf.host = n.host)"
        )
    parts.append(" " + (final or f"SELECT host, pr FROM r{iters}"))
    return "".join(parts)


@q("host_pagerank", _duck_pagerank_sql())
def host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level PageRank quality prior (CCNet/RefinedWeb style) over
    the payload-extracted link graph: 4 damped iterations in pure int64
    so the unrolled-CTE oracle matches bit-for-bit. Per iteration one
    equi-join shuffle + one map-side-combined sum over the *host* graph
    (already reduced ~10^4× from pages), ranks localCheckpointed to
    keep lineage flat."""
    return _host_ranks(spark, sf_dir)


# rank-table memo: pagerank's result is already localCheckpointed (the
# constant-plan contract pins Scan ExistingRDD), so consumers within a
# session (host_pagerank, host_quality_prior) share one computation —
# the in-session analog of writing the rank table once per crawl.
# Same keying/eviction discipline as _PARSED_CACHE.
_RANKS_CACHE: dict[tuple[str, str], DataFrame] = {}


def _host_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    app_id = spark.sparkContext.applicationId
    for key in [k for k in _RANKS_CACHE if k[0] != app_id]:
        del _RANKS_CACHE[key]
    key = (app_id, sf_dir)
    cached = _RANKS_CACHE.get(key)
    if cached is not None:
        return cached
    webdocs = synthesize_webdocs(spark, sf_dir)
    edges = linkgraph.host_edges(linkgraph.extract_outlinks(webdocs))
    ranks = linkgraph.pagerank(edges, iters=4)
    _RANKS_CACHE[key] = ranks
    return ranks


# ---------------------------------------------------------------------------
# URL canonicalization (functions/urlnorm.py)

# Messy-URL construction shared by both sides (same SQL text runs in
# Spark and DuckDB): scheme case + default/explicit ports + trailing
# slash + tracking params + duplicate-key params + fragment, all keyed
# off doc_id so every rule fires on a deterministic slice.
_MESSY_URL_SQL = (
    "concat("
    "CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://' "
    "WHEN doc_id % 3 = 1 THEN 'http://' ELSE 'https://' END, "
    "CASE WHEN doc_id % 2 = 0 THEN upper(h) ELSE h END, "
    "CASE WHEN doc_id % 5 = 0 THEN ':443' WHEN doc_id % 5 = 1 THEN ':8080' "
    "WHEN doc_id % 5 = 2 THEN ':80' ELSE '' END, "
    "'/doc/', cast(doc_id AS string), "
    "CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END, "
    "CASE WHEN doc_id % 6 = 0 THEN '?utm_source=feed&b=2&a=1' "
    "WHEN doc_id % 6 = 1 THEN '?z=9&fbclid=xyz' "
    "WHEN doc_id % 6 = 2 THEN '?b=1&a=2&a=10' ELSE '' END, "
    "CASE WHEN doc_id % 3 = 1 THEN '#frag' ELSE '' END)"
)
_HOST_ONLY_SQL = (
    "CASE WHEN doc_id % 10 < 4 THEN 'heavy.example.org' "
    "ELSE concat('site-', cast(doc_id % 97 AS string), '.example.com') END"
)

# Independent DuckDB formulation of the canonicalization rules
# (list_filter/list_sort vs Spark's filter/array_sort; substring
# arithmetic vs Column.substr) — two implementations, one contract.
_DUCK_CANON_SQL = f"""
WITH m AS (
  SELECT doc_id, {_MESSY_URL_SQL} AS messy
  FROM (SELECT doc_id, {_HOST_ONLY_SQL} AS h FROM documents)
), p1 AS (
  SELECT doc_id, messy,
    lower(regexp_extract(messy, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    regexp_replace(regexp_replace(messy, '#.*', ''),
                   '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
  FROM m
), p2 AS (
  SELECT *, regexp_extract(rest, '^([^/?]*)', 1) AS auth FROM p1
), p3 AS (
  SELECT *,
    lower(regexp_extract(auth, '^([^:]*)', 1)) AS hst,
    regexp_extract(auth, ':([0-9]+)$', 1) AS prt,
    substring(rest, length(auth) + 1) AS pathq
  FROM p2
), p4 AS (
  SELECT *,
    CASE WHEN prt = '' OR (scheme = 'http' AND prt = '80')
              OR (scheme = 'https' AND prt = '443')
         THEN '' ELSE ':' || prt END AS portpart,
    CASE WHEN regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$', '') = ''
         THEN '/' ELSE regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$', '')
    END AS path,
    list_sort(list_filter(string_split(regexp_extract(pathq, '\\?(.*)$', 1), '&'),
      p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid)(=|$)')))
      AS params
  FROM p3
)
SELECT messy AS url,
  scheme || '://' || hst || portpart || path ||
  CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&')
       ELSE '' END AS canonical
FROM p4
"""


@q("url_canonicalize", _DUCK_CANON_SQL)
def url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 3986-style URL canonicalization as one codegen'd expression
    chain (no UDF): fragment strip, scheme/host lowercase, default-port
    drop, trailing-slash collapse, tracking-param removal + param sort.
    The oracle is an independent DuckDB implementation of the same
    rules over the same deterministically-messied inputs."""
    from .functions.urlnorm import canonicalize_url

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_HOST_ONLY_SQL).alias("h")
    )
    return docs.select(F.expr(_MESSY_URL_SQL).alias("url")).select(
        "url", canonicalize_url("url").alias("canonical")
    )


@q(
    "anchor_text",
    f"SELECT {URL_SQL} AS url, "
    f"'https://' || {_host_sql_for('t')} || '/doc/' || t AS outlink, "
    "'Partner ' || t AS anchor "
    f"FROM (SELECT doc_id, {_LINK_TARGETS_SQL} AS t FROM documents "
    "WHERE doc_id % 2 = 1)",
)
def anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text extraction from raw HTML payloads: (source url,
    outlink, anchor) — the human-written target label used as a
    training signal. Positional zip of two regexp_extract_all passes,
    one explode, all inside codegen; the oracle reconstructs every
    triple arithmetically from doc_id."""
    webdocs = synthesize_webdocs(spark, sf_dir)
    return linkgraph.extract_anchors(webdocs)


@q(
    "host_quality_prior",
    _duck_pagerank_sql(
        final=(
            f"SELECT {URL_SQL} AS url, r4.pr AS host_pr FROM documents "
            f"JOIN r4 ON r4.host = {_host_sql_for('doc_id')}"
        )
    ),
)
def host_quality_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The link graph's end use: the host-level PageRank joined onto
    every document as a per-doc quality prior (the CCNet/RefinedWeb
    filtering feature). The rank table is tiny relative to the corpus
    (~10^8 hosts vs 10^12 docs → here 98 vs 500), so it broadcasts and
    the document side never shuffles — pinned by a plan contract."""
    ranks = _host_ranks(spark, sf_dir)
    docs = _read(spark, sf_dir, "documents").select(
        F.expr(URL_SQL).alias("url"),
        F.expr(_HOST_ONLY_SQL).alias("host"),
    )
    return docs.join(F.broadcast(ranks), "host").select(
        "url", F.col("pr").alias("host_pr")
    )


# ---------------------------------------------------------------------------
# corpus cleaning: cross-document line dedup (CCNet-style)

# Synthetic boilerplate: one line every document carries and one line
# shared by every document on the same host. At sf0.01 the global line
# (df=500) and the hot host's line (df≈200) cross the threshold and are
# struck; tail-host lines (df≈3) survive — exactly the behavior the
# operator exists for (template removal without harming rare text).
_LD_GLOBAL = "subscribe to our newsletter for daily updates"
_LD_MIN_DF = 5
_LD_LINES_SQL = (
    f"list_concat(['{_LD_GLOBAL}', 'contact us at ' || {_HOST_ONLY_SQL}], "
    f"{CHUNKS_SQL})"
)


@q(
    "line_dedup",
    f"WITH d AS (SELECT doc_id, {_LD_LINES_SQL} AS ls FROM documents), "
    "l AS (SELECT doc_id, unnest(list_transform(range(1, len(ls) + 1), "
    "i -> {'pos': i - 1, 'line': ls[i]}), recursive := true) FROM d), "
    "f AS (SELECT line FROM l GROUP BY line "
    f"HAVING count(DISTINCT doc_id) >= {_LD_MIN_DF}) "
    f"SELECT {URL_SQL} AS url, "
    "coalesce(string_agg(l.line, chr(10) ORDER BY l.pos) "
    "FILTER (WHERE f.line IS NULL), '') AS clean_text, "
    "(count(*) FILTER (WHERE f.line IS NULL))::INT AS n_kept, "
    "count(f.line)::INT AS n_dropped "
    "FROM l LEFT JOIN f ON f.line = l.line GROUP BY doc_id",
)
def line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style cross-document line dedup: lines whose corpus-wide
    document frequency reaches _LD_MIN_DF are boilerplate and removed
    from every document; survivors are reassembled in order. The
    frequent-line table is bounded by template vocabulary (not corpus
    size) and BROADCASTS — pinned by a plan contract; the corpus side
    pays one count shuffle + one reassembly shuffle and is never
    sort-merge joined."""
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.array(
                F.lit(_LD_GLOBAL),
                F.concat(F.lit("contact us at "), F.expr(_HOST_ONLY_SQL)),
            ),
            cleaning.wrap_chunks("text"),
        ).alias("lines"),
    )
    out = cleaning.line_dedup(docs, min_doc_freq=_LD_MIN_DF)
    return out.select(
        F.expr(URL_SQL).alias("url"), "clean_text", "n_kept", "n_dropped"
    )


# ---------------------------------------------------------------------------
# corpus cleaning: first-occurrence paragraph dedup (Falcon/RefinedWeb)

# Synthetic syndication: one paragraph every document carries and one
# shared by every document on the same host. First-occurrence keeper
# election means the global paragraph survives ONLY in doc 0 and each
# host paragraph only in its host's first document — df=2 duplicates
# are struck too (the exact case line_dedup's frequency rule spares).
_PD_GLOBAL = "this article was originally published elsewhere"
_PD_PARAS_SQL = (
    f"list_concat(['{_PD_GLOBAL}', 'syndicated from ' || {_HOST_ONLY_SQL}], "
    f"{CHUNKS_SQL})"
)


@q(
    "paragraph_dedup",
    f"WITH d AS (SELECT doc_id, {_PD_PARAS_SQL} AS ps FROM documents), "
    "p AS (SELECT doc_id, unnest(list_transform(range(1, len(ps) + 1), "
    "i -> {'pos': i - 1, 'para': ps[i]}), recursive := true) FROM d), "
    "k AS (SELECT *, row_number() OVER (PARTITION BY para "
    "ORDER BY doc_id, pos) = 1 AS keep FROM p) "
    f"SELECT {URL_SQL} AS url, "
    "coalesce(string_agg(para, chr(10) || chr(10) ORDER BY pos) "
    "FILTER (WHERE keep), '') AS clean_text, "
    "(count(*) FILTER (WHERE keep))::INT AS n_kept, "
    "(count(*) FILTER (WHERE NOT keep))::INT AS n_dropped "
    "FROM k GROUP BY doc_id",
)
def paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Falcon/RefinedWeb-style first-occurrence paragraph dedup: every
    exact paragraph occurrence except the globally first (min
    (doc_id, pos)) is struck. The keeper table is corpus-sized (one
    row per distinct paragraph) so it can never broadcast — the plan
    honestly pays two md5(paragraph) hash shuffles moving only
    (hash, doc, pos) triples, never paragraph bytes."""
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.array(
                F.lit(_PD_GLOBAL),
                F.concat(F.lit("syndicated from "), F.expr(_HOST_ONLY_SQL)),
            ),
            cleaning.wrap_chunks("text"),
        ).alias("paras"),
    )
    out = cleaning.paragraph_dedup(docs, paras_col="paras")
    return out.select(
        F.expr(URL_SQL).alias("url"), "clean_text", "n_kept", "n_dropped"
    )


# ---------------------------------------------------------------------------
# Gopher line-format quality rules

# Deterministic format injection so the rules are non-vacuous on the
# synthetic corpus: every 7th line (doc-offset) becomes a bullet, some
# others gain a trailing ellipsis, and a header line carries digits —
# so bullet/ellipsis/alpha fractions and the pass flag genuinely vary.
_GR_LINES_SQL = (
    "list_concat(['document ' || doc_id || ' rev 42'], "
    "list_transform(range(1, len(cs) + 1), i -> "
    "CASE WHEN (doc_id + i - 1) % 7 = 0 THEN '- ' || cs[i] "
    "WHEN (doc_id + i - 1) % 11 = 3 THEN cs[i] || ' ...' "
    "ELSE cs[i] END))"
)


@q(
    "gopher_rules",
    f"WITH d AS (SELECT doc_id, {CHUNKS_SQL} AS cs FROM documents), "
    f"l AS (SELECT doc_id, {_GR_LINES_SQL} AS ls FROM d), "
    "w AS (SELECT doc_id, ls, flatten(list_transform(ls, x -> "
    "list_filter(string_split(x, ' '), t -> t <> ''))) AS ws FROM l), "
    "m AS (SELECT doc_id, len(ws)::BIGINT AS n_words, "
    "len(ls)::BIGINT AS n_lines, "
    "((1000000 * list_sum(list_transform(ws, t -> length(t)))) "
    "// len(ws))::BIGINT AS mean_word_len_e6, "
    "((1000000 * len(list_filter(ws, t -> regexp_matches(t, '[a-z]')))) "
    "// len(ws))::BIGINT AS alpha_frac_e6, "
    "((1000000 * len(list_filter(ls, x -> x LIKE '- %'))) "
    "// len(ls))::BIGINT AS bullet_frac_e6, "
    "((1000000 * len(list_filter(ls, x -> x LIKE '%...'))) "
    "// len(ls))::BIGINT AS ellipsis_frac_e6 FROM w) "
    f"SELECT {URL_SQL} AS url, n_words, n_lines, mean_word_len_e6, "
    "alpha_frac_e6, bullet_frac_e6, ellipsis_frac_e6, "
    "(n_words BETWEEN 50 AND 100000 "
    "AND mean_word_len_e6 BETWEEN 3000000 AND 10000000 "
    "AND alpha_frac_e6 >= 800000 AND bullet_frac_e6 <= 150000 "
    "AND ellipsis_frac_e6 <= 95000) AS passes FROM m",
)
def gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style line-format quality signals (Rae et al. 2021
    §A1.1): word count, mean word length, alpha-word fraction, bullet
    and ellipsis line fractions, and the composite pass flag — all
    fractions as parts-per-million via INTEGER division so both
    engines agree bit-for-bit. Map-only: zero exchanges at any SF."""
    cs = cleaning.wrap_chunks("text")
    lines = F.concat(
        F.array(
            F.concat(
                F.lit("document "),
                F.col("doc_id").cast("string"),
                F.lit(" rev 42"),
            )
        ),
        F.transform(
            cs,
            lambda x, i: F.when(
                (F.col("doc_id") + i) % 7 == 0, F.concat(F.lit("- "), x)
            )
            .when(
                (F.col("doc_id") + i) % 11 == 3, F.concat(x, F.lit(" ..."))
            )
            .otherwise(x),
        ),
    )
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", lines.alias("lines")
    )
    out = filtering.gopher_rules(docs, lines_col="lines")
    return out.select(
        F.expr(URL_SQL).alias("url"),
        "n_words",
        "n_lines",
        "mean_word_len_e6",
        "alpha_frac_e6",
        "bullet_frac_e6",
        "ellipsis_frac_e6",
        "passes",
    )


# ---------------------------------------------------------------------------
# benchmark decontamination

_BENCH_PHRASES = [
    "the quick brown fox jumps over the lazy dog",
    "to be or not to be that is the question",
    "a journey of a thousand miles begins with a single step",
]
_BENCH_GRAMS = cleaning.benchmark_shingles(_BENCH_PHRASES, k=5)
_DECON_TEXT_SQL = (
    "text || CASE WHEN doc_id % 23 = 5 THEN ' ' || "
    f"(CASE doc_id % 3 WHEN 0 THEN '{_BENCH_PHRASES[0]}' "
    f"WHEN 1 THEN '{_BENCH_PHRASES[1]}' "
    f"ELSE '{_BENCH_PHRASES[2]}' END) ELSE '' END"
)
_BENCH_LIST_SQL = "[" + ", ".join(f"'{g}'" for g in _BENCH_GRAMS) + "]"


@q(
    "decontaminate",
    f"WITH t AS (SELECT doc_id, {_DECON_TEXT_SQL} AS text FROM documents), "
    f"sh AS (SELECT doc_id, list_distinct("
    f"{duck_shingles(duck_toks('text'), 5)}) AS g5 FROM t) "
    f"SELECT {URL_SQL} AS url, "
    f"len(list_filter(g5, g -> list_contains({_BENCH_LIST_SQL}, g)))::INT "
    "AS bench_ngrams, "
    f"(len(list_filter(g5, g -> list_contains({_BENCH_LIST_SQL}, g))) > 0)"
    "::INT AS contaminated FROM sh",
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (the Dolma/DCLM eval-overlap gate):
    flag documents sharing any word 5-gram with a benchmark set. A
    deterministic fraction of the corpus gets a benchmark phrase
    appended so the flag is non-vacuous. The benchmark shingle table
    broadcasts (eval sets are tiny vs the corpus); the corpus side is
    one exploded-shingle pass collapsing map-side to a per-doc count.
    The oracle is a deliberately different formulation (list_filter
    over a literal gram list) — two engines, two shapes, one answer."""
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(_DECON_TEXT_SQL).alias("text"),
    )
    bench = spark.createDataFrame([(g,) for g in _BENCH_GRAMS], "gram string")
    out = cleaning.decontaminate(docs, bench, id_cols=("doc_id",), k=5)
    return out.select(
        F.expr(URL_SQL).alias("url"), "bench_ngrams", "contaminated"
    )


# ---------------------------------------------------------------------------
# hashed linear quality model

_MQ_W_SQL = (
    "((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096 + "
    "(strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256 + "
    "(strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16 + "
    "(strpos('0123456789abcdef', substr(h, 4, 1)) - 1)) % 997 - 498"
)


@q(
    "model_quality_score",
    "WITH s AS (SELECT doc_id, coalesce(list_aggregate(list_transform("
    f"list_transform({duck_toks('text')}, t -> md5(t)), "
    f"h -> {_MQ_W_SQL}), 'sum'), 0)::BIGINT AS mq_score FROM documents) "
    f"SELECT {URL_SQL} AS url, mq_score, "
    "CASE WHEN mq_score > 0 THEN 'keep' ELSE 'drop' END AS mq_label FROM s",
)
def model_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering in the fastText/DCLM shape: bag of
    tokens → hashed feature buckets → linear score → keep/drop label,
    with a deterministic weight table (bucket % 997 - 498) standing in
    for trained weights. Pure `aggregate` fold over the token array —
    map-only, zero exchanges (pinned by a plan contract); a trained
    model swaps the arithmetic for a broadcast weight lookup with the
    same plan."""
    docs = _read(spark, sf_dir, "documents")
    score = textstats.model_quality_score("text")
    return docs.select(
        F.expr(URL_SQL).alias("url"),
        score.alias("mq_score"),
        F.when(score > 0, F.lit("keep")).otherwise(F.lit("drop")).alias(
            "mq_label"
        ),
    )


# ---------------------------------------------------------------------------
# inverted index

@q(
    "inverted_index",
    f"WITH tok AS (SELECT doc_id, unnest(list_distinct({duck_toks('text')})) "
    "AS term FROM documents) "
    "SELECT term, count(*)::BIGINT AS doc_freq, "
    "array_to_string(list_sort(list(doc_id))[1:64], ',') AS postings "
    "FROM tok GROUP BY term HAVING count(*) >= 2",
)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-index construction: term → (doc_freq, doc-id-sorted
    posting list). One distinct-token explode + one map-side-combined
    groupBy(term); postings capped at 64 per term (an uncapped
    collect_list on a stopword is an OOM at corpus scale — doc_freq
    still reports the full count)."""
    docs = _read(spark, sf_dir, "documents")
    return textstats.inverted_index(docs, min_doc_freq=2, max_postings=64)


# ---------------------------------------------------------------------------
# Unicode NFC normalization

_NFC_SUFFIX = " cafe\u0301 nai\u0308ve"  # decomposed e+acute / i+diaeresis
# DuckDB twin (duckdb chr() is a real codepoint; Spark's wraps mod 256,
# so the Spark side uses the Python literal instead)
_NFC_MARK_SQL = (
    "text || CASE WHEN doc_id % 5 = 0 THEN ' cafe' || chr(769) || "
    "' nai' || chr(776) || 've' ELSE '' END"
)


# ---------------------------------------------------------------------------
# mojibake detection/repair (encoding-damage cleanup, ftfy's core case)

_MOJI_SNIPPET = (
    " caf"
    + cleaning.MOJIBAKE_PAIRS[0][0]  # é artifact
    + " fran"
    + cleaning.MOJIBAKE_PAIRS[6][0]  # ç artifact
    + "ais "
    + cleaning.MOJIBAKE_PAIRS[12][0]  # – artifact
    + cleaning.MOJIBAKE_PAIRS[15][0]  # … artifact
)
_MOJI_TEXT_SQL = (
    f"text || CASE WHEN doc_id % 13 = 3 THEN '{_MOJI_SNIPPET}' ELSE '' END"
)
_MOJI_COUNT_SQL = " + ".join(
    f"(length(raw) - length(replace(raw, '{bad}', ''))) // {len(bad)}"
    for bad, _ in cleaning.MOJIBAKE_PAIRS
)


def _moji_repair_sql(col: str) -> str:
    out = col
    for bad, good in cleaning.MOJIBAKE_PAIRS:
        out = f"replace({out}, '{bad}', '{good}')"
    return out


@q(
    "mojibake_score",
    f"WITH t AS (SELECT doc_id, {_MOJI_TEXT_SQL} AS raw FROM documents) "
    f"SELECT {URL_SQL} AS url, ({_MOJI_COUNT_SQL})::INT AS n_mojibake, "
    f"(({_MOJI_COUNT_SQL}) > 0)::INT AS mojibake_flag, "
    f"{_moji_repair_sql('raw')} AS text_repaired FROM t",
)
def mojibake_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-damage detection and repair (UTF-8 read as cp1252 —
    ftfy's dominant web-crawl case): count known artifact sequences and
    emit the repaired text. Pure substring counting and sequential
    replace() — no regex, whose unicode '.'-semantics differ between
    engines — so both engines agree bit-for-bit. Map-only, zero
    exchanges. A deterministic fraction of docs gets a mojibake snippet
    appended so the flag is non-vacuous; the artifact list is derived
    from the UTF-8→cp1252 byte mapping, not hand-typed."""
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_MOJI_TEXT_SQL).alias("raw")
    )
    n = cleaning.mojibake_count("raw")
    return docs.select(
        F.expr(URL_SQL).alias("url"),
        n.alias("n_mojibake"),
        (n > 0).cast("int").alias("mojibake_flag"),
        cleaning.demojibake("raw").alias("text_repaired"),
    )


@q(
    "nfc_normalize",
    f"WITH t AS (SELECT doc_id, {_NFC_MARK_SQL} AS raw FROM documents) "
    f"SELECT {URL_SQL} AS url, nfc_normalize(raw) AS norm_text, "
    "length(raw)::INT AS n_before, length(nfc_normalize(raw))::INT AS n_after "
    "FROM t",
)
def nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (combining sequences composed to
    precomposed forms — 'cafe'+U+0301 → 'café'). Spark has no built-in
    normalizer, so this is the one sanctioned Python hot-path shape: an
    Arrow-batched pandas UDF (unicodedata, stdlib) — vectorized batch
    transfer, no per-row pickling. A deterministic fraction of docs
    gets decomposed sequences appended so n_before > n_after genuinely
    occurs. Oracle: DuckDB's independent nfc_normalize (both track
    UAX #15)."""
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0, F.lit(_NFC_SUFFIX)).otherwise(
                F.lit("")
            ),
        ).alias("raw"),
    )
    # two-step projection so the UDF runs exactly once per row
    normed = docs.select(
        F.expr(URL_SQL).alias("url"),
        "raw",
        cleaning.nfc_normalize_col("raw").alias("norm_text"),
    )
    return normed.select(
        "url",
        "norm_text",
        F.length("raw").cast("int").alias("n_before"),
        F.length("norm_text").cast("int").alias("n_after"),
    )


# ---------------------------------------------------------------------------
# sequence packing (tokenizer-export placement)

_PACK_SEQ_LEN = 2048
_PACK_SHARDS = 16


@q(
    "pack_sequences",
    f"WITH d AS (SELECT doc_id, {HOST_SQL} AS host, "
    f"(doc_id % {_PACK_SHARDS})::INT AS shard, "
    f"len({duck_toks('text')})::INT AS n_tokens FROM documents), "
    "p AS (SELECT *, (sum(n_tokens) OVER (PARTITION BY host, shard "
    "ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens)::BIGINT "
    "AS token_start FROM d) "
    "SELECT doc_id, host, shard, n_tokens, token_start, "
    f"(token_start // {_PACK_SEQ_LEN})::BIGINT AS seq_id, "
    f"(token_start % {_PACK_SEQ_LEN})::INT AS seq_offset FROM p",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing: each document's
    (shard, sequence id, offset) placement from a per-(host, shard)
    running token prefix-sum. Shard fanout bounds the window partition
    (no global sort, no single-partition prefix-sum); `div`, not float
    division, keeps seq ids exact past 2^53 tokens."""
    docs = _read(spark, sf_dir, "documents").withColumn(
        "host", F.expr(_HOST_ONLY_SQL)
    )
    # n_shards=None exercises the scale-aware derivation: at test SFs
    # the token total is far below one shard's target, so the derived
    # count is the floor — exactly _PACK_SHARDS, which the oracle SQL
    # pins. At 100× the same call grows the shard count instead of the
    # per-shard window.
    return packing.pack_sequences(docs, seq_len=_PACK_SEQ_LEN)


# ---------------------------------------------------------------------------
# token-proportional corpus mixing

_MIX_WEIGHTS = {"en": 4, "de": 2, "es": 2, "fr": 1, "zh": 1}
_MIX_W = sum(_MIX_WEIGHTS.values())
_MIX_VALUES_SQL = ", ".join(f"('{g}', {w})" for g, w in sorted(_MIX_WEIGHTS.items()))
_MIX_BUCKET_SQL = (
    "((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096 + "
    "(strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256 + "
    "(strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16 + "
    "(strpos('0123456789abcdef', substr(h, 4, 1)) - 1))"
)


_TEMP_BUCKET_SQL = _MIX_BUCKET_SQL.replace("substr(h,", "substr(ht,")


@q(
    "mix_temperature",
    "WITH tc AS (SELECT lang, "
    f"sum(len({duck_toks('text')}))::BIGINT AS strat_toks "
    "FROM documents GROUP BY lang), "
    "lm AS (SELECT min(strat_toks)::BIGINT AS l_min FROM tc), "
    "b AS (SELECT doc_id, lang, "
    f"len({duck_toks('text')})::INT AS n_tokens, "
    "substr(md5(doc_id::VARCHAR || 'temp'), 1, 4) AS ht FROM documents) "
    f"SELECT {URL_SQL} AS url, lang, n_tokens "
    "FROM b JOIN tc USING (lang), lm "
    f"WHERE {_TEMP_BUCKET_SQL} * {_TEMP_BUCKET_SQL} * strat_toks "
    "< 4294967296 * l_min",
)
def mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed mixing at α = 0.5 (T = 2, the mC4/XLM-R
    low-resource upweighting): output token share ∝ √supply. The
    normalization cancels at α = 0.5, leaving keep-fraction
    √(L_min/L_g), enforced as the exact integer rule bucket²·L_g <
    65536²·L_min — no float in membership, so no cross-engine ulp
    hazard. Broadcast threshold join + pure corpus-side filter."""
    from .functions import sampling

    docs = _read(spark, sf_dir, "documents")
    kept = sampling.mix_temperature(
        docs.select("doc_id", "lang", "text")
    )
    return kept.select(
        F.expr(URL_SQL).alias("url"),
        "lang",
        textstats.ws_token_count("text").alias("n_tokens"),
    )


@q(
    "mix_corpus",
    "WITH tc AS (SELECT lang, "
    f"sum(len({duck_toks('text')}))::BIGINT AS strat_toks "
    "FROM documents GROUP BY lang), "
    f"w AS (SELECT * FROM (VALUES {_MIX_VALUES_SQL}) AS t(lang, wt)), "
    "j AS (SELECT tc.lang, strat_toks, wt FROM tc JOIN w USING (lang)), "
    f"tout AS (SELECT min(strat_toks * {_MIX_W} // wt)::BIGINT AS t_out FROM j), "
    "b AS (SELECT doc_id, lang, "
    f"len({duck_toks('text')})::INT AS n_tokens, "
    "substr(md5(doc_id::VARCHAR || 'mix'), 1, 4) AS h FROM documents) "
    f"SELECT {URL_SQL} AS url, lang, n_tokens "
    "FROM b JOIN j USING (lang), tout "
    f"WHERE {_MIX_BUCKET_SQL} * {_MIX_W} * strat_toks < 65536 * wt * t_out",
)
def mix_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mix sampling: downsample each language so the output token
    mixture follows _MIX_WEIGHTS at the largest size achievable without
    upsampling (the scarcest-supply language keeps 100%). Integer-only
    arithmetic (token totals × weights × 16-bit hash buckets) makes
    membership bit-stable; the per-language threshold table broadcasts
    and the corpus side is a pure filter — never shuffled."""
    from .functions import sampling as _sampling

    docs = _read(spark, sf_dir, "documents")
    mixed = _sampling.mix_corpus(docs, _MIX_WEIGHTS)
    return mixed.select(
        F.expr(URL_SQL).alias("url"),
        "lang",
        textstats.ws_token_count("text").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# exact-substring dedup spans (Lee et al. 2022 shape)

_QUOTE = (
    "it was the best of times it was the worst of times "
    "it was the age of wisdom"
)
_QUOTE_TEXT_SQL = (
    f"text || CASE WHEN doc_id % 11 = 7 THEN ' {_QUOTE}' ELSE '' END"
)


@q(
    "substring_dup_spans",
    f"WITH t AS (SELECT doc_id, {_QUOTE_TEXT_SQL} AS text FROM documents), "
    f"tok AS (SELECT doc_id, {duck_toks('text')} AS toks FROM t), "
    "sh AS (SELECT doc_id, unnest(list_transform(range(1, len(g) + 1), "
    "i -> {'pos': i - 1, 'gram': g[i]}), recursive := true) "
    f"FROM (SELECT doc_id, {duck_shingles('toks', 5)} AS g FROM tok)), "
    "dg AS (SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM sh) "
    "GROUP BY gram HAVING count(*) >= 2), "
    "dp AS (SELECT doc_id, pos, pos - row_number() OVER "
    "(PARTITION BY doc_id ORDER BY pos) AS grp FROM sh JOIN dg USING (gram)) "
    f"SELECT {URL_SQL} AS url, min(pos)::INT AS span_start, "
    "(max(pos) - min(pos) + 5)::INT AS span_len FROM dp GROUP BY doc_id, grp",
)
def substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-document repeated token runs (exact-substring
    dedup, Lee et al. 2022): 5-gram positions shared by >=2 docs,
    coalesced into maximal spans by the islands pattern. A fixed quote
    is appended to doc_id % 11 == 7 so multi-document verbatim overlap
    genuinely exists. The dup-gram table grows with the corpus (quoted
    text is not boilerplate-bounded) so positions⋈dup-grams is an
    honest shuffle join; the island window is per-document."""
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_QUOTE_TEXT_SQL).alias("text")
    )
    spans = dedup.duplicate_substring_spans(docs, k=5, min_docs=2)
    return spans.select(
        F.expr(URL_SQL).alias("url"), "span_start", "span_len"
    )


# ---------------------------------------------------------------------------
# unigram LM surprisal (perplexity-filter shape)

@q(
    "unigram_surprisal",
    f"WITH tok AS (SELECT doc_id, unnest({duck_toks('text')}) AS term "
    "FROM documents), "
    "vocab AS (SELECT term, count(*)::BIGINT AS tf FROM tok GROUP BY term), "
    "tot AS (SELECT sum(tf)::BIGINT AS n_total FROM vocab), "
    "surp AS (SELECT term, round(ln(n_total / tf) * 1e6)::BIGINT AS surp "
    "FROM vocab, tot), "
    "agg AS (SELECT doc_id, count(*)::INT AS n_tokens, "
    "sum(surp)::BIGINT AS surprisal FROM tok JOIN surp USING (term) "
    "GROUP BY doc_id) "
    f"SELECT {URL_SQL} AS url, n_tokens, surprisal, "
    "(surprisal // n_tokens)::BIGINT AS avg_surprisal FROM agg",
)
def unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filtering with the model trained on the
    corpus itself: per-doc unigram surprisal Σ round(ln(N/tf)·1e6) and
    its per-token average (micro-nats). The (term, surprisal) vocab
    table broadcasts back onto the token stream; per-term rounding
    before the sum keeps both engines integer-identical. Low average =
    natural high-probability text; spam scores high."""
    docs = _read(spark, sf_dir, "documents")
    out = textstats.unigram_surprisal(docs)
    return out.select(
        F.expr(URL_SQL).alias("url"), "n_tokens", "surprisal", "avg_surprisal"
    )


# ---------------------------------------------------------------------------
# CCNet perplexity buckets (head / middle / tail per language)


@q(
    "ccnet_buckets",
    f"WITH tok AS (SELECT doc_id, unnest({duck_toks('text')}) AS term "
    "FROM documents), "
    "vocab AS (SELECT term, count(*)::BIGINT AS tf FROM tok GROUP BY term), "
    "tot AS (SELECT sum(tf)::BIGINT AS n_total FROM vocab), "
    "surp AS (SELECT term, round(ln(n_total / tf) * 1e6)::BIGINT AS surp "
    "FROM vocab, tot), "
    "agg AS (SELECT doc_id, count(*)::INT AS n_tokens, "
    "sum(surp)::BIGINT AS surprisal FROM tok JOIN surp USING (term) "
    "GROUP BY doc_id), "
    "sb AS (SELECT a.doc_id, d.lang, "
    "(surprisal // n_tokens)::BIGINT AS avg_surprisal, "
    "((surprisal // n_tokens) // 1000)::BIGINT AS bin "
    "FROM agg a JOIN documents d USING (doc_id)), "
    "hist AS (SELECT lang, bin, count(*)::BIGINT AS cnt "
    "FROM sb GROUP BY lang, bin), "
    "cum AS (SELECT lang, bin, sum(cnt) OVER "
    "(PARTITION BY lang ORDER BY bin)::BIGINT AS cum FROM hist), "
    "ntot AS (SELECT lang, sum(cnt)::BIGINT AS n FROM hist GROUP BY lang), "
    "thr AS (SELECT lang, min(CASE WHEN cum >= (n + 2) // 3 THEN bin END) "
    "AS t1, min(CASE WHEN cum >= (2 * n + 2) // 3 THEN bin END) AS t2 "
    "FROM cum JOIN ntot USING (lang) GROUP BY lang) "
    f"SELECT {URL_SQL} AS url, lang, avg_surprisal, "
    "CASE WHEN bin <= t1 THEN 'head' WHEN bin <= t2 THEN 'middle' "
    "ELSE 'tail' END AS ppl_bucket FROM sb JOIN thr USING (lang)",
)
def ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing (Wenzek et al.
    2020): per-language surprisal terciles over the corpus-trained
    unigram LM. Thresholds come from a fixed-width micro-nat histogram
    (≤ ~2000 bins) so the quantile pass never sorts the corpus — the
    cumulative window runs per language over bin-count rows only, and
    the tiny threshold table broadcasts back."""
    docs = _read(spark, sf_dir, "documents")
    out = textstats.ccnet_buckets(docs)
    return out.select(
        F.expr(URL_SQL).alias("url"), "lang", "avg_surprisal", "ppl_bucket"
    )


# ---------------------------------------------------------------------------
# DSIR importance resampling (hashed-feature data selection)

_DSIR_BUCKET_SQL = (
    "((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096 + "
    "(strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256 + "
    "(strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16 + "
    "(strpos('0123456789abcdef', substr(h, 4, 1)) - 1)) % 4096"
)


# the corpus's 31-word synthetic vocabulary is shared across languages
# (lang is token-blind), so the target style has to be INJECTED to be
# learnable: docs with doc_id % 5 == 0 get a distinctive 12-token tail
# (the same determinism idiom as substring_dup_spans' quote), and the
# SEED set DSIR trains on is only the doc_id % 10 == 0 HALF of them —
# selection then has to generalize from the seed half to the unseen
# styled half through the shared feature buckets, which is the point
# of the method.
_DSIR_STYLE = (
    "encyclopedia reference citation footnote bibliography archive "
    "manuscript treatise monograph journal lemma theorem"
)
_DSIR_TEXT_SQL = (
    f"text || CASE WHEN doc_id % 5 = 0 THEN ' {_DSIR_STYLE}' ELSE '' END"
)


@q(
    "dsir_select",
    f"WITH t AS (SELECT doc_id, {_DSIR_TEXT_SQL} AS text FROM documents), "
    "tok AS (SELECT doc_id, doc_id % 10 = 0 AS tgt, "
    f"unnest({duck_toks('text')}) AS term FROM t), "
    f"bk AS (SELECT doc_id, tgt, {_DSIR_BUCKET_SQL} AS bucket "
    "FROM (SELECT doc_id, tgt, md5(term) AS h FROM tok)), "
    "counts AS (SELECT bucket, count(*)::BIGINT AS cr, "
    "sum(CASE WHEN tgt THEN 1 ELSE 0 END)::BIGINT AS ct "
    "FROM bk GROUP BY bucket), "
    "tot AS (SELECT sum(cr)::BIGINT AS nr, sum(ct)::BIGINT AS nt FROM counts), "
    "lw AS (SELECT bucket, round(ln(((ct + 1) * (nr + 4096)) / "
    "((cr + 1) * (nt + 4096))) * 1e6)::BIGINT AS lw FROM counts, tot), "
    "agg AS (SELECT doc_id, count(*)::INT AS n_tokens, "
    "sum(lw)::BIGINT AS dsir_weight FROM bk JOIN lw USING (bucket) "
    "GROUP BY doc_id) "
    f"SELECT {URL_SQL} AS url, n_tokens, dsir_weight, "
    "dsir_weight > 0 AS selected FROM agg",
)
def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): hashed-unigram importance
    weights of every document against a SEED set (the even half of the
    styled docs — see _DSIR_TEXT_SQL), both bag-of-words models trained
    on the corpus itself in one pass. Per-bucket log ratios are
    integer-rounded before the per-doc sum (cross-engine parity);
    ``selected`` is the deterministic keep rule weight > 0, and the
    styled-but-unseeded half of the corpus is what it must (and does)
    generalize to. Two shuffles total: one bucket count (map-side
    combined, state bounded by 4096 buckets) and one per-doc sum under
    a broadcast weight table."""
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_DSIR_TEXT_SQL).alias("text")
    )
    out = textstats.dsir_weights(docs, F.expr("doc_id % 10 = 0"))
    return out.select(
        F.expr(URL_SQL).alias("url"), "n_tokens", "dsir_weight", "selected"
    )


# ---------------------------------------------------------------------------
# deterministic cardinality sketches (HyperLogLog): DuckDB replays every
# register from md5 string ops

_HLL_W = "substring(h, 4, 13)"
_HLL_LZ = f"length(regexp_extract({_HLL_W}, '^0*'))"
_HLL_FIRST = f"substring({_HLL_W}, {_HLL_LZ} + 1, 1)"
_HLL_RHO = (
    f"least(4 * {_HLL_LZ} + (CASE {_HLL_FIRST} "
    "WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2 "
    "WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1 "
    f"ELSE 0 END) + 1, {sketches.RHO_CAP})"
)
_HLL_DENOM = (
    f"(s + (4096 - filled_registers)::BIGINT * (1::BIGINT << {sketches.RHO_CAP}))"
)
_HLL_RAW = f"({sketches.HLL_ALPHA_M2_SCALED!r} / {_HLL_DENOM})"


def _hll_est_sql(filled: str, s: str) -> str:
    """DuckDB twin of sketches.hll_estimate_expr for arbitrary column
    references (used twice by the merge-invariant oracle)."""
    denom = (
        f"({s} + (4096 - {filled})::BIGINT * (1::BIGINT << "
        f"{sketches.RHO_CAP}))"
    )
    raw = f"({sketches.HLL_ALPHA_M2_SCALED!r} / {denom})"
    return (
        f"(CASE WHEN {raw} <= 10240.0 AND {filled} < 4096 "
        f"THEN round(4096.0 * ln(4096.0 / (4096 - {filled}))) "
        f"ELSE round({raw}) END)::BIGINT"
    )


@q(
    "hll_distinct",
    f"WITH tok AS (SELECT source, unnest({duck_toks('text')}) AS term "
    "FROM documents), "
    "hx AS (SELECT source, md5(term) AS h FROM tok), "
    f"rr AS (SELECT source, substring(h, 1, 3) AS bucket, {_HLL_RHO} AS rho "
    "FROM hx), "
    "regs AS (SELECT source, bucket, max(rho) AS r FROM rr "
    "GROUP BY source, bucket), "
    "pg AS (SELECT source, count(*)::INT AS filled_registers, "
    f"sum(1::BIGINT << ({sketches.RHO_CAP} - r))::BIGINT AS s FROM regs "
    "GROUP BY source), "
    "tot AS (SELECT source, count(*)::BIGINT AS n_values, "
    "count(DISTINCT term)::BIGINT AS exact_distinct FROM tok GROUP BY source) "
    "SELECT source, n_values, filled_registers, "
    f"(CASE WHEN {_HLL_RAW} <= 10240.0 AND filled_registers < 4096 "
    "THEN round(4096.0 * ln(4096.0 / (4096 - filled_registers))) "
    f"ELSE round({_HLL_RAW}) END)::BIGINT AS est_distinct_hll, "
    "exact_distinct FROM pg JOIN tot USING (source)",
)
def hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-token estimate via HYPERLOGLOG (Flajolet et
    al. 2007) with md5-replayable registers — the production sketch
    shape (4096 small registers per group however many values stream
    through; the exact count rides along as its twin column). The
    harmonic mean is summed in exact integer arithmetic (Σ 2^(cap-ρ)
    over bigints) because a floating-point Σ is partial-aggregate-order
    dependent and would break cross-engine parity; the standard small-
    range linear-counting correction applies below 2.5m. Spark's own
    approx_count_distinct is the same algorithm with engine-private
    registers — this one every engine can replay."""
    docs = _read(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(textstats.tokens("text")).alias("term")
    )
    return sketches.hll_distinct(tok, "source", "term")


@q(
    "hll_merge",
    "WITH tok AS (SELECT doc_id % 16 AS part, unnest("
    f"{duck_shingles(duck_toks('text'), 3)}) AS term FROM documents), "
    "hx AS (SELECT part, term, md5(term) AS h FROM tok), "
    f"rr AS (SELECT part, substring(h, 1, 3) AS bucket, {_HLL_RHO} AS rho "
    "FROM hx), "
    "preg AS (SELECT part, bucket, max(rho) AS r FROM rr "
    "GROUP BY part, bucket), "
    "mreg AS (SELECT bucket, max(r) AS r FROM preg GROUP BY bucket), "
    "dreg AS (SELECT bucket, max(rho) AS r FROM rr GROUP BY bucket), "
    "mf AS (SELECT count(*)::INT AS mfill, "
    f"sum(1::BIGINT << ({sketches.RHO_CAP} - r))::BIGINT AS ms FROM mreg), "
    "dfold AS (SELECT count(*)::INT AS dfill, "
    f"sum(1::BIGINT << ({sketches.RHO_CAP} - r))::BIGINT AS ds FROM dreg), "
    "tot AS (SELECT count(DISTINCT part)::INT AS n_parts, "
    "count(DISTINCT term)::BIGINT AS exact_distinct FROM tok) "
    f"SELECT n_parts, {_hll_est_sql('dfill', 'ds')} AS est_direct, "
    f"{_hll_est_sql('mfill', 'ms')} AS est_merged, "
    f"({_hll_est_sql('mfill', 'ms')} = {_hll_est_sql('dfill', 'ds')})::INT "
    "AS merge_exact, exact_distinct FROM tot, dfold, mf",
)
def hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch distributive law proven on the data: HLL registers
    built independently over 16 simulated partitions (doc_id % 16) and
    merged by a 4096-row max equal the whole-corpus registers, so the
    merged estimate matches the direct one bit-for-bit (merge_exact=1).
    This is why sketches beat exact counts at 100 TB: every executor
    sketches its split, the reduce merges registers — no value ever
    crosses the wire twice, and streaming micro-batches merge the same
    way."""
    docs = _read(spark, sf_dir, "documents")
    tok = docs.select(
        (F.col("doc_id") % 16).cast("int").alias("part"),
        F.explode(
            textstats.shingles("text", 3)
        ).alias("term"),
    )
    return sketches.hll_merge_invariant(tok, "term", "part")


_CM_J = "(SELECT unnest([0, 1, 2, 3]) AS j)"


@q(
    "countmin_freq",
    f"WITH tok AS (SELECT unnest({duck_toks('text')}) AS term "
    "FROM documents), "
    "pv AS (SELECT term, count(*)::BIGINT AS true_count FROM tok "
    "GROUP BY term), "
    f"rows_ AS (SELECT j, substring(md5(j::VARCHAR || ':' || term), 1, 3) "
    f"AS bucket, true_count AS c FROM pv, {_CM_J}), "
    "sk AS (SELECT j, bucket, sum(c)::BIGINT AS cnt FROM rows_ "
    "GROUP BY j, bucket), "
    "top AS (SELECT term, true_count FROM pv "
    "ORDER BY true_count DESC, term LIMIT 20), "
    "probe AS (SELECT term, true_count, j, "
    "substring(md5(j::VARCHAR || ':' || term), 1, 3) AS bucket "
    f"FROM top, {_CM_J}) "
    "SELECT term, true_count, min(cnt)::BIGINT AS est_count "
    "FROM probe JOIN sk USING (j, bucket) GROUP BY term, true_count",
)
def countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter frequency estimation via a COUNT-MIN sketch
    (Cormode & Muthukrishnan 2005) with md5-replayable hash rows:
    4×4096 bounded counters however many distinct terms stream through
    — the frequency-side complement of the HLL cardinality sketch
    (`hll_distinct`). est ≥ true always; the top-20 true terms ride
    along so the overestimate is visible. Build = one bounded
    aggregation (d-way replication AFTER the per-term pre-agg); probe =
    a broadcast join of 80 rows against the ≤16k-row sketch."""
    docs = _read(spark, sf_dir, "documents")
    tok = docs.select(F.explode(textstats.tokens("text")).alias("term"))
    pv = tok.groupBy("term").agg(
        F.count("*").cast("bigint").alias("true_count")
    )
    top = pv.orderBy(F.desc("true_count"), "term").limit(20)
    sketch = sketches.count_min_table(tok, "term")
    est = sketches.count_min_estimate(sketch, top.select("term"), "term")
    return top.join(est, "term").select("term", "true_count", "est_count")


# ---------------------------------------------------------------------------
# bigram LM surprisal (order-2 perplexity filter)


@q(
    "bigram_surprisal",
    f"WITH tokarr AS (SELECT doc_id, {duck_toks('text')} AS t FROM documents), "
    "tok AS (SELECT unnest(t) AS term FROM tokarr), "
    "v AS (SELECT count(DISTINCT term)::BIGINT AS vsz FROM tok), "
    "bgs AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 2 THEN "
    "list_transform(range(1, len(t)), i -> "
    "{'w1': t[i], 'bg': t[i] || ' ' || t[i+1]}) "
    "ELSE [] END, recursive := true) FROM tokarr), "
    "bgc AS (SELECT bg, w1, count(*)::BIGINT AS c_bg FROM bgs "
    "GROUP BY bg, w1), "
    "ctx AS (SELECT w1, count(*)::BIGINT AS c_ctx FROM bgs GROUP BY w1), "
    "surp AS (SELECT bg, round(ln((c_ctx + vsz) / (c_bg + 1)) * 1e6)::BIGINT "
    "AS surp FROM bgc JOIN ctx USING (w1), v), "
    "agg AS (SELECT doc_id, count(*)::INT AS n_bigrams, "
    "sum(surp)::BIGINT AS surprisal FROM bgs JOIN surp USING (bg) "
    "GROUP BY doc_id) "
    f"SELECT {URL_SQL} AS url, n_bigrams, surprisal, "
    "(surprisal // n_bigrams)::BIGINT AS avg_surprisal FROM agg",
)
def bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-2 LM quality filter: per-doc add-one-smoothed bigram
    surprisal — catches shuffled-word salad that unigram_surprisal
    scores as natural. Bigram formation is array-level (zero shuffle);
    the count tables broadcast back onto the bigram stream; rounding
    per bigram type keeps both engines integer-identical."""
    docs = _read(spark, sf_dir, "documents")
    out = textstats.bigram_surprisal(docs)
    return out.select(
        F.expr(URL_SQL).alias("url"), "n_bigrams", "surprisal", "avg_surprisal"
    )


# ---------------------------------------------------------------------------
# BPE merge-candidate counting (tokenizer-training prep)


@q(
    "bpe_pair_counts",
    f"WITH words AS (SELECT unnest({duck_toks('text')}) AS word "
    "FROM documents), "
    "pos AS (SELECT word, unnest(range(1, length(word))) AS i FROM words), "
    "c AS (SELECT substring(word, i, 2) AS pair, count(*)::BIGINT AS cnt "
    "FROM pos GROUP BY pair ORDER BY cnt DESC, pair LIMIT 64) "
    "SELECT row_number() OVER (ORDER BY cnt DESC, pair)::INT AS rank, "
    "pair, cnt FROM c",
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge step of tokenizer training: the corpus's top-64
    adjacent character pairs inside whitespace words. Pair formation
    is array-level per word; the count's partial state is bounded by
    |alphabet|²; the cut is TakeOrderedAndProject (never a global
    sort), ties broken on pair text so the set is deterministic."""
    docs = _read(spark, sf_dir, "documents")
    return textstats.bpe_pair_counts(docs, top_n=64)


# ---------------------------------------------------------------------------
# exact per-group percentiles (corpus length profile)


@q(
    "length_percentiles",
    "WITH r AS (SELECT lang, n_chars, "
    "row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn, "
    "count(*) OVER (PARTITION BY lang) AS n FROM documents) "
    "SELECT lang, max(n)::BIGINT AS n_docs, "
    "max(CASE WHEN rn = ceil(0.5 * n) THEN n_chars END)::BIGINT AS p50, "
    "max(CASE WHEN rn = ceil(0.9 * n) THEN n_chars END)::BIGINT AS p90, "
    "max(CASE WHEN rn = ceil(0.99 * n) THEN n_chars END)::BIGINT AS p99 "
    "FROM r GROUP BY lang",
)
def length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language length percentiles (p50/p90/p99 of n_chars)
    — the corpus profile a filtering threshold is calibrated against.
    Exact nearest-rank definition (value at row ceil(p·n) of the
    per-group sort) stated identically in both engines, so unlike
    percentile_approx/quantile the result is engine-independent. The
    window sort is PARTITIONED by lang — no global sort — and the
    pivot to columns is one conditional aggregation."""
    docs = _read(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    r = docs.select(
        "lang",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("lang")).alias("n"),
    )

    def at(p: float):
        return F.max(
            F.when(F.col("rn") == F.ceil(F.lit(p) * F.col("n")), F.col("n_chars"))
        ).cast("bigint")

    return r.groupBy("lang").agg(
        F.max("n").cast("bigint").alias("n_docs"),
        at(0.5).alias("p50"),
        at(0.9).alias("p90"),
        at(0.99).alias("p99"),
    )


# ---------------------------------------------------------------------------
# domain blocklist filtering

_BLOCK_SUFFIXES = ["heavy.example.org", "site-13.example.com", "example.net"]


def _duck_blocked(host: str) -> str:
    tests = []
    for s in _BLOCK_SUFFIXES:
        tests.append(f"{host} = '{s}' OR {host} LIKE '%.{s}'")
    return " OR ".join(tests)


@q(
    "host_blocklist",
    f"WITH r AS (SELECT doc_id, {HOST_SQL} AS host FROM documents) "
    "SELECT doc_id, host, "
    f"(CASE WHEN {_duck_blocked('host')} THEN 1 ELSE 0 END)::INT "
    "AS blocked FROM r",
)
def host_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-suffix blocklist (the crawl-hygiene gate that runs before
    anything expensive): suffix semantics match public-suffix rules —
    equal or dot-boundary subdomain, never substring. The list is a
    plan literal, so the test is a pure map-side expression that pushes
    to the scan; no join, no shuffle, no Python."""
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", F.expr(HOST_SQL).alias("host")
    )
    return docs.withColumn(
        "blocked",
        filtering.suffix_blocked_expr("host", _BLOCK_SUFFIXES).cast("int"),
    )


@q(
    "robots_gate",
    # arithmetic reconstruction of the rule outcome (mirrors the
    # synthesis contract in the query body): v = host-variant (0 ⇒ the
    # host's robots grants Allow: /private/doc), p = private path,
    # t = .tmp path. RFC 9309 longest-match: Allow(/private/doc, 12)
    # beats Disallow(/private/, 9) and Disallow(/*.tmp$, 7).
    "WITH d AS (SELECT doc_id, "
    "CASE WHEN doc_id % 10 < 4 THEN 'heavy.example.org' "
    "ELSE 'site-' || (doc_id % 97) || '.example.com' END AS host, "
    "CASE WHEN doc_id % 10 < 4 THEN 0 ELSE (doc_id % 97) % 2 END AS v, "
    "(doc_id % 7 = 0) AS p, (doc_id % 5 = 0) AS t FROM documents), "
    "p2 AS (SELECT *, '/' || CASE WHEN p THEN 'private' ELSE 'public' END "
    "|| '/doc' || doc_id || CASE WHEN t THEN '.tmp' ELSE '.html' END "
    "AS path FROM d) "
    "SELECT 'https://' || host || path AS url, path, "
    "CASE WHEN p AND v = 0 THEN 1 WHEN p THEN 0 WHEN t THEN 0 "
    "ELSE 1 END::BIGINT AS allowed FROM p2",
)
def robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt politeness gate end-to-end (functions/robots.py —
    RFC 9309): synthesize a real robots.txt PER HOST (a hostile ``*``
    group that disallows everything — so wrong agent-group selection
    fails loudly — plus a ``trainbot`` group with prefix, longest-match
    Allow-override, and ``$``-anchored wildcard rules; the Allow rule's
    presence derives from the host name), parse it with the full text
    parser executor-side, and apply the relational filter: broadcast
    rule table, one JVM regexp per (url, rule), RFC winner via
    ``max(struct(rule_len, allow))``. The oracle recomputes every
    verdict arithmetically from doc_id, so a wrong group merge, length
    tie-break, anchor translation, or a lost no-rule-matched url fails
    the hash."""
    from pdf_parser_spark.functions.robots import (
        robots_filter,
        robots_rules_df,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    host = F.when(
        F.pmod("doc_id", F.lit(10)) < 4, F.lit("heavy.example.org")
    ).otherwise(
        F.concat(
            F.lit("site-"),
            F.pmod("doc_id", F.lit(97)).cast("string"),
            F.lit(".example.com"),
        )
    )
    path = F.concat(
        F.lit("/"),
        F.when(F.pmod("doc_id", F.lit(7)) == 0, F.lit("private")).otherwise(
            F.lit("public")
        ),
        F.lit("/doc"),
        F.col("doc_id").cast("string"),
        F.when(F.pmod("doc_id", F.lit(5)) == 0, F.lit(".tmp")).otherwise(
            F.lit(".html")
        ),
    )
    urls = docs.select(
        F.concat(F.lit("https://"), host, path).alias("url"),
        host.alias("host"),
        path.alias("path"),
    )

    from collections.abc import Iterator as _It

    import pandas as _pd

    def synth_robots(batches: "_It[_pd.DataFrame]") -> "_It[_pd.DataFrame]":
        rows = []
        for pdf in batches:
            for h in pdf["host"]:
                if h == "heavy.example.org":
                    v = 0
                else:
                    v = int(h.split("-")[1].split(".")[0]) % 2
                txt = (
                    "# synthetic politeness file\n"
                    "User-agent: *\nDisallow: /\n\n"
                    "User-agent: trainbot\n"
                    "Disallow: /private/\n"
                    + ("Allow: /private/doc\n" if v == 0 else "")
                    + "Disallow: /*.tmp$\n"
                )
                rows.append({"host": h, "robots_txt": txt})
        yield _pd.DataFrame(rows, columns=["host", "robots_txt"])

    robots = urls.select("host").distinct().mapInPandas(
        synth_robots, schema="host STRING, robots_txt STRING"
    )
    rules = robots_rules_df(robots, agent="trainbot")
    return robots_filter(urls, rules).select(
        "url", "path", F.col("allowed").cast("bigint").alias("allowed")
    )


# Shared synthesis for the politeness-metadata queries (crawl_schedule,
# sitemap_discovery): one robots.txt per host carrying a decoy ``*``
# Crawl-delay (wrong group selection fails loudly), the trainbot
# delay(s), and Sitemap lines (with a duplicate — first-wins dedup is
# part of the contract). Hosts with num % 5 == 0 have NO robots file at
# all, exercising the default-delay path. num = 0 for the heavy host,
# 1 + doc_id % 97 for site hosts (so a site's num is never 0).
def _synth_politeness_robots(urls):
    from collections.abc import Iterator as _It

    import pandas as _pd

    def synth(batches: "_It[_pd.DataFrame]") -> "_It[_pd.DataFrame]":
        for pdf in batches:
            rows = []
            for h in pdf["host"]:
                if h == "heavy.example.org":
                    num = 0
                else:
                    num = 1 + int(h.split("-")[1].split(".")[0])
                if num != 0 and num % 5 == 0:
                    continue  # no robots.txt for this host
                delay = "0.5" if num == 0 else str(1 + num % 3)
                txt = (
                    "# synthetic politeness file\n"
                    "User-agent: *\nCrawl-delay: 9\nDisallow: /tmp/\n\n"
                    "User-agent: trainbot\n"
                    f"Crawl-delay: {delay}\n"
                    f"Sitemap: https://{h}/sitemap.xml\n"
                )
                if num != 0 and num % 4 == 0:
                    txt += (
                        "\nUser-agent: trainbot\nCrawl-delay: 2.5\n"
                    )
                if num % 2 == 0:
                    txt += f"Sitemap: https://{h}/sitemap-news.xml\n"
                # duplicate line: parse_sitemaps must first-wins dedup
                txt += f"Sitemap: https://{h}/sitemap.xml\n"
                rows.append({"host": h, "robots_txt": txt})
            yield _pd.DataFrame(rows, columns=["host", "robots_txt"])

    return urls.select("host").distinct().mapInPandas(
        synth, schema="host STRING, robots_txt STRING"
    )


# num as derivable in SQL from a distinct-host row (mirrors the
# synthesis contract above)
_POLITE_HOSTS_SQL = (
    "SELECT host, CASE WHEN host = 'heavy.example.org' THEN 0 "
    "ELSE 1 + CAST(regexp_extract(host, 'site-(\\d+)', 1) AS BIGINT) END "
    "AS num FROM (SELECT DISTINCT "
    "CASE WHEN doc_id % 10 < 4 THEN 'heavy.example.org' "
    "ELSE 'site-' || (doc_id % 97) || '.example.com' END AS host "
    "FROM documents)"
)


@q(
    "crawl_schedule",
    # arithmetic twin of the parsed delay: heavy → 0.5 (exact trainbot
    # group), site-num → max over the binding trainbot groups
    # (1 + num % 3, plus 2.5 when num % 4 == 0), no-robots hosts
    # (num % 5 == 0) → the 1.0 default. Slot/fetch arithmetic is the
    # same per-host window both sides.
    "WITH h AS (" + _POLITE_HOSTS_SQL + "), "
    "d AS (SELECT host, CAST(CASE "
    "WHEN num = 0 THEN 0.5 "
    "WHEN num % 5 = 0 THEN 1.0 "
    "WHEN num % 4 = 0 THEN greatest(1 + num % 3, 2.5) "
    "ELSE 1 + num % 3 END AS DOUBLE) AS delay FROM h), "
    "u AS (SELECT doc_id, "
    "CASE WHEN doc_id % 10 < 4 THEN 'heavy.example.org' "
    "ELSE 'site-' || (doc_id % 97) || '.example.com' END AS host "
    "FROM documents) "
    "SELECT url, host, slot, slot * delay AS fetch_at_s FROM ("
    "SELECT 'https://' || u.host || '/doc' || doc_id AS url, u.host, "
    "CAST(row_number() OVER (PARTITION BY u.host "
    "ORDER BY 'https://' || u.host || '/doc' || doc_id) - 1 AS BIGINT) "
    "AS slot, d.delay FROM u JOIN d ON u.host = d.host)",
)
def crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-aware fetch schedule end-to-end: synthesize a
    robots.txt per host (decoy ``*`` Crawl-delay, multiple binding
    trainbot groups — the conservative max merge — fractional delays,
    and hosts with no robots at all), parse the delays with the real
    group-selection parser executor-side, and lay out the frontier
    with :func:`robots.crawl_schedule` — broadcast metadata join plus
    a host-partitioned row_number window, never a global sort. The
    oracle reconstructs every delay arithmetically, so a wrong group
    merge, a lost no-robots host, or a drifted slot ordering fails
    the hash."""
    from pdf_parser_spark.functions.robots import (
        crawl_schedule as _sched,
        robots_meta_df,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    host = F.when(
        F.pmod("doc_id", F.lit(10)) < 4, F.lit("heavy.example.org")
    ).otherwise(
        F.concat(
            F.lit("site-"),
            F.pmod("doc_id", F.lit(97)).cast("string"),
            F.lit(".example.com"),
        )
    )
    urls = docs.select(
        F.concat(
            F.lit("https://"), host, F.lit("/doc"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        host.alias("host"),
    )
    robots = _synth_politeness_robots(urls)
    meta = robots_meta_df(robots, agent="trainbot")
    out = _sched(urls, meta, default_delay=1.0)
    return out.select(
        "url", "host", F.col("slot").cast("bigint").alias("slot"),
        "fetch_at_s",
    )


@q(
    "sitemap_discovery",
    # every robots-bearing host lists sitemap.xml; even num adds
    # sitemap-news.xml; the duplicate trailing line must NOT produce a
    # third row (first-wins dedup)
    "WITH h AS (" + _POLITE_HOSTS_SQL + "), "
    "k AS (SELECT host, num FROM h WHERE num = 0 OR num % 5 <> 0) "
    "SELECT host, 'https://' || host || '/sitemap.xml' AS sitemap FROM k "
    "UNION ALL "
    "SELECT host, 'https://' || host || '/sitemap-news.xml' FROM k "
    "WHERE num % 2 = 0",
)
def sitemap_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery from robots.txt (the crawl-seeding pass):
    parse the file-global ``Sitemap:`` lines with first-wins dedup —
    cross-group per the sitemaps.org extension — and explode to one
    (host, sitemap) row each. The robots table is per-host (tiny); the
    whole query never touches the corpus beyond the distinct-host
    projection."""
    from pdf_parser_spark.functions.robots import robots_meta_df

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    host = F.when(
        F.pmod("doc_id", F.lit(10)) < 4, F.lit("heavy.example.org")
    ).otherwise(
        F.concat(
            F.lit("site-"),
            F.pmod("doc_id", F.lit(97)).cast("string"),
            F.lit(".example.com"),
        )
    )
    urls = docs.select(host.alias("host"))
    robots = _synth_politeness_robots(urls)
    meta = robots_meta_df(robots, agent="trainbot")
    return meta.select(
        "host", F.explode("sitemaps").alias("sitemap")
    )


@q(
    "soft404_filter",
    # the oracle RECOMPUTES the scorer contract (substring scans +
    # length signal) over the same constructed page text — a true
    # independent check, not an arithmetic shortcut
    "WITH p AS (SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN "
    "'404 Error - Page Not Found. This page does not exist. ' || "
    "CASE WHEN doc_id % 22 = 0 THEN substr(text, 1, 120) ELSE text END "
    "ELSE text END AS page_text FROM documents), "
    "s AS (SELECT doc_id, "
    "(CASE WHEN length(page_text) < 300 THEN 1 ELSE 0 END "
    " + CASE WHEN contains(lower(page_text), 'page not found') THEN 2 ELSE 0 END "
    " + CASE WHEN contains(lower(page_text), '404 error') THEN 2 ELSE 0 END "
    " + CASE WHEN contains(lower(page_text), 'error 404') THEN 2 ELSE 0 END "
    " + CASE WHEN contains(lower(page_text), 'does not exist') THEN 2 ELSE 0 END "
    " + CASE WHEN contains(lower(page_text), 'no longer available') THEN 2 ELSE 0 END "
    " + CASE WHEN contains(lower(page_text), 'has been removed') THEN 2 ELSE 0 END "
    " + CASE WHEN contains(lower(page_text), 'could not be found') THEN 2 ELSE 0 END"
    ")::BIGINT AS score FROM p) "
    "SELECT doc_id, score, "
    "(CASE WHEN score >= 2 THEN 1 ELSE 0 END)::BIGINT AS flagged FROM s",
)
def soft404_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft-404 detection (HTTP-200 error pages — the classic crawl
    pollutant): every 11th document gets an injected error-page
    preamble (every 22nd also truncated under the short-body
    threshold), then :func:`filtering.soft404_score_expr` scores the
    whole corpus — case-insensitive substring phrase hits (+2 each)
    plus the short-body signal (+1) in pure map-side built-ins. The
    oracle re-runs the same substring scans in SQL, so the phrase
    inventory, the lowercasing, the threshold, and the length cutoff
    are all pinned independently."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    page_text = F.when(
        F.pmod("doc_id", F.lit(11)) == 0,
        F.concat(
            F.lit("404 Error - Page Not Found. This page does not exist. "),
            F.when(
                F.pmod("doc_id", F.lit(22)) == 0,
                F.substring("text", 1, 120),
            ).otherwise(F.col("text")),
        ),
    ).otherwise(F.col("text"))
    pages = docs.select("doc_id", page_text.alias("page_text"))
    return pages.select(
        "doc_id",
        filtering.soft404_score_expr("page_text")
        .cast("bigint")
        .alias("score"),
        filtering.soft404_flag_expr("page_text", threshold=2)
        .cast("bigint")
        .alias("flagged"),
    )


@q(
    "html_metadata",
    # generator contract (htmlcore/gen.py + corpus.wrap_lines): the
    # page body is the WRAPPED text (12-token lines), title = first
    # wrapped line truncated to 60 chars then entity-escaped
    # ('Untitled' when empty), lang = the corpus lang column, charset
    # utf-8, 12 anchor tags per page, 3 absolute partner outlinks
    # with target id doc_id*31+k on the target's own host
    "SELECT "
    f"{URL_SQL} AS url, "
    f"CASE WHEN coalesce(({CHUNKS_SQL})[1], '') = '' THEN 'Untitled' "
    "ELSE nullif(trim(regexp_replace("
    f"substr(({CHUNKS_SQL})[1], 1, 60), "
    "'[ \\t\\r\\f\\v]+', ' ', 'g')), '') END AS title, "
    "lang, 'utf-8' AS charset, 12::BIGINT AS n_anchors, "
    "3::BIGINT AS n_outlinks, "
    "'https://' || CASE WHEN (doc_id * 31 + 1) % 10 < 4 "
    "THEN 'heavy.example.org' "
    "ELSE 'site-' || ((doc_id * 31 + 1) % 97) || '.example.com' END "
    "|| '/doc/' || (doc_id * 31 + 1) AS outlink_1 "
    "FROM documents WHERE doc_id % 2 = 1",
)
def html_metadata_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAT-style page metadata (the Common Crawl metadata-record
    surface, completing the WARC-in / WET-out / WAT-alongside trio):
    head fields (title entity-unescaped + ws-normalized, html lang,
    meta charset) and the link inventory (anchor count, absolute
    outlinks) extracted from the RAW page bytes by
    :func:`htmlcore.extract.html_metadata` — linear find/slice scans,
    Arrow-batched executor-side. The oracle reconstructs every field
    from the generator contract, so title truncation-then-escape
    order, charset case-folding, and the outlink dedup/order are all
    pinned."""
    from collections.abc import Iterator as _It

    import pandas as _pd

    from pdf_parser_spark.htmlcore.extract import html_metadata

    webdocs = synthesize_webdocs(spark, sf_dir).where(
        F.col("doc_id") % 2 == 1
    )

    def run(batches: "_It[_pd.DataFrame]") -> "_It[_pd.DataFrame]":
        for pdf in batches:
            rows = []
            for u, payload in zip(pdf["url"], pdf["html"]):
                m = html_metadata(bytes(payload).decode("utf-8", "replace"))
                rows.append(
                    {
                        "url": u,
                        "title": m["title"],
                        "lang": m["lang"],
                        "charset": m["charset"],
                        "n_anchors": m["n_anchors"],
                        "n_outlinks": len(m["outlinks"]),
                        "outlink_1": m["outlinks"][0]
                        if m["outlinks"]
                        else None,
                    }
                )
            yield _pd.DataFrame(
                rows,
                columns=[
                    "url", "title", "lang", "charset",
                    "n_anchors", "n_outlinks", "outlink_1",
                ],
            )

    return webdocs.select("url", "html").mapInPandas(
        run,
        schema=(
            "url STRING, title STRING, lang STRING, charset STRING, "
            "n_anchors BIGINT, n_outlinks BIGINT, outlink_1 STRING"
        ),
    )


@q(
    "wet_export",
    # third, fully independent reconstruction of the WET conversion
    # record (sources/wet.py builds it in Python for the file sink and
    # as a JVM Column for the manifest; the oracle rebuilds it in SQL):
    # header order, CRLF discipline, md5(url)-derived record id, and
    # UTF-8-octet Content-Length are all pinned byte-for-byte via the
    # record digest
    "WITH c AS (SELECT chr(13) || chr(10) AS cl), "
    f"r AS (SELECT {URL_SQL} AS url, "
    "strftime(TIMESTAMP '2026-01-01 00:00:00' + INTERVAL (doc_id) SECOND, "
    "'%Y-%m-%dT%H:%M:%SZ') AS stamp, text FROM documents), "
    "b AS (SELECT url, "
    "'WARC/1.0' || cl || 'WARC-Type: conversion' || cl || "
    "'WARC-Target-URI: ' || url || cl || "
    "'WARC-Date: ' || stamp || cl || "
    "'WARC-Record-ID: <urn:uuid:' || "
    "substr(md5(url), 1, 8) || '-' || substr(md5(url), 9, 4) || '-' || "
    "substr(md5(url), 13, 4) || '-' || substr(md5(url), 17, 4) || '-' || "
    "substr(md5(url), 21, 12) || '>' || cl || "
    "'Content-Type: text/plain' || cl || "
    "'Content-Length: ' || octet_length(encode(text)) || cl || cl || "
    "text || cl || cl AS rec FROM r, c) "
    "SELECT url, octet_length(encode(rec))::BIGINT AS record_len, "
    "md5(rec) AS record_md5 FROM b",
)
def wet_export_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET export manifest (sources/wet.py): every document's
    Common-Crawl conversion record built as a pure JVM string
    expression — map-only, no Python — yielding the (url, byte length,
    digest) audit rows an export job commits next to its
    ``.warc.wet.gz`` files. Deterministic by construction: record id
    is md5(url) as a UUID, WARC-Date derives from doc_id."""
    from pdf_parser_spark.sources.wet import wet_export

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    manifest = wet_export(
        docs.select(
            F.expr(URL_SQL).alias("url"),
            F.date_format(
                F.expr(
                    "timestamp'2026-01-01 00:00:00' + "
                    "make_interval(0, 0, 0, 0, 0, 0, doc_id)"
                ),
                "yyyy-MM-dd'T'HH:mm:ss'Z'",
            ).alias("stamp"),
            "text",
        )
    )
    return manifest


# ---------------------------------------------------------------------------
# BPE tokenizer training (iterative merge learning)

_BPE_ROUNDS = 3


def _duck_bpe_sql(n_rounds: int) -> str:
    """Chained-CTE twin of bpetrain.learn_merges: each round counts
    adjacent pairs, picks the max via a scalar subquery, and applies
    the greedy run-parity merge with the SAME window formulation."""
    toks = duck_toks("text")
    low = (
        f"list_filter(list_transform({toks}, t -> lower(t)), "
        "t -> regexp_full_match(t, '[a-z]+'))"
    )
    parts = [
        f"WITH words AS (SELECT w AS word, count(*)::BIGINT AS freq FROM "
        f"(SELECT unnest({low}) AS w FROM documents) GROUP BY w), "
        "sym1 AS (SELECT word, freq, pos, substr(word, pos, 1) AS s FROM "
        "(SELECT word, freq, unnest(generate_series(1, length(word))) "
        "AS pos FROM words))"
    ]
    for t in range(1, n_rounds + 1):
        prev = f"sym{t}"
        parts.append(
            f"cnt{t} AS (SELECT a, b, sum(freq)::BIGINT AS cnt FROM "
            f"(SELECT s AS a, lead(s) OVER (PARTITION BY word ORDER BY pos) "
            f"AS b, freq FROM {prev}) WHERE b IS NOT NULL GROUP BY a, b), "
            f"top{t} AS (SELECT a, b, cnt FROM cnt{t} "
            "ORDER BY cnt DESC, a, b LIMIT 1)"
        )
        if t < n_rounds:
            parts.append(
                f"x{t} AS (SELECT word, freq, pos, s, lead(s) OVER "
                f"(PARTITION BY word ORDER BY pos) AS ns FROM {prev}), "
                f"m{t} AS (SELECT word, pos FROM x{t} WHERE "
                f"s = (SELECT a FROM top{t}) AND ns = (SELECT b FROM top{t})), "
                f"k{t} AS (SELECT word, pos FROM (SELECT word, pos, "
                "row_number() OVER (PARTITION BY word, isl ORDER BY pos) AS rn "
                "FROM (SELECT word, pos, pos - row_number() OVER "
                f"(PARTITION BY word ORDER BY pos) AS isl FROM m{t})) "
                "WHERE rn % 2 = 1), "
                f"sym{t + 1} AS (SELECT word, freq, row_number() OVER "
                "(PARTITION BY word ORDER BY pos) AS pos, s FROM "
                f"(SELECT x.word, x.freq, x.pos, CASE WHEN k.pos IS NOT NULL "
                "THEN x.s || x.ns ELSE x.s END AS s FROM "
                f"x{t} x LEFT JOIN k{t} k ON x.word = k.word AND x.pos = k.pos "
                f"LEFT JOIN k{t} kp ON x.word = kp.word AND x.pos = kp.pos + 1 "
                "WHERE kp.pos IS NULL))"
            )
    selects = " UNION ALL ".join(
        f"SELECT {t} AS merge_rank, a AS left_sym, b AS right_sym, cnt "
        f"FROM top{t}"
        for t in range(1, n_rounds + 1)
    )
    return ", ".join(parts) + " " + selects


@q("bpe_train", _duck_bpe_sql(_BPE_ROUNDS))
def bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING (Sennrich 2016) — the full iterative loop,
    not just the first pair census: per round, one map-side-combined
    pair count over the distinct-word symbol table, a bounded one-row
    collect of the winning pair (the k-means-centroid pattern), and a
    greedy run-parity merge expressed entirely in window functions.
    The corpus enters only through the word-frequency groupBy; symbol
    tables localCheckpoint per round so plans stay flat. The oracle
    replays all rounds as chained CTEs with the same window math."""
    from .functions import bpetrain

    docs = _read(spark, sf_dir, "documents")
    words = bpetrain.word_freq_table(docs)
    merges = bpetrain.learn_merges(words, n_merges=_BPE_ROUNDS)
    return spark.createDataFrame(
        merges, "merge_rank INT, left_sym STRING, right_sym STRING, cnt BIGINT"
    )


# ---------------------------------------------------------------------------
# BPE application: tokenize the corpus with the learned merges


def _duck_bpe_census_sql(n_rounds: int) -> str:
    """Extend the training CTE chain one more round-application, then
    census the resulting symbol vocabulary (top 20 by weighted count).
    sym{n+1} (after applying merge n) is built by the same template the
    trainer uses, so the tokenization is the trained tokenizer's."""
    base = _duck_bpe_sql(n_rounds)
    # the training SQL ends with the UNION ALL of topN selects; rebuild
    # it but apply the LAST merge too, then aggregate symbol counts
    with_part, _ = base.rsplit(" SELECT 1 AS merge_rank", 1)
    t = n_rounds
    extra = (
        f", x{t} AS (SELECT word, freq, pos, s, lead(s) OVER "
        f"(PARTITION BY word ORDER BY pos) AS ns FROM sym{t}), "
        f"m{t} AS (SELECT word, pos FROM x{t} WHERE "
        f"s = (SELECT a FROM top{t}) AND ns = (SELECT b FROM top{t})), "
        f"k{t} AS (SELECT word, pos FROM (SELECT word, pos, "
        "row_number() OVER (PARTITION BY word, isl ORDER BY pos) AS rn "
        "FROM (SELECT word, pos, pos - row_number() OVER "
        f"(PARTITION BY word ORDER BY pos) AS isl FROM m{t})) "
        "WHERE rn % 2 = 1), "
        f"sym{t + 1} AS (SELECT word, freq, row_number() OVER "
        "(PARTITION BY word ORDER BY pos) AS pos, s FROM "
        f"(SELECT x.word, x.freq, x.pos, CASE WHEN k.pos IS NOT NULL "
        "THEN x.s || x.ns ELSE x.s END AS s FROM "
        f"x{t} x LEFT JOIN k{t} k ON x.word = k.word AND x.pos = k.pos "
        f"LEFT JOIN k{t} kp ON x.word = kp.word AND x.pos = kp.pos + 1 "
        "WHERE kp.pos IS NULL)) "
        f"SELECT sym, cnt, rank FROM (SELECT s AS sym, "
        "sum(freq)::BIGINT AS cnt, row_number() OVER "
        "(ORDER BY sum(freq) DESC, s) AS rank "
        f"FROM sym{t + 1} GROUP BY s) WHERE rank <= 20"
    )
    return with_part + extra


@q("bpe_tokenize", _duck_bpe_census_sql(_BPE_ROUNDS))
def bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the trained tokenizer: run the same merge rounds, apply
    the final merge too, and census the resulting subword vocabulary
    (top 20 by corpus-weighted count) — training and application
    sharing one greedy-merge kernel, the way a real tokenizer ships.
    The census is a map-side-combined groupBy over the distinct-word
    symbol table; the top-20 cut is deterministic (count desc, symbol
    asc) and compiles to TakeOrderedAndProject — per-partition top-k,
    never the full symbol census through one unpartitioned-Window task
    (the symbol domain is vocab-bounded but can be millions of rows at
    crawl scale); only the 20 survivors are then ranked."""
    from .functions import bpetrain

    docs = _read(spark, sf_dir, "documents")
    words = bpetrain.word_freq_table(docs)
    sym = bpetrain.initial_symbols(words).localCheckpoint(eager=True)
    merges = []
    for t in range(1, _BPE_ROUNDS + 1):
        top = bpetrain._top_pair(sym)
        if top is None:
            break
        a, b, _ = top
        merges.append((a, b))
        sym = bpetrain.apply_merge(sym, a, b).localCheckpoint(eager=True)
    top20 = (
        sym.groupBy(F.col("s").alias("sym"))
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("sym"))
        .limit(20)
    )
    # rank the 20 survivors zipWithIndex-style (coalesce + pinned sort
    # + consecutive ids in the single partition) — no Window at all, so
    # nothing for WindowExec to funnel or warn about
    return (
        top20.coalesce(1)
        .sortWithinPartitions(F.desc("cnt"), F.asc("sym"))
        .select(
            "sym",
            "cnt",
            (F.monotonically_increasing_id() + 1).cast("bigint").alias("rank"),
        )
    )


@q(
    "rewrite_encrypted",
    f"WITH exp AS (SELECT {URL_SQL} AS url, {PDF_LINES_SQL} AS flines "
    "FROM documents WHERE doc_id % 2 = 0) "
    "SELECT url, array_to_string(list_transform(range(1, len(flines) + 1), "
    "i -> CASE WHEN i <= 48 AND flines[i] = flines[1] "
    "THEN reverse(flines[i]) ELSE flines[i] END), chr(10)) AS text FROM exp",
)
def rewrite_encrypted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE path on ENCRYPTED originals under oracle: the same
    first-line-reversal as rewrite_roundtrip, but every input document
    is enciphered (R2/R3/R4/R6 cycling) — the rewrite must decrypt,
    splice, and RE-ENCRYPT the appended incremental update with the
    document's own security handler (§7.6.1), then re-extract to the
    oracle-recomputed text. Pins the cryptor-aware serializer at
    corpus scale."""
    from collections.abc import Iterator as _It

    import pandas as _pd

    enc = synthesize_encrypted_variant(spark, sf_dir)

    def rw(batches: "_It[_pd.DataFrame]") -> "_It[_pd.DataFrame]":
        from pdf_parser_spark.pdfcore.extract import extract_pdf
        from pdf_parser_spark.pdfcore.rewrite import replace_text

        for pdf in batches:
            urls, texts = [], []
            for url, payload in zip(pdf["url"], pdf["html"]):
                data = bytes(payload)
                r = extract_pdf(data)
                if r.items:
                    target = r.items[0][2]
                    rep = replace_text(data, target, target[::-1], page_num=0)
                    texts.append(extract_pdf(rep.data).text)
                else:
                    texts.append(r.text)
                urls.append(url)
            yield _pd.DataFrame({"url": urls, "text": texts})

    return enc.select("url", "html").mapInPandas(
        rw, schema="url STRING, text STRING"
    )


#: "short document" stratum cutoff for the LSH quality evaluation —
#: under 25 tokens a doc has ≤ 22 shingles, so several of the 8 OPH
#: slots are typically empty and densification choice actually matters.
_SHORT_TOKENS = 25


def _duck_lsh_quality_sql() -> str:
    lab = (
        "SELECT p.a_id, p.b_id, dl.short, (t.a_id IS NOT NULL) AS tp "
        "FROM {pairs} p "
        f"JOIN doclen dl ON dl.doc_id = p.a_id % {CLONE_OFFSET} "
        "LEFT JOIN truth t ON t.a_id = p.a_id AND t.b_id = p.b_id"
    )
    stats = (
        "SELECT '{m}' AS mode, 'all' AS stratum, "
        "(SELECT count(*) FROM truth)::BIGINT AS n_truth, "
        "count(*)::BIGINT AS n_candidates, "
        "(count(*) FILTER (WHERE tp))::BIGINT AS true_pos FROM lab_{s} "
        "UNION ALL SELECT '{m}', 'short', "
        "(SELECT count(*) FROM truth WHERE short)::BIGINT, "
        "(count(*) FILTER (WHERE short))::BIGINT, "
        "(count(*) FILTER (WHERE short AND tp))::BIGINT FROM lab_{s}"
    )
    return (
        f"WITH {_duck_sig_ctes()}, {_duck_dsig_cte()}, "
        f"{_duck_band_pair_ctes('sig', 'bands_n', 'pairs_n')}, "
        f"{_duck_band_pair_ctes('dsig', 'bands_r', 'pairs_r')}, "
        f"doclen AS (SELECT doc_id, len(toks) < {_SHORT_TOKENS} AS short "
        f"FROM tok WHERE doc_id < {CLONE_OFFSET}), "
        "truth AS (SELECT doc_id AS a_id, "
        f"doc_id + {CLONE_OFFSET} AS b_id, short FROM doclen), "
        f"lab_n AS ({lab.format(pairs='pairs_n')}), "
        f"lab_r AS ({lab.format(pairs='pairs_r')}), "
        f"stats AS ({stats.format(m='naive', s='n')} "
        f"UNION ALL {stats.format(m='rotation', s='r')}) "
        "SELECT mode, stratum, n_truth, n_candidates, true_pos, "
        "(100 * true_pos // greatest(n_candidates, 1))::INT AS precision_pct, "
        "(100 * true_pos // greatest(n_truth, 1))::INT AS recall_pct "
        "FROM stats"
    )


@q("dedup_lsh_quality", _duck_lsh_quality_sql())
def dedup_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup EVALUATION, not just execution: MinHash-LSH candidate
    pairs measured against the known clone ground truth (every doc has
    one 4/5-truncated near-duplicate), for BOTH densification modes
    (naive sentinel vs rotation, Shrivastava & Li 2014) and on two
    strata (all docs vs short docs under 25 tokens, where OPH slots go
    empty and naive densification makes unrelated short docs collide
    on mutually-empty bands). Emits precision/recall per (mode,
    stratum) — the quality dial (bands × rows × densification) a
    pipeline tunes before spending the verify-join budget at crawl
    scale. Counting is single-row conditional aggregates over the
    candidate/truth joins; rotation adds a pure projection, no new
    shuffle shape beyond the LSH itself."""
    docs = _read(spark, sf_dir, "documents")
    docs2 = _with_clones(docs, truncate=True)
    doclen = docs.select(
        "doc_id",
        (F.size(textstats.tokens("text")) < _SHORT_TOKENS).alias("short"),
    )
    truth = doclen.select(
        F.col("doc_id").alias("a_id"),
        (F.col("doc_id") + CLONE_OFFSET).alias("b_id"),
        "short",
    )
    nt = truth.agg(
        F.count("*").cast("bigint").alias("nt_all"),
        F.count(F.when(F.col("short"), 1)).cast("bigint").alias("nt_short"),
    )
    frames = []
    for mode in ("naive", "rotation"):
        pairs = dedup.lsh_candidate_pairs(
            docs2, num_hashes=8, bands=4, densify=mode
        )
        lab = pairs.join(
            doclen.select(F.col("doc_id").alias("base"), "short"),
            pairs["a_id"] % CLONE_OFFSET == F.col("base"),
        ).join(
            truth.select("a_id", "b_id", F.lit(True).alias("tp")),
            ["a_id", "b_id"],
            "left",
        )
        agg = lab.agg(
            F.count("*").cast("bigint").alias("nc_all"),
            F.count(F.when(F.col("short"), 1)).cast("bigint").alias("nc_short"),
            F.count(F.when(F.col("tp"), 1)).cast("bigint").alias("tp_all"),
            F.count(F.when(F.col("short") & F.col("tp"), 1))
            .cast("bigint")
            .alias("tp_short"),
        )
        both = nt.crossJoin(agg)
        frames.append(
            both.select(
                F.lit(mode).alias("mode"),
                F.lit("all").alias("stratum"),
                F.col("nt_all").alias("n_truth"),
                F.col("nc_all").alias("n_candidates"),
                F.col("tp_all").alias("true_pos"),
            ).unionAll(
                both.select(
                    F.lit(mode).alias("mode"),
                    F.lit("short").alias("stratum"),
                    F.col("nt_short").alias("n_truth"),
                    F.col("nc_short").alias("n_candidates"),
                    F.col("tp_short").alias("true_pos"),
                )
            )
        )
    stats = frames[0].unionAll(frames[1])
    return stats.select(
        "mode",
        "stratum",
        "n_truth",
        "n_candidates",
        "true_pos",
        (100 * F.col("true_pos") / F.greatest(F.col("n_candidates"), F.lit(1)))
        .cast("int")
        .alias("precision_pct"),
        (100 * F.col("true_pos") / F.greatest(F.col("n_truth"), F.lit(1)))
        .cast("int")
        .alias("recall_pct"),
    )


# --------------------------------------------------------------------------
# deterministic training order and upsampling

_ORDER_BUCKET_SQL = _MIX_BUCKET_SQL.replace("substr(h,", "substr(k,")


@q(
    "training_order",
    "WITH b AS (SELECT doc_id, "
    "md5(doc_id::VARCHAR || 'epoch0') AS k, "
    f"len({duck_toks('text')})::INT AS n_tokens FROM documents), "
    "s AS (SELECT doc_id, k, n_tokens, "
    f"(({_ORDER_BUCKET_SQL}) % 16)::INT AS shard FROM b) "
    f"SELECT {URL_SQL} AS url, shard, "
    "row_number() OVER (PARTITION BY shard ORDER BY k)::INT AS pos, "
    "n_tokens FROM s",
)
def training_order_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training order: seeded md5 permutation key + shard
    assignment from the same draw (sampling.training_order), position =
    rank within shard. The permutation is reproducible across engines
    and epochs (seed string), and the sort is PARTITIONED by shard —
    the writer shape at cluster scale is repartition(shard) +
    sortWithinPartitions(key), one exchange keyed on 16 shards, never
    a global total order."""
    from .functions import sampling as _sampling

    docs = _read(spark, sf_dir, "documents")
    ordered = _sampling.training_order(docs.select("doc_id", "text"))
    w = Window.partitionBy("shard").orderBy("shuffle_key")
    return ordered.select(
        F.expr(URL_SQL).alias("url"),
        "shard",
        F.row_number().over(w).alias("pos"),
        textstats.ws_token_count("text").alias("n_tokens"),
    )


@q(
    "upsample_repeat",
    "WITH b AS (SELECT doc_id, "
    "2 + CASE WHEN substr(md5(doc_id::VARCHAR || 'up'), 1, 4) < '4000' "
    "THEN 1 ELSE 0 END AS n_copies, "
    f"len({duck_toks('text')})::INT AS n_tokens FROM documents) "
    f"SELECT {URL_SQL} AS url, unnest(range(n_copies))::INT AS copy, "
    "n_tokens FROM b",
)
def upsample_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 2.25x upsampling (sampling.upsample): every doc
    twice, a hash-selected quarter of them three times — the data-
    recipe epoch-repeat op. Map-only explode of a per-row sequence; no
    RNG, no shuffle, copy counts stable under corpus growth."""
    from .functions import sampling as _sampling

    docs = _read(spark, sf_dir, "documents")
    up = _sampling.upsample(docs.select("doc_id", "text"), 2.25)
    return up.select(
        F.expr(URL_SQL).alias("url"),
        F.col("copy").cast("int").alias("copy"),
        textstats.ws_token_count("text").alias("n_tokens"),
    )
