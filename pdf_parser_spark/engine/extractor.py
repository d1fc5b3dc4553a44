"""Arrow-batched extraction UDF and the end-to-end pipeline.

``extract_batch_arrow`` is the engine's single UDTF-style extractor
(SURVEY.md §2.9), run through ``mapInArrow``: Arrow record batches of
(url, html[, host]) in, parsed rows out. Payload dispatch sniffs
``%PDF-`` magic vs markup (SURVEY.md §2.10). The parse is
projection-aware: span records (an array<struct> column) and decoded
items are computed only when the caller asks for them
(``emit_spans`` / ``emit_items``), so a text-only job pays neither the
kernel's span pass nor their transfer across the Arrow boundary.

Per-partition lineage (north rule): every row carries the Spark
partition id; the ``audit`` view aggregates docs/sec, byte volume and
parse-failure counts per partition without a second pass over payloads.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..htmlcore.extract import extract_html
from ..pdfcore.document import header_offset
from ..pdfcore.extract import extract_pdf
from .partitioning import salted_repartition

SPAN_STRUCT = (
    "page_no INT, seq INT, text STRING, x DOUBLE, y DOUBLE, "
    "font STRING, size DOUBLE, width DOUBLE"
)
ITEM_STRUCT = (
    "seq INT, page_no INT, font STRING, text STRING, "
    "encoded_hex STRING, instance_index INT"
)
PARSED_SCHEMA = (
    "url STRING, kind STRING, text STRING, n_pages INT, n_items INT, "
    f"n_spans INT, error STRING, parse_ms DOUBLE, payload_bytes BIGINT, "
    f"partition_id INT, fallback_pages INT, recovered INT, "
    f"spans ARRAY<STRUCT<{SPAN_STRUCT}>>, items ARRAY<STRUCT<{ITEM_STRUCT}>>"
)


def _sniff(payload: bytes) -> str:
    """``pdf`` when a line-start ``%PDF-`` header sits within the first
    1024 bytes (``pdfcore.document.header_offset``, the rule the PDF
    kernel parses by), else ``html``."""
    return "pdf" if header_offset(payload) >= 0 else "html"


# Per-document payload ceiling. At 10^12 crawled documents a handful of
# multi-GB rows WILL arrive (wrong content-length, tar bombs, video
# mislabeled as text/html); parsing one would balloon a single task's
# memory far past the executor's per-core budget and can fail the whole
# stage. Oversize rows short-circuit to an error row — lineage keeps the
# url and true byte count, the audit sink counts them, and the other
# rows in the batch are unaffected. Override per job with the
# parse_webdocs parameter; 0 disables the guard.
DEFAULT_MAX_PAYLOAD_BYTES = 64 * 1024 * 1024


def _arrow_schema():
    import pyarrow as pa

    span = pa.struct(
        [
            ("page_no", pa.int32()),
            ("seq", pa.int32()),
            ("text", pa.string()),
            ("x", pa.float64()),
            ("y", pa.float64()),
            ("font", pa.string()),
            ("size", pa.float64()),
            ("width", pa.float64()),
        ]
    )
    item = pa.struct(
        [
            ("seq", pa.int32()),
            ("page_no", pa.int32()),
            ("font", pa.string()),
            ("text", pa.string()),
            ("encoded_hex", pa.string()),
            ("instance_index", pa.int32()),
        ]
    )
    return pa.schema(
        [
            ("url", pa.string()),
            ("kind", pa.string()),
            ("text", pa.string()),
            ("n_pages", pa.int32()),
            ("n_items", pa.int32()),
            ("n_spans", pa.int32()),
            ("error", pa.string()),
            ("parse_ms", pa.float64()),
            ("payload_bytes", pa.int64()),
            ("partition_id", pa.int32()),
            ("fallback_pages", pa.int32()),
            ("recovered", pa.int32()),
            ("spans", pa.list_(span)),
            ("items", pa.list_(item)),
        ]
    )


def extract_batch_arrow(
    batches,
    emit_items: bool = True,
    emit_spans: bool = False,
    multibyte: bool = False,
    max_payload_bytes: int = DEFAULT_MAX_PAYLOAD_BYTES,
) -> Iterator:
    """mapInArrow body: (url, html[, ...]) batches → PARSED_SCHEMA batches.

    Builds each output RecordBatch column by column (flat span/item
    arrays + list offsets), never through per-row dicts. With
    ``emit_spans=False`` the kernel skips its span pass and ``spans``
    and ``n_spans`` are null on every row — "not computed", which an
    audit can tell apart from an empty list ("no spans"). With
    ``emit_items=False`` every ``items`` list is empty.
    """
    import pyarrow as pa

    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx is not None else -1
    schema = _arrow_schema()
    for batch in batches:
        urls = batch.column("url").to_pylist()
        payloads = batch.column("html").to_pylist()
        n = len(urls)
        kind_c, text_c, npages_c, nitems_c, nspans_c = [], [], [], [], []
        err_c, ms_c, bytes_c, fb_c, rec_c = [], [], [], [], []
        # spans/items as flat struct columns + list offsets
        offsets = [0]
        s_page, s_seq, s_text = [], [], []
        s_x, s_y, s_font, s_size, s_width = [], [], [], [], []
        i_offsets = [0]
        i_seq, i_page, i_font, i_text, i_hex, i_idx = [], [], [], [], [], []
        for payload in payloads:
            t0 = time.perf_counter()
            raw = bytes(payload) if payload is not None else b""
            kind = _sniff(raw)
            text, n_pages, n_items, error = "", 0, 0, None
            n_spans = fallback_pages = recovered = 0
            if max_payload_bytes and len(raw) > max_payload_bytes:
                error = (
                    f"PayloadTooLarge: {len(raw)} bytes > cap "
                    f"{max_payload_bytes}"
                )
            elif kind == "pdf":
                r = extract_pdf(raw, multibyte_cmaps=multibyte, spans=emit_spans)
                text, n_pages, n_items, error = r.text, r.n_pages, r.n_items, r.error
                n_spans = len(r.spans)
                fallback_pages = r.fallback_pages
                recovered = int(r.recovered)
                for s, pg in zip(r.spans, r.span_pages):
                    s_page.append(pg)
                    s_seq.append(s.seq)
                    s_text.append(s.text)
                    s_x.append(s.x)
                    s_y.append(s.y)
                    s_font.append(s.font)
                    s_size.append(s.size)
                    s_width.append(s.width)
                for i, (pno, font, itext, encoded, idx) in (
                    enumerate(r.items) if emit_items else ()
                ):
                    i_seq.append(i)
                    i_page.append(pno)
                    i_font.append(font)
                    i_text.append(itext)
                    i_hex.append(encoded.hex())
                    i_idx.append(idx)
            else:
                try:
                    text = extract_html(raw.decode("utf-8", errors="replace"))
                    n_items = text.count("\n") + 1 if text else 0
                except Exception as exc:  # html path must never kill a batch
                    error = f"{type(exc).__name__}: {exc}"
            offsets.append(len(s_seq))
            i_offsets.append(len(i_seq))
            kind_c.append(kind)
            text_c.append(text)
            npages_c.append(n_pages)
            nitems_c.append(n_items)
            nspans_c.append(n_spans)
            err_c.append(error)
            ms_c.append((time.perf_counter() - t0) * 1000.0)
            bytes_c.append(len(raw))
            fb_c.append(fallback_pages)
            rec_c.append(recovered)
        if emit_spans:
            span_struct = pa.StructArray.from_arrays(
                [
                    pa.array(s_page, pa.int32()),
                    pa.array(s_seq, pa.int32()),
                    pa.array(s_text, pa.string()),
                    pa.array(s_x, pa.float64()),
                    pa.array(s_y, pa.float64()),
                    pa.array(s_font, pa.string()),
                    pa.array(s_size, pa.float64()),
                    pa.array(s_width, pa.float64()),
                ],
                fields=list(schema.field("spans").type.value_type),
            )
            spans_col = pa.ListArray.from_arrays(
                pa.array(offsets, pa.int32()), span_struct
            )
            nspans_col = pa.array(nspans_c, pa.int32())
        else:
            spans_col = pa.nulls(n, schema.field("spans").type)
            nspans_col = pa.nulls(n, pa.int32())
        item_struct = pa.StructArray.from_arrays(
            [
                pa.array(i_seq, pa.int32()),
                pa.array(i_page, pa.int32()),
                pa.array(i_font, pa.string()),
                pa.array(i_text, pa.string()),
                pa.array(i_hex, pa.string()),
                pa.array(i_idx, pa.int32()),
            ],
            fields=list(schema.field("items").type.value_type),
        )
        items_col = pa.ListArray.from_arrays(
            pa.array(i_offsets, pa.int32()), item_struct
        )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(urls, pa.string()),
                pa.array(kind_c, pa.string()),
                pa.array(text_c, pa.string()),
                pa.array(npages_c, pa.int32()),
                pa.array(nitems_c, pa.int32()),
                nspans_col,
                pa.array(err_c, pa.string()),
                pa.array(ms_c, pa.float64()),
                pa.array(bytes_c, pa.int64()),
                pa.array([pid] * n, pa.int32()),
                pa.array(fb_c, pa.int32()),
                pa.array(rec_c, pa.int32()),
                spans_col,
                items_col,
            ],
            schema=schema,
        )


def _is_file_scan(df: DataFrame) -> bool:
    """True when ``df``'s optimized plan is only Project/Filter nodes
    over a file-backed relation, i.e. its partitions are the scan's own
    byte-range splits. ``inputFiles()`` cannot tell: a ``mapInArrow``
    over a parquet read reports the same files."""
    node = df._jdf.queryExecution().optimizedPlan()
    while node.getClass().getSimpleName() in ("Project", "Filter"):
        node = node.child()
    return (
        node.getClass().getSimpleName() == "LogicalRelation"
        and node.relation().getClass().getSimpleName() == "HadoopFsRelation"
    )


def parse_webdocs(
    webdocs: DataFrame,
    num_partitions: int | None = None,
    salt_map: dict[str, int] | None = None,
    emit_items: bool = False,
    emit_spans: bool = False,
    multibyte: bool = False,
    max_payload_bytes: int = DEFAULT_MAX_PAYLOAD_BYTES,
) -> DataFrame:
    """webdocs → parsed DataFrame (the single materialization point).

    Partitioning follows the input plan, because the parse is stateless
    and needs no co-location. With ``num_partitions=None`` (the default):

    - when the optimized plan of the slim ``(url, html[, host])``
      projection is only ``Project``/``Filter`` nodes over a file-backed
      relation, the kernel maps over the scan's own splits — no shuffle
      (byte-range splits already balance payload bytes, and at 10^12
      docs a shuffle would re-write the whole corpus once);
    - every other input (``mapInPandas``/``mapInArrow``-generated,
      cached, local, joined) gets an explicit repartition: salted
      (host, salt) when it has a ``host`` column, url-hash otherwise.
      A generated upstream can arrive as one giant partition, and AQE
      cannot split a skewed partition feeding a Python UDF.

    ``num_partitions=0`` always keeps the input's partitioning; a
    positive count always repartitions as in the second case. A
    downstream stage that groups by host shuffles on its own and does
    not need the parse to pre-partition for it.

    The salt-map pre-pass is a groupBy(host).count() — cheap (pruned
    column scan) on a real table, but it re-executes the whole upstream
    plan when webdocs is itself UDF-generated (column pruning cannot
    reach through a Python UDF). In that case pass ``salt_map``
    computed from a cheap side-channel (e.g. the source table's host
    column) to keep the pipeline single-pass.

    ``emit_items=True`` fills the ``items`` column with the decoded
    text items of each PDF (font, encoded hex, instance index per text
    op — what ``items_view`` explodes); off, every list is empty.

    ``emit_spans=True`` fills ``spans`` (the kernel's glyph-geometry
    records, what ``spans_view`` / ``clean_spans_view`` explode) and
    ``n_spans`` (read by ``audit_view`` / ``audit_by_host``). Off by
    default: the kernel skips its span pass and both columns are null
    — "not computed", not "no spans". The text is the same either way.

    ``multibyte=True`` enables the kernel's CID 2-byte CMap extension
    on every PDF in the batch (extract.extract_pdf multibyte_cmaps);
    off by default for reference-identical output.

    ``max_payload_bytes`` caps per-document payload size (default 64
    MiB, 0 disables): oversize rows become error rows
    (``PayloadTooLarge``) with url + true byte count preserved for the
    audit sink, instead of risking one mislabeled multi-GB crawl row
    failing a whole stage.

    For a scan-split parse, size ``spark.sql.files.maxPartitionBytes``
    so one split is a few MB of payloads (fine tasks absorb stragglers).
    """
    spark = webdocs.sparkSession
    cols = ["url", "html"] + (["host"] if "host" in webdocs.columns else [])
    slim = webdocs.select(*cols)
    if num_partitions is None:
        # A shuffle gets ~8 task waves per core slot, NOT one task per
        # slot: documents are grouped by (host, salt) buckets whose byte
        # sizes vary widely, so coarse tasks leave slots idle behind
        # stragglers (measured 1.66x wall at local[8] on 500k docs going
        # from 2 waves to 8). Fine granularity is also what a
        # 1000-executor cluster wants — task count should track total
        # cores, not the shuffle-partition config, which sizes
        # aggregation state.
        num_partitions = (
            0 if _is_file_scan(slim) else spark.sparkContext.defaultParallelism * 8
        )
    if num_partitions == 0:
        pass  # scan-parallel: keep the source's own splits
    elif "host" in slim.columns:
        slim = salted_repartition(slim, num_partitions, salt_map=salt_map)
    else:
        slim = slim.repartition(num_partitions, F.col("url"))
    # Span and decoded-item structs are opt-in (emit_spans /
    # emit_items): both columns are always in the schema, spans null
    # and items empty when disabled, so a text-only job neither runs
    # the kernel's span pass nor ships the structs back to the JVM.
    from functools import partial

    return slim.mapInArrow(
        partial(
            extract_batch_arrow,
            emit_items=emit_items,
            emit_spans=emit_spans,
            multibyte=multibyte,
            max_payload_bytes=max_payload_bytes,
        ),
        schema=PARSED_SCHEMA,
    )


def extracted_view(parsed: DataFrame) -> DataFrame:
    """extracted(url, text, ...) — prunes the spans/items arrays away."""
    return parsed.select(
        "url", "kind", "text", "n_pages", "n_items", "error"
    )


def spans_view(parsed: DataFrame) -> DataFrame:
    """spans(url, page_no, seq, text, x, y, font, size, width) exploded."""
    return parsed.select(
        "url", F.explode("spans").alias("s")
    ).select("url", "s.*")


def items_view(parsed: DataFrame) -> DataFrame:
    """Decoded text items exploded — the reference's per-element result
    dicts (api.py:189-195) as a relation: (url, seq, page_no, font,
    text, encoded_hex, instance_index). ``seq`` is the per-document
    content-stream ordinal; ``instance_index`` is the kernel's running
    per-distinct-text count (A1/F4), exposed so SQL can re-derive and
    verify it."""
    return parsed.select(
        "url", F.explode("items").alias("i")
    ).select("url", "i.*")


HOST_FROM_URL = r"^[a-z]+://([^/]+)/"


def audit_by_host(parsed: DataFrame) -> DataFrame:
    """Deterministic audit rollup keyed on host (derived from url) —
    the oracle-checkable twin of :func:`audit_view` (which keys on the
    runtime partition id for lineage). ``n_spans`` needs a parse with
    ``emit_spans=True``; otherwise it is null."""
    return (
        parsed.withColumn("host", F.regexp_extract("url", HOST_FROM_URL, 1))
        .groupBy("host")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_failures"),
            F.sum("n_spans").cast("bigint").alias("n_spans"),
            F.sum("n_items").cast("bigint").alias("n_items"),
            F.sum("fallback_pages").cast("bigint").alias("n_fallback_pages"),
        )
    )


def clean_spans_view(parsed: DataFrame) -> DataFrame:
    """Span records after the reference's geometry hygiene filters:

    - F2 ghost-rect filter (pdf_gui.py:743-745,867-869): drop spans
      with width < 1 or height < 1, or an origin at (0,0);
    - F3 rect dedup at 0.1 pt (pdf_gui.py:737-747): one span per
      rounded (x, y) position per url/page.

    Pure narrow operations — the dedup is a dropDuplicates on rounded
    keys, which Spark executes as a hash aggregate (map-side combined).
    """
    sp = spans_view(parsed)
    ghost = (
        (F.col("width") < 1)
        | (F.col("size") < 1)
        | ((F.col("x") < 1) & (F.col("y") < 1))
    )
    return (
        sp.where(~ghost)
        .withColumn("_rx", F.round("x", 1))
        .withColumn("_ry", F.round("y", 1))
        .dropDuplicates(["url", "page_no", "_rx", "_ry"])
        .drop("_rx", "_ry")
    )


def audit_view(parsed: DataFrame) -> DataFrame:
    """Per-partition lineage + metrics (north rule): docs, failures,
    bytes, wall parse time, docs/sec. ``n_spans`` is null unless the
    parse ran with ``emit_spans=True``."""
    return parsed.groupBy("partition_id").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("n_failures"),
        F.sum("payload_bytes").alias("bytes_in"),
        F.sum("n_spans").alias("n_spans"),
        F.sum("fallback_pages").alias("n_fallback_pages"),
        F.sum("parse_ms").alias("parse_ms_total"),
        (F.count("*") / (F.sum("parse_ms") / 1000.0)).alias("docs_per_sec"),
    )


def run_extraction(
    spark: SparkSession,
    webdocs: DataFrame,
    output_dir: str | None = None,
) -> dict[str, DataFrame]:
    """Full pipeline. With output_dir, materializes parsed→parquet once
    and derives the three views from the written table (single parse,
    columnar pruning on re-read); without, derives views lazily."""
    parsed = parse_webdocs(webdocs, emit_items=True, emit_spans=True)
    if output_dir:
        parsed.write.mode("overwrite").parquet(f"{output_dir}/parsed")
        parsed = spark.read.parquet(f"{output_dir}/parsed")
    return {
        "parsed": parsed,
        "extracted": extracted_view(parsed),
        "spans": spans_view(parsed),
        "audit": audit_view(parsed),
    }
