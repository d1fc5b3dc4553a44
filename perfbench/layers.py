"""Per-layer metrics for ``--trace 1``.

Every layer is timed from outside, around calls into its public
functions; no package code changes:

- ``session``: start, package ship and warm-up of the one set-up.
- Spark side (scan, mapInArrow boundary, Exchange, operator spill, sink):
  the SQL status store's per-execution metrics for the last untraced job,
  summed over every execution the job ran.
- ``extractor``: percentiles of the ``parse_ms`` column over the corpus.
- ``pdfcore`` / ``htmlcore``: a single-process pass over a fixed sample of
  the corpus with the callables ``extract_pdf`` and ``extract_html`` call
  through wrapped by timers.
- Stage spans (``cleaning``/``filtering``/``dedup``/``packing``/``sink``):
  a traced job that materializes each stage.
- ``trace``: overhead of the traced job over the untraced one, and the
  traced wall time not covered by stage spans.
"""

from __future__ import annotations

import re
import statistics
import time

import pyarrow.dataset as ds

from jobs import Stages

KERNEL_SAMPLE = 600

_UNITS = {
    "ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_VALUE = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """SQL metric display string → number (ms for timings, bytes for
    sizes): ``'12,000'``, ``'23 ms'``, or ``'total (...)\\n9.9 s (...)'``."""
    line = text.split("\n")[-1].strip()
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def execution_ids(spark) -> list[int]:
    store = spark._jsparkSession.sharedState().statusStore()
    return [e.executionId() for e in _seq(store.executionsList())]


def spark_metrics(spark, since: int) -> dict:
    """Sum SQL metrics by (node kind, metric name) over executions with
    id > ``since``; count Exchange nodes."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    sums: dict[tuple[str, str], float] = {}
    n_exchange = n_exec = 0
    for eid in execution_ids(spark):
        if eid <= since:
            continue
        n_exec += 1
        values = {}
        it = store.executionMetrics(eid).iterator()
        while it.hasNext():
            kv = it.next()
            values[kv._1()] = kv._2()
        for node in _seq(store.planGraph(eid).allNodes()):
            name = node.name()
            if name == "Exchange":
                n_exchange += 1
            kind = name.split(" ")[0]
            for m in _seq(node.metrics()):
                raw = values.get(m.accumulatorId())
                if raw is not None:
                    key = (kind, m.name())
                    sums[key] = sums.get(key, 0.0) + parse_metric(raw)
    return {"sums": sums, "exchanges": n_exchange, "executions": n_exec}


def _sum(sums: dict, kind: str | None, metric: str) -> float:
    return sum(v for (k, m), v in sums.items() if m == metric and (kind is None or k == kind))


class _Timers:
    """Accumulated wall time and call counts per wrapped callable."""

    def __init__(self):
        self.ms: dict[str, float] = {}
        self.items: dict[str, int] = {}  # total length of list results
        self._restore: list = []

    def wrap(self, owner, attr: str, name: str, consume: bool = False) -> None:
        orig = getattr(owner, attr)

        def timed(*a, **kw):
            t0 = time.perf_counter()
            out = orig(*a, **kw)
            if consume and not isinstance(out, list):
                out = list(out)
            self.ms[name] = self.ms.get(name, 0.0) + (time.perf_counter() - t0) * 1e3
            if isinstance(out, list):
                self.items[name] = self.items.get(name, 0) + len(out)
            return out

        setattr(owner, attr, timed)
        self._restore.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()


def _run_kernel(payloads: list[bytes], multibyte: bool) -> dict:
    from pdf_parser_spark.htmlcore.extract import extract_html
    from pdf_parser_spark.pdfcore.extract import extract_pdf

    out = {"pdf_docs": 0, "html_docs": 0, "pdf_ms": 0.0, "html_ms": 0.0,
           "pages": 0, "spans": 0, "recovered": 0, "fallback_pages": 0, "kept_blocks": 0}
    for raw in payloads:
        t0 = time.perf_counter()
        if b"%PDF-" in raw[:1024]:
            r = extract_pdf(raw, multibyte_cmaps=multibyte)
            out["pdf_ms"] += (time.perf_counter() - t0) * 1e3
            out["pdf_docs"] += 1
            out["pages"] += r.n_pages
            out["spans"] += len(r.spans)
            out["recovered"] += int(r.recovered)
            out["fallback_pages"] += r.fallback_pages
        else:
            text = extract_html(raw.decode("utf-8", errors="replace"))
            out["html_ms"] += (time.perf_counter() - t0) * 1e3
            out["html_docs"] += 1
            out["kept_blocks"] += text.count("\n") + 1 if text else 0
    return out


def kernel_pass(payloads: list[bytes], multibyte: bool) -> dict:
    """One warm-up pass, one plain timed pass (kernel docs/s), one pass
    with every kernel stage wrapped."""
    import pdf_parser_spark.htmlcore.extract as hx
    import pdf_parser_spark.pdfcore.extract as px
    from pdf_parser_spark.pdfcore.document import PdfDocument

    _run_kernel(payloads, multibyte)
    t0 = time.perf_counter()
    _run_kernel(payloads, multibyte)
    plain_s = time.perf_counter() - t0
    timers = _Timers()
    try:
        timers.wrap(px, "PdfDocument", "document")
        timers.wrap(PdfDocument, "pages", "pages")
        timers.wrap(PdfDocument, "page_content_bytes", "content")
        timers.wrap(px, "extract_text_items", "text_items", consume=True)
        timers.wrap(px, "extract_spans", "spans", consume=True)
        timers.wrap(px, "fallback_sweep", "fallback")
        timers.wrap(hx, "html_blocks", "blocks")
        counts = _run_kernel(payloads, multibyte)
    finally:
        timers.restore()
    blocks = timers.items.get("blocks", 0)
    n_pdf, n_html = max(1, counts["pdf_docs"]), max(1, counts["html_docs"])
    ms = timers.ms
    stage_ms = sum(ms.get(k, 0.0) for k in ("document", "pages", "content", "text_items", "spans", "fallback"))
    return {
        "kernel.docs_per_s": len(payloads) / plain_s,
        "pdfcore.document_ms": ms.get("document", 0.0) / n_pdf,
        "pdfcore.pages_ms": ms.get("pages", 0.0) / n_pdf,
        "pdfcore.content_ms": ms.get("content", 0.0) / n_pdf,
        "pdfcore.text_items_ms": ms.get("text_items", 0.0) / n_pdf,
        "pdfcore.spans_ms": ms.get("spans", 0.0) / n_pdf,
        "pdfcore.fallback_ms": ms.get("fallback", 0.0) / n_pdf,
        "pdfcore.other_ms": max(0.0, counts["pdf_ms"] - stage_ms) / n_pdf,
        "pdfcore.pages": counts["pages"] / n_pdf,
        "pdfcore.spans": counts["spans"] / n_pdf,
        "pdfcore.recovered_docs": counts["recovered"],
        "pdfcore.fallback_pages": counts["fallback_pages"],
        "htmlcore.blocks_ms": ms.get("blocks", 0.0) / n_html,
        "htmlcore.blocks": blocks / n_html,
        "htmlcore.kept_block_frac": counts["kept_blocks"] / max(1, blocks),
    }, {"sample_docs": len(payloads), "pdf_docs": counts["pdf_docs"],
        "html_docs": counts["html_docs"], "wrapped_pass_ms": counts["pdf_ms"] + counts["html_ms"],
        "plain_pass_s": plain_s}


def _percentile(sorted_vals: list[float], q: float) -> float:
    if not sorted_vals:
        return 0.0
    i = min(len(sorted_vals) - 1, max(0, int(round(q * (len(sorted_vals) - 1)))))
    return sorted_vals[i]


def parse_ms(spark, inp: str, workload: str) -> list[float]:
    from pdf_parser_spark.engine.extractor import parse_webdocs

    df = parse_webdocs(spark.read.parquet(inp), num_partitions=0, multibyte=workload == "pdf_hard")
    return sorted(r[0] for r in df.select("parse_ms").collect())


def crawl_counts(frames: dict, seq_len: int) -> dict:
    from pyspark.sql import functions as F

    para = frames["paragraph_dedup"].agg(
        F.sum("n_kept"), F.sum("n_dropped"), F.count("*")
    ).first()
    kept_paras, dropped_paras, docs_in = (int(x or 0) for x in para)
    filtered = frames["filters"].count()
    pairs = frames["lsh"].count()
    survivors = frames["components"].count()
    pack = frames["pack"].groupBy("host", "shard").agg(
        F.sum("n_tokens").alias("t")
    ).agg(
        F.sum("t"), F.sum(F.ceil(F.col("t") / F.lit(seq_len)))
    ).first()
    tokens, seqs = int(pack[0] or 0), int(pack[1] or 0)
    return {
        "cleaning.paragraph_drop_frac": dropped_paras / max(1, kept_paras + dropped_paras),
        "filtering.keep_frac": filtered / max(1, docs_in),
        "dedup.pairs_per_doc": pairs / max(1, filtered),
        "dedup.drop_frac": (filtered - survivors) / max(1, filtered),
        "packing.fill_frac": tokens / max(1, seqs * seq_len),
    }, {
        "paragraphs_kept": kept_paras, "paragraphs_dropped": dropped_paras,
        "docs_into_filters": docs_in, "docs_after_filters": filtered,
        "lsh_pairs": pairs, "survivors": survivors,
        "packed_tokens": tokens, "sequences": seqs, "seq_len": seq_len,
    }


# per-layer metric (by name prefix) → (end-to-end metric it should move,
# workload where it moves most); the longest matching prefix wins
MOVES = {
    "session.": ("setup_s", "all"),
    "arrow.python_init_ms": ("setup_s", "all"),
    "arrow.python_boot_ms": ("setup_s", "all"),
    "scan.": ("docs_per_s", "extract_text"),
    "arrow.": ("docs_per_s", "extract_text"),
    "extractor.doc_ms_p50": ("docs_per_s", "extract_text"),
    "extractor.doc_ms_p99": ("job_s", "extract_text"),
    "kernel.": ("docs_per_s", "extract_text"),
    "pdfcore.": ("docs_per_s", "extract_text"),
    "htmlcore.": ("docs_per_s", "extract_text"),
    "exchange.": ("job_s", "crawl_to_shards"),
    "cleaning.": ("job_s", "crawl_to_shards"),
    "filtering.": ("job_s", "crawl_to_shards"),
    "dedup.": ("job_s", "crawl_to_shards"),
    "packing.": ("job_s", "crawl_to_shards"),
    "sink.": ("out_bytes_per_in_byte", "all"),
    "mem.": ("peak_rss_mb", "all"),
    "trace.": ("none: tracing health", "all"),
}


def moves(name: str) -> tuple[str, str]:
    return MOVES[max((p for p in MOVES if name.startswith(p)), key=len)]


STAGE_METRICS = {
    "paragraph_dedup": "cleaning.paragraph_dedup_s",
    "gopher": "filtering.gopher_s",
    "quality_gate": "filtering.quality_gate_s",
    "lsh": "dedup.lsh_s",
    "components": "dedup.components_s",
    "pack": "packing.pack_s",
    "sink": "sink.write_s",
}
FUNCTION_RATIOS = (
    "cleaning.paragraph_drop_frac", "filtering.keep_frac", "dedup.pairs_per_doc",
    "dedup.drop_frac", "packing.fill_frac",
)


def per_layer(spark, workload, job, inp, out, seconds, setup, jvm_pid):
    """Returns (metrics, report) for ``--trace 1``."""
    from jobs import SEQ_LEN, dir_bytes, memory, metric, run_jobs

    n_cores = spark.sparkContext.defaultParallelism
    # untraced: one cold job, then the jobs whose Spark metrics are read
    walls, _ = run_jobs(spark, job, inp, out, 0.0, min_jobs=1)
    since = max(execution_ids(spark) or [-1])
    warm, _ = run_jobs(spark, job, inp, out, seconds / 2, min_jobs=2)
    walls += warm
    sm = spark_metrics(spark, since)
    per_job = 1.0 / len(warm)
    sm["sums"] = {k: v * per_job for k, v in sm["sums"].items()}
    untraced_s = statistics.median(warm)
    mean_warm_s = sum(warm) / len(warm)
    sink_bytes, sink_files = dir_bytes(out)
    traced_walls, stages = run_jobs(spark, job, inp, out, seconds / 2, traced=True, min_jobs=2)
    traced_s = statistics.median(traced_walls)
    last_traced = traced_walls[-1]
    spans = {name: t1 - t0 for name, t0, t1 in stages.spans}
    counts, count_detail = (
        crawl_counts(stages.frames, SEQ_LEN) if workload == "crawl_to_shards"
        else ({k: 0.0 for k in FUNCTION_RATIOS}, {})
    )
    doc_ms = parse_ms(spark, inp, workload)
    mem = memory(jvm_pid)
    table = ds.dataset(inp, format="parquet").to_table(columns=["html"])
    sample = [bytes(b) for b in table.column("html").to_pylist()[:KERNEL_SAMPLE]]
    kernel, kernel_detail = kernel_pass(sample, multibyte=workload == "pdf_hard")

    s = sm["sums"]
    python_run_ms = _sum(s, "MapInArrow", "time to run Python workers")
    values = {
        "session.start_s": (setup["start_s"], "s"),
        "session.ship_s": (setup["ship_s"], "s"),
        "session.warmup_s": (setup["warmup_s"], "s"),
        "scan.time_ms": (_sum(s, None, "scan time"), "ms"),
        "scan.bytes": (_sum(s, None, "size of files read"), "B"),
        "arrow.python_run_ms": (python_run_ms, "ms"),
        "arrow.python_init_ms": (_sum(s, "MapInArrow", "time to initialize Python workers"), "ms"),
        "arrow.python_boot_ms": (_sum(s, "MapInArrow", "time to start Python workers"), "ms"),
        "arrow.bytes_sent": (_sum(s, "MapInArrow", "data sent to Python workers"), "B"),
        "arrow.bytes_received": (_sum(s, "MapInArrow", "data returned from Python workers"), "B"),
        "arrow.rows_received": (_sum(s, "MapInArrow", "number of output rows"), "count"),
        "arrow.worker_busy_frac": (python_run_ms / (mean_warm_s * 1e3 * n_cores), "ratio"),
        "extractor.doc_ms_p50": (_percentile(doc_ms, 0.50), "ms"),
        "extractor.doc_ms_p99": (_percentile(doc_ms, 0.99), "ms"),
        "exchange.count": (sm["exchanges"] * per_job, "count"),
        "exchange.write_bytes": (_sum(s, None, "shuffle bytes written"), "B"),
        "exchange.write_ms": (_sum(s, None, "shuffle write time"), "ms"),
        "exchange.fetch_wait_ms": (_sum(s, None, "fetch wait time"), "ms"),
        "exchange.spill_bytes": (_sum(s, None, "spill size"), "B"),
        "sink.bytes": (sink_bytes, "B"),
        "sink.files": (sink_files, "count"),
        "mem.jvm_hwm_mb": (mem["jvm_hwm_mib"], "MiB"),
        "mem.python_workers_hwm_mb": (mem["python_workers_hwm_mib"], "MiB"),
        "trace.overhead_frac": (traced_s / untraced_s - 1.0, "ratio"),
        "trace.unexplained_s": (last_traced - sum(spans.values()), "s"),
    }
    for stage, name in STAGE_METRICS.items():
        values[name] = (spans.get(stage, 0.0), "s")
    for name in FUNCTION_RATIOS:
        values[name] = (counts[name], "ratio")
    for name, v in kernel.items():
        unit = "ms" if name.endswith("_ms") else "1/s" if name.endswith("per_s") else (
            "ratio" if name.endswith("frac") else "count")
        values[name] = (v, unit)
    metrics = {k: metric(float(v), u) for k, (v, u) in values.items()}
    report = {
        "job_s_untraced_runs": walls,
        "job_s_traced_runs": traced_walls,
        "stage_spans_s": spans,
        "trace.overhead_frac": {"traced_job_s": traced_s, "untraced_job_s": untraced_s},
        "trace.unexplained_s": {"traced_wall_s": last_traced, "stage_spans_sum_s": sum(spans.values())},
        "arrow.worker_busy_frac": {"python_run_ms": python_run_ms, "job_ms": mean_warm_s * 1e3, "cores": n_cores},
        "spark_metrics_jobs": len(warm),
        "spark_executions_per_job": sm["executions"] * per_job,
        "parse_ms_docs": len(doc_ms),
        "kernel": kernel_detail,
        "functions": count_detail,
        "memory": mem,
        "moves": {name: moves(name) for name in metrics},
    }
    return metrics, report
