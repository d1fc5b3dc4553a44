"""Session set-up and the three benchmark jobs, built only from the
package's public entry points."""

from __future__ import annotations

import os
import time
import zipfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_parser_spark.engine.extractor import parse_webdocs
from pdf_parser_spark.engine.session import build_session
from pdf_parser_spark.functions import cleaning, dedup, filtering, packing

SEQ_LEN = 2048
MIN_JOBS = 3


def ship_package(spark: SparkSession, root: str, work: str) -> None:
    """Zip the package and add it to every Python worker's path, the way
    a cluster submission ships it."""
    zpath = os.path.join(work, "pdf_parser_spark.zip")
    pkg = os.path.join(root, "pdf_parser_spark")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, dirnames, filenames in os.walk(pkg):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            for name in filenames:
                if name.endswith(".py"):
                    full = os.path.join(dirpath, name)
                    zf.write(full, os.path.relpath(full, root))
    spark.sparkContext.addPyFile(zpath)


def _warmup_docs() -> list[tuple[str, bytes]]:
    from pdf_parser_spark.htmlcore.gen import text_to_html
    from pdf_parser_spark.pdfgen.writer import text_to_pdf

    docs = []
    for i in range(8):
        text = f"warm up {i}"
        payload = text_to_pdf(text) if i % 2 == 0 else text_to_html(text).encode()
        docs.append((f"https://warm.example.com/doc/{i}", payload))
    return docs


def start(root: str, work: str) -> tuple[SparkSession, dict]:
    """Session start, package ship, first tiny job; returns the session
    and the timings of each step."""
    t0 = time.perf_counter()
    spark = build_session(
        app_name="perfbench",
        extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")},
    )
    t1 = time.perf_counter()
    ship_package(spark, root, work)
    t2 = time.perf_counter()
    # one tiny parse per core: starts the Python workers and imports
    # the shipped package in each
    cores = spark.sparkContext.defaultParallelism
    warm = spark.createDataFrame(
        spark.sparkContext.parallelize(_warmup_docs(), cores), "url STRING, html BINARY"
    )
    parse_webdocs(warm, num_partitions=0).collect()
    t3 = time.perf_counter()
    return spark, {"start_s": t1 - t0, "ship_s": t2 - t1, "warmup_s": t3 - t2}


class Stages:
    """Wall-clock spans of a job's stages. ``traced=True`` materializes
    each stage's result (localCheckpoint), so each span holds only that
    stage's own work; untraced, stages stay lazy and the plan is the one
    a user would run."""

    def __init__(self, traced: bool = False):
        self.traced = traced
        self.spans: list[tuple[str, float, float]] = []
        #: materialized stage results, kept for counting after the job
        self.frames: dict[str, DataFrame] = {}

    @contextmanager
    def stage(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.perf_counter()))

    def materialize(self, df: DataFrame, name: str | None = None) -> DataFrame:
        if not self.traced:
            return df
        df = df.localCheckpoint(eager=True)
        if name:
            self.frames[name] = df
        return df


def extract_text(spark: SparkSession, inp: str, out: str, st: Stages) -> None:
    with st.stage("parse"):
        parsed = st.materialize(
            parse_webdocs(spark.read.parquet(inp), num_partitions=0).select(
                "url", "text", "error", "payload_bytes"
            )
        )
    with st.stage("sink"):
        parsed.write.mode("overwrite").parquet(out)


def pdf_hard(spark: SparkSession, inp: str, out: str, st: Stages) -> None:
    with st.stage("parse"):
        parsed = st.materialize(
            parse_webdocs(
                spark.read.parquet(inp), num_partitions=0, multibyte=True
            ).select("url", "text", "error", "n_pages", "spans")
        )
    with st.stage("sink"):
        parsed.write.mode("overwrite").parquet(out)


def crawl_to_shards(spark: SparkSession, inp: str, out: str, st: Stages) -> None:
    """Parse → paragraph dedup → Gopher rules + quality gate →
    MinHash-LSH + connected-components keeper election → sequence
    packing → parquet shards. The parse is written once and re-read
    (the single materialization point run_extraction uses); the filtered
    set is checkpointed because LSH and the keeper join both read it."""
    parsed_dir = out + ".parsed"
    with st.stage("parse"):
        # defaults, as run_extraction calls it: salted host repartition
        parse_webdocs(spark.read.parquet(inp)).select(
            F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("bigint").alias("doc_id"),
            F.regexp_extract("url", r"^[a-z]+://([^/]+)/", 1).alias("host"),
            "text",
            "error",
        ).write.mode("overwrite").parquet(parsed_dir)
        parsed = spark.read.parquet(parsed_dir)
    with st.stage("paragraph_dedup"):
        para = st.materialize(
            cleaning.paragraph_dedup(
                parsed.select(
                    "doc_id",
                    F.filter(F.split("text", "\n"), lambda p: p != "").alias(
                        "paras"
                    ),
                ),
                paras_col="paras",
            ),
            "paragraph_dedup",
        )
        clean = para.select(
            "doc_id",
            "clean_text",
            F.filter(F.split("clean_text", "\n\n"), lambda p: p != "").alias(
                "lines"
            ),
        )
    with st.stage("gopher"):
        gopher = st.materialize(
            filtering.gopher_rules(clean, lines_col="lines")
            .where("passes")
            .select("doc_id")
        )
    with st.stage("quality_gate"):
        gate = st.materialize(
            filtering.quality_gate(clean, text_col="clean_text", lang_col=None)
            .where("keep = 1")
            .select("doc_id")
        )
    with st.stage("filter_join"):
        kept = (
            clean.join(gopher, "doc_id")
            .join(gate, "doc_id")
            .select("doc_id", "clean_text")
            .localCheckpoint(eager=True)
        )
        if st.traced:
            st.frames["filters"] = kept
    with st.stage("lsh"):
        pairs = st.materialize(
            dedup.lsh_candidate_pairs(
                kept, text_col="clean_text", num_hashes=8, bands=4
            ),
            "lsh",
        )
    with st.stage("components"):
        labels = dedup.connected_components(pairs)
        dropped = labels.where("comp <> id").select(F.col("id").alias("doc_id"))
        survivors = st.materialize(
            kept.join(dropped, "doc_id", "left_anti").join(
                parsed.select("doc_id", "host"), "doc_id"
            ),
            "components",
        )
    with st.stage("pack"):
        placed = packing.pack_sequences(
            survivors, seq_len=SEQ_LEN, text_col="clean_text"
        )
        shards = st.materialize(
            placed.join(survivors.select("doc_id", "clean_text"), "doc_id"),
            "pack",
        )
    with st.stage("sink"):
        shards.write.mode("overwrite").parquet(out)


JOBS = {
    "extract_text": extract_text,
    "pdf_hard": pdf_hard,
    "crawl_to_shards": crawl_to_shards,
}


def run_jobs(
    spark, job, inp: str, out: str, seconds: float, traced: bool = False, min_jobs: int = MIN_JOBS
):
    """Run ``job`` until ``seconds`` have passed (at least ``min_jobs``
    times); returns per-run wall times and the last run's stages."""
    walls, stages = [], None
    t_end = time.perf_counter() + seconds
    while len(walls) < min_jobs or time.perf_counter() < t_end:
        stages = Stages(traced=traced)
        t0 = time.perf_counter()
        job(spark, inp, out, stages)
        walls.append(time.perf_counter() - t0)
    return walls, stages


def _hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root_pid: int) -> list[int]:
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
                parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
    out, frontier = [], [root_pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def memory(jvm_pid: int) -> dict:
    """VmHWM of the JVM and the sum over its Python worker descendants."""
    workers = _descendants(jvm_pid)
    return {
        "jvm_hwm_mib": _hwm_kib(jvm_pid) / 1024.0,
        "python_workers_hwm_mib": sum(_hwm_kib(p) for p in workers) / 1024.0,
        "python_workers": len(workers),
    }


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet part files under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return total, files


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}
