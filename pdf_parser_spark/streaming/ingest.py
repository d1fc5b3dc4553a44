"""Incremental ingestion via Structured Streaming.

:func:`streaming_extract_to_snapshots` is the continuous variant of the
batch extractor for always-arriving corpora: a file-source stream over
the webdocs table directory → the same extraction UDF → one snapshot-log
commit per micro-batch, the same durable output path as
``engine.snapshots.snapshot_resumable_extract``. New parquet files
dropped into the source directory (e.g. by a WARC unpacker) are
discovered, parsed once and committed; a restart resumes from the
checkpoint and skips every epoch the log already holds.

Design notes (scale):
- the extraction is IDENTICAL to the batch path (``parse_webdocs`` →
  ``mapInArrow``), and so is the commit (``SnapshotLog.commit_dataframe``):
  one kernel, one output path, no semantic drift;
- ``maxFilesPerTrigger`` bounds micro-batch size so one giant drop
  cannot OOM an executor wave;
- no shuffle inside the stream: salting matters for long-running batch
  scans, while a micro-batch is already small — per-file parallelism
  suffices. A hot-host burst is bounded by the trigger cap.

The rest of the module holds the stateful streaming operators
(watermarked windows, cross-batch dedup, per-host running state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..engine.corpus import WEBDOCS_SCHEMA
from ..engine.extractor import parse_webdocs


def streaming_extract_to_snapshots(
    spark: SparkSession,
    source_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 8,
    available_now: bool = False,
) -> StreamingQuery:
    """Extraction stream committing through the snapshot log — the
    exactly-once production sink shape (an Iceberg streaming write):
    each micro-batch lands as one transactional snapshot commit whose
    bucket id IS the epoch id.

    Exactly-once across failures: Structured Streaming may REPLAY an
    epoch after a crash (the checkpoint marks it incomplete even if the
    data write finished). The sink is idempotent against that — a
    replayed epoch whose bucket is already in the log (its manifest
    published, even if the pointer never advanced) is skipped, and
    an epoch killed between data write and manifest commit leaves
    invisible debris that the rewrite (mode=overwrite) replaces before
    the commit lands. So every row is visible exactly once, with
    per-epoch lineage metrics in the manifests for free.

    Epoch ids live in their own namespace: commits carry kind="epoch"
    and write ``data/epoch=<id>`` directories, so a log shared with
    :func:`snapshot_resumable_extract` (kind="extract",
    ``data/bucket=<b>``) can never clobber an extract bucket whose id
    matches an epoch, and neither side's resume mistakes the other's
    commits for its own."""
    from ..engine.snapshots import SnapshotLog

    log = SnapshotLog(output_dir)

    def commit_epoch(df: DataFrame, epoch_id: int) -> None:
        if epoch_id in log.committed_buckets(kind="epoch"):
            return  # replayed epoch: already durably committed
        log.commit_dataframe(df, int(epoch_id), kind="epoch")

    stream = (
        spark.readStream.schema(WEBDOCS_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(source_dir)
    )
    parsed = parse_webdocs(
        stream.select("url", "html"),
        num_partitions=0,
        emit_items=True,
        emit_spans=True,
    )
    writer = parsed.writeStream.foreachBatch(commit_epoch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# event-time windowed aggregation with watermarking (late-data handling)


def windowed_host_stats(
    stream: DataFrame,
    window_duration: str = "10 minutes",
    watermark_delay: str = "10 minutes",
    size_col: str = "html",
) -> DataFrame:
    """Tumbling event-time windows over the ingest stream, keyed by
    (window, host): doc counts + payload byte volume per host per
    window of ``warc_ts``. The watermark bounds state: a row arriving
    more than *watermark_delay* behind the max observed event time is
    dropped instead of reopening its window — the standard late-data
    policy for an unbounded crawl feed, and the mechanism that lets the
    window state store stay finite at 10^12-doc scale.

    Works unchanged on a BATCH webdocs frame (withWatermark is a no-op
    there) — the oracle-checked `windowed_host_stats` registry query
    runs exactly this over the synthesized corpus with
    ``size_col="text"`` (payload bytes aren't SQL-derivable)."""
    from pyspark.sql import functions as F

    return (
        stream.withWatermark("warc_ts", watermark_delay)
        .groupBy(
            F.window("warc_ts", window_duration).alias("win"),
            "host",
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length(size_col)).alias("bytes_in"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "host",
            "n_docs",
            "bytes_in",
        )
    )


def run_windowed_stats(
    spark: SparkSession,
    source_dir: str,
    query_name: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
    watermark_delay: str = "10 minutes",
):
    """Start the windowed-stats stream into an in-memory sink (APPEND
    mode: a window emits exactly once, when the watermark passes its
    end — and input rows older than the watermark are filtered before
    aggregation, the clean late-drop semantics; update mode would
    merge a late row into any still-live window state).
    ``maxFilesPerTrigger=1`` makes the watermark advance file-by-file,
    so late-data dropping is deterministic in tests.

    The memory sink cannot recover from a checkpoint — for
    restart-resume semantics point the same stats DataFrame at a
    parquet sink, as :func:`run_streaming_dedup` does."""
    stream = (
        spark.readStream.schema(WEBDOCS_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(source_dir)
    )
    stats = windowed_host_stats(stream, watermark_delay=watermark_delay)
    writer = (
        stats.writeStream.format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# cross-micro-batch exact dedup (watermark-bounded state)


def streaming_dedup(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "warc_ts",
    delay: str = "2 hours",
) -> DataFrame:
    """First-arriving row per content hash across micro-batches, via
    Spark's built-in ``dropDuplicatesWithinWatermark`` streaming state
    (Spark-first: the engine's dedicated streaming-dedup operator, not a
    hand-rolled state function). The first row of each md5(text) group
    is emitted immediately in append mode; later duplicates are
    suppressed while their hash is in state, and state entries are
    EVICTED once the event-time watermark passes them — so state is
    bounded by the duplicate-arrival window (*delay*), not by corpus
    size. A plain streaming ``dropDuplicates`` would grow state by one
    entry per distinct document forever — unusable on an unbounded
    crawl feed.

    Contract: duplicates separated by more than *delay* of event time
    may BOTH survive (the standard watermarked-dedup trade-off);
    downstream batch compaction (functions.dedup.exact_dedup) removes
    stragglers. The deterministic batch twin is
    :func:`first_seen_per_hash`, oracle-checked as the
    ``dedup_stream_twin`` registry query."""
    from pyspark.sql import functions as F

    hashed = stream.withColumn("content_hash", F.md5(F.col(text_col)))
    return hashed.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )


def first_seen_per_hash(
    df: DataFrame,
    text_col: str = "text",
    ts_col: str = "warc_ts",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic batch twin of :func:`streaming_dedup`: keep the
    (ts, id)-min row per content hash — exactly what the stream emits
    when arrival order follows event time. Hash-partitioned window (no
    global sort); the shuffle carries only the columns of *df*."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    hashed = df.withColumn("content_hash", F.md5(F.col(text_col)))
    w = Window.partitionBy("content_hash").orderBy(ts_col, id_col)
    return (
        hashed.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def run_streaming_dedup(
    spark: SparkSession,
    source_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
    delay: str = "2 hours",
):
    """Drive :func:`streaming_dedup` into a parquet sink (append mode,
    checkpointed — a restart resumes both source progress AND the
    dedup state store, so a duplicate arriving after a crash is still
    suppressed)."""
    stream = (
        spark.readStream.schema(WEBDOCS_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(source_dir)
    )
    deduped = streaming_dedup(stream, delay=delay).select(
        "doc_id", "url", "host", "warc_ts", "content_hash"
    )
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# custom stateful operator: applyInPandasWithState


STATE_SCHEMA = "total_docs BIGINT, total_bytes BIGINT"
TOTALS_SCHEMA = (
    "host STRING, batch_docs BIGINT, total_docs BIGINT, total_bytes BIGINT"
)


def stateful_host_totals(
    stream: DataFrame, dormant_timeout_ms: int | None = None
) -> DataFrame:
    """Running per-host totals across micro-batches via
    ``applyInPandasWithState`` — the arbitrary-stateful-operator path
    for semantics windows can't express (monotone running totals that
    survive across triggers and restarts through the checkpoint).

    State per host = (total_docs, total_bytes); each trigger emits one
    row per active host with the batch delta and the running totals.
    State is O(distinct ACTIVE hosts): with *dormant_timeout_ms* set, a
    host seen no new docs for that long (processing time) has its state
    EVICTED via ProcessingTimeTimeout — the crawl-scale memory bound
    for the long tail of one-visit hosts. An evicted host reappearing
    later restarts its totals from zero (the documented trade-off; keep
    the timeout above the revisit horizon you care about). Default
    ``None`` keeps state forever (exact totals, O(all hosts ever))."""

    def update(key, pdfs, state):
        import pandas as pd

        host = key[0]
        if dormant_timeout_ms is not None and state.hasTimedOut:
            # dormant-host eviction: drop the state, emit nothing
            state.remove()
            return
        batch_docs = 0
        batch_bytes = 0
        for pdf in pdfs:
            batch_docs += len(pdf)
            batch_bytes += int(pdf["html"].map(len).sum())
        if state.exists:
            total_docs, total_bytes = state.get
        else:
            total_docs, total_bytes = 0, 0
        total_docs += batch_docs
        total_bytes += batch_bytes
        state.update((total_docs, total_bytes))
        if dormant_timeout_ms is not None:
            state.setTimeoutDuration(dormant_timeout_ms)
        yield pd.DataFrame(
            {
                "host": [host],
                "batch_docs": [batch_docs],
                "total_docs": [total_docs],
                "total_bytes": [total_bytes],
            }
        )

    return (
        stream.select("host", "html")
        .groupBy("host")
        .applyInPandasWithState(
            update,
            outputStructType=TOTALS_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=(
                "NoTimeout"
                if dormant_timeout_ms is None
                else "ProcessingTimeTimeout"
            ),
        )
    )


def run_stateful_totals(
    spark: SparkSession,
    source_dir: str,
    query_name: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
    dormant_timeout_ms: int | None = None,
):
    """Drive ``stateful_host_totals`` into an in-memory sink. The state
    store is checkpointed per trigger, but the memory sink itself
    cannot recover — swap in a parquet/kafka sink (as in
    :func:`run_streaming_dedup`) to get restart-resume."""
    stream = (
        spark.readStream.schema(WEBDOCS_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(source_dir)
    )
    totals = stateful_host_totals(stream, dormant_timeout_ms=dormant_timeout_ms)
    writer = (
        totals.writeStream.format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# stateful sketch operator: cross-batch distinct estimate in bounded state


HLL_STATE_SCHEMA = "regs ARRAY<INT>"
HLL_OUT_SCHEMA = (
    "host STRING, batch_values BIGINT, filled_registers INT, "
    "est_distinct BIGINT"
)


def stateful_host_distinct(stream: DataFrame) -> DataFrame:
    """Running per-host DISTINCT-URL estimate across micro-batches with
    HyperLogLog registers as the ``applyInPandasWithState`` state — the
    bounded-state alternative to keeping every URL ever seen (an exact
    streaming distinct's state grows without limit; this is 4096 ints
    per host forever).

    Each trigger folds the batch's urls into the registers
    (``sketches.py_update_registers`` — the byte-identical Python twin
    of the SQL register rules, so a streaming estimate equals the batch
    ``sketches.hll_distinct`` over the same values) and emits the running
    estimate. Duplicate urls across batches are free: max is
    idempotent, so a re-crawled page never moves a register — the
    streaming analog of the `hll_merge` invariant.
    """
    from ..functions import sketches

    def update(key, pdfs, state):
        import pandas as pd

        host = key[0]
        regs = list(state.get[0]) if state.exists else [0] * sketches.HLL_M
        batch_values = 0
        for pdf in pdfs:
            batch_values += len(pdf)
            sketches.py_update_registers(regs, pdf["url"].tolist())
        state.update((regs,))
        filled, est = sketches.py_estimate(regs)
        yield pd.DataFrame(
            {
                "host": [host],
                "batch_values": [batch_values],
                "filled_registers": [filled],
                "est_distinct": [est],
            }
        )

    return (
        stream.select("host", "url")
        .groupBy("host")
        .applyInPandasWithState(
            update,
            outputStructType=HLL_OUT_SCHEMA,
            stateStructType=HLL_STATE_SCHEMA,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


def run_stateful_distinct(
    spark: SparkSession,
    source_dir: str,
    query_name: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
):
    """Drive ``stateful_host_distinct`` into an in-memory sink (same
    harness shape as ``run_stateful_totals``)."""
    stream = (
        spark.readStream.schema(WEBDOCS_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(source_dir)
    )
    est = stateful_host_distinct(stream)
    writer = (
        est.writeStream.format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
