"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession


def _available_mem_gib() -> float:
    """MemAvailable from /proc/meminfo in GiB (0.0 when unreadable)."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) / (1024 * 1024)
    except OSError:
        pass
    return 0.0


def build_session(
    app_name: str = "pdf_parser_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Session with Arrow enabled, AQE on, and bounded Arrow batches.

    - ``spark.sql.execution.arrow.maxRecordsPerBatch`` is kept small
      because one row can carry a multi-MB binary payload (SURVEY.md
      §4.2 spill row): 256 docs × ~100 KB ≈ 25 MB per Arrow batch.
    - AQE handles runtime coalescing and relational skew joins; UDF
      input skew is handled explicitly by partitioning.salted_repartition
      (AQE cannot see inside a Python UDF — north rule).
    - ``spark.sql.codegen.cache.maxEntries`` (a static conf, read once
      per JVM) is raised from Spark's 100 to 1000 so that one job's
      generated classes stay cached across runs: the crawl job
      (parse → paragraph dedup → filters → LSH → components → packing)
      makes ~145 of them, so at 100 every run recompiled nearly all of
      them with Janino (~1 s of driver time); at 1000 a repeated job
      compiles nothing. ``spark.sql.codegen.useIdInClassName=false``
      drops the whole-stage id from generated class names, so the same
      stage code planned under another id (AQE numbers stages as they
      are re-planned) is a cache hit too (~145 → ~130 classes).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    # Shuffle/spill scratch: prefer tmpfs on RAM-rich nodes — the
    # sandbox's /tmp sits on a throttled virtual disk, and a multi-GB
    # payload shuffle serializes on it (observed: 8-core extraction
    # degraded 40% once shuffle volume exceeded ~2 GB). tmpfs spill
    # competes with executor heap for physical RAM, so only default to
    # /dev/shm when there is comfortable headroom (≥ 16 GiB available);
    # otherwise spill to plain disk. SPARK_GRAFT_LOCAL_DIR overrides
    # either way; on a real cluster point this at NVMe.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        if _available_mem_gib() >= 16.0:
            local_dir = "/dev/shm/spark-local"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # pin event-time semantics to UTC: pandas-side timestamps from
        # mapInPandas arrive tz-naive in the SESSION timezone — on a
        # non-UTC host that silently shifts warc_ts through any
        # naive-datetime round-trip (e.g. the WARC writer)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
        # stderr, not stdout: bench.py's contract is ONE JSON line on
        # stdout and this banner would prepend to it
        print(
            f"[pdf_parser_spark] spark.local.dir={local_dir}",
            file=sys.stderr,
            flush=True,
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
