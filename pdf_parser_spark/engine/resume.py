"""Snapshot resume: re-run only uncommitted work after a failure.

North rule: "resumes from the last committed snapshot". Sandbox stand-in
for Iceberg snapshots: each completed partition-batch lands in a parquet
directory (atomic per-file commit); resume anti-joins the input against
the urls already present in the committed output, so a re-run processes
only the remainder and never duplicates a url.

On a real cluster this maps 1:1 to Iceberg: the committed-url scan is a
snapshot read, the append is a transactional commit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from .extractor import parse_webdocs


def committed_urls(spark: SparkSession, output_dir: str) -> DataFrame | None:
    """urls already present in the committed parsed table, else None."""
    try:
        return spark.read.parquet(f"{output_dir}/parsed").select("url")
    except AnalysisException:
        return None


def resumable_extract(
    spark: SparkSession,
    webdocs: DataFrame,
    output_dir: str,
) -> DataFrame:
    """Extract only not-yet-committed urls and append them.

    Returns the full committed parsed table after the run. Idempotent:
    a second call with the same input is a no-op (anti-join leaves
    nothing to do).
    """
    done = committed_urls(spark, output_dir)
    todo = webdocs
    if done is not None:
        todo = webdocs.join(done, "url", "left_anti")
    if todo.limit(1).count() > 0:
        parsed_new = parse_webdocs(todo)
        parsed_new.write.mode("append").parquet(f"{output_dir}/parsed")
    return spark.read.parquet(f"{output_dir}/parsed")


def batched_resumable_extract(
    spark: SparkSession,
    webdocs: DataFrame,
    output_dir: str,
    n_batches: int = 8,
    on_batch=None,
) -> DataFrame:
    """Extract in *n_batches* url-hash buckets, one transactional append
    per bucket — the sandbox analog of committing an Iceberg snapshot
    per batch. A crash (even SIGKILL mid-write: Spark's committer keeps
    in-flight output under ``_temporary``, which the parquet reader
    ignores) loses at most the in-flight batch; a re-run's anti-join
    sees every previously committed batch and processes only the rest.

    ``on_batch(i)`` fires after each commit (progress/kill hooks in the
    resume bench). The per-batch anti-join re-executes against the
    committed side, so that side is localCheckpointed ONCE (url column
    only — the narrow key set, never payloads); without it every batch
    re-scanned the committed parquet, which the resume bench measured
    as most of the overhead. At Iceberg scale the committed side is a
    snapshot metadata read (see engine/snapshots.py for that form)."""
    done = committed_urls(spark, output_dir)
    todo = webdocs
    if done is not None:
        done = done.localCheckpoint(eager=True)
        todo = webdocs.join(done, "url", "left_anti")
    bucket = F.pmod(F.xxhash64("url"), F.lit(n_batches))
    for b in range(n_batches):
        batch = todo.where(bucket == b)
        parse_webdocs(batch).write.mode("append").parquet(
            f"{output_dir}/parsed"
        )
        if on_batch is not None:
            on_batch(b)
    return spark.read.parquet(f"{output_dir}/parsed")
