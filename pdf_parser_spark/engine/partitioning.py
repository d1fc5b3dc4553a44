"""Explicit skew handling: url-hash partitioning with per-host salting.

The north rule requires salting of skewed hosts to be explicit, not
delegated to AQE — AQE's skew handling only rewrites *joins*, it cannot
split a skewed partition feeding the ``mapInArrow`` extractor
(SURVEY.md §4.2).

Strategy (the cheap-pre-pass pattern from SURVEY.md §4.2): a host-count
aggregation (tiny shuffle over one string column — column pruning keeps
the binary payload out of it) sizes a salt map; each host gets
``ceil(count / target_docs_per_bucket)`` buckets; rows are then
repartitioned on ``(host, pmod(hash(url), buckets))`` so a hot host
spreads over many partitions while small hosts stay single-bucket.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def compute_salt_map(
    df: DataFrame, host_col: str = "host", target_docs_per_bucket: int | None = None
) -> dict[str, int]:
    """Host → number of salt buckets, for hosts that NEED salting.

    Pre-pass is a pruned groupBy-count, but only hosts whose count
    exceeds the per-bucket target are collected to the driver — every
    other host defaults to 1 bucket downstream (salted_repartition
    coalesces missing hosts to 1). A web corpus has tens of millions of
    distinct hosts; collecting all of them is an unbounded driver
    materialization. The skewed head is what matters, and it is small
    by definition (at most total/target hosts can exceed the target).
    """
    counts = df.groupBy(host_col).count()
    if target_docs_per_bucket is None:
        total = counts.agg(
            F.sum("count").alias("t")
        ).collect()[0]["t"] or 0
        n_part = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        # aim for ~2 buckets per shuffle partition across the whole corpus
        target_docs_per_bucket = max(1, total // (int(n_part) * 2) or 1)
    hot = counts.where(F.col("count") > target_docs_per_bucket).collect()
    return {
        r[host_col]: max(1, math.ceil(r["count"] / target_docs_per_bucket))
        for r in hot
    }


def salted_repartition(
    df: DataFrame,
    num_partitions: int,
    host_col: str = "host",
    url_col: str = "url",
    salt_map: dict[str, int] | None = None,
) -> DataFrame:
    """Repartition on (host, salt) with salt buckets sized by host volume."""
    if salt_map is None:
        salt_map = compute_salt_map(df, host_col)
    spark = df.sparkSession
    salt_df = F.broadcast(
        spark.createDataFrame(
            [(h, n) for h, n in salt_map.items()], schema=f"{host_col} STRING, n_buckets INT"
        )
    )
    salted = (
        df.join(salt_df, host_col, "left")
        .withColumn(
            "salt",
            F.pmod(F.xxhash64(F.col(url_col)), F.coalesce(F.col("n_buckets"), F.lit(1))),
        )
        .drop("n_buckets")
    )
    return salted.repartition(num_partitions, F.col(host_col), F.col("salt")).drop(
        "salt"
    )
