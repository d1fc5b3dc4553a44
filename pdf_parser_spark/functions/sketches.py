"""Deterministic sketches: HyperLogLog distinct counts and Count-Min
frequencies.

Spark's own ``approx_count_distinct`` (HLL++) is the production
default, but its register layout is engine-private — no independent
system can replay it, so it cannot be oracle-checked. This module
builds HYPERLOGLOG (Flajolet et al. 2007) and COUNT-MIN (Cormode &
Muthukrishnan 2005) from the md5 primitive both engines share, so
every register and counter replays from ANSI SQL.

Scale shape: the per-group aggregation state is bounded by the sketch
(m = 4096 HLL registers, d·w Count-Min counters) no matter how many
distinct values stream through — the partial aggregate ships at most
that many rows per group across the shuffle, where an exact
count-distinct ships every distinct value. That bounded-state
property is the whole point of sketching at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --- HyperLogLog (Flajolet et al. 2007), md5-replayable -------------------
#
# p = 12 → m = 4096 registers; register value ρ = leading-zero count of
# the 52 hash bits after the bucket + 1, capped at RHO_CAP. The harmonic
# mean is summed in EXACT INTEGER arithmetic — Σ 2^-ρ is computed as
# Σ 2^(RHO_CAP-ρ) over bigints, scaled once at the end — because a
# floating-point Σ is order-dependent (Spark's partial-aggregate order
# is not deterministic) and would break oracle parity in the last ulp.
# RHO_CAP = 47 keeps the scaled sum ≤ 4096·2^46 + 4096·2^47 < 2^60;
# a register exceeding 47 requires 47 leading zero bits (P ≈ 2^-47 per
# value) — both engines apply the identical cap, so parity holds even
# in that astronomically rare case.

HLL_P = 12
HLL_M = 1 << HLL_P  # 4096 registers (first 3 md5 hex chars)
RHO_CAP = 47
# 0.7213/(1+1.079/m) · m² · 2^RHO_CAP, precomputed so both engines parse
# the same decimal literal instead of each deriving it in their own fp.
HLL_ALPHA_M2_SCALED = 1.7026729407717685e21

def hll_rho(hash_hex: Column) -> Column:
    """Register value ρ for a 32-char md5 hex: leading-zero count of
    bits 13..64 (hex chars 4..16) + 1, capped at RHO_CAP — pure string
    ops (no numeric hex parse), identical SQL in Spark and DuckDB."""
    w = F.substring(hash_hex, HLL_P // 4 + 1, 13)
    lz_hex = F.length(F.regexp_extract(w, "^0*", 0))
    first = F.substr(w, lz_hex + 1, F.lit(1))
    head = (
        F.when(first == "1", 3)
        .when(first.isin("2", "3"), 2)
        .when(first.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
    )
    return F.least(lz_hex * 4 + head + 1, F.lit(RHO_CAP)).cast("int")


def hll_registers(
    df: DataFrame, value_col: str, group_cols: list[str]
) -> DataFrame:
    """(group..., bucket, r) register rows — max ρ per bucket. max is
    associative/commutative/idempotent, so registers built over any
    partitioning of the data merge (by another max) into exactly the
    registers of the whole — the property that lets every executor
    sketch its split independently and a final reduce see the union."""
    h = F.md5(F.col(value_col).cast("string"))
    return (
        df.select(
            *[F.col(g) for g in group_cols],
            F.substring(h, 1, HLL_P // 4).alias("bucket"),
            hll_rho(h).alias("rho"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("r"))
    )


def _fold_registers(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    gb = regs.groupBy(*group_cols) if group_cols else regs.groupBy()
    return gb.agg(
        F.count("*").cast("int").alias("filled_registers"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {RHO_CAP} - r)"))
        .cast("bigint")
        .alias("_s"),
    )


def hll_estimate_expr(
    filled_col: str = "filled_registers", s_col: str = "_s"
) -> Column:
    """The HLL estimate from (filled register count, integer-scaled
    harmonic sum) — shared by the grouped sketch and the merge path so
    the formula exists exactly once."""
    z = F.lit(HLL_M) - F.col(filled_col)
    denom = F.col(s_col) + z.cast("bigint") * F.lit(1 << RHO_CAP).cast(
        "bigint"
    )
    raw = F.lit(HLL_ALPHA_M2_SCALED) / denom.cast("double")
    return F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (z > 0),
        F.round(
            F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / z.cast("double"))
        ),
    ).otherwise(F.round(raw))


def hll_distinct(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Per-group HyperLogLog distinct estimate next to the exact count.

    Two bounded aggregations: (group, bucket) → max ρ (at most m = 4096
    register rows per group survive the map-side combine, however many
    values stream through), then per group the integer-scaled harmonic
    mean with the standard small-range correction (linear counting over
    empty registers when the raw estimate ≤ 2.5m). Unlike Spark's
    builtin approx_count_distinct (HLL++, engine-private registers),
    every register here replays from ANSI SQL over md5.
    """
    totals = df.groupBy(group_col).agg(
        F.count("*").cast("bigint").alias("n_values"),
        F.countDistinct(value_col).cast("bigint").alias("exact_distinct"),
    )
    regs = hll_registers(df, value_col, [group_col])
    per_group = _fold_registers(regs, [group_col])
    est = hll_estimate_expr()
    return per_group.join(totals, group_col).select(
        group_col,
        "n_values",
        "filled_registers",
        est.cast("bigint").alias("est_distinct_hll"),
        "exact_distinct",
    )


def hll_merge_invariant(
    df: DataFrame, value_col: str, part_col: str
) -> DataFrame:
    """One row proving the sketch's distributive law ON THE DATA:
    registers built per ``part_col`` split and merged by max equal the
    registers of the whole, so the merged estimate equals the direct
    estimate bit-for-bit. This is the property that makes HLL work
    across executors, parquet files, and streaming micro-batches — the
    merge is a 4096-row max, not a re-scan.

    Output: (n_parts, est_direct, est_merged, merge_exact INT,
    exact_distinct)."""
    part_regs = hll_registers(df, value_col, [part_col])
    merged = _fold_registers(
        part_regs.groupBy("bucket").agg(F.max("r").alias("r")), []
    ).select(hll_estimate_expr().cast("bigint").alias("est_merged"))
    direct = _fold_registers(hll_registers(df, value_col, []), []).select(
        hll_estimate_expr().cast("bigint").alias("est_direct")
    )
    totals = df.agg(
        F.countDistinct(part_col).cast("int").alias("n_parts"),
        F.countDistinct(value_col).cast("bigint").alias("exact_distinct"),
    )
    return (
        totals.crossJoin(direct)
        .crossJoin(merged)
        .select(
            "n_parts",
            "est_direct",
            "est_merged",
            (F.col("est_merged") == F.col("est_direct"))
            .cast("int")
            .alias("merge_exact"),
            "exact_distinct",
        )
    )


# --- Count-Min sketch (Cormode & Muthukrishnan 2005) ----------------------
#
# Frequency estimation in d·w bounded state: d independent hash rows of
# w buckets; est(x) = min_j table[j][h_j(x)] ≥ true(x), with the
# overestimate bounded by the collision mass. Hash rows are derived
# from md5('<j>:' || value) and buckets stay HEX STRINGS (3 chars =
# 4096 buckets) — no numeric hex parse, so any ANSI-SQL engine replays
# the table bit-for-bit.

CM_DEPTH = 4
CM_BUCKET_HEX = 3  # 16^3 = 4096 buckets per row


def cm_bucket(value: Column, j: int) -> Column:
    return F.substring(
        F.md5(F.concat(F.lit(f"{j}:"), value.cast("string"))),
        1,
        CM_BUCKET_HEX,
    )


def count_min_table(df: DataFrame, value_col: str) -> DataFrame:
    """Build the sketch: (j, bucket, cnt) rows — at most CM_DEPTH·4096
    rows survive the map-side combine however large the input. The
    d-way replication happens AFTER the per-value pre-aggregation, so
    the exploded stream is |distinct| · d, not |rows| · d."""
    per_value = df.groupBy(value_col).agg(
        F.count("*").cast("bigint").alias("_c")
    )
    rows = per_value.select(
        F.col("_c"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        cm_bucket(F.col(value_col), j).alias("bucket"),
                    )
                    for j in range(CM_DEPTH)
                ]
            )
        ).alias("p"),
    )
    return rows.groupBy("p.j", "p.bucket").agg(
        F.sum("_c").cast("bigint").alias("cnt")
    )


def count_min_estimate(
    sketch: DataFrame, probes: DataFrame, value_col: str
) -> DataFrame:
    """Estimate each probe value's frequency: min over the d rows of
    its bucket counters. Probes broadcast (heavy-hitter candidate sets
    are small); the sketch side is at most d·4096 rows."""
    keyed = probes.select(
        F.col(value_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        cm_bucket(F.col(value_col), j).alias("bucket"),
                    )
                    for j in range(CM_DEPTH)
                ]
            )
        ).alias("p"),
    ).select(value_col, "p.j", "p.bucket")
    return (
        F.broadcast(keyed)
        .join(sketch, ["j", "bucket"])
        .groupBy(value_col)
        .agg(F.min("cnt").cast("bigint").alias("est_count"))
    )


# --- pure-Python register twins (streaming state + tests) ------------------
#
# The streaming operator keeps HLL registers AS ITS STATE (16 KB per
# key however many values stream through), updating them per
# micro-batch with exactly the same bucket/ρ/estimate rules as the SQL
# expressions above — hashlib.md5 and F.md5 agree byte-for-byte, so a
# streaming estimate equals the batch estimate over the same values.

_HEAD_BITS = {"1": 3, "2": 2, "3": 2, "4": 1, "5": 1, "6": 1, "7": 1}


def py_bucket_rho(value: str) -> tuple[int, int]:
    """(bucket index, ρ) for a value — the Python twin of
    (substring(md5,1,3), hll_rho)."""
    import hashlib

    h = hashlib.md5(value.encode("utf-8")).hexdigest()
    bucket = int(h[: HLL_P // 4], 16)
    w = h[HLL_P // 4 : HLL_P // 4 + 13]
    lz = len(w) - len(w.lstrip("0"))
    head = _HEAD_BITS.get(w[lz : lz + 1], 0)
    return bucket, min(4 * lz + head + 1, RHO_CAP)


def py_update_registers(regs: list[int], values) -> list[int]:
    """Fold values into a dense m-register list (mutates and returns)."""
    for v in values:
        b, rho = py_bucket_rho(v)
        if rho > regs[b]:
            regs[b] = rho
    return regs


def py_estimate(regs: list[int]) -> tuple[int, int]:
    """(filled_registers, estimate) from dense registers — integer-
    scaled harmonic mean + small-range correction, the exact twin of
    hll_estimate_expr."""
    import math

    filled = sum(1 for r in regs if r > 0)
    s = sum(1 << (RHO_CAP - r) for r in regs if r > 0)
    z = HLL_M - filled
    denom = s + z * (1 << RHO_CAP)
    raw = HLL_ALPHA_M2_SCALED / float(denom)
    if raw <= 2.5 * HLL_M and z > 0:
        est = round(float(HLL_M) * math.log(float(HLL_M) / z))
    else:
        est = round(raw)
    return filled, int(est)
