"""Sequence packing: map documents onto fixed-length token sequences.

The tokenizer-export stage of a training pipeline: documents are
concatenated in a deterministic order and cut every ``seq_len`` tokens
(GPT-style concat-and-chunk), so each document gets a (sequence id,
offset) placement and a document may straddle a sequence boundary.

Scale shape: the placement is a running token prefix-sum. A single
global prefix-sum would serialize the corpus through one partition, so
packing runs per OUTPUT SHARD — the window partitions on
(host, shard) where ``shard`` is a deterministic doc-id residue. Shard
fanout bounds every window partition to ~1/n_shards of a host's
documents (the same bound an output-file-per-shard writer needs
anyway), which is what keeps the sort feasible when one host holds 40%
of the corpus. Sequence ids are therefore scoped to (host, shard);
global ids, when needed, come from the same per-partition-counts
broadcast the JSON sink uses (engine/sinks.py global_index).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .textstats import ident, ws_token_count_sql

__all__ = ["pack_sequences"]


def pack_sequences(
    df: DataFrame,
    seq_len: int = 2048,
    n_shards: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    host_col: str = "host",
    target_tokens_per_shard: int = 100_000_000,
) -> DataFrame:
    """Assign each document its packed position: output shard, running
    token start, sequence index within the shard, and offset within
    that sequence. Deterministic given (host, doc_id) order; one hash
    exchange + partition-scoped sort, no global sort.

    ``n_shards=None`` derives the shard count from the corpus token
    total (ceil(tokens / target_tokens_per_shard), floor 16 — one
    bounded agg job), so the per-(host, shard) prefix-sum window stays
    near *target_tokens_per_shard* as the corpus scales instead of
    growing linearly at a fixed 16. The derivation pays one extra scan
    for the total; at warehouse scale feed the total from table
    statistics instead (``derive_n_shards(stats_total, target)`` +
    explicit n_shards), which also pins the output-file layout.
    """
    i, h = ident(id_col), ident(host_col)
    toks = df.selectExpr(
        i, h, f"{ws_token_count_sql(ident(text_col))} AS n_tokens"
    )
    if n_shards is None:
        from .sampling import derive_n_shards

        total = toks.selectExpr("sum(n_tokens)").collect()[0][0] or 0
        n_shards = derive_n_shards(int(total), target_tokens_per_shard)
    w = (
        f"OVER (PARTITION BY {h}, shard ORDER BY {i} "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    # `div`, not `/`: float division would lose int64 exactness once
    # token_start exceeds 2^53 (a 10^12-doc corpus passes that)
    return (
        toks.selectExpr(i, h, f"CAST({i} % {n_shards} AS INT) AS shard", "n_tokens")
        .selectExpr(
            i, h, "shard", "n_tokens",
            f"CAST(sum(n_tokens) {w} - n_tokens AS BIGINT) AS token_start",
        )
        .selectExpr(
            "*",
            f"CAST(token_start div {seq_len} AS BIGINT) AS seq_id",
            f"CAST(token_start % {seq_len} AS INT) AS seq_offset",
        )
    )
