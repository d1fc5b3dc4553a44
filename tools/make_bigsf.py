"""Deterministically synthesize a larger scale factor from sf0.1.

The driver ships sf0.001/0.01/0.1 only; the r3 verdict asked for a
full-gate parity sweep at sf1.0 to catch cardinality-dependent drift
(VERDICT.md item 10). This tool replicates the one table the query
registry reads (documents) K times (default 10 → "sf1") with keys
remapped by a fixed stride so every id stays unique. No
randomness: run twice, get byte-identical parquet. Spark and the
DuckDB oracle then read the SAME files, so parity holds regardless of
how clone-heavy the replicated corpus is (10x exact clones is itself
a useful dedup stress shape).

Usage:
    python tools/make_bigsf.py [out_dir] [K] [src_dir]
defaults: /tmp/sfbig/sf1  10  /root/testdata/sf0.1
"""

from __future__ import annotations

import os
import sys

import duckdb

# key stride per table: > max key in sf0.1, round for readability
STRIDES = {"documents": 10_000}

REPLICATE_SQL = {
    "documents": (
        "SELECT doc_id + {off} AS doc_id, text, lang, source, n_chars "
        "FROM src"
    ),
}


def build(out_dir: str, k: int, src_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    for t, tmpl in REPLICATE_SQL.items():
        src = os.path.join(src_dir, f"{t}.parquet")
        con.execute(f"CREATE OR REPLACE VIEW src AS SELECT * FROM '{src}'")
        parts = " UNION ALL ".join(
            tmpl.format(off=i * STRIDES[t]) for i in range(k)
        )
        dest = os.path.join(out_dir, f"{t}.parquet")
        con.execute(
            f"COPY ({parts}) TO '{dest}' (FORMAT PARQUET, COMPRESSION ZSTD)"
        )
        n = con.execute(f"SELECT count(*) FROM '{dest}'").fetchone()[0]
        print(f"{t}: {n} rows -> {dest}")


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sfbig/sf1"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    src = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    build(out, k, src)
