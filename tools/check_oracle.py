"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, sorted
column names, and order-insensitive values. Exit code 1 on any
mismatch. Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

TABLES = ["documents"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    errs = []
    if sorted(sdf.columns) != sorted(odf.columns):
        return [f"schema: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"]
    if len(sdf) != len(odf):
        errs.append(f"rows: spark={len(sdf)} oracle={len(odf)}")
    s, o = canon(sdf), canon(odf)
    if len(s) == len(o):
        for c in s.columns:
            sv, ov = s[c], o[c]
            if np.issubdtype(sv.dtype, np.floating) or np.issubdtype(
                ov.dtype, np.floating
            ):
                sa = sv.astype(float).to_numpy()
                oa = ov.astype(float).to_numpy()
                both_nan = np.isnan(sa) & np.isnan(oa)
                neq = ~both_nan & (sa != oa)
                if neq.any():
                    i = int(np.argmax(neq))
                    errs.append(
                        f"col {c}: {int(neq.sum())} diffs, first "
                        f"spark={sa[i]!r} oracle={oa[i]!r} "
                        f"(maxabs={np.nanmax(np.abs(sa - oa))})"
                    )
            else:
                neq = sv.astype(str).to_numpy() != ov.astype(str).to_numpy()
                if neq.any():
                    i = int(np.argmax(neq))
                    errs.append(
                        f"col {c}: {int(neq.sum())} diffs, first "
                        f"spark={sv.iloc[i]!r} oracle={ov.iloc[i]!r}"
                    )
    return errs


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from pdf_parser_spark.engine.session import build_session

    spark = build_session("check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failed = []
    attempted = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        attempted += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:
            print(f"FAIL {name}: spark raised {type(exc).__name__}: {exc}")
            failed.append(name)
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(sdf)} rows, {t_spark:.1f}s)")
            if len(sdf) == 0:
                print(f"WARN {name}: 0 rows")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as exc:
            print(f"FAIL {name}: oracle raised {type(exc).__name__}: {exc}")
            failed.append(name)
            continue
        errs = compare(name, sdf, odf)
        if errs:
            print(f"FAIL {name} ({len(sdf)} rows, {t_spark:.1f}s):")
            for e in errs:
                print(f"   {e}")
            failed.append(name)
        else:
            print(f"PASS {name} ({len(sdf)} rows, {t_spark:.1f}s)")
    print(f"\n{attempted - len(failed)}/{attempted} ok; failed: {failed}")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
