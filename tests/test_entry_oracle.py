"""Driver-contract gate replica: every queries() entry vs its DuckDB
oracle_sql() twin — row count, schema names, and order-insensitive
exact values — at sf0.001 (the driver runs the same compare at sf0.01).
"""

import duckdb
import numpy as np
import pandas as pd
import pytest

SF_DIR = "/root/testdata/sf0.001"
TABLES = ["documents"]


@pytest.fixture(scope="module")
def entry_mod():
    import __spark_entry__ as e

    return e


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(
        drop=True
    )


def _assert_match(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> None:
    assert sorted(sdf.columns) == sorted(odf.columns), name
    assert len(sdf) == len(odf), (name, len(sdf), len(odf))
    s, o = _canon(sdf), _canon(odf)
    for c in s.columns:
        if np.issubdtype(s[c].dtype, np.floating) or np.issubdtype(
            o[c].dtype, np.floating
        ):
            sa, oa = s[c].astype(float).to_numpy(), o[c].astype(float).to_numpy()
            ok = (sa == oa) | (np.isnan(sa) & np.isnan(oa))
            assert ok.all(), (name, c)
        else:
            assert (
                s[c].astype(str).to_numpy() == o[c].astype(str).to_numpy()
            ).all(), (name, c)


def test_entry_smoke(spark, entry_mod):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"url", "text"}


def test_every_query_matches_oracle(spark, entry_mod, duck):
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert len(qs) >= 30
    # every registered query has a DuckDB oracle (since r2 even the
    # audit surface is oracle-checked via its host-keyed rollup)
    assert [n for n in qs if n not in oracles] == []
    for name, fn in qs.items():
        sdf = fn(spark, SF_DIR).toPandas()
        if name not in oracles:
            assert len(sdf) > 0, name
            continue
        odf = duck.execute(oracles[name]).fetchdf()
        _assert_match(name, sdf, odf)
