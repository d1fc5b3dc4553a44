"""Self-test of the output checker: it must pass a correct output and
fail a deliberately corrupted one, for both check kinds.

    python3 perfbench/selftest.py

Needs no Spark: the "correct" outputs are built from the ground truth
(text checks) and from the DuckDB recomputation itself (crawl check).
Exits 0 when every expectation holds.
"""

from __future__ import annotations

import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import duckdb  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import corpus  # noqa: E402
import verify  # noqa: E402

SEQ_LEN = 2048


def _write_truth(d: str, workload: str, n: int) -> str:
    truth = corpus.generate(workload, seed=5, n_docs=n)["truth"]
    path = os.path.join(d, f"{workload}-truth.parquet")
    pq.write_table(pa.table(truth), path)
    return path


def _text_output(con, d: str, truth: str, name: str, corruption: str) -> str:
    out = os.path.join(d, name)
    os.makedirs(out)
    con.execute(
        f"COPY (SELECT url, {corruption} AS text, NULL::VARCHAR AS error "
        f"FROM read_parquet('{truth}') ORDER BY url) TO '{out}/part-0.parquet' (FORMAT PARQUET)"
    )
    return out


def main() -> int:
    failures = []

    def expect(label: str, failed: int, want_failed: bool) -> None:
        ok = (failed > 0) == want_failed
        print(f"{'ok  ' if ok else 'FAIL'} {label}: failed={failed}")
        if not ok:
            failures.append(label)

    scratch = os.path.join(os.path.dirname(HERE), ".perfbench")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as d:
        con = duckdb.connect()
        truth = _write_truth(d, "extract_text", 200)
        good = _text_output(con, d, truth, "good", "expected")
        expect("text: exact output", verify.check_text(con, good, truth)[1], False)
        bad = _text_output(
            con, d, truth, "bad",
            "CASE WHEN url = (SELECT min(url) FROM read_parquet('" + truth + "')) "
            "THEN expected || 'x' ELSE expected END",
        )
        expect("text: one doc's text altered", verify.check_text(con, bad, truth)[1], True)

        truth = _write_truth(d, "crawl_to_shards", 300)
        parsed = os.path.join(d, "parsed")
        os.makedirs(parsed)
        con.execute(
            f"COPY (SELECT NULL::VARCHAR AS error FROM read_parquet('{truth}')) "
            f"TO '{parsed}/part-0.parquet' (FORMAT PARQUET)"
        )
        oracle = verify.crawl_oracle_sql(truth, SEQ_LEN)
        for name, sql in (
            ("good_shards", f"SELECT * FROM ({oracle})"),
            ("bad_shards", f"SELECT * REPLACE (CASE WHEN doc_id = (SELECT max(doc_id) "
                           f"FROM ({oracle})) THEN token_start + 1 ELSE token_start END "
                           f"AS token_start) FROM ({oracle})"),
            ("short_shards", f"SELECT * FROM ({oracle}) WHERE doc_id <> "
                             f"(SELECT min(doc_id) FROM ({oracle}))"),
        ):
            out = os.path.join(d, name)
            os.makedirs(out)
            con.execute(f"COPY ({sql}) TO '{out}/part-0.parquet' (FORMAT PARQUET)")
        expect("crawl: oracle-equal shards",
               verify.check_crawl(con, os.path.join(d, "good_shards"), parsed, truth, SEQ_LEN)[1], False)
        expect("crawl: one token_start shifted",
               verify.check_crawl(con, os.path.join(d, "bad_shards"), parsed, truth, SEQ_LEN)[1], True)
        expect("crawl: one survivor missing",
               verify.check_crawl(con, os.path.join(d, "short_shards"), parsed, truth, SEQ_LEN)[1], True)
        con.close()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
