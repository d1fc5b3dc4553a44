"""Output checks, run untimed after the timed jobs.

- ``extract_text`` / ``pdf_hard``: each doc's extracted text must equal
  the generator's ground truth, and its row must carry no error.
- ``crawl_to_shards``: DuckDB recomputes the whole pipeline from the
  ground-truth texts (paragraph dedup, Gopher rules, quality gate,
  MinHash-LSH, connected components, packing) and the written shards must
  equal that result row for row.

Each check returns ``(attempted, failed, detail)``; a doc counts as failed
when its row has an error or its output mismatches.

The SQL here is written apart from the package's own DuckDB oracles in
``queries.py`` so that a change to the program under test cannot change
what the benchmark accepts.
"""

from __future__ import annotations

import duckdb

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is"]
PUNCT = r"[.,;:!?]"


def _q(path: str) -> str:
    return "'" + path.replace("'", "''") + "'"


def check_text(con: duckdb.DuckDBPyConnection, out_dir: str, truth: str) -> tuple[int, int, dict]:
    """Per-doc text equality against ground truth, keyed on url."""
    row = con.execute(
        f"""
        WITH o AS (SELECT url, text, error FROM read_parquet({_q(out_dir + '/*.parquet')})),
             t AS (SELECT url, expected FROM read_parquet({_q(truth)}))
        SELECT
          (SELECT count(*) FROM t),
          (SELECT count(*) FROM o),
          count(*) FILTER (WHERE o.url IS NULL),
          count(*) FILTER (WHERE o.error IS NOT NULL),
          count(*) FILTER (WHERE o.url IS NOT NULL AND o.error IS NULL
                           AND o.text IS DISTINCT FROM t.expected)
        FROM t LEFT JOIN o USING (url)
        """
    ).fetchone()
    n_truth, n_out, missing, errors, mismatched = row
    extra = max(0, n_out - (n_truth - missing))
    failed = missing + errors + mismatched + extra
    return n_truth, failed, {
        "missing": missing,
        "error_rows": errors,
        "mismatched": mismatched,
        "extra_rows": extra,
    }


def _toks(col: str) -> str:
    # textstats.tokens: newline/tab folded to space, split on ' ', drop ''
    return (
        f"list_filter(string_split(replace(replace({col}, chr(10), ' '), "
        f"chr(9), ' '), ' '), x -> x <> '')"
    )


def _shingles(toks: str) -> str:
    return (
        f"list_transform(range(1, len({toks}) - 1), "
        f"i -> {toks}[i] || ' ' || {toks}[i + 1] || ' ' || {toks}[i + 2])"
    )


def _occ(word: str, col: str) -> str:
    padded = f"(' ' || lower(replace(replace({col}, chr(10), ' '), chr(9), ' ')) || ' ')"
    pat = f" {word} "
    return f"((length({padded}) - length(replace({padded}, '{pat}', ''))) // {len(pat)})"


def crawl_oracle_sql(truth: str, seq_len: int) -> str:
    """The crawl-to-shards result, recomputed from ground-truth texts."""
    stops = " + ".join(_occ(w, "clean_text") for w in STOPWORDS)
    slot = (
        "(((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 + "
        "(strpos('0123456789abcdef', substr(h, 2, 1)) - 1)) % 8)"
    )
    sigs = ", ".join(
        f"coalesce(min(h) FILTER (WHERE {slot} = {s}), '~empty') AS s{s}"
        for s in range(8)
    )
    bands = " UNION ALL ".join(
        f"SELECT doc_id, 'b{b}|' || s{2 * b} || '|' || s{2 * b + 1} AS band_key FROM sig"
        for b in range(4)
    )
    return f"""
    WITH RECURSIVE
    t AS (SELECT doc_id, host, expected AS text FROM read_parquet({_q(truth)})),
    p AS (
      SELECT doc_id, unnest(range(len(ps))) AS pos, unnest(ps) AS para
      FROM (SELECT doc_id, list_filter(string_split(text, chr(10)), x -> x <> '') AS ps FROM t)
    ),
    k AS (SELECT *, row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) = 1 AS keep FROM p),
    clean AS MATERIALIZED (
      SELECT doc_id,
             coalesce(string_agg(para, chr(10) || chr(10) ORDER BY pos) FILTER (WHERE keep), '')
               AS clean_text
      FROM k GROUP BY doc_id
    ),
    w AS (
      SELECT doc_id, clean_text, ls,
             flatten(list_transform(ls, x -> list_filter(string_split(x, ' '), y -> y <> ''))) AS ws
      FROM (SELECT doc_id, clean_text,
                   list_filter(string_split(clean_text, chr(10) || chr(10)), x -> x <> '') AS ls
            FROM clean)
    ),
    gopher AS (
      SELECT doc_id FROM w
      WHERE len(ws) BETWEEN 50 AND 100000
        AND (1000000 * list_sum(list_transform(ws, y -> length(y)))) // len(ws)
            BETWEEN 3000000 AND 10000000
        AND (1000000 * len(list_filter(ws, y -> regexp_matches(y, '[a-z]')))) // len(ws) >= 800000
        AND (1000000 * len(list_filter(ls, x -> starts_with(x, '- ')))) // len(ls) <= 150000
        AND (1000000 * len(list_filter(ls, x -> ends_with(x, '...')))) // len(ls) <= 95000
    ),
    q AS (
      SELECT doc_id, clean_text, len(toks) AS n_tokens, length(clean_text) AS n_chars,
             len(regexp_extract_all(clean_text, '{PUNCT}')) AS n_punct,
             ({stops}) AS n_stop,
             len(sh) AS ns, len(list_distinct(sh)) AS nd
      FROM (SELECT doc_id, clean_text, toks, {_shingles('toks')} AS sh
            FROM (SELECT doc_id, clean_text, {_toks('clean_text')} AS toks FROM clean))
    ),
    gate AS (
      SELECT doc_id FROM q
      WHERE n_tokens >= 10
        AND NOT ((ns - nd) * 5 > ns)
        AND n_tokens <= 100000 AND n_stop * 100 >= n_tokens * 2
        AND n_punct * 100 <= n_chars * 10
    ),
    kept AS MATERIALIZED (
      SELECT c.doc_id, c.clean_text FROM clean c
      JOIN gopher USING (doc_id) JOIN gate USING (doc_id)
    ),
    shin AS (
      SELECT doc_id, md5(unnest(list_distinct({_shingles('toks')}))) AS h
      FROM (SELECT doc_id, {_toks('clean_text')} AS toks FROM kept)
    ),
    sig AS (SELECT doc_id, {sigs} FROM shin GROUP BY doc_id),
    bands AS ({bands}),
    pairs AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    ue AS MATERIALIZED (SELECT a_id AS src, b_id AS dst FROM pairs UNION SELECT b_id, a_id FROM pairs),
    reach(id, comp) AS (
      SELECT src, src FROM ue
      UNION SELECT ue.dst, r.comp FROM reach r JOIN ue ON ue.src = r.id
    ),
    labels AS MATERIALIZED (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
    surv AS MATERIALIZED (
      SELECT k.doc_id, t.host, k.clean_text, len({_toks('k.clean_text')}) AS n_tokens
      FROM kept k JOIN t USING (doc_id) LEFT JOIN labels l ON l.id = k.doc_id
      WHERE coalesce(l.comp, k.doc_id) = k.doc_id
    ),
    n AS (SELECT greatest(16, ((coalesce(sum(n_tokens), 0) + 99999999) // 100000000))::BIGINT AS n_shards FROM surv),
    placed AS (
      SELECT doc_id, host, (doc_id % n_shards)::INT AS shard, n_tokens, clean_text,
             (sum(n_tokens) OVER (PARTITION BY host, doc_id % n_shards ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) - n_tokens)::BIGINT AS token_start
      FROM surv, n
    )
    SELECT doc_id, host, shard, n_tokens, token_start,
           (token_start // {seq_len})::BIGINT AS seq_id,
           (token_start % {seq_len})::INT AS seq_offset, clean_text
    FROM placed
    """


COLS = "doc_id, host, shard, n_tokens, token_start, seq_id, seq_offset, clean_text"


def check_crawl(
    con: duckdb.DuckDBPyConnection, out_dir: str, parsed_dir: str, truth: str, seq_len: int
) -> tuple[int, int, dict]:
    """Written shards vs the DuckDB recomputation, plus parse errors."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE oracle AS {crawl_oracle_sql(truth, seq_len)}")
    con.execute(
        f"CREATE OR REPLACE TEMP TABLE shards AS SELECT {COLS} "
        f"FROM read_parquet({_q(out_dir + '/*.parquet')})"
    )
    n_docs, errors = con.execute(
        f"SELECT (SELECT count(*) FROM read_parquet({_q(truth)})), "
        f"count(*) FILTER (WHERE error IS NOT NULL) "
        f"FROM read_parquet({_q(parsed_dir + '/*.parquet')})"
    ).fetchone()
    only_spark, only_oracle, survivors, tokens_spark, tokens_oracle = con.execute(
        f"""SELECT
          (SELECT count(*) FROM (SELECT {COLS} FROM shards EXCEPT ALL SELECT {COLS} FROM oracle)),
          (SELECT count(*) FROM (SELECT {COLS} FROM oracle EXCEPT ALL SELECT {COLS} FROM shards)),
          (SELECT count(*) FROM oracle),
          (SELECT coalesce(sum(n_tokens), 0) FROM shards),
          (SELECT coalesce(sum(n_tokens), 0) FROM oracle)"""
    ).fetchone()
    failed = errors + max(only_spark, only_oracle)
    return n_docs, failed, {
        "error_rows": errors,
        "rows_only_in_output": only_spark,
        "rows_only_in_oracle": only_oracle,
        "survivors": survivors,
        "packed_tokens": tokens_spark,
        "packed_tokens_oracle": tokens_oracle,
    }
