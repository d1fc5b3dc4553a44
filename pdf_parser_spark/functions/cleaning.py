"""Corpus-cleaning operators: line-level dedup, decontamination, NFC.

The post-extraction cleanup stages a Common-Crawl training pipeline
runs between extraction and tokenization (cf. CCNet's per-paragraph
dedup and Dolma/DCLM benchmark decontamination; public pipeline
descriptions only — everything here is built from pyspark.sql
primitives):

- ``line_dedup``: cross-document frequent-line removal. Lines whose
  corpus-wide document frequency reaches a threshold are boilerplate
  (nav bars, cookie banners, footers) and are struck from every
  document; the surviving lines are reassembled in order. The frequent
  set is tiny relative to the corpus (boilerplate is by definition
  repeated), so it BROADCASTS and the corpus side is never shuffled by
  the join — the only wide exchange is the per-line count and the
  final per-document reassembly.
- ``paragraph_dedup``: cross-document FIRST-OCCURRENCE paragraph
  dedup (the Falcon/RefinedWeb recipe). Unlike ``line_dedup``'s
  frequency threshold, every exact paragraph occurrence except the
  globally first one is struck — even a paragraph shared by just two
  documents loses its second copy. The keeper table is one row per
  DISTINCT paragraph (corpus-sized — it cannot broadcast), so both
  sides shuffle once on md5(paragraph) for an equi-join; only
  (hash, doc, pos) triples move in the keeper shuffle, never the
  paragraph bytes.
- ``decontaminate``: n-gram-overlap flagging of documents that quote a
  benchmark/eval set. The benchmark shingle table is small (even "all
  public benchmarks" is millions of rows, not billions) and
  broadcasts; the corpus streams through one exploded-shingle pass.
- ``nfc_normalize_col``: Unicode NFC via an Arrow-batched pandas UDF
  (Spark has no built-in normalizer; unicodedata is stdlib and the
  batch transfer keeps it off the per-row slow path).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import ident

__all__ = [
    "wrap_chunks",
    "line_dedup",
    "benchmark_shingles",
    "decontaminate",
    "nfc_normalize_col",
    "MOJIBAKE_PAIRS",
    "mojibake_count",
    "demojibake",
]

# UTF-8 bytes misread as cp1252 — the dominant encoding damage in web
# crawls (ftfy's core case). Artifacts are DERIVED (not hand-typed —
# the cp1252 renderings are visually confusable): each repaired char's
# UTF-8 bytes decoded as cp1252. All chosen chars map cleanly.
_MOJIBAKE_CHARS = "éèäöüñçáóúï—–’“…"
MOJIBAKE_PAIRS: list[tuple[str, str]] = [
    (ch.encode("utf-8").decode("cp1252"), ch) for ch in _MOJIBAKE_CHARS
]


def mojibake_count(col: Column | str) -> Column:
    """Occurrences of known UTF-8-as-cp1252 artifacts, as a pure string
    expression: Σ (len(s) − len(replace(s, artifact))) / len(artifact).
    Substring counting (no regex) so both engines agree bit-for-bit —
    regex '.'-vs-unicode semantics differ between engines; replace()
    does not. Zero exchanges; one pass per artifact."""
    c = F.col(col) if isinstance(col, str) else col
    total = F.lit(0)
    for bad, _good in MOJIBAKE_PAIRS:
        total = total + (
            F.length(c) - F.length(F.replace(c, F.lit(bad)))
        ) / F.lit(len(bad))
    return total.cast("int")


def demojibake(col: Column | str) -> Column:
    """Repair the fixed artifact list by sequential replacement in list
    order. The order matters in pathological inputs (a replacement can
    expose a later artifact), so the oracle must apply the SAME order —
    parity holds because both engines run the identical chain."""
    c = F.col(col) if isinstance(col, str) else col
    for bad, good in MOJIBAKE_PAIRS:
        c = F.replace(c, F.lit(bad), F.lit(good))
    return c


def wrap_chunks(col: Column | str, wrap: int = 12) -> Column:
    """Tokens grouped ``wrap`` at a time, space-joined — the Spark twin
    of engine.corpus.wrap_lines (and of CHUNKS_SQL on the DuckDB side).
    Pure array expressions: sequence + slice + concat_ws, no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    # newline-only fold (NOT tabs) — exactly engine.corpus.wrap_lines /
    # CHUNKS_SQL; textstats.tokens() would also fold tabs
    toks = F.filter(
        F.split(F.replace(c, F.lit("\n"), F.lit(" ")), " "),
        lambda x: x != F.lit(""),
    )
    n = F.size(toks)
    idx = F.when(
        n > 0, F.sequence(F.lit(0), F.floor((n - F.lit(1)) / F.lit(wrap)))
    ).otherwise(F.array().cast("array<bigint>"))
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", F.slice(toks, (i * wrap + 1).cast("int"), wrap)
        ),
    )


def line_dedup(
    df: DataFrame,
    lines_col: str = "lines",
    id_col: str = "doc_id",
    min_doc_freq: int = 5,
) -> DataFrame:
    """CCNet-style cross-document line deduplication.

    Input: one row per document with an ordered ``array<string>`` of
    lines. A line whose document frequency (count of DISTINCT docs
    containing it) is >= ``min_doc_freq`` is boilerplate and removed
    everywhere. Returns (id, clean_text, n_kept, n_dropped) with the
    surviving lines rejoined by '\\n' in original order.

    Scale shape (the 100 TB argument): the frequent-line table only
    holds lines repeated across >= min_doc_freq documents — boilerplate
    vocabulary, bounded by the number of distinct templates, not by
    corpus size — so it broadcasts. The corpus-side plan is one
    map-side-combined count shuffle to build that table, then a
    broadcast left join + one groupBy(doc) reassembly shuffle; the
    exploded line stream is never sort-merge joined.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.col(lines_col)).alias("pos", "line"),
    )
    frequent = (
        lines.groupBy("line")
        .agg(F.countDistinct(id_col).alias("line_df"))
        .where(F.col("line_df") >= min_doc_freq)
        .withColumn("boiler", F.lit(1))
        .select("line", "boiler")
    )
    flagged = lines.join(F.broadcast(frequent), "line", "left")
    kept_struct = F.array_sort(
        F.collect_list(
            F.when(F.col("boiler").isNull(), F.struct("pos", "line"))
        )
    )
    return flagged.groupBy(id_col).agg(
        F.concat_ws(
            "\n", F.transform(kept_struct, lambda s: s["line"])
        ).alias("clean_text"),
        F.sum(F.when(F.col("boiler").isNull(), 1).otherwise(0))
        .cast("int")
        .alias("n_kept"),
        F.sum(F.coalesce(F.col("boiler"), F.lit(0))).cast("int").alias("n_dropped"),
    )


def paragraph_dedup(
    df: DataFrame,
    paras_col: str = "paras",
    id_col: str = "doc_id",
) -> DataFrame:
    """Falcon/RefinedWeb-style cross-document paragraph dedup: every
    exact paragraph occurrence except the globally FIRST one — the
    occurrence with the minimal (doc_id, pos) — is removed. This is
    keeper election, not a frequency threshold: a paragraph shared by
    only two documents already loses its second copy, which is what
    kills quoted/syndicated content that :func:`line_dedup`'s
    boilerplate-frequency rule deliberately spares.

    Input: one row per document with an ordered ``array<string>`` of
    paragraphs. Returns (id, clean_text, n_kept, n_dropped) with
    survivors rejoined by blank lines in original order.

    Scale shape (the 100 TB argument): the keeper table holds one row
    per DISTINCT paragraph — it grows with the corpus and can NEVER
    broadcast, so this operator is honest about paying two hash
    shuffles: a map-side-combined min() per md5(paragraph) (only the
    16-byte hash plus (doc, pos) moves, never paragraph bytes), then a
    hash equi-join of the exploded stream against the keeper table on
    the same well-distributed key (no skew: exact-duplicate groups are
    small by construction after boilerplate removal). One final
    groupBy(doc) reassembles survivors.
    """
    i = ident(id_col)
    paras = df.selectExpr(
        i, f"posexplode({ident(paras_col)}) AS (pos, para)"
    ).selectExpr(i, "pos", "para", "md5(para) AS h")
    keeper = paras.groupBy("h").agg(
        F.expr(f"min(struct({i} AS kid, pos AS kpos)) AS k")
    )
    flagged = paras.join(keeper, "h").selectExpr(
        "*", f"{i} = k.kid AND pos = k.kpos AS keep"
    )
    return flagged.groupBy(id_col).agg(
        F.expr(
            "concat_ws('\\n\\n', transform(array_sort(collect_list("
            "CASE WHEN keep THEN struct(pos, para) END)), s -> s.para)) AS clean_text"
        ),
        F.expr("CAST(sum(CAST(keep AS INT)) AS INT) AS n_kept"),
        F.expr("CAST(sum(CAST(NOT keep AS INT)) AS INT) AS n_dropped"),
    )


def benchmark_shingles(phrases: list[str], k: int = 5) -> list[str]:
    """Word k-gram shingle set of a benchmark/eval corpus (driver-side:
    benchmarks are small by construction). Sorted for determinism."""
    out: set[str] = set()
    for p in phrases:
        toks = [t for t in p.split() if t]
        for i in range(len(toks) - k + 1):
            out.add(" ".join(toks[i : i + k]))
    return sorted(out)


def decontaminate(
    df: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
    k: int = 5,
) -> DataFrame:
    """Benchmark decontamination: per document, the number of DISTINCT
    word k-grams shared with the benchmark shingle table ``bench`` (one
    ``gram`` string column) and a 0/1 contamination flag.

    The benchmark side broadcasts (eval sets are tiny vs the corpus);
    the corpus side is ONE relational shingle pass through
    dedup.exploded_shingles — the expression form
    ``shingles(tokens(text))`` re-evaluates the tokenizer subtree per
    gram in interpreted higher-order functions (dedup.py's own
    guidance), which made this the 3rd-most-expensive bench entry. A
    broadcast LEFT-SEMI join keeps only matched grams (map-side, no
    corpus shuffle), count_distinct collapses them per document, and a
    left join back onto the id spine restores sub-k-token and zero-hit
    documents with 0 counts.
    """
    from .dedup import exploded_shingles

    spine = df.select(*id_cols)
    sh = exploded_shingles(df, text_col=text_col, id_col=id_cols, k=k)
    hits = (
        sh.join(
            F.broadcast(bench.select(F.col("gram").alias("shingle"))),
            "shingle",
            "left_semi",
        )
        .groupBy(*id_cols)
        .agg(F.count_distinct("shingle").cast("int").alias("bench_ngrams"))
    )
    return spine.join(hits, list(id_cols), "left").select(
        *id_cols,
        F.coalesce(F.col("bench_ngrams"), F.lit(0)).alias("bench_ngrams"),
        (F.coalesce(F.col("bench_ngrams"), F.lit(0)) > 0)
        .cast("int")
        .alias("contaminated"),
    )


def _nfc_batch(s: pd.Series) -> pd.Series:
    import unicodedata

    return s.map(
        lambda x: unicodedata.normalize("NFC", x) if x is not None else None
    )


def nfc_normalize_col(col: Column | str) -> Column:
    """Unicode NFC normalization as an Arrow-batched pandas UDF.

    Spark SQL has no normalizer built-in; unicodedata implements the
    canonical composition tables from the Unicode standard, identical
    to DuckDB's nfc_normalize (both track UAX #15), which the oracle
    uses as the independent twin.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.pandas_udf(_nfc_batch, "string")(c)
