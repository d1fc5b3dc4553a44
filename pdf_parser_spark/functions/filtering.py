"""Corpus-level filtering for training-data pipelines: per-host
frequency caps and a composite quality gate (C4/Gopher-style rule
chain with a per-document drop reason).

Everything here is built-in-expression Spark (windows, string and
array expressions) — no Python UDFs — so the plans stay inside
whole-stage codegen. Only ``host_cap`` shuffles, on slim (host, id)
projections; the quality gate and Gopher rules are per-row projections
with no Exchange, built as SQL text (see :mod:`.textstats`). Each
verdict is one bound expression (:func:`.textstats.let_sql`) over the
input columns, so a caller's filter on ``keep`` or ``passes``, which
the optimizer pushes into the expression, still evaluates every shared
intermediate once per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import dedup, textstats
from .textstats import ident, let_sql, padded_sql, shingles_sql, tokens_sql


def hash_order_key(id_col: Column | str) -> Column:
    """Deterministic pseudo-random ordering key: md5 of the id —
    reproducible across runs and engines, uncorrelated with insertion
    or crawl order (so a cap keeps a uniform sample, not a prefix)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.md5(c.cast("string"))


def host_cap(
    df: DataFrame,
    host_col: str = "source",
    id_col: str = "doc_id",
    k: int = 10,
    salts: int = 16,
) -> DataFrame:
    """Keep at most ``k`` documents per host, chosen by deterministic
    hash order — the crawl-balance cap that stops one mirror/spam host
    from dominating a training mix.

    Two-phase so a hot host never lands on one reducer: phase 1 ranks
    within (host, salt) — ≤ ``salts`` subgroups per host — and keeps k
    per subgroup; phase 2 ranks the ≤ k·salts survivors per host. Any
    row in a host's global top-k is also in the top-k of whichever
    subgroup contains it, so the result is IDENTICAL to a single
    global window for every salt assignment, but the first (big)
    shuffle spreads a skewed host over ``salts`` reducers and the
    second shuffle sees a bounded row count per host regardless of
    input skew. Output: the kept rows plus their final rank ``rk``
    (1-based within host).
    """
    ord_ = hash_order_key(id_col)
    # salt choice never changes the output (see above) — xxhash64 is
    # fine here even though oracle-visible hashes are md5-only
    salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(salts))
    w1 = Window.partitionBy(F.col(host_col), F.col("_salt")).orderBy(
        ord_.asc(), F.col(id_col).asc()
    )
    phase1 = (
        df.withColumn("_salt", salt)
        .withColumn("_rn1", F.row_number().over(w1))
        .where(F.col("_rn1") <= k)
        .drop("_salt", "_rn1")
    )
    w2 = Window.partitionBy(F.col(host_col)).orderBy(
        ord_.asc(), F.col(id_col).asc()
    )
    return (
        phase1.withColumn("rk", F.row_number().over(w2).cast("int"))
        .where(F.col("rk") <= k)
    )


def quality_gate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str | None = "lang",
    min_tokens: int = 10,
    rep_num: int = 1,
    rep_den: int = 5,
) -> DataFrame:
    """Composite keep/drop decision with a first-failing-rule reason,
    the C4/Gopher filter-chain shape:

    1. ``too_short``    — fewer than ``min_tokens`` whitespace tokens
    2. ``repetitive``   — duplicate 3-gram fraction > rep_num/rep_den
                          (integer cross-multiplied, engine-exact)
    3. ``low_quality``  — the stopword/punctuation/length bucket from
                          :func:`textstats.with_quality` says 'low'
    4. ``lang_mismatch``— marker-word language ID disagrees with the
                          declared ``lang_col`` (skipped if None)
    5. ``kept``

    Map-only: every signal, the repetition counts included
    (:data:`dedup.REPETITION_COUNTS_SQL`), is an expression over
    the document's own text — no shuffle, no join. ``reason`` is one
    bound expression (:func:`textstats.let_sql`) over the input
    columns: the token array, the padded text, the shingles and each
    signal are bound once and feed every rule, so a filter on ``keep``
    that the optimizer pushes into it still tokenizes each row once.
    The language scores are built only when ``lang_col`` is set.
    Output: (id, reason, keep).
    """
    t = ident(text_col)
    bindings = {
        "_t": tokens_sql(t),
        "_p": padded_sql(t),
        "_sh": shingles_sql("_t", 3),
        **textstats.quality_signals_sql(t, "_t", "_p"),
        **dedup.REPETITION_COUNTS_SQL,
        "quality": textstats.QUALITY_SQL,
    }
    mismatch = ""
    if lang_col is not None:
        bindings.update(textstats.lang_scores_sql("_p"))
        bindings["pred_lang"] = textstats.PRED_LANG_SQL
        mismatch = f"WHEN pred_lang != {ident(lang_col)} THEN 'lang_mismatch' "
    reason = (
        f"CASE WHEN n_tokens < {min_tokens} THEN 'too_short' "
        f"WHEN (n_shingles - n_distinct) * {rep_den} > n_shingles * {rep_num} "
        "THEN 'repetitive' WHEN quality = 'low' THEN 'low_quality' "
        f"{mismatch}ELSE 'kept' END"
    )
    i = ident(id_col)
    return df.selectExpr(i, f"{let_sql(bindings, reason)} AS reason").selectExpr(
        i, "reason", "CAST(reason = 'kept' AS INT) AS keep"
    )


def gopher_rules(
    df: DataFrame,
    lines_col: str = "lines",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len_e6: int = 3_000_000,
    max_mean_len_e6: int = 10_000_000,
    min_alpha_e6: int = 800_000,
    max_bullet_e6: int = 150_000,
    max_ellipsis_e6: int = 95_000,
) -> DataFrame:
    """Gopher-style line-format quality rules (Rae et al. 2021 §A1.1):
    per-document word count, mean word length, fraction of words with
    an alphabetic character, fraction of lines that start as bullets
    ('- '), and fraction of lines ending in an ellipsis ('...'), plus
    a composite pass flag over the classic bounds.

    All fractions are published as parts-per-million computed with
    INTEGER division ((1e6 * num) div den) so Spark and any SQL oracle
    agree bit-for-bit — no double rounding anywhere (the same
    integer-parity discipline as textstats.unigram_surprisal).

    Scale shape: map-only — every signal is an array expression over
    the document's own lines; zero exchanges. The lines, the words and
    each count are bound once in one expression
    (:func:`textstats.let_sql`) that yields all seven outputs as a
    struct, so a filter on ``passes`` splits each row's lines once.
    """
    i = ident(id_col)
    fracs = {
        c: f"CASE WHEN {den} > 0 THEN (1000000 * {num}) div {den} ELSE 0 END"
        for c, num, den in (
            ("mean_word_len_e6", "_sum_len", "n_words"),
            ("alpha_frac_e6", "_n_alpha", "n_words"),
            ("bullet_frac_e6", "_n_bullet", "n_lines"),
            ("ellipsis_frac_e6", "_n_ellipsis", "n_lines"),
        )
    }
    bindings = {
        "_ls": ident(lines_col),
        "_ws": "flatten(transform(_ls, l -> filter(split(l, ' '), w -> w != '')))",
        "n_words": "CAST(size(_ws) AS BIGINT)",
        "n_lines": "CAST(size(_ls) AS BIGINT)",
        "_sum_len": "aggregate(_ws, CAST(0 AS BIGINT), (a, w) -> a + length(w))",
        "_n_alpha": "CAST(size(filter(_ws, w -> w RLIKE '[a-z]')) AS BIGINT)",
        "_n_bullet": "CAST(size(filter(_ls, l -> startswith(l, '- '))) AS BIGINT)",
        "_n_ellipsis": "CAST(size(filter(_ls, l -> endswith(l, '...'))) AS BIGINT)",
        **fracs,
    }
    passes = (
        f"n_words BETWEEN {min_words} AND {max_words} "
        f"AND mean_word_len_e6 BETWEEN {min_mean_len_e6} AND {max_mean_len_e6} "
        f"AND alpha_frac_e6 >= {min_alpha_e6} "
        f"AND bullet_frac_e6 <= {max_bullet_e6} "
        f"AND ellipsis_frac_e6 <= {max_ellipsis_e6}"
    )
    out = ["n_words", "n_lines", *fracs]
    fields = ", ".join(f"'{c}', {c}" for c in out)
    verdict = let_sql(bindings, f"named_struct({fields}, 'passes', {passes})")
    return df.selectExpr(i, f"{verdict} AS _g").selectExpr(
        i, *[f"_g.{c} AS {c}" for c in (*out, "passes")]
    )


def suffix_blocked_expr(host_col: Column | str, suffixes: list[str]) -> Column:
    """Domain-suffix blocklist test (public-suffix-style): a host is
    blocked when it equals an entry or ends with '.' + entry, so
    'ads.example.org' matches 'example.org' but 'notexample.org' does
    not. The list rides as a plan literal → a pure map-side filter (no
    join, no broadcast exchange) — the right shape for the few-thousand
    -entry blocklists crawl pipelines carry; a genuinely huge list
    would switch to a broadcast join on reversed-host prefix ranges."""
    h = F.col(host_col) if isinstance(host_col, str) else host_col
    return F.exists(
        F.array(*[F.lit(s) for s in suffixes]),
        lambda s: (h == s) | h.endswith(F.concat(F.lit("."), s)),
    )


# Soft-404 phrase inventory: the page-body strings error pages emit
# while still returning HTTP 200 (the classic crawl-corpus pollutant —
# Bar-Yossef et al., "Sic transit gloria telae", WWW 2004). Matched
# case-insensitively as plain substrings (no regex: the list is the
# contract, and substring scans are linear and codegen-friendly).
SOFT404_PHRASES = (
    "page not found",
    "404 error",
    "error 404",
    "does not exist",
    "no longer available",
    "has been removed",
    "could not be found",
)

# A page this short that also carries an error phrase is almost
# certainly a soft 404; the length signal alone is only a weak +1.
SOFT404_SHORT_CHARS = 300


def soft404_score_expr(text_col: Column | str) -> Column:
    """Integer soft-404 evidence score: +2 per distinct error phrase
    present (case-insensitive substring), +1 when the body is shorter
    than SOFT404_SHORT_CHARS. Pure map-side built-ins — the score is
    exact integer arithmetic so the relational result replays
    bit-for-bit from SQL."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    low = F.lower(t)
    score = F.when(F.length(t) < SOFT404_SHORT_CHARS, 1).otherwise(0)
    for p in SOFT404_PHRASES:
        score = score + F.when(low.contains(p), 2).otherwise(0)
    return score


def soft404_flag_expr(text_col: Column | str, threshold: int = 2) -> Column:
    """True when the evidence score reaches *threshold* (default 2 —
    any error phrase flags; the short-body signal alone never does)."""
    return soft404_score_expr(text_col) >= threshold
