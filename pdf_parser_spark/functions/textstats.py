"""Text analysis for corpus curation: token counting, quality scoring,
language-ID, document fingerprinting.

Everything is built from Spark built-in expressions (no UDFs), stays
inside whole-stage codegen, and scales linearly with no shuffle. Integer/count outputs are
preferred over ratios so results are exactly reproducible across
engines (the DuckDB oracle hashes values bit-for-bit).

Per-row expressions are built as Spark SQL text (``*_sql`` builders
that take and return SQL text) and reach the JVM in one call per
projection (``selectExpr``) or per column (``F.expr``). A Python
``F.*`` call tree costs about three driver-to-JVM round trips per
node, which made building the crawl operators cost seconds of driver
time per job. Column arguments are column NAMES; :func:`ident`
backtick-quotes them into the SQL. An intermediate that an expression
reads more than once (a token array, a padded text) is bound once with
:func:`let_sql`.

Reference scope note: the reference repo has no corpus analytics; these
are the training-pipeline extensions mandated by the build brief, built
in the same built-in-first style as the rest of the engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Words used for the n-gram/stopword heuristics. Deterministic and
# corpus-agnostic: scoring only needs to be stable, not linguistically
# perfect, to drive bucketing decisions.
STOPWORDS_EN = ["the", "a", "and", "of", "to", "in", "is"]
LANG_MARKERS = {
    "en": ["the", "a", "and"],
    "de": ["der", "und", "die"],
    "fr": ["le", "et", "la"],
}

# BPE-ish pre-tokenization: letter runs, digit runs, single punctuation.
BPE_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
PUNCT_REGEX = r"[.,;:!?]"


# ---------------------------------------------------------------------------
# SQL text builders


def ident(name: str) -> str:
    """A column name as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(s: str) -> str:
    """A Python string as a SQL string literal (backslashes and quotes
    escaped, so regexes and control characters survive the parser)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def normalized_text_sql(text: str) -> str:
    """Newlines/tabs folded to spaces (single canonical whitespace)."""
    return f"replace(replace({text}, '\\n', ' '), '\\t', ' ')"


def tokens_sql(text: str) -> str:
    """Whitespace tokens as array<string>, empties dropped."""
    return f"filter(split({normalized_text_sql(text)}, ' '), x -> x != '')"


def ws_token_count_sql(text: str) -> str:
    return f"CAST(size({tokens_sql(text)}) AS INT)"


def padded_sql(text: str) -> str:
    """Lowercased normalized text padded with one space each side, the
    haystack of :func:`occurrences_sql`."""
    return f"concat(' ', lower({normalized_text_sql(text)}), ' ')"


def occurrences_sql(padded: str, word: str) -> str:
    """Count of ` word ` occurrences in *padded* (see padded_sql) — the
    cheap substring-count trick ((len - len(replace)) / len(pattern)),
    which stays a pure string expression (no regex engine variance)."""
    pat = f" {word} "
    return (
        f"CAST((length({padded}) - length(replace({padded}, "
        f"{sql_string(pat)}, ''))) / {len(pat)} AS INT)"
    )


def word_count_sql(padded: str, words: list[str]) -> str:
    """Summed :func:`occurrences_sql` of *words*, as int."""
    return "CAST(" + " + ".join(occurrences_sql(padded, w) for w in words) + " AS INT)"


def let_sql(bindings: dict[str, str], body: str) -> str:
    """*body* with each variable of *bindings* bound to its value, in
    order (a value may name the variables bound before it).

    Each binding is a one-element ``transform``,
    ``element_at(transform(array(value), var -> body), 1)``, so a value
    is evaluated once per row however often *body* names it. A
    projected column gives no such promise: a filter, aggregate or join
    that the optimizer pushes through a projection has every alias it
    names replaced by the alias's expression (``PushDownPredicates``),
    so a verdict built over several projection layers re-runs each
    shared intermediate once per reference. Built as one let
    expression, the verdict is copied as one tree, bindings included.
    """
    for var, value in reversed(bindings.items()):
        body = f"element_at(transform(array({value}), {var} -> {body}), 1)"
    return body


def shingles_sql(toks: str, k: int = 3) -> str:
    """k-gram word shingles (space-joined) of the token array *toks*,
    [] when fewer than k tokens.

    Built as a ``zip_with`` fold over k shifted ``slice``s of the token
    array — array ops stay JVM-side and, critically, *toks* is
    referenced only OUTSIDE higher-order-function lambdas. HOFs are
    interpreted, so any reference to *toks* inside a lambda
    re-evaluates its whole subtree (often a split+filter over the raw
    text) once per element — O(tokens²) per document. The previous
    sequence+transform+slice form paid exactly that (one slice per
    shingle, each re-running the split); this form names *toks* k+2
    times per row and the per-element lambda only touches its two
    string arguments — O(k·tokens). Pass a variable bound by
    :func:`let_sql` (see :func:`text_shingles_sql`), so those k+2
    references read one tokenization: an expression is re-evaluated at
    each reference, and so is a projected column once the optimizer
    inlines it into a pushed-down filter. Measured 3-6x on the sf0.1
    corpus for the expression-form consumers (fingerprint, Jaccard,
    substring spans, HLL shingling).
    """
    n = f"size({toks})"
    m = f"{n} - {k - 1}"
    acc = f"slice({toks}, 1, {m})"
    for j in range(1, k):
        acc = (
            f"zip_with({acc}, slice({toks}, {1 + j}, {m}), "
            "(a, b) -> concat(a, ' ', b))"
        )
    return f"CASE WHEN {n} >= {k} THEN {acc} ELSE CAST(array() AS array<string>) END"


def text_shingles_sql(text: str, k: int = 3) -> str:
    """k-gram word shingles of *text*, tokenized once."""
    return let_sql({"_t": tokens_sql(text)}, shingles_sql("_t", k))


#: quality bucket over the with_quality signals: integer
#: cross-multiplication instead of float ratios (n_stop*100 >=
#: n_tokens*2 ⇔ stopword ratio ≥ 2%), so the class is exact in any engine
QUALITY_SQL = (
    "CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 "
    "AND n_stop * 100 >= n_tokens * 2 AND n_punct * 100 <= n_chars * 10 "
    "THEN 'good' ELSE 'low' END"
)

#: marker-word language over the with_lang_id scores, fixed tie-break
#: order en > de > fr
PRED_LANG_SQL = (
    "CASE WHEN en_score >= de_score AND en_score >= fr_score THEN 'en' "
    "WHEN de_score >= fr_score THEN 'de' ELSE 'fr' END"
)


def quality_signals_sql(text: str, toks: str, padded: str) -> dict[str, str]:
    """n_chars / n_tokens / n_punct / n_stop of *text*, given SQL text
    for its tokens and its padded form (a projected column or the
    builder's expression)."""
    return {
        "n_chars": f"CAST(length({text}) AS INT)",
        "n_tokens": f"CAST(size({toks}) AS INT)",
        "n_punct": f"CAST(regexp_count({text}, {sql_string(PUNCT_REGEX)}) AS INT)",
        "n_stop": word_count_sql(padded, STOPWORDS_EN),
    }


def lang_scores_sql(padded: str) -> dict[str, str]:
    """``<lang>_score`` marker-word counts over *padded* text."""
    return {
        f"{lang}_score": word_count_sql(padded, words)
        for lang, words in LANG_MARKERS.items()
    }


# ---------------------------------------------------------------------------
# per-column helpers (one F.expr each)


def tokens(col: str) -> Column:
    return F.expr(tokens_sql(ident(col)))


def ws_token_count(col: str) -> Column:
    return F.expr(ws_token_count_sql(ident(col)))


def bpe_token_count(col: str) -> Column:
    """Sub-word-ish token count via the BPE pre-tokenizer regex.
    ``regexp_count`` (not ``size(regexp_extract_all(...))``) — counting
    matches must not materialize every token string into an array."""
    return F.expr(f"CAST(regexp_count({ident(col)}, {sql_string(BPE_REGEX)}) AS INT)")


def word_occurrences(col: str, word: str) -> Column:
    return F.expr(occurrences_sql(padded_sql(ident(col)), word))


def shingles(col: str, k: int = 3) -> Column:
    """k-gram word shingles of the text column *col* (see shingles_sql)."""
    return F.expr(text_shingles_sql(ident(col), k))


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds n_chars / n_tokens / n_punct / n_stop and a quality bucket
    (:data:`QUALITY_SQL`)."""
    t = ident(text_col)
    signals = quality_signals_sql(t, tokens_sql(t), "_p")
    signals["n_stop"] = let_sql({"_p": padded_sql(t)}, signals["n_stop"])
    return df.withColumns({c: F.expr(e) for c, e in signals.items()}).withColumn(
        "quality", F.expr(QUALITY_SQL)
    )


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language ID with a fixed tie-break order (en>de>fr)."""
    p = padded_sql(ident(text_col))
    scores = {c: let_sql({"_p": p}, e) for c, e in lang_scores_sql("_p").items()}
    return df.withColumns({c: F.expr(e) for c, e in scores.items()}).withColumn(
        "pred_lang", F.expr(PRED_LANG_SQL)
    )


def fingerprint(col: str, k: int = 5) -> Column:
    """Document fingerprint: lexicographic-min md5 over k-gram shingles
    (a 1-permutation MinHash — stable under local edits), md5(text) when
    the doc is shorter than k tokens."""
    c = ident(col)
    return F.expr(
        let_sql(
            {"_sh": text_shingles_sql(c, k)},
            "CASE WHEN size(_sh) > 0 THEN array_min(transform(_sh, s -> md5(s))) "
            f"ELSE md5({c}) END",
        )
    )


def top_terms_by_lang(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    lang_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k salient terms per language by tf-idf — the corpus-level
    vocabulary report a data-mix dashboard is built from.

    Relational shape: one token explode feeding two map-side-combined
    aggregations (term frequency per (lang, term); document frequency
    per term), a slim equi-join between them, a broadcast of the
    single-row corpus count, and a per-lang window over the vocabulary
    (orders of magnitude smaller than the corpus — the explode never
    reaches the window). The idf factor is rounded to 1e-6 BEFORE the
    tf multiply so the ranking key is integer-exact and engine-stable:
    score = tf * round(ln(1 + N/df) * 1e6).
    """
    from pyspark.sql import Window

    tok = df.select(
        id_col, lang_col, F.explode(tokens(text_col)).alias("term")
    )
    tf = tok.groupBy(lang_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tok.groupBy("term").agg(
        F.countDistinct(id_col).alias("doc_freq")
    )
    total = df.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(total))
        .select(
            lang_col,
            "term",
            "tf",
            "doc_freq",
            (
                F.col("tf")
                * F.round(
                    F.log(F.lit(1.0) + F.col("n_docs") / F.col("doc_freq"))
                    * 1e6
                ).cast("bigint")
            ).alias("score"),
        )
    )
    w = Window.partitionBy(lang_col).orderBy(
        F.col("score").desc(), F.col("term")
    )
    return scored.withColumn("rk", F.row_number().over(w).cast("int")).where(
        F.col("rk") <= k
    )


# ---------------------------------------------------------------------------
# hashed-feature linear quality model (fastText/DCLM-style scorer)

_HEX_DIGITS = "0123456789abcdef"
MQ_MOD = 997  # weight = bucket % MQ_MOD - MQ_MOD // 2  (symmetric around 0)


def _hash_bucket(hash_col: Column) -> Column:
    """First 4 hex digits of an md5 string as an int in [0, 65536)."""
    out = F.lit(0)
    for p in range(4):
        d = F.instr(F.lit(_HEX_DIGITS), F.substring(hash_col, p + 1, 1)) - 1
        out = out * 16 + d
    return out.cast("bigint")


def model_quality_score(col: str) -> Column:
    """Linear model score over hashed token features.

    The shape of a fastText-style quality classifier (bag of tokens →
    hashed embedding buckets → linear score) with a DETERMINISTIC
    weight table: weight(token) = (bucket(md5(token)) % 997) - 498, so
    both engines reproduce it bit-for-bit with no model file. The score
    is a single `aggregate` fold over the token array — per-row
    map-only, no explode, no shuffle, whole-stage codegen; at 100 TB
    this is the cheapest possible plan (a real classifier swaps the
    arithmetic weight for a broadcast lookup, same shape).
    """
    hashes = F.transform(tokens(col), F.md5)
    return F.aggregate(
        hashes,
        F.lit(0).cast("bigint"),
        lambda acc, h: acc
        + (_hash_bucket(h) % MQ_MOD - MQ_MOD // 2),
    )


# ---------------------------------------------------------------------------
# inverted index

def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_doc_freq: int = 2,
    max_postings: int = 64,
) -> DataFrame:
    """Term → posting-list construction (the search-index shape).

    One distinct-token explode, one map-side-combined groupBy(term).
    Postings are doc-id-sorted and CAPPED at ``max_postings`` per term
    (real indexes shard or impact-order long posting lists — an
    uncapped collect_list on a stopword term is a straight OOM at
    corpus scale); ``doc_freq`` still reports the full count. Output is
    flat (term, doc_freq, postings-as-CSV) — no array columns.
    """
    tok = df.select(
        F.col(id_col), F.explode(F.array_distinct(tokens(text_col))).alias("term")
    )
    # (id, term) pairs are distinct by construction (array_distinct
    # before the explode), so plain count(*) IS the document frequency —
    # no countDistinct, which would plan a second (expand) shuffle.
    return (
        tok.groupBy("term")
        .agg(
            F.count("*").cast("bigint").alias("doc_freq"),
            F.array_join(
                F.transform(
                    F.slice(F.array_sort(F.collect_list(id_col)), 1, max_postings),
                    lambda d: d.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
        .where(F.col("doc_freq") >= min_doc_freq)
    )


# ---------------------------------------------------------------------------
# unigram LM surprisal (the CCNet perplexity-filter shape)

def unigram_surprisal(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document unigram language-model surprisal — the shape of
    CCNet's KenLM perplexity filter with the n-gram model trained on
    the corpus itself and no external model file.

    surprisal(doc) = Σ_tokens round(ln(N / tf(token)) · 1e6), an int64;
    avg_surprisal = surprisal div n_tokens (micro-nats per token).
    Rounding per TERM before the sum (the top_terms trick) keeps every
    engine's answer identical — only one double-precision ln per vocab
    entry, everything downstream integer.

    Plan: one explode feeding a map-side-combined vocab count (vocab ≪
    corpus → the (term, surprisal) table BROADCASTS back), a single-row
    total crossJoin, then one groupBy(doc) sum. Low avg_surprisal =
    high-probability (natural) text; spam/garbage scores high.
    """
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    vocab = tok.groupBy("term").agg(F.count("*").cast("bigint").alias("tf"))
    total = vocab.select(F.sum("tf").cast("bigint").alias("n_total"))
    surp = vocab.crossJoin(F.broadcast(total)).select(
        "term",
        F.round(F.log(F.col("n_total") / F.col("tf")) * 1e6)
        .cast("bigint")
        .alias("surp"),
    )
    scored = tok.join(F.broadcast(surp), "term")
    agg = scored.groupBy(id_col).agg(
        F.count("*").cast("int").alias("n_tokens"),
        F.sum("surp").cast("bigint").alias("surprisal"),
    )
    return agg.select(
        id_col,
        "n_tokens",
        "surprisal",
        F.expr("surprisal div n_tokens").cast("bigint").alias("avg_surprisal"),
    )


# ---------------------------------------------------------------------------
# bigram LM surprisal (conditional next-token model, add-one smoothed)


def bigram_surprisal(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document BIGRAM language-model surprisal — one Markov order
    above :func:`unigram_surprisal`, the cheapest model that catches
    shuffled-word salad a unigram filter scores as natural.

    P(w2|w1) is add-one smoothed over the corpus vocabulary V:
    surp(w1,w2) = round(ln((c(w1·)+V) / (c(w1,w2)+1)) · 1e6). Rounding
    per bigram TYPE before the per-doc sum keeps both engines
    integer-identical (one double ln per vocab entry).

    Plan: bigram formation is ARRAY-level (transform over the token
    array — zero shuffle); corpus counts are two map-side-combined
    aggregations whose results BROADCAST back onto the bigram stream;
    one final groupBy(doc). Documents need ≥ 2 tokens to emit a row.
    """
    toks = df.select(F.col(id_col), tokens(text_col).alias("_t"))
    bg = toks.where(F.size("_t") >= 2).select(
        F.col(id_col),
        F.explode(
            F.expr(
                "transform(slice(_t, 1, size(_t) - 1), "
                "(x, i) -> struct(x AS w1, "
                "concat(x, ' ', element_at(_t, i + 2)) AS bg))"
            )
        ).alias("p"),
    ).select(id_col, "p.w1", "p.bg")
    vocab_size = (
        df.select(F.explode(tokens(text_col)).alias("term"))
        .agg(F.countDistinct("term").cast("bigint").alias("v"))
    )
    bg_counts = bg.groupBy("bg", "w1").agg(
        F.count("*").cast("bigint").alias("c_bg")
    )
    ctx_counts = bg.groupBy("w1").agg(
        F.count("*").cast("bigint").alias("c_ctx")
    )
    surp = (
        bg_counts.join(F.broadcast(ctx_counts), "w1")
        .crossJoin(F.broadcast(vocab_size))
        .select(
            "bg",
            F.round(
                F.log((F.col("c_ctx") + F.col("v")) / (F.col("c_bg") + 1))
                * 1e6
            )
            .cast("bigint")
            .alias("surp"),
        )
    )
    agg = bg.join(F.broadcast(surp), "bg").groupBy(id_col).agg(
        F.count("*").cast("int").alias("n_bigrams"),
        F.sum("surp").cast("bigint").alias("surprisal"),
    )
    return agg.select(
        id_col,
        "n_bigrams",
        "surprisal",
        F.expr("surprisal div n_bigrams").cast("bigint").alias("avg_surprisal"),
    )


# ---------------------------------------------------------------------------
# CCNet perplexity bucketing (head / middle / tail per language)


def ccnet_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    bin_unit: int = 1_000,
) -> DataFrame:
    """CCNet's per-language perplexity terciles (Wenzek et al. 2020):
    every document is labeled head / middle / tail by where its
    per-token LM surprisal falls within ITS LANGUAGE's distribution —
    the standard pre-filter that keeps Wikipedia-like text in "head"
    without discarding low-resource languages wholesale.

    The LM is :func:`unigram_surprisal` (corpus-trained, integer
    micro-nats). Tercile thresholds are computed scale-safely: average
    surprisals quantize into fixed ``bin_unit`` micro-nat bins (the
    domain is ≤ ln(N)·1e6, so tens of thousands of bins at most
    regardless of corpus size), a
    per-(lang, bin) count histogram is the ONLY corpus-wide shuffle,
    and the cumulative window runs over ≤ #bins rows per language —
    never a per-language sort of the corpus (CCNet itself thresholds on
    sampled quantiles for the same reason). Thresholds are
    nearest-rank: t_k = min bin whose cumulative count ≥ ceil(k·n/3).
    The per-lang threshold table broadcasts back onto the scored docs.
    """
    from pyspark.sql import Window

    s = unigram_surprisal(df, text_col=text_col, id_col=id_col)
    sc = (
        s.join(df.select(id_col, lang_col), id_col)
        .select(
            id_col,
            lang_col,
            "avg_surprisal",
            F.expr(f"avg_surprisal div {bin_unit}").cast("bigint").alias("bin"),
        )
    )
    hist = sc.groupBy(lang_col, "bin").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    w = Window.partitionBy(lang_col).orderBy("bin")
    cum = hist.select(
        lang_col,
        "bin",
        F.sum("cnt").over(w).cast("bigint").alias("cum"),
    )
    totals = hist.groupBy(lang_col).agg(
        F.sum("cnt").cast("bigint").alias("n")
    )
    thr = (
        cum.join(totals, lang_col)
        .groupBy(lang_col)
        .agg(
            F.min(
                F.when(F.expr("cum >= (n + 2) div 3"), F.col("bin"))
            ).alias("t1"),
            F.min(
                F.when(F.expr("cum >= (2 * n + 2) div 3"), F.col("bin"))
            ).alias("t2"),
        )
    )
    return sc.join(F.broadcast(thr), lang_col).select(
        id_col,
        lang_col,
        "avg_surprisal",
        F.when(F.col("bin") <= F.col("t1"), F.lit("head"))
        .when(F.col("bin") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )


# ---------------------------------------------------------------------------
# DSIR importance resampling (hashed-n-gram data selection)


def dsir_weights(
    df: DataFrame,
    target_col: str | Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
) -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al. 2023)
    over hashed unigram features, with both bag-of-words models trained
    on the corpus itself: *target* is the rows where ``target_col`` is
    true (the high-quality seed set), *raw* is the whole corpus.

    Per feature bucket b (md5(token) folded into ``n_buckets``), the
    add-one-smoothed log importance ratio is

        lw(b) = round(ln( (ct(b)+1)·(Nr+B) / ((cr(b)+1)·(Nt+B)) ) · 1e6)

    an int64 — the products are exact in int64, one double division +
    ln per bucket TYPE, rounded before any per-document sum (the same
    integer-parity discipline as :func:`unigram_surprisal`).
    ``dsir_weight(doc) = Σ_tokens lw(bucket)`` is the document's log
    importance weight; ``selected`` is the deterministic variant of
    DSIR's Gumbel resampling — keep documents whose features look more
    target-like than raw-like (weight > 0).

    Plan: ONE explode feeding a single map-side-combined
    groupBy(bucket) that produces BOTH counts (the target count is a
    conditional sum, not a second aggregation), a single-row totals
    crossJoin, and the ≤ ``n_buckets``-row weight table BROADCASTS back
    onto the token stream for one final groupBy(doc) — two shuffles
    total regardless of corpus size; state is bounded by B, so the
    model "training" costs one pass at 100 TB.
    """
    tgt = F.col(target_col) if isinstance(target_col, str) else target_col
    tok = df.select(
        F.col(id_col),
        tgt.alias("_tgt"),
        F.explode(tokens(text_col)).alias("term"),
    ).select(
        id_col,
        "_tgt",
        (_hash_bucket(F.md5("term")) % n_buckets).alias("bucket"),
    )
    counts = tok.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("cr"),
        F.sum(F.when(F.col("_tgt"), 1).otherwise(0)).cast("bigint").alias("ct"),
    )
    # counts is consumed TWICE (the totals aggregate and the weight
    # table) — without materialization each use recomputes the full
    # corpus explode+shuffle, turning DSIR's two documented corpus
    # passes into three. The table is bounded at n_buckets rows, so an
    # eager localCheckpoint pins the trained model once (flat lineage,
    # same pattern as the PageRank iterate).
    counts = counts.localCheckpoint(eager=True)
    totals = counts.agg(
        F.sum("cr").cast("bigint").alias("nr"),
        F.sum("ct").cast("bigint").alias("nt"),
    )
    b = F.lit(n_buckets).cast("bigint")
    lw = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.round(
            F.log(
                ((F.col("ct") + 1) * (F.col("nr") + b))
                / ((F.col("cr") + 1) * (F.col("nt") + b))
            )
            * 1e6
        )
        .cast("bigint")
        .alias("lw"),
    )
    agg = tok.join(F.broadcast(lw), "bucket").groupBy(id_col).agg(
        F.count("*").cast("int").alias("n_tokens"),
        F.sum("lw").cast("bigint").alias("dsir_weight"),
    )
    return agg.select(
        id_col,
        "n_tokens",
        "dsir_weight",
        (F.col("dsir_weight") > 0).alias("selected"),
    )


# ---------------------------------------------------------------------------
# BPE merge-candidate counting (tokenizer-training prep)


def bpe_pair_counts(
    df: DataFrame, text_col: str = "text", top_n: int = 64
) -> DataFrame:
    """Corpus-wide adjacent character-pair frequencies inside
    whitespace words — the candidate table a byte-pair-encoding
    tokenizer trainer scores on its first merge step. Returns the
    ``top_n`` pairs as (rank, pair, cnt), ties broken by pair text so
    the cut is deterministic.

    Plan: pair formation is array-level per word (no join), the count
    is one map-side-combined groupBy over a domain bounded by
    |alphabet|² — partial state stays tiny no matter the corpus — and
    the top-n is TakeOrderedAndProject, never a global sort.
    """
    pairs = df.select(F.explode(tokens(text_col)).alias("w")).select(
        F.explode(
            F.expr(
                "CASE WHEN length(w) >= 2 THEN "
                "transform(sequence(1, length(w) - 1), "
                "i -> substring(w, i, 2)) "
                "ELSE array() END"
            )
        ).alias("pair")
    )
    top = (
        pairs.groupBy("pair")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(top_n)
    )
    # rank the top_n survivors zipWithIndex-style (coalesce + pinned
    # sort + consecutive ids in the single partition) — no Window, so
    # nothing for WindowExec to funnel or warn about
    return (
        top.coalesce(1)
        .sortWithinPartitions(F.desc("cnt"), F.asc("pair"))
        .select(
            (F.monotonically_increasing_id() + 1).cast("int").alias("rank"),
            "pair",
            "cnt",
        )
    )
