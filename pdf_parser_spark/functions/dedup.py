"""Deduplication operators for corpus curation.

Four public-technique dedup families (exact hash, n-gram Jaccard,
MinHash+LSH banding, SimHash), each expressed with Spark built-ins
so the hot path is JVM-side and shuffle-aware:

- exact:   one groupBy on md5(text) — a single hash shuffle; at 100 TB
           this is the cheapest possible dedup (map-side partial agg on
           the digest, not the payload).
- MinHash: ONE md5 per shingle, one-permutation hashing (Li, Owen &
           Zhang, NeurIPS 2012): the hash's leading byte buckets it
           into one of the `num_hashes` signature slots, and each slot
           keeps the lexicographic min — 8× fewer digests than the
           per-seed rehash form for the same LSH behavior. Band keys
           explode to B≈4 rows per doc and self-equi-join ⇒ Catalyst
           hash-partitions it; candidate pairs ≪ n².
- SimHash: bit votes folded with `aggregate` over the token array —
           again no explode, no UDF.
- cross-engine determinism: md5 (identical in every engine) is the hash
  primitive, and MinHash minima compare *hex strings* lexicographically,
  so a DuckDB oracle reproduces signatures bit-for-bit.

At scale: band self-joins shuffle only (band_key, doc_id) pairs —
payload columns are pruned before the shuffle; skewed band buckets
(boilerplate-heavy corpora) are handled by AQE skew-join since this is
a plain equi-join (unlike the UDF input skew in extraction, which needs
explicit salting — engine/partitioning.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .textstats import (
    ident, let_sql, shingles, text_shingles_sql, tokens, tokens_sql,
)

HEX_DIGITS = "0123456789abcdef"


def exploded_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: "str | tuple[str, ...]" = "doc_id",
    k: int = 3,
) -> DataFrame:
    """(id, shingle) rows: k-gram word shingles via posexplode + lead().

    The relational shingle producer: tokenize each document exactly
    once, explode to (id, pos, token), and assemble k-grams with lead
    windows partitioned by id. For consumers that need one row per
    shingle to aggregate or join across documents (MinHash, fingerprints,
    Jaccard, decontamination). A per-document count needs no rows — the
    array form (textstats.shingles, see with_repetition_counts) stays a
    projection. Scale shape: one narrow explode, one hash-partitioned
    sort by (id, pos), then pure map-side work. id_col may be a tuple of
    columns (compound document key).
    """
    ids = [ident(i) for i in ([id_col] if isinstance(id_col, str) else id_col)]
    tok = df.selectExpr(
        *ids, f"posexplode({tokens_sql(ident(text_col))}) AS (pos, tok)"
    )
    w = f"OVER (PARTITION BY {', '.join(ids)} ORDER BY pos)"
    parts = ["tok"] + [f"lead(tok, {j}) {w}" for j in range(1, k)]
    return (
        tok.selectExpr(
            *ids,
            f"concat_ws(' ', {', '.join(parts)}) AS shingle",
            f"lead(tok, {k - 1}) {w} AS _tail",
        )
        .where("_tail IS NOT NULL")
        .selectExpr(*ids, "shingle")
    )


def exact_dedup_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per content-hash group: copy count + keeper (min id).

    Map-side partial aggregation makes the shuffle O(distinct hashes).
    """
    return (
        df.select(F.md5(text_col).alias("text_md5"), F.col(id_col))
        .groupBy("text_md5")
        .agg(
            F.count("*").cast("bigint").alias("n_copies"),
            F.min(id_col).alias("keeper_id"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one row per distinct text (the min-id row)."""
    w_keep = exact_dedup_stats(df, text_col, id_col).select(
        F.col("keeper_id").alias(id_col)
    )
    return df.join(w_keep, id_col, "left_semi")


def _oph_bucket(hash_sql: str, num_hashes: int) -> str:
    """One-permutation-hashing slot (SQL text) for an md5 hex: leading
    byte value (two hex digits, 0..255) mod `num_hashes`. Works for any
    slot count up to 256."""
    hx = f"'{HEX_DIGITS}'"
    return (
        f"CAST(((instr({hx}, substring({hash_sql}, 1, 1)) - 1) * 16 "
        f"+ (instr({hx}, substring({hash_sql}, 2, 1)) - 1)) % {num_hashes} AS INT)"
    )


#: sentinel for an empty OPH slot; sorts after every hex digest so a
#: filled slot always wins a min(), and two docs only share it when the
#: slot is empty for both (naive densification — fine for candidate
#: generation; rotation densification removes the residual bias, see
#: rotation_densify / densify="rotation").
OPH_EMPTY = "~empty"


def rotation_densify(slot_values: "list[str]") -> "list[str]":
    """Rotation densification (Shrivastava & Li, ICML 2014) of an OPH
    signature given as one SQL expression per slot.

    A filled slot is returned unchanged.  An empty slot i borrows the
    value of the nearest filled slot to its circular right, j=(i+t)%n,
    and is tagged with the borrow distance: ``h_j || '@t'``.  The tag
    matters: two documents then agree on a densified slot iff they
    borrowed the *same* hash from the *same* offset — without it, a doc
    empty at slots {1,2} and another empty only at {2} would spuriously
    collide on slot 1 vs slot 2 borrows.  '@' never occurs in a bare
    md5 hex, so a filled slot can never equal a borrowed one.  Naive
    OPH instead leaves every empty slot as the shared OPH_EMPTY
    sentinel, which makes ALL short documents mutually collide on
    empty-heavy bands (precision loss on the short-doc stratum).

    Pure projection — adds zero exchanges to whatever plan produced the
    signature columns.
    """
    n = len(slot_values)
    empty = f"'{OPH_EMPTY}'"
    out: "list[str]" = []
    for i in range(n):
        # one CASE whose branches run t = 1..n-1: the nearest filled
        # slot to the right wins
        borrowed = " ".join(
            f"WHEN {slot_values[(i + t) % n]} != {empty} "
            f"THEN concat({slot_values[(i + t) % n]}, '@{t}')"
            for t in range(1, n)
        )
        out.append(
            f"CASE WHEN {slot_values[i]} != {empty} THEN {slot_values[i]} "
            f"{borrowed} ELSE {empty} END"
        )
    return out


def minhash_signature(
    text_col: str,
    num_hashes: int = 8,
    shingle_k: int = 3,
    densify: str = "naive",
) -> Column:
    """MinHash signature of a text column as array<string> of
    lexicographic-min md5 hexes.

    One-permutation hashing: md5 per shingle, bucketed into
    `num_hashes` slots by its leading byte, min per slot — all JVM-side
    expressions, no shuffle, no explode of the shingle set. Same bits
    as the bulk path (lsh_candidate_pairs); use the bulk path for
    corpus-scale work. The digests and each slot's minimum are bound
    once (:func:`textstats.let_sql`), so a row costs |sh| digests and
    num_hashes filter passes over them, densified or not.
    """
    sh = text_shingles_sql(ident(text_col), shingle_k)
    slots = {
        f"_s{s}": f"coalesce(array_min(filter(_hs, h -> "
        f"{_oph_bucket('h', num_hashes)} = {s})), '{OPH_EMPTY}')"
        for s in range(num_hashes)
    }
    sig = list(slots)
    if densify == "rotation":
        sig = rotation_densify(sig)
    return F.expr(
        let_sql(
            {"_hs": f"transform(array_distinct({sh}), x -> md5(x))", **slots},
            f"array({', '.join(sig)})",
        )
    )


def oph_signature_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_k: int = 3,
    densify: str = "naive",
) -> DataFrame:
    """(id, s0..s{n-1}): bulk one-permutation MinHash signatures.

    Produce (id, shingle) rows relationally (see exploded_shingles),
    ONE md5 per row (vs md5-per-seed: 8× fewer digests for the same
    LSH behavior), then fold per-slot minima with a map-side-combined
    groupBy — one tokenization per document, and the shuffle carries
    only (id, n × 32-byte hex) after partial aggregation. min() is
    duplicate-insensitive, so no distinct pass is needed. Same bits as
    the expression form (minhash_signature) — equivalence is pinned in
    tests. Documents with fewer than shingle_k tokens produce no row.
    """
    i = ident(id_col)
    sh = exploded_shingles(df, text_col, id_col, shingle_k)
    hashed = sh.selectExpr(i, "md5(shingle) AS h").selectExpr(
        i, "h", f"{_oph_bucket('h', num_hashes)} AS slot"
    )
    # the slot minima travel as one struct: one expression to build
    mins = ", ".join(
        f"coalesce(min(CASE WHEN slot = {s} THEN h END), '{OPH_EMPTY}') AS s{s}"
        for s in range(num_hashes)
    )
    sig = hashed.groupBy(id_col).agg(F.expr(f"struct({mins}) AS _sig"))
    slots = [f"_sig.s{s}" for s in range(num_hashes)]
    if densify == "rotation":
        slots = rotation_densify(slots)
    return sig.selectExpr(i, *[f"{c} AS s{s}" for s, c in enumerate(slots)])


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    densify: str = "naive",
) -> DataFrame:
    """MinHash-LSH near-dup candidates as distinct (a_id, b_id), a<b.

    Pipeline: explode distinct shingles → ONE md5 per shingle row →
    one-permutation bucketing (leading byte mod num_hashes) →
    map-side-combined conditional-min signature → explode B band keys →
    self equi-join on band_key (hash-partitioned; AQE splits skewed
    bands) → distinct pairs. Only (id, signature) and (band_key, id)
    ever shuffle; documents shorter than the shingle width drop out
    naturally (no shingles → no bands). Empty OPH slots densify to the
    OPH_EMPTY sentinel, so very short documents can only pair through
    their *filled* slots plus mutually-empty ones.
    """
    rows_per_band = num_hashes // bands
    i = ident(id_col)
    sig = oph_signature_table(
        df, text_col, id_col, num_hashes, shingle_k, densify=densify
    )
    keys = ", ".join(
        f"concat_ws('|', 'b{b}', "
        + ", ".join(f"s{b * rows_per_band + r}" for r in range(rows_per_band))
        + ")"
        for b in range(bands)
    )
    band = sig.selectExpr(i, f"explode(array({keys})) AS band_key")
    # Materialize the band table: a self-join otherwise evaluates the
    # whole shingle→signature subplan twice (once per side). At cluster
    # scale the same role is played by writing `band` to a table before
    # the join. localCheckpoint (not persist) because its blocks are
    # released by the ContextCleaner once the result DataFrame is
    # garbage-collected — a bare persist() leaks storage memory across
    # repeated calls in a long-lived session (bench loops, notebooks).
    band = band.localCheckpoint(eager=True)
    return (
        band.alias("a")
        .join(band.alias("b"), "band_key")
        .where(f"a.{i} < b.{i}")
        .selectExpr(f"a.{i} AS a_id", f"b.{i} AS b_id")
        .distinct()
    )


def fingerprint_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 5
) -> DataFrame:
    """(id, fingerprint): min-md5 over k-gram shingles, md5(text) when a
    document is shorter than k tokens — the relational (bulk) form of
    textstats.fingerprint."""
    fp = (
        exploded_shingles(df, text_col, id_col, k)
        .groupBy(id_col)
        .agg(F.min(F.md5("shingle")).alias("_fp"))
    )
    return (
        df.select(id_col, F.md5(text_col).alias("_fallback"))
        .join(fp, id_col, "left")
        .select(
            id_col, F.coalesce("_fp", "_fallback").alias("fingerprint")
        )
    )


def jaccard_pair_counts(
    left: DataFrame,
    right: DataFrame,
    pair_expr,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
) -> DataFrame:
    """Relational n-gram Jaccard for pre-paired documents.

    *pair_expr* maps a right-side id to its left partner (e.g.
    ``F.col("doc_id") - CLONE_OFFSET``). Produces
    (a_id, b_id, inter_n, union_n) for EVERY left row: |∩| via an
    equi-join on (pair key, shingle); |∪| = |A| + |B| − |∩| from
    per-side distinct counts, so the unioned shingle rows are never
    re-shuffled (countDistinct over the union would ship every shingle
    row a second time with no map-side combine) — all hash-partitioned,
    no arrays, no per-row set objects.
    """
    a_sh = exploded_shingles(left, text_col, id_col, shingle_k).select(
        F.col(id_col).alias("a_id"), "shingle"
    ).distinct()
    b_sh = exploded_shingles(right, text_col, id_col, shingle_k).select(
        pair_expr.alias("a_id"), F.col(id_col).alias("b_id"), "shingle"
    ).distinct()
    inter = (
        a_sh.join(b_sh, ["a_id", "shingle"])
        .groupBy("a_id")
        .agg(F.count("*").cast("int").alias("inter_n"))
    )
    # per-side sizes: the inputs are already distinct, so count(*) per
    # id partially aggregates map-side and shuffles only (id, count)
    cnt_a = a_sh.groupBy("a_id").agg(F.count("*").cast("int").alias("_n_a"))
    cnt_b = b_sh.groupBy("a_id").agg(F.count("*").cast("int").alias("_n_b"))
    pairs = left.select(
        F.col(id_col).alias("a_id")
    ).join(
        right.select(pair_expr.alias("a_id"), F.col(id_col).alias("b_id")),
        "a_id",
    )
    return (
        pairs.join(inter, "a_id", "left")
        .join(cnt_a, "a_id", "left")
        .join(cnt_b, "a_id", "left")
        .select(
            "a_id",
            "b_id",
            F.coalesce("inter_n", F.lit(0)).alias("inter_n"),
            (
                F.coalesce("_n_a", F.lit(0))
                + F.coalesce("_n_b", F.lit(0))
                - F.coalesce("inter_n", F.lit(0))
            ).alias("union_n"),
        )
    )


def _hex_digit(hash_col: Column, pos: int) -> Column:
    """0-based value of hex digit `pos` (0-indexed) of an md5 hex string."""
    return (
        F.instr(F.lit(HEX_DIGITS), F.substring(hash_col, pos + 1, 1)) - 1
    ).cast("int")


def simhash16(tok_col: Column) -> Column:
    """16-bit SimHash over distinct tokens.

    Bit j comes from hex digit j//4 (bit j%4) of each token's md5; the
    per-bit vote is a single `aggregate` fold over the token array —
    all built-in expressions, portable bit-for-bit to the SQL oracle.
    """
    toks = F.array_distinct(tok_col)

    def bit_vote(dp: int, bp: int) -> Column:
        # closure factory — defaults in the lambda signature would make
        # Spark treat it as a different higher-order arity.
        return F.aggregate(
            toks,
            F.lit(0),
            lambda acc, t: acc
            + (
                2 * F.shiftright(_hex_digit(F.md5(t), dp), bp).bitwiseAND(F.lit(1))
                - 1
            ),
        )

    out = F.lit(0)
    for j in range(16):
        vote = bit_vote(j // 4, j % 4)
        out = out + F.when(vote > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return out.cast("int")


def simhash16_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash): relational 16-bit SimHash — explode distinct
    tokens, one md5 per token row, 16 bit-vote sums in a single
    map-side-combined groupBy. Same bits as simhash16() (vote sums are
    order-insensitive), but no giant nested expression: codegen stays
    small and the shuffle carries only (id, 16 ints). Documents with no
    tokens get simhash 0 (all votes empty ⇒ no bit set)."""
    tok = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens(text_col))).alias("tok"),
    )
    h = tok.select(id_col, F.md5("tok").alias("h"))
    aggs = []
    for j in range(16):
        dp, bp = j // 4, j % 4
        digit = (
            F.instr(F.lit(HEX_DIGITS), F.substring("h", dp + 1, 1)) - 1
        ).cast("int")
        bit = F.shiftright(digit, bp).bitwiseAND(F.lit(1))
        aggs.append(F.sum(2 * bit - 1).alias(f"v{j}"))
    votes = h.groupBy(id_col).agg(*aggs)
    sim = F.lit(0)
    for j in range(16):
        sim = sim + F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(
            F.lit(0)
        )
    out = votes.select(F.col(id_col), sim.cast("int").alias("simhash"))
    return (
        df.select(id_col)
        .join(out, id_col, "left")
        .select(
            id_col, F.coalesce("simhash", F.lit(0)).cast("int").alias("simhash")
        )
    )


#: per-row repetition counts over a shingle array bound as ``_sh``
REPETITION_COUNTS_SQL = {
    "n_shingles": "CAST(size(_sh) AS INT)",
    "n_distinct": "CAST(size(array_distinct(_sh)) AS INT)",
}


def with_repetition_counts(
    df: DataFrame, text_col: str = "text", k: int = 3
) -> DataFrame:
    """``df`` plus ``n_shingles`` (k-gram word shingles) and
    ``n_distinct`` (distinct ones) per row, both int. A signal within
    one document needs no co-location, so this is a per-row projection
    — no explode, no shuffle, no join back. Rows with fewer than k
    tokens (including null and blank text) get (0, 0). Both counts come
    from one let expression (:func:`textstats.let_sql`) that tokenizes
    and shingles the row once, also when a filter on them is pushed
    into it."""
    keep = [ident(c) for c in df.columns if c not in REPETITION_COUNTS_SQL]
    counts = ", ".join(f"'{c}', {e}" for c, e in REPETITION_COUNTS_SQL.items())
    rc = let_sql(
        {"_sh": text_shingles_sql(ident(text_col), k)}, f"named_struct({counts})"
    )
    return df.selectExpr(*keep, f"{rc} AS _rc").selectExpr(
        *keep, *[f"_rc.{c} AS {c}" for c in REPETITION_COUNTS_SQL]
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Within-document repetition: fraction of duplicate k-gram word
    shingles per document — the boilerplate/spam signal used by
    crawl-quality filters (high ratio ⇒ repeated template text).

    Map-only (see :func:`with_repetition_counts`): one output row per
    input row, ratio 0.0 when a document has no shingles."""
    counts = with_repetition_counts(
        df.selectExpr(ident(id_col), ident(text_col)), text_col, k
    )
    return counts.selectExpr(
        ident(id_col),
        "n_shingles",
        "n_distinct",
        "CASE WHEN n_shingles = 0 THEN 0.0D ELSE round((n_shingles - n_distinct) "
        "/ CAST(n_shingles AS DOUBLE), 4) END AS rep_ratio",
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 25,
) -> DataFrame:
    """(id, comp) per node of the candidate-pair graph, comp = min node
    id in the node's connected component — the step between pair
    generation (LSH / SimHash buckets) and keeper election
    in a dedup pipeline: keep ``id == comp``, drop the rest, and a
    whole near-dup CLUSTER (not just each pair) collapses to one doc.

    Iterative relational min-label propagation: each round joins the
    current labels onto the symmetrized edge list and takes the min
    label over {self} ∪ neighbors — one equi-join plus one
    map-side-combined groupBy per round, labels localCheckpointed so
    lineage (and plan size) stays constant across rounds. Converges in
    O(component diameter) rounds; dedup clusters are near-cliques with
    tiny diameters, so this beats the O(log n)-round star algorithms
    (Kiveris et al., "Connected Components in MapReduce", SOCC'14)
    in practice — swap one in if components with large diameters
    appear. Each round is one job: the round's groupBy carries every
    node's old label next to the new one, so each checkpointed row holds
    its own ``changed`` flag and the convergence test only reads those
    rows. Shuffles carry only (id, comp) longs. Raises ``RuntimeError``
    when ``max_iter`` rounds end without a round that changed nothing —
    unconverged labels are wrong, not approximate.
    """
    e = pairs.selectExpr(f"{ident(a_col)} AS src", f"{ident(b_col)} AS dst")
    edges = (
        e.unionAll(e.selectExpr("dst AS src", "src AS dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.selectExpr("src AS id")
        .distinct()
        .selectExpr("id", "id AS comp")
        .localCheckpoint(eager=True)
    )
    no_old = f"CAST(NULL AS {labels.schema['comp'].dataType.simpleString()}) AS old"
    for _ in range(max_iter):
        # both sides are corpus-sized; the merge hint pins the join the
        # planner picks at scale, so AQE does not turn it into a
        # broadcast whose build side depends on which shuffle finished
        # first (each variant is new generated code to compile)
        msgs = edges.join(
            labels.selectExpr("id AS src", "comp").hint("merge"), "src"
        ).selectExpr("dst AS id", "comp", no_old)
        rnd = (
            labels.selectExpr("id", "comp", "comp AS old")
            .unionAll(msgs)
            .groupBy("id")
            .agg(F.expr("min(comp) AS comp"), F.expr("max(old) AS old"))
            .selectExpr("id", "comp", "comp != old AS changed")
            .localCheckpoint(eager=True)
        )
        labels = rnd.selectExpr("id", "comp")
        if rnd.where("changed").isEmpty():
            return labels
    raise RuntimeError(
        f"connected_components did not converge in max_iter={max_iter} rounds"
    )


def incremental_dedup(
    incoming: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Flag each incoming document as a duplicate of the already-
    committed corpus — the snapshot-incremental ingestion shape: at
    crawl scale the ``seen`` side is the previous snapshot's
    fingerprint column (a metadata-only read), and only the new batch
    is fingerprinted from raw text.

    One fingerprint projection per side (min-md5 shingle fingerprint,
    same as :func:`fingerprint_table`), a distinct on the seen side,
    and a left equi-join on the 32-char fingerprint — the shuffle
    carries only (fp) / (id, fp). Output: incoming ids + ``is_dup``.
    """
    from . import textstats

    new_fp = incoming.select(
        id_col, textstats.fingerprint(text_col, k=k).alias("fp")
    )
    seen_fp = (
        seen.select(textstats.fingerprint(text_col, k=k).alias("fp"))
        .distinct()
        .withColumn("_seen", F.lit(1))
    )
    return new_fp.join(seen_fp, "fp", "left").select(
        id_col,
        F.when(F.col("_seen").isNotNull(), 1).otherwise(0).alias("is_dup"),
    )


def jaccard_for_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
) -> DataFrame:
    """n-gram Jaccard for an ARBITRARY candidate-pair table — the
    verify stage of a two-stage (candidates → confirm) dedup: LSH /
    SimHash buckets propose, exact Jaccard disposes.

    One distinct exploded-shingle table serves both sides; |∩| comes
    from routing each pair's a-side shingles to the b-side equi-join,
    |∪| = |A| + |B| − |∩| from per-doc sizes. Candidate pairs are
    sparse by construction, so the pair⋈shingle joins stay linear in
    (pairs × shingles-per-doc), never corpus².
    """
    sh = exploded_shingles(docs, text_col, id_col, shingle_k).distinct()
    sizes = sh.groupBy(id_col).agg(F.count("*").cast("int").alias("n_sh"))
    a_sh = pairs.join(
        sh.withColumnRenamed(id_col, a_col), a_col
    )  # (a, b, shingle)
    inter = (
        a_sh.join(
            sh.select(F.col(id_col).alias(b_col), "shingle"),
            [b_col, "shingle"],
        )
        .groupBy(a_col, b_col)
        .agg(F.count("*").cast("int").alias("inter_n"))
    )
    return (
        pairs.join(inter, [a_col, b_col], "left")
        .join(
            sizes.select(F.col(id_col).alias(a_col), F.col("n_sh").alias("_na")),
            a_col,
            "left",
        )
        .join(
            sizes.select(F.col(id_col).alias(b_col), F.col("n_sh").alias("_nb")),
            b_col,
            "left",
        )
        .select(
            a_col,
            b_col,
            F.coalesce("inter_n", F.lit(0)).alias("inter_n"),
            (
                F.coalesce("_na", F.lit(0))
                + F.coalesce("_nb", F.lit(0))
                - F.coalesce("inter_n", F.lit(0))
            ).alias("union_n"),
        )
    )


def duplicate_substring_spans(
    df: DataFrame,
    k: int = 5,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Maximal cross-document repeated substrings (token units) — the
    exact-substring dedup primitive of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"), relationally: a token
    k-gram shared by >= ``min_docs`` distinct documents marks its
    positions duplicated; runs of consecutive duplicated positions
    coalesce into maximal spans via the islands pattern
    (pos - row_number() is constant within a consecutive run).

    Returns (id, span_start, span_len) per maximal duplicated span;
    span_len is in tokens (last shingle's end = max(pos) + k).

    Scale shape: the duplicated-gram table scales with the corpus (it
    is NOT broadcastable — unlike boilerplate lines, quoted text grows
    with data), so positions⋈dup-grams is an honest shuffle join on the
    gram hash; both sides carry (hash, id, pos) slim rows. The island
    window partitions per document — bounded by document length, never
    a global sort.
    """
    sh = df.select(
        F.col(id_col),
        F.posexplode(shingles(text_col, k)).alias("pos", "gram"),
    ).withColumn("gh", F.md5("gram")).drop("gram")
    if min_docs == 2:
        # the dedup case: "shared by >=2 distinct docs" ≡ min(doc) !=
        # max(doc) within the gram partition — ONE shuffle on gh, no
        # self-join, no divergent branches (so no checkpoint/double
        # tokenize), and only slim (id, pos, gh) rows ever move
        wg = Window.partitionBy("gh")
        dpos = (
            sh.withColumn("_lo", F.min(id_col).over(wg))
            .withColumn("_hi", F.max(id_col).over(wg))
            .where(F.col("_lo") != F.col("_hi"))
            .select(id_col, "pos")
        )
    else:
        # general threshold needs a distinct-doc count per gram: keep
        # the two-pass groupBy+join, sharing the materialized shingle
        # table across the divergent branches (localCheckpoint so
        # ContextCleaner frees the blocks with the frame)
        sh = sh.localCheckpoint(eager=True)
        dup = (
            sh.select("gh", id_col)
            .distinct()
            .groupBy("gh")
            .agg(F.count("*").alias("ndocs"))
            .where(F.col("ndocs") >= min_docs)
            .select("gh")
        )
        dpos = sh.join(dup, "gh").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    grp = F.col("pos") - F.row_number().over(w)
    return (
        dpos.withColumn("grp", grp)
        .groupBy(id_col, "grp")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") - F.min("pos") + k).cast("int").alias("span_len"),
        )
        .drop("grp")
    )
