"""Training-data pipeline operators: dedup, text stats."""

import pytest

from pyspark.sql import functions as F

from pdf_parser_spark.functions import dedup, textstats
from pdf_parser_spark.functions.filtering import suffix_blocked_expr

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


# ---------------------------------------------------------------- textstats


def test_tokens_and_counts(spark):
    df = spark.createDataFrame(
        [(1, "a  b\tc\nd"), (2, ""), (3, "  ")], "id INT, text STRING"
    )
    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            textstats.ws_token_count("text").alias("ws"),
            textstats.bpe_token_count("text").alias("bpe"),
        ).collect()
    }
    assert rows[1]["ws"] == 4 and rows[1]["bpe"] == 4
    assert rows[2]["ws"] == 0 and rows[3]["ws"] == 0


def test_word_occurrences_and_quality(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog and the bird . ! sentence words here ok")],
        "id INT, text STRING",
    )
    occ = df.select(textstats.word_occurrences("text", "the").alias("n")).head()["n"]
    assert occ == 3
    q = textstats.with_quality(df).head()
    assert q["n_punct"] == 2
    assert q["quality"] in ("good", "low")


def test_lang_id_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "the cat and a dog"), (2, "der hund und die katze")],
        "id INT, text STRING",
    )
    rows = {r["id"]: r["pred_lang"] for r in textstats.with_lang_id(df).collect()}
    assert rows[1] == "en" and rows[2] == "de"


def test_shingles_and_fingerprint(spark):
    df = spark.createDataFrame([(1, "a b c d"), (2, "a b")], "id INT, text STRING")
    sh = df.select(
        "id", textstats.shingles("text", 3).alias("sh")
    )
    rows = {r["id"]: r["sh"] for r in sh.collect()}
    assert rows[1] == ["a b c", "b c d"]
    assert rows[2] == []
    fps = {r["id"]: r["fp"] for r in df.select(
        "id", textstats.fingerprint("text", k=3).alias("fp")).collect()}
    assert len(fps[1]) == 32 and len(fps[2]) == 32  # md5 hex either path


def test_fingerprint_expression_matches_table(spark, docs):
    """The per-row fingerprint expression and the relational
    fingerprint_table (the doc_fingerprint query) agree on every doc."""
    sample = docs.limit(100)
    expr = {
        r["doc_id"]: r["fp"]
        for r in sample.select(
            "doc_id", textstats.fingerprint("text", k=5).alias("fp")
        ).collect()
    }
    table = {
        r["doc_id"]: r["fingerprint"]
        for r in dedup.fingerprint_table(sample, k=5).collect()
    }
    assert len(expr) == 100 and table == expr


# ------------------------------------------------------------------- dedup


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "xx"), (2, "xx"), (3, "yy")], "doc_id INT, text STRING"
    )
    stats = {r["keeper_id"]: r["n_copies"]
             for r in dedup.exact_dedup_stats(df).collect()}
    assert stats == {1: 2, 3: 1}
    kept = sorted(r["doc_id"] for r in dedup.exact_dedup(df).collect())
    assert kept == [1, 3]


def test_minhash_lsh_finds_near_dups(spark):
    base = "w%d " * 40
    texts = [(1, base % tuple(range(40))),
             (2, base % tuple(range(40)) + "tail extra words"),
             (3, " ".join(f"z{i}" for i in range(40)))]
    df = spark.createDataFrame(texts, "doc_id INT, text STRING")
    pairs = {(r["a_id"], r["b_id"])
             for r in dedup.lsh_candidate_pairs(df).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_close_for_similar(spark):
    t1 = " ".join(f"w{i}" for i in range(60))
    t2 = t1 + " extra"
    t3 = " ".join(f"q{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, t1), (2, t2), (3, t3)], "doc_id INT, text STRING"
    )
    sh = {r["doc_id"]: r["s"] for r in df.select(
        "doc_id", dedup.simhash16(textstats.tokens("text")).alias("s")).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(sh[1], sh[2]) <= 4
    assert all(0 <= v < 65536 for v in sh.values())


def test_simhash_table_matches_expression_path(spark, docs):
    sample = docs.limit(50)
    expr = {
        r["doc_id"]: r["s"]
        for r in sample.select(
            "doc_id", dedup.simhash16(textstats.tokens("text")).alias("s")
        ).collect()
    }
    table = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash16_table(sample).collect()
    }
    assert table == expr


def test_oph_signature_table_matches_expression_path(spark, docs):
    sample = docs.limit(50)
    expr = {
        r["doc_id"]: list(r["sig"])
        for r in sample.select(
            "doc_id",
            dedup.minhash_signature("text").alias("sig"),
        ).collect()
        # expression form emits all-empty signatures for docs below the
        # shingle width; the bulk table has no row for those
        if any(s != dedup.OPH_EMPTY for s in r["sig"])
    }
    table = {
        r["doc_id"]: [r[f"s{i}"] for i in range(8)]
        for r in dedup.oph_signature_table(sample).collect()
    }
    assert table == expr


def test_rotation_densify_filled_slots_unchanged(spark, docs):
    """Rotation densification only rewrites EMPTY slots: every filled
    slot of the naive signature survives bit-for-bit, and every
    borrowed slot is `source_hash@t` where source is the nearest
    filled slot to the circular right."""
    sample = docs.limit(50)
    naive = {
        r["doc_id"]: [r[f"s{i}"] for i in range(8)]
        for r in dedup.oph_signature_table(sample).collect()
    }
    dens = {
        r["doc_id"]: [r[f"s{i}"] for i in range(8)]
        for r in dedup.oph_signature_table(
            sample, densify="rotation"
        ).collect()
    }
    assert set(naive) == set(dens)
    borrowed_seen = 0
    for doc_id, nsig in naive.items():
        dsig = dens[doc_id]
        for i in range(8):
            if nsig[i] != dedup.OPH_EMPTY:
                assert dsig[i] == nsig[i]
                continue
            # empty slot: expect nearest filled slot to the right + tag
            expect = dedup.OPH_EMPTY
            for t in range(1, 8):
                j = (i + t) % 8
                if nsig[j] != dedup.OPH_EMPTY:
                    expect = f"{nsig[j]}@{t}"
                    break
            assert dsig[i] == expect
            if expect != dedup.OPH_EMPTY:
                borrowed_seen += 1
    assert borrowed_seen > 0, "corpus has no empty slots; test is vacuous"


def test_rotation_densify_expression_matches_bulk(spark, docs):
    sample = docs.limit(30)
    expr = {
        r["doc_id"]: list(r["sig"])
        for r in sample.select(
            "doc_id",
            dedup.minhash_signature("text", densify="rotation").alias("sig"),
        ).collect()
        if any(s != dedup.OPH_EMPTY for s in r["sig"])
    }
    table = {
        r["doc_id"]: [r[f"s{i}"] for i in range(8)]
        for r in dedup.oph_signature_table(
            sample, densify="rotation"
        ).collect()
    }
    assert table == expr


def test_rotation_densify_short_docs_do_not_collide(spark):
    """Two unrelated short docs share their mutually-empty bands under
    naive densification (the sentinel collision) but NOT under
    rotation: borrowed values carry the source hash."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")],
        "doc_id INT, text STRING",
    )
    naive = dedup.lsh_candidate_pairs(df, num_hashes=8, bands=4).collect()
    rot = dedup.lsh_candidate_pairs(
        df, num_hashes=8, bands=4, densify="rotation"
    ).collect()
    # one shingle each → 7 empty slots → ≥3 all-empty shared bands
    assert [(r["a_id"], r["b_id"]) for r in naive] == [(1, 2)]
    assert rot == []


def test_repetition_stats(spark):
    """Known repetition ratios: a 3× repeated trigram text, a unique
    text, and a too-short text (no shingles → ratio 0). Edge rows:
    null, empty and whitespace-only text have no shingles; exactly k
    tokens is one shingle, k-1 tokens none. One output row per input
    row."""
    df = spark.createDataFrame(
        [
            (1, "a b c a b c a b c"),   # 7 shingles, 3 distinct
            (2, "one two three four"),  # 2 shingles, both distinct
            (3, "hi there"),            # < 3 tokens
            (4, None),
            (5, ""),
            (6, " \t \n "),
            (7, "x y z"),               # exactly 3 tokens
            (8, "x  y"),                # 2 tokens
        ],
        "doc_id INT, text STRING",
    )
    rows = dedup.repetition_stats(df, k=3).collect()
    assert len(rows) == 8
    got = {r["doc_id"]: r for r in rows}
    assert (got[1]["n_shingles"], got[1]["n_distinct"]) == (7, 3)
    assert got[1]["rep_ratio"] == round((7 - 3) / 7, 4)
    assert (got[2]["n_shingles"], got[2]["n_distinct"]) == (2, 2)
    assert got[2]["rep_ratio"] == 0.0
    assert (got[3]["n_shingles"], got[3]["n_distinct"]) == (0, 0)
    assert got[3]["rep_ratio"] == 0.0
    stats = {i: (r["n_shingles"], r["n_distinct"], r["rep_ratio"])
             for i, r in got.items()}
    for i in (4, 5, 6, 8):
        assert stats[i] == (0, 0, 0.0), i
    assert stats[7] == (1, 1, 0.0)


def test_connected_components_multihop(spark):
    """Label propagation over a 5-node path (forces multi-round
    propagation: min label must travel the diameter), a 3-clique, an
    isolated edge, and a dedup keeper election on top."""
    pairs = spark.createDataFrame(
        # path 10-11-12-13-14, clique {20,21,22}, lone edge 30-31
        [(11, 10), (11, 12), (13, 12), (13, 14),
         (20, 21), (21, 22), (20, 22), (31, 30)],
        "a_id BIGINT, b_id BIGINT",
    )
    comp = {r["id"]: r["comp"]
            for r in dedup.connected_components(pairs).collect()}
    assert {comp[n] for n in (10, 11, 12, 13, 14)} == {10}
    assert {comp[n] for n in (20, 21, 22)} == {20}
    assert {comp[n] for n in (30, 31)} == {30}
    keepers = sorted(k for k, c in comp.items() if k == c)
    assert keepers == [10, 20, 30]


def test_connected_components_converges_early(spark):
    """max_iter far above the diameter must not change the result and
    must stop on the convergence check (same labels back)."""
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "a_id INT, b_id INT")
    comp = {r["id"]: r["comp"]
            for r in dedup.connected_components(pairs, max_iter=50).collect()}
    assert comp == {1: 1, 2: 1, 3: 3, 4: 3}


def test_connected_components_raises_when_unconverged(spark):
    """A 5-node path needs 4 label rounds plus one that changes nothing.
    Running out of rounds first must raise, not return labels that
    still split the path into several 'components'."""
    pairs = spark.createDataFrame(
        [(11, 10), (11, 12), (13, 12), (13, 14)], "a_id BIGINT, b_id BIGINT"
    )
    for max_iter in (1, 4):
        with pytest.raises(RuntimeError, match="did not converge"):
            dedup.connected_components(pairs, max_iter=max_iter)
    comp = {r["id"]: r["comp"]
            for r in dedup.connected_components(pairs, max_iter=5).collect()}
    assert comp == {n: 10 for n in (10, 11, 12, 13, 14)}


def test_deterministic_sampling(spark):
    """Hash sampling: reproducible, fraction-accurate, composable."""
    from pdf_parser_spark.functions import sampling

    df = spark.range(20_000).withColumnRenamed("id", "doc_id")
    s1 = sampling.deterministic_sample(df, 0.3, salt="a")
    n1 = s1.count()
    # same draw twice → identical membership
    assert s1.collect() == sampling.deterministic_sample(df, 0.3, salt="a").collect()
    # fraction within 3 sigma of binomial expectation
    exp = sampling.realized_fraction(0.3) * 20_000
    assert abs(n1 - exp) < 3 * (20_000 * 0.3 * 0.7) ** 0.5
    # different salt → a (near-)independent draw
    s2 = sampling.deterministic_sample(df, 0.3, salt="b")
    ids1 = {r["doc_id"] for r in s1.collect()}
    ids2 = {r["doc_id"] for r in s2.collect()}
    inter = len(ids1 & ids2)
    assert abs(inter - 0.09 * 20_000) < 3 * (20_000 * 0.09 * 0.91) ** 0.5
    # nested draws compose: 50% of 30% ≈ 15%
    nested = sampling.deterministic_sample(s1, 0.5, salt="c").count()
    assert abs(nested - 0.15 * 20_000) < 4 * (20_000 * 0.15 * 0.85) ** 0.5


def test_hash_split_disjoint_exhaustive(spark):
    from pdf_parser_spark.functions import sampling

    df = spark.range(10_000).withColumnRenamed("id", "doc_id")
    out = sampling.hash_split(
        df, {"train": 0.8, "val": 0.1, "test": 0.1}, salt="s"
    )
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 10_000  # exhaustive, one split per row
    assert abs(counts["train"] - 8000) < 3 * (10_000 * 0.8 * 0.2) ** 0.5
    assert abs(counts["val"] - 1000) < 3 * (10_000 * 0.1 * 0.9) ** 0.5
    # membership is stable under corpus growth: the same doc keeps its
    # split when the table doubles
    big = spark.range(20_000).withColumnRenamed("id", "doc_id")
    out_big = sampling.hash_split(
        big, {"train": 0.8, "val": 0.1, "test": 0.1}, salt="s"
    )
    a = {r["doc_id"]: r["split"] for r in out.collect()}
    b = {r["doc_id"]: r["split"] for r in out_big.collect()}
    assert all(b[k] == v for k, v in a.items())
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sampling.hash_split(df, {"train": 0.5, "val": 0.1})


# --------------------------------------------------------------- filtering


def test_host_cap_matches_single_window(spark):
    """The two-phase salted cap must equal a plain single-window cap
    on a skewed input (one hot host), for every salt assignment."""
    from pyspark.sql import Window

    from pdf_parser_spark.functions import filtering

    rows = [(i, "hot") for i in range(250)] + [
        (1000 + i, f"cold{i % 3}") for i in range(9)
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, source STRING")
    got = {
        (r["doc_id"], r["rk"])
        for r in filtering.host_cap(df, k=7, salts=8).collect()
    }
    w = Window.partitionBy("source").orderBy(
        filtering.hash_order_key("doc_id"), "doc_id"
    )
    want = {
        (r["doc_id"], r["rk"])
        for r in df.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 7)
        .collect()
    }
    assert got == want
    assert len({d for d, _ in got if d < 1000}) == 7  # hot host capped


def test_quality_gate_reasons(spark):
    """One document per rule, checking first-failing-rule precedence."""
    from pdf_parser_spark.functions import filtering

    good = "the cat and the dog ran to a tree in the park today ."
    docs = spark.createDataFrame(
        [
            (1, "hi there", "en"),                       # too_short
            (2, "a b c a b c a b c a b c", "en"),        # repetitive
            (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa",
             "en"),                                      # low_quality (no stopwords)
            (4, good, "de"),                             # lang_mismatch
            (5, good, "en"),                             # kept
            (6, None, "en"),                             # low_quality
        ],
        "doc_id INT, text STRING, lang STRING",
    )
    rows = filtering.quality_gate(docs).collect()
    assert len(rows) == 6
    got = {r["doc_id"]: (r["reason"], r["keep"]) for r in rows}
    assert got[1] == ("too_short", 0)
    assert got[2] == ("repetitive", 0)
    assert got[3] == ("low_quality", 0)
    assert got[4] == ("lang_mismatch", 0)
    assert got[5] == ("kept", 1)
    # null text has a null token count, so too_short does not fire; it
    # has no shingles (not repetitive) and falls to the quality bucket
    assert got[6] == ("low_quality", 0)


def test_quality_gate_edge_rows_match_duckdb_oracle(spark):
    """Null, empty, blank, 1-token, 2-token and fully repetitive texts
    get the reason and keep flag of the DuckDB corpus_filter oracle,
    with and without the language rule (skipping it, the last rule
    before 'kept', turns every lang_mismatch into kept).

    Null text is dropped by both, for different reasons: Spark's
    quality bucket is 'low' when its test is null, while the oracle's
    ``NOT (...)`` of a null test is null, so it falls through to the
    language rule (the null text scores as 'fr')."""
    import duckdb

    from pdf_parser_spark.functions import filtering
    from pdf_parser_spark.queries import _duck_quality_gate_sql

    good = "the cat and the dog ran to a tree in the park today ."
    rows = [
        (1, None, "en"),
        (2, "", "en"),
        (3, " \n\t ", "en"),
        (4, "hello", "en"),
        (5, "hello\tworld", "en"),
        (6, " ".join(["spam"] * 12), "en"),
        (7, " ".join(["the cat"] * 8), "en"),
        (8, good, "en"),
        (9, good, "de"),
        (10, good, None),
        (11, good.replace(" ", "\n"), "fr"),
        (12, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en"),
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, lang VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", rows)
    want = {
        d: (reason, keep)
        for d, reason, keep in con.execute(_duck_quality_gate_sql()).fetchall()
    }
    assert {r for r, _ in want.values()} == {
        "too_short", "repetitive", "low_quality", "lang_mismatch", "kept"
    }
    df = spark.createDataFrame(rows, "doc_id BIGINT, clean_text STRING, lang STRING")
    got = {
        r["doc_id"]: (r["reason"], r["keep"])
        for r in filtering.quality_gate(df, text_col="clean_text").collect()
    }
    assert got.pop(1) == ("low_quality", 0) and want.pop(1) == ("lang_mismatch", 0)
    assert got == want
    no_lang = {
        r["doc_id"]: (r["reason"], r["keep"])
        for r in filtering.quality_gate(
            df, text_col="clean_text", lang_col=None
        ).collect()
    }
    assert no_lang.pop(1) == ("low_quality", 0)
    assert no_lang == {
        d: ("kept", 1) if reason == "lang_mismatch" else (reason, keep)
        for d, (reason, keep) in want.items()
    }


def test_suffix_blocklist_dot_boundary(spark):
    hosts = [
        ("example.org", True),        # exact
        ("ads.example.org", True),    # subdomain
        ("a.b.example.org", True),    # deep subdomain
        ("notexample.org", False),    # substring must NOT match
        ("example.org.evil.com", False),  # suffix only, not prefix
        ("other.net", False),
    ]
    df = spark.createDataFrame([(h,) for h, _ in hosts], "host string")
    got = {
        r["host"]: r["b"]
        for r in df.select(
            "host", suffix_blocked_expr("host", ["example.org"]).alias("b")
        ).collect()
    }
    for h, want in hosts:
        assert got[h] is want, h


def test_top_terms_by_lang_ranking(spark):
    """Hand-computed tf-idf order: tf=2/df=1 beats tf=2/df=2 beats
    tf=1/df=1 within a language; languages rank independently."""
    df = spark.createDataFrame(
        [
            (1, "en", "apple apple banana"),
            (2, "en", "banana cherry"),
            (3, "de", "apfel apfel banane"),
        ],
        "doc_id INT, lang STRING, text STRING",
    )
    rows = textstats.top_terms_by_lang(df, k=3).collect()
    en = [r["term"] for r in sorted(
        (r for r in rows if r["lang"] == "en"), key=lambda r: r["rk"])]
    assert en == ["apple", "banana", "cherry"]
    de = [r["term"] for r in sorted(
        (r for r in rows if r["lang"] == "de"), key=lambda r: r["rk"])]
    assert de == ["apfel", "banane"]
    byterm = {(r["lang"], r["term"]): r for r in rows}
    assert byterm[("en", "apple")]["tf"] == 2
    assert byterm[("en", "banana")]["doc_freq"] == 2


def test_incremental_dedup_flags(spark):
    """Exact clone of a committed doc → dup (shingle path); identical
    short text → dup (md5(text) fallback path); fresh doc → not dup."""
    seen = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "tiny doc")],
        "doc_id INT, text STRING",
    )
    incoming = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta"),
            (11, "tiny doc"),
            (12, "completely different fresh new content here today"),
        ],
        "doc_id INT, text STRING",
    )
    got = {r["doc_id"]: r["is_dup"]
           for r in dedup.incremental_dedup(incoming, seen).collect()}
    assert got == {10: 1, 11: 1, 12: 0}


# ------------------------------------------------------- chunking / pii


def test_chunk_tokens_windows(spark):
    """12 tokens, size 5, overlap 2 (stride 3): ceil(7/3)+1 = 4 chunks,
    starts 1/4/7/10, last truncated to 3 tokens; empty doc → no rows."""
    from pdf_parser_spark.functions import chunking

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(12))), (2, "")],
        "doc_id INT, text STRING",
    )
    rows = sorted(
        chunking.chunk_tokens(df, size=5, overlap=2).collect(),
        key=lambda r: (r["doc_id"], r["chunk_id"]),
    )
    assert [r["doc_id"] for r in rows] == [1, 1, 1, 1]
    assert [r["chunk_text"] for r in rows] == [
        "t0 t1 t2 t3 t4",
        "t3 t4 t5 t6 t7",
        "t6 t7 t8 t9 t10",
        "t9 t10 t11",
    ]
    assert [r["n_chunk_tokens"] for r in rows] == [5, 5, 5, 3]
    # consecutive windows share exactly `overlap` tokens
    assert rows[0]["chunk_text"].split()[-2:] == rows[1]["chunk_text"].split()[:2]
    with pytest.raises(ValueError):
        chunking.chunk_tokens(df, size=3, overlap=3)


def test_pii_scrub_patterns(spark):
    from pdf_parser_spark.functions import pii

    df = spark.createDataFrame(
        [(1, "mail a.b+c@ex-y.org twice x@y.io call +1-555-0199 from 10.0.0.7 ok")],
        "doc_id INT, text STRING",
    )
    r = pii.with_pii_scrub(df).head()
    assert (r["n_email"], r["n_phone"], r["n_ipv4"]) == (2, 1, 1)
    assert r["scrubbed"] == "mail <EMAIL> twice <EMAIL> call <PHONE> from <IP> ok"


def test_jaccard_for_pairs_arbitrary_pairs(spark):
    """Pair-table Jaccard: known shingle overlaps, including a pair
    with zero intersection and an unpaired doc that never appears."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),   # shingles {abc,bcd,cde}
            (2, "a b c d"),     # {abc,bcd}
            (3, "x y z w"),     # {xyz,yzw}
            (4, "unused doc here"),
        ],
        "doc_id INT, text STRING",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "a_id INT, b_id INT"
    )
    got = {
        (r["a_id"], r["b_id"]): (r["inter_n"], r["union_n"])
        for r in dedup.jaccard_for_pairs(pairs, docs).collect()
    }
    assert got == {(1, 2): (2, 3), (1, 3): (0, 5)}


def test_chunk_tokens_reconstruction_exhaustive(spark):
    """For every token count 0..90 (straddling size=13/overlap=4
    boundaries): dropping each later chunk's first `overlap` tokens
    and concatenating reconstructs the document exactly, every chunk
    except the last is full-size, and chunk counts match the integer
    formula."""
    from pdf_parser_spark.functions import chunking

    size, overlap = 13, 4
    stride = size - overlap
    df = spark.createDataFrame(
        [(n, " ".join(f"w{i}" for i in range(n))) for n in range(91)],
        "doc_id INT, text STRING",
    )
    rows = chunking.chunk_tokens(df, size=size, overlap=overlap).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 0 not in by_doc  # empty doc → no rows
    for n in range(1, 91):
        chunks = sorted(by_doc[n], key=lambda r: r["chunk_id"])
        want_chunks = (max(n - size, 0) + stride - 1) // stride + 1
        assert len(chunks) == want_chunks, n
        toks = []
        for j, c in enumerate(chunks):
            part = c["chunk_text"].split()
            assert len(part) == c["n_chunk_tokens"]
            if j < len(chunks) - 1:
                assert len(part) == size, (n, j)
            toks.extend(part if j == 0 else part[overlap:])
        assert toks == [f"w{i}" for i in range(n)], n


# ---------------------------------------------------------------- sketches


def test_hll_distinct_accuracy_and_smallrange(spark):
    """HLL estimate within 3% at 20k distinct (m=4096 → σ ≈ 1.6%), and
    the small-range correction path (linear counting over empty
    registers) engages for tiny cardinalities."""
    from pdf_parser_spark.functions import sketches

    rows = [("big", f"val{i}") for i in range(20000)] + [
        ("small", f"x{i % 150}") for i in range(3000)
    ]
    df = spark.createDataFrame(rows, "g string, v string")
    out = {r["g"]: r for r in sketches.hll_distinct(df, "g", "v").collect()}
    big = out["big"]
    assert big["exact_distinct"] == 20000 and big["n_values"] == 20000
    assert abs(big["est_distinct_hll"] - 20000) / 20000 < 0.03
    small = out["small"]
    assert small["exact_distinct"] == 150 and small["n_values"] == 3000
    # small range: raw ≤ 2.5m, so the estimate is m·ln(m/Z) — near-exact
    assert abs(small["est_distinct_hll"] - 150) <= 5
    # registers are duplicate-insensitive: feeding each value 20x more
    # must not move a single register
    df20 = spark.createDataFrame(rows * 3, "g string, v string")
    out3 = {r["g"]: r for r in sketches.hll_distinct(df20, "g", "v").collect()}
    assert out3["big"]["est_distinct_hll"] == big["est_distinct_hll"]
    assert out3["big"]["filled_registers"] == big["filled_registers"]
    # the pure-Python register twin (the streaming sketch's state)
    # reproduces the SQL registers and estimate exactly
    for g in ("big", "small"):
        regs = sketches.py_update_registers(
            [0] * sketches.HLL_M, [v for k, v in rows if k == g]
        )
        assert sketches.py_estimate(regs) == (
            out[g]["filled_registers"], out[g]["est_distinct_hll"]
        )


# ------------------------------------------------------------- mojibake


def test_mojibake_count_and_repair(spark):
    from pdf_parser_spark.functions import cleaning

    # artifact derivation sanity: é's UTF-8 bytes read as cp1252
    assert cleaning.MOJIBAKE_PAIRS[0] == ("Ã©", "é")
    damaged = "cafÃ© â€“ franÃ§ais clean text â€¦"
    df = spark.createDataFrame([(1, damaged), (2, "all clean"), (3, None)],
                               "id INT, text STRING")
    out = {r["id"]: r for r in df.select(
        "id",
        cleaning.mojibake_count("text").alias("n"),
        cleaning.demojibake("text").alias("fixed"),
    ).collect()}
    assert out[1]["n"] == 4
    assert out[1]["fixed"] == "café – français clean text …"
    assert out[2]["n"] == 0 and out[2]["fixed"] == "all clean"
    assert out[3]["n"] is None and out[3]["fixed"] is None


def test_count_min_overestimates_never_under(spark):
    """CM guarantee: est(x) ≥ true(x) for every value, and exact when
    no collision lands in any of the value's d buckets (near-certain
    for a small distinct set vs 4×4096 counters)."""
    from pdf_parser_spark.functions import sketches

    rows = [(f"t{i % 97}",) for i in range(5000)] + [("rare",)]
    df = spark.createDataFrame(rows, "term string")
    sk = sketches.count_min_table(df, "term")
    assert sk.count() <= sketches.CM_DEPTH * 4096
    probes = df.distinct()
    est = {
        r["term"]: r["est_count"]
        for r in sketches.count_min_estimate(sk, probes, "term").collect()
    }
    true = {r["term"]: r["c"] for r in df.groupBy("term").agg(
        F.count("*").alias("c")).collect()}
    assert set(est) == set(true)
    assert all(est[t] >= true[t] for t in true)
    # 98 distinct values in 16384 counters: expect almost all exact
    exact = sum(1 for t in true if est[t] == true[t])
    assert exact >= 90


def test_hll_merge_invariant_any_partitioning(spark):
    """Registers merged from ANY split equal the whole's registers —
    max is associative/commutative/idempotent — so the merged estimate
    is bit-identical to the direct one."""
    from pdf_parser_spark.functions import sketches

    rows = [(i % 7, f"v{i % 3000}") for i in range(20000)]
    df = spark.createDataFrame(rows, "part int, v string")
    r = sketches.hll_merge_invariant(df, "v", "part").collect()[0]
    assert r["merge_exact"] == 1
    assert r["n_parts"] == 7 and r["exact_distinct"] == 3000
    assert abs(r["est_direct"] - 3000) / 3000 < 0.05


def test_mix_temperature_sqrt_shares(spark):
    """α=0.5 smoothing: the scarcest stratum keeps everything; a
    stratum with 4× the supply keeps ~√(1/4) of it (2× the scarcest's
    tokens); membership is the exact integer rule (no float)."""
    from pdf_parser_spark.functions import sampling

    rows = [(i, "lo", "w " * 10) for i in range(100)] + [
        (1000 + i, "hi", "w " * 10) for i in range(400)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    kept = sampling.mix_temperature(df).groupBy("lang").count().collect()
    by = {r["lang"]: r["count"] for r in kept}
    assert by["lo"] == 100  # scarcest keeps 100%
    # hi keeps √(1000/4000) = 0.5 in expectation over the 16-bit hash
    assert 150 <= by["hi"] <= 250


def test_pii_spark_pattern_equivalent_and_linear(spark):
    """The Java-side email pattern (start-of-run lookbehind) must have
    the same match set as the RE2/oracle pattern — pinned here on
    adversarial shapes — and must stay fast on the dotted hostile text
    that made the bare pattern quadratic (24 s at 160 KB, measured)."""
    import re
    import time

    from pdf_parser_spark.functions import pii

    base = pii.PII_PATTERNS[0][1]
    hard = pii.spark_pattern("email", base)
    cases = [
        "plain bob@x.io end",
        "-bob@x.io", "..bob@x.io", "a@b@c.io", "pre@@dom.com",
        "a@b.io c@d.io", "%+_@mail.example.co.uk",
        "a." * 500 + "@", "@" * 50, "a@" + "b." * 300 + "cc",
        "x" * 100 + "@y.io", "no match at all",
        "trail.dot.@x.io", "a@-.-.io",
    ]
    for t in cases:
        assert re.findall(hard, t) == re.findall(base, t), t
    # hostile dotted text through the real Spark expression
    hostile = "a." * 80_000 + "@ tail bob@x.io"
    df = spark.createDataFrame([(1, hostile)], "doc_id INT, text STRING")
    t0 = time.perf_counter()
    row = pii.with_pii_scrub(df).head()
    assert time.perf_counter() - t0 < 20.0  # bare pattern: ~24s regex alone
    assert row["n_email"] == 1 and row["scrubbed"].endswith("<EMAIL>")
