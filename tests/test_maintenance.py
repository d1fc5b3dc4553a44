"""Table-maintenance operators: snapshot CDC diff, compaction planning,
Bloom prefilter, domain blocklist, Z-order layout."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_parser_spark.functions import maintenance
from pdf_parser_spark.functions.filtering import suffix_blocked_expr


# ---------------------------------------------------------- snapshot diff


def test_snapshot_diff_classifies(spark):
    base = spark.createDataFrame(
        [("a", "h1"), ("b", "h2"), ("c", "h3")], "url string, content_hash string"
    )
    new = spark.createDataFrame(
        [("a", "h1"), ("b", "h2x"), ("d", "h4")], "url string, content_hash string"
    )
    got = {
        r["url"]: r["change"]
        for r in maintenance.snapshot_diff(base, new).collect()
    }
    # 'a' unchanged → absent
    assert got == {"b": "changed", "c": "removed", "d": "added"}


# -------------------------------------------------------- compaction plan


def test_compaction_plan_bins_by_running_sum(spark):
    rows = [("h", f"u{i}", 60) for i in range(5)]  # 300 bytes total
    df = spark.createDataFrame(rows, "host string, url string, size_bytes long")
    got = {
        r["url"]: r["file_seq"]
        for r in maintenance.compaction_plan(df, target_bytes=100).collect()
    }
    # running-before: 0,60,120,180,240 → bins 0,0,1,1,2
    assert got == {"u0": 0, "u1": 0, "u2": 1, "u3": 1, "u4": 2}


def test_compaction_plan_hosts_independent(spark):
    rows = [("a", "u1", 90), ("a", "u2", 90), ("b", "u1", 90), ("b", "u2", 90)]
    df = spark.createDataFrame(rows, "host string, url string, size_bytes long")
    got = maintenance.compaction_plan(df, target_bytes=100).collect()
    # each host restarts at file 0
    by_host = {}
    for r in got:
        by_host.setdefault(r["host"], []).append(r["file_seq"])
    assert by_host == {"a": [0, 0], "b": [0, 0]} or all(
        seqs[0] == 0 for seqs in by_host.values()
    )


def test_compaction_plan_oversize_row_gets_own_file(spark):
    rows = [("h", "u0", 50), ("h", "u1", 500), ("h", "u2", 50)]
    df = spark.createDataFrame(rows, "host string, url string, size_bytes long")
    got = {
        r["url"]: r["file_seq"]
        for r in maintenance.compaction_plan(df, target_bytes=100).collect()
    }
    # u1 starts at offset 50 → file 0; u2 starts at 550 → file 5
    assert got["u0"] == 0 and got["u1"] == 0 and got["u2"] == 5


# ----------------------------------------------------------- Bloom filter


def test_bloom_no_false_negatives_and_few_false_positives(spark):
    members = spark.range(0, 300).select(F.md5(F.col("id").cast("string")).alias("h"))
    words = maintenance.bloom_words(members, "h")
    assert len(words) == maintenance.BLOOM_WORDS
    hit = maintenance.bloom_hit_expr(F.col("h"), words)
    # every member must hit (no false negatives — the soundness of the
    # prefilter-then-exact-join pattern rests on this)
    assert members.where(~hit).count() == 0
    # disjoint keys: false-positive rate stays near the theoretical
    # (1 - e^{-kn/m})^k ≈ 0.33 at n=300, m=1024, k=4
    others = spark.range(10_000, 11_000).select(
        F.md5(F.col("id").cast("string")).alias("h")
    )
    fp = others.where(hit).count() / 1000
    assert fp < 0.5, fp


def test_bloom_empty_seen_side_rejects_everything(spark):
    empty = spark.range(0).select(F.md5(F.col("id").cast("string")).alias("h"))
    words = maintenance.bloom_words(empty, "h")
    assert words == [0] * maintenance.BLOOM_WORDS
    probe = spark.range(5).select(F.md5(F.col("id").cast("string")).alias("h"))
    assert probe.where(maintenance.bloom_hit_expr(F.col("h"), words)).count() == 0


# -------------------------------------------------------- suffix blocklist


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


# --------------------------------------------------------------- Z-order


def test_zvalue_interleaves_bits(spark):
    df = spark.createDataFrame([(0b101, 0b011)], "a long, b long")
    got = df.select(
        maintenance.zvalue_expr(F.col("a"), F.col("b"), bits=4).alias("z")
    ).collect()[0]["z"]
    # a=0101 → even lanes 0,2; b=0011 → odd lanes 1,3
    # z bits: (a0=1→b0) (b0=1→b1) (a1=0) (b1=1→b3) (a2=1→b4) (b2=0) (a3=0) (b3=0)
    assert got == 0b011011


def test_zorder_locality(spark):
    """Neighbors in either dimension share z-prefixes more often than
    random pairs — the property that makes min/max pruning work."""
    rows = [(i, i // 16, i % 16) for i in range(256)]
    df = spark.createDataFrame(rows, "id long, a long, b long")
    out = maintenance.zorder_layout(
        df, F.col("a"), F.col("b"), bits=4, bucket_shift=4
    ).collect()
    by_id = {r["id"]: (r["zval"], r["zbucket"]) for r in out}
    # same (a,b) cell → same z; the 16 buckets each hold a 16-cell tile
    assert len({z for z, _ in by_id.values()}) == 256
    from collections import Counter

    bucket_sizes = Counter(b for _, b in by_id.values())
    assert all(v == 16 for v in bucket_sizes.values())
