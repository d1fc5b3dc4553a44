"""Snapshot-log resume (engine/snapshots.py): atomic manifest commits,
metadata-only resume, crash-debris invisibility, time travel, lineage,
and the optimistic-concurrency commit protocol."""

import json
import os

import pytest

from pyspark.sql import functions as F

from pdf_parser_spark.engine.corpus import synthesize_webdocs
from pdf_parser_spark.engine.extractor import parse_webdocs
from pdf_parser_spark.engine.snapshots import (
    SnapshotLog,
    snapshot_resumable_extract,
)

N_BATCHES = 6


@pytest.fixture(scope="module")
def webdocs(spark):
    return synthesize_webdocs(spark, "/root/testdata/sf0.001").limit(
        60
    ).localCheckpoint(eager=True)


class Boom(RuntimeError):
    pass


def test_snapshot_resume_after_midrun_crash(spark, webdocs, tmp_path):
    out = str(tmp_path / "snap")
    n_total = webdocs.count()

    def crash_after_two(b: int) -> None:
        if b >= 1:
            raise Boom()

    with pytest.raises(Boom):
        snapshot_resumable_extract(
            spark, webdocs, out, n_batches=N_BATCHES, on_batch=crash_after_two
        )
    log = SnapshotLog(out)
    assert log.committed_buckets() == {0, 1}
    committed = log.read(spark)
    n_committed = committed.count()
    assert 0 < n_committed < n_total

    # crash debris: a data directory with NO manifest must be invisible
    debris = webdocs.limit(3)
    parse_webdocs(debris, num_partitions=0).write.mode("overwrite").parquet(
        os.path.join(out, "data", "bucket=99")
    )
    assert log.read(spark).count() == n_committed

    # resume runs ONLY the uncommitted buckets (metadata decision)
    ran = []
    final = snapshot_resumable_extract(
        spark, webdocs, out, n_batches=N_BATCHES, on_batch=ran.append
    )
    assert sorted(ran) == [2, 3, 4, 5]
    assert final.count() == n_total
    assert final.select("url").distinct().count() == n_total

    # exactly the one-shot result, url for url
    oneshot = {
        r.url: r.text for r in parse_webdocs(webdocs).select("url", "text").collect()
    }
    got = {r.url: r.text for r in final.select("url", "text").collect()}
    assert got == oneshot

    # idempotent: a re-run commits nothing
    again_ran = []
    again = snapshot_resumable_extract(
        spark, webdocs, out, n_batches=N_BATCHES, on_batch=again_ran.append
    )
    assert again_ran == []
    assert again.count() == n_total


def test_time_travel_and_lineage(spark, webdocs, tmp_path):
    out = str(tmp_path / "tt")
    final = snapshot_resumable_extract(spark, webdocs, out, n_batches=4)
    n_total = final.count()
    log = SnapshotLog(out)
    assert log.latest_version() == 3

    # each historical version is a strict prefix of the bucket chain
    counts = [log.read(spark, version=v).count() for v in range(4)]
    assert counts[-1] == n_total
    assert all(a <= b for a, b in zip(counts, counts[1:]))
    assert counts[0] < n_total

    rows = log.lineage(spark).orderBy("version").collect()
    assert [r.version for r in rows] == [0, 1, 2, 3]
    assert [r.parent for r in rows] == [None, 0, 1, 2]
    assert sorted(r.bucket for r in rows) == [0, 1, 2, 3]
    assert sum(r.n_docs for r in rows) == n_total
    assert all(r.n_failures == 0 for r in rows)
    assert all(r.bytes_in > 0 for r in rows)
    ts = [r.ts for r in rows]
    assert ts == sorted(ts)


def test_lookup_url_prunes_to_one_bucket(spark, webdocs, tmp_path):
    out = str(tmp_path / "pt")
    full = snapshot_resumable_extract(spark, webdocs, out, n_batches=6)
    log = SnapshotLog(out)
    target = webdocs.select("url", "text").collect()[7]

    hit = log.lookup_url(spark, target.url)
    rows = hit.collect()
    assert len(rows) == 1 and rows[0].url == target.url

    # metadata pruning: the lookup read exactly one bucket directory
    hit_files = set(hit.inputFiles())
    all_files = set(full.inputFiles())
    assert hit_files < all_files
    dirs = {f.rsplit("/", 2)[-2] for f in hit_files}
    assert len(dirs) == 1 and next(iter(dirs)).startswith("bucket=")

    # a url that was never written resolves to its bucket and 0 rows
    miss = log.lookup_url(spark, "https://nowhere.example/none")
    assert miss is None or miss.count() == 0

    # correctness of a stats range-scan on the hash layout: every
    # bucket spans the full url range so nothing skips, but the result
    # must equal full-scan + filter exactly
    lo, hi = "https://", "https://zzzz"
    got = {r.url for r in log.scan(spark, "url", lo, hi).collect()}
    want = {
        r.url
        for r in full.where((F.col("url") >= lo) & (F.col("url") <= hi)).collect()
    }
    assert got == want


def test_scan_skips_files_on_clustered_layout(spark, tmp_path):
    out = str(tmp_path / "rng")
    log = SnapshotLog(out)
    groups = {
        0: ["a/1", "a/2"],
        1: ["m/1", "m/2"],
        2: ["z/1"],
    }
    for b, urls in groups.items():
        path = os.path.join(out, "data", f"bucket={b}")
        spark.createDataFrame(
            [(u, len(u)) for u in urls], "url string, n int"
        ).coalesce(1).write.mode("overwrite").parquet(path)
        log.commit(
            b, [path], {"n_docs": len(urls)}, n_buckets=3,
            stats={"url": {"min": min(urls), "max": max(urls)}},
        )
    # a commit with no stats is conservatively kept in every scan
    path_x = os.path.join(out, "data", "bucket=3")
    spark.createDataFrame([("q/1", 3)], "url string, n int").coalesce(
        1
    ).write.mode("overwrite").parquet(path_x)
    log.commit(3, [path_x], {"n_docs": 1}, n_buckets=3, stats=None)

    mid = log.scan(spark, "url", "m", "mzz")
    assert {r.url for r in mid.collect()} == {"m/1", "m/2"}
    read_dirs = {f.rsplit("/", 2)[-2] for f in mid.inputFiles()}
    # skipped bucket=0 and bucket=2 by manifest stats; kept the
    # stats-less bucket=3 conservatively
    assert read_dirs == {"bucket=1", "bucket=3"}

    # far range: stats prune all three stat-carrying commits; only the
    # stats-less one is opened, and the exact predicate leaves 0 rows
    far = log.scan(spark, "url", "zz", "zzz")
    assert {f.rsplit("/", 2)[-2] for f in far.inputFiles()} == {"bucket=3"}
    assert far.count() == 0

    # at version 2 (before the stats-less commit) every commit is
    # pruned -> provably empty without opening any file
    assert log.scan(spark, "url", "zz", "zzz", version=2) is None


def test_streaming_sink_commits_snapshots_exactly_once(spark, webdocs, tmp_path):
    """Each micro-batch lands as one snapshot commit (bucket = epoch);
    a checkpointed restart with new source files appends new epochs
    only — no url ever lands twice."""
    from pdf_parser_spark.streaming.ingest import (
        streaming_extract_to_snapshots,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    first = webdocs.limit(40)
    first.write.mode("overwrite").parquet(src)

    q = streaming_extract_to_snapshots(
        spark, src, out, ckpt, max_files_per_trigger=4, available_now=True
    )
    q.awaitTermination(180)
    log = SnapshotLog(out)
    n1 = log.read(spark).count()
    assert n1 == first.count()
    epochs1 = log.committed_buckets()
    assert epochs1  # at least one epoch committed

    # restart with more source data: only the delta runs, as new epochs
    second = webdocs.where(
        ~F.col("url").isin([r.url for r in first.select("url").collect()])
    ).limit(20).localCheckpoint(eager=True)
    second.write.mode("append").parquet(src)
    q2 = streaming_extract_to_snapshots(
        spark, src, out, ckpt, max_files_per_trigger=4, available_now=True
    )
    q2.awaitTermination(180)
    assert log.read(spark).count() == n1 + second.count()
    assert log.read(spark).select("url").distinct().count() == n1 + second.count()
    assert log.committed_buckets() > epochs1

    # per-epoch lineage recorded
    lin = log.lineage(spark).collect()
    assert sum(r.n_docs for r in lin) == n1 + second.count()
    assert all(r.op == "append" for r in lin)
    # epoch commits carry the same url stats and Bloom as extract ones
    assert all(s.stats["url"] and s.bloom for s in log.chain())

    # extraction semantics identical to batch
    table = log.read(spark)
    assert table.where(F.col("text") == "").count() == 0
    # the stream keeps spans and items: non-empty on every PDF row,
    # empty (not null) lists on HTML rows
    pdf = table.where(F.col("kind") == "pdf")
    assert pdf.count() > 0
    assert pdf.where(
        (F.size("spans") < 1)
        | (F.size("items") < 1)
        | (F.col("n_spans") != F.size("spans"))
    ).count() == 0
    html = table.where(F.col("kind") == "html")
    assert html.where((F.size("spans") != 0) | F.col("n_spans").isNull()).count() == 0


def test_commit_conflict_rolls_forward(spark, tmp_path):
    out = str(tmp_path / "cc")
    log = SnapshotLog(out)
    v0 = log.commit(0, [], {"n_docs": 1})
    assert v0 == 0
    # simulate a concurrent writer that created v1 but died before the
    # pointer flip: our next commit must adopt it and land at v2
    orphan = {
        "version": 1,
        "parent": 0,
        "bucket": 7,
        "paths": [],
        "metrics": {"n_docs": 2},
        "ts": 0.0,
    }
    with open(os.path.join(out, "_snapshots", "v1.json"), "w") as f:
        json.dump(orphan, f)
    v2 = log.commit(2, [], {"n_docs": 3})
    assert v2 == 2
    assert log.latest_version() == 2
    assert log.committed_buckets() == {0, 7, 2}
    assert [s.parent for s in log.chain()] == [None, 0, 1]


def test_incremental_read_and_orphan_gc(spark, webdocs, tmp_path):
    out = str(tmp_path / "inc")
    full = snapshot_resumable_extract(spark, webdocs, out, n_batches=4)
    n_total = full.count()
    log = SnapshotLog(out)

    # incremental read: the delta after v1 is exactly buckets 2 and 3
    delta = log.changes_between(spark, since=1)
    v1_rows = log.read(spark, version=1).count()
    assert delta.count() == n_total - v1_rows
    got = {r.url for r in delta.collect()}
    want = {r.url for r in full.collect()} - {
        r.url for r in log.read(spark, version=1).collect()
    }
    assert got == want
    # bounded window [since=0, until=2] is exactly buckets 1 and 2
    mid = log.changes_between(spark, since=0, until=2)
    assert mid.count() == log.read(spark, version=2).count() - log.read(
        spark, version=0
    ).count()
    # empty window
    assert log.changes_between(spark, since=3) is None

    # orphan GC removes only unreferenced debris, never committed data
    debris = os.path.join(out, "data", "bucket=77")
    parse_webdocs(webdocs.limit(2), num_partitions=0).write.mode(
        "overwrite"
    ).parquet(debris)
    removed = log.remove_orphans()
    assert removed == [os.path.normpath(debris)]
    assert not os.path.exists(debris)
    assert log.read(spark).count() == n_total


def test_compaction_replace_and_vacuum(spark, webdocs, tmp_path):
    out = str(tmp_path / "cmp")
    full = snapshot_resumable_extract(spark, webdocs, out, n_batches=4)
    n_total = full.count()
    before = {r.url for r in full.select("url").collect()}
    log = SnapshotLog(out)
    n_files_before = len(full.inputFiles())

    v = log.compact_bucket(spark, bucket=1, target_files=1)
    assert v == 4
    after = log.read(spark)
    # same rows, fewer files; bucket 1 is now exactly one file
    assert after.count() == n_total
    assert {r.url for r in after.select("url").collect()} == before
    assert len(after.inputFiles()) < n_files_before
    b1 = [s for s in log.visible() if s.bucket == 1]
    assert len(b1) == 1 and b1[0].op == "replace"
    assert len(spark.read.parquet(*b1[0].paths).inputFiles()) == 1

    # time travel across the compaction boundary stays exact (old
    # files still on disk until vacuum)
    assert log.read(spark, version=3).count() == n_total

    # CDC excludes the replace commit: no "new rows" from compaction
    assert log.changes_between(spark, since=3) is None

    # point lookup through the compacted bucket still works
    u = webdocs.select("url").collect()[5].url
    assert log.lookup_url(spark, u).count() == 1

    # vacuum reclaims the superseded pre-compaction files once they
    # fall out of the retained window
    removed = log.vacuum(retain_last=1)
    assert removed and all("bucket=1" in p for p in removed)
    assert log.read(spark).count() == n_total  # current table intact
    with pytest.raises(Exception):
        log.read(spark, version=3).count()  # expired version raises

    ops = {r.version: r.op for r in log.lineage(spark).collect()}
    assert ops[4] == "replace" and ops[0] == "append"


def test_compact_where_needed_is_selective(spark, tmp_path):
    out = str(tmp_path / "sel")
    log = SnapshotLog(out)
    # bucket 0: five append waves (fragmented); bucket 1: one commit
    for i in range(5):
        p = os.path.join(out, "data", f"bucket=0-wave{i}")
        spark.createDataFrame(
            [(f"u0-{i}", i)], "url string, n int"
        ).write.mode("overwrite").parquet(p)
        log.commit(0, [p], {"n_docs": 1}, n_buckets=2)
    p1 = os.path.join(out, "data", "bucket=1")
    spark.createDataFrame([("u1", 9)], "url string, n int").write.mode(
        "overwrite"
    ).parquet(p1)
    log.commit(1, [p1], {"n_docs": 1}, n_buckets=2)

    done = log.compact_where_needed(spark, min_commits=4)
    assert list(done) == [0]  # only the fragmented bucket compacted
    vis = {s.bucket: s for s in log.visible()}
    assert vis[0].op == "replace" and vis[1].op == "append"
    df = log.read(spark)
    assert df.count() == 6
    assert {r.url for r in df.collect()} == {f"u0-{i}" for i in range(5)} | {"u1"}
    # idempotent: nothing left above the threshold
    assert log.compact_where_needed(spark, min_commits=4) == {}


def test_cdc_feeds_incremental_dedup(spark, webdocs, tmp_path):
    """End-to-end incremental-ingestion shape: extract batch A through
    the snapshot log, then batch B (half of it duplicating A's texts);
    the CDC read hands ONLY B's rows to incremental_dedup against the
    pre-B table — no rescan of A's raw text."""
    from pdf_parser_spark.functions.dedup import incremental_dedup

    from pdf_parser_spark.engine.extractor import parse_webdocs

    out = str(tmp_path / "cdc")
    batch_a = webdocs.limit(30).localCheckpoint(eager=True)
    snapshot_resumable_extract(spark, batch_a, out, n_batches=3)
    log = SnapshotLog(out)
    v_a = log.latest_version()
    table_a = log.read(spark)

    # batch B: 10 payload copies of A under new urls + 10 fresh docs
    copies = batch_a.limit(10).withColumn(
        "url", F.concat(F.col("url"), F.lit("?copy"))
    )
    fresh = webdocs.where(
        ~F.col("url").isin([r.url for r in batch_a.select("url").collect()])
    ).limit(10)
    batch_b = copies.unionByName(fresh).localCheckpoint(eager=True)
    # commit B as its own snapshot (new bucket id — A's buckets stay
    # untouched; at crawl scale each ingest wave gets a bucket range)
    path_b = os.path.join(out, "data", "bucket=100")
    parse_webdocs(batch_b, num_partitions=0).write.mode("overwrite").parquet(path_b)
    log.commit(100, [path_b], {"n_docs": batch_b.count()}, n_buckets=3)

    # the CDC read returns exactly batch B, nothing of A
    delta = log.changes_between(spark, since=v_a)
    assert {r.url for r in delta.select("url").collect()} == {
        r.url for r in batch_b.select("url").collect()
    }

    flags = incremental_dedup(
        delta.withColumnRenamed("url", "doc_id"),
        table_a,
        text_col="text",
        id_col="doc_id",
    ).cache()
    assert flags.count() == 20
    dup_ids = {
        r.doc_id for r in flags.where(F.col("is_dup") == 1).collect()
    }
    assert dup_ids == {
        r.url for r in copies.select("url").collect()
    }  # every copy flagged, every fresh doc clean


def test_lookup_url_mixed_modulus_falls_back(spark, tmp_path):
    """A log mixing url-hash commits with epoch-id commits (streaming)
    cannot promise a url lives in one bucket — lookup must full-scan,
    never prune to a possibly-wrong bucket."""
    out = str(tmp_path / "mix")
    log = SnapshotLog(out)
    p0 = os.path.join(out, "data", "bucket=0")
    spark.createDataFrame([("u-hash", 1)], "url string, n int").write.mode(
        "overwrite"
    ).parquet(p0)
    log.commit(0, [p0], {"n_docs": 1}, n_buckets=3)
    p1 = os.path.join(out, "data", "bucket=1")
    spark.createDataFrame([("u-epoch", 2)], "url string, n int").write.mode(
        "overwrite"
    ).parquet(p1)
    log.commit(1, [p1], {"n_docs": 1})  # epoch commit: no modulus

    hit = log.lookup_url(spark, "u-epoch")
    assert hit.count() == 1  # found even though xxhash would point elsewhere
    assert len(hit.inputFiles()) == len(log.read(spark).inputFiles())


def test_schema_evolution_add_column(spark, tmp_path):
    """A later commit may add columns; the read resolves the union
    schema from MANIFEST metadata (no footer sweep when schemas agree)
    and null-fills the old rows — Iceberg add-column semantics."""
    out = str(tmp_path / "evo")
    log = SnapshotLog(out)
    p0 = os.path.join(out, "data", "bucket=0")
    spark.createDataFrame(
        [("u0", "t0")], "url string, text string"
    ).write.mode("overwrite").parquet(p0)
    log.commit(0, [p0], {"n_docs": 1}, columns=["url", "text"])

    p1 = os.path.join(out, "data", "bucket=1")
    spark.createDataFrame(
        [("u1", "t1", "en")], "url string, text string, lang string"
    ).write.mode("overwrite").parquet(p1)
    log.commit(1, [p1], {"n_docs": 1}, columns=["url", "text", "lang"])

    df = log.read(spark)
    assert set(df.columns) == {"url", "text", "lang"}
    rows = {r.url: r.lang for r in df.collect()}
    assert rows == {"u0": None, "u1": "en"}

    # time travel to before the evolution keeps the old schema
    assert set(log.read(spark, version=0).columns) == {"url", "text"}


def test_torn_manifest_is_dropped(spark, tmp_path):
    out = str(tmp_path / "torn")
    log = SnapshotLog(out)
    log.commit(0, [], {"n_docs": 1})
    # a half-written manifest (kill mid-json.dump) was never pointed to
    with open(os.path.join(out, "_snapshots", "v1.json"), "w") as f:
        f.write('{"version": 1, "par')
    v1 = log.commit(1, [], {"n_docs": 2})
    assert v1 == 1
    assert log.committed_buckets() == {0, 1}
