"""AtomicStore-level guarantees of the snapshot log (engine/snapshots.py):
real multi-process concurrent writers (exactly-one-winner per version),
monotonic LATEST, crash-between-publish-and-pointer adoption (fault-
injected MemoryStore), foreign-manifest safety (a loser never deletes a
winner's commit), vacuum path-spelling safety, vacuum-expiry errors,
and the extract/epoch bucket-namespace separation."""

import json
import multiprocessing
import os

import pytest

from pdf_parser_spark.engine.snapshots import (
    MemoryStore,
    PosixStore,
    SimulatedCrash,
    SnapshotExpiredError,
    SnapshotLog,
)


# -- real concurrent writers (two+ OS processes) -------------------------


def _race_worker(args):
    out_dir, wid, n = args
    from pdf_parser_spark.engine.snapshots import SnapshotLog as _Log

    log = _Log(out_dir)
    versions = []
    for i in range(n):
        v = log.commit(
            bucket=wid * 1000 + i, paths=[], metrics={"writer": wid, "i": i}
        )
        versions.append(v)
    return wid, versions


def test_concurrent_writers_exactly_one_winner_per_version(tmp_path):
    """Four OS processes hammer one log: every version must be claimed
    by exactly one writer, versions are a gap-free sequence, the chain
    is linear, and LATEST lands on the maximum — the optimistic-
    concurrency contract, exercised for real (the Hypothesis model is
    single-process)."""
    out = str(tmp_path / "race")
    n_writers, n_each = 4, 20
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(n_writers) as pool:
        results = pool.map(
            _race_worker, [(out, w, n_each) for w in range(n_writers)]
        )

    total = n_writers * n_each
    claimed: dict[int, int] = {}
    for wid, versions in results:
        assert len(versions) == n_each
        for v in versions:
            assert v not in claimed, f"version {v} returned to two writers"
            claimed[v] = wid
    assert sorted(claimed) == list(range(total))

    log = SnapshotLog(out)
    assert log.latest_version() == total - 1
    chain = log.chain()
    assert [s.version for s in chain] == list(range(total))
    assert [s.parent for s in chain] == [None] + list(range(total - 1))
    # exactly-one-winner: the manifest at each returned version carries
    # the claiming writer's marker (no slot stolen after the fact)
    for v, wid in claimed.items():
        assert log.snapshot(v).metrics["writer"] == wid


# -- pointer monotonicity -------------------------------------------------


@pytest.mark.parametrize("store_cls", [PosixStore, MemoryStore])
def test_latest_pointer_never_regresses(tmp_path, store_cls):
    root = str(tmp_path / "ptr")
    store = (
        store_cls(os.path.join(root, "_snapshots"))
        if store_cls is PosixStore
        else store_cls()
    )
    log = SnapshotLog(root, store=store)
    for b in range(3):
        log.commit(b, [], {"n_docs": 1})
    assert log.latest_version() == 2
    # a stale loser advancing an old version must be a no-op
    store.advance_pointer("LATEST", 0)
    assert log.latest_version() == 2
    store.advance_pointer("LATEST", 5)
    assert log.latest_version() == 5


# -- crash between publish and pointer advance ---------------------------


def test_crash_after_publish_is_adopted_by_next_writer(tmp_path):
    """MemoryStore fault injection: writer A dies AFTER its manifest
    became visible but BEFORE the pointer advanced. Writer B must adopt
    A's commit (it is complete by construction) and land after it —
    A's rows are never lost and never doubled."""
    crashes = {"armed": True}

    def die_once(name):
        if crashes["armed"]:
            crashes["armed"] = False
            return True
        return False

    store = MemoryStore(fail_after_publish=die_once)
    root = str(tmp_path / "crash")
    log = SnapshotLog(root, store=store)
    with pytest.raises(SimulatedCrash):
        log.commit(7, [], {"n_docs": 1})
    assert store.read_pointer("LATEST") is None  # pointer never advanced
    assert log.latest_version() == 0  # the head is the published v0

    v = log.commit(8, [], {"n_docs": 2})
    assert v == 1  # adopted the orphan at v0, landed at v1
    assert log.latest_version() == 1
    assert [s.bucket for s in log.chain()] == [7, 8]


def test_rerun_of_crashed_commit_is_not_doubled(tmp_path):
    """Writer dies after publishing epoch 1's manifest but before the
    pointer advanced (a SIGKILL right after the manifest lands). The
    restart's resume check sees epoch 1 at the head; a writer that
    commits the same path anyway must get the orphan back as itself,
    not chain a second copy of the epoch."""
    store = MemoryStore(fail_after_publish=lambda name: name == "v1.json")
    log = SnapshotLog(str(tmp_path / "replay"), store=store)
    p0, p1 = "data/epoch=0", "data/epoch=1"
    assert log.commit(0, [p0], {"n_docs": 3}, kind="epoch") == 0
    with pytest.raises(SimulatedCrash):
        log.commit(1, [p1], {"n_docs": 4}, kind="epoch")
    assert store.read_pointer("LATEST") == 0  # pointer lags
    assert log.committed_buckets(kind="epoch") == {0, 1}  # the head does not

    store.fail_after_publish = None
    assert log.commit(1, [p1], {"n_docs": 4}, kind="epoch") == 1
    assert log.latest_version() == 1
    assert [(s.bucket, s.paths) for s in log.chain()] == [(0, [p0]), (1, [p1])]
    # a different commit at the orphan's slot still lands after it
    store.fail_after_publish = lambda name: name == "v2.json"
    with pytest.raises(SimulatedCrash):
        log.commit(2, ["data/epoch=2"], {"n_docs": 1}, kind="epoch")
    store.fail_after_publish = None
    assert log.commit(2, ["data/epoch=2"], {"n_docs": 1}, kind="extract") == 3
    assert [(s.kind, s.bucket) for s in log.chain()] == [
        ("epoch", 0), ("epoch", 1), ("epoch", 2), ("extract", 2),
    ]


def test_head_rolls_past_lagging_pointer(spark, tmp_path):
    """A writer killed after publishing v1 but before advancing LATEST
    leaves a complete commit. Readers, GC and the next writer must all
    see it: the bucket counts as committed, its data directory survives
    orphan GC, and the table reads whole after the next commit."""
    store = MemoryStore(fail_after_publish=lambda name: name == "v1.json")
    out = str(tmp_path / "lag")
    log = SnapshotLog(out, store=store)
    paths = {}
    for b in (0, 1):
        paths[b] = os.path.join(out, "data", f"bucket={b}")
        spark.createDataFrame(
            [(f"u{b}", b)], "url string, n int"
        ).write.mode("overwrite").parquet(paths[b])
    log.commit(0, [paths[0]], {"n_docs": 1}, n_buckets=2)
    with pytest.raises(SimulatedCrash):
        log.commit(1, [paths[1]], {"n_docs": 1}, n_buckets=2)
    assert store.read_pointer("LATEST") == 0

    assert log.committed_buckets() == {0, 1}
    assert log.remove_orphans() == []
    assert os.path.isdir(paths[1])

    # the next, unrelated commit chains on top of v1
    store.fail_after_publish = None
    assert log.commit(0, [], {"n_docs": 0}, kind="epoch") == 2
    assert log.committed_buckets(kind="extract") == {0, 1}
    assert {r.url for r in log.read(spark).collect()} == {"u0", "u1"}


def test_loser_never_deletes_foreign_complete_manifest(tmp_path):
    """A publish that loses the race must adopt the winner's manifest,
    never remove it (the r4 handler deleted a just-published foreign
    manifest when its bytes looked incomplete; publish is now
    all-or-nothing, so a visible manifest is always complete)."""
    root = str(tmp_path / "foreign")
    log = SnapshotLog(root)
    # a foreign writer publishes v0 through its own store handle
    other = SnapshotLog(root)
    other.commit(3, [], {"n_docs": 5, "writer": "other"})
    # our writer computed version 0 before the foreign commit landed:
    # simulate by publishing directly at the contended slot
    ok = log.store.publish("v0.json", b'{"would": "lose"}')
    assert ok is False  # claimed — loser backs off
    # the foreign manifest is intact and the next commit chains onto it
    assert log.snapshot(0).metrics["writer"] == "other"
    v = log.commit(4, [], {"n_docs": 6})
    assert v == 1
    assert [s.bucket for s in log.chain()] == [3, 4]


def test_torn_legacy_manifest_is_reclaimed(tmp_path):
    """Bytes torn mid-json (pre-link-protocol debris) still free their
    slot — but only genuinely unparseable bytes qualify."""
    root = str(tmp_path / "legacy")
    log = SnapshotLog(root)
    log.commit(0, [], {"n_docs": 1})
    with open(os.path.join(log.log_dir, "v1.json"), "w") as f:
        f.write('{"version": 1, "par')
    v = log.commit(1, [], {"n_docs": 2})
    assert v == 1
    assert log.committed_buckets() == {0, 1}


# -- vacuum path-spelling safety ------------------------------------------


def test_vacuum_and_gc_survive_path_respelling(tmp_path, monkeypatch):
    """Commit through a RELATIVE output_dir, then vacuum/GC through the
    ABSOLUTE spelling of the same directory: committed data must
    survive (the r4 normpath-only comparison deleted every committed
    bucket in this scenario — silent total data loss)."""
    monkeypatch.chdir(tmp_path)
    rel = "out"
    log_rel = SnapshotLog(rel)
    data = os.path.join(rel, "data", "bucket=0")
    os.makedirs(data)
    with open(os.path.join(data, "part-0.parquet"), "w") as f:
        f.write("x")
    log_rel.commit(0, [data], {"n_docs": 1})

    log_abs = SnapshotLog(os.path.abspath(rel))
    assert log_abs.remove_orphans() == []
    assert log_abs.vacuum(retain_last=1) == []
    assert os.path.isdir(data)

    # genuine debris is still collected under the absolute spelling
    debris = os.path.join(rel, "data", "bucket=junk")
    os.makedirs(debris)
    removed = log_abs.remove_orphans()
    assert len(removed) == 1 and removed[0].endswith("bucket=junk")
    assert os.path.isdir(data)


# -- vacuum-expiry surfacing (Spark) ---------------------------------------


def test_expired_window_raises_snapshot_expired(spark, tmp_path):
    """After a compaction's superseded appends are vacuumed, a CDC read
    or time-travel read reaching behind the horizon raises
    SnapshotExpiredError — never an opaque missing-path failure."""
    out = str(tmp_path / "exp")
    log = SnapshotLog(out)
    for b in range(2):
        p = os.path.join(out, "data", f"bucket={b}")
        spark.createDataFrame(
            [(f"u{b}", b)], "url string, n int"
        ).write.mode("overwrite").parquet(p)
        log.commit(b, [p], {"n_docs": 1}, n_buckets=2)
    log.compact_bucket(spark, bucket=0)
    log.compact_bucket(spark, bucket=1)
    removed = log.vacuum(retain_last=1)
    assert removed  # the pre-compaction appends are gone

    with pytest.raises(SnapshotExpiredError):
        log.changes_between(spark, since=None)
    with pytest.raises(SnapshotExpiredError):
        log.read(spark, version=1)
    # the current table is intact
    assert log.read(spark).count() == 2


# -- extract/epoch namespace separation (Spark) ----------------------------


def test_extract_and_epoch_namespaces_do_not_collide(spark, tmp_path):
    """One output_dir shared by the batch extractor (kind="extract",
    data/bucket=<b>) and the streaming sink (kind="epoch",
    data/epoch=<e>): epoch 0 must not clobber bucket 0's files, and
    each side's resume must see only its own commits."""
    from pdf_parser_spark.engine.corpus import synthesize_webdocs
    from pdf_parser_spark.engine.snapshots import snapshot_resumable_extract
    from pdf_parser_spark.streaming.ingest import (
        streaming_extract_to_snapshots,
    )

    docs = synthesize_webdocs(spark, "/root/testdata/sf0.001").limit(
        30
    ).localCheckpoint(eager=True)
    batch = docs.limit(20)
    stream_docs = docs.subtract(batch).localCheckpoint(eager=True)

    out = str(tmp_path / "shared")
    snapshot_resumable_extract(spark, batch, out, n_batches=2)
    log = SnapshotLog(out)
    n_batch = log.read(spark).count()
    assert log.committed_buckets(kind="extract") == {0, 1}

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    stream_docs.write.mode("overwrite").parquet(src)
    q = streaming_extract_to_snapshots(
        spark, src, out, ckpt, max_files_per_trigger=2, available_now=True
    )
    q.awaitTermination(180)

    epochs = log.committed_buckets(kind="epoch")
    assert epochs and 0 in epochs  # epoch ids start at 0 — the collision case
    # extract resume still sees exactly its own buckets
    assert log.committed_buckets(kind="extract") == {0, 1}
    # no clobber, no loss, no duplicates
    total = log.read(spark)
    assert total.count() == n_batch + stream_docs.count()
    assert total.select("url").distinct().count() == total.count()
    # epoch data lives in its own directory namespace
    epoch_dirs = [
        d for d in os.listdir(os.path.join(out, "data")) if d.startswith("epoch=")
    ]
    assert epoch_dirs
    # a resumed extract run over the same batch re-runs nothing
    ran = []
    snapshot_resumable_extract(
        spark, batch, out, n_batches=2, on_batch=ran.append
    )
    assert ran == []


def test_manifest_kind_roundtrip(tmp_path):
    root = str(tmp_path / "kind")
    log = SnapshotLog(root)
    log.commit(0, [], {"n_docs": 1}, kind="extract")
    log.commit(0, [], {"n_docs": 2}, kind="epoch")
    assert log.committed_buckets() == {0}
    assert log.committed_buckets(kind="extract") == {0}
    assert log.committed_buckets(kind="epoch") == {0}
    kinds = {(s.kind, s.bucket) for s in log.visible()}
    assert kinds == {("extract", 0), ("epoch", 0)}
    # legacy manifests (no kind field) read back as "extract"
    with open(os.path.join(log.log_dir, "v2.json"), "w") as f:
        json.dump(
            {
                "version": 2,
                "parent": 1,
                "bucket": 9,
                "paths": [],
                "metrics": {},
                "ts": 0.0,
            },
            f,
        )
    log.store.advance_pointer("LATEST", 2)
    assert log.snapshot(2).kind == "extract"


# -- manifest Bloom point-probe pruning -------------------------------------


def test_bloom_prunes_misses_without_reading_data(spark, tmp_path):
    """A point lookup for an absent url must resolve from manifest
    Bloom filters alone — zero parquet directories opened; a present
    url still prunes to its one bucket. CDC/incremental-dedup probes
    get the same skip for free. No committed url may miss its own
    commit's filter (a false negative would hide a stored row)."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.engine.corpus import synthesize_webdocs
    from pdf_parser_spark.engine.snapshots import snapshot_resumable_extract

    docs = synthesize_webdocs(spark, "/root/testdata/sf0.001").limit(
        40
    ).localCheckpoint(eager=True)
    out = str(tmp_path / "bloom")
    full = snapshot_resumable_extract(spark, docs, out, n_batches=4)
    log = SnapshotLog(out)
    assert all(s.bloom is not None for s in log.visible())

    # every url's bucket and k probe positions, hashed in one select
    # exactly as the write path hashes them
    ((n, m, k),) = {
        (s.n_buckets, s.bloom["m"], s.bloom["k"]) for s in log.visible()
    }
    probes = docs.select(
        "url",
        F.pmod(F.xxhash64("url"), F.lit(n)).alias("b"),
        F.array(
            *[F.pmod(F.xxhash64("url", F.lit(i)), F.lit(m)) for i in range(k)]
        ).alias("pos"),
    ).collect()
    assert len({r.url for r in probes}) == 40

    def assert_no_false_negatives():
        commits = {s.bucket: s for s in log.visible()}
        assert len(commits) == len(log.visible())  # one commit per bucket
        for r in probes:
            bits = bytes.fromhex(commits[r.b].bloom["bits"])
            assert all((bits[p >> 3] >> (p & 7)) & 1 for p in r.pos), r.url

    assert_no_false_negatives()

    # absent url: provably not in ANY commit -> None, no data read
    assert log.lookup_url(spark, "https://definitely.absent/nothing") is None

    # present url: found, and only its bucket's files are opened
    target = docs.select("url").collect()[11].url
    hit = log.lookup_url(spark, target)
    rows = hit.collect()
    assert len(rows) == 1 and rows[0].url == target
    assert len(set(hit.inputFiles())) < len(set(full.inputFiles()))

    # compaction rebuilds the filter: pruning survives a replace commit
    log.compact_bucket(spark, bucket=0)
    b0 = [s for s in log.visible() if s.bucket == 0]
    assert len(b0) == 1 and b0[0].op == "replace" and b0[0].bloom
    assert_no_false_negatives()
    assert log.lookup_url(spark, "https://definitely.absent/nothing") is None
    assert log.lookup_url(spark, target).count() == 1


def test_bloom_prunes_epoch_commits_in_mixed_log(spark, tmp_path):
    """On a mixed extract+epoch log the modulus fallback used to scan
    EVERYTHING; with per-commit Blooms an absent url now resolves
    metadata-only and a present one reads only the commits whose
    filters fire."""
    from pdf_parser_spark.engine.corpus import synthesize_webdocs
    from pdf_parser_spark.engine.snapshots import snapshot_resumable_extract
    from pdf_parser_spark.streaming.ingest import (
        streaming_extract_to_snapshots,
    )

    docs = synthesize_webdocs(spark, "/root/testdata/sf0.001").limit(
        30
    ).localCheckpoint(eager=True)
    batch = docs.limit(20)
    rest = docs.subtract(batch).localCheckpoint(eager=True)
    out = str(tmp_path / "mixb")
    snapshot_resumable_extract(spark, batch, out, n_batches=2)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    rest.write.mode("overwrite").parquet(src)
    q = streaming_extract_to_snapshots(
        spark, src, out, ckpt, max_files_per_trigger=8, available_now=True
    )
    q.awaitTermination(180)

    log = SnapshotLog(out)
    assert log.lookup_url(spark, "https://definitely.absent/x") is None
    u = rest.select("url").collect()[0].url
    hit = log.lookup_url(spark, u)
    rows = hit.collect()
    assert len(rows) == 1 and rows[0].url == u
    full_files = set(log.read(spark).inputFiles())
    assert len(set(hit.inputFiles())) < len(full_files)


# -- manifest reads per streaming epoch ------------------------------------


class _CountingStore(MemoryStore):
    def __init__(self) -> None:
        super().__init__()
        self.reads = 0

    def read(self, name: str) -> bytes | None:
        self.reads += 1
        return super().read(name)


def _epoch_reads(n_versions: int) -> int:
    """Store reads of one streaming epoch (the sink's replay check plus
    its commit) on a log that already holds *n_versions* epochs."""
    store = _CountingStore()
    log = SnapshotLog("unused", store=store)
    for e in range(n_versions):
        if e not in log.committed_buckets(kind="epoch"):
            log.commit(e, [], {"n_docs": 1}, kind="epoch")
    store.reads = 0
    assert n_versions not in log.committed_buckets(kind="epoch")
    assert log.commit(n_versions, [], {"n_docs": 1}, kind="epoch") == n_versions
    return store.reads


def test_epoch_commit_reads_do_not_grow_with_the_log():
    """A published manifest never changes, so the log parses each one
    once: an epoch's check + commit reads a constant number of objects
    (the probes past the head), not the whole chain back to v0."""
    at_100, at_400 = _epoch_reads(100), _epoch_reads(400)
    assert at_100 == at_400
    assert at_400 <= 4
