"""Iceberg-analog snapshot log: atomic manifest commits over parquet.

North rule: "resumes from the last committed snapshot" with
"per-partition lineage + metrics". This log is the package's one durable
output path: the batch extractor (:func:`snapshot_resumable_extract`)
and the streaming sink (``streaming_extract_to_snapshots``) both commit
through :meth:`SnapshotLog.commit_dataframe`, and resume is a metadata
read, the shape Iceberg actually has:

Layout under ``<output_dir>``::

    data/bucket=<b>/…parquet    one directory per committed url-hash bucket
    data/epoch=<e>/…parquet     streaming-epoch commits (kind="epoch")
    _snapshots/v<N>.json        immutable manifests (published atomically)
    _snapshots/LATEST           current version (monotonic pointer)

Each manifest records ``{version, parent, bucket, kind, paths, metrics,
ts}``. Readers resolve the head → v<N> → the parent chain → the set of
committed buckets, and read ONLY those data directories — so a crash
mid-write (partial bucket dir with no manifest) is invisible, resume
decides what to re-run from a handful of JSON reads instead of scanning
committed data, and any historical version stays readable (time travel)
until :meth:`SnapshotLog.vacuum` reclaims it, after which reads raise
:class:`SnapshotExpiredError` instead of an opaque missing-path failure.

Commit protocol (Delta/Iceberg optimistic concurrency): all atomicity
lives behind :class:`AtomicStore` — two primitives, *create-exclusive
publish* of a complete object and a *monotonic pointer advance*. The
manifest ``v<N>.json`` is published all-or-nothing: if another writer
already claimed version N the publish fails, the loser adopts the
winner's commit (rolls the pointer forward, never backward) and retries
at the next version. Because publish is all-or-nothing, a visible
manifest is always complete — a concurrent writer's in-flight commit
can never be mistaken for torn debris and deleted. For the same reason
the published manifests, not the pointer, are the truth (Delta Lake's
rule): LATEST is a hint that a writer killed between publish and
pointer advance leaves lagging, and :meth:`SnapshotLog.latest_version`
steps forward from it to the last published manifest, so every reader
and GC pass sees that commit.

The default :class:`PosixStore` implements publish as write-tmp + fsync
+ ``os.link`` (hard-link creation fails atomically if the name is
claimed) and the pointer as an flock-serialized compare-and-swap-up.
On an object store the same interface maps to: publish = conditional
PUT (S3 ``If-None-Match: *``, GCS ``ifGenerationMatch=0``) of the full
manifest body; pointer = a catalog compare-and-swap (DynamoDB
conditional update / Glue-Nessie commit), i.e. exactly the contract
Iceberg's catalog layer requires. :class:`MemoryStore` is the
fault-injectable twin the protocol tests run against.

The wall-clock ``ts`` in manifests comes from ``time.time()`` at commit
— lineage of a side-effecting write, not query output, so it stays out
of the oracle-checked surface (tests pin ordering, not values).
"""

from __future__ import annotations

import itertools
import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .extractor import parse_webdocs


class SnapshotExpiredError(RuntimeError):
    """A read targeted a version whose data files vacuum() reclaimed."""


class SimulatedCrash(RuntimeError):
    """Raised by MemoryStore fault hooks to model a writer dying."""


# ---------------------------------------------------------------------------
# atomicity primitives


class AtomicStore:
    """The two primitives the commit protocol needs, pluggable so the
    log survives deployment beyond POSIX (see module docstring for the
    S3/GCS/catalog mapping):

    - :meth:`publish`: create-exclusive, all-or-nothing write of a
      complete object. Exactly one concurrent publisher of a name wins;
      a reader never observes a partial object.
    - :meth:`advance_pointer`: move a named integer pointer forward,
      NEVER backward — a stale loser advancing an old version must not
      roll visibility back.
    """

    def read(self, name: str) -> bytes | None:
        raise NotImplementedError

    def publish(self, name: str, data: bytes) -> bool:
        """Atomically create *name* with *data*; False if already claimed."""
        raise NotImplementedError

    def remove(self, name: str) -> None:
        """Delete an object (legacy torn-manifest reclaim only)."""
        raise NotImplementedError

    def read_pointer(self, name: str) -> int | None:
        raise NotImplementedError

    def advance_pointer(self, name: str, version: int) -> None:
        raise NotImplementedError


_TMP_SEQ = itertools.count()


class PosixStore(AtomicStore):
    """Default store over a local/NFS directory.

    publish: write the full body to a uniquely named temp file, fsync,
    then ``os.link`` it to the final name — link creation is atomic and
    fails with EEXIST if claimed, so a visible object is always the
    complete bytes of exactly one publisher. advance_pointer: an
    flock-serialized read-compare-replace, so the pointer is monotonic
    even under concurrent advances.
    """

    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _p(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _tmp(self, name: str) -> str:
        return self._p(f".tmp.{name}.{os.getpid()}.{next(_TMP_SEQ)}")

    def _fsync_dir(self) -> None:
        try:
            fd = os.open(self.root, os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)
        except OSError:  # pragma: no cover - platform quirk
            pass

    def read(self, name: str) -> bytes | None:
        try:
            with open(self._p(name), "rb") as f:
                return f.read()
        except FileNotFoundError:
            return None

    def publish(self, name: str, data: bytes) -> bool:
        tmp = self._tmp(name)
        fd = os.open(tmp, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
        with os.fdopen(fd, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, self._p(name))
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)
        self._fsync_dir()
        return True

    def remove(self, name: str) -> None:
        try:
            os.remove(self._p(name))
        except FileNotFoundError:
            pass

    def read_pointer(self, name: str) -> int | None:
        b = self.read(name)
        return None if b is None else int(b.decode().strip())

    def advance_pointer(self, name: str, version: int) -> None:
        import fcntl

        lock_fd = os.open(self._p(f".lock.{name}"), os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(lock_fd, fcntl.LOCK_EX)
            cur = self.read_pointer(name)
            if cur is not None and cur >= version:
                return  # monotonic: a stale advance never rolls back
            tmp = self._tmp(name)
            with open(tmp, "w") as f:
                f.write(str(version))
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, self._p(name))
            self._fsync_dir()
        finally:
            os.close(lock_fd)  # closing drops the flock


class MemoryStore(AtomicStore):
    """In-memory twin for protocol tests, with crash-fault hooks.

    ``fail_after_publish(name) -> bool``: return True to die (raise
    :class:`SimulatedCrash`) AFTER the manifest became visible but
    BEFORE the pointer advanced — the orphan-adoption window.
    """

    def __init__(self, fail_after_publish=None) -> None:
        self._objects: dict[str, bytes] = {}
        self._pointers: dict[str, int] = {}
        self.fail_after_publish = fail_after_publish

    def read(self, name: str) -> bytes | None:
        return self._objects.get(name)

    def publish(self, name: str, data: bytes) -> bool:
        if name in self._objects:
            return False
        self._objects[name] = bytes(data)
        if self.fail_after_publish is not None and self.fail_after_publish(name):
            raise SimulatedCrash(name)
        return True

    def remove(self, name: str) -> None:
        self._objects.pop(name, None)

    def read_pointer(self, name: str) -> int | None:
        return self._pointers.get(name)

    def advance_pointer(self, name: str, version: int) -> None:
        cur = self._pointers.get(name)
        if cur is None or version > cur:
            self._pointers[name] = version


# ---------------------------------------------------------------------------
# manifest Bloom filters (point-probe file skipping)


def _bloom_params(n_keys: int) -> tuple[int, int]:
    """~10 bits/key (k=4 → ~1-2% FPR), power-of-two m, floor 8 KiB,
    cap 1 Mi bits (128 KiB of manifest JSON) — beyond that a saturated
    filter only loses pruning power, never correctness (Iceberg keeps
    filters this large in puffin sidecars; a JSON manifest wants a
    bound)."""
    m = 8192
    while m < 10 * max(1, n_keys) and m < (1 << 20):
        m <<= 1
    return m, 4


def bloom_build(df: DataFrame, col: str, n_keys: int) -> dict:
    """Bloom filter over *col*, computed distributed: each row's k bit
    positions come from xxhash64(col, probe_index) — the SAME JVM hash
    the read-side probe recomputes, so write and read can never drift.
    The driver collects only DISTINCT set positions (≤ m of them), not
    rows."""
    m, k = _bloom_params(n_keys)
    pos = (
        df.select(
            F.explode(
                F.array(
                    *[
                        F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(m))
                        for i in range(k)
                    ]
                )
            ).alias("p")
        )
        .distinct()
        .collect()  # bounded: at most m integers
    )
    bits = bytearray(m // 8)
    for r in pos:
        p = int(r["p"])
        bits[p >> 3] |= 1 << (p & 7)
    return {"col": col, "m": m, "k": k, "bits": bytes(bits).hex()}


def _bloom_positions(spark: SparkSession, value, m: int, k: int) -> list[int]:
    """One-row JVM round trip so the probe hashes EXACTLY like the
    write path (never a Python xxhash reimplementation drifting)."""
    row = (
        spark.range(1)
        .select(
            *[
                F.pmod(F.xxhash64(F.lit(value), F.lit(i)), F.lit(m)).alias(
                    f"p{i}"
                )
                for i in range(k)
            ]
        )
        .collect()[0]
    )
    return [int(row[f"p{i}"]) for i in range(k)]


# ---------------------------------------------------------------------------
# the log


@dataclass
class Snapshot:
    version: int
    parent: int | None
    bucket: int
    paths: list[str]
    metrics: dict
    ts: float
    n_buckets: int | None = None
    stats: dict | None = None  # {col: {"min": .., "max": ..}} per commit
    op: str = "append"  # "append" | "replace" (supersedes the bucket's
    # earlier paths — compaction/rewrite commits)
    columns: list[str] | None = None  # column names at commit time
    # (schema-evolution detection without opening data files)
    kind: str = "extract"  # commit id-space: "extract" buckets are
    # url-hash cells, "epoch" buckets are streaming micro-batch ids.
    # Disjoint namespaces — bucket 3 of each are unrelated.
    bloom: dict | None = None  # {"col", "m", "k", "bits"(hex)} — point-
    # probe membership filter over this commit's rows (bloom_build)


class SnapshotLog:
    """Append-only snapshot log over a parquet output directory."""

    def __init__(self, output_dir: str, store: AtomicStore | None = None) -> None:
        self.output_dir = output_dir
        self.log_dir = os.path.join(output_dir, "_snapshots")
        self.store = store if store is not None else PosixStore(self.log_dir)
        # parsed manifests by version: a published manifest never
        # changes, so each is read once per log (the streaming sink
        # walks the chain every epoch)
        self._snapshots: dict[int, Snapshot] = {}

    # -- reads ---------------------------------------------------------

    def latest_version(self) -> int | None:
        """The log's head: the last published manifest. Starts at the
        LATEST hint and steps forward while ``v<N+1>.json`` reads and
        parses, so a commit whose writer died before advancing the
        pointer is seen by every reader, resume and GC pass. Stops at
        the first missing or unparseable manifest (torn legacy debris
        that :meth:`commit` reclaims)."""
        v = self.store.read_pointer("LATEST")
        while True:
            nxt = 0 if v is None else v + 1
            try:
                self.snapshot(nxt)
            except (FileNotFoundError, ValueError, KeyError):
                return v
            v = nxt

    def snapshot(self, version: int) -> Snapshot:
        """The manifest of *version*, parsed. Memoized: only a manifest
        that reads and parses is kept, so missing or torn legacy debris
        (which :meth:`commit` may reclaim) is re-read every time."""
        if version in self._snapshots:
            return self._snapshots[version]
        raw = self.store.read(f"v{version}.json")
        if raw is None:
            raise FileNotFoundError(f"v{version}.json")
        d = json.loads(raw)
        s = Snapshot(
            version=d["version"],
            parent=d["parent"],
            bucket=d["bucket"],
            paths=d["paths"],
            metrics=d["metrics"],
            ts=d["ts"],
            n_buckets=d.get("n_buckets"),
            stats=d.get("stats"),
            op=d.get("op", "append"),
            columns=d.get("columns"),
            kind=d.get("kind", "extract"),
            bloom=d.get("bloom"),
        )
        self._snapshots[version] = s
        return s

    def chain(self, version: int | None = None) -> list[Snapshot]:
        """Snapshots visible at *version* (default latest), oldest first."""
        v = self.latest_version() if version is None else version
        out: list[Snapshot] = []
        while v is not None:
            s = self.snapshot(v)
            out.append(s)
            v = s.parent
        out.reverse()
        return out

    def committed_buckets(
        self, version: int | None = None, kind: str | None = None
    ) -> set[int]:
        """Metadata-only: which buckets are durably committed. *kind*
        filters to one id-space ("extract" url-hash cells vs "epoch"
        streaming batches) — resume decisions must pass their own kind,
        since the two spaces share integers but not meaning."""
        return {
            s.bucket
            for s in self.chain(version)
            if kind is None or s.kind == kind
        }

    def visible(self, version: int | None = None) -> list[Snapshot]:
        """Commits whose data is part of the table at *version*: an
        ``append`` adds to its bucket, a ``replace`` (compaction)
        supersedes every earlier commit for the same (kind, bucket).
        Returned in version order."""
        per_bucket: dict[tuple[str, int], list[Snapshot]] = {}
        for s in self.chain(version):
            key = (s.kind, s.bucket)
            if s.op == "replace":
                per_bucket[key] = [s]
            else:
                per_bucket.setdefault(key, []).append(s)
        out = [s for lst in per_bucket.values() for s in lst]
        out.sort(key=lambda s: s.version)
        return out

    def _require_live(self, paths: list[str], what: str) -> None:
        """Vacuum-expiry guard: a manifest-listed LOCAL path that no
        longer exists means the retention window passed — surface that
        as :class:`SnapshotExpiredError`, not an opaque Spark path
        error. Remote-scheme paths (s3://, hdfs://) are skipped; there
        the guard belongs to the storage layer."""
        missing = [
            p for p in paths if "://" not in p and not os.path.exists(p)
        ]
        if missing:
            raise SnapshotExpiredError(
                f"{what} references {len(missing)} vacuumed data path(s) "
                f"(e.g. {missing[0]}); the retention window has passed"
            )

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame | None:
        """Time-travel read: the table as of *version* (default latest).

        Reads only manifest-listed directories that a later compaction
        has not superseded — uncommitted bucket dirs (crash debris) are
        never visible. None when no snapshot exists yet; raises
        :class:`SnapshotExpiredError` for a vacuumed version."""
        vis = self.visible(version)
        paths = [p for s in vis for p in s.paths]
        if not paths:
            return None
        self._require_live(paths, f"read(version={version})")
        return self._read_paths(spark, vis, paths)

    def _read_paths(
        self, spark: SparkSession, vis: list[Snapshot], paths: list[str]
    ) -> DataFrame:
        """Schema-evolution-aware parquet read. The decision whether
        commits disagree on columns comes from MANIFEST metadata (the
        recorded column lists), so the common case — one schema — pays
        neither a footer sweep nor mergeSchema; only a genuinely
        evolved table opts into the merged read (missing columns null-
        filled, Iceberg's add-column semantics). Commits that predate
        column tracking count as "unknown" and force the safe path
        only when mixed with known-different ones."""
        colsets = {tuple(s.columns) for s in vis if s.columns is not None}
        unknown = any(s.columns is None for s in vis)
        reader = spark.read
        if len(colsets) > 1 or (unknown and colsets):
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*paths)

    def scan(
        self,
        spark: SparkSession,
        col: str,
        lo=None,
        hi=None,
        version: int | None = None,
    ) -> DataFrame | None:
        """Manifest-pruned scan: read only commits whose recorded
        [min, max] for *col* overlaps [lo, hi] (None = unbounded), then
        apply the exact predicate. Iceberg's file-skipping shape: the
        decision costs a few JSON reads, never a data-file open.

        Pruning power follows layout: it skips files only when the
        table is clustered on *col* (a rewrite sorted on the column);
        on a hash-bucketed layout every bucket spans the full value
        range and nothing skips. A commit with no stats for *col* is
        conservatively kept. Returns None when every commit is pruned
        (the scan provably has no rows)."""
        kept = []
        for s in self.visible(version):
            st = (s.stats or {}).get(col)
            if st is not None:
                if lo is not None and st["max"] < lo:
                    continue
                if hi is not None and st["min"] > hi:
                    continue
            kept.append(s)
        paths = [p for s in kept for p in s.paths]
        if not paths:
            return None
        self._require_live(paths, f"scan({col})")
        df = self._read_paths(spark, kept, paths)
        if lo is not None:
            df = df.where(F.col(col) >= lo)
        if hi is not None:
            df = df.where(F.col(col) <= hi)
        return df

    def lookup_url(self, spark: SparkSession, url: str) -> DataFrame | None:
        """Point lookup with hash-bucket pruning: the url's bucket is
        recomputed from the manifest-recorded modulus, so the read
        touches ONE bucket directory (1/n of the table's files) plus a
        handful of JSON reads — the manifest analog of Iceberg
        bucket-partition pruning. Falls back to a full scan + filter
        when commits predate bucket metadata."""
        vis = self.visible()
        if not vis:
            return None
        # manifest Bloom pruning first: commits whose filter provably
        # excludes the url drop out without a parquet footer ever being
        # opened. Works on ANY layout (url-hash buckets, streaming
        # epochs, mixed logs); a false positive only costs a read, the
        # trailing exact filter keeps correctness. One JVM probe per
        # distinct filter size, cached.
        probes: dict[tuple[int, int], list[int]] = {}
        kept = []
        for s in vis:
            bl = s.bloom
            if bl and bl.get("col") == "url":
                mk = (bl["m"], bl["k"])
                if mk not in probes:
                    probes[mk] = _bloom_positions(spark, url, *mk)
                bits = bytes.fromhex(bl["bits"])
                if not all((bits[p >> 3] >> (p & 7)) & 1 for p in probes[mk]):
                    continue
            kept.append(s)
        if not kept:
            return None  # provably absent — zero data files read
        # bucket pruning only when EVERY surviving commit used the same
        # url-hash modulus: a mixed log (e.g. url-hash extract commits
        # plus epoch-id streaming commits, n_buckets=None) cannot
        # promise a url lives in one bucket, so it gets the safe scan
        # of the surviving commits
        moduli = {s.n_buckets for s in kept}
        n = moduli.pop() if len(moduli) == 1 else None
        if n is None:
            paths = [p for s in kept for p in s.paths]
            self._require_live(paths, f"lookup_url({url!r})")
            return self._read_paths(spark, kept, paths).where(
                F.col("url") == url
            )
        # one-row JVM round-trip so the hash is EXACTLY the write
        # path's xxhash64 — never a Python reimplementation drifting
        b = (
            spark.range(1)
            .select(F.pmod(F.xxhash64(F.lit(url)), F.lit(n)).alias("b"))
            .collect()[0]["b"]
        )
        paths = [p for s in kept if s.bucket == b for p in s.paths]
        if not paths:
            return None
        self._require_live(paths, f"lookup_url({url!r})")
        return spark.read.parquet(*paths).where(F.col("url") == url)

    def changes_between(
        self, spark: SparkSession, since: int | None, until: int | None = None
    ) -> DataFrame | None:
        """Incremental read: rows committed AFTER version *since* up to
        and including *until* (default latest) — Iceberg's incremental
        consumption shape. Each commit is append-only (one url-hash
        bucket), so the delta is exactly the union of the newer
        commits' files; a downstream consumer (incremental dedup, index
        refresh) processes only new data plus a metadata read.
        ``since=None`` means "from the beginning". Replace commits are
        layout maintenance (compaction rewrites existing rows), so they
        are not part of the delta. Returns None when the window holds
        no commits; raises :class:`SnapshotExpiredError` when the
        window reaches behind the vacuum horizon (a compaction
        superseded the appends and vacuum reclaimed their files)."""
        window = [
            s
            for s in self.chain(until)
            if s.op == "append" and (since is None or s.version > since)
        ]
        paths = [p for s in window for p in s.paths]
        if not paths:
            return None
        self._require_live(paths, f"changes_between(since={since})")
        return self._read_paths(spark, window, paths)

    def compact_bucket(
        self,
        spark: SparkSession,
        bucket: int,
        target_files: int = 1,
        kind: str = "extract",
    ) -> int | None:
        """Small-file compaction, Iceberg rewrite_data_files shape:
        coalesce a bucket's visible files into *target_files* and
        commit the rewrite as a ``replace`` snapshot that supersedes
        the bucket's earlier paths. Readers before the commit see the
        old files, after it the compact ones — same rows either way
        (time travel across the boundary stays exact until
        :meth:`vacuum` reclaims the superseded files). Returns the new
        version, or None if the bucket has nothing to compact.

        At crawl scale this is what keeps a 10^12-row table scannable:
        every ingest wave appends small files; per-bucket rewrites run
        from the maintenance job, bucket by bucket, without blocking
        ingest on OTHER buckets (single-writer per log, as elsewhere)."""
        vis = [
            s for s in self.visible() if s.bucket == bucket and s.kind == kind
        ]
        paths = [p for s in vis for p in s.paths]
        if not paths:
            return None
        prefix = "bucket" if kind == "extract" else "epoch"
        dest = os.path.join(
            self.output_dir,
            "data",
            f"{prefix}={bucket}-compact-v{(self.latest_version() or 0) + 1}",
        )
        df = spark.read.parquet(*paths).coalesce(target_files)
        df.write.mode("overwrite").parquet(dest)
        agg = [F.count("*").alias("n_docs")]
        has_url = "url" in df.columns
        if has_url:
            agg += [F.min("url").alias("url_min"), F.max("url").alias("url_max")]
        m = spark.read.parquet(dest).agg(*agg).collect()[0]
        return self.commit(
            bucket,
            [dest],
            {"n_docs": int(m["n_docs"] or 0)},
            n_buckets=next((s.n_buckets for s in vis if s.n_buckets), None),
            stats={"url": {"min": m["url_min"], "max": m["url_max"]}}
            if has_url and m["n_docs"]
            else None,
            op="replace",
            columns=df.columns,
            kind=kind,
            # the rewrite holds the same rows — rebuild the membership
            # filter so point-probe pruning survives compaction
            bloom=bloom_build(
                spark.read.parquet(dest), "url", int(m["n_docs"] or 0)
            )
            if has_url and m["n_docs"]
            else None,
        )

    def compact_where_needed(
        self, spark: SparkSession, min_commits: int = 4, target_files: int = 1
    ) -> dict[int, int]:
        """Selective maintenance pass: compact only buckets fragmented
        across >= *min_commits* visible commits (the steady state of an
        appending ingest — every streaming epoch or resume wave adds a
        commit). The decision is metadata-only; untouched buckets cost
        nothing. Returns {bucket: new version}."""
        counts: dict[tuple[str, int], int] = {}
        for s in self.visible():
            key = (s.kind, s.bucket)
            counts[key] = counts.get(key, 0) + 1
        done = {}
        for (k, b), c in sorted(counts.items()):
            if c >= min_commits:
                v = self.compact_bucket(spark, b, target_files=target_files, kind=k)
                if v is not None:
                    done[b] = v
        return done

    @staticmethod
    def _path_keys(p: str) -> set[str]:
        """Spelling-insensitive identity of a data path: its realpath
        (canonicalizes relative-vs-absolute and symlinks, assuming the
        CWD of the committing and GC-ing run agree) plus its basename
        under data/ (robust even across CWD changes — bucket/compaction
        dir names are unique within a log). A data-dir entry is
        deletable only when NEITHER key matches any referenced path, so
        a spelling mismatch can only under-delete, never drop live data
        (the r4 vacuum bug: commit via SnapshotLog('out') + vacuum via
        SnapshotLog(abspath('out')) deleted every committed bucket)."""
        return {os.path.realpath(p), os.path.basename(os.path.normpath(p))}

    def vacuum(self, retain_last: int = 2) -> list[str]:
        """Reclaim data files no retained version can see — Iceberg's
        expire_snapshots + remove_orphan_files combined, correct for
        this chain model: a file is deleted only if it is invisible at
        EVERY one of the last *retain_last* versions (e.g. superseded
        by a compaction at least *retain_last* commits ago) or is
        crash debris no manifest references. Manifests stay (they are
        bytes); time travel to a vacuumed version raises
        :class:`SnapshotExpiredError`, which is exactly Iceberg's
        behavior for expired snapshots. Returns removed paths.
        Single-writer, like :meth:`remove_orphans`."""
        import shutil

        data_dir = os.path.join(self.output_dir, "data")
        latest = self.latest_version()
        if latest is None or not os.path.isdir(data_dir):
            return []
        keep: set[str] = set()
        for v in range(max(0, latest - retain_last + 1), latest + 1):
            for s in self.visible(v):
                for p in s.paths:
                    keep |= self._path_keys(p)
        removed = []
        for name in sorted(os.listdir(data_dir)):
            p = os.path.join(data_dir, name)
            if self._path_keys(p).isdisjoint(keep):
                shutil.rmtree(p, ignore_errors=True)
                removed.append(os.path.normpath(p))
        return removed

    def remove_orphans(self) -> list[str]:
        """Data GC, Iceberg remove_orphan_files shape: delete data
        directories under ``data/`` that NO manifest references — the
        debris of runs killed between writing a bucket and committing
        its manifest. Committed data is never touched: in this chain
        model every commit's files stay part of the current table, so
        (unlike Iceberg's expire_snapshots, which drops files once no
        retained snapshot references them) append commits are never
        eligible for deletion. Returns the removed paths.

        Single-writer operation (run from the maintenance job, not
        concurrently with an extract — an in-flight bucket write looks
        exactly like debris until its manifest lands)."""
        import shutil

        data_dir = os.path.join(self.output_dir, "data")
        if not os.path.isdir(data_dir):
            return []
        live: set[str] = set()
        for s in self.chain():
            for p in s.paths:
                live |= self._path_keys(p)
        removed = []
        for name in sorted(os.listdir(data_dir)):
            p = os.path.join(data_dir, name)
            if self._path_keys(p).isdisjoint(live):
                shutil.rmtree(p, ignore_errors=True)
                removed.append(os.path.normpath(p))
        return removed

    def lineage(self, spark: SparkSession) -> DataFrame:
        """Per-snapshot lineage + metrics as a DataFrame (north rule):
        one row per commit with the bucket it landed and its counters.
        Rows are per-COMMIT, not a table total: a replace (compaction)
        re-counts rows an earlier append already counted, so ingest
        totals should sum n_docs over ``op='append'`` rows only."""
        rows = [
            (
                s.version,
                s.parent,
                s.bucket,
                s.op,
                s.kind,
                int(s.metrics.get("n_docs", 0)),
                int(s.metrics.get("n_failures", 0)),
                int(s.metrics.get("bytes_in", 0)),
                float(s.ts),
            )
            for s in self.chain()
        ]
        return spark.createDataFrame(
            rows,
            "version int, parent int, bucket int, op string, kind string, "
            "n_docs long, n_failures long, bytes_in long, ts double",
        )

    # -- writes --------------------------------------------------------

    def commit(
        self,
        bucket: int,
        paths: list[str],
        metrics: dict,
        n_buckets: int | None = None,
        stats: dict | None = None,
        op: str = "append",
        columns: list[str] | None = None,
        kind: str = "extract",
        bloom: dict | None = None,
    ) -> int:
        """Atomically append one snapshot; returns its version.

        The store's create-exclusive publish detects a concurrent
        writer claiming the same version: the loser adopts the winner's
        commit (monotonic pointer advance — never a rollback) and
        retries at the next slot. When the head — adopted, or reached
        by :meth:`latest_version` past a lagging pointer — has this
        commit's kind, bucket, op and paths, it is this commit,
        published by a writer that died before the pointer advanced,
        and its version is returned (a replayed epoch or re-run bucket
        is never committed twice). A published manifest is complete by
        construction, so an adopted foreign manifest is always a real
        commit; an unparseable one can only be debris of a pre-publish-
        protocol writer killed mid-json.dump (this protocol never
        exposes partial bytes) and is safe to reclaim. ``n_buckets``
        records the url-hash modulus (point-lookup pruning); ``stats``
        records per-column min/max for scan-time file skipping;
        ``kind`` names the bucket id-space ("extract" vs "epoch")."""
        while True:
            parent = self.latest_version()
            if parent is not None:
                head = self.snapshot(parent)
                if (head.kind, head.bucket, head.op, head.paths) == (
                    kind, bucket, op, list(paths)
                ):
                    return parent
            version = 0 if parent is None else parent + 1
            manifest = {
                "version": version,
                "parent": parent,
                "bucket": bucket,
                "paths": paths,
                "metrics": metrics,
                "ts": time.time(),
                "n_buckets": n_buckets,
                "stats": stats,
                "op": op,
                "columns": columns,
                "kind": kind,
                "bloom": bloom,
            }
            name = f"v{version}.json"
            if self.store.publish(name, json.dumps(manifest).encode()):
                self.store.advance_pointer("LATEST", version)
                return version
            # lost the race to a concurrent writer: adopt its complete
            # commit and retry on top of it (the head check above
            # returns it if it is this very commit). Torn bytes cannot
            # come from this protocol (see docstring) — reclaim legacy
            # debris.
            try:
                self.snapshot(version)
            except (ValueError, KeyError):
                self.store.remove(name)
                continue
            self.store.advance_pointer("LATEST", version)

    def commit_dataframe(
        self,
        df: DataFrame,
        bucket: int,
        kind: str = "extract",
        n_buckets: int | None = None,
    ) -> int:
        """Write parsed rows as one bucket and commit it; returns the
        version. The rows land in ``data/bucket=<b>`` (kind "extract")
        or ``data/epoch=<e>`` (kind "epoch") with mode=overwrite, so
        debris of a run killed before its manifest is replaced, never
        appended to. One read of the written directory feeds the
        manifest: the n_docs / n_failures / bytes_in counters, the url
        min/max stats :meth:`scan` prunes by, the column list and the
        url Bloom :meth:`lookup_url` probes. ``n_buckets`` is the url-
        hash modulus the bucket was cut by; epochs pass None, since
        lookup_url must not prune them by it."""
        prefix = "bucket" if kind == "extract" else "epoch"
        path = os.path.join(self.output_dir, "data", f"{prefix}={bucket}")
        df.write.mode("overwrite").parquet(path)
        written = df.sparkSession.read.parquet(path)
        m = (
            written.agg(
                F.count("*").alias("n_docs"),
                F.sum(
                    F.when(F.col("error").isNotNull(), 1).otherwise(0)
                ).alias("n_failures"),
                F.sum("payload_bytes").alias("bytes_in"),
                F.min("url").alias("url_min"),
                F.max("url").alias("url_max"),
            )
            .collect()[0]  # bounded: one row of counters per bucket
        )
        n_docs = int(m["n_docs"])
        return self.commit(
            bucket,
            [path],
            {
                "n_docs": n_docs,
                "n_failures": int(m["n_failures"] or 0),
                "bytes_in": int(m["bytes_in"] or 0),
            },
            n_buckets=n_buckets,
            stats={"url": {"min": m["url_min"], "max": m["url_max"]}}
            if m["url_min"] is not None
            else None,
            columns=written.columns,
            kind=kind,
            bloom=bloom_build(written, "url", n_docs) if n_docs else None,
        )


def snapshot_resumable_extract(
    spark: SparkSession,
    webdocs: DataFrame,
    output_dir: str,
    n_batches: int = 8,
    on_batch=None,
) -> DataFrame:
    """Extraction with one snapshot commit per url-hash bucket.

    Resume is a pure metadata read: the snapshot log names the
    committed buckets, the loop runs only the rest. Each bucket is
    written and committed by :meth:`SnapshotLog.commit_dataframe`,
    whose mode=overwrite write replaces the debris of a bucket that
    crashed mid-write before the manifest that makes it visible ever
    exists — exactly once per url under any kill point.

    Resume filters to kind="extract" commits: a log shared with the
    streaming sink (kind="epoch", data/epoch=<e> paths) never makes an
    extract bucket look committed just because an epoch shares its id.

    Requires the same input across runs (bucket membership is
    xxhash64(url) % n_batches, deterministic); an input that keeps
    growing is what ``streaming_extract_to_snapshots`` drains, one
    epoch commit per micro-batch into the same kind of log.
    """
    log = SnapshotLog(output_dir)
    done = log.committed_buckets(kind="extract")
    bucket = F.pmod(F.xxhash64("url"), F.lit(n_batches))
    for b in range(n_batches):
        if b in done:
            continue
        log.commit_dataframe(
            parse_webdocs(webdocs.where(bucket == b)), b, n_buckets=n_batches
        )
        if on_batch is not None:
            on_batch(b)
    out = log.read(spark)
    assert out is not None  # n_batches >= 1 commits at least one snapshot
    return out
