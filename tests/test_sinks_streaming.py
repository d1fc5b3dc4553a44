"""JSON sink (K1) and Structured Streaming ingest."""

import json
import time

import pytest

from pyspark.sql import functions as F

from pdf_parser_spark.engine.corpus import synthesize_webdocs
from pdf_parser_spark.engine.extractor import parse_webdocs, spans_view
from pdf_parser_spark.engine.sinks import hierarchical_json, write_hierarchical_json

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def webdocs(spark):
    return synthesize_webdocs(spark, SF_DIR).cache()


def test_hierarchical_json_shape(spark, webdocs):
    # checkpointed so the sink and the Python twin read the same spans
    spans = spans_view(
        parse_webdocs(
            webdocs.where(F.col("doc_id") % 2 == 0).limit(20), emit_spans=True
        )
    ).localCheckpoint()
    h = hierarchical_json(spans)
    rows = h.collect()
    assert len(rows) == spans.select("text").distinct().count()
    idxs = sorted(r["global_index"] for r in rows)
    assert idxs == list(range(len(rows)))
    detail_cols = ("url", "page_no", "seq", "x", "y", "font", "size")
    r0 = next(r for r in rows if len(r["details"]) >= 1)
    d = r0["details"][0]
    assert set(d.asDict()) == set(detail_cols)

    # pure-Python twin: group the collected spans by text
    groups = {}
    for s in spans.collect():
        groups.setdefault(s["text"], []).append(tuple(s[c] for c in detail_cols))

    # sort_array orders struct fields ascending, nulls first
    def null_first(t):
        return tuple((v is not None, v) for v in t)

    assert len(groups) > 1
    assert {r["text"] for r in rows} == set(groups)
    for r in rows:
        got = [tuple(x) for x in r["details"]]
        assert got == sorted(groups[r["text"]], key=null_first), r["text"]
    # global_index follows first appearance by (url, page_no, seq)
    first = {t: min(v[:3] for v in g) for t, g in groups.items()}
    by_index = sorted(rows, key=lambda r: r["global_index"])
    assert [first[r["text"]] for r in by_index] == sorted(first.values())


def test_write_hierarchical_json(spark, webdocs, tmp_path):
    spans = spans_view(
        parse_webdocs(
            webdocs.where(F.col("doc_id") % 2 == 0).limit(10), emit_spans=True
        )
    )
    out = str(tmp_path / "json_out")
    write_hierarchical_json(spans, out)
    lines = []
    for f in (tmp_path / "json_out").glob("*.json"):
        lines += [json.loads(l) for l in f.read_text().splitlines()]
    assert lines and all("text" in r and "details" in r for r in lines)


def _mini_webdocs(spark, rows):
    """rows: (doc_id, host, ts_str, payload_bytes)"""
    from datetime import datetime

    data = [
        (
            did,
            f"https://{host}/doc/{did}",
            host,
            datetime.fromisoformat(ts),
            bytearray(payload),
            "t",
            "en",
        )
        for did, host, ts, payload in rows
    ]
    from pdf_parser_spark.engine.corpus import WEBDOCS_SCHEMA

    return spark.createDataFrame(data, WEBDOCS_SCHEMA)


def test_windowed_stats_watermark_drops_late(spark, tmp_path):
    """Event-time tumbling windows + watermark: a row arriving after
    the watermark passed its window is DROPPED, not re-aggregated."""
    import time as _time

    from pdf_parser_spark.streaming.ingest import run_windowed_stats

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    b1 = _mini_webdocs(
        spark,
        [
            (1, "h1", "2024-01-01 12:00:30", b"aaaa"),
            (2, "h1", "2024-01-01 12:02:00", b"bb"),
            (3, "h1", "2024-01-01 12:30:00", b"c"),  # advances watermark to 12:20
        ],
    )
    b1.coalesce(1).write.mode("overwrite").parquet(src)
    _time.sleep(1.1)  # distinct mtimes → one file per micro-batch, in order
    # on-time batch: watermark 12:20 passes window 12:00-12:10 → it is
    # emitted (docs 1+2 only) and its state evicted
    b2 = _mini_webdocs(spark, [(4, "h1", "2024-01-01 12:40:00", b"f")])
    b2.coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.1)
    # VERY late row for the already-closed-and-emitted 12:00 window,
    # plus an on-time row
    b3 = _mini_webdocs(
        spark,
        [
            (5, "h1", "2024-01-01 12:05:00", b"dddd"),  # late: dropped
            (6, "h1", "2024-01-01 12:45:00", b"ee"),    # on time
        ],
    )
    b3.coalesce(1).write.mode("append").parquet(src)

    q = run_windowed_stats(spark, src, "win_stats_t", ckpt)
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM win_stats_t").collect()
    emitted = [
        (str(r["win_start"]), r["host"], r["n_docs"], r["bytes_in"]) for r in rows
    ]
    # append mode: the 12:00 window emits exactly ONCE, when the
    # watermark passes its end, with only the on-time docs 1+2. The
    # very-late doc 5 must NOT produce a duplicate/amended emission for
    # that window (watermark drop). Later windows never close before
    # the stream drains, so nothing else emits.
    assert emitted == [("2024-01-01 12:00:00", "h1", 2, 6)]


def test_stateful_host_totals_accumulate(spark, tmp_path):
    """applyInPandasWithState: per-host running totals survive across
    micro-batches via the state store."""
    import time as _time

    from pdf_parser_spark.streaming.ingest import run_stateful_totals

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    b1 = _mini_webdocs(
        spark,
        [
            (1, "ha", "2024-01-01 00:00:00", b"12345"),
            (2, "ha", "2024-01-01 00:00:01", b"123"),
            (3, "hb", "2024-01-01 00:00:02", b"1"),
        ],
    )
    b1.coalesce(1).write.mode("overwrite").parquet(src)
    _time.sleep(1.1)
    b2 = _mini_webdocs(spark, [(4, "ha", "2024-01-01 00:01:00", b"22")])
    b2.coalesce(1).write.mode("append").parquet(src)

    q = run_stateful_totals(spark, src, "host_totals_t", ckpt)
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM host_totals_t").collect()
    final = {}
    for r in rows:
        cur = final.get(r["host"])
        if cur is None or r["total_docs"] > cur["total_docs"]:
            final[r["host"]] = r
    assert final["ha"]["total_docs"] == 3
    assert final["ha"]["total_bytes"] == 5 + 3 + 2
    assert final["hb"]["total_docs"] == 1
    # the second micro-batch emitted a delta of 1 on running total 3
    assert any(
        r["host"] == "ha" and r["batch_docs"] == 1 and r["total_docs"] == 3
        for r in rows
    )


def _mini_docs_text(spark, rows):
    """rows: (doc_id, ts_str, text) — fixed host, payload irrelevant."""
    from datetime import datetime

    from pdf_parser_spark.engine.corpus import WEBDOCS_SCHEMA

    data = [
        (
            did,
            f"https://h1.example/doc/{did}",
            "h1.example",
            datetime.fromisoformat(ts),
            bytearray(b"x"),
            text,
            "en",
        )
        for did, ts, text in rows
    ]
    return spark.createDataFrame(data, WEBDOCS_SCHEMA)


def test_streaming_dedup_cross_batch_and_eviction(spark, tmp_path):
    """dropDuplicatesWithinWatermark surface: first-arriving row per
    content hash survives within AND across micro-batches; the
    checkpoint restores dedup state across restarts; and state is
    EVICTED once the watermark passes a hash's expiry, after which the
    same content is emitted again (the bounded-state contract)."""
    import time as _time

    from pdf_parser_spark.streaming.ingest import run_streaming_dedup

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drop(rows, mode):
        _mini_docs_text(spark, rows).coalesce(1).write.mode(mode).parquet(src)
        _time.sleep(1.1)  # distinct mtimes → one file per micro-batch

    drop(
        [
            (1, "2024-01-01 12:00:00", "aaa"),
            (2, "2024-01-01 12:00:10", "bbb"),
            (3, "2024-01-01 12:10:00", "aaa"),  # same-run duplicate
        ],
        "overwrite",
    )
    drop(
        [
            (4, "2024-01-01 12:30:00", "aaa"),  # cross-batch duplicate
            (5, "2024-01-01 12:31:00", "ccc"),
        ],
        "append",
    )
    q = run_streaming_dedup(spark, src, out, ckpt)
    q.awaitTermination(120)
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1, 2, 5}

    # restart: the checkpoint restores source progress AND dedup state,
    # so a duplicate arriving after the restart is still suppressed
    drop([(6, "2024-01-01 12:40:00", "bbb")], "append")
    q2 = run_streaming_dedup(spark, src, out, ckpt)
    q2.awaitTermination(120)
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1, 2, 5}

    # eviction: doc 7 advances the watermark to 18:00 (> every earlier
    # hash's 2h expiry). Physical eviction happens at the END of a
    # batch that RUNS with the advanced watermark (the watermark
    # propagates one batch behind the event that moved it), so doc 9
    # provides that intermediate batch; the fresh "aaa" of doc 8 then
    # finds no state and is emitted AGAIN — the bounded-state contract.
    drop([(7, "2024-01-01 20:00:00", "zzz")], "append")
    drop([(9, "2024-01-01 20:01:00", "yyy")], "append")
    drop([(8, "2024-01-01 19:00:00", "aaa")], "append")
    q3 = run_streaming_dedup(spark, src, out, ckpt)
    q3.awaitTermination(120)
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert {1, 2, 5, 7, 9}.issubset(got)
    assert 8 in got, "state must be evicted after the watermark passes"


def test_stateful_totals_dormant_eviction(spark, tmp_path):
    """ProcessingTimeTimeout: a host absent from a micro-batch (after
    its 1 ms timeout elapsed) has its state evicted, so its totals
    restart from zero when it reappears — the bounded-state mode for
    the long tail of one-visit hosts."""
    import time as _time

    from pdf_parser_spark.streaming.ingest import run_stateful_totals

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    b1 = _mini_webdocs(spark, [(1, "ha", "2024-01-01 00:00:00", b"12345")])
    b1.coalesce(1).write.mode("overwrite").parquet(src)
    _time.sleep(1.1)
    # ha absent here → its 1 ms timeout fires during this batch → evict
    b2 = _mini_webdocs(spark, [(2, "hb", "2024-01-01 00:01:00", b"22")])
    b2.coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.1)
    b3 = _mini_webdocs(spark, [(3, "ha", "2024-01-01 00:02:00", b"666666")])
    b3.coalesce(1).write.mode("append").parquet(src)

    q = run_stateful_totals(
        spark, src, "host_totals_evict_t", ckpt, dormant_timeout_ms=1
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM host_totals_evict_t").collect()
    ha = sorted(
        (r for r in rows if r["host"] == "ha"), key=lambda r: r["batch_docs"]
    )
    # two emissions for ha, and the SECOND one restarted from zero:
    # totals reflect only doc 3 (6 bytes), not 5+6
    assert len(ha) == 2
    assert all(r["total_docs"] == 1 for r in ha)
    assert {r["total_bytes"] for r in ha} == {5, 6}


def test_stateful_host_distinct_hll_state(spark, tmp_path):
    """HLL registers as streaming state: the running estimate after the
    last micro-batch equals the batch sketch over the union of batches,
    and a re-crawled (duplicate) url never moves a register."""
    import time as _time

    from pdf_parser_spark.functions import sketches
    from pdf_parser_spark.streaming.ingest import run_stateful_distinct

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    b1 = _mini_webdocs(
        spark,
        [(i, "ha", "2024-01-01 00:00:00", b"x") for i in range(40)]
        + [(1000, "hb", "2024-01-01 00:00:00", b"x")],
    )
    b1.coalesce(1).write.mode("overwrite").parquet(src)
    _time.sleep(1.1)
    # batch 2: 20 NEW urls for ha + 10 re-crawls of batch-1 urls
    b2 = _mini_webdocs(
        spark,
        [(40 + i, "ha", "2024-01-01 00:01:00", b"x") for i in range(20)]
        + [(i, "ha", "2024-01-01 00:01:00", b"x") for i in range(10)],
    )
    b2.coalesce(1).write.mode("append").parquet(src)

    q = run_stateful_distinct(spark, src, "host_distinct_t", ckpt)
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM host_distinct_t").collect()
    final = {}
    for r in rows:
        cur = final.get(r["host"])
        if cur is None or r["filled_registers"] >= cur["filled_registers"]:
            final[r["host"]] = r

    assert final["hb"]["est_distinct"] == 1  # small-range exact
    ha = final["ha"]
    assert ha["batch_values"] == 30  # second trigger: 20 new + 10 dups
    # the estimate is a real HLL estimate near 60, exact via small-range
    assert abs(ha["est_distinct"] - 60) <= 2
    # duplicate insensitivity: re-running the same urls adds nothing —
    # emitted register count is monotone and the batch-2 row equals the
    # python twin over the DISTINCT union
    twin = [0] * sketches.HLL_M
    sketches.py_update_registers(
        twin, [f"https://ha/doc/{did}" for did in range(60)]
    )
    f_twin, e_twin = sketches.py_estimate(twin)
    assert (ha["filled_registers"], ha["est_distinct"]) == (f_twin, e_twin)


_KILL_WORKER = r"""
import os, sys, time
src, out, ckpt = sys.argv[1:4]
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .appName("kill-worker")
    .getOrCreate()
)
from pdf_parser_spark.streaming.ingest import streaming_extract_to_snapshots
q = streaming_extract_to_snapshots(
    spark, src, out, ckpt, max_files_per_trigger=1, available_now=True
)
q.awaitTermination(300)
spark.stop()
"""


def test_snapshot_sink_exactly_once_across_sigkill(spark, webdocs, tmp_path):
    """The exactly-once claim under a REAL crash: a separate OS process
    runs the snapshot-committing stream and is SIGKILLed mid-run (after
    at least one epoch's manifest landed — maximizing the chance its
    checkpoint offset had not, so the restart REPLAYS that epoch). A
    fresh run over the same checkpoint must drain the rest; the
    snapshot-log read surface must hold every source row exactly once
    and no epoch bucket may be committed twice."""
    import os
    import signal
    import subprocess
    import sys

    from pdf_parser_spark.engine.snapshots import SnapshotLog
    from pdf_parser_spark.streaming.ingest import (
        streaming_extract_to_snapshots,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    docs = webdocs.where(F.col("doc_id") < 120).localCheckpoint(eager=True)
    n_total = docs.count()
    # many single-file epochs so the kill lands between micro-batches
    docs.repartition(10).write.mode("overwrite").parquet(src)

    worker = tmp_path / "kill_worker.py"
    worker.write_text(_KILL_WORKER)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=repo_root)
    proc = subprocess.Popen(
        [sys.executable, str(worker), src, out, ckpt],
        start_new_session=True,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
        env=env,
    )
    log_dir = os.path.join(out, "_snapshots")
    try:
        # kill the WHOLE process group (python + its JVM) the moment
        # the second manifest lands — mid-stream, between commits
        deadline = time.time() + 240
        while time.time() < deadline:
            n_manifests = (
                len([f for f in os.listdir(log_dir) if f.startswith("v")])
                if os.path.isdir(log_dir)
                else 0
            )
            if n_manifests >= 2:
                break
            if proc.poll() is not None:
                break
            time.sleep(0.05)
        assert proc.poll() is None, "worker drained before the kill landed"
    finally:
        try:
            os.killpg(os.getpgid(proc.pid), signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait(30)

    log = SnapshotLog(out)
    epochs_before = log.committed_buckets(kind="epoch")
    assert epochs_before, "kill landed before any commit"
    n_before = log.read(spark).count()
    assert n_before < n_total, "worker finished everything before the kill"

    # restart over the same checkpoint: drains the remainder, replays
    # at most the in-flight epoch, skips every committed one
    q = streaming_extract_to_snapshots(
        spark, src, out, ckpt, max_files_per_trigger=1, available_now=True
    )
    q.awaitTermination(240)

    final = log.read(spark)
    assert final.count() == n_total
    assert final.select("url").distinct().count() == n_total
    epoch_commits = [s for s in log.chain() if s.kind == "epoch"]
    buckets = [s.bucket for s in epoch_commits]
    assert len(buckets) == len(set(buckets)), "an epoch committed twice"
    # batch-equivalent content, url for url
    want = {
        r.url: r.text
        for r in parse_webdocs(docs).select("url", "text").collect()
    }
    got = {r.url: r.text for r in final.select("url", "text").collect()}
    assert got == want
