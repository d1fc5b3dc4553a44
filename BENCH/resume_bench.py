"""Resume-at-scale evidence (north rule: "resumes from the last
committed snapshot after failure").

Measures what a failure actually costs: a child process runs the
snapshot-committing extraction (``engine.snapshots.
snapshot_resumable_extract``: one manifest commit per url-hash bucket,
the Iceberg shape) and is SIGKILLed mid-run after a few commits; the
parent then resumes the SAME output directory and times the completion.
The headline metric is

    resume_overhead = t_resume / (t_full × remaining_fraction)

i.e. how much the resumed run costs relative to the remaining work a
perfect resume would do. Resume reads the committed buckets from the
manifest log, a metadata-only read, so the overhead should sit close to
1.0 (per-bucket job overhead is the only extra work). Also asserts
correctness: the resumed table has exactly one row per url.

Usage:  python BENCH/resume_bench.py [sf_dir] [replicate] [n_batches]
Child:  python BENCH/resume_bench.py --child <corpus> <out_dir> <n_batches>
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

KILL_AFTER_BATCHES = 3


def _child(corpus_path: str, out_dir: str, n_batches: int) -> None:
    from pdf_parser_spark.engine.session import build_session
    from pdf_parser_spark.engine.snapshots import snapshot_resumable_extract

    spark = build_session("resume_child")
    spark.sparkContext.setLogLevel("ERROR")
    corpus = spark.read.parquet(corpus_path)

    def report(b: int) -> None:
        print(f"BATCH {b} committed", flush=True)

    snapshot_resumable_extract(
        spark, corpus, out_dir, n_batches=n_batches, on_batch=report
    )
    print("ALL DONE", flush=True)


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        _child(sys.argv[2], sys.argv[3], int(sys.argv[4]))
        return

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    replicate = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    n_batches = int(sys.argv[3]) if len(sys.argv) > 3 else 8

    from pdf_parser_spark.engine.corpus import synthesize_webdocs
    from pdf_parser_spark.engine.session import _available_mem_gib, build_session
    from pdf_parser_spark.engine.snapshots import (
        SnapshotLog,
        snapshot_resumable_extract,
    )

    spark = build_session("resume_bench")
    spark.sparkContext.setLogLevel("ERROR")

    scratch = (
        "/dev/shm"
        if os.path.isdir("/dev/shm") and _available_mem_gib() >= 16.0
        else "/tmp"
    )
    base = f"{scratch}/resume_bench_{os.getpid()}"
    corpus_path = f"{base}/corpus"
    synthesize_webdocs(spark, sf_dir, replicate=replicate).write.mode(
        "overwrite"
    ).parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)
    n_total = corpus.count()

    # warm the Python worker pool, then a full baseline run (same
    # bucketed commits — the denominator's unit cost)
    from pdf_parser_spark.engine.extractor import parse_webdocs

    parse_webdocs(corpus.limit(256)).write.format("noop").mode(
        "overwrite"
    ).save()
    t0 = time.perf_counter()
    snapshot_resumable_extract(spark, corpus, f"{base}/full", n_batches=n_batches)
    t_full = time.perf_counter() - t0

    # crash run: child commits batches; SIGKILL the whole process group
    # (python + its JVM) after KILL_AFTER_BATCHES commits
    out_crash = f"{base}/crash"
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--child", corpus_path,
         out_crash, str(n_batches)],
        stdout=subprocess.PIPE,
        text=True,
        start_new_session=True,
    )
    committed_batches = 0
    for line in child.stdout:
        if line.startswith("BATCH"):
            committed_batches += 1
            if committed_batches >= KILL_AFTER_BATCHES:
                os.killpg(os.getpgid(child.pid), signal.SIGKILL)
                break
        if line.startswith("ALL DONE"):
            raise SystemExit("child finished before the kill — raise n_batches")
    child.wait()

    committed = SnapshotLog(out_crash).read(spark)
    n_committed = 0 if committed is None else committed.count()
    remaining_frac = (n_total - n_committed) / n_total

    t0 = time.perf_counter()
    final = snapshot_resumable_extract(
        spark, corpus, out_crash, n_batches=n_batches
    )
    t_resume = time.perf_counter() - t0

    n_final = final.count()
    n_distinct = final.select("url").distinct().count()
    ok = n_final == n_total and n_distinct == n_total

    overhead = t_resume / (t_full * remaining_frac) if remaining_frac else float("inf")
    print(
        json.dumps(
            {
                "metric": "resume_overhead",
                "value": round(overhead, 3),
                "unit": "x_of_remaining_work",
                "t_full_sec": round(t_full, 2),
                "t_resume_sec": round(t_resume, 2),
                "n_docs": n_total,
                "committed_before_kill": n_committed,
                "remaining_fraction": round(remaining_frac, 4),
                "n_batches": n_batches,
                "killed_after_batches": committed_batches,
                "resumed_table_exact": ok,
            }
        )
    )
    spark.stop()
    shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
