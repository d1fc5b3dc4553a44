"""Benchmark of the extraction engine: one job at a time, end to end.

    python3 perfbench/run.py --workload extract_text --seed 1 --seconds 15 --trace 0

Run from the repository root. Closed loop, one client: a single driver
process runs one job at a time on ``local[N]``, N = min(4, nproc - 1).

Workloads (the program sees only the generated payload parquet):

- ``extract_text``: mixed PDF/HTML web corpus, ``parse_webdocs`` over
  the scan's own splits (no Exchange), (url, text, error, payload_bytes)
  to parquet. Kernel and Arrow boundary dominate.
- ``pdf_hard``: PDF-only, multi-page, encrypted (AES-128, AES-256, RC4),
  CID fonts, ObjStm, fontless pages, 10% of payloads damaged so the
  recovery scan runs; keeps spans. ``pdfcore`` dominates.
- ``crawl_to_shards``: parse (salted default partitioning) → paragraph
  dedup → Gopher rules + quality gate → MinHash-LSH + connected
  components → sequence packing → parquet shards. Exchanges, Spark SQL
  operators and the sink dominate.

A run: generate (or reuse) the seeded corpus; set the session up three
times (the first start launches the JVM, later ones re-create the
context in it) and report the median; run the job repeatedly for
``--seconds`` (at least three times) and report the median of all but
the first (cold) run, which is reported apart; then verify the
last output against ground truth, untimed. ``--trace 1`` instead reports
per-layer metrics (see layers.py). The last stdout line is the result
JSON; the line before it is a report with the environment, the corpus
digest and every ratio's numerator and denominator. Exit code is 1 when
the output does not verify, 2 when the package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
DRIVER_MEM = "2g"


def _args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "--workload",
        required=True,
        choices=("extract_text", "pdf_hard", "crawl_to_shards"),
    )
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def environment(n_cores: int, meta: dict, args: argparse.Namespace) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "master": f"local[{n_cores}]",
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "corpus_digest": meta["corpus_digest"],
        "generator_digest": meta["generator_digest"],
        "docs": meta["docs"],
        "payload_bytes": meta["payload_bytes"],
        "corrupted_docs": meta["corrupted_docs"],
        "gen_s": meta["gen_s"],
        "corpus_cached": meta["cached"],
    }


def check_output(workload: str, out: str, corpus_dir: str):
    import duckdb

    import verify as v
    from jobs import SEQ_LEN

    con = duckdb.connect()
    try:
        truth = os.path.join(corpus_dir, "truth.parquet")
        if workload == "crawl_to_shards":
            return v.check_crawl(con, out, out + ".parsed", truth, SEQ_LEN)
        return v.check_text(con, out, truth)
    finally:
        con.close()


def main(argv: list[str]) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pdf_parser_spark", "__init__.py")):
        print("perfbench: pdf_parser_spark package not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    # one core is left to the JVM's own threads (Arrow serde, parquet
    # writes, scheduling) and the driver: with every core given to Python
    # workers, run-to-run spread of job_s was 27% against 5% with one spare
    n_cores = max(1, min(4, (os.cpu_count() or 2) - 1))
    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(n_cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_LOCAL_DIR=os.path.join(run_dir, "local"),
        TMPDIR=tmp,
        # every JVM (launcher and driver): temp files in the run directory,
        # no hsperfdata file in the system temp directory
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    import corpus

    meta = corpus.ensure_corpus(
        os.path.join(base, "cache"), args.workload, args.seed, corpus.SIZES[args.workload]
    )
    # Python workers must import the shipped zip, not the package in the
    # working directory; Spark's scratch files land in the run directory
    os.chdir(run_dir)
    spark = None
    try:
        import jobs

        setups = []
        for _ in range(SETUPS if args.trace == 0 else 1):
            if spark is not None:
                spark.stop()
            spark, t = jobs.start(ROOT, run_dir)
            setups.append(t)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        inp = os.path.join(meta["path"], "payloads")
        out = os.path.join(run_dir, "out")
        job = jobs.JOBS[args.workload]
        if args.trace:
            import layers

            metrics, report = layers.per_layer(
                spark, args.workload, job, inp, out, args.seconds, setups[0], jvm_pid
            )
        else:
            walls, _ = jobs.run_jobs(spark, job, inp, out, args.seconds)
            mem = jobs.memory(jvm_pid)
            # the first job after set-up runs on a cold JIT: reported, not
            # part of the median
            job_s = statistics.median(walls[1:])
            setup_s = statistics.median(sum(t.values()) for t in setups)
            out_bytes, _ = jobs.dir_bytes(out)
        attempted, failed, detail = check_output(args.workload, out, meta["path"])
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)

    env = environment(n_cores, meta, args)
    if not args.trace:
        docs, in_bytes = meta["docs"], meta["payload_bytes"]
        peak = mem["jvm_hwm_mib"] + mem["python_workers_hwm_mib"]
        metrics = {
            "setup_s": jobs.metric(setup_s, "s"),
            "job_s": jobs.metric(job_s, "s"),
            "docs_per_s": jobs.metric(docs / job_s, "1/s"),
            "mb_in_per_s": jobs.metric(in_bytes / 1e6 / job_s, "MB/s"),
            "ok_frac": jobs.metric((attempted - failed) / attempted, "ratio"),
            "peak_rss_mb": jobs.metric(peak, "MiB"),
            "out_bytes_per_in_byte": jobs.metric(out_bytes / in_bytes, "ratio"),
        }
        report = {
            "job_s_first": walls[0],
            "job_s_runs": walls,
            "setups": setups,
            "docs_per_s": {"docs": docs, "job_s": job_s},
            "mb_in_per_s": {"payload_mb": in_bytes / 1e6, "job_s": job_s},
            "ok_frac": {"ok_docs": attempted - failed, "attempted": attempted},
            "out_bytes_per_in_byte": {"out_bytes": out_bytes, "in_bytes": in_bytes},
            "peak_rss_mb": mem,
        }
    report.update(env=env, verify=detail)
    print(json.dumps({"report": report}, default=float))
    correct = failed == 0
    print(
        json.dumps(
            {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
