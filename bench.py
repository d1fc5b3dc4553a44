"""Headline benchmark — the driver runs this per-round.

Runs the engine's headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: {"metric", "value" (total sec), "unit", "queries" (per-query
sec), "sf", plus docs/sec for the flagship extraction}.

Methodology (round-3 rework — the r2 artifact was a single contended
warm trial with two queries slower warm than cold):

- Every headline query runs ONE untimed-into-"queries_cold" pass (it
  absorbs one-time per-plan costs: janino codegen compile, broadcast
  builds, the span-parse localCheckpoint — costs that amortize to
  nothing over a 100 TB run but dominate a seconds-long sf0.1 pass),
  then ``$SPARK_GRAFT_BENCH_TRIALS`` (default 3)
  recorded trials.
- Each recorded trial times query CONSTRUCTION (DataFrame build,
  including any memo-cache hits) and EXECUTION (the noop-sink action)
  separately; the per-query headline number is the MEDIAN of
  construction+execution across trials, with the split reported in
  "queries_construction" / "queries_execution". Medians absorb
  hypervisor-steal spikes that made single-trial numbers swing up to
  6× on this VM.
- The flagship extraction likewise records the median of 3 measured
  passes after a worker-pool warmup.

Every query is forced end-to-end with the noop sink (full computation,
no driver collect bottleneck).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "windowed_host_stats",
    "host_running_totals",
    "dedup_stream_twin",
    "token_count",
    "lang_id",
    "quality_score",
    "doc_fingerprint",
    "repetition_score",
    "host_cap",
    "corpus_filter",
    "top_terms",
    "host_pagerank",
    "host_quality_prior",
    "url_canonicalize",
    "line_dedup",
    "decontaminate",
    "model_quality_score",
    "inverted_index",
    "nfc_normalize",
    "mojibake_score",
    "pack_sequences",
    "mix_corpus",
    "mix_temperature",
    "substring_dup_spans",
    "unigram_surprisal",
    "bigram_surprisal",
    "hll_distinct",
    "countmin_freq",
    "hll_merge",
    "bpe_pair_counts",
    "sample_split",
    "length_percentiles",
    "host_blocklist",
    "vocab_census",
    "containment_anti_join",
    "spatial_block_join",
    "rank_join",
    "training_order",
    "upsample_repeat",
    "robots_gate",
    "crawl_schedule",
    "sitemap_discovery",
    "soft404_filter",
    "wet_export",
    "html_metadata",
    "dsir_select",
    "ccnet_buckets",
    "paragraph_dedup",
    "gopher_rules",
]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0
    trials = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3"))

    from pdf_parser_spark.engine.corpus import synthesize_webdocs
    from pdf_parser_spark.engine.extractor import parse_webdocs
    from pdf_parser_spark.engine.session import build_session
    from pdf_parser_spark.queries import QUERIES

    spark = build_session("bench")
    spark.sparkContext.setLogLevel("ERROR")

    per_query: dict[str, float] = {}
    construction: dict[str, float] = {}
    execution: dict[str, float] = {}

    # Replicate the corpus so the flagship number measures steady-state
    # extraction throughput, not per-job fixed overhead (at sf0.1 the
    # raw table is only 5000 docs — seconds of work on 32 cores).
    replicate = int(os.environ.get("SPARK_GRAFT_BENCH_REPLICATE", "20"))
    # corpus scratch: tmpfs when RAM headroom allows (the sandbox /tmp
    # is a throttled virtual disk; the ~GB corpus write costs ~3s extra
    # there), same guard as the session's shuffle-dir choice
    from pdf_parser_spark.engine.session import _available_mem_gib

    scratch = (
        "/dev/shm"
        if os.path.isdir("/dev/shm") and _available_mem_gib() >= 16.0
        else "/tmp"
    )
    # The synthesis is deterministic in (sf_dir, replicate), so the
    # corpus caches across bench invocations at a keyed path — a cache
    # hit is validated (_SUCCESS + exact row count) and reported
    # honestly via corpus_synthesis_cached; the timed entry then
    # measures validation, not re-synthesis. Atomic rename publishes
    # the directory so a killed run can't leave a half-written cache.
    # _mf suffix: corpus layout v2 (multi-file — synthesis repartitions
    # before gen, so the cache from the single-file era must not hit)
    tag = re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir.strip("/")) + f"_r{replicate}_mf"
    corpus_path = f"{scratch}/bench_corpus_{tag}"
    base_count = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    expected = base_count * replicate
    t0 = time.perf_counter()
    cached = False
    if os.path.exists(f"{corpus_path}/_SUCCESS"):
        try:
            cached = spark.read.parquet(corpus_path).count() == expected
        except Exception:
            cached = False
    if not cached:
        tmp_path = f"{corpus_path}.tmp{os.getpid()}"
        synthesize_webdocs(spark, sf_dir, replicate=replicate).write.mode(
            "overwrite"
        ).parquet(tmp_path)
        shutil.rmtree(corpus_path, ignore_errors=True)
        os.rename(tmp_path, corpus_path)
    per_query["corpus_synthesis"] = round(time.perf_counter() - t0, 3)

    corpus = spark.read.parquet(corpus_path)
    n_docs = corpus.count()
    # warm the Python worker pool so the timed section is steady-state
    _noop(parse_webdocs(corpus.limit(256)))
    # the salted headline: a file scan would parse on its own splits by
    # default, so the shuffle is asked for explicitly (parse_webdocs's
    # 8 waves per core) to keep the series comparable across rounds
    salted_parts = spark.sparkContext.defaultParallelism * 8
    extract_trials = []
    for _ in range(trials):
        t0 = time.perf_counter()
        _noop(parse_webdocs(corpus, num_partitions=salted_parts))
        extract_trials.append(time.perf_counter() - t0)
    per_query["flagship_extract"] = round(statistics.median(extract_trials), 3)

    # Scan-partitioned twin: same kernel, no payload shuffle — the
    # parse maps directly over fine parquet splits (the plan a
    # stateless extract ships at 10^12-doc scale; see parse_webdocs
    # num_partitions=0). Reported alongside the salted headline, not
    # in place of it, so the series stays comparable across rounds.
    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(1024 * 1024))
    scan_corpus = spark.read.parquet(corpus_path)
    scan_trials = []
    for _ in range(trials):
        t0 = time.perf_counter()
        _noop(parse_webdocs(scan_corpus, num_partitions=0))
        scan_trials.append(time.perf_counter() - t0)
    per_query["flagship_extract_scanpart"] = round(
        statistics.median(scan_trials), 3
    )
    spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)

    queries_cold: dict[str, float] = {}
    for name in HEADLINE:
        # cold pass: construction + execution in one number — keeps the
        # one-shot costs (codegen, checkpoints) honest
        t0 = time.perf_counter()
        _noop(QUERIES[name](spark, sf_dir))
        queries_cold[name] = round(time.perf_counter() - t0, 3)
        cons, execs = [], []
        for _ in range(trials):
            t0 = time.perf_counter()
            df = QUERIES[name](spark, sf_dir)
            cons.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            _noop(df)
            execs.append(time.perf_counter() - t0)
        construction[name] = round(statistics.median(cons), 3)
        execution[name] = round(statistics.median(execs), 3)
        per_query[name] = round(construction[name] + execution[name], 3)

    total = round(sum(per_query.values()), 3)
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "trials": trials,
        "aggregation": "median over recorded trials after one cold pass",
        "queries": per_query,
        "queries_construction": construction,
        "queries_execution": execution,
        "queries_cold": queries_cold,
        "corpus_synthesis_cached": cached,
        "sf": sf,
        "docs_per_sec_extraction": round(
            n_docs / per_query["flagship_extract"], 2
        ),
        "docs_per_sec_scan_partitioned": round(
            n_docs / per_query["flagship_extract_scanpart"], 2
        ),
        "n_docs": n_docs,
    }
    # Full per-query detail goes to a FILE; stdout must stay one SHORT
    # JSON line — the round driver tail-captures only the last ~2000
    # chars of stdout, and r3's full detail line outgrew it ("parsed":
    # null). Keep the line well under the cap: headline numbers plus
    # only the queries that cost >= 0.2s, the fast rest rolled up.
    os.makedirs(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "BENCH"), exist_ok=True)
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH",
        "BENCH_detail.json",
    )
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
    slow = {k: v for k, v in per_query.items() if v >= 0.2}
    fast_total = round(sum(v for v in per_query.values() if v < 0.2), 3)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": dict(sorted(slow.items(), key=lambda kv: -kv[1])),
        "queries_under_0.2s_total": fast_total,
        "n_queries": len(per_query),
        "sf": sf,
        "docs_per_sec_extraction": detail["docs_per_sec_extraction"],
        "docs_per_sec_scan_partitioned": detail[
            "docs_per_sec_scan_partitioned"
        ],
        "n_docs": n_docs,
        "detail": "BENCH/BENCH_detail.json",
    }
    spark.stop()
    # the keyed corpus cache is deliberately left in place — the next
    # invocation validates and reuses it (corpus_synthesis_cached)
    line = json.dumps(out)
    if len(line) > 1500:  # never outgrow the driver's ~2000-char tail
        out["queries"] = dict(
            sorted(slow.items(), key=lambda kv: -kv[1])[:30]
        )
        line = json.dumps(out)
    print(line)


if __name__ == "__main__":
    main()
