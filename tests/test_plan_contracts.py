"""Physical-plan contracts: the scale properties the engine promises
(broadcast small sides, one shuffle per hash aggregation, top-k without
a global sort, column pruning at the scan) pinned as tests so a future
change that silently degrades the plan — not just the answer — fails CI.

Assertions target coarse, stable plan features (operator presence /
exchange counts), not full plan text, so Spark-version formatting
changes don't break them.
"""

import pytest

from pdf_parser_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF)
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_dedup_exact_single_shuffle_with_partial_agg(spark):
    plan = _plan(spark, "dedup_exact")
    assert plan.count("Exchange") <= 2  # hash shuffle (+AQE read)
    # map-side partial aggregation before the exchange
    assert plan.count("HashAggregate") >= 2


def test_windowed_host_stats_single_shuffle(spark):
    plan = _plan(spark, "windowed_host_stats")
    assert plan.count("Exchange") <= 2
    assert plan.count("HashAggregate") >= 2


def test_host_running_totals_no_global_sort(spark):
    plan = _plan(spark, "host_running_totals")
    assert "Window" in plan
    # partition-scoped sort only — a global orderBy would add a
    # rangepartitioning exchange
    assert "rangepartitioning" not in plan.lower()


def test_scalar_chain_prunes_scan_columns(spark):
    plan = _plan(spark, "scalar_chain")
    # ReadSchema at the parquet scan must not drag the full row in
    start = plan.find("ReadSchema")
    assert start != -1
    schema_line = plan[start : plan.find("\n", start)]
    assert "source" not in schema_line and "lang" not in schema_line
    assert schema_line.count(",") <= 3


def test_repetition_score_map_only_pruned_scan(spark):
    """The repetition signal lies within one document, so it is a
    per-row projection: no Exchange, no shingle explode (Generate), and
    a single documents scan pruned to (doc_id, text)."""
    plan = _plan(spark, "repetition_score")
    assert "Exchange" not in plan
    assert "Generate" not in plan
    schema_lines = [
        l.strip() for l in plan.splitlines() if l.strip().startswith("ReadSchema")
    ]
    assert schema_lines == ["ReadSchema: struct<doc_id:bigint,text:string>"]


def test_corpus_filter_map_only(spark):
    """Every quality-gate signal, the repetition counts included, is a
    per-row expression: the decision table needs no shuffle."""
    plan = _plan(spark, "corpus_filter")
    assert "Exchange" not in plan
    assert "Generate" not in plan


def test_stream_twin_no_global_sort(spark):
    plan = _plan(spark, "dedup_stream_twin")
    assert "Window" in plan
    assert "rangepartitioning" not in plan.lower()


def test_dedup_pipeline_final_plan_constant_size(spark):
    """The iterative connected-components collapse must leave a final
    plan that reads only the localCheckpointed (id, comp) labels — no
    shingle explosion (Generate) or band self-join may leak into the
    decision-table plan, whatever the iteration count. At 100 TB this
    is the difference between a keeper election that joins two slim
    tables and one that re-runs the whole LSH DAG per downstream use."""
    plan = _plan(spark, "dedup_pipeline")
    assert "Generate" not in plan  # shingle/band explode collapsed
    assert "Scan ExistingRDD" in plan  # checkpointed labels
    # keeper election: docs2 ⋈ labels is a single equi-join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_host_cap_no_global_sort_two_scoped_windows(spark):
    """Both cap phases sort only within hash partitions — a global
    orderBy (rangepartitioning) would serialize the corpus through one
    range exchange at 100 TB."""
    plan = _plan(spark, "host_cap")
    assert "Window" in plan
    assert "rangepartitioning" not in plan.lower()
    schema_lines = [
        l for l in plan.splitlines() if l.strip().startswith("ReadSchema")
    ]
    # scan pruned to (doc_id, source) — never ships text into the cap
    assert schema_lines and all("text" not in l for l in schema_lines)


def test_chunk_docs_shuffle_free(spark):
    """Chunking is projection + explode only: any Exchange here means
    a regression copied the corpus across the wire to slice arrays."""
    plan = _plan(spark, "chunk_docs")
    assert "Exchange" not in plan
    assert "Generate" in plan  # the explode


def test_top_terms_vocab_only_window(spark):
    """tf/df aggregations partially aggregate map-side; the corpus
    count joins as a broadcast; no rangepartitioning anywhere."""
    plan = _plan(spark, "top_terms")
    assert plan.count("HashAggregate") >= 4  # partial+final × two rollups
    assert "BroadcastExchange" in plan
    assert "rangepartitioning" not in plan.lower()


def test_host_outlinks_single_shuffle_partial_agg(spark):
    plan = _plan(spark, "host_outlinks")
    # extract → explode → one hash shuffle with map-side partials
    assert plan.count("Exchange") <= 2
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_host_pagerank_constant_plan_after_checkpoint(spark):
    # ranks are localCheckpointed per iteration: the returned frame's
    # plan must be flat (scan of the checkpoint), not a 4-iteration
    # join tree — the property that keeps lineage bounded at any iters
    plan = _plan(spark, "host_pagerank")
    assert "Scan ExistingRDD" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_host_quality_prior_broadcasts_rank_table(spark):
    # the doc side must not shuffle: rank table broadcasts
    plan = _plan(spark, "host_quality_prior")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_line_dedup_broadcasts_frequent_lines(spark):
    # the frequent-line (boilerplate) table is small → broadcast; the
    # exploded corpus line stream must never be sort-merge joined
    plan = _plan(spark, "line_dedup")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_decontaminate_broadcasts_benchmark_shingles(spark):
    plan = _plan(spark, "decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_model_quality_score_map_only(spark):
    # hashed linear scorer: a pure per-row fold — zero exchanges
    plan = _plan(spark, "model_quality_score")
    assert "Exchange" not in plan


def test_nfc_normalize_arrow_batched_map_only(spark):
    plan = _plan(spark, "nfc_normalize")
    assert "ArrowEvalPython" in plan  # pandas UDF, not row-at-a-time
    assert "Exchange" not in plan


def test_inverted_index_single_shuffle_no_expand(spark):
    # count(*) over pre-distinct (doc, term) pairs — no countDistinct
    # Expand, one hash shuffle with map-side partials
    plan = _plan(spark, "inverted_index")
    assert plan.count("Exchange") <= 2
    assert "Expand" not in plan


def test_pack_sequences_no_global_sort(spark):
    # per-(host, shard) prefix sum — a window sort, never a global
    # rangepartitioning exchange
    plan = _plan(spark, "pack_sequences")
    assert "Window" in plan
    assert "rangepartitioning" not in plan.lower()


def test_mix_corpus_broadcasts_thresholds(spark):
    plan = _plan(spark, "mix_corpus")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_substring_dup_spans_no_global_sort(spark):
    # island detection is a per-document window; the dup-gram join is
    # an honest shuffle join (the dup set scales with the corpus)
    plan = _plan(spark, "substring_dup_spans")
    assert "Window" in plan
    assert "rangepartitioning" not in plan.lower()


def test_unigram_surprisal_broadcasts_vocab(spark):
    plan = _plan(spark, "unigram_surprisal")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dsir_select_broadcasts_weight_table(spark):
    """DSIR's per-bucket weight table (≤ 4096 rows) must broadcast back
    onto the token stream; the only allowed nested-loop is the 1×1
    totals crossJoin. Token buckets must never sort-merge."""
    plan = _plan(spark, "dsir_select")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bigram_surprisal_broadcasts_count_tables(spark):
    """The (bg → surprisal) vocab table must broadcast back onto the
    bigram stream; the corpus side must never sort-merge."""
    plan = _plan(spark, "bigram_surprisal")
    assert "BroadcastHashJoin" in plan


def test_bpe_pair_counts_no_global_sort(spark):
    plan = _plan(spark, "bpe_pair_counts")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_length_percentiles_no_global_sort(spark):
    plan = _plan(spark, "length_percentiles")
    assert "Window" in plan
    assert "rangepartitioning" not in plan.lower()


def test_mojibake_score_map_only(spark):
    # substring counting + replace chain: pure projection, no exchange,
    # no Python evaluator
    plan = _plan(spark, "mojibake_score")
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_hll_distinct_bounded_aggregations(spark):
    # register fold = (group, bucket) hash agg, per-group harmonic sum =
    # second hash agg; partial state bounded by m=4096 per group. The
    # exact-distinct ride-along adds its Expand; no global sort anywhere.
    plan = _plan(spark, "hll_distinct")
    assert "HashAggregate" in plan
    assert "rangepartitioning" not in plan.lower()


def test_countmin_bounded_sketch_and_topk_cut(spark):
    # sketch build = hash aggregations (bounded d·w state); the top-20
    # probe cut is TakeOrderedAndProject, never a global sort exchange
    plan = _plan(spark, "countmin_freq")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_mix_temperature_broadcast_filter(spark):
    # threshold table broadcasts; the corpus side is a pure filter —
    # never shuffled for the join, no sort anywhere
    plan = _plan(spark, "mix_temperature")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" not in plan.lower()


def test_host_blocklist_is_map_only(spark):
    plan = _plan(spark, "host_blocklist")
    assert "Exchange" not in plan  # literal-list test: no join, no shuffle
    assert "Join" not in plan


def test_bpe_tokenize_topk_without_unpartitioned_window(spark):
    """The apply-census top-20 must be TakeOrderedAndProject
    (per-partition top-k) with the rank Window running over only the
    20 survivors — never the full subword census through a single
    unpartitioned-Window task (vocab-bounded but millions of rows at
    crawl scale)."""
    plan = _plan(spark, "bpe_tokenize")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_training_order_sort_is_shard_partitioned(spark):
    """The training-order rank must run over hashpartitioning(shard),
    never an unpartitioned Window or a global range sort: the writer
    shape at scale is one exchange keyed on shards with per-shard
    sorts."""
    plan = _plan(spark, "training_order")
    assert "Window" in plan
    assert "hashpartitioning(shard" in plan
    assert "rangepartitioning" not in plan.lower()


def test_upsample_repeat_is_map_only(spark):
    """Epoch-repeat upsampling must be a pure map-side explode: no
    Exchange anywhere — copy counts derive from the row itself."""
    plan = _plan(spark, "upsample_repeat")
    assert "Exchange" not in plan
    assert "Generate" in plan  # the explode


def test_derived_shard_counts_bound_window_partitions(spark):
    """Scale contract of the derived n_shards default: as the corpus
    grows, the shard count grows so the max per-shard row count stays
    near the target instead of growing linearly with the corpus (the
    per-reducer sort that breaks first at 100x)."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.functions.sampling import (
        derive_n_shards,
        training_order,
    )

    # pure arithmetic: floor at small scale, linear growth at large
    assert derive_n_shards(0, 1_000_000) == 16
    assert derive_n_shards(60_000, 1_000_000) == 16
    assert derive_n_shards(10**12, 1_000_000) == 10**6
    assert derive_n_shards(10**12 + 1, 1_000_000) == 10**6 + 1

    # executed: a 10x corpus growth with a small target keeps the max
    # per-shard row count within hash variance of the target, because
    # the shard count scales instead of the shard size
    small = spark.range(800).withColumnRenamed("id", "doc_id")
    big = spark.range(8000).withColumnRenamed("id", "doc_id")
    target = 100
    caps = {}
    for name, df in (("small", small), ("big", big)):
        shards = training_order(
            df, key_col="doc_id", target_docs_per_shard=target
        )
        per = shards.groupBy("shard").count()
        caps[name] = per.agg(F.max("count")).collect()[0][0]
        n = per.count()
        assert n >= df.count() // target, f"{name}: too few shards ({n})"
    # both scales stay near the target (generous 3x hash-variance bound)
    assert caps["small"] <= 3 * target
    assert caps["big"] <= 3 * target


def test_pack_sequences_derived_shards_bound_token_windows(spark):
    """pack_sequences' derived shard count keeps the per-(host, shard)
    prefix-sum window's token total near the target as the corpus
    scales."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.functions.packing import pack_sequences

    def corpus(n):
        return (
            spark.range(n)
            .withColumnRenamed("id", "doc_id")
            .withColumn("host", F.concat(F.lit("h"), F.col("doc_id") % 4))
            .withColumn("text", F.lit("one two three four five"))
        )

    target = 500  # tokens per shard (5 tokens/doc)
    for n in (400, 4000):
        placed = pack_sequences(
            corpus(n), seq_len=64, target_tokens_per_shard=target
        )
        per = placed.groupBy("host", "shard").agg(
            F.sum("n_tokens").alias("toks")
        )
        # each (host, shard) window holds ~target/hosts tokens; bound
        # the max generously — the point is it does NOT grow 10x with n
        cap = per.agg(F.max("toks")).collect()[0][0]
        assert cap <= 3 * target, (n, cap)


def test_gopher_rules_map_only(spark):
    # every signal is an array expression over the doc's own lines:
    # the whole query must run without a single exchange
    plan = _plan(spark, "gopher_rules")
    assert "Exchange" not in plan
    assert "CartesianProduct" not in plan


def test_paragraph_dedup_hash_equi_join_never_cartesian(spark):
    # the keeper join must stay a HASH EQUI-join on md5(para) — never
    # a cartesian/nested-loop, never a global sort. At sf0.001 the
    # stats-based planner broadcasts the (currently tiny) keeper side;
    # at corpus scale the same equi-join becomes a shuffle join — both
    # are the honest shapes, so the contract pins the join KIND only.
    plan = _plan(spark, "paragraph_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan
    assert "rangepartitioning" not in plan.lower()


def test_robots_gate_broadcasts_rules_no_cartesian(spark):
    """The rule table must broadcast against the corpus (rules are
    per-host, tiny) and the RFC winner must be a hash aggregate —
    no sort-merge join, no cartesian, no global sort."""
    plan = _plan(spark, "robots_gate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Cartesian" not in plan
    assert "rangepartitioning" not in plan.lower()


def test_crawl_schedule_broadcast_meta_host_window(spark):
    """Politeness metadata (one row per host) must broadcast against
    the corpus, and the slot assignment must be a host-partitioned
    window — never a rangepartitioning (global sort) exchange."""
    plan = _plan(spark, "crawl_schedule")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Cartesian" not in plan
    assert "rangepartitioning" not in plan.lower()


def test_soft404_filter_map_only(spark):
    """Phrase scoring is pure projection: any Exchange means the
    scorer stopped being a map-side expression."""
    plan = _plan(spark, "soft404_filter")
    assert "Exchange" not in plan


def test_wet_export_map_only(spark):
    """The export manifest is JVM string concatenation over the scan:
    no Exchange, no Python stage."""
    plan = _plan(spark, "wet_export")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _evaluated(df) -> str:
    """The text of every executed-plan node but the scans, one node per
    entry: what the plan evaluates per row. A file scan lists the
    filters pushed to it (``DataFilters``) but evaluates none of them."""
    out, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        if "Scan" not in node.nodeName():
            out.append(node.simpleString(1000))
        kids = node.children()
        todo += [kids.apply(i) for i in range(kids.size())]
    return "\n".join(out)


@pytest.fixture(scope="module")
def clean(spark):
    """The crawl job's filter input: the text, a language, and the
    ``lines`` column as an inline projection over the text."""
    return spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "doc_id",
        "text AS clean_text",
        "lang",
        "filter(split(text, '\\n\\n'), p -> p != '') AS lines",
    )


@pytest.mark.parametrize("lang_col", [None, "lang"])
def test_quality_gate_filtered_on_keep_tokenizes_once(spark, clean, lang_col):
    """A filter on ``keep`` is pushed into the gate's expression; the
    kept-rows plan must still tokenize and lowercase each row once,
    exactly as the unfiltered gate does."""
    from pdf_parser_spark.functions import filtering

    gate = filtering.quality_gate(clean, text_col="clean_text", lang_col=lang_col)
    kept = gate.where("keep = 1").select("doc_id")
    for fn in ("split(", "lower("):
        assert _evaluated(kept).count(fn) == _evaluated(gate).count(fn) == 1, fn


def test_gopher_rules_filtered_on_passes_splits_once(spark, clean):
    """The same for Gopher's ``passes``: one split of the text into
    lines and one of the lines into words, filtered or not."""
    from pdf_parser_spark.functions import filtering

    rules = filtering.gopher_rules(clean, lines_col="lines")
    kept = rules.where("passes").select("doc_id")
    assert _evaluated(kept).count("split(") == _evaluated(rules).count("split(") == 2


def test_text_signals_bind_shared_intermediates(spark):
    """One fingerprint tokenizes its row once, and the stopword and
    marker-word counts build the padded text once per column, not once
    per word."""
    from pdf_parser_spark.functions import textstats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    fp = docs.select(textstats.fingerprint("text").alias("fp"))
    assert _evaluated(fp).count("split(") <= 1
    assert _evaluated(textstats.with_quality(docs)).count("lower(") <= 1
    assert _evaluated(textstats.with_lang_id(docs)).count("lower(") <= 3
