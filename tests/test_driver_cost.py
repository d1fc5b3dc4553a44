"""Driver-side fixed costs of the crawl operators: what building an
operator costs in driver-to-JVM round trips (before any action runs),
and what re-running the crawl operator chain costs in codegen compiles.
Both are paid on every job, whatever the data size."""

import threading
from contextlib import contextmanager

import pytest
from py4j.java_gateway import GatewayClient

from conftest import SF_DIR as SF
from pdf_parser_spark.functions import cleaning, dedup, filtering, packing

#: round trips allowed to build one operator; a Python ``F.*`` call
#: tree pays ~3 per expression node (thousands for the quality gate)
BUILD_BUDGET = 100


@contextmanager
def _round_trips():
    """Count this thread's ``GatewayClient.send_command`` calls in the
    block. py4j's finalizer thread, which deletes JVM objects of
    earlier garbage, is not counted."""
    n = [0]
    me = threading.get_ident()
    orig = GatewayClient.send_command

    def counting(self, *args, **kwargs):
        if threading.get_ident() == me:
            n[0] += 1
        return orig(self, *args, **kwargs)

    GatewayClient.send_command = counting
    try:
        yield n
    finally:
        GatewayClient.send_command = orig


def _docs(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "doc_id", "text", "source AS host"
    )
    docs.columns  # schema fetched outside the counted blocks
    return docs


def _clean(spark):
    para = cleaning.paragraph_dedup(
        _docs(spark).select("doc_id", cleaning.wrap_chunks("text").alias("paras"))
    )
    clean = para.selectExpr(
        "doc_id", "clean_text", "filter(split(clean_text, '\\n\\n'), p -> p != '') AS lines"
    )
    clean.columns
    return clean


class _Checkpointed(Exception):
    pass


@pytest.mark.parametrize(
    "name", ["quality_gate", "gopher_rules", "paragraph_dedup", "lsh_expressions"]
)
def test_operator_builds_in_a_few_round_trips(spark, monkeypatch, name):
    """Each crawl operator is SQL text applied with one JVM call per
    projection layer, so building it (no action) stays within a small
    fixed budget of round trips."""
    clean = _clean(spark)
    paras = _docs(spark).select("doc_id", cleaning.wrap_chunks("text").alias("paras"))
    paras.columns
    # the LSH expressions end at the band table's localCheckpoint (the
    # first action); stop there
    def stop(self, *args, **kwargs):
        raise _Checkpointed

    monkeypatch.setattr(type(clean), "localCheckpoint", stop)
    build = {
        "quality_gate": lambda: filtering.quality_gate(
            clean, text_col="clean_text", lang_col=None
        ),
        "gopher_rules": lambda: filtering.gopher_rules(clean),
        "paragraph_dedup": lambda: cleaning.paragraph_dedup(paras),
        "lsh_expressions": lambda: dedup.lsh_candidate_pairs(
            clean, text_col="clean_text"
        ),
    }[name]
    with _round_trips() as n:
        try:
            build()
        except _Checkpointed:
            assert name == "lsh_expressions"
    assert 0 < n[0] <= BUILD_BUDGET, n[0]


def _crawl_chain(spark) -> int:
    """paragraph dedup → Gopher rules and quality gate → MinHash-LSH →
    connected components → packing, run to the end; returns the
    number of packed documents."""
    clean = _clean(spark)
    gopher = filtering.gopher_rules(clean, min_words=5).where("passes").select("doc_id")
    gate = (
        filtering.quality_gate(clean, text_col="clean_text", lang_col=None)
        .where("keep = 1")
        .select("doc_id")
    )
    kept = (
        clean.join(gopher, "doc_id")
        .join(gate, "doc_id")
        .select("doc_id", "clean_text")
        .localCheckpoint(eager=True)
    )
    labels = dedup.connected_components(
        dedup.lsh_candidate_pairs(kept, text_col="clean_text")
    )
    survivors = kept.join(
        labels.where("comp <> id").selectExpr("id AS doc_id"), "doc_id", "left_anti"
    ).join(_docs(spark).select("doc_id", "host"), "doc_id")
    return len(packing.pack_sequences(survivors, text_col="clean_text").collect())


def test_repeated_crawl_chain_compiles_nothing(spark):
    """The session's codegen cache holds one crawl chain's generated
    classes, so running the chain again makes no Janino compile."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()
    first = _crawl_chain(spark)
    assert first > 0
    before = compiles.getCount()
    assert _crawl_chain(spark) == first
    assert compiles.getCount() == before
