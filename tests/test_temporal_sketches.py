"""Edge-case semantics of the temporal joins, the hypertable rollup
and the tokenizer-prep text ops — the cases the corpus-level oracle
sweep can't isolate (boundary inclusion, ties, empty groups).
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from pdf_parser_spark.functions import temporal, textstats


def _ts(s: int):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


def _events(spark, rows):
    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampNTZType()),
            StructField("event_id", LongType()),
        ]
    )
    return spark.createDataFrame(
        [(u, _ts(s), i) for (u, s, i) in rows], schema
    )


class TestAsofJoin:
    def test_latest_at_or_before_wins(self, spark):
        left = _events(spark, [(1, 100, 10)])
        right = _events(spark, [(1, 50, 1), (1, 99, 2), (1, 101, 3)])
        out = temporal.asof_join(
            left,
            right.withColumnRenamed("event_id", "rid"),
            keys=["user_id"],
            payload=["rid"],
        ).collect()
        assert len(out) == 1
        assert out[0]["asof"]["rid"] == 2  # 99 <= 100; 101 excluded

    def test_equal_timestamp_counts_as_match(self, spark):
        left = _events(spark, [(1, 100, 10)])
        right = _events(spark, [(1, 100, 7)])
        out = temporal.asof_join(
            left,
            right.withColumnRenamed("event_id", "rid"),
            keys=["user_id"],
            payload=["rid"],
        ).collect()
        assert out[0]["asof"]["rid"] == 7

    def test_no_prior_row_is_null(self, spark):
        left = _events(spark, [(1, 10, 10)])
        right = _events(spark, [(1, 50, 1), (2, 5, 2)])  # wrong time / key
        out = temporal.asof_join(
            left,
            right.withColumnRenamed("event_id", "rid"),
            keys=["user_id"],
            payload=["rid"],
        ).collect()
        assert out[0]["asof"] is None

    def test_tie_breaks_on_payload_max(self, spark):
        left = _events(spark, [(1, 100, 10)])
        right = _events(spark, [(1, 60, 3), (1, 60, 9)])
        out = temporal.asof_join(
            left,
            right.withColumnRenamed("event_id", "rid"),
            keys=["user_id"],
            payload=["rid"],
        ).collect()
        assert out[0]["asof"]["rid"] == 9


class TestRangeJoin:
    def test_window_boundaries_half_open(self, spark):
        # window [l.ts - 600, l.ts): r at exactly -600 IN, at 0 OUT
        left = _events(spark, [(1, 1000, 10)])
        right = _events(
            spark,
            [(1, 400, 1), (1, 399, 2), (1, 1000, 3), (1, 999, 4)],
        )
        out = temporal.range_join(
            left,
            right.withColumnRenamed("event_id", "rid"),
            keys=["user_id"],
            window_s=600,
        ).collect()
        got = sorted(r["match"]["rid"] for r in out)
        assert got == [1, 4]  # 399 too old, 1000 not strictly before

    def test_bucket_straddle_is_found(self, spark):
        # right row in the PREVIOUS quantized bucket of the left row
        left = _events(spark, [(1, 601, 10)])
        right = _events(spark, [(1, 599, 1)])
        out = temporal.range_join(
            left,
            right.withColumnRenamed("event_id", "rid"),
            keys=["user_id"],
            window_s=600,
        ).collect()
        assert [r["match"]["rid"] for r in out] == [1]


class TestRollupHypertable:
    def test_day_rows_sum_their_hours(self, spark):
        rows = [(1, 0, 1), (1, 3600, 2), (1, 7200, 3), (1, 90000, 4)]
        ev = _events(spark, rows).select(
            "ts", F.lit("click").alias("event_type"), F.lit(1.0).alias("value")
        )
        out = temporal.rollup_hypertable(
            ev, ts_col="ts", dims=["event_type"], value_col="value"
        ).collect()
        days = {r["bucket_start"]: r for r in out if r["granularity"] == "1d"}
        hours = [r for r in out if r["granularity"] == "1h"]
        assert len(days) == 2 and len(hours) == 4
        day0 = days[min(days)]
        assert day0["n_events"] == 3 and day0["value_cents"] == 300
        assert sum(r["n_events"] for r in hours) == sum(
            r["n_events"] for r in days.values()
        )


class TestBigramSurprisal:
    def test_short_docs_excluded_and_scores_ranked(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "the cat sat on the mat the cat sat again"),
                (2, "the cat sat on the mat"),
                (3, "mat again the on sat cat"),  # shuffled salad
                (4, "single"),
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r
            for r in textstats.bigram_surprisal(docs).collect()
        }
        assert 4 not in out  # < 2 tokens emits nothing
        assert out[2]["n_bigrams"] == 5
        # natural word order repeats corpus bigrams; the shuffled doc
        # hits only unseen pairs -> strictly higher average surprisal
        assert out[3]["avg_surprisal"] > out[2]["avg_surprisal"]


class TestBpePairCounts:
    def test_counts_and_rank_order(self, spark):
        docs = spark.createDataFrame(
            [(1, "aaa ab"), (2, "aa zz")], "doc_id long, text string"
        )
        rows = textstats.bpe_pair_counts(docs).collect()
        by_pair = {r["pair"]: r for r in rows}
        # "aaa" -> aa, aa ; "ab" -> ab ; "aa" -> aa ; "zz" -> zz
        assert by_pair["aa"]["cnt"] == 3
        assert by_pair["ab"]["cnt"] == 1
        assert by_pair["zz"]["cnt"] == 1
        assert by_pair["aa"]["rank"] == 1
        # deterministic tie-break: 'ab' before 'zz'
        assert by_pair["ab"]["rank"] == 2
        assert by_pair["zz"]["rank"] == 3
