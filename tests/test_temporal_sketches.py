"""Edge-case semantics of the tokenizer-prep text ops — the cases the
corpus-level oracle sweep can't isolate (short docs, ranking ties).
"""

from pdf_parser_spark.functions import textstats


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
