"""robots.txt parser + RFC 9309 longest-match filter
(functions/robots.py): group selection, wildcard/anchor rules, tie
semantics, and the relational Spark path."""

import pytest

from pyspark.sql import functions as F

from pdf_parser_spark.functions.robots import (
    is_allowed,
    parse_robots_text,
    robots_filter,
    robots_rules_df,
    rule_to_regex,
)

ROBOTS = """
# politeness file
User-agent: *
Disallow: /

User-agent: trainbot
User-agent: otherbot
Disallow: /private/
Allow: /private/doc
Disallow: /*.tmp$

User-agent: trainbot
Disallow: /extra/
"""


def test_group_selection_exact_beats_star():
    rules = parse_robots_text(ROBOTS, "TrainBot")  # case-insensitive
    assert (False, "/") not in rules  # the * group must NOT bind
    assert (False, "/private/") in rules
    assert (True, "/private/doc") in rules
    assert (False, "/extra/") in rules  # both matching groups merge


def test_star_group_binds_unknown_agent():
    rules = parse_robots_text(ROBOTS, "strangerbot")
    assert rules == [(False, "/")]


def test_longest_match_and_tie_semantics():
    rules = parse_robots_text(ROBOTS, "trainbot")
    assert is_allowed(rules, "/public/doc1.html")       # no rule matches
    assert not is_allowed(rules, "/private/x.html")     # Disallow /private/
    assert is_allowed(rules, "/private/doc9.html")      # Allow len 12 wins
    assert not is_allowed(rules, "/public/doc5.tmp")    # $ wildcard rule
    assert is_allowed(rules, "/private/doc5.tmp")       # Allow(12) > tmp(7)
    assert not is_allowed(rules, "/extra/thing")


def test_rule_to_regex_shapes():
    assert rule_to_regex("/a/*.x$") == r"^/a/.*\.x$"
    assert rule_to_regex("/plain") == r"^/plain"
    # regex metacharacters in paths stay literal
    assert is_allowed([(False, "/a+b(c)")], "/a+b(c)d") is False
    assert is_allowed([(False, "/a+b(c)")], "/aab") is True


def test_empty_disallow_and_comments_ignored():
    rules = parse_robots_text(
        "User-agent: x\nDisallow:\nAllow: /ok # trailing comment\n"
        "Crawl-delay: 3\nSitemap: https://e/s.xml\n",
        "x",
    )
    assert rules == [(True, "/ok")]


def test_relational_path_matches_python_twin(spark):
    robots = spark.createDataFrame(
        [("h1", ROBOTS), ("h2", "User-agent: *\nDisallow: /no/\n"),
         ("h3", None)],
        "host STRING, robots_txt STRING",
    )
    rules = robots_rules_df(robots, agent="trainbot")
    paths = [
        ("h1", "/public/a.html"), ("h1", "/private/a.html"),
        ("h1", "/private/doc1.tmp"), ("h1", "/public/a.tmp"),
        ("h1", "/extra/x"),
        ("h2", "/no/x"), ("h2", "/yes/x"),
        ("h3", "/anything"),
        ("h4", "/no-robots-host"),
    ]
    urls = spark.createDataFrame(
        [(f"https://{h}{p}", h, p) for h, p in paths],
        "url STRING, host STRING, path STRING",
    )
    out = {r["url"]: r["allowed"] for r in robots_filter(urls, rules).collect()}
    assert len(out) == len(paths)  # no url lost, even all-rules-miss hosts
    py_rules = {
        "h1": parse_robots_text(ROBOTS, "trainbot"),
        "h2": parse_robots_text("User-agent: *\nDisallow: /no/\n", "trainbot"),
        "h3": [], "h4": [],
    }
    for h, p in paths:
        assert out[f"https://{h}{p}"] == is_allowed(py_rules[h], p), (h, p)
    # broadcast-join plan: the corpus side must not shuffle for the join
    plan = robots_filter(urls, rules)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan


# ------------------------------------------- politeness metadata

POLITE = """
# politeness file
User-agent: *
Crawl-delay: 9
Disallow: /tmp/

User-agent: trainbot
Crawl-delay: 1.5
Sitemap: https://h/sitemap.xml

User-agent: trainbot
Crawl-delay: 3

Sitemap: https://h/sitemap-news.xml
Sitemap: https://h/sitemap.xml
"""


def test_crawl_delay_group_selection_and_max_merge():
    from pdf_parser_spark.functions.robots import parse_crawl_delay

    # two trainbot groups bind -> conservative max; * decoy ignored
    assert parse_crawl_delay(POLITE, "TrainBot") == 3.0
    # unknown agent falls back to the * group
    assert parse_crawl_delay(POLITE, "otherbot") == 9.0
    # absent entirely
    assert parse_crawl_delay("User-agent: *\nDisallow: /\n", "x") is None
    # unparseable / negative values are ignored like unknown lines
    assert (
        parse_crawl_delay(
            "User-agent: *\nCrawl-delay: soon\nCrawl-delay: -2\n", "x"
        )
        is None
    )


def test_crawl_delay_non_finite_values_ignored():
    from pdf_parser_spark.functions.robots import parse_crawl_delay

    # nan slips past a `< 0` guard and poisons max(); inf schedules a
    # fetch never — all three are dropped like unparseable lines
    for bad in ("nan", "inf", "-inf", "NaN", "Infinity"):
        robots = f"User-agent: *\nCrawl-delay: {bad}\n"
        assert parse_crawl_delay(robots, "x") is None, bad
        mixed = f"User-agent: *\nCrawl-delay: {bad}\nCrawl-delay: 2\n"
        assert parse_crawl_delay(mixed, "x") == 2.0, bad


def test_parse_sitemaps_global_and_first_wins():
    from pdf_parser_spark.functions.robots import parse_sitemaps

    # file-global (group context irrelevant), file order, dedup
    assert parse_sitemaps(POLITE) == [
        "https://h/sitemap.xml",
        "https://h/sitemap-news.xml",
    ]
    assert parse_sitemaps("# nothing\nUser-agent: *\n") == []


def test_crawl_schedule_relational(spark):
    from pdf_parser_spark.functions.robots import (
        crawl_schedule,
        robots_meta_df,
    )

    robots = spark.createDataFrame(
        [("slow.com", POLITE), ("empty.com", "User-agent: *\n")],
        "host STRING, robots_txt STRING",
    )
    meta = robots_meta_df(robots, agent="trainbot")
    m = {r["host"]: r for r in meta.collect()}
    assert m["slow.com"]["crawl_delay"] == 3.0
    assert list(m["slow.com"]["sitemaps"]) == [
        "https://h/sitemap.xml",
        "https://h/sitemap-news.xml",
    ]
    assert m["empty.com"]["crawl_delay"] is None

    urls = spark.createDataFrame(
        [(f"https://{h}/p{i}", h) for h in
         ("slow.com", "empty.com", "norobots.com") for i in range(3)],
        "url STRING, host STRING",
    )
    out = crawl_schedule(urls, meta, default_delay=2.0)
    rows = {(r["host"], r["slot"]): r["fetch_at_s"] for r in out.collect()}
    assert len(rows) == 9  # no url lost, even the metadata-less host
    # parsed delay honored per host; default for unknown/absent
    assert rows[("slow.com", 2)] == 6.0       # 2 * 3.0
    assert rows[("empty.com", 1)] == 2.0      # 1 * default
    assert rows[("norobots.com", 2)] == 4.0   # 2 * default
    # plan: metadata broadcasts, slots come from a host-partitioned
    # window -- no global sort anywhere
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "rangepartitioning" not in plan.lower()


def test_soft404_scorer(spark):
    from pdf_parser_spark.functions.filtering import (
        soft404_flag_expr,
        soft404_score_expr,
    )

    long_pad = "lorem " * 80  # > 300 chars, no error phrases
    df = spark.createDataFrame(
        [
            (0, long_pad),                                  # clean long
            (1, "tiny page"),                               # short only
            (2, "404 Error - Page Not Found. " + long_pad),  # 2 phrases
            (3, "This page DOES NOT exist."),               # phrase+short
        ],
        "id INT, text STRING",
    )
    out = {
        r["id"]: (r["s"], r["f"])
        for r in df.select(
            "id",
            soft404_score_expr("text").alias("s"),
            soft404_flag_expr("text").cast("int").alias("f"),
        ).collect()
    }
    assert out[0] == (0, 0)
    assert out[1] == (1, 0)   # short alone never flags
    assert out[2] == (4, 1)   # 'page not found' + '404 error'
    assert out[3] == (3, 1)   # case-insensitive phrase + short
