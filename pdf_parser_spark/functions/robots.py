"""robots.txt parsing and URL filtering — the crawl-politeness gate a
web-scale training pipeline applies before a document enters the
corpus.

Written from RFC 9309 (Robots Exclusion Protocol):

- a file is a sequence of GROUPS: one or more ``User-agent:`` lines
  followed by ``Allow:`` / ``Disallow:`` rules; ``#`` starts a comment;
  keys are case-insensitive.
- a crawler obeys the union of all groups whose user-agent line equals
  its product token case-insensitively, falling back to the ``*``
  groups when none match (RFC 9309 §2.2.1).
- rule paths support ``*`` (any run) and a terminal ``$`` (end
  anchor); matching is longest-pattern-wins, and on a length tie the
  LEAST restrictive rule (Allow) wins (§2.2.2). An empty ``Disallow:``
  carries no restriction. No matching rule → allowed.
- percent-encoding canonicalization (§2.2.2's octet rules) is out of
  scope here: the pipeline's url_canonicalize pass runs first, so
  patterns and paths meet already-normalized.

The Spark surface is fully relational: rules become a small DataFrame
(host, allow, rule_len, pattern-regex) that broadcast-joins against
(host, path), the match is one JVM-side RLIKE per (url, rule) pair,
and the RFC winner — longest match, Allow on ties — is a single
map-side-combinable ``max(struct(rule_len, allow))`` per url. No
window, no shuffle of the corpus beyond one aggregation keyed by url.
Rule regexes are alternation-free (escaped literals + ``.*`` runs), so
the JVM scan is backtracking-safe.

(Reference parity note: the reference repo has no crawl handling; this
module exists for the LLM-data-pipeline surface, next to
urlnorm/host_blocklist/host_cap.)
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "parse_robots_text",
    "parse_crawl_delay",
    "parse_sitemaps",
    "rule_to_regex",
    "is_allowed",
    "robots_rules_df",
    "robots_meta_df",
    "robots_filter",
    "crawl_schedule",
]


def parse_robots_text(text: str, agent: str) -> list[tuple[bool, str]]:
    """RFC 9309 group selection: returns the [(allow, pattern), ...]
    rules that bind *agent*, merging every matching group; the ``*``
    groups apply only when no group names the agent."""
    agent = agent.lower()
    exact: list[tuple[bool, str]] = []
    star: list[tuple[bool, str]] = []
    cur_agents: list[str] = []
    in_header = False  # inside a run of consecutive user-agent lines
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if not in_header:
                cur_agents = []
                in_header = True
            cur_agents.append(val.lower())
            continue
        in_header = False
        if key not in ("allow", "disallow"):
            continue  # crawl-delay / sitemap / unknown: ignored
        if not val:
            continue  # empty Disallow: no restriction (RFC 9309 §2.2.2)
        rule = (key == "allow", val)
        if agent in cur_agents:
            exact.append(rule)
        if "*" in cur_agents:
            star.append(rule)
    return exact if exact else star


def parse_crawl_delay(text: str, agent: str) -> float | None:
    """Group-scoped ``Crawl-delay:`` for *agent* — same RFC 9309 group
    selection as the rules: a group naming the agent wins over the
    ``*`` groups; within the binding groups the LARGEST delay applies
    (the conservative merge when several groups bind). Not part of RFC
    9309 itself (it ignores unknown lines) but the de-facto politeness
    extension every major crawler honors; unparseable and non-finite
    (nan, inf) values are ignored like any unknown line."""
    agent = agent.lower()
    exact: list[float] = []
    star: list[float] = []
    cur_agents: list[str] = []
    in_header = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if not in_header:
                cur_agents = []
                in_header = True
            cur_agents.append(val.lower())
            continue
        in_header = False
        if key != "crawl-delay":
            continue
        try:
            delay = float(val)
        except ValueError:
            continue
        if not math.isfinite(delay) or delay < 0:
            continue
        if agent in cur_agents:
            exact.append(delay)
        if "*" in cur_agents:
            star.append(delay)
    if exact:
        return max(exact)
    return max(star) if star else None


def parse_sitemaps(text: str) -> list[str]:
    """``Sitemap:`` lines are file-global (outside any group — the
    sitemaps.org extension RFC 9309 §2.3 lets through as "other
    records"): every one applies regardless of user-agent. Returned in
    file order, first occurrence wins on duplicates."""
    seen: set[str] = set()
    out: list[str] = []
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if ":" not in line:
            continue
        key, _, val = line.partition(":")
        if key.strip().lower() != "sitemap":
            continue
        val = val.strip()
        if val and val not in seen:
            seen.add(val)
            out.append(val)
    return out


def rule_to_regex(pattern: str) -> str:
    """Rule path → anchored regex: ``*`` → ``.*``, terminal ``$`` →
    end anchor, everything else literal. Alternation-free by
    construction (linear JVM scan)."""
    anchored_end = pattern.endswith("$")
    if anchored_end:
        pattern = pattern[:-1]
    body = ".*".join(re.escape(part) for part in pattern.split("*"))
    return "^" + body + ("$" if anchored_end else "")


def is_allowed(rules: list[tuple[bool, str]], path: str) -> bool:
    """Longest-match-wins, Allow wins ties, no match → allowed.
    Python twin of the relational path (used by tests and for
    driver-side checks)."""
    best: tuple[int, bool] | None = None
    for allow, pattern in rules:
        if re.match(rule_to_regex(pattern), path):
            key = (len(pattern), allow)
            if best is None or key > best:
                best = key
    return True if best is None else best[1]


def robots_rules_df(
    robots: DataFrame,
    agent: str,
    host_col: str = "host",
    text_col: str = "robots_txt",
) -> DataFrame:
    """(host, robots_txt) → (host, allow, rule_len, rule_re), one row
    per binding rule. Runs the parser executor-side over Arrow batches
    (the robots table is one row per HOST — tiny next to the corpus —
    so this stage's cost is negligible and its output broadcasts)."""
    from collections.abc import Iterator

    import pandas as pd

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            hosts, allows, lens, regexes = [], [], [], []
            for host, txt in zip(pdf[host_col], pdf[text_col]):
                for allow, pattern in parse_robots_text(txt or "", agent):
                    hosts.append(host)
                    allows.append(bool(allow))
                    lens.append(len(pattern))
                    regexes.append(rule_to_regex(pattern))
            yield pd.DataFrame(
                {
                    "host": hosts,
                    "allow": allows,
                    "rule_len": lens,
                    "rule_re": regexes,
                }
            )

    return robots.select(host_col, text_col).mapInPandas(
        run, schema="host STRING, allow BOOLEAN, rule_len INT, rule_re STRING"
    )


def robots_meta_df(
    robots: DataFrame,
    agent: str,
    host_col: str = "host",
    text_col: str = "robots_txt",
) -> DataFrame:
    """(host, robots_txt) → (host, crawl_delay, sitemaps) — the
    non-rule politeness metadata: the agent's group-scoped
    ``Crawl-delay`` (null when absent) and the file-global ``Sitemap``
    list. One row per host either way, so the output broadcasts just
    like the rule table."""
    from collections.abc import Iterator

    import pandas as pd

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            rows = []
            for host, txt in zip(pdf[host_col], pdf[text_col]):
                rows.append(
                    {
                        "host": host,
                        "crawl_delay": parse_crawl_delay(txt or "", agent),
                        "sitemaps": parse_sitemaps(txt or ""),
                    }
                )
            yield pd.DataFrame(
                rows, columns=["host", "crawl_delay", "sitemaps"]
            )

    return robots.select(host_col, text_col).mapInPandas(
        run,
        schema="host STRING, crawl_delay DOUBLE, sitemaps ARRAY<STRING>",
    )


def crawl_schedule(
    urls: DataFrame,
    meta: DataFrame,
    default_delay: float = 1.0,
    host_col: str = "host",
    url_col: str = "url",
) -> DataFrame:
    """Politeness-aware fetch schedule: per host, URLs are assigned
    sequential slots (deterministic url order) and a fetch offset of
    ``slot * crawl_delay`` seconds — the frontier shape a distributed
    fetcher consumes (sort the whole output by fetch_at_s and hosts
    interleave into waves automatically; within a host the delay is
    honored by construction).

    Plan: the per-host metadata broadcasts (one row per host); the
    slot is a row_number window PARTITIONED BY HOST — never a global
    sort. A per-host sequential order is irreducible for politeness
    (slots are inherently serial per host), so the window's partition
    size is each host's URL count; at crawl scale that is exactly the
    quantity `host_cap` bounds upstream, and the schedule horizon
    (max fetch_at_s) makes oversized hosts visible rather than
    hidden. Hosts with no robots metadata get *default_delay*."""
    from pyspark.sql import Window

    joined = urls.join(
        F.broadcast(meta.select(host_col, "crawl_delay")),
        on=host_col,
        how="left",
    )
    w = Window.partitionBy(host_col).orderBy(url_col)
    slot = F.row_number().over(w) - F.lit(1)
    delay = F.coalesce(F.col("crawl_delay"), F.lit(float(default_delay)))
    return joined.select(
        *urls.columns,
        slot.alias("slot"),
        (slot.cast("double") * delay).alias("fetch_at_s"),
    )


def robots_filter(
    urls: DataFrame,
    rules: DataFrame,
    host_col: str = "host",
    path_col: str = "path",
) -> DataFrame:
    """Adds an ``allowed`` boolean to *urls* per RFC 9309.

    Plan: broadcast the per-host rule table, one RLIKE per (url, rule)
    pair, then the RFC decision — longest match wins, Allow wins the
    tie — as ``max(struct(rule_len, allow))`` (struct ordering IS the
    rule precedence), map-side combined. Unmatched urls never lose
    rows (left join) and default to allowed."""
    joined = urls.join(F.broadcast(rules), on=host_col, how="left")
    # non-matching rule rows become null structs (max ignores them) —
    # a where() here would DROP urls whose rules all miss
    hit = F.col("rule_re").isNotNull() & F.regexp_like(
        F.col(path_col), F.col("rule_re")
    )
    group_cols = list(urls.columns)
    winner = joined.groupBy(*group_cols).agg(
        F.max(F.when(hit, F.struct("rule_len", "allow"))).alias("w")
    )
    return winner.select(
        *group_cols,
        F.coalesce(F.col("w.allow"), F.lit(True)).alias("allowed"),
    )
