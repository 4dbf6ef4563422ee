"""robots.txt parsing → the politeness scheduler's rules cache table.

The reference has no robots handling (its politeness is two 40-slot
semaphores, ``crawler.go:16-17``); the north rule requires a per-host
politeness scheduler *with robots.txt caching*. This module turns raw
robots.txt documents — fetched once per host and stored as a
``(host, robots_txt)`` table — into the ``(host, disallow_prefixes,
crawl_delay)`` rules table consumed by
:class:`..operators.politeness.PolitenessScheduler`.

Parsing follows the de-facto REP subset (RFC 9309 §2 group semantics):

* groups are runs of ``User-agent:`` lines followed by rules;
* the group for the most specific matching agent token wins (exact
  product-token match, else the ``*`` group);
* ``Disallow:`` with an empty value means allow-all (ignored);
* ``Allow:`` lines are enforced by the scheduler with RFC 9309 §2.2.2
  longest-match precedence (the most specific matching prefix wins,
  Allow winning exact-length ties — operators/politeness.py);
* ``Crawl-delay:`` seconds (non-standard but ubiquitous) feeds the token
  budget: ``tokens_per_round ≈ round_seconds / crawl_delay``.

The per-document work is a pure function, applied over Arrow batches via
``mapInPandas`` (no per-row Python crossing).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

RULES_SCHEMA = (
    "host string, disallow_prefixes array<string>, allow_prefixes array<string>, "
    "crawl_delay double"
)


def parse_robots_txt(text: str, agent: str = "*") -> dict:
    """→ {'disallow': [prefixes], 'allow': [prefixes], 'crawl_delay': float|None}
    for the best-matching agent group."""
    groups: list[dict] = []
    current: dict | None = None
    last_was_agent = False
    for raw_line in (text or "").splitlines():
        line = raw_line.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if current is None or not last_was_agent:
                current = {"agents": [], "disallow": [], "allow": [], "crawl_delay": None}
                groups.append(current)
            current["agents"].append(value.lower())
            last_was_agent = True
            continue
        last_was_agent = False
        if current is None:
            continue  # rules before any user-agent line: ignored
        if field == "disallow":
            if value:
                current["disallow"].append(value)
        elif field == "allow":
            if value:
                current["allow"].append(value)
        elif field == "crawl-delay":
            try:
                current["crawl_delay"] = float(value)
            except ValueError:
                pass

    agent = agent.lower()
    exact = [g for g in groups if agent in g["agents"]]
    star = [g for g in groups if "*" in g["agents"]]
    chosen = exact or star
    out = {"disallow": [], "allow": [], "crawl_delay": None}
    for g in chosen:
        out["disallow"].extend(g["disallow"])
        out["allow"].extend(g["allow"])
        if g["crawl_delay"] is not None:
            out["crawl_delay"] = g["crawl_delay"]
    return out


def robots_rules_df(
    robots_docs: DataFrame,
    agent: str = "*",
    host_col: str = "host",
    text_col: str = "robots_txt",
) -> DataFrame:
    """(host, robots_txt) → the scheduler's rules table (RULES_SCHEMA)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            parsed = [parse_robots_txt(t, agent) for t in pdf[text_col]]
            yield pd.DataFrame(
                {
                    "host": pdf[host_col],
                    "disallow_prefixes": [p["disallow"] for p in parsed],
                    "allow_prefixes": [p["allow"] for p in parsed],
                    "crawl_delay": [p["crawl_delay"] for p in parsed],
                }
            )

    return robots_docs.select(host_col, text_col).mapInPandas(batches, RULES_SCHEMA)


def budgets_from_delays(
    rules: DataFrame, round_seconds: float = 60.0, default_tokens: int = 40
) -> DataFrame:
    """Crawl-delay → tokens_per_round for the scheduler's budget table:
    ``clamp(floor(round_seconds / delay), 1, default_tokens)``; hosts with
    no delay — or a zero/negative one (a 0 delay would float-divide to
    +Inf) — get ``default_tokens``. The floor is clamped to ≥1 because a
    zero budget starves that host FOREVER (the scheduler defers every row
    it does not admit, so its candidates re-defer every round);
    one-per-round is the slowest honest cadence. Feed straight into
    ``PolitenessScheduler(host_budget=…)`` — the end-to-end flow is the
    ``crawl_crawldelay_trace`` catalog query."""
    from pyspark.sql import functions as F

    t = F.when(
        F.col("crawl_delay").isNotNull() & (F.col("crawl_delay") > 0),
        F.greatest(
            F.lit(1),
            F.least(
                F.floor(F.lit(float(round_seconds)) / F.col("crawl_delay")),
                F.lit(default_tokens),
            ),
        ),
    ).otherwise(F.lit(default_tokens))
    return rules.select("host", t.cast("int").alias("tokens_per_round"))
