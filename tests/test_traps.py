"""Crawl-trap detection (operators/traps.py): template normalization
goldens, the report over a synthetic calendar trap, and the scheduler's
denylist gate end-to-end (trap URLs dropped, never deferred)."""

from pyspark.sql import functions as F

from geospatial_web_scraper_spark.operators.politeness import (
    PolitenessScheduler,
)
from geospatial_web_scraper_spark.operators.traps import (
    trap_report,
    url_template_expr,
)


def test_url_template_golden(spark):
    df = spark.createDataFrame(
        [
            (0, "https://h.org/cal/2026/08/18/index.html"),
            (1, "https://h.org/s/deadbeef01234567/page.html"),  # hex run -> N
            (2, "https://h.org/page/7.html?sid=99"),            # query stripped
            (3, "https://h.org/plain/path"),
            (4, "https://h.org/mix/abc123def/x"),  # 9-char mixed hex run -> N
            # one logical numeric-id template must NOT split on the 8-char
            # hex-run length boundary (r4 review finding)
            (5, "https://h.org/id/1234567"),
            (6, "https://h.org/id/12345678"),
        ],
        "i long, url string",
    )
    got = {
        r["i"]: r["t"]
        for r in df.select(
            "i", url_template_expr(F.col("url")).alias("t")
        ).collect()
    }
    assert got[0] == "/cal/N/N/N/index.html"
    assert got[1] == "/s/N/page.html"
    assert got[2] == "/page/N.html"
    assert got[3] == "/plain/path"
    assert got[4] == "/mix/N/x"
    assert got[5] == got[6] == "/id/N"


def test_trap_report_flags_calendar_trap(spark):
    urls = [(f"https://trap.org/cal/2026/{m:02d}/{d:02d}",) for m in range(1, 6) for d in range(1, 21)]
    urls += [(f"https://ok.org/page/{i}.html",) for i in range(5)]
    urls += [("https://ok.org/about",), ("https://ok.org/about",)]  # dup URL
    df = spark.createDataFrame(urls, "url string")
    rep = {
        (r["host"], r["template"]): r["n_urls"]
        for r in trap_report(df).collect()
    }
    assert rep[("trap.org", "/cal/N/N/N")] == 100
    assert rep[("ok.org", "/page/N.html")] == 5
    assert rep[("ok.org", "/about")] == 1  # distinct count, dup collapsed
    flagged = trap_report(df, min_urls=50).collect()
    assert [(r["host"], r["template"], r["n_urls"]) for r in flagged] == [
        ("trap.org", "/cal/N/N/N", 100)
    ]


def test_scheduler_trap_denylist_drops_not_defers(spark):
    frontier = spark.createDataFrame(
        [
            ("https://trap.org/cal/2026/08/18", 1, None, -1, 0, False),
            ("https://trap.org/cal/2026/08/19", 1, None, -1, 1, False),
            ("https://trap.org/real/page.html", 1, None, -1, 2, False),
            ("https://ok.org/cal/2026/08/18", 1, None, -1, 3, False),  # other host
        ],
        "url string, depth int, parent_url string, parent_seq long,"
        " pos int, is_geo boolean",
    )
    deny = spark.createDataFrame(
        [("trap.org", "/cal/N/N/N")], "host string, template string"
    )
    sched = PolitenessScheduler(
        default_tokens_per_round=10, tiebreak="url",
        trap_templates=deny,
    )
    admitted = {r["url"] for r in sched.apply(frontier, 0).collect()}
    assert admitted == {
        "https://trap.org/real/page.html",
        "https://ok.org/cal/2026/08/18",
    }
    # trap URLs are gone entirely — not sitting in the deferred set
    deferred = {r["url"] for r in sched.deferred.collect()}
    assert not any("trap.org/cal" in u for u in deferred)
