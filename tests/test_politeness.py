"""Politeness scheduler invariants: robots prefixes respected, per-host
per-round caps hold, geo-priority ordering, deferral (delay, not drop),
and determinism."""

import pytest
from pyspark.sql import functions as F

from geospatial_web_scraper_spark import corpus
from geospatial_web_scraper_spark.operators.politeness import (
    PolitenessScheduler,
    priority_expr,
)
from geospatial_web_scraper_spark.plans.bfs import CrawlEngine

N = 120


def _run(spark, **sched_kw):
    sched = PolitenessScheduler(**sched_kw)
    eng = CrawlEngine(
        spark, corpus.corpus_df(spark, N), max_crawl=None, scheduler=sched, max_rounds=12
    )
    return eng.run(corpus.seeds_df(spark, N))


@pytest.fixture(scope="module")
def capped_run(spark):
    """One 12-round crawl at 5 tokens and 4 salts, shared by the cap and
    determinism tests."""
    return _run(spark, default_tokens_per_round=5, n_salts=4)


def test_per_host_cap_holds_every_round(capped_run):
    run = capped_run
    per = (
        run.trace.groupBy("round", "host")
        .agg(F.count("*").alias("n"))
        .agg(F.max("n").alias("mx"))
        .collect()[0]["mx"]
    )
    assert per <= 5


def test_deferral_not_drop(spark):
    """With a tight budget the crawl takes more rounds but converges to the
    same seen set as FIFO (politeness delays, never drops)."""
    fifo = CrawlEngine(spark, corpus.corpus_df(spark, N), max_crawl=None).run(
        corpus.seeds_df(spark, N)
    )
    tight = _run(spark, default_tokens_per_round=3, n_salts=2)
    fifo_seen = {r["url"] for r in fifo.trace.collect()}
    tight_seen = {r["url"] for r in tight.trace.collect()}
    # every FIFO url is eventually crawled under politeness, or the round cap
    # hit first — require substantial progress AND no extras
    assert tight_seen <= fifo_seen
    assert len(tight_seen) == len(fifo_seen) or tight.rounds == 12
    assert len(tight_seen) >= 100  # steady per-round progress under deferral
    assert tight.rounds > fifo.rounds


def test_geo_priority_first_within_host_round(spark):
    run = _run(spark, default_tokens_per_round=40)
    # within each round, geo-file urls must rank before plain urls of the
    # same round (priority desc ordering drove seq)
    rows = run.trace.select("round", "seq", "url").collect()
    by_round = {}
    for r in rows:
        by_round.setdefault(r["round"], []).append((r["seq"], "/data/file_" in r["url"]))
    for rnd, lst in by_round.items():
        if rnd == 0:
            continue  # seeds only
        lst.sort()
        flags = [g for _, g in lst]
        # all geo urls precede all non-geo urls in seq order
        if True in flags and False in flags:
            assert flags.index(False) > len([f for f in flags if f]) - 1


def test_robots_prefix_filter(spark):
    robots = None

    def run_with(disallow):
        nonlocal robots
        spark_df = spark.createDataFrame(
            [("host0.example.org", disallow)],
            "host string, disallow_prefixes array<string>",
        )
        sched = PolitenessScheduler(robots=spark_df, default_tokens_per_round=40)
        eng = CrawlEngine(
            spark, corpus.corpus_df(spark, N), max_crawl=None, scheduler=sched,
            max_rounds=12,
        )
        return eng.run(corpus.seeds_df(spark, N))

    blocked = run_with(["/data/"])
    urls = [r["url"] for r in blocked.trace.collect()]
    assert not any(u.startswith("https://host0.example.org/data/") for u in urls)
    # other hosts' /data/ urls unaffected
    assert any("/data/file_" in u for u in urls)


def test_determinism(spark, capped_run):
    a = capped_run
    b = _run(spark, default_tokens_per_round=5, n_salts=4)
    ta = [tuple(r) for r in a.trace.orderBy("seq").collect()]
    tb = [tuple(r) for r in b.trace.orderBy("seq").collect()]
    assert ta == tb


def test_priority_mode_exact_trace_parity(spark):
    """Scheduler-enabled engine must match the oracle's priority/politeness
    mode EXACTLY: same admission (two-phase host budgets), same total order
    (priority desc, xxhash64(canonical url) asc), same deferral, same
    budget-cut semantics, same robots drops."""
    from geospatial_web_scraper_spark.oracle import crawl_oracle

    robots_df = spark.createDataFrame(
        [("host0.example.org", ["/data/"])],
        "host string, disallow_prefixes array<string>",
    )
    budget_df = spark.createDataFrame(
        [("host0.example.org", 2)], "host string, tokens_per_round int"
    )
    cfg = dict(
        default_tokens=5,
        n_salts=4,
        host_budgets={"host0.example.org": 2},
        robots={"host0.example.org": ["/data/"]},
    )
    for max_crawl in (None, 50):
        sched = PolitenessScheduler(
            robots=robots_df, host_budget=budget_df,
            default_tokens_per_round=5, n_salts=4,
        )
        eng = CrawlEngine(
            spark, corpus.corpus_df(spark, N), max_crawl=max_crawl,
            scheduler=sched, max_rounds=10,
        )
        run = eng.run(corpus.seeds_df(spark, N))
        got = [
            (r["seq"], r["url"], r["depth"], r["parent_url"], r["round"])
            for r in run.trace.orderBy("seq").collect()
        ]
        want = crawl_oracle(
            corpus.pages_dict(N),
            [corpus.url_of(i) for i in corpus.seed_ids(N)],
            max_crawl=max_crawl,
            scheduler=cfg,
            max_rounds=10,
        ).trace
        assert got == want, (max_crawl, got[:5], want[:5])


def test_skew_hot_host_exact_budget_trace(spark):
    """HARD skew (VERDICT r4 #5a): a seed batch where host0 owns 50% of
    the frontier (all of host0's pages + an equal slice of the others).
    Politeness budgets must hold EXACTLY — the full budgeted trace
    matches the sequential python oracle value-for-value, and no round
    admits more than the per-host cap for any host."""
    from geospatial_web_scraper_spark.oracle import crawl_oracle

    skew_ids = [i for i in range(N) if i % 10 < 6]
    seeds = spark.createDataFrame(
        [(k, corpus.url_of(i)) for k, i in enumerate(skew_ids)],
        "seed_order int, url string",
    )
    # sanity: the seed batch really is 50% host0
    hot = sum(1 for i in skew_ids if corpus.host_of(i) == 0)
    assert hot * 2 == len(skew_ids)

    sched = PolitenessScheduler(default_tokens_per_round=5, n_salts=4)
    run = CrawlEngine(
        spark, corpus.corpus_df(spark, N), max_crawl=None, scheduler=sched,
        max_rounds=8,
    ).run(seeds)
    got = [
        (r["seq"], r["url"], r["depth"], r["parent_url"], r["round"])
        for r in run.trace.orderBy("seq").collect()
    ]
    want = crawl_oracle(
        corpus.pages_dict(N),
        [corpus.url_of(i) for i in skew_ids],
        max_crawl=None,
        scheduler=dict(default_tokens=5, n_salts=4),
        max_rounds=8,
    ).trace
    assert got == want, (got[:5], want[:5])
    per_round_host = (
        run.trace.groupBy("round", "host").count().agg(F.max("count"))
    ).collect()[0][0]
    assert per_round_host <= 5


def test_skew_hot_host_no_straggler_partitioning(spark):
    """HARD skew (VERDICT r4 #5b): the phase-A dequeue partitions by
    (host, salt) with salt = pmod(xxhash64(canonical url), n_salts) —
    the same expression politeness.py uses. With host0 at 50% of a
    4,000-row frontier and n_salts=8, the partition-size histogram shows
    no (host, salt) group above ~1/8 of the hot host's rows: unsalted,
    one group would hold 50% of the frontier (the single-straggler
    task); salted, the max group is bounded by hot/n_salts ± hash noise.
    (Wall-time witness at sf0.1: the bench's steady_round_skew entry.)"""
    n, n_salts = 4000, 8
    from geospatial_web_scraper_spark.functions.urls import url_hash, url_host

    frontier = corpus.corpus_df(spark, n).filter(F.col("page_id") % 10 < 6)
    sizes = (
        frontier.select(
            url_host(F.col("url")).alias("h"),
            F.pmod(url_hash(F.col("url")), F.lit(n_salts)).alias("s"),
        )
        .groupBy("h", "s")
        .count()
        .collect()
    )
    total = sum(r["count"] for r in sizes)
    hot = sum(r["count"] for r in sizes if r["h"] == "host0.example.org")
    assert abs(hot / total - 0.5) < 0.02, hot / total
    mx = max(r["count"] for r in sizes)
    assert mx <= hot / n_salts * 1.5, (mx, hot)


def test_skew_hot_host_lineage_partition_histogram(spark):
    """HARD skew, engine-telemetry form (VERDICT r4 #5b asked for the
    partition-size histogram IN THE LINEAGE TABLE): run the budgeted
    crawl on the 50%-hot-host seed batch with lineage_detail=True and
    read the per-partition fetch counts the engine itself records. The
    fetched slice inherits the PAGES SCAN's partitioning (the frontier
    broadcasts into it; HTML never shuffles), so host skew cannot
    concentrate it — no partition may exceed ~3× the per-round mean in
    any round with enough rows to measure."""
    skew_ids = [i for i in range(N) if i % 10 < 6]
    seeds = spark.createDataFrame(
        [(k, corpus.url_of(i)) for k, i in enumerate(skew_ids)],
        "seed_order int, url string",
    )
    sched = PolitenessScheduler(default_tokens_per_round=20, n_salts=4)
    run = CrawlEngine(
        spark, corpus.corpus_df(spark, N), max_crawl=None, scheduler=sched,
        max_rounds=6, lineage_detail=True,
    ).run(seeds)
    parts = [
        (r["round"], r["urls_fetched"])
        for r in run.lineage.where("partition_id >= 0").collect()
    ]
    assert parts, "lineage_detail recorded no per-partition rows"
    by_round: dict[int, list[int]] = {}
    for rnd, n in parts:
        by_round.setdefault(rnd, []).append(n)
    measured = 0
    for rnd, ns in by_round.items():
        total = sum(ns)
        if total < 40:  # tail rounds too small for a meaningful ratio
            continue
        measured += 1
        assert max(ns) <= 3 * (total / len(ns)) + 1, (rnd, ns)
    assert measured >= 1, by_round


def test_priority_expr_values(spark):
    df = spark.createDataFrame(
        [
            ("https://h.org/data/file_1.zip", True, 1),
            ("https://h.org/data/x.html", False, 1),
            ("https://h.org/page/x.html", False, 1),
            ("https://h.org/page/x.html", False, 3),
        ],
        "url string, is_geo boolean, depth int",
    )
    got = [
        r["p"]
        for r in df.select(
            priority_expr(F.col("url"), F.col("is_geo"), F.col("depth")).alias("p")
        ).collect()
    ]
    assert got == [109.0, 9.0, -1.0, -3.0]


def test_rank_table_dominates_dequeue_order(spark):
    """With a rank_table, dequeue order is (static prio + rank_fp) DESC:
    a high-PageRank plain URL outranks a geo-signal URL (rank_fp units of
    1e-12 dwarf the static term by design), and unranked URLs keep the
    static order among themselves via coalesce(rank_fp, 0)."""
    frontier = spark.createDataFrame(
        [
            ("https://h.org/data/a.zip", 0, None, -1, 0, True),   # static 109
            ("https://h.org/plain_hub.html", 0, None, -1, 1, False),  # static -0
            ("https://h.org/plain_leaf.html", 0, None, -1, 2, False),
            ("https://h.org/unranked_geo.zip", 0, None, -1, 3, True),
        ],
        "url string, depth int, parent_url string, parent_seq long,"
        " pos int, is_geo boolean",
    )
    ranks = spark.createDataFrame(
        [
            ("https://h.org/plain_hub.html", 5_000_000_000),
            ("https://h.org/data/a.zip", 1_000_000_000),
        ],
        "url string, rank_fp long",
    )
    sched = PolitenessScheduler(
        default_tokens_per_round=100,
        tiebreak="url", rank_table=ranks,
    )
    out = sched.apply(frontier, 0)
    got = [r["url"] for r in out.orderBy("_ord1", "_ord2").collect()]
    assert got == [
        "https://h.org/plain_hub.html",      # rank 5e9 wins over geo+rank 1e9
        "https://h.org/data/a.zip",          # rank 1e9 + 109
        "https://h.org/unranked_geo.zip",    # unranked: static 100
        "https://h.org/plain_leaf.html",     # unranked plain: static 0
    ], got


def test_uncapped_scheduler_skips_windows_and_matches_capped_order(spark):
    """default_tokens_per_round=None (uncapped) must admit the same rows
    in the same (_ord1, _ord2) order as a huge finite budget, with ZERO
    window functions in the plan (the two-phase dequeue exists to CAP —
    an uncapped priority crawl should not pay two full-frontier window
    exchanges), and nothing deferred or persisted."""
    frontier = spark.createDataFrame(
        [
            (f"https://h{i % 3}.org/{'data/' if i % 2 else ''}p{i}.html",
             i % 4, None, -1, i, i % 5 == 0)
            for i in range(40)
        ],
        "url string, depth int, parent_url string, parent_seq long,"
        " pos int, is_geo boolean",
    )
    capped = PolitenessScheduler(
        default_tokens_per_round=1_000_000_000,
        tiebreak="url",
    ).apply(frontier, 0)
    unc_sched = PolitenessScheduler(
        default_tokens_per_round=None, tiebreak="url",
    )
    uncapped = unc_sched.apply(frontier, 0)
    a = [tuple(r) for r in capped.orderBy("_ord1", "_ord2").collect()]
    b = [tuple(r) for r in uncapped.orderBy("_ord1", "_ord2").collect()]
    assert a == b and len(a) == 40
    plan = uncapped._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition" not in plan, plan
    assert unc_sched.deferred is None and unc_sched._ranked is None
    with pytest.raises(ValueError, match="uncapped"):
        PolitenessScheduler(
            default_tokens_per_round=None,
            host_budget=spark.createDataFrame(
                [("h0.org", 2)], "host string, tokens_per_round int"
            ),
        )


def test_scheduler_rank_cache_is_single_round(spark):
    """The capped dequeue's ranking persist is bounded to one round:
    apply() releases the previous round's cache, release() the last."""
    frontier = spark.createDataFrame(
        [(f"https://h.org/p{i}.html", 0, None, -1, i, False) for i in range(8)],
        "url string, depth int, parent_url string, parent_seq long,"
        " pos int, is_geo boolean",
    )
    sched = PolitenessScheduler(default_tokens_per_round=3, tiebreak="url")
    out1 = sched.apply(frontier, 0)
    assert out1.count() == 3  # materialize round 1's ranking
    r1 = sched._ranked
    assert r1 is not None and r1.is_cached
    sched.apply(frontier, 1)
    assert not r1.is_cached, "previous round's ranking cache not released"
    sched.release()
    assert sched._ranked is None


def test_deferred_is_a_filter_of_the_ranking(spark):
    """Admitted and deferred rows are two filters of the one persisted
    ranking: the deferred plan reads the cached ranking and runs no join,
    and the two sets split the offered rows exactly."""
    rows = [
        (f"https://h{i % 2}.org/{'data/' if i % 3 else ''}p{i}.html",
         i % 4, None, -1, i, i % 5 == 0)
        for i in range(40)
    ]
    frontier = spark.createDataFrame(
        rows,
        "url string, depth int, parent_url string, parent_seq long,"
        " pos int, is_geo boolean",
    )
    sched = PolitenessScheduler(default_tokens_per_round=3, n_salts=4)
    admitted = {r["url"] for r in sched.apply(frontier, 0).collect()}
    deferred_df = sched.deferred
    deferred = [r["url"] for r in deferred_df.collect()]
    plan = deferred_df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "InMemoryRelation" in plan, plan
    assert len(admitted) == 6  # 3 tokens × 2 hosts
    assert len(deferred) == len(set(deferred)) == 34
    assert admitted.isdisjoint(deferred)
    assert admitted | set(deferred) == {r[0] for r in rows}
    sched.release()
    # with a budget table the two branches share phase A's exchange (a
    # literal budget lets Spark pre-limit the survivors' shuffle instead)
    budgets = spark.createDataFrame(
        [("h0.org", 3)], "host string, tokens_per_round int"
    )
    tabled = PolitenessScheduler(
        host_budget=budgets, default_tokens_per_round=3, n_salts=4
    )
    tabled.apply(frontier, 0)
    assert tabled._ranked.count() == 40
    ranked_plan = tabled._ranked._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in ranked_plan, ranked_plan
    tabled.release()


# ---------------------------------------------------------------------------
# priority aging (r5k) — anti-starvation under deferral
# ---------------------------------------------------------------------------


def test_age_boost_zero_emits_identical_oracle_sql():
    from geospatial_web_scraper_spark.entry_queries import (
        _deferral_trace_oracle_sql,
    )

    assert _deferral_trace_oracle_sql(
        300, 120, 2, rounds=9
    ) == _deferral_trace_oracle_sql(300, 120, 2, rounds=9, age_boost=0)


def test_age_boost_zero_scheduler_matches_plain(spark):
    # an explicit age_boost=0 in the crawl_deferral_trace configuration
    # must run the plain deferral crawl: the trace equals that row's
    # DuckDB oracle, and no _wait column reaches any round's frontier,
    # the deferred set or the trace
    import duckdb

    from geospatial_web_scraper_spark.entry_queries import ORACLES

    seen_cols = []

    class Recording(PolitenessScheduler):
        def apply(self, df, rnd):
            seen_cols.append(df.columns)
            out = super().apply(df, rnd)
            if self.deferred is not None:
                seen_cols.append(self.deferred.columns)
            return out

    sched = Recording(
        default_tokens_per_round=2,
        tiebreak="url",
        age_boost=0,
    )
    eng = CrawlEngine(
        spark, corpus.corpus_df(spark, 300), max_crawl=120,
        lineage_detail=False, scheduler=sched,
    )
    run = eng.run(corpus.seeds_df(spark, 300))
    cols = ["seq", "url", "depth", "parent_url", "round"]
    got = sorted(tuple(r) for r in run.trace.select(*cols).collect())

    res = duckdb.connect().execute(ORACLES["crawl_deferral_trace"])
    names = [d[0] for d in res.description]
    want = sorted(
        tuple(row[names.index(c)] for c in cols) for row in res.fetchall()
    )
    assert got == want
    assert seen_cols and all("_wait" not in c for c in seen_cols)
    assert "_wait" not in run.trace.columns


def test_aging_admits_starved_urls_earlier(spark):
    # under 2-token deferral the hot host's low-priority tail waits many
    # rounds; with aging its lag term grows every round, so at least one
    # URL is admitted in a strictly earlier round — and no URL is lost
    from geospatial_web_scraper_spark.entry_queries import (
        q_crawl_aging_trace,
        q_crawl_deferral_trace,
    )

    plain = {
        r["url"]: r["round"]
        for r in q_crawl_deferral_trace(spark, "x").collect()
    }
    aged = {
        r["url"]: r["round"]
        for r in q_crawl_aging_trace(spark, "x").collect()
    }
    shared = set(plain) & set(aged)
    assert shared, "traces share no URLs"
    earlier = sum(1 for u in shared if aged[u] < plain[u])
    assert earlier > 0, "aging never accelerated any deferred URL"


def test_seed_replay_on_aging_crawl_matches_uninterrupted(spark, tmp_path):
    # resume_with_seeds on an aging crawl: the stored frontier carries
    # _wait, injected seeds enter at 0, and a seed still pending from
    # round 0 (host0 holds two seeds, one token) keeps its larger _wait
    # over its replayed copy — so replaying the seed batch after one
    # committed round reproduces the uninterrupted 2-round trace
    from geospatial_web_scraper_spark.plans.store import SnapshotStore

    n = 300

    def engine(**kw):
        sched = PolitenessScheduler(default_tokens_per_round=1, age_boost=200)
        return CrawlEngine(spark, corpus.corpus_df(spark, n), max_crawl=None,
                           scheduler=sched, **kw)

    def trace(run):
        cols = ["seq", "url", "depth", "parent_url", "round"]
        return sorted(tuple(r) for r in run.trace.select(*cols).collect())

    seeds = corpus.seeds_df(spark, n)
    first = engine(store=SnapshotStore(spark, str(tmp_path)), max_rounds=1)
    assert first.resume_with_seeds(seeds).rounds == 1
    replay = engine(store=SnapshotStore(spark, str(tmp_path)), max_rounds=1)
    resumed = replay.resume_with_seeds(seeds)
    assert resumed.rounds == 1
    assert trace(resumed) == trace(engine(max_rounds=2).run(seeds))
