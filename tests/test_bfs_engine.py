"""Engine-vs-oracle golden-trace parity (the correctness bar of the north
rule: exact crawl ordering + URL-seen set + byte-identical text per url)."""

import pytest

from geospatial_web_scraper_spark import corpus
from geospatial_web_scraper_spark.operators.politeness import PolitenessScheduler
from geospatial_web_scraper_spark.operators.seen import ShardedBloomSeenFilter
from geospatial_web_scraper_spark.oracle import crawl_oracle
from geospatial_web_scraper_spark.plans.bfs import CrawlEngine
from geospatial_web_scraper_spark.plans.store import SnapshotStore

N = 120


@pytest.fixture(scope="module")
def oracle_run():
    pages = corpus.pages_dict(N)
    seeds = [corpus.url_of(i) for i in corpus.seed_ids(N)]
    return crawl_oracle(pages, seeds, max_crawl=400)


@pytest.fixture(scope="module")
def engine_run(spark):
    eng = CrawlEngine(
        spark,
        corpus.corpus_df(spark, N),
        max_crawl=400,
        collect_text=True,
    )
    return eng.run(corpus.seeds_df(spark, N))


def _trace_rows(df):
    return [
        (r["seq"], r["url"], r["depth"], r["parent_url"], r["round"])
        for r in df.orderBy("seq").collect()
    ]


def test_exact_trace_parity(engine_run, oracle_run):
    assert _trace_rows(engine_run.trace) == oracle_run.trace


def test_seen_set_parity(engine_run, oracle_run):
    got = {r["url"] for r in engine_run.trace.collect()}
    assert got == set(oracle_run.seen)


def test_downloads_parity(engine_run, oracle_run):
    got = sorted(r["url"] for r in engine_run.downloads.collect())
    assert got == sorted(oracle_run.downloads)


def test_download_bytes_equal_page_bodies(spark, oracle_run):
    """K1 with download_bytes=True: the downloads branch carries the fetched
    body, and the written bytes equal the corpus page body for every
    geo-MIME (zip-formula) row (reference crawler.go:194-229 io.Copy)."""
    eng = CrawlEngine(
        spark, corpus.corpus_df(spark, N), max_crawl=400, download_bytes=True
    )
    run = eng.run(corpus.seeds_df(spark, N))
    got = {r["url"]: bytes(r["body"]) for r in run.downloads.collect()}
    assert sorted(got) == sorted(oracle_run.downloads)
    pages = corpus.pages_dict(N)
    assert len(got) > 0
    for url, body in got.items():
        assert body == pages[url]["html"].encode("utf-8"), url


def test_byte_identical_text(engine_run, oracle_run):
    got = {r["url"]: r["text"] for r in engine_run.texts.collect()}
    assert got == oracle_run.texts
    # and the corpus golden text column agrees (three-way check)
    for url, text in got.items():
        i = int(url.rsplit("/", 1)[-1].removesuffix(".html"))
        assert text == corpus.text_of(i)


def test_crawl_texts_with_feeds_fold(spark):
    """CrawlEngine(feeds=…): the collect_text path runs the full
    ExtractMetadata INCLUDING the offline RSS harvest (reference parity —
    the fetch happens during the crawl). Every collected text must equal the
    kernel's fold of the same page against the same feed corpus."""
    from geospatial_web_scraper_spark.kernel import extract_metadata_with_feeds

    eng = CrawlEngine(
        spark,
        corpus.corpus_df(spark, N),
        max_crawl=400,
        collect_text=True,
        feeds=corpus.xml_docs_df(spark),
    )
    run = eng.run(corpus.seeds_df(spark, N))
    lookup = corpus.xml_docs_dict()
    got = {r["url"]: (r["title"], r["text"]) for r in run.texts.collect()}
    assert got
    pages = corpus.pages_dict(N)
    folded = 0
    for url, (title, text) in got.items():
        md = extract_metadata_with_feeds(pages[url]["html"], url, lookup.get)
        assert (title, text) == (md["title"], md["description"]), url
        if "Feed host" in title:
            folded += 1
    # the corpus guarantees both branches appear among crawled xml pages
    assert folded > 0
    assert folded < len(got)


def test_feeds_without_text_rejected(spark):
    """The feeds fold only rides the text rows: asking for feeds without
    collect_text fails at construction instead of dropping the table."""
    with pytest.raises(ValueError, match="collect_text"):
        CrawlEngine(
            spark,
            corpus.corpus_df(spark, N),
            collect_text=False,
            feeds=corpus.xml_docs_df(spark),
        )


def test_budget_cut_exact(spark, oracle_run):
    """Budget B records exactly the first B+1 of the unbudgeted total order."""
    budget = 30
    eng = CrawlEngine(spark, corpus.corpus_df(spark, N), max_crawl=budget)
    run = eng.run(corpus.seeds_df(spark, N))
    pages = corpus.pages_dict(N)
    seeds = [corpus.url_of(i) for i in corpus.seed_ids(N)]
    oracle_capped = crawl_oracle(pages, seeds, max_crawl=budget)
    assert _trace_rows(run.trace) == oracle_capped.trace
    assert run.recorded == budget + 1


def test_lineage_partition_rows(engine_run):
    rows = engine_run.lineage.collect()
    per_round = [r for r in rows if r["partition_id"] == -1]
    assert [r["round"] for r in sorted(per_round, key=lambda r: r["round"])] == list(
        range(engine_run.rounds)
    )
    # per-partition fetch rows exist and bytes are positive where pages matched
    part = [r for r in rows if r["partition_id"] >= 0]
    assert part and any(r["bytes_fetched"] > 0 for r in part)


def test_checkpoint_resume_equivalence(spark, tmp_path_factory, oracle_run):
    """Run 2 rounds with a store, then resume in a fresh engine: the final
    trace must equal an uninterrupted run (north rule: exact resume)."""
    base = str(tmp_path_factory.mktemp("snap"))
    store = SnapshotStore(spark, base)
    eng = CrawlEngine(
        spark, corpus.corpus_df(spark, N), max_crawl=400, store=store, max_rounds=2
    )
    partial = eng.run(corpus.seeds_df(spark, N))
    assert partial.rounds == 2
    assert store.last_committed() == 1

    eng2 = CrawlEngine(
        spark, corpus.corpus_df(spark, N), max_crawl=400, store=store
    )
    resumed = eng2.resume()
    assert _trace_rows(resumed.trace) == oracle_run.trace


def test_compacted_store_resume_equivalence(spark, tmp_path_factory, oracle_run):
    """compact() merges per-round snapshots into one base; a resume from
    the compacted store must be byte-identical to an uncompacted resume
    (= the uninterrupted oracle trace), and the per-round directories it
    superseded must be gone (bounded restart cost on long crawls)."""
    import os

    base = str(tmp_path_factory.mktemp("snapc"))
    store = SnapshotStore(spark, base)
    eng = CrawlEngine(
        spark, corpus.corpus_df(spark, N), max_crawl=400, store=store,
        max_rounds=3, collect_text=True,
    )
    eng.run(corpus.seeds_df(spark, N))
    assert store.last_committed() == 2
    store.compact()
    assert store.compacted_upto() == 2
    # superseded round dirs removed; exactly one base per series remains
    assert sorted(os.listdir(os.path.join(base, "trace"))) == ["base=2"]
    assert not store.exists("trace", 0)

    eng2 = CrawlEngine(
        spark, corpus.corpus_df(spark, N), max_crawl=400,
        store=SnapshotStore(spark, base), collect_text=True,
    )
    resumed = eng2.resume()
    assert _trace_rows(resumed.trace) == oracle_run.trace
    assert {r["url"]: r["text"] for r in resumed.texts.collect()} == oracle_run.texts

    # compacting again after more committed rounds folds the old base + tail
    store2 = SnapshotStore(spark, base)
    assert store2.last_committed() > 2
    store2.compact()
    assert sorted(os.listdir(os.path.join(base, "trace"))) == [
        f"base={store2.last_committed()}"
    ]
    restitched = CrawlEngine(
        spark, corpus.corpus_df(spark, N), max_crawl=400,
        store=SnapshotStore(spark, base),
    )
    # drained crawl: resume returns the stitched history unchanged
    assert _trace_rows(restitched.resume().trace) == oracle_run.trace


def test_shuffle_fetch_fallback_trace_identical(spark, engine_run):
    """broadcast_fetch_limit=0 forces the shuffle-join fetch path (the
    huge-round fallback on a real cluster); the trace must be identical to
    the broadcast path's."""
    eng = CrawlEngine(
        spark,
        corpus.corpus_df(spark, N),
        max_crawl=400,
        broadcast_fetch_limit=0,
    )
    run = eng.run(corpus.seeds_df(spark, N))
    cols = ["seq", "url", "depth", "parent_url", "round"]
    got = sorted(tuple(r[c] for c in cols) for r in run.trace.collect())
    want = sorted(
        tuple(r[c] for c in cols) for r in engine_run.trace.select(*cols).collect()
    )
    assert got == want


def test_resume_with_toggled_download_bytes(spark, tmp_path_factory, oracle_run):
    """Review r3: a crawl checkpointed WITHOUT bodies then resumed with
    download_bytes=True (and the reverse) must stitch instead of crashing
    on the missing/extra `body` column. Old url-only rounds surface
    body=NULL (their bytes were never captured); rounds crawled after the
    toggle carry real bytes; resuming without bytes drops stored bodies."""
    pages = corpus.pages_dict(N)

    # url-only checkpoint -> resume WITH bytes
    store = SnapshotStore(spark, str(tmp_path_factory.mktemp("snap_dlb")))
    eng = CrawlEngine(
        spark, corpus.corpus_df(spark, N), max_crawl=400,
        store=store, max_rounds=2,
    )
    eng.run(corpus.seeds_df(spark, N))
    eng2 = CrawlEngine(
        spark, corpus.corpus_df(spark, N), max_crawl=400,
        store=store, download_bytes=True,
    )
    run = eng2.resume()
    assert run.downloads.columns == ["url", "body"]
    rows = {r["url"]: r["body"] for r in run.downloads.collect()}
    assert sorted(rows) == sorted(oracle_run.downloads)
    for url, body in rows.items():
        if body is not None:  # post-toggle rounds carry the true bytes
            assert bytes(body) == pages[url]["html"].encode("utf-8"), url

    # bytes checkpoint -> resume WITHOUT bytes
    store2 = SnapshotStore(spark, str(tmp_path_factory.mktemp("snap_dlb2")))
    eng3 = CrawlEngine(
        spark, corpus.corpus_df(spark, N), max_crawl=400,
        store=store2, max_rounds=2, download_bytes=True,
    )
    eng3.run(corpus.seeds_df(spark, N))
    eng4 = CrawlEngine(
        spark, corpus.corpus_df(spark, N), max_crawl=400, store=store2,
    )
    run2 = eng4.resume()
    assert run2.downloads.columns == ["url"]
    assert sorted(r["url"] for r in run2.downloads.collect()) == sorted(
        oracle_run.downloads
    )


@pytest.fixture(scope="module")
def unbudgeted_runs(spark, tmp_path_factory):
    """The N=120 FIFO crawl to exhaustion (no budget), committed to a
    snapshot store, once with lineage_detail on and once off; each crawl
    runs in its own job group, and ``runs["jobs"]`` holds the job counts."""
    sc = spark.sparkContext
    runs = {"jobs": {}}
    for detail in (True, False):
        store = SnapshotStore(spark, str(tmp_path_factory.mktemp("unbudgeted")))
        group = f"unbudgeted-lineage-{detail}"
        sc.setJobGroup(group, "unbudgeted crawl")
        try:
            run = CrawlEngine(
                spark, corpus.corpus_df(spark, N), max_crawl=None,
                lineage_detail=detail, store=store,
            ).run(corpus.seeds_df(spark, N))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the status tracker is fed by the listener bus; drain it first
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        runs["jobs"][detail] = len(sc.statusTracker().getJobIdsForGroup(group))
        runs[detail] = (run, store)
    return runs


def test_lineage_costs_no_job(unbudgeted_runs):
    """Lineage rides passes the round already runs: the candidates count
    and the per-partition rows are observed, not counted or collected."""
    jobs = unbudgeted_runs["jobs"]
    assert jobs[True] == jobs[False] > 0, jobs


def test_lineage_modes_end_the_crawl_alike(spark, unbudgeted_runs):
    """A crawl ends the same way whatever lineage_detail is: at the first
    round that admits no URL, which is neither fetched nor committed. A
    fully replayed seed batch onto the drained store commits nothing."""
    pages = corpus.pages_dict(N)
    seeds = [corpus.url_of(i) for i in corpus.seed_ids(N)]
    want = crawl_oracle(pages, seeds, max_crawl=None)
    (on, store_on), (off, store_off) = unbudgeted_runs[True], unbudgeted_runs[False]

    assert _trace_rows(on.trace) == _trace_rows(off.trace) == want.trace
    assert on.rounds == off.rounds == len(want.lineage)
    lineage_rounds = [
        sorted({r["round"] for r in run.lineage.collect()}) for run in (on, off)
    ]
    assert lineage_rounds[0] == lineage_rounds[1] == list(range(on.rounds))
    assert store_on.last_committed() == store_off.last_committed() == on.rounds - 1

    last = store_on.last_committed()
    replay = CrawlEngine(
        spark, corpus.corpus_df(spark, N), max_crawl=None,
        store=SnapshotStore(spark, store_on.base_dir),
    ).resume_with_seeds(corpus.seeds_df(spark, N))
    assert replay.rounds == 0
    assert store_on.last_committed() == last
    assert _trace_rows(replay.trace) == want.trace


def test_lineage_round_rows_pinned(spark, unbudgeted_runs):
    """Per-round (candidates, dedup_hits, recorded) of the unbudgeted N=120
    crawl: dedup_hits counts within-round duplicates plus already-seen
    URLs, as the oracle's lineage does. The same rows are pinned on a bloom
    + scheduler crawl, where the candidates count is observed inside the
    bloom split's persisted probe and deferred rows re-enter the frontier."""
    run, _ = unbudgeted_runs[True]
    rows = sorted(
        (r["round"], r["candidates"], r["dedup_hits"], r["recorded"])
        for r in run.lineage.where("partition_id = -1").collect()
    )
    assert [r[1:] for r in rows] == [
        (6, 0, 6), (26, 3, 23), (83, 33, 50), (152, 91, 61)
    ]
    pages = corpus.pages_dict(N)
    seeds = [corpus.url_of(i) for i in corpus.seed_ids(N)]
    want = crawl_oracle(pages, seeds, max_crawl=None).lineage
    assert rows == [(rnd, c, d, rec) for rnd, c, rec, d in want]

    run = CrawlEngine(
        spark, corpus.corpus_df(spark, N), max_crawl=None,
        seen_filter=ShardedBloomSeenFilter(spark, n_shards=4,
                                           bits_per_shard=1 << 16),
        scheduler=PolitenessScheduler(default_tokens_per_round=5, n_salts=4),
    ).run(corpus.seeds_df(spark, N))
    rows = sorted(
        (r["round"], r["candidates"], r["dedup_hits"], r["recorded"])
        for r in run.lineage.where("partition_id = -1").collect()
    )
    assert [r[1:] for r in rows] == [
        (6, 0, 6), (26, 5, 21), (77, 40, 37), (126, 87, 39), (49, 35, 14),
        (33, 26, 7), (23, 18, 5), (11, 6, 5), (6, 1, 5), (1, 0, 1),
    ]


def test_lineage_partition_rows_sum_to_fetched_pages(unbudgeted_runs):
    """Per-partition rows of the unbudgeted N=120 crawl: in every round the
    partitions account for exactly the trace URLs the pages table holds
    (all statuses) and their html bytes, each partition once, and the
    commit manifest lists them by ascending partition_id. The lineage-off
    crawl writes no per-partition rows."""
    pages = corpus.pages_dict(N)
    run, store = unbudgeted_runs[True]
    manifest = store.manifest()["rounds"]
    trace = run.trace.select("round", "url").collect()
    part = run.lineage.where("partition_id >= 0").collect()
    assert part
    for rnd in range(run.rounds):
        fetched = [
            pages[r["url"]] for r in trace
            if r["round"] == rnd and r["url"] in pages
        ]
        rows = [r for r in part if r["round"] == rnd]
        assert sum(r["urls_fetched"] for r in rows) == len(fetched), rnd
        assert sum(r["bytes_fetched"] for r in rows) == sum(
            len(p["html"].encode("utf-8")) for p in fetched
        ), rnd
        pids = [r["partition_id"] for r in rows]
        assert len(pids) == len(set(pids)), rnd
        listed = [t[1] for t in manifest[str(rnd)]["lineage"] if t[1] >= 0]
        assert listed == sorted(pids), rnd
    off, _ = unbudgeted_runs[False]
    assert off.lineage.where("partition_id >= 0").count() == 0
