"""Seeded inputs, engine drivers and oracle checks for the crawl benchmark.

Every workload is built from the formula corpus (``corpus.corpus_df`` for
the engine's pages table, ``corpus.pages_dict`` for the oracle). ``generate(name, seed)``
is pure Python and deterministic per seed; the engine only ever sees the
DataFrames built from its result.

* ``wide_round``    one FIFO round over heavy pages: parse-bound, with no
  scheduler, no seen filter and no snapshot store;
* ``polite_resume`` a priority crawl of light pages through the politeness
  scheduler and the sharded bloom seen filter, committing every round to a
  parquet ``SnapshotStore``: round 0 is crawled once into a base store,
  then each iteration's fresh engine ingests a replayed seed batch through
  ``resume_with_seeds`` (the path ``streaming/crawl_stream.py`` drives),
  which resumes from a copy of that store and commits round 1.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

from geospatial_web_scraper_spark import corpus
from geospatial_web_scraper_spark.oracle import crawl_oracle
from geospatial_web_scraper_spark.operators.politeness import PolitenessScheduler
from geospatial_web_scraper_spark.operators.seen import ShardedBloomSeenFilter
from geospatial_web_scraper_spark.plans.bfs import CrawlEngine
from geospatial_web_scraper_spark.plans.store import SnapshotStore

WORKLOADS = ("wide_round", "polite_resume")

WIDE_PAGES = 2400
WIDE_FILLER = 40  # ~14 KB per page, all of it boilerplate-gated
POLITE_PAGES = 3000
POLITE_SEEDS = 600  # enough to fill every host's budget in round 0
POLITE_BUDGETS = (12, 18, 24, 30, 36)  # tokens per round of five hosts
POLITE_REPLAY = 100  # replayed seeds in the second batch
POLITE_DEFAULT_TOKENS = 24
POLITE_SALTS = 4

HOSTS = [f"host{h}.example.org" for h in range(corpus.N_HOSTS)]
# narrow prefixes (each /page/<d> covers about 4% of the ids), so every
# host keeps more pending URLs than its budget and each round admits the
# same number of URLs whatever the seed
ROBOTS_PREFIXES = ("/data/", "/page/3", "/page/5", "/page/7", "/page/9")


@dataclass(frozen=True)
class Inputs:
    """Everything a workload's engine and oracle are built from."""

    workload: str
    n_pages: int
    filler_paras: int
    seeds: tuple[int, ...]  # page ids in seed order
    replay: tuple[int, ...] = ()  # polite_resume: the second batch
    robots: tuple[tuple[str, tuple[str, ...]], ...] = ()
    budgets: tuple[tuple[str, int], ...] = ()


def generate(workload: str, seed: int) -> Inputs:
    rng = random.Random(f"{workload}:{seed}")
    if workload == "wide_round":
        ids = [i for i in range(WIDE_PAGES) if i % 3 != 0]
        rng.shuffle(ids)
        return Inputs(workload, WIDE_PAGES, WIDE_FILLER,
                      tuple(ids[: len(ids) * 19 // 20]))
    if workload == "polite_resume":
        seeds = rng.sample(range(POLITE_PAGES), POLITE_SEEDS)
        robots = tuple(
            (host, tuple(sorted(rng.sample(ROBOTS_PREFIXES, 2))))
            for host in sorted(rng.sample(HOSTS, 3))
        )
        # a seeded assignment of fixed budgets, so every seed admits about
        # the same number of URLs per round; host0 (~30% of the pages)
        # always gets a finite budget, so the hot host defers every round
        hosts = [HOSTS[0]] + rng.sample(HOSTS[1:], len(POLITE_BUDGETS) - 1)
        budgets = tuple(sorted(zip(hosts, rng.sample(POLITE_BUDGETS,
                                                     len(POLITE_BUDGETS)))))
        return Inputs(workload, POLITE_PAGES, 0, tuple(seeds),
                      replay=tuple(rng.sample(seeds, POLITE_REPLAY)),
                      robots=robots, budgets=budgets)
    raise ValueError(f"unknown workload {workload!r}")


def seeds_frame(spark, ids):
    return spark.createDataFrame(
        [(k, corpus.url_of(i)) for k, i in enumerate(ids)],
        "seed_order int, url string",
    )


def scheduler_config(inp: Inputs) -> dict:
    """The oracle-side mirror of the workload's PolitenessScheduler."""
    return dict(
        default_tokens=POLITE_DEFAULT_TOKENS,
        n_salts=POLITE_SALTS,
        host_budgets=dict(inp.budgets),
        robots={h: list(p) for h, p in inp.robots},
    )


# --------------------------------------------------------------------- oracle
@dataclass
class Expected:
    trace: list[tuple]  # (seq, url, depth, parent_url, round), seq order
    downloads: list[str]  # sorted
    texts: dict[str, str] | None = None


def expected(inp: Inputs) -> Expected:
    """Oracle outputs for ``inp``; computed once per (workload, seed),
    outside every timed region."""
    pages = corpus.pages_dict(inp.n_pages)
    urls = [corpus.url_of(i) for i in inp.seeds]
    if inp.workload == "wide_round":
        # the filler blocks are boilerplate-gated, so links and texts of the
        # light pages equal those of the heavy pages the engine parses
        res = crawl_oracle(pages, urls, max_crawl=None, max_rounds=1)
        return Expected(res.trace, sorted(res.downloads), texts=res.texts)
    # every replayed seed is already seen or already pending, so the
    # stop/resume/ingest sequence must reproduce the uninterrupted crawl
    res = crawl_oracle(pages, urls, max_crawl=None,
                       scheduler=scheduler_config(inp), max_rounds=2)
    return Expected(res.trace, sorted(res.downloads))


def check(out: "Outcome", want: Expected) -> list[str]:
    """Compare one iteration's outputs with the oracle; returns the list of
    mismatches (empty = correct)."""
    errors = []
    if out.trace != want.trace:
        errors.append("trace differs from the oracle")
    if out.downloads != want.downloads:
        errors.append("downloads differ from the oracle")
    if want.texts is not None and out.texts != want.texts:
        errors.append("texts differ from the oracle")
    return errors


# --------------------------------------------------------------------- engine
@dataclass
class Components:
    """The pluggable engine parts; the traced run swaps in subclasses."""

    store: type = SnapshotStore
    seen_filter: type = ShardedBloomSeenFilter
    scheduler: type = PolitenessScheduler


@dataclass
class Phase:
    name: str  # run | ingest
    start: float
    end: float


@dataclass
class Outcome:
    recorded: int  # URLs recorded by the timed engine call
    wall_s: float  # crawl wall time of the timed engine call
    phases: list[Phase]
    run: object  # the timed call's plans.bfs.CrawlRun
    trace: list[tuple] = field(default_factory=list)
    downloads: list[str] = field(default_factory=list)
    texts: dict[str, str] | None = None
    lineage: list[tuple] = field(default_factory=list)
    resume_s: float | None = None  # engine call to its first seq assignment
    ingest_s: float | None = None
    engine_parts: dict = field(default_factory=dict)
    store_files: int = 0
    store_bytes: int = 0


class Workload:
    """Holds one (workload, seed)'s generated DataFrames and runs the
    crawl on them; ``run_once`` is one timed iteration.

    ``polite_resume`` crawls round 0 into a base snapshot store once, as
    part of set-up; every iteration resumes a fresh engine from a copy of
    that store and ingests the replayed batch, so each timed iteration is
    one resumed round that reads, splits, schedules and commits."""

    def __init__(self, spark, inp: Inputs, pages, work_dir: str):
        self.spark = spark
        self.inp = inp
        self.pages = pages
        self.work_dir = work_dir
        self.seeds = seeds_frame(spark, inp.seeds).localCheckpoint()
        self._n = 0
        if inp.workload == "polite_resume":
            self.replay = seeds_frame(spark, inp.replay).localCheckpoint()
            self.robots = spark.createDataFrame(
                [(h, list(p)) for h, p in inp.robots],
                "host string, disallow_prefixes array<string>",
            ).localCheckpoint()
            self.budgets = spark.createDataFrame(
                list(inp.budgets), "host string, tokens_per_round int"
            ).localCheckpoint()
            base = SnapshotStore(spark, os.path.join(work_dir, "store-base"))
            self._polite_engine(base, Components()).run(self.seeds)
            self.base_store = base.base_dir
            self.base_recorded = base.manifest()["rounds"]["0"]["recorded_total"]

    def _polite_engine(self, store, parts: Components) -> CrawlEngine:
        # a fresh engine, filter and scheduler per call, as after a
        # restart: resume rebuilds the bloom bits from the store
        return CrawlEngine(
            self.spark, self.pages, max_crawl=None, lineage_detail=True,
            store=store, max_rounds=1,
            seen_filter=parts.seen_filter(self.spark, n_shards=4,
                                          bits_per_shard=1 << 16),
            scheduler=parts.scheduler(
                robots=self.robots, host_budget=self.budgets,
                default_tokens_per_round=POLITE_DEFAULT_TOKENS,
                n_salts=POLITE_SALTS,
            ),
        )

    def run_once(self, parts: Components) -> Outcome:
        """One timed iteration; its wall time covers the engine call only,
        not copying the base store or collecting the outputs for the
        oracle check."""
        if self.inp.workload == "wide_round":
            eng = CrawlEngine(self.spark, self.pages, max_crawl=None,
                              collect_text=True, lineage_detail=False,
                              max_rounds=1)
            t0 = time.perf_counter()
            run = eng.run(self.seeds)
            t1 = time.perf_counter()
            return Outcome(run.recorded, t1 - t0, [Phase("run", t0, t1)], run)

        self._n += 1
        path = os.path.join(self.work_dir, f"store-{self._n}")
        shutil.copytree(self.base_store, path)
        eng = self._polite_engine(parts.store(self.spark, path), parts)
        t0 = time.perf_counter()
        run = eng.resume_with_seeds(self.replay)
        t1 = time.perf_counter()
        return Outcome(run.recorded - self.base_recorded, t1 - t0,
                       [Phase("ingest", t0, t1)], run, ingest_s=t1 - t0,
                       engine_parts={"store": eng.store,
                                     "seen_filter": eng.seen_filter})

    def finish(self, out: Outcome, lineage: bool = False) -> None:
        """Collect the outputs the oracle check needs (outside the timed
        region) and drop the iteration's snapshot store."""
        run = out.run
        out.trace = sorted(
            tuple(r) for r in
            run.trace.select("seq", "url", "depth", "parent_url", "round")
            .collect()
        )
        out.downloads = sorted(r["url"] for r in run.downloads.collect())
        if lineage:
            out.lineage = [tuple(r) for r in run.lineage.collect()]
        if run.texts is not None:
            out.texts = {r["url"]: r["text"] for r in run.texts.collect()}
        store = out.engine_parts.get("store")
        if store is not None:
            for d, _, files in os.walk(store.base_dir):
                out.store_files += len(files)
                out.store_bytes += sum(
                    os.path.getsize(os.path.join(d, f)) for f in files)
            shutil.rmtree(store.base_dir, ignore_errors=True)


def pages_table(spark, inp: Inputs, partitions: int):
    """The workload's pages table from ``corpus.corpus_df`` in
    ``partitions`` partitions (one scan task per slot), cached in memory
    once per process, as part of set-up."""
    pages = corpus.corpus_df(
        spark, inp.n_pages, partitions=partitions,
        filler_paras=inp.filler_paras,
    ).select("url", "status", "content_type", "html").cache()
    pages.count()
    return pages
