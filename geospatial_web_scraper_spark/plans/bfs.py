"""Round-synchronous BFS crawl engine — engine #1 re-expressed Spark-first.

The reference's racy channel loop (``internal/crawler/crawler.go:26-80``)
becomes a deterministic driver loop where each round is one DataFrame DAG
(SURVEY.md §3.3)::

    frontier_r
      → within-round first-wins dedup          (Window on url)        [F1]
      → left-anti join vs seen set (± bloom prefilter)                [J1]
      → global seq assignment (two-pass distributed rank)             [§8.2]
        (a round that admits no URL ends the crawl here)
      → budget cut                                                    [F10]
      → fetch = left join against the pages table                     [S1]
      → ONE fused Arrow pass over the fetched slice:
          geo-MIME → downloads sink; non-200 → leaf                   [F5/F7]
          links in document order, depth gate                         [X1/F4]
          texts (± offline feeds fold), per-partition summary  [X2/C10/K4]
      → next frontier; seen ∪ recorded; lineage rows                  [U1/K4]
      → (optional) snapshot commit → exact resume                     [K5]

Scale notes (the 1000-executor / 10^10-frontier design point):

* the only Python on the hot path is the Arrow-batched extraction UDF;
* no driver-side loops over rows — driver actions are per-round counts only;
* seq assignment avoids the single-reducer global window (functions.ordering);
* the seen set is the url column alone, and the anti-join can
  be preceded by a sharded Bloom prefilter (operators.seen) so that in the
  steady state — where most candidates are duplicates — the exact join only
  sees the bloom-positive slice;
* per-round state is localCheckpoint'ed (or written to the snapshot store)
  to truncate lineage growth across rounds;
* per-host politeness/priority dequeue plugs in between dedup and budget
  (operators.politeness), replacing FIFO order by (priority desc, url_hash).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..constants import GEO_MIME_TYPES, MAX_CRAWL_ENGINE1, MAX_DEPTH
from ..functions.ordering import with_global_seq
from ..functions.urls import url_host
from ..operators.extract import extract_round_outputs, feed_lookup
from .store import SnapshotStore

TRACE_SCHEMA = (
    "seq long, url string, depth int, parent_url string, round int, host string"
)
LINEAGE_SCHEMA = (
    "round int, partition_id int, urls_fetched long, bytes_fetched long, "
    "dedup_hits long, candidates long, recorded long"
)


def seed_frontier(seeds: DataFrame) -> DataFrame:
    """Depth-0 frontier rows of ``seeds`` (seed_order, url, …): entry order
    is seed_order (``crawler.go:37-43``), and ``parent_seq=-1`` sorts every
    seed ahead of the expansion rows (all ``parent_seq>=0``)."""
    return seeds.select(
        F.col("url"),
        F.lit(0).cast("int").alias("depth"),
        F.lit(None).cast("string").alias("parent_url"),
        F.lit(-1).cast("long").alias("parent_seq"),
        F.col("seed_order").cast("int").alias("pos"),
        F.lit(False).alias("is_geo"),
    )


@dataclass
class CrawlRun:
    trace: DataFrame  # seq,url,depth,parent_url,round,host — the golden trace
    downloads: DataFrame  # url [, body] — terminal geo-MIME fetches (F7/K1)
    texts: DataFrame | None  # url,title,text — byte-identical invariant surface
    lineage: DataFrame  # per round/partition metrics
    rounds: int
    recorded: int


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        *,
        max_depth: int = MAX_DEPTH,
        max_crawl: int | None = MAX_CRAWL_ENGINE1,
        collect_text: bool = False,
        lineage_detail: bool = True,
        store: SnapshotStore | None = None,
        seen_filter=None,  # operators.seen.ShardedBloomSeenFilter or None
        scheduler=None,  # operators.politeness.PolitenessScheduler or None (FIFO)
        max_rounds: int = 64,
        broadcast_fetch_limit: int = 1_000_000,
        feeds: DataFrame | None = None,  # offline xml_docs(url, xml) for C10
        download_bytes: bool = False,  # K1: carry fetched bodies into downloads
    ):
        self.spark = spark
        # column-prune the scan once; Catalyst pushes this into parquet/Iceberg
        self.pages = pages.select("url", "status", "content_type", "html")
        self.max_depth = max_depth
        self.max_crawl = max_crawl
        self.collect_text = collect_text
        self.lineage_detail = lineage_detail
        self.store = store
        self.seen_filter = seen_filter
        self.scheduler = scheduler
        self.max_rounds = max_rounds
        self.broadcast_fetch_limit = broadcast_fetch_limit
        if feeds is not None and not collect_text:
            # the C10 fold rides the text rows; without them it has no output
            raise ValueError("feeds requires collect_text=True")
        self.feeds = feeds
        self.download_bytes = download_bytes

    # ------------------------------------------------------------------ API
    def run(self, seeds: DataFrame) -> CrawlRun:
        """``seeds``: (seed_order int, url string, …). Depth-0 entry order is
        seed_order (``crawler.go:37-43``)."""
        frontier = seed_frontier(seeds)
        seen = self.spark.createDataFrame([], "url string")
        return self._loop(frontier, seen, start_round=0, recorded_total=0,
                          trace_parts=[], download_parts=[], text_parts=[],
                          lineage_rows=[])

    def run_with_seen(
        self,
        seeds: DataFrame,
        seen_urls: DataFrame,
        *,
        update_filter: bool = True,
    ) -> CrawlRun:
        """Recrawl entry: a fresh crawl of ``seeds`` that treats
        ``seen_urls`` (url) as already crawled — the flow a TTL/refresh
        scheduler runs after expiring stale entries from the URL-seen set:
        seeds = the expired URLs (re-fetch them), seen = the previous
        crawl's seen set MINUS the expired slice (still-fresh pages are
        never re-fetched, but links from refetched pages that lead to
        genuinely new URLs are crawled normally). Nothing else changes —
        the per-round J1 anti-join enforces the preloaded set exactly, and
        a ``seen_filter`` is rebuilt from it by default so prefilter
        routing stays false-negative-free (a URL in seen but missing from
        the filter would be routed down the definitely-new path and
        re-crawled). Pass ``update_filter=False`` when the caller already
        maintains the filter incrementally — the deletable cuckoo flow
        (operators.seen.ShardedCuckooSeenFilter: insert on crawl, delete
        on TTL expiry), where a rebuild would double-insert the surviving
        fingerprints and waste capacity."""
        frontier = seed_frontier(seeds)
        seen = seen_urls.select("url")
        if self.seen_filter is not None and update_filter:
            self.seen_filter.update(seen)
        return self._loop(frontier, seen, start_round=0, recorded_total=0,
                          trace_parts=[], download_parts=[], text_parts=[],
                          lineage_rows=[])

    def resume(self, extra_seeds: DataFrame | None = None) -> CrawlRun:
        """Restart from the last committed snapshot (exactly-once rounds).
        ``extra_seeds`` (seed_order, url, …) are unioned into the pending
        frontier at depth 0 — the continuous-crawl ingest path (see
        :meth:`resume_with_seeds`). Injected seeds carry ``parent_seq=-1``,
        which sorts ahead of every expansion row (all ``parent_seq>=0``
        after round 0), so the merged round order stays deterministic.
        On an aging crawl they enter with ``_wait`` 0; a replayed seed
        still pending from an earlier batch keeps its own, larger
        ``_wait`` (the round's first-wins dedup prefers it)."""
        if self.store is None:
            raise ValueError("resume requires a SnapshotStore")
        last = self.store.last_committed()
        if last < 0:
            raise ValueError("nothing committed yet")
        rounds_meta = self.store.manifest()["rounds"]
        frontier = self.store.read("frontier", last + 1)
        if extra_seeds is not None:
            # already-seen seeds are dropped by the round's J1 anti-join, so
            # a fully-replayed batch admits nothing and commits nothing
            seeds = seed_frontier(extra_seeds)
            if "_wait" in frontier.columns:
                seeds = seeds.withColumn("_wait", F.lit(0).cast("int"))
            frontier = frontier.unionByName(seeds)
        trace_parts = self.store.read_series("trace", last)
        # the seen set IS the union of recorded trace URLs (the merge in
        # _loop adds exactly recorded_df per round), so it is rebuilt from
        # the per-round trace snapshots instead of being stored: writing
        # the full seen table every round would be O(rounds × |seen|)
        # write amplification — a scale-killer at 10^10 URLs, where each
        # round's snapshot must stay proportional to the round, not the
        # crawl history
        seen = reduce(
            DataFrame.unionByName, [t.select("url") for t in trace_parts]
        )
        if self.seen_filter is not None:
            # the bloom's bits are in-memory state: rebuild from the seen
            # snapshot, else resumed rounds would route already-seen URLs
            # down the definitely-new path (false negatives)
            self.seen_filter.update(seen)
        # reconcile stored download snapshots with the CURRENT
        # download_bytes setting (review r3): a crawl checkpointed without
        # bodies and resumed with --download-bytes (or vice versa) would
        # otherwise crash the stitch-time unionByName on the missing/extra
        # `body` column. Old url-only rounds get body=NULL (honest: their
        # bytes were never captured); resuming without bytes drops stored
        # bodies so the run's declared schema holds.
        download_parts = [
            p.withColumn("body", F.lit(None).cast("binary"))
            if self.download_bytes and "body" not in p.columns
            else (
                p.select("url")
                if not self.download_bytes and "body" in p.columns
                else p
            )
            for p in self.store.read_series("downloads", last)
        ]
        text_parts = (
            self.store.read_series("texts", last) if self.collect_text else []
        )
        lineage_rows = [
            tuple(row)
            for r in range(last + 1)
            for row in rounds_meta[str(r)]["lineage"]
        ]
        return self._loop(
            frontier,
            seen,
            start_round=last + 1,
            recorded_total=int(rounds_meta[str(last)]["recorded_total"]),
            trace_parts=trace_parts,
            download_parts=download_parts,
            text_parts=text_parts,
            lineage_rows=lineage_rows,
        )

    def resume_with_seeds(self, seeds: DataFrame) -> CrawlRun:
        """Continuous-crawl entry: one call per arriving seed batch.
        First batch (empty store) = :meth:`run`; afterwards = resume with
        the new depth-0 seeds injected. Already-seen URLs among the new
        seeds are dropped by the normal J1 anti-join; the global budget
        (F10) and the seen set carry across batches. Driven per micro-batch
        by ``streaming/crawl_stream.py``."""
        if self.store is None:
            raise ValueError("resume_with_seeds requires a SnapshotStore")
        if self.store.last_committed() < 0:
            return self.run(seeds)
        return self.resume(extra_seeds=seeds)

    # ----------------------------------------------------------------- loop
    def _loop(
        self,
        frontier: DataFrame,
        seen: DataFrame,
        *,
        start_round: int,
        recorded_total: int,
        trace_parts: list[DataFrame],
        download_parts: list[DataFrame],
        text_parts: list[DataFrame],
        lineage_rows: list[tuple],
    ) -> CrawlRun:
        # priority aging (politeness.py age_boost): the scheduler scores
        # +boost·_wait, so the frontier carries a per-row deferral
        # counter — fresh candidates enter at 0, the scheduler's
        # deferred slice re-enters incremented. Threaded ONLY when the
        # scheduler ages: at boost 0 no _wait column exists anywhere and
        # the plan is bit-identical to the pre-aging engine.
        aging = bool(self.scheduler is not None and self.scheduler.age_boost)
        if aging and "_wait" not in frontier.columns:
            frontier = frontier.withColumn("_wait", F.lit(0).cast("int"))
        # F1 first-wins order; on an aging crawl a tie on (parent_seq, pos)
        # is a replayed seed against its still-pending copy, and the copy
        # that has waited longer wins, so a replay keeps its priority
        first_order = ["parent_seq", "pos"] + ([F.desc("_wait")] if aging else [])
        # C10: the feeds table is broadcast once per crawl, not per round
        feeds = feed_lookup(self.feeds) if self.feeds is not None else None
        rnd = start_round
        while rnd < start_round + self.max_rounds:
            if self.max_crawl is not None and recorded_total > self.max_crawl:
                break  # budget exhausted (crawler.go:52-55)

            n_candidates = frontier.count() if self.lineage_detail else -1

            # F1 within-round first-wins dedup, deterministic order
            w = Window.partitionBy("url").orderBy(*first_order)
            first = (
                frontier.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )

            # J1: candidates ∖ seen — bloom prefilter (when configured) routes
            # definitely-new rows around the exact anti-join
            if self.seen_filter is not None:
                definitely_new, maybe_seen = self.seen_filter.split(first)
                new = definitely_new.unionByName(
                    maybe_seen.join(seen, "url", "left_anti")
                )
            else:
                new = first.join(seen, "url", "left_anti")

            # scheduler hook: priority/politeness reorder-and-cap (M5);
            # default FIFO keeps (parent_seq, pos) total order (§8.2)
            if self.scheduler is not None:
                new = self.scheduler.apply(new, rnd)
                order_cols = self.scheduler.order_cols
            else:
                order_cols = ["parent_seq", "pos"]

            new_seq, n_new = with_global_seq(
                new, order_cols, seq_col="seq", start=recorded_total
            )
            # the one end of a crawl (crawler.go:49-75): a round that admits
            # nothing has no work left to fetch, expand or commit
            if n_new == 0:
                break

            # F10 budget: the reference records while pre-increment
            # count <= max_crawl, i.e. keeps 0-based seq <= max_crawl (the
            # budget check at the loop head keeps n_recorded >= 1)
            if self.max_crawl is not None:
                recorded_df = new_seq.filter(F.col("seq") <= F.lit(self.max_crawl))
                n_recorded = min(n_new, self.max_crawl + 1 - recorded_total)
            else:
                recorded_df = new_seq
                n_recorded = n_new

            recorded_df = recorded_df.withColumn("host", url_host(F.col("url")))
            # no materialization here: recorded_df sits on top of the
            # seq-assignment checkpoint; recomputing the partition-local
            # window is cheaper than another full copy of the round state
            recorded_total += n_recorded

            trace_r = recorded_df.select(
                "seq", "url", "depth", "parent_url",
                F.lit(rnd).cast("int").alias("round"), "host",
            )
            trace_parts.append(trace_r)

            # S1 fetch = join frontier slice against the pages corpus.
            # HTML bytes are the dominant data volume; the plan is chosen so
            # they are NEVER shuffled or persisted:
            #  * frontier-side broadcast (the round's recorded slice is small
            #    relative to the corpus) → BroadcastHashJoin streams the
            #    pages scan in place; the extraction UDF inherits the scan's
            #    partitioning, so no repartition of HTML either;
            #  * beyond broadcast_fetch_limit (huge rounds on a real
            #    cluster), fall back to the shuffle join + explicit re-fan
            #    of the parse stage (AQE coalesces by shuffle bytes and
            #    would otherwise serialize the Arrow UDF).
            # Fetch misses (frontier URLs absent from the corpus) are leaves:
            # already recorded in the trace, they produce no downloads/links,
            # so the inner broadcast join is semantically the left join.
            rec_small = recorded_df.select("url", "seq", "depth")
            if n_recorded <= self.broadcast_fetch_limit:
                fetched = self.pages.join(F.broadcast(rec_small), "url", "inner")
            else:
                par = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
                fetched = rec_small.join(self.pages, "url", "inner").repartition(par)

            # fused round pass: the round's ONE scan of the fetched slice
            # classifies downloads (F7), extracts links (X1, depth-gated)
            # and texts (X2, ± the C10 feeds fold) and sums each
            # partition's pages and bytes for the lineage. The single
            # localCheckpoint materializes only the small output rows
            # (never HTML) and truncates cross-round plan growth.
            round_out = extract_round_outputs(
                fetched, GEO_MIME_TYPES, self.max_depth,
                collect_text=self.collect_text,
                carry_download_bytes=self.download_bytes,
                feeds=feeds,
            ).localCheckpoint(eager=True)
            dl_cols = ["url", "body"] if self.download_bytes else ["url"]
            downloads_r = round_out.filter(F.col("kind") == 0).select(*dl_cols)
            download_parts.append(downloads_r)
            if self.collect_text:
                text_parts.append(
                    round_out.filter(F.col("kind") == 2)
                    .select("url", "title", "text")
                )

            flat = round_out.filter(F.col("kind") == 1)
            next_frontier = flat.select(
                F.col("link_url").alias("url"),
                (F.col("depth") + 1).cast("int").alias("depth"),
                F.col("url").alias("parent_url"),
                F.col("seq").alias("parent_seq"),
                F.col("link_pos").alias("pos"),
                F.col("link_is_geo").alias("is_geo"),
            )
            if aging:
                next_frontier = next_frontier.withColumn(
                    "_wait", F.lit(0).cast("int")
                )
            # politeness deferral: every row the scheduler did not admit
            # re-enters the frontier. It is a filter of the scheduler's
            # cached ranking; the checkpoint truncates plan growth across
            # rounds before the next apply releases that cache
            if self.scheduler is not None and self.scheduler.deferred is not None:
                next_frontier = next_frontier.unionByName(
                    self.scheduler.deferred.select(*next_frontier.columns)
                ).localCheckpoint(eager=True)

            # lineage (north rule): per-partition fetch metrics + round totals
            if self.lineage_detail:
                # candidates the round did not admit: within-round
                # duplicates, already-seen URLs and rows the scheduler
                # deferred or dropped
                dedup_hits = n_candidates - n_new
                # per-partition rows: the fused pass's kind=3 summaries,
                # read off the checkpointed round output in partition order
                part_rows = [
                    (rnd, r[0], r[1], r[2], 0, -1, -1)
                    for r in round_out.filter(F.col("kind") == 3)
                    .select("partition_id", "urls_fetched", "bytes_fetched")
                    .collect()
                ]
                lineage_rows.extend(part_rows)
                lineage_rows.append(
                    (rnd, -1, n_recorded, -1, dedup_hits, n_candidates, n_recorded)
                )
            else:
                lineage_rows.append((rnd, -1, n_recorded, -1, -1, -1, n_recorded))

            # U1/A5 seen merge — lazy checkpoint: the merged seen set is
            # first USED by the next round's anti-join (or the snapshot
            # write), so materializing it there instead of as a standalone
            # barrier removes one serial job per round; on the final round
            # it never materializes at all. Still a checkpoint, so lineage
            # does not grow across rounds.
            seen = seen.unionByName(recorded_df.select("url")).localCheckpoint(
                eager=False
            )
            if self.seen_filter is not None:
                self.seen_filter.update(recorded_df.select("url"))

            # K5 snapshot commit (exact resume boundary)
            if self.store is not None:
                self.store.write("trace", trace_r, rnd)
                self.store.write("downloads", downloads_r, rnd)
                if self.collect_text:
                    self.store.write("texts", text_parts[-1], rnd)
                # no "seen" snapshot: resume() rebuilds it from the trace
                # deltas — every snapshot stays O(round), not O(history)
                self.store.write("frontier", next_frontier, rnd + 1)
                self.store.commit(
                    rnd,
                    {
                        "recorded_total": recorded_total,
                        "lineage": [list(t) for t in lineage_rows if t[0] == rnd],
                    },
                )

            frontier = next_frontier
            rnd += 1

        # the prefilter's probe cache and the scheduler's ranking cache are
        # single-round by construction (each round releases the previous);
        # release the final round's too — everything downstream of them was
        # materialized by that round's eager checkpoint
        if self.seen_filter is not None:
            self.seen_filter.release()
        if self.scheduler is not None:
            self.scheduler.release()
        if feeds is not None:
            feeds.destroy()

        spark = self.spark
        empty_trace = spark.createDataFrame([], TRACE_SCHEMA)
        trace = reduce(DataFrame.unionByName, trace_parts, empty_trace)
        dl_schema = (
            "url string, body binary" if self.download_bytes else "url string"
        )
        downloads = reduce(
            DataFrame.unionByName,
            download_parts,
            spark.createDataFrame([], dl_schema),
        )
        texts = (
            reduce(
                DataFrame.unionByName,
                text_parts,
                spark.createDataFrame([], "url string, title string, text string"),
            )
            if self.collect_text
            else None
        )
        lineage = spark.createDataFrame(lineage_rows, LINEAGE_SCHEMA)
        return CrawlRun(
            trace=trace,
            downloads=downloads,
            texts=texts,
            lineage=lineage,
            rounds=rnd - start_round,
            recorded=recorded_total,
        )
