#!/usr/bin/env python
"""Cluster entry point — run the crawl via spark-submit.

Package the engine and submit::

    python scripts/package.py                       # → dist/gwss.zip
    spark-submit --py-files dist/gwss.zip scripts/crawl.py \
        --pages  s3://bucket/pages_iceberg_or_parquet \
        --seeds  s3://bucket/seeds.parquet \
        --output s3://bucket/crawl_out \
        --budget 400 --max-depth 4 \
        --checkpoint-dir s3://bucket/crawl_ckpt \
        --scheduler priority --default-tokens 40 --n-salts 8 \
        [--robots s3://bucket/robots.parquet] [--resume] [--collect-text] \
        [--synthetic-pages N]        # generate the arithmetic corpus instead

On a cluster the SparkSession comes from spark-submit's conf (master,
executors, memory); locally this falls back to local[*]. Outputs: trace/,
downloads/, lineage/ (+ texts/ with --collect-text; + warc/ and
warc_index/ with --export-warc) under --output.
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser(description="BFS crawl over a pages table")
    ap.add_argument("--pages", help="pages table path (parquet/iceberg)")
    ap.add_argument("--pages-warc",
                    help="directory of .warc/.warc.gz archives to use as "
                         "the pages table (Common-Crawl-style captures)")
    ap.add_argument("--synthetic-pages", type=int, default=0,
                    help="generate the deterministic corpus with N pages")
    ap.add_argument("--seeds", help="seeds parquet (seed_order, url, description)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--budget", type=int, default=400)
    ap.add_argument("--max-depth", type=int, default=4)
    ap.add_argument("--max-rounds", type=int, default=64)
    ap.add_argument("--checkpoint-dir")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--compact", action="store_true",
                    help="after the crawl, fold per-round snapshots into "
                         "one base (O(1) restart cost on long crawls)")
    ap.add_argument("--collect-text", action="store_true")
    ap.add_argument("--export-warc", action="store_true",
                    help="archive the fetched pages as gzip-member WARCs "
                    "under <output>/warc plus the (url, path, offset, "
                    "n_bytes) CDX index under <output>/warc_index")
    ap.add_argument("--download-bytes", action="store_true",
                    help="materialize fetched bodies for geo-MIME downloads "
                         "(K1 file sink): downloads/ gets (url, filename, "
                         "body) instead of the manifest only")
    ap.add_argument("--feeds", help="offline xml feed parquet (url, xml) — "
                    "folds RSS/Atom titles/descriptions into collected text")
    ap.add_argument("--scheduler", choices=["fifo", "priority"], default="fifo")
    ap.add_argument("--default-tokens", type=int, default=40)
    ap.add_argument("--n-salts", type=int, default=8)
    ap.add_argument("--robots", help="robots parquet (host, disallow_prefixes)")
    ap.add_argument("--host-budgets", help="parquet (host, tokens_per_round)")
    ap.add_argument("--rank-table", help="parquet (url, rank_fp) — PageRank "
                    "recrawl signal added to the priority (scheduler=priority "
                    "only); produce it with graph.pagerank_fixed_point over a "
                    "previous crawl's extracted edges, or with "
                    "graph.personalized_pagerank (seed-teleport) for a "
                    "focused crawl that stays near its seed list")
    ap.add_argument("--age-boost", type=int, default=0,
                    help="priority aging: effective priority gains "
                    "age_boost per round a row sits deferred (starvation "
                    "freedom; scheduler=priority only, 0 = off)")
    ap.add_argument("--trap-templates", help="parquet (host, template) crawl-"
                    "trap denylist (scheduler=priority only); produce it with "
                    "traps.trap_report over a previous crawl's trace and "
                    "review the flagged templates. NOTE: templates use the "
                    "current placeholder alphabet (digit AND long-hex runs "
                    "both collapse to N since r4) — re-mine denylists "
                    "produced by older builds, their H placeholders no "
                    "longer match anything")
    ap.add_argument("--bloom-shards", type=int, default=0,
                    help=">0 enables the sharded bloom seen prefilter")
    args = ap.parse_args()
    # reject flags the crawl would silently ignore, before Spark starts
    if not args.synthetic_pages and not (
        (args.pages or args.pages_warc) and args.seeds
    ):
        ap.error("--pages/--pages-warc and --seeds required without "
                 "--synthetic-pages")
    if args.feeds and not args.collect_text:
        ap.error("--feeds folds feeds into collected text: add --collect-text")
    if args.scheduler == "fifo":
        for flag, value in [
            ("--robots", args.robots),
            ("--host-budgets", args.host_budgets),
            ("--rank-table", args.rank_table),
            ("--trap-templates", args.trap_templates),
            ("--age-boost", args.age_boost),
        ]:
            if value:
                ap.error(f"{flag} needs --scheduler priority")
    if (args.resume or args.compact) and not args.checkpoint_dir:
        ap.error("--resume and --compact need --checkpoint-dir")

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("gwss-crawl").getOrCreate()

    from geospatial_web_scraper_spark import corpus
    from geospatial_web_scraper_spark.operators.politeness import (
        PolitenessScheduler,
    )
    from geospatial_web_scraper_spark.operators.seen import (
        ShardedBloomSeenFilter,
    )
    from geospatial_web_scraper_spark.plans.bfs import CrawlEngine
    from geospatial_web_scraper_spark.plans.store import SnapshotStore

    if args.synthetic_pages:
        pages = corpus.corpus_df(spark, args.synthetic_pages)
        seeds = corpus.seeds_df(spark, args.synthetic_pages)
    else:
        if args.pages_warc:
            from geospatial_web_scraper_spark.sources.warc import (
                pages_from_warc,
            )

            pages = pages_from_warc(spark, args.pages_warc)
        else:
            pages = spark.read.parquet(args.pages)
        seeds = spark.read.parquet(args.seeds)

    scheduler = None
    if args.scheduler == "priority":
        robots = spark.read.parquet(args.robots) if args.robots else None
        budgets = (
            spark.read.parquet(args.host_budgets) if args.host_budgets else None
        )
        scheduler = PolitenessScheduler(
            robots=robots,
            host_budget=budgets,
            default_tokens_per_round=args.default_tokens,
            n_salts=args.n_salts,
            rank_table=(
                spark.read.parquet(args.rank_table).select("url", "rank_fp")
                if args.rank_table
                else None
            ),
            trap_templates=(
                spark.read.parquet(args.trap_templates).select(
                    "host", "template"
                )
                if args.trap_templates
                else None
            ),
            age_boost=args.age_boost,
        )

    seen_filter = (
        ShardedBloomSeenFilter(spark, n_shards=args.bloom_shards)
        if args.bloom_shards
        else None
    )
    store = SnapshotStore(spark, args.checkpoint_dir) if args.checkpoint_dir else None

    eng = CrawlEngine(
        spark,
        pages,
        max_depth=args.max_depth,
        max_crawl=args.budget,
        collect_text=args.collect_text,
        store=store,
        seen_filter=seen_filter,
        scheduler=scheduler,
        max_rounds=args.max_rounds,
        feeds=spark.read.parquet(args.feeds) if args.feeds else None,
        download_bytes=args.download_bytes,
    )
    run = eng.resume() if args.resume else eng.run(seeds)

    from pyspark.sql import functions as F

    from geospatial_web_scraper_spark.functions.urls import (
        filename_for_download,
    )

    run.trace.write.mode("overwrite").parquet(f"{args.output}/trace")
    # K1 sink: url + path.Base filename (+ fetched body bytes with
    # --download-bytes — the reference's downloadDir/basename file content)
    dl = run.downloads.withColumn(
        "filename", filename_for_download(F.col("url"))
    )
    dl.write.mode("overwrite").parquet(f"{args.output}/downloads")
    run.lineage.write.mode("overwrite").parquet(f"{args.output}/lineage")
    if run.texts is not None:
        run.texts.write.mode("overwrite").parquet(f"{args.output}/texts")
    if args.export_warc:
        # archive the fetched pages (trace ∩ pages) as Common-Crawl-style
        # gzip-member WARCs + the CDX-style per-record index — the crawl →
        # archive → ranged-serving pipeline in one submit
        from geospatial_web_scraper_spark.sources.warc import write_warc

        fetched = pages.join(
            run.trace.select("url"), "url", "left_semi"
        )
        idx = write_warc(fetched, f"{args.output}/warc", index=True)
        idx.write.mode("overwrite").parquet(f"{args.output}/warc_index")
    # compact AFTER the output writes: a resumed run's DataFrames read the
    # store's per-round dirs lazily, which compaction deletes
    if args.compact:
        store.compact()
    print(
        f"crawl done: recorded={run.recorded} rounds={run.rounds} "
        f"output={args.output}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
