#!/usr/bin/env python
"""Cluster entry point — link-graph analytics over a pages table via
spark-submit.

The graph twin of scripts/crawl.py and scripts/curate.py: point it at
the pages a crawl produced (url, html), extract the link graph with the
same Arrow kernel pass the engine runs, and write the graph family's
reports — fixed-point PageRank, HITS hubs/authorities, synchronous
label-propagation communities, k-core membership, the host-level
nepotism/link-spam report, and the one-row degree-assortativity
fingerprint. Every analysis is the library operator the catalog
queries value-check; the CLI only wires them together.

    python scripts/package.py                      # → dist/gwss.zip
    spark-submit --py-files dist/gwss.zip scripts/linkgraph.py \
        --pages s3://bucket/pages.parquet \
        --output s3://bucket/graph_out \
        [--reports pagerank,hits,communities,kcore,spam,assortativity] \
        [--iters 5] [--lpa-rounds 4] [--kcore-k 3]

Node ids are xxhash64(url) (host ids xxhash64(host)) — deterministic,
join-free, collision odds ~n²/2^64; the urlmap/ (and hostmap/) outputs
carry the id↔string mapping for the crawled pages and their hosts. The
spam report's host ids (``top_dst`` included) also name external
link-target hosts that no crawled page lives on, and hostmap/ has no row
for those. PageRank output can feed scripts/crawl.py --rank-table after
an id→url join.
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser(description="link-graph analytics")
    ap.add_argument("--pages", help="pages parquet (url, html, …)")
    ap.add_argument("--synthetic-pages", type=int, default=0,
                    help="generate the N-page formula corpus instead "
                    "of reading --pages (tests/demos)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--reports",
                    default="pagerank,hits,communities,kcore,spam,"
                    "assortativity",
                    help="comma-separated subset of: pagerank hits "
                    "communities kcore spam assortativity")
    ap.add_argument("--iters", type=int, default=5,
                    help="pagerank/HITS iterations")
    ap.add_argument("--lpa-rounds", type=int, default=4)
    ap.add_argument("--kcore-k", type=int, default=3)
    ap.add_argument("--kcore-rounds", type=int, default=16)
    args = ap.parse_args()
    want = {r.strip() for r in args.reports.split(",") if r.strip()}

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName("gwss-linkgraph").getOrCreate()

    from geospatial_web_scraper_spark.functions.urls import url_host
    from geospatial_web_scraper_spark.operators import graph, linkspam
    from geospatial_web_scraper_spark.operators.extract import (
        extract_links_flat,
    )

    if args.synthetic_pages:
        from geospatial_web_scraper_spark import corpus

        pages = corpus.corpus_df(spark, args.synthetic_pages)
    elif args.pages:
        pages = spark.read.parquet(args.pages)
    else:
        ap.error("one of --pages / --synthetic-pages is required")

    nodes = (
        pages.select("url").distinct()
        .withColumn("node_id", F.xxhash64("url"))
        .localCheckpoint()
    )
    # links originate only from fetchable pages — the engine's S1/F5/F7
    # gate (status 200, non-download content type), applied when the
    # table carries those columns; every page stays a NODE either way
    fetchable = pages
    if "status" in pages.columns:
        fetchable = fetchable.filter(F.col("status") == 200)
    if "content_type" in pages.columns:
        fetchable = fetchable.filter(
            F.col("content_type").startswith("text/html")
        )
    links = extract_links_flat(
        fetchable.select("url", "html"), carry_cols=["url"]
    ).filter(~F.col("link_is_geo"))
    edges = (
        links.select(
            F.xxhash64("url").alias("src"),
            F.xxhash64("link_url").alias("dst"),
        )
        .join(nodes.select(F.col("node_id").alias("dst")), "dst", "leftsemi")
        .localCheckpoint()
    )
    nodes.write.mode("overwrite").parquet(f"{args.output}/urlmap")
    done = []

    if "pagerank" in want:
        graph.pagerank_fixed_point(
            nodes.select("node_id"), edges, iters=args.iters
        ).write.mode("overwrite").parquet(f"{args.output}/pagerank")
        done.append("pagerank")
    if "hits" in want:
        graph.hits_fixed_point(
            nodes.select("node_id"), edges, iters=args.iters
        ).write.mode("overwrite").parquet(f"{args.output}/hits")
        done.append("hits")
    if "communities" in want:
        graph.lpa_communities(
            nodes.select("node_id"), edges, rounds=args.lpa_rounds
        ).write.mode("overwrite").parquet(f"{args.output}/communities")
        done.append("communities")
    if "kcore" in want:
        graph.kcore_members(
            nodes.select("node_id"), edges,
            k=args.kcore_k, rounds=args.kcore_rounds,
        ).write.mode("overwrite").parquet(f"{args.output}/kcore")
        done.append("kcore")
    if "spam" in want:
        hosts = (
            pages.select(url_host(F.col("url")).alias("host")).distinct()
            .withColumn("host_id", F.xxhash64("host"))
        )
        hosts.write.mode("overwrite").parquet(f"{args.output}/hostmap")
        he = links.select(
            F.xxhash64(url_host(F.col("url"))).alias("src"),
            F.xxhash64(url_host(F.col("link_url"))).alias("dst"),
        )
        linkspam.host_link_report(he).write.mode("overwrite").parquet(
            f"{args.output}/spam"
        )
        done.append("spam")
    if "assortativity" in want:
        graph.degree_assortativity(edges).write.mode("overwrite").parquet(
            f"{args.output}/assortativity"
        )
        done.append("assortativity")

    n_nodes = nodes.count()
    n_edges = edges.count()
    print(
        f"linkgraph done: nodes={n_nodes} edges={n_edges} "
        f"reports={','.join(done)} output={args.output}"
    )


if __name__ == "__main__":
    main()
