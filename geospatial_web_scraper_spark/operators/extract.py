"""HTML extraction as vectorized pandas/Arrow UDFs (the only Python on the
hot path, batched through Arrow — never row-at-a-time serde).

``extract_links_udf`` is the X1 UDTF (reference ``crawler.go:97-131``):
one page row in → array of link structs out, exploded engine-side with
``posexplode`` so document order survives as an explicit column.

``extract_meta_udf`` is X2 (reference ``metadata.go:40-220``): returns the
title/description/keywords struct whose ``description`` is the
byte-identical extracted text per url.

``extract_round_outputs`` is the crawl engine's fused per-round pass:
downloads, links, texts (with the optional C10 feeds fold) and
per-partition lineage out of ONE Arrow scan of the fetched pages, and
links and text out of ONE tokenizer pass per page
(``kernel.extract_page``).

All delegate per-document work to the shared pure-Python kernel
(:mod:`..kernel`), which the single-threaded oracle also uses — Spark adds
the distribution, Arrow the batching; the semantics live in one place.
"""

from __future__ import annotations

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernel import extract_links, extract_page, finish_metadata

LINK_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("is_geo", T.BooleanType()),
            T.StructField("pos", T.IntegerType()),
        ]
    )
)

META_TYPE = T.StructType(
    [
        T.StructField("title", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("keywords", T.ArrayType(T.StringType())),
    ]
)


@F.pandas_udf(LINK_TYPE)
def extract_links_udf(html: pd.Series, base_url: pd.Series) -> pd.Series:
    out = []
    for h, u in zip(html, base_url):
        if h is None or u is None:
            out.append([])
            continue
        out.append(
            [(l["url"], l["is_geo"], l["pos"]) for l in extract_links(bytes(h), u)]
        )
    return pd.Series(out, dtype=object)


@F.pandas_udf(T.ArrayType(T.StringType()))
def extract_xml_links_udf(html: pd.Series, base_url: pd.Series) -> pd.Series:
    """S6 (metadata.go:180-212): hrefs of ``<link type~=xml>`` elements —
    collected, NOT fetched (the reference's secondary RSS fetch is a network
    side-effect outside the no-network correctness contract)."""
    out = []
    for h, u in zip(html, base_url):
        if h is None or u is None:
            out.append([])
            continue
        out.append(extract_page(bytes(h), u, links=False)[1][3])
    return pd.Series(out, dtype=object)


@F.pandas_udf(META_TYPE)
def extract_meta_udf(html: pd.Series, base_url: pd.Series) -> pd.DataFrame:
    titles, descs, kws = [], [], []
    for h, u in zip(html, base_url):
        if h is None or u is None:
            titles.append(None)
            descs.append(None)
            kws.append(None)
            continue
        md = finish_metadata(extract_page(bytes(h), u, links=False)[1], u)
        titles.append(md["title"])
        descs.append(md["description"])
        kws.append(md["keywords"])
    return pd.DataFrame({"title": titles, "description": descs, "keywords": kws})


FEED_META_TYPE = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("description", T.StringType()),
    ]
)


def feed_lookup(feeds):
    """The offline ``feeds(url, xml)`` table as ONE broadcast ``{url: xml}``
    dict — the stand-in for the reference's secondary feed GET
    (``metadata.go:189-199``). One feed document per host keeps it small
    (|feeds| ≪ |pages|); rows with a NULL ``xml`` are fetch errors and are
    left out, so a lookup miss is the reference's ``continue``. On a
    duplicated url the greatest ``xml`` wins, deterministically."""
    rows = feeds.where(F.col("xml").isNotNull()).select("url", "xml").collect()
    return feeds.sparkSession.sparkContext.broadcast(
        dict(sorted((r["url"], r["xml"]) for r in rows))
    )


def extract_meta_with_feeds(pages, feeds, html_col: str = "html",
                            url_col: str = "url"):
    """C10 — metadata extraction INCLUDING the secondary RSS/Atom harvest
    (``metadata.go:180-212``), with the 5s-timeout HTTP GET modeled as a
    lookup in the offline ``feeds(url, xml)`` table.

    Distributed shape: the feeds table is broadcast once as a
    ``{url: xml}`` dict (:func:`feed_lookup`) and ONE Arrow pass over the
    pages runs the one-pass text extraction and the kernel fold
    (``kernel.finish_metadata``, shared with the oracle) per page,
    resolving each xml href and looking it up in place. No join, no
    shuffle: the pass inherits the pages scan's partitioning, so HTML
    bytes never move."""
    lookup = feed_lookup(feeds)

    def gen(batches):
        feed_fetch = lookup.value.get
        for pdf in batches:
            urls, titles, descs = [], [], []
            for u, h in zip(pdf[url_col], pdf[html_col]):
                if h is None or u is None:
                    continue
                raw = extract_page(bytes(h), u, links=False)[1]
                md = finish_metadata(raw, u, feed_fetch)
                urls.append(u)
                titles.append(md["title"])
                descs.append(md["description"])
            yield pd.DataFrame(
                {"url": urls, "title": titles, "description": descs}
            )

    return pages.select(url_col, html_col).mapInPandas(gen, FEED_META_TYPE)


def extract_links_flat(
    df, carry_cols: list[str], html_col: str = "html", url_col: str = "url"
):
    """Hot-path variant: mapInPandas emitting already-exploded FLAT rows
    (link_url, link_pos, link_is_geo + carried columns).

    ~2× faster than the nested array<struct> UDF + explode: flat string/int
    Arrow columns skip the per-row list-of-tuples construction and the
    nested-type conversion on both sides of the Arrow boundary, and the
    explode disappears entirely. Same kernel, same semantics (asserted by
    the engine trace-parity tests)."""
    in_fields = {f.name: f for f in df.schema.fields}
    out_schema = T.StructType(
        [in_fields[c] for c in carry_cols]
        + [
            T.StructField("link_url", T.StringType()),
            T.StructField("link_pos", T.IntegerType()),
            T.StructField("link_is_geo", T.BooleanType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in carry_cols}
            link_url: list[str] = []
            link_pos: list[int] = []
            link_geo: list[bool] = []
            htmls = pdf[html_col]
            urls = pdf[url_col]
            carried = [pdf[c] for c in carry_cols]
            for ridx in range(len(pdf)):
                h = htmls.iloc[ridx]
                u = urls.iloc[ridx]
                if h is None or u is None:
                    continue
                links = extract_links(bytes(h), u)
                if not links:
                    continue
                for link in links:
                    link_url.append(link["url"])
                    link_pos.append(link["pos"])
                    link_geo.append(link["is_geo"])
                for cidx, cname in enumerate(carry_cols):
                    out[cname].extend([carried[cidx].iloc[ridx]] * len(links))
            yield pd.DataFrame(
                {**out, "link_url": link_url, "link_pos": link_pos,
                 "link_is_geo": link_geo}
            )

    return df.select(*dict.fromkeys([*carry_cols, html_col, url_col])).mapInPandas(
        gen, out_schema
    )


ROUND_OUT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("depth", T.IntegerType()),
        # 0 = download, 1 = link, 2 = meta, 3 = partition summary
        T.StructField("kind", T.IntegerType()),
        T.StructField("link_url", T.StringType()),
        T.StructField("link_pos", T.IntegerType()),
        T.StructField("link_is_geo", T.BooleanType()),
        T.StructField("title", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("body", T.BinaryType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("urls_fetched", T.LongType()),
        T.StructField("bytes_fetched", T.LongType()),
    ]
)


def extract_round_outputs(fetched, geo_mime_types, max_depth: int,
                          collect_text: bool = False,
                          carry_download_bytes: bool = False,
                          feeds=None):
    """The round's ONE pass over the fetched pages (columns: url, seq,
    depth, status, content_type, html): fetch classification, link
    extraction, text extraction and per-partition lineage together.

    At 100 TB the pages scan is the dominant IO, so every output the round
    needs from the fetched slice comes out of this single Arrow pass; the
    engine reads nothing else from ``fetched``. The pass does ship HTML
    through the Arrow worker for rows that only become ``kind=0`` download
    rows — that small transfer buys removing whole extra source scans.

    Row routing: status==200 & geo MIME → one ``kind=0`` download row;
    status==200 & non-geo & html present → one ``kind=2`` meta row when
    ``collect_text`` (no depth gate) and, when depth+1 < max_depth,
    ``kind=1`` link rows in document order; everything else (404s, fetch
    leaves) emits no row of its own.

    Each html row is tokenized ONCE: one ``kernel.extract_page`` call
    yields the page's links and its raw metadata together. It asks for
    text only when ``collect_text`` is on and for links only when the
    depth gate passes, so a page that needs neither is never parsed. The
    oracle takes its texts from the tree walk (``extract_metadata``);
    the kernel's twin tests pin the two equal.

    ``feeds`` is an optional broadcast ``{url: xml}`` dict
    (:func:`feed_lookup`): with it, ``kind=2`` rows run the C10 fold
    (``kernel.finish_metadata``, the RSS/Atom harvest of
    ``metadata.go:180-212``) on the same raw buffers.

    Every partition that saw fetched rows ends with one ``kind=3`` summary
    row: its ``partition_id``, the rows it fetched (``urls_fetched``, all
    statuses) and the summed length of their non-NULL html
    (``bytes_fetched``) — the engine's per-partition lineage, at the cost
    of one tiny row per partition and no per-row parse work.

    With ``carry_download_bytes=True`` each ``kind=0`` row also carries the
    fetched body in the ``body`` binary column — the K1/K2/K3 file sink's
    actual payload (reference ``crawler.go:194-229`` ``io.Copy``s the
    response body to ``downloadDir/basename``). Off by default: the bytes
    then ride the round's localCheckpoint, which is exactly what a crawl
    that only needs the manifest should not pay for."""

    def gen(batches):
        feed_fetch = None if feeds is None else feeds.value.get
        n_rows = n_bytes = 0
        for pdf in batches:
            urls: list = []
            seqs: list = []
            depths: list = []
            kinds: list = []
            lurl: list = []
            lpos: list = []
            lgeo: list = []
            titles: list = []
            texts: list = []
            bodies: list = []

            def emit(u, s, d, kind, l_url=None, l_pos=None, l_geo=None,
                     title=None, text=None, body=None):
                urls.append(u)
                seqs.append(s)
                depths.append(d)
                kinds.append(kind)
                lurl.append(l_url)
                lpos.append(l_pos)
                lgeo.append(l_geo)
                titles.append(title)
                texts.append(text)
                bodies.append(body)

            col_url = pdf["url"]
            col_seq = pdf["seq"]
            col_depth = pdf["depth"]
            col_status = pdf["status"]
            col_ct = pdf["content_type"]
            col_html = pdf["html"]
            n_rows += len(pdf)
            n_bytes += sum(len(h) for h in col_html if h is not None)
            for ridx in range(len(pdf)):
                if col_status.iloc[ridx] != 200:
                    continue
                u = col_url.iloc[ridx]
                ct = col_ct.iloc[ridx]
                if ct in geo_mime_types:
                    dl_body = None
                    if carry_download_bytes:
                        raw = col_html.iloc[ridx]
                        dl_body = None if raw is None else bytes(raw)
                    emit(u, col_seq.iloc[ridx], col_depth.iloc[ridx], 0,
                         body=dl_body)
                    continue
                depth = col_depth.iloc[ridx]
                h = col_html.iloc[ridx]
                want_links = depth + 1 < max_depth
                if h is None or not (want_links or collect_text):
                    continue
                seq = col_seq.iloc[ridx]
                links, raw = extract_page(bytes(h), u, links=want_links,
                                          text=collect_text)
                if collect_text:
                    md = finish_metadata(raw, u, feed_fetch)
                    emit(u, seq, depth, 2,
                         title=md["title"], text=md["description"])
                for link in links or ():
                    emit(u, seq, depth, 1, l_url=link["url"],
                         l_pos=link["pos"], l_geo=link["is_geo"])
            nulls = [None] * len(urls)
            yield pd.DataFrame(
                {
                    "url": urls,
                    "seq": pd.Series(seqs, dtype="int64"),
                    "depth": pd.Series(depths, dtype="int32"),
                    "kind": pd.Series(kinds, dtype="int32"),
                    "link_url": lurl,
                    "link_pos": pd.Series(lpos, dtype="object"),
                    "link_is_geo": lgeo,
                    "title": pd.Series(titles, dtype="object"),
                    "text": pd.Series(texts, dtype="object"),
                    "body": pd.Series(bodies, dtype="object"),
                    "partition_id": nulls,
                    "urls_fetched": nulls,
                    "bytes_fetched": nulls,
                }
            )
        if n_rows:
            summary = {f.name: [None] for f in ROUND_OUT_SCHEMA.fields}
            summary.update(
                kind=[3],
                partition_id=[TaskContext.get().partitionId()],
                urls_fetched=[n_rows],
                bytes_fetched=[n_bytes],
            )
            yield pd.DataFrame(summary)

    cols = ["url", "seq", "depth", "status", "content_type", "html"]
    return fetched.select(*cols).mapInPandas(gen, ROUND_OUT_SCHEMA)
