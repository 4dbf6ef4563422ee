"""HTML extraction as vectorized pandas/Arrow UDFs (the only Python on the
hot path, batched through Arrow — never row-at-a-time serde).

``extract_links_udf`` is the X1 UDTF (reference ``crawler.go:97-131``):
one page row in → array of link structs out, exploded engine-side with
``posexplode`` so document order survives as an explicit column.

``extract_meta_udf`` is X2 (reference ``metadata.go:40-220``): returns the
title/description/keywords struct whose ``description`` is the
byte-identical extracted text per url.

Both delegate per-document work to the shared pure-Python kernel
(:mod:`..kernel`), which the single-threaded oracle also uses — Spark adds
the distribution, Arrow the batching; the semantics live in one place.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernel import extract_links, extract_metadata

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
        out.append(extract_metadata(bytes(h), u)["xml_links"])
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
        md = extract_metadata(bytes(h), u)
        titles.append(md["title"])
        descs.append(md["description"])
        kws.append(md["keywords"])
    return pd.DataFrame({"title": titles, "description": descs, "keywords": kws})


@F.pandas_udf(T.StringType())
def resolve_url_udf(base: pd.Series, href: pd.Series) -> pd.Series:
    """Go ``base.Parse(href)`` (metadata.go:184): resolved absolute URL,
    NULL when the base/href pair is unresolvable (the reference's
    ``continue``)."""
    from urllib.parse import urljoin

    out = []
    for b, h in zip(base, href):
        if b is None or h is None:
            out.append(None)
            continue
        try:
            out.append(urljoin(b, h))
        except ValueError:
            out.append(None)
    return pd.Series(out, dtype=object)


FEED_META_TYPE = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("description", T.StringType()),
    ]
)


def extract_meta_with_feeds(pages, feeds, html_col: str = "html",
                            url_col: str = "url"):
    """C10 — metadata extraction INCLUDING the secondary RSS/Atom harvest
    (``metadata.go:180-212``), with the 5s-timeout HTTP GET modeled as a
    join against an offline ``feeds(url, xml)`` table.

    Distributed shape (the 100 TB plan): the xml hrefs are exploded off the
    pages (tiny rows — no HTML), resolved, equi-joined against the feeds
    table (broadcast: one feed per HOST, so |feeds| ≪ |pages|), and grouped
    back per page in document order; then ONE Arrow pass over the pages
    re-runs the metadata walk and folds the joined feed bodies through the
    raw string builders (kernel.extract_metadata_with_feeds — shared with
    the oracle). HTML bytes never shuffle: the join and groupBy move only
    (url, href, xml) rows, and the final pass inherits the pages scan's
    partitioning via a frontier-style broadcast join of the small grouped
    side."""
    from ..kernel import extract_metadata_with_feeds as _kernel_fold

    hrefs = pages.select(
        F.col(url_col),
        F.posexplode(
            extract_xml_links_udf(F.col(html_col), F.col(url_col))
        ).alias("_xpos", "_href"),
    ).withColumn("_feed_url", resolve_url_udf(F.col(url_col), F.col("_href")))
    joined = hrefs.join(
        F.broadcast(
            feeds.select(F.col("url").alias("_feed_url"), F.col("xml").alias("_xml"))
        ),
        "_feed_url",
        "left",
    )
    grouped = joined.groupBy(url_col).agg(
        F.array_sort(
            F.collect_list(F.struct("_xpos", "_feed_url", "_xml"))
        ).alias("_feeds")
    )
    withf = pages.select(url_col, html_col).join(
        F.broadcast(grouped), url_col, "left"
    )

    def gen(batches):
        for pdf in batches:
            urls, titles, descs = [], [], []
            col_url = pdf[url_col]
            col_html = pdf[html_col]
            col_feeds = pdf["_feeds"]
            for ridx in range(len(pdf)):
                h = col_html.iloc[ridx]
                u = col_url.iloc[ridx]
                if h is None or u is None:
                    continue
                fl = col_feeds.iloc[ridx]
                lookup = {}
                if fl is not None:
                    for s in fl:
                        if s["_xml"] is not None:
                            lookup[s["_feed_url"]] = s["_xml"]
                md = _kernel_fold(bytes(h), u, lookup.get)
                urls.append(u)
                titles.append(md["title"])
                descs.append(md["description"])
            yield pd.DataFrame(
                {"url": urls, "title": titles, "description": descs}
            )

    return withf.mapInPandas(gen, FEED_META_TYPE)


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
        T.StructField("kind", T.IntegerType()),  # 0 = download, 1 = link, 2 = meta
        T.StructField("link_url", T.StringType()),
        T.StructField("link_pos", T.IntegerType()),
        T.StructField("link_is_geo", T.BooleanType()),
        T.StructField("title", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("body", T.BinaryType()),
    ]
)


def extract_round_outputs(fetched, geo_mime_types, max_depth: int,
                          collect_text: bool = False,
                          carry_download_bytes: bool = False):
    """Fused per-round fetch classification + link extraction in ONE pass
    over the fetched pages (columns: url, seq, depth, status, content_type,
    html).

    Replaces two separate jobs — the downloads branch and the extraction
    branch — each of which re-scanned the pages source. At 100 TB the pages
    scan is the dominant IO, so one pass per round is the difference between
    reading the fetched slice once or twice; locally it removes ~half the
    round's fixed job overhead, which is what the 2→8-core scaling
    efficiency is most sensitive to.

    With ``collect_text=True`` metadata extraction (X2) is folded into the
    SAME pass as ``kind=2`` rows. This pass is the round's only extraction
    scan of the fetched slice, but not always its only scan: the
    offline-feeds variant (C10) joins the xml_docs table and keeps its own
    pass, and with ``lineage_detail`` on the engine runs the fetch join a
    second time for its per-partition pages/bytes ``groupBy``. The fused
    pass does ship HTML
    through the Arrow worker for rows that only become kind=0 download
    rows (the pre-fusion downloads branch was column-pruned off html) —
    that small Arrow transfer buys removing whole extra source scans,
    which wins everywhere the download fraction is not dominant.

    Row routing (same filters the engine previously applied branch-wise):
    status==200 & geo MIME → one ``kind=0`` download row; status==200 &
    non-geo & html present → one ``kind=2`` meta row when collect_text
    (no depth gate — mirrors the engine's meta branch) and, when
    depth+1 < max_depth, ``kind=1`` link rows in document order;
    everything else (404s, fetch leaves) emits nothing.

    With ``carry_download_bytes=True`` each ``kind=0`` row also carries the
    fetched body in the ``body`` binary column — the K1/K2/K3 file sink's
    actual payload (reference ``crawler.go:194-229`` ``io.Copy``s the
    response body to ``downloadDir/basename``). Off by default: the bytes
    then ride the round's localCheckpoint, which is exactly what a crawl
    that only needs the manifest should not pay for."""

    def gen(batches):
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
                if h is None:
                    continue
                seq = col_seq.iloc[ridx]
                if collect_text:
                    md = extract_metadata(bytes(h), u)
                    emit(u, seq, depth, 2,
                         title=md["title"], text=md["description"])
                if depth + 1 >= max_depth:
                    continue
                links = extract_links(bytes(h), u)
                for link in links:
                    emit(u, seq, depth, 1, l_url=link["url"],
                         l_pos=link["pos"], l_geo=link["is_geo"])
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
                }
            )

    cols = ["url", "seq", "depth", "status", "content_type", "html"]
    return fetched.select(*cols).mapInPandas(gen, ROUND_OUT_SCHEMA)
