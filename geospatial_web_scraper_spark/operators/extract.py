"""HTML extraction as vectorized pandas/Arrow UDFs (the only Python on the
hot path, batched through Arrow — never row-at-a-time serde).

Two per-page loops, one per output shape:

* ``extract_round_outputs`` is the crawl engine's fused per-round pass:
  downloads, links (X1, reference ``crawler.go:97-131``), texts (X2, with
  the optional C10 feeds fold) and per-partition lineage out of ONE Arrow
  scan of the fetched pages, and links and text out of ONE tokenizer pass
  per page (``kernel.extract_page``). Every row-producing caller outside
  the engine — the x1/c10 catalog rows, engine #2's harvest, the
  link-graph CLI — reads its ``kind=1`` link rows or ``kind=2`` text rows
  through :func:`extract_rows`.
* ``extract_meta_udf`` is X2 as a column expression (reference
  ``metadata.go:40-220``): the title/description/keywords/xml_links
  struct whose ``description`` is the byte-identical extracted text per
  url (x2, c7, s6 and the streaming harvest).

Both delegate per-document work to the shared pure-Python kernel
(:mod:`..kernel`), which the single-threaded oracle also uses — Spark adds
the distribution, Arrow the batching; the semantics live in one place.
"""

from __future__ import annotations

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..constants import GEO_MIME_TYPES
from ..kernel import extract_page, finish_metadata

META_TYPE = T.StructType(
    [
        T.StructField("title", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("keywords", T.ArrayType(T.StringType())),
        # S6 (metadata.go:180-212): hrefs of <link type~=xml> — collected,
        # NOT fetched (the fetch is the offline C10 fold of extract_rows)
        T.StructField("xml_links", T.ArrayType(T.StringType())),
    ]
)


@F.pandas_udf(META_TYPE)
def extract_meta_udf(html: pd.Series, base_url: pd.Series) -> pd.DataFrame:
    mds = [
        None if h is None or u is None
        else finish_metadata(extract_page(bytes(h), u, links=False)[1], u)
        for h, u in zip(html, base_url)
    ]
    return pd.DataFrame(
        {f: [None if md is None else md[f] for md in mds]
         for f in META_TYPE.fieldNames()}
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


def extract_rows(pages, kind: int, feeds=None):
    """The ``kind=1`` link rows or the ``kind=2`` text rows of
    :func:`extract_round_outputs` over a pages table (url, status,
    content_type, html) outside a crawl round: ``seq`` and ``depth`` are
    the constant 0, the pass's own routing picks the pages (status 200,
    non-geo MIME, html present), and it parses only for the one kind.
    ``feeds`` (:func:`feed_lookup`) runs the C10 fold on the text rows.

    One Arrow pass over the pages scan and no shuffle: link rows keep
    document order in ``link_pos``, and HTML bytes never move."""
    links = kind == 1
    fetched = pages.select(
        "url", F.lit(0).cast("long").alias("seq"), F.lit(0).alias("depth"),
        "status", "content_type", "html",
    )
    return extract_round_outputs(
        fetched, GEO_MIME_TYPES, 2 if links else 1, collect_text=not links,
        feeds=feeds,
    ).where(F.col("kind") == kind)
