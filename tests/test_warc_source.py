"""WARC source: round-trip parity with the synthetic corpus, gzip members,
non-response records skipped, and schema compatibility with the engine."""

import pytest
from pyspark.sql import functions as F

from geospatial_web_scraper_spark import corpus
from geospatial_web_scraper_spark.sources.warc import (
    pages_from_warc,
    parse_warc_records,
    warc_bytes,
)

N = 40


@pytest.fixture(scope="module")
def page_rows(spark):
    return (
        corpus.corpus_df(spark, N)
        .select("url", "warc_ts", "html", "status", "content_type", "host")
        .orderBy("url")
        .collect()
    )


def _to_warc(rows, gz: bool) -> bytes:
    return warc_bytes(
        [
            (
                r["url"],
                r["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ"),
                r["status"],
                r["content_type"],
                bytes(r["html"]),
            )
            for r in rows
        ],
        gzip_members=gz,
    )


def test_roundtrip_plain_and_gzip(spark, page_rows, tmp_path):
    half = N // 2
    (tmp_path / "a.warc").write_bytes(_to_warc(page_rows[:half], gz=False))
    (tmp_path / "b.warc.gz").write_bytes(_to_warc(page_rows[half:], gz=True))

    got = pages_from_warc(spark, str(tmp_path)).orderBy("url").collect()
    assert len(got) == N
    for g, w in zip(got, page_rows):
        assert g["url"] == w["url"]
        assert bytes(g["html"]) == bytes(w["html"])
        assert g["status"] == w["status"]
        assert g["content_type"] == w["content_type"]
        assert g["host"] == w["host"]
        assert g["warc_ts"] == w["warc_ts"]


def test_non_response_records_skipped():
    mixed = (
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n\r\nabcd\r\n\r\n"
        b"WARC/1.0\r\nWARC-Type: request\r\n"
        b"WARC-Target-URI: https://x.example/\r\nContent-Length: 0\r\n\r\n\r\n\r\n"
        + warc_bytes(
            [("https://x.example/p", "2024-01-01T00:00:00Z", 200,
              "text/html", b"<html><title>t</title></html>")]
        )
    )
    recs = list(parse_warc_records(mixed))
    assert len(recs) == 1
    assert recs[0]["url"] == "https://x.example/p"
    assert recs[0]["status"] == 200
    assert recs[0]["html"].startswith(b"<html>")


def test_warc11_version_line_parses():
    """ADVICE r2 (medium): WARC/1.1 (spec-permitted, emitted by real
    writers) must parse like 1.0 — any WARC/x.y marker opens a record."""
    raw = warc_bytes(
        [("https://v.example/p", "2024-01-01T00:00:00Z", 200,
          "text/html", b"<html><title>v</title></html>")],
        version="1.1",
    )
    recs = list(parse_warc_records(raw))
    assert len(recs) == 1
    assert recs[0]["url"] == "https://v.example/p"
    assert recs[0]["status"] == 200


def test_version_marker_in_skipped_body_never_fabricates_record():
    """ADVICE r2 (medium): a skipped record's payload is consumed via its
    Content-Length framing, so a body LINE equal to 'WARC/1.0' inside a
    non-response (or any) record can never be misread as a record start."""
    trap_body = b"junk\r\nWARC/1.0\r\nWARC-Type: response\r\n" \
                b"WARC-Target-URI: https://fake.example/\r\n" \
                b"Content-Length: 0\r\n\r\n\r\n"
    mixed = (
        b"WARC/1.1\r\nWARC-Type: metadata\r\n"
        + f"Content-Length: {len(trap_body)}\r\n\r\n".encode()
        + trap_body
        + b"\r\n\r\n"
        + warc_bytes(
            [("https://real.example/p", "2024-01-01T00:00:00Z", 200,
              "text/html", b"<html><title>r</title></html>")]
        )
    )
    recs = list(parse_warc_records(mixed))
    assert [r["url"] for r in recs] == ["https://real.example/p"]


def test_streaming_members_equal_whole_buffer(page_rows):
    """The incremental member-wise decode (tiny chunk size to force many
    refills) parses byte-for-byte what the whole-buffer path parses."""
    from geospatial_web_scraper_spark.sources.warc import (
        _iter_gzip_members,
        parse_warc_stream,
    )

    gz = _to_warc(page_rows, gz=True)
    streamed = list(parse_warc_stream(_iter_gzip_members(gz, chunk_size=64)))
    whole = list(parse_warc_records(_to_warc(page_rows, gz=False)))
    assert len(streamed) == len(whole) == N
    for s, w in zip(streamed, whole):
        assert s == w


def test_warc_pages_drive_extraction(spark, page_rows, tmp_path):
    """Pages read from WARC are drop-in for the extraction kernel: link
    extraction over the WARC-sourced table equals extraction over the
    native corpus table."""
    from geospatial_web_scraper_spark.operators.extract import extract_rows

    def links(pages):
        return extract_rows(pages, 1).select(
            "url",
            F.struct(
                F.col("link_url").alias("url"),
                F.col("link_is_geo").alias("is_geo"),
                F.col("link_pos").alias("pos"),
            ).alias("link"),
        )

    (tmp_path / "c.warc.gz").write_bytes(_to_warc(page_rows, gz=True))
    warc_pages = pages_from_warc(spark, str(tmp_path))
    a = links(warc_pages).orderBy("url", "link").collect()
    b = links(corpus.corpus_df(spark, N)).orderBy("url", "link").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_warc_roundtrip_property():
    """Property: any list of records (urls/types/bodies arbitrary bytes,
    gzip or plain) survives warc_bytes → parse_warc_records exactly."""
    from hypothesis import given, settings, strategies as st

    url_st = st.from_regex(r"https://[a-z]{1,10}\.example\.org/[a-zA-Z0-9/_.-]{0,30}", fullmatch=True)
    rec_st = st.tuples(
        url_st,
        st.integers(min_value=100, max_value=599),
        st.from_regex(r"[a-z]+/[a-z+.-]{1,20}", fullmatch=True),
        st.binary(max_size=2048),
    )

    @settings(max_examples=40, deadline=None)
    @given(st.lists(rec_st, max_size=8), st.booleans())
    def check(recs, gz):
        payload = [
            (u, "2024-01-01T00:00:00Z", s, ct, body)
            for (u, s, ct, body) in recs
        ]
        raw = warc_bytes(payload, gzip_members=gz)
        if gz:
            from geospatial_web_scraper_spark.sources.warc import _gunzip_members

            raw = _gunzip_members(raw)
        got = list(parse_warc_records(raw))
        assert len(got) == len(recs)
        for g, (u, s, ct, body) in zip(got, recs):
            assert g["url"] == u
            assert g["status"] == s
            assert g["content_type"] == ct
            assert g["html"] == body

    check()


def _page_multiset(df):
    return sorted(
        (
            r["url"],
            r["warc_ts"],
            bytes(r["html"]),
            r["status"],
            r["content_type"],
        )
        for r in df.select(
            "url", "warc_ts", "html", "status", "content_type"
        ).collect()
    )


def test_write_warc_roundtrip(spark, tmp_path):
    """Distributed writer sink → reader round-trip: N pages across 3
    partitions become 3 gzip-member archives; pages_from_warc reads back
    the identical (url, ts, html, status, content_type) multiset and the
    manifest accounts for every record."""
    from geospatial_web_scraper_spark.sources.warc import write_warc

    pages = corpus.corpus_df(spark, N).repartition(3)
    out = str(tmp_path / "warcs")
    manifest = write_warc(pages, out).collect()
    assert sum(m["n_records"] for m in manifest) == N
    assert all(m["path"].endswith(".warc.gz") for m in manifest)
    assert all(m["n_bytes"] > 0 for m in manifest)
    back = pages_from_warc(spark, out)
    assert _page_multiset(back) == _page_multiset(corpus.corpus_df(spark, N))


def test_write_warc_plain_and_null_content_type(spark, tmp_path):
    """Uncompressed variant + NULL content_type omits the header and reads
    back as None (the format's own lossy edge, documented)."""
    from geospatial_web_scraper_spark.sources.warc import write_warc

    pages = (
        corpus.corpus_df(spark, 10)
        .withColumn(
            "content_type",
            F.when(F.col("status") == 200, F.col("content_type")),
        )
        .coalesce(1)
    )
    out = str(tmp_path / "plain")
    manifest = write_warc(pages, out, gzip_members=False).collect()
    assert len(manifest) == 1 and manifest[0]["path"].endswith(".warc")
    back = pages_from_warc(spark, out)
    want = {
        (r["url"], r["content_type"] if r["status"] == 200 else None)
        for r in corpus.corpus_df(spark, 10).collect()
    }
    got = {(r["url"], r["content_type"]) for r in back.collect()}
    assert got == want


def test_write_warc_null_timestamp(spark, tmp_path):
    """WARC-Date is mandatory: NULL warc_ts serializes as the epoch
    instead of crashing the partition writer."""
    from geospatial_web_scraper_spark.sources.warc import write_warc

    pages = (
        corpus.corpus_df(spark, 5)
        .withColumn("warc_ts", F.lit(None).cast("timestamp"))
        .coalesce(1)
    )
    out = str(tmp_path / "nullts")
    assert write_warc(pages, out).collect()[0]["n_records"] == 5
    back = pages_from_warc(spark, out).collect()
    assert all(
        r["warc_ts"].strftime("%Y-%m-%d") == "1970-01-01" for r in back
    )


def test_write_warc_index_and_random_access(spark, tmp_path):
    """CDX-style index (write_warc(index=True)): offsets/lengths must
    slice every record servably — read_warc_record round-trips single
    records by ranged read, pages_from_index serves an arbitrary url
    subset without scanning, and the index aggregates back to the
    manifest's per-file totals."""
    import os

    from geospatial_web_scraper_spark.sources.warc import (
        pages_from_index,
        read_warc_record,
        write_warc,
    )

    pages = corpus.corpus_df(spark, N).repartition(3)
    out = str(tmp_path / "warcs_idx")
    idx = write_warc(pages, out, index=True).localCheckpoint()
    rows = idx.collect()
    assert len(rows) == N
    # per-file totals reconcile with the bytes on disk (gzip members tile
    # the file exactly: offsets are contiguous and sum to the file size)
    by_path = {}
    for r in rows:
        by_path.setdefault(r["path"], []).append(r)
    for path, rs in by_path.items():
        rs = sorted(rs, key=lambda r: r["offset"])
        assert rs[0]["offset"] == 0
        for a, b in zip(rs, rs[1:]):
            assert a["offset"] + a["n_bytes"] == b["offset"]
        assert rs[-1]["offset"] + rs[-1]["n_bytes"] == os.path.getsize(path)
    # driver-side ranged read of a few records
    want = corpus.corpus_df(spark, N).where("page_id % 37 = 1").collect()
    by_url = {r["url"]: r for r in rows}
    for p in want:
        rec = read_warc_record(
            by_url[p["url"]]["path"],
            by_url[p["url"]]["offset"],
            by_url[p["url"]]["n_bytes"],
        )
        assert rec["url"] == p["url"]
        assert bytes(rec["html"]) == bytes(p["html"])
        assert rec["status"] == p["status"]
    # distributed random access over a url-subset join of the index
    subset = idx.where(F.col("url").rlike(r"/page/1?7\.html$"))
    served = pages_from_index(spark, subset)
    exp = corpus.corpus_df(spark, N).where(
        F.col("url").rlike(r"/page/1?7\.html$")
    )
    assert _page_multiset(served) == _page_multiset(exp)


def test_write_warc_index_survives_early_stop(spark, tmp_path):
    """A partially-consuming action (limit) must never leave archives
    stranded as temps while emitted index rows point nowhere: rows are
    emitted only after the atomic rename (r4 review finding)."""
    import os

    from geospatial_web_scraper_spark.sources.warc import (
        read_warc_record,
        write_warc,
    )

    pages = corpus.corpus_df(spark, 60).coalesce(1)
    out = str(tmp_path / "earlystop")
    some = write_warc(pages, out, index=True).limit(3).collect()
    assert len(some) == 3
    assert not [p for p in os.listdir(out) if "inprogress" in p]
    for r in some:
        assert os.path.exists(r["path"])
        assert read_warc_record(r["path"], r["offset"], r["n_bytes"])[
            "url"
        ] == r["url"]
