"""S6 file:// + raw: page sources feeding the standard extract pipeline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawl4ai_spark.plans.extract import extract_pages
from crawl4ai_spark.sources.files import pages_from_files, pages_from_raw


def test_pages_from_files_roundtrip(spark, tmp_path):
    for i in range(4):
        (tmp_path / f"p{i}.html").write_text(
            f"<html lang='en'><body><h1>File {i}</h1><p>file corpus {i}</p></body></html>"
        )
    pages = pages_from_files(spark, str(tmp_path / "*.html"))
    assert pages.count() == 4
    assert set(pages.columns) == {"url", "warc_ts", "html", "text", "lang"}
    rows = {r.url for r in pages.select("url").collect()}
    assert all(u.startswith("file://") and u.endswith(".html") for u in rows)
    out = extract_pages(pages)
    got = out.select("url", "markdown.raw_markdown").collect()
    assert all("# File" in r.raw_markdown for r in got)


def test_pages_from_raw(spark):
    pages = pages_from_raw(
        spark,
        [("https://x.example/a", "<body><h2>Named</h2></body>"),
         (None, "<body><p>anonymous doc</p></body>")],
    )
    assert pages.count() == 2
    urls = sorted(r.url for r in pages.select("url").collect())
    assert urls == ["https://x.example/a", "raw://1"]
    md = extract_pages(pages).select(
        F.col("markdown.raw_markdown").alias("md")
    ).collect()
    assert any("## Named" in r.md for r in md)
    assert any("anonymous doc" in r.md for r in md)


# -- WARC segment source ------------------------------------------------------


def _mk_records(n, tag=""):
    return [
        (
            "response",
            f"https://warc.example/{tag}doc{i}",
            f"2024-01-01T00:00:{i:02d}Z",
            f"<html><body><p>warc body {tag}{i}</p></body></html>".encode(),
        )
        for i in range(n)
    ]


def test_warc_roundtrip_plain_and_gzip(spark, tmp_path):
    """The distributed parse inverts the writer for both layouts: plain
    concatenated records and the CC per-record-gzip member stream —
    including HTTP header stripping (payload = body bytes only) and
    timestamp parsing."""
    from crawl4ai_spark.sources.warc import build_warc_bytes, pages_from_warc

    recs = _mk_records(5)
    (tmp_path / "seg0.warc").write_bytes(build_warc_bytes(recs))
    (tmp_path / "seg1.warc.gz").write_bytes(
        build_warc_bytes(_mk_records(3, tag="gz"), per_record_gzip=True)
    )
    pages = pages_from_warc(spark, str(tmp_path / "seg*"))
    rows = {r.url: r for r in pages.collect()}
    assert len(rows) == 8
    for i in range(5):
        r = rows[f"https://warc.example/doc{i}"]
        assert bytes(r.html) == recs[i][3]  # HTTP headers stripped
        assert r.warc_ts.second == i
    assert set(pages.columns) == {"url", "warc_ts", "html", "text", "lang"}


def test_warc_skips_non_response_and_non_200(spark, tmp_path):
    """warcinfo/request records never surface as pages; non-200 responses
    are dropped by default and kept with ok_status_only=False."""
    from crawl4ai_spark.sources.warc import (
        build_warc_bytes,
        build_warc_record,
        pages_from_warc,
        warc_records,
    )

    seg = (
        build_warc_record("warcinfo", None, "2024-01-01T00:00:00Z",
                          b"software: test\r\n")
        + build_warc_record("request", "https://warc.example/a",
                            "2024-01-01T00:00:00Z", b"")
        + build_warc_bytes(_mk_records(2))
        + build_warc_record("response", "https://warc.example/gone",
                            "2024-01-01T00:00:09Z", b"not here",
                            http_status=404)
    )
    (tmp_path / "seg.warc").write_bytes(seg)
    glob = str(tmp_path / "*.warc")
    all_recs = warc_records(spark, glob)
    assert all_recs.count() == 5
    assert {r.record_type for r in all_recs.collect()} == {
        "warcinfo", "request", "response"
    }
    ok = pages_from_warc(spark, glob)
    assert {r.url for r in ok.collect()} == {
        "https://warc.example/doc0", "https://warc.example/doc1"
    }
    with_404 = pages_from_warc(spark, glob, ok_status_only=False)
    assert with_404.count() == 3
    gone = {r.url: bytes(r.html) for r in with_404.collect()}
    assert gone["https://warc.example/gone"] == b"not here"


def test_warc_truncation_strict_vs_lenient(spark, tmp_path):
    """A segment ending in a truncated record: strict raises the named
    error; lenient salvages the complete records and stops at the
    damage."""
    import pytest

    from crawl4ai_spark.sources.warc import (
        build_warc_bytes,
        parse_warc_stream,
        pages_from_warc,
    )

    good = build_warc_bytes(_mk_records(3))
    torn = good + build_warc_bytes(_mk_records(1, tag="torn"))[:-30]
    with pytest.raises(ValueError, match="truncated"):
        list(parse_warc_stream(torn))
    assert len(list(parse_warc_stream(torn, strict=False))) == 3
    (tmp_path / "seg.warc").write_bytes(torn)
    lenient = pages_from_warc(spark, str(tmp_path / "*.warc"), strict=False)
    assert lenient.count() == 3


def test_warc_pages_feed_extraction(spark, tmp_path):
    """WARC input is a drop-in for the standard extract pipeline — the
    whole point of projecting onto the pages schema."""
    from crawl4ai_spark.sources.warc import build_warc_bytes, pages_from_warc

    recs = [
        ("response", "https://warc.example/h", "2024-01-01T00:00:00Z",
         b"<html><body><h1>Warc Title</h1><p>warc paragraph</p></body></html>")
    ]
    (tmp_path / "s.warc.gz").write_bytes(
        build_warc_bytes(recs, per_record_gzip=True)
    )
    pages = pages_from_warc(spark, str(tmp_path / "*.warc.gz"))
    md = extract_pages(pages).select(
        F.col("markdown.raw_markdown").alias("md")
    ).collect()
    assert len(md) == 1 and "# Warc Title" in md[0].md


def test_wet_conversion_records(spark, tmp_path):
    """WET segments (conversion records, text/plain payload, no HTTP
    wrapper) surface as (url, warc_ts, text) and feed the text datapipe
    directly."""
    from crawl4ai_spark.sources.warc import build_warc_bytes, texts_from_wet

    recs = [
        ("conversion", f"https://wet.example/{i}", f"2024-01-01T00:00:{i:02d}Z",
         f"extracted page text number {i}. second sentence here.".encode())
        for i in range(4)
    ]
    seg = build_warc_bytes(
        [("warcinfo", None, "2024-01-01T00:00:00Z", b"software: wet\r\n")]
        + recs,
        per_record_gzip=True,
    )
    (tmp_path / "s.warc.wet.gz").write_bytes(seg)
    wet = texts_from_wet(spark, str(tmp_path / "*.wet.gz"))
    rows = {r.url: r for r in wet.collect()}
    assert len(rows) == 4
    for i in range(4):
        r = rows[f"https://wet.example/{i}"]
        assert r.text == f"extracted page text number {i}. second sentence here."
        assert r.warc_ts.second == i

    from crawl4ai_spark.datapipe.textstats import lang_id_col, quality_score_col

    q = wet.select(
        "url",
        quality_score_col("text").alias("q"),
        lang_id_col("text").alias("lang"),
    ).collect()
    assert len(q) == 4 and all(r.q is not None and r.lang for r in q)


def test_warc_gzip_member_truncation_and_folded_headers(spark, tmp_path):
    """The real CC damage mode: per-record-gzip segment whose final
    member is cut mid-stream. Strict raises a named ValueError (never a
    raw EOFError out of the gzip module); lenient salvages every
    complete member's records. Also: ISO 28500 LWS-folded header values
    unfold instead of truncating the url and planting a garbage key."""
    import pytest

    from crawl4ai_spark.sources.warc import (
        build_warc_bytes,
        parse_warc_stream,
        pages_from_warc,
    )

    gz = build_warc_bytes(_mk_records(4), per_record_gzip=True)
    torn = gz[:-25]
    with pytest.raises(ValueError, match="gzip member"):
        list(parse_warc_stream(torn))
    assert len(list(parse_warc_stream(torn, strict=False))) == 3
    (tmp_path / "t.warc.gz").write_bytes(torn)
    lenient = pages_from_warc(spark, str(tmp_path / "t.warc.gz"), strict=False)
    assert lenient.count() == 3
    # corrupt middle member: salvage stops there, strict raises
    bad = gz[: len(gz) // 2] + b"\x00garbage\x00" + gz[len(gz) // 2:]
    with pytest.raises(ValueError, match="gzip member"):
        list(parse_warc_stream(bad))
    assert len(list(parse_warc_stream(bad, strict=False))) <= 3

    folded = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Target-URI: https://folded.example/very\r\n"
        b"\t/long/path\r\n"
        b"WARC-Date: 2024-01-01T00:00:05Z\r\n"
        b"Content-Type: application/http; msgtype=response\r\n"
        b"Content-Length: 43\r\n"
        b"\r\n"
        b"HTTP/1.1 200 OK\r\n\r\nbody bytes here..!!....."
        b"\r\n\r\n"
    )
    recs = list(parse_warc_stream(folded))
    assert len(recs) == 1
    assert recs[0]["url"] == "https://folded.example/very /long/path"
    assert recs[0]["warc_ts"].second == 5


def test_warc_sink_roundtrip(spark, tmp_path):
    """write_warc (distributed, one segment per partition, executor-side
    file bytes) roundtrips through pages_from_warc: same url/bytes/ts
    set, segment count = partition count, manifest counts match; empty
    partitions write nothing and leave no .inprogress litter."""
    import glob as _glob

    from crawl4ai_spark.sources.warc import pages_from_warc, write_warc

    src = spark.createDataFrame(
        [(f"https://sink.example/{i}",
          f"<html><body><p>sink doc {i}</p></body></html>".encode())
         for i in range(20)],
        "url string, html binary",
    ).select(
        "url",
        F.to_timestamp(F.lit("2024-03-01 12:00:00")).alias("warc_ts"),
        "html",
    )
    out = str(tmp_path / "out")
    manifest = write_warc(src.repartition(3), out).collect()
    assert sum(m.n_records for m in manifest) == 20
    assert len(manifest) == len(_glob.glob(out + "/part-*.warc.gz")) <= 3
    assert not _glob.glob(out + "/*.inprogress")
    back = pages_from_warc(spark, out + "/*.warc.gz")
    rows = {r.url: r for r in back.collect()}
    assert len(rows) == 20
    for i in range(20):
        r = rows[f"https://sink.example/{i}"]
        assert bytes(r.html) == f"<html><body><p>sink doc {i}</p></body></html>".encode()
        assert str(r.warc_ts) == "2024-03-01 12:00:00"
    # plain (non-gzip) layout and the http_status column
    src2 = src.withColumn("status", F.lit(404))
    out2 = str(tmp_path / "out2")
    write_warc(src2.repartition(2), out2, per_record_gzip=False,
               http_status_col="status").collect()
    assert pages_from_warc(spark, out2 + "/*.warc").count() == 0  # all 404
    assert pages_from_warc(spark, out2 + "/*.warc",
                           ok_status_only=False).count() == 20


def test_cdx_index_and_random_access(spark, tmp_path):
    """cdx_index records seekable (offset, length) ranges — compressed
    member ranges for the CC per-record-gzip layout, record byte ranges
    for plain segments — and records_from_cdx reads EXACTLY those ranges
    back into the full-scan result. SURT urlkeys group by reversed
    host."""
    from crawl4ai_spark.sources.warc import (
        build_warc_bytes,
        cdx_index,
        records_from_cdx,
        surt_key,
    )

    assert surt_key("https://sub.Example.com/A/b?q=1") == "com,example,sub)/a/b?q=1"
    assert surt_key("http://www.example.com/") == "com,example)/"
    assert surt_key("https://example.com") == "com,example)/"
    # query with no path must not leak into the host part of the key
    assert surt_key("https://example.com?q=1") == "com,example)/?q=1"
    # default ports drop; explicit ports sort after the reversed host
    assert surt_key("https://example.com:443/x") == "com,example)/x"
    assert surt_key("https://example.com:8080/x") == "com,example:8080)/x"
    # the fragment never reaches the server: dropped, and it ends the
    # authority like '/' and '?' do
    assert surt_key("https://example.com/a#sec") == "com,example)/a"
    assert surt_key("https://example.com#top") == "com,example)/"
    assert surt_key("https://example.com?q=1#f") == "com,example)/?q=1"
    assert surt_key("https://example.com#f/x?y") == "com,example)/"
    # a bracketed IPv6 literal is one label: not reversed on '.', and its
    # own colons are not a port
    assert surt_key("http://[2001:DB8::1]/x") == "[2001:db8::1])/x"
    assert surt_key("http://[2001:db8::1]:8080/x") == "[2001:db8::1]:8080)/x"
    assert surt_key("https://[::1]:443?q") == "[::1])/?q"
    assert surt_key("http://[::ffff:1.2.3.4]/") == "[::ffff:1.2.3.4])/"

    (tmp_path / "a.warc.gz").write_bytes(
        build_warc_bytes(_mk_records(4, tag="gz"), per_record_gzip=True)
    )
    (tmp_path / "b.warc").write_bytes(build_warc_bytes(_mk_records(3)))
    glob = str(tmp_path / "*.warc*")
    cdx = cdx_index(spark, glob)
    rows = cdx.collect()
    assert len(rows) == 7
    assert all(r.offset is not None and r.length > 0 for r in rows)
    assert all(r.urlkey.startswith("example,warc)/") for r in rows)
    assert all(r.cdx_ts.startswith("20240101000") for r in rows)
    # random access: pick 3 of 7 ranges, fetch, compare against full scan
    from crawl4ai_spark.sources.warc import warc_records

    want = {r.url for r in rows if r.url.endswith(("/doc0", "gzdoc1", "gzdoc3"))}
    sel = cdx.filter(F.col("url").isin(*want))
    got = records_from_cdx(spark, sel).collect()
    assert {r.url for r in got} == want
    full = {r.url: r for r in warc_records(spark, glob).collect()}
    for r in got:
        assert bytes(r.payload) == bytes(full[r.url].payload)
        assert r.warc_ts == full[r.url].warc_ts
        assert r.http_status == full[r.url].http_status


def test_records_from_cdx_local_paths(spark, tmp_path):
    """binaryFile reports a segment as 'file:' + the path as on disk, not
    percent-encoded, so the seek read must open it undecoded: a directory
    with a space and one literally named with '%20' both round-trip. A
    non-local scheme is refused by name."""
    from crawl4ai_spark.sources.warc import (
        _local_path,
        build_warc_bytes,
        cdx_index,
        records_from_cdx,
        warc_records,
    )

    for name in ("crawl segments", "crawl%20segments"):
        seg_dir = tmp_path / name
        seg_dir.mkdir()
        (seg_dir / "a.warc.gz").write_bytes(
            build_warc_bytes(_mk_records(3, tag="sp"), per_record_gzip=True)
        )
        glob = str(seg_dir / "*.warc.gz")
        cdx = cdx_index(spark, glob)
        assert all(f"/{name}/" in r.segment for r in cdx.collect())
        got = {r.url: bytes(r.payload)
               for r in records_from_cdx(spark, cdx).collect()}
        want = {r.url: bytes(r.payload)
                for r in warc_records(spark, glob).collect()}
        assert got == want and len(got) == 3

    assert _local_path("file:///data/a%20b/x.warc") == "/data/a%20b/x.warc"
    assert _local_path("file:/data/x.warc") == "/data/x.warc"
    assert _local_path("/data/a b/x.warc") == "/data/a b/x.warc"
    for uri in ("hdfs://nn:8020/seg/x.warc.gz", "s3a://bucket/x.warc.gz"):
        with pytest.raises(ValueError, match="local filesystem"):
            _local_path(uri)


def test_warc_roundtrip_property():
    """Property fuzz (no Spark): ANY record list survives
    build_warc_bytes -> parse_warc_stream byte-exactly, in both layouts —
    arbitrary binary payloads (CRLFs, fake WARC headers, gzip magic
    inside bodies must not confuse the framing), every record type, and
    offset ranges that re-parse to the same record. URLs include
    non-ASCII characters, which the writer stores as UTF-8."""
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    from crawl4ai_spark.sources.warc import build_warc_bytes, parse_warc_stream

    url_chars = st.text(
        alphabet="abcdefghijklmnopqrstuvwxyz0123456789/.-_?&=%~éß漢字ü",
        min_size=1, max_size=40,
    )
    record = st.tuples(
        st.sampled_from(["response", "request", "warcinfo", "conversion"]),
        url_chars.map(lambda s: f"https://fuzz.example/{s}"),
        st.integers(min_value=0, max_value=59).map(
            lambda s: f"2024-01-01T00:00:{s:02d}Z"
        ),
        st.binary(max_size=200),
    )

    @given(st.lists(record, max_size=8), st.booleans())
    @example([("response", "https://fuzz.example/ünï/漢字?q=é",
               "2024-01-01T00:00:07Z", b"x"),
              ("request", "https://fuzz.example/straße",
               "2024-01-01T00:00:08Z", b"")], True)
    @settings(max_examples=150, deadline=None)
    def check(recs, gz):
        data = build_warc_bytes(recs, per_record_gzip=gz)
        out = list(parse_warc_stream(data, with_offsets=True))
        assert len(out) == len(recs)
        for (rtype, url, date, payload), r in zip(recs, out):
            assert r["record_type"] == rtype
            assert r["url"] == url
            assert r["payload"] == payload
            assert r["warc_ts"].second == int(date[-3:-1])
            assert r["http_status"] == (200 if rtype == "response" else None)
            # the recorded byte range re-parses to the very same record
            assert r["offset"] is not None
            sl = data[r["offset"]:r["offset"] + r["length"]]
            again = list(parse_warc_stream(sl))
            assert len(again) == 1 and again[0]["payload"] == payload

    check()


def test_gunzip_many_members_records_and_offsets():
    """A per-record-gzip segment of several thousand members — some
    larger than the gunzip window — parses to the same records as its
    plain twin, and every record's offset/length is exactly its own
    compressed member's byte range."""
    import gzip as _gzip
    import random

    from crawl4ai_spark.sources.warc import (
        build_warc_bytes,
        build_warc_record,
        parse_warc_stream,
    )

    rng = random.Random(11)
    recs = []
    for i in range(3000):
        size = 40_000 if i % 500 == 7 else rng.randint(0, 600)
        recs.append((
            "response" if i % 3 else "warcinfo",
            f"https://m{i % 37}.example/p{i}",
            "2024-01-01T00:00:00Z",
            rng.randbytes(size),
        ))
    members = [_gzip.compress(build_warc_record(*r)) for r in recs]
    data = b"".join(members)
    plain = list(parse_warc_stream(build_warc_bytes(recs)))
    out = list(parse_warc_stream(data, with_offsets=True))
    assert len(out) == len(plain) == len(recs)
    offset = 0
    for member, p, r in zip(members, plain, out):
        assert (r["offset"], r["length"]) == (offset, len(member))
        assert {k: r[k] for k in p} == p
        offset += len(member)


def test_cdx_whole_stream_gzip_not_seekable(spark, tmp_path):
    """A whole-stream-gzip segment (records NOT aligned with members)
    must index every record as offset=None — including the FIRST record,
    whose start collides with the single member's uncompressed offset 0.
    Otherwise a selection naming just that record would fetch the whole
    segment."""
    import gzip as _gzip

    from crawl4ai_spark.sources.warc import (
        build_warc_bytes,
        cdx_index,
        records_from_cdx,
    )

    whole = _gzip.compress(build_warc_bytes(_mk_records(3)))
    (tmp_path / "whole.warc.gz").write_bytes(whole)
    cdx = cdx_index(spark, str(tmp_path / "*.warc.gz"))
    rows = cdx.collect()
    assert len(rows) == 3
    assert all(r.offset is None for r in rows)
    assert records_from_cdx(spark, cdx).count() == 0  # nothing seekable


def test_warc_sink_retry_idempotent(spark, tmp_path):
    """Deterministic per-partition names + atomic replace: running the
    same write twice into the same dir yields the same file set and the
    same rows — a task retry or job rerun can never double records."""
    import glob as _glob

    from crawl4ai_spark.sources.warc import pages_from_warc, write_warc

    src = spark.createDataFrame(
        [(f"https://r.example/{i}", f"<p>{i}</p>".encode()) for i in range(10)],
        "url string, html binary",
    ).select(
        "url",
        F.to_timestamp(F.lit("2024-03-01 12:00:00")).alias("warc_ts"),
        "html",
    ).repartition(2)
    out = str(tmp_path / "out")
    write_warc(src, out).collect()
    first = sorted(_glob.glob(out + "/part-*"))
    write_warc(src, out).collect()  # the "retry"
    assert sorted(_glob.glob(out + "/part-*")) == first
    assert pages_from_warc(spark, out + "/*.warc.gz").count() == 10


def test_crawl_loop_over_warc_corpus(spark, tmp_path):
    """Full circle: a WARC-backed pages table drives the actual crawl
    loop — seeds, link discovery, BFS frontier iterations, markdown
    results — with zero adaptation, because pages_from_warc emits the
    standard pages schema. This is the 'switch a CC drop into the
    engine' path end to end."""
    from crawl4ai_spark.plans.crawl import CrawlConfig, CrawlRun
    from crawl4ai_spark.sources.synthetic import build_robots
    from crawl4ai_spark.sources.warc import build_warc_bytes, pages_from_warc

    def page(i):
        kids = [2 * i + 1, 2 * i + 2]
        links = "".join(
            f'<a href="https://warcsite.example/p{k}">k{k}</a>'
            for k in kids if k < 6
        )
        return (
            "response",
            f"https://warcsite.example/p{i}",
            f"2024-01-01T00:00:{i:02d}Z",
            f"<html><body><h1>Page {i}</h1>{links}</body></html>".encode(),
        )

    (tmp_path / "s0.warc").write_bytes(build_warc_bytes([page(i) for i in range(3)]))
    (tmp_path / "s1.warc.gz").write_bytes(
        build_warc_bytes([page(i) for i in range(3, 6)], per_record_gzip=True)
    )
    pages = pages_from_warc(spark, str(tmp_path / "s*")).cache()
    seeds = spark.createDataFrame(
        [("https://warcsite.example/p0",)], "url string"
    )
    run = CrawlRun(
        spark, pages, build_robots(spark), seeds,
        str(tmp_path / "wd"),
        CrawlConfig(mode="bfs", max_pages=10),
    )
    run.run(max_iterations=5)
    got = {
        r.url: r.depth
        for r in run.results().filter("success").select("url", "depth").collect()
    }
    # the binary-tree reachability: p0 at depth 0, p1/p2 at 1, p3..p5 at 2
    assert got == {
        "https://warcsite.example/p0": 0,
        "https://warcsite.example/p1": 1,
        "https://warcsite.example/p2": 1,
        "https://warcsite.example/p3": 2,
        "https://warcsite.example/p4": 2,
        "https://warcsite.example/p5": 2,
    }
    md = run.results().filter("success").select("raw_markdown").collect()
    assert all("# Page" in r.raw_markdown for r in md)
