"""PDF blob processing (datapipe/pdf.py). The driver's blob_suite pdf leg
value-checks the happy path over synthesized two-page PDFs; these cover the
parser edges: escapes, ordering, non-PDF blobs, metadata last-wins,
/FlateDecode streams, and the mapInPandas explosion schema."""

from __future__ import annotations

import zlib

from crawl4ai_spark.datapipe.pdf import (
    extract_pdf_pages,
    parse_pdf_metadata,
    parse_pdf_pages,
    pdf_doc_summary,
)

PDF = (
    b"%PDF-1.4\n/Title (First \\(draft\\))\n/Author (A\\\\B)\n"
    b"stream\nBT (Hello) Tj (world) Tj ET\n"
    b"BT [(ke) -120 (rned)] TJ ET\n"
    b"/URI (https://a.test/x)\n/URI (https://b.test/y)\nendstream\n"
    b"stream\nBT (page two) Tj ET\nendstream\n"
    b"/Title (Final)\n"
)


class TestNaiveParser:
    def test_pages_text_and_links(self):
        pages = parse_pdf_pages(PDF)
        assert [p["page_number"] for p in pages] == [1, 2]
        # Tj strings join with spaces; TJ arrays concatenate (kerning
        # numbers ignored); BT blocks join with newlines
        assert pages[0]["text"] == "Hello world\nkerned"
        assert pages[0]["links"] == ["https://a.test/x", "https://b.test/y"]
        assert pages[1]["text"] == "page two"
        assert pages[1]["links"] == []

    def test_escapes_unescaped(self):
        data = b"%PDF-1.4\nstream\nBT (a\\(b\\)c \\\\ d) Tj ET\nendstream\n"
        assert parse_pdf_pages(data)[0]["text"] == "a(b)c \\ d"

    def test_non_pdf_has_no_pages(self):
        assert parse_pdf_pages(b"<html>not a pdf</html>") == []
        assert parse_pdf_pages(b"") == []

    def test_metadata_last_wins_and_defaults(self):
        meta = parse_pdf_metadata(PDF)
        assert meta["title"] == "Final"  # updated copy wins
        assert meta["author"] == "A\\B"
        assert meta["subject"] == ""
        m0 = parse_pdf_metadata(b"plain bytes")
        assert m0 == {"title": "", "author": "", "subject": "", "producer": ""}

    def test_empty_bt_blocks_skipped(self):
        data = b"%PDF-1.4\nstream\nBT ET\nBT (x) Tj ET\nendstream\n"
        assert parse_pdf_pages(data)[0]["text"] == "x"


class TestSparkPlumbing:
    def test_explosion_and_summary(self, spark):
        df = spark.createDataFrame(
            [("u1", bytearray(PDF)), ("u2", bytearray(b"<html>no</html>"))],
            "url string, blob binary",
        )
        pages = extract_pdf_pages(df).collect()
        # non-PDF rows vanish from the explosion; u1 yields its two pages
        assert sorted((r["url"], r["page_number"]) for r in pages) == [
            ("u1", 1), ("u1", 2)
        ]
        by_page = {r["page_number"]: r for r in pages}
        assert by_page[1]["n_links"] == 2
        assert by_page[1]["links"] == ["https://a.test/x", "https://b.test/y"]

        summary = {r["url"]: r.asDict() for r in pdf_doc_summary(df).collect()}
        assert summary["u1"]["is_pdf"] and summary["u1"]["n_pages"] == 2
        assert summary["u1"]["total_links"] == 2
        assert summary["u1"]["pdf_title"] == "Final"
        assert summary["u1"]["page_digests"].count("|") == 1
        # the non-PDF doc stays visible with zeroes
        assert summary["u2"] == {
            "url": "u2", "is_pdf": False, "n_pages": 0,
            "page_digests": "", "total_links": 0, "pdf_title": "",
        }


class TestFuzzRobustness:
    """The naive parser runs inside executor tasks over arbitrary crawled
    bytes — it must never raise, whatever the input."""

    def test_arbitrary_bytes_never_raise(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=300, deadline=None)
        @given(st.binary(max_size=400))
        def check(data):
            pages = parse_pdf_pages(data)
            assert isinstance(pages, list)
            for p in pages:
                assert isinstance(p["text"], str)
                assert isinstance(p["links"], list)
            meta = parse_pdf_metadata(data)
            assert set(meta) == {"title", "author", "subject", "producer"}

        check()

    def test_pdf_prefixed_structures_never_raise(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        # bias the fuzz toward the grammar: magic + stream/BT/Tj fragments
        frag = st.sampled_from([
            b"stream\n", b"endstream", b"BT ", b"ET", b"(x) Tj", b"[(y)] TJ",
            b"/URI (u)", b"(", b")", b"\\", b"\n", b"/Title (t)", b"abc",
        ])

        @settings(max_examples=300, deadline=None)
        @given(st.lists(frag, max_size=20))
        def check(parts):
            data = b"%PDF-1.4\n" + b"".join(parts)
            for p in parse_pdf_pages(data):
                assert p["page_number"] >= 1
            parse_pdf_metadata(data)

        check()


def _pdf_obj(num: int, content: bytes, flate: bool) -> bytes:
    if flate:
        content = zlib.compress(content)
    filt = b" /Filter /FlateDecode" if flate else b""
    return (
        b"%d 0 obj\n<< /Length %d%s >>\nstream\n" % (num, len(content), filt)
        + content + b"\nendstream\nendobj\n"
    )


PAGE_1 = (
    b"BT (Hello) Tj (world) Tj ET\nBT [(ke) -120 (rned)] TJ ET\n"
    b"/URI (https://a.test/x)\n/URI (https://b.test/y)\n"
)
PAGE_2 = b"BT (page two) Tj ET\n"


def _two_pages(flate: bool) -> bytes:
    return (
        b"%PDF-1.4\n" + _pdf_obj(1, PAGE_1, flate) + _pdf_obj(2, PAGE_2, flate)
        + b"/Title (Final)\n"
    )


class TestFlateDecode:
    def test_compressed_twin_parses_like_uncompressed(self):
        plain = parse_pdf_pages(_two_pages(flate=False))
        assert [p["text"] for p in plain] == ["Hello world\nkerned", "page two"]
        assert parse_pdf_pages(_two_pages(flate=True)) == plain
        # the filter is read per stream: a mixed document decodes both
        mixed = b"%PDF-1.4\n" + _pdf_obj(1, PAGE_1, True) + _pdf_obj(2, PAGE_2, False)
        assert parse_pdf_pages(mixed) == plain
        assert parse_pdf_metadata(_two_pages(flate=True))["title"] == "Final"

    def test_corrupt_or_truncated_stream_is_empty(self):
        good = zlib.compress(PAGE_2)
        for raw in (b"not deflate at all", good[: len(good) // 2]):
            data = (
                b"%PDF-1.4\n1 0 obj\n<< /Filter /FlateDecode >>\nstream\n"
                + raw + b"\nendstream\nendobj\n"
            )
            assert parse_pdf_pages(data) == [
                {"page_number": 1, "text": "", "links": []}
            ]

    def test_inflate_past_the_cap_is_empty(self, monkeypatch):
        import crawl4ai_spark.datapipe.pdf as pdf_mod

        padded = PAGE_2 + b" " * 4096
        data = b"%PDF-1.4\n" + _pdf_obj(1, padded, flate=True)
        assert parse_pdf_pages(data)[0]["text"] == "page two"
        monkeypatch.setattr(pdf_mod, "_MAX_INFLATED", 1024)
        assert parse_pdf_pages(data)[0]["text"] == ""

    def test_arbitrary_flate_streams_never_raise(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=200, deadline=None)
        @given(st.binary(max_size=300))
        def check(raw):
            data = (
                b"%PDF-1.4\n1 0 obj\n<< /Filter /FlateDecode >>\nstream\n"
                + raw + b"endstream\n"
            )
            for p in parse_pdf_pages(data):
                assert isinstance(p["text"], str)

        check()
