"""The per-page extract kernel against the string composition it replaces.

``plans.extract.extract_page`` tokenizes a page once and walks scrape's
tree for markdown, pruning and fit markdown. The public string functions
(``scrape_page``, ``generate_markdown_parts``, ``prune_fit_html``,
``html_to_markdown``) stay the reference: the goldens and the contract
oracles run them. Every test here composes that reference and asserts the
kernel equals it field for field.
"""

from __future__ import annotations

import importlib.util
import os
import random
from html.parser import HTMLParser

import pytest

from crawl4ai_spark.html.markdown import generate_markdown_parts, html_to_markdown
from crawl4ai_spark.html.md_fixtures import FIXTURE_BASE, FIXTURES
from crawl4ai_spark.html.parser import parse_html
from crawl4ai_spark.html.pruning import prune_fit_html
from crawl4ai_spark.html.scrape import _scrape_tree, scrape_page
from crawl4ai_spark.plans.extract import extract_page
from test_extract_fuzz import FRAGMENTS

URL = "https://ex.example/a/b"


def _reference(doc: str, url: str) -> dict:
    s = scrape_page(doc, url)
    cleaned = s["cleaned_html"]
    raw, cited, refs = generate_markdown_parts(cleaned, url)
    _, fit_html = prune_fit_html(cleaned)
    return {
        **s,
        "raw_markdown": raw,
        "markdown_with_citations": cited,
        "references_markdown": refs,
        "fit_markdown": html_to_markdown(fit_html, url) if fit_html else "",
        "fit_html": fit_html,
    }


def _shape(node):
    if node.is_text:
        return node.attrs["text"]
    return (node.tag, sorted(node.attrs.items()), [_shape(c) for c in node.children])


def _assert_same(doc: str, url: str = URL) -> bool:
    """Kernel == reference; the normalized tree == the re-parsed
    cleaned_html. Returns whether the kernel walked the tree."""
    want = _reference(doc, url)
    got = extract_page(doc, url)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == want[k], (k, doc)
    scraped, root = _scrape_tree(doc, url)
    if root is not None:
        assert _shape(root) == _shape(parse_html(scraped["cleaned_html"])), doc
    return root is not None


def _ingest_pages(seed: int) -> list[tuple[str, str]]:
    """The benchmark's locally generated pages (2-200 KB, nested)."""
    path = os.path.join(os.path.dirname(__file__), "..", "perfbench", "inputs.py")
    spec = importlib.util.spec_from_file_location("_perfbench_inputs", path)
    inputs = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(inputs)
    caps = inputs.warc_captures(seed, 100, 24, 0.8, 2, 200, 0.1)
    return [(c["body"].decode("utf-8", errors="replace"), c["url"]) for c in caps]


def test_markdown_fixtures_bare_and_wrapped():
    for doc in FIXTURES:
        _assert_same(doc, FIXTURE_BASE)
        _assert_same(f"<html><body>{doc}</body></html>", FIXTURE_BASE)


def test_prune_fixtures():
    from crawl4ai_spark.html import prune_fixtures as pf

    for doc in (pf.BASIC_HTML, pf.LINK_HEAVY_HTML, pf.MIXED_CONTENT_HTML,
                pf.DISCRIMINATING_HTML, pf.MALFORMED_HTML):
        _assert_same(doc)


def test_generated_pages():
    for doc, url in _ingest_pages(1)[:40]:
        assert _assert_same(doc, url)


def test_synthetic_corpus_pages(sf_dir):
    if not os.path.isdir(sf_dir):
        pytest.skip("synthetic test data absent")
    import duckdb

    from crawl4ai_spark.sources.synthetic import pages_sql

    con = duckdb.connect()
    docs = os.path.join(sf_dir, "documents.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
    rows = con.execute(
        f"SELECT url, html_str FROM ({pages_sql('duckdb')}) "
        "WHERE doc_id < 300 ORDER BY url"
    ).fetchall()
    assert len(rows) == 300
    for url, doc in rows:
        _assert_same(doc, url)


def test_fit_filter_options_match():
    """The fit branches other than the default: pruning knobs, bm25, none."""
    from crawl4ai_spark.plans.extract import _markdown_dict

    rng = random.Random(3)
    docs = [doc for doc, _ in _ingest_pages(2)[:10]]
    docs += ["".join(rng.choice(FRAGMENTS) for _ in range(30)) for _ in range(50)]
    for kw in (
        {"fit_filter": "pruning", "threshold_type": "dynamic", "min_word_threshold": 3},
        {"fit_filter": "pruning", "threshold": 0.2},
        {"fit_filter": "bm25"},
        {"fit_filter": None},
    ):
        for doc in docs:
            s = scrape_page(doc, URL)
            assert extract_page(doc, URL, **kw) == {
                **s, **_markdown_dict(s["cleaned_html"], URL, **kw)
            }, (kw, doc)
    with pytest.raises(ValueError):
        extract_page("<p>x</p>", URL, fit_filter="nope")


@pytest.mark.parametrize(
    "doc",
    [
        # script/style kept under a blank-href <a> (never walked) and inside
        # <video> (children not walked): the tokenizer reads them as CDATA
        '<a href=""><script>if (a < b && c > d) x = "&amp;";</script>go</a>',
        "<a href=' '><style>p  >  b { x:1 }\n\n</style>text</a>",
        "<video src='v.mp4'><script>var s='<p>'</script><style>a&b</style>t</video>",
        "<p>lead</p><a href=''><b>bold</b><script>x</script></a>",
        # markup characters in text
        "<p>a & b < c > d &amp; e &lt;f&gt;</p>",
        "<p>&</p><p><</p><p>></p><p>&amp;lt;</p>",
        "<p>x<b>&amp;</b>&gt;y</p>",
        # double spaces and blank lines in text and attribute values
        "<p>a  b\n\nc   d\n\n\ne</p>",
        "<pre>line  one\n\n\nline two</pre>",
        "<a href='/x  y' title='t  \n\n t'>link  text</a><img src='a.png' "
        "alt='a  b\n\nc' width=200 height=300>",
        # whitespace at body level
        "  \n\n lead text <p>para</p> trail text \n\n ",
        "\xa0 nbsp lead <p>p</p>\xa0",
        "   ",
        "<p>only</p>   ",
        # adjacent runs left by a detached element, in scrape and after pruning
        "<div>before <script>x</script> after</div>",
        "<p>one<img>two</p>",
        "<div><p>keep this paragraph with plenty of words in it</p>a"
        "<nav>menu</nav>b<p>and another long paragraph of text here</p></div>",
        "<article>text<aside>side</aside>more text<form>f</form>end text "
        "that is long enough to survive pruning</article>",
        "<div><p>A paragraph with enough words in it to survive the pruning "
        "pass: <a href='http://a.example/x'>http://a.example<nav>menu</nav>/x"
        "</a> and path\\<nav>n</nav>.txt after it.</p></div>",
        # a nested <body>, an empty body
        "<html><body><div><body><p>inner body text</p></body></div></body></html>",
        "<body><p>x</p><body>nested</body></body>",
        "<html><body></body></html>",
        "",
    ],
)
def test_edge_cases(doc):
    _assert_same(doc)


def test_unreplayable_tag_name_falls_back():
    """A tag name ending in a Unicode space reads back from its end tag as
    a different name; the kernel takes the string path for such a page."""
    assert not _assert_same("<p>a<b\xa0>x</b\xa0>y</p>")


def test_grammar_documents_match():
    """The crash fuzz's fragment grammar, hypothesis-driven."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    extra = st.sampled_from([
        "&lt;", "&gt;", "a & b", "x<y", "y>z", "\n\n\n", "   ", "<section>",
        "</section>", "<nav>", "</nav>", "<div>", "</div>", "<a href=''>",
        "<a href='/p'>", "<video src='v.mp4'>", "</video>", "<body>",
        "</body>", "<p title='t  \n\n t'>", "<b>", "</b>", "<h2>", "</h2>",
    ])

    @settings(max_examples=300, deadline=None)
    @given(st.lists(st.one_of(st.sampled_from(FRAGMENTS), extra), max_size=40))
    def check(parts):
        _assert_same("".join(parts))

    check()


def test_page_is_tokenized_once(monkeypatch):
    """One non-empty ``HTMLParser.feed`` per page on the kernel; the string
    composition makes four (scrape, raw markdown, pruning, fit markdown)."""
    calls = []
    real_feed = HTMLParser.feed

    def spy(self, data):
        if data:
            calls.append(type(self).__name__)
        return real_feed(self, data)

    monkeypatch.setattr(HTMLParser, "feed", spy)
    doc, url = _ingest_pages(1)[0]
    out = extract_page(doc, url)
    assert out["fit_markdown"] and out["raw_markdown"]
    assert len(calls) == 1
    calls.clear()
    _reference(doc, url)
    assert len(calls) == 4
