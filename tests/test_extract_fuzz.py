"""Crash-freedom fuzz for the extraction kernels (scrape → markdown →
fit-prune → BM25 chunking).

These functions run inside Arrow-batch UDF tasks over crawled HTML — at
100 TB an unhandled exception on ONE pathological page fails its task,
and after Spark's retry budget, the whole job. Parity with the reference
is covered by the golden/differential batteries (test_markdown_parity,
test_pruning_parity); this file only asserts the executor-side contract:
never raise, always return the schema shape, whatever bytes arrive.
Same pattern as the naive-PDF-parser fuzz in test_pdf.py.
"""

from __future__ import annotations

from crawl4ai_spark.html.bm25_filter import bm25_score_all_chunks
from crawl4ai_spark.plans.extract import extract_page

# tag-soup fragments biased toward the parser's edge cases
FRAGMENTS = [
    "<p>", "</p>", "<table>", "<tr>", "<td>", "</table>", "<li>",
    "<ul>", "</ol>", "<pre>", "<code>", "</pre>", "<blockquote>",
    "<a href='h ttp://x'>", "<a href=>", "<a href='java&#00;script:a'>",
    "</a>", "<img src='data:image/png;base64,AAAA'>", "<img>",
    "<script>var a='<p>';", "</script>", "<style>p{", "</style>",
    "<!--", "-->", "<![CDATA[", "]]>", "<!DOCTYPE", ">", "<",
    "<head>", "<title>", "</title>", "<meta name='a' content='b'",
    "<body onload=x>", "<h1>", "</h6>", "<br/>", "<hr>",
    "&amp;", "&#xZZ;", "&#1114112;", "&nosuch;", "\x00", " ",
    "text ", "  ", "\n\n", "|", "`", "[", "](", ")", "\\", "*_*",
    "<div class='x", "'>", "<span id=\"", "\">", "<q cite='",
    "<form><input>", "</form>", "<iframe src='x'>", "</iframe>",
]

_SCRAPE_KEYS = {
    "cleaned_html", "text", "links", "media", "tables", "metadata",
    "lang", "success",
}


def _drive_chain(doc: str, url: str) -> None:
    """One page through the per-page kernel the extract UDFs run, then the
    BM25 chunker."""
    out = extract_page(doc, url)
    assert _SCRAPE_KEYS <= set(out)
    assert isinstance(out["links"], list)
    for k in ("raw_markdown", "markdown_with_citations", "references_markdown",
              "fit_markdown", "fit_html"):
        assert isinstance(out[k], str)
    for _idx, _txt, tag, s in bm25_score_all_chunks(doc, use_stemming=False):
        assert isinstance(tag, str) and isinstance(s, float)


def test_arbitrary_text_never_raises():
    """Totally unstructured unicode — mojibake, control chars, stray
    brackets — through the full chain, with equally hostile URLs."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=250, deadline=None)
    @given(st.text(max_size=300), st.text(max_size=60))
    def check(doc, url):
        _drive_chain(doc, url)

    check()


def test_grammar_biased_html_never_raises():
    """Tag-soup biased toward the parser's edge cases: unterminated
    comments/CDATA/script, misnested tables and lists, declaration junk,
    entity fragments, NULs, base64 imgs, malformed attributes."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    frag = st.sampled_from(FRAGMENTS)

    @settings(max_examples=250, deadline=None)
    @given(st.lists(frag, max_size=30))
    def check(parts):
        _drive_chain("".join(parts), "https://fuzz.example/a/b?c=d")

    check()
