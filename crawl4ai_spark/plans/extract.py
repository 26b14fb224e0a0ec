"""M1 — the extraction job: pages → scrape → markdown/fit columns.

This is the Spark restatement of the reference's ``aprocess_html``
(behavioral spec: /root/reference/crawl4ai/async_webcrawler.py:433-648):
scrape → fit_html preprocess → markdown (raw / citations / references / fit)
as ONE select over Arrow pandas UDFs. Each UDF call receives a whole Arrow
batch of pages (spark.sql.execution.arrow.maxRecordsPerBatch), so Python
overhead amortizes across pages; all orchestration stays in Catalyst.

The fused UDF's per-page kernel, ``extract_page``, tokenizes a page once;
the string functions it replaces (``scrape_page`` + ``_markdown_dict``) are
the reference it equals field for field, and what the goldens and oracles run.

Scale notes: the UDFs are CPU-bound and embarrassingly parallel — they scale
linearly with cores and need no shuffle. The only shuffle in the whole
extraction job is whatever partitioning the caller chose upstream.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawl4ai_spark.html.markdown import (
    generate_markdown_parts,
    html_to_markdown,
    links_to_citations,
    tree_to_markdown,
)
from crawl4ai_spark.html.pruning import fit_nodes, prune_fit_html, prune_tree
from crawl4ai_spark.html.scrape import _scrape_tree, scrape_page
from crawl4ai_spark.schema import (
    EXTRACT_RESULT_STRUCT,
    MARKDOWN_RESULT_STRUCT,
    SCRAPE_RESULT_STRUCT,
)

_EMPTY_SCRAPE = {
    "cleaned_html": None, "text": None, "links": [], "media": [],
    "tables": [], "metadata": {}, "lang": None, "success": False,
}
_EMPTY_MARKDOWN = {
    "raw_markdown": None, "markdown_with_citations": None,
    "references_markdown": None, "fit_markdown": None, "fit_html": None,
}


def _decode(h):
    """Page bytes (the WARC/fetch columns are binary) → str."""
    if isinstance(h, (bytes, bytearray)):
        return bytes(h).decode("utf-8", errors="replace")
    return h


def _fit_html(cleaned_html: str, fit_filter: str | None, fit_kwargs: dict) -> str:
    """fit_html for ``fit_filter``: 'pruning' (PruningContentFilter, the
    common default), 'bm25' (accepts user_query/bm25_threshold/use_stemming
    kwargs), or None (reference default: empty fit output)."""
    if fit_filter == "pruning":
        return prune_fit_html(cleaned_html, **fit_kwargs)[1]
    if fit_filter == "bm25":
        from crawl4ai_spark.html.bm25_filter import bm25_filter_content

        blocks = bm25_filter_content(cleaned_html, **fit_kwargs)
        return "\n".join(f"<div>{b}</div>" for b in blocks)
    if fit_filter is None:
        return ""
    raise ValueError(f"unknown fit_filter: {fit_filter!r}")


def _markdown_dict(
    cleaned_html: str, url: str, fit_filter: str = "pruning", **fit_kwargs
) -> dict:
    """The generator pipeline per page over the cleaned_html string."""
    raw, cited, refs = generate_markdown_parts(cleaned_html, url or "")
    fit_html = _fit_html(cleaned_html, fit_filter, fit_kwargs)
    return {
        "raw_markdown": raw,
        "markdown_with_citations": cited,
        "references_markdown": refs,
        "fit_markdown": html_to_markdown(fit_html, url or "") if fit_html else "",
        "fit_html": fit_html,
    }


def extract_page(
    html: str, url: str, fit_filter: str | None = "pruning", **fit_kwargs
) -> dict:
    """The per-page extract kernel: markdown, pruning (in place) and fit
    markdown walk scrape's tree. 'bm25', and a page ``_scrape_tree`` has no
    tree for, read the cleaned_html string instead."""
    url = url or ""
    scraped, root = _scrape_tree(html, url)
    cleaned = scraped["cleaned_html"]
    if root is None:
        return {**scraped, **_markdown_dict(cleaned, url, fit_filter, **fit_kwargs)}
    raw = tree_to_markdown(root.children, url)
    cited, refs = links_to_citations(raw, url)
    if fit_filter == "pruning":
        nodes = fit_nodes(prune_tree(root, **fit_kwargs))
        fit_html = "".join(n.serialize() for n in nodes)
        fit_md = tree_to_markdown(nodes, url) if nodes else ""
    else:
        fit_html = _fit_html(cleaned, fit_filter, fit_kwargs)
        fit_md = html_to_markdown(fit_html, url) if fit_html else ""
    return {
        **scraped,
        "raw_markdown": raw,
        "markdown_with_citations": cited,
        "references_markdown": refs,
        "fit_markdown": fit_md,
        "fit_html": fit_html,
    }


def make_scrape_udf(**scrape_kwargs):
    """Scrape UDF with the full config surface (excluded_tags,
    excluded_selector, keep_attrs, word_count_threshold, exclusion knobs —
    see html.scrape.scrape_page) baked in. html may be binary or string."""

    @F.pandas_udf(SCRAPE_RESULT_STRUCT)
    def scrape(html: pd.Series, url: pd.Series) -> pd.DataFrame:
        return pd.DataFrame([
            dict(_EMPTY_SCRAPE) if h is None
            else scrape_page(_decode(h), u or "", **scrape_kwargs)
            for h, u in zip(html, url)
        ])

    return scrape


def make_extract_udf(fit_filter: str | None = "pruning", **fit_kwargs):
    """Fused scrape + markdown UDF — the hot path — with a configurable fit
    content filter ('pruning' | 'bm25' | None — the reference's pluggable
    content_filter). One Python call and one Arrow round trip per batch;
    the intermediate cleaned_html never crosses the JVM boundary."""

    @F.pandas_udf(EXTRACT_RESULT_STRUCT)
    def extract(html: pd.Series, url: pd.Series) -> pd.DataFrame:
        return pd.DataFrame([
            {**_EMPTY_SCRAPE, **_EMPTY_MARKDOWN} if h is None
            else extract_page(_decode(h), u, fit_filter, **fit_kwargs)
            for h, u in zip(html, url)
        ])

    return extract


scrape_udf = make_scrape_udf()
extract_udf = make_extract_udf()


@F.pandas_udf(MARKDOWN_RESULT_STRUCT)
def markdown_udf(cleaned_html: pd.Series, url: pd.Series) -> pd.DataFrame:
    return pd.DataFrame([
        dict(_EMPTY_MARKDOWN) if h is None else _markdown_dict(h, u)
        for h, u in zip(cleaned_html, url)
    ])


_BM25_CHUNKS_STRUCT = T.ArrayType(
    T.StructType(
        [
            T.StructField("chunk_idx", T.LongType()),
            T.StructField("tag", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
)


@F.pandas_udf(_BM25_CHUNKS_STRUCT)
def bm25_chunks_udf(html: pd.Series) -> pd.Series:
    """Every text chunk of each page with its tag and tag-weighted BM25
    score (full T14 filter pipeline, stemming off for oracle exactness)."""
    from crawl4ai_spark.html.bm25_filter import bm25_score_all_chunks

    rows = []
    for h in html:
        scored = bm25_score_all_chunks(h or "", use_stemming=False)
        rows.append(
            [{"chunk_idx": i, "tag": tag, "score": s} for i, _, tag, s in scored]
        )
    return pd.Series(rows, dtype="object")


_MARKDOWN_PARTS_STRUCT = T.StructType(
    [
        T.StructField("raw_markdown", T.StringType()),
        T.StructField("markdown_with_citations", T.StringType()),
        T.StructField("references_markdown", T.StringType()),
    ]
)


@F.pandas_udf(_MARKDOWN_PARTS_STRUCT)
def markdown_parts_udf(doc: pd.Series, url: pd.Series) -> pd.DataFrame:
    """Markdown GENERATOR surface alone (no scrape): html → (raw, cited,
    refs). This is the byte-parity boundary golden-checked against the
    executing reference generator — see tools/gen_markdown_goldens.py."""
    return pd.DataFrame(
        [(None, None, None) if h is None else generate_markdown_parts(_decode(h), u or "")
         for h, u in zip(doc, url)],
        columns=_MARKDOWN_PARTS_STRUCT.fieldNames(),
    )


def extract_pages(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    fit_filter: str | None = "pruning",
    **fit_kwargs,
) -> DataFrame:
    """pages(url, html, ...) → + scrape struct + markdown struct columns.

    Output columns: everything in ``pages`` plus
    ``scrape:  struct<cleaned_html,text,links,media,tables,metadata,lang,success>``
    ``markdown: struct<raw_markdown,markdown_with_citations,references_markdown,fit_markdown,fit_html>``

    Internally runs the FUSED extract UDF (one Arrow round trip) and
    re-nests the flat result into the two structs JVM-side (free).
    ``fit_filter`` selects the content filter for fit_markdown.
    """
    if fit_filter == "pruning" and not fit_kwargs:
        udf = extract_udf  # the shared default instance
    else:
        udf = make_extract_udf(fit_filter, **fit_kwargs)
    out = pages.withColumn("_x", udf(F.col(html_col), F.col(url_col)))
    scrape_struct = F.struct(
        *[F.col(f"_x.{f.name}") for f in SCRAPE_RESULT_STRUCT.fields]
    ).alias("scrape")
    md_struct = F.struct(
        *[F.col(f"_x.{f.name}") for f in MARKDOWN_RESULT_STRUCT.fields]
    ).alias("markdown")
    return out.withColumn("scrape", scrape_struct).withColumn(
        "markdown", md_struct
    ).drop("_x")
