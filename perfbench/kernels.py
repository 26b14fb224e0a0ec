"""Spark-free per-stage timings of the extract kernel and the WARC parser.

CPU time is the calling thread's (``time.thread_time``), so the RSS
sampler thread does not inflate it. The kernel is composed here from the
public ``html`` functions exactly as the fused extract UDF composes it
(scrape -> markdown parts -> pruning -> fit markdown), which also makes
these outputs the driver-side reference for the byte-equality check.
"""

from __future__ import annotations

import time

STAGES = ("parse_us", "scrape_us", "markdown_us", "prune_us", "fit_markdown_us")


def extract_page(html: str, url: str) -> tuple[dict, dict]:
    """(outputs, per-stage CPU µs) for one page."""
    from crawl4ai_spark.html.markdown import generate_markdown_parts, html_to_markdown
    from crawl4ai_spark.html.parser import parse_html
    from crawl4ai_spark.html.pruning import prune_fit_html
    from crawl4ai_spark.html.scrape import scrape_page

    clock = time.thread_time
    t0 = clock()
    parse_html(html)
    t1 = clock()
    s = scrape_page(html, url)
    t2 = clock()
    cleaned = s["cleaned_html"]
    raw = cited = fit_md = None
    t3 = t4 = t5 = t2
    if cleaned is not None:
        raw, cited, _refs = generate_markdown_parts(cleaned, url)
        t3 = clock()
        _, fit_html = prune_fit_html(cleaned)
        t4 = clock()
        fit_md = html_to_markdown(fit_html, url) if fit_html else ""
        t5 = clock()
    us = {
        "parse_us": (t1 - t0) * 1e6,
        "scrape_us": (t2 - t1) * 1e6,
        "markdown_us": (t3 - t2) * 1e6,
        "prune_us": (t4 - t3) * 1e6,
        "fit_markdown_us": (t5 - t4) * 1e6,
        # everything the extract UDF runs per page (the bare parse above
        # is a diagnostic, not part of the UDF)
        "kernel_us": (t5 - t1) * 1e6,
    }
    out = {"raw_markdown": raw, "markdown_with_citations": cited,
           "fit_markdown": fit_md, "text": s["text"], "success": s["success"]}
    return out, us


def kernel_profile(pages: list[tuple[str, bytes]], suffix: str) -> tuple[dict, dict]:
    """(outputs by url, html.* metrics with ``suffix``) over a page sample:
    mean CPU µs per page per stage, and kernel µs per KB of HTML."""
    totals = dict.fromkeys(STAGES + ("kernel_us",), 0.0)
    outputs = {}
    n_bytes = 0
    for url, body in pages:
        html = body.decode("utf-8", errors="replace")
        out, us = extract_page(html, url)
        outputs[url] = out
        for k, v in us.items():
            totals[k] += v
        n_bytes += len(body)
    n = max(1, len(pages))
    metrics = {f"html.{k}.{suffix}": v / n for k, v in totals.items()}
    metrics[f"html.kernel_us_per_KB.{suffix}"] = totals["kernel_us"] / max(1e-9, n_bytes / 1024)
    return outputs, metrics


def warc_parse_profile(segment_bytes: bytes) -> dict:
    """CPU µs per member of ``parse_warc_stream`` over one whole segment
    (the offsets pass, as the CDX indexer runs it)."""
    from crawl4ai_spark.sources.warc import parse_warc_stream

    t0 = time.thread_time()
    n = sum(1 for _ in parse_warc_stream(segment_bytes, with_offsets=True))
    dt = time.thread_time() - t0
    return {"members": n, "parse_us_per_member": dt * 1e6 / max(1, n)}
