"""Load the *reference* markdown generator from /root/reference in isolation.

Used ONLY at golden-generation time (tools/gen_markdown_goldens.py,
tools/diff_markdown.py) — never imported by the library or the tests. The
reference's html2text package is pure stdlib, and markdown_generation_strategy
needs just two sibling modules which we stub, so the real generator code
EXECUTES here to define the golden outputs the from-scratch engine must
byte-match.
"""

from __future__ import annotations

import importlib.util
import os
import sys
import types

REF = "/root/reference/crawl4ai"


def require_reference() -> None:
    """Exit non-zero with one line when the reference checkout is absent;
    the committed goldens stay the parity source without it."""
    if not os.path.isdir(REF):
        raise SystemExit(
            f"{os.path.basename(sys.argv[0])}: reference checkout {REF} not "
            "found; the committed goldens in tests/goldens stay the parity "
            "source"
        )


def _load(modname: str, path: str, search: list[str] | None = None):
    spec = importlib.util.spec_from_file_location(
        modname, path, submodule_search_locations=search
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules[modname] = mod
    spec.loader.exec_module(mod)
    return mod


def load_reference_generator():
    """Returns the reference's DefaultMarkdownGenerator class, executing the
    real html2text + markdown_generation_strategy code."""
    require_reference()
    pkg = types.ModuleType("refcrawl4ai")
    pkg.__path__ = [REF]
    sys.modules["refcrawl4ai"] = pkg

    _load("refcrawl4ai.html2text", f"{REF}/html2text/__init__.py",
          [f"{REF}/html2text"])

    # models / content_filter_strategy drag in heavy deps (pydantic, bs4) that
    # this container lacks; the generator only needs a result container and a
    # type name, so stub exactly those two symbols.
    models = types.ModuleType("refcrawl4ai.models")

    class MarkdownGenerationResult:
        def __init__(self, raw_markdown, markdown_with_citations,
                     references_markdown, fit_markdown, fit_html):
            self.raw_markdown = raw_markdown
            self.markdown_with_citations = markdown_with_citations
            self.references_markdown = references_markdown
            self.fit_markdown = fit_markdown
            self.fit_html = fit_html

    models.MarkdownGenerationResult = MarkdownGenerationResult
    sys.modules["refcrawl4ai.models"] = models

    cfs = types.ModuleType("refcrawl4ai.content_filter_strategy")

    class RelevantContentFilter:  # type placeholder only
        pass

    cfs.RelevantContentFilter = RelevantContentFilter
    sys.modules["refcrawl4ai.content_filter_strategy"] = cfs

    strat = _load(
        "refcrawl4ai.markdown_generation_strategy",
        f"{REF}/markdown_generation_strategy.py",
    )
    return strat.DefaultMarkdownGenerator


def reference_markdown(html: str, base_url: str = "", _cache={}):
    """(raw, cited, refs) from the executing reference generator."""
    if "gen" not in _cache:
        _cache["gen"] = load_reference_generator()()
    r = _cache["gen"].generate_markdown(html, base_url=base_url, citations=True)
    return r.raw_markdown, r.markdown_with_citations, r.references_markdown
