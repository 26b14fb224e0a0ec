"""Differential check: from-scratch engine vs the EXECUTING reference
generator, over the committed fixture battery (crawl4ai_spark/html/
md_fixtures.py) plus optional random fuzzing.

Usage: python tools/diff_markdown.py [--fuzz N] [--verbose]
"""

from __future__ import annotations

import random
import sys

sys.path.insert(0, "/root/repo")
sys.path.insert(0, "/root/repo/tools")

from ref_markdown import reference_markdown, require_reference  # noqa: E402

from crawl4ai_spark.html.markdown import generate_markdown_parts  # noqa: E402
from crawl4ai_spark.html.md_fixtures import FIXTURE_BASE, FIXTURES  # noqa: E402


def _report(i, doc, want, got) -> None:
    print(f"=== MISMATCH case {i}: {doc[:90]!r}")
    for name, w, g in zip(("raw", "cited", "refs"), want, got):
        if w != g:
            print(f"  [{name}] want={w!r}")
            print(f"  [{name}]  got={g!r}")


def _fuzz_docs(n: int):
    rng = random.Random(98765)
    tokens = [
        "<p>", "</p>", "<b>", "</b>", "<em>", "</em>", "<ul>", "</ul>",
        "<ol>", "</ol>", "<li>", "</li>", "<pre>", "</pre>", "<code>",
        "</code>", "<table>", "</table>", "<tr>", "</tr>", "<td>", "</td>",
        "<th>", "</th>", "<blockquote>", "</blockquote>",
        "<a href='https://x.example/y'>", "<a href='/r'>", "<a>", "</a>",
        "<img src='/i.png' alt='a'>", "<br>", "<hr>", "<h1>", "</h1>",
        "<div>", "</div>", "<span>", "</span>", "<q>", "</q>",
        "<del>", "</del>", "<head>", "</head>", "<body>", "</body>",
        "<script>", "</script>", "<style>", "</style>", "<!-- c -->",
        "text", " spaced ", "x&amp;y", "&nbsp;", "&mdash;", "&#65;",
        "&bogus;", "*", "_", "\\", "`", "\n", "  \n", "[x](y)", "5.", "a|b",
    ]
    for _ in range(n):
        yield "".join(rng.choice(tokens) for _ in range(rng.randint(1, 40)))


def main() -> int:
    require_reference()
    verbose = "--verbose" in sys.argv
    n_fuzz = 0
    if "--fuzz" in sys.argv:
        n_fuzz = int(sys.argv[sys.argv.index("--fuzz") + 1])
    bad = total = 0
    cases = list(enumerate(FIXTURES)) + [
        (f"fuzz{j}", d) for j, d in enumerate(_fuzz_docs(n_fuzz))
    ]
    for i, doc in cases:
        try:
            want = reference_markdown(doc, FIXTURE_BASE)
        except Exception:
            continue
        total += 1
        got = generate_markdown_parts(doc, FIXTURE_BASE)
        if want != got:
            bad += 1
            _report(i, doc, want, got)
        elif verbose:
            print(f"ok case {i}")
    print(f"{total - bad}/{total} cases byte-identical")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
