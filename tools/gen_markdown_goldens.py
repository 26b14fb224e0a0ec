"""Generate committed markdown goldens by EXECUTING the reference generator.

Outputs:
- tests/goldens/markdown_goldens.json — full golden text per fixture
  (raw/cited/refs), used by tests/test_markdown_parity.py for byte compares.
- crawl4ai_spark/html/md_goldens.py — generated module with md5 hashes of the
  goldens (fixtures + a synthetic-corpus slice at sf0.01), used by the
  ``extract_markdown`` / ``extract_markdown_corpus`` contract oracles.

Run: python tools/gen_markdown_goldens.py   (then commit both outputs)
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, "/root/repo")
sys.path.insert(0, "/root/repo/tools")

import duckdb  # noqa: E402
from ref_markdown import reference_markdown, require_reference  # noqa: E402

from crawl4ai_spark.html.md_fixtures import FIXTURE_BASE, FIXTURES  # noqa: E402
from crawl4ai_spark.sources.synthetic import pages_sql  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_CORRECTNESS_SF", "/root/testdata/sf0.01")
CORPUS_LIMIT = 150


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def main() -> None:
    require_reference()
    goldens = []
    for i, html in enumerate(FIXTURES):
        raw, cited, refs = reference_markdown(html, FIXTURE_BASE)
        goldens.append({"id": i, "raw": raw, "cited": cited, "refs": refs})

    os.makedirs("/root/repo/tests/goldens", exist_ok=True)
    with open("/root/repo/tests/goldens/markdown_goldens.json", "w") as f:
        json.dump(goldens, f, ensure_ascii=False, indent=1)

    # synthetic-corpus slice: identical page HTML is reconstructable in both
    # Spark and DuckDB from the shared dual-dialect template
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    rows = con.execute(
        f"SELECT url, html_str FROM ({pages_sql('duckdb')}) WHERE doc_id < {CORPUS_LIMIT} ORDER BY url"
    ).fetchall()
    assert rows, "empty corpus slice"
    corpus = []
    for url, html_str in rows:
        raw, cited, refs = reference_markdown(html_str, url)
        corpus.append((url, _md5(raw), _md5(cited), _md5(refs)))

    lines = [
        '"""GENERATED by tools/gen_markdown_goldens.py — md5 hashes of markdown',
        "goldens produced by executing the reference generator. Do not edit.",
        '"""',
        "",
        "# (fixture_id, md5(raw), md5(cited), md5(refs))",
        "GOLDEN_HASHES = [",
    ]
    for g in goldens:
        lines.append(
            f'    ({g["id"]}, "{_md5(g["raw"])}", "{_md5(g["cited"])}", "{_md5(g["refs"])}"),'
        )
    lines.append("]")
    lines.append("")
    lines.append(f"# synthetic-corpus slice (doc_id < {CORPUS_LIMIT}) at {SF_DIR}")
    lines.append("# (url, md5(raw), md5(cited), md5(refs))")
    lines.append("CORPUS_GOLDEN_HASHES = [")
    for url, h1, h2, h3 in corpus:
        lines.append(f'    ("{url}", "{h1}", "{h2}", "{h3}"),')
    lines.append("]")
    with open("/root/repo/crawl4ai_spark/html/md_goldens.py", "w") as f:
        f.write("\n".join(lines) + "\n")

    print(f"goldens: {len(goldens)} fixtures, {len(corpus)} corpus pages")


if __name__ == "__main__":
    main()
