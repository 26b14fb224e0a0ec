"""Driver-contract registry invariants: every query has an oracle, every
oracle has a query, and the oracle SQL at least parses in DuckDB against
empty views (cheap guard against dialect typos landing un-run)."""

from __future__ import annotations

import duckdb
import pytest

from crawl4ai_spark.contract import ORACLES, QUERIES

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def test_every_query_has_an_oracle():
    assert set(QUERIES) == set(ORACLES), (
        f"missing oracles: {sorted(set(QUERIES) - set(ORACLES))}; "
        f"orphan oracles: {sorted(set(ORACLES) - set(QUERIES))}"
    )


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(CAST(0 AS BIGINT), 'some text here', 'en', 'web')) "
        "AS t(doc_id, text, lang, source)"
    )
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM (VALUES "
        "(CAST(0 AS BIGINT), [0.1, 0.2])) AS t(vec_id, embedding)"
    )
    return con


def test_every_oracle_parses_and_runs(duck):
    failures = []
    for name, sql in sorted(ORACLES.items()):
        try:
            duck.execute(sql).fetchdf()
        except Exception as e:
            failures.append(f"{name}: {str(e)[:160]}")
    assert not failures, "\n".join(failures)


def test_weblines_empty_doc_parity(spark, tmp_path):
    """A zero-token document must not fabricate lines (Spark sequence(0,-1)
    is DESCENDING) nor NULL out the oracle text (DuckDB array_to_string([])
    is NULL): both engines must emit header+empty body+footer."""
    import pandas as pd

    from crawl4ai_spark.contract import _WEBLINES_CTE, _weblines

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": ["", "   ", "three little words", "a b c d e f g h"],
            "lang": ["en"] * 4,
            "source": ["web"] * 4,
            "n_chars": [0, 3, 18, 15],
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet")

    got = {
        r["doc_id"]: r["text"]
        for r in _weblines(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    want = dict(
        con.execute(
            f"WITH {_WEBLINES_CTE} SELECT doc_id, text FROM weblines"
        ).fetchall()
    )
    assert got == want
    # the empty/whitespace docs carry an empty body between header+footer
    for did in (0, 1):
        assert got[did].split("\n")[1:-1] == [""]


def test_hot_bucket_stats_accepts_bands_table_schema(spark):
    """A write_minhash_tables bands table has no band_id column (it is
    folded into band_key); hot_bucket_stats must accept it as-is."""
    from crawl4ai_spark.datapipe.dedup import hot_bucket_stats

    banded = spark.createDataFrame(
        [(i, "deadbeef", "k0") for i in range(12)],
        "doc_id long, sig_fp string, band_key string",
    )
    rows = hot_bucket_stats(None, "doc_id", "text", cap=10, banded=banded).collect()
    assert [(r["band_id"], r["band_key"], r["n_docs"]) for r in rows] == [
        (0, "k0", 12)
    ]
