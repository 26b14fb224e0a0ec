"""Crawl-iteration sizing: each stage is sized from the rows the iteration
holds, not from ``max_pages`` or the frontier size.

- the rank budget is clamped to the frontier row count, so a huge
  ``max_pages`` does not route a small frontier through ``range_rank``;
- the Python stages (extract, URL normalization) take their width from
  the exact count of the selected slice;
- the incremental seen-filter build reads a snapshot-sized input, and the
  filter it maintains stays bit-identical to a fresh build.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

import crawl4ai_spark.operators.ranking as rk
import crawl4ai_spark.plans.crawl as crawl_mod
from crawl4ai_spark.operators.seen import build_bloom
from crawl4ai_spark.plans.crawl import CrawlConfig, CrawlRun, _parts
from crawl4ai_spark.sources.synthetic import build_robots, build_seeds


def _spy_range_rank(monkeypatch) -> list[int]:
    calls: list[int] = []
    real = rk.range_rank

    def spy(df, order, k, **kw):
        calls.append(k)
        return real(df, order, k, **kw)

    monkeypatch.setattr(rk, "range_rank", spy)
    return calls


def _visits(spark, pages, workdir: str) -> set[tuple[str, int]]:
    run = CrawlRun(
        spark, pages, build_robots(spark), build_seeds(spark, 3),
        workdir,
        CrawlConfig(mode="bfs", max_pages=10**9, max_depth=2, host_budget=5),
    )
    run.run(max_iterations=2)
    return {
        (r.url, r.visit_order)
        for r in run.results().select("url", "visit_order").collect()
    }


def test_rank_budget_clamped_to_frontier(spark, pages, monkeypatch, tmp_path):
    """max_pages=10**9 on a frontier far below LARGE_K_ROWS ranks with
    the plain window; range_rank still runs once the frontier itself
    exceeds LARGE_K_ROWS, and both regimes visit the same pages."""
    calls = _spy_range_rank(monkeypatch)
    plain = _visits(spark, pages, str(tmp_path / "plain"))
    assert calls == []

    monkeypatch.setattr(rk, "LARGE_K_ROWS", 2)  # below the 3-seed frontier
    ranged = _visits(spark, pages, str(tmp_path / "ranged"))
    assert calls, "range_rank never ran with the frontier above LARGE_K_ROWS"
    # the clamped budget is the frontier size, never max_pages
    assert max(calls) < 10**9
    assert ranged == plain


def test_python_stage_width_tracks_selected_rows(spark, pages, tmp_path):
    """A frontier wider than 4·16·defaultParallelism whose host budget
    selects only a few rows: the extract stage gets ⌈n/16⌉ partitions,
    plus at most one for the robots-blocked rows."""
    par = spark.sparkContext.defaultParallelism
    n_seeds = 4 * 16 * par + 100
    run = CrawlRun(
        spark, pages, build_robots(spark), build_seeds(spark, n_seeds),
        str(tmp_path),
        CrawlConfig(mode="bfs", max_pages=10**9, max_depth=2, host_budget=1),
    )
    stats = run.run_iteration()
    n_selected = stats["selected"]
    assert 0 < n_selected <= 32, stats
    fetch_rows = run.lineage().filter(F.col("stage") == "fetch").collect()
    assert sum(r.urls_in for r in fetch_rows) == n_selected
    assert len(fetch_rows) <= (n_selected + 15) // 16 + 1, (
        f"{len(fetch_rows)} fetch partitions for {n_selected} selected rows"
    )


def test_incremental_filter_build_is_snapshot_sized(
    spark, pages, monkeypatch, tmp_path
):
    """The partial bloom build reads a _parts(n_seen_add)-partition input,
    and after several incremental merges the in-memory bitset equals a
    fresh build over the committed seen table."""
    builds: list[tuple[int, int]] = []

    def spy(df, **kw):
        builds.append((df.rdd.getNumPartitions(), df.count()))
        return build_bloom(df, **kw)

    monkeypatch.setattr(crawl_mod, "build_bloom", spy)
    run = CrawlRun(
        spark, pages, build_robots(spark), build_seeds(spark, 3),
        str(tmp_path),
        CrawlConfig(
            mode="bfs", max_pages=100000, max_depth=30, host_budget=1,
            bloom_min_seen=1, bloom_bits=1 << 16, include_external=True,
        ),
    )
    stats = run.run(max_iterations=5)
    assert not any(s.get("done") for s in stats), stats
    # the first build is the full one over the seen table; every later
    # build is an iteration's partial build
    widths = builds[1:]
    assert len(widths) >= 3, widths
    for n_parts, n_rows in widths:
        assert n_parts == _parts(n_rows), widths
    live = run._seen_filter
    fresh = build_bloom(
        run.seen(), num_bits=live.num_bits, num_hashes=live.num_hashes,
        hash_col="url_hash",
    )
    assert np.array_equal(live.bits, fresh.bits)
