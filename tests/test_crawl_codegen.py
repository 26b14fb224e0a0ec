"""A steady crawl iteration compiles no new generated classes.

- the per-iteration scalars (``iteration``, the ``visit_order`` base and
  ``iteration + 1``) reach the plans as data, not as literals Spark would
  inline into generated code, so iterations 2 and 3 of a crawl reuse the
  classes iteration 1 compiled — with and without a rank budget;
- the values and types those columns hold are the ones the literal plans
  wrote;
- an unbudgeted ``priority_rank`` and a ``range_rank`` whose ``k`` covers
  its input rank exactly like their budgeted forms, without a ``<= k``
  filter;
- the distributed bootstrap normalizes a one-file seed list in
  ``defaultParallelism`` tasks.
"""

from __future__ import annotations

import os
import tempfile

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

import crawl4ai_spark.plans.crawl as crawl_mod
from crawl4ai_spark.operators.ranking import priority_rank, range_rank
from crawl4ai_spark.plans.crawl import CrawlConfig, CrawlRun, _codegen_compiles
from crawl4ai_spark.sources.synthetic import build_robots

ITERATIONS = 4


def _seeds(pages, lo: int, hi: int):
    """Pages ``/p/lo`` .. ``/p/hi`` of the synthetic corpus."""
    doc_id = F.regexp_extract("url", "/p/([0-9]+)$", 1).cast("int")
    return pages.select("url").where(doc_id.between(lo, hi))


# Both crawls keep every per-iteration regime choice fixed from iteration
# 1 on — rows deferred, at most 16 (no-budget) or exactly 20 (budget)
# selected rows, the bloom pre-filter on — so a compile in iterations 2-3
# can only come from a value that changed between iterations.
CRAWLS = {
    # max_pages=10**9 covers the frontier: the rank takes no budget
    "unbudgeted": dict(host_budget=1),
    # a fixed iteration budget below the frontier: the rank keeps <= 20
    "budgeted": dict(host_budget=1000, iteration_budget=20),
}


@pytest.fixture(scope="module", params=sorted(CRAWLS))
def crawl(request, spark, pages):
    run = CrawlRun(
        spark, pages, build_robots(spark), _seeds(pages, 200, 259),
        tempfile.mkdtemp(prefix=f"c4ai_codegen_{request.param}_"),
        CrawlConfig(
            mode="bfs", max_pages=10**9, max_depth=30, bloom_min_seen=1,
            **CRAWLS[request.param],
        ),
    )
    stats = []
    for _ in range(ITERATIONS):
        before = _codegen_compiles(spark)
        s = run.run_iteration()
        s["outer_compiles"] = _codegen_compiles(spark) - before
        stats.append(s)
    assert not any(s["done"] for s in stats), stats
    return request.param, run, stats


def test_steady_iterations_compile_nothing(crawl):
    name, _, stats = crawl
    for s in stats[2:]:
        assert s["profile"]["codegen_compiles"] == 0, (name, stats)
        assert s["outer_compiles"] == 0, (name, stats)
    for s in stats:
        assert s["profile"]["codegen_compiles"] <= s["outer_compiles"]


def test_iteration_columns_hold_the_literal_values(crawl):
    """The columns that used to be literals keep their types and values:
    ``iteration`` is the iteration that visited the row, ``visit_order``
    continues densely from the previous iteration, and a url discovered
    in iteration i carries i + 1 as ``first_iter`` and
    ``discovered_iter``."""
    name, run, stats = crawl
    types = {
        "results": dict(run.results().dtypes),
        "seen": dict(run.seen().dtypes),
        "frontier": dict(run.t_frontier.read(run.spark).dtypes),
    }
    assert types["results"]["iteration"] == "int"
    assert types["results"]["visit_order"] == "bigint"
    assert types["seen"]["first_iter"] == "int"
    assert types["frontier"]["discovered_iter"] == "int"

    res = run.results().select("iteration", "visit_order").collect()
    base = 0
    for s in stats:
        orders = sorted(r.visit_order for r in res if r.iteration == s["iteration"])
        assert orders == list(range(base + 1, base + s["selected"] + 1)), name
        base += s["selected"]
    assert len(res) == base

    first = {}
    for r in run.seen().groupBy("first_iter").count().collect():
        first[r.first_iter] = r["count"]
    # no capacity trim under max_pages=10**9: every new url is seen once
    want = {s["iteration"] + 1: s["new_urls"] for s in stats if s["new_urls"]}
    n_seeds = _seeds(run.pages, 200, 259).count()
    assert first == {0: n_seeds, **want}, name

    frontier = run.t_frontier.read(run.spark)
    pairs = frontier.join(run.seen(), "url_norm").select(
        "discovered_iter", "first_iter"
    ).collect()
    assert len(pairs) == frontier.count() > 0
    assert all(p.discovered_iter == p.first_iter for p in pairs), name
    assert max(p.discovered_iter for p in pairs) == ITERATIONS


def _rank_input(pages):
    return pages.select(
        "url",
        (F.length("url") % 3).cast("double").alias("score"),
        (F.length("url") % 4).alias("depth"),
        F.col("url").alias("warc_ts"),
    )


@pytest.mark.parametrize("small_input", [True, False])
def test_unbudgeted_priority_rank_equals_budget_of_row_count(
    spark, pages, small_input
):
    """``budget=None`` is the plain global window the crawl uses when its
    budget covers the frontier: same rows, same ranks and the same long
    rank type as ``budget=<row count>`` in both the small and the salted
    regimes."""
    df = _rank_input(pages)
    n = df.count()
    got = priority_rank(df, budget=None, small_input=small_input)
    want = priority_rank(df, budget=n, small_input=small_input)
    assert dict(got.dtypes)["visit_rank"] == dict(want.dtypes)["visit_rank"] == "bigint"
    got_rows, want_rows = (
        sorted(map(tuple, d.select("url", "visit_rank").collect()))
        for d in (got, want)
    )
    assert got_rows == want_rows
    assert max(r for _, r in got_rows) == n


def test_range_rank_covering_k_keeps_every_row_without_a_filter(spark, pages):
    """k >= rows keeps every row with its plain row_number rank, and a
    second covering k reuses the first call's generated classes: there is
    no ``<= k`` filter whose literal would change them."""
    df = _rank_input(pages)
    order = [F.col("depth").asc(), F.col("score").asc(), F.col("warc_ts").asc()]
    n = df.count()
    want = sorted(map(tuple, df.withColumn(
        "_topk_rank", F.row_number().over(Window.orderBy(*order))
    ).collect()))
    first = range_rank(df, order, k=n + 1)
    assert sorted(map(tuple, first.collect())) == want
    before = _codegen_compiles(spark)
    second = range_rank(df, order, k=n + 2)
    assert sorted(map(tuple, second.collect())) == want
    assert _codegen_compiles(spark) - before == 0


def test_distributed_bootstrap_normalizes_in_parallel(spark, pages, monkeypatch):
    """A one-file seed parquet above ``broadcast_frontier_max`` takes the
    distributed bootstrap; its normalize stage runs ``defaultParallelism``
    tasks, and the frontier and seen rows equal the fast path's."""
    tmp = tempfile.mkdtemp(prefix="c4ai_boot_")
    urls = [r.url for r in pages.select("url").orderBy("url").collect()]
    path = os.path.join(tmp, "seeds.parquet")
    pq.write_table(pa.table({"url": urls}), path)
    seeds = spark.read.parquet(path)
    assert seeds.rdd.getNumPartitions() == 1
    par = spark.sparkContext.defaultParallelism
    assert par > 1

    def boot(tag: str, broadcast_max: int) -> CrawlRun:
        run = CrawlRun(
            spark, pages, None, seeds, os.path.join(tmp, tag),
            CrawlConfig(broadcast_frontier_max=broadcast_max),
        )
        run._bootstrap()
        return run

    def rows(run: CrawlRun):
        return (
            sorted(map(tuple, run.t_frontier.read(spark).collect())),
            sorted(map(tuple, run.seen().collect())),
        )

    fast = boot("fast", len(urls))
    distributed = boot("distributed", len(urls) // 2)
    assert rows(distributed) == rows(fast)

    marks = os.path.join(tmp, "marks")
    os.makedirs(marks)

    @F.pandas_udf("string")
    def spy(href: pd.Series, base: pd.Series) -> pd.Series:
        from pyspark import TaskContext

        from crawl4ai_spark.functions.urlnorm import normalize_url_for_deep_crawl

        open(os.path.join(marks, str(TaskContext.get().partitionId())), "w").close()
        return pd.Series(
            [normalize_url_for_deep_crawl(h, b) for h, b in zip(href, base)]
        )

    monkeypatch.setattr(crawl_mod, "normalize_deep_udf", spy)
    spied = boot("spied", len(urls) // 2)
    assert len(os.listdir(marks)) == par
    assert rows(spied) == rows(fast)
