"""The crawl loop's URL-seen bloom pre-filter: results do not depend on
it, it keeps covering every committed seen key across incremental merges,
and TTL expiry drops it so expired URLs are re-crawled.

The invariant the crawl depends on is NO FALSE NEGATIVES — a seen URL the
filter calls definitely-new would skip the exact anti-join and be crawled
twice.
"""

from __future__ import annotations

import tempfile

import numpy as np
from pyspark.sql import functions as F

from crawl4ai_spark.plans.crawl import CrawlConfig, CrawlRun
from crawl4ai_spark.sources.synthetic import build_robots, build_seeds


def _config(**kw) -> CrawlConfig:
    base = dict(
        mode="bfs", max_pages=100000, max_depth=10, host_budget=100000,
        salt=4, include_external=True, bloom_min_seen=0,
    )
    return CrawlConfig(**{**base, **kw})


def test_expire_seen_recrawls_and_preserves_survivors(spark, pages):
    """TTL/recrawl expiry (the reference's cache invalidation,
    cache_context.py + async_database.py aclear_db, restated over
    snapshot tables): expiring seen URLs between iterations makes the
    crawl RE-crawl them on rediscovery. The bloom cannot delete, so the
    in-memory filter is dropped and rebuilt over the survivors."""
    cfg = _config()
    wd = tempfile.mkdtemp(prefix="expire_bloom_")
    run = CrawlRun(spark, pages, build_robots(spark), build_seeds(spark, 2), wd, cfg)
    run.run(max_iterations=2)
    seen_before = {r.url_norm for r in run.seen().select("url_norm").collect()}
    n_results_before = run.results().count()
    # expire every CRAWLED url (frontier residents are protected)
    out = run.expire_seen(F.lit(True))
    assert out["n_expired"] > 0
    survivors = {r.url_norm for r in run.seen().select("url_norm").collect()}
    assert len(survivors) == len(seen_before) - out["n_expired"]
    frontier_urls = {
        r.url_norm
        for r in run.t_frontier.read(spark).select("url_norm").collect()
    }
    assert survivors == seen_before & frontier_urls  # exactly the pending
    assert run._seen_filter is None  # blooms cannot delete → rebuild
    # continue crawling: rediscovered expired urls must be RE-crawled
    run.run(max_iterations=2)
    res = run.results().select("url").collect()
    urls = [r.url for r in res]
    assert len(urls) > n_results_before
    assert len(urls) > len(set(urls)), "no url was re-crawled after expiry"
    # crash-resume safety, made to bite: run the reconciliation a resume
    # actually performs (rollback_trailing against the WAL tip) and
    # assert it does NOT roll the expiry replace back — a replace
    # mistagged at/past the next iteration would be popped here and the
    # seen set would revert
    resumed = CrawlRun(
        spark, pages, build_robots(spark), build_seeds(spark, 2), wd, cfg
    )
    post = {r.url_norm for r in run.seen().select("url_norm").collect()}
    resumed._reconcile(resumed.state()["iteration"])
    post_reconcile = {
        r.url_norm for r in resumed.seen().select("url_norm").collect()
    }
    assert post_reconcile == post


def test_expire_seen_reconciles_crashed_iteration_first(spark, pages):
    """A crashed iteration can leave an orphan seen append (committed
    seen, never reached the frontier WAL tip). expire_seen must roll it
    back BEFORE filtering — otherwise the orphan rows bake into the
    rollback-proof replace and the re-run iteration's candidates
    anti-join away against them: URLs silently never crawled."""
    wd = tempfile.mkdtemp(prefix="expire_orphan_")
    run = CrawlRun(
        spark, pages, build_robots(spark), build_seeds(spark, 2), wd, _config()
    )
    run.run(max_iterations=2)
    nxt = run.state()["iteration"]
    # simulate the crash window: a seen append tagged with the iteration
    # about to run, committed non-durable (exactly what the two-phase
    # commit leaves behind when the frontier replace never lands)
    orphan = run.spark.createDataFrame(
        [("https://orphan.example/x", 1234567, 1, 99)],
        "url_norm string, url_hash long, depth int, first_iter int",
    )
    run.t_seen.append(orphan, {"iteration": nxt}, durable=False)
    # expire with a condition that matches REAL rows (the crawled seeds)
    # but not the orphan: the replace path runs, and without the
    # reconcile-first fix the orphan would survive into the replace
    out = run.expire_seen(F.col("first_iter") <= 0)
    assert out["n_expired"] > 0
    seen_urls = {r.url_norm for r in run.seen().select("url_norm").collect()}
    assert "https://orphan.example/x" not in seen_urls, (
        "orphan seen rows laundered into the expiry replace"
    )
    assert out["n_seen"] == len(seen_urls)
    # consecutive expiries report the EXACT survivor count, not the
    # historical-upper-bound subtraction
    out2 = run.expire_seen(F.lit(True))
    assert out2["n_seen"] == run.seen().count()


def test_crawl_filter_equivalence(spark, pages):
    """The pre-filter must not change results at all: it is a
    no-false-negative pre-filter ahead of the exact anti-join, so the
    crawl's results table (urls, depths, visit order) and seen set are
    identical with the bloom on and off. bloom_min_seen=0 turns the
    filter on from the first iteration, which also exercises the
    INCREMENTAL filter maintenance (full build at iteration 1, per-
    iteration partial merges after) across all four iterations — at the
    end the filter must still cover every committed seen key (a missing
    key would mean a duplicate crawl at scale)."""
    robots = build_robots(spark)
    seeds = build_seeds(spark, 2)
    outs = {}
    for kind, min_seen in (("bloom", 0), ("off", 10**12)):
        run = CrawlRun(
            spark, pages, robots, seeds,
            tempfile.mkdtemp(prefix=f"seen_{kind}_"),
            _config(max_depth=2, bloom_min_seen=min_seen),
        )
        run.run(max_iterations=4)
        res = sorted(
            (r.url, r.depth, r.visit_order, r.status_code)
            for r in run.results()
            .select("url", "depth", "visit_order", "status_code")
            .collect()
        )
        seen = sorted(r.url_norm for r in run.seen().select("url_norm").collect())
        outs[kind] = (res, seen)
        if kind == "off":
            assert run._seen_filter is None
        else:
            # incremental-maintenance coverage invariant: after N merges
            # the in-memory filter still contains every committed key
            hashes = np.array(
                [r.url_hash for r in run.seen().select("url_hash").collect()],
                dtype=np.int64,
            )
            assert run._seen_filter.maybe_contains(hashes).all()
    assert outs["bloom"] == outs["off"]
