"""The crawl loop's URL-seen bloom pre-filter: results do not depend on
it, it keeps covering every committed seen key across incremental merges,
and TTL expiry drops it so expired URLs are re-crawled.

The invariant the crawl depends on is NO FALSE NEGATIVES — a seen URL the
filter calls definitely-new would skip the exact anti-join and be crawled
twice.
"""

from __future__ import annotations

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


def test_expire_seen_recrawls_and_preserves_survivors(spark, pages, tmp_path):
    """TTL/recrawl expiry (the reference's cache invalidation,
    cache_context.py + async_database.py aclear_db, restated over
    snapshot tables): expiring seen URLs between iterations makes the
    crawl RE-crawl them on rediscovery. The bloom cannot delete, so the
    in-memory filter is dropped and rebuilt over the survivors."""
    cfg = _config()
    wd = str(tmp_path)
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
    # crash-resume safety, made to bite: run the roll-forward a resume
    # actually performs and assert it does NOT re-commit the last
    # iteration's seen append over the expiry replace — that append is
    # no longer in the current snapshot, and re-committing it would bring
    # the expired keys back
    resumed = CrawlRun(
        spark, pages, build_robots(spark), build_seeds(spark, 2), wd, cfg
    )
    resumed._roll_forward()
    assert {
        r.url_norm for r in resumed.seen().select("url_norm").collect()
    } == survivors
    # continue crawling: rediscovered expired urls must be RE-crawled
    run.run(max_iterations=2)
    res = run.results().select("url").collect()
    urls = [r.url for r in res]
    assert len(urls) > n_results_before
    assert len(urls) > len(set(urls)), "no url was re-crawled after expiry"


def test_expire_seen_reconciles_crashed_iteration_first(
    spark, pages, monkeypatch, tmp_path
):
    """A crash after an iteration's frontier commit can leave its seen
    append staged but not yet committed. expire_seen must roll it forward
    BEFORE filtering: otherwise the replace filters a seen set missing
    those keys (their URLs would be crawled again) and its orphan sweep
    deletes the staged dir the frontier's apply record still names."""
    import os

    wd = str(tmp_path)
    run = CrawlRun(
        spark, pages, build_robots(spark), build_seeds(spark, 2), wd, _config()
    )
    run.run(max_iterations=2)
    # the crash window: the frontier commit landed, no other table did
    with monkeypatch.context() as mp:
        mp.setattr(CrawlRun, "_apply", lambda self, meta: None)
        assert not run.run_iteration()["done"]
    staged, mode = run.t_frontier.snapshot_meta()["apply"]["seen"]
    pending = {
        r.url_norm
        for r in spark.read.parquet(os.path.join(run.t_seen.root, staged))
        .select("url_norm").collect()
    }
    assert mode == "append" and pending
    assert not pending & {r.url_norm for r in run.seen().collect()}
    # expire with a condition that matches REAL rows (the crawled seeds)
    # but none of the pending ones: the replace path runs over the seen
    # set with the pending append already committed
    out = run.expire_seen(F.col("first_iter") <= 0)
    assert out["n_expired"] > 0
    seen_urls = {r.url_norm for r in run.seen().select("url_norm").collect()}
    assert pending <= seen_urls, "pending seen append lost by the expiry"
    assert out["n_seen"] == len(seen_urls)
    # the next iteration's roll-forward finds every entry committed
    assert not run.run_iteration()["done"]
    res = run.results()
    assert res.groupBy("visit_order").count().filter("count > 1").count() == 0
    # consecutive expiries report the EXACT survivor count, not the
    # historical-upper-bound subtraction
    out2 = run.expire_seen(F.lit(True))
    assert out2["n_seen"] == run.seen().count()


def test_crawl_filter_equivalence(spark, pages, tmp_path):
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
            str(tmp_path / f"seen_{kind}"),
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
