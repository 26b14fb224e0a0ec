"""Adaptive per-host politeness (P1+P2 integration in the crawl loop)."""

from __future__ import annotations

from crawl4ai_spark.plans.crawl import CrawlConfig, CrawlRun
from crawl4ai_spark.sources.synthetic import build_robots, build_seeds


def test_adaptive_budget_and_state_evolution(spark, pages, sf_dir, tmp_path):
    run = CrawlRun(
        spark,
        pages,
        build_robots(spark),
        build_seeds(spark, 6),
        str(tmp_path),
        CrawlConfig(
            mode="bfs",
            max_pages=100,
            max_depth=2,
            adaptive_politeness=True,
            iteration_window=3.0,
            base_delay=1.0,
        ),
    )
    s0 = run.run_iteration()
    assert not s0.get("done")
    hs = {r.host: r for r in run.host_state().collect()}
    assert hs, "host_state table must exist after an adaptive iteration"
    # every status this corpus produces (200/403/404) is a 'success' for the
    # rate limiter (only 429/503 throttle) ⇒ delay decays ×0.75 but floors
    # at the CONFIGURED base_delay (1.0) — successes must never erode the
    # configured politeness below base
    assert all(abs(r.current_delay - 1.0) < 1e-9 for r in hs.values())
    assert all(r.fail_count == 0 for r in hs.values())

    s1 = run.run_iteration()
    # budget per host per iteration: floor(3.0 / 1.0) = 3
    assert s1.get("done") or s1["selected"] >= 1
    hs2 = {r.host: r for r in run.host_state().collect()}
    hit_again = [h for h in hs2 if h in hs]
    assert hit_again
    assert all(abs(r.current_delay - 1.0) < 1e-9 for r in hs2.values())


def test_delay_decay_floors_at_base(spark):
    """A throttled host's doubled delay decays ×0.75 per clean iteration but
    never below base_delay."""
    from crawl4ai_spark.operators.politeness import evolve_host_state

    state = spark.createDataFrame(
        [("h.example", 2.0, 1, 3)],
        "host string, current_delay double, fail_count int, last_iter long",
    )
    ok = spark.createDataFrame([("h.example", 200)], "host string, status_code int")
    s1 = evolve_host_state(state, ok, base_delay=1.2).first()
    assert abs(s1.current_delay - 1.5) < 1e-9 and s1.fail_count == 0
    s2 = evolve_host_state(
        spark.createDataFrame([s1]), ok, base_delay=1.2
    ).first()
    assert abs(s2.current_delay - 1.2) < 1e-9  # 1.125 floored at base
