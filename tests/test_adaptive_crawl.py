"""A8 adaptive crawl-until-confident loop over the batch crawl."""

from __future__ import annotations

from crawl4ai_spark.plans.adaptive import AdaptiveConfig, AdaptiveCrawl
from crawl4ai_spark.sources.synthetic import build_robots, build_seeds


def test_adaptive_crawl_until_confident(spark, pages, tmp_path):
    ac = AdaptiveCrawl(
        spark, pages, build_robots(spark), build_seeds(spark, 5),
        str(tmp_path),
        query="data value spark window",
        config=AdaptiveConfig(confidence_threshold=0.55, max_pages=30,
                              batch_size=8, max_depth=3),
    )
    out = ac.crawl_until_confident(max_iterations=6)
    assert out["stop_reason"] in {
        "confident", "max_pages", "saturated", "frontier_empty",
        "max_iterations", "budget_zero",
    }
    for k in ("coverage", "consistency", "saturation", "confidence"):
        assert 0.0 <= out[k] <= 1.0, (k, out[k])
    assert out["pages"] > 0
    # the corpus text genuinely contains the query terms → nonzero coverage
    assert out["coverage"] > 0.0
    # confidence is the reference's weighted combination
    want = 0.4 * out["coverage"] + 0.3 * out["consistency"] + 0.3 * out["saturation"]
    assert abs(out["confidence"] - round(want, 6)) < 1e-5


def test_adaptive_metrics_monotone_pages(spark, pages, tmp_path):
    ac = AdaptiveCrawl(
        spark, pages, build_robots(spark), build_seeds(spark, 3),
        str(tmp_path),
        query="data value",
        config=AdaptiveConfig(confidence_threshold=0.99, max_pages=25,
                              batch_size=5, max_depth=3),
    )
    m1 = ac.step()
    m2 = ac.step()
    assert m2["pages"] >= m1["pages"]
    assert len(ac.new_terms_history) == 2
    # saturation history is normalized by pages fetched per iteration
    assert len(ac.pages_history) == 2 and all(p >= 0 for p in ac.pages_history)
    # second iteration discovers fewer/equal new terms on this small corpus
    assert ac.new_terms_history[1] <= max(ac.new_terms_history[0], ac.new_terms_history[1])


def test_adaptive_step_builds_term_stats_once(spark, pages, monkeypatch, tmp_path):
    """Job hygiene (VERDICT r02 #8): one kb_term_stats construction per
    step — the saturation update and every metric share the cached table."""
    import crawl4ai_spark.plans.adaptive as ad

    calls = {"n": 0}
    real = ad.kb_term_stats

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(ad, "kb_term_stats", counting)
    ac = AdaptiveCrawl(
        spark, pages, build_robots(spark), build_seeds(spark, 3),
        str(tmp_path),
        query="data value",
        config=AdaptiveConfig(confidence_threshold=0.99, max_pages=25,
                              batch_size=5, max_depth=3),
    )
    ac.step()
    assert calls["n"] == 1
