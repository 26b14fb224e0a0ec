"""A8 embedding-strategy adaptive crawl (datapipe/adaptive_embed.py +
plans/adaptive_embed.py). The confidence/gap/link-score arithmetic is
value-checked by the driver's `adaptive_stats` embedding leg; these tests
cover the loop semantics and the reference quirks the oracle can't reach."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawl4ai_spark.datapipe.adaptive_embed import (
    best_similarity_per_query,
    coverage_gaps,
    embedding_confidence,
    hash_embedding_col,
    kb_admit_new,
    quality_confidence,
    select_links_for_expansion,
)
from crawl4ai_spark.plans.adaptive_embed import (
    EmbeddingAdaptiveConfig,
    EmbeddingAdaptiveCrawl,
)
from crawl4ai_spark.sources.synthetic import build_robots, build_seeds

VARIATIONS = [
    "spark dataframe windows",
    "crawl data pipelines",
    "synthetic page values",
    "spark crawl corpus",
    "window data spark",
]


def _vecs(spark, rows, schema="id string, embedding array<float>"):
    return spark.createDataFrame(rows, schema)


class TestKernels:
    def test_best_similarity_and_gaps(self, spark):
        kb = _vecs(spark, [("k1", [1.0, 0.0]), ("k2", [0.0, 1.0])])
        q = _vecs(spark, [("q1", [1.0, 0.0]), ("q2", [0.6, 0.8])],
                  "query_id string, embedding array<float>")
        best = {r["query_id"]: r["best_sim"]
                for r in best_similarity_per_query(kb, q).collect()}
        assert best["q1"] == pytest.approx(1.0)
        assert best["q2"] == pytest.approx(0.8)
        gaps = {r["query_id"]: r["gap"] for r in coverage_gaps(q, kb).collect()}
        assert gaps["q1"] == pytest.approx(0.0)
        assert gaps["q2"] == pytest.approx(0.2)
        # absent KB -> maximum gap everywhere
        gaps0 = {r["query_id"]: r["gap"] for r in coverage_gaps(q, None).collect()}
        assert gaps0 == {"q1": 1.0, "q2": 1.0}

    def test_confidence_mean_and_tau_modes(self, spark):
        kb = _vecs(spark, [("k1", [1.0, 0.0])])
        q = _vecs(spark, [("q1", [1.0, 0.0]), ("q2", [0.0, 1.0])],
                  "query_id string, embedding array<float>")
        m = embedding_confidence(kb, q)
        assert m["confidence"] == pytest.approx(0.5)  # mean(1.0, 0.0)
        assert m["median_best_similarity"] == pytest.approx(0.5)
        # tau mode: hit-rate of best >= tau (calculate_confidence :949)
        assert embedding_confidence(kb, q, tau=0.9)["confidence"] == pytest.approx(0.5)
        assert embedding_confidence(None, q)["confidence"] == 0.0

    def test_kb_admit_within_batch_quirk(self, spark):
        """update_state dedup (:1184-1214): the batch is screened against
        the PRE-BATCH KB only — two identical new docs are both admitted."""
        kb = _vecs(spark, [("k1", [1.0, 0.0])])
        batch = _vecs(spark, [
            ("n1", [1.0, 0.001]),   # ~1.0 sim vs KB -> rejected
            ("n2", [0.0, 1.0]),     # orthogonal -> admitted
            ("n3", [0.0, 1.0]),     # identical to n2 but BOTH admitted
        ], "url string, embedding array<float>")
        got = sorted(r["url"] for r in kb_admit_new(kb, batch).collect())
        assert got == ["n2", "n3"]
        # empty KB admits everything
        assert kb_admit_new(None, batch).count() == 3

    def test_select_links_gap_scoring(self, spark):
        """Hand-computed gap-fill score (select_links_for_expansion
        :804-921) on an orthogonal toy geometry."""
        kb = _vecs(spark, [("k1", [1.0, 0.0, 0.0])])
        q = _vecs(spark, [("q1", [0.0, 1.0, 0.0])],
                  "query_id string, embedding array<float>")
        gaps = coverage_gaps(q, kb)  # gap = 1.0 > radius
        cand = _vecs(spark, [
            ("a", [0.0, 1.0, 0.0]),   # fills the gap exactly
            ("b", [0.0, 0.0, 1.0]),   # orthogonal to the gap: no help
            ("c", [1.0, 0.0, 0.0]),   # duplicate of KB: overlap penalty
        ], "href string, embedding array<float>")
        out = {r["href"]: r.asDict()
               for r in select_links_for_expansion(cand, gaps, kb).collect()}
        # a: improvement = (1.0 - 0.0) * 2 over 1 needing gap = 2.0; no overlap
        assert out["a"]["score"] == pytest.approx(2.0)
        # b: new_distance == gap -> no improvement
        assert out["b"]["score"] == pytest.approx(0.0)
        # c: gap_score 0, penalty (1.0 - 0.85) * 2 = 0.3 -> still 0
        assert out["c"]["overlap_penalty"] == pytest.approx(0.3)
        assert out["c"]["score"] == pytest.approx(0.0)

    def test_contextual_blend_skips_falsy_zero(self, spark):
        """Reference `if link.contextual_score` — a 0.0 contextual score
        skips the 0.8/0.2 blend (adaptive_crawler.py:917-919)."""
        kb = None
        q = _vecs(spark, [("q1", [0.0, 1.0])],
                  "query_id string, embedding array<float>")
        gaps = coverage_gaps(q, kb)
        cand = _vecs(spark, [
            ("a", [0.0, 1.0], 0.5),
            ("b", [0.0, 1.0], 0.0),
            ("c", [0.0, 1.0], None),
        ], "href string, embedding array<float>, ctx double")
        out = {r["href"]: r["score"] for r in select_links_for_expansion(
            cand, gaps, kb, contextual_col="ctx").collect()}
        base = out["b"]  # unblended
        assert out["c"] == pytest.approx(base)
        assert out["a"] == pytest.approx(base * 0.8 + 0.5 * 0.2)

    def test_empty_gaps_pins_score_zero_without_blend(self, spark):
        """Reference `if not gaps: score = 0.0` (adaptive_crawler.py:
        869-870) — the contextual blend lives inside the ELSE branch, so
        an EMPTY gaps input yields exactly 0.0 even for candidates with a
        truthy contextual score."""
        gaps = _vecs(spark, [],
                     "embedding array<float>, gap double").select(
            "embedding", "gap")
        cand = _vecs(spark, [("a", [0.0, 1.0], 0.5)],
                     "href string, embedding array<float>, ctx double")
        out = select_links_for_expansion(
            cand, gaps, None, contextual_col="ctx"
        ).collect()
        assert out[0]["score"] == 0.0

    def test_covered_gaps_still_blend_contextual(self, spark):
        """Gaps EXIST but none exceed the radius: the reference falls
        through to gap_reduction_score = 0 and STILL blends (the `if not
        gaps` short-circuit does not fire) — score = 0*0.8 + ctx*0.2."""
        kb = _vecs(spark, [("k1", [0.0, 1.0])])
        q = _vecs(spark, [("q1", [0.0, 1.0])],
                  "query_id string, embedding array<float>")
        gaps = coverage_gaps(q, kb)  # gap = 0.0 <= radius
        cand = _vecs(spark, [("a", [1.0, 0.0], 0.5)],
                     "href string, embedding array<float>, ctx double")
        out = select_links_for_expansion(
            cand, gaps, None, contextual_col="ctx"
        ).collect()
        assert out[0]["score"] == pytest.approx(0.0 * 0.8 + 0.5 * 0.2)

    def test_empty_markdown_pages_never_reach_the_kb(self, spark):
        """update_state's `if content:` (adaptive_crawler.py:1177-1181):
        successful pages with empty or NULL raw_markdown are not embedded
        or admitted — they'd hash to the zero vector and be admitted on
        every batch forever."""
        from crawl4ai_spark.plans.adaptive_embed import embed_results_batch

        new = spark.createDataFrame(
            [
                ("https://a.test/real", True, "# some markdown"),
                ("https://a.test/empty", True, ""),
                ("https://a.test/null", True, None),
                ("https://a.test/failed", False, "# never fetched"),
            ],
            "url string, success boolean, raw_markdown string",
        )
        batch = embed_results_batch(new, dim=8)
        assert [r["url"] for r in batch.collect()] == ["https://a.test/real"]

    def test_quality_confidence_mapping(self):
        # unvalidated: conservative 0.8x
        assert quality_confidence(0.5, 0.0, False) == pytest.approx(0.4)
        # validated: band mapping 0.4-0.7 -> 0.7-0.95
        assert quality_confidence(0.3, 0.6, True) == pytest.approx(0.7)
        assert quality_confidence(0.8, 0.6, True) == pytest.approx(0.95)
        assert quality_confidence(0.55, 0.6, True) == pytest.approx(
            0.7 + 0.15 * 0.833
        )
        # validated flag but low validation score -> conservative path
        assert quality_confidence(0.5, 0.3, True) == pytest.approx(0.4)

    def test_hash_embedding_is_deterministic_unit_norm(self, spark):
        df = spark.createDataFrame(
            [("spark crawl data",), ("spark crawl data",), ("totally else",)],
            "text string",
        ).select(hash_embedding_col("text", dim=8).alias("e"))
        rows = [r["e"] for r in df.collect()]
        assert rows[0] == rows[1]
        assert rows[0] != rows[2]
        assert sum(x * x for x in rows[0]) == pytest.approx(1.0, abs=1e-5)


class TestLoop:
    def _crawl(self, spark, pages, workdir, **cfg):
        return EmbeddingAdaptiveCrawl(
            spark, pages, build_robots(spark), build_seeds(spark, 5),
            workdir,
            query="data value spark window",
            query_variations=VARIATIONS,
            config=EmbeddingAdaptiveConfig(
                max_pages=30, batch_size=8, max_depth=3, **cfg
            ),
        )

    def test_train_val_split_keeps_query_in_training(self, spark, pages, tmp_path):
        ac = self._crawl(spark, pages, str(tmp_path))
        assert ac.train_queries[0] == "data value spark window"
        # max(2, 20% of 5) = 2 held out, the LAST two variations
        assert ac.val_queries == VARIATIONS[-2:]
        assert len(ac.train_queries) == 1 + 3

    def test_crawl_until_confident(self, spark, pages, tmp_path):
        ac = self._crawl(spark, pages, str(tmp_path))
        out = ac.crawl_until_confident(max_iterations=6)
        assert out["stop_reason"] in {
            "confident", "max_pages", "frontier_empty", "max_iterations",
            "converged_validated", "below_minimum_relevance_threshold",
        }
        assert 0.0 <= out["confidence"] <= 1.0
        assert ac.kb() is not None and ac.kb().count() > 0
        assert 0.0 <= ac.quality_confidence() <= 1.0
        # KB dedup admitted fewer docs than pages crawled (templated pages
        # embed near-identically under the bag-of-words embedder)
        results = ac.run.results().filter("success").count()
        assert ac.kb().count() <= results

    def test_converged_validated_stop(self, spark, pages, tmp_path):
        """With a permissive validation floor, a flat confidence history
        stops as converged_validated (should_stop :1118-1135)."""
        ac = self._crawl(spark, pages, str(tmp_path), validation_min_score=0.01)
        out = ac.crawl_until_confident(max_iterations=6)
        # two flat iterations trigger convergence; validation passes at the
        # permissive floor unless the frontier drained first
        assert out["stop_reason"] in {"converged_validated", "frontier_empty"}
        if out["stop_reason"] == "converged_validated":
            assert ac._validation_passed
            # validated systems map into the 0.7+ quality band
            assert ac.quality_confidence() >= 0.7 * 0.999

    def test_irrelevance_floor_stops(self, spark, pages, tmp_path):
        ac = self._crawl(spark, pages, str(tmp_path), min_confidence_threshold=0.99)
        out = ac.crawl_until_confident(max_iterations=3)
        assert out["stop_reason"] == "below_minimum_relevance_threshold"

    def test_resume_continues_kb(self, spark, pages, tmp_path):
        wd = str(tmp_path)
        ac1 = self._crawl(spark, pages, workdir=wd)
        ac1.step()
        kb1 = ac1.kb().count()
        cursor1 = ac1._results_cursor
        # a fresh instance over the same workdir resumes the cursor and KB
        ac2 = self._crawl(spark, pages, workdir=wd)
        assert ac2._results_cursor == cursor1
        assert ac2.kb().count() == kb1
        ac2.step()
        assert ac2.kb().count() >= kb1
