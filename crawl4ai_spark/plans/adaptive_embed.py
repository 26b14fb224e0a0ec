"""Embedding-strategy adaptive crawl loop (SURVEY.md §2.5 A8, reference
EmbeddingStrategy: /root/reference/crawl4ai/adaptive_crawler.py:593-1228 —
query semantic-space mapping :666-735, confidence :924-951, validation
:1055-1090, convergence stop :1091-1140, KB update + dedup :1169-1228).

Spark shape: the crawl itself is the same batch CrawlRun the statistical
strategy drives (best-first, query-relevance URL scorer); the embedding
machinery rides beside it:

- the knowledge base is a SnapshotTable of (url, embedding) rows — each
  step embeds the iteration's NEW successful pages (tailed incrementally
  via ``read_since``, never a re-scan of all results) and admits only
  those below the similarity threshold against the pre-batch KB
  (``kb_admit_new`` — the reference's update_state dedup, including its
  within-batch-duplicates-both-admitted quirk);
- confidence is ``embedding_confidence`` over (KB ⨯ broadcast train-query
  embeddings) — one KB scan per step, only Q rows shuffle;
- stop rules are the reference's: irrelevance floor, page budget / empty
  frontier, convergence of the confidence history validated against the
  held-out query split (validate_coverage), with the
  converged-but-low-validation "keep crawling" branch preserved.

The KB snapshot makes the strategy resumable exactly like the underlying
CrawlRun: a new EmbeddingAdaptiveCrawl over the same workdir re-reads the
committed KB and continues admitting from the last results snapshot.

LLM query expansion is stubbed in the reference itself (the completion
call is commented out, :686-698); variations are an explicit argument
here. The train/validation split keeps the original query in training and
holds out the LAST ``max(2, 20%)`` variations (deterministic where the
reference's unseeded ``random.shuffle`` is not).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawl4ai_spark.datapipe.adaptive_embed import (
    KB_SIM_THRESHOLD,
    MIN_CONFIDENCE_THRESHOLD,
    MIN_RELATIVE_IMPROVEMENT,
    VALIDATION_MIN_SCORE,
    embedding_confidence,
    hash_embedding_col,
    kb_admit_new,
    quality_confidence,
)
from crawl4ai_spark.operators.scorers import keyword_relevance_score
from crawl4ai_spark.plans.adaptive import _tokenize_query
from crawl4ai_spark.plans.crawl import CrawlConfig, CrawlRun
from crawl4ai_spark.sources.snapshots import SnapshotTable


def embed_results_batch(new: DataFrame, dim: int) -> DataFrame:
    """(url, embedding) rows for a results slice, reference update_state
    semantics (adaptive_crawler.py:1169-1181): only successful pages whose
    extraction yielded NON-EMPTY markdown reach the embedder (`if
    content:`) — an empty/NULL-markdown page would hash to the zero
    vector, score cosine 0 against every KB row, and be admitted forever
    (unbounded junk growth the reference never exhibits). The reference's
    ``content[:5000]`` cap lives inside ``hash_embedding_col``."""
    return (
        new.filter("success")
        .filter(F.coalesce(F.length("raw_markdown"), F.lit(0)) > 0)
        .select(
            "url",
            hash_embedding_col("raw_markdown", dim=dim).alias("embedding"),
        )
    )


@dataclass
class EmbeddingAdaptiveConfig:
    confidence_threshold: float = 0.7          # digest-level stop
    max_pages: int = 50
    batch_size: int = 10
    max_depth: int = 5
    embedding_dim: int = 16                    # hash-embedder width
    coverage_tau: float | None = None          # hit-rate mode when set
    kb_similarity_threshold: float = KB_SIM_THRESHOLD
    min_confidence_threshold: float = MIN_CONFIDENCE_THRESHOLD
    min_relative_improvement: float = MIN_RELATIVE_IMPROVEMENT
    validation_min_score: float = VALIDATION_MIN_SCORE
    crawl: CrawlConfig | None = None
    # reference: n_validation = max(2, 20% of variations), original query
    # always trains (:718-727); 0 = no held-out split
    n_validation: int | None = None


class EmbeddingAdaptiveCrawl:
    """Crawl-until-confident with semantic-coverage confidence."""

    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        robots: DataFrame | None,
        seeds: DataFrame,
        workdir: str,
        query: str,
        query_variations: list[str],
        config: EmbeddingAdaptiveConfig | None = None,
    ):
        self.spark = spark
        self.query = query
        self.config = config or EmbeddingAdaptiveConfig()
        cfg = self.config

        n_val = (
            cfg.n_validation
            if cfg.n_validation is not None  # explicit 0 = no held-out split
            else max(2, int(len(query_variations) * 0.2))
        )
        n_val = min(n_val, len(query_variations))
        self.train_queries = [query] + list(query_variations[: len(query_variations) - n_val])
        self.val_queries = list(query_variations[len(query_variations) - n_val:])

        self._train_emb = self._embed_queries(self.train_queries).cache()
        self._train_emb.count()
        self._val_emb: DataFrame | None = None  # embedded lazily, once (:1063)

        crawl_cfg = cfg.crawl or CrawlConfig(
            mode="best_first",
            max_pages=cfg.max_pages,
            max_depth=cfg.max_depth,
            iteration_budget=cfg.batch_size,
            scorer=lambda url: -keyword_relevance_score(
                url, _tokenize_query(query), weight=1.0
            ),
        )
        self.run = CrawlRun(spark, pages, robots, seeds, workdir, crawl_cfg)
        self.t_kb = SnapshotTable(f"{workdir.rstrip('/')}/kb_emb")
        self.confidence_history: list[float] = []
        self.metrics_history: list[dict] = []
        self._validation_passed = False
        # resume: continue tailing results from the last committed batch
        self._results_cursor = self.t_kb.snapshot_meta() or {}
        self._results_cursor = self._results_cursor.get("results_snapshot")

    # -- embeddings -----------------------------------------------------------

    def _embed_queries(self, texts: list[str]) -> DataFrame:
        df = self.spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "query_id long, text string"
        )
        return df.select(
            "query_id",
            hash_embedding_col("text", dim=self.config.embedding_dim).alias("embedding"),
        )

    def kb(self) -> DataFrame | None:
        return self.t_kb.read(self.spark)

    def _admit_new_results(self) -> None:
        """Embed the results appended since the last KB commit, admit the
        non-duplicates, commit."""
        cur, new = self.run.t_results.read_since(self.spark, self._results_cursor)
        if new is None:
            return
        batch = embed_results_batch(new, self.config.embedding_dim)
        admitted = kb_admit_new(
            self.kb(), batch, threshold=self.config.kb_similarity_threshold
        )
        self.t_kb.append(admitted, {"results_snapshot": cur})
        self._results_cursor = cur

    # -- confidence + stop rules ----------------------------------------------

    def metrics(self) -> dict:
        m = embedding_confidence(self.kb(), self._train_emb, tau=self.config.coverage_tau)
        return {k: round(v, 6) for k, v in m.items()}

    def validate_coverage(self) -> float:
        """Held-out confidence (validate_coverage :1055-1090): mean
        (1 − min distance) of the validation queries against the KB; the
        validation embeddings are computed once and cached."""
        if not self.val_queries:
            return self.confidence_history[-1] if self.confidence_history else 0.0
        if self._val_emb is None:
            self._val_emb = self._embed_queries(self.val_queries).cache()
            self._val_emb.count()
        kb = self.kb()
        if kb is None:
            return 0.0
        m = embedding_confidence(kb, self._val_emb)
        return m["avg_best_similarity"]

    def step(self) -> dict:
        s = self.run.run_iteration()
        if not s.get("done"):
            self._admit_new_results()
        m = self.metrics()
        self.confidence_history.append(m["confidence"])
        out = {**s, **m}
        self.metrics_history.append(out)
        return out

    def should_stop(self, m: dict) -> str | None:
        """should_stop (:1091-1140): irrelevance floor → budget/frontier →
        convergence-with-validation."""
        cfg = self.config
        confidence = m.get("confidence", 0.0)
        if (
            confidence < cfg.min_confidence_threshold
            and (m.get("pages_crawled") or 0) > 0
        ):
            return "below_minimum_relevance_threshold"
        if m.get("done"):
            return m.get("reason", "frontier_empty")
        if (m.get("pages_crawled") or 0) >= cfg.max_pages:
            return "max_pages"
        if len(self.confidence_history) < 2:
            return None
        diffs = list(zip(self.confidence_history[:-1], self.confidence_history[1:]))
        avg_improvement = sum(abs(b - a) for a, b in diffs) / len(diffs)
        if avg_improvement < cfg.min_relative_improvement * confidence:
            val = self.validate_coverage()
            if val > cfg.validation_min_score:
                self._validation_passed = True
                return "converged_validated"
            # low validation → keep crawling despite convergence (:1138)
        return None

    def quality_confidence(self) -> float:
        learning = self.confidence_history[-1] if self.confidence_history else 0.0
        val = self.validate_coverage() if self._validation_passed else 0.0
        return quality_confidence(learning, val, self._validation_passed,
                                  validation_min=self.config.validation_min_score)

    def crawl_until_confident(self, max_iterations: int = 20) -> dict:
        last: dict = {"confidence": 0.0}
        for _ in range(max_iterations):
            last = self.step()
            reason = self.should_stop(last)
            if reason:
                last["stop_reason"] = reason
                return last
            if last["confidence"] >= self.config.confidence_threshold:
                last["stop_reason"] = "confident"
                return last
        last["stop_reason"] = "max_iterations"
        return last
