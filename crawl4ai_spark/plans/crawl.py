"""The frontier iteration loop — BFS / best-first deep crawl as batch
Spark jobs over snapshot tables (SURVEY.md §7 M2; behavioral spec:
/root/reference/crawl4ai/deep_crawling/bfs_strategy.py:142-192 BFS loop,
link_discovery :68-140; bff_strategy.py:129-213 best-first).

One iteration =
  1. rank the frontier        — per-host politeness budget then global
                                priority rank (depth,score,ts); salted
                                two-pass windows above salt_bypass_rows,
                                plain windows below (the frontier row count
                                is carried in the snapshot manifest, so the
                                choice costs no job)
  2. robots gate              — broadcast join + can_fetch UDF, fail-open;
                                blocked rows become 403 results, never retried
  3. fetch                    — LEFT JOIN against the pages table (the web
                                is a table here); unmatched rows = 404
  4. extract                  — scrape/markdown Arrow UDFs (plans/extract)
  5. link discovery           — explode links, T2-normalize, validity +
                                filter chain, score, threshold, capacity top-k
  6. dedup                    — one bloom pre-filter (built once, then
                                merged with each iteration's new keys) +
                                exact anti-join vs seen (seen = ENQUEUED
                                set, as in the reference: visited.add
                                happens at enqueue, not fetch)
  7. commit                   — results/seen/frontier (+ host_state)
                                writes staged CONCURRENTLY into invisible
                                dirs (wall time ≈ the slowest write, not
                                the sum); the lineage rows were already
                                collected alongside the counters, so they
                                stage as a driver-side pyarrow write with
                                NO Spark job. The frontier replace commits
                                FIRST: its meta holds the iteration number
                                (the resume point) and the apply record,
                                every other table's staged dir. Those
                                tables commit after it, and a resumed run
                                rolls forward any that a crash skipped.

Job budget per iteration: the code issues about 7 actions — ONE count of
the cached ranked slice (it materializes the cache the fetch job would
otherwise fill, and its exact row count sizes the Python stages, picks
the probe broadcast and takes the empty-slice exit before robots and
fetch run), ONE fetch+extract collect, ONE discover+dedup collect, the 3
concurrent snapshot writes, and one broadcast of the per-iteration
scalars (``iteration``, the ``visit_order`` base) as a one-row relation;
a capacity re-rank adds one only in the over-budget case. The scheduler
runs far more JOBS than that: a steady iteration of the
``tests/test_crawl_job_budget.py`` crawl runs 29, and the traced
benchmark crawl reads 30 (``crawl.jobs_per_iter``). Most of the gap is
AQE query-stage and broadcast-build jobs, each one its own driver round
trip. That test is the guard: its ceiling is the measured 29. The
frontier row count rides in the snapshot manifest, so the rank itself
needs no count: it picks the window regime and clamps the rank budget to
min(frontier, budget), and the distributed ``range_rank`` (several jobs)
runs only when that bound exceeds ``ranking.LARGE_K_ROWS``.

Compile budget per iteration: ZERO new generated classes once the
iteration's plan shapes repeat. Spark inlines int literals into the
generated Java source, so a literal that changes every iteration compiles
fresh classes every iteration; the scalars therefore travel as data — the
one-row relation above, ``discovered_iter`` and ``first_iter`` from the
cached results' ``iteration`` — and a rank budget that covers the
frontier is dropped instead of becoming a ``<= n_frontier`` filter. The
codegen cache itself is sized in ``session.get_spark``. Literal sites that
remain: ``capacity_topk(remaining_after)`` in over-capacity iterations and
``merge_host_state(iteration)`` under adaptive politeness. The profile's
``codegen_compiles`` reports the count.

Determinism: every ordering is a rank over (depth, score, warc_ts) /
(score, depth, warc_ts) per the north rule; duplicate discoveries collapse
to min(depth) with lexicographic-min parent tie-break (reference records
first-discovery depth, bff_strategy.py:209 — async arrival order is
nondeterministic there, min() is the agreed determinization).

Scale: no driver-side loops over rows — the driver only runs the iteration
while-loop and reads scalar counters. Joins: pages join is the big one
(AQE skew-split enabled; frontier side is budget-bounded so it broadcasts
when small). Seen anti-join is bloom-pre-filtered. Politeness windows are
salted. Everything else is narrow.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawl4ai_spark.functions.urlnorm import normalize_deep_udf
from crawl4ai_spark.functions.urls import host_col, url_valid_col
from crawl4ai_spark.operators import ranking
from crawl4ai_spark.operators.capture import latest_capture
from crawl4ai_spark.operators.politeness import host_budget_rank, merge_host_state
from crawl4ai_spark.operators.ranking import capacity_topk, priority_rank
from crawl4ai_spark.operators.robots import apply_robots_gate
from crawl4ai_spark.operators.seen import (
    bloom_maybe_contains_col,
    build_bloom,
    dedup_against_seen,
)
from crawl4ai_spark.plans.extract import extract_udf
from crawl4ai_spark.sources.snapshots import SnapshotTable


@dataclass
class CrawlConfig:
    mode: str = "bfs"  # 'bfs' | 'best_first'
    max_pages: int = 100
    max_depth: int = 10
    host_budget: int = 10  # URLs per host per iteration (politeness)
    iteration_budget: int | None = None  # global cap per iteration (best-first BATCH_SIZE analog)
    salt: int = 16
    score_threshold: float = float("-inf")
    include_external: bool = False
    check_robots: bool = True
    # URL-seen pre-filter (operators/seen.py): an OR-mergeable bloom
    # bitset ahead of the exact anti-join, so the crawl's visit order and
    # seen set are byte-identical with or without it
    bloom_bits: int = 1 << 23
    # fetch join: broadcast the frontier slice only below this row count —
    # an unbudgeted iteration (iteration_budget=None, huge max_pages) must
    # degrade to a shuffle join instead of OOMing the driver with a hinted
    # broadcast that bypasses autoBroadcastJoinThreshold
    broadcast_frontier_max: int = 200_000
    # below this seen-set size the bloom pre-filter costs more than the
    # anti-join it short-circuits; at 10^10 URLs it is always on
    bloom_min_seen: int = 200_000
    # below this frontier size the salted two-pass windows cost more in
    # extra shuffle rounds than the skew they prevent — use plain windows
    # (the frontier count is known from the manifest, so this is free)
    salt_bypass_rows: int = 100_000
    # the reference's filter_chain: callables from the url Column to a
    # boolean Column; a discovered candidate url is kept where all hold
    filter_conditions: list = field(default_factory=list)
    # scorer: callable(url Column) -> score Column; default 0.0 (BFS order)
    scorer: Callable | None = None
    # the caller guarantees the pages table has ONE capture per url —
    # skips the per-iteration latest-capture aggregate on the fetch slice
    # (multi-capture WARC corpora must leave this False)
    pages_unique: bool = False
    # adaptive politeness (P2): per-host budget = floor(iteration_window /
    # current_delay), delays evolving per the deterministic RateLimiter
    # variant (429/503 ⇒ ×2 clamped at max_delay; success ⇒ ×0.75 floored)
    adaptive_politeness: bool = False
    iteration_window: float = 30.0  # simulated wall budget per iteration (s)
    base_delay: float = 1.0
    max_delay: float = 60.0
    # snapshots retained on the REPLACE-per-iteration tables (frontier,
    # host_state): each iteration leaves a full dead copy behind, so a
    # 10k-iteration crawl would hold 10k frontier copies on disk without
    # expiry. Resume only reads the current record per table, so any
    # value >= 1 is crash-safe; the default keeps a few extra for
    # time-travel debugging. None = retain all.
    snapshot_retention: int | None = 8


def _zero_scorer(url_col):
    return F.lit(0.0)


def _codegen_compiles(spark: SparkSession) -> int:
    """Classes the driver JVM's code generator has Janino-compiled so far
    (codegen cache hits do not count). A py4j read: it starts no job."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    return metrics.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def _parts(n: int) -> int:
    """Coalesce small snapshot writes: a snapshot read at iteration k
    unions k data dirs, so file count per dir must track data size, not
    shuffle parallelism (at cluster scale the same knob is Iceberg
    write.target-file-size)."""
    return max(1, min(32, n // 50_000 + 1))


class CrawlRun:
    """A resumable crawl over snapshot tables rooted at ``workdir``."""

    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        robots: DataFrame | None,
        seeds: DataFrame,
        workdir: str,
        config: CrawlConfig | None = None,
    ):
        self.spark = spark
        self.pages = pages
        self.robots = robots
        self.seeds = seeds
        self.config = config or CrawlConfig()
        self.t_frontier = SnapshotTable(os.path.join(workdir, "frontier"))
        self.t_seen = SnapshotTable(os.path.join(workdir, "seen"))
        self.t_results = SnapshotTable(os.path.join(workdir, "results"))
        self.t_lineage = SnapshotTable(os.path.join(workdir, "lineage"))
        self.t_host_state = SnapshotTable(os.path.join(workdir, "host_state"))
        # the tables the frontier's apply record names, by record key
        self._tables = {
            "results": self.t_results,
            "seen": self.t_seen,
            "lineage": self.t_lineage,
            "host_state": self.t_host_state,
        }
        self.scorer = self.config.scorer or _zero_scorer
        # the current iteration's bloom-bitset broadcast: created in step 6,
        # destroyed at the end of the SAME iteration (all jobs that read it
        # have committed by then) — holding it any longer leaks one dead
        # ~1 MiB broadcast per iteration on driver and executors
        self._bloom_bc = None
        # the URL-seen bloom pre-filter, maintained INCREMENTALLY across
        # iterations: built full once (first threshold crossing, resume or
        # after an expiry), then each iteration merges in only its own new
        # keys at the same geometry. May hold EXTRA keys
        # relative to the committed seen table after a failed
        # iteration — harmless by construction (a filter positive still
        # passes through the exact anti-join); it can never be missing a
        # committed key (the merge precedes the commit point)
        self._seen_filter = None
        # every frame run_iteration persists, released by its finally on
        # every exit — without this a raise mid-iteration (fetch error,
        # commit race, fail-loud fan-out guard) strands up to six cached
        # frames per attempt in executor memory, and a driver that
        # retries in-process accumulates them without bound
        self._iter_caches: list = []

    def _cache(self, df):
        """persist + track for the run_iteration finally-release."""
        df = df.persist()
        self._iter_caches.append(df)
        return df

    def _release_iter_caches(self) -> None:
        for df in self._iter_caches:
            try:
                df.unpersist()
            except Exception:
                pass  # session torn down mid-failure: nothing to release
        self._iter_caches.clear()

    def _commit(self, frontier, meta: dict, writes: dict) -> None:
        """The multi-table commit of the bootstrap and of every iteration,
        forward-only. ``writes`` maps an apply-record key to ``(data,
        mode)``. Every write is staged concurrently into an invisible
        ``.staging-*`` dir (separate tables, separate manifests: wall
        time ≈ the slowest write, not the sum). Then the frontier replace
        commits FIRST as the commit point; its meta carries the apply
        record, ``{key: [staged dir, mode]}``. Then each staged dir
        commits to its table, tagged with the iteration it belongs to.

        A crash before the frontier commit leaves only ``.staging-*``
        dirs, which the next commit's orphan sweep removes, and the
        re-run stages afresh. A crash after it leaves the record, which
        ``_roll_forward`` completes. No table is ever ahead of the
        frontier, so every commit is final. (On a cluster: Iceberg
        stage-commit per table with the frontier commit as the WAL tip,
        same protocol.)"""
        with ThreadPoolExecutor(max_workers=1 + len(writes)) as pool:
            frontier_fut = pool.submit(self.t_frontier.stage, frontier)
            futs = {
                key: pool.submit(self._tables[key].stage, data)
                for key, (data, _) in writes.items()
            }
            meta = {
                **meta,
                "apply": {
                    key: [futs[key].result(), mode]
                    for key, (_, mode) in writes.items()
                },
            }
            frontier_dir = frontier_fut.result()
        self.t_frontier.commit_staged(frontier_dir, meta, mode="replace")
        self._apply(meta)

    def _apply(self, meta: dict) -> None:
        """Commit each entry of a frontier snapshot's apply record.
        ``commit_staged`` skips a dir its table already references, so
        this is both the forward path and the resume roll-forward."""
        for key, (staged, mode) in meta.get("apply", {}).items():
            self._tables[key].commit_staged(
                staged, {"iteration": meta["iteration"] - 1}, mode=mode
            )

    def _roll_forward(self) -> None:
        """Resume: complete the current frontier snapshot's apply record.
        Runs at every ``run_iteration`` entry and before ``expire_seen``
        — driver-side manifest reads only, no Spark job, and nothing to
        commit on the clean path.

        Fails loud on a workdir left mid-commit by the older undo-style
        protocol, which committed the other tables BEFORE the frontier:
        a snapshot tagged at or above the frontier's iteration holds
        rows the re-run iteration would append a second time."""
        meta = self.t_frontier.snapshot_meta() or {}
        iteration = meta.get("iteration", -1)
        for key, t in self._tables.items():
            tag = (t.snapshot_meta() or {}).get("iteration", -1)
            if tag >= iteration:
                raise RuntimeError(
                    f"the {key} table at {t.root} holds a snapshot of "
                    f"iteration {tag}, but the frontier is at iteration "
                    f"{iteration}: the workdir was left mid-commit by a "
                    "commit protocol that committed this table before the "
                    "frontier; drop that snapshot before resuming"
                )
        self._apply(meta)

    def _destroy_bloom_bc(self) -> None:
        if self._bloom_bc is not None:
            try:
                self._bloom_bc.destroy()
            finally:
                self._bloom_bc = None

    # -- state ---------------------------------------------------------------

    def state(self) -> dict:
        meta = self.t_frontier.snapshot_meta() or {}
        return {
            "iteration": meta.get("iteration", -1),
            # pages_crawled counts SUCCESSFUL crawls only — the reference's
            # budget semantics (bfs_strategy.py:172-174 "count only
            # successful crawls"); robots-403 and 404 rows are result rows
            # but never consume max_pages
            "pages_crawled": meta.get("pages_crawled", 0),
            # n_visited counts ALL result rows (the dense visit_order base)
            "n_visited": meta.get("n_visited", 0),
            # row counters carried in snapshot meta so the driver loop never
            # runs count() jobs just to decide control flow
            "n_frontier": meta.get("n_frontier"),
            "n_seen": meta.get("n_seen", 0),
        }

    def _bootstrap(self) -> None:
        """Iteration -1 → 0: seed the frontier and the seen set.

        Fast path: a seed list is CONFIG-sized (the reference takes a
        Python list of URLs), so up to ``broadcast_frontier_max`` rows the
        normalize+dedup runs driver-side with the same
        ``normalize_url_for_deep_crawl`` the Arrow UDF wraps — one bounded
        collect and zero shuffles, where the distributed
        UDF→dropDuplicates chain costs several seconds of first-shuffle
        plan compilation for a few hundred rows. Beyond the threshold
        (a resumed mega-frontier injected as "seeds") the distributed
        path with identical semantics takes over."""
        cfg = self.config
        # ONE probe job decides the path AND (on the fast path) delivers the
        # rows: limit(max+1).collect() — if it returns ≤ max rows that IS
        # the whole seed list, so the separate count() job the old protocol
        # paid is folded away; > max rows means "mega-frontier", take the
        # distributed path (the over-fetch is bounded at max+1 rows)
        probe = self.seeds.select("url").limit(cfg.broadcast_frontier_max + 1).collect()
        if len(probe) <= cfg.broadcast_frontier_max:
            from crawl4ai_spark.functions.urlnorm import (
                normalize_url_for_deep_crawl,
            )

            # min-url-wins representative per normalized key: seed lists
            # carry no order column, so "first in list" has no distributed
            # equivalent — min(url) is the choice BOTH paths can compute
            # deterministically (layout-independent on the big path)
            dedup: dict[str, str] = {}
            for r in probe:
                u = r["url"]
                norm = normalize_url_for_deep_crawl(u, u)
                prev = dedup.get(norm)
                if prev is None or u < prev:
                    dedup[norm] = u
            # one explicit slice: createDataFrame(list) parallelizes into
            # defaultParallelism slices, and coalesce(1) would then fuse
            # them into ONE task that runs all those Python partition
            # computations SERIALLY (~8 s for 32 slices on a warm session);
            # parallelize(data, 1) does the same work in a single pass
            keyed = self.spark.createDataFrame(
                self.spark.sparkContext.parallelize(
                    [(u, n) for n, u in dedup.items()], 1
                ),
                "url string, url_norm string",
            )
            n_seeds = len(dedup)
        else:
            # keep the normalize UDF + dedup distributed (a resumed
            # mega-frontier is exactly the case one task can't hold);
            # size the snapshot files by row count after the fact.
            # groupBy+min(url) instead of dropDuplicates: same single
            # shuffle (with map-side partial agg), but the representative
            # is deterministic and identical to the fast path's min-wins.
            # A seed list read from few files (one parquet export) arrives
            # in fewer partitions than cores; spread it round-robin first,
            # or the normalize UDF runs in that many Python tasks while
            # the other cores sit idle
            raw = self.seeds.select("url")
            par = self.spark.sparkContext.defaultParallelism
            if raw.rdd.getNumPartitions() < par:
                raw = raw.repartition(par)
            keyed = (
                raw.select(
                    F.col("url"),
                    normalize_deep_udf(F.col("url"), F.col("url")).alias(
                        "url_norm"
                    ),
                )
                .groupBy("url_norm")
                .agg(F.min("url").alias("url"))
            )
            n_seeds = None
        cached = self._cache(
            keyed.select(
                "url",
                "url_norm",
                host_col(F.col("url")).alias("host"),
                F.lit(0).alias("depth"),
                F.lit(0.0).alias("score"),
                F.lit(None).cast("string").alias("parent_url"),
                F.lit(0).alias("discovered_iter"),
            )
        )
        seeds = cached
        if n_seeds is None:
            n_seeds = cached.count()
            seeds = cached.coalesce(_parts(n_seeds))
        # both writes run off the shared cache; the seen replace is the
        # bootstrap's one apply-record entry, so a crash before the
        # frontier commit leaves the frontier at iteration -1 and a
        # resumed run simply re-bootstraps
        self._commit(
            seeds,
            {"iteration": 0, "pages_crawled": 0, "n_visited": 0,
             "n_frontier": n_seeds, "n_seen": n_seeds},
            {"seen": (
                seeds.select("url_norm", F.xxhash64("url_norm").alias("url_hash"),
                             "depth", F.lit(0).alias("first_iter")),
                "replace",
            )},
        )
        cached.unpersist()

    # -- one iteration ---------------------------------------------------------

    def run_iteration(self) -> dict:
        """Run one frontier iteration; returns counters (empty frontier →
        {'done': True}).

        The one place that releases the iteration's persisted frames and
        the bloom bitset broadcast: EVERY exit — the commit, the done/early
        returns, the fail-loud guards, and any Spark job failure — passes
        through the finally, so long crawls hold O(1) caches and
        broadcasts and an in-process retry after a failure starts from a
        clean executor-memory slate. Only frames consumed mid-iteration
        (the flagged candidates) are released earlier. Nothing committed
        is touched: the resume roll-forward handles the snapshot side."""
        try:
            return self._run_iteration_body()
        finally:
            self._release_iter_caches()
            self._destroy_bloom_bc()

    def _run_iteration_body(self) -> dict:
        cfg = self.config
        compiles0 = _codegen_compiles(self.spark)
        st = self.state()
        if st["iteration"] < 0:
            self._bootstrap()
            st = self.state()
        else:
            # resumed workdir OR in-process retry after a failed commit:
            # complete the last frontier commit's apply record
            self._roll_forward()
        iteration = st["iteration"]
        pages_crawled = st["pages_crawled"]
        visit_base = st["n_visited"]
        remaining = cfg.max_pages - pages_crawled
        if remaining <= 0:
            return {"done": True, "reason": "max_pages"}

        if st["n_frontier"] == 0:
            return {"done": True, "reason": "frontier_empty"}
        frontier = self.t_frontier.read(self.spark)
        if frontier is None:
            return {"done": True, "reason": "frontier_empty"}
        n_frontier = st["n_frontier"]
        t0 = time.time()
        # the profile: wall-second laps ``fetch_extract``,
        # ``discover_dedup`` and ``commit``, plus ``codegen_compiles``,
        # the classes Spark's code generator compiled during the
        # iteration (zero in a steady iteration; see the module
        # docstring). In local mode that count includes the executor
        # threads; on a cluster it counts the driver's compiles only.
        prof: dict[str, float] = {}

        def _lap(label: str, since: float) -> float:
            now = time.time()
            prof[label] = round(now - since, 2)
            return now

        t = t0

        # warc_ts is a property of the PAGE; the frontier doesn't know it
        # yet. The deterministic stand-in for ranking is the url itself
        # (unique, stable); a production frontier carries last-seen warc_ts.
        # ``sort_depth`` carries the mode's depth direction (dfs = deepest
        # first) so the salted host window can hash/order plain columns.
        frontier = frontier.withColumn("warc_ts_hint", F.col("url")).withColumn(
            "sort_depth",
            -F.col("depth") if cfg.mode == "dfs" else F.col("depth"),
        )
        order_cols = (
            ["score", "sort_depth", "warc_ts_hint"]
            if cfg.mode == "best_first"
            else ["sort_depth", "score", "warc_ts_hint"]
        )

        # 1. politeness budget per host, then global rank + iteration
        #    budget. The frontier row count from the manifest picks the
        #    window regime (plain below salt_bypass_rows, salted two-pass
        #    above) and bounds the rank budget; the ranked slice is then
        #    counted once and that exact count sizes the later stages.
        #    With adaptive_politeness the budget is per-host:
        #    floor(iteration_window / current_delay) from the host_state
        #    table (P1+P2), else a uniform constant.
        small = n_frontier <= cfg.salt_bypass_rows
        hs_df = self.t_host_state.read(self.spark) if cfg.adaptive_politeness else None
        if cfg.adaptive_politeness:
            if hs_df is not None:
                # NO forced broadcast: host_state is a parquet scan, so
                # Catalyst's size stats (+ AQE at runtime) broadcast it
                # while it fits autoBroadcastJoinThreshold and degrade to
                # a shuffled join beyond — a forced hint would OOM the
                # driver once the distinct-host set outgrows memory
                # (100M-host crawls), and unlike the frontier mid-plan
                # there is no row-count hint cheaper than the scan stats
                aug = frontier.join(
                    hs_df.select("host", "current_delay"), "host", "left"
                )
            else:
                aug = frontier.withColumn(
                    "current_delay", F.lit(None).cast("double")
                )
            delay = F.coalesce(F.col("current_delay"), F.lit(cfg.base_delay))
            budget_col = F.greatest(
                F.lit(1).cast("long"),
                F.floor(F.lit(cfg.iteration_window) / delay),
            )
            budgeted = host_budget_rank(
                aug, order_cols, host="host", budget=budget_col, salt=cfg.salt,
                small_input=small,
            ).drop("current_delay")
        else:
            budgeted = host_budget_rank(
                frontier, order_cols, host="host", budget=cfg.host_budget,
                salt=cfg.salt, small_input=small,
            )
        global_budget = min(remaining, cfg.iteration_budget or remaining)
        # the ranked input holds at most n_frontier rows, so this bound
        # keeps exactly the rows global_budget keeps — and a 10^9
        # max_pages does not route a small frontier through the
        # distributed range rank (ranking.LARGE_K_ROWS). A budget that
        # covers a bounded frontier is no budget at all: a plain global
        # window keeps every row, skips the salted pre-pass, and leaves
        # no per-iteration ``<= n_frontier`` literal in generated code
        rank_budget = min(n_frontier, global_budget)
        if rank_budget == n_frontier and n_frontier <= ranking.LARGE_K_ROWS:
            rank_budget = None
        selected = priority_rank(
            budgeted, mode=cfg.mode, budget=rank_budget,
            tiebreak="warc_ts_hint", small_input=small,
        )
        selected = self._cache(selected.drop("warc_ts_hint", "sort_depth"))
        # the fetch job would materialize this cache anyway; counting it
        # first sizes every later stage from the rows the slice holds
        n_selected = selected.count()
        if n_selected == 0:
            # defensive: a ≥1-per-host budget on a non-empty frontier always
            # selects rows, so this only fires on a degenerate config;
            # nothing was committed, so the snapshot state is untouched
            return {"done": True, "reason": "budget_zero"}
        # partitions for the Python-UDF stages (extract, then URL
        # normalization over the results cache): ~16 pages per task, capped
        # at 4 tasks per core — a page costs ~10-30 ms of Python against a
        # fixed ~60-80 ms per task, so more tasks pay that fixed cost more
        # often and fewer leave cores idle
        par = self.spark.sparkContext.defaultParallelism
        nparts = max(1, min(par * 4, (n_selected + 15) // 16))

        # 2. robots gate (fail-open; blocked → 403 results, not retried)
        if cfg.check_robots and self.robots is not None:
            gated = apply_robots_gate(selected, self.robots)
        else:
            gated = selected.withColumn("robots_allowed", F.lit(True))
        gated = self._cache(gated)
        blocked = gated.filter(~F.col("robots_allowed"))
        allowed = gated.filter(F.col("robots_allowed"))

        # 3. fetch (J6). Semantically a LEFT join frontier ⟕ pages, but a
        #    left join can only broadcast its RIGHT side — at 100 TB the
        #    pages table never broadcasts and the whole corpus would
        #    shuffle. Instead: semi-join the corpus down to the slice's
        #    rows (broadcasting only the narrow url list, and only while
        #    the counted slice is small), then a small⟕small left join
        #    recovers the misses as NULL page rows.
        #    One pages-scan node in the plan; above the broadcast threshold
        #    both joins degrade to shuffles and AQE picks the strategy.
        probe = allowed.select("url")
        if n_selected <= cfg.broadcast_frontier_max:
            probe = F.broadcast(probe)
        relevant = self.pages.join(probe, on="url", how="left_semi")
        #    The pages table is caller-supplied and may hold SEVERAL
        #    captures per URL (normal in WARC corpora). The left join must
        #    stay 1:1 per selected URL — a fan-out here inflates
        #    n_results/n_selected, drives n_deferred negative, and writes
        #    corrupt counters into the manifest (which frontier_empty
        #    termination and broadcast sizing read). Collapse the
        #    semi-joined slice (small — bounded by the iteration budget ×
        #    captures-per-url) to the latest capture per url; the full-row
        #    lexicographic max breaks warc_ts ties deterministically.
        #    ``pages_unique=True`` skips the aggregate when the caller
        #    guarantees one capture per url.
        if not cfg.pages_unique:
            relevant = latest_capture(relevant, "url")
        fetched = allowed.join(relevant, on="url", how="left")
        # the join output keeps the pages side's shuffle partitioning
        # (spark.sql.shuffle.partitions, mostly empty tasks for a small
        # slice); pin the extract stage to the slice-sized width instead
        if nparts > 1:
            fetched = fetched.repartition(nparts)
        fetched = fetched.withColumn(
            "status_code", F.when(F.col("html").isNotNull(), 200).otherwise(404)
        )

        # 4. extract — ONE fused Arrow pandas UDF (scrape+markdown in a
        #    single Python round trip); only rows with a body
        extracted = fetched.withColumn(
            "x",
            F.when(
                F.col("status_code") == 200, extract_udf(F.col("html"), F.col("url"))
            ),
        )

        results = extracted.select(
            "url", "url_norm", "host", "depth", "score", "parent_url",
            "status_code",
            F.col("warc_ts"),
            F.col("x.cleaned_html").alias("cleaned_html"),
            F.col("x.text").alias("text"),
            F.col("x.links").alias("links"),
            F.col("x.metadata").alias("metadata"),
            F.col("x.lang").alias("lang"),
            F.col("x.raw_markdown").alias("raw_markdown"),
            F.col("x.fit_markdown").alias("fit_markdown"),
            F.col("visit_rank"),
            (F.col("status_code") == 200).alias("success"),
        ).unionByName(
            blocked.select(
                "url", "url_norm", "host", "depth", "score", "parent_url",
                F.lit(403).alias("status_code"),
                F.lit(None).cast("timestamp").alias("warc_ts"),
                F.lit(None).cast("string").alias("cleaned_html"),
                F.lit(None).cast("string").alias("text"),
                F.lit(None).cast(
                    "array<struct<href:string,text:string,title:string,base_domain:string,is_external:boolean,intrinsic_score:double>>"
                ).alias("links"),
                F.lit(None).cast("map<string,string>").alias("metadata"),
                F.lit(None).cast("string").alias("lang"),
                F.lit(None).cast("string").alias("raw_markdown"),
                F.lit(None).cast("string").alias("fit_markdown"),
                F.col("visit_rank"),
                F.lit(False).alias("success"),
            )
        )
        # the per-iteration scalars arrive as DATA, through a broadcast
        # one-row relation: as literals Spark would inline them into the
        # generated code and compile new classes on every iteration
        scalars = self.spark.sql(
            "SELECT * FROM VALUES (CAST(:it AS INT), CAST(:vb AS BIGINT))"
            " AS t(_it, _vb)",
            args={"it": iteration, "vb": visit_base},
        )
        results = (
            results.crossJoin(F.broadcast(scalars))
            .withColumn("iteration", F.col("_it"))
            .withColumn("visit_order", F.col("_vb") + F.col("visit_rank"))
            .drop("visit_rank", "_it", "_vb")
        )
        results = self._cache(results)
        # ONE job yields both the scalar counters and the per-partition
        # fetch lineage (the collected set is ≤ #partitions rows)
        fetch_parts = results.groupBy(
            F.spark_partition_id().alias("partition_id")
        ).agg(
            F.count(F.lit(1)).alias("urls_in"),
            F.sum(F.col("success").cast("long")).alias("fetched"),
            F.sum((F.col("status_code") == 403).cast("long")).alias("robots_blocked"),
        ).collect()
        n_results = sum(r["urls_in"] for r in fetch_parts)
        n_fetched = sum(r["fetched"] or 0 for r in fetch_parts)
        n_blocked = sum(r["robots_blocked"] or 0 for r in fetch_parts)
        t = _lap("fetch_extract", t)
        # the fetch slice is deduped to 1 row/url (pages_unique contract),
        # so every selected row becomes exactly one result row; any other
        # count means the manifest counters are about to corrupt — fail
        # loud before anything is staged (a real raise, not an assert:
        # this guard must survive python -O)
        if n_results != n_selected:
            raise RuntimeError(
                f"fetch fan-out: n_results={n_results} but "
                f"n_selected={n_selected} — pages table has duplicate urls "
                "but pages_unique=True was set?"
            )

        # P2: evolve per-host delays from this iteration's statuses
        # (merge_host_state: first-seen hosts enter at base delay, hit
        # hosts evolve, idle hosts keep their delay — the reference
        # touches DomainState on request). Built here, staged in the
        # step-7 concurrent pool — a synchronous replace would add one
        # serial job per iteration.
        if cfg.adaptive_politeness:
            new_state = merge_host_state(
                hs_df,
                results.select("host", "status_code"),
                iteration,
                max_delay=cfg.max_delay,
                base_delay=cfg.base_delay,
            )
        else:
            new_state = None

        # 5. link discovery
        discovered = (
            results.filter("success")
            .filter(F.col("depth") < cfg.max_depth)
            .select(
                F.col("url").alias("parent_url"),
                F.col("depth").alias("parent_depth"),
                # iteration + 1 from the cached results, not a literal
                (F.col("iteration") + 1).alias("discovered_iter"),
                F.explode("links").alias("link"),
            )
        )
        if not cfg.include_external:
            discovered = discovered.filter(~F.col("link.is_external"))
        candidates = discovered.select(
            F.col("link.href").alias("url"),
            normalize_deep_udf(F.col("link.href"), F.col("parent_url")).alias("url_norm"),
            (F.col("parent_depth") + 1).alias("depth"),
            F.col("parent_url"),
            F.col("discovered_iter"),
        )
        candidates = candidates.filter(url_valid_col(F.col("url")))
        for cond_fn in cfg.filter_conditions:
            candidates = candidates.filter(cond_fn(F.col("url")))

        # duplicate discoveries within the iteration → first-writer-wins:
        # min depth, then lexicographic min parent (deterministic)
        candidates = candidates.groupBy("url_norm").agg(
            F.min_by("url", F.struct("depth", "parent_url", "url")).alias("url"),
            F.min("depth").alias("depth"),
            F.min_by("parent_url", F.struct("depth", "parent_url")).alias("parent_url"),
            # every row holds iteration + 1
            F.min("discovered_iter").alias("discovered_iter"),
        )
        # score the chosen representative URL (scorers are pure URL fns)
        candidates = candidates.withColumn("score", self.scorer(F.col("url")))
        if cfg.score_threshold != float("-inf"):
            candidates = candidates.filter(F.col("score") >= cfg.score_threshold)

        # 6. dedup vs seen (exact anti-join; bloom pre-filter once the seen
        #    set is big enough that skipping the join shuffle pays for the
        #    filter build+broadcast). The bloom cannot change results: it
        #    is a no-false-negative pre-filter ahead of the same exact join.
        seen_df = self.t_seen.read(self.spark)
        flagged = None
        if seen_df is not None and st["n_seen"] >= cfg.bloom_min_seen:
            if self._seen_filter is None:
                # INCREMENTAL maintenance: this full O(n_seen) build runs
                # once per process (first threshold crossing, resume, or
                # after an expiry); afterwards each iteration merges in
                # only its own new keys (see the partial build below), so
                # the per-iteration filter cost is O(new), not O(total) —
                # at a 10^10-URL seen set the difference is the whole job.
                # The seen table stores url_hash = xxhash64(url_norm) at
                # every append precisely so these builds scan 8-byte longs
                # (one pruned column) instead of re-hashing url strings.
                self._seen_filter = build_bloom(
                    seen_df, num_bits=cfg.bloom_bits, hash_col="url_hash"
                )
            self._bloom_bc = self.spark.sparkContext.broadcast(
                self._seen_filter.bits.tobytes()
            )
            probe = bloom_maybe_contains_col(
                self.spark, self._seen_filter, F.col("url_norm"),
                bits_bc=self._bloom_bc,
            )
            # pre-compute the filter probe ONCE under a persist: the split
            # inside dedup_against_seen consumes the candidate plan twice,
            # and without this boundary the Arrow probe UDF (plus the
            # post-exchange aggregate above it) would run once per branch.
            # The persist costs NO extra job — the disc_parts count below
            # materializes it on the way to the downstream cache — and is
            # released as soon as that count returns.
            flagged = candidates.withColumn("_maybe_seen", probe)
            flagged = self._cache(flagged)
            candidates = flagged
        new_urls = dedup_against_seen(
            candidates, seen_df, seen_unique=True,
            flag_col="_maybe_seen" if flagged is not None else None,
        )

        # capacity top-k: if more new URLs than remaining SUCCESS budget
        # (reference counts only successful crawls toward max_pages), keep
        # the best (O4 semantics): score DESC in bfs/dfs — the reference
        # BFS trim sorts valid_links DESC (bfs_strategy.py:124-130) — and
        # score ASC in best_first, whose min-heap pops lowest-score-first,
        # so the trim must keep the rows the queue would pop FIRST (the
        # reference bff trim slices nondeterministic async arrival order;
        # queue-priority order is the deterministic stand-in). Deterministic
        # url tie-break. Count first so the common under-capacity case
        # skips the rank entirely; over capacity, the salted two-pass top-k
        # keeps the global window off the full discovery set (scale fix —
        # the naive global Window here serialized millions of rows into one
        # task).
        candidates = (
            new_urls.withColumn("host", host_col(F.col("url")))
            .select(
                "url", "url_norm", "host", "depth", "score", "parent_url",
                "discovered_iter",
            )
        )
        candidates = self._cache(candidates)
        # one job: candidate count AND per-partition discover lineage
        disc_parts = candidates.groupBy(
            F.spark_partition_id().alias("partition_id")
        ).agg(F.count(F.lit(1)).alias("emitted")).collect()
        n_candidates = sum(r["emitted"] for r in disc_parts)
        if flagged is not None:
            # downstream consumers all read the candidates cache just
            # materialized above; the flagged intermediate is done
            flagged.unpersist()
        remaining_after = remaining - n_fetched
        # seen = ENQUEUED-OR-CONSIDERED set, as in the reference: visited.add
        # runs BEFORE the capacity slice (bfs_strategy.py:121 vs :124-130),
        # so capacity-dropped links are permanently seen and never
        # re-enqueued by a later iteration that re-links them. Only the
        # exhausted-budget early return (capacity <= 0) skips the adds.
        if remaining_after <= 0:
            new_urls, n_new = candidates.limit(0), 0
            n_seen_add, seen_src = 0, new_urls
            disc_parts = []
        elif n_candidates > remaining_after:
            new_urls = capacity_topk(
                candidates, remaining_after, salt=cfg.salt,
                small_input=n_candidates <= cfg.salt_bypass_rows,
                ascending=cfg.mode == "best_first",
            )
            new_urls = self._cache(new_urls)
            n_new = remaining_after  # row_number ≤ k keeps exactly k rows
            n_seen_add, seen_src = n_candidates, candidates
            disc_parts = new_urls.groupBy(
                F.spark_partition_id().alias("partition_id")
            ).agg(F.count(F.lit(1)).alias("emitted")).collect()
        else:
            new_urls, n_new = candidates, n_candidates
            n_seen_add, seen_src = n_candidates, candidates
        t = _lap("discover_dedup", t)

        n_deferred = n_frontier - n_selected

        # 7. per-partition lineage + commit. Two row kinds per iteration:
        # 'fetch' rows carry per-partition urls-in/fetched/blocked of the
        # extraction stage (the skew evidence: a salted hot host shows up
        # as balanced partition row counts here), 'discover' rows carry
        # per-partition emitted counts of the dedup output. Both were
        # already collected alongside the counters (≤ #partitions rows),
        # so the lineage write is a driver-side pyarrow parquet write —
        # zero Spark jobs.
        t_now = time.time()
        lineage_rows = [
            (iteration, "fetch", r["partition_id"], r["urls_in"],
             r["fetched"] or 0, r["robots_blocked"] or 0, 0)
            for r in fetch_parts
        ] + [
            (iteration, "discover", r["partition_id"], 0, 0, 0, r["emitted"])
            for r in disc_parts
        ]
        lineage_tbl = pa.table(
            {
                "iteration": pa.array([r[0] for r in lineage_rows], pa.int32()),
                "stage": pa.array([r[1] for r in lineage_rows], pa.string()),
                "partition_id": pa.array([r[2] for r in lineage_rows], pa.int32()),
                "urls_in": pa.array([r[3] for r in lineage_rows], pa.int64()),
                "fetched": pa.array([r[4] for r in lineage_rows], pa.int64()),
                "robots_blocked": pa.array([r[5] for r in lineage_rows], pa.int64()),
                "emitted": pa.array([r[6] for r in lineage_rows], pa.int64()),
                "t_start": pa.array([t0] * len(lineage_rows), pa.float64()),
                "t_end": pa.array([t_now] * len(lineage_rows), pa.float64()),
            }
        )
        if n_deferred == 0:
            # the whole frontier was selected (the common steady state under
            # a generous budget) — nothing is deferred, so the next frontier
            # is exactly the fresh discoveries: skip the anti-join entirely
            next_frontier = new_urls
        else:
            sel_keys = selected.select("url_norm")
            if n_selected <= cfg.broadcast_frontier_max:
                sel_keys = F.broadcast(sel_keys)
            deferred = frontier.join(sel_keys, "url_norm", "left_anti").drop(
                "warc_ts_hint", "sort_depth"
            )
            next_frontier = deferred.unionByName(new_urls)

        # sized like the other snapshot writes; the partial filter build
        # below reads the same coalesced plan, so a dozen new keys cost one
        # Python task and one bitset, not one per candidate-cache partition
        # (the filter merge is placement-independent, so the bits match)
        seen_append = seen_src.select(
            "url_norm",
            F.xxhash64("url_norm").alias("url_hash"),
            "depth",
            F.col("discovered_iter").alias("first_iter"),
        ).coalesce(_parts(n_seen_add))
        if self._seen_filter is not None and n_seen_add:
            # incremental filter maintenance: fold ONLY this iteration's
            # new keys into the in-memory filter (a partial build over the
            # cached candidate slice — O(new) — then an in-memory merge),
            # replacing the full O(n_seen) rebuild every later iteration
            # would otherwise pay. Ordering is the safety argument: the
            # merge lands BEFORE the seen commit below, so a crash or
            # commit failure can only ever leave the filter with EXTRA
            # keys relative to the table — extras are harmless (a filter
            # positive still goes through the exact anti-join), whereas
            # the reverse order could leave committed keys missing from
            # the filter, and a missing key skips the join: a duplicate
            # crawl. A process restart drops the object entirely and the
            # resume path rebuilds it full, once.
            self._seen_filter = self._seen_filter.merge(
                build_bloom(
                    seen_append, num_bits=cfg.bloom_bits, hash_col="url_hash"
                )
            )
        writes = {
            "results": (results.coalesce(_parts(n_results)), "append"),
            "seen": (seen_append, "append"),
            "lineage": (lineage_tbl, "append"),
        }
        if new_state is not None:
            # host count is bounded by the distinct hosts ever seen, so
            # size the files like the other writes instead of a fixed
            # single-task coalesce
            writes["host_state"] = (
                new_state.coalesce(_parts(st["n_seen"] + n_results)),
                "replace",
            )
        self._commit(
            next_frontier.coalesce(_parts(n_deferred + n_new)),
            {
                "iteration": iteration + 1,
                "pages_crawled": pages_crawled + n_fetched,
                "n_visited": visit_base + n_results,
                "n_frontier": n_deferred + n_new,
                "n_seen": st["n_seen"] + n_seen_add,
            },
            writes,
        )
        # reclaim the dead full copies the replace-per-iteration tables
        # leave behind (append-only tables keep every dir live via the
        # tip, and external read_since tailers may hold cursors into
        # them — leave those alone). Driver-side manifest work + dir
        # removal only, no Spark job.
        if cfg.snapshot_retention is not None:
            self.t_frontier.expire_snapshots(keep_last=cfg.snapshot_retention)
            self.t_host_state.expire_snapshots(keep_last=cfg.snapshot_retention)
        t = _lap("commit", t)
        prof["codegen_compiles"] = _codegen_compiles(self.spark) - compiles0
        return {
            "done": False,
            "iteration": iteration,
            "selected": n_selected,
            "fetched": n_fetched,
            "robots_blocked": n_blocked,
            "new_urls": n_new,
            "pages_crawled": pages_crawled + n_fetched,
            "seconds": time.time() - t0,
            "profile": prof,
        }

    def run(self, max_iterations: int = 100) -> list[dict]:
        """Run until done or ``max_iterations``; resumable — a new CrawlRun
        over the same workdir continues from the last committed snapshot."""
        stats = []
        for _ in range(max_iterations):
            s = self.run_iteration()
            stats.append(s)
            if s.get("done"):
                break
        return stats

    # -- outputs ---------------------------------------------------------------

    def results(self) -> DataFrame | None:
        return self.t_results.read(self.spark)

    def seen(self) -> DataFrame | None:
        return self.t_seen.read(self.spark)

    def expire_seen(self, condition) -> dict:
        """TTL/recrawl expiry — the Spark restatement of the reference's
        cache invalidation (cache_context.py CacheMode read/write gating;
        async_database.py:495-526 aclear_db/aflush_db): remove matching
        URLs from the seen set so the crawl RE-crawls them on their next
        discovery. ``condition`` is a Column over the seen table's columns
        (``url_norm``, ``url_hash``, ``depth``, ``first_iter``) — e.g.
        ``F.col("first_iter") <= k`` recrawls everything discovered up to
        iteration k, the snapshot-table analogue of a TTL.

        Call BETWEEN iterations (CrawlRun is not concurrent). One commit:
        the survivor set REPLACES the seen table (snapshot history keeps
        the old set for time travel), tagged with the last COMPLETED
        iteration like the iteration's own commits.
        Results and lineage stay append-only — a re-crawled URL appends a
        fresh capture with a new visit_order, it does not rewrite history
        — and ``read_since`` tailers on the seen table fail loud on the
        rebuild, as any replace does. The frontier manifest's ``n_seen``
        counter intentionally keeps counting historical inserts: it feeds
        only sizing heuristics (filter geometry, file counts, the
        ``bloom_min_seen`` threshold), where an upper bound errs roomy,
        never wrong; the exact survivor count is recorded on the seen
        replace's own meta.

        A bloom cannot delete, so the in-memory filter is dropped and the
        next iteration rebuilds it over the survivors. Correctness never
        depends on that: a stale filter positive only routes a candidate
        through the exact anti-join, which now misses, so the URL is
        re-crawled.

        Returns ``{"n_expired": int, "n_seen": int}`` (survivor count)."""
        st = self.state()
        if st["iteration"] >= 0:
            # roll forward FIRST, exactly as run_iteration does on entry:
            # a crash after the frontier commit can leave the last
            # iteration's seen append staged but uncommitted. The replace
            # below would filter a seen set missing those keys (their
            # URLs would be crawled again), and its orphan sweep would
            # delete the staged dir the apply record still names.
            self._roll_forward()
        seen_df = self.t_seen.read(self.spark)
        if seen_df is None:
            return {"n_expired": 0, "n_seen": 0}
        cond = F.coalesce(condition, F.lit(False))  # null ⇒ keep, not drop
        expired = seen_df.filter(cond)
        # never expire a URL still PENDING in the frontier: its seen entry
        # is what stops a rediscovery from queueing it a second time while
        # the first copy waits — expiring it would double-fetch. Recrawl
        # semantics target URLs whose capture already landed.
        frontier_df = self.t_frontier.read(self.spark)
        if frontier_df is not None:
            expired = expired.join(
                frontier_df.select("url_norm"), "url_norm", "left_anti"
            )
        expired = expired.persist()
        survivors = None
        try:
            n_expired = expired.count()
            if n_expired == 0:
                # the zero path must report the same EXACT survivor count
                # the non-zero path does — st["n_seen"] only upper-bounds
                # it after a prior expiry (the frontier counter keeps
                # counting historical inserts); one count job on an
                # explicit maintenance call is the honest price
                return {"n_expired": 0, "n_seen": seen_df.count()}
            survivors = seen_df.join(
                expired.select("url_norm"), "url_norm", "left_anti"
            ).persist()
            # the EXACT survivor count — st["n_seen"] is only an upper
            # bound (it keeps counting historical inserts across prior
            # expiries), so subtracting from it would overstate after the
            # second expiry; one count job on a maintenance op is the
            # honest price, and the persist means the staged write below
            # reuses the materialization instead of re-running the joins
            n_seen = survivors.count()
            staged = self.t_seen.stage(
                survivors.coalesce(_parts(max(n_seen, 1)))
            )
            self.t_seen.commit_staged(
                staged,
                {"iteration": st["iteration"] - 1, "n_expired": n_expired,
                 "n_seen": n_seen},
                mode="replace",
            )
            self._seen_filter = None
            return {"n_expired": n_expired, "n_seen": n_seen}
        finally:
            expired.unpersist()
            if survivors is not None:
                survivors.unpersist()

    def lineage(self) -> DataFrame | None:
        return self.t_lineage.read(self.spark)

    def host_state(self) -> DataFrame | None:
        return self.t_host_state.read(self.spark)
