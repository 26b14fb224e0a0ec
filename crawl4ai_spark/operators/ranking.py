"""Priority ranking — the crawl's ordering contract (SURVEY.md §2.6).

The reference's orderings:
- BFS: strict level order (bfs_strategy.py:154-191); within a level the
  arrival order is async-nondeterministic, so the agreed determinization is
  rank over (depth, score, warc_ts) — the north rule's tiebreak.
- Best-first: asyncio.PriorityQueue of (score, depth, url, parent) —
  a MIN-heap, so LOWEST score pops first (bff_strategy.py:138-143). This
  quirk is preserved, not fixed: rank ASC on (score, depth, warc_ts).
- Capacity top-k on discovered links: sort score DESC, take remaining
  capacity (bfs_strategy.py:124-131).

Scale design — three regimes, all output-identical, chosen by what the
caller knows about (input size, k):

1. ``small_input=True`` (caller KNOWS the input is bounded, e.g. the
   frontier row count carried in the snapshot manifest): a single global
   window. One task, but over a bounded set — the cheapest plan, no salt
   shuffles.
2. default salted two-pass: per-bucket top-k first (distributed), so the
   single-partition global window only ever sees ≤ salt·k survivors
   regardless of input size.
3. ``k > LARGE_K_ROWS``: even salt·k is too much for one task (the
   contract runs max_pages=1_000_000 ⇒ millions of rows through pass 2 at
   100× scale). ``range_rank`` replaces the global window entirely: range-
   repartition on the order key, cache to pin the partitioning, per-range
   counts → driver prefix sums (≤ #partitions rows), global rank =
   partition offset + within-partition row_number. Every stage is
   distributed; the largest single-task row count is ~k / #partitions.

The order must be a TOTAL order (include a unique tie-break column) — all
call sites order on a unique url/tiebreak last.

Pass the tightest row bound you know as ``k``: ``min(k, input rows)``
keeps exactly the rows ``k`` keeps, and the regime is picked from ``k``
alone, so a configuration ceiling (``max_pages=10**9``) passed as ``k``
sends a small input through the multi-job ``range_rank``. When ``k``
covers a bounded input entirely, pass no budget at all
(``priority_rank(budget=None)``): the ``<= k`` filter would keep every
row, and Spark inlines ``k`` into the generated code, so a ``k`` that
changes per call (a frontier size) recompiles the rank's classes on
every call. ``range_rank`` likewise skips its filter when its counted
total is within ``k``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# above this k the salted two-pass's global window (salt·k rows in one
# task) is itself the bottleneck → switch to the fully-distributed range
# rank. ~100k rows/task keeps any window task bounded.
LARGE_K_ROWS = 100_000


def range_rank(
    df: DataFrame,
    order: list[Column],
    k: int,
    rank_col: str = "_topk_rank",
    partition_rows: int = LARGE_K_ROWS,
) -> DataFrame:
    """Exact global top-k + 1-based rank with NO single-task global window:
    range-repartition by the (total) order, pin the partitioning with a
    cache, per-partition counts → driver prefix sums, rank = offset +
    within-partition row_number. The per-partition window shuffles by
    partition id but each group is one balanced range — no hot task.

    Caller must unpersist the returned plan's source when done; the
    intermediate cache is unpersisted here after the ranks are computed
    (the output no longer depends on partition ids once ranked).
    """
    nparts = max(2, min(2048, (k + partition_rows - 1) // partition_rows * 8))
    # pin the range-partition id as DATA (the cache freezes it) — a window
    # over the raw spark_partition_id() expression would re-evaluate it
    # post-shuffle, merging colliding range partitions into one group
    srt = (
        df.repartitionByRange(nparts, *order)
        .withColumn("_pid", F.spark_partition_id())
        .cache()
    )
    counts = srt.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n")).collect()
    offsets: dict[int, int] = {}
    acc = 0
    for row in sorted(counts, key=lambda r: r["_pid"]):
        offsets[row["_pid"]] = acc
        acc += row["_n"]
    if not offsets:
        srt.unpersist()
        return df.withColumn(rank_col, F.lit(1).cast("long")).limit(0)
    off_expr = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(int(p)) for p in offsets]),
            F.array(*[F.lit(int(o)) for o in offsets.values()]),
        ),
        F.col("_pid"),
    )
    w = Window.partitionBy("_pid").orderBy(*order)
    ranked = (
        srt.withColumn("_off", off_expr)
        # long, not int: this is the designated regime for inputs too big
        # for any single window — prefix offsets pass 2^31 exactly when
        # range_rank is the right tool, and an int cast would wrap the
        # tail negative and ship it through the <= k filter
        .withColumn(rank_col, (F.col("_off") + F.row_number().over(w)).cast("long"))
    )
    if acc > k:  # a k covering every counted row would filter nothing
        ranked = ranked.filter(F.col(rank_col) <= k)
    ranked = ranked.drop("_off", "_pid")
    # materialize before dropping the pinned partitioning
    out = ranked.localCheckpoint(eager=True)
    srt.unpersist()
    return out


def salted_global_topk(
    df: DataFrame,
    order: list[Column],
    k: int,
    hash_on: Column | str,
    salt: int = 16,
    rank_col: str = "_topk_rank",
    small_input: bool = False,
) -> DataFrame:
    """Exact global top-k with a 1-based ``rank_col``. Regime choice per the
    module docstring: known-small input → one window; huge k → range rank;
    else per-bucket top-k (distributed) → global window over ≤ salt·k
    survivors. Buckets are a deterministic hash of ``hash_on`` (pick a
    high-cardinality column, e.g. the url), so reruns rank identically."""
    if small_input and k <= LARGE_K_ROWS:
        w = Window.orderBy(*order)
        return df.withColumn(
            rank_col, F.row_number().over(w).cast("long")
        ).filter(F.col(rank_col) <= k)
    hash_col = F.col(hash_on) if isinstance(hash_on, str) else hash_on
    bucket = F.pmod(F.xxhash64(hash_col), F.lit(salt))
    w1 = Window.partitionBy("_sb").orderBy(*order)
    pruned = (
        df.withColumn("_sb", bucket)
        .withColumn("_sr", F.row_number().over(w1))
        .filter(F.col("_sr") <= k)
        .drop("_sb", "_sr")
    )
    if k > LARGE_K_ROWS:
        return range_rank(pruned, order, k, rank_col=rank_col)
    w2 = Window.orderBy(*order)
    return (
        pruned.withColumn(rank_col, F.row_number().over(w2).cast("long"))
        .filter(F.col(rank_col) <= k)
    )


def priority_rank(
    df: DataFrame,
    mode: str = "bfs",
    budget: int | None = None,
    rank_col: str = "visit_rank",
    tiebreak: str = "warc_ts",
    salt: int = 16,
    small_input: bool = False,
) -> DataFrame:
    """Global visit rank (a long). BFS: (depth, score, warc_ts) ASC;
    best-first: (score, depth, warc_ts) ASC (min-score-first). ``budget``
    caps rows — and routes through the salted two-pass top-k so the global
    window never sees the full input. ``small_input``: the caller KNOWS the
    input is bounded (e.g. frontier row count from the snapshot manifest) —
    plain single-window plan, no salt shuffles. An unbudgeted call is a
    plain global window with no ``<= k`` filter: only for bounded inputs
    (at most ``LARGE_K_ROWS`` rows, or tests and final exports), where it
    ranks exactly as ``budget=<row count>`` does."""
    if mode == "bfs":
        order = [F.col("depth").asc(), F.col("score").asc(), F.col(tiebreak).asc()]
    elif mode == "best_first":
        order = [F.col("score").asc(), F.col("depth").asc(), F.col(tiebreak).asc()]
    elif mode == "dfs":
        # deepest-first (reference dfs_strategy.py stack pop); within a
        # depth the same deterministic (score, tiebreak) order applies
        order = [F.col("depth").desc(), F.col("score").asc(), F.col(tiebreak).asc()]
    else:
        raise ValueError(f"unknown mode: {mode}")
    if budget is not None:
        return salted_global_topk(
            df, order, budget, hash_on=tiebreak, salt=salt, rank_col=rank_col,
            small_input=small_input,
        )
    return df.withColumn(
        rank_col, F.row_number().over(Window.orderBy(*order)).cast("long")
    )


def capacity_topk(
    df: DataFrame,
    capacity: int,
    score_col: str = "score",
    salt: int = 16,
    small_input: bool = False,
    ascending: bool = False,
) -> DataFrame:
    """Keep the top-``capacity`` rows by score (O4), deterministic
    tie-break on url — salted two-pass (or range rank above LARGE_K_ROWS),
    safe on unbounded discovery sets.

    ``ascending=False`` (default) keeps the HIGHEST scores — the reference
    BFS capacity trim (bfs_strategy.py:124-130 sorts valid_links score
    DESC before slicing). ``ascending=True`` keeps the LOWEST scores — for
    best-first mode, whose priority queue pops min-score-first (the
    preserved heapq quirk), so the trim must retain the rows the queue
    would pop FIRST; the reference's own best-first trim
    (bff_strategy.py:120-122) slices in async arrival order, which is
    nondeterministic, so queue-priority order is the deterministic
    stand-in."""
    score = F.col(score_col)
    order = [score.asc() if ascending else score.desc(), F.col("url").asc()]
    return salted_global_topk(
        df, order, capacity, hash_on="url", salt=salt, small_input=small_input
    ).drop("_topk_rank")
