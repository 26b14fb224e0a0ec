"""Similarity search over an embedding column (array<float>).

Three plans, same semantics:

- brute-force: broadcast the (small) query set, cross-score every corpus
  vector with Catalyst array expressions, per-query top-k window. At 100 TB
  this is one scan, no shuffle on the corpus side — the right baseline when
  the query set is small.
- LSH (random hyperplanes): deterministic signed projections bucket the
  corpus; queries probe only their bucket. The bucket join is a hash
  equi-join on an int key — the scale path when queries are many. Buckets
  are precomputable/bucketable (write once, reuse per query batch).
- IVF-flat: a deterministic sampled (optionally Lloyd-refined) coarse
  quantizer bins the corpus; queries probe their ``nprobe`` nearest cells.
  Same broadcast int-key join shape as LSH but with a tunable
  recall/latency dial (nprobe) and data-adaptive partitions; at
  nprobe ≥ n_cells it degrades gracefully to exact brute-force results.

All arithmetic is double-precision with a final round(6) so results are
value-identical in the DuckDB oracle. Hyperplanes derive from md5 (see
``hyperplanes``) so both engines (and any future run) see the same planes.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from crawl4ai_spark.datapipe.dedup import (
    HOT_BUCKET_CAP,
    _guarded_band_candidates,
    _scored_pairs,
    _sig_fp_col,
)
from crawl4ai_spark.storage import (
    compact_partitioned_table,
    read_sidecar,
    salted_partition_write,
    write_sidecar,
)


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _spread(df: DataFrame) -> DataFrame:
    """Repartition a (possibly single-file) corpus across all cores before
    a CPU-bound per-row scoring stage — higher-order array expressions are
    interpreted (not codegen'd), so partition count IS the parallelism.

    CONDITIONAL: a corpus that is already at least as wide as
    ``defaultParallelism`` keeps its partitioning untouched —
    ``repartition(n)`` is a full exchange even when n equals the current
    count, and at 100 TB the scan is always ≫ core-count partitions wide,
    so the inline ANN legs must honor the module's "one scan, no corpus
    shuffle" contract there. The single ``getNumPartitions()`` probe is
    paid once, only at plan-build time (no job runs)."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() >= sc.defaultParallelism:
        return df
    return df.repartition(sc.defaultParallelism)


def dot_col(a: Column, b: Column) -> Column:
    """Left-to-right fold dot product (order fixed ⇒ bit-stable)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, x: s + x * x))


def cosine_col(a: Column, b: Column) -> Column:
    """Cosine similarity of two float vectors, rounded to 6 dp."""
    ad, bd = _as_double(a), _as_double(b)
    denom = norm_col(ad) * norm_col(bd)
    return F.round(F.when(denom > 0, dot_col(ad, bd) / denom).otherwise(F.lit(0.0)), 6)


def ann_bruteforce_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Per-query top-k cosine neighbors (self excluded when ids collide).
    The query side is broadcast — the corpus never shuffles."""
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec")
    )
    c = _spread(corpus).select(F.col(id_col), F.col(vec_col).alias("_cvec"))
    scored = c.join(F.broadcast(q), F.col(query_id_col) != F.col(id_col)).withColumn(
        "cosine", cosine_col(F.col("_qvec"), F.col("_cvec"))
    )
    return _per_query_topk(scored, query_id_col, id_col, k)



def _per_query_topk(scored, query_id_col: str, id_col: str, k: int):
    """Shared final stage of every ANN operator: shed the vector columns
    BEFORE the window shuffle (the rank only needs (query_id, id, cosine) —
    shuffling 64-float arrays per row would double the exchange size for
    nothing), then per-query row_number with the cosine-desc/id-asc
    tie-break. ONE spelling so a tie-break or rank-type change cannot
    drift between the brute-force, LSH and IVF paths."""
    shed = scored.select(query_id_col, id_col, "cosine")
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        shed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", F.col("rank").cast("long").alias("rank"))
    )


# -- deterministic random hyperplanes ----------------------------------------


def hyperplanes(num_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: component c of plane p is
    (md5int("hp{p}:{c}") mod 2001 − 1000)/1000 ∈ [−1, 1]. Pure function of
    (p, c) — identical in Python, Spark SQL and DuckDB, so LSH bucketing is
    reproducible everywhere."""
    planes = []
    for p in range(num_planes):
        row = []
        for c in range(dim):
            h = int(hashlib.md5(f"hp{p}:{c}".encode()).hexdigest()[:15], 16)
            row.append((h % 2001 - 1000) / 1000.0)
        planes.append(row)
    return planes


def lsh_bucket_col(vec: Column, planes: list[list[float]]) -> Column:
    """Signed-projection bucket id: bit p set ⇔ dot(vec, plane_p) > 0.
    Bucket ids are longs, so at most 63 planes (one sign bit per plane) —
    more than anyone needs: recall already falls off a cliff well before
    2^63 buckets. A count past that raised an opaque Py4J overflow before
    this guard."""
    if len(planes) > 63:
        raise ValueError(
            f"lsh_bucket_col supports at most 63 planes (long bucket id); "
            f"got {len(planes)} — did you swap hyperplanes(num_planes, dim)?"
        )
    vd = _as_double(vec)
    acc = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        lit = F.array(*[F.lit(v) for v in plane])
        proj = dot_col(vd, lit)
        acc = acc + F.when(proj > 0, F.lit(1 << p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return acc


def write_lsh_table(
    df: DataFrame,
    path: str,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "lsh_bucket",
    files_per_bucket: int = 1,
) -> None:
    """Persist a corpus as a bucket-partitioned LSH table: assign each
    vector its hyperplane bucket (map-side projection on the scan — no
    shuffle to compute) and write parquet ``partitionBy(bucket_col)``.

    The LSH twin of ``write_ivf_table``, and an even cleaner pruning
    story: a query probes exactly ONE bucket (its own), so a recurring
    query batch against ``ann_lsh_topk(..., bucket_col=...)`` reads only
    the probed buckets' files — at 100 TB with 10 planes that is ≤
    n_queries/1024 of the corpus bytes. Keep ``len(planes)`` ≤ ~12 (one
    directory per bucket, 2^planes of them). The salted repartition on
    (bucket, xxhash64(id) mod files_per_bucket) bounds output at ≤
    2^planes × files_per_bucket files (slot collisions merge files, never
    multiply them — same write shape as ``write_ivf_table``)."""
    assigned = df.select(
        F.col(id_col),
        F.col(vec_col),
        lsh_bucket_col(F.col(vec_col), planes).alias(bucket_col),
    )
    salted_partition_write(
        assigned, path, [bucket_col], F.col(id_col), files_per_bucket
    )
    # persist the hyperplanes beside the data, same rationale as the IVF
    # quantizer: probes/appends must bucket under the planes the table was
    # assigned with, and the caller-side copy is losable state
    write_sidecar(path, "lsh_planes", [[float(x) for x in p] for p in planes])


def read_lsh_planes(path: str) -> list[list[float]]:
    """The hyperplanes a ``write_lsh_table`` table was assigned under —
    exact float64 roundtrip, so probe and append bucketing is
    bit-identical to the writer's."""
    stored = read_sidecar(path, "lsh_planes")
    return [[float(x) for x in p] for p in stored]


def append_lsh_table(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "lsh_bucket",
    files_per_bucket: int = 1,
) -> None:
    """Grow an LSH table by a new vector batch under its persisted
    hyperplanes — the LSH leg of the growing-corpus pattern
    (``append_minhash_tables`` / ``append_ivf_table`` are the others):
    bucket assignment rides the batch scan, files append bucket-
    partitioned (bounded per append, same salted write shape), existing
    data is never rewritten, and probe partition pruning keeps working
    across generations. LSH needs no re-clustering caveat: the planes are
    data-independent, so growth never skews the bucketing itself (bucket
    SIZES follow the data, as always with LSH)."""
    planes = read_lsh_planes(path)
    assigned = df.select(
        F.col(id_col),
        F.col(vec_col),
        lsh_bucket_col(F.col(vec_col), planes).alias(bucket_col),
    )
    salted_partition_write(
        assigned, path, [bucket_col], F.col(id_col), files_per_bucket,
        mode="append",
    )


def compact_lsh_table(
    spark,
    path: str,
    id_col: str = "vec_id",
    bucket_col: str = "lsh_bucket",
    files_per_bucket: int = 1,
) -> dict:
    """Rewrite an append-grown LSH table back to the single-write file
    ceiling (≤ 2^planes × files_per_bucket files). N daily appends cost
    N × that ceiling in files; when the per-file open cost on probes
    outweighs a one-off rewrite, compact. The swap is
    ``storage.rewrite_table``: row count verified, crash-recoverable, and
    the ``_lsh_planes.json`` sidecar carried, so probes and further
    appends keep working unchanged. Offline maintenance op — single
    writer, no concurrent readers. Returns {rows, files_before,
    files_after}."""
    return compact_partitioned_table(
        spark, path, [bucket_col], id_col, files_per_bucket
    )


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    bucket_col: str | None = None,
) -> DataFrame:
    """LSH-bucketed ANN: candidates share the query's hyperplane bucket.
    Recall < 1 by construction (that's the trade); the bucket join is a
    uniform int-key equi-join, the scale path for large query sets.

    With ``bucket_col`` naming a pre-assigned bucket column (a corpus
    written by ``write_lsh_table`` under the SAME planes), assignment is
    skipped and the corpus scan is filtered to the query batch's buckets
    up-front — static partition pruning on the partitioned table, so
    unprobed buckets are never read (one tiny job over the
    broadcast-small query batch buys it, mirroring ``ann_ivf_topk``)."""
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        lsh_bucket_col(F.col(vec_col), planes).alias("_bucket"),
    )
    if bucket_col is not None:
        probed = sorted(
            r["_bucket"] for r in q.select("_bucket").distinct().collect()
        )
        c = corpus.filter(F.col(bucket_col).isin(probed)).select(
            F.col(id_col),
            F.col(vec_col).alias("_cvec"),
            F.col(bucket_col).cast("long").alias("_bucket"),
        )
    else:
        c = _spread(corpus).select(
            F.col(id_col),
            F.col(vec_col).alias("_cvec"),
            lsh_bucket_col(F.col(vec_col), planes).alias("_bucket"),
        )
    scored = c.join(F.broadcast(q), on="_bucket").filter(
        F.col(query_id_col) != F.col(id_col)
    ).withColumn("cosine", cosine_col(F.col("_qvec"), F.col("_cvec")))
    return _per_query_topk(scored, query_id_col, id_col, k)


# -- IVF-flat: sampled coarse quantizer + nprobe cell probing ----------------


def _centroid_matrix(
    centroids: list[tuple[int, list[float]]],
) -> tuple["np.ndarray", "np.ndarray"]:
    """(cids, row-normalized centroid matrix), rows sorted by cell id.

    Cell affinity is scored as dot(v, c/|c|) = cosine × |v|; |v| is
    constant across the centroids being compared, so argmax and every tie
    are identical to true cosine without per-centroid norm recomputation
    (the reported scores still go through ``cosine_col`` so every engine
    sees the same rounded values). A zero centroid scores 0 against
    everything (cosine convention), implemented by zeroing its row."""
    ordered = sorted(centroids)
    cids = np.array([cid for cid, _ in ordered], dtype=np.int64)
    mat = np.array([vec for _, vec in ordered], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = np.inf
    return cids, mat / norms[:, None]


def _vec_batch(v: "pd.Series", dim: int) -> "np.ndarray":
    """Stack an Arrow array<double> batch to (rows × dim); null/empty
    vectors become zero rows (score 0 against every centroid)."""
    return np.stack(
        [
            np.asarray(x, dtype=np.float64)
            if x is not None and len(x) == dim
            else np.zeros(dim)
            for x in v
        ]
    ) if len(v) else np.zeros((0, dim))


def ivf_centroids(
    corpus: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 0,
    train: DataFrame | None = None,
) -> list[tuple[int, list[float]]]:
    """Deterministic IVF coarse quantizer: the ``n_cells`` corpus vectors
    with the smallest ``xxhash64(id)`` seed the cells (layout-independent —
    the same rows win however the corpus is partitioned), optionally
    refined with ``iters`` rounds of Lloyd mean-updates.

    Scale shape: seeding is one corpus scan feeding a global top-n_cells
    sort of (hash, id) pairs — AQE handles the tiny ordered take; only
    ``n_cells`` rows ever reach the driver. Each Lloyd round posexplodes
    the training vectors to (cell, component, value) and mean-aggregates:
    partial aggregation collapses every partition to ≤ n_cells × dim rows
    BEFORE the exchange, so the shuffle is centroid-sized regardless of
    corpus size. At 100 TB pass a hash-sampled frame as ``train`` (see
    datapipe.sampling) — Lloyd on a sample is standard IVF practice; the
    default trains on ``corpus`` itself, which is exact but pays the
    posexplode CPU on every row.
    """
    # null/empty vectors can't seed a cell (assignment scores them 0
    # against everything — see _vec_batch); filter BEFORE the ordered take
    # so a junk row with a lucky hash doesn't crash the seed build
    seeds = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .filter(F.col(vec_col).isNotNull() & (F.size(vec_col) > 0))
        .orderBy(F.xxhash64(F.col(id_col)).asc(), F.col(id_col).asc())
        .limit(n_cells)
        .collect()
    )
    if not seeds:
        raise ValueError("ivf_centroids: corpus has no non-empty vectors")
    # pin the quantizer dimension to the first (deterministic) seed and
    # drop wrong-dimension stragglers — a mixed-dim corpus otherwise
    # builds a ragged centroid matrix that crashes every assignment batch.
    # Also drop DUPLICATE seed vectors (boilerplate-heavy corpora put
    # identical embeddings among the smallest hashes): a duplicated
    # centroid can never win an assignment (ties go to the smaller cell
    # id), so it would be a permanently empty cell — the effective
    # quantizer silently shrinks and its twin cell doubles up. Fewer than
    # n_cells centroids out is the honest result for such a corpus.
    dim = len(seeds[0][vec_col])
    seen: set[tuple[float, ...]] = set()
    uniq: list[list[float]] = []
    for r in seeds:
        v = tuple(float(x) for x in r[vec_col])
        if len(v) == dim and v not in seen:
            seen.add(v)
            uniq.append(list(v))
    cents = list(enumerate(uniq))
    if iters <= 0:
        return cents
    # same dimension pin for Lloyd: every surviving training vector has
    # exactly `dim` positions, so each non-empty cell's mean is full-width
    # (never ragged) and null vectors never reach the posexplode
    t = (
        (train if train is not None else corpus)
        .filter(F.col(vec_col).isNotNull() & (F.size(vec_col) == dim))
        .select(_as_double(F.col(vec_col)).alias("_v"))
    )
    for _ in range(iters):
        assigned = t.withColumn("_cell", ivf_cell_col(F.col("_v"), cents))
        means = (
            assigned.select("_cell", F.posexplode("_v").alias("_pos", "_x"))
            .groupBy("_cell", "_pos")
            .agg(F.avg("_x").alias("_m"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(r["_cell"], {})[r["_pos"]] = r["_m"]
        # cells that captured no training vector keep their previous
        # centroid (standard empty-cell handling, keeps cell ids stable)
        cents = [
            (
                cid,
                [d[p] for p in sorted(d)] if (d := by_cell.get(cid)) else prev,
            )
            for cid, prev in cents
        ]
    return cents


def ivf_cell_col(vec: Column, centroids: list[tuple[int, list[float]]]) -> Column:
    """Cell assignment: argmax cosine over the centroid table, ties to the
    smallest cell id. An Arrow ``pandas_udf`` whose batch body is one numpy
    matmul against the (tiny, closure-shipped) normalized centroid matrix —
    shuffle-free, so assignment rides the corpus scan as a map-side
    projection. A literal-expression Catalyst formulation was tried first
    and abandoned: n_cells × dim literals make an expression tree whose
    per-query analysis/Janino cost is seconds and grows with the quantizer,
    while the matmul is microseconds per batch at any realistic n_cells."""
    cids, mat = _centroid_matrix(centroids)
    dim = mat.shape[1]

    @F.pandas_udf("long")
    def assign(v: pd.Series) -> pd.Series:
        scores = _vec_batch(v, dim) @ mat.T
        # first-max of ascending-cid columns = smallest winning cell id
        return pd.Series(cids[np.argmax(scores, axis=1)])

    return assign(vec)


def ivf_probe_cells_col(
    vec: Column, centroids: list[tuple[int, list[float]]], nprobe: int
) -> Column:
    """Array of the ``nprobe`` nearest cell ids for a query vector
    (cosine-descending, ties to the SMALLER id — the same tie-break as
    ``ivf_cell_col``'s assignment, which matters: with duplicate centroids
    (a boilerplate-heavy seed set) every tied vector is ASSIGNED to the
    smallest tied cell, so a probe that visited the larger tied cell first
    would read an empty cell and miss true neighbors at low nprobe).
    Query batches are contract-small, so the per-row tie-exact sort is a
    plain loop over the numpy score matrix."""
    cids, mat = _centroid_matrix(centroids)
    dim = mat.shape[1]
    take = min(nprobe, len(cids))

    @F.pandas_udf("array<long>")
    def probe(v: pd.Series) -> pd.Series:
        scores = _vec_batch(v, dim) @ mat.T
        return pd.Series(
            [
                [
                    int(cids[j])
                    for j in sorted(
                        range(len(cids)), key=lambda j: (-row[j], cids[j])
                    )[:take]
                ]
                for row in scores
            ],
            dtype=object,
        )

    return probe(vec)


def write_ivf_table(
    df: DataFrame,
    path: str,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
    files_per_cell: int = 4,
) -> None:
    """Persist a corpus as a cell-partitioned IVF table: assign each vector
    to its nearest coarse centroid (map-side projection on the scan — no
    shuffle) and write parquet ``partitionBy(cell_col)``.

    This is the once-per-corpus amortized step (exactly like the bucketed
    MinHash band tables): recurring query batches probe via
    ``ann_ivf_topk(..., cell_col=...)``, whose scan then touches ONLY the
    probed cells' files — at 100 TB a nprobe=4/256-cell probe reads ~1.6 %
    of the corpus bytes instead of all of them, which no join-side pruning
    can achieve after a full scan. Keep ``n_cells`` ≲ low thousands (one
    directory per cell).

    ``files_per_cell`` bounds the table's file count: a raw
    ``partitionBy(cell)`` write opens one file per (task × cell it sees) —
    at 10k input tasks × 256 cells that is millions of tiny files, the
    classic partitionBy fan-out failure. The salted repartition on
    (cell, xxhash64(id) mod files_per_cell) costs ONE exchange at write
    time and caps the table at AT MOST n_cells × files_per_cell files —
    hash collisions of (cell, salt) slots into one shuffle task merge
    files (one larger file per cell that task sees), never multiply them,
    so treat files_per_cell as a ceiling and size it so a cell's bytes /
    files_per_cell ≈ a sane parquet file (128 MB–1 GB); the salt keys on
    the row id, so file sizes within a cell stay even regardless of
    vector content."""
    assigned = df.select(
        F.col(id_col),
        F.col(vec_col),
        ivf_cell_col(F.col(vec_col), centroids).alias(cell_col),
    )
    salted_partition_write(
        assigned, path, [cell_col], F.col(id_col), files_per_cell
    )
    # persist the quantizer BESIDE the data (underscore-prefixed ⇒ parquet
    # readers skip it): probes and appends against this table must use the
    # exact centroids it was assigned under, and a caller-side copy is the
    # kind of state that gets lost between the write job and the query job
    write_sidecar(
        path,
        "ivf_centroids",
        [[int(c), [float(x) for x in v]] for c, v in centroids],
    )


def read_ivf_centroids(path: str) -> list[tuple[int, list[float]]]:
    """The quantizer a ``write_ivf_table`` table was assigned under —
    required by ``ann_ivf_topk(cell_col=...)`` probes and
    ``append_ivf_table`` growth."""
    stored = read_sidecar(path, "ivf_centroids")
    return [(int(c), [float(x) for x in v]) for c, v in stored]


def append_ivf_table(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
    files_per_cell: int = 4,
) -> None:
    """Grow an IVF table by a new vector batch — the ANN half of the
    daily-increment pattern (``append_minhash_tables`` is the dedup half):
    assign the batch under the table's PERSISTED quantizer (map-side
    projection, no shuffle beyond the salted write exchange) and append
    cell-partitioned files. Existing data is never rewritten and probe
    partition pruning keeps working unchanged — a probe after N appends
    reads only the probed cells' files across all generations. The
    centroids are fixed at write time by design (re-clustering would
    reassign the whole corpus); if the data distribution drifts far from
    the original quantizer, cells skew and the remedy is a rebuild with
    fresh centroids, same as any IVF index."""
    centroids = read_ivf_centroids(path)
    assigned = df.select(
        F.col(id_col),
        F.col(vec_col),
        ivf_cell_col(F.col(vec_col), centroids).alias(cell_col),
    )
    salted_partition_write(
        assigned, path, [cell_col], F.col(id_col), files_per_cell,
        mode="append",
    )


def compact_ivf_table(
    spark,
    path: str,
    id_col: str = "vec_id",
    cell_col: str = "ivf_cell",
    files_per_cell: int = 4,
) -> dict:
    """Rewrite an append-grown IVF table back to the single-write file
    ceiling (≤ n_cells × files_per_cell files) — the IVF twin of
    ``compact_lsh_table``. Cell assignments are already materialized in
    the partition layout, so compaction never touches the quantizer: no
    vector is reassigned. The swap is ``storage.rewrite_table``: row
    count verified, crash-recoverable, and the ``_ivf_centroids.json``
    sidecar carried for later probes/appends. Offline maintenance op —
    single writer, no concurrent readers. Returns {rows, files_before,
    files_after}."""
    return compact_partitioned_table(
        spark, path, [cell_col], id_col, files_per_cell
    )


def ann_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_cells: int = 16,
    nprobe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: list[tuple[int, list[float]]] | None = None,
    iters: int = 0,
    cell_col: str | None = None,
) -> DataFrame:
    """IVF-flat ANN: corpus vectors are binned to their nearest coarse
    centroid (one shuffle-free projection on the scan); each query probes
    its ``nprobe`` nearest cells and ranks candidates by exact cosine.

    The cell join is an int-key equi-join with the (small) query side
    broadcast — the corpus never shuffles, mirroring ``ann_lsh_topk``.
    Recall < 1 when nprobe < n_cells (that's the trade); with
    nprobe ≥ n_cells every cell is probed and the result is provably
    identical to ``ann_bruteforce_topk`` — each corpus vector lives in
    exactly one cell and each (query, cell) pair is probed once, so the
    candidate set is the full corpus with no duplicates. Pass precomputed
    ``centroids`` (from ``ivf_centroids``, persistable like the LSH band
    tables) to skip the seeding scan on recurring query batches.

    With ``cell_col`` naming a pre-assigned cell column (a corpus written
    by ``write_ivf_table``), assignment is skipped and — because the probed
    cell ids are known once the (small, broadcastable-by-contract) query
    batch is — the corpus scan is filtered to ``cell_col IN (probed)``
    up-front: on a ``partitionBy(cell_col)`` table that is static partition
    pruning, so unprobed cells are never read at all. ``centroids`` is
    required then (the table was assigned under a specific quantizer).
    """
    if cell_col is not None and centroids is None:
        raise ValueError(
            "cell_col requires the centroids the table was assigned with"
        )
    if centroids is None:
        centroids = ivf_centroids(
            corpus, n_cells, id_col=id_col, vec_col=vec_col, iters=iters
        )
    if cell_col is not None:
        # one tiny job over the query batch (bounded by its contract-small
        # size) buys a partition-pruned corpus scan — the 100 TB win
        probed = sorted(
            {
                c
                for r in queries.select(
                    ivf_probe_cells_col(F.col(vec_col), centroids, nprobe).alias(
                        "_cells"
                    )
                ).collect()
                for c in r["_cells"]
            }
        )
        c = corpus.filter(F.col(cell_col).isin(probed)).select(
            F.col(id_col),
            F.col(vec_col).alias("_cvec"),
            F.col(cell_col).cast("long").alias("_cell"),
        )
    else:
        c = _spread(corpus).select(
            F.col(id_col),
            F.col(vec_col).alias("_cvec"),
            ivf_cell_col(F.col(vec_col), centroids).alias("_cell"),
        )
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        F.explode(
            ivf_probe_cells_col(F.col(vec_col), centroids, nprobe)
        ).alias("_cell"),
    )
    scored = (
        c.join(F.broadcast(q), on="_cell")
        .filter(F.col(query_id_col) != F.col(id_col))
        .withColumn("cosine", cosine_col(F.col("_qvec"), F.col("_cvec")))
    )
    return _per_query_topk(scored, query_id_col, id_col, k)


def _cosine_pairs(
    df: DataFrame,
    planes: list[list[float]],
    id_col: str,
    vec_col: str,
    hot_bucket_cap: int | None,
    cache: bool,
) -> tuple[DataFrame, DataFrame]:
    """(base, scored) — the ONE construction ``embedding_dedup_pairs`` and
    ``cosine_cluster`` share. ``base`` is (doc_id, vec, bucket), cached
    unless ``cache=False``; ``scored`` is every guarded candidate pair of
    a bucket, (id_a, id_b, bucket, cosine), unfiltered. The guard reads a
    (doc_id, sig_fp, bucket) frame whose sig_fp is the vector's
    fingerprint — ``dedup._sig_fp_col``, the minhash guard's own
    definition: equal vectors ⇔ equal fingerprints, and distinct vectors
    colliding there still meet the exact cosine verify, so a collision
    can never create a false pair."""
    base = _spread(df).select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(vec_col).alias("vec"),
        lsh_bucket_col(F.col(vec_col), planes).alias("bucket"),
    )
    if cache:
        base = base.cache()
    banded = base.select("doc_id", _sig_fp_col(F.col("vec")).alias("sig_fp"), "bucket")
    cand = _guarded_band_candidates(banded, ["bucket"], hot_bucket_cap, cache=cache)
    return base, _scored_pairs(
        cand, base, "vec", cosine_col, "cosine", carry=("bucket",)
    )


def embedding_dedup_pairs(
    df: DataFrame,
    planes: list[list[float]],
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hot_bucket_cap: int | None = HOT_BUCKET_CAP,
    cache: bool = True,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥
    threshold) among LSH-bucket cohabitants — the vector twin of
    minhash_dedup_pairs, with the same candidate-then-verify shape AND
    the same hot-bucket guard (it runs dedup's candidate join and verify
    step over a (doc_id, vector-fingerprint, bucket) frame): buckets above
    ``hot_bucket_cap`` emit two linear star layers instead of the
    quadratic clique — byte-identical embeddings (the boilerplate clones
    that create hot buckets) share a fingerprint and verify at cosine 1,
    so they stay connected; cross-group clique edges among non-identical
    members of a diverted bucket are the documented recall trade.
    ``hot_bucket_cap=None`` skips the guard (repo-wide convention), for
    corpora the caller can bound. ``cache=False`` trades the base/guard
    cache entries for zero block-manager footprint (see
    _guarded_band_candidates) — for sessions looping over many corpora
    without spark.catalog.clearCache()."""
    _, scored = _cosine_pairs(df, planes, id_col, vec_col, hot_bucket_cap, cache)
    return scored.filter(F.col("cosine") >= threshold).select(
        "id_a", "id_b", "cosine"
    )


def embedding_hot_bucket_stats(
    df: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cap: int = HOT_BUCKET_CAP,
) -> DataFrame:
    """Diversion visibility for the embedding guard — one row per over-cap
    LSH bucket (band_id=0, band_key=bucket, n_docs), the counterpart of
    ``dedup.hot_bucket_stats`` (which it delegates to over the same bucket
    assignment the guard consumes). Run alongside an embedding dedup /
    clustering pass: silent diversion would read as full pair coverage
    when it isn't."""
    from crawl4ai_spark.datapipe.dedup import hot_bucket_stats

    banded = _spread(df).select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.lit(0).alias("band_id"),
        lsh_bucket_col(F.col(vec_col), planes).alias("band_key"),
    )
    return hot_bucket_stats(df, id_col, vec_col, cap=cap, banded=banded)


def cosine_cluster(
    df: DataFrame,
    planes: list[list[float]],
    max_dist: float = 0.2,
    min_cluster_size: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hot_bucket_cap: int | None = HOT_BUCKET_CAP,
    cache: bool = True,
) -> DataFrame:
    """T23 — the CosineStrategy cluster-then-group composition (behavioral
    spec: extraction_strategy.py:121-478: embed → hierarchical clustering
    at cophenetic distance ``max_dist`` → group members → drop undersized
    clusters) over a distributed embedding column.

    Linkage: SINGLE linkage (a supported ``linkage_method`` of the
    reference's scipy call). Chosen deliberately: a flat single-linkage
    cut at ``max_dist`` equals the connected components of the ε-graph
    {(a,b): 1 − cosine(a,b) ≤ max_dist} — an integer-exact construction
    with an exact SQL oracle (recursive label propagation). scipy is not
    installed in this container, and ward/average linkage have no
    closed-form SQL twin, so single linkage is the variant whose parity is
    PROVABLE here; the reference's word_count_threshold maps to
    ``min_cluster_size`` on the member count.

    Plan shape (the 100-TB path): ε-edges come from the LSH-bucket
    candidate self-join (``embedding_dedup_pairs`` kernel — narrow int
    keys, fold-deterministic cosine), components run per bucket in
    ``applyInPandas`` over (node ∪ edge) rows — integer-only union-find,
    no vectors past the first join. Clustering beyond a bucket boundary is
    out of scope by construction (documented LSH recall trade, same as
    ann_lsh). The guarded edge join keeps a degenerate bucket's EDGE count
    linear, but its node rows still gather into one union-find task — for
    corpus-scale grouping where a single bucket may hold 10⁸ rows, compose
    ``embedding_dedup_pairs`` → ``components.connected_components``
    instead (fully distributed, log-diameter rounds); this operator's
    per-bucket task mirrors the reference's in-memory clustering scope.

    Returns (vec_id, bucket, cluster_label, cluster_size) with
    cluster_label = min vec_id of the component."""
    import pandas as pd

    # ε-edge candidates through the SAME guarded kernel as
    # embedding_dedup_pairs: buckets above hot_bucket_cap emit two linear
    # star layers instead of the quadratic clique. For the union-find
    # below the star edges are exactly as good as the clique for identical
    # vectors (they verify at cosine 1 and connect the group transitively);
    # the trade is cross-group edges among NON-identical members of a
    # diverted bucket — the same documented recall bound as the minhash
    # path. hot_bucket_cap=None skips the guard (repo-wide convention).
    base, scored = _cosine_pairs(df, planes, id_col, vec_col, hot_bucket_cap, cache)
    edges = scored.filter(F.lit(1.0) - F.col("cosine") <= max_dist).select(
        "bucket", F.col("id_a").alias("vid"), F.col("id_b").alias("other")
    )
    nodes = base.select(
        "bucket", F.col("doc_id").alias("vid"), F.lit(None).cast("long").alias("other")
    )
    both = nodes.unionByName(edges)

    def components(pdf: pd.DataFrame) -> pd.DataFrame:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for v in pdf["vid"]:
            parent.setdefault(int(v), int(v))
        for v, o in zip(pdf["vid"], pdf["other"]):
            if pd.isna(o):
                continue
            ra, rb = find(int(v)), find(int(o))
            if ra != rb:
                # union by min id keeps the canonical label at the root
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        members = sorted({int(v) for v in pdf["vid"]})
        labels = {m: find(m) for m in members}
        sizes: dict[int, int] = {}
        for lbl in labels.values():
            sizes[lbl] = sizes.get(lbl, 0) + 1
        bucket = int(pdf["bucket"].iloc[0])
        return pd.DataFrame(
            {
                "vec_id": members,
                "bucket": [bucket] * len(members),
                "cluster_label": [labels[m] for m in members],
                "cluster_size": [sizes[labels[m]] for m in members],
            }
        )

    out = both.groupBy("bucket").applyInPandas(
        components,
        "vec_id long, bucket long, cluster_label long, cluster_size long",
    )
    if min_cluster_size > 1:
        out = out.filter(F.col("cluster_size") >= min_cluster_size)
    return out


def _lance_williams_labels(
    dist: "np.ndarray", method: str, t: float
) -> list[int]:
    """Flat agglomerative clusters over a condensed-free square distance
    matrix: repeatedly merge the two closest clusters while that distance
    is ≤ ``t``, updating inter-cluster distances with the Lance–Williams
    recurrence — the same construction as the reference's
    ``scipy.cluster.hierarchy.linkage(pdist(X, 'cosine'), method)`` +
    ``fcluster(criterion='distance', t)`` (extraction_strategy.py:350-362),
    re-implemented in numpy because scipy is not installed here. All four
    supported methods are monotone, so stopping at the first merge above
    ``t`` equals cutting the full dendrogram at ``t``. Ties (equal merge
    distances) break on the lexicographically smallest active-cluster
    index pair — deterministic, where scipy's heap order is
    implementation-defined. Returns one min-member label per point."""
    import numpy as np

    n = dist.shape[0]
    d = dist.astype(np.float64).copy()
    np.fill_diagonal(d, np.inf)
    active = list(range(n))
    members: dict[int, list[int]] = {i: [i] for i in range(n)}
    while len(active) > 1:
        sub = d[np.ix_(active, active)]
        k = int(np.argmin(sub))
        ai, aj = divmod(k, len(active))
        if ai > aj:
            ai, aj = aj, ai
        dmin = sub[ai, aj]
        if not dmin <= t:
            break
        i, j = active[ai], active[aj]
        ni, nj = len(members[i]), len(members[j])
        for h in active:
            if h in (i, j):
                continue
            nh = len(members[h])
            dih, djh, dij = d[i, h], d[j, h], dmin
            if method == "single":
                new = min(dih, djh)
            elif method == "complete":
                new = max(dih, djh)
            elif method == "average":
                new = (ni * dih + nj * djh) / (ni + nj)
            else:  # ward
                new = np.sqrt(
                    max(
                        0.0,
                        (
                            (nh + ni) * dih * dih
                            + (nh + nj) * djh * djh
                            - nh * dij * dij
                        )
                        / (nh + ni + nj),
                    )
                )
            d[i, h] = d[h, i] = new
        members[i].extend(members.pop(j))
        active.remove(j)
        d[j, :] = np.inf
        d[:, j] = np.inf
    labels = [0] * n
    for root, ms in members.items():
        lbl = min(ms)
        for m in ms:
            labels[m] = lbl
    return labels


LINKAGE_HOT_BUCKET_CAP = 2048
"""Per-bucket size bound for the non-single linkage engine: the in-task
agglomerative merge is O(B²) memory and O(B³) time, so one degenerate
bucket (thousands of byte-identical boilerplate embeddings — the same
threat model dedup.HOT_BUCKET_CAP guards) would stall or OOM a single
executor task. Buckets above the cap are diverted to exact-identical
grouping (below); 2048 keeps the matrix ≤ 32 MiB and the merge loop
sub-minute per task."""


def cosine_cluster_linkage(
    df: DataFrame,
    planes: list[list[float]],
    max_dist: float = 0.2,
    linkage_method: str = "ward",
    min_cluster_size: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hot_bucket_cap: int | None = LINKAGE_HOT_BUCKET_CAP,
) -> DataFrame:
    """T23 with the reference's FULL ``linkage_method`` config surface
    (ward — the reference default — / average / complete / single), per
    LSH bucket: vectors of one bucket are gathered into an applyInPandas
    group, pairwise cosine distances computed with numpy, and flat
    clusters cut at ``max_dist`` by the Lance–Williams engine above.

    Contrast with ``cosine_cluster`` (single linkage ≡ connected
    components, integer-exact, SQL-provable, vectors never leave the
    ε-edge join): non-single linkages genuinely need the bucket's O(B²)
    distance matrix in one task, so this operator ships the vectors to the
    bucket group — the LSH bucket bound IS the scale control (the same
    per-bucket memory shape as the reference's single-page in-memory
    clustering). ``linkage_method='single'`` here is differential-tested
    equal to ``cosine_cluster``.

    Buckets larger than ``hot_bucket_cap`` are DIVERTED: their members are
    grouped by exact-identical vector instead of run through the O(B³)
    merge loop (the degenerate buckets that get this big are boilerplate
    clones whose pairwise distance is 0, where identical-grouping is what
    the full algorithm would do first anyway); near-but-not-identical
    members of a diverted bucket stay singletons — the documented recall
    trade, same shape as dedup.HOT_BUCKET_CAP. ``hot_bucket_cap=None``
    disables the guard for corpora the caller can bound."""
    import numpy as np
    import pandas as pd

    if linkage_method not in ("single", "complete", "average", "ward"):
        raise ValueError(f"unsupported linkage_method: {linkage_method}")

    base = _spread(df).select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(vec_col).alias("vec"),
        lsh_bucket_col(F.col(vec_col), planes).alias("bucket"),
    )
    diverted = None
    if hot_bucket_cap is not None:
        sized = base.withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy("bucket"))
        )
        hot = sized.filter(F.col("_n") > hot_bucket_cap).drop("_n")
        base = sized.filter(F.col("_n") <= hot_bucket_cap).drop("_n")
        # exact-identical grouping for the hot tail: one window keyed by the
        # VECTOR VALUE itself — linear, no matrix, and collision-proof
        # (keying by the 64-bit fingerprint alone would let an xxhash64
        # collision silently merge distinct vectors into one cluster; every
        # dedup diversion exact-verifies its candidates, this must too)
        gw = Window.partitionBy("bucket", "vec")
        diverted = hot.select(
            "vec_id",
            "bucket",
            F.min("vec_id").over(gw).alias("cluster_label"),
            F.count(F.lit(1)).over(gw).alias("cluster_size"),
        )

    def cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        order = pdf["vec_id"].to_numpy().argsort(kind="stable")
        ids = pdf["vec_id"].to_numpy()[order]
        # tolerate malformed rows (a truncated/null embedding shares bucket
        # 0 with legit vectors): zero-pad to the group's max width instead
        # of letting np.asarray raise on a ragged list and kill the job —
        # padding matches zip_with's truncation semantics in cosine_col
        vecs = [
            np.atleast_1d(np.asarray(v, dtype=np.float64))
            if v is not None
            else np.zeros(0, dtype=np.float64)
            for v in pdf["vec"]
        ]
        width = max((v.shape[0] for v in vecs), default=0)
        X = np.zeros((len(vecs), max(width, 1)), dtype=np.float64)
        for i, v in enumerate(vecs):
            X[i, : v.shape[0]] = np.nan_to_num(v)
        X = X[order]
        norms = np.linalg.norm(X, axis=1)
        norms[norms == 0] = 1.0
        Xn = X / norms[:, None]
        dist = 1.0 - Xn @ Xn.T
        np.clip(dist, 0.0, None, out=dist)
        idx_labels = _lance_williams_labels(dist, linkage_method, max_dist)
        labels = [int(ids[l]) for l in idx_labels]
        sizes: dict[int, int] = {}
        for lbl in labels:
            sizes[lbl] = sizes.get(lbl, 0) + 1
        bucket = int(pdf["bucket"].iloc[0])
        return pd.DataFrame(
            {
                "vec_id": ids,
                "bucket": [bucket] * len(ids),
                "cluster_label": labels,
                "cluster_size": [sizes[lbl] for lbl in labels],
            }
        )

    out = base.groupBy("bucket").applyInPandas(
        cluster, "vec_id long, bucket long, cluster_label long, cluster_size long"
    )
    if diverted is not None:
        out = out.unionByName(diverted)
    if min_cluster_size > 1:
        out = out.filter(F.col("cluster_size") >= min_cluster_size)
    return out
