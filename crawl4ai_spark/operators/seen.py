"""URL-seen set: partitioned Bloom pre-filter + exact anti-join (J2).

The reference's seen set is an in-process ``Set[str]``
(bfs_strategy.py:152) — impossible at 10^10 URLs. The north-rule design:

- EXACTNESS comes from a ``LEFT ANTI JOIN`` of candidates against the seen
  table on the T2-normalized URL key. This is the ground truth.
- BANDWIDTH comes from a Bloom filter built per partition (numpy bitsets in
  ``mapInPandas``), OR-merged on the driver, and broadcast to the next
  iteration: candidates that the bloom says are definitely-new skip the
  anti-join shuffle entirely; only bloom-positive candidates (a small,
  false-positive-inflated slice) pay the join.

This bloom is the one URL-seen pre-filter: the crawl loop (plans/crawl.py)
builds it once over the seen table, then merges each iteration's new keys
into it. A bloom cannot delete, so a TTL expiry drops it and the next
iteration rebuilds it over the surviving keys.

At cluster scale the bitset size is chosen per expected cardinality
(n=10^10, p=1% → ~12 GB total, sharded per partition range; here a single
array suffices). Spark's JVM ``DataFrameStatFunctions.bloomFilter`` is not
exposed to arbitrary Python predicates, hence the numpy implementation.

Keys are 64-bit ``xxhash64`` values computed JVM-side; Python only ever
sees int64 batches through Arrow.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class BloomFilterSet:
    """Fixed-size Bloom filter over int64 keys, numpy-vectorized."""

    def __init__(self, num_bits: int = 1 << 23, num_hashes: int = 5, bits: np.ndarray | None = None):
        assert num_bits % 8 == 0
        self.num_bits = num_bits
        self.num_hashes = num_hashes
        self.bits = bits if bits is not None else np.zeros(num_bits // 8, dtype=np.uint8)

    def _positions(self, hashes: np.ndarray) -> np.ndarray:
        h = hashes.astype(np.uint64)
        h1 = h % np.uint64(self.num_bits)
        # odd second hash → full period stride
        h2 = ((h >> np.uint64(33)) | np.uint64(1)) % np.uint64(self.num_bits)
        i = np.arange(self.num_hashes, dtype=np.uint64)
        return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(self.num_bits)

    def add(self, hashes: np.ndarray) -> None:
        pos = self._positions(np.asarray(hashes)).ravel()
        np.bitwise_or.at(self.bits, (pos >> 3).astype(np.int64), (1 << (pos & np.uint64(7))).astype(np.uint8))

    def maybe_contains(self, hashes: np.ndarray) -> np.ndarray:
        pos = self._positions(np.asarray(hashes))
        byte = self.bits[(pos >> 3).astype(np.int64)]
        bit = (1 << (pos & np.uint64(7))).astype(np.uint8)
        return ((byte & bit) != 0).all(axis=1)

    def merge(self, other: "BloomFilterSet") -> "BloomFilterSet":
        assert self.num_bits == other.num_bits and self.num_hashes == other.num_hashes
        return BloomFilterSet(self.num_bits, self.num_hashes, self.bits | other.bits)


# above this many input partitions the per-partition bitsets are OR-merged
# executor-side (one extra narrow stage) before the driver sees anything, so
# driver traffic is bounded by BLOOM_MERGE_FANIN × bitset regardless of the
# cluster's partition count; below it the extra stage costs more than the
# handful of bitsets it would save
BLOOM_MERGE_FANIN = 32


def build_bloom(
    df: DataFrame,
    key: str = "url_norm",
    num_bits: int = 1 << 23,
    num_hashes: int = 5,
    merge_fanin: int = BLOOM_MERGE_FANIN,
    hash_col: str | None = None,
) -> BloomFilterSet:
    """Distributed bloom build (SURVEY.md §4 custom-work item 1):
    per-partition bitsets via ``mapInPandas`` (an empty partition ships
    nothing), OR-merged executor-side within ``merge_fanin`` groups on
    wide inputs, then a driver merge of at most ``merge_fanin`` bitsets —
    driver traffic is bounded by ``merge_fanin`` × bitset regardless of
    the scan's partition count (a 10k-partition cluster ships ~32 MiB
    through the driver, not ~10 GiB). OR is associative and commutative,
    so the tree-merged result is bit-identical to a single-level merge.

    ``hash_col``: column already holding ``xxhash64(key)`` (the seen
    table's ``url_hash``) — the build then scans stored 8-byte longs (one
    pruned parquet column) instead of re-hashing key strings."""
    if hash_col is not None:
        hashed = df.select(F.col(hash_col).alias("h"))
    else:
        hashed = df.select(F.xxhash64(F.col(key)).alias("h"))

    def from_bytes(b) -> BloomFilterSet:
        return BloomFilterSet(num_bits, num_hashes, np.frombuffer(b, dtype=np.uint8))

    def to_pdf(f: BloomFilterSet) -> pd.DataFrame:
        return pd.DataFrame({"bits": [f.bits.tobytes()]})

    def per_partition(batches):
        f = BloomFilterSet(num_bits, num_hashes)
        any_rows = False
        for pdf in batches:
            if len(pdf):
                any_rows = True
                f.add(pdf["h"].to_numpy())
        if any_rows:
            yield to_pdf(f)

    def merge_within_partition(batches):
        acc = None
        for pdf in batches:
            for b in pdf["bits"]:
                g = from_bytes(b)
                acc = g if acc is None else acc.merge(g)
        if acc is not None:
            yield to_pdf(acc)

    partials = hashed.mapInPandas(per_partition, "bits binary")
    if hashed.rdd.getNumPartitions() > merge_fanin:
        partials = partials.repartition(merge_fanin).mapInPandas(
            merge_within_partition, "bits binary"
        )
    parts = partials.collect()
    out = BloomFilterSet(num_bits, num_hashes)
    for row in parts:
        out = out.merge(from_bytes(row.bits))
    # observability for the driver-traffic bound: with the merge stage,
    # len(parts) ≤ merge_fanin no matter how many partitions the scan had
    out.n_collected_bitsets = len(parts)
    return out


def bloom_maybe_contains_col(
    spark, bloom: BloomFilterSet, key: Column, bits_bc=None
) -> Column:
    """Column: True when the bloom MAY contain xxhash64(key). Broadcast the
    bitset once per call site (executors fetch it lazily).

    ``bits_bc``: a caller-owned ``sparkContext.broadcast(bloom.bits.
    tobytes())`` handle. Long-running callers (the crawl loop builds a
    fresh bloom EVERY iteration) must own the handle and ``destroy()`` it
    once the iteration's jobs commit — otherwise a 10k-iteration crawl
    accumulates ~10 GiB of dead bitset broadcasts on the driver and every
    executor. Without it a one-shot internal broadcast is created (fine
    for single-query callers; it dies with the SparkContext)."""
    if bits_bc is None:
        bits_bc = spark.sparkContext.broadcast(bloom.bits.tobytes())
    num_bits, num_hashes = bloom.num_bits, bloom.num_hashes

    @F.pandas_udf(T.BooleanType())
    def _maybe(h: pd.Series) -> pd.Series:
        bf = BloomFilterSet(
            num_bits, num_hashes, np.frombuffer(bits_bc.value, dtype=np.uint8)
        )
        return pd.Series(bf.maybe_contains(h.to_numpy()), dtype="bool")

    return _maybe(F.xxhash64(key))


def dedup_against_seen(
    candidates: DataFrame,
    seen: DataFrame | None,
    key: str = "url_norm",
    bloom: BloomFilterSet | None = None,
    seen_unique: bool = False,
    flag_col: str | None = None,
) -> DataFrame:
    """Exact dedup: candidates not present in ``seen``. With a bloom, rows
    the bloom calls definitely-new bypass the anti-join shuffle; only
    bloom-positive rows are joined (false positives are then cleared by the
    exact join). ``seen_unique``: the caller guarantees ``seen[key]`` is
    already distinct (true for the crawl's seen table — only anti-joined
    rows are ever appended), skipping a whole dedup shuffle; an anti-join's
    result is unaffected by duplicate build-side keys, so this is purely a
    plan optimization.

    The bloom split consumes the candidate plan TWICE (the two filter
    branches of the union). If ``candidates`` is not already materialized,
    everything above the last exchange — including the bloom's Arrow UDF —
    runs once per branch. Callers on a hot path should pre-compute the
    probe as a boolean ``flag_col`` on a persisted frame (see the crawl
    loop, which folds it under a cache a later count job materializes
    anyway) so the UDF runs once per row."""
    if seen is None:
        return candidates
    seen_keys = seen.select(key) if seen_unique else seen.select(key).distinct()
    if bloom is None and flag_col is None:
        return candidates.join(seen_keys, on=key, how="left_anti")
    if flag_col is None:
        spark = candidates.sparkSession
        flagged = candidates.withColumn(
            "_maybe_seen", bloom_maybe_contains_col(spark, bloom, F.col(key))
        )
        flag_col = "_maybe_seen"
    else:
        flagged = candidates
    definitely_new = flagged.filter(~F.col(flag_col)).drop(flag_col)
    needs_check = flagged.filter(F.col(flag_col)).drop(flag_col)
    checked = needs_check.join(seen_keys, on=key, how="left_anti")
    return definitely_new.unionByName(checked)
