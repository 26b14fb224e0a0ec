"""Distributed connected components + near-duplicate GROUP assignment.

The pair-level dedup operators (datapipe/dedup.py, similarity.py) emit
edges; a real training-data pipeline needs the transitive closure — "keep
ONE representative per near-duplicate cluster" — which is connected
components over the pair graph. (The reference never needs this: its
CosineStrategy clusters one page in memory. At corpus scale the components
step is the difference between dropping A~B and B~C as two independent
pairs and correctly collapsing {A,B,C}.)

Two algorithms, same exact output (differential-tested):
- MIN-LABEL PROPAGATION — every node adopts the smallest label in its
  closed neighborhood; repeat until no label changes. One join + one
  groupBy per round, rounds = graph diameter. Near-duplicate graphs have
  tiny diameters (clusters are quasi-cliques — band-collision edges
  connect most members pairwise), so this converges in a handful of
  cheap rounds and is the first choice.
- LARGE-STAR/SMALL-STAR CONTRACTION (Kiveris et al., "Connected
  Components in MapReduce and Beyond", SoCC'14) — O(log n) rounds on ANY
  graph shape, including the pathological chains where propagation's
  round cap trips. ``connected_components`` runs propagation and falls
  back to the contraction on cap overrun.
Every round localCheckpoints its state table: it truncates the
exponentially-growing lineage AND decouples round n+1 from recomputing
rounds 1..n.

Determinism: labels are min node ids — independent of partitioning,
iteration order, and cluster size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawl4ai_spark.datapipe.dedup import HOT_BUCKET_CAP, minhash_dedup_pairs


# connected_components probes label propagation for this many rounds
# before falling back to star contraction: near-duplicate graphs are
# quasi-cliques that converge in 2-4 rounds, so a graph still unconverged
# after 8 is chain-shaped — exactly where the O(log n) contraction wins.
AUTO_PROBE_ROUNDS = 8


class ConvergenceError(RuntimeError):
    """Label propagation exceeded its round cap (graph diameter too
    large). A distinct type so ``connected_components`` falls back to star
    contraction ONLY for this case — any other RuntimeError from the
    rounds (library failures, future guards) propagates to the caller
    instead of being masked by a silent full re-run."""


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``; component =
    min node id of the connected component.

    Label propagation is probed for ``AUTO_PROBE_ROUNDS`` rounds, falling
    back to star contraction (``connected_components_star``, O(log n)
    rounds on ANY graph shape) if it has not converged by then:
    near-duplicate graphs are quasi-cliques where propagation converges
    in a handful of cheaper rounds, and a graph that hasn't is
    chain-shaped, where more propagation rounds are pure waste before the
    contraction runs anyway."""
    try:
        return _connected_components_label(edges, src, dst, AUTO_PROBE_ROUNDS)
    except ConvergenceError:
        return connected_components_star(edges, src, dst)


def _connected_components_label(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 25,
) -> DataFrame:
    """Min-label propagation; raises if ``max_rounds`` rounds don't
    converge (diameter > max_rounds)."""
    # symmetrize once; self-contained node table
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    sym = sym.localCheckpoint(eager=False)
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        # neighbor labels: for edge (u,v), u sees v's current label
        nbr = sym.join(
            labels.withColumnRenamed("node", "v"), "v"
        ).select(F.col("u").alias("node"), "component")
        new_labels = (
            labels.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("component", "old"), "node")
            .filter(F.col("component") != F.col("old"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise ConvergenceError(
        f"connected_components did not converge in {max_rounds} rounds — "
        "graph diameter exceeds the cap; connected_components falls back to "
        "connected_components_star for such chain-shaped graphs"
    )


def _nbrs(e: DataFrame) -> DataFrame:
    """Symmetrized neighbor view (u, v) of an edge set."""
    return e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 64,
) -> DataFrame:
    """Large-star/small-star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) — the scale path the
    label-propagation docstring promises: converges in O(log n) rounds on
    ANY graph, including chains, where min-label propagation needs
    diameter rounds.

    One round = large-star (every node links its strictly-larger
    neighbors to the smallest node of its closed neighborhood) then
    small-star (links its smaller-or-equal neighbors, and itself, to that
    minimum). Each operation is one groupBy(min) + one join on the node
    id — no skew beyond the component structure itself, and every round
    localCheckpoints to truncate lineage. The fixed point is the
    min-rooted star forest, so labels equal the component minima — the
    exact same output as label propagation (differential-tested).

    ``max_rounds`` = 64 is a 2^64-node backstop, not a tuning knob."""
    # checkpoint the RAW edge stream once: both the node universe and the
    # working edge set derive from it, and the upstream producer may be
    # the whole shingle→minhash→band→verify pipeline — without this it
    # would evaluate twice
    raw = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).localCheckpoint(eager=True)
    # every node appearing in edges — INCLUDING nodes whose only edge is a
    # self-loop, which the contraction's u != v filter would drop but the
    # label path keeps (the output contract is per-node, not per-edge)
    all_nodes = (
        raw.select(F.col("u").alias("node"))
        .unionByName(raw.select(F.col("v").alias("node")))
        .distinct()
    )
    e = (
        raw.filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if e.isEmpty():
        return all_nodes.withColumn("component", F.col("node"))

    def star(cur: DataFrame, large: bool) -> DataFrame:
        nb = _nbrs(cur)
        mins = nb.groupBy("u").agg(F.min("v").alias("_mv"))
        m = F.least(F.col("_mv"), F.col("u"))
        joined = nb.join(mins, "u").withColumn("_m", m)
        if large:
            out = joined.filter(F.col("v") > F.col("u")).select(
                F.col("v").alias("u"), F.col("_m").alias("v")
            )
        else:
            kept = joined.filter(F.col("v") <= F.col("u")).select(
                F.col("v").alias("u"), F.col("_m").alias("v")
            )
            selfs = joined.select("u", F.col("_m").alias("v"))
            out = kept.unionByName(selfs)
        return (
            out.filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )

    for _ in range(max_rounds):
        after = star(star(e, large=True), large=False)
        changed = (
            after.join(e, ["u", "v"], "left_anti")
            .unionByName(e.join(after, ["u", "v"], "left_anti"))
            .limit(1)
            .count()
        )
        e = after
        if changed == 0:
            break
    else:
        raise RuntimeError("star contraction did not converge (impossible)")
    # fixed point: e is (child, root) star edges with root = component min;
    # left-join from the full node universe so self-loop-only nodes come
    # back as their own singleton component
    children = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    return (
        all_nodes.join(children, "node", "left")
        .select("node", F.coalesce("component", F.col("node")).alias("component"))
    )


def minhash_dedup_groups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    hash_fn=None,
    hot_bucket_cap: int | None = HOT_BUCKET_CAP,
) -> DataFrame:
    """Document-level near-duplicate GROUPS: MinHash+LSH verified pairs →
    connected components → (doc_id, group_id, group_size, is_representative)
    for EVERY input document (singletons keep their own id as group).
    ``is_representative`` = min-id member — the row a dedup pipeline keeps.
    The pair stage's hot-bucket star diversion (dedup.HOT_BUCKET_CAP)
    preserves groups for byte-identical members of a diverted bucket
    (identical docs share a full signature; their star pairs verify at
    jaccard 1.0); non-identical members of the same oversized bucket keep
    only their rep-level star edges, so cross-group clique links that
    would have verified — and full-signature colliders below threshold —
    are the documented recall trade above the cap. ``hot_bucket_cap`` is
    passed through verbatim: ``None`` disables the guard (the exact
    unguarded clique path), exactly as in ``minhash_dedup_pairs``."""
    pairs = minhash_dedup_pairs(
        df, id_col, text_col, k=k, num_hashes=num_hashes, bands=bands,
        threshold=threshold, hash_fn=hash_fn, hot_bucket_cap=hot_bucket_cap,
    )
    comp = connected_components(pairs, "id_a", "id_b")
    docs = df.select(F.col(id_col).cast("long").alias("doc_id"))
    labeled = (
        docs.join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .withColumn("group_id", F.coalesce("component", F.col("doc_id")))
        .drop("component")
    )
    sizes = labeled.groupBy("group_id").agg(F.count(F.lit(1)).alias("group_size"))
    return (
        labeled.join(sizes, "group_id")
        .select(
            "doc_id",
            "group_id",
            "group_size",
            (F.col("doc_id") == F.col("group_id")).alias("is_representative"),
        )
    )
