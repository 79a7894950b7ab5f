"""Distributed connected components — the dup-cluster resolution
step of a dedup pipeline.

Pair generators (MinHash-LSH ``dedup.minhash_lsh_pairs``, SimHash
``dedup.simhash_pairs``, n-gram Jaccard) emit EDGES; deduplication
needs CLUSTERS: every document labeled with one canonical id so the
pipeline can keep exactly one representative per near-dup group
(transitively — A~B, B~C puts A and C in one cluster even when A≁C).

Implementation is min-label propagation (Pregel-style, expressed as
DataFrame joins):

* every node starts labeled with itself;
* each round, every node takes the min of its own label and its
  neighbors' labels (one equi-join on the symmetrized edge list +
  one min-aggregate — two key shuffles per round);
* converged when no label changed (checked with a cheap anti-join
  count — a scalar per round, not data to the driver).

Each round also performs one pointer-jumping compression (follow the
new label through the previous round's label map), so the reachable
horizon roughly doubles per round — O(log d) rounds on long chains
instead of the d rounds of plain propagation, at the cost of one
extra (node,label)-sized join per round. This is the lightweight
middle ground between plain propagation and the full
large-star/small-star alternation (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14); dedup graphs are
dense and shallow, so 2-4 rounds typically suffice and the rounds
themselves (checkpoint + convergence job) are the expensive unit.

Lineage is truncated with an eager ``localCheckpoint`` per round
(iterative plans otherwise grow unboundedly and re-execute from the
scan); on a cluster, set a checkpoint dir and swap for
``checkpoint`` if executor loss must be recoverable mid-iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["connected_components", "dup_clusters"]


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """Label every node of the undirected graph ``edges`` with the
    smallest node id in its component.

    Returns ``(node, component)`` — one row per distinct node
    appearing in any edge. Raises if ``max_iter`` rounds do not
    converge (diameter > max_iter — not a dedup-shaped graph).
    """
    # ONE exchange builds the edge table:
    # hash-partitioning on ``a`` alone already co-locates every
    # (a, b) duplicate, so ``repartition(a)`` BEFORE the dedup lets
    # the planner run the dedup aggregate on that exchange instead of
    # adding its own (a, b)-keyed one — and the persisted frame
    # retains hashpartitioning(a), the probe key of every round's
    # message join, so the (static) edge side never shuffles again.
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .repartition(F.col("a"))
        .dropDuplicates(["a", "b"])
        .persist()
    )
    # Materialize the cache NOW: everything below touches sym several
    # times (per-round joins + the label seed), and an edge list behind
    # an expensive generator (e.g. SimHash pair join) must be computed
    # exactly once, not once per consumer racing the lazy persist.
    sym.count()
    # Seed with one propagation round for free: component₀ =
    # min(node, min neighbor). The node set needs a pass over sym
    # either way (the old identity seed ran DISTINCT over the same
    # exchange-free input); folding the first min-aggregate into that
    # pass converges dense near-clique dedup graphs a full round
    # earlier — and a round (2 joins + checkpoint + convergence job)
    # is the expensive unit of this loop.
    labels = (
        sym.groupBy(F.col("a").alias("node"))
        .agg(F.least(F.min("b"), F.col("a")).alias("component"))
        .localCheckpoint()
    )
    prev_total = labels.agg(
        F.sum(F.col("component").cast("decimal(38,0)"))
    ).collect()[0][0]
    for _ in range(max_iter):
        # Self-messages ride in the same union as neighbor messages,
        # so the min-aggregate computes least(own, min neighbor)
        # directly — the old labels⟕neighbor_min join (one more
        # label-sized shuffle per round) is gone.
        messages = (
            labels.join(sym, labels["node"] == sym["a"])
            .select(F.col("b").alias("node"), "component")
            .unionByName(labels)
        )
        updated = messages.groupBy("node").agg(
            F.min("component").alias("component")
        )
        # Pointer jumping: follow the new label through the PREVIOUS
        # label map (component → its component). Propagation alone
        # needs diameter rounds; with per-round compression the
        # reachable horizon roughly doubles each round (O(log d) for
        # chains) — each round costs one extra small join, rounds are
        # the expensive unit (checkpoint + convergence job each).
        parent = labels.select(
            F.col("node").alias("__pnode"), F.col("component").alias("__pcomp")
        )
        new_labels = (
            updated.join(parent, updated["component"] == parent["__pnode"], "left")
            .select(
                "node",
                F.least(
                    "component", F.coalesce("__pcomp", "component")
                ).alias("component"),
            )
            .localCheckpoint()
        )
        # Convergence via the label-sum invariant: min-propagation
        # labels are per-node monotonically non-increasing, so the
        # decimal(38,0)-exact sum is strictly decreasing until the
        # fixpoint and equal sums ⟺ no label changed. One scalar
        # aggregate over the in-memory checkpoint replaces carrying
        # an __old column through both joins plus the filter-count.
        total = new_labels.agg(
            F.sum(F.col("component").cast("decimal(38,0)"))
        ).collect()[0][0]
        labels = new_labels
        if total == prev_total:
            sym.unpersist()
            return labels
        prev_total = total
    sym.unpersist()
    raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")


def dup_clusters(
    pairs: DataFrame, id_a: str = "doc_a", id_b: str = "doc_b"
) -> DataFrame:
    """Resolve near-dup PAIRS into clusters with a canonical keeper.

    Output: ``(doc_id, cluster_id, cluster_size, keep)`` — one row
    per document involved in at least one pair; ``keep`` marks the
    cluster's canonical representative (min doc id). Documents in no
    pair are implicitly their own singleton cluster and are not
    emitted (callers left-anti join to drop only ``keep = false``
    rows from the corpus)."""
    comp = connected_components(pairs, src=id_a, dst=id_b)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        comp.join(F.broadcast(sizes), "component")
        .select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            F.col("cluster_size"),
            (F.col("node") == F.col("component")).alias("keep"),
        )
    )


def integer_pagerank(
    edges: DataFrame,
    iterations: int = 3,
    scale: int = 1_000_000,
    damping_pct: int = 85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """PageRank in scaled INTEGER arithmetic: ranks are maintained as
    ``pr × scale`` BIGINTs, per-neighbor contributions are integer
    floor-divisions ``pr DIV degree``, and the damping step is
    ``(1-d)·scale + (d_pct · Σ contrib) DIV 100``. Every operation is
    exact 64-bit integer math, so the result is bit-identical across
    engines, partitionings, and re-runs — float PageRank sums
    contributions in nondeterministic order, which is fine for
    production ranking but cannot be hash-compared against an oracle
    (swap the casts for doubles when parity is not contractual; the
    plan shape is identical).

    ``edges`` must contain BOTH directions of each undirected edge
    (and no duplicates). Plan per iteration: one join of the rank
    table onto the edge list keyed on ``src`` + one aggregate on
    ``dst`` — the standard message-passing shape; the edge table is
    reused across iterations (persist it at the call site for >3
    iterations), and lineage is truncated per round the same way
    :func:`connected_components` does. Dangling nodes (no out-edges)
    are impossible with symmetric edges.

    Returns (node, degree, pr) with ``pr`` at the final iteration."""
    # node-sized degree table, consumed once per iteration (the
    # damping join) plus the rank init; unpinned it re-aggregated the
    # full edge table every iteration
    out_deg = (
        edges.groupBy(F.col(src_col).alias("node"))
        .agg(F.count(F.lit(1)).alias("degree"))
        .localCheckpoint()
    )
    ranks = out_deg.withColumn("pr", F.lit(scale).cast("long"))
    base = int(round((100 - damping_pct) / 100 * scale))
    for _ in range(iterations):
        contribs = (
            edges.join(
                ranks.select(
                    F.col("node").alias(src_col), "pr", "degree"
                ),
                src_col,
            )
            .select(
                F.col(dst_col).alias("node"),
                # SQL `div`: exact 64-bit integer division — Column `/`
                # would round-trip through DOUBLE
                F.expr("pr div degree").cast("long").alias("contrib"),
            )
            .groupBy("node")
            .agg(F.sum("contrib").alias("in_sum"))
        )
        ranks = (
            out_deg.join(contribs, "node", "left")
            .select(
                "node",
                "degree",
                (
                    F.lit(base).cast("long")
                    + F.expr(
                        f"({damping_pct} * coalesce(in_sum, 0L)) div 100"
                    )
                ).cast("long").alias("pr"),
            )
            .localCheckpoint()
        )
    return ranks
