"""PageRank over an edge DataFrame — the link-analysis quality signal.

Web-corpus curation pipelines rank crawl hosts by (Harmonic/Page)Rank
before sampling (the Common Crawl ranking the CCNet/RefinedWeb lineage
filters against); the same iterative shape ranks any co-occurrence
graph this engine builds (part co-purchase, doc-link, user-interaction).

Execution model: a FIXED number of synchronous iterations, each one a
join of the current rank vector with the degree-annotated edge list
and a re-aggregation on the destination key. Scale notes, audited via
.explain:

- the edge list is hash-partitioned on the src key ONCE, degree-
  annotated in the same pass (a partitionBy-only window — no second
  relation, no join), and persisted; the cached relation KEEPS that
  partitioning and its within-partition src order (InMemoryRelation
  preserves both; ``localCheckpoint`` — the round-8 design — preserves
  NEITHER, which made every iteration re-exchange the full edge list:
  measured 2.4× slower at sf1 and the dominant term of the sf10
  decade entry);
- per-iteration work is therefore one exchange-free src-key merge
  join (the rank side arrives hash(node)-partitioned from the
  previous iteration's dst-key aggregate — same hash, same key) plus
  the dst-key aggregate shuffle: ONE edge-sized exchange per
  iteration, the synchronous-PR minimum;
- no driver-side data movement: the loop is driver-side only in its
  CONTROL FLOW (a fixed iteration count needs no convergence collect).

Contract: every node must have at least one OUT-edge (true of any
symmetrized co-occurrence graph; for a directed web graph, handle
dangling pages upstream — e.g. add self-loops or redistribute — as
classic PR formulations do). Nodes with out-edges but no in-edges stay
in the vector at the teleport floor (1-d) each round rather than
dropping out. Isolated vertices (no edges at all) are out of scope;
callers union them back at rank 1-d if needed.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Edge-scale checkpoints store SERIALIZED with disk spill: the default
# deserialized MEMORY_AND_DISK level unrolls row COPIES (UnsafeRow per
# edge, ~5x the serialized footprint), and on a 100x graph the unroll
# allocation itself OOMs the executor before the store can spill —
# measured on the sf10 co-purchase graph (~10^8 directed edges).
# Node-scale vectors (ranks, degrees) keep the default level.
# (pyspark's StorageLevel.MEMORY_AND_DISK is deserialized=False — the
# serialized level; the JVM-default deserialized one is *_DESER.)
_EDGE_LEVEL = StorageLevel.MEMORY_AND_DISK


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    assume_full_in_edges: bool = False,
) -> DataFrame:
    """Rank nodes of a directed ``(src, dst)`` edge list; returns
    (node, degree, rank).

    Uses the uniform-start formulation r0 = 1, r_{k+1}(v) = (1-d) +
    d·Σ_{(u,v)} r_k(u)/out_deg(u), whose fixed point sums to N (the
    per-node expected-visits form, as in the original paper).

    ``assume_full_in_edges=True`` declares every node has at least one
    IN-edge (true of any symmetrized graph), which makes the
    teleport-floor left join below a provable no-op — skipping it
    drops one operator from every iteration. Leave False for directed
    graphs, where no-in-edge nodes must be kept at the floor.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    from pyspark.sql import Window

    # ONE pass builds the iteration relation: hash-partition on the
    # src key (the partitioning every iteration's join reuses from
    # cache), annotate out-degree with a partitionBy-only window (no
    # deg relation, no join), persist serialized+spillable. The window
    # both requires hash(_src) — satisfied by the repartition, so no
    # second exchange — and leaves the partitions src-clustered, which
    # the cache preserves for the iterations' merge joins.
    e = (
        edges.select(F.col("src").alias("_src"), F.col("dst").alias("_dst"))
        .repartition(F.col("_src"))
        .withColumn(
            "_deg", F.count(F.lit(1)).over(Window.partitionBy("_src"))
        )
        .persist(_EDGE_LEVEL)
    )
    deg = e.groupBy("_src").agg(F.first("_deg").alias("_deg"))
    nodes = deg.select(F.col("_src").alias("node"))
    if not assume_full_in_edges:
        nodes = nodes.persist()  # read every iteration by the floor join
    ranks = nodes.select("node", F.lit(1.0).alias("rank"))
    for _ in range(iterations):
        agg = (
            e.join(ranks, e["_src"] == ranks["node"])
            .select("_dst", (F.col("rank") / F.col("_deg")).alias("_contrib"))
            .groupBy(F.col("_dst").alias("node"))
            .agg(
                (F.lit(1.0 - damping) + F.lit(damping) * F.sum("_contrib")).alias(
                    "_r"
                )
            )
        )
        if assume_full_in_edges:
            ranks = agg.select("node", F.col("_r").alias("rank"))
        else:
            # left join keeps no-in-edge nodes at the teleport floor
            # instead of silently dropping their out-contributions
            ranks = nodes.join(agg, "node", "left").select(
                "node",
                F.coalesce(F.col("_r"), F.lit(1.0 - damping)).alias("rank"),
            )
    node_deg = deg.select(F.col("_src").alias("node"), F.col("_deg").alias("degree"))
    return ranks.join(node_deg, "node")
