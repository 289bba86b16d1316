"""Distributed connected components over an edge list.

The dedup pipeline's clustering step: LSH candidate PAIRS become
duplicate CLUSTERS (every doc labeled with the min doc id reachable
through the pair graph), which is what "keep one canonical copy per
near-dup group" needs at scale. The reference's dedup surface is
single-table ``drop_duplicates`` (emission-dag.py:76,96); components
is the 100 TB generalization the training-data extensions require.

Algorithm: iterative min-label propagation — each round every node
adopts the smallest label among itself and its neighbors, until
fixpoint. Rounds required = graph diameter. Near-dup graphs are dense
and shallow (cliques and short chains, diameter ≲ 3), so propagation
beats the constant-factor-heavier alternating large-star/small-star
scheme (Kiveris et al., "Connected Components in MapReduce and
Beyond") on this workload while remaining a pure shuffle-on-key
DataFrame program: each round is one equi-join plus one min-aggregate,
both keyed on the node id, so partial (map-side) aggregation applies
and AQE co-plans the stages. ``localCheckpoint`` per round truncates
lineage — without it the logical plan doubles every round and the
driver re-optimizes an exponentially growing tree.

Determinism: the fixpoint (min reachable id per node) is independent
of iteration order, so results are stable across partitionings — and
oracle-checkable against a recursive-CTE transitive closure.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# propagation rounds before giving up: a graph needs as many rounds as
# its diameter
MAX_ROUNDS = 25


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Label every node that appears in ``edges`` with the minimum node
    id of its connected component. Returns ``(id, component_id)``.

    ``MAX_ROUNDS`` bounds the rounds (= graph diameter); propagation
    stops early at fixpoint, detected by the sum-of-labels probe:
    labels only ever decrease, so ``sum(comp)`` strictly decreases
    until fixpoint (decimal(38,0) so the probe can't overflow at
    10^9+ nodes). The probe is FUSED with the round's materialization:
    each round's labels are lazily local-checkpointed and the probe
    aggregate is the action that materializes them — one Spark job per
    round, no separate convergence pass.

    Raises ``RuntimeError`` if ``MAX_ROUNDS`` rounds pass without
    reaching the fixpoint — partially-propagated labels are wrong
    labels, never returned silently.
    """
    sym = edges.select(F.col(src).alias("id"), F.col(dst).alias("nbr")).unionByName(
        edges.select(F.col(dst).alias("id"), F.col(src).alias("nbr"))
    )
    # serialized + spillable: the edge list is the one relation here
    # that scales with the corpus, and the deserialized default's
    # unroll copies OOM before spilling on 10^8-edge graphs (see
    # operators/pagerank.py, same discipline)
    sym = sym.localCheckpoint(storageLevel=StorageLevel.MEMORY_AND_DISK)

    probe = F.sum(F.col("comp").cast("decimal(38,0)"))
    # init fused with round 1: the distinct-ids pass IS a shuffle on id,
    # so fold the first min-propagation (min of self and direct
    # neighbors) into that same shuffle instead of starting from the
    # identity labeling — one round less for the same shuffle count
    labels = sym.groupBy("id").agg(F.min(F.least(F.col("id"), F.col("nbr"))).alias("comp"))
    labels = labels.localCheckpoint(eager=False)
    prev_sum = labels.agg(probe).first()[0]

    for _ in range(MAX_ROUNDS):
        nbr_labels = (
            sym.join(labels.withColumnRenamed("id", "nbr"), "nbr")
            .select("id", "comp")
        )
        labels = (
            nbr_labels.unionByName(labels.select("id", "comp"))
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint(eager=False)  # materialized by the probe below
        )
        new_sum = labels.agg(probe).first()[0]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        raise RuntimeError(
            f"connected_components did not converge: the graph's diameter "
            f"exceeds the {MAX_ROUNDS}-round bound"
        )

    return labels.select("id", F.col("comp").alias("component_id"))
