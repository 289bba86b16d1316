"""Graph-rank queries: PageRank over engine-built co-occurrence graphs.

The reference has no graph surface; this is part of the LLM-pipeline
extension set — link-analysis rank is the classic corpus-quality prior
(crawl pipelines rank hosts before sampling), and the co-purchase graph
is this schema's data-sized stand-in for a link graph.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emission_project_spark.catalog.tables import load_table
from emission_project_spark.operators.pagerank import pagerank
from emission_project_spark.plans.registry import register


def _rk_sql(k: int) -> str:
    """One PageRank iteration as a CTE (symmetric graph: every node has
    in-edges, so no teleport-floor branch is needed in the oracle)."""
    return f"""
    r{k} AS (
        SELECT e.dst AS node, 0.15 + 0.85 * sum(r{k - 1}.r / d.deg) AS r
        FROM edges e
        JOIN r{k - 1} ON r{k - 1}.node = e.src
        JOIN deg d    ON d.src = e.src
        GROUP BY e.dst
    )"""


# --- PageRank on the part co-purchase graph: nodes = parts, edges =
# "bought in the same order" (distinct, symmetrized), 5 synchronous
# iterations at damping 0.85 from the uniform start. The oracle states
# the iterations as 5 chained CTEs over the same edge list — exactly
# the synchronous schedule the Spark loop runs — so the two engines
# compute the identical sequence of doubles (per-node sums differ only
# in addition order, ~1e-12 against the 1e-6 rounding grid). The edge
# build is the basket pattern (within-order pair fanout bounded by
# order size, never corpus-quadratic); the per-iteration cost is one
# src-key join + one dst-key aggregate, lineage truncated per round.
@register(
    "graph_pagerank_parts",
    oracle=f"""
    WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT pa AS src, pb AS dst FROM pairs
        UNION ALL
        SELECT pb AS src, pa AS dst FROM pairs
    ),
    deg AS (
        SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1
    ),
    r0 AS (SELECT src AS node, 1.0 AS r FROM deg),
    {",".join(_rk_sql(k) for k in range(1, 6))}
    SELECT r5.node AS p_partkey,
           d.deg AS degree,
           round(r5.r, 6) AS rank
    FROM r5 JOIN deg d ON d.src = r5.node
    """,
)
def graph_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Shared basket-pattern pair build, int-width ids when the part
    # domain fits int32: the 5 iteration exchanges carry (node, rank)
    # rows keyed by the node id and the symmetrized edge relation is
    # persisted and probed every round — 4-byte keys halve both. The
    # output node is cast back to the parquet key type so the result
    # schema is independent of the internal width.
    from emission_project_spark.plans.affinity_ops import _copurchase_pairs

    pairs = _copurchase_pairs(spark, sf_dir, int_ids=True)
    edges = pairs.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionAll(
        pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    ranked = pagerank(
        edges, iterations=5, damping=0.85, assume_full_in_edges=True
    )
    return ranked.select(
        F.col("node").cast("bigint").alias("p_partkey"),
        "degree",
        F.round("rank", 6).alias("rank"),
    )


def _hits_iter_sql(k: int) -> str:
    """One HITS iteration as CTEs: authority from hubs, hub from
    authorities, each max-normalized (the standard scaling that keeps
    scores in (0,1] without the tiny-value rounding hazard of
    sum-normalization)."""
    return f"""
    a{k}_raw AS (
        SELECT e.part, sum(h{k - 1}.h) AS a
        FROM edges e JOIN h{k - 1} ON h{k - 1}.cust = e.cust
        GROUP BY e.part
    ),
    a{k} AS (
        SELECT part, a / (SELECT max(a) FROM a{k}_raw) AS a FROM a{k}_raw
    ),
    h{k}_raw AS (
        SELECT e.cust, sum(a{k}.a) AS h
        FROM edges e JOIN a{k} ON a{k}.part = e.part
        GROUP BY e.cust
    ),
    h{k} AS (
        SELECT cust, h / (SELECT max(h) FROM h{k}_raw) AS h FROM h{k}_raw
    )"""


# --- Bipartite HITS (Kleinberg 1999) on the customer→part purchase
# graph: parts accumulate AUTHORITY from the customers who buy them,
# customers accumulate HUB weight from the parts they buy — mutually
# recursive, 3 synchronous iterations, max-normalized each half-step.
# Same engineering as PageRank: the distinct edge list is checkpointed
# once; each half-step is one edge-sized join + aggregate; the 1-row
# max normalizer broadcasts. The oracle replays the identical schedule
# as chained CTEs (sum-order ulps only, rounded at 1e-6).
@register(
    "graph_hits_part_authority",
    oracle=f"""
    WITH edges AS (
        SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    h0 AS (SELECT DISTINCT cust, 1.0 AS h FROM edges),
    {",".join(_hits_iter_sql(k) for k in range(1, 4))}
    SELECT a3.part AS p_partkey,
           round(a3.a, 6) AS authority,
           CAST(d.n_buyers AS BIGINT) AS n_buyers
    FROM a3
    JOIN (SELECT part, count(*) AS n_buyers FROM edges GROUP BY part) d
      ON d.part = a3.part
    """,
)
def graph_hits_part_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
        # Materialized, spillable (edge scale): every half-step reads the
        # edges; inline, each rescans orders and lineitem (sf0.1: 0.75M
        # → 5.85M parquet rows, median 5.5 → 9.3 s).
        .localCheckpoint(eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK)
    )

    def half_step(scores: DataFrame, from_col: str, to_col: str, val: str) -> DataFrame:
        raw = (
            edges.join(scores, from_col)
            .groupBy(to_col)
            .agg(F.sum(val).alias("_raw"))
        )
        mx = raw.agg(F.max("_raw").alias("_mx"))
        # Materialized per half-step: inline, the six-step chain
        # shuffles less (sf0.1: 49.6 → 39.4 MB) but runs slower (median
        # 4.5 → 7.9 s).
        return (
            raw.crossJoin(F.broadcast(mx))
            .select(to_col, (F.col("_raw") / F.col("_mx")).alias(val))
            .localCheckpoint(eager=False)
        )

    hubs = edges.select("cust").distinct().select("cust", F.lit(1.0).alias("h"))
    for _ in range(3):
        auths = half_step(hubs.withColumnRenamed("h", "a"), "cust", "part", "a")
        hubs = half_step(auths.withColumnRenamed("a", "h"), "part", "cust", "h")
    n_buyers = edges.groupBy("part").agg(F.count(F.lit(1)).alias("n_buyers"))
    return (
        auths.join(n_buyers, "part")
        .select(
            F.col("part").alias("p_partkey"),
            F.round("a", 6).alias("authority"),
            "n_buyers",
        )
    )
