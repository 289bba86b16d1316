"""Pin exchange reuse: the basket relation feeds three consumers
(pair counts, per-part counts, order total) off ONE shuffle.

plans/relational.py::basket_part_pairs_lift is designed so all three
consumers share the identical basket subplan; Spark's exchange-reuse
rule must then compile the repeated scans into ReusedExchange nodes —
the fact scan and the basket exchange run once, not three times. This
is the engine behavior the query's "5 scans down to 2 effective" cost
claim rests on, so it's pinned here rather than assumed.
"""

from __future__ import annotations


def test_basket_lift_reuses_exchange(spark, sf_dir):
    from emission_project_spark.plans.relational import basket_part_pairs_lift

    df = basket_part_pairs_lift(spark, sf_dir)
    df.collect()  # finalize the adaptive plan on this queryExecution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan, plan[:3000]


def test_pagerank_iterations_are_exchange_free_on_the_edge_side(spark):
    """Pin the round-9 pagerank property: the persisted, pre-partitioned
    edge relation means NO per-iteration exchange of the edge list —
    the only hashpartitioning exchanges in an iteration chain are the
    one-time edge repartition plus the per-iteration dst AGGREGATE (and
    the rank side rides the aggregate's partitioning). localCheckpoint
    silently dropped the partitioning (the r8 shape re-exchanged edges
    every round); a regression here re-adds an edge-sized shuffle per
    iteration at 100 TB, invisible to correctness tests."""
    from pyspark.sql import functions as F

    from emission_project_spark.operators.pagerank import pagerank

    edges = spark.range(4000).select(
        (F.col("id") % 97).alias("src"), (F.col("id") % 89).alias("dst")
    )
    sym = edges.unionAll(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # the at-scale shape
    try:
        df = pagerank(sym, iterations=3, assume_full_in_edges=True)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # Inspect the FINAL adaptive plan only: the toString also reprints
    # the cached plan's INTERNAL exchanges under every
    # InMemoryTableScan (those ran once, at cache build) and the
    # pre-AQE initial plan (which still carries the requirement
    # exchanges AQE later elides against the cache's partitioning).
    final = plan.split("== Initial Plan ==")[0]
    lines = final.splitlines()
    edge_rescans = [
        i
        for i, line in enumerate(lines)
        if "Exchange hashpartitioning" in line
        and "ENSURE_REQUIREMENTS" in line
        and any(
            "InMemoryTableScan" in nxt
            for nxt in lines[i + 1 : i + 3]  # allow a codegen/filter wrapper
        )
    ]
    assert edge_rescans == [], (
        "an iteration re-exchanges the cached edge relation "
        f"(final-plan lines {edge_rescans}):\n{final[:4000]}"
    )
    # and the edge relation IS served from cache
    assert "InMemoryTableScan" in final


def test_theil_index_reuses_the_revenue_exchange(spark, sf_dir):
    """The per-customer revenue aggregate feeds three consumers (the
    (n, Σx) totals, the excluded count and the entropy sum) without
    being materialized: exchange reuse must run the orders scan and its
    aggregate exchange once, so the final plan carries ReusedExchange."""
    from emission_project_spark.plans.eval_metrics import stats_theil_index

    df = stats_theil_index(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan, plan[:3000]
