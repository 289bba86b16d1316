"""TPC-H patterns, part 2: the shapes part 1 deferred (Q2, Q4, Q8,
Q10, Q11, Q12-analog, Q15, Q20), plus the round-6 Q3 that completes
the 22-shape grid.

Like tpch_patterns.py these are the standard analytic shapes a user of
the reference warehouse (emission-dag.py's roll-up surface) writes next;
the schema has no partsupp, so lineitem serves as the part↔supplier
bridge wherever TPC-H uses partsupp (same adaptation as Q16 there).

Exactness discipline — these eight shapes COMPARE or RANK aggregated
money/quantity values (min-cost supplier, max-revenue supplier, top-N
customers, share-of-total thresholds), which is where float sums bite:
a double sum is order-dependent, and two engines summing in different
orders can disagree in the last ulp — enough to flip an `= max(...)`
tie or a LIMIT cutoff. All such aggregates here are summed on the
data's own exact integer grid instead: prices are on a 2-decimal grid
and discounts on 2dp, so `round(price*(1-disc)*10^4)` is an exact
integer (the float product sits within ~1e-5 of it) and BIGINT sums of
it are exact and order-independent in both Spark and DuckDB. Grid
constants: `*100` (_cents) for bare prices/quantities, `*10^4` (_e4)
for price×discount products. Display columns divide back down at the
end. At extreme scale a global total of e4-grid bigints overflows past
~9e14 in summed value (9.2e18 / 1e4); swap the BIGINT casts for
DECIMAL(38,4) sums there — grouped (per-supplier/part/customer) totals
never get close.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from emission_project_spark.catalog.tables import load_table
from emission_project_spark.plans.registry import register


def _rev_e4():
    """Exact per-line revenue on the 1e-4 grid, as BIGINT."""
    return F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0).cast("bigint")


_REV_E4_SQL = "CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT)"


# --- Q2 shape: minimum-cost supplier per part — the textbook
# correlated-MIN subquery. Supply cost per (part, supplier) is the
# cheapest line price that supplier ever shipped the part at (exact
# cents BIGINT — lineitem is the partsupp stand-in). The oracle states
# the correlated form; the Spark plan decorrelates it as a WINDOW MIN
# over partkey on the regional bridge — one partkey exchange, no
# rejoin, and ties (two suppliers at the same min cost) surface in both
# engines identically because the compared values are exact integers.
# Region/nation dims broadcast; the part filter reaches the parquet
# scan before the bridge join.
@register(
    "join_q2_min_cost_supplier",
    oracle="""
    WITH bridge AS (
        SELECT l.l_partkey, l.l_suppkey,
               min(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS cost_cents
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        JOIN region r   ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'EUROPE'
        GROUP BY 1, 2
    )
    SELECT p.p_partkey, p.p_brand, s.s_name,
           n.n_name AS supp_nation,
           round(b.cost_cents / 100.0, 2) AS supply_cost
    FROM bridge b
    JOIN part p     ON p.p_partkey = b.l_partkey
    JOIN supplier s ON s.s_suppkey = b.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE p.p_type = 'LARGE' AND p.p_size IN (1, 5, 9, 13)
      AND b.cost_cents = (
          SELECT min(b2.cost_cents) FROM bridge b2
          WHERE b2.l_partkey = b.l_partkey
      )
    """,
)
def join_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    euro_supp = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(
            F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", F.col("n_name").alias("supp_nation"))
    )
    bridge = (
        li.join(euro_supp, li["l_suppkey"] == euro_supp["s_suppkey"])
        .groupBy("l_partkey", "l_suppkey", "s_name", "supp_nation")
        .agg(
            F.min(F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")).alias(
                "cost_cents"
            )
        )
    )
    p_f = p.filter(
        (F.col("p_type") == "LARGE") & F.col("p_size").isin(1, 5, 9, 13)
    ).select("p_partkey", "p_brand")
    w = Window.partitionBy("l_partkey")
    return (
        bridge.join(p_f, bridge["l_partkey"] == p_f["p_partkey"])
        .withColumn("_min_cost", F.min("cost_cents").over(w))
        .filter(F.col("cost_cents") == F.col("_min_cost"))
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            "supp_nation",
            F.round(F.col("cost_cents") / 100.0, 2).alias("supply_cost"),
        )
    )


# --- Q4 shape: order-priority checking — EXISTS against the fact.
# Orders placed in 1997H1 that had at least one badly late line
# (shipped > 365 days after the order date; the synthetic lag's median
# is ~36d so both branches populate). The oracle states EXISTS; the
# Spark plan is a LEFT SEMI join of the filtered orders against the
# late lines — the semi join needs the order date on the line, so the
# late-line relation reuses the already-filtered order slice (date
# range pushed to both parquet scans), and the semi dedups orderkeys
# without a distinct.
@register(
    "join_q4_order_priority_check",
    oracle="""
    SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE CAST(o.o_orderdate AS DATE) >= DATE '1997-01-01'
      AND CAST(o.o_orderdate AS DATE) <  DATE '1997-07-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND CAST(l.l_shipdate AS DATE)
                  > CAST(o.o_orderdate AS DATE) + INTERVAL 365 DAY
      )
    GROUP BY o.o_orderpriority
    """,
)
def join_q4_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    od = F.to_date("o_orderdate")
    o_f = o.filter((od >= F.lit("1997-01-01")) & (od < F.lit("1997-07-01")))
    late_keys = (
        li.join(
            o_f.select("o_orderkey", "o_orderdate"),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .filter(
            F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")) > 365
        )
        .select("l_orderkey")
    )
    return (
        o_f.join(late_keys, o_f["o_orderkey"] == late_keys["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# --- Q8 shape: national market share — a ratio of two conditional
# sums over the same joined slice, by year. Asian customers buying
# STANDARD parts; the share is NATION_5-supplied revenue over all
# revenue. Both sums are exact e4-grid BIGINTs, so the ratio is the
# same double in both engines (one division of identical integers).
# Five dims broadcast (nation ×2 roles, region); the two facts and
# customer shuffle on their join keys; the part-type filter prunes the
# part scan before its join.
@register(
    "join_q8_market_share",
    oracle=f"""
    SELECT CAST(EXTRACT(year FROM CAST(o.o_orderdate AS TIMESTAMP)) AS INTEGER)
               AS o_year,
           round(sum(CASE WHEN ns.n_name = 'NATION_5'
                          THEN {_REV_E4_SQL} ELSE 0 END)
                 * 1.0 / sum({_REV_E4_SQL}), 6) AS mkt_share,
           round(sum({_REV_E4_SQL}) / 10000.0, 4) AS total_revenue
    FROM lineitem l
    JOIN orders o    ON o.o_orderkey = l.l_orderkey
    JOIN customer c  ON c.c_custkey  = o.o_custkey
    JOIN nation nc   ON nc.n_nationkey = c.c_nationkey
    JOIN region rc   ON rc.r_regionkey = nc.n_regionkey
    JOIN supplier s  ON s.s_suppkey  = l.l_suppkey
    JOIN nation ns   ON ns.n_nationkey = s.s_nationkey
    JOIN part p      ON p.p_partkey  = l.l_partkey
    WHERE rc.r_name = 'ASIA' AND p.p_type = 'STANDARD'
    GROUP BY 1
    """,
)
def join_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    p = load_table(spark, sf_dir, "part")
    asia_nations = (
        n.join(
            F.broadcast(r.filter(F.col("r_name") == "ASIA")),
            n["n_regionkey"] == r["r_regionkey"],
        )
        .select(F.col("n_nationkey").alias("_cn_key"))
    )
    supp_nation = n.select(
        F.col("n_nationkey").alias("_sn_key"), F.col("n_name").alias("_supp_nation")
    )
    p_f = p.filter(F.col("p_type") == "STANDARD").select("p_partkey")
    rev = _rev_e4()
    return (
        li.join(p_f, li["l_partkey"] == p_f["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(asia_nations), F.col("c_nationkey") == F.col("_cn_key"))
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("_sn_key"))
        .withColumn("_rev_e4", rev)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("_supp_nation") == "NATION_5", F.col("_rev_e4"))
                    .otherwise(F.lit(0))
                )
                * 1.0
                / F.sum("_rev_e4"),
                6,
            ).alias("mkt_share"),
            F.round(F.sum("_rev_e4") / 10000.0, 4).alias("total_revenue"),
        )
    )


# --- Q10 shape: returned-item revenue, top 20 customers — the
# rank-then-LIMIT trap. The cutoff at rank 20 is only deterministic if
# the ranking value can't tie-break differently across engines: the
# per-customer revenue is an exact BIGINT sum and the ordering is
# (revenue DESC, custkey ASC), so the selected set is identical. The
# top-20 itself is a TakeOrderedAndProject in Spark (per-partition
# heaps + driver merge of 20-row heads — no global sort at 100 TB).
@register(
    "join_q10_returned_top_customers",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           round(sum({_REV_E4_SQL}) / 10000.0, 4) AS revenue,
           n.n_name AS nation,
           round(c.c_acctbal, 2) AS acctbal
    FROM customer c
    JOIN orders o   ON o.o_custkey  = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o.o_orderdate AS DATE) <  DATE '1996-07-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
    ORDER BY sum({_REV_E4_SQL}) DESC, c.c_custkey
    LIMIT 20
    """,
)
def join_q10_returned_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    od = F.to_date("o_orderdate")
    o_f = o.filter((od >= F.lit("1996-01-01")) & (od < F.lit("1996-07-01")))
    li_f = li.filter(F.col("l_returnflag") == "R")
    per_cust = (
        li_f.join(o_f, li_f["l_orderkey"] == o_f["o_orderkey"])
        .join(c, o_f["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"), "c_acctbal")
        .agg(F.sum(_rev_e4()).alias("_rev_e4"))
    )
    return (
        per_cust.orderBy(F.col("_rev_e4").desc(), F.col("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            F.round(F.col("_rev_e4") / 10000.0, 4).alias("revenue"),
            "nation",
            F.round("c_acctbal", 2).alias("acctbal"),
        )
    )


# --- Q11 shape: important stock — per-key aggregate kept only if it
# exceeds a fraction of the GLOBAL total (aggregate compared against
# aggregate-over-everything). One grouped pass builds the per-part
# values from NATION_3's supply lines; the global total is a second
# aggregate OVER THAT small intermediate (part-cardinality, not fact-
# cardinality), cross-joined back as a 1-row broadcast. Both values
# are exact e4-grid BIGINTs so the `> fraction * total` cut is
# engine-stable.
@register(
    "join_q11_important_stock",
    oracle=f"""
    WITH vals AS (
        SELECT l.l_partkey, sum({_REV_E4_SQL}) AS value_e4
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        WHERE n.n_name = 'NATION_3'
        GROUP BY 1
    )
    SELECT v.l_partkey AS p_partkey,
           round(v.value_e4 / 10000.0, 4) AS stock_value
    FROM vals v
    WHERE v.value_e4 > (SELECT 0.001 * sum(value_e4) FROM vals)
    """,
)
def join_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    nat_supp = (
        s.join(
            F.broadcast(n.filter(F.col("n_name") == "NATION_3")),
            s["s_nationkey"] == n["n_nationkey"],
        )
        .select("s_suppkey")
    )
    vals = (
        li.join(F.broadcast(nat_supp), li["l_suppkey"] == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(F.sum(_rev_e4()).alias("_value_e4"))
    )
    total = vals.agg((0.001 * F.sum("_value_e4")).alias("_cut"))
    return (
        vals.crossJoin(F.broadcast(total))
        .filter(F.col("_value_e4") > F.col("_cut"))
        .select(
            "p_partkey",
            F.round(F.col("_value_e4") / 10000.0, 4).alias("stock_value"),
        )
    )


# --- Q12 shape: shipping-class vs order-priority two-way counts —
# conditional aggregation after a fact⋈fact join. The schema has no
# l_shipmode, so the class is derived from the ship lag itself
# (≤30 days = FAST, else SLOW — the median lag is ~36d so both classes
# populate); the CASE-sum pivot over priorities is the Q12 shape.
# One orderkey exchange, counts only — no float anywhere.
@register(
    "join_q12_ship_class_priority",
    oracle="""
    SELECT CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                               CAST(l.l_shipdate AS DATE)) <= 30
                THEN 'FAST' ELSE 'SLOW' END AS ship_class,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE CAST(l.l_shipdate AS DATE) >= DATE '1997-01-01'
      AND CAST(l.l_shipdate AS DATE) <  DATE '1998-01-01'
    GROUP BY 1
    """,
)
def join_q12_ship_class_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    sd = F.to_date("l_shipdate")
    li_f = li.filter((sd >= F.lit("1997-01-01")) & (sd < F.lit("1998-01-01")))
    lag = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li_f.join(
            o.select("o_orderkey", "o_orderdate", "o_orderpriority"),
            li_f["l_orderkey"] == F.col("o_orderkey"),
        )
        .withColumn("ship_class", F.when(lag <= 30, "FAST").otherwise("SLOW"))
        .groupBy("ship_class")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


# --- Q15 shape: top supplier(s) — aggregate equal to the MAX of the
# same aggregate (TPC-H states it as a view + scalar subquery). The
# revenue-per-supplier relation is built once; the max is a 1-row
# aggregate over it, broadcast back. Equality on exact e4-grid BIGINTs
# means a revenue tie returns both suppliers in both engines — the
# documented Q15 edge case, here deterministic instead of undefined.
@register(
    "join_q15_top_supplier",
    oracle=f"""
    WITH rev AS (
        SELECT l.l_suppkey, sum({_REV_E4_SQL}) AS rev_e4
        FROM lineitem l
        WHERE CAST(l.l_shipdate AS DATE) >= DATE '1997-01-01'
          AND CAST(l.l_shipdate AS DATE) <  DATE '1997-04-01'
        GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name,
           round(r.rev_e4 / 10000.0, 4) AS total_revenue
    FROM rev r
    JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.rev_e4 = (SELECT max(rev_e4) FROM rev)
    """,
)
def join_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    sd = F.to_date("l_shipdate")
    rev = (
        li.filter((sd >= F.lit("1997-01-01")) & (sd < F.lit("1997-04-01")))
        .groupBy("l_suppkey")
        .agg(F.sum(_rev_e4()).alias("_rev_e4"))
    )
    top = rev.agg(F.max("_rev_e4").alias("_max_rev"))
    return (
        rev.crossJoin(F.broadcast(top))
        .filter(F.col("_rev_e4") == F.col("_max_rev"))
        .join(s, F.col("l_suppkey") == s["s_suppkey"])
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("_rev_e4") / 10000.0, 4).alias("total_revenue"),
        )
    )


# --- Q20 shape: suppliers holding an excess share of a part's flow —
# nested subqueries with TWO correlated aggregates as the threshold. A
# supplier qualifies on a PROMO part if they shipped more than 2× the
# uniform expectation of that part's total (share thresholds must be
# stated relative to the part's supplier fan-out: this synthetic bridge
# spreads each part across many suppliers, so any fixed absolute share
# selects nothing at every sf). The oracle nests the correlated sum and
# count; the Spark plan is one (part, supplier) grouped pass over the
# PROMO slice, WINDOW SUM + COUNT over partkey (no rejoin), the cut by
# integer cross-multiplication on exact centi-unit BIGINTs, then a
# per-supplier count labeled with the broadcast nation dim.
@register(
    "join_q20_excess_share_suppliers",
    oracle="""
    WITH promo AS (
        SELECT l.l_partkey, l.l_suppkey,
               sum(CAST(round(l.l_quantity * 100) AS BIGINT)) AS qty_c
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_type = 'PROMO'
        GROUP BY 1, 2
    )
    SELECT s.s_suppkey, s.s_name, n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_excess_parts
    FROM promo pr
    JOIN supplier s ON s.s_suppkey = pr.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE pr.qty_c * (
            SELECT count(*) FROM promo p3
            WHERE p3.l_partkey = pr.l_partkey
          ) > 2 * (
            SELECT sum(p2.qty_c) FROM promo p2
            WHERE p2.l_partkey = pr.l_partkey
          )
    GROUP BY s.s_suppkey, s.s_name, n.n_name
    """,
)
def join_q20_excess_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    promo_parts = p.filter(F.col("p_type") == "PROMO").select("p_partkey")
    per_ps = (
        li.join(promo_parts, li["l_partkey"] == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.round(F.col("l_quantity") * 100, 0).cast("bigint")).alias(
                "_qty_c"
            )
        )
    )
    w = Window.partitionBy("l_partkey")
    excess = (
        per_ps.withColumn("_part_total", F.sum("_qty_c").over(w))
        .withColumn("_n_supp", F.count(F.lit(1)).over(w))
        # integer cross-multiplication: qty > 2×(total/n_supp), no float
        .filter(F.col("_qty_c") * F.col("_n_supp") > 2 * F.col("_part_total"))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_excess_parts"))
    )
    supp = s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]).select(
        "s_suppkey", "s_name", F.col("n_name").alias("nation")
    )
    # s_suppkey rides along: the aggregation key is the supplier key on
    # both sides, so duplicate supplier names can never diverge the
    # Spark plan from the oracle's grouping.
    return excess.join(supp, excess["l_suppkey"] == supp["s_suppkey"]).select(
        "s_suppkey", "s_name", "nation", "n_excess_parts"
    )


# --- Q6 shape: the forecast-revenue-change scalar — pure filter +
# ungrouped aggregate, the canonical predicate-pushdown probe. All
# three predicates (shipdate year, discount band, quantity cap) reach
# the parquet scan as PushedFilters; the aggregate is a map-side
# partial + 1-row final on the exact e4 grid. The discount-band
# comparison is safe cross-engine because the stored values and the
# literals are the same nearest-doubles to k/100.
@register(
    "join_q6_forecast_revenue",
    oracle="""
    SELECT round(sum(CAST(round(l_extendedprice * l_discount * 10000)
                           AS BIGINT)) / 10000.0, 4) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
      AND CAST(l_shipdate AS DATE) <  DATE '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def join_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sd = F.to_date("l_shipdate")
    return (
        li.filter(
            (sd >= F.lit("1997-01-01"))
            & (sd < F.lit("1998-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(
                    F.round(
                        F.col("l_extendedprice") * F.col("l_discount") * 10000, 0
                    ).cast("bigint")
                )
                / 10000.0,
                4,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# --- Q3 shape: shipping-priority — revenue of still-unshipped orders
# for one market segment, top-10 by revenue. The last missing member
# of the 22-shape TPC-H grid (the schema has no o_shippriority, so
# o_orderpriority plays its role). Plan: segment filter reaches the
# customer scan, the date split (ordered before, shipped after the
# cutoff) reaches both fact scans as PushedFilters, revenue is the
# exact e4-grid BIGINT sum, and the top-10 compiles to
# TakeOrderedAndProject on (revenue DESC, o_orderdate, l_orderkey) —
# per-partition heaps, no global sort, deterministic through ties on
# the exact grid.
@register(
    "join_q3_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           round(sum({_REV_E4_SQL}) / 10000.0, 4) AS revenue,
           CAST(o.o_orderdate AS DATE) AS orderdate,
           o.o_orderpriority AS priority
    FROM customer c
    JOIN orders o   ON o.o_custkey  = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND CAST(o.o_orderdate AS DATE) <  DATE '1996-07-01'
      AND CAST(l.l_shipdate  AS DATE) >  DATE '1996-07-01'
    GROUP BY l.l_orderkey, CAST(o.o_orderdate AS DATE), o.o_orderpriority
    ORDER BY sum({_REV_E4_SQL}) DESC, orderdate, l.l_orderkey
    LIMIT 10
    """,
)
def join_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    c_f = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o_f = o.filter(F.to_date("o_orderdate") < F.lit("1996-07-01")).select(
        "o_orderkey", "o_custkey",
        F.to_date("o_orderdate").alias("orderdate"),
        F.col("o_orderpriority").alias("priority"),
    )
    li_f = li.filter(F.to_date("l_shipdate") > F.lit("1996-07-01")).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    per_order = (
        li_f.join(o_f, li_f["l_orderkey"] == o_f["o_orderkey"])
        .join(c_f, o_f["o_custkey"] == c_f["c_custkey"])
        .groupBy("l_orderkey", "orderdate", "priority")
        .agg(F.sum(_rev_e4()).alias("_rev_e4"))
    )
    return (
        per_order.orderBy(
            F.col("_rev_e4").desc(), F.col("orderdate"), F.col("l_orderkey")
        )
        .limit(10)
        .select(
            "l_orderkey",
            F.round(F.col("_rev_e4") / 10000.0, 4).alias("revenue"),
            "orderdate",
            "priority",
        )
    )
