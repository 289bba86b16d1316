"""Core relational queries — one per operator family in SURVEY.md §2.

Each query exercises a reference operator (cited) on the driver's
TPC-H-ish testdata, Spark-first: declarative DataFrame plans that
Catalyst compiles to broadcast-hash joins, partial+final hash
aggregates, and pruned parquet scans. The paired oracle SQL (DuckDB)
defines exact expected semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from emission_project_spark.catalog.tables import load_table
from emission_project_spark.functions.datetime import date_dim, date_parts
from emission_project_spark.operators.dedup import dedup_subset, union_distinct
from emission_project_spark.operators.incremental import incremental_insert, upsert
from emission_project_spark.operators.joins import (
    anti_join,
    join_dim_role,
    join_nullsafe,
)
from emission_project_spark.operators.keys import date_id_expr
from emission_project_spark.plans.registry import register


def _scratch_root(tag: str) -> str:
    """Per-process scratch dir for queries that exercise the warehouse
    file layer (snapshots/compaction): `/tmp/emission-spark-{tag}-{pid}`,
    WIPED at each call so repeated invocations are deterministic and the
    per-invocation mkdtemp leak (ADVICE r11) is bounded to one copy.
    The previous call's lazy DataFrame dies with the wipe — callers get
    a fresh plan per invocation, which is what the registry contract
    (builder called once per run) already assumes."""
    import os
    import shutil
    import tempfile

    root = os.path.join(tempfile.gettempdir(), f"emission-spark-{tag}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    return root


# --- A2 + P3 + P4: the flagship roll-up (pricing summary à la TPC-H Q1).
# Reference analog: filter + derived measure + grouped totals, the
# "total emission on a brand level" product surface (README.md:3,
# emission-dag.py:161-162). Whole pipeline is one scan + one partial/
# final hash aggregate; the shipdate filter is pushed to parquet.
@register(
    "rollup_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                   AS sum_qty,
           round(sum(l_extendedprice), 2)                              AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4)           AS sum_disc_price,
           round(avg(l_quantity), 6)                                   AS avg_qty,
           round(avg(l_discount), 6)                                   AS avg_disc,
           CAST(count(*) AS BIGINT)                                    AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def rollup_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.to_date("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --- P1/P2: projection + canonical rename (emission-dag.py:74,89-92).
@register(
    "projection_rename",
    oracle="""
    SELECT c_custkey AS customer_id, c_name AS full_name,
           c_mktsegment AS segment
    FROM customer
    """,
)
def projection_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("customer_id"),
        F.col("c_name").alias("full_name"),
        F.col("c_mktsegment").alias("segment"),
    )


# --- P3: predicate filter (emission-dag.py:84 boolean-mask idiom).
@register(
    "filter_predicate",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE l_returnflag = 'R' AND l_quantity > 45
    """,
)
def filter_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_returnflag") == "R") & (F.col("l_quantity") > 45)).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


# --- P4: derived scalar measure — the total_emission analog
# (emission-dag.py:161-162: distance_km * co2_emission_g_per_km).
@register(
    "derived_measure",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS net_revenue
    FROM lineitem
    """,
)
def derived_measure(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")), 6
        ).alias("net_revenue"),
    )


# --- P6/P8: casts + date-part functions (create_tables.py:8-13;
# week is ISO, year is calendar year — SURVEY.md §4.4).
@register(
    "cast_and_dateparts",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE)                       AS order_date,
           dayname(CAST(o_orderdate AS DATE))              AS week_day,
           CAST(dayofmonth(CAST(o_orderdate AS DATE)) AS INT) AS day,
           CAST(month(CAST(o_orderdate AS DATE)) AS INT)   AS month,
           CAST(weekofyear(CAST(o_orderdate AS DATE)) AS INT) AS week,
           CAST(quarter(CAST(o_orderdate AS DATE)) AS INT) AS quarter,
           CAST(year(CAST(o_orderdate AS DATE)) AS INT)    AS year
    FROM orders
    """,
)
def cast_and_dateparts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    parts = date_parts(d)
    return o.select(
        "o_orderkey",
        d.alias("order_date"),
        *[expr.alias(name) for name, expr in parts.items()],
    )


# --- P7: smart date key yyyymmdd (create_tables.py:14).
@register(
    "date_id_smart_key",
    oracle="""
    SELECT o_orderkey,
           CAST(strftime(CAST(o_orderdate AS DATE), '%Y%m%d') AS INT) AS date_id
    FROM orders
    """,
)
def date_id_smart_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select("o_orderkey", date_id_expr(F.to_date("o_orderdate")).alias("date_id"))


# --- P9: generated date dimension (create_tables.py:6-15), 7,306 rows.
@register(
    "date_dim_generate",
    oracle="""
    SELECT CAST(strftime(d, '%Y%m%d') AS INT) AS date_id,
           d                                  AS date,
           dayname(d)                         AS week_day,
           CAST(dayofmonth(d) AS INT)         AS day,
           CAST(month(d) AS INT)              AS month,
           CAST(weekofyear(d) AS INT)         AS week,
           CAST(quarter(d) AS INT)            AS quarter,
           CAST(year(d) AS INT)               AS year
    FROM (SELECT unnest(generate_series(DATE '2010-01-01', DATE '2030-01-01',
                                        INTERVAL 1 DAY))::DATE AS d)
    """,
)
def date_dim_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return date_dim(spark)


# --- D1: key-subset dedup with deterministic survivor
# (emission-dag.py:76,96; survivor pinned per SURVEY.md §2.4).
@register(
    "dedup_subset_deterministic",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey
    FROM (SELECT l_orderkey, l_linenumber, l_partkey,
                 row_number() OVER (PARTITION BY l_orderkey
                                    ORDER BY l_linenumber, l_partkey) AS rn
          FROM lineitem)
    WHERE rn = 1
    """,
)
def dedup_subset_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_partkey")
    return dedup_subset(li, ["l_orderkey"], tiebreaker=["l_linenumber", "l_partkey"])


# --- U1: union-all then distinct (emission-dag.py:127,145,152 —
# start/target country set-union).
@register(
    "union_distinct_nations",
    oracle="""
    SELECT DISTINCT nationkey FROM (
        SELECT c_nationkey AS nationkey FROM customer
        UNION ALL
        SELECT s_nationkey AS nationkey FROM supplier
    )
    """,
)
def union_distinct_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return union_distinct(c, s)


# --- O1 + limit: deterministic top-k (sort_values analog,
# emission-dag.py:74,93, with an id tiebreak for stability).
@register(
    "topk_orders_by_price",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS total_price
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 25
    """,
)
def topk_orders_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(25)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total_price"))
    )


# --- J1-J4 family: incremental anti-join (emission-dag.py:83-84).
@register(
    "anti_join_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def anti_join_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return anti_join(c, o, {"c_custkey": "o_custkey"}).select("c_custkey", "c_name")


# --- J6: null-safe multi-key equi-join (NaN==NaN pandas semantics,
# SURVEY.md §4.4). Nullable keys are synthesized with nullif so the
# trap is actually exercised on the testdata.
@register(
    "nullsafe_join_match",
    oracle="""
    WITH fact AS (
        SELECT l_orderkey, l_linenumber,
               nullif(l_returnflag, 'N') AS flag_key,
               nullif(l_linestatus, 'F') AS status_key
        FROM lineitem
    ),
    dim AS (
        SELECT DISTINCT nullif(l_returnflag, 'N') AS flag_key,
                        nullif(l_linestatus, 'F') AS status_key,
                        concat(coalesce(nullif(l_returnflag, 'N'), '_'),
                               coalesce(nullif(l_linestatus, 'F'), '_')) AS dim_tag
        FROM lineitem
    )
    SELECT f.flag_key, f.status_key, d.dim_tag,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM fact f
    LEFT JOIN dim d
      ON f.flag_key IS NOT DISTINCT FROM d.flag_key
     AND f.status_key IS NOT DISTINCT FROM d.status_key
    GROUP BY f.flag_key, f.status_key, d.dim_tag
    """,
)
def nullsafe_join_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    fact = li.select(
        "l_orderkey",
        "l_linenumber",
        F.nullif(F.col("l_returnflag"), F.lit("N")).alias("flag_key"),
        F.nullif(F.col("l_linestatus"), F.lit("F")).alias("status_key"),
    )
    dim = (
        li.select(
            F.nullif(F.col("l_returnflag"), F.lit("N")).alias("flag_key"),
            F.nullif(F.col("l_linestatus"), F.lit("F")).alias("status_key"),
        )
        .distinct()
        .withColumn(
            "dim_tag",
            F.concat(
                F.coalesce(F.col("flag_key"), F.lit("_")),
                F.coalesce(F.col("status_key"), F.lit("_")),
            ),
        )
    )
    joined = join_nullsafe(fact, dim, ["flag_key", "status_key"], how="left", broadcast_right=True)
    return joined.groupBy("flag_key", "status_key", "dim_tag").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


# --- J9/J10: role-playing dimension joined twice (start_*/target_*
# city-country pattern, emission-dag.py:177-195). Here: nation joined
# once via customer and once via supplier on the same fact row.
@register(
    "role_playing_nation_join",
    oracle="""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           CAST(count(*) AS BIGINT) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey  = c.c_custkey
    JOIN nation cn   ON c.c_nationkey = cn.n_nationkey
    JOIN supplier s  ON l.l_suppkey  = s.s_suppkey
    JOIN nation sn   ON s.s_nationkey = sn.n_nationkey
    GROUP BY cn.n_name, sn.n_name
    """,
)
def role_playing_nation_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cust_side = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select(o["o_orderkey"], n["n_name"].alias("cust_nation"))
    )
    supp_side = (
        F.broadcast(s)
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select(s["s_suppkey"], n["n_name"].alias("supp_nation"))
    )
    return (
        li.join(cust_side, li["l_orderkey"] == cust_side["o_orderkey"])
        .join(F.broadcast(supp_side), li["l_suppkey"] == supp_side["s_suppkey"])
        .groupBy("cust_nation", "supp_nation")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            ),
        )
    )


# --- §4.3.1: dense ordered surrogate keys (SERIAL semantics). The
# registered form runs the DISTRIBUTED dense row number
# (functions/ranks.py::global_position: sampled range boundaries, a
# partition-count-sized offset prefix — the 100 TB path) — identical
# output to the single-window add_surrogate_key for unique sort keys,
# which s_name is; the equivalence is pinned in tests/test_operators.py.
@register(
    "surrogate_keys_dense",
    oracle="""
    SELECT CAST(row_number() OVER (ORDER BY s_name) AS BIGINT) AS supplier_sk,
           s_name
    FROM supplier
    """,
)
def surrogate_keys_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.functions.ranks import global_position

    s = load_table(spark, sf_dir, "supplier").select("s_name")
    return global_position(
        s, [F.col("s_name").asc_nulls_last()], out_col="supplier_sk"
    ).select("supplier_sk", "s_name")


# --- J11/S5: incremental insert — batch minus already-loaded state
# (emission-dag.py:205-208 7-id fact anti-join).
@register(
    "incremental_insert_orders",
    oracle="""
    SELECT b.o_orderkey, b.o_custkey, round(b.o_totalprice, 2) AS total_price
    FROM (SELECT * FROM orders WHERE o_orderkey % 4 IN (0, 1)) b
    WHERE NOT EXISTS (
        SELECT 1 FROM (SELECT * FROM orders WHERE o_orderkey % 2 = 0) e
        WHERE e.o_orderkey = b.o_orderkey
    )
    """,
)
def incremental_insert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    existing = o.filter(F.col("o_orderkey") % 2 == 0)
    batch = o.filter((F.col("o_orderkey") % 4).isin(0, 1))
    return incremental_insert(existing, batch, ["o_orderkey"]).select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total_price")
    )


# --- S9: keyed upsert (upsert_query.text:5-9 DELETE USING + INSERT).
@register(
    "upsert_customer_balances",
    oracle="""
    WITH batch AS (
        SELECT c_custkey, c_name, round(c_acctbal + 100.0, 2) AS acctbal
        FROM customer WHERE c_custkey % 10 = 0
    ),
    existing AS (
        SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal FROM customer
    )
    SELECT * FROM batch
    UNION ALL
    SELECT e.* FROM existing e
    WHERE NOT EXISTS (SELECT 1 FROM batch b WHERE b.c_custkey = e.c_custkey)
    """,
)
def upsert_customer_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    existing = c.select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal"))
    batch = c.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey", "c_name", F.round(F.col("c_acctbal") + 100.0, 2).alias("acctbal")
    )
    return upsert(existing, batch, ["c_custkey"])


# --- A1/S5: scalar count probes across the warehouse.
@register(
    "count_probe",
    oracle="""
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS lineitem_rows,
           (SELECT CAST(count(*) AS BIGINT) FROM orders)   AS orders_rows,
           (SELECT CAST(count(*) AS BIGINT) FROM customer) AS customer_rows
    """,
)
def count_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("lineitem_rows"))
    o = load_table(spark, sf_dir, "orders").agg(F.count(F.lit(1)).alias("orders_rows"))
    c = load_table(spark, sf_dir, "customer").agg(F.count(F.lit(1)).alias("customer_rows"))
    return li.crossJoin(o).crossJoin(c)


# --- A2: the product surface — totals rolled up per brand
# ("total emission on a brand level", README.md:3; p_brand stands in
# for car brand, revenue for total_emission).
@register(
    "group_rollup_brand",
    oracle="""
    SELECT p.p_brand AS brand,
           CAST(count(*) AS BIGINT) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def group_rollup_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            ),
        )
    )


# --- A2 (driver-level analog): per-supplier totals (car/driver-level
# roll-up analog).
@register(
    "group_rollup_supplier",
    oracle="""
    SELECT l_suppkey AS supplier_id,
           CAST(count(*) AS BIGINT) AS n_items,
           round(sum(l_quantity), 2) AS total_qty
    FROM lineitem
    GROUP BY l_suppkey
    """,
)
def group_rollup_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_suppkey").alias("supplier_id")).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
    )


# --- Window analytics (beyond-reference: "provided free by Spark",
# SURVEY.md §2.5 note — running total per customer over order time).
@register(
    "window_running_total",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
    FROM orders
    """,
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


# --- Tumbling-window aggregation over the events: the deterministic
# batch semantics of a watermarked streaming window, which the oracle
# can check.
@register(
    "events_tumbling_hourly",
    oracle="""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("window_start"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


# --- Declarative contract validation (operators/contracts.py): the
# constraint surface the reference delegated to Postgres DDL
# (create_tables.py NOT NULL / PRIMARY KEY / value domains), computed
# as violation COUNTS in one scan + one distinct aggregate — the
# parquet-warehouse gate pattern. All zeros on the driver's testdata;
# the oracle restates every check, so a corpus WITH violations (the
# boundary suites) must agree on the nonzero counts too.
@register(
    "validation_contract_orders",
    oracle="""
    SELECT 'not_null:o_orderkey' AS check_name,
           CAST(count(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT) AS violations
    FROM orders
    UNION ALL
    SELECT 'not_null:o_custkey',
           CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'unique:o_orderkey',
           CAST(count(*) FILTER (WHERE o_orderkey IS NOT NULL)
                - count(DISTINCT o_orderkey) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'accepted:o_orderstatus',
           CAST(count(*) FILTER (WHERE o_orderstatus IS NOT NULL
                                 AND o_orderstatus NOT IN ('O', 'F', 'P'))
                AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'range:o_totalprice',
           CAST(count(*) FILTER (WHERE o_totalprice IS NOT NULL
                                 AND (o_totalprice < 0 OR o_totalprice > 1000000))
                AS BIGINT)
    FROM orders
    """,
)
def validation_contract_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.operators.contracts import (
        TableContract,
        contract_violations,
    )

    o = load_table(spark, sf_dir, "orders")
    contract = TableContract(
        not_null=["o_orderkey", "o_custkey"],
        unique=[["o_orderkey"]],
        accepted_values={"o_orderstatus": ["O", "F", "P"]},
        ranges={"o_totalprice": (0, 1_000_000)},
    )
    return contract_violations(o, contract)


# --- TPC-H Q5 shape: 6-table join (2 facts + 4 dims) with a selective
# region filter and a same-nation correlation between customer and
# supplier. The 100 TB plan this declares: lineitem⋈orders⋈customer⋈
# supplier shuffle on their keys (all scale with data — none is hinted
# for broadcast, AQE may still broadcast the post-filter small sides at
# test SF), nation/region explicitly broadcast (fixed cardinality), the
# date filter pushed into the orders scan, and the region filter prunes
# nations before the fact ever joins a dim row it would discard.
@register(
    "join_q5_regional_supplier_revenue",
    oracle="""
    SELECT n.n_name AS nation,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o.o_orderdate AS DATE) <  DATE '1997-01-01'
    GROUP BY n.n_name
    """,
)
def join_q5_regional_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    od = F.to_date("o_orderdate")
    o_f = o.filter((od >= F.lit("1996-01-01")) & (od < F.lit("1997-01-01")))
    asia_nations = n.join(
        F.broadcast(r.filter(F.col("r_name") == "ASIA")),
        n["n_regionkey"] == r["r_regionkey"],
    ).select("n_nationkey", "n_name")
    return (
        li.join(o_f, li["l_orderkey"] == o_f["o_orderkey"])
        .join(c, o_f["o_custkey"] == c["c_custkey"])
        .join(
            s,
            (li["l_suppkey"] == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(asia_nations), s["s_nationkey"] == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


# --- Retention cohort matrix: users grouped by ISO week of first
# signup, distinct-active counts per week offset — the standard
# product-analytics rollup. Week truncation is Monday-aligned in both
# engines, so the offset division by 7 is exact; pre-cohort activity
# (events before the signup week) is excluded identically on both
# sides.
@register(
    "events_retention_cohorts",
    oracle="""
    WITH first_signup AS (
        SELECT user_id,
               date_trunc('week', min(CAST(ts AS TIMESTAMP))) AS cohort_week
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    activity AS (
        SELECT e.user_id, f.cohort_week,
               CAST(date_diff('day', CAST(f.cohort_week AS DATE),
                              CAST(date_trunc('week', CAST(e.ts AS TIMESTAMP)) AS DATE)) // 7
                    AS BIGINT) AS week_offset
        FROM events e JOIN first_signup f USING (user_id)
        WHERE CAST(e.ts AS TIMESTAMP) >= f.cohort_week
    )
    SELECT CAST(cohort_week AS DATE) AS cohort_week, week_offset,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
    FROM activity GROUP BY 1, 2
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    first = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    )
    activity = (
        e.join(first, "user_id")
        .filter(F.col("ts") >= F.col("cohort_week"))
        .select(
            "user_id",
            F.to_date("cohort_week").alias("cohort_week"),
            F.expr(
                "CAST(datediff(to_date(date_trunc('week', ts)),"
                " to_date(cohort_week)) DIV 7 AS BIGINT)"
            ).alias("week_offset"),
        )
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.countDistinct("user_id").alias("n_active")
    )


# --- Role-join via helper (J5 city→country FK resolve analog:
# supplier→nation name attach, broadcast dim).
@register(
    "dim_fk_resolve",
    oracle="""
    SELECT s.s_suppkey, s.s_name, n.n_name AS nation_name
    FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
    """,
)
def dim_fk_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return join_dim_role(
        s.select("s_suppkey", "s_name", "s_nationkey"),
        n,
        "s_nationkey",
        "n_nationkey",
        take={"n_name": "nation_name"},
    ).select("s_suppkey", "s_name", "nation_name")


# --- Session windows over the events (streaming/stateful.py
# session_window_totals on a batch frame; oracle-checked via
# gaps-and-islands SQL).
# Session break rule: new session only when the gap STRICTLY exceeds
# 30 min — session_window merges an event landing exactly at the open
# session's end (max_ts + gap), i.e. the boundary is closed (pinned by
# tests/test_streaming.py::test_session_window_gap_boundary_semantics
# and the boundary-corpus oracle test).
@register(
    "events_sessionize",
    oracle="""
    WITH ordered AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
               CASE WHEN CAST(ts AS TIMESTAMP)
                         - lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    tagged AS (
        SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS UNBOUNDED PRECEDING) AS session_no
        FROM ordered
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS total_value
    FROM tagged
    GROUP BY user_id, session_no
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.streaming.stateful import session_window_totals

    e = load_table(spark, sf_dir, "events")
    return session_window_totals(e, key="user_id", ts_col="ts", gap="30 minutes")


# --- As-of join (operators/asof.py): each click gets the most recent
# prior-or-same-time purchase per user. Oracle: DuckDB native ASOF.
@register(
    "asof_join_clicks_purchases",
    oracle="""
    WITH purchases AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id, ts
                        ORDER BY event_id) AS rn
              FROM events WHERE event_type = 'purchase')
        WHERE rn = 1
    ),
    clicks AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        FROM events WHERE event_type = 'click'
    )
    SELECT c.event_id, c.user_id, c.ts,
           round(p.value, 4) AS asof_value,
           p.ts AS asof_ts
    FROM clicks c
    ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def asof_join_clicks_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.operators.asof import asof_join

    e = load_table(spark, sf_dir, "events")
    purchases = dedup_subset(
        e.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value"),
        ["user_id", "ts"],
        tiebreaker=["value"],
    )
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    out = asof_join(clicks, purchases, "user_id", "ts", "ts", ["value"])
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.round("asof_value", 4).alias("asof_value"),
        "asof_ts",
    )


# --- Grouping sets / rollup (SURVEY §2.5 "free" Spark surface).
@register(
    "rollup_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n_items,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


# --- Exact distinct-count (free Spark surface; expand-based plan).
@register(
    "distinct_count_customers",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def distinct_count_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count_distinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# --- Set operations: INTERSECT / EXCEPT (free Spark surface).
@register(
    "set_ops_intersect_except",
    oracle="""
    SELECT 'both' AS bucket, CAST(count(*) AS BIGINT) AS n FROM (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    )
    UNION ALL
    SELECT 'f_only' AS bucket, CAST(count(*) AS BIGINT) AS n FROM (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    )
    """,
)
def set_ops_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    f_cust = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o_cust = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    both = f_cust.intersect(o_cust).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("both").alias("bucket"), "n"
    )
    # subtract = EXCEPT (set) semantics; exceptAll would keep multiplicity
    f_only = f_cust.subtract(o_cust).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("f_only").alias("bucket"), "n"
    )
    return both.unionByName(f_only)


# --- JSON functions over the events.props column (semi-structured
# surface Spark provides for free: get_json_object / from_json).
@register(
    "events_json_extract",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(min(CAST(json_extract(props, '$.k') AS INT)) AS INT) AS min_k,
           CAST(max(CAST(json_extract(props, '$.k') AS INT)) AS INT) AS max_k,
           round(avg(CAST(json_extract(props, '$.k') AS INT)), 4) AS avg_k
    FROM events
    GROUP BY event_type
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
        F.round(F.avg(k), 4).alias("avg_k"),
    )


# --- Ranking + analytic window functions (rank / dense_rank / lag):
# top-3 orders per priority with gap to the previous order's price.
@register(
    "window_rank_top3_per_priority",
    oracle="""
    SELECT o_orderpriority, o_orderkey, rnk, dense_rnk,
           round(price_gap, 2) AS price_gap
    FROM (
        SELECT o_orderpriority, o_orderkey,
               CAST(rank() OVER w AS INT) AS rnk,
               CAST(dense_rank() OVER w AS INT) AS dense_rnk,
               o_totalprice - lag(o_totalprice) OVER w AS price_gap
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice DESC, o_orderkey)
    )
    WHERE rnk <= 3
    """,
)
def window_rank_top3_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            F.rank().over(w).cast("int").alias("rnk"),
            F.dense_rank().over(w).cast("int").alias("dense_rnk"),
            (F.col("o_totalprice") - F.lag("o_totalprice").over(w)).alias("price_gap"),
        )
        .filter(F.col("rnk") <= 3)
        .withColumn("price_gap", F.round("price_gap", 2))
    )


# --- CUBE aggregation (all grouping combinations; GROUPING() flags
# disambiguate real nulls from subtotal rows).
@register(
    "rollup_cube_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def rollup_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


# --- Regex extraction + string functions over document text.
@register(
    "regex_extract_long_words",
    oracle="""
    SELECT regexp_extract(lower(text), '([a-z]{6,})', 1) AS first_long_word,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents
    GROUP BY 1
    """,
)
def regex_extract_long_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(
        F.regexp_extract(F.lower("text"), r"([a-z]{6,})", 1).alias("first_long_word")
    ).agg(F.count(F.lit(1)).alias("n_docs"))


# --- Array/map higher-order functions over embeddings (transform /
# filter / aggregate — Catalyst-native, no UDF).
@register(
    "array_higher_order_fns",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
    SELECT vec_id,
           CAST(len(list_filter(e, x -> x > 0)) AS INT) AS n_positive,
           round(list_sum(list_transform(e, x -> x * x)), 4) AS sum_sq,
           round(list_max(e), 4) AS max_val
    FROM v
    """,
)
def array_higher_order_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    return emb.select(
        "vec_id",
        F.size(F.filter(e, lambda x: x > 0)).alias("n_positive"),
        F.round(
            F.aggregate(e, F.lit(0.0), lambda acc, x: acc + x * x), 4
        ).alias("sum_sq"),
        F.round(F.array_max(e), 4).alias("max_val"),
    )


# --- Skew mitigation: salted join / salted two-phase aggregate.
# Oracles are the PLAIN join/group-by — proving the salted physical
# shape is row-identical to the logical operation it replaces.
@register(
    "skew_salted_join_mktsegment",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o.o_totalprice), 2) AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def skew_salted_join_mktsegment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.operators.skew import salted_join

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
    return (
        salted_join(o, c.select("o_custkey", "c_mktsegment"), ["o_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@register(
    "skew_salted_rollup_events",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS total_value,
           round(avg(value), 4) AS avg_value
    FROM events
    GROUP BY event_type
    """,
)
def skew_salted_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.operators.skew import salted_aggregate

    e = load_table(spark, sf_dir, "events")
    agg = salted_aggregate(
        e,
        ["event_type"],
        {
            "n_events": ("count", "value"),
            "total_value": ("sum", "value"),
            "avg_value": ("avg", "value"),
        },
    )
    return agg.select(
        "event_type",
        "n_events",
        F.round("total_value", 4).alias("total_value"),
        F.round("avg_value", 4).alias("avg_value"),
    )


# --- Approximate-aggregate surface, oracle-checkable form. The GK
# quantile sketch at accuracy 100,000 has rank error ≤ n/100,000 < 1
# for per-group row counts up to 100k — EXACT (returns an actual data
# element, identical to DuckDB's ``quantile_disc``) not only at the
# driver's sf0.01 (≈2k rows/group) but through sf0.1 (20k rows/group)
# and any plausible testdata regeneration, so the gate can't be flipped
# by a size change (a 10,000-accuracy sketch diverged at sf0.1 —
# caught by the round-5 full-registry sweep at sf0.1). Distinct users
# is exact ``count(DISTINCT ...)`` here; the engine-specific HLL++
# estimate lives in ``approx_hll_distinct_events`` below in its
# exact-plus-assertion form.
@register(
    "approx_aggregates_events",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           round(quantile_disc(value, 0.5), 6) AS p50,
           round(quantile_disc(value, 0.95), 6) AS p95,
           round(quantile_disc(value, 0.99), 6) AS p99
    FROM events
    GROUP BY event_type
    """,
)
def approx_aggregates_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    q = F.percentile_approx("value", F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)), 100000)
    return (
        e.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            q.alias("_q"),
        )
        .select(
            "event_type",
            "n_users",
            F.round(F.col("_q")[0], 6).alias("p50"),
            F.round(F.col("_q")[1], 6).alias("p95"),
            F.round(F.col("_q")[2], 6).alias("p99"),
        )
    )


# --- HLL++ surface, restructured (round 5) to be hash-checkable.
# Engine-specific HLL estimates can't be value-compared across engines
# (DuckDB's HLL ≠ Spark's HLL++), so the query emits the exact
# ``count(DISTINCT user_id)`` per segment plus an *assertion* that the
# HLL++ estimate (rsd=0.01) lands within tolerance — ~2σ of the
# published relative-standard-deviation bound, with an absolute floor
# of 3 because Spark's HyperLogLogPlusPlus has NO sparse mode: tiny
# cardinalities go through linear counting and can miss by ±1, which
# at 20 distinct is 5% (observed at sf0.1 in the windowed variant).
# The DuckDB oracle emits the same exact count and literal ``true``,
# so the sketch path is asserted by the driver's hash gate instead of
# unverifiable.
@register(
    "approx_hll_distinct_events",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(true AS BOOLEAN) AS hll_within_2pct
    FROM events
    GROUP BY event_type
    """,
)
def approx_hll_distinct_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", 0.01).alias("_hll"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("_hll") - F.col("exact_users"))
                <= F.greatest(
                    F.ceil(F.col("exact_users") * F.lit(0.02)), F.lit(3)
                )
            ).alias("hll_within_2pct"),
        )
    )


# --- Range (interval) join: errors within 120 s after each signup.
# Bucketed-equi-join strategy (operators/range_join.py) vs the oracle's
# direct inequality join — identical pairs, scale-viable plan.
@register(
    "range_join_signup_errors",
    oracle="""
    SELECT s.event_id AS signup_id, e.event_id AS error_id,
           CAST(epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(CAST(s.ts AS TIMESTAMP)) AS BIGINT)
               AS delta_us
    FROM events s
    JOIN events e
      ON CAST(e.ts AS TIMESTAMP) >= CAST(s.ts AS TIMESTAMP)
     AND CAST(e.ts AS TIMESTAMP) <= CAST(s.ts AS TIMESTAMP) + INTERVAL 120 SECOND
    WHERE s.event_type = 'signup' AND e.event_type = 'error'
    """,
)
def range_join_signup_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.operators.range_join import range_join

    ev = load_table(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"), F.col("ts").alias("s_ts")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("ts").alias("e_ts")
    )
    return range_join(signups, errors, "s_ts", "e_ts", 0, 120).select(
        "signup_id", "error_id", "delta_us"
    )


# --- sliding (overlapping) windows: 30-min windows every 15 min.
# Spark's window(slide) assigns each event to size/slide windows; the
# oracle reproduces the epoch-aligned window arithmetic explicitly.
@register(
    "events_sliding_30m15m",
    oracle="""
    WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
    w AS (
        SELECT make_timestamp(((epoch_us(ts) // 900000000) - o.k) * 900000000) AS window_start,
               event_type, value
        FROM ev CROSS JOIN (VALUES (0), (1)) AS o(k)
    )
    SELECT window_start,
           window_start + INTERVAL 30 MINUTE AS window_end,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS total_value
    FROM w
    GROUP BY 1, 2, 3
    """,
)
def events_sliding_30m15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "30 minutes", "15 minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# --- §3.3 consumption path: the analyst-facing SQL gateway. The
# reference outsources this to Postgres/pgadmin (README.md:16,
# pgadmin_steps/); here the same roll-up SQL runs through Catalyst
# over registered views — parse → analyze → optimize → Tungsten.
@register(
    "sql_gateway_rollup",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o.o_totalprice), 2) AS total_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2
    """,
)
def sql_gateway_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("orders", "customer", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT c.c_mktsegment AS segment,
               n.n_name AS nation,
               count(*) AS n_orders,
               round(sum(o.o_totalprice), 2) AS total_price
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
        """
    )


# --- analytic frame: 7-row centered-trailing moving average per
# customer (rowsBetween frame; "for free" Spark surface per §2.5).
@register(
    "window_moving_avg",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(avg(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS moving_avg_price
    FROM orders
    """,
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-6, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.avg("o_totalprice").over(w), 4).alias("moving_avg_price"),
    )


# --- analytic: ntile quartiles of order value within each priority.
@register(
    "window_ntile_quartiles",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           CAST(ntile(4) OVER (PARTITION BY o_orderpriority
                ORDER BY o_totalprice, o_orderkey) AS INT) AS price_quartile
    FROM orders
    """,
)
def window_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("price_quartile"),
    )


# --- FK enforcement as validation (SURVEY §1.3): the reference's DDL
# constraints (create_tables.py:61-64,98-125) become anti-join orphan
# checks. All FKs of one child table are counted in a SINGLE scan of
# that child (operators/validation.py) — broadcast parent key sets +
# one conditional-sum aggregate, so the 100 TB fact is read once no
# matter how many FKs it carries.
@register(
    "fk_orphan_check",
    oracle="""
    SELECT 'lineitem.l_orderkey->orders' AS fk_name,
           (SELECT count(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL
             AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
               AS violations
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           (SELECT count(*) FROM lineitem l WHERE l.l_partkey IS NOT NULL
             AND NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier',
           (SELECT count(*) FROM lineitem l WHERE l.l_suppkey IS NOT NULL
             AND NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           (SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL
             AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           (SELECT count(*) FROM customer c WHERE c.c_nationkey IS NOT NULL
             AND NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
    UNION ALL
    SELECT 'supplier.s_nationkey->nation',
           (SELECT count(*) FROM supplier s WHERE s.s_nationkey IS NOT NULL
             AND NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey))
    UNION ALL
    SELECT 'nation.n_regionkey->region',
           (SELECT count(*) FROM nation n WHERE n.n_regionkey IS NOT NULL
             AND NOT EXISTS (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey))
    """,
)
def fk_orphan_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.operators.validation import fk_violation_counts

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    per_child = [
        fk_violation_counts(
            li,
            [
                ("lineitem.l_orderkey->orders", "l_orderkey", o, "o_orderkey"),
                ("lineitem.l_partkey->part", "l_partkey", p, "p_partkey"),
                ("lineitem.l_suppkey->supplier", "l_suppkey", s, "s_suppkey"),
            ],
        ),
        fk_violation_counts(o, [("orders.o_custkey->customer", "o_custkey", c, "c_custkey")]),
        fk_violation_counts(
            c, [("customer.c_nationkey->nation", "c_nationkey", n, "n_nationkey")]
        ),
        fk_violation_counts(
            s, [("supplier.s_nationkey->nation", "s_nationkey", n, "n_nationkey")]
        ),
        fk_violation_counts(n, [("nation.n_regionkey->region", "n_regionkey", r, "r_regionkey")]),
    ]
    out = per_child[0]
    for d in per_child[1:]:
        out = out.unionByName(d)
    return out


# --- pivot: long→wide reshaping (daily event-type matrix). Pivot
# values are DECLARED, not discovered — at 100 TB an undeclared pivot
# first runs a distinct scan AND can explode the schema; declaring the
# columns keeps it one pass (a grouped conditional aggregate).
@register(
    "pivot_daily_event_counts",
    oracle="""
    SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
           CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT)    AS click,
           CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT)    AS error,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT)   AS signup,
           CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT)     AS view,
           round(sum(value) FILTER (WHERE event_type = 'purchase'), 4)     AS purchase_value
    FROM events
    GROUP BY 1
    """,
)
def pivot_daily_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    day = F.to_date("ts").alias("day")
    kinds = ["click", "error", "purchase", "signup", "view"]
    counts = [
        F.count(F.when(F.col("event_type") == k, 1)).alias(k) for k in kinds
    ]
    return e.groupBy(day).agg(
        *counts,
        F.round(
            F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))), 4
        ).alias("purchase_value"),
    )


# --- multi-way join + filtered aggregate + top-k (TPC-H Q3 shape):
# unshipped-order revenue by priority. Catalyst broadcasts customer,
# shuffles only for the (orderkey) aggregate; the date filters push to
# the parquet scans.
@register(
    "join_topk_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           CAST(o.o_orderdate AS DATE) AS o_orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND CAST(o.o_orderdate AS DATE) < DATE '1995-03-15'
      AND CAST(l.l_shipdate AS DATE) > DATE '1995-03-15'
    GROUP BY 1, 3, 4
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def join_topk_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.to_date("o_orderdate") < F.lit("1995-03-15")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.to_date("l_shipdate") > F.lit("1995-03-15")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(
            "l_orderkey",
            F.to_date("o_orderdate").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


# --- grouped HAVING over a join (TPC-H Q18 shape): customers with
# large-volume orders. The HAVING subquery is a grouped filter joined
# back — one lineitem aggregate feeds both the filter and the detail.
@register(
    "join_having_large_orders",
    oracle="""
    WITH big AS (
        SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
        FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300
    )
    SELECT c.c_name, o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS o_orderdate,
           round(o.o_totalprice, 2) AS o_totalprice,
           b.total_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def join_having_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
            F.sum("l_quantity").alias("_raw_qty"),
        )
        .filter(F.col("_raw_qty") > 300)
        .drop("_raw_qty")
    )
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select(
            "c_name",
            "o_orderkey",
            F.to_date("o_orderdate").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
    )


# --- fixed-width histogram of event values per type (the profiling
# primitive behind distribution dashboards): bucket = floor(v / w),
# one partial/final hash aggregate, no sort.
@register(
    "histogram_event_values",
    oracle="""
    SELECT event_type,
           CAST(floor(value / 25.0) AS BIGINT) AS bucket,
           round(CAST(floor(value / 25.0) AS BIGINT) * 25.0, 2) AS bucket_lo,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    WHERE value IS NOT NULL
    GROUP BY 1, 2
    """,
)
def histogram_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / 25.0).cast("bigint")
    return (
        e.filter(F.col("value").isNotNull())
        .groupBy("event_type", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            "bucket",
            F.round(F.col("bucket") * 25.0, 2).alias("bucket_lo"),
            "n",
        )
    )


# --- time-range rolling window: per-user 10-minute trailing mean of
# event values (RANGE frame over event time, not row counts — the
# feature-engineering shape for behavioral signals). Spark expresses
# the interval frame as rangeBetween over epoch seconds.
@register(
    "window_rolling_10min_mean",
    oracle="""
    SELECT event_id, user_id,
           round(avg(value) OVER (
               PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
               RANGE BETWEEN INTERVAL 10 MINUTE PRECEDING AND CURRENT ROW), 4)
               AS rolling_mean
    FROM events
    """,
)
def window_rolling_10min_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # microsecond-precision frame: ordering by epoch SECONDS would
    # floor sub-second timestamps and shift the frame boundary vs the
    # oracle's exact INTERVAL arithmetic
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-600 * 1_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w), 4).alias("rolling_mean"),
    )


# --- time-series gap-fill (resample): per-user hourly counts with
# missing hours materialized as zero rows between each user's first
# and last event — the hypertable/resample primitive rollups need
# before joining on time. The hour grid is generated per user with
# sequence+explode (bounded by the user's own span), then a left join
# back to the observed counts; no driver loop, no global calendar.
@register(
    "events_gapfill_hourly",
    oracle="""
    WITH h AS (
        SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
               count(*) AS n
        FROM events GROUP BY 1, 2
    ),
    span AS (SELECT user_id, min(hr) AS lo, max(hr) AS hi FROM h GROUP BY 1),
    grid AS (
        SELECT s.user_id,
               unnest(generate_series(s.lo, s.hi, INTERVAL 1 HOUR)) AS hr
        FROM span s
    )
    SELECT g.user_id, g.hr AS hour, CAST(coalesce(h.n, 0) AS BIGINT) AS n_events
    FROM grid g
    LEFT JOIN h ON g.user_id = h.user_id AND g.hr = h.hr
    """,
)
def events_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    h = e.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count(F.lit(1)).alias("n"))
    span = h.groupBy("user_id").agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
    grid = span.select(
        "user_id",
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("hr"),
    )
    return (
        grid.join(h, ["user_id", "hr"], "left")
        .select(
            "user_id",
            F.col("hr").alias("hour"),
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
        )
    )


# --- Inter-event dwell times: microseconds between consecutive events
# per user, rolled up per event_type of the EARLIER event (what users
# do next, and how fast). One user_id window shuffle; the lead() pair
# forms inside the sorted partition, so no self-join. Deltas are EXACT
# integer microseconds (the testdata timestamps are sub-second-grained,
# so any second-truncation would diverge between engines — µs is the
# storage grid itself).
@register(
    "events_dwell_times",
    oracle="""
    WITH paired AS (
        SELECT event_type,
               date_diff('microsecond', CAST(ts AS TIMESTAMP),
                   lead(CAST(ts AS TIMESTAMP)) OVER
                       (PARTITION BY user_id
                        ORDER BY CAST(ts AS TIMESTAMP), event_id))
                   AS dwell_us
        FROM events
    )
    SELECT event_type,
           CAST(count(dwell_us) AS BIGINT) AS n_pairs,
           round(avg(dwell_us), 4) AS avg_dwell_us,
           round(median(dwell_us), 1) AS p50_dwell_us,
           CAST(max(dwell_us) AS BIGINT) AS max_dwell_us
    FROM paired
    WHERE dwell_us IS NOT NULL
    GROUP BY event_type
    """,
)
def events_dwell_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paired = e.select(
        "event_type",
        (
            F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")
        ).alias("dwell_us"),
    ).filter(F.col("dwell_us").isNotNull())
    return paired.groupBy("event_type").agg(
        F.count("dwell_us").alias("n_pairs"),
        F.round(F.avg("dwell_us"), 4).alias("avg_dwell_us"),
        F.round(F.percentile("dwell_us", F.lit(0.5)), 1).alias("p50_dwell_us"),
        F.max("dwell_us").alias("max_dwell_us"),
    )


# --- First-order Markov transition counts: event_type → next
# event_type per user, with row-normalized probabilities. The
# sequence-mining primitive behind next-action prediction and
# anomalous-flow detection. Same single user_id window as the dwell
# query; the probability denominator is a broadcast-joined per-source
# total (decorrelated ratio-to-report).
@register(
    "events_transition_matrix",
    oracle="""
    WITH paired AS (
        SELECT event_type AS src,
               lead(event_type) OVER
                   (PARTITION BY user_id
                    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS dst
        FROM events
    ),
    counts AS (
        SELECT src, dst, CAST(count(*) AS BIGINT) AS n
        FROM paired WHERE dst IS NOT NULL GROUP BY src, dst
    )
    SELECT src, dst, n,
           round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY src), 6)
               AS p
    FROM counts
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paired = e.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    counts = paired.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    # the per-src window runs over the #event_types² aggregate, not data
    wsrc = Window.partitionBy("src")
    return counts.select(
        "src",
        "dst",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wsrc), 6).alias("p"),
    )


# --- Market-basket co-occurrence: part pairs bought in the same
# order, with support and lift. The pair generator is a within-order
# self-join (l1.partkey < l2.partkey) — bounded by lines-per-order
# (~7), so fanout is ~k²/2 per order, NEVER corpus-quadratic; the
# k-per-key cap discipline of the dedup kit applies structurally here
# because order size is data-model-bounded. Lift's denominators are
# per-part order counts, broadcast-joined onto the pair aggregate.
@register(
    "basket_part_pairs_lift",
    oracle="""
    WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n_orders AS (
        SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS n FROM lineitem
    ),
    part_cnt AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt FROM op GROUP BY 1
    ),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(count(*) AS BIGINT) AS together
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    )
    SELECT p.part_a, p.part_b, p.together,
           round(p.together / n.n, 6) AS support,
           round((p.together / n.n)
                 / ((ca.cnt / n.n) * (cb.cnt / n.n)), 4) AS lift
    FROM pairs p
    JOIN part_cnt ca ON ca.l_partkey = p.part_a
    JOIN part_cnt cb ON cb.l_partkey = p.part_b
    CROSS JOIN n_orders n
    WHERE p.together >= 3
    """,
)
def basket_part_pairs_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # One basket relation feeds everything: per-order sorted part set.
    # Pairs are generated INSIDE the array (the minhash-LSH bucket
    # pattern — no (order,part) self-join), and the three consumers
    # (pairs, per-part counts, order total) share the identical
    # subplan so the basket exchange is reused, not recomputed.
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    )
    n = F.size("parts")
    pair_structs = F.flatten(
        F.transform(
            "parts",
            lambda x, i: F.transform(
                F.slice(F.col("parts"), i + 2, F.greatest(n - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_structs).alias("pr"))
        .groupBy(F.col("pr.part_a").alias("part_a"), F.col("pr.part_b").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("together"))
        .filter(F.col("together") >= 3)
    )
    part_cnt = (
        baskets.select(F.explode("parts").alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    n_orders = baskets.agg(F.count(F.lit(1)).cast("double").alias("n"))
    ca = part_cnt.select(F.col("pk").alias("part_a"), F.col("cnt").alias("_ca"))
    cb = part_cnt.select(F.col("pk").alias("part_b"), F.col("cnt").alias("_cb"))
    return (
        pairs.join(ca, "part_a")
        .join(cb, "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "together",
            F.round(F.col("together") / F.col("n"), 6).alias("support"),
            F.round(
                (F.col("together") / F.col("n"))
                / ((F.col("_ca") / F.col("n")) * (F.col("_cb") / F.col("n"))),
                4,
            ).alias("lift"),
        )
    )


# --- funnel conversion: fraction of signups followed by a purchase
# from the same user within 1 hour. The candidate join shuffles on
# user_id (per-user event counts are bounded, so the fanout is too);
# converted signup ids are deduped before the daily roll-up so a
# multi-purchase user counts once.
@register(
    "events_funnel_conversion",
    oracle="""
    WITH s AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS sts
        FROM events WHERE event_type = 'signup'
    ),
    p AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS pts
        FROM events WHERE event_type = 'purchase'
    ),
    conv AS (
        SELECT DISTINCT s.event_id
        FROM s JOIN p ON s.user_id = p.user_id
         AND p.pts > s.sts AND p.pts <= s.sts + INTERVAL 1 HOUR
    )
    SELECT CAST(s.sts AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n_signups,
           CAST(count(c.event_id) AS BIGINT) AS n_converted,
           round(CAST(count(c.event_id) AS DOUBLE) / count(*), 6) AS conversion_rate
    FROM s LEFT JOIN conv c ON s.event_id = c.event_id
    GROUP BY 1
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    s = e.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", F.col("ts").alias("sts")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("pts")
    )
    conv = (
        s.join(
            p,
            (s["user_id"] == p["p_user"])
            & (p["pts"] > s["sts"])
            & (p["pts"] <= s["sts"] + F.expr("interval 1 hour")),
        )
        .select("event_id")
        .distinct()
        .withColumn("_conv", F.lit(1))
    )
    return (
        s.join(conv, "event_id", "left")
        .groupBy(F.to_date("sts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_signups"),
            F.count("_conv").alias("n_converted"),
            F.round(F.count("_conv").cast("double") / F.count(F.lit(1)), 6).alias(
                "conversion_rate"
            ),
        )
    )


# --- correlated EXISTS / NOT EXISTS (decorrelated): customers who
# have placed orders but never an urgent one. Catalyst decorrelates
# the subqueries into a semi join + an anti join over the same orders
# scan; both sides shuffle once on the customer key.
@register(
    "semi_anti_customers_no_urgent",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                       AND o.o_orderpriority = '1-URGENT')
    """,
)
def semi_anti_customers_no_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi")
        .join(urgent, F.col("c_custkey") == urgent["o_custkey"], "left_anti")
        .select("c_custkey", "c_name")
    )


# --- forward as-of join: each click's NEXT error by the same user
# (time-to-next-event features). Same union+window machinery as the
# backward direction, time order reversed; DuckDB's ASOF is
# backward-only, so the oracle states forward semantics as a
# min-over-future correlated subquery.
@register(
    "asof_forward_next_error",
    oracle="""
    WITH clicks AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        FROM events WHERE event_type = 'click'
    ),
    errors AS (
        SELECT DISTINCT user_id, CAST(ts AS TIMESTAMP) AS ts
        FROM events WHERE event_type = 'error'
    )
    SELECT c.event_id, c.user_id, c.ts,
           (SELECT min(e.ts) FROM errors e
             WHERE e.user_id = c.user_id AND e.ts >= c.ts) AS next_error_ts
    FROM clicks c
    """,
)
def asof_forward_next_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.operators.asof import asof_join

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    errors = (
        e.filter(F.col("event_type") == "error").select("user_id", "ts").distinct()
    )
    joined = asof_join(
        clicks,
        errors.withColumnRenamed("ts", "ets"),
        key="user_id",
        left_ts="ts",
        right_ts="ets",
        value_cols=[],
        prefix="next_",
        direction="forward",
    )
    return joined.select(
        "event_id", "user_id", "ts", F.col("next_ets").alias("next_error_ts")
    )


# --- gap-fill + forward-fill (LOCF): per-user hourly mean value with
# missing hours carrying the last observed mean — the interpolation
# step after resampling. ffill is one more window pass over the same
# per-user partitioning (no extra shuffle: same key as the grid join).
@register(
    "events_gapfill_ffill",
    oracle="""
    WITH h AS (
        SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
               round(avg(value), 4) AS v
        FROM events GROUP BY 1, 2
    ),
    span AS (SELECT user_id, min(hr) AS lo, max(hr) AS hi FROM h GROUP BY 1),
    grid AS (
        SELECT s.user_id,
               unnest(generate_series(s.lo, s.hi, INTERVAL 1 HOUR)) AS hr
        FROM span s
    ),
    joined AS (
        SELECT g.user_id, g.hr, h.v
        FROM grid g LEFT JOIN h ON g.user_id = h.user_id AND g.hr = h.hr
    )
    SELECT user_id, hr AS hour,
           last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM joined
    """,
)
def events_gapfill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    h = e.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.round(F.avg("value"), 4).alias("v"))
    span = h.groupBy("user_id").agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
    grid = span.select(
        "user_id",
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("hr"),
    )
    joined = grid.join(h, ["user_id", "hr"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        F.col("hr").alias("hour"),
        F.last("v", ignorenulls=True).over(w).alias("filled_value"),
    )


# --- TPC-H Q12-style conditional aggregation: per returnflag, how many
# shipped lineitems belong to high- vs low-priority orders in one scan
# (sum-of-CASE, the map-side-combinable form of a pivot). The
# orders side joins on the FK; at 100 TB the join shuffles on
# l_orderkey/o_orderkey while both conditional sums stay partial
# aggregates — one exchange total. Reference analog: the brand-level
# conditional roll-up surface (emission-dag.py:161-162) generalized to
# CASE-classified measures.
@register(
    "conditional_agg_priority_classes",
    oracle="""
    SELECT l.l_returnflag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT)  AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT)  AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
      AND CAST(l.l_shipdate AS DATE) <  DATE '1997-01-01'
    GROUP BY l.l_returnflag
    """,
)
def conditional_agg_priority_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (F.to_date("l_shipdate") >= F.lit("1996-01-01"))
            & (F.to_date("l_shipdate") < F.lit("1997-01-01"))
        )
        .join(o.select("o_orderkey", "o_orderpriority"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


# --- TPC-H Q14-style promo-revenue ratio: per ship month, the share of
# discounted revenue from PROMO parts. The part dim (2k rows at sf0.01,
# still dim-sized at 100 TB facts) broadcasts, so the fact table never
# shuffles for the join; the ratio is two conditional partial sums in
# the same aggregate.
@register(
    "join_q14_promo_revenue",
    oracle="""
    SELECT date_trunc('month', CAST(l.l_shipdate AS DATE)) AS ship_month,
           round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                             THEN l.l_extendedprice * (1 - l.l_discount)
                             ELSE 0 END)
                 / nullif(sum(l.l_extendedprice * (1 - l.l_discount)), 0), 4)
               AS promo_pct,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)   AS total_revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
      AND CAST(l.l_shipdate AS DATE) <  DATE '1998-01-01'
    GROUP BY 1
    """,
)
def join_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(
            (F.to_date("l_shipdate") >= F.lit("1996-01-01"))
            & (F.to_date("l_shipdate") < F.lit("1998-01-01"))
        )
        .join(F.broadcast(p.select("p_partkey", "p_type")), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.to_date(F.date_trunc("month", F.to_date("l_shipdate"))).alias("ship_month"))
        .agg(
            F.round(
                F.try_divide(
                    100.0
                    * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))),
                    F.sum(rev),
                ),
                4,
            ).alias("promo_pct"),
            F.round(F.sum(rev), 2).alias("total_revenue"),
        )
    )


# --- TPC-H Q19-style disjunctive-predicate revenue: an OR-of-ANDs over
# part attributes and lineitem quantity. The predicate references both
# sides, so it evaluates post-join — but the part side broadcasts and
# Catalyst still prunes both scans to the referenced columns; the
# residual filter runs inside whole-stage codegen before the aggregate
# (verified via .explain in PLANS.md). One row out.
@register(
    "join_q19_or_predicate_revenue",
    oracle="""
    SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT)                              AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 5 AND 30
           AND l.l_quantity >= 10 AND l.l_quantity <= 40)
       OR (p.p_type = 'PROMO' AND l.l_quantity >= 45)
    """,
)
def join_q19_or_predicate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & q.between(1, 20))
        | ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(5, 30) & q.between(10, 40))
        | ((F.col("p_type") == "PROMO") & (q >= 45))
    )
    return (
        li.join(F.broadcast(p.select("p_partkey", "p_brand", "p_size", "p_type")),
                F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# --- Correlated scalar subquery, re-expressed Spark-first: customers
# whose balance beats their nation's average. The oracle states the
# textbook correlated form; the Spark plan decorrelates it into a
# 25-row per-nation aggregate broadcast-joined back — the rewrite
# Catalyst itself applies to IN/EXISTS subqueries, made explicit. At
# 100 TB the fact side streams map-side past the broadcast.
@register(
    "scalar_subquery_above_avg",
    oracle="""
    -- nation_avg rounds at 6, not 2: an average of on-grid 2-decimal
    -- balances can land exactly on a .005 tie, where Spark (BigDecimal
    -- HALF_UP) and DuckDB (float-mediated) disagree — the §4.4 float
    -- discipline (round at or below the value's own grid)
    SELECT c.c_custkey, c.c_name, round(c.c_acctbal, 2) AS acctbal,
           round((SELECT avg(c2.c_acctbal) FROM customer c2
                  WHERE c2.c_nationkey = c.c_nationkey), 6) AS nation_avg
    FROM customer c
    WHERE c.c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                         WHERE c2.c_nationkey = c.c_nationkey)
    """,
)
def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    per_nation = c.groupBy("c_nationkey").agg(F.avg("c_acctbal").alias("_avg"))
    return (
        c.join(F.broadcast(per_nation), "c_nationkey")
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .select(
            "c_custkey",
            "c_name",
            F.round("c_acctbal", 2).alias("acctbal"),
            F.round("_avg", 6).alias("nation_avg"),
        )
    )


# --- Distribution-rank windows: percent_rank + cume_dist of each
# order's price within its priority class (the Pareto/ABC analysis
# primitive). One shuffle on the partition key; both ranks come from
# the same sort, and ties resolve identically in both engines by SQL
# definition (same rank → same percent_rank/cume_dist).
@register(
    "window_pct_rank_cume_dist",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           round(o_totalprice, 2) AS totalprice,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist()    OVER w, 6) AS cume_d
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
    """,
)
def window_pct_rank_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round("o_totalprice", 2).alias("totalprice"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume_d"),
    )


# --- Exact interpolated percentiles (percentile_cont semantics): p25 /
# median / p90 of order price per priority. Spark's ``percentile`` is
# the exact linear-interpolation aggregate (sort-based partial agg, not
# the t-digest approximation) — it matches ANSI percentile_cont
# bit-for-bit on doubles, which is exactly what the hash gate checks.
# Contrast: approx_aggregates_events covers the sketch (GK) path for
# when a 100 TB exact sort-agg isn't worth it.
@register(
    "percentile_exact_prices",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
           round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.90), 4) AS p90,
           CAST(count(*) AS BIGINT)                    AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def percentile_exact_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("o_totalprice", F.lit(0.50)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.90)), 4).alias("p90"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# --- Z-score anomaly flagging: events whose value sits > 2.5 sample
# standard deviations from that user's mean. Whole-partition window
# aggregates (no ORDER BY → unbounded frame in both engines) compute
# mean/stddev in one pass over the same per-user shuffle that serves
# the detection filter — the streaming-adjacent QC step a 100 TB/day
# telemetry pipeline runs before training-data admission.
@register(
    "events_anomaly_zscore",
    oracle="""
    WITH s AS (
        SELECT event_id, user_id, ts, value,
               avg(value)         OVER (PARTITION BY user_id) AS mu,
               stddev_samp(value) OVER (PARTITION BY user_id) AS sigma
        FROM events
    )
    SELECT event_id, user_id, round(value, 4) AS value,
           round((value - mu) / sigma, 3) AS zscore
    FROM s
    WHERE sigma > 0 AND abs(round((value - mu) / sigma, 3)) >= 2.5
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    s = e.select(
        "event_id",
        "user_id",
        "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sigma"),
    )
    # try_divide: conjunct evaluation order is engine-internal, so the
    # sigma > 0 guard alone doesn't protect the division under ANSI
    z = F.round(F.try_divide(F.col("value") - F.col("mu"), F.col("sigma")), 3)
    return (
        s.filter((F.col("sigma") > 0) & (F.abs(z) >= 2.5))
        .select(
            "event_id",
            "user_id",
            F.round("value", 4).alias("value"),
            z.alias("zscore"),
        )
    )


# --- Robust (MAD-based) anomaly flags: the median/MAD twin of the
# z-score query above — outlier-resistant, the form that survives the
# heavy-tailed value distributions real event streams have. Two exact
# percentile aggregates per user (percentile_cont parity on both
# engines) plus re-joins on the SAME user_id partitioning, so the
# whole plan is one exchange. Modified z-score per Iglewicz–Hoaglin
# (0.6745 · dev / MAD, flag at 3.5).
@register(
    "events_anomaly_mad",
    oracle="""
    WITH med AS (
        SELECT user_id, median(value) AS med
        FROM events GROUP BY user_id
    ),
    mad AS (
        SELECT e.user_id, median(abs(e.value - m.med)) AS mad
        FROM events e JOIN med m USING (user_id)
        GROUP BY e.user_id
    )
    SELECT e.event_id, e.user_id,
           round(e.value, 4) AS value,
           round(0.6745 * (e.value - m.med) / d.mad, 3) AS robust_z
    FROM events e
    JOIN med m USING (user_id)
    JOIN mad d USING (user_id)
    WHERE d.mad > 0
      AND abs(round(0.6745 * (e.value - m.med) / d.mad, 3)) >= 3.5
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Both medians as WINDOW aggregates on the same user_id partition:
    # the aggregate-and-rejoin form executed ~5 fact scans (subplans
    # under aggregates are not reused statically); this form is ONE
    # scan and ONE exchange — the second window inherits the first's
    # partitioning, so no re-shuffle (verified on the executed plan).
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    with_med = e.select(
        "event_id",
        "user_id",
        "value",
        F.percentile("value", F.lit(0.5)).over(w).alias("med"),
    )
    with_mad = with_med.select(
        "*",
        F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5))
        .over(w)
        .alias("mad"),
    )
    z = F.round(
        0.6745 * F.try_divide(F.col("value") - F.col("med"), F.col("mad")), 3
    )
    return (
        with_mad.filter((F.col("mad") > 0) & (F.abs(z) >= 3.5))
        .select(
            "event_id",
            "user_id",
            F.round("value", 4).alias("value"),
            z.alias("robust_z"),
        )
    )


# --- Column-census profile (extensions/curation.py::profile_columns,
# projected to its row count, null count and exact distinct
# cardinality): every orders column in ONE scan (Spark's multi-distinct
# Expand aggregate). The oracle restates it as one UNION ALL branch per
# column.
@register(
    "profile_orders_columns",
    oracle="""
    SELECT 'o_orderkey' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT) AS n_null,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(count(*) AS BIGINT),
           CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT),
           CAST(count(DISTINCT o_custkey) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
           CAST(count(*) FILTER (WHERE o_orderstatus IS NULL) AS BIGINT),
           CAST(count(DISTINCT o_orderstatus) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(count(*) AS BIGINT),
           CAST(count(*) FILTER (WHERE o_totalprice IS NULL) AS BIGINT),
           CAST(count(DISTINCT o_totalprice) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', CAST(count(*) AS BIGINT),
           CAST(count(*) FILTER (WHERE o_orderdate IS NULL) AS BIGINT),
           CAST(count(DISTINCT o_orderdate) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
           CAST(count(*) FILTER (WHERE o_orderpriority IS NULL) AS BIGINT),
           CAST(count(DISTINCT o_orderpriority) AS BIGINT)
    FROM orders
    """,
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.extensions.curation import profile_columns

    o = load_table(spark, sf_dir, "orders")
    return profile_columns(o).select(
        F.col("column_name").alias("col_name"),
        "n_rows",
        F.col("n_nulls").alias("n_null"),
        "n_distinct",
    )


# --- SCD Type-2 dimension maintenance (operators/scd.py): the
# warehouse operator the reference's Type-1 upsert
# (upsert_query.text:5-9) loses history to. One update batch folds into
# a bootstrapped customer dim: segment changes close the old version at
# the batch timestamp and open a new one; untouched and
# attribute-identical keys pass through; brand-new keys open fresh
# versions. The oracle restates the fold as four disjoint UNION ALL
# branches over the same null-safe change predicate.
@register(
    "scd2_customer_segment",
    oracle="""
    WITH upd AS (
        SELECT c_custkey, 'SEG_PROMO' AS c_mktsegment
        FROM customer WHERE c_custkey % 5 = 0
        UNION ALL
        SELECT c_custkey, c_mktsegment
        FROM customer WHERE c_custkey % 5 = 1
        UNION ALL
        SELECT c_custkey + 10000000, 'SEG_NEW'
        FROM customer WHERE c_custkey % 97 = 0
    ),
    cur AS (SELECT c_custkey, c_mktsegment FROM customer),
    j AS (
        SELECT c.c_custkey, c.c_mktsegment AS old_seg, u.c_mktsegment AS new_seg,
               (u.c_custkey IS NOT NULL
                AND u.c_mktsegment IS DISTINCT FROM c.c_mktsegment) AS changed
        FROM cur c LEFT JOIN upd u ON c.c_custkey = u.c_custkey
    )
    SELECT c_custkey, old_seg AS c_mktsegment,
           TIMESTAMP '2024-01-01' AS valid_from,
           CAST(NULL AS TIMESTAMP) AS valid_to, true AS is_current
    FROM j WHERE NOT changed
    UNION ALL
    SELECT c_custkey, old_seg, TIMESTAMP '2024-01-01',
           TIMESTAMP '2024-06-01', false
    FROM j WHERE changed
    UNION ALL
    SELECT c_custkey, new_seg, TIMESTAMP '2024-06-01',
           CAST(NULL AS TIMESTAMP), true
    FROM j WHERE changed
    UNION ALL
    SELECT u.c_custkey, u.c_mktsegment, TIMESTAMP '2024-06-01',
           CAST(NULL AS TIMESTAMP), true
    FROM upd u LEFT JOIN cur c ON u.c_custkey = c.c_custkey
    WHERE c.c_custkey IS NULL
    """,
)
def scd2_customer_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.operators.scd import scd2_apply, scd2_init

    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    dim0 = scd2_init(c, "2024-01-01")
    upd = (
        c.filter(F.col("c_custkey") % 5 == 0)
        .select("c_custkey", F.lit("SEG_PROMO").alias("c_mktsegment"))
        .unionByName(c.filter(F.col("c_custkey") % 5 == 1))
        .unionByName(
            c.filter(F.col("c_custkey") % 97 == 0).select(
                (F.col("c_custkey") + 10000000).alias("c_custkey"),
                F.lit("SEG_NEW").alias("c_mktsegment"),
            )
        )
    )
    return scd2_apply(dim0, upd, "c_custkey", ["c_mktsegment"], "2024-06-01")


# --- SCD2 point-in-time view: two successive batches build three
# version generations, then scd2_as_of slices the dimension as it
# stood between them — time travel as a pure filter, the payoff of
# keeping history. The oracle collapses the two folds analytically
# (batch 2's %10 keys are a subset of batch 1's %5 keys, so their
# July-current version is the batch-1 PROMO row, already closed).
@register(
    "scd2_point_in_time",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_custkey % 5 = 0 THEN 'SEG_PROMO'
                ELSE c_mktsegment END AS c_mktsegment,
           CASE WHEN c_custkey % 5 = 0 THEN TIMESTAMP '2024-06-01'
                ELSE TIMESTAMP '2024-01-01' END AS valid_from,
           CASE WHEN c_custkey % 10 = 0 THEN TIMESTAMP '2024-09-01'
                ELSE CAST(NULL AS TIMESTAMP) END AS valid_to,
           c_custkey % 10 <> 0 AS is_current
    FROM customer
    """,
)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.operators.scd import scd2_apply, scd2_as_of, scd2_init

    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    dim0 = scd2_init(c, "2024-01-01")
    upd1 = c.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey", F.lit("SEG_PROMO").alias("c_mktsegment")
    )
    upd2 = c.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey", F.lit("SEG_FALL").alias("c_mktsegment")
    )
    dim1 = scd2_apply(dim0, upd1, "c_custkey", ["c_mktsegment"], "2024-06-01")
    dim2 = scd2_apply(dim1, upd2, "c_custkey", ["c_mktsegment"], "2024-09-01")
    return scd2_as_of(dim2, "2024-07-15")


# --- Deterministic arg-min (min_by semantics, tie-safe): the cheapest
# part per brand. Plain min_by/arg_min tie-breaks nondeterministically
# in BOTH engines; packing the ordering key and the payload into one
# struct and taking min() gives a total order (price, then unique
# partkey), so the winner is reproducible — one partial-aggregable
# pass, no window sort. The payload fields ride along for free.
@register(
    "argmin_cheapest_part_per_brand",
    oracle="""
    SELECT p_brand,
           round((min(struct_pack(price := p_retailprice,
                                  partkey := p_partkey,
                                  name := p_name))).price, 2) AS best_price,
           (min(struct_pack(price := p_retailprice,
                            partkey := p_partkey,
                            name := p_name))).partkey         AS best_partkey,
           (min(struct_pack(price := p_retailprice,
                            partkey := p_partkey,
                            name := p_name))).name            AS best_name
    FROM part GROUP BY p_brand
    """,
)
def argmin_cheapest_part_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    best = F.min(
        F.struct(
            F.col("p_retailprice").alias("price"),
            F.col("p_partkey").alias("partkey"),
            F.col("p_name").alias("name"),
        )
    )
    return p.groupBy("p_brand").agg(
        F.round(best.getField("price"), 2).alias("best_price"),
        best.getField("partkey").alias("best_partkey"),
        best.getField("name").alias("best_name"),
    )


# --- Period-over-period: monthly revenue with month-over-month % change
# (lag over the post-aggregate frame). The window is global but runs on
# the month-grain output — a bounded few-dozen rows at ANY input scale,
# so the single-partition sort is free; all the data-sized work is the
# partial+final hash aggregate underneath.
@register(
    "revenue_mom_change",
    oracle="""
    WITH m AS (
        SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders GROUP BY 1
    )
    SELECT month, revenue,
           -- nullif: a zero-revenue month yields NULL change (Spark
           -- try_divide parity; plain '/' is IEEE inf in DuckDB and an
           -- ANSI error in Spark)
           round(100.0 * (revenue - lag(revenue) OVER (ORDER BY month))
                 / nullif(lag(revenue) OVER (ORDER BY month), 0), 4) AS mom_pct
    FROM m
    """,
)
def revenue_mom_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.to_date(F.date_trunc("month", F.to_date("o_orderdate"))).alias("month")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return m.select(
        "month",
        "revenue",
        F.round(
            F.try_divide(100.0 * (F.col("revenue") - prev), prev), 4
        ).alias("mom_pct"),
    )


# --- Linear-regression aggregates (the regr_* ANSI family, completing
# the corr/covar coverage below): OLS slope / intercept / R² of
# extendedprice on quantity per return flag — the "price per unit"
# fit. Same single-pass mergeable-partials plan as corr; both engines
# implement the identical ANSI definitions over doubles.
@register(
    "stats_regression_price_on_qty",
    oracle="""
    SELECT l_returnflag,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
           round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
           round(regr_avgx(l_extendedprice, l_quantity), 6) AS avg_qty,
           round(regr_avgy(l_extendedprice, l_quantity), 4) AS avg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def stats_regression_price_on_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.regr_count(y, x).alias("n"),
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 4).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.round(F.regr_avgx(y, x), 6).alias("avg_qty"),
        F.round(F.regr_avgy(y, x), 4).alias("avg_price"),
    )


# --- Zipf diagnostic: OLS slope of log10(freq) on log10(rank) over
# the corpus term-frequency table — the sanity check that a synthetic
# or filtered corpus still has a natural long-tail token distribution
# (a slope far from ≈ −1 flags template/boilerplate corpora). One
# explode-count (the text_corpus_top_terms shuffle) + a rank window
# over the vocabulary-sized aggregate + one regr_slope fold.
@register(
    "text_zipf_slope",
    oracle="""
    WITH freq AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS f
        FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
              FROM documents)
        GROUP BY tok
    ),
    ranked AS (
        SELECT f, row_number() OVER (ORDER BY f DESC, tok) AS r FROM freq
    )
    SELECT CAST(count(*) AS BIGINT) AS vocab_size,
           round(regr_slope(log10(CAST(f AS DOUBLE)),
                            log10(CAST(r AS DOUBLE))), 6) AS zipf_slope,
           round(regr_r2(log10(CAST(f AS DOUBLE)),
                         log10(CAST(r AS DOUBLE))), 6) AS fit_r2
    FROM ranked
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.functions.ranks import global_position

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.expr(r"regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        ).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
    # full-vocab rank via distributed bucketed prefix sums — the
    # regression needs EVERY rank, so top-k can't prune here, but the
    # sort never funnels the vocabulary through one task; the range
    # boundaries split the hapax-heavy f = 1 tail on tok
    ranked = global_position(
        freq, [F.col("f").desc(), F.col("tok").asc()], out_col="r"
    ).select("f", "r")
    lf = F.log10(F.col("f").cast("double"))
    lr = F.log10(F.col("r").cast("double"))
    return ranked.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.round(F.regr_slope(lf, lr), 6).alias("zipf_slope"),
        F.round(F.regr_r2(lf, lr), 6).alias("fit_r2"),
    )


# --- Statistical aggregates: Pearson correlation, sample covariance,
# and the component stddevs of (quantity, price) per return flag — the
# co-movement profile a pricing/QC analysis starts from. All four are
# single-pass mergeable aggregates (sum/sum-of-squares/cross-product
# partials), so the plan is the same one-exchange partial+final shape
# as any sum, at any scale. corr/covar_samp definitions are identical
# ANSI forms in both engines (unlike skewness/kurtosis, whose bias
# corrections differ — deliberately not registered).
@register(
    "stats_corr_price_quantity",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6)       AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
           round(stddev_samp(l_quantity), 6)                 AS sd_qty,
           round(stddev_samp(l_extendedprice), 4)            AS sd_price,
           CAST(count(*) AS BIGINT)                          AS n_lines
    FROM lineitem GROUP BY l_returnflag
    """,
)
def stats_corr_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_qty_price"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# --- Deterministic list aggregation (LISTAGG / string_agg): nation
# names per region, sorted inside the aggregate so the concatenation is
# reproducible regardless of partitioning (collect_list order is
# arrival order — never expose it unsorted). Group sizes here are
# dim-bounded; for data-sized groups the cap-and-report pattern of the
# dedup kit applies instead.
@register(
    "listagg_nations_per_region",
    oracle="""
    SELECT r.r_name AS region,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
           CAST(count(*) AS BIGINT) AS n_nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def listagg_nations_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return (
        n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


# --- Incremental view maintenance (operators/incremental.py
# merge_agg_state): the stored roll-up state (lineitems with
# l_orderkey % 3 != 0, standing in for history already aggregated on
# past ticks) folds with the new batch's map-side partial aggregate
# (the % 3 == 0 rows) WITHOUT rescanning history — and the merged
# result is bit-identical to the full-table roll-up, which is exactly
# what the oracle states (merge-equals-recompute, the defining IVM
# property). Rounding happens only AFTER the merge: sums must fold at
# full precision.
@register(
    "incremental_rollup_merge",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)       AS sum_qty,
           round(sum(l_extendedprice), 2)  AS sum_price,
           CAST(count(*) AS BIGINT)        AS n_lines,
           round(min(l_extendedprice), 2)  AS min_price,
           round(max(l_extendedprice), 2)  AS max_price
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.operators.incremental import merge_agg_state

    li = load_table(spark, sf_dir, "lineitem")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_price"),
            F.count(F.lit(1)).alias("n_lines"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
        )

    state = partial(li.filter(F.col("l_orderkey") % 3 != 0))
    batch = partial(li.filter(F.col("l_orderkey") % 3 == 0))
    merged = merge_agg_state(
        state,
        batch,
        keys=["l_returnflag", "l_linestatus"],
        sums=["sum_qty", "sum_price", "n_lines"],
        mins=["min_price"],
        maxs=["max_price"],
    )
    return merged.select(
        "l_returnflag",
        "l_linestatus",
        F.round("sum_qty", 2).alias("sum_qty"),
        F.round("sum_price", 2).alias("sum_price"),
        F.col("n_lines").cast("bigint").alias("n_lines"),
        F.round("min_price", 2).alias("min_price"),
        F.round("max_price", 2).alias("max_price"),
    )


# --- UNPIVOT (melt): the four lineitem measures rotate long-form into
# (measure, value) and aggregate per measure — the wide→long reshaping
# every metrics store and plotting layer needs. Spark's native
# ``DataFrame.unpivot`` is a narrow expression-level expansion (each
# input row yields 4 output rows map-side, no shuffle until the
# aggregate), mirrored by DuckDB's UNPIVOT.
@register(
    "unpivot_lineitem_measures",
    oracle="""
    SELECT measure,
           CAST(count(*) AS BIGINT) AS n_values,
           round(sum(val), 2)       AS total,
           round(avg(val), 6)       AS mean
    FROM (UNPIVOT lineitem
          ON l_quantity, l_extendedprice, l_discount, l_tax
          INTO NAME measure VALUE val)
    GROUP BY measure
    """,
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=["l_orderkey"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="val",
    )
    return long.groupBy("measure").agg(
        F.count(F.lit(1)).alias("n_values"),
        F.round(F.sum("val"), 2).alias("total"),
        F.round(F.avg("val"), 6).alias("mean"),
    )


# --- CDC apply (operators/incremental.py apply_cdc): a change batch in
# binlog shape — (key, data, op ∈ u/d, seq) — folds into the customer
# table with last-op-per-key-wins semantics. The derived batch
# exercises every path: plain deletes (%8==4), plain upserts (%8==1
# at seq 2 after a superseded delete at seq 1), upsert-then-delete
# (%8==5 — the key must vanish), and untouched keys. The oracle states
# the final CASE analysis directly.
@register(
    "cdc_apply_customers",
    oracle="""
    SELECT c_custkey, c_name,
           CASE WHEN c_custkey % 8 = 1 THEN 'CDC_SEG' ELSE c_mktsegment END
               AS c_mktsegment
    FROM customer
    WHERE NOT (c_custkey % 8 = 4 OR c_custkey % 8 = 5)
    """,
)
def cdc_apply_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.operators.incremental import apply_cdc

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    k = F.col("c_custkey")
    # seq 1: delete %8==1 and %8==4; upsert %8==5
    seq1 = (
        c.filter((k % 8 == 1) | (k % 8 == 4))
        .select("c_custkey", "c_name", "c_mktsegment")
        .withColumn("op", F.lit("d"))
        .unionByName(
            c.filter(k % 8 == 5)
            .select("c_custkey", "c_name", F.lit("TMP_SEG").alias("c_mktsegment"))
            .withColumn("op", F.lit("u"))
        )
        .withColumn("seq", F.lit(1).cast("bigint"))
    )
    # seq 2: upsert %8==1 (supersedes its delete); delete %8==5
    seq2 = (
        c.filter(k % 8 == 1)
        .select("c_custkey", "c_name", F.lit("CDC_SEG").alias("c_mktsegment"))
        .withColumn("op", F.lit("u"))
        .unionByName(
            c.filter(k % 8 == 5)
            .select("c_custkey", "c_name", "c_mktsegment")
            .withColumn("op", F.lit("d"))
        )
        .withColumn("seq", F.lit(2).cast("bigint"))
    )
    changes = seq1.unionByName(seq2)
    return apply_cdc(c, changes, keys=["c_custkey"], seq_col="seq")


# --- Warehouse time travel as a driver row (round 11, r10 verdict
# task #7): the snapshot/rollback surface was pytest-only; this gives
# the warehouse layer an oracle-checked query. v1 publishes the full
# nation dim, v2 simulates a BAD incremental load (three regions
# dropped), rollback moves the pointer back, and the query reads the
# CURRENT pointer — which must equal the raw table again. Exercises
# snapshot_write (×2), current_version's pointer, rollback, and
# read_snapshot's pointer-read path; the version dirs live in a
# throwaway tmpdir so repeated calls are deterministic (always v1/v2).
# Reference analog: the engine's answer to "yesterday's load was bad"
# — the reference (emission-dag.py) would re-run against Postgres with
# no history; here recovery is a pointer move, no data rewrite.
@register(
    "warehouse_snapshot_rollback",
    oracle="""
    SELECT n_regionkey,
           CAST(count(*) AS BIGINT) AS n_nations,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum
    FROM nation
    GROUP BY n_regionkey
    """,
)
def warehouse_snapshot_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.sources.warehouse import Warehouse

    nation = load_table(spark, sf_dir, "nation")
    # reused per-process root, wiped at entry: repeated invocations
    # stay deterministic (always v1/v2) WITHOUT leaking a fresh
    # mkdtemp per call (the returned frame is lazy, so the previous
    # call's dir must survive until the next call, not forever)
    wh = Warehouse(spark, _scratch_root("snap-rollback"))
    v1 = wh.snapshot_write(nation, "nation_dim")
    # v2: a bad load drops most regions; the pointer now serves it
    wh.snapshot_write(nation.filter(F.col("n_regionkey") < 2), "nation_dim")
    # incident response: pure pointer move, no data rewrite
    wh.rollback("nation_dim", v1)
    return (
        wh.read_snapshot("nation_dim")  # current pointer = v1 again
        .groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nations"),
            F.sum("n_nationkey").cast("long").alias("key_sum"),
        )
    )


# --- Warehouse small-files maintenance as a driver row (round 12, r11
# verdict task #8): `Warehouse.compact` was pytest-only. Eight
# incremental appends (the reference's per-run INSERT cadence,
# emission-dag.py:200-212, which on parquet means one file batch per
# run) build the degraded layout; the range-clustered rewrite
# (repartitionByRange on l_shipdate + sortWithinPartitions — the
# parquet stand-in for OPTIMIZE...ZORDER on one key) compacts through
# the atomic swap; the query reads the table BACK and proves (a) full
# data parity through append×8 + rewrite and (b) the exact file-count
# pair — deterministic BY CONSTRUCTION (coalesce(1) per append → 8
# before; 4 GB target → 1 after at any driver SF), so both counts are
# honest oracle data columns and a breach reads as a visible layout
# delta (which count moved) rather than a bare boolean flip (r12
# advice, relational.py:507). At 100 TB this is the maintenance job
# that keeps scan task counts sane after months of incremental loads.
@register(
    "warehouse_compact_clustered",
    oracle="""
    SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS ship_month,
           CAST(count(*) AS BIGINT)                    AS n_rows,
           round(sum(l_quantity), 2)                   AS sum_qty,
           round(sum(l_extendedprice), 2)              AS sum_price,
           CAST(8 AS BIGINT)                           AS files_before,
           CAST(1 AS BIGINT)                           AS files_after
    FROM lineitem
    GROUP BY 1
    """,
)
def warehouse_compact_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.sources.warehouse import Warehouse

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_shipdate"
    )
    wh = Warehouse(spark, _scratch_root("compact"))
    # eight incremental appends = eight file batches (disjoint slices
    # covering the whole table: %8 over the bigint orderkey); coalesce(1)
    # pins exactly one parquet file per append so `before` is 8 at any SF
    for i in range(8):
        wh.append(li.filter(F.col("l_orderkey") % 8 == i).coalesce(1), "li_hot")
    before = wh.file_stats("li_hot")["n_files"]
    # 4 GB target ⇒ byte-sized repartition count rounds to 1 through
    # sf100 on this 4-column slice — `after` deterministic, not layout-lucky
    after = wh.compact("li_hot", target_file_mb=4096, sort_by=["l_shipdate"])
    return (
        wh.read("li_hot")
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .withColumn("files_before", F.lit(before).cast("long"))
        .withColumn("files_after", F.lit(after).cast("long"))
    )


# --- Snapshot retention as a driver row (round 12, r11 verdict task
# #8): `vacuum_snapshots` was pytest-only; its PROTECTED-VERSION
# invariant (never drop the current pointer's version, nor the
# keep_last newest) is exactly what makes rollback safe to combine
# with retention at 100 TB. Three versions are published (v1 full
# nation, v2/v3 progressively bad loads), the pointer rolls back to
# v1, and vacuum(keep_last=1) must then remove ONLY v2 — v3 is the
# newest, v1 is protected by the pointer. The query reads the current
# snapshot (= the raw table again) and oracle-checks the removed/
# retained counts plus the protection flag as literals. Reference
# analog: Postgres has no table history at all (emission-dag.py
# re-runs are destructive) — retention here is a file-layer contract.
@register(
    "warehouse_vacuum_protected",
    oracle="""
    SELECT n_regionkey,
           CAST(count(*) AS BIGINT)     AS n_nations,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
           CAST(1 AS BIGINT)            AS n_removed,
           CAST(2 AS BIGINT)            AS n_retained,
           TRUE                         AS current_is_protected
    FROM nation
    GROUP BY n_regionkey
    """,
)
def warehouse_vacuum_protected(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.sources.warehouse import Warehouse

    nation = load_table(spark, sf_dir, "nation")
    wh = Warehouse(spark, _scratch_root("vacuum"))
    v1 = wh.snapshot_write(nation, "nation_dim")
    wh.snapshot_write(nation.filter(F.col("n_regionkey") < 2), "nation_dim")
    wh.snapshot_write(nation.filter(F.col("n_regionkey") < 1), "nation_dim")
    wh.rollback("nation_dim", v1)  # incident response: pointer move
    removed = wh.vacuum_snapshots("nation_dim", keep_last=1)
    retained = wh.snapshots("nation_dim")
    return (
        wh.read_snapshot("nation_dim")  # current pointer = v1, protected
        .groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nations"),
            F.sum("n_nationkey").cast("long").alias("key_sum"),
        )
        .withColumn("n_removed", F.lit(len(removed)).cast("long"))
        .withColumn("n_retained", F.lit(len(retained)).cast("long"))
        .withColumn(
            "current_is_protected",
            F.lit(bool(wh.current_version("nation_dim") == v1)),
        )
    )


# --- Schema evolution as a driver row (round 13, r12 verdict task #5):
# `Warehouse.read_merged_schema` was pytest-only. Two appends publish
# two parquet generations — the second adds a `name_len` column — and
# the merged-footer scan must surface the old files' missing column as
# NULL (the union schema), exactly the contract a 100 TB table relies
# on when a column lands mid-history and rewriting months of files is
# off the table. The oracle reproduces the two generations as a UNION
# ALL with an explicit NULL arm; count(name_len) pins the NULL
# backfill (nulls excluded), sum pins the values.
@register(
    "warehouse_schema_evolution",
    oracle="""
    WITH evo AS (
        SELECT n_regionkey, CAST(NULL AS BIGINT) AS name_len FROM nation
        UNION ALL
        SELECT n_regionkey, CAST(length(n_name) AS BIGINT) AS name_len
        FROM nation
    )
    SELECT n_regionkey,
           CAST(count(*) AS BIGINT)        AS n_rows,
           CAST(count(name_len) AS BIGINT) AS n_with_len,
           CAST(sum(name_len) AS BIGINT)   AS len_sum
    FROM evo
    GROUP BY n_regionkey
    """,
)
def warehouse_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.sources.warehouse import Warehouse

    nation = load_table(spark, sf_dir, "nation")
    wh = Warehouse(spark, _scratch_root("evolve"))
    # generation 1: the narrow schema
    wh.append(nation.select("n_nationkey", "n_name", "n_regionkey"), "nation_evo")
    # generation 2: a column added mid-history
    wh.append(
        nation.select(
            "n_nationkey",
            "n_name",
            "n_regionkey",
            F.length("n_name").cast("long").alias("name_len"),
        ),
        "nation_evo",
    )
    return (
        wh.read_merged_schema("nation_evo")
        .groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count("name_len").cast("long").alias("n_with_len"),
            F.sum("name_len").cast("long").alias("len_sum"),
        )
    )


# --- Small-files census as a driver row (round 13, r12 verdict task
# #5): `Warehouse.file_stats` — the metadata walk that decides when
# compact() runs — was pytest-only. One append per DISTINCT region
# present in the data (a bounded dim-sized collect), each coalesce(1),
# pins the physical layout to exactly one parquet file per region at
# any SF OR crafted corpus (the boundary warehouse has a region with
# no nations — iterating a hardcoded range(5) would write an empty
# extra file there), so the census's file count is an honest oracle
# data column in the warehouse_compact_clustered style (count pair as
# data, not a layout boolean — r12 advice). Byte sizes are
# codec/version-dependent and stay OUT of the oracled columns; data
# parity is pinned by reading the appended table back.
@register(
    "warehouse_files_census",
    oracle="""
    SELECT CAST(count(DISTINCT n_regionkey) AS BIGINT) AS n_files,
           CAST(count(*) AS BIGINT)                    AS n_rows,
           CAST(sum(n_nationkey) AS BIGINT)            AS key_sum
    FROM nation
    """,
)
def warehouse_files_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.sources.warehouse import Warehouse

    nation = load_table(spark, sf_dir, "nation")
    wh = Warehouse(spark, _scratch_root("census"))
    rks = sorted(
        r[0] for r in nation.select("n_regionkey").distinct().collect()
    )
    if not rks:
        # empty corpus: nothing appended, census reads 0 files / 0 rows
        return nation.agg(
            F.lit(0).cast("long").alias("n_files"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("n_nationkey").cast("long").alias("key_sum"),
        )
    for rk in rks:
        wh.append(
            nation.filter(F.col("n_regionkey") == rk).coalesce(1), "nation_inc"
        )
    stats = wh.file_stats("nation_inc")
    return (
        wh.read("nation_inc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("n_nationkey").cast("long").alias("key_sum"),
        )
        .select(
            F.lit(stats["n_files"]).cast("long").alias("n_files"),
            "n_rows",
            "key_sum",
        )
    )
