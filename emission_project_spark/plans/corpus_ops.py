"""Corpus governance operators: privacy risk, categorical independence,
data-constrained epoch planning, and multi-dimensional file layout.

Four operational surfaces a 100 TB training-data pipeline needs around
the core dedup/curation engine:

- ``privacy_k_anonymity_customers`` — the k-anonymity release gate
  (Sweeney 2002): how many quasi-identifier groups are small enough to
  re-identify, per segment, before customer-derived features may ship.
- ``privacy_l_diversity_customers`` — its companion gate
  (Machanavajjhala 2007): group size is not enough; each QI group must
  also carry >= l distinct sensitive values or it leaks by uniformity.
- ``stats_chi2_segment_priority`` — Pearson chi-squared independence
  test between two categoricals (the missing member of the stats
  family next to Welch's t and OLS): is order priority independent of
  customer segment?
- ``curation_epoch_schedule`` — data-constrained mixture planning
  (Muennighoff et al. 2023: repeating data beyond ~4 epochs stops
  helping): given a token budget and a √-temperature target mixture,
  how many epochs of each source to take, and which sources cap out.
- ``layout_zorder_skipping`` — Morton/Z-order file clustering
  (Delta/Iceberg's OPTIMIZE ZORDER technique) measured: how many files
  a 2-D rectangle predicate touches under z-order vs either
  single-key sort order.

Reference parity note: the reference engine (emission-dag.py; 390 LoC
of pandas → Postgres) has none of these — they are part of the 100 TB
extension surface mandated by SURVEY.md §7.6, not ports.

Plan-shape discipline shared by all four: one scan, one partial-agg
shuffle down to a key-cardinality-sized relation (≤ |segments| ×
|priorities|, ≤ |sources|), then window totals over that tiny frame —
the unpartitioned windows here run over dimension-cardinality rows
(20-25), never over data-sized input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from emission_project_spark.catalog.tables import load_table
from emission_project_spark.extensions.layout import morton_z, morton_z_sql
from emission_project_spark.functions.text import token_count
from emission_project_spark.plans.registry import register

_TOKS_SQL = "regexp_extract_all(lower(text), '\\w+')"


# --- k-anonymity: quasi-identifier = (segment, nation, $1000 balance
# bucket). A group of size < k means those rows are re-identifiable by
# an attacker who knows the QI triple; the gate reports risk mass per
# segment. One hash aggregate to QI-group counts, one re-aggregate.
@register(
    "privacy_k_anonymity_customers",
    oracle="""
    WITH g AS (
        SELECT c_mktsegment AS segment, c_nationkey,
               CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
               count(*) AS n
        FROM customer GROUP BY 1, 2, 3
    )
    SELECT segment,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_risky_groups,
           CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS n_risky_rows,
           CAST(min(n) AS BIGINT) AS min_group_size
    FROM g GROUP BY segment
    """,
)
def privacy_k_anonymity_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    groups = (
        c.groupBy(
            F.col("c_mktsegment").alias("segment"),
            "c_nationkey",
            F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    risky = F.col("n") < 5
    return groups.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(risky, 1).otherwise(0)).cast("bigint").alias("n_risky_groups"),
        F.sum(F.when(risky, F.col("n")).otherwise(0)).cast("bigint").alias("n_risky_rows"),
        F.min("n").alias("min_group_size"),
    )


# --- l-diversity: the k-anonymity companion (Machanavajjhala 2007).
# k-anonymity bounds group SIZE but a uniform group still leaks its
# sensitive attribute; l-diversity requires each quasi-identifier
# group to carry >= l distinct sensitive values. QI here is (nation,
# $1000 balance bucket), sensitive = market segment; the gate reports
# per nation how many QI groups fall below l=3 and how many rows those
# groups expose. Same two-hash-aggregate shape as the k-anonymity
# gate — the distinct-count happens in the first aggregate where the
# group is co-located, never as a global distinct.
@register(
    "privacy_l_diversity_customers",
    oracle="""
    WITH g AS (
        SELECT c_nationkey,
               CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
               count(*) AS n,
               count(DISTINCT c_mktsegment) AS l
        FROM customer GROUP BY 1, 2
    )
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_low_diversity,
           CAST(sum(CASE WHEN l < 3 THEN n ELSE 0 END) AS BIGINT)
               AS n_exposed_rows,
           CAST(min(l) AS BIGINT) AS min_l
    FROM g GROUP BY c_nationkey
    """,
)
def privacy_l_diversity_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    g = (
        c.groupBy(
            "c_nationkey",
            F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("c_mktsegment").alias("l"),
        )
    )
    low = F.col("l") < 3
    return g.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(low, 1).otherwise(0)).cast("bigint").alias("n_low_diversity"),
        F.sum(F.when(low, F.col("n")).otherwise(0)).cast("bigint").alias("n_exposed_rows"),
        F.min("l").cast("bigint").alias("min_l"),
    )


# --- Pearson chi-squared test of independence on the (segment,
# priority) contingency table. The fact join aggregates straight down
# to ≤ 25 cells (cohort_stats._segment_priority_cells, shared with
# mutual information and Cramér's V); expected counts and the
# statistic come from the marginals folded from those cells. Emits
# the classic triple (n, dof, chi2) — compare chi2 against the χ²
# critical value for dof downstream; no p-value so the oracle stays
# closed-form.
@register(
    "stats_chi2_segment_priority",
    oracle="""
    WITH obs AS (
        SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
               CAST(count(*) AS DOUBLE) AS o
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    ms AS (SELECT segment, sum(o) AS row_tot FROM obs GROUP BY 1),
    mp AS (SELECT priority, sum(o) AS col_tot FROM obs GROUP BY 1),
    tot AS (SELECT sum(o) AS n FROM obs),
    -- FULL r×c grid: a structurally-zero cell still contributes
    -- (0−e)²/e — summing only observed cells understates χ² on sparse
    -- tables (invisible on the dense generated data, caught by the
    -- crafted perfect-dependence 2×2 in tests/test_cohort_stats.py)
    grid AS (
        SELECT ms.segment, mp.priority, ms.row_tot, mp.col_tot,
               coalesce(obs.o, 0) AS o
        FROM ms CROSS JOIN mp
        LEFT JOIN obs ON obs.segment = ms.segment
                     AND obs.priority = mp.priority
    )
    SELECT CAST(max(tot.n) AS BIGINT) AS n,
           CAST((count(DISTINCT segment) - 1)
                * (count(DISTINCT priority) - 1) AS BIGINT) AS dof,
           round(sum(pow(o - row_tot * col_tot / tot.n, 2)
                     / (row_tot * col_tot / tot.n)), 4) AS chi2
    FROM grid CROSS JOIN tot
    """,
)
def stats_chi2_segment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.plans.cohort_stats import _segment_priority_cells

    obs, ms, mp, tot = _segment_priority_cells(spark, sf_dir)
    # full r×c grid so structurally-zero cells contribute (0−e)²/e
    grid = (
        ms.crossJoin(F.broadcast(mp))
        .join(F.broadcast(obs), ["seg", "pri"], "left")
        .withColumn("n", F.coalesce("n", F.lit(0)))
        .crossJoin(F.broadcast(tot))
    )
    e = F.col("ns").cast("double") * F.col("np") / F.col("t")
    return grid.agg(
        F.max("t").cast("bigint").alias("n"),
        (
            (F.count_distinct(F.col("seg")) - 1)
            * (F.count_distinct(F.col("pri")) - 1)
        ).cast("bigint").alias("dof"),
        F.round(F.sum(F.pow(F.col("n") - e, F.lit(2)) / e), 4).alias("chi2"),
    )


# --- data-constrained epoch schedule: target corpus = 2× available
# tokens, allocated across sources by a √-temperature mixture
# (weight ∝ √available — the standard smoothing between proportional
# and uniform). epochs = target/available, capped at 4.0 per
# Muennighoff et al. 2023's "repeating beyond ~4 epochs is ~worthless";
# `capped` marks sources whose demand exceeded the cap (the tokens the
# planner must recover from elsewhere or drop).
@register(
    "curation_epoch_schedule",
    oracle=f"""
    WITH per AS (
        SELECT source, CAST(sum(len({_TOKS_SQL})) AS DOUBLE) AS avail
        FROM documents GROUP BY source
    ),
    t AS (
        SELECT source, avail,
               sum(avail) OVER () AS total,
               sum(sqrt(avail)) OVER () AS sq
        FROM per
    ),
    plan AS (
        SELECT source, avail,
               2.0 * total * sqrt(avail) / sq AS target,
               2.0 * total * sqrt(avail) / sq / avail AS epochs
        FROM t
    )
    SELECT source,
           CAST(avail AS BIGINT) AS available_tokens,
           round(target, 4) AS target_tokens,
           round(least(epochs, 4.0), 6) AS epochs_planned,
           CAST(epochs > 4.0 AS BOOLEAN) AS capped,
           round(least(epochs, 4.0) * avail, 4) AS effective_tokens
    FROM plan
    """,
)
def curation_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.sum(token_count("text")).cast("double").alias("avail")
    )
    w = Window.partitionBy()
    t = per.select(
        "source",
        "avail",
        F.sum("avail").over(w).alias("total"),
        F.sum(F.sqrt("avail")).over(w).alias("sq"),
    )
    target = F.lit(2.0) * F.col("total") * F.sqrt("avail") / F.col("sq")
    epochs = target / F.col("avail")
    return t.select(
        "source",
        F.col("avail").cast("bigint").alias("available_tokens"),
        F.round(target, 4).alias("target_tokens"),
        F.round(F.least(epochs, F.lit(4.0)), 6).alias("epochs_planned"),
        (epochs > 4.0).alias("capped"),
        F.round(F.least(epochs, F.lit(4.0)) * F.col("avail"), 4).alias("effective_tokens"),
    )


# z-layout constants: 64×64 grid (6+6 bits), 64 files of 64 z-cells
# each; the probe predicate is an 8×16 rectangle.
_ZBITS = 6
_ZX = "o_custkey % 64"
_ZY = "date_diff('day', TIMESTAMP '1992-01-01', o_orderdate) % 64"


# --- Z-order vs single-key sort, measured on the same predicate. Rows
# land in 64 files three ways: by Morton code of (custkey-bucket,
# day-bucket), by custkey bucket alone, by day bucket alone. For the
# rectangle predicate (x∈[8,15] ∧ y∈[16,31]) the report counts how
# many files each layout forces the scan to touch — the number a
# zone-map/file-skipping reader actually pays. One scan, one aggregate;
# the z-value itself is a codegen'd shift/mask expression
# (extensions/layout.py), replayed arithmetically in the oracle.
@register(
    "layout_zorder_skipping",
    oracle=f"""
    WITH z AS (
        SELECT {_ZX} AS x, {_ZY} AS y,
               {morton_z_sql(_ZX, _ZY, _ZBITS)} AS zval
        FROM orders
    )
    SELECT CAST(count(*) AS BIGINT) AS rows_selected,
           CAST(count(DISTINCT zval // 64) AS BIGINT) AS files_zorder,
           CAST(count(DISTINCT x) AS BIGINT) AS files_custkey_sorted,
           CAST(count(DISTINCT y) AS BIGINT) AS files_date_sorted,
           CAST(64 AS BIGINT) AS files_total
    FROM z
    WHERE x BETWEEN 8 AND 15 AND y BETWEEN 16 AND 31
    """,
)
def layout_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    x = (F.col("o_custkey") % 64).cast("int")
    y = (F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01")) % 64).cast("int")
    z = o.select(x.alias("x"), y.alias("y")).select(
        "x", "y", morton_z(F.col("x"), F.col("y"), _ZBITS).alias("zval")
    )
    return (
        z.filter(F.col("x").between(8, 15) & F.col("y").between(16, 31))
        .agg(
            F.count(F.lit(1)).alias("rows_selected"),
            F.count_distinct(F.floor(F.col("zval") / 64)).alias("files_zorder"),
            F.count_distinct("x").alias("files_custkey_sorted"),
            F.count_distinct("y").alias("files_date_sorted"),
        )
        .withColumn("files_total", F.lit(64).cast("bigint"))
    )


# contribution cap: max documents any one (source, lang) cell may
# contribute to the training mix (the RefinedWeb/C4 per-host cap,
# Penedo et al. 2023 §3.1 — one over-crawled domain must not dominate
# the corpus). 10 caps the hot cells at every test SF while leaving
# small cells whole.
_CELL_CAP = 10


# --- per-(source, lang) contribution cap. Selection inside a cell is
# a deterministic hash lottery: rank by md5(doc_id) (uniform,
# reproducible across engines and runs — the same discipline as the
# curation samplers) and keep the first CAP. Plan: ONE exchange on the
# cell key for the rank window, then a partial-agg rollup on the same
# key — Catalyst reuses the partitioning, so the cap costs exactly one
# shuffle. At 100 TB a pathological mega-cell makes the per-cell sort
# the bottleneck; the escape is two-phase (approx p = CAP/n quantile of
# the hash per cell, filter, exact-rank only the boundary) — same
# output, documented here, not needed at any tested scale. The report
# is cell-cardinality-sized (≤ |sources|×|langs|), never data-sized.
@register(
    "curation_domain_cap",
    oracle=f"""
    WITH r AS (
        SELECT source, lang,
               row_number() OVER (
                   PARTITION BY source, lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents
    )
    SELECT source, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN rk <= {_CELL_CAP} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(sum(CASE WHEN rk > {_CELL_CAP} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped,
           (count(*) > {_CELL_CAP}) AS capped,
           round(sum(CASE WHEN rk <= {_CELL_CAP} THEN 1 ELSE 0 END) * 1.0
                 / count(*), 4) AS kept_frac
    FROM r GROUP BY source, lang
    """,
)
def curation_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source", "lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    r = docs.select("source", "lang", "doc_id").withColumn(
        "rk", F.row_number().over(w)
    )
    kept = F.sum(F.when(F.col("rk") <= _CELL_CAP, 1).otherwise(0))
    dropped = F.sum(F.when(F.col("rk") > _CELL_CAP, 1).otherwise(0))
    return r.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        kept.cast("bigint").alias("n_kept"),
        dropped.cast("bigint").alias("n_dropped"),
        (F.count(F.lit(1)) > _CELL_CAP).alias("capped"),
        F.round(kept * 1.0 / F.count(F.lit(1)), 4).alias("kept_frac"),
    )
