"""Affinity & structure queries — round-7 additions.

Graph structure (triangles, link prediction), exact set-similarity
join with prefix filtering, collocation mining, vocabulary coverage,
marketing attribution, digit-law conformance, and cosine range search.

The reference (aniketkapdule/emission-project) has no graph/text
surface; these extend the LLM-training-data-pipeline set the same way
the dedup/similarity families do (see COVERAGE.md §3). Every query is
oracle-checked against DuckDB; every float that crosses the compare
boundary is round()-ed identically on both sides.

Scale notes are per-query; the shared theme: nothing here is
corpus-quadratic. Candidate generation is bounded by degree
orientation (triangles), a support threshold + hub cap (Adamic-Adar),
prefix filtering (Jaccard join), or a broadcast-sized dimension
(vocab / queries / digit table).
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from emission_project_spark.catalog.tables import (
    load_table,
    parquet_layout,
    spread_input,
    target_partitions,
)
from emission_project_spark.functions.text import tokens
from emission_project_spark.functions.vectors import cosine_similarity
from emission_project_spark.plans.registry import register


# Edge count above which graph_triangle_stats sizes its closure-join
# partitions by wedge mass instead of trusting the session default
# (module-level so tests can lower it and run the repartitioned branch
# against the oracle at small SF — the branch otherwise only executes
# at sf10+).
TRIANGLE_REPART_EDGE_THRESHOLD = 20_000_000


def _copurchase_baskets(
    spark: SparkSession, sf_dir: str, int_ids: bool = False
) -> DataFrame:
    """Per-order sorted distinct part arrays — the shared first stage
    of every co-purchase consumer (pairs, triangle census sizing).

    ``int_ids=True`` reads min/max(l_partkey) from the parquet footer
    (no Spark job; Spark-aggregate fallback when stats are absent) and,
    when the id domain fits int32, carries part keys as 4-byte ints
    through the basket arrays and everything downstream — halving the
    bytes through every shuffle of the build. Ids beyond int32 (true
    100 TB part domains) fall back to long automatically."""
    li = load_table(spark, sf_dir, "lineitem")
    layout = parquet_layout(
        [os.path.join(sf_dir, "lineitem.parquet")], "l_partkey" if int_ids else None
    )
    key = F.col("l_partkey")
    if int_ids:
        rng = layout and layout.column_range
        if rng is None:
            row = li.agg(
                F.min("l_partkey").alias("lo"), F.max("l_partkey").alias("hi")
            ).first()
            rng = (row.lo, row.hi)
        if rng[0] is not None and rng[0] >= -(2**31) and rng[1] < 2**31:
            key = key.cast("int")
    sel = li.select("l_orderkey", key.alias("l_partkey"))
    # The basket collect_set is an ObjectHashAggregate that always runs
    # its sort-based fallback in anger (fallback threshold = 128 keys;
    # raising it OOMs — the map is untracked JVM memory), so its spill
    # is bounded by per-task input volume: ~1.5M lineitem rows per task,
    # sized from the footer row count. collect_set has no map-side
    # reduction to lose (per-order set elements are disjoint), the keyed
    # repartition IS the aggregate's exchange, and the count scales with
    # the data, not the local core count (sf10 event log: the 64-task
    # basket stage carried 18.3 GB memory spill at the session default).
    # At or below the session width the aggregate keeps its own
    # AQE-coalescible exchange.
    n_tasks = layout.rows // 1_500_000 if layout else 0
    if n_tasks > target_partitions(spark):
        sel = sel.repartition(n_tasks, "l_orderkey")
    return (
        sel.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    )


def _pairs_from_baskets(
    baskets: DataFrame, min_support: int = 1, agg_partitions: int | None = None
) -> DataFrame:
    """Distinct undirected co-purchase edges (pa < pb) from basket
    arrays: the pair fanout is generated inside each per-order sorted
    array (the pattern shared with basket_part_pairs_lift /
    graph_pagerank_parts) — bounded by lines-per-order, never
    corpus-quadratic.

    ``agg_partitions``: callers with a pair-count estimate (triangle's
    Σ k(k−1)/2 probe) size the dedup aggregate's exchange with it —
    map-side partial aggregation dedups only WITHIN a partition, and
    co-purchase pairs from different orders almost never collide in
    one map partition, so the explicit keyed repartition loses ~no
    reduction while bounding the final aggregate's per-task state."""
    n = F.size("parts")
    pair_structs = F.flatten(
        F.transform(
            "parts",
            lambda x, i: F.transform(
                F.slice(F.col("parts"), i + 2, F.greatest(n - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
    exploded = baskets.select(F.explode(pair_structs).alias("pr")).select(
        F.col("pr.pa").alias("pa"), F.col("pr.pb").alias("pb")
    )
    if agg_partitions:
        exploded = exploded.repartition(agg_partitions, "pa", "pb")
    pairs = (
        exploded.groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    if min_support > 1:
        pairs = pairs.filter(F.col("support") >= min_support)
    return pairs.select("pa", "pb")


def _copurchase_pairs(
    spark: SparkSession, sf_dir: str, min_support: int = 1, int_ids: bool = False
) -> DataFrame:
    """Distinct undirected part co-purchase edges (pa < pb), optionally
    thresholded on co-purchase support — see :func:`_copurchase_baskets`
    and :func:`_pairs_from_baskets` for the two stages."""
    return _pairs_from_baskets(
        _copurchase_baskets(spark, sf_dir, int_ids=int_ids), min_support
    )


_PAIRS_SQL = """
    op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    )
"""


# --- Triangle census of the part co-purchase graph: triangle count,
# wedge (open-triad) count, and the global (transitivity) clustering
# coefficient 3T/W. The Spark plan uses DEGREE-ORDERED ORIENTATION
# (Suri & Vassilvitskii, WWW'11): each undirected edge is directed
# from its lower-(degree, id) endpoint to the higher, so every
# triangle is generated from exactly one apex and the wedge fanout per
# node is outdeg² with outdeg = O(sqrt(m)) — the skew-proof bound that
# makes this survive power-law hubs at 100 TB, where id-ordered or
# undirected wedge generation is quadratic in the hub degree. Wedges
# are generated inside per-apex sorted adjacency arrays (no self-join)
# and closed with one join against the oriented edge list. The oracle
# counts the same triangles apex-ordered by id (orientation choice
# does not change the count) and the same wedges from the degree sum.
@register(
    "graph_triangle_stats",
    oracle=f"""
    WITH {_PAIRS_SQL},
    tri AS (
        SELECT count(*) AS t
        FROM pairs p1
        JOIN pairs p2 ON p2.pa = p1.pa AND p2.pb > p1.pb
        JOIN pairs p3 ON p3.pa = p1.pb AND p3.pb = p2.pb
    ),
    deg AS (
        SELECT node, count(*) AS dg FROM (
            SELECT pa AS node FROM pairs UNION ALL SELECT pb FROM pairs
        ) GROUP BY 1
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(sum(dg) / 2 AS BIGINT) AS n_edges,
               CAST(sum(dg * (dg - 1) / 2) AS BIGINT) AS n_wedges
        FROM deg
    )
    SELECT a.n_nodes, a.n_edges,
           CAST(t.t AS BIGINT) AS n_triangles, a.n_wedges,
           round(3.0 * t.t / NULLIF(a.n_wedges, 0), 6) AS transitivity
    FROM agg a CROSS JOIN tri t
    """,
)
def graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # int_ids: the bytes through EVERY shuffle here — the pair build,
    # the orientation joins and above all the wedge-mass closure joins
    # (8.3G ids at sf10, SCALING.md round 10) — halve when part keys
    # ride as 4-byte ints; beyond-int32 id domains keep long (pinned by
    # the >2^31 boundary corpus).
    baskets = _copurchase_baskets(spark, sf_dir, int_ids=True)
    # Edge-mass estimate for the closure-join sizing below: Σ over
    # baskets of k(k−1)/2 — the EXACT pre-dedup pair count, an upper
    # bound on distinct edges that tracks basket density instead of a
    # row-count multiplier calibrated to this data profile (ADVICE r10:
    # 2× lineitem rows underestimates edges on denser baskets,
    # silently keeping the OOM-prone unpartitioned branch active). The
    # aggregate materializes the basket shuffle, which the pair build
    # below REUSES (same lineage → skipped map stage), so the sizing
    # probe costs one reduce pass, not a second lineitem scan.
    k = F.size("parts").cast("long")
    n_edges = int(
        baskets.agg(F.sum(k * (k - 1) / 2).cast("long").alias("ub")).first()["ub"]
        or 0
    )
    pair_parts = (
        target_partitions(spark, n_edges, 1_500_000)
        if n_edges > TRIANGLE_REPART_EDGE_THRESHOLD
        else None
    )
    # Materialized, spillable: the edge list feeds five consumers (deg
    # ×2 union branches, the orientation join, wedge closure, the
    # census agg); inline, the basket build replays (sf0.1: 1.2M → 1.8M
    # parquet rows, 40.1 → 58.3 MB shuffle written).
    pairs = _pairs_from_baskets(baskets, agg_partitions=pair_parts).localCheckpoint(
        eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK
    )
    # Materialized: inline, the node degrees shuffle less (40.1 → 27.6
    # MB) but the query runs slower (sf0.1 median 7.3 → 9.3 s).
    deg = (
        pairs.select(F.col("pa").alias("node"))
        .unionAll(pairs.select(F.col("pb")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("dg"))
        .localCheckpoint(eager=False)
    )
    # total order for orientation: (degree, id) — ties broken by id so
    # the orientation is a strict total order, never a 2-cycle
    da = deg.select(
        F.col("node").alias("pa"), F.col("dg").alias("da")
    )
    db = deg.select(F.col("node").alias("pb"), F.col("dg").alias("db"))
    oriented = (
        pairs.join(da, "pa").join(db, "pb")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("pa") < F.col("pb"))),
                F.struct(F.col("pa").alias("src"), F.col("pb").alias("dst")),
            )
            .otherwise(F.struct(F.col("pb").alias("src"), F.col("pa").alias("dst")))
            .alias("e")
        )
        .select("e.src", "e.dst")
        # Materialized, spillable: read by the adjacency build and the
        # wedge closure; inline, the query runs slower (sf0.1 median
        # 6.7 → 9.5 s) though it shuffles less (40.1 → 30.8 MB).
        .localCheckpoint(eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK)
    )
    # EDGE-ITERATOR triangle count over the orientation: a triangle
    # u→v, u→w, v→w is counted exactly once at its base edge (u,v) as
    # |N⁺(u) ∩ N⁺(v)|. Attaching the two sorted out-neighbor arrays to
    # each edge keeps the shuffle at EDGE-count records (the wedge-
    # explode alternative shuffles Σ outdeg² individual rows — measured
    # 72M rows / 20 s at sf0.1 vs ~3 s for this shape); the per-edge
    # intersect is O(|N⁺(u)|+|N⁺(v)|) JVM array work. Degree
    # orientation still bounds every array at O(√m) under skew.
    # Above the edge threshold the adjacency collect_list's partitions
    # are sized edge-proportionally too (same sort-based-fallback spill
    # mechanism as the basket build — see _copurchase_baskets; the
    # keyed repartition IS the aggregate's exchange, and collect_list
    # has no map-side reduction to lose). Below it the session default
    # stands.
    adj_src = oriented
    if n_edges > TRIANGLE_REPART_EDGE_THRESHOLD:
        adj_src = oriented.repartition(target_partitions(spark, n_edges, 1_500_000), "src")
    adj = adj_src.groupBy("src").agg(F.sort_array(F.collect_list("dst")).alias("ns"))
    adj_u = adj.select(F.col("src").alias("u"), F.col("ns").alias("nu"))
    adj_v = adj.select(F.col("src").alias("v"), F.col("ns").alias("nv"))
    # The closure joins attach O(outdeg) arrays to every edge row, so
    # the bytes THROUGH these two shuffles are the wedge mass (Σ
    # outdeg⁺·|array| ≈ 8.3G longs at sf10 — measured), not the edge
    # count. At the session's default partition count each task's
    # sort buffer is wedge_mass/32 (~3.7 GB at sf10) — the round-10
    # second-decade run OOMed exactly there (heap, not a plan defect:
    # the same plan passes at 24 g). Above the edge threshold the
    # closure joins are partitioned EDGE-PROPORTIONALLY (~250k edges
    # ≈ 150-250 MB of array-attached rows per task) so each sort fits
    # and spills incrementally — the sizing a 1000-executor submission
    # sets via spark.sql.shuffle.partitions. Below it the joins stay
    # unpartitioned: AQE broadcast-joins the small adjacency relation
    # at sf0.1/sf1, which an explicit repartition would forbid. Edge
    # count: the basket-sum upper bound computed above (Σ k(k−1)/2 —
    # measured ≥119.6M actual edges at sf10, tracks basket density).
    # r13 join-strategy experiment, REVERTED: SHUFFLE_HASH hints on the
    # adjacency build sides (SMJ→SHJ at sf10) were tried on the theory
    # that the hash probe kills the sort spill. Measured: spill is NOT
    # from the join sorts — eventlogged arms read 54.3 vs 56.9 GB mem
    # spill (unchanged), shuffle 29.4 vs 28.6 GB (hint slightly WORSE),
    # interleaved 3/side wall A/B WASH (plans/r13/ab/sf10_shj.log).
    # With no mechanism and no win, a hint only forbids AQE's runtime
    # choices and adds build-side OOM risk on skewed hot nodes, so the
    # planner keeps its freedom.
    edges_uv = oriented.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    # Both closure joins are INNER: an edge whose dst has no
    # out-neighbors (an orientation sink — the locally-maximal nodes)
    # contributes 0 to the triangle sum, so dropping it in the v-join
    # keeps the nu arrays off those rows entirely — fewer wedge-mass
    # bytes through the second shuffle. The final sum coalesces to 0
    # so a closure-free graph still reports 0 triangles (the oracle's
    # COUNT(*) = 0), not NULL.
    if n_edges > TRIANGLE_REPART_EDGE_THRESHOLD:
        parts = target_partitions(spark, n_edges, 250_000)
        closed = (
            edges_uv.repartition(parts, "v")
            .join(adj_v.repartition(parts, "v"), "v")
            .repartition(parts, "u")
            .join(adj_u.repartition(parts, "u"), "u")
        )
    else:
        closed = edges_uv.join(adj_v, "v").join(adj_u, "u")
    tri = closed.select(
        F.size(F.array_intersect("nu", "nv")).alias("c")
    ).agg(F.coalesce(F.sum("c"), F.lit(0)).alias("t"))
    agg = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum("dg") / 2).cast("long").alias("n_edges"),
        F.sum(F.col("dg") * (F.col("dg") - 1) / 2).cast("long").alias("n_wedges"),
    )
    return (
        agg.crossJoin(F.broadcast(tri))  # both sides are 1-row scalars
        .select(
            "n_nodes",
            "n_edges",
            F.col("t").cast("long").alias("n_triangles"),
            "n_wedges",
            # try_divide: a wedge-free graph (no node with degree >= 2)
            # has n_wedges = 0 — transitivity is undefined, NULL on both
            # engines (oracle mirrors with NULLIF; the events_hourly_acf
            # zero-variance precedent), never an ANSI DIVIDE_BY_ZERO
            F.round(
                F.try_divide(F.lit(3.0) * F.col("t"), F.col("n_wedges")), 6
            ).alias("transitivity"),
        )
    )


# --- Adamic-Adar link prediction on the STRONG co-purchase graph
# (support ≥ 2): for every non-adjacent pair sharing ≥1 common
# neighbor, AA(a,b) = Σ_{z ∈ N(a)∩N(b)} 1/ln(deg z) — the classic
# "which parts will be bought together next" score (Adamic & Adar
# 2003). The support threshold is the sparsifier (the ≥2 graph here
# is ~3% of the raw edge list with max degree 13); on top of it a
# hub cap (deg ≤ 64) excludes promiscuous nodes from GENERATING
# wedge pairs — the standard recall trade that keeps the fanout
# Σ deg² bounded under skew, mirrored exactly in the oracle (same
# pattern as dedup_ngram_jaccard's MAX_DOC_FREQ cap). Scores are
# sums of 1/ln(integer): addition order differs between engines only
# at ~1e-15, absorbed by the 1e-6 round.
@register(
    "graph_adamic_adar_top",
    oracle=f"""
    WITH {_PAIRS_SQL.replace("GROUP BY 1, 2", "GROUP BY 1, 2 HAVING count(*) >= 2")},
    edges AS (
        SELECT pa AS s, pb AS d FROM pairs
        UNION ALL SELECT pb, pa FROM pairs
    ),
    deg AS (SELECT s, count(*) AS dg FROM edges GROUP BY 1),
    -- hub cap: only apexes with 2 <= deg <= 64 generate candidates
    apex AS (
        SELECT e.s AS z, e.d AS nb, dg FROM edges e JOIN deg ON deg.s = e.s
        WHERE dg BETWEEN 2 AND 64
    ),
    cand AS (
        SELECT a.nb AS na, b.nb AS nb2, sum(1.0 / ln(a.dg)) AS aa,
               count(*) AS n_common
        FROM apex a JOIN apex b ON a.z = b.z AND a.nb < b.nb
        GROUP BY 1, 2
    ),
    nonadj AS (
        SELECT c.* FROM cand c
        LEFT JOIN pairs p ON p.pa = c.na AND p.pb = c.nb2
        WHERE p.pa IS NULL
    )
    SELECT na AS node_a, nb2 AS node_b,
           CAST(n_common AS BIGINT) AS n_common,
           round(aa, 6) AS aa_score
    FROM nonadj
    ORDER BY round(aa, 6) DESC, na, nb2
    LIMIT 20
    """,
)
def graph_adamic_adar_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Materialized, spillable: the pairs feed the edge union ×2 and the
    # adjacency anti-join; inline, the query writes more shuffle
    # (sf0.1: 16.17 → 16.21 MB) and runs slower (median 2.5 → 3.5 s).
    pairs = _copurchase_pairs(spark, sf_dir, min_support=2).localCheckpoint(
        eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK
    )
    edges = pairs.select(F.col("pa").alias("s"), F.col("pb").alias("d")).unionAll(
        pairs.select(F.col("pb"), F.col("pa"))
    )
    deg = edges.groupBy("s").agg(F.count(F.lit(1)).alias("dg"))
    # adjacency arrays per apex, hub-capped; wedge pairs generated
    # inside the sorted array (no self-join), weight 1/ln(deg apex)
    adj = (
        edges.join(deg, "s")
        .filter((F.col("dg") >= 2) & (F.col("dg") <= 64))
        .groupBy("s", "dg")
        .agg(F.sort_array(F.collect_list("d")).alias("ns"))
    )
    k = F.size("ns")
    wedge_structs = F.flatten(
        F.transform(
            "ns",
            lambda x, i: F.transform(
                F.slice(F.col("ns"), i + 2, F.greatest(k - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("na"), y.alias("nb2")),
            ),
        )
    )
    cand = (
        adj.select(F.explode(wedge_structs).alias("wd"), (1.0 / F.log("dg")).alias("w"))
        .groupBy(F.col("wd.na").alias("na"), F.col("wd.nb2").alias("nb2"))
        .agg(F.sum("w").alias("aa"), F.count(F.lit(1)).alias("n_common"))
    )
    nonadj = cand.join(
        pairs,
        (pairs["pa"] == cand["na"]) & (pairs["pb"] == cand["nb2"]),
        "left_anti",
    )
    return (
        nonadj.select(
            F.col("na").alias("node_a"),
            F.col("nb2").alias("node_b"),
            F.col("n_common").cast("long").alias("n_common"),
            F.round("aa", 6).alias("aa_score"),
        )
        .orderBy(F.col("aa_score").desc(), "node_a", "node_b")
        .limit(20)
    )


def _kcore_round_sql(r: int, k: int) -> str:
    """One peel round as a CTE: survivors are nodes with ≥k neighbors
    among the previous round's survivors. MATERIALIZED is load-bearing:
    each round references its predecessor twice, so letting the
    optimizer inline the chain doubles the plan per round (2^6 copies
    of the edge build — measured to spill DuckDB to disk exhaustion at
    sf0.1)."""
    return f"""
    a{r} AS MATERIALIZED (
        SELECT e.s AS n FROM edges e
        JOIN a{r - 1} x ON x.n = e.s
        JOIN a{r - 1} y ON y.n = e.d
        GROUP BY e.s HAVING count(*) >= {k}
    )"""


# --- k-core peel (k=2, 6 synchronous rounds) of the STRONG
# co-purchase graph: iteratively drop nodes with fewer than k
# neighbors among survivors — the standard graph-denoising pass run
# before community/centrality work (pendant chains and isolated
# whiskers never stop burning compute otherwise). The contract is
# "6 peel rounds", a well-defined result at ANY scale (the fixpoint
# round count is data-dependent; tests pin that 6 rounds IS the
# fixpoint on the generated data, and a non-converged run differs
# from it detectably rather than erroring). Each round is one
# edge-sized join + aggregate with the survivor set lineage-truncated
# — the exact cost shape of one PageRank iteration; the oracle
# replays the identical schedule as chained CTEs.
@register(
    "graph_kcore_peel",
    oracle=f"""
    WITH {_PAIRS_SQL.replace("GROUP BY 1, 2", "GROUP BY 1, 2 HAVING count(*) >= 2").replace("pairs AS (", "pairs AS MATERIALIZED (")},
    edges AS MATERIALIZED (
        SELECT pa AS s, pb AS d FROM pairs
        UNION ALL SELECT pb, pa FROM pairs
    ),
    a0 AS MATERIALIZED (SELECT DISTINCT s AS n FROM edges),
    {",".join(_kcore_round_sql(r, 2) for r in range(1, 7))}
    SELECT e.s AS p_partkey, CAST(count(*) AS BIGINT) AS core_degree
    FROM edges e
    JOIN a6 x ON x.n = e.s
    JOIN a6 y ON y.n = e.d
    GROUP BY e.s
    """,
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = 2
    pairs = _copurchase_pairs(spark, sf_dir, min_support=2)
    # Materialized, spillable: every peel round reads the edges;
    # inline, each round replays the basket build (sf0.1: 0.6M → 4.2M
    # parquet rows, 16.2 → 112.6 MB shuffle written, median 3.0 → 15.3 s).
    edges = (
        pairs.select(F.col("pa").alias("s"), F.col("pb").alias("d"))
        .unionAll(pairs.select(F.col("pb"), F.col("pa")))
        .localCheckpoint(eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK)
    )
    alive = edges.select(F.col("s").alias("n")).distinct()
    for _ in range(6):
        # Materialized per round: inline, the six-round survivor chain
        # runs slower (sf0.1 median 2.8 → 5.2 s).
        alive = (
            edges.join(alive.withColumnRenamed("n", "s"), "s")
            .join(alive.withColumnRenamed("n", "d"), "d")
            .groupBy("s")
            .agg(F.count(F.lit(1)).alias("dg"))
            .filter(F.col("dg") >= k)
            .select(F.col("s").alias("n"))
            .localCheckpoint(eager=False)
        )
    return (
        edges.join(alive.withColumnRenamed("n", "s"), "s")
        .join(alive.withColumnRenamed("n", "d"), "d")
        .groupBy(F.col("s").alias("p_partkey"))
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
    )


_SHINGLE5_SQL = """
    d AS (SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS t FROM documents),
    sh AS (
        SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS sh
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i
              FROM d WHERE len(t) >= 5)
    )
"""


def _shingles5(docs: DataFrame) -> DataFrame:
    """Distinct 5-gram word shingles per document (Spark twin of
    _SHINGLE5_SQL).

    The input is spread (``spread_input``) before the tokenizer: a
    documents table that scans as fewer populated partitions than
    cores (one parquet row group at every measured SF) would otherwise
    run the regex tokenize + 5-gram explode on one core — the sf10
    event log showed a 70 s 1-task stage, 40 % of the query's wall.
    The conditional repartition is a ~56 MB shuffle at sf10 and a
    no-op on inputs that already scan wide."""
    toked = spread_input(docs).select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("t")
    ).filter(F.size("t") >= 5)
    sh = toked.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 4),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(F.col("t"), i),
                    F.element_at(F.col("t"), i + 1),
                    F.element_at(F.col("t"), i + 2),
                    F.element_at(F.col("t"), i + 3),
                    F.element_at(F.col("t"), i + 4),
                ),
            )
        ).alias("sh"),
    )
    return sh.distinct()


# --- EXACT τ-Jaccard similarity join with PREFIX FILTERING (the
# PPJoin/AllPairs family — Bayardo et al. WWW'07, Xiao et al.
# WWW'08) over 5-gram shingle sets. This is the exact-and-COMPLETE
# counterpart to the recall-lossy detectors already in the registry:
# MinHash-LSH is probabilistic, and dedup_ngram_jaccard's inverted
# index drops stop-shingles above MAX_DOC_FREQ; prefix filtering
# guarantees zero false negatives at any scale. The trick: order the
# shingle universe by ascending document frequency (rarest first);
# a doc with n shingles can match some partner at Jaccard ≥ τ only
# through its first n - ⌈τ·n⌉ + 1 rarest shingles, so only that
# prefix enters the inverted index — candidate volume scales with
# Σ df(rare shingles)², not Σ df², and a length filter
# (min ≥ τ·max) prunes further before verification. Verification is
# one array_intersect per candidate pair, O(|A|+|B|). The oracle is
# the ALL-PAIRS exact join — the filter is provably lossless, so the
# two result sets must be identical (that equality IS the test).
@register(
    "dedup_jaccard_prefix_join",
    oracle=f"""
    WITH {_SHINGLE5_SQL},
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT da AS doc_a, db AS doc_b,
           CAST(i AS BIGINT) AS n_common,
           round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = da
    JOIN sz sb ON sb.doc_id = db
    WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
    """,
)
def dedup_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    tau = 0.5
    docs = load_table(spark, sf_dir, "documents")
    # Materialized: the corpus-sized shingle table feeds the df ranking
    # and the per-doc set build; inline, the shingling runs twice
    # (sf0.1: 5,000 → 10,000 parquet rows, 21.8 → 28.4 MB shuffle
    # written). The ranked per-doc arrays below feed three consumers
    # too, but exchange reuse builds them once.
    sh = _shingles5(docs).localCheckpoint(
        eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK
    )
    # global rarity order: (df asc, shingle asc) → dense integer rank.
    # vocab-sized shuffle, not corpus-sized.
    # ranks.global_position, not a partition-less row_number window:
    # 5-gram shingles are near-unique, so the vocabulary is
    # ~corpus-sized and a global window sorts it in ONE task (20.6M
    # rows, 70 s, 40 % of the sf10 wall, measured from the event log;
    # a serial wall at any scale). The range-bucketed rank is the same
    # total order, bit-identical ranks; its boundaries split the
    # hapax-skewed df = 1 block on the shingle tie-break.
    from emission_project_spark.functions.ranks import global_position

    df_rank = global_position(
        sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df")),
        [F.col("df").asc(), F.col("sh").asc()],
        out_col="rk",
    ).select("sh", "rk")
    ranked = (
        sh.join(df_rank, "sh")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("rk")).alias("rks"))
        .withColumn("n", F.size("rks"))
    )
    # prefix = the n - ceil(τ·n) + 1 rarest shingles, WITH each one's
    # 1-based position in the doc's rank-sorted array (posexplode on a
    # leading slice preserves positions). The position feeds the
    # PPJoin+ positional filter below.
    prefix_len = (F.col("n") - F.ceil(F.lit(tau) * F.col("n")) + 1).cast("int")
    pfx = ranked.select(
        "doc_id",
        "n",
        F.posexplode(F.slice("rks", 1, prefix_len)).alias("p0", "rk"),
    )
    a = pfx.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("na"),
        (F.col("p0") + 1).alias("pa"), "rk",
    )
    b = pfx.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"),
        (F.col("p0") + 1).alias("pb"), "rk",
    )
    # POSITIONAL filter (PPJoin+ family, Xiao et al. WWW'08): both rks
    # arrays are sorted by the SAME global rank order, so the common
    # tokens of A and B interleave monotonically — a shared token at
    # 1-based positions (pa, pb) bounds the overlap by
    #   min(pa−1, pb−1) + 1 + min(na−pa, nb−pb)
    # (common tokens strictly before it in A are also before it in B,
    # and symmetrically after). Jaccard ≥ τ requires overlap ≥
    # τ/(1+τ)·(na+nb); an integer bound u clears that ceiling iff
    # u·(1+τ) ≥ τ·(na+nb) (exact in doubles for τ=0.5 — all values are
    # halves of exact integers). LOSSLESS: for a qualifying pair the
    # true overlap is ≤ every match's bound, so every shared prefix
    # token row survives; only pairs that can no longer reach τ die.
    # They die BEFORE the distinct exchange and the array-attached
    # verification joins — which is where the sf10 cost lives
    # (within-bucket candidate generation scaled as n^1.03 at
    # 175-203 s without it).
    ubound = (
        F.least(F.col("pa") - 1, F.col("pb") - 1)
        + 1
        + F.least(F.col("na") - F.col("pa"), F.col("nb") - F.col("pb"))
    )
    cand = (
        a.join(b, "rk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # length filter: Jaccard ≥ τ ⟹ min(n) ≥ τ·max(n)
        .filter(F.least("na", "nb") >= tau * F.greatest("na", "nb"))
        .filter(
            ubound.cast("double") * (1.0 + tau)
            >= tau * (F.col("na") + F.col("nb"))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    # verify candidates exactly: one array_intersect per pair.
    # Left unhinted: SHUFFLE_HASH hints on cand/sets_b (6 SMJ → 4 SHJ
    # at sf10) measured byte-identical shuffle AND spill (3651.5 MB /
    # 4026.5 MB both) with wall ×0.95 (plans/r13/ab/sf10_shj.log) —
    # the sort the hint removes is not where this plan's cost lives.
    sets_a = ranked.select(F.col("doc_id").alias("doc_a"), F.col("rks").alias("ra"), F.col("n").alias("na"))
    sets_b = ranked.select(F.col("doc_id").alias("doc_b"), F.col("rks").alias("rb"), F.col("n").alias("nb"))
    verified = (
        cand.join(sets_a, "doc_a")
        .join(sets_b, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("ra", "rb")).cast("long"))
        .withColumn(
            "jaccard_raw",
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")),
        )
        .filter(F.col("jaccard_raw") >= tau)
    )
    return verified.select(
        "doc_a", "doc_b", "n_common", F.round("jaccard_raw", 6).alias("jaccard")
    )


_TOKS_SQL = "regexp_extract_all(lower(text), '\\w+')"


# --- PMI collocation mining (Church & Hanks 1990): the top bigrams by
# pointwise mutual information ln(P(w1w2) / (P(w1)·P(w2))) with a
# min-count floor of 5 (PMI without a count floor just surfaces
# hapaxes — the floor is part of the metric's standard definition in
# practice). One corpus pass builds bigram counts; unigram counts and
# the two scalar totals are vocab-sized/1-row BROADCAST sides, so the
# only shuffle is the bigram group-by — same shape (and same
# scale argument) as text_bigrams_top. Ranking is on the ROUNDED
# score with a bigram tie-break, so both engines rank identically.
@register(
    "text_pmi_collocations",
    oracle=f"""
    WITH d AS (SELECT {_TOKS_SQL} AS toks FROM documents),
    uni AS (
        SELECT unnest(toks) AS tok FROM d
    ),
    uc AS (SELECT tok, count(*) AS c FROM uni GROUP BY 1),
    nt AS (SELECT count(*) AS n FROM uni),
    big AS (
        SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                                     i -> [toks[i], toks[i + 1]])) AS bg
        FROM d WHERE len(toks) >= 2
    ),
    bc AS (SELECT bg[1] AS w1, bg[2] AS w2, count(*) AS cb FROM big GROUP BY 1, 2),
    nb AS (SELECT count(*) AS n FROM big)
    SELECT w1 || ' ' || w2 AS bigram,
           CAST(cb AS BIGINT) AS n,
           round(ln((CAST(cb AS DOUBLE) / nb.n)
                    / ((CAST(u1.c AS DOUBLE) / nt.n) * (CAST(u2.c AS DOUBLE) / nt.n))), 6) AS pmi
    FROM bc
    JOIN uc u1 ON u1.tok = w1
    JOIN uc u2 ON u2.tok = w2
    CROSS JOIN nt CROSS JOIN nb
    WHERE cb >= 5
    ORDER BY pmi DESC, bigram ASC
    LIMIT 20
    """,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(tokens(F.lower(F.col("text"))).alias("toks"))
    uni = toked.select(F.explode("toks").alias("tok"))
    # two corpus passes total (unigram + bigram count); both scalar
    # totals fold from the VOCAB-sized count tables, not the corpus.
    # Both count tables are materialized: inline, each rescans the
    # documents (sf0.1: 10,000 → 15,000 parquet rows apiece).
    uc = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c")).localCheckpoint(
        eager=False
    )
    nt = uc.agg(F.sum("c").alias("n_tok"))
    bigrams = toked.filter(F.size("toks") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("toks"), i).alias("w1"),
                    F.element_at(F.col("toks"), i + 1).alias("w2"),
                ),
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    bc_all = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb")).localCheckpoint(
        eager=False
    )
    bc = bc_all.filter(F.col("cb") >= 5)
    nb = bc_all.agg(F.sum("cb").alias("n_big"))
    u1 = uc.select(F.col("tok").alias("w1"), F.col("c").alias("c1"))
    u2 = uc.select(F.col("tok").alias("w2"), F.col("c").alias("c2"))
    scored = (
        bc.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nb))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            F.col("cb").cast("long").alias("n"),
            F.round(
                F.log(
                    (F.col("cb").cast("double") / F.col("n_big"))
                    / (
                        (F.col("c1").cast("double") / F.col("n_tok"))
                        * (F.col("c2").cast("double") / F.col("n_tok"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), F.col("bigram").asc()).limit(20)


# --- Vocabulary coverage: per-source out-of-vocabulary rate against
# the corpus top-500 vocabulary — the tokenizer-fit diagnostic run
# before committing a vocab to a training run (high OOV for a source
# means the tokenizer fragments it). The vocab is a top-k over the
# unigram counts (deterministic (count desc, token asc) boundary) and
# is BROADCAST — the per-token membership probe is map-side, so the
# only corpus-sized shuffle is the per-source aggregate.
@register(
    "text_vocab_oov_rate",
    oracle=f"""
    WITH toks AS (
        SELECT source, unnest({_TOKS_SQL}) AS tok FROM documents
    ),
    vocab AS (
        SELECT tok FROM (
            SELECT tok, count(*) AS c,
                   row_number() OVER (ORDER BY count(*) DESC, tok ASC) AS rk
            FROM toks GROUP BY tok
        ) WHERE rk <= 500
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           round(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS oov_rate
    FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
    GROUP BY source
    """,
)
def text_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    )
    # top-500 as orderBy+limit → TakeOrderedAndProject (per-partition
    # top-k + driver merge of 500-row heads), never a vocab-sized
    # single-partition rank window; (count desc, token asc) keeps the
    # boundary deterministic
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(500)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens").cast("double"), 6).alias(
                "oov_rate"
            ),
        )
    )


# --- Last-touch attribution: each purchase is credited to the user's
# most recent PRECEDING touch event (click/view/signup); purchases
# with no prior touch are 'direct'. The whole computation is ONE
# window pass per user timeline (last(ignorenulls) over rows
# UNBOUNDED PRECEDING..1 PRECEDING) — no self-join, no per-user
# collect; at 100 TB this is a single shuffle on user_id and a sorted
# stream per user. Ordering ties broken by event_id so both engines
# walk identical timelines.
LAST_TOUCH_SQL = """
    WITH tl AS (
        SELECT event_type, value,
               last_value(CASE WHEN event_type IN ('click','view','signup')
                               THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS touch
        FROM events
    )
    SELECT coalesce(touch, 'direct') AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           round(sum(value), 4) AS attributed_value
    FROM tl WHERE event_type = 'purchase'
    GROUP BY 1
"""


@register("events_attribution_last_touch", oracle=LAST_TOUCH_SQL)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(
            F.col("event_type").isin("click", "view", "signup"), F.col("event_type")
        ),
        ignorenulls=True,
    ).over(w)
    return (
        ev.select("event_type", "value", touch.alias("touch"))
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch", F.lit("direct")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 4).alias("attributed_value"),
        )
    )


# --- Benford first-digit conformance of l_extendedprice: observed
# first-significant-digit distribution vs the Benford expectation
# log10(1 + 1/d), with the per-digit χ² contribution — the standard
# fabricated-data / data-quality screen. Benford is defined on the
# leading NONZERO digit: a value in [0,1) floors to integer part 0,
# whose string first char is digit 0, and 1/0 is an ANSI
# DIVIDE_BY_ZERO on Spark (inf on DuckDB) — so both engines restrict
# to digit BETWEEN 1 AND 9 and the excluded sub-1/NULL mass is
# surfaced as `n_excluded` (the truncation-observable rule). The
# first digit comes from the DECIMAL STRING of the integer part, not
# via log10/pow, so no float-boundary hazard. One aggregation pass;
# the 9-digit expectation table is a literal.
@register(
    "stats_benford_first_digit",
    oracle="""
    WITH obs0 AS (
        SELECT CAST(substring(CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit,
               count(*) AS n
        FROM lineitem GROUP BY 1
    ),
    obs AS (SELECT * FROM obs0 WHERE digit BETWEEN 1 AND 9),
    tot AS (
        SELECT sum(CASE WHEN digit BETWEEN 1 AND 9 THEN n ELSE 0 END) AS t,
               CAST(coalesce(sum(CASE WHEN digit BETWEEN 1 AND 9 THEN 0 ELSE n END), 0) AS BIGINT) AS n_excluded
        FROM obs0
    )
    SELECT o.digit,
           CAST(o.n AS BIGINT) AS n,
           round(CAST(o.n AS DOUBLE) / tot.t, 6) AS observed_p,
           round(log10(1 + 1.0 / o.digit), 6) AS benford_p,
           round(power(CAST(o.n AS DOUBLE) / tot.t - log10(1 + 1.0 / o.digit), 2)
                 / log10(1 + 1.0 / o.digit) * tot.t, 6) AS chi2_term,
           tot.n_excluded
    FROM obs o CROSS JOIN tot
    """,
)
def stats_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    digit = F.substring(
        F.floor("l_extendedprice").cast("long").cast("string"), 1, 1
    ).cast("int")
    obs0 = li.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    valid = F.col("digit").between(1, 9)
    tot = obs0.agg(
        F.sum(F.when(valid, F.col("n")).otherwise(F.lit(0))).alias("t"),
        F.coalesce(
            F.sum(F.when(valid, F.lit(0)).otherwise(F.col("n"))), F.lit(0)
        )
        .cast("long")
        .alias("n_excluded"),
    )
    obs = obs0.filter(valid)
    benford_p = F.log10(1 + 1.0 / F.col("digit"))
    obs_p = F.col("n").cast("double") / F.col("t")
    return obs.crossJoin(F.broadcast(tot)).select(
        "digit",
        F.col("n").cast("long").alias("n"),
        F.round(obs_p, 6).alias("observed_p"),
        F.round(benford_p, 6).alias("benford_p"),
        F.round(F.pow(obs_p - benford_p, 2) / benford_p * F.col("t"), 6).alias(
            "chi2_term"
        ),
        "n_excluded",
    )


# --- Cosine RANGE search (radius query): every corpus vector within
# cosine ≥ τ of each query vector — the retrieval mode dedup and
# contamination scans actually use (top-k bounds the ANSWER size;
# range bounds the SIMILARITY, which is what "return everything at
# least this close" means). Same broadcast-queries plan as
# brute_force_topk: one map-side scored pass, no shuffle at all —
# the aggregate-free twin of the top-k window. The IVF/IVF-PQ
# variants compose for the scale path exactly as they do for top-k.
@register(
    "similarity_range_search",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
               FROM embeddings WHERE vec_id < 5)
    SELECT q.query_id, v.vec_id,
           round(list_cosine_similarity(v.embedding::DOUBLE[], q.qe), 6) AS cosine_sim
    FROM embeddings v CROSS JOIN q
    WHERE v.vec_id <> q.query_id
      AND list_cosine_similarity(v.embedding::DOUBLE[], q.qe) >= 0.2
    """,
)
def similarity_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_q_emb")
    )
    v = emb.select("vec_id", F.col("embedding").alias("_emb"))
    sim = cosine_similarity("_emb", "_q_emb")
    return (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .filter(sim >= 0.2)
        .select("query_id", "vec_id", F.round(sim, 6).alias("cosine_sim"))
    )


_MMR_LAM = 0.7
# NOT "0.3": the Spark side computes (1.0 - 0.7) in doubles, which is
# 0.30000000000000004 — the SQL literal must be the same double or the
# two engines walk ulp-different greedy scores
_MMR_ONE_MINUS_LAM = repr(1.0 - _MMR_LAM)


def _mmr_pick_sql(r: int) -> str:
    """One greedy MMR pick as CTEs: score every unselected pool member
    against the selected set, take rank 1 per query. MATERIALIZED for
    the same reason as the k-core chain (each round references the
    previous selection twice)."""
    return f"""
    p{r} AS MATERIALIZED (
        SELECT query_id, vec_id, rel, score, {r} AS mmr_rank FROM (
            SELECT c.query_id, c.vec_id, c.rel,
                   {_MMR_LAM} * c.rel
                     - {_MMR_ONE_MINUS_LAM} * coalesce(mx.ms, 0.0) AS score,
                   row_number() OVER (
                       PARTITION BY c.query_id
                       ORDER BY {_MMR_LAM} * c.rel
                                - {_MMR_ONE_MINUS_LAM} * coalesce(mx.ms, 0.0) DESC,
                                c.vec_id ASC) AS rk
            FROM pool c
            LEFT JOIN (
                SELECT s.query_id, si.va AS vec_id, max(si.sim) AS ms
                FROM sel{r - 1} s
                JOIN sims si ON si.query_id = s.query_id AND si.vb = s.vec_id
                GROUP BY 1, 2
            ) mx ON mx.query_id = c.query_id AND mx.vec_id = c.vec_id
            WHERE NOT EXISTS (SELECT 1 FROM sel{r - 1} s
                              WHERE s.query_id = c.query_id
                                AND s.vec_id = c.vec_id)
        ) WHERE rk = 1
    ),
    sel{r} AS MATERIALIZED (
        SELECT query_id, vec_id FROM sel{r - 1}
        UNION ALL SELECT query_id, vec_id FROM p{r}
    )"""


# --- MMR diversified re-ranking (Carbonell & Goldstein 1998): from
# each query's cosine top-30 shortlist, greedily pick 10 maximizing
# λ·relevance − (1−λ)·max-similarity-to-already-picked — the
# diversified-retrieval step that stops a near-dup cluster from
# monopolizing a result list (eval-set construction and RAG sampling
# both need it). Pool selection is the brute_force_topk scored pass;
# the greedy walk runs on the ≤30-row pool (collected like the
# k-means centroid sets — bounded by construction). Every value the
# walk reads (rel, pairwise sim) is ROUNDED first, so both engines
# select the identical sequence; the oracle replays the greedy as 10
# chained MATERIALIZED pick-CTEs.
@register(
    "similarity_mmr_rerank",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
               FROM embeddings WHERE vec_id < 2),
    scored AS (
        SELECT q.query_id, v.vec_id,
               CASE WHEN list_dot_product(v.embedding::DOUBLE[], v.embedding::DOUBLE[]) > 0
                         AND list_dot_product(q.qe, q.qe) > 0
                    THEN round(list_cosine_similarity(v.embedding::DOUBLE[], q.qe), 6)
               END AS rel
        FROM embeddings v CROSS JOIN q
        WHERE v.vec_id <> q.query_id
    ),
    pool AS MATERIALIZED (
        SELECT query_id, vec_id, rel FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY rel DESC, vec_id) AS prk
            FROM scored WHERE rel IS NOT NULL
        ) WHERE prk <= 30
    ),
    sims AS MATERIALIZED (
        SELECT a.query_id, a.vec_id AS va, b.vec_id AS vb,
               round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                            eb.embedding::DOUBLE[]), 6) AS sim
        FROM pool a
        JOIN pool b ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id
    ),
    sel0 AS (SELECT CAST(NULL AS BIGINT) AS query_id,
                    CAST(NULL AS BIGINT) AS vec_id WHERE 1 = 0),
    {",".join(_mmr_pick_sql(r) for r in range(1, 11))}
    SELECT query_id, CAST(mmr_rank AS INTEGER) AS mmr_rank, vec_id, rel,
           -- floor(x·1e6+0.5)/1e6: cross-engine HALF_UP grid (Python
           -- round is HALF_EVEN; exact .5 boundaries differ otherwise)
           floor(score * 1000000 + 0.5) / 1000000 AS mmr_score
    FROM ({" UNION ALL ".join(f"SELECT * FROM p{r}" for r in range(1, 11))})
    """,
)
def similarity_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.extensions.similarity import mmr_rerank

    emb = load_table(spark, sf_dir, "embeddings")
    return mmr_rerank(
        emb, emb.filter(F.col("vec_id") < 2), k=10, pool=30, lam=_MMR_LAM
    )
