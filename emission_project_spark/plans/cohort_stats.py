"""Cohort & concentration statistics — round-7 batch 2.

Customer-economics readouts a data team runs next to the drift/AB
stack already in ``drift_stats.py``: revenue concentration (Gini),
categorical dependence (mutual information), RFM quartile
segmentation, and a Kaplan-Meier time-to-conversion curve.

Determinism notes (the usual house discipline):
- every ranking that feeds ntile/row_number carries a full tie-break
  (metric, id) so both engines bucket identically;
- the KM survival product is computed as exp of a WINDOW-cumulative
  sum of ln terms — a sequential, ordered summation, so Spark and
  DuckDB add in the same order; a d==n collapse is handled with an
  explicit zero flag because Spark ``log(0)`` is NULL while DuckDB's
  is -inf;
- all floats crossing the compare boundary are round(6)-ed on both
  sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from emission_project_spark.catalog.tables import load_table
from emission_project_spark.plans.registry import register


# --- Gini coefficient of per-customer revenue — the inequality /
# concentration profile of the order book (used in curation to detect
# a corpus dominated by a few sources; stated here on customers, the
# schema's natural unit). Formula on ascending-sorted revenue x_1..x_n:
# G = 2·Σ i·x_i / (n·Σx) − (n+1)/n. Σ i·x_i within a tie block is x·Σi
# regardless of which tied row takes which i, so ties cannot flip the
# value — which means any exact row_number works. The position comes
# from functions/ranks.global_position (two-level bucketed prefix sums
# over (x, custkey)): each task sorts ~1/n of the customers, exact at
# any scale with no binning needed. The oracle keeps the textbook
# global-window form (DuckDB, tiny data).
@register(
    "stats_gini_concentration",
    oracle="""
    WITH rev AS (
        SELECT o_custkey, sum(o_totalprice) AS x
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS i FROM rev
    )
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(x), 2) AS total_revenue,
           round(2.0 * sum(i * x) / (count(*) * sum(x))
                 - (count(*) + 1.0) / count(*), 6) AS gini
    FROM ranked
    """,
)
def stats_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.functions.ranks import global_position

    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("x"))
    ranked = global_position(
        rev, [F.col("x").asc(), F.col("o_custkey").asc()]
    ).select("x", "i")
    n = F.count(F.lit(1))
    return ranked.agg(
        n.cast("long").alias("n_customers"),
        F.round(F.sum("x"), 2).alias("total_revenue"),
        F.round(
            2.0 * F.sum(F.col("i") * F.col("x")) / (n * F.sum("x"))
            - (n + F.lit(1.0)) / n,
            6,
        ).alias("gini"),
    )


def _segment_priority_cells(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The segment × priority contingency cells ``(seg, pri, n)`` and
    the marginals folded from them: per segment ``(seg, ns)``, per
    priority ``(pri, np)`` and the 1-row grand total ``(t)``."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    # Materialized: inline, the consumers rescan orders and customer
    # and rerun the join (sf0.1 parquet rows read: 165,000 → 630,000
    # for mutual information, → 330,000 for Cramér's V and χ²).
    cells = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_mktsegment").alias("seg"), F.col("o_orderpriority").alias("pri")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    ms = cells.groupBy("seg").agg(F.sum("n").alias("ns"))
    mp = cells.groupBy("pri").agg(F.sum("n").alias("np"))
    return cells, ms, mp, cells.agg(F.sum("n").alias("t"))


# --- Mutual information (nats) between customer market segment and
# order priority — the feature-selection dependence readout that
# complements stats_chi2_segment_priority (χ² tests independence; MI
# quantifies it in information units). One fact-dim join, one 25-cell
# contingency aggregate; marginals fold from the CELL table (25 rows),
# never a second corpus pass.
@register(
    "stats_mutual_info_priority_segment",
    oracle="""
    WITH cells AS (
        SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
               count(*) AS n
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ),
    tot AS (SELECT sum(n) AS t FROM cells),
    ms AS (SELECT seg, sum(n) AS ns FROM cells GROUP BY 1),
    mp AS (SELECT pri, sum(n) AS np FROM cells GROUP BY 1)
    SELECT CAST(tot.t AS BIGINT) AS n_orders,
           CAST(count(*) AS BIGINT) AS n_cells,
           round(sum((CAST(c.n AS DOUBLE) / tot.t)
                     * ln((CAST(c.n AS DOUBLE) * tot.t)
                          / (CAST(ms.ns AS DOUBLE) * mp.np))), 6) AS mi_nats
    FROM cells c
    JOIN ms ON ms.seg = c.seg
    JOIN mp ON mp.pri = c.pri
    CROSS JOIN tot
    GROUP BY tot.t
    """,
)
def stats_mutual_info_priority_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells, ms, mp, tot = _segment_priority_cells(spark, sf_dir)
    joined = (
        cells.join(F.broadcast(ms), "seg")
        .join(F.broadcast(mp), "pri")
        .crossJoin(F.broadcast(tot))
    )
    term = (F.col("n").cast("double") / F.col("t")) * F.log(
        (F.col("n").cast("double") * F.col("t"))
        / (F.col("ns").cast("double") * F.col("np"))
    )
    return joined.groupBy("t").agg(
        F.col("t").cast("long").alias("n_orders"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.round(F.sum(term), 6).alias("mi_nats"),
    ).select("n_orders", "n_cells", "mi_nats")


# --- RFM quartile segmentation of purchasers: recency (days since
# last purchase, vs the corpus clock), frequency (# purchases),
# monetary (Σ value), each cut into ntile(4) with quartile 1 = best
# and a (metric, user_id) tie-break so both engines bucket the same
# users into the same quartiles. Output is the segment histogram
# (≤64 rows) — the thing a lifecycle team actually reads. Each
# quartile is ntile(4) recovered from a DISTRIBUTED row position
# (functions/ranks.global_position + ntile_from_position) — three
# bucketed rank passes over the USER-sized table, no single-partition
# window anywhere. The passes run INDEPENDENTLY on narrow (user_id,
# metric) projections and join on user_id: chaining them (pass 2
# ranking pass 1's output) measured 2.5× slower at both sf0.1 and sf1,
# because each pass recomputed its predecessors' window chains and the
# sorts carried an ever-wider row.
@register(
    "events_rfm_segments",
    oracle="""
    WITH clock AS (SELECT max(ts) AS mx FROM events),
    u AS (
        SELECT user_id,
               date_diff('day', CAST(max(ts) AS DATE),
                         CAST((SELECT mx FROM clock) AS DATE)) AS rec_days,
               count(*) AS freq,
               sum(value) AS mon
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    q AS (
        SELECT ntile(4) OVER (ORDER BY rec_days ASC, user_id) AS r,
               ntile(4) OVER (ORDER BY freq DESC, user_id) AS f,
               ntile(4) OVER (ORDER BY mon DESC, user_id) AS m
        FROM u
    )
    SELECT r, f, m, CAST(count(*) AS BIGINT) AS n_users
    FROM q GROUP BY 1, 2, 3
    """,
)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase")
    mx = ev.agg(F.max("ts").alias("mx"))
    u = (
        p.groupBy("user_id")
        .agg(F.max("ts").alias("last_ts"), F.count(F.lit(1)).alias("freq"),
             F.sum("value").alias("mon"))
        .crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            F.datediff(F.to_date("mx"), F.to_date("last_ts")).alias("rec_days"),
            "freq",
            "mon",
        )
        # Materialized: u feeds the three rank calls (each samples it
        # and ranks it) and the n_tot probe; inline, they rescan events
        # (sf0.1: 200,000 → 600,000 parquet rows).
        .localCheckpoint(eager=False)
    )
    from emission_project_spark.functions.ranks import (
        global_position,
        ntile_from_position,
    )

    pr = global_position(
        u.select("user_id", "rec_days"),
        [F.col("rec_days").asc(), F.col("user_id").asc()],
        out_col="ir",
    ).select("user_id", "ir")
    pf = global_position(
        u.select("user_id", "freq"),
        [F.col("freq").desc(), F.col("user_id").asc()],
        out_col="if_",
    ).select("user_id", "if_")
    pm = global_position(
        u.select("user_id", "mon"),
        [F.col("mon").desc(), F.col("user_id").asc()],
        out_col="im",
    ).select("user_id", "im")
    ranked = pr.join(pf, "user_id").join(pm, "user_id")
    n_tot = u.agg(F.count(F.lit(1)).alias("n_tot"))
    q = ranked.crossJoin(F.broadcast(n_tot)).select(
        ntile_from_position(F.col("ir"), F.col("n_tot"), 4).alias("r"),
        ntile_from_position(F.col("if_"), F.col("n_tot"), 4).alias("f"),
        ntile_from_position(F.col("im"), F.col("n_tot"), 4).alias("m"),
    )
    return q.groupBy("r", "f", "m").agg(F.count(F.lit(1)).alias("n_users"))


# --- Kaplan-Meier time-to-conversion: for every user whose journey
# starts with a signup, the days until their first purchase at or
# after it; users who never convert are right-CENSORED at the corpus
# clock — the estimator that makes "median days to convert" honest
# when most users haven't converted yet (a plain average silently
# drops the censored mass). S(t) = Π_{t_i ≤ t} (1 − d_i/n_i) over
# distinct event days, computed as exp of the window-cumulative sum
# of ln(1 − d/n) — a SEQUENTIAL ordered summation, identical in both
# engines — with an explicit zero flag for a d==n collapse (Spark
# ln(0) is NULL, DuckDB's is -inf; neither is allowed to reach the
# output). The risk-set size n_i folds from ONE ordered pass over the
# per-day duration histogram (total − cumulative preceding), never a
# per-time rescan of users.
@register(
    "events_kaplan_meier",
    oracle="""
    WITH clock AS (SELECT max(ts) AS mx FROM events),
    s AS (
        SELECT user_id, min(ts) AS start_ts FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ),
    p AS (
        SELECT s.user_id, s.start_ts, min(e.ts) AS conv_ts
        FROM s LEFT JOIN events e
          ON e.user_id = s.user_id AND e.event_type = 'purchase'
         AND e.ts >= s.start_ts
        GROUP BY 1, 2
    ),
    dur AS (
        SELECT CASE WHEN conv_ts IS NULL
                    THEN date_diff('day', CAST(start_ts AS DATE),
                                   CAST((SELECT mx FROM clock) AS DATE))
                    ELSE date_diff('day', CAST(start_ts AS DATE),
                                   CAST(conv_ts AS DATE)) END AS t,
               CASE WHEN conv_ts IS NULL THEN 0 ELSE 1 END AS ev
        FROM p
    ),
    byday AS (
        SELECT t, sum(ev) AS d, count(*) AS c FROM dur GROUP BY t
    ),
    tot AS (SELECT sum(c) AS n FROM byday),
    risk AS (
        SELECT t, d,
               tot.n - coalesce(sum(c) OVER (ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
        FROM byday CROSS JOIN tot
    ),
    km AS (
        SELECT t, d, n_risk,
               sum(CASE WHEN d < n_risk THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk)
                        ELSE 0 END)
                   OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS lnsum,
               max(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
                   OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS hit_zero
        FROM risk
    )
    SELECT CAST(t AS BIGINT) AS t_days,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS n_events,
           round(CASE WHEN hit_zero = 1 THEN 0.0 ELSE exp(lnsum) END, 6) AS survival
    FROM km WHERE d > 0
    """,
)
def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("mx"))
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("start_ts"))
    )
    pe = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts")
    )
    p = (
        s.join(pe, (s["user_id"] == pe["user_id"]) & (pe["pts"] >= s["start_ts"]), "left")
        .groupBy(s["user_id"], "start_ts")
        .agg(F.min("pts").alias("conv_ts"))
    )
    dur = p.crossJoin(F.broadcast(mx)).select(
        F.when(
            F.col("conv_ts").isNull(),
            F.datediff(F.to_date("mx"), F.to_date("start_ts")),
        )
        .otherwise(F.datediff(F.to_date("conv_ts"), F.to_date("start_ts")))
        .alias("t"),
        F.when(F.col("conv_ts").isNull(), 0).otherwise(1).alias("ev"),
    )
    # Materialized: byday is read twice (total + pass); inline, the
    # query writes more shuffle (sf0.1: 18,205 → 18,625 bytes) and
    # runs slower (median 0.58 → 0.66 s over 8 runs).
    byday = dur.groupBy("t").agg(
        F.sum("ev").alias("d"), F.count(F.lit(1)).alias("c")
    ).localCheckpoint(eager=False)
    tot = byday.agg(F.sum("c").alias("n"))
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_cur = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    risk = byday.crossJoin(F.broadcast(tot)).select(
        "t",
        "d",
        (F.col("n") - F.coalesce(F.sum("c").over(w_prev), F.lit(0))).alias("n_risk"),
    )
    km = risk.select(
        "t",
        "d",
        "n_risk",
        F.sum(
            F.when(
                F.col("d") < F.col("n_risk"),
                F.log(1.0 - F.col("d").cast("double") / F.col("n_risk")),
            ).otherwise(F.lit(0.0))
        )
        .over(w_cur)
        .alias("lnsum"),
        F.max(F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0))
        .over(w_cur)
        .alias("hit_zero"),
    )
    return km.filter(F.col("d") > 0).select(
        F.col("t").cast("long").alias("t_days"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("n_events"),
        F.round(
            F.when(F.col("hit_zero") == 1, F.lit(0.0)).otherwise(F.exp("lnsum")), 6
        ).alias("survival"),
    )


# --- Poisson bootstrap CI (B=200) for the corpus mean document
# length — THE bootstrap that works at 100 TB: classical resampling
# needs n indexed draws per replicate from a global row index
# (undistributable); the Poisson(1) approximation (Chamandy et al.,
# Google 2012) gives every row an independent weight per replicate,
# so the whole computation is one map-side weight expansion + a
# B-key aggregate with map-side partial combine + a B-row quantile.
# Weights are DETERMINISTIC: both engines derive the identical
# uniform for the identical (row, replicate) from md5 and invert it
# through the same Poisson(1) CDF ladder. Replicate means are
# ratios of EXACT INTEGER sums (weight × n_chars), so no
# accumulation-order float hazard exists anywhere; means are
# round(6)-ed before the percentile so both engines take quantiles
# of identical 200-value multisets (`percentile` ≡ `quantile_cont`,
# the winsorized-stats precedent).
#
# Round-9 rewrite, two steps (measured at sf1, warm, min-of-2):
# 1. Draw layout: the first build hashed md5 once per
#    (doc, replicate) — 200 full hashes per doc and a ×200 row
#    expansion through the shuffle (14.7 s). One md5 is 16 bytes =
#    sixteen 8-bit draws, so replicate b now reads BYTE b%16 of
#    md5(doc_id||'-'||b//16): 13 hashes per doc. The 8-bit draw
#    quantizes the CDF thresholds to the 1/256 grid AND truncates
#    the Poisson tail — max u = 255/256 < CDF[4], so weights reach
#    exactly {0..4} (wt ≥ 5, P = 0.59%, collapses into 4; pinned in
#    tests/test_cohort_stats.py). The replicate statistic is the
#    ratio Σwt·x/Σwt — invariant to the weight mean — and the ~3%
#    variance shift is orders below B=200 resampling noise. The
#    draws are IDENTICAL on both engines (v/256.0 is exact:
#    v < 2^8, power-of-2 divisor; thresholds never hit the grid).
# 2. Execution: the pure-JVM folds of that layout plateau at ~6 s —
#    A/B'd three shapes (16 in-aggregate weight ladders / hoisted
#    weight projection / ×208 posexplode) and three hex decoders
#    (conv 6.4 s, ascii arithmetic 5.6 s, fused map-literal 10.5 s):
#    10M interpreted draw evaluations dominate every one. This is
#    the blocked-numeric-kernel case (the embeddings-BLAS
#    precedent, extensions/similarity.py): an Arrow ``mapInPandas``
#    computes per-PARTITION partial (Σwt, Σwt·n_chars) vectors —
#    hashlib md5 (RFC-identical to Spark/DuckDB md5; digest byte r
#    ≡ hex chars 2r+1..2r+2) + one numpy searchsorted LUT — and
#    emits 208 partial rows per partition. 1.4 s at sf1 (10× the
#    original); state is 2×208 longs per partition at ANY scale and
#    the only shuffle is 208×n_partitions partial rows.
_POIS_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
]

_POIS_CASE_SQL = (
    "CASE "
    + " ".join(f"WHEN u < {c!r} THEN {k}" for k, c in enumerate(_POIS_CDF))
    + " ELSE 7 END"
)


def _poisson_weight(u):
    """Spark twin of _POIS_CASE_SQL (same constants, same ladder)."""
    expr = F.lit(7)
    for k in range(len(_POIS_CDF) - 1, -1, -1):
        expr = F.when(u < F.lit(_POIS_CDF[k]), F.lit(k)).otherwise(expr)
    return expr


@register(
    "stats_poisson_bootstrap_ci",
    oracle=f"""
    WITH chunks AS (
        SELECT d.n_chars, c.c,
               md5(CAST(d.doc_id AS VARCHAR) || '-' ||
                   CAST(c.c AS VARCHAR)) AS h
        FROM documents d
        CROSS JOIN (SELECT unnest(generate_series(0, 12)) AS c) c
    ),
    reps AS (
        SELECT c.c * 16 + r.r AS b, c.n_chars,
               ('0x' || substring(c.h, r.r * 2 + 1, 2))::BIGINT / 256.0 AS u
        FROM chunks c
        CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS r) r
        WHERE c.c * 16 + r.r < 200
    ),
    w AS (SELECT b, n_chars, {_POIS_CASE_SQL} AS wt FROM reps),
    means AS (
        SELECT b, round(CAST(sum(wt * n_chars) AS DOUBLE) / sum(wt), 6) AS m
        FROM w GROUP BY b HAVING sum(wt) > 0
    ),
    pt AS (SELECT round(avg(CAST(n_chars AS DOUBLE)), 6) AS point_mean,
                  CAST(count(*) AS BIGINT) AS n_docs
           FROM documents)
    SELECT pt.point_mean, pt.n_docs,
           CAST(count(*) AS BIGINT) AS n_replicates,
           round(avg(m), 6) AS boot_mean,
           round(quantile_cont(m, 0.025), 6) AS ci_lo,
           round(quantile_cont(m, 0.975), 6) AS ci_hi
    FROM means CROSS JOIN pt
    GROUP BY pt.point_mean, pt.n_docs
    """,
)
def stats_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_reps, per_chunk = 200, 16
    n_chunks = (n_reps + per_chunk - 1) // per_chunk  # 13
    n_slots = n_chunks * per_chunk  # 208; slots ≥ n_reps filtered below
    cdf = list(_POIS_CDF)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def partial_weight_sums(batches):
        """Per-partition partial (Σwt, Σwt·n_chars) per replicate slot.
        Executor-side Arrow kernel — imports live in the closure."""
        import hashlib

        import numpy as np
        import pandas as pd

        # LUT[v] = the _POIS_CASE_SQL ladder at u = v/256: smallest k
        # with u < cdf[k] (u never equals a threshold: u is on the
        # exact 1/256 grid, the thresholds are not)
        lut = np.searchsorted(
            np.array(cdf), np.arange(256) / 256.0, side="right"
        ).astype(np.int64)
        sw = np.zeros(n_slots, dtype=np.int64)
        sx = np.zeros(n_slots, dtype=np.int64)
        for pdf in batches:
            ids = pdf["doc_id"].astype(str).to_numpy()
            xs = pdf["n_chars"].to_numpy(dtype=np.int64)
            vs = np.empty((len(ids), n_slots), dtype=np.uint8)
            for i, d in enumerate(ids):
                vs[i] = np.frombuffer(
                    b"".join(
                        hashlib.md5(f"{d}-{c}".encode()).digest()
                        for c in range(n_chunks)
                    ),
                    dtype=np.uint8,
                )
            wt = lut[vs]
            sw += wt.sum(axis=0)
            sx += (wt * xs[:, None]).sum(axis=0)
        yield pd.DataFrame(
            {"b": np.arange(n_slots, dtype=np.int32), "sw": sw, "sx": sx}
        )

    partials = docs.mapInPandas(
        partial_weight_sums, schema="b int, sw long, sx long"
    )
    means = (
        partials.groupBy("b")
        .agg(F.sum("sw").alias("sw"), F.sum("sx").alias("sx"))
        .filter((F.col("b") < n_reps) & (F.col("sw") > 0))
        .select(F.round(F.col("sx").cast("double") / F.col("sw"), 6).alias("m"))
    )
    pt = docs.agg(
        F.round(F.avg(F.col("n_chars").cast("double")), 6).alias("point_mean"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    ci = means.agg(
        F.count(F.lit(1)).cast("long").alias("n_replicates"),
        F.round(F.avg("m"), 6).alias("boot_mean"),
        F.round(F.expr("percentile(m, 0.025)"), 6).alias("ci_lo"),
        F.round(F.expr("percentile(m, 0.975)"), 6).alias("ci_hi"),
    )
    return pt.crossJoin(F.broadcast(ci)).select(
        "point_mean", "n_docs", "n_replicates", "boot_mean", "ci_lo", "ci_hi"
    )


# --- Top converting session paths: sessionize each user timeline
# (30-minute inactivity gap — the events_sessionize contract), render
# the within-session event-type sequence as a path string, and rank
# the 10 most common paths with their conversion share — the
# path-mining readout behind "which journeys actually buy". The path
# assembly is ONE ordered window pass + one per-session aggregate
# (array_sort of (ts, event_id, type) structs — no second sort
# shuffle); ties inside a session are broken by event_id so both
# engines render identical strings. Top-k is count-ranked with a path
# tie-break — pure integers, no float boundary.
@register(
    "events_path_topk",
    oracle="""
    WITH ordered AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
               CASE WHEN CAST(ts AS TIMESTAMP)
                         - lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    tagged AS (
        SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS session_no
        FROM ordered
    ),
    paths AS (
        SELECT user_id, session_no,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
        FROM tagged GROUP BY user_id, session_no
    )
    SELECT path,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(converted) AS BIGINT) AS n_converting,
           round(CAST(sum(converted) AS DOUBLE) / count(*), 6) AS conversion_rate
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path ASC
    LIMIT 10
    """,
)
def events_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w_lag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        # exact-µs gap arithmetic (the events_dwell_times precedent):
        # ts.cast("long") truncates to seconds, which splits/merges
        # sessions differently from the oracle's full-TIMESTAMP
        # `> INTERVAL 30 MINUTE` on fractional-second boundaries — and
        # from the full-precision events_sessionize contract
        F.when(
            F.unix_micros(F.col("ts"))
            - F.lag(F.unix_micros(F.col("ts"))).over(w_lag)
            > 30 * 60 * 1_000_000,
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    tagged = ordered.withColumn(
        "session_no",
        F.sum("new_session").over(w_lag.rowsBetween(Window.unboundedPreceding, 0)),
    )
    paths = tagged.groupBy("user_id", "session_no").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
        ).alias("path"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("converted").cast("long").alias("n_converting"),
        )
        .select(
            "path",
            "n_sessions",
            "n_converting",
            F.round(
                F.col("n_converting").cast("double") / F.col("n_sessions"), 6
            ).alias("conversion_rate"),
        )
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(10)
    )


# --- Cramér's V (bias-uncorrected) for segment × priority — the
# NORMALIZED dependence readout that makes the χ² statistic
# comparable across tables of different size and shape:
# V = sqrt(χ² / (n·(min(r,c)−1))). Same one-join 25-cell contingency
# as the MI query; marginals and the grand total fold from the cell
# table. Output also carries χ² and the dof so the three dependence
# readouts (χ², MI, V) reconcile against each other in tests.
@register(
    "stats_cramers_v_priority_segment",
    oracle="""
    WITH cells AS (
        SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri, count(*) AS n
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ),
    tot AS (SELECT sum(n) AS t FROM cells),
    ms AS (SELECT seg, sum(n) AS ns FROM cells GROUP BY 1),
    mp AS (SELECT pri, sum(n) AS np FROM cells GROUP BY 1),
    -- the FULL r×c grid: a structurally-zero cell still contributes
    -- (0−e)²/e to χ² — summing only observed cells understates the
    -- statistic on sparse tables (a crafted perfect-dependence 2×2
    -- yields 2.0 instead of the correct 4.0)
    grid AS (
        SELECT ms.seg, mp.pri, ms.ns, mp.np, coalesce(c.n, 0) AS n
        FROM ms CROSS JOIN mp
        LEFT JOIN cells c ON c.seg = ms.seg AND c.pri = mp.pri
    ),
    chi AS (
        SELECT sum(power(g.n - CAST(g.ns AS DOUBLE) * g.np / tot.t, 2)
                   / (CAST(g.ns AS DOUBLE) * g.np / tot.t)) AS chi2,
               max(tot.t) AS n,
               CAST(count(DISTINCT g.seg) AS BIGINT) AS r,
               CAST(count(DISTINCT g.pri) AS BIGINT) AS cc
        FROM grid g
        CROSS JOIN tot
    )
    SELECT CAST(n AS BIGINT) AS n_orders,
           round(chi2, 6) AS chi2,
           CAST((r - 1) * (cc - 1) AS BIGINT) AS dof,
           round(sqrt(chi2 / (n * (least(r, cc) - 1))), 6) AS cramers_v
    FROM chi
    """,
)
def stats_cramers_v_priority_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells, ms, mp, tot = _segment_priority_cells(spark, sf_dir)
    # full r×c grid so structurally-zero cells contribute (0−e)²/e
    grid = (
        ms.crossJoin(F.broadcast(mp))
        .join(F.broadcast(cells), ["seg", "pri"], "left")
        .withColumn("n", F.coalesce("n", F.lit(0)))
    )
    exp = F.col("ns").cast("double") * F.col("np") / F.col("t")
    chi = (
        grid.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(F.pow(F.col("n") - exp, 2) / exp).alias("chi2"),
            F.max("t").alias("n"),
            F.countDistinct("seg").alias("r"),
            F.countDistinct("pri").alias("cc"),
        )
    )
    return chi.select(
        F.col("n").cast("long").alias("n_orders"),
        F.round("chi2", 6).alias("chi2"),
        ((F.col("r") - 1) * (F.col("cc") - 1)).cast("long").alias("dof"),
        F.round(
            F.sqrt(F.col("chi2") / (F.col("n") * (F.least("r", "cc") - 1))), 6
        ).alias("cramers_v"),
    )
