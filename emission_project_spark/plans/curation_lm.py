"""Language-model-based curation scoring: DSIR importance weights and
an interpolated bigram perplexity filter.

Two published data-selection methods a 100 TB pretraining pipeline runs
over its raw corpus (both operate on the `documents` table and both are
pure DataFrame plans — no Python in the data path):

- DSIR (Xie et al. 2023, "Data Selection for Language Models via
  Importance Resampling"): score every document by the log-likelihood
  ratio of a target-domain n-gram LM over a raw-domain LM built from
  hashed features; sample proportionally to exp(score). Here the
  feature space is the unigram vocabulary (the paper's hashed n-grams
  degenerate to this at small vocab), target = the English slice,
  raw = the rest.
- CCNet-style perplexity filtering (Wenzek et al. 2020): score each
  document by its perplexity under a small LM trained on the corpus
  (CCNet uses KenLM 5-grams; the engine-shaped equivalent is an
  interpolated bigram model with unigram backoff, which keeps every
  probability strictly positive without explicit smoothing).

Exactness: all model counts are exact BIGINTs, every probability is
the same IEEE division in both engines, and per-document sums of the
resulting doubles carry ~1e-12 accumulated error against a 1e-4
rounding grid — orders of magnitude under the tie threshold.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emission_project_spark.catalog.tables import load_table, spread_input
from emission_project_spark.plans.registry import register

_TOKS_SQL = "regexp_extract_all(lower(text), '\\w+')"


# --- DSIR importance weights. One exploded token pass builds the
# vocab table with BOTH domain counts as conditional sums (no second
# scan, no join of two vocab tables); the 1-row totals and the
# vocab-sized feature table broadcast back onto the token stream
# (vocab is sublinear in corpus size — Heaps' law — so the broadcast
# holds at 100 TB while the per-doc regroup shuffles on doc_id).
# add-1 smoothing keeps both LMs defined on the joint vocabulary.
# Positive score = looks more like the target domain than the raw
# corpus; the downstream sampler keeps documents w.p. ∝ exp(score/T).
@register(
    "curation_dsir_weights",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, unnest({_TOKS_SQL}) AS term FROM documents
    ),
    v AS (
        SELECT term,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
                   AS ct,
               CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT)
                   AS cr
        FROM t GROUP BY term
    ),
    tot AS (
        SELECT CAST(sum(ct) AS BIGINT) AS tt,
               CAST(sum(cr) AS BIGINT) AS tr,
               CAST(count(*) AS BIGINT) AS nv
        FROM v
    )
    SELECT t.doc_id,
           any_value(t.lang) AS lang,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(sum(ln((v.ct + 1.0) / (tot.tt + tot.nv))
                     - ln((v.cr + 1.0) / (tot.tr + tot.nv))), 4) AS dsir_score
    FROM t JOIN v USING (term), tot
    GROUP BY t.doc_id
    """,
)
def curation_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "lang", F.explode(tokens(F.lower(F.col("text")))).alias("term")
    )
    is_t = F.col("lang") == "en"
    # Materialized: v feeds the totals and the broadcast score join;
    # inline, the second rescans and re-tokenizes (sf0.1: 10,000 →
    # 15,000 parquet rows).
    v = t.groupBy("term").agg(
        F.sum(F.when(is_t, 1).otherwise(0)).alias("ct"),
        F.sum(F.when(is_t, 0).otherwise(1)).alias("cr"),
    ).localCheckpoint(eager=False)
    tot = v.agg(
        F.sum("ct").cast("bigint").alias("tt"),
        F.sum("cr").cast("bigint").alias("tr"),
        F.count(F.lit(1)).alias("nv"),
    )
    lam = F.log((F.col("ct") + 1.0) / (F.col("tt") + F.col("nv"))) - F.log(
        (F.col("cr") + 1.0) / (F.col("tr") + F.col("nv"))
    )
    return (
        t.join(F.broadcast(v), "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.any_value("lang").alias("lang"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum(lam), 4).alias("dsir_score"),
        )
    )


# --- Interpolated bigram perplexity. p(w2|w1) = 0.7·c(w1w2)/c(w1)
# + 0.3·c(w2)/T — the unigram backoff term is never zero (every token
# in a document is by construction in the corpus), so no smoothing
# constants enter the bigram term and c(w1w2) ≤ c(w1) keeps the MLE
# term ≤ 1. Bigram types below MIN_BIGRAM_COUNT are pruned from the
# count table and their instances score on the backoff term alone —
# the standard count-cutoff LMs apply to bound model size, and the
# bound that keeps this plan's ONE corpus-sized join in check: the
# build side shrinks from every-distinct-bigram (Zipf: mostly hapax
# types, growing near-linearly with the corpus — the 7.7×-at-10×
# scaling round 5 measured) to repeated types only, while the pruned
# tail stays OBSERVABLE as the per-document n_backoff column. Plan
# shape: the bigram stream left-joins its own pruned count table on
# the bigram key (corpus-sized → shuffle join; broadcast would not
# survive 100 TB, though AQE still broadcasts it at small sf where it
# fits) — while the unigram table and the 1-row total broadcast.
# Documents shorter than two tokens have no bigrams and drop out,
# matching the oracle's len(toks) >= 2 guard.
MIN_BIGRAM_COUNT = 2

@register(
    "text_bigram_perplexity",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    t AS (SELECT doc_id, unnest(toks) AS term FROM d),
    u AS (SELECT term, CAST(count(*) AS BIGINT) AS cu FROM t GROUP BY term),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(toks) - 1),
                                     i -> toks[i])) AS w1,
               unnest(list_transform(generate_series(1, len(toks) - 1),
                                     i -> toks[i + 1])) AS w2
        FROM d WHERE len(toks) >= 2
    ),
    bc AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        FROM bg GROUP BY 1, 2
        HAVING count(*) >= {{min_count}}
    )
    SELECT bg.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(CASE WHEN bc.c12 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_backoff,
           round(avg(-log2(0.7 * (coalesce(bc.c12, 0) * 1.0 / u1.cu)
                           + 0.3 * (u2.cu * 1.0 / tot.n))), 4)
               AS avg_neg_log2p
    FROM bg
    LEFT JOIN bc USING (w1, w2)
    JOIN u u1 ON u1.term = bg.w1
    JOIN u u2 ON u2.term = bg.w2, tot
    GROUP BY bg.doc_id
    """.replace("{min_count}", str(MIN_BIGRAM_COUNT)),
)
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    from emission_project_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    # Materialized, spillable: the tokenized corpus feeds five
    # consumers (unigram counts ×2 broadcast sides, the 1-row total,
    # the bigram count build and the bigram probe stream); inline, each
    # rescans and re-tokenizes (sf0.1: 5,000 → 20,000 parquet rows,
    # 1.0 → 3.5 MB shuffle written).
    # Spread BEFORE the tokenizer: a documents scan with fewer populated
    # partitions than cores (one parquet row group; the
    # unsplittable-input hazard) would tokenize the whole corpus into
    # the checkpoint on one core, and every downstream map side would
    # inherit that layout. No-op on inputs that already scan wide.
    d = spread_input(docs).select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("toks")
    ).localCheckpoint(eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK)
    t = d.select("doc_id", F.explode("toks").alias("term"))
    # vocab-sized, read by both broadcast joins: exchange reuse builds it once
    u = t.groupBy("term").agg(F.count(F.lit(1)).alias("cu"))
    tot = t.agg(F.count(F.lit(1)).alias("n"))
    bg = (
        d.filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("toks"), i).alias("w1"),
                        F.element_at(F.col("toks"), i + 1).alias("w2"),
                    ),
                )
            ).alias("_bg"),
        )
        .select("doc_id", F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2"))
    )
    # count-cutoff: the join build side keeps repeated bigram types
    # only; pruned (hapax-tail) instances take the backoff term alone
    bc = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= MIN_BIGRAM_COUNT)
    )
    # No join hint here: the static sf10 plan shows this join as
    # SortMergeJoin (the post-aggregate size ESTIMATE exceeds the
    # broadcast threshold), but the count
    # table's runtime size after the cutoff is vocab-bounded (1.6 MB at
    # sf10, measured) and AQE's runtime-stats broadcast conversion
    # repairs the plan at execution. A SHUFFLE_HASH hint here would
    # FORBID that conversion and pin the worse plan.
    p = 0.7 * (F.coalesce(F.col("c12"), F.lit(0)) * 1.0 / F.col("cu_ctx")) + 0.3 * (
        F.col("cu_tok") * 1.0 / F.col("n")
    )
    return (
        bg.join(bc, ["w1", "w2"], "left")  # corpus-sized: shuffle join, not broadcast
        .join(
            F.broadcast(u.select(F.col("term").alias("w1"), F.col("cu").alias("cu_ctx"))),
            "w1",
        )
        .join(
            F.broadcast(u.select(F.col("term").alias("w2"), F.col("cu").alias("cu_tok"))),
            "w2",
        )
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.when(F.col("c12").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_backoff"),
            F.round(F.avg(-F.log2(p)), 4).alias("avg_neg_log2p"),
        )
    )


# --- Token entropy / lexical diversity. Shannon entropy of each
# document's own token distribution plus the type-token ratio — the
# standard degenerate-text detectors (a looping sampler or boilerplate
# page has low entropy at high length; a language-soup page has
# anomalously high TTR). Two grouped passes on the doc_id key: term
# counts, then a doc-window total feeding the plug-in entropy sum —
# the window and the final aggregate share one doc_id exchange.
@register(
    "text_token_entropy",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
    ),
    c AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS cnt
        FROM t GROUP BY 1, 2
    ),
    cw AS (
        SELECT doc_id, cnt,
               sum(cnt) OVER (PARTITION BY doc_id) AS n
        FROM c
    )
    SELECT doc_id,
           CAST(any_value(n) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           round(count(*) * 1.0 / any_value(n), 4) AS ttr,
           round(-sum((cnt * 1.0 / n) * log2(cnt * 1.0 / n)), 4)
               AS entropy_bits
    FROM cw
    GROUP BY doc_id
    """,
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from emission_project_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term")
    )
    c = t.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("doc_id")
    cw = c.withColumn("n", F.sum("cnt").over(w))
    p = F.col("cnt") * 1.0 / F.col("n")
    return cw.groupBy("doc_id").agg(
        F.any_value("n").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.round(F.count(F.lit(1)) * 1.0 / F.any_value("n"), 4).alias("ttr"),
        F.round(-F.sum(p * F.log2(p)), 4).alias("entropy_bits"),
    )


# --- N-gram novelty: how much genuinely NEW content each document
# adds, scanning the corpus in doc_id order — the saturation
# diagnostic behind "more data" decisions (a flattening novelty curve
# means additional documents mostly repeat the corpus). A document's
# novelty is the fraction of its distinct 3-grams whose FIRST corpus
# occurrence is this document. Decorrelation: one grouped MIN gives
# every 3-gram its first-owner doc; joining that back on the gram key
# (corpus-sized → shuffle join, not broadcast) and comparing owner to
# holder needs no per-document rescans of history.
@register(
    "text_ngram_novelty",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    g AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(generate_series(1, len(toks) - 2),
                      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
                   AS gram
        FROM d WHERE len(toks) >= 3
    ),
    first_owner AS (
        SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram
    )
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           round(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 4) AS novelty
    FROM g JOIN first_owner f USING (gram)
    GROUP BY g.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", tokens(F.lower(F.col("text"))).alias("toks"))
    g = (
        d.filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 2),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("toks"), i),
                        F.element_at(F.col("toks"), i + 1),
                        F.element_at(F.col("toks"), i + 2),
                    ),
                )
            ).alias("gram"),
        )
        .distinct()
    )
    first_owner = g.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        g.join(first_owner, "gram")  # corpus-sized gram key: shuffle join
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            novel.cast("bigint").alias("n_novel"),
            F.round(novel * 1.0 / F.count(F.lit(1)), 4).alias("novelty"),
        )
    )


# --- DSIR sampler health: effective sample size of the importance
# weights w_i = exp((score_i - max)/T) the resampler would draw with
# (Kish ESS = (Σw)²/Σw²). Low ESS/n means a handful of documents
# dominate the resampled corpus — the standard failure mode of
# importance sampling when the target and proposal LMs are far apart —
# and is the number to check BEFORE paying for the resample pass.
# Max-shift normalization makes exp() overflow-free (ESS is invariant
# to weight scaling); the max is a 1-row scalar broadcast, never a
# corpus-wide window sort. Reuses the exact rounded dsir_score surface
# the driver already verifies, so the two queries cannot drift apart.
@register(
    "curation_dsir_ess",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, unnest({_TOKS_SQL}) AS term FROM documents
    ),
    v AS (
        SELECT term,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
                   AS ct,
               CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT)
                   AS cr
        FROM t GROUP BY term
    ),
    tot AS (
        SELECT CAST(sum(ct) AS BIGINT) AS tt,
               CAST(sum(cr) AS BIGINT) AS tr,
               CAST(count(*) AS BIGINT) AS nv
        FROM v
    ),
    scores AS (
        SELECT t.doc_id,
               round(sum(ln((v.ct + 1.0) / (tot.tt + tot.nv))
                         - ln((v.cr + 1.0) / (tot.tr + tot.nv))), 4) AS s
        FROM t JOIN v USING (term), tot
        GROUP BY t.doc_id
    ),
    m AS (SELECT max(s) AS ms FROM scores),
    w AS (SELECT exp((s - m.ms) / 5.0) AS w FROM scores, m)
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           round(pow(sum(w), 2) / sum(w * w), 4) AS ess,
           round(pow(sum(w), 2) / sum(w * w) / count(*), 6) AS ess_fraction,
           round(max(w) / sum(w), 6) AS top_weight_share
    FROM w
    """,
)
def curation_dsir_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the max probe and the weight pass share the scores by exchange reuse
    scores = curation_dsir_weights(spark, sf_dir).select(F.col("dsir_score").alias("s"))
    m = scores.agg(F.max("s").alias("ms"))
    w = scores.crossJoin(F.broadcast(m)).select(
        F.exp((F.col("s") - F.col("ms")) / F.lit(5.0)).alias("w")
    )
    return w.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.pow(F.sum("w"), 2) / F.sum(F.col("w") * F.col("w")), 4).alias("ess"),
        F.round(
            F.pow(F.sum("w"), 2) / F.sum(F.col("w") * F.col("w")) / F.count(F.lit(1)),
            6,
        ).alias("ess_fraction"),
        F.round(F.max("w") / F.sum("w"), 6).alias("top_weight_share"),
    )
