"""Keyword & feature extraction — round-7 batch 5.

RAKE keyword extraction (Rose et al. 2010) and hashing-trick feature
buckets — the two text-mining primitives between raw tokens and a
model: what a corpus is ABOUT (keyword phrases) and how it maps into
a fixed-width feature space (hashed buckets + their collision profile).

Parity discipline: phrase segmentation is a WINDOW running-sum over a
shared stopword literal (identical boundaries in both engines); all
hash bucketing is md5-substring arithmetic (the curation lottery
pattern), never an engine-native hash; scores are rounded before
ranking with a phrase tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from emission_project_spark.catalog.tables import load_table
from emission_project_spark.functions.text import tokens
from emission_project_spark.plans.registry import register

# fixed stopword list shared verbatim by both engines (a tiny English
# function-word set; RAKE's quality rides the list, its MECHANICS are
# what this query pins)
RAKE_STOP = (
    "a an and are as at be but by for from has have in is it its of on "
    "or that the this to was were will with not no if then than so"
).split()

_STOP_SQL = ", ".join(f"'{w}'" for w in RAKE_STOP)


# --- RAKE keyword phrases: split each document into candidate phrases
# at stopword boundaries, score each word by degree/frequency over the
# phrase graph (deg(w) = Σ |phrase| over w's phrase occurrences), and
# score a phrase as the sum of its words' scores — the classic
# unsupervised keyword extractor. Everything is two corpus passes
# (phrase build, word-stat build) + vocab-sized joins; the phrase
# segmentation is a per-doc window running-sum of the stop indicator,
# so no per-row Python ever runs. Phrases capped at 4 words (the RAKE
# convention that kills run-ons); output is the top 15 by rounded
# score with min corpus frequency 2 and a phrase tie-break.
@register(
    "text_rake_keywords",
    oracle=f"""
    WITH toked AS (
        SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS toks
        FROM documents
    ),
    pos AS (
        SELECT doc_id, i, toks[i] AS tok,
               CASE WHEN toks[i] IN ({_STOP_SQL}) THEN 1 ELSE 0 END AS st
        FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
              FROM toked)
    ),
    grp AS (
        SELECT doc_id, i, tok, st,
               sum(st) OVER (PARTITION BY doc_id ORDER BY i
                             ROWS UNBOUNDED PRECEDING) AS g
        FROM pos
    ),
    phrases AS (
        SELECT doc_id, g,
               string_agg(tok, ' ' ORDER BY i) AS phrase,
               count(*) AS plen
        FROM grp WHERE st = 0
        GROUP BY doc_id, g
        HAVING count(*) <= 4
    ),
    words AS (
        SELECT doc_id, g, plen, unnest(string_split(phrase, ' ')) AS w
        FROM phrases
    ),
    wstats AS (
        SELECT w, count(*) AS freq, sum(plen) AS deg FROM words GROUP BY w
    ),
    pscore AS (
        SELECT wo.doc_id, wo.g, sum(CAST(ws.deg AS DOUBLE) / ws.freq) AS score
        FROM words wo JOIN wstats ws ON ws.w = wo.w
        GROUP BY wo.doc_id, wo.g
    )
    SELECT p.phrase,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           round(max(s.score), 6) AS rake_score
    FROM phrases p
    JOIN pscore s ON s.doc_id = p.doc_id AND s.g = p.g
    GROUP BY p.phrase
    HAVING count(*) >= 2
    ORDER BY rake_score DESC, phrase ASC
    LIMIT 15
    """,
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", tokens(F.lower(F.col("text"))).alias("toks"))
    pos = toked.select(
        "doc_id", F.posexplode("toks").alias("i0", "tok")
    ).select(
        "doc_id",
        (F.col("i0") + 1).alias("i"),
        "tok",
        F.when(F.col("tok").isin(RAKE_STOP), 1).otherwise(0).alias("st"),
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    grp = pos.withColumn("g", F.sum("st").over(w_run))
    phrases = (
        grp.filter(F.col("st") == 0)
        .groupBy("doc_id", "g")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "tok"))),
                    lambda s: s["tok"],
                ),
            ).alias("phrase"),
            F.count(F.lit(1)).alias("plen"),
        )
        .filter(F.col("plen") <= 4)
        # Materialized: read twice (word stats + phrase scoring);
        # inline, the second rescans and re-tokenizes (sf0.1: 5,000 →
        # 10,000 parquet rows, 3.4 → 6.6 MB shuffle written).
        .localCheckpoint(eager=False)
    )
    words = phrases.select(
        "doc_id", "g", "plen", F.explode(F.split("phrase", " ")).alias("w")
    )
    wstats = words.groupBy("w").agg(
        F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg")
    )
    pscore = (
        words.join(F.broadcast(wstats), "w")
        .groupBy("doc_id", "g")
        .agg(F.sum(F.col("deg").cast("double") / F.col("freq")).alias("score"))
    )
    return (
        phrases.join(pscore, ["doc_id", "g"])
        .groupBy("phrase")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.round(F.max("score"), 6).alias("rake_score"),
        )
        .filter(F.col("n_occurrences") >= 2)
        .orderBy(F.col("rake_score").desc(), F.col("phrase").asc())
        .limit(15)
    )


# --- Hashing-trick feature buckets (Weinberger et al. 2009): every
# token maps to md5(token) mod 64 — the fixed-width featurization
# fastText-style classifiers train on — and the output is the bucket
# LOAD PROFILE: occupancy, distinct-token collision count, and mass
# share per bucket. This is the readout that decides whether 64
# buckets is enough before a training run (a hot bucket = features
# aliasing each other). One corpus pass + a 64-key aggregate; the
# bucket hash is md5-substring arithmetic, identical in both engines
# (never an engine-native hash).
@register(
    "text_hash_feature_buckets",
    oracle="""
    WITH toks AS (
        SELECT unnest(regexp_extract_all(lower(text), '\\w+')) AS tok
        FROM documents
    ),
    b AS (
        SELECT tok,
               ('0x' || substring(md5(tok), 1, 15))::BIGINT % 64 AS bucket
        FROM toks
    ),
    tot AS (SELECT count(*) AS t FROM b)
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct,
           round(CAST(count(*) AS DOUBLE) / tot.t, 6) AS mass_share
    FROM b CROSS JOIN tot
    GROUP BY bucket, tot.t
    """,
)
def text_hash_feature_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("tok"))
    b = toks.select(
        "tok",
        F.pmod(
            F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint"),
            F.lit(64),
        ).alias("bucket"),
    )
    tot = b.agg(F.count(F.lit(1)).alias("t"))
    return (
        b.crossJoin(F.broadcast(tot))
        .groupBy("bucket", "t")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("tok").alias("n_distinct"),
        )
        .select(
            "bucket",
            "n_tokens",
            "n_distinct",
            F.round(F.col("n_tokens").cast("double") / F.col("t"), 6).alias(
                "mass_share"
            ),
        )
    )
