"""Training-data pipeline queries: dedup, similarity, text, multimodal.

These are the north-star extensions (SURVEY.md §7.6) — first-class
engine surface, each with a DuckDB oracle. Shared-hash discipline: md5
hex strings behave identically in Spark and DuckDB, which makes minhash
signatures and simhash bits exactly checkable.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emission_project_spark.catalog.tables import load_table
from emission_project_spark.extensions.dedup import (
    BAND_A,
    BAND_B,
    MINHASH_MOD,
    exact_duplicates,
    minhash_band_signatures,
    containment_pairs,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash64,
)
from emission_project_spark.extensions.similarity import (
    brute_force_topk,
    cosine_neardup_pairs,
    ivf_topk,
    lsh_neardup_pairs,
)
from emission_project_spark.functions.text import (
    LANG_MARKERS,
    char_count,
    lang_scores,
    quality_score,
    fingerprint,
    token_count,
)
from emission_project_spark.extensions.multimodal import (
    attach_payload,
    extract_features,
    fake_image_decoder,
    resize_images,
    sample_frames,
)
from emission_project_spark.functions.vectors import l2_norm
from emission_project_spark.plans.registry import register
from emission_project_spark.plans.relational import events_sessionize

# DuckDB needs the 'g' flag for global regexp_replace (Spark is always global)
_FP_SQL = "md5(regexp_replace(lower(text), '\\W', '', 'g'))"
_TOKS_SQL = "regexp_extract_all(lower(text), '\\w+')"


# --- exact dedup: hash group-by on canonical fingerprint.
@register(
    "dedup_exact_documents",
    oracle=f"""
    SELECT {_FP_SQL} AS fingerprint,
           CAST(min(doc_id) AS BIGINT) AS canonical_doc_id,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_duplicates(docs)


# --- text analysis: token counting (whitespace/BPE-ish regex).
@register(
    "text_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_measured
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        char_count("text").alias("n_chars_measured"),
    )


# --- text analysis: quality scoring.
@register(
    "text_quality_score",
    oracle="""
    WITH m AS (
        SELECT doc_id,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(length(regexp_replace(text, '[\\w ]', '', 'g')) AS DOUBLE) AS n_punct,
               CAST(len(regexp_extract_all(lower(text), '\\w+')) AS DOUBLE) AS n_toks,
               CAST(len(list_filter(regexp_extract_all(lower(text), '\\w+'),
                    t -> t IN ('the','and','of','to','is'))) AS DOUBLE) AS n_stop
        FROM documents
    )
    SELECT doc_id,
           round(least(n_chars / 500.0, 1.0) * 0.4
                 + (1.0 - least((CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END) * 5.0, 1.0)) * 0.3
                 + (1.0 - abs((CASE WHEN n_toks > 0 THEN n_stop / n_toks ELSE 0.0 END) - 0.4)) * 0.3,
                 6) AS quality
    FROM m
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", F.round(quality_score("text"), 6).alias("quality"))


# --- text analysis: n-gram-heuristic language ID.
def _langid_case_sql() -> str:
    return """CASE WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr THEN 'de'
                   WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
                   WHEN score_es >= score_fr THEN 'es'
                   ELSE 'fr' END"""


@register(
    "text_langid",
    oracle=f"""
    WITH s AS (
        SELECT doc_id,
               {', '.join(
                   f"CAST(len(list_filter({_TOKS_SQL}, t -> t IN "
                   f"({', '.join(repr(m) for m in markers)}))) AS BIGINT) AS score_{lang}"
                   for lang, markers in LANG_MARKERS.items()
               )}
        FROM documents
    )
    SELECT doc_id, score_en, score_es, score_fr, score_de,
           {_langid_case_sql()} AS predicted_lang
    FROM s
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scores = lang_scores("text")
    out = docs.select("doc_id", *[c.alias(f"score_{lang}") for lang, c in scores.items()])
    predicted = (
        F.when(
            (F.col("score_de") >= F.col("score_en"))
            & (F.col("score_de") >= F.col("score_es"))
            & (F.col("score_de") >= F.col("score_fr")),
            "de",
        )
        .when((F.col("score_en") >= F.col("score_es")) & (F.col("score_en") >= F.col("score_fr")), "en")
        .when(F.col("score_es") >= F.col("score_fr"), "es")
        .otherwise("fr")
    )
    return out.withColumn("predicted_lang", predicted)


# --- text analysis: document fingerprint (normalization hash).
@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id, {_FP_SQL} AS fingerprint FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint("text").alias("fingerprint"))


# --- shingle-set Jaccard near-dup (exact pairwise over shingle join).
_SHINGLE_SQL = """
    toks AS (SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS t FROM documents),
    sh AS (
        SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
              FROM toks WHERE len(t) >= 3)
    )
"""


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    -- document-frequency cap mirrors the operator's
    -- MAX_DOC_FREQ=64 (stop-shingles generate no candidate pairs)
    kept AS (
        SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 64
    ),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        WHERE a.shingle IN (SELECT shingle FROM kept)
        GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           round(CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) >= 0.2
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.2)


# --- asymmetric shingle CONTAINMENT (Broder '97's second measure):
# |A∩B| / min(|A|,|B|) — the sub-document-copy detector. A short doc
# fully quoted inside a long one scores C=1.0 while Jaccard ~0, so
# this surface catches truncation/quotation chains the symmetric
# detectors miss. Same inverted-index plan (and the same MAX_DOC_FREQ
# recall cap + lower-bound contract) as dedup_ngram_jaccard; output
# oriented src=contained side, ties to the smaller id.
@register(
    "dedup_shingle_containment",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    kept AS (
        SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 64
    ),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        WHERE a.shingle IN (SELECT shingle FROM kept)
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT i.doc_a, i.doc_b, sa.n AS size_a, sb.n AS size_b,
               round(CAST(i.n_common AS DOUBLE) / least(sa.n, sb.n), 6) AS c
        FROM inter i
        JOIN sizes sa ON i.doc_a = sa.doc_id
        JOIN sizes sb ON i.doc_b = sb.doc_id
    )
    SELECT CASE WHEN size_a < size_b OR (size_a = size_b AND doc_a < doc_b)
                THEN doc_a ELSE doc_b END AS src_doc,
           CASE WHEN size_a < size_b OR (size_a = size_b AND doc_a < doc_b)
                THEN doc_b ELSE doc_a END AS dst_doc,
           c AS containment
    FROM scored WHERE c >= 0.8
    """,
)
def dedup_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs(docs, threshold=0.8)


# affine band family restated in SQL (same constants as dedup.BAND_A/B)
_BAND_VALUES = ", ".join(
    f"({b}, {a}, {c})" for b, (a, c) in enumerate(zip(BAND_A, BAND_B))
)
_MINHASH_SIG_SQL = f"""
    based AS (
        SELECT doc_id, ('0x' || substring(md5(shingle), 1, 7))::BIGINT AS h
        FROM sh
    ),
    banded AS (
        SELECT doc_id, c.band, (h * c.a + c.bb) % {MINHASH_MOD} AS h2
        FROM based CROSS JOIN (VALUES {_BAND_VALUES}) AS c(band, a, bb)
    ),
    sig AS (
        SELECT doc_id, CAST(band AS INT) AS band, min(h2) AS signature
        FROM banded GROUP BY doc_id, band
    )
"""


# --- MinHash band signatures (oracle-checkable LSH internals).
@register(
    "dedup_minhash_signatures",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    {_MINHASH_SIG_SQL}
    SELECT doc_id, band, signature FROM sig
    """,
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_band_signatures(docs)


# --- MinHash-LSH candidate pairs (bucket join on band signature).
@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    {_MINHASH_SIG_SQL}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS bands_agree
    FROM sig a
    JOIN sig b ON a.band = b.band AND a.signature = b.signature
              AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_candidates(docs)


# --- Batch twin of the streaming near-dup filter (streaming/dedup.py
# minhash_keyed → dropDuplicates on the bucket): the per-ROW band-0
# minhash bucket —
# a narrow expression with no explode/shuffle, which is what makes it
# legal upstream of a stateful streaming dedup — grouped to the
# deterministic survivor (min doc id; streaming first-arrival order is
# not oracle-stable). Shingle-less docs (< k tokens) take the unique
# fallback bucket -(doc_id)-1 so they all survive. Proves the per-row
# expression against the same md5/affine family the exploded signature
# oracle uses; tests/test_streaming.py::test_streaming_neardup_filter
# proves the micro-batch path.
@register(
    "dedup_minhash_bucket_survivors",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    based AS (
        SELECT doc_id, ('0x' || substring(md5(shingle), 1, 7))::BIGINT AS h
        FROM sh
    ),
    sig0 AS (
        SELECT doc_id,
               min((h * {BAND_A[0]} + {BAND_B[0]}) % {MINHASH_MOD}) AS bucket
        FROM based GROUP BY doc_id
    ),
    keyed AS (
        SELECT d.doc_id, COALESCE(s.bucket, -(d.doc_id) - 1) AS bucket
        FROM documents d LEFT JOIN sig0 s USING (doc_id)
    )
    SELECT bucket,
           CAST(min(doc_id) AS BIGINT) AS survivor_doc_id,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM keyed GROUP BY bucket
    """,
)
def dedup_minhash_bucket_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.streaming.dedup import minhash_keyed

    docs = load_table(spark, sf_dir, "documents")
    keyed = minhash_keyed(docs.select("doc_id", "text"))
    return keyed.groupBy("bucket").agg(
        F.min("doc_id").alias("survivor_doc_id"),
        F.count(F.lit(1)).alias("n_docs"),
    )


# --- SimHash fingerprints (bit-parity checkable via hex arithmetic).
@register(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
    ),
    hx AS (SELECT doc_id, substring(md5(tok), 1, 15) AS hx FROM toks),
    votes AS (
        SELECT doc_id, b.bit,
               CASE WHEN ((strpos('0123456789abcdef', substring(hx, 15 - b.bit // 4, 1)) - 1)
                          >> (b.bit % 4)) & 1 = 1 THEN 1 ELSE -1 END AS vote
        FROM hx CROSS JOIN (SELECT unnest(range(32)) AS bit) b
    ),
    per_bit AS (SELECT doc_id, bit, sum(vote) AS v FROM votes GROUP BY doc_id, bit)
    SELECT doc_id,
           CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
    FROM per_bit GROUP BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash64(docs)


# --- similarity: exact brute-force cosine top-k (baseline).
@register(
    "similarity_bruteforce_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
               FROM embeddings WHERE vec_id < 3),
    scored AS (
        -- zero-norm guard: Spark's cosine_similarity emits NULL for a
        -- degenerate vector (DuckDB's builtin returns a -1 sentinel);
        -- NULLs rank last in both engines' DESC
        SELECT q.query_id, v.vec_id,
               CASE WHEN list_dot_product(v.embedding::DOUBLE[], v.embedding::DOUBLE[]) > 0
                         AND list_dot_product(q.qe, q.qe) > 0
                    THEN round(list_cosine_similarity(v.embedding::DOUBLE[], q.qe), 6)
               END AS cosine_sim
        FROM embeddings v CROSS JOIN q
        WHERE v.vec_id <> q.query_id
    )
    SELECT query_id,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cosine_sim DESC, vec_id) AS BIGINT) AS rank,
           vec_id, cosine_sim
    FROM scored
    QUALIFY rank <= 10
    """,
)
def similarity_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, emb.filter(F.col("vec_id") < 3), k=10)


# --- kNN classification by majority vote over the cosine top-k: the
# supervised primitive on top of the ANN stack (label propagation /
# weak-labeling in curation pipelines). Votes tie-break to the
# smallest label; the neighbor ranking is exactly
# similarity_bruteforce_topk's (rank ties by vec_id), so the vote is
# deterministic end-to-end. Swap the brute-force neighbor source for
# IVF/IVF-PQ at scale — the vote layer is source-agnostic.
@register(
    "similarity_knn_classify",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
               FROM embeddings WHERE vec_id < 20),
    scored AS (
        SELECT q.query_id, v.vec_id, v.label,
               CASE WHEN list_dot_product(v.embedding::DOUBLE[], v.embedding::DOUBLE[]) > 0
                         AND list_dot_product(q.qe, q.qe) > 0
                    THEN round(list_cosine_similarity(v.embedding::DOUBLE[], q.qe), 6)
               END AS s
        FROM embeddings v CROSS JOIN q
        WHERE v.vec_id <> q.query_id
    ),
    topk AS (
        SELECT query_id, label
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY s DESC, vec_id) AS rn FROM scored)
        WHERE rn <= 10
    ),
    votes AS (
        SELECT query_id, label, CAST(count(*) AS BIGINT) AS votes
        FROM topk GROUP BY query_id, label
    )
    SELECT v.query_id,
           t.label AS true_label,
           v.label AS predicted_label,
           v.votes
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY votes DESC, label) AS rn FROM votes) v
    JOIN embeddings t ON t.vec_id = v.query_id
    WHERE v.rn = 1
    """,
)
def similarity_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    topk = brute_force_topk(emb, emb.filter(F.col("vec_id") < 20), k=10)
    labels = emb.select("vec_id", "label")
    votes = (
        topk.join(labels, "vec_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("label").asc()
    )
    best = votes.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    truth = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return best.join(truth, "query_id").select(
        "query_id",
        "true_label",
        F.col("label").alias("predicted_label"),
        "votes",
    )


# --- nearest-centroid (Rocchio) confusion matrix over the WHOLE
# corpus: per-label grid-rounded mean vectors (the k-means centroid
# pass reused with labels as the clusters), every vector assigned to
# its nearest centroid by squared L2, confusion cells + within-label
# share. The label-quality audit kNN can't give at scale: kNN scores
# 20 probes; this scores every row in one broadcast pass. The oracle
# replays the identical grid-rounded means and (d2, cid) argmin.
@register(
    "similarity_centroid_confusion",
    oracle="""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    m AS (
        SELECT cid, pos, round(avg(val), 6) AS mu
        FROM (
            SELECT label AS cid,
                   CAST(generate_subscripts(embedding, 1) AS INT) AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS val
            FROM embeddings
        )
        GROUP BY 1, 2
    ),
    c AS (SELECT cid, list(mu ORDER BY pos) AS ce FROM m GROUP BY cid),
    scored AS (
        SELECT v.vec_id, v.label, c.cid,
               list_sum(list_transform(range(1, 65),
                        i -> (v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i]))) AS d2
        FROM v CROSS JOIN c
    ),
    best AS (
        SELECT vec_id, label, cid
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                         ORDER BY d2, cid) AS rn FROM scored)
        WHERE rn = 1
    ),
    conf AS (
        SELECT CAST(label AS BIGINT) AS true_label,
               CAST(cid AS BIGINT) AS predicted_label,
               CAST(count(*) AS BIGINT) AS n_vectors
        FROM best GROUP BY 1, 2
    )
    SELECT true_label, predicted_label, n_vectors,
           round(CAST(n_vectors AS DOUBLE)
                 / sum(n_vectors) OVER (PARTITION BY true_label), 6)
               AS share_of_true,
           (true_label = predicted_label) AS is_correct
    FROM conf
    """,
)
def similarity_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from emission_project_spark.extensions.similarity import centroid_classify

    emb = load_table(spark, sf_dir, "embeddings")
    conf = (
        centroid_classify(emb)
        .groupBy("true_label", "predicted_label")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )
    per_true = Window.partitionBy("true_label")
    return conf.select(
        "true_label",
        "predicted_label",
        "n_vectors",
        F.round(
            F.col("n_vectors").cast("double") / F.sum("n_vectors").over(per_true), 6
        ).alias("share_of_true"),
        (F.col("true_label") == F.col("predicted_label")).alias("is_correct"),
    )


# --- similarity: IVF approximate top-k (the scale path).
@register(
    "similarity_ivf_topk",
    oracle="""
    WITH c AS (SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS ce
               FROM embeddings WHERE vec_id < 16),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cscored AS (
        SELECT v.vec_id, v.e, c.centroid_id,
               round(list_cosine_similarity(v.e, c.ce), 6) AS s
        FROM v CROSS JOIN c
    ),
    assigned AS (
        SELECT vec_id, e, centroid_id
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                         ORDER BY s DESC, centroid_id) AS rn FROM cscored)
        WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, e AS qe, centroid_id AS qcell
          FROM assigned WHERE vec_id < 3),
    scored AS (
        -- zero-norm guard: NULL (matching Spark), not DuckDB's -1
        SELECT q.query_id, a.vec_id,
               CASE WHEN list_dot_product(a.e, a.e) > 0
                         AND list_dot_product(q.qe, q.qe) > 0
                    THEN round(list_cosine_similarity(a.e, q.qe), 6)
               END AS cosine_sim
        FROM assigned a JOIN q ON a.centroid_id = q.qcell AND a.vec_id <> q.query_id
    )
    SELECT query_id,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cosine_sim DESC, vec_id) AS BIGINT) AS rank,
           vec_id, cosine_sim
    FROM scored
    QUALIFY rank <= 10
    """,
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, emb.filter(F.col("vec_id") < 3), n_centroids=16, k=10)


# --- similarity: IVF with a k-means coarse quantizer (multi-probe).
# The oracle replays the deterministic Lloyd rounds (same CTE stack as
# embedding_kmeans_lloyd) and then the 2-probe cell search in SQL.
@register(
    "similarity_ivf_kmeans_topk",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    c0 AS (SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT 8),
    s1 AS (
        SELECT v.vec_id, v.e, c0.cid,
               list_sum(list_transform(range(1, 65), i -> (v.e[i] - c0.ce[i]) * (v.e[i] - c0.ce[i]))) AS d2
        FROM v CROSS JOIN c0
    ),
    a1 AS (
        SELECT vec_id, e, cid FROM
            (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM s1)
        WHERE rn = 1
    ),
    m1 AS (
        SELECT cid, pos, round(avg(val), 6) AS m
        FROM (SELECT cid, i AS pos, e[i] AS val
              FROM a1, (SELECT unnest(range(1, 65)) AS i))
        GROUP BY cid, pos
    ),
    c1 AS (SELECT cid, list(m ORDER BY pos) AS ce FROM m1 GROUP BY cid),
    s2 AS (
        SELECT v.vec_id, c1.cid,
               list_sum(list_transform(range(1, 65), i -> (v.e[i] - c1.ce[i]) * (v.e[i] - c1.ce[i]))) AS d2
        FROM v CROSS JOIN c1
    ),
    a2 AS (
        SELECT vec_id, cid FROM
            (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM s2)
        WHERE rn = 1
    ),
    qc AS (
        SELECT vec_id AS query_id, cid FROM
            (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
             FROM s2 WHERE vec_id < 3)
        WHERE rn <= 2
    ),
    scored AS (
        -- zero-norm guard: NULL (matching Spark), not DuckDB's -1
        SELECT qc.query_id, a2.vec_id,
               CASE WHEN list_dot_product(av.e, av.e) > 0
                         AND list_dot_product(qv.e, qv.e) > 0
                    THEN round(list_cosine_similarity(av.e, qv.e), 6)
               END AS cosine_sim
        FROM a2 JOIN qc ON a2.cid = qc.cid AND a2.vec_id <> qc.query_id
        JOIN v av ON av.vec_id = a2.vec_id
        JOIN v qv ON qv.vec_id = qc.query_id
    )
    SELECT query_id,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cosine_sim DESC, vec_id) AS BIGINT) AS rank,
           vec_id, cosine_sim
    FROM scored
    QUALIFY rank <= 10
    """,
)
def similarity_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.extensions.similarity import ivf_topk_kmeans

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk_kmeans(
        emb, emb.filter(F.col("vec_id") < 3), n_centroids=8, k=10, iterations=2, n_probe=2
    )


# --- similarity: IVF-PQ ADC top-k (the 32×-compression scale path).
# The oracle replays the full FAISS IndexIVFPQ composition in SQL —
# coarse Lloyd (2 rounds), residuals, one Lloyd chain per subspace on
# the residual slices, codeword assignment, reconstruction, 2-probe
# cell pruning, and the ADC distance ‖(q − c_cell) − decode(codes)‖²
# — generated per-subspace by the loop below (the same deterministic
# CTE stack as similarity_ivf_kmeans_topk, four times over slices).
# The Spark side is extensions/pq.ivfpq_topk_expr, the action-free
# expression twin that tests/test_pq.py pins equal to the numpy
# fit_ivfpq/ivfpq_encode/ivfpq_topk path on the same corpus.
def _ivfpq_oracle(topk: int = 10, rerank_k: int | None = None) -> str:
    """When ``rerank_k`` is set, ``topk`` becomes the ADC shortlist
    width and a final exact-L2 re-rank CTE (FAISS IndexRefineFlat) is
    appended — the oracle twin of pq.ivfpq_rerank_topk_expr."""
    dim, n_cells, m, k_codes, n_probe = 64, 4, 4, 8, 2
    dsub = dim // m
    d2 = (
        "list_sum(list_transform(range(1, {n}), "
        "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    )
    parts = [
        "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),",
        f"c0 AS (SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT {n_cells}),",
        "s1 AS (SELECT v.vec_id, v.e, c0.cid, "
        + d2.format(n=dim + 1, a="v.e", b="c0.ce")
        + " AS d2 FROM v CROSS JOIN c0),",
        "a1 AS (SELECT vec_id, e, cid FROM (SELECT *, row_number() OVER "
        "(PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM s1) WHERE rn = 1),",
        "m1 AS (SELECT cid, pos, round(avg(val), 6) AS m FROM "
        f"(SELECT cid, i AS pos, e[i] AS val FROM a1, (SELECT unnest(range(1, {dim + 1})) AS i)) "
        "GROUP BY cid, pos),",
        "c1 AS (SELECT cid, list(m ORDER BY pos) AS ce FROM m1 GROUP BY cid),",
        "s2 AS (SELECT v.vec_id, v.e, c1.cid, c1.ce, "
        + d2.format(n=dim + 1, a="v.e", b="c1.ce")
        + " AS d2 FROM v CROSS JOIN c1),",
        "res AS (SELECT vec_id, cid AS cell, "
        f"list_transform(range(1, {dim + 1}), i -> e[i] - ce[i]) AS r "
        "FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) "
        "AS rn FROM s2) WHERE rn = 1),",
    ]
    for s in range(m):
        a, b = s * dsub + 1, (s + 1) * dsub
        parts += [
            f"r{s} AS (SELECT vec_id, list_slice(r, {a}, {b}) AS e FROM res),",
            f"b{s}0 AS (SELECT vec_id AS cid, e AS ce FROM r{s} ORDER BY vec_id LIMIT {k_codes}),",
            f"t{s}1 AS (SELECT x.vec_id, x.e, b.cid, "
            + d2.format(n=dsub + 1, a="x.e", b="b.ce")
            + f" AS d2 FROM r{s} x CROSS JOIN b{s}0 b),",
            f"u{s}1 AS (SELECT vec_id, e, cid FROM (SELECT *, row_number() OVER "
            f"(PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM t{s}1) WHERE rn = 1),",
            f"n{s}1 AS (SELECT cid, pos, round(avg(val), 6) AS m FROM "
            f"(SELECT cid, i AS pos, e[i] AS val FROM u{s}1, "
            f"(SELECT unnest(range(1, {dsub + 1})) AS i)) GROUP BY cid, pos),",
            f"d{s}1 AS (SELECT cid, list(m ORDER BY pos) AS ce FROM n{s}1 GROUP BY cid),",
            f"t{s}2 AS (SELECT x.vec_id, c.cid, c.ce, "
            + d2.format(n=dsub + 1, a="x.e", b="c.ce")
            + f" AS d2 FROM r{s} x CROSS JOIN d{s}1 c),",
            f"w{s} AS (SELECT vec_id, ce FROM (SELECT *, row_number() OVER "
            f"(PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM t{s}2) WHERE rn = 1),",
        ]
    rr = " || ".join(f"w{s}.ce" for s in range(m))
    joins = " ".join(f"JOIN w{s} ON w{s}.vec_id = res.vec_id" for s in range(m))
    parts += [
        f"recon AS (SELECT res.vec_id, res.cell, {rr} AS rr FROM res {joins}),",
        "qp AS (SELECT vec_id AS query_id, cid AS qcell, "
        f"list_transform(range(1, {dim + 1}), i -> e[i] - ce[i]) AS qr "
        "FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) "
        f"AS rn FROM s2 WHERE vec_id < 3) WHERE rn <= {n_probe}),",
        "scored AS (SELECT qp.query_id, recon.vec_id, round("
        + d2.format(n=dim + 1, a="qp.qr", b="recon.rr")
        + ", 6) AS ad2 FROM recon JOIN qp ON recon.cell = qp.qcell)",
    ]
    if rerank_k is None:
        parts += [
            "SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id "
            "ORDER BY ad2, vec_id) AS BIGINT) AS rank, vec_id, ad2 "
            f"FROM scored QUALIFY rank <= {topk}",
        ]
    else:
        parts += [
            ", short AS (SELECT query_id, vec_id FROM (SELECT query_id, "
            "vec_id, row_number() OVER (PARTITION BY query_id "
            f"ORDER BY ad2, vec_id) AS rn FROM scored) WHERE rn <= {topk}),",
            "ex AS (SELECT s.query_id, s.vec_id, round("
            + d2.format(n=dim + 1, a="qv.e", b="xv.e")
            + ", 6) AS ed2 FROM short s "
            "JOIN v xv ON xv.vec_id = s.vec_id "
            "JOIN v qv ON qv.vec_id = s.query_id)",
            "SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id "
            "ORDER BY ed2, vec_id) AS BIGINT) AS rank, vec_id, ed2 "
            f"FROM ex QUALIFY rank <= {rerank_k}",
        ]
    return "\n".join(parts)


@register("similarity_ivfpq_topk", oracle=_ivfpq_oracle())
def similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.extensions.pq import ivfpq_topk_expr

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk_expr(
        emb,
        emb.filter(F.col("vec_id") < 3),
        dim=64,
        n_cells=4,
        m=4,
        k_codes=8,
        iterations=2,
        n_probe=2,
        k=10,
    )


# --- similarity: IVF-PQ shortlist → exact re-rank (FAISS
# IndexRefineFlat). The compressed-domain ADC search above decides
# WHICH `shortlist` candidates surface; exact squared-L2 over the
# original float vectors decides their ORDER. The oracle appends the
# refine CTE to the full IVF-PQ replay, so the driver checks the
# two-tier composition end-to-end — including the cases where the
# re-rank genuinely permutes ADC order (quantization error inverting
# near-ties) — tests/test_pq.py asserts such permutations occur on
# the sf0.001 corpus, so the refine stage is provably load-bearing.
@register(
    "similarity_ivfpq_rerank_topk",
    oracle=_ivfpq_oracle(topk=20, rerank_k=10),
)
def similarity_ivfpq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.extensions.pq import ivfpq_rerank_topk_expr

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_rerank_topk_expr(
        emb,
        emb.filter(F.col("vec_id") < 3),
        dim=64,
        n_cells=4,
        m=4,
        k_codes=8,
        iterations=2,
        n_probe=2,
        shortlist=20,
        k=10,
    )


# --- embedding-cosine near-dup: exact all-pairs (blocked BLAS matmul).
@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
    SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
           round(list_cosine_similarity(a.e, b.e), 6) AS cosine_sim
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.e, b.e) >= 0.35
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_neardup_pairs(emb, threshold=0.35)


# --- semantic dedup (SemDeDup): k-means clusters bound the pair
# search; within-cluster exact cosine via the blocked BLAS kernel. The
# oracle replays the Lloyd rounds then self-joins within clusters.
@register(
    "dedup_semantic_pairs",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    c0 AS (SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT 8),
    s1 AS (
        SELECT v.vec_id, v.e, c0.cid,
               list_sum(list_transform(range(1, 65), i -> (v.e[i] - c0.ce[i]) * (v.e[i] - c0.ce[i]))) AS d2
        FROM v CROSS JOIN c0
    ),
    a1 AS (
        SELECT vec_id, e, cid FROM
            (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM s1)
        WHERE rn = 1
    ),
    m1 AS (
        SELECT cid, pos, round(avg(val), 6) AS m
        FROM (SELECT cid, i AS pos, e[i] AS val
              FROM a1, (SELECT unnest(range(1, 65)) AS i))
        GROUP BY cid, pos
    ),
    c1 AS (SELECT cid, list(m ORDER BY pos) AS ce FROM m1 GROUP BY cid),
    s2 AS (
        SELECT v.vec_id, c1.cid,
               list_sum(list_transform(range(1, 65), i -> (v.e[i] - c1.ce[i]) * (v.e[i] - c1.ce[i]))) AS d2
        FROM v CROSS JOIN c1
    ),
    a2 AS (
        SELECT vec_id, cid FROM
            (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM s2)
        WHERE rn = 1
    )
    SELECT CAST(x.cid AS BIGINT) AS cluster_id,
           x.vec_id AS doc_a, y.vec_id AS doc_b,
           round(list_cosine_similarity(vx.e, vy.e), 6) AS cosine_sim
    FROM a2 x JOIN a2 y ON x.cid = y.cid AND x.vec_id < y.vec_id
    JOIN v vx ON vx.vec_id = x.vec_id
    JOIN v vy ON vy.vec_id = y.vec_id
    WHERE list_cosine_similarity(vx.e, vy.e) >= 0.35
    """,
)
def dedup_semantic_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.extensions.similarity import semantic_neardup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    # n_blocks is a pure memory/parallelism knob (results invariant —
    # tests pin this); 2 suits local cluster sizes, raise at corpus scale
    return semantic_neardup_pairs(emb, threshold=0.35, n_clusters=8, iterations=2, n_blocks=2)


# --- embedding-cosine near-dup: random-hyperplane LSH (subquadratic).
# Plane weights are md5-parity-derived, so the oracle replicates them:
# sign of plane (p, d) = parity of md5("p:d") = parity of its last hex
# digit. Bucket = 16-bit sign signature; within-bucket pairs verified
# with exact cosine, mirroring the Spark operator step for step.
@register(
    "dedup_embedding_cosine_lsh",
    oracle="""
    WITH planes AS (
        SELECT p, d,
               CASE WHEN (strpos('0123456789abcdef',
                      substring(md5(p::VARCHAR || ':' || d::VARCHAR), 32, 1)) - 1) % 2 = 0
                    THEN 1.0 ELSE -1.0 END AS w
        FROM (SELECT unnest(range(16)) AS p), (SELECT unnest(range(64)) AS d)
    ),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    comps AS (
        SELECT v.vec_id, pl.p, sum(v.e[pl.d + 1] * pl.w) AS dot
        FROM v CROSS JOIN planes pl
        GROUP BY 1, 2
    ),
    buckets AS (
        SELECT vec_id,
               sum(CASE WHEN dot >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS bucket
        FROM comps GROUP BY vec_id
    ),
    -- hot-bucket cap mirrors the operator's LSH_MAX_BUCKET=64
    kept AS (
        SELECT bucket FROM buckets GROUP BY bucket HAVING count(*) <= 64
    ),
    pairs AS (
        SELECT a.vec_id AS ida, b.vec_id AS idb
        FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE a.bucket IN (SELECT bucket FROM kept)
    )
    SELECT p.ida AS doc_a, p.idb AS doc_b,
           round(list_cosine_similarity(va.e, vb.e), 6) AS cosine_sim
    FROM pairs p
    JOIN v va ON p.ida = va.vec_id
    JOIN v vb ON p.idb = vb.vec_id
    WHERE round(list_cosine_similarity(va.e, vb.e), 6) >= 0.2
    """,
)
def dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # dim=64 is the embeddings-table contract (TESTDATA.md) — passing it
    # keeps plan construction action-free (no first-row dim probe).
    return lsh_neardup_pairs(emb, threshold=0.2, n_planes=16, dim=64)


# --- embedding column stats (array-typed analytics).
@register(
    "embedding_stats",
    oracle="""
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(max(len(embedding)) AS INT) AS dim,
           round(avg(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)))), 4)
               AS avg_l2_norm
    FROM embeddings
    GROUP BY label
    """,
)
def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.max(F.size("embedding")).alias("dim"),
        F.round(F.avg(l2_norm("embedding")), 4).alias("avg_l2_norm"),
    )


# --- Per-dimension moments of the embedding corpus: the first stage
# of PCA (the eigendecomposition that follows has no SQL form).
# posexplode
# keeps the whole pass in JVM built-ins: one explode (d rows per
# vector, streamed — never materialized per-row in Python) and one
# hash aggregate on the 64-value dim key. var_pop on both engines is
# the exact population variance over float32-exact inputs.
@register(
    "embedding_dim_variance",
    oracle="""
    SELECT dim_idx,
           round(avg(v), 6) AS dim_mean,
           round(var_pop(v), 6) AS dim_var
    FROM (
        SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim_idx,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    )
    GROUP BY dim_idx
    """,
)
def embedding_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(F.posexplode("embedding").alias("dim_idx", "v"))
        .groupBy("dim_idx")
        .agg(
            F.round(F.avg(F.col("v").cast("double")), 6).alias("dim_mean"),
            F.round(F.var_pop(F.col("v").cast("double")), 6).alias("dim_var"),
        )
    )


# --- Cross-moment (covariance) block of the leading 8 dimensions:
# the SQL-expressible heart of PCA's stage 1 — per-pair
# E[x_i·x_j] − E[x_i]·E[x_j], oracle-checked. The block is FIXED at
# 8×8 (upper triangle, 36 cells): the d²-per-row explode is bounded at
# 36 cells per vector regardless of corpus size, and the map-side
# partial aggregate collapses it to 36 groups before the exchange.
# tests/test_pca.py pins these rows against the numpy covariance.
@register(
    "embedding_covariance_block",
    oracle="""
    WITH v AS (SELECT embedding::DOUBLE[] AS e FROM embeddings),
    cells AS (
        SELECT a.i AS i, b.j AS j, v.e[a.i] * v.e[b.j] AS p
        FROM v,
             (SELECT unnest(range(1, 9)) AS i) a,
             (SELECT unnest(range(1, 9)) AS j) b
        WHERE a.i <= b.j
    ),
    agg AS (
        SELECT i, j, sum(p) AS sp, count(*) AS n FROM cells GROUP BY i, j
    ),
    m AS (
        SELECT d.i AS d, avg(v.e[d.i]) AS mu
        FROM v, (SELECT unnest(range(1, 9)) AS i) d
        GROUP BY d.i
    )
    SELECT CAST(a.i AS BIGINT) AS dim_i,
           CAST(a.j AS BIGINT) AS dim_j,
           round(a.sp / a.n - mi.mu * mj.mu, 6) AS cov
    FROM agg a
    JOIN m mi ON mi.d = a.i
    JOIN m mj ON mj.d = a.j
    """,
)
def embedding_covariance_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e8 = F.slice(F.col("embedding").cast("array<double>"), 1, 8)
    a = emb.select(e8.alias("e8")).select(
        F.posexplode("e8").alias("i0", "vi"), "e8"
    )
    cells = (
        a.select("i0", "vi", F.posexplode("e8").alias("j0", "vj"))
        .filter(F.col("i0") <= F.col("j0"))
        .groupBy("i0", "j0")
        .agg(
            F.sum(F.col("vi") * F.col("vj")).alias("sp"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    means = (
        emb.select(F.posexplode(e8).alias("d0", "v"))
        .groupBy("d0")
        .agg(F.avg("v").alias("mu"))
    )
    mi = F.broadcast(means.select(F.col("d0").alias("i0"), F.col("mu").alias("mu_i")))
    mj = F.broadcast(means.select(F.col("d0").alias("j0"), F.col("mu").alias("mu_j")))
    return (
        cells.join(mi, "i0")
        .join(mj, "j0")
        .select(
            (F.col("i0") + 1).cast("bigint").alias("dim_i"),
            (F.col("j0") + 1).cast("bigint").alias("dim_j"),
            F.round(
                F.col("sp") / F.col("n") - F.col("mu_i") * F.col("mu_j"), 6
            ).alias("cov"),
        )
    )


# --- Embedding QC: L2-norm distribution with robust (median/MAD)
# outlier flags — the admission check an ANN corpus runs before
# indexing (zero-norm or exploded-norm vectors poison cosine math and
# usually indicate an upstream encoder fault). The per-row norm is a
# zero-shuffle HOF fold; median and MAD are two k=1 aggregates whose
# 1-row results broadcast back (the scalar-crossJoin pattern,
# allowlisted in plancheck). The flag comparison runs on unrounded
# doubles that are bit-identical across engines (fold + IEEE sqrt),
# with the MAD=0 degenerate corpus (over half the vectors sharing one
# norm — the adversarial boundary fixture does this) explicitly
# defined as "no outliers" instead of a division by zero.
@register(
    "embedding_norm_outliers",
    oracle="""
    WITH v AS (
        SELECT vec_id,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)))
                   AS nrm
        FROM embeddings
    ),
    med AS (SELECT quantile_cont(nrm, 0.5) AS m FROM v),
    dev AS (
        SELECT quantile_cont(abs(v.nrm - med.m), 0.5) AS mad
        FROM v, med
    )
    SELECT v.vec_id,
           round(v.nrm, 6) AS l2_norm,
           round(CASE WHEN dev.mad = 0 THEN 0.0
                      ELSE (v.nrm - med.m) / (1.4826 * dev.mad) END, 4) + 0.0
               AS robust_z,
           CASE WHEN dev.mad = 0 THEN FALSE
                ELSE abs(v.nrm - med.m) > 3 * 1.4826 * dev.mad END
               AS is_outlier
    FROM v, med, dev
    """,
)
def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        F.sqrt(
            F.aggregate(
                F.col("embedding").cast("array<double>"),
                F.lit(0.0),
                lambda acc, x: acc + x * x,
            )
        ).alias("nrm"),
    )
    med = v.agg(F.percentile("nrm", F.lit(0.5)).alias("m"))
    dev = (
        v.crossJoin(F.broadcast(med))
        .agg(
            F.percentile(F.abs(F.col("nrm") - F.col("m")), F.lit(0.5)).alias("mad"),
            F.first("m").alias("m"),
        )
    )
    z_raw = (F.col("nrm") - F.col("m")) / (F.lit(1.4826) * F.col("mad"))
    return v.crossJoin(F.broadcast(dev)).select(
        "vec_id",
        F.round("nrm", 6).alias("l2_norm"),
        # + 0.0 canonicalizes IEEE negative zero: DuckDB's round keeps
        # the sign of a tiny negative (−1e-16 → −0.0) while Spark's
        # BigDecimal HALF_UP has no −0, and the value hash tells the
        # two zeros apart
        (
            F.round(F.when(F.col("mad") == 0, F.lit(0.0)).otherwise(z_raw), 4)
            + F.lit(0.0)
        ).alias("robust_z"),
        F.when(F.col("mad") == 0, F.lit(False))
        .otherwise(
            F.abs(F.col("nrm") - F.col("m")) > F.lit(3 * 1.4826) * F.col("mad")
        )
        .alias("is_outlier"),
    )


# --- Symmetric int8 quantization quality report: the 4× memory cut
# that keeps a 100 TB float32 ANN corpus in executor memory, with the
# reconstruction loss *measured* per label (MAE, worst element error,
# cosine fidelity). Entirely JVM higher-order functions on both sides —
# transform/aggregate in Spark, list_transform/list_sum in DuckDB —
# and floor(x+0.5) instead of round() so the code grid is bit-identical
# across engines (functions/vectors.py int8_quantize).
@register(
    "embedding_quantize_error",
    oracle="""
    WITH base AS (
        SELECT label,
               embedding::DOUBLE[] AS e,
               list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
                   / 127.0 AS scale
        FROM embeddings
    ),
    per_vec AS (
        SELECT label,
               list_sum(list_transform(e, x -> abs(x -
                   CASE WHEN scale = 0 THEN 0.0
                        ELSE greatest(-127.0, least(127.0,
                                 floor(x / scale + 0.5))) * scale END)))
                   / len(e) AS mae,
               list_max(list_transform(e, x -> abs(x -
                   CASE WHEN scale = 0 THEN 0.0
                        ELSE greatest(-127.0, least(127.0,
                                 floor(x / scale + 0.5))) * scale END)))
                   AS max_err,
               list_sum(list_transform(e, x -> x *
                   CASE WHEN scale = 0 THEN 0.0
                        ELSE greatest(-127.0, least(127.0,
                                 floor(x / scale + 0.5))) * scale END))
                   AS dp,
               sqrt(list_sum(list_transform(e, x -> x * x))) AS n1,
               sqrt(list_sum(list_transform(e, x ->
                   (CASE WHEN scale = 0 THEN 0.0
                         ELSE greatest(-127.0, least(127.0,
                                  floor(x / scale + 0.5))) * scale END)
                   * (CASE WHEN scale = 0 THEN 0.0
                           ELSE greatest(-127.0, least(127.0,
                                    floor(x / scale + 0.5))) * scale END))))
                   AS n2
        FROM base
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round(avg(mae), 6) AS avg_mae,
           round(max(max_err), 6) AS worst_err,
           round(avg(CASE WHEN n1 * n2 > 0 THEN dp / (n1 * n2) END), 6)
               AS avg_cosine
    FROM per_vec
    GROUP BY label
    """,
)
def embedding_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.functions.vectors import (
        cosine_similarity,
        int8_dequantize,
        int8_quantize,
        int8_scale,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    with_scale = emb.select(
        "label", "embedding", int8_scale("embedding").alias("scale")
    )
    deq = with_scale.select(
        "label",
        "embedding",
        int8_dequantize(
            int8_quantize("embedding", F.col("scale")), F.col("scale")
        ).alias("dq"),
    )
    err = F.zip_with(
        F.col("embedding"), F.col("dq"), lambda x, y: F.abs(x.cast("double") - y)
    )
    per_vec = deq.select(
        "label",
        (
            F.aggregate(err, F.lit(0.0), lambda acc, v: acc + v)
            / F.size("embedding")
        ).alias("mae"),
        F.array_max(err).alias("max_err"),
        cosine_similarity("embedding", "dq").alias("cos"),
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg("mae"), 6).alias("avg_mae"),
        F.round(F.max("max_err"), 6).alias("worst_err"),
        F.round(F.avg("cos"), 6).alias("avg_cosine"),
    )


# --- multimodal: opaque binary payloads + typed metadata (plumbing is
# real; heavy decode lives behind stubs in extensions/multimodal.py).
@register(
    "multimodal_binary_meta",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5,
           source AS media_source
    FROM documents
    """,
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.md5("text").alias("content_md5"),
        F.col("source").alias("media_source"),
    )


# --- multimodal decode→feature-extract over mapInPandas. The fake
# decoder derives (w, h, n_frames) from payload length, so the oracle
# states the same arithmetic on octet_length — the Arrow/mapInPandas
# plumbing under test is exactly what a real PIL decoder would ride.
@register(
    "multimodal_extract_features",
    oracle="""
    SELECT doc_id, 'image/fake' AS media_type,
           CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width,
           CAST(octet_length(encode(text)) % 480 + 1 AS INT) AS height,
           CAST(octet_length(encode(text)) % 16 + 1 AS INT) AS n_frames,
           TRUE AS ok
    FROM documents
    """,
)
def multimodal_extract_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return extract_features(attach_payload(docs), decoder=fake_image_decoder)


# --- multimodal aspect-preserving resize (fit within 256×256).
@register(
    "multimodal_resize",
    oracle="""
    WITH dims AS (
        SELECT doc_id, text,
               CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width,
               CAST(octet_length(encode(text)) % 480 + 1 AS INT) AS height
        FROM documents
    )
    SELECT doc_id, width, height,
           GREATEST(1, CAST(FLOOR(width * LEAST(256.0 / width, 256.0 / height, 1.0)) AS INT)) AS out_width,
           GREATEST(1, CAST(FLOOR(height * LEAST(256.0 / width, 256.0 / height, 1.0)) AS INT)) AS out_height,
           md5(text) AS resized_md5
    FROM dims
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return resize_images(attach_payload(docs), 256, 256, decoder=fake_image_decoder)


# --- multimodal every-Nth frame sampling (fan-out map).
@register(
    "multimodal_frame_sample",
    oracle="""
    WITH vids AS (
        SELECT doc_id, text,
               CAST(octet_length(encode(text)) % 16 + 1 AS INT) AS n_frames
        FROM documents
    ),
    expanded AS (
        SELECT doc_id, text, n_frames,
               unnest(range(0, n_frames, 4)) AS frame_idx
        FROM vids
    )
    SELECT doc_id, n_frames, CAST(frame_idx AS INT) AS frame_idx,
           md5(text || ':' || frame_idx) AS frame_md5
    FROM expanded
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sample_frames(attach_payload(docs), every_n=4, decoder=fake_image_decoder)


# --- dedup clustering: LSH candidate pairs → connected components.
# The oracle is a recursive-CTE transitive closure (min reachable id);
# the Spark side is iterative min-label propagation — both converge to
# the same fixpoint, so values hash-match.
@register(
    "dedup_cluster_components",
    oracle=f"""
    WITH RECURSIVE {_SHINGLE_SQL},
    {_MINHASH_SIG_SQL},
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a
        JOIN sig b ON a.band = b.band AND a.signature = b.signature
                  AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= 4
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, comp) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node
    ),
    labeled AS (
        SELECT node AS doc_id, min(comp) AS component_id
        FROM reach GROUP BY node
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(component_id AS BIGINT) AS component_id,
           CAST(count(*) OVER (PARTITION BY component_id) AS BIGINT) AS cluster_size
    FROM labeled
    """,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from emission_project_spark.operators.components import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(docs).filter(F.col("bands_agree") >= 4)
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    return comp.select(
        F.col("id").alias("doc_id"),
        "component_id",
        F.count(F.lit(1)).over(Window.partitionBy("component_id")).alias("cluster_size"),
    )


# --- Canonical-survivor selection: the step that turns a duplicate
# CLUSTERING into a dedup DECISION. Per connected component the
# smallest doc_id survives (the deterministic-survivor rule
# dedup_subset_deterministic established) and the readout quantifies
# the payoff — members dropped and bytes reclaimed — which is the
# number a 100 TB curation run actually reports. One groupBy on the
# component key after a doc_id broadcast-join for sizes; the oracle
# replays the same LSH → recursive-reachability pipeline as
# dedup_cluster_components and folds the survivor arithmetic on top.
@register(
    "dedup_canonical_survivors",
    oracle=f"""
    WITH RECURSIVE {_SHINGLE_SQL},
    {_MINHASH_SIG_SQL},
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a
        JOIN sig b ON a.band = b.band AND a.signature = b.signature
                  AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= 4
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, comp) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node
    ),
    labeled AS (
        SELECT node AS doc_id, min(comp) AS component_id
        FROM reach GROUP BY node
    ),
    sized AS (
        SELECT l.doc_id, l.component_id, d.n_chars
        FROM labeled l JOIN documents d ON d.doc_id = l.doc_id
    )
    SELECT CAST(component_id AS BIGINT) AS component_id,
           CAST(min(doc_id) AS BIGINT) AS survivor_doc_id,
           CAST(count(*) AS BIGINT) AS cluster_size,
           CAST(count(*) - 1 AS BIGINT) AS docs_dropped,
           CAST(sum(n_chars) - arg_min(n_chars, doc_id) AS BIGINT)
               AS chars_reclaimed
    FROM sized GROUP BY component_id
    """,
)
def dedup_canonical_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.operators.components import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(docs).filter(F.col("bands_agree") >= 4)
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    sized = comp.select(F.col("id").alias("doc_id"), "component_id").join(
        docs.select("doc_id", "n_chars"), "doc_id"
    )
    return sized.groupBy("component_id").agg(
        F.min("doc_id").alias("survivor_doc_id"),
        F.count(F.lit(1)).alias("cluster_size"),
        (F.count(F.lit(1)) - 1).alias("docs_dropped"),
        (F.sum("n_chars") - F.min_by("n_chars", "doc_id")).alias("chars_reclaimed"),
    )


# --- curation: deterministic hash-ranked stratified sample.
@register(
    "curation_stratified_sample",
    oracle="""
    SELECT doc_id, text, lang, source, n_chars
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY lang, source
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        ) AS rk
        FROM documents
    )
    WHERE rk <= 5
    """,
)
def curation_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.extensions.curation import stratified_sample_topk

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample_topk(docs, strata=["lang", "source"], id_col="doc_id", k=5)


# --- curation: exact per-stratum length percentiles.
@register(
    "curation_length_percentiles",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(n_chars), 6) AS mean_val,
           round(quantile_cont(n_chars, 0.25), 6) AS p25,
           round(quantile_cont(n_chars, 0.5), 6) AS p50,
           round(quantile_cont(n_chars, 0.75), 6) AS p75,
           round(quantile_cont(n_chars, 0.95), 6) AS p95
    FROM documents
    GROUP BY lang
    """,
)
def curation_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.extensions.curation import length_percentiles

    docs = load_table(spark, sf_dir, "documents")
    return length_percentiles(docs, strata=["lang"], value_col="n_chars")


# --- curation: one-pass column profiling (data-quality gate).
@register(
    "curation_profile_documents",
    oracle="""
    WITH wide AS (
        SELECT count(*) AS n_rows,
               sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS nulls_lang,
               count(DISTINCT lang) AS dist_lang,
               min(lang) AS min_lang, max(lang) AS max_lang,
               sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS nulls_source,
               count(DISTINCT source) AS dist_source,
               min(source) AS min_source, max(source) AS max_source,
               sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS nulls_n_chars,
               count(DISTINCT n_chars) AS dist_n_chars,
               CAST(min(n_chars) AS VARCHAR) AS min_n_chars,
               CAST(max(n_chars) AS VARCHAR) AS max_n_chars
        FROM documents
    )
    SELECT u.column_name,
           CAST(wide.n_rows AS BIGINT) AS n_rows,
           CAST(u.n_nulls AS BIGINT) AS n_nulls,
           round(u.n_nulls / wide.n_rows, 6) AS null_fraction,
           CAST(u.n_distinct AS BIGINT) AS n_distinct,
           u.min_value, u.max_value
    FROM wide, LATERAL (
        VALUES ('lang', nulls_lang, dist_lang, min_lang, max_lang),
               ('source', nulls_source, dist_source, min_source, max_source),
               ('n_chars', nulls_n_chars, dist_n_chars, min_n_chars, max_n_chars)
    ) AS u(column_name, n_nulls, n_distinct, min_value, max_value)
    """,
)
def curation_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.extensions.curation import profile_columns

    docs = load_table(spark, sf_dir, "documents")
    return profile_columns(docs, columns=["lang", "source", "n_chars"])


# --- curation: TF-IDF top terms per document.
@register(
    "curation_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id,
           CAST(rk AS INT) AS rank,
           term,
           CAST(tf AS BIGINT) AS tf,
           CAST(df AS BIGINT) AS df,
           tfidf
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                     ORDER BY tfidf DESC, term) AS rk FROM scored)
    WHERE rk <= 3
    """,
)
def curation_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.extensions.curation import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=3)


# --- dedup end-to-end: near-dup clusters → keep one canonical doc.
@register(
    "dedup_keep_canonical",
    oracle=f"""
    WITH RECURSIVE {_SHINGLE_SQL},
    {_MINHASH_SIG_SQL},
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a
        JOIN sig b ON a.band = b.band AND a.signature = b.signature
                  AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= 4
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, comp) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node
    ),
    labeled AS (
        SELECT node AS doc_id, min(comp) AS component_id
        FROM reach GROUP BY node
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM labeled WHERE doc_id <> component_id)
    """,
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.operators.components import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(docs).filter(F.col("bands_agree") >= 4)
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    non_canonical = comp.filter(F.col("id") != F.col("component_id")).select(
        F.col("id").alias("doc_id")
    )
    return docs.join(non_canonical, "doc_id", "left_anti").select(
        "doc_id", "lang", "source"
    )


# --- embedding clustering: fixed-iteration Lloyd k-means.
@register(
    "embedding_kmeans_lloyd",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    c0 AS (SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT 8),
    s1 AS (
        SELECT v.vec_id, v.e, c0.cid,
               list_sum(list_transform(range(1, 65), i -> (v.e[i] - c0.ce[i]) * (v.e[i] - c0.ce[i]))) AS d2
        FROM v CROSS JOIN c0
    ),
    a1 AS (
        SELECT vec_id, e, cid FROM
            (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM s1)
        WHERE rn = 1
    ),
    m1 AS (
        SELECT cid, pos, round(avg(val), 6) AS m
        FROM (SELECT cid, i AS pos, e[i] AS val
              FROM a1, (SELECT unnest(range(1, 65)) AS i))
        GROUP BY cid, pos
    ),
    c1 AS (SELECT cid, list(m ORDER BY pos) AS ce FROM m1 GROUP BY cid),
    s2 AS (
        SELECT v.vec_id, c1.cid,
               list_sum(list_transform(range(1, 65), i -> (v.e[i] - c1.ce[i]) * (v.e[i] - c1.ce[i]))) AS d2
        FROM v CROSS JOIN c1
    )
    SELECT vec_id,
           CAST(cid AS BIGINT) AS cluster_id,
           round(d2, 6) AS d2
    FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM s2)
    WHERE rn = 1
    """,
)
def embedding_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.extensions.kmeans import kmeans_lloyd

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_lloyd(emb, k=8, iterations=2)


# --- winnowing (MOSS) rolling-hash document fingerprints.
@register(
    "text_winnow_fingerprints",
    oracle="""
    WITH g AS (
        SELECT doc_id, text, length(text) - 4 AS n, unnest(range(1, length(text) - 3)) AS pos
        FROM documents WHERE length(text) >= 5 AND length(text) - 4 < 1048576
    ),
    packed AS (
        SELECT doc_id, n, pos,
               ('0x' || substring(md5(substring(text, pos, 5)), 1, 7))::BIGINT * 1048576
                   + (1048575 - pos) AS p
        FROM g
    ),
    sel AS (
        SELECT doc_id, n, pos,
               min(p) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS win_min
        FROM packed
    )
    SELECT DISTINCT doc_id,
           CAST(1048575 - (win_min % 1048576) AS BIGINT) AS pos,
           CAST(win_min // 1048576 AS BIGINT) AS gram_hash
    FROM sel
    WHERE pos <= n - 3 OR pos = 1
    """,
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.extensions.dedup import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    return winnow_fingerprints(docs)


# --- winnow-fingerprint overlap pairs (partial-overlap near-dup).
@register(
    "dedup_winnow_pairs",
    oracle="""
    WITH g AS (
        SELECT doc_id, text, length(text) - 4 AS n, unnest(range(1, length(text) - 3)) AS pos
        FROM documents WHERE length(text) >= 5 AND length(text) - 4 < 1048576
    ),
    packed AS (
        SELECT doc_id, n, pos,
               ('0x' || substring(md5(substring(text, pos, 5)), 1, 7))::BIGINT * 1048576
                   + (1048575 - pos) AS p
        FROM g
    ),
    sel AS (
        SELECT doc_id, n, pos,
               min(p) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS win_min
        FROM packed
    ),
    fp AS (
        SELECT DISTINCT doc_id, CAST(win_min // 1048576 AS BIGINT) AS gram_hash
        FROM sel WHERE pos <= n - 3 OR pos = 1
    ),
    ok AS (SELECT gram_hash FROM fp GROUP BY 1 HAVING count(*) <= 64),
    fpo AS (SELECT fp.doc_id, fp.gram_hash FROM fp JOIN ok USING (gram_hash))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS shared_fingerprints
    FROM fpo a JOIN fpo b ON a.gram_hash = b.gram_hash AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= 16
    """,
)
def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # min_shared=16: the elbow between genuine partial overlap and
    # common-phrase noise on the synthetic corpus (147 vs 80k pairs)
    from emission_project_spark.extensions.dedup import winnow_overlap_pairs

    docs = load_table(spark, sf_dir, "documents")
    return winnow_overlap_pairs(docs, min_shared=16)


# --- curation capstone: the quality gate a corpus passes before
# joining a training mix (quality score + token-count band), composed
# from the same scalar kit the individual queries expose.
@register(
    "curation_quality_filter",
    oracle="""
    WITH m AS (
        SELECT doc_id, lang, source,
               CAST(len(regexp_extract_all(lower(text), '\\w+')) AS BIGINT) AS n_tokens,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(length(regexp_replace(text, '[\\w ]', '', 'g')) AS DOUBLE) AS n_punct,
               CAST(len(list_filter(regexp_extract_all(lower(text), '\\w+'),
                    t -> t IN ('the','and','of','to','is'))) AS DOUBLE) AS n_stop
        FROM documents
    ),
    scored AS (
        SELECT doc_id, lang, source, n_tokens,
               round(least(n_chars / 500.0, 1.0) * 0.4
                     + (1.0 - least((CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END) * 5.0, 1.0)) * 0.3
                     + (1.0 - abs((CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END) - 0.4)) * 0.3,
                     6) AS quality
        FROM m
    )
    SELECT doc_id, lang, source, n_tokens, quality
    FROM scored
    WHERE quality >= 0.7 AND n_tokens BETWEEN 20 AND 2000
    """,
)
def curation_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            "lang",
            "source",
            token_count("text").alias("n_tokens"),
            F.round(quality_score("text"), 6).alias("quality"),
        )
        .filter((F.col("quality") >= 0.7) & F.col("n_tokens").between(20, 2000))
    )


# --- Whole-history per-user totals: event count and value sum per
# user_id over the events table, one grouped aggregate (map-side
# partial, one shuffle on user_id).
@register(
    "stream_user_totals_batch",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY user_id
    """,
)
def stream_user_totals_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


# --- Batch twin of the watermark-bounded streaming dedup
# (``dropDuplicatesWithinWatermark``): over a bounded input whose
# re-deliveries land inside the horizon, the streaming dedup emits the
# first-arriving row per key — i.e. earliest event time wins (tiebreak
# pinned to event_id for oracle stability). This row proves the
# SEMANTICS against SQL.
@register(
    "stream_dedup_watermark_batch",
    oracle="""
    SELECT user_id, event_type, event_id, ts, value
    FROM (
        SELECT user_id, event_type, event_id, ts, value,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS rn
        FROM events
    )
    WHERE rn = 1
    """,
)
def stream_dedup_watermark_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.streaming.dedup import dedup_batch_earliest

    e = load_table(spark, sf_dir, "events")
    return dedup_batch_earliest(
        e.select("user_id", "event_type", "event_id", "ts", "value"),
        ["user_id", "event_type"],
        ts_col="ts",
        tiebreak_col="event_id",
    )


# --- Batch twin of the stream-stream interval join: runs the SAME
# function (streaming/dedup.py interval_join_streams) on bounded
# frames — withWatermark is a no-op in batch, so the twin exercises the
# exact production code path, and the oracle restates the interval
# predicate directly. tests/test_streaming.py::
# test_stream_stream_interval_join proves the micro-batch path.
@register(
    "stream_interval_join_batch",
    oracle="""
    SELECT s.event_id AS signup_id, p.event_id AS purchase_id,
           s.user_id AS user_id,
           CAST(epoch_us(p.ts) - epoch_us(s.ts) AS BIGINT) AS delta_us
    FROM events s
    JOIN events p
      ON s.user_id = p.user_id
     AND p.ts > s.ts
     AND p.ts <= s.ts + INTERVAL 1 HOUR
    WHERE s.event_type = 'signup' AND p.event_type = 'purchase'
    """,
)
def stream_interval_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.streaming.dedup import interval_join_streams

    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("sts"), F.col("event_id").alias("sid")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("event_id").alias("pid")
    )
    joined = interval_join_streams(
        s, p, key="user_id", left_ts="sts", right_ts="pts",
        lateness="10 minutes", window_seconds=3600,
    )
    return joined.select(
        F.col("sid").alias("signup_id"),
        F.col("pid").alias("purchase_id"),
        s["user_id"].alias("user_id"),
        (F.unix_micros("pts") - F.unix_micros("sts")).cast("bigint").alias("delta_us"),
    )


# --- `stream_sessionize_batch` is `events_sessionize`
# (plans/relational.py) under a second name, checked against a second
# reference formulation: gaps-and-islands SQL with the break written as
# `ts > lag(ts) + gap`. session_window merges an event into the prior
# session up to AND INCLUDING ts + gap (closed boundary, pinned by
# test_session_window_gap_boundary_semantics), so a new session starts
# only strictly past it.
register(
    "stream_sessionize_batch",
    oracle="""
    WITH m AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts > lag(ts) OVER w + INTERVAL 1800 SECOND
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
        SELECT user_id, ts, value,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM m
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 1800 SECOND AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS total_value
    FROM s
    GROUP BY user_id, sid
    """,
)(events_sessionize)


# --- Batch twin of the streaming windowed distinct-user count
# (streaming/stateful.py windowed_distinct_users): the HLL++ sketch is
# what makes distinct-count streamable (exact DISTINCT on a stream
# would hold every user id of every open window in state; the sketch is
# a fixed mergeable register array). Same assertion pattern as
# approx_hll_distinct_events: the twin joins the streaming function's
# output to the exact distinct and asserts the estimate lands within
# 2% with an absolute floor of 3 — Spark's HLL++ has no sparse mode,
# so a ±1 linear-counting miss on a 20-user window is 5% and a pure
# relative bound flips on small windows (observed at sf0.1); the
# oracle emits the exact count and literal true.
# tests/test_streaming.py::test_streaming_windowed_distinct proves the
# micro-batch path (watermarked append-mode finalization).
@register(
    "stream_windowed_distinct_batch",
    oracle="""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
           date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR
               AS window_end,
           event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(true AS BOOLEAN) AS hll_within_2pct
    FROM events
    WHERE ts IS NOT NULL  -- F.window drops null event times (isnotnull filter in the plan)
    GROUP BY 1, 2, 3
    """,
)
def stream_windowed_distinct_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.streaming.stateful import windowed_distinct_users

    e = load_table(spark, sf_dir, "events")
    approx = windowed_distinct_users(e.select("user_id", "event_type", "ts"))
    exact = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.countDistinct("user_id").alias("exact_users"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "exact_users",
        )
    )
    return approx.join(exact, ["window_start", "event_type"]).select(
        "window_start",
        "window_end",
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= F.greatest(
                F.ceil(F.col("exact_users") * F.lit(0.02)), F.lit(3)
            )
        ).alias("hll_within_2pct"),
    )


# --- Observability for the MAX_DOC_FREQ recall cap (ADVICE round 2:
# capped paths must emit a signal, not truncate silently). One summary
# row quantifying what a cap of 3 would drop from the shingle inverted
# index — the cap here is intentionally LOW so the report path is
# exercised with nonzero counts at test scale (the operators' cap
# stays 64).
@register(
    "dedup_bucket_cap_report",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    freq AS (
        SELECT shingle, count(*) AS c, list(doc_id) AS ids
        FROM sh GROUP BY shingle
    ),
    affected AS (
        SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_affected
        FROM (SELECT unnest(ids) AS doc_id FROM freq WHERE c > 3)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(coalesce(sum(CASE WHEN c > 3 THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS n_capped,
           CAST(coalesce(sum(CASE WHEN c > 3 THEN c ELSE 0 END), 0) AS BIGINT)
               AS n_postings_dropped,
           (SELECT n_docs_affected FROM affected) AS n_docs_affected
    FROM freq
    """,
)
def dedup_bucket_cap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.extensions.dedup import shingle_cap_report

    docs = load_table(spark, sf_dir, "documents")
    return shingle_cap_report(docs, max_doc_freq=3)


# --- Observability for winnow_fingerprints' oversized-document guard
# (docs with ≥ 2^20 char 5-grams are excluded from the fingerprint
# stream — this report makes the detection gap measurable).
@register(
    "winnow_oversized_report",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(coalesce(sum(CASE WHEN length(text) - 4 < 1 THEN 1 ELSE 0 END), 0)
               AS BIGINT) AS n_skipped_empty,
           CAST(coalesce(sum(CASE WHEN length(text) - 4 >= 1048576 THEN 1 ELSE 0 END), 0)
               AS BIGINT) AS n_oversized,
           CAST(coalesce(max(CASE WHEN length(text) - 4 >= 1 THEN length(text) - 4 END), 0)
               AS BIGINT) AS max_grams
    FROM documents
    """,
)
def winnow_oversized_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.extensions.dedup import winnow_oversized_report as _rpt

    docs = load_table(spark, sf_dir, "documents")
    return _rpt(docs)


# --- Sentence segmentation stats: the per-document readability /
# structure signals (sentence count, mean sentence length) that sit
# beside the Gopher repetition gates in crawl-filter stacks. Pure
# higher-order functions on both engines: split on terminal
# punctuation runs, trim, drop empties, fold lengths — no explode, no
# shuffle; one narrow projection then a label-level rollup.
@register(
    "text_sentence_stats",
    oracle="""
    WITH segs AS (
        SELECT lang,
               list_filter(
                   list_transform(regexp_split_to_array(text, '[.!?]+'),
                                  s -> trim(s)),
                   s -> s <> '') AS ss
        FROM documents
    ),
    per_doc AS (
        SELECT lang,
               CAST(len(ss) AS BIGINT) AS n_sent,
               CASE WHEN len(ss) > 0
                    THEN CAST(list_sum(list_transform(ss, s -> length(s)))
                              AS DOUBLE) / len(ss) END AS mean_len
        FROM segs
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_sent) AS BIGINT) AS total_sentences,
           round(avg(n_sent), 6) AS avg_sentences_per_doc,
           round(avg(mean_len), 6) AS avg_sentence_chars
    FROM per_doc
    GROUP BY lang
    """,
)
def text_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ss = F.filter(
        F.transform(F.split("text", r"[.!?]+"), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    per_doc = docs.select(
        "lang",
        F.size(ss).cast("bigint").alias("n_sent"),
        F.when(
            F.size(ss) > 0,
            F.aggregate(
                ss, F.lit(0.0), lambda acc, s: acc + F.length(s).cast("double")
            )
            / F.size(ss),
        ).alias("mean_len"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_sent").alias("total_sentences"),
        F.round(F.avg("n_sent"), 6).alias("avg_sentences_per_doc"),
        F.round(F.avg("mean_len"), 6).alias("avg_sentence_chars"),
    )


# --- Gopher-style repetition metrics (Rae et al., table A1): the
# repetition signals used to gate crawl corpora. top-token fraction is
# computed RELATIONALLY (explode → (doc, token) counts → per-doc
# max/sum) rather than as a per-row HOF: one scan, one shuffle keyed
# (doc_id, token) with map-side partials — the shape that survives
# multi-MB documents, where a nested array scan per row would be
# quadratic. Zero-token docs are preserved via left join.
@register(
    "text_repetition_metrics",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\w+')) AS tok
        FROM documents
    ),
    pt AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
    pd AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_distinct,
               CAST(max(c) AS BIGINT) AS top_c
        FROM pt GROUP BY 1
    ),
    lines AS (
        SELECT doc_id,
               list_filter(string_split(text, chr(10)), x -> length(x) > 0) AS ls
        FROM documents
    )
    SELECT d.doc_id,
           CAST(coalesce(pd.n_tokens, 0) AS BIGINT) AS n_tokens,
           round(coalesce(CAST(pd.n_distinct AS DOUBLE) / pd.n_tokens, 0.0), 6)
               AS distinct_token_ratio,
           round(coalesce(CAST(pd.top_c AS DOUBLE) / pd.n_tokens, 0.0), 6)
               AS top_token_fraction,
           round(CASE WHEN len(l.ls) > 0
                 THEN CAST(len(l.ls) - len(list_distinct(l.ls)) AS DOUBLE) / len(l.ls)
                 ELSE 0.0 END, 6) AS duplicate_line_fraction
    FROM documents d
    LEFT JOIN pd ON d.doc_id = pd.doc_id
    JOIN lines l ON d.doc_id = l.doc_id
    """,
)
def text_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.functions.text import duplicate_line_fraction, tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens(F.lower("text"))).alias("tok"))
    per_tok = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    per_doc = per_tok.groupBy("doc_id").agg(
        F.sum("c").alias("_n"),
        F.count(F.lit(1)).alias("_d"),
        F.max("c").alias("_t"),
    )
    return (
        docs.select("doc_id", duplicate_line_fraction("text").alias("_dlf"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_n"), F.lit(0)).cast("bigint").alias("n_tokens"),
            F.round(
                F.coalesce(F.col("_d").cast("double") / F.col("_n"), F.lit(0.0)), 6
            ).alias("distinct_token_ratio"),
            F.round(
                F.coalesce(F.col("_t").cast("double") / F.col("_n"), F.lit(0.0)), 6
            ).alias("top_token_fraction"),
            F.round(F.col("_dlf"), 6).alias("duplicate_line_fraction"),
        )
    )


# --- PII scrubbing: detection counts + deterministic redaction.
# Patterns and replacement ORDER are the contract (email → phone →
# ipv4), mirrored exactly in the oracle; the scrubbed text is compared
# via md5 so redaction is verified end-to-end without shipping text.
@register(
    "text_pii_scrub",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(text,
                '\\+?[0-9][0-9()\\- ]{7,}[0-9]')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(text,
                '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS BIGINT) AS n_ipv4,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                '\\+?[0-9][0-9()\\- ]{7,}[0-9]', '[PHONE]', 'g'),
                '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '[IPV4]', 'g'))
               AS scrubbed_md5
    FROM documents
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.functions.text import pii_counts, scrub_pii

    docs = load_table(spark, sf_dir, "documents")
    counts = pii_counts("text")
    return docs.select(
        "doc_id",
        counts["email"].alias("n_email"),
        counts["phone"].alias("n_phone"),
        counts["ipv4"].alias("n_ipv4"),
        F.md5(scrub_pii("text")).alias("scrubbed_md5"),
    )


# --- benchmark decontamination: word-shingle overlap vs an eval set
# (docs 0-9 stand in for the benchmark). The benchmark shingle set
# broadcasts; the corpus is never shuffled by shingle.
@register(
    "text_decontaminate_overlap",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    b AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id < 10)
    SELECT s.doc_id, b.bench_id, CAST(count(*) AS BIGINT) AS n_shared
    FROM sh s JOIN b ON s.shingle = b.shingle AND s.doc_id <> b.bench_id
    GROUP BY 1, 2
    HAVING count(*) >= 3
    """,
)
def text_decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.extensions.dedup import contamination_overlap

    docs = load_table(spark, sf_dir, "documents")
    return contamination_overlap(docs, docs.filter(F.col("doc_id") < 10), min_shared=3)


# --- incremental dedup: today's batch (doc_id >= 250) against the
# stored corpus state (doc_id < 250). Only the batch is hashed at run
# time; the state side is the persisted fingerprint/signature table.
@register(
    "dedup_incremental_exact",
    oracle=f"""
    WITH state AS (
        SELECT DISTINCT {_FP_SQL} AS fingerprint FROM documents WHERE doc_id < 250
    ),
    batch AS (
        SELECT doc_id, {_FP_SQL} AS fingerprint FROM documents WHERE doc_id >= 250
    )
    SELECT doc_id, fingerprint FROM (
        SELECT b.doc_id, b.fingerprint,
               row_number() OVER (PARTITION BY b.fingerprint ORDER BY b.doc_id) AS rn
        FROM batch b
        WHERE b.fingerprint NOT IN (SELECT fingerprint FROM state)
    ) WHERE rn = 1
    """,
)
def dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.extensions.dedup import (
        exact_duplicates,
        incremental_exact_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    state = exact_duplicates(docs.filter(F.col("doc_id") < 250)).select("fingerprint")
    batch = docs.filter(F.col("doc_id") >= 250)
    fresh, _dup = incremental_exact_dedup(batch, state)
    return fresh.select("doc_id", "fingerprint")


@register(
    "dedup_incremental_minhash",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    {_MINHASH_SIG_SQL}
    SELECT b.doc_id AS batch_doc_id, s.doc_id AS state_doc_id,
           CAST(count(*) AS BIGINT) AS bands_agree
    FROM sig b
    JOIN sig s ON b.band = s.band AND b.signature = s.signature
              AND b.doc_id >= 250 AND s.doc_id < 250
    GROUP BY 1, 2
    HAVING count(*) >= 4
    """,
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.extensions.dedup import (
        incremental_minhash_candidates,
        minhash_band_signatures,
    )

    docs = load_table(spark, sf_dir, "documents")
    # the state's persisted signature table (computed once, stored)
    state_sigs = minhash_band_signatures(docs.filter(F.col("doc_id") < 250))
    batch = docs.filter(F.col("doc_id") >= 250)
    return incremental_minhash_candidates(batch, state_sigs, min_bands=4)


# --- curation: fill a per-language token budget (mixture building —
# "N tokens of each source"): hash-ordered prefix under a window
# cumulative sum. One shuffle keyed by the stratum.
@register(
    "curation_token_budget",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang,
               CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, lang, n_tokens,
               sum(n_tokens) OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM t
    )
    SELECT doc_id, lang, n_tokens FROM c WHERE cum <= 5000
    """,
)
def curation_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.extensions.curation import token_budget_select

    docs = load_table(spark, sf_dir, "documents")
    with_tokens = docs.select("doc_id", "lang", token_count("text").alias("n_tokens"))
    return token_budget_select(
        with_tokens, strata=["lang"], id_col="doc_id", token_col="n_tokens", budget=5000
    )


# --- embedding cluster quality: per-cluster population and inertia
# (mean squared distance) over the Lloyd assignment — the metric that
# drives "is k right / which clusters are garbage" curation decisions.
@register(
    "embedding_cluster_quality",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    c0 AS (SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT 8),
    s1 AS (
        SELECT v.vec_id, v.e, c0.cid,
               list_sum(list_transform(range(1, 65), i -> (v.e[i] - c0.ce[i]) * (v.e[i] - c0.ce[i]))) AS d2
        FROM v CROSS JOIN c0
    ),
    a1 AS (
        SELECT vec_id, e, cid FROM
            (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM s1)
        WHERE rn = 1
    ),
    m1 AS (
        SELECT cid, pos, round(avg(val), 6) AS m
        FROM (SELECT cid, i AS pos, e[i] AS val
              FROM a1, (SELECT unnest(range(1, 65)) AS i))
        GROUP BY cid, pos
    ),
    c1 AS (SELECT cid, list(m ORDER BY pos) AS ce FROM m1 GROUP BY cid),
    s2 AS (
        SELECT v.vec_id, c1.cid,
               list_sum(list_transform(range(1, 65), i -> (v.e[i] - c1.ce[i]) * (v.e[i] - c1.ce[i]))) AS d2
        FROM v CROSS JOIN c1
    ),
    a2 AS (
        SELECT vec_id, cid, round(d2, 6) AS d2 FROM
            (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM s2)
        WHERE rn = 1
    )
    SELECT CAST(cid AS BIGINT) AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round(avg(d2), 4) AS mean_d2,
           round(max(d2), 4) AS max_d2
    FROM a2 GROUP BY cid
    """,
)
def embedding_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.extensions.kmeans import kmeans_lloyd

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = kmeans_lloyd(emb, k=8, iterations=2)
    return assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg("d2"), 4).alias("mean_d2"),
        F.round(F.max("d2"), 4).alias("max_d2"),
    )


# --- curation: declared-rate mixture sampling (keep 50% en / 25% es /
# 10% fr / 5% de / 0% zh) — deterministic hash-thresholded Bernoulli,
# a pure map-side filter (no shuffle at any scale).
@register(
    "curation_mixture_sample",
    oracle="""
    SELECT doc_id, lang, source
    FROM documents
    WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
          / 268435456.0
          < CASE lang WHEN 'en' THEN 0.5 WHEN 'es' THEN 0.25
                      WHEN 'fr' THEN 0.1 WHEN 'de' THEN 0.05 ELSE 0.0 END
    """,
)
def curation_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.extensions.curation import hash_rate_sample

    docs = load_table(spark, sf_dir, "documents")
    return hash_rate_sample(
        docs.select("doc_id", "lang", "source"),
        stratum_col="lang",
        id_col="doc_id",
        rates={"en": 0.5, "es": 0.25, "fr": 0.1, "de": 0.05},
    ).select("doc_id", "lang", "source")


# --- text analysis: URL extraction + domain counting (crawl-curation
# staple: per-doc link density and domain profile). Pattern restricted
# to Java/RE2-common syntax; domains lowercased for a canonical count.
@register(
    "text_url_extract",
    oracle="""
    WITH u AS (
        SELECT doc_id,
               regexp_extract_all(text, 'https?://([A-Za-z0-9.-]+)', 1) AS domains
        FROM documents
    )
    SELECT doc_id,
           CAST(len(domains) AS BIGINT) AS n_urls,
           CAST(len(list_distinct(list_transform(domains, d -> lower(d)))) AS BIGINT)
               AS n_domains
    FROM u
    """,
)
def text_url_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    domains = F.regexp_extract_all(F.col("text"), F.lit(r"https?://([A-Za-z0-9.-]+)"), 1)
    return docs.select(
        "doc_id",
        F.size(domains).cast("bigint").alias("n_urls"),
        F.size(F.array_distinct(F.transform(domains, lambda d: F.lower(d))))
        .cast("bigint")
        .alias("n_domains"),
    )


# --- curation: context-length truncation — keep each doc's first N
# tokens (the trim step before packing sequences). Token slicing is a
# JVM array op over one tokenization; the truncated text is compared
# via md5 (no text shipped to the harness).
@register(
    "curation_truncate_tokens",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
    SELECT doc_id,
           CAST(least(len(toks), 64) AS BIGINT) AS n_tokens_kept,
           -- coalesce: DuckDB array_to_string([]) is NULL, but Spark
           -- array_join(empty) is '' — a zero-token doc's truncation
           -- is the empty string (md5 d41d8cd9...), not NULL
           md5(coalesce(array_to_string(toks[1:64], ' '), '')) AS truncated_md5
    FROM t
    """,
)
def curation_truncate_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.lower(F.col("text")))
    kept = F.slice(toks, 1, 64)
    return docs.select(
        "doc_id",
        F.least(F.size(toks), F.lit(64)).cast("bigint").alias("n_tokens_kept"),
        F.md5(F.array_join(kept, " ")).alias("truncated_md5"),
    )


# --- corpus vocabulary: top-20 terms by document frequency (vocab /
# stopword analysis). Exact counts — explode once, aggregate by term,
# deterministic ties by term; the scale path swaps the exact count for
# a count-min sketch only if the vocabulary itself can't be shuffled,
# which at 100 TB it still can (vocab ≪ corpus).
@register(
    "text_corpus_top_terms",
    oracle=f"""
    WITH t AS (
        SELECT DISTINCT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
    )
    SELECT term, CAST(count(*) AS BIGINT) AS doc_freq
    FROM t GROUP BY term
    ORDER BY doc_freq DESC, term
    LIMIT 20
    """,
)
def text_corpus_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term")
    ).distinct()
    return (
        t.groupBy("term")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), F.col("term").asc())
        .limit(20)
    )


# --- curation: mixture report — per (lang, source) token totals and
# corpus fraction (the table a mixture decision reads). One aggregate
# plus a scalar total joined back (broadcast of one row).
@register(
    "curation_mixture_report",
    oracle=f"""
    WITH per AS (
        SELECT lang, source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len({_TOKS_SQL})) AS BIGINT) AS n_tokens
        FROM documents GROUP BY 1, 2
    )
    SELECT lang, source, n_docs, n_tokens,
           round(CAST(n_tokens AS DOUBLE) / (SELECT sum(n_tokens) FROM per), 6)
               AS token_fraction
    FROM per
    """,
)
def curation_mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count("text")).alias("n_tokens"),
    )
    total = per.agg(F.sum("n_tokens").alias("_total"))
    return per.crossJoin(F.broadcast(total)).select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens").cast("double") / F.col("_total"), 6).alias(
            "token_fraction"
        ),
    )


# --- count-min sketch: sublinear frequency estimation (Cormode &
# Muthukrishnan '05). The md5-derived hash family makes the whole
# sketch + estimates exactly reproducible in SQL: the oracle builds
# the same 4×1024 counter table and takes the same min-of-cells
# estimate for the corpus's top-20 terms. Estimates are provably ≥
# the true count (checked in the pytest).
@register(
    "sketch_count_min_terms",
    oracle=f"""
    WITH tok AS (
        SELECT unnest({_TOKS_SQL}) AS term FROM documents
    ),
    dd AS (SELECT unnest(range(4)) AS d),
    cells AS (
        SELECT d,
               ('0x' || substring(md5(d::VARCHAR || ':' || term), 1, 7))::BIGINT % 1024
                   AS bucket,
               count(*) AS cnt
        FROM tok, dd
        GROUP BY 1, 2
    ),
    true_counts AS (SELECT term, count(*) AS true_count FROM tok GROUP BY 1),
    top AS (SELECT term, true_count FROM true_counts
            ORDER BY true_count DESC, term LIMIT 20),
    est AS (
        SELECT t.term, t.true_count, min(c.cnt) AS cms_estimate
        FROM top t CROSS JOIN dd
        JOIN cells c ON c.d = dd.d
         AND c.bucket = ('0x' || substring(md5(dd.d::VARCHAR || ':' || t.term), 1, 7))::BIGINT % 1024
        GROUP BY 1, 2
    )
    SELECT term, CAST(true_count AS BIGINT) AS true_count,
           CAST(cms_estimate AS BIGINT) AS cms_estimate
    FROM est
    """,
)
def sketch_count_min_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.extensions.sketch import (
        count_min_build,
        count_min_estimate,
    )
    from emission_project_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("term"))
    sketch = count_min_build(toks)
    top = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .orderBy(F.col("true_count").desc(), F.col("term").asc())
        .limit(20)
    )
    est = count_min_estimate(sketch, top.select("term"))
    return top.join(est, "term").select("term", "true_count", "cms_estimate")


# --- Bloom-filter membership prefilter for incremental dedup: build
# the filter over the state's fingerprints (doc_id < 250), probe the
# batch (doc_id >= 250). Guaranteed no false negatives, so "false"
# rows skip the expensive dedup join entirely; the oracle replays the
# identical md5 bit positions.
@register(
    "sketch_bloom_prefilter",
    oracle=f"""
    WITH state AS (
        SELECT DISTINCT {_FP_SQL} AS fp FROM documents WHERE doc_id < 250
    ),
    dd AS (SELECT unnest(range(4)) AS d),
    bloom AS (
        SELECT DISTINCT d,
               ('0x' || substring(md5(d::VARCHAR || ':' || fp), 1, 7))::BIGINT % 1024
                   AS bucket
        FROM state, dd
    ),
    batch AS (
        SELECT doc_id, {_FP_SQL} AS fp FROM documents WHERE doc_id >= 250
    ),
    probes AS (
        SELECT b.doc_id, b.fp, dd.d,
               ('0x' || substring(md5(dd.d::VARCHAR || ':' || b.fp), 1, 7))::BIGINT % 1024
                   AS bucket
        FROM batch b CROSS JOIN dd
    )
    SELECT p.doc_id,
           CAST(count(bl.bucket) = 4 AS BOOLEAN) AS possibly_present
    FROM probes p
    LEFT JOIN bloom bl ON bl.d = p.d AND bl.bucket = p.bucket
    GROUP BY p.doc_id
    """,
)
def sketch_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.extensions.sketch import bloom_build, bloom_contains
    from emission_project_spark.functions.text import fingerprint as _fp

    docs = load_table(spark, sf_dir, "documents")
    state = (
        docs.filter(F.col("doc_id") < 250)
        .select(_fp("text").alias("key"))
        .distinct()
    )
    batch = docs.filter(F.col("doc_id") >= 250).select(
        "doc_id", _fp("text").alias("key")
    )
    bloom = bloom_build(state)
    probed = bloom_contains(bloom, batch)
    return batch.join(probed, "key").select("doc_id", "possibly_present")


# --- curation: sequence packing — assign docs to ~2048-token training
# bins per language (bin = where the doc STARTS in the hash-ordered
# running total). One window cumsum per stratum; no driver loop.
@register(
    "curation_pack_sequences",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, lang, n_tokens,
               sum(n_tokens) OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM t
    )
    SELECT doc_id, lang, n_tokens,
           CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS bin_id
    FROM c
    """,
)
def curation_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.extensions.curation import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    with_tokens = docs.select("doc_id", "lang", token_count("text").alias("n_tokens"))
    return pack_sequences(
        with_tokens, strata=["lang"], id_col="doc_id", token_col="n_tokens", context_len=2048
    )


# --- multimodal: payload byte-size profile per media type — the stats
# that size Arrow batches and partition bytes for binary-column scans
# (maxRecordsPerBatch × avg payload must fit executor memory). Byte
# length is computed on the BINARY payload (multibyte text ≠ char
# count), matching DuckDB's octet_length over the encoded blob.
@register(
    "multimodal_payload_stats",
    oracle="""
    SELECT 'image/fake' AS media_type,
           CAST(count(*) AS BIGINT) AS n_payloads,
           CAST(min(octet_length(encode(text))) AS BIGINT) AS min_bytes,
           CAST(max(octet_length(encode(text))) AS BIGINT) AS max_bytes,
           round(avg(octet_length(encode(text))), 4) AS avg_bytes,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes
    FROM documents
    """,
)
def multimodal_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = attach_payload(docs)
    nbytes = F.length("payload")
    return media.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_payloads"),
        F.min(nbytes).cast("bigint").alias("min_bytes"),
        F.max(nbytes).cast("bigint").alias("max_bytes"),
        F.round(F.avg(nbytes), 4).alias("avg_bytes"),
        F.sum(nbytes).cast("bigint").alias("total_bytes"),
    )


# --- cross-modal curation: per-embedding-cluster text quality — join
# the Lloyd cluster assignment (embeddings) to the quality score
# (documents) on the shared id, then aggregate. The decision table for
# "drop cluster k" semantic curation: a cluster that is geometrically
# tight but textually low-quality is spam. One broadcast-size join
# (cluster labels are two columns) + one aggregate.
@register(
    "curation_cluster_quality_join",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    c0 AS (SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT 8),
    s1 AS (
        SELECT v.vec_id, v.e, c0.cid,
               list_sum(list_transform(range(1, 65), i -> (v.e[i] - c0.ce[i]) * (v.e[i] - c0.ce[i]))) AS d2
        FROM v CROSS JOIN c0
    ),
    a1 AS (
        SELECT vec_id, e, cid FROM
            (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM s1)
        WHERE rn = 1
    ),
    m1 AS (
        SELECT cid, pos, round(avg(val), 6) AS m
        FROM (SELECT cid, i AS pos, e[i] AS val
              FROM a1, (SELECT unnest(range(1, 65)) AS i))
        GROUP BY cid, pos
    ),
    c1 AS (SELECT cid, list(m ORDER BY pos) AS ce FROM m1 GROUP BY cid),
    s2 AS (
        SELECT v.vec_id, c1.cid,
               list_sum(list_transform(range(1, 65), i -> (v.e[i] - c1.ce[i]) * (v.e[i] - c1.ce[i]))) AS d2
        FROM v CROSS JOIN c1
    ),
    a2 AS (
        SELECT vec_id, cid FROM
            (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM s2)
        WHERE rn = 1
    ),
    q AS (
        SELECT doc_id,
               round(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
                     + (1.0 - least((CASE WHEN length(text) > 0
                            THEN CAST(length(regexp_replace(text, '[\\w ]', '', 'g')) AS DOUBLE) / length(text)
                            ELSE 0.0 END) * 5.0, 1.0)) * 0.3
                     + (1.0 - abs((CASE WHEN len(regexp_extract_all(lower(text), '\\w+')) > 0
                            THEN CAST(len(list_filter(regexp_extract_all(lower(text), '\\w+'),
                                 t -> t IN ('the','and','of','to','is'))) AS DOUBLE)
                                 / len(regexp_extract_all(lower(text), '\\w+'))
                            ELSE 0.0 END) - 0.4)) * 0.3,
                     6) AS quality
        FROM documents
    )
    SELECT CAST(a2.cid AS BIGINT) AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(q.quality), 6) AS mean_quality,
           round(min(q.quality), 6) AS min_quality
    FROM a2 JOIN q ON a2.vec_id = q.doc_id
    GROUP BY 1
    """,
)
def curation_cluster_quality_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.extensions.kmeans import kmeans_lloyd

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    clusters = kmeans_lloyd(emb, k=8, iterations=2).select("vec_id", "cluster_id")
    quality = docs.select(
        F.col("doc_id"), F.round(quality_score("text"), 6).alias("quality")
    )
    return (
        clusters.join(quality, clusters["vec_id"] == quality["doc_id"])
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("quality"), 6).alias("mean_quality"),
            F.round(F.min("quality"), 6).alias("min_quality"),
        )
    )


# --- THE capstone composition: the final curated corpus in one
# declarative plan — quality gate → exact-dedup keep-canonical →
# benchmark decontamination, the whole preprocessing pipeline a
# training run consumes. Each stage is an operator proven green on its
# own; Catalyst fuses the quality filter into the scan, the dedup is
# one fingerprint shuffle, and both the canonical-set and contaminated
# joins are semi/anti joins on small sides.
@register(
    "curation_final_corpus",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    m AS (
        SELECT doc_id, lang, source,
               CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(length(regexp_replace(text, '[\\w ]', '', 'g')) AS DOUBLE) AS n_punct,
               CAST(len(list_filter({_TOKS_SQL},
                    t -> t IN ('the','and','of','to','is'))) AS DOUBLE) AS n_stop,
               {_FP_SQL} AS fp
        FROM documents
    ),
    scored AS (
        SELECT doc_id, lang, source, n_tokens, fp,
               round(least(n_chars / 500.0, 1.0) * 0.4
                     + (1.0 - least((CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END) * 5.0, 1.0)) * 0.3
                     + (1.0 - abs((CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END) - 0.4)) * 0.3,
                     6) AS quality
        FROM m
    ),
    gated AS (
        SELECT * FROM scored WHERE quality >= 0.5 AND n_tokens BETWEEN 20 AND 2000
    ),
    canonical AS (
        SELECT doc_id, lang, source, n_tokens, quality FROM
            (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
             FROM gated)
        WHERE rn = 1
    ),
    bench AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id < 10),
    contaminated AS (
        SELECT s.doc_id
        FROM sh s JOIN bench b ON s.shingle = b.shingle AND s.doc_id <> b.bench_id
        GROUP BY s.doc_id, b.bench_id
        HAVING count(*) >= 3
    )
    SELECT c.doc_id, c.lang, c.source, c.n_tokens, c.quality
    FROM canonical c
    WHERE c.doc_id NOT IN (SELECT doc_id FROM contaminated)
    """,
)
def curation_final_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.extensions.dedup import contamination_overlap
    from emission_project_spark.operators.dedup import dedup_subset

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        "source",
        "text",
        token_count("text").alias("n_tokens"),
        F.round(quality_score("text"), 6).alias("quality"),
        fingerprint("text").alias("fp"),
    )
    gated = scored.filter(
        (F.col("quality") >= 0.5) & F.col("n_tokens").between(20, 2000)
    )
    canonical = dedup_subset(
        gated.select("fp", "doc_id", "lang", "source", "n_tokens", "quality"),
        ["fp"],
        tiebreaker=["doc_id"],
    )
    contaminated = (
        contamination_overlap(docs, docs.filter(F.col("doc_id") < 10), min_shared=3)
        .select("doc_id")
        .distinct()
    )
    return (
        canonical.join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "lang", "source", "n_tokens", "quality")
    )


# --- curation: context-window chunking with overlap (window 64,
# stride 48 ⇒ 16-token overlap) — the step between cleaning and
# tokenization that turns documents into training sequences. Narrow
# plan (sequence → posexplode → slice), zero shuffle, zero Python;
# the oracle restates it with generate_series + list_slice. Chunk
# text is emitted verbatim so the hash gate checks token content,
# boundaries, and the short tail chunk exactly.
@register(
    "curation_chunk_overlap",
    oracle="""
    WITH d AS (
        SELECT doc_id, regexp_extract_all(text, '\\w+') AS toks
        FROM documents
    )
    SELECT doc_id,
           CAST(s / 48 AS BIGINT)                                 AS chunk_id,
           CAST(s AS BIGINT)                                      AS chunk_start,
           CAST(len(list_slice(toks, s + 1, s + 64)) AS BIGINT)   AS n_tokens,
           -- coalesce: DuckDB array_to_string([]) is NULL, Spark
           -- array_join([]) is '' (empty doc => one empty chunk)
           coalesce(array_to_string(list_slice(toks, s + 1, s + 64), ' '), '')
                                                                  AS chunk_text
    FROM d, unnest(generate_series(0, greatest(len(toks) - 1, 0), 48)) AS t(s)
    """,
)
def curation_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.extensions.curation import chunk_tokens
    from emission_project_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    return chunk_tokens(toked, "doc_id", "toks", window=64, stride=48)


# --- dedup: character-level edit-distance near-dups under multi-pass
# (lang, source, length-bucket, prefix|suffix) blocking — the exact
# ground truth the token-set detectors approximate, kept tractable by
# shuffling on block keys so the O(L²) DP never runs all-pairs. The
# affix keys keep block size tracking true duplicate groups instead of
# corpus size (stratum+length alone goes quadratic as the corpus
# grows); unioning a prefix pass and a suffix pass means a pair
# escapes only when edited at BOTH ends. Oracle restates both passes
# (UNION dedupes) over the same Wagner-Fischer distance.
@register(
    "dedup_levenshtein_block",
    oracle="""
    WITH b AS (
        SELECT doc_id, text, lang, source,
               CAST(floor(length(text) / 64.0) AS BIGINT) AS lb,
               left(text, 16) AS pre, right(text, 16) AS suf
        FROM documents
    ),
    -- the LEV_MAX_BLOCK=256 hot-block cap, per pass
    bp AS (
        SELECT * FROM (
            SELECT b.*, count(*) OVER (PARTITION BY lang, source, lb, pre) AS bn
            FROM b
        ) WHERE bn <= 256
    ),
    bs AS (
        SELECT * FROM (
            SELECT b.*, count(*) OVER (PARTITION BY lang, source, lb, suf) AS bn
            FROM b
        ) WHERE bn <= 256
    ),
    cand AS (
        SELECT a.doc_id AS id_a, c.doc_id AS id_b,
               a.text AS ta, c.text AS tb
        FROM bp a JOIN bp c
          ON a.lang = c.lang AND a.source = c.source AND a.lb = c.lb
         AND a.pre = c.pre AND a.doc_id < c.doc_id
        UNION
        SELECT a.doc_id, c.doc_id, a.text, c.text
        FROM bs a JOIN bs c
          ON a.lang = c.lang AND a.source = c.source AND a.lb = c.lb
         AND a.suf = c.suf AND a.doc_id < c.doc_id
    )
    SELECT id_a, id_b,
           CAST(levenshtein(ta, tb) AS BIGINT) AS dist,
           round(levenshtein(ta, tb)
                 / greatest(length(ta), length(tb)), 4) AS rel_dist
    FROM cand
    WHERE levenshtein(ta, tb) <= 0.25 * greatest(length(ta), length(tb))
    """,
)
def dedup_levenshtein_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.extensions.dedup import levenshtein_block_pairs

    docs = load_table(spark, sf_dir, "documents")
    return levenshtein_block_pairs(
        docs, block_cols=("lang", "source"), len_bucket=64, max_rel_dist=0.25
    )


# --- text: corpus-level bigram frequencies (the n-gram LM / collocation
# statistic; unigram twin is text_corpus_top_terms). Bigrams form via a
# higher-order transform over the token array — narrow, no
# self-join — then one hash aggregate; top-20 with a total order
# (count desc, bigram asc) so the cut is deterministic in both engines.
@register(
    "text_bigrams_top",
    oracle=f"""
    WITH d AS (SELECT {_TOKS_SQL} AS toks FROM documents),
    b AS (
        SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                                     i -> toks[i] || ' ' || toks[i + 1])) AS bigram
        FROM d WHERE len(toks) >= 2
    )
    SELECT bigram, CAST(count(*) AS BIGINT) AS n
    FROM b GROUP BY bigram
    ORDER BY n DESC, bigram ASC
    LIMIT 20
    """,
)
def text_bigrams_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(tokens(F.lower(F.col("text"))).alias("toks")).filter(
        F.size("toks") >= 2
    )
    bigrams = toked.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(F.col("toks"), i), F.element_at(F.col("toks"), i + 1)
                ),
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(20)
    )


# --- Batch twin of the LEFT-OUTER stream-stream interval join: the
# funnel-abandonment query (signups that never converted within the
# hour emit with NULL purchase columns). Same production function as
# the inner twin with how="left_outer" — withWatermark is a no-op in
# batch; streaming null-emission-after-watermark is proven by
# tests/test_streaming.py::test_stream_stream_left_outer_join. The
# oracle puts the right-side filter in the ON clause, which is exactly
# what pre-filtering the right stream before the join expresses.
@register(
    "stream_left_outer_join_batch",
    oracle="""
    SELECT s.event_id AS signup_id, s.user_id AS user_id,
           p.event_id AS purchase_id,
           CAST(epoch_us(p.ts) - epoch_us(s.ts) AS BIGINT) AS delta_us
    FROM events s
    LEFT JOIN events p
      ON s.user_id = p.user_id
     AND p.ts > s.ts
     AND p.ts <= s.ts + INTERVAL 1 HOUR
     AND p.event_type = 'purchase'
    WHERE s.event_type = 'signup'
    """,
)
def stream_left_outer_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.streaming.dedup import interval_join_streams

    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("sts"), F.col("event_id").alias("sid")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("event_id").alias("pid")
    )
    joined = interval_join_streams(
        s, p,
        key="user_id", left_ts="sts", right_ts="pts",
        lateness="10 minutes", window_seconds=3600, how="left_outer",
    )
    return joined.select(
        F.col("sid").alias("signup_id"),
        s["user_id"].alias("user_id"),
        F.col("pid").alias("purchase_id"),
        (F.unix_micros("pts") - F.unix_micros("sts")).cast("bigint").alias("delta_us"),
    )


# --- text: corpus-LM quality proxy — each document's mean negative
# log2 unigram probability under the corpus's own empirical unigram
# distribution (the CCNet/Gopher-style "perplexity filter" baseline,
# with the corpus itself as the LM). Two aggregates: the vocab-sized
# frequency table broadcasts back onto the exploded token stream, so
# the only data-sized shuffles are the term count and the per-doc
# regroup. High scores = rare-token-heavy documents (gibberish, code,
# boilerplate tails) — the tail a quality gate inspects first.
@register(
    "text_unigram_logprob",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
    ),
    f AS (SELECT term, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY term),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM f)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT)                          AS n_tokens,
           round(avg(-log2(CAST(f.n AS DOUBLE) / tot.total)), 4) AS avg_neg_log2p
    FROM t JOIN f USING (term), tot
    GROUP BY t.doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term")
    )
    f = t.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    tot = f.agg(F.sum("n").cast("bigint").alias("total"))
    return (
        t.join(F.broadcast(f), "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(-F.log2(F.col("n").cast("double") / F.col("total"))), 4
            ).alias("avg_neg_log2p"),
        )
    )


# --- curation: temperature-scaled mixture weights — the multilingual
# sampling-rate formula (p_l^α, α=0.3, renormalized; Conneau & Lample's
# exponentiated smoothing) that up-samples low-resource strata. The
# corpus total cancels algebraically (w_l = n_l^α / Σ n_l^α), so the
# plan is one strata-sized aggregate plus a broadcast of the 1-row
# normalizer — nothing data-sized moves twice.
@register(
    "curation_temperature_weights",
    oracle=f"""
    WITH per AS (
        SELECT lang, CAST(sum(len({_TOKS_SQL})) AS BIGINT) AS n_tokens
        FROM documents GROUP BY lang
    )
    SELECT lang, n_tokens,
           round(pow(n_tokens, 0.3)
                 / nullif((SELECT sum(pow(n_tokens, 0.3)) FROM per), 0), 6)
               AS weight
    FROM per
    """,
)
def curation_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("lang").agg(
        F.sum(token_count("text")).cast("bigint").alias("n_tokens")
    )
    norm = per.agg(F.sum(F.pow("n_tokens", F.lit(0.3))).alias("_norm"))
    return per.crossJoin(F.broadcast(norm)).select(
        "lang",
        "n_tokens",
        F.round(
            F.try_divide(F.pow("n_tokens", F.lit(0.3)), F.col("_norm")), 6
        ).alias("weight"),
    )


# --- curation: deterministic weighted sampling WITHOUT replacement
# (Efraimidis–Spirakis A-ES): each doc draws a reproducible uniform
# u ∈ (0,1] from its id's md5, and the top-k by u^(1/w) — equivalently
# ln(u)/w, monotone transform — are the sample; token-heavy docs win
# proportionally more often. Hash-seeded, so the sample is identical
# across runs, engines, and partitionings (same auditability contract
# as curation_stratified_sample, which is the UNWEIGHTED hash-rank
# twin). The top-k compiles to TakeOrderedAndProject — per-partition
# heaps, no global sort — the 100 TB shape; only ids and integer
# weights are emitted, so the hash gate sees no float.
@register(
    "curation_weighted_sample",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
               (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                + 1) / 4294967296.0 AS u
        FROM documents
    )
    SELECT doc_id, n_tokens
    FROM d WHERE n_tokens > 0
    ORDER BY ln(u) / n_tokens DESC, doc_id ASC
    LIMIT 30
    """,
)
def curation_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        + 1
    ) / F.lit(4294967296.0)
    d = docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        # try_divide: the n_tokens > 0 filter below protects semantics,
        # but ANSI evaluation of the projection must not error first
        F.try_divide(F.log(u), token_count("text")).alias("_key"),
    ).filter(F.col("n_tokens") > 0)
    return (
        d.orderBy(F.col("_key").desc(), F.col("doc_id").asc())
        .limit(30)
        .select("doc_id", "n_tokens")
    )


# --- curation: deterministic train/val/test split — each doc hashes
# into a bucket of 100 from md5(doc_id) and the 80/10/10 cut is a pure
# projection: reproducible across runs, engines, partitionings, and
# INCREMENTAL ingests (a doc's split never changes when new docs
# arrive — the property a random split lacks and leakage audits need).
# Stratification is free: the bucket is independent of (lang, source),
# so per-stratum proportions converge without per-stratum state. The
# summary emits per (lang, split) counts — the table a leakage audit
# reads first.
@register(
    "curation_train_val_test_split",
    oracle="""
    WITH s AS (
        SELECT lang,
               CASE
                 WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                      AS BIGINT) % 100 < 80 THEN 'train'
                 WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                      AS BIGINT) % 100 < 90 THEN 'val'
                 ELSE 'test'
               END AS split
        FROM documents
    )
    SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs
    FROM s GROUP BY lang, split
    """,
)
def curation_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        docs.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# --- Top-3 values per user: each user's three highest-value events
# ranked by (value desc, event_id asc), a total order, so ties rank
# the same on both engines. The plan is the WindowGroupLimit shape:
# partial top-k runs map-side before the shuffle.
@register(
    "stream_topk_values_batch",
    oracle="""
    SELECT user_id, CAST(rn AS INT) AS rank, event_id, round(value, 4) AS value
    FROM (
        SELECT user_id, event_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY value DESC, event_id) AS rn
        FROM events
    )
    WHERE rn <= 3
    """,
)
def stream_topk_values_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        e.select("user_id", "event_id", "value", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= 3)
        .select("user_id", "rank", "event_id", F.round("value", 4).alias("value"))
    )


# --- dedup: chunk-level duplication profile — documents chunked into
# disjoint 32-token windows, chunks fingerprinted, and each document
# scored by the fraction of its chunks that also occur in ANOTHER
# document (the paragraph-dedup signal large-scale pipelines act on:
# boilerplate headers/footers and syndicated passages show up as high
# shared fractions long before whole-document detectors fire). Reuses
# chunk_tokens (narrow) + one chunk-grain aggregate; the per-chunk
# occurrence table is the only shuffle-heavy step and it is exactly
# the exact-dedup shape, at chunk grain.
@register(
    "dedup_chunk_level_profile",
    oracle="""
    WITH d AS (
        SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS toks
        FROM documents
    ),
    chunks AS (
        SELECT doc_id,
               md5(coalesce(array_to_string(
                   list_slice(toks, s + 1, s + 32), ' '), '')) AS chunk_fp
        FROM d, unnest(generate_series(0, greatest(len(toks) - 1, 0), 32)) AS t(s)
    ),
    occ AS (
        SELECT chunk_fp, count(DISTINCT doc_id) AS n_docs
        FROM chunks GROUP BY chunk_fp
    )
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN o.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared,
           round(sum(CASE WHEN o.n_docs > 1 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS shared_frac
    FROM chunks c JOIN occ o USING (chunk_fp)
    GROUP BY c.doc_id
    """,
)
def dedup_chunk_level_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.extensions.curation import chunk_tokens
    from emission_project_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", tokens(F.lower(F.col("text"))).alias("toks"))
    chunks = chunk_tokens(toked, "doc_id", "toks", window=32, stride=32).select(
        "doc_id", F.md5("chunk_text").alias("chunk_fp")
    )
    occ = chunks.groupBy("chunk_fp").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    shared = F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
    return (
        chunks.join(occ, "chunk_fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            shared.cast("bigint").alias("n_shared"),
            F.round(shared / F.count(F.lit(1)).cast("double"), 4).alias("shared_frac"),
        )
    )


# --- dedup: exact substring spans (Lee et al. 2022 semantics) — the
# maximal shared token spans >= min_span per document pair, via
# k-gram anchoring + diagonal run-island consolidation
# (extensions/dedup.py::substring_span_pairs; the distributed
# re-expression of the paper's suffix-array pass, exact for spans
# whose anchors survive the occurrence cap). Companion 1-row
# dedup_substring_cap_report makes the cap's effect observable.
@register(
    "dedup_substring_spans",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    g AS (
        SELECT doc_id, i.i AS pos,
               array_to_string(list_slice(toks, i.i, i.i + 5), ' ') AS gram
        FROM d, LATERAL (SELECT unnest(range(1, len(toks) - 4)) AS i) i
        WHERE len(toks) >= 6
    ),
    kept AS (SELECT gram FROM g GROUP BY gram HAVING count(*) <= 50),
    gk AS (SELECT g.* FROM g JOIN kept USING (gram)),
    cells AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa,
               a.pos - b.pos AS diag
        FROM gk a JOIN gk b ON a.gram = b.gram AND a.doc_id < b.doc_id
    ),
    isl AS (
        SELECT doc_a, doc_b, diag, pa,
               pa - row_number() OVER (
                   PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS island
        FROM cells
    ),
    spans AS (
        SELECT doc_a, doc_b, count(*) + 5 AS span
        FROM isl GROUP BY doc_a, doc_b, diag, island
        HAVING count(*) + 5 >= 10
    )
    SELECT doc_a, doc_b,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(max(span) AS BIGINT) AS longest_span,
           CAST(sum(span) AS BIGINT) AS span_tokens
    FROM spans GROUP BY doc_a, doc_b
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.extensions.dedup import substring_span_pairs

    docs = load_table(spark, sf_dir, "documents")
    return substring_span_pairs(
        docs, k=6, min_span=10, max_gram_freq=50
    )


@register(
    "dedup_substring_cap_report",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    g AS (
        SELECT doc_id, i.i AS pos,
               array_to_string(list_slice(toks, i.i, i.i + 5), ' ') AS gram
        FROM d, LATERAL (SELECT unnest(range(1, len(toks) - 4)) AS i) i
        WHERE len(toks) >= 6
    ),
    per AS (SELECT gram, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY gram)
    SELECT CAST(sum(n) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN n > 50 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped_gram_types,
           CAST(sum(CASE WHEN n > 50 THEN n ELSE 0 END) AS BIGINT)
               AS n_dropped_occurrences
    FROM per
    """,
)
def dedup_substring_cap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.extensions.dedup import substring_cap_report

    docs = load_table(spark, sf_dir, "documents")
    return substring_cap_report(docs, k=6, max_gram_freq=50)


# --- similarity: contrastive hard-negative mining — per query, the 8
# most-similar corpus vectors with a DIFFERENT label (the near-miss
# negatives that carry the gradient in retrieval/embedding training;
# random negatives are trivially separable). Broadcast query side,
# label inequality applied before the per-query top-k window; the IVF
# kit composes the same way for the 100 TB path (mine within probed
# cells).
@register(
    "similarity_hard_negatives",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe, label AS ql
               FROM embeddings WHERE vec_id < 5),
    scored AS (
        -- zero-norm guard: NULL (matching Spark), not DuckDB's -1
        SELECT q.query_id, v.vec_id, v.label AS neg_label,
               CASE WHEN list_dot_product(v.embedding::DOUBLE[], v.embedding::DOUBLE[]) > 0
                         AND list_dot_product(q.qe, q.qe) > 0
                    THEN round(list_cosine_similarity(v.embedding::DOUBLE[], q.qe), 6)
               END AS cosine_sim
        FROM embeddings v CROSS JOIN q
        WHERE v.label <> q.ql
    )
    SELECT query_id,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cosine_sim DESC, vec_id) AS BIGINT) AS rank,
           vec_id, neg_label, cosine_sim
    FROM scored
    QUALIFY rank <= 8
    """,
)
def similarity_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.extensions.similarity import hard_negative_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negative_topk(emb, emb.filter(F.col("vec_id") < 5), k=8)


# --- text: BM25 keyword ranking (Robertson/Spärck Jones; k1=1.2,
# b=0.75) for a fixed query term set — the lexical retrieval baseline
# that TF-IDF curation stats and the ANN kit bracket from either side.
# Plan: one token explosion feeds term frequencies; document frequency
# and the corpus (N, avgdl) scalars broadcast; the score is a per-doc
# sum over matched query terms, ranked with a deterministic tiebreak.
# Top-k compiles to TakeOrderedAndProject.
@register(
    "text_bm25_search",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    t AS (SELECT doc_id, unnest(toks) AS term FROM d),
    tf AS (
        SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS c
        FROM t WHERE term IN ('spark', 'join', 'window')
        GROUP BY doc_id, term
    ),
    dl AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS l FROM d),
    stats AS (
        SELECT CAST(count(*) AS DOUBLE) AS n, avg(len(toks)) AS avgdl FROM d
    ),
    df AS (
        SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
        FROM t WHERE term IN ('spark', 'join', 'window')
        GROUP BY term
    )
    SELECT tf.doc_id,
           round(sum(
               ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1)
               * tf.c * (1.2 + 1)
               / (tf.c + 1.2 * (1 - 0.75 + 0.75 * dl.l / stats.avgdl))
           ), 6) AS bm25
    FROM tf
    JOIN df ON tf.term = df.term
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN stats
    GROUP BY tf.doc_id
    ORDER BY bm25 DESC, tf.doc_id ASC
    LIMIT 10
    """,
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.functions.text import tokens

    terms = ["spark", "join", "window"]
    k1, b = 1.2, 0.75
    docs = load_table(spark, sf_dir, "documents")
    # Materialized, spillable, in its NARROW per-doc form (token count
    # + the query-term hits only, never the full token arrays): it
    # feeds four consumers (tf and df_t through t, dl, the scalar
    # stats), which read it back from the block cache. Inline, each
    # rescans the documents (sf0.1: 5,000 → 20,000 parquet rows;
    # median 0.85 → 0.86 s over 8 alternating runs).
    toks = tokens(F.lower(F.col("text")))
    terms_arr = F.array(*[F.lit(x) for x in terms])
    d = docs.select(
        "doc_id",
        F.size(toks).cast("double").alias("l"),
        F.filter(toks, lambda x: F.array_contains(terms_arr, x)).alias(
            "hits"
        ),
    ).localCheckpoint(eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK)
    t = d.select("doc_id", F.explode("hits").alias("term"))
    tf = t.groupBy("doc_id", "term").agg(F.count(F.lit(1)).cast("double").alias("c"))
    dl = d.select("doc_id", "l")
    stats = d.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg(F.col("l")).alias("avgdl"),
    )
    df_t = t.groupBy("term").agg(F.countDistinct("doc_id").cast("double").alias("df"))
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    denom = F.col("c") + k1 * (1 - b + b * F.col("l") / F.col("avgdl"))
    contrib = idf * F.col("c") * (k1 + 1) / denom
    return (
        tf.join(F.broadcast(df_t), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(contrib), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(10)
    )


# --- Matryoshka truncation-energy profile (MRL, Kusupati et al. 2022):
# for adaptive-retrieval deployments that search on a prefix of each
# embedding, the decision input is how much of the vector's energy the
# prefix carries. Per label: the mean fraction of squared L2 norm in
# the first 32 and first 16 of the 64 dims. Pure higher-order
# functions over the array column — a zero-join, one-aggregate pass;
# the per-vector fold is sequential in both engines, so the doubles
# match bit-for-bit before the final (rounded) label average.
# Zero-norm vectors yield NULL fractions (try_divide/nullif) and drop
# out of the averages identically on both sides.
@register(
    "embedding_matryoshka_energy",
    oracle="""
    WITH e AS (
        SELECT label,
               list_sum(list_transform(embedding::DOUBLE[], x -> x * x)) AS full_e,
               list_sum(list_transform(embedding[1:32]::DOUBLE[], x -> x * x))
                   AS half_e,
               list_sum(list_transform(embedding[1:16]::DOUBLE[], x -> x * x))
                   AS quarter_e
        FROM embeddings
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round(avg(half_e / nullif(full_e, 0)), 6) AS energy_at_32,
           round(avg(quarter_e / nullif(full_e, 0)), 6) AS energy_at_16
    FROM e
    GROUP BY label
    """,
)
def embedding_matryoshka_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")

    def sq_sum(arr):
        return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x * x)

    e = emb.select(
        "label",
        sq_sum(v).alias("_full"),
        sq_sum(F.slice(v, 1, 32)).alias("_half"),
        sq_sum(F.slice(v, 1, 16)).alias("_quarter"),
    )
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg(F.try_divide(F.col("_half"), F.col("_full"))), 6).alias(
            "energy_at_32"
        ),
        F.round(F.avg(F.try_divide(F.col("_quarter"), F.col("_full"))), 6).alias(
            "energy_at_16"
        ),
    )


# --- streaming batch twin: PSI drift monitor per event-time hour
# against a frozen reference distribution (streaming/drift.py — the
# streaming form is the identical single windowed aggregation with a
# watermark; planted-drift stream tests live in test_streaming_drift).
# The reference here is the table's own global bin distribution,
# frozen via one bounded 10-row collect (install-time, not per-window);
# the oracle recomputes the same smoothed reference and the same
# left-associated 10-term PSI sum so the doubles match bit-for-bit
# before the final round.
_PSI_W = "(w.c{i} + 0.5) / (w.n_events + 5.0)"
_PSI_R = "(ref.c{i} + 0.5) / (ref.n + 5.0)"
_PSI_TERMS = " + ".join(
    f"(({_PSI_W} - {_PSI_R}) * ln(({_PSI_W}) / ({_PSI_R})))".format(i=i)
    for i in range(10)
)
_PSI_FILTERS = ",\n               ".join(
    f"count(*) FILTER (WHERE bin = {i}) AS c{i}" for i in range(10)
)


@register(
    "stream_psi_drift_batch",
    oracle=f"""
    WITH b AS (
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
               least(CAST(floor(value / 50) AS BIGINT), 9) AS bin
        FROM events
    ),
    ref AS (
        SELECT count(*) AS n,
               {_PSI_FILTERS}
        FROM b
    ),
    w AS (
        SELECT window_start, count(*) AS n_events,
               {_PSI_FILTERS}
        FROM b GROUP BY window_start
    ),
    t AS (
        SELECT w.window_start, w.n_events,
               {_PSI_TERMS} AS psi
        FROM w CROSS JOIN ref
    )
    SELECT window_start,
           window_start + INTERVAL 1 HOUR AS window_end,
           CAST(n_events AS BIGINT) AS n_events,
           round(psi, 6) AS psi,
           (psi > 0.2) AS drift_action
    FROM t
    """,
)
def stream_psi_drift_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.streaming.drift import (
        reference_proportions,
        windowed_psi,
    )

    ev = load_table(spark, sf_dir, "events")
    return windowed_psi(ev, reference_proportions(ev), window="1 hour")


# --- AMS second frequency moment (self-join size) from the count-min
# sketch: F2 = sum_k f(k)^2 over events.user_id, estimated as the
# min-over-depths dot product of the sketch's counter rows with
# themselves (Cormode & Muthukrishnan '05 §4.2) next to the exact
# value and the >= bound check. F2 is the canonical key-skew number a
# planner wants BEFORE paying for a join: shards sketch independently
# (cell-wise sums merge them), and pricing the self-join reads
# depth*width cells instead of shuffling the fact table. The md5 hash
# family makes every cell — and therefore the estimate — exactly
# reproducible in SQL.
@register(
    "sketch_f2_selfjoin_events",
    oracle="""
    WITH tok AS (SELECT user_id::VARCHAR AS term FROM events),
    dd AS (SELECT unnest(range(4)) AS d),
    cells AS (
        SELECT d,
               ('0x' || substring(md5(d::VARCHAR || ':' || term), 1, 7))::BIGINT % 8192
                   AS bucket,
               count(*) AS cnt
        FROM tok, dd
        GROUP BY 1, 2
    ),
    ip AS (SELECT d, sum(cnt * cnt) AS ip FROM cells GROUP BY d),
    est AS (SELECT min(ip) AS cm_estimate FROM ip),
    ex AS (
        SELECT sum(c * c) AS exact_f2
        FROM (SELECT count(*) AS c FROM events GROUP BY user_id)
    )
    SELECT CAST(ex.exact_f2 AS BIGINT) AS exact_f2,
           CAST(est.cm_estimate AS BIGINT) AS cm_estimate,
           (est.cm_estimate >= ex.exact_f2) AS within_bound,
           round((est.cm_estimate - ex.exact_f2)
                 / CAST(ex.exact_f2 AS DOUBLE), 6) AS rel_error
    FROM ex CROSS JOIN est
    """,
)
def sketch_f2_selfjoin_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emission_project_spark.extensions.sketch import count_min_build

    ev = load_table(spark, sf_dir, "events")
    terms = ev.select(F.col("user_id").cast("string").alias("term"))
    # inner-product error ~ ||f||_1^2/width: the point-query width
    # (1024) is too narrow once n^2 dwarfs F2, so the F2 sketch runs
    # wide (8192 cells/row is still a KB-scale broadcast). Self-join
    # special case: sum(cnt^2) per depth row directly — one sketch
    # build, no self-join.
    sk = count_min_build(terms, width=8192)
    est = (
        sk.groupBy("depth")
        .agg(F.sum(F.col("cnt") * F.col("cnt")).alias("_ip"))
        .agg(F.min("_ip").alias("estimate"))
    )
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("_c"))
        .agg(F.sum(F.col("_c") * F.col("_c")).alias("exact_f2"))
    )
    return exact.crossJoin(est).select(
        F.col("exact_f2").cast("bigint").alias("exact_f2"),
        F.col("estimate").cast("bigint").alias("cm_estimate"),
        (F.col("estimate") >= F.col("exact_f2")).alias("within_bound"),
        F.round(
            (F.col("estimate") - F.col("exact_f2"))
            / F.col("exact_f2").cast("double"),
            6,
        ).alias("rel_error"),
    )


# --- langid evaluated against ground truth: the confusion matrix of
# the n-gram-marker classifier (text_langid) vs the corpus's lang
# column, with per-true-language recall shares. The corpus carries a
# 'zh' class the 4-way classifier cannot emit, so the matrix also
# localizes out-of-scope bleed (where unclassifiable docs land) — the
# exact readout a pipeline needs before trusting a langid gate.
# Confusion cells aggregate straight down from one scan; the window
# runs over <= |langs|^2 rows.
@register(
    "text_langid_confusion",
    oracle=f"""
    WITH s AS (
        SELECT lang AS true_lang,
               {', '.join(
                   f"CAST(len(list_filter({_TOKS_SQL}, t -> t IN "
                   f"({', '.join(repr(m) for m in markers)}))) AS BIGINT) AS score_{lang}"
                   for lang, markers in LANG_MARKERS.items()
               )}
        FROM documents
    ),
    p AS (SELECT true_lang, {_langid_case_sql()} AS predicted_lang FROM s),
    conf AS (
        SELECT true_lang, predicted_lang, CAST(count(*) AS BIGINT) AS n_docs
        FROM p GROUP BY 1, 2
    )
    SELECT true_lang, predicted_lang, n_docs,
           round(CAST(n_docs AS DOUBLE)
                 / sum(n_docs) OVER (PARTITION BY true_lang), 6) AS recall_share,
           (true_lang = predicted_lang) AS is_correct
    FROM conf
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    scores = lang_scores("text")
    s = docs.select(
        F.col("lang").alias("true_lang"),
        *[c.alias(f"score_{lang}") for lang, c in scores.items()],
    )
    predicted = (
        F.when(
            (F.col("score_de") >= F.col("score_en"))
            & (F.col("score_de") >= F.col("score_es"))
            & (F.col("score_de") >= F.col("score_fr")),
            "de",
        )
        .when(
            (F.col("score_en") >= F.col("score_es"))
            & (F.col("score_en") >= F.col("score_fr")),
            "en",
        )
        .when(F.col("score_es") >= F.col("score_fr"), "es")
        .otherwise("fr")
    )
    conf = (
        s.select("true_lang", predicted.alias("predicted_lang"))
        .groupBy("true_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    per_true = Window.partitionBy("true_lang")
    return conf.select(
        "true_lang",
        "predicted_lang",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double") / F.sum("n_docs").over(per_true), 6
        ).alias("recall_share"),
        (F.col("true_lang") == F.col("predicted_lang")).alias("is_correct"),
    )


# --- LSH banding quality, measured: MinHash candidate pairs scored
# against exact shingle-set Jaccard on the SAME inverted-index
# universe (identical MAX_DOC_FREQ cap on both sides, so the readout
# grades the BANDING approximation, not the cap). precision@0.5 =
# candidates that are true near-dups; recall@0.5 = true near-dups the
# bands surfaced. This is the number to check before trusting an LSH
# dedup pass at a new (bands, rows) operating point — the theoretical
# S-curve says P(candidate) = 1-(1-J^r)^b, and this query measures
# where the corpus actually sits on it. A candidate pair sharing no
# kept shingle counts J = 0 (left join; precision debit). Both
# aggregates are 1-row; the cross join is scalar.
@register(
    "dedup_lsh_quality",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    {_MINHASH_SIG_SQL},
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a
        JOIN sig b ON a.band = b.band AND a.signature = b.signature
                  AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    kept AS (
        SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 64
    ),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        WHERE a.shingle IN (SELECT shingle FROM kept)
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT i.doc_a, i.doc_b,
               round(CAST(i.n_common AS DOUBLE)
                     / (sa.n + sb.n - i.n_common), 6) AS jaccard
        FROM inter i
        JOIN sizes sa ON i.doc_a = sa.doc_id
        JOIN sizes sb ON i.doc_b = sb.doc_id
    ),
    c AS (
        SELECT count(*) AS n_candidates,
               coalesce(sum(CASE WHEN s.jaccard >= 0.5 THEN 1 ELSE 0 END), 0)
                   AS tp
        FROM cand LEFT JOIN scored s USING (doc_a, doc_b)
    ),
    tr AS (SELECT count(*) AS n_true FROM scored WHERE jaccard >= 0.5)
    SELECT CAST(c.n_candidates AS BIGINT) AS n_candidates,
           CAST(tr.n_true AS BIGINT) AS n_true_pairs,
           CAST(c.tp AS BIGINT) AS true_positives,
           CASE WHEN c.n_candidates > 0
                THEN round(CAST(c.tp AS DOUBLE) / c.n_candidates, 6)
           END AS precision_at_05,
           CASE WHEN tr.n_true > 0
                THEN round(CAST(c.tp AS DOUBLE) / tr.n_true, 6)
           END AS recall_at_05
    FROM c CROSS JOIN tr
    """,
)
def dedup_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cand = minhash_lsh_candidates(docs).select(
        "doc_a", "doc_b", F.lit(1).alias("_c")
    )
    # r13 opt: the exact-Jaccard subtree used to feed TWO consumers
    # (the left-join precision arm and a separate n_true recall arm),
    # so the static plan ran the whole capped-inverted-index pipeline
    # twice (9 parquet scans, 0 ReusedExchange). A full-outer join of
    # the candidate list with the scored pairs computes all three
    # counts in ONE streamed pass — no second evaluation, and nothing
    # materialized (a localCheckpoint of the threshold-0.0 pair
    # relation was measured 3× SLOWER than the duplicate compute: the
    # un-thresholded pair list is far bigger than the work it saves).
    # Equivalences: scored has ≤1 row per pair (groupBy doc_a, doc_b),
    # so the left join preserved cand's row count → count(_c); tp
    # counted cand rows whose matched jaccard ≥ 0.5 → _c AND is_tp;
    # n_true counted ALL scored rows with jaccard ≥ 0.5 → is_tp alone
    # (jaccard is null exactly on the cand-only rows).
    scored = ngram_jaccard_pairs(docs, threshold=0.0)
    is_tp = F.col("jaccard") >= 0.5
    both = cand.join(scored, ["doc_a", "doc_b"], "full_outer").agg(
        F.coalesce(F.sum("_c"), F.lit(0)).alias("n_candidates"),
        F.coalesce(
            F.sum(F.when(F.col("_c").isNotNull() & is_tp, 1).otherwise(0)),
            F.lit(0),
        ).alias("tp"),
        F.coalesce(F.sum(F.when(is_tp, 1).otherwise(0)), F.lit(0)).alias(
            "n_true"
        ),
    )
    return both.select(
        F.col("n_candidates").cast("bigint").alias("n_candidates"),
        F.col("n_true").cast("bigint").alias("n_true_pairs"),
        F.col("tp").cast("bigint").alias("true_positives"),
        F.when(
            F.col("n_candidates") > 0,
            F.round(F.col("tp").cast("double") / F.col("n_candidates"), 6),
        ).alias("precision_at_05"),
        F.when(
            F.col("n_true") > 0,
            F.round(F.col("tp").cast("double") / F.col("n_true"), 6),
        ).alias("recall_at_05"),
    )
