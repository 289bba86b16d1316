"""Semantic unit tests for the training-data extension operators
(dedup, similarity) on tiny in-memory frames. Value-level oracle
parity runs in tools/compare.py; these pin algorithmic invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from emission_project_spark.extensions.dedup import (
    exact_duplicates,
    minhash_band_signatures,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    shingles,
    simhash64,
)
from emission_project_spark.extensions.similarity import (
    cosine_neardup_pairs,
    lsh_neardup_pairs,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_shingles_window(spark):
    docs = _docs(spark, [(1, "a b c d"), (2, "a b"), (3, "x x x x x")])
    out = {(r.doc_id, r.shingle) for r in shingles(docs).collect()}
    assert out == {(1, "a b c"), (1, "b c d"), (3, "x x x")}  # doc 2 too short; doc 3 distinct


def test_exact_duplicates_groups_normalized_text(spark):
    docs = _docs(spark, [(1, "Hello, World!"), (2, "hello world"), (3, "other")])
    out = exact_duplicates(docs).collect()
    groups = {r.canonical_doc_id: r.n_docs for r in out}
    assert groups == {1: 2, 3: 1}  # punctuation/case-normalized dupes collapse


def test_identical_docs_share_all_band_signatures(spark):
    docs = _docs(spark, [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"), (3, "zz yy xx ww vv")])
    sig = minhash_band_signatures(docs)
    s1 = {(r.band, r.signature) for r in sig.filter(F.col("doc_id") == 1).collect()}
    s2 = {(r.band, r.signature) for r in sig.filter(F.col("doc_id") == 2).collect()}
    assert s1 == s2 and len(s1) == 8
    cand = minhash_lsh_candidates(docs).collect()
    assert [(r.doc_a, r.doc_b, r.bands_agree) for r in cand] == [(1, 2, 8)]


def test_ngram_jaccard_exact_value(spark):
    # doc1 shingles {a b c, b c d}; doc2 shingles {a b c, b c e} → J = 1/3
    docs = _docs(spark, [(1, "a b c d"), (2, "a b c e")])
    out = ngram_jaccard_pairs(docs, threshold=0.3).collect()
    assert len(out) == 1
    assert out[0].doc_a == 1 and out[0].doc_b == 2
    assert abs(out[0].jaccard - 1 / 3) < 1e-6


def test_max_doc_freq_drops_stop_shingles(spark, monkeypatch):
    from emission_project_spark.extensions import dedup

    # "common common common" shingle appears in all 3 docs → capped away
    docs = _docs(
        spark,
        [(1, "common common common a"), (2, "common common common b"), (3, "common common common c")],
    )
    assert ngram_jaccard_pairs(docs, threshold=0.1).count() == 3
    monkeypatch.setattr(dedup, "MAX_DOC_FREQ", 2)
    assert ngram_jaccard_pairs(docs, threshold=0.1).count() == 0


def test_shingle_queries_leave_no_cached_plan(spark, sf_dir):
    """dedup_ngram_jaccard and dedup_shingle_containment pin no plan in
    the session's CacheManager: a ``.cache()`` stays registered after
    the query's frame is gone, holding memory for every later query."""
    import gc

    import __spark_entry__ as entrymod

    spark.catalog.clearCache()
    for name in ("dedup_ngram_jaccard", "dedup_shingle_containment"):
        df = entrymod.queries()[name](spark, sf_dir)
        assert df.collect()
        del df
    gc.collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_simhash_identical_docs_equal_similar_docs_close(spark):
    docs = _docs(
        spark,
        [(1, "alpha beta gamma delta epsilon"), (2, "alpha beta gamma delta epsilon"), (3, "qq rr ss tt uu")],
    )
    rows = {r.doc_id: r.simhash for r in simhash64(docs).collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]
    assert 0 <= rows[1] < (1 << 32)


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_cosine_neardup_exact_pairs(spark):
    vecs = _vecs(
        spark,
        [
            (1, [1.0, 0.0]),
            (2, [2.0, 0.0]),     # parallel to 1 → cos=1
            (3, [0.0, 1.0]),     # orthogonal
            (4, [1.0, 1.0]),     # cos 45° to everything
        ],
    )
    out = {(r.doc_a, r.doc_b): r.cosine_sim for r in cosine_neardup_pairs(vecs, threshold=0.9).collect()}
    assert out == {(1, 2): 1.0}


def test_lsh_neardup_subset_of_exact(spark):
    import random

    rng = random.Random(7)
    base = [rng.gauss(0, 1) for _ in range(16)]
    rows = [(1, base), (2, [x + rng.gauss(0, 0.01) for x in base])]  # near-dup pair
    rows += [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(3, 20)]
    vecs = _vecs(spark, [(i, [float(x) for x in v]) for i, v in rows])
    exact = {(r.doc_a, r.doc_b) for r in cosine_neardup_pairs(vecs, threshold=0.9).collect()}
    approx = {(r.doc_a, r.doc_b) for r in lsh_neardup_pairs(vecs, dim=16, threshold=0.9, n_planes=8).collect()}
    assert (1, 2) in exact
    assert approx <= exact  # LSH verifies with exact cosine → no false positives
    assert (1, 2) in approx  # near-identical vectors agree on every sign bit


def test_winnow_shared_substring_shares_fingerprint(spark):
    """Winnowing guarantee: a common substring of length >= k+w-1 (=8)
    yields at least one identical (hash) fingerprint in both docs."""
    from emission_project_spark.extensions.dedup import winnow_fingerprints

    docs = _docs(
        spark,
        [(1, "xxxCOMMONSEGMENTyyy"), (2, "aaaaCOMMONSEGMENTbb"), (3, "zzzzzzzzzzzz")],
    )
    fp = winnow_fingerprints(docs).collect()
    by_doc = {}
    for r in fp:
        by_doc.setdefault(r.doc_id, set()).add(r.gram_hash)
    assert by_doc[1] & by_doc[2]          # shared segment → shared fingerprint
    assert not (by_doc[1] & by_doc[3])    # disjoint text → disjoint prints


def test_winnow_density_and_short_docs(spark):
    from emission_project_spark.extensions.dedup import winnow_fingerprints

    docs = _docs(spark, [(1, "abcdefgh" * 8), (2, "abcde"), (3, "abc")])
    fp = winnow_fingerprints(docs).collect()
    by_doc = {}
    for r in fp:
        by_doc.setdefault(r.doc_id, []).append(r)
    n_grams = 64 - 5 + 1
    # ~2/(w+1) density: far fewer fingerprints than grams
    assert 1 <= len(by_doc[1]) < n_grams / 2
    assert len(by_doc[2]) == 1  # exactly one gram, one partial window
    assert 3 not in by_doc      # shorter than k: no grams at all


def test_winnow_overlap_pairs_finds_shared_segment(spark):
    from emission_project_spark.extensions.dedup import winnow_overlap_pairs

    seg = "the quick brown fox jumps over the lazy dog again and again"
    docs = _docs(
        spark,
        [(1, "prefix one " + seg), (2, seg + " suffix two"), (3, "completely different text here")],
    )
    out = {(r.doc_a, r.doc_b): r.shared_fingerprints for r in winnow_overlap_pairs(
        docs, min_shared=2).collect()}
    assert (1, 2) in out and out[(1, 2)] >= 2
    assert not any(3 in pair for pair in out)


def test_ivf_kmeans_recall_vs_bruteforce(spark):
    """The k-means-quantized IVF must recover most of the exact top-10
    (recall@10), and more probes must never hurt recall."""
    from pyspark.sql import functions as F
    from emission_project_spark.catalog.tables import load_table
    from emission_project_spark.extensions.similarity import (
        brute_force_topk,
        ivf_topk_kmeans,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r.query_id, r.vec_id) for r in brute_force_topk(emb, q, 10).collect()}

    def recall(n_probe):
        got = {
            (r.query_id, r.vec_id)
            for r in ivf_topk_kmeans(emb, q, n_centroids=8, k=10, n_probe=n_probe).collect()
        }
        return len(exact & got) / len(exact)

    r1, r4 = recall(1), recall(4)
    assert r1 >= 0.6  # single-probe searches 1/8 of the corpus
    assert r4 >= r1
    assert r4 >= 0.85  # measured 0.91; margin for data regeneration


def test_ivf_kmeans_quality_at_sf0_01(spark):
    """At sf0.01 the full-corpus quantizer populates all 8 cells, and a
    4-probe search keeps a usable share of the exact top-10 (with 10
    natural clusters quantized into 8 cells, neighbors straddle cell
    boundaries, so recall is checked with a margin)."""
    from pyspark.sql import functions as F
    from emission_project_spark.catalog.tables import load_table
    from emission_project_spark.extensions.kmeans import (
        assign_clusters,
        lloyd_centroids,
    )
    from emission_project_spark.extensions.similarity import (
        brute_force_topk,
        ivf_topk_kmeans,
    )

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    vecs = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    assigned = assign_clusters(vecs, lloyd_centroids(vecs, 8, 2))
    assert assigned.select("cluster_id").distinct().count() == 8

    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r.query_id, r.vec_id) for r in brute_force_topk(emb, q, 10).collect()}
    got = {
        (r.query_id, r.vec_id)
        for r in ivf_topk_kmeans(emb, q, n_centroids=8, k=10, n_probe=4).collect()
    }
    assert len(exact & got) / len(exact) >= 0.65  # usable; boundary-luck margin


def test_grouped_lloyd_equals_separate_runs(spark):
    """Vectors and centroids sharing a ``sub`` column are m independent
    Lloyd runs in one plan: the grouped codebooks and assignments equal
    m ungrouped runs on the sliced vectors."""
    from emission_project_spark.extensions.kmeans import (
        assign_clusters,
        lloyd_centroids,
    )

    m, dsub = 4, 2
    vecs = spark.range(5, 65).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[((F.col("id") * (j + 3)) % (7 + j)).cast("double") for j in range(m * dsub)]
        ).alias("e"),
    )
    subs = vecs.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(s).alias("sub"), F.slice("e", s * dsub + 1, dsub).alias("e"))
                    for s in range(m)
                ]
            )
        ).alias("c"),
    ).select("vec_id", "c.sub", "c.e")

    books = lloyd_centroids(subs, k=3, iterations=3)
    grouped_books = {(r.sub, r.cid): r.ce for r in books.collect()}
    grouped = {
        (r.sub, r.vec_id): (r.cluster_id, r.d2)
        for r in assign_clusters(subs, books).collect()
    }
    separate_books, separate = {}, {}
    for s in range(m):
        sliced = subs.filter(F.col("sub") == s).drop("sub")
        cents = lloyd_centroids(sliced, k=3, iterations=3)
        separate_books.update({(s, r.cid): r.ce for r in cents.collect()})
        separate.update(
            {
                (s, r.vec_id): (r.cluster_id, r.d2)
                for r in assign_clusters(sliced, cents).collect()
            }
        )
    assert len(grouped_books) == m * 3
    assert grouped_books == separate_books
    assert len(grouped) == 60 * m
    assert grouped == separate


def test_probe_cells_ties_go_to_lower_cid(spark):
    """Cells 2, 5 and 9 are equidistant from the query: one probe takes
    cell 2, two take cells 2 and 5."""
    from emission_project_spark.extensions.kmeans import probe_cells

    q = spark.createDataFrame([(1, [0.0, 0.0])], "query_id bigint, _q_e array<double>")
    cents = spark.createDataFrame(
        [(9, [0.0, 1.0]), (5, [1.0, 0.0]), (7, [3.0, 0.0]), (2, [-1.0, 0.0])],
        "cid bigint, ce array<double>",
    )
    for n, want in ((1, [2]), (2, [2, 5])):
        got = sorted(r.cid for r in probe_cells(q, cents, n).collect())
        assert got == want, n


def test_assign_cells_null_scores_and_ties(spark):
    """The highest rounded cosine wins, ties go to the lower centroid
    id, a NULL score (zero-norm centroid) never beats a real one, and a
    zero-norm vector (all scores NULL) goes to the lowest centroid id."""
    from emission_project_spark.extensions.similarity import assign_cells

    cents = spark.createDataFrame(
        [(3, [0.0, 0.0]), (4, [0.0, 2.0]), (6, [1.0, 0.0]), (8, [0.0, 1.0])],
        "vec_id bigint, embedding array<double>",
    )
    vecs = spark.createDataFrame(
        [(10, [1.0, 1.0]), (11, [0.0, 0.0]), (12, [0.0, -1.0]), (13, [5.0, 0.1])],
        "vec_id bigint, embedding array<double>",
    )
    got = {r.vec_id: r.centroid_id for r in assign_cells(vecs, cents).collect()}
    # 10: centroids 4, 6 and 8 tie at 0.707107 → 4; 12: real scores
    # -1, 0 and -1 all beat centroid 3's NULL → 6
    assert got == {10: 4, 11: 3, 12: 6, 13: 6}


def test_minhash_band_expr_matches_exploded_signatures(spark):
    """The per-row band expression (streaming path, narrow map) must be
    bit-identical to the explode/groupBy signature pipeline for the
    same band; docs with no shingles are NULL per-row and absent from
    the exploded form."""
    from emission_project_spark.catalog.tables import load_table
    from emission_project_spark.extensions.dedup import (
        minhash_band_expr,
        minhash_band_signatures,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    per_row = {
        r["doc_id"]: r["sig"]
        for r in docs.select("doc_id", minhash_band_expr().alias("sig")).collect()
    }
    exploded = {
        r["doc_id"]: r["signature"]
        for r in minhash_band_signatures(docs).filter(F.col("band") == 0).collect()
    }
    assert exploded  # non-trivial corpus
    for doc_id, sig in exploded.items():
        assert per_row[doc_id] == sig
    for doc_id in set(per_row) - set(exploded):
        assert per_row[doc_id] is None


def test_contamination_overlap_planted(spark):
    """A corpus doc embedding a benchmark passage verbatim must be
    flagged; unrelated docs must not. The benchmark side broadcasts."""
    from emission_project_spark.extensions.dedup import contamination_overlap

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog every single day")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "intro text then the quick brown fox jumps over the lazy dog every single day and more"),
            (2, "completely unrelated content with no overlap whatsoever here"),
        ],
        "doc_id long, text string",
    )
    out = contamination_overlap(docs, bench, min_shared=5)
    rows = out.collect()
    assert [(r.doc_id, r.bench_id) for r in rows] == [(1, 100)]
    assert rows[0].n_shared >= 8
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_blocked_cosine_invariant_to_block_count(spark, monkeypatch):
    """The block-pair grid is an execution detail: results must be
    identical for any block count (including 1 = single self-block)."""
    from emission_project_spark.catalog.tables import load_table
    from emission_project_spark.extensions import similarity
    from emission_project_spark.extensions.similarity import cosine_neardup_pairs

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")

    def result(nb):
        monkeypatch.setattr(similarity, "COSINE_BLOCKS", nb)
        return sorted(
            (r.doc_a, r.doc_b, r.cosine_sim)
            for r in cosine_neardup_pairs(emb, threshold=0.35).collect()
        )

    r1, r3, r8 = result(1), result(3), result(8)
    assert r1 == r3 == r8
    assert len(r1) > 0


def test_blocked_cosine_invariant_to_chunk_rows(spark, monkeypatch):
    """The chunked-GEMM loop (one reused output buffer, rows processed
    CHUNK_ROWS at a time) is an execution detail too: results must be
    identical for any chunk size — including chunks that split a block
    mid-way and the CH >= |L| single-chunk case that is all the driver
    SFs ever exercise (blocks only exceed 2048 rows at sf10)."""
    from emission_project_spark.catalog.tables import load_table
    from emission_project_spark.extensions import similarity
    from emission_project_spark.extensions.similarity import (
        _blocked_cosine_pairs,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )

    def result(ch):
        monkeypatch.setattr(similarity, "CHUNK_ROWS", ch)
        return sorted(
            (r.doc_a, r.doc_b, r.cosine_sim)
            for r in _blocked_cosine_pairs(
                emb, threshold=0.35, n_blocks=2, group_cols=[],
            ).collect()
        )

    # sf0.001 blocks are ~500 rows: ch=7 forces ~70 chunk iterations
    # with ragged tails; ch=1 is the degenerate row-at-a-time extreme;
    # ch=4096 is the production single-chunk path
    r_big, r_7, r_1 = result(4096), result(7), result(1)
    assert r_big == r_7 == r_1
    assert len(r_big) > 0


def test_incremental_exact_dedup_split(spark):
    """Batch splits into (fresh, duplicate) vs stored fingerprints:
    a re-delivered doc is a dup, in-batch repeats collapse to one."""
    from emission_project_spark.extensions.dedup import incremental_exact_dedup

    state = spark.createDataFrame(
        [("d41d8cd98f00b204e9800998ecf8427e",)], "fingerprint string"
    ).union(
        spark.createDataFrame([("x",)], "fingerprint string")
    )
    # compute the real fingerprint of "known doc" for the state
    from emission_project_spark.functions.text import fingerprint
    from pyspark.sql import functions as F

    known = spark.createDataFrame([("known doc",)], "text string").select(
        fingerprint("text").alias("fingerprint")
    )
    batch = spark.createDataFrame(
        [
            (10, "known doc"),        # already in state → dup
            (11, "brand new text"),   # fresh
            (12, "Brand NEW text!"),  # same canonical identity as 11 → collapsed
        ],
        "doc_id long, text string",
    )
    fresh, dup = incremental_exact_dedup(batch, known)
    assert [r.doc_id for r in dup.collect()] == [10]
    assert sorted(r.doc_id for r in fresh.collect()) == [11]  # min id survives


def test_count_min_sketch_properties(spark, monkeypatch):
    """CMS invariant: estimate >= true count for every term."""
    from pyspark.sql import functions as F

    from emission_project_spark.extensions import sketch as sketch_mod
    from emission_project_spark.extensions.sketch import (
        count_min_build,
        count_min_estimate,
    )

    words = ["alpha"] * 50 + ["beta"] * 20 + ["gamma"] * 5 + ["delta"]
    terms = spark.createDataFrame([(w,) for w in words], "term string")
    monkeypatch.setattr(sketch_mod, "DEFAULT_WIDTH", 64)  # narrow → collisions likely
    sketch = count_min_build(terms, width=64)
    truth = {r.term: r.c for r in terms.groupBy("term").agg(F.count(F.lit(1)).alias("c")).collect()}
    est = {
        r.term: r.cms_estimate
        for r in count_min_estimate(sketch, terms.distinct()).collect()
    }
    for t, true_n in truth.items():
        assert est[t] >= true_n  # CMS never undercounts


def test_bloom_filter_no_false_negatives(spark, monkeypatch):
    from pyspark.sql import functions as F

    from emission_project_spark.extensions import sketch as sketch_mod
    from emission_project_spark.extensions.sketch import bloom_build, bloom_contains

    inserted = spark.createDataFrame([(f"key{i}",) for i in range(200)], "key string")
    absent = spark.createDataFrame([(f"other{i}",) for i in range(200)], "key string")
    monkeypatch.setattr(sketch_mod, "DEFAULT_WIDTH", 4096)
    bloom = bloom_build(inserted)
    got_in = bloom_contains(bloom, inserted)
    assert got_in.filter(~F.col("possibly_present")).count() == 0  # no false negatives
    fp = bloom_contains(bloom, absent).filter(F.col("possibly_present")).count()
    assert fp < 40  # false positives exist but are bounded (measured ~0-5 at this width)


def test_bloom_contains_duplicate_query_keys(spark, monkeypatch):
    """Regression: a query key appearing k times must not turn a
    partial bit match into a spurious full match (k x partial hits
    summing to depth)."""
    from pyspark.sql import functions as F

    from emission_project_spark.extensions import sketch as sketch_mod
    from emission_project_spark.extensions.sketch import bloom_build, bloom_contains

    inserted = spark.createDataFrame([("present",)], "key string")
    monkeypatch.setattr(sketch_mod, "DEFAULT_WIDTH", 8)  # tiny width → partial collisions
    bloom = bloom_build(inserted)
    dup_absent = spark.createDataFrame([("absent",)] * 4, "key string")
    out = bloom_contains(bloom, dup_absent).collect()
    assert len(out) == 1  # deduped
    # whatever the verdict, it must equal the single-occurrence verdict
    single = bloom_contains(
        bloom, spark.createDataFrame([("absent",)], "key string")
    ).collect()[0].possibly_present
    assert out[0].possibly_present == single
    # and the inserted key is always present
    got = bloom_contains(bloom, inserted).collect()[0]
    assert got.possibly_present


def test_winnow_oversized_report_counts_guarded_docs(spark):
    """ADVICE r2: the >= 2^20-gram exclusion must be observable. Plant
    one oversized doc (2^20 + 4 chars), one empty-ish doc, two normal
    docs; the report counts each class and winnow_fingerprints indeed
    skips the oversized one."""
    from emission_project_spark.extensions.dedup import (
        winnow_fingerprints,
        winnow_oversized_report,
    )

    big = "a" * ((1 << 20) + 4)  # n_grams = 2^20 → excluded
    docs = _docs(spark, [(1, "hello winnow world"), (2, "tinydoc"), (3, big), (4, "ab")])
    rep = winnow_oversized_report(docs).collect()[0]
    assert (rep.n_docs, rep.n_skipped_empty, rep.n_oversized) == (4, 1, 1)
    assert rep.max_grams == (1 << 20)
    fingerprinted = {r.doc_id for r in winnow_fingerprints(docs).collect()}
    assert 3 not in fingerprinted          # guard excluded the giant
    assert {1, 2} <= fingerprinted         # normal + short docs kept


def test_substring_spans_planted(spark):
    """Planted maximal-span geometry: span lengths must be EXACT (the
    Lee-et-al semantics the k-gram diagonal-run consolidation claims),
    pairs without a >= min_span overlap must be absent, and a span
    below the k-gram anchor length must not surface."""
    from emission_project_spark.extensions.dedup import (
        substring_cap_report,
        substring_span_pairs,
    )

    w = [f"w{i}" for i in range(60)]            # unique filler vocabulary
    shared15 = " ".join(f"s{i}" for i in range(15))
    runa = " ".join(f"a{i}" for i in range(12))
    runb = " ".join(f"b{i}" for i in range(11))
    docs = spark.createDataFrame(
        [
            # 1 & 2 share exactly one 15-token span (distinct padding)
            (1, " ".join(w[0:10]) + " " + shared15 + " " + " ".join(w[10:20])),
            (2, " ".join(w[20:30]) + " " + shared15 + " " + " ".join(w[30:40])),
            # 3 shares two disjoint runs (12 and 11 tokens) with 4
            (3, runa + " " + " ".join(w[40:50]) + " " + runb),
            (4, runb + " " + " ".join(w[50:60]) + " " + runa),
            # 5 overlaps 1 by only 8 tokens < min_span=10 → filtered
            (5, " ".join(f"s{i}" for i in range(8))),
        ],
        "doc_id bigint, text string",
    )
    out = {
        (r["doc_a"], r["doc_b"]): r
        for r in substring_span_pairs(
            docs, k=6, min_span=10, max_gram_freq=50
        ).collect()
    }
    assert set(out) == {(1, 2), (3, 4)}
    assert out[(1, 2)]["n_spans"] == 1
    assert out[(1, 2)]["longest_span"] == 15
    assert out[(1, 2)]["span_tokens"] == 15
    assert out[(3, 4)]["n_spans"] == 2
    assert out[(3, 4)]["longest_span"] == 12
    assert out[(3, 4)]["span_tokens"] == 23
    rep = substring_cap_report(docs, k=6, max_gram_freq=50).collect()[0]
    assert rep["n_dropped_gram_types"] == 0
    # a tight cap drops the shared anchors and the report says how much
    rep2 = substring_cap_report(docs, k=6, max_gram_freq=1).collect()[0]
    assert rep2["n_dropped_occurrences"] > 0
