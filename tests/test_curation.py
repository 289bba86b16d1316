"""Unit tests for connected-components clustering and the curation
operators (stratified sampling, percentiles, profiling). Value-level
oracle parity runs in tools/compare.py; these pin the invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from emission_project_spark.extensions.curation import (
    length_percentiles,
    profile_columns,
    stratified_sample_topk,
)
from emission_project_spark.operators.components import connected_components


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src bigint, dst bigint")


def test_components_chain_and_islands(spark):
    # chain 1-2-3-4 (diameter 3, needs >1 round) + pair 10-11
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    out = {r.id: r.component_id for r in connected_components(e).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_components_direction_insensitive(spark):
    # same component regardless of edge orientation
    e = _edges(spark, [(5, 2), (2, 9), (9, 1)])
    out = {r.component_id for r in connected_components(e).collect()}
    assert out == {1}


def test_components_converges_on_cycle(spark):
    e = _edges(spark, [(1, 2), (2, 3), (3, 1)])
    out = {r.id: r.component_id for r in connected_components(e).collect()}
    assert out == {1: 1, 2: 1, 3: 1}


def test_components_past_round_bound_raise(spark, monkeypatch):
    # a 6-node path needs more than 2 rounds: the error names the bound
    import pytest

    from emission_project_spark.operators import components

    monkeypatch.setattr(components, "MAX_ROUNDS", 2)
    e = _edges(spark, [(i, i + 1) for i in range(1, 6)])
    with pytest.raises(RuntimeError, match="diameter exceeds the 2-round bound"):
        connected_components(e)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, lang string, n_chars int")


def test_stratified_sample_is_deterministic_and_capped(spark):
    rows = [(i, "en" if i % 2 == 0 else "de", 100 + i) for i in range(40)]
    docs = _docs(spark, rows)
    a = stratified_sample_topk(docs, ["lang"], "doc_id", 3)
    b = stratified_sample_topk(docs, ["lang"], "doc_id", 3)
    sa = sorted((r.lang, r.doc_id) for r in a.collect())
    assert sa == sorted((r.lang, r.doc_id) for r in b.collect())  # reproducible
    per_lang = {}
    for lang, _ in sa:
        per_lang[lang] = per_lang.get(lang, 0) + 1
    assert per_lang == {"en": 3, "de": 3}


def test_length_percentiles_exact(spark):
    docs = _docs(spark, [(i, "en", v) for i, v in enumerate([10, 20, 30, 40])])
    row = length_percentiles(docs, ["lang"], "n_chars").collect()[0]
    assert row.n_docs == 4
    assert row.mean_val == 25.0
    assert row.p50 == 25.0  # interpolated median, matches quantile_cont


def test_profile_columns_nulls_and_bounds(spark):
    docs = spark.createDataFrame(
        [(1, "en", 5), (2, None, 9), (3, "de", None)],
        "doc_id bigint, lang string, n_chars int",
    )
    out = {r.column_name: r for r in profile_columns(docs, ["lang", "n_chars"]).collect()}
    assert out["lang"].n_nulls == 1 and out["lang"].n_distinct == 2
    assert out["n_chars"].min_value == "5" and out["n_chars"].max_value == "9"
    assert abs(out["n_chars"].null_fraction - 1 / 3) < 1e-6
    assert out["lang"].n_rows == 3


def test_tfidf_ubiquitous_term_scores_zero(spark):
    from emission_project_spark.extensions.curation import tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "apple banana"), (2, "apple cherry"), (3, "apple date")],
        "doc_id bigint, text string",
    )
    out = tfidf_top_terms(docs, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # 'apple' appears in every doc → idf = ln(1) = 0; unique terms rank first
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r.rank)
        assert rows[0].term != "apple"
        assert rows[0].tfidf > 0
        apple = [r for r in rows if r.term == "apple"]
        assert all(r.tfidf == 0.0 for r in apple)


def test_kmeans_separates_two_blobs(spark):
    from emission_project_spark.extensions.kmeans import kmeans_lloyd

    # ids 0,1 seed the centroids; blob A near (0,0), blob B near (10,10)
    rows = [
        (0, [0.1, 0.0]), (1, [10.0, 10.1]),
        (2, [0.2, 0.1]), (3, [0.0, 0.3]),
        (4, [9.9, 10.0]), (5, [10.2, 9.8]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = {r.vec_id: r.cluster_id for r in kmeans_lloyd(emb, k=2, iterations=3).collect()}
    assert out[0] == out[2] == out[3]
    assert out[1] == out[4] == out[5]
    assert out[0] != out[1]


def test_asof_join_attaches_whole_row_atomically(spark):
    """A null in one right value column must NOT back-fill from an
    older right row — the as-of match attaches one row, atomically."""
    from emission_project_spark.operators.asof import asof_join

    left = spark.createDataFrame([("k", 10), ("k", 25)], "key string, ts int")
    right = spark.createDataFrame(
        [("k", 5, 1.0, "first"), ("k", 20, 2.0, None)],
        "key string, ts int, price double, note string",
    )
    out = {r.ts: r for r in asof_join(left, right, "key", "ts", "ts", ["price", "note"]).collect()}
    assert out[10].asof_price == 1.0 and out[10].asof_note == "first"
    assert out[25].asof_price == 2.0
    assert out[25].asof_note is None  # NOT "first" — no cross-row stitching
    assert out[25].asof_ts == 20


def test_profile_columns_weird_names(spark):
    """Column names with spaces, quotes, and dots must neither break the
    stack() parse nor misresolve as nested-field paths."""
    df = spark.createDataFrame(
        [(1, "x"), (2, None)],
        ["the col", "o'brien.v"],
    )
    out = {r.column_name: r for r in profile_columns(df).collect()}
    assert set(out) == {"the col", "o'brien.v"}
    assert out["o'brien.v"].n_nulls == 1
    assert out["the col"].min_value == "1" and out["the col"].max_value == "2"


def test_token_budget_select_prefix_semantics(spark):
    """Selection is a prefix of the hash order per stratum: the doc
    that would cross the budget is excluded, later docs too."""
    from emission_project_spark.extensions.curation import token_budget_select
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, "en", 100) for i in range(10)] + [(i, "fr", 400) for i in range(10, 14)],
        "doc_id long, lang string, n_tokens long",
    )
    out = token_budget_select(df, ["lang"], "doc_id", "n_tokens", budget=500)
    got = {r.lang: sorted(x.doc_id for x in out.filter(F.col("lang") == r.lang).collect())
           for r in out.select("lang").distinct().collect()}
    # en: 5 docs of 100 fit exactly; fr: only 1 doc of 400 fits
    assert len(got["en"]) == 5 and len(got["fr"]) == 1
    # total tokens within budget per stratum
    sums = {r.lang: r.s for r in out.groupBy("lang").agg(F.sum("n_tokens").alias("s")).collect()}
    assert sums["en"] <= 500 and sums["fr"] <= 500


def test_hash_rate_sample_nested_and_deterministic(spark):
    """Raising a stratum's rate strictly grows the sample (nested
    property); same rates → identical sample across runs."""
    from emission_project_spark.extensions.curation import hash_rate_sample

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "fr") for i in range(400)],
        "doc_id long, lang string",
    )
    small = {r.doc_id for r in hash_rate_sample(df, "lang", "doc_id", {"en": 0.2, "fr": 0.1}).collect()}
    large = {r.doc_id for r in hash_rate_sample(df, "lang", "doc_id", {"en": 0.6, "fr": 0.4}).collect()}
    again = {r.doc_id for r in hash_rate_sample(df, "lang", "doc_id", {"en": 0.2, "fr": 0.1}).collect()}
    assert small <= large
    assert small == again
    assert 0 < len(small) < len(large) < 400


def test_pack_sequences_bin_invariants(spark):
    """Every bin except possibly the last starts below the context
    length and overflows by at most one straddling doc."""
    from pyspark.sql import functions as F

    from emission_project_spark.extensions.curation import pack_sequences

    df = spark.createDataFrame(
        [(i, "en", 100 + (i * 37) % 400) for i in range(60)],
        "doc_id long, lang string, n_tokens long",
    )
    out = pack_sequences(df, ["lang"], "doc_id", "n_tokens", context_len=1000)
    bins = (
        out.groupBy("bin_id")
        .agg(F.sum("n_tokens").alias("total"), F.max("n_tokens").alias("biggest"))
        .collect()
    )
    assert len(bins) > 3
    for r in bins:
        # a bin holds < context_len before its last (straddling) doc
        assert r.total - r.biggest < 1000
    # bins are contiguous 0..N
    ids = sorted(r.bin_id for r in bins)
    assert ids == list(range(len(ids)))
