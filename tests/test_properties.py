"""Property-based tests (hypothesis) for the pandas-parity traps of
SURVEY.md §4.4 and the engine's determinism invariants.

Each property runs on small random frames (Spark job per example →
small max_examples, no deadline). The pandas comparisons use the same
pandas library class the reference runs on, so these ARE the parity
oracle for null-key joins and dedup-survivor semantics.
"""

from __future__ import annotations

import math

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from emission_project_spark.functions.ranks import global_position
from emission_project_spark.operators.components import connected_components
from emission_project_spark.operators.dedup import dedup_subset
from emission_project_spark.operators.joins import anti_join, join_nullsafe
from emission_project_spark.operators.keys import add_surrogate_key

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

# nullable string keys (None ≙ pandas NaN join keys), small value domain
# to force both matches and misses
key = st.one_of(st.none(), st.sampled_from(["a", "b", "c"]))
left_rows = st.lists(st.tuples(st.integers(0, 99), key), min_size=0, max_size=12)
right_rows = st.lists(st.tuples(key, st.integers(0, 99)), min_size=0, max_size=8)


@settings(**SETTINGS)
@given(left=left_rows, right=right_rows)
def test_nullsafe_left_join_matches_pandas_merge(spark, left, right):
    """§4.4 trap: pandas merge matches NaN keys; join_nullsafe must too."""
    pl = pd.DataFrame(left, columns=["lid", "k"])
    pr = pd.DataFrame(right, columns=["k", "v"]).drop_duplicates(subset=["k"])
    expected = pl.merge(pr, how="left", on="k")

    sl = spark.createDataFrame(pl.astype(object).where(pd.notnull(pl), None).values.tolist() or [], "lid bigint, k string") if left else spark.createDataFrame([], "lid bigint, k string")
    sr = spark.createDataFrame(pr.astype(object).where(pd.notnull(pr), None).values.tolist() or [], "k string, v bigint") if len(pr) else spark.createDataFrame([], "k string, v bigint")
    got = join_nullsafe(sl, sr, ["k"], how="left").collect()

    def canon(rows):
        from collections import Counter

        return Counter(
            (
                int(r[0]),
                None if r[1] is None or (isinstance(r[1], float) and math.isnan(r[1])) else r[1],
                None if r[2] is None or (isinstance(r[2], float) and math.isnan(r[2])) else int(r[2]),
            )
            for r in rows
        )

    assert canon([(r.lid, r.k, r.v) for r in got]) == canon(
        expected[["lid", "k", "v"]].itertuples(index=False, name=None)
    )


@settings(**SETTINGS)
@given(left=left_rows, right=right_rows)
def test_anti_join_complements_semi(spark, left, right):
    sl = spark.createDataFrame(left or [], "lid bigint, k string")
    sr = spark.createDataFrame(right or [], "k string, v bigint")
    anti = anti_join(sl, sr, ["k"]).count()
    from emission_project_spark.operators.joins import semi_join

    semi = semi_join(sl, sr, ["k"]).count()
    assert anti + semi == len(left)


dedup_rows = st.lists(
    st.tuples(st.sampled_from(["x", "y"]), st.integers(0, 5), st.integers(0, 99)),
    min_size=1,
    max_size=15,
)


@settings(**SETTINGS)
@given(rows=dedup_rows)
def test_dedup_subset_keeps_min_tiebreaker_per_key(spark, rows):
    """§4.4 trap: survivor must be deterministic — the tiebreaker-min
    row, matching sorted-pandas drop_duplicates(keep='first')."""
    df = spark.createDataFrame(rows, "k string, sub int, payload int")
    got = {(r.k, r.sub, r.payload) for r in dedup_subset(df, ["k", "sub"]).collect()}
    expected = {
        tuple(t)
        for t in pd.DataFrame(rows, columns=["k", "sub", "payload"])
        .sort_values(["k", "sub", "payload"])
        .drop_duplicates(subset=["k", "sub"], keep="first")
        .itertuples(index=False, name=None)
    }
    assert got == expected


sk_rows = st.lists(st.integers(0, 10_000), min_size=1, max_size=20, unique=True)


@settings(**SETTINGS)
@given(vals=sk_rows, width=st.sampled_from([1, 3, 8]))
def test_surrogate_keys_dense_and_order_stable(spark, vals, width):
    df = spark.createDataFrame([(v,) for v in vals], "v bigint")
    exact = {(r.v, r.sk) for r in add_surrogate_key(df, "sk", ["v"]).collect()}
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    try:
        dist = {
            (r.v, r.sk)
            for r in global_position(df, ["v"], out_col="sk").collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    expected = {(v, i + 1) for i, v in enumerate(sorted(vals))}
    assert exact == expected  # dense 1..N in sort order
    assert dist == expected  # partition-offset path identical


edge_lists = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=1, max_size=12
)


@settings(**SETTINGS)
@given(edges=edge_lists)
def test_components_match_union_find(spark, edges):
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r.id: r.component_id for r in connected_components(df).collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = {n: find(n) for n in parent}
    # canonical label = min node of component
    mins: dict[int, int] = {}
    for n, root in expected.items():
        mins[root] = min(mins.get(root, n), n)
    expected = {n: mins[find(n)] for n in parent}
    assert got == expected


# --- winnowing guarantee (Schleimer et al., MOSS): any common
# substring of length >= k + w - 1 must produce at least one SHARED
# fingerprint hash between the two documents.
_alpha = st.text(alphabet="abcd ", min_size=0, max_size=30)
_shared = st.text(alphabet="abcd ", min_size=8, max_size=20)  # >= k+w-1 = 8


@settings(**SETTINGS)
@given(prefix_a=_alpha, prefix_b=_alpha, shared=_shared, suffix_a=_alpha, suffix_b=_alpha)
def test_winnow_shared_substring_shares_fingerprint(
    spark, prefix_a, prefix_b, shared, suffix_a, suffix_b
):
    from emission_project_spark.extensions.dedup import winnow_fingerprints

    doc_a = prefix_a + shared + suffix_a
    doc_b = prefix_b + shared + suffix_b
    docs = spark.createDataFrame(
        [(1, doc_a), (2, doc_b)], "doc_id long, text string"
    )
    fps = winnow_fingerprints(docs)
    rows = fps.collect()
    h1 = {r.gram_hash for r in rows if r.doc_id == 1}
    h2 = {r.gram_hash for r in rows if r.doc_id == 2}
    assert h1 & h2, f"no shared fingerprint for shared={shared!r}"


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 50), st.sampled_from(["en", "fr"]), st.integers(1, 200)),
        min_size=1,
        max_size=15,
        unique_by=lambda r: r[0],
    ),
    budget=st.integers(50, 600),
)
def test_token_budget_never_exceeds_and_is_prefix(spark, rows, budget):
    from emission_project_spark.extensions.curation import token_budget_select
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens long")
    out = token_budget_select(df, ["lang"], "doc_id", "n_tokens", budget)
    sums = {r.lang: r.s for r in out.groupBy("lang").agg(F.sum("n_tokens").alias("s")).collect()}
    assert all(s <= budget for s in sums.values())
    # prefix property: selected set = hash-order prefix per stratum
    ordered = df.withColumn("_h", F.md5(F.col("doc_id").cast("string")))
    kept = {r.doc_id for r in out.collect()}
    for lang in {r[1] for r in rows}:
        seq = [
            r.doc_id
            for r in ordered.filter(F.col("lang") == lang).orderBy("_h", "doc_id").collect()
        ]
        in_flags = [d in kept for d in seq]
        assert in_flags == sorted(in_flags, reverse=True)  # True-prefix then False


# --- adversarial hot-bucket stress (SURVEY §8: the caps are
# load-bearing for the 100 TB story). A stop-shingle / degenerate-
# embedding corpus makes every uncapped bucketed path quadratic; these
# tests plant true duplicates NEXT TO the pathological mass and assert
# (a) the default caps bound the candidate volume and (b) recall on
# the planted pairs survives the cap.


def _stop_shingle_corpus(spark, n_pairs=60):
    """2·n_pairs docs, ALL sharing a boilerplate phrase (shingle doc
    frequency = 2·n_pairs), where docs (2i, 2i+1) additionally share a
    pair-unique segment (doc frequency 2 — under any sane cap)."""
    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = []
    for i in range(n_pairs):
        uniq = (
            f"alpha{i} bravo{i} charlie{i} delta{i} echo{i}"
            f" foxtrot{i} golf{i} hotel{i}"
        )
        rows.append((2 * i, f"{uniq} {boiler} left{i}"))
        rows.append((2 * i + 1, f"{uniq} {boiler} right{i}"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_cap_bounds_stop_shingle_blowup_and_keeps_recall(spark, monkeypatch):
    from emission_project_spark.extensions import dedup
    from emission_project_spark.extensions.dedup import (
        ngram_jaccard_pairs,
        shingle_cap_report,
    )

    docs = _stop_shingle_corpus(spark, n_pairs=60)  # 120 docs
    # a cap of 120 keeps every bucket: every boilerplate shingle buckets
    # all 120 docs together → 120·119/2 = 7140 candidate pairs (the
    # quadratic blow-up)
    with monkeypatch.context() as m:
        m.setattr(dedup, "MAX_DOC_FREQ", 120)
        uncapped = ngram_jaccard_pairs(docs, threshold=1e-9).count()
    assert uncapped == 120 * 119 // 2
    # capped (default 64 < 120): only pair-unique buckets generate
    # candidates → exactly the 60 planted pairs
    capped = ngram_jaccard_pairs(docs, threshold=1e-9).collect()
    assert {(r.doc_a, r.doc_b) for r in capped} == {
        (2 * i, 2 * i + 1) for i in range(60)
    }
    # recall with a real threshold: planted pairs still score well above
    # noise (their intersection excludes only the capped boilerplate)
    kept = ngram_jaccard_pairs(docs, threshold=0.2).collect()
    assert {(r.doc_a, r.doc_b) for r in kept} == {
        (2 * i, 2 * i + 1) for i in range(60)
    }
    # and the cap is observable, not silent: the report sees every doc
    rep = shingle_cap_report(docs, max_doc_freq=64).collect()[0]
    assert rep.n_capped > 0
    assert rep.n_docs_affected == 120
    assert rep.n_postings_dropped == rep.n_capped * 120


def test_embedding_lsh_cap_bounds_degenerate_bucket_and_keeps_recall(spark, monkeypatch):
    import random

    from emission_project_spark.extensions import similarity
    from emission_project_spark.extensions.similarity import lsh_neardup_pairs

    rng = random.Random(11)
    rows = []
    # degenerate mass: 100 near-identical vectors — one LSH bucket with
    # 100 members, 4950 within-bucket pairs if uncapped
    base = [rng.gauss(0, 1) for _ in range(16)]
    for i in range(100):
        rows.append((i, [x + rng.gauss(0, 1e-4) for x in base]))
    # planted dup pairs ANTI-correlated with the degenerate direction
    # (≈ -base + perturbation): every sign bit flips vs the hot bucket,
    # so the planted pairs cannot land in it; the perturbation keeps
    # cross-pair cosine < threshold so only true pairs verify
    planted = []
    for j in range(3):
        v = [-x + 0.3 * rng.gauss(0, 1) for x in base]
        a, b = 1000 + 2 * j, 1000 + 2 * j + 1
        rows.append((a, v))
        rows.append((b, [x + rng.gauss(0, 1e-4) for x in v]))
        planted.append((a, b))
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    # a cap of 100 keeps every bucket
    with monkeypatch.context() as m:
        m.setattr(similarity, "LSH_MAX_BUCKET", 100)
        uncapped = lsh_neardup_pairs(vecs, threshold=0.99, n_planes=8, dim=16)
        got_uncapped = {(r.doc_a, r.doc_b) for r in uncapped.collect()}
    capped = lsh_neardup_pairs(vecs, threshold=0.99, n_planes=8, dim=16)  # cap 64
    got_capped = {(r.doc_a, r.doc_b) for r in capped.collect()}
    # the degenerate bucket (100 > 64) is dropped entirely; planted
    # pairs live in normal buckets and survive
    assert got_uncapped >= {(a, b) for a, b in planted}
    assert len(got_uncapped) >= 4000  # quadratic mass without the cap
    for pair in planted:
        assert pair in got_capped
    assert all(a >= 1000 for a, _ in got_capped)  # no degenerate pairs


# ---- round-5 operator properties ------------------------------------

chunk_tokens_lists = st.lists(
    st.sampled_from(["a", "bb", "ccc", "d"]), min_size=0, max_size=40
)


@settings(**SETTINGS)
@given(toks=chunk_tokens_lists, window=st.integers(2, 10), stride=st.integers(1, 10))
def test_chunk_tokens_reconstruction_and_bounds(spark, toks, window, stride):
    """Chunking invariants for any (window, stride): every chunk is
    non-empty (for non-empty input) and at most `window` tokens; chunk
    starts advance by exactly `stride`; and when stride >= window (no
    overlap) the chunks reproduce the reference slicing — which equals
    the input exactly at stride == window, and deliberately SKIPS the
    gap tokens at stride > window (sampling mode)."""
    from emission_project_spark.extensions.curation import chunk_tokens

    df = spark.createDataFrame([(1, toks)], "doc_id bigint, toks array<string>")
    out = sorted(
        chunk_tokens(df, "doc_id", "toks", window=window, stride=stride).collect(),
        key=lambda r: r.chunk_id,
    )
    assert [r.chunk_start for r in out] == [i * stride for i in range(len(out))]
    for r in out:
        assert 0 <= r.n_tokens <= window
        if toks:
            assert r.n_tokens > 0 or r.chunk_start == 0
    if toks and stride >= window:
        rebuilt = [t for r in out for t in (r.chunk_text.split(" ") if r.chunk_text else [])]
        expected = [
            t
            for s in range(0, len(toks), stride)
            for t in toks[s : s + window]
        ]
        assert rebuilt == expected
        if stride == window:
            assert rebuilt == toks


merge_rows = st.lists(
    st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(-50, 50)),
    min_size=1,
    max_size=16,
)


@settings(**SETTINGS)
@given(rows=merge_rows, cut=st.integers(-50, 50))
def test_merge_agg_state_equals_recompute(spark, rows, cut):
    """For ANY split of the input, folding the two sides' partial
    aggregates equals aggregating the whole — the mergeable-monoid
    property incremental_rollup_merge relies on."""
    from pyspark.sql import functions as F

    from emission_project_spark.operators.incremental import merge_agg_state

    df = spark.createDataFrame(rows, "k string, v long")

    def partial(d):
        return d.groupBy("k").agg(
            F.sum("v").alias("s"),
            F.count(F.lit(1)).alias("n"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )

    left, right = df.filter(F.col("v") <= cut), df.filter(F.col("v") > cut)
    merged = {
        r.k: (r.s, r.n, r.lo, r.hi)
        for r in merge_agg_state(
            partial(left), partial(right), ["k"], sums=["s", "n"], mins=["lo"], maxs=["hi"]
        ).collect()
    }
    full = {r.k: (r.s, r.n, r.lo, r.hi) for r in partial(df).collect()}
    assert merged == full


scd_attr = st.one_of(st.none(), st.sampled_from(["X", "Y", "Z"]))
scd_updates = st.lists(
    st.tuples(st.integers(1, 4), scd_attr), min_size=0, max_size=6
)


@settings(**SETTINGS)
@given(upd1=scd_updates, upd2=scd_updates)
def test_scd2_invariants_under_random_batches(spark, upd1, upd2):
    """SCD2 structural invariants after any two update batches: every
    key has EXACTLY one current version; version intervals per key are
    non-overlapping and ordered; replaying the last batch changes
    nothing (idempotence)."""
    from pyspark.sql import functions as F

    from emission_project_spark.operators.scd import scd2_apply, scd2_init

    base = spark.createDataFrame(
        [(1, "X"), (2, None), (3, "Y")], "k bigint, seg string"
    )
    dim = scd2_init(base, "2024-01-01")
    for i, upd in enumerate([upd1, upd2]):
        batch = (
            spark.createDataFrame(upd, "k bigint, seg string")
            if upd
            else spark.createDataFrame([], "k bigint, seg string")
        )
        # operator contract: one row per key per batch
        batch = batch.dropDuplicates(["k"])
        dim = scd2_apply(dim, batch, "k", ["seg"], f"2024-0{i + 6}-01")
    rows = dim.collect()
    by_key: dict = {}
    for r in rows:
        by_key.setdefault(r.k, []).append(r)
    for k, vers in by_key.items():
        currents = [v for v in vers if v.is_current]
        assert len(currents) == 1, (k, vers)
        assert currents[0].valid_to is None
        closed = sorted(
            (v for v in vers if not v.is_current), key=lambda v: v.valid_from
        )
        for v in closed:
            assert v.valid_to is not None and v.valid_from <= v.valid_to
        spans = [(v.valid_from, v.valid_to) for v in closed]
        for (a_from, a_to), (b_from, b_to) in zip(spans, spans[1:]):
            assert a_to <= b_from, (k, spans)
    # idempotence: replaying batch 2 is a no-op
    batch2 = (
        spark.createDataFrame(upd2, "k bigint, seg string").dropDuplicates(["k"])
        if upd2
        else spark.createDataFrame([], "k bigint, seg string")
    )
    again = scd2_apply(dim, batch2, "k", ["seg"], "2024-09-01")
    assert again.count() == len(rows)


# --- substring-span exactness: random degenerate corpora (3-symbol
# vocabulary → dense shared runs, periodic repeats → multi-diagonal
# islands) vs a brute-force maximal-equal-run reference. Exact for
# every span >= k when the gram cap is not binding (set high here).
_doc_toks = st.lists(st.sampled_from(["aa", "bb", "cc"]), min_size=0, max_size=24)
_corpus = st.lists(_doc_toks, min_size=2, max_size=4)


def _brute_spans(corpus, k, min_span):
    out = {}
    for ai in range(len(corpus)):
        for bi in range(ai + 1, len(corpus)):
            a, b = corpus[ai], corpus[bi]
            spans = []
            # maximal equal runs via the classic DP over one pair
            L = [[0] * (len(b) + 1) for _ in range(len(a) + 1)]
            for i in range(1, len(a) + 1):
                for j in range(1, len(b) + 1):
                    if a[i - 1] == b[j - 1]:
                        L[i][j] = L[i - 1][j - 1] + 1
            for i in range(1, len(a) + 1):
                for j in range(1, len(b) + 1):
                    run = L[i][j]
                    if run and (i == len(a) or j == len(b) or a[i] != b[j]):
                        if run >= min_span:
                            spans.append(run)
            if spans:
                out[(ai + 1, bi + 1)] = (
                    len(spans), max(spans), sum(spans)
                )
    return out


@settings(**SETTINGS)
@given(corpus=_corpus)
def test_substring_spans_match_bruteforce(spark, corpus):
    from emission_project_spark.extensions.dedup import substring_span_pairs

    k, min_span = 3, 4
    docs = spark.createDataFrame(
        [(i + 1, " ".join(toks)) for i, toks in enumerate(corpus)],
        "doc_id bigint, text string",
    )
    got = {
        (r["doc_a"], r["doc_b"]): (
            r["n_spans"], r["longest_span"], r["span_tokens"]
        )
        for r in substring_span_pairs(
            docs, k=k, min_span=min_span, max_gram_freq=10_000
        ).collect()
    }
    assert got == _brute_spans(corpus, k, min_span)
