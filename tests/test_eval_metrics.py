"""Hand-computed pins for the round-8 eval/agreement/concentration
batch (plans/eval_metrics.py). The five boundary suites replay every
one of these queries for ORACLE PARITY on crafted corpora; these tests
pin the VALUES against closed-form hand computations so a
both-engines-wrong bug can't hide behind a green hash."""

from __future__ import annotations

import datetime as dt
import math
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def _write_events(d, rows):
    cols = list(zip(*rows))
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(cols[0], type=pa.int64()),
                "ts": pa.array(cols[1], type=pa.timestamp("us")),
                "user_id": pa.array(cols[2], type=pa.int64()),
                "event_type": pa.array(cols[3], type=pa.string()),
                "value": pa.array(cols[4], type=pa.float64()),
                "props": pa.array([r[5] for r in rows], type=pa.string()),
            }
        ),
        os.path.join(d, "events.parquet"),
    )


def _write_embeddings(d, vecs):
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([v[0] for v in vecs], type=pa.int64()),
                "embedding": pa.array(
                    [v[1] for v in vecs], type=pa.list_(pa.float32())
                ),
                "label": pa.array(
                    [v[2] if len(v) > 2 else 0 for v in vecs], type=pa.int32()
                ),
            }
        ),
        os.path.join(d, "embeddings.parquet"),
    )


def _write_docs(d, rows):
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
                "text": pa.array([r[1] for r in rows], type=pa.string()),
                "lang": pa.array([r[2] for r in rows], type=pa.string()),
                "source": pa.array(
                    [r[3] if len(r) > 3 else "src0" for r in rows],
                    type=pa.string(),
                ),
                "n_chars": pa.array(
                    [len(r[1]) for r in rows], type=pa.int64()
                ),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )


def _q(name):
    import __spark_entry__ as entrymod

    return entrymod.queries()[name]


_T0 = dt.datetime(2024, 1, 1, 10, 0, 0)


def _ts(minutes=0, seconds=0):
    return _T0 + dt.timedelta(minutes=minutes, seconds=seconds)


def test_roc_auc_perfect_and_chance(spark, tmp_path_factory):
    """All purchase values above all non-purchase values -> AUC 1;
    fully tied scores -> AUC exactly 0.5 via mid-ranks."""
    d = str(tmp_path_factory.mktemp("auc1"))
    rows = [
        (1, _ts(0), 1, "click", 1.0, "{}"),
        (2, _ts(1), 1, "view", 2.0, "{}"),
        (3, _ts(2), 2, "purchase", 5.0, "{}"),
        (4, _ts(3), 2, "purchase", 6.0, "{}"),
    ]
    _write_events(d, rows)
    r = _q("stats_roc_auc")(spark, d).collect()[0]
    assert (r["n_pos"], r["n_neg"]) == (2, 2)
    assert r["auc"] == 1.0

    d2 = str(tmp_path_factory.mktemp("auc2"))
    rows = [
        (1, _ts(0), 1, "click", 3.0, "{}"),
        (2, _ts(1), 1, "view", 3.0, "{}"),
        (3, _ts(2), 2, "purchase", 3.0, "{}"),
        (4, _ts(3), 2, "purchase", 3.0, "{}"),
    ]
    _write_events(d2, rows)
    assert _q("stats_roc_auc")(spark, d2).collect()[0]["auc"] == 0.5


def test_spearman_perfect_monotone(spark, tmp_path_factory):
    """quantity and price perfectly co-monotone -> rho = 1 (any
    monotone transform — Spearman is rank-based, unlike Pearson)."""
    d = str(tmp_path_factory.mktemp("spear"))
    qty = [1.0, 2.0, 3.0, 4.0, 5.0]
    price = [q * q * 10 for q in qty]  # nonlinear but monotone
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array(range(5), type=pa.int64()),
                "l_partkey": pa.array([1] * 5, type=pa.int64()),
                "l_suppkey": pa.array([1] * 5, type=pa.int64()),
                "l_linenumber": pa.array([1] * 5, type=pa.int32()),
                "l_quantity": pa.array(qty, type=pa.float64()),
                "l_extendedprice": pa.array(price, type=pa.float64()),
                "l_discount": pa.array([0.0] * 5, type=pa.float64()),
                "l_tax": pa.array([0.0] * 5, type=pa.float64()),
                "l_returnflag": pa.array(["N"] * 5, type=pa.string()),
                "l_linestatus": pa.array(["O"] * 5, type=pa.string()),
                "l_shipdate": pa.array([_ts()] * 5, type=pa.timestamp("us")),
            }
        ),
        os.path.join(d, "lineitem.parquet"),
    )
    r = _q("stats_spearman_corr")(spark, d).collect()[0]
    assert r["n_rows"] == 5
    assert r["spearman_rho"] == 1.0


def test_cohens_kappa_perfect_agreement(spark, tmp_path_factory):
    """Truth equals the heuristic's prediction on marker-pure docs ->
    po = 1 and kappa = 1 (pe < 1 because two classes appear)."""
    d = str(tmp_path_factory.mktemp("kappa"))
    docs = [
        (0, "the and of to is", "en"),
        (1, "the and of to is", "en"),
        (2, "el la de que y", "es"),
        (3, "el la de que y", "es"),
    ]
    _write_docs(d, docs)
    r = _q("stats_cohens_kappa")(spark, d).collect()[0]
    assert r["n_docs"] == 4
    assert r["p_observed"] == 1.0
    assert r["p_expected"] == 0.5
    assert r["kappa"] == 1.0


def test_jensen_shannon_identical_and_disjoint(spark, tmp_path_factory):
    """Identical click/view distributions -> JSD 0; fully disjoint
    bins -> JSD = ln 2 (the upper bound)."""
    d = str(tmp_path_factory.mktemp("js1"))
    rows = [
        (1, _ts(0), 1, "click", 10.0, "{}"),
        (2, _ts(1), 1, "view", 10.0, "{}"),
        (3, _ts(2), 2, "click", 60.0, "{}"),
        (4, _ts(3), 2, "view", 60.0, "{}"),
    ]
    _write_events(d, rows)
    assert _q("stats_jensen_shannon")(spark, d).collect()[0][
        "js_divergence"
    ] == 0.0

    d2 = str(tmp_path_factory.mktemp("js2"))
    rows = [
        (1, _ts(0), 1, "click", 10.0, "{}"),
        (2, _ts(1), 1, "view", 60.0, "{}"),
    ]
    _write_events(d2, rows)
    assert _q("stats_jensen_shannon")(spark, d2).collect()[0][
        "js_divergence"
    ] == round(math.log(2.0), 6)


def test_lorenz_uniform_revenue(spark, tmp_path_factory):
    """10 customers with equal revenue -> every decile share is
    exactly 0.1 and the cumulative share climbs the diagonal."""
    d = str(tmp_path_factory.mktemp("lorenz"))
    n = 10
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(range(n), type=pa.int64()),
                "c_name": pa.array([f"c{i}" for i in range(n)]),
                "c_nationkey": pa.array([0] * n, type=pa.int64()),
                "c_acctbal": pa.array([0.0] * n, type=pa.float64()),
                "c_mktsegment": pa.array(["BUILDING"] * n),
            }
        ),
        os.path.join(d, "customer.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array(range(n), type=pa.int64()),
                "o_custkey": pa.array(range(n), type=pa.int64()),
                "o_orderstatus": pa.array(["O"] * n),
                "o_totalprice": pa.array([100.0] * n, type=pa.float64()),
                "o_orderdate": pa.array([_ts()] * n, type=pa.timestamp("us")),
                "o_orderpriority": pa.array(["1-URGENT"] * n),
            }
        ),
        os.path.join(d, "orders.parquet"),
    )
    rows = sorted(
        _q("stats_lorenz_deciles")(spark, d).collect(),
        key=lambda r: r["decile"],
    )
    assert len(rows) == 10
    for i, r in enumerate(rows, start=1):
        assert r["revenue_share"] == 0.1
        assert r["cum_revenue_share"] == round(i / 10.0, 6)

    # equal revenues -> Theil index exactly 0 on the same corpus
    t = _q("stats_theil_index")(spark, d).collect()[0]
    assert (t["n_customers"], t["n_excluded"], t["theil_t"]) == (10, 0, 0.0)


def test_burstiness_metronome(spark, tmp_path_factory):
    """Perfectly periodic arrivals: sd = 0, so CV = 0 and the
    Goh-Barabási B = (0-mu)/(0+mu) = -1 exactly."""
    d = str(tmp_path_factory.mktemp("burst"))
    rows = [
        (i, _ts(minutes=5 * i), 1, "click", 1.0, "{}") for i in range(5)
    ]
    _write_events(d, rows)
    r = _q("events_interarrival_burstiness")(spark, d).collect()[0]
    assert r["n_gaps"] == 4
    assert r["mean_gap_s"] == 300.0
    assert r["cv"] == 0.0
    assert r["burstiness"] == -1.0


def test_heaps_flat_after_first_bucket(spark, tmp_path_factory):
    """10 identical docs: the whole vocabulary appears in bucket 1 and
    the curve is flat afterwards — the 're-crawling the same page'
    signature the readout exists to expose (beta near 0)."""
    d = str(tmp_path_factory.mktemp("heaps"))
    _write_docs(d, [(i, "alpha beta gamma", "en") for i in range(10)])
    rows = sorted(
        _q("text_heaps_law")(spark, d).collect(), key=lambda r: r["bucket"]
    )
    assert [r["vocab_cum"] for r in rows] == [3] * 10
    assert [r["n_tokens_cum"] for r in rows] == [3 * i for i in range(1, 11)]
    assert rows[0]["heaps_beta"] == 0.0


def test_recall_and_ndcg_truncation_blind_spot(spark, tmp_path_factory):
    """Vectors that agree on the first 16 dims but differ beyond them:
    the truncated ranking cannot tell them apart (ties broken by id)
    while the exact ranking can — recall@k drops below 1 exactly when
    the id-order tie-break disagrees with the full-dim order, and NDCG
    stays below 1 for the same queries."""
    d = str(tmp_path_factory.mktemp("recallk"))
    head = [1.0] + [0.0] * 15
    # query 0; vecs 1..3 share the query's 16-dim prefix, tails differ
    vecs = [
        (0, head + [1.0] + [0.0] * 47),
        (1, head + [0.9] + [0.0] * 47),   # closest in full space
        (2, head + [-0.9] + [0.0] * 47),  # farthest in full space
        (3, head + [0.5] + [0.0] * 47),
    ]
    _write_embeddings(d, vecs)
    rec = {
        r["query_id"]: r
        for r in _q("similarity_recall_at_k")(spark, d).collect()
    }
    # k=10 > corpus, so every candidate appears in both lists: recall
    # is 3/10 with n_hits counting the shared pool, not a rank match
    assert rec[0]["n_hits"] == 3
    ndcg = {
        r["query_id"]: r
        for r in _q("similarity_ndcg_at_k")(spark, d).collect()
    }
    # truncated list orders (1,2,3) by id-tie; exact orders (1,3,2) —
    # misranking 2 above 3 costs NDCG
    assert ndcg[0]["ndcg"] < 1.0
    assert ndcg[0]["idcg"] >= ndcg[0]["dcg"]


def test_pca_project_hand_dot(spark, tmp_path_factory):
    """A one-hot embedding picks out single loading-matrix entries:
    e_i . w = w[i], hand-checkable against the module constants."""
    from emission_project_spark.plans.eval_metrics import _PC1, _PC2

    d = str(tmp_path_factory.mktemp("pca"))
    onehot = [0.0] * 64
    onehot[10] = 1.0
    _write_embeddings(d, [(0, onehot, 7)])
    r = _q("embedding_pca_project")(spark, d).collect()[0]
    assert r["label"] == 7
    assert r["pc1"] == round(_PC1[10], 6) + 0.0
    assert r["pc2"] == round(_PC2[10], 6) + 0.0


def test_phash_identical_docs_zero_hamming(spark, tmp_path_factory):
    """Two byte-identical docs have identical stub grids, identical
    aHashes, share every band, and surface as a hamming-0 near-dup."""
    d = str(tmp_path_factory.mktemp("phash"))
    text = "The quick brown fox jumps over the lazy dog 0123456789" * 3
    _write_docs(
        d, [(0, text, "en"), (1, text, "en"), (2, "x" * 64, "en")]
    )
    rows = _q("multimodal_phash_pairs")(spark, d).collect()
    top = {(r["doc_a"], r["doc_b"]): r for r in rows}
    assert top[(0, 1)]["hamming"] == 0
    assert top[(0, 1)]["near_dup"] is True


def test_stream_attribution_batch_matches_window_twin(spark, tmp_path_factory):
    """The registered alias is plan-identical to
    events_attribution_last_touch — same rows, same channel totals."""
    d = str(tmp_path_factory.mktemp("attr"))
    rows = [
        (1, _ts(0), 1, "click", 0.0, "{}"),
        (2, _ts(5), 1, "purchase", 10.0, "{}"),
        (3, _ts(9), 2, "purchase", 7.0, "{}"),  # no touch -> direct
    ]
    _write_events(d, rows)
    a = sorted(
        _q("stream_attribution_batch")(spark, d).collect(),
        key=lambda r: r["channel"],
    )
    b = sorted(
        _q("events_attribution_last_touch")(spark, d).collect(),
        key=lambda r: r["channel"],
    )
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert {r["channel"]: r["attributed_value"] for r in a} == {
        "click": 10.0,
        "direct": 7.0,
    }


def test_theil_excludes_nonpositive_observably(spark, tmp_path_factory):
    """A zero-revenue customer is excluded from the index but counted
    in n_excluded — the truncation-observable rule."""
    d = str(tmp_path_factory.mktemp("theil"))
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([0, 1, 2], type=pa.int64()),
                "o_custkey": pa.array([0, 1, 2], type=pa.int64()),
                "o_orderstatus": pa.array(["O"] * 3),
                "o_totalprice": pa.array(
                    [100.0, 100.0, 0.0], type=pa.float64()
                ),
                "o_orderdate": pa.array([_ts()] * 3, type=pa.timestamp("us")),
                "o_orderpriority": pa.array(["1-URGENT"] * 3),
            }
        ),
        os.path.join(d, "orders.parquet"),
    )
    r = _q("stats_theil_index")(spark, d).collect()[0]
    assert (r["n_customers"], r["n_excluded"]) == (2, 1)
    assert r["theil_t"] == 0.0  # the two included revenues are equal


def test_permutation_pvalue_null_is_one(spark, tmp_path_factory):
    """Identical click/view value multisets -> observed diff 0, every
    replicate |d| >= 0, so p = (1+B)/(B+1) = 1.0 exactly."""
    d = str(tmp_path_factory.mktemp("perm"))
    rows = []
    for i in range(8):
        rows.append((2 * i, _ts(minutes=i), 1, "click", float(i), "{}"))
        rows.append((2 * i + 1, _ts(minutes=i), 2, "view", float(i), "{}"))
    _write_events(d, rows)
    r = _q("stats_permutation_pvalue")(spark, d).collect()[0]
    assert (r["n_click"], r["n_view"]) == (8, 8)
    assert r["observed_diff"] == 0.0
    assert r["p_value"] == 1.0


def test_permutation_chunk_bit_mapping_inverts_oracle():
    """The ×13 chunk fold's (k, j) → b reshape must invert the
    oracle's per-bit nibble arithmetic EXACTLY: bit b reads
    (nibble[(b%128)//4] >> (b%4)) & 1 of md5 'h{b//128}', and nibble
    4k+p sits at bit 4·(3−p) of 16-bit chunk k. Pure-Python replay
    over a real md5: both paths must agree on every one of the 199
    bits, and the b-expression's (k, j) inversion must be a bijection
    onto 0..198."""
    import hashlib

    h0 = hashlib.md5(b"12345-p0").hexdigest()
    h1 = hashlib.md5(b"12345-p1").hexdigest()

    def oracle_bit(b: int) -> int:
        h = h0 if b < 128 else h1
        nib = int(h[(b % 128) // 4], 16)
        return (nib >> (b % 4)) & 1

    chunks = [int(h0[4 * k : 4 * k + 4], 16) for k in range(8)] + [
        int(h1[4 * k : 4 * k + 4], 16) for k in range(5)
    ]
    seen = {}
    for k in range(13):
        for j in range(16):
            if k < 8:
                b = 16 * k + 12 - 4 * (j // 4) + j % 4
            else:
                b = 128 + 16 * (k - 8) + 12 - 4 * (j // 4) + j % 4
            if b >= 199:
                continue
            assert b not in seen, f"duplicate bit {b}"
            seen[b] = (chunks[k] >> j) & 1
    assert sorted(seen) == list(range(199))
    for b in range(199):
        assert seen[b] == oracle_bit(b), f"bit {b} mismatch"


def test_mann_kendall_strict_trend(spark, tmp_path_factory):
    """Strictly increasing hourly counts: S = n(n-1)/2 and tau = 1."""
    d = str(tmp_path_factory.mktemp("mk"))
    rows = []
    eid = 0
    for h in range(5):
        for k in range(h + 1):  # hour h gets h+1 events
            rows.append((eid, _ts(minutes=60 * h, seconds=k), 1, "click", 1.0, "{}"))
            eid += 1
    _write_events(d, rows)
    r = _q("events_mann_kendall_trend")(spark, d).collect()[0]
    assert r["n_hours"] == 5
    assert r["s_stat"] == 10  # all 10 pairs increasing
    assert r["kendall_tau"] == 1.0
    assert r["z_score"] > 0


def test_centroid_distances_hand_case(spark, tmp_path_factory):
    """Two labels, centroids at e1 and e2 (unit axes): distance
    sqrt(2), cosine 0."""
    d = str(tmp_path_factory.mktemp("cdist"))
    e1 = [1.0] + [0.0] * 63
    e2 = [0.0, 1.0] + [0.0] * 62
    _write_embeddings(d, [(0, e1, 0), (1, e1, 0), (2, e2, 1), (3, e2, 1)])
    r = _q("embedding_centroid_distances")(spark, d).collect()
    assert len(r) == 1
    row = r[0]
    assert (row["label_a"], row["label_b"]) == (0, 1)
    assert row["centroid_dist"] == round(math.sqrt(2.0), 6)
    assert row["centroid_cosine"] == 0.0


def test_source_diversity_uniform(spark, tmp_path_factory):
    """4 sources x 2 docs each: Simpson = 1 - 1/4, evenness = 1."""
    d = str(tmp_path_factory.mktemp("divers"))
    docs = [
        (i, f"doc text {i}", "en", f"src{i % 4}") for i in range(8)
    ]
    _write_docs(d, docs)
    r = _q("text_source_diversity")(spark, d).collect()[0]
    assert (r["n_sources"], r["n_docs"]) == (4, 8)
    assert r["simpson_d"] == 0.75
    assert r["shannon_h"] == round(math.log(4.0), 6)
    assert r["evenness"] == 1.0


def test_kneser_ney_probabilities_sum_to_one(spark, tmp_path_factory):
    """Corpus 'a b','a b','a c': P_KN(b|a) = (1.25 + 0.75*2*0.5)/3 =
    2/3 and P_KN(c|a) = (0.25 + 0.75)/3 = 1/3 — the KN discount mass
    redistributes so the conditional sums to exactly 1."""
    d = str(tmp_path_factory.mktemp("kn"))
    _write_docs(d, [(0, "a b", "en"), (1, "a b", "en"), (2, "a c", "en")])
    rows = {
        (r["w1"], r["w2"]): r
        for r in _q("text_kneser_ney_bigrams")(spark, d).collect()
    }
    assert rows[("a", "b")]["c12"] == 2
    assert rows[("a", "b")]["p_kn"] == round(2.0 / 3.0, 6)
    assert rows[("a", "c")]["p_kn"] == round(1.0 / 3.0, 6)
    assert rows[("a", "b")]["p_ml"] == round(2.0 / 3.0, 6)


def test_hubness_degree_mass_conservation(spark, tmp_path_factory):
    """Every vector votes for exactly k=5 neighbors, so the in-degree
    histogram's mass sum d*n_vectors equals 5*n (corpus > k)."""
    d = str(tmp_path_factory.mktemp("hub"))
    import math as _m

    vecs = []
    for i in range(8):
        ang = i * 0.3
        vecs.append((i, [_m.cos(ang), _m.sin(ang)] + [0.0] * 62, 0))
    _write_embeddings(d, vecs)
    rows = _q("embedding_hubness_stats")(spark, d).collect()
    assert sum(r["in_degree"] * r["n_vectors"] for r in rows) == 5 * 8
    assert sum(r["n_vectors"] for r in rows) == 8


def _hub_corpus(n, zero_ids=()):
    """n unit-circle vectors (64-dim), with the given ids zeroed out."""
    import math as _m

    vecs = []
    for i in range(n):
        if i in zero_ids:
            vecs.append((i, [0.0] * 64, 0))
        else:
            ang = i * 0.37
            vecs.append((i, [_m.cos(ang), _m.sin(ang)] + [0.0] * 62, 0))
    return vecs


def test_hubness_ivf_every_cap_matches_oracle(
    spark, tmp_path_factory, negative_id_corpus, assert_hubness_ivf_oracle
):
    """Forcing _MAX_CENTROIDS below the centroid count cuts the centroids
    into several slices, whose running (score, cid) fold must give the
    oracle's readout at every cap. Zero-norm corpus: centroid 0 and
    non-centroid vec 20 are zero-norm, so an all-NULL score row must
    land on the GLOBAL min cid (zero-norm centroids included). Negative-id
    corpus: the oracle's centroids include the ids below 0, which slices
    cut by id range from 0 used to drop."""
    d = str(tmp_path_factory.mktemp("hub_ivf_shard"))
    _write_embeddings(d, _hub_corpus(36, zero_ids={0, 20}))  # nc = 6
    for corpus in (d, negative_id_corpus):
        assert_hubness_ivf_oracle(corpus)


def test_hubness_ivf_zero_norm_oracle_parity(spark, tmp_path_factory):
    """The crafted zero-norm corpus against the registered DuckDB
    oracle: a zero-norm vector's all-NULL score row must follow the
    oracle's NULLS LAST → min-cid assignment even when centroid 0 is
    itself zero-norm (the flat kernel's old -inf masking picked the
    first NON-zero-norm centroid instead)."""
    import importlib.util

    import duckdb

    spec = importlib.util.spec_from_file_location(
        "compare_mod_hub", os.path.join(_REPO, "tools", "compare.py")
    )
    compare = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(compare)
    import __spark_entry__ as entrymod

    d = str(tmp_path_factory.mktemp("hub_ivf_zero"))
    _write_embeddings(d, _hub_corpus(36, zero_ids={0, 20}))
    con = duckdb.connect()
    con.sql(
        f"CREATE OR REPLACE VIEW embeddings AS"
        f" SELECT * FROM '{d}/embeddings.parquet'"
    )
    for name in ("embedding_hubness_ivf", "embedding_hubness_stats"):
        r = compare.compare_query(
            spark,
            con,
            name,
            entrymod.queries()[name],
            entrymod.oracle_sql()[name],
            d,
        )
        assert "error" not in r, r
        assert r.get("cols_match") and r.get("values_match"), r


def test_hubness_empty_corpus(spark, tmp_path_factory):
    """An empty embeddings table returns the oracle's 0-row readout
    instead of crashing the driver-side centroid/sample matrix build
    (np.linalg.norm on a 0-d array — the round-9 advice crash)."""
    d = str(tmp_path_factory.mktemp("hub_empty"))
    _write_embeddings(d, [])
    for name in ("embedding_hubness_ivf", "embedding_hubness_stats"):
        assert _q(name)(spark, d).count() == 0, name


def test_t_closeness_skewed_group(spark, tmp_path_factory):
    """Nations 0/1 mirror the global mix apart from its own skew;
    nation 2 is single-segment: t = 1/6 for the mixed nations and
    1/3 for the pure one (hand-computed total-variation)."""
    d = str(tmp_path_factory.mktemp("tclose"))
    segs = (
        ["AUTOMOBILE", "AUTOMOBILE", "BUILDING", "BUILDING"] * 2
        + ["AUTOMOBILE"] * 4
    )
    nations = [0] * 4 + [1] * 4 + [2] * 4
    n = len(segs)
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(range(n), type=pa.int64()),
                "c_name": pa.array([f"c{i}" for i in range(n)]),
                "c_nationkey": pa.array(nations, type=pa.int64()),
                "c_acctbal": pa.array([500.0] * n, type=pa.float64()),
                "c_mktsegment": pa.array(segs),
            }
        ),
        os.path.join(d, "customer.parquet"),
    )
    rows = {
        r["c_nationkey"]: r
        for r in _q("privacy_t_closeness_customers")(spark, d).collect()
    }
    assert rows[0]["max_t"] == round(1.0 / 6.0, 6)
    assert rows[1]["max_t"] == round(1.0 / 6.0, 6)
    assert rows[2]["max_t"] == round(1.0 / 3.0, 6)
    assert rows[2]["n_far_groups"] == 1
    assert rows[2]["n_exposed_rows"] == 4


def test_brown_forsythe_hand_f(spark, tmp_path_factory):
    """click z=[2,0,5], view z=[1,0,1]: between=25/6, within=40/3,
    F = (25/6) / (40/12) = 1.25 exactly."""
    d = str(tmp_path_factory.mktemp("bf"))
    rows = [
        (1, _ts(0), 1, "click", 1.0, "{}"),
        (2, _ts(1), 1, "click", 3.0, "{}"),
        (3, _ts(2), 1, "click", 8.0, "{}"),
        (4, _ts(3), 2, "view", 10.0, "{}"),
        (5, _ts(4), 2, "view", 11.0, "{}"),
        (6, _ts(5), 2, "view", 12.0, "{}"),
    ]
    _write_events(d, rows)
    r = _q("stats_brown_forsythe")(spark, d).collect()[0]
    assert (r["n_groups"], r["n_rows"]) == (2, 6)
    assert r["f_stat"] == 1.25


def test_dau_mau_stickiness_two_days(spark, tmp_path_factory):
    """Day 1 actives {1,2}, day 2 actives {2,3}: DAU 2/2, trailing
    MAU 2/3, stickiness 1.0 and 2/3."""
    d = str(tmp_path_factory.mktemp("daumau"))
    rows = [
        (1, _ts(0), 1, "click", 1.0, "{}"),
        (2, _ts(1), 2, "click", 1.0, "{}"),
        (3, dt.datetime(2024, 1, 2, 10, 0, 0), 2, "click", 1.0, "{}"),
        (4, dt.datetime(2024, 1, 2, 11, 0, 0), 3, "click", 1.0, "{}"),
    ]
    _write_events(d, rows)
    rows_out = {
        str(r["day"]): r
        for r in _q("events_dau_mau_stickiness")(spark, d).collect()
    }
    assert rows_out["2024-01-01"]["stickiness"] == 1.0
    assert rows_out["2024-01-02"]["dau"] == 2
    assert rows_out["2024-01-02"]["mau"] == 3
    assert rows_out["2024-01-02"]["stickiness"] == round(2.0 / 3.0, 6)


def test_phash_oracle_ascii_precondition():
    """The multimodal_phash_pairs oracle replays the stub's BYTE
    arithmetic via ascii(substring(text, ...)), which equals the byte
    only while documents.text is pure ASCII. DuckDB has no blob byte
    extraction, so if a corpus regeneration ever introduces multi-byte
    text this must fail HERE, loudly, not as a silent driver-hash
    mismatch."""
    import duckdb

    con = duckdb.connect()
    for sf in ("0.001", "0.01", "0.1"):
        path = f"/root/testdata/sf{sf}/documents.parquet"
        if not os.path.exists(path):
            continue
        n = con.sql(
            f"SELECT count(*) FROM '{path}' "
            "WHERE octet_length(encode(text)) <> length(text)"
        ).fetchone()[0]
        assert n == 0, f"non-ASCII documents at sf{sf}: {n}"


def test_neighbor_jaccard_hand_case(spark, tmp_path_factory):
    """Orders {A:(1,2)},{B:(1,3)},{C:(2,3)},{D:(1,2)} build a strong
    triangle 1-2 (support 2); weak pairs keep parts 3's edges out of
    the support-2 graph, so no non-adjacent candidate pairs survive on
    this corpus — the query returns rows only when wedges exist in
    the STRONG graph (contract check via the testdata run instead)."""
    import os

    import __spark_entry__ as entrymod

    if not os.path.exists("/root/testdata/sf0.001"):
        pytest.skip("generated testdata not present on this checkout")
    # contract on real testdata: jaccard in (0, 1], n_common >= 1,
    # pairs non-adjacent in the strong graph by construction
    rows = entrymod.queries()["graph_neighbor_jaccard_top"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows, "expected candidates on the generated corpus"
    for r in rows:
        assert 0.0 < r["jaccard"] <= 1.0
        assert r["n_common"] >= 1
        assert r["node_a"] < r["node_b"]


def test_bot_score_metronome_flag(spark, tmp_path_factory):
    """A metronome user (CV 0) is flagged; a human-jittered user with
    the same volume is not."""
    d = str(tmp_path_factory.mktemp("bot"))
    rows = []
    eid = 0
    for i in range(6):  # bot: exactly every 60 s
        rows.append((eid, _ts(minutes=i), 1, "click", 1.0, "{}")); eid += 1
    human_offsets = [0, 70, 200, 420, 900, 1500]  # irregular seconds
    for off in human_offsets:
        rows.append((eid, _ts(seconds=off), 2, "click", 1.0, "{}")); eid += 1
    _write_events(d, rows)
    out = {r["user_id"]: r for r in _q("events_bot_score")(spark, d).collect()}
    assert out[1]["bot_flag"] is True and out[1]["gap_cv"] == 0.0
    assert out[2]["bot_flag"] is False and out[2]["gap_cv"] > 0.1


def test_cliffs_delta_full_dominance(spark, tmp_path_factory):
    """All click values above all view values: delta = 1, 'large';
    identical multisets: delta = 0, 'negligible'."""
    d = str(tmp_path_factory.mktemp("cliff1"))
    rows = [
        (1, _ts(0), 1, "click", 10.0, "{}"),
        (2, _ts(1), 1, "click", 11.0, "{}"),
        (3, _ts(2), 2, "view", 1.0, "{}"),
        (4, _ts(3), 2, "view", 2.0, "{}"),
    ]
    _write_events(d, rows)
    r = _q("stats_cliffs_delta")(spark, d).collect()[0]
    assert r["cliffs_delta"] == 1.0 and r["magnitude"] == "large"

    d2 = str(tmp_path_factory.mktemp("cliff2"))
    rows = [
        (1, _ts(0), 1, "click", 5.0, "{}"),
        (2, _ts(1), 1, "view", 5.0, "{}"),
    ]
    _write_events(d2, rows)
    r2 = _q("stats_cliffs_delta")(spark, d2).collect()[0]
    assert r2["cliffs_delta"] == 0.0 and r2["magnitude"] == "negligible"


def test_conversion_delay_percentiles_hand(spark, tmp_path_factory):
    """Three converters with delays 100/200/400 s: p50 = 200, p25 =
    interpolated 150, and a pre-signup purchase never counts."""
    d = str(tmp_path_factory.mktemp("convdelay"))
    rows = [
        (1, _ts(0), 1, "signup", 0.0, "{}"),
        (2, _ts(0, 100), 1, "purchase", 1.0, "{}"),
        (3, _ts(0, 500), 1, "purchase", 1.0, "{}"),  # later, ignored (min)
        (4, _ts(0), 2, "signup", 0.0, "{}"),
        (5, _ts(0, 200), 2, "purchase", 1.0, "{}"),
        (6, _ts(10), 3, "signup", 0.0, "{}"),
        (7, _ts(9), 3, "purchase", 1.0, "{}"),   # BEFORE signup: excluded
        (8, _ts(10, 400), 3, "purchase", 1.0, "{}"),
    ]
    _write_events(d, rows)
    r = _q("events_conversion_delay_percentiles")(spark, d).collect()[0]
    assert r["n_converted"] == 3
    assert r["p50_s"] == 200.0
    assert r["p25_s"] == 150.0
