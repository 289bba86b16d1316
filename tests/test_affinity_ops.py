"""Round-7 affinity/structure operators: crafted-corpus semantics pins
plus DuckDB oracle parity on the same crafted corpus.

The generated testdata exercises the happy path (tools/compare.py and
the driver cover it); this corpus pins hand-computable expectations:

- triangle census: K4 + pendant → exactly 4 triangles, 15 wedges,
  transitivity 0.8 (orientation must not double- or under-count),
- Adamic-Adar: a path a—z—b in the support≥2 graph → the single
  predicted link (a,b) scoring 1/ln(2),
- prefix-filtered Jaccard join: the planted near-dup pair survives,
  the unrelated and sub-shingle-length docs generate nothing — and
  the result equals the ALL-PAIRS oracle (prefix filter losslessness),
- PMI: the planted collocation ranks first with the hand-computed
  score,
- OOV: a 600-distinct-token doc overflows the top-500 vocab,
- last-touch attribution: tie-broken timelines and the 'direct'
  channel,
- Benford: first digits taken from the decimal string, not log10,
- range search: radius semantics (self excluded, threshold inclusive).
"""

from __future__ import annotations

import importlib.util
import math
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "compare_mod_affinity", os.path.join(_REPO, "tools", "compare.py")
)
_compare = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_compare)


# ---------------------------------------------------------------- corpus
# lineitem: order 200 is a 4-clique basket {1,2,3,4}; order 201 hangs
# pendant part 5 off part 4. Orders 300.. build the support>=2 strong
# graph: edges (10,11) and (11,12) each co-purchased twice, so the
# Adamic-Adar graph is the path 10—11—12 (pair (10,12) never
# co-purchased -> the one predicted link). Prices pin Benford digits.
_LINEITEM = [
    (200, 1, 123.45),
    (200, 2, 234.56),
    (200, 3, 345.67),
    (200, 4, 456.78),
    (201, 4, 567.89),
    (201, 5, 678.90),
    (300, 10, 789.01),
    (300, 11, 890.12),
    (301, 10, 901.23),
    (301, 11, 112.34),
    (302, 11, 223.45),
    (302, 12, 334.56),
    (303, 11, 445.67),
    (303, 12, 556.78),
]

_FILLER = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
_DOCS = [
    # near-dup pair: identical 12-token text except one trailing token
    (0, f"{_FILLER} kilo lima", "srcA"),
    (1, f"{_FILLER} kilo mike", "srcA"),
    # unrelated doc, long enough to shingle
    (2, "zulu yankee xray whiskey victor uniform tango sierra", "srcB"),
    # too short to produce a 5-gram shingle (4 tokens)
    (3, "one two three four", "srcB"),
    # PMI plant: 'new york' x5 among per-doc-unique filler
    (4, " ".join(f"pad{i} pad{i + 100} new york" for i in range(5)), "srcB"),
    # vocab overflow: 600 distinct tokens in one source
    (5, " ".join(f"tok{i:03d}" for i in range(600)), "srcC"),
]

# events: user 1 click->purchase->view->purchase; user 2 direct
# purchase; user 3 same-timestamp click/view tie broken by event_id
_EVENTS = [
    (1, "2024-01-01 10:00:00", 1, "click", 0.0),
    (2, "2024-01-01 10:05:00", 1, "purchase", 10.0),
    (3, "2024-01-01 10:10:00", 1, "view", 0.0),
    (4, "2024-01-01 10:15:00", 1, "purchase", 20.0),
    (5, "2024-01-01 09:00:00", 2, "purchase", 5.0),
    (6, "2024-01-01 11:00:00", 3, "click", 0.0),
    (7, "2024-01-01 11:00:00", 3, "view", 0.0),
    (8, "2024-01-01 11:30:00", 3, "purchase", 40.0),
]

_EMB = [
    (0, [1.0, 0.0]),
    (1, [0.0, 1.0]),
    (2, [1.0, 0.0]),
    (3, [-1.0, 0.0]),
    (4, [0.6, 0.8]),
]


@pytest.fixture(scope="module")
def aff_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("affinity_boundary"))
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([r[0] for r in _LINEITEM], type=pa.int64()),
                "l_partkey": pa.array([r[1] for r in _LINEITEM], type=pa.int64()),
                "l_extendedprice": pa.array(
                    [r[2] for r in _LINEITEM], type=pa.float64()
                ),
            }
        ),
        os.path.join(d, "lineitem.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in _DOCS], type=pa.int64()),
                "text": pa.array([r[1] for r in _DOCS], type=pa.string()),
                "source": pa.array([r[2] for r in _DOCS], type=pa.string()),
                "n_chars": pa.array([len(r[1]) for r in _DOCS], type=pa.int64()),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    import datetime

    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in _EVENTS], type=pa.int64()),
                "ts": pa.array(
                    [datetime.datetime.fromisoformat(r[1]) for r in _EVENTS],
                    type=pa.timestamp("us"),
                ),
                "user_id": pa.array([r[2] for r in _EVENTS], type=pa.int64()),
                "event_type": pa.array([r[3] for r in _EVENTS], type=pa.string()),
                "value": pa.array([r[4] for r in _EVENTS], type=pa.float64()),
            }
        ),
        os.path.join(d, "events.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in _EMB], type=pa.int64()),
                "embedding": pa.array(
                    [r[1] for r in _EMB], type=pa.list_(pa.float32())
                ),
            }
        ),
        os.path.join(d, "embeddings.parquet"),
    )
    return d


_AFFINITY_QUERIES = [
    "graph_triangle_stats",
    "graph_adamic_adar_top",
    "dedup_jaccard_prefix_join",
    "text_pmi_collocations",
    "text_vocab_oov_rate",
    "events_attribution_last_touch",
    "stats_benford_first_digit",
    "similarity_range_search",
    "stats_poisson_bootstrap_ci",
    "events_path_topk",
    "text_rake_keywords",
    "text_hash_feature_buckets",
]


@pytest.mark.parametrize("name", _AFFINITY_QUERIES)
def test_affinity_boundary_oracle_parity(spark, aff_dir, name):
    sys.path.insert(0, _REPO)
    import __spark_entry__ as entrymod

    fn, sql = entrymod.queries()[name], entrymod.oracle_sql()[name]
    con = duckdb.connect()
    for t in ("lineitem", "documents", "events", "embeddings"):
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{aff_dir}/{t}.parquet'"
        )
    r = _compare.compare_query(spark, con, name, fn, sql, aff_dir)
    assert "error" not in r, r
    assert r.get("cols_match") and r.get("values_match"), r
    assert r["spark_rows"] == r["oracle_rows"], r


def test_triangle_census_k4_plus_pendant(spark, aff_dir):
    sys.path.insert(0, _REPO)
    import __spark_entry__ as entrymod

    row = entrymod.queries()["graph_triangle_stats"](spark, aff_dir).collect()
    # strong-graph orders (300..) also contribute: path 10-11-12 adds 3
    # nodes, 2 edges (10-11, 11-12 — pair 10-12 never co-purchased),
    # one wedge at node 11, zero triangles.
    [r] = row
    assert r["n_nodes"] == 5 + 3
    assert r["n_edges"] == 7 + 2
    assert r["n_triangles"] == 4
    assert r["n_wedges"] == 15 + 1
    assert r["transitivity"] == round(12 / 16, 6)


def test_adamic_adar_path_predicts_single_link(spark, aff_dir):
    sys.path.insert(0, _REPO)
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["graph_adamic_adar_top"](spark, aff_dir).collect()
    assert [(r["node_a"], r["node_b"], r["n_common"]) for r in rows] == [(10, 12, 1)]
    assert rows[0]["aa_score"] == round(1 / math.log(2), 6)


def test_prefix_join_finds_only_planted_pair(spark, aff_dir):
    sys.path.insert(0, _REPO)
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["dedup_jaccard_prefix_join"](spark, aff_dir).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in rows] == [(0, 1)]
    # 12-token docs -> 8 shingles each, 7 shared: J = 7/9
    assert rows[0]["n_common"] == 7
    assert rows[0]["jaccard"] == round(7 / 9, 6)


def test_pmi_planted_collocation_ranks_first(spark, aff_dir):
    sys.path.insert(0, _REPO)
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["text_pmi_collocations"](spark, aff_dir).collect()
    # only 'new york' reaches the count>=5 floor on this corpus
    assert len(rows) == 1 and rows[0]["bigram"] == "new york"
    n_tok = sum(len(t.split()) for _, t, _ in _DOCS)
    n_big = sum(len(t.split()) - 1 for _, t, _ in _DOCS if len(t.split()) >= 2)
    expect = math.log((5 / n_big) / ((5 / n_tok) * (5 / n_tok)))
    assert rows[0]["pmi"] == round(expect, 6)


def test_oov_rate_source_overflowing_vocab(spark, aff_dir):
    sys.path.insert(0, _REPO)
    import __spark_entry__ as entrymod

    rows = {
        r["source"]: r
        for r in entrymod.queries()["text_vocab_oov_rate"](spark, aff_dir).collect()
    }
    # srcA/srcB tokens all have count>=1 and there are >500 distinct
    # tokens corpus-wide, but counts>=2 rank first; srcC's tok### flood
    # (each count 1) is what spills past the 500 boundary.
    assert rows["srcC"]["n_oov"] > 0
    assert rows["srcC"]["n_tokens"] == 600
    assert rows["srcA"]["n_oov"] == 0


def test_attribution_channels_and_tie_break(spark, aff_dir):
    sys.path.insert(0, _REPO)
    import __spark_entry__ as entrymod

    rows = {
        r["channel"]: r
        for r in entrymod.queries()["events_attribution_last_touch"](
            spark, aff_dir
        ).collect()
    }
    assert rows["click"]["n_purchases"] == 1 and rows["click"]["attributed_value"] == 10.0
    # user 3: click(id 6) and view(id 7) share a timestamp — the later
    # event_id wins the last-touch, so the purchase credits 'view'
    assert rows["view"]["n_purchases"] == 2
    assert rows["view"]["attributed_value"] == 60.0
    assert rows["direct"]["n_purchases"] == 1 and rows["direct"]["attributed_value"] == 5.0


def test_benford_digits_from_decimal_string(spark, aff_dir):
    sys.path.insert(0, _REPO)
    import __spark_entry__ as entrymod

    rows = {
        r["digit"]: r["n"]
        for r in entrymod.queries()["stats_benford_first_digit"](
            spark, aff_dir
        ).collect()
    }
    first_digits = [int(str(int(p))[0]) for _, _, p in _LINEITEM]
    expect = {d: first_digits.count(d) for d in set(first_digits)}
    assert rows == expect


def test_range_search_radius_semantics(spark, aff_dir):
    sys.path.insert(0, _REPO)
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["similarity_range_search"](spark, aff_dir).collect()
    got = {(r["query_id"], r["vec_id"]): r["cosine_sim"] for r in rows}
    # query 0 = [1,0]: vec 2 identical (cos 1.0), vec 4 at 0.6 — both in
    # radius; vec 1 orthogonal and vec 3 antipodal are out. Self (0,0)
    # excluded even though cos=1.
    assert got[(0, 2)] == 1.0
    assert got[(0, 4)] == 0.6
    assert (0, 0) not in got and (0, 1) not in got and (0, 3) not in got
    # threshold is inclusive: vec 4 scores exactly... (0.6) >= 0.2 ✓;
    # and symmetry: query 4 sees vec 0 at 0.6 too
    assert got[(4, 0)] == 0.6


def test_poisson_bootstrap_brackets_point_mean(spark, aff_dir):
    sys.path.insert(0, _REPO)
    import __spark_entry__ as entrymod

    [r] = entrymod.queries()["stats_poisson_bootstrap_ci"](spark, aff_dir).collect()
    n_chars = [len(t) for _, t, _ in _DOCS]
    assert r["n_docs"] == len(_DOCS)
    assert r["point_mean"] == round(sum(n_chars) / len(n_chars), 6)
    # a replicate whose 6 Poisson(1) weights are ALL zero is degenerate
    # and drops (HAVING sum(wt) > 0) — probability e^-6 ≈ 0.25% per
    # replicate on this tiny corpus (2/200 with these hashes; at the
    # real corpus sizes e^-n is zero for every practical purpose)
    assert 190 <= r["n_replicates"] <= 200
    # the CI must be a proper interval around the bootstrap mean, and
    # on a 6-doc corpus it must actually have width (resampling noise)
    assert r["ci_lo"] <= r["boot_mean"] <= r["ci_hi"]
    assert r["ci_lo"] < r["ci_hi"]


def test_path_topk_sessions(spark, aff_dir):
    sys.path.insert(0, _REPO)
    import __spark_entry__ as entrymod

    rows = {
        r["path"]: r
        for r in entrymod.queries()["events_path_topk"](spark, aff_dir).collect()
    }
    # user 1: four events 5 min apart -> one session, converted
    assert rows["click>purchase>view>purchase"]["n_converting"] == 1
    # user 3: click/view share a timestamp (id order), purchase follows
    # at EXACTLY a 30-min gap -> same session (strictly-greater split)
    assert "click>view>purchase" in rows
    # user 2: lone purchase session
    assert rows["purchase"]["conversion_rate"] == 1.0


def test_mmr_demotes_near_duplicate(spark, tmp_path_factory):
    """Pure relevance ranks the duplicate (id 2) second by id-tie; MMR
    must demote it below the diverse vector (id 3) because its
    max-similarity-to-selected is 1.0 — plus oracle parity on the
    crafted corpus."""
    sys.path.insert(0, _REPO)
    import __spark_entry__ as entrymod

    d = str(tmp_path_factory.mktemp("mmr_boundary"))
    vecs = [
        (0, [1.0, 0.0, 0.0]),        # the query
        (1, [0.9, 0.435, 0.0]),      # rel ~0.9
        (2, [0.9, 0.435, 0.0]),      # exact dup of 1: sim=1.0
        (3, [0.9, -0.435, 0.0]),     # same rel, diverse (sim ~0.62)
    ]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([v[0] for v in vecs], type=pa.int64()),
                "embedding": pa.array(
                    [v[1] for v in vecs], type=pa.list_(pa.float32())
                ),
            }
        ),
        os.path.join(d, "embeddings.parquet"),
    )
    rows = [
        r
        for r in entrymod.queries()["similarity_mmr_rerank"](spark, d).collect()
        if r["query_id"] == 0
    ]
    order = [r["vec_id"] for r in sorted(rows, key=lambda r: r["mmr_rank"])]
    assert order == [1, 3, 2]

    fn, sql = (
        entrymod.queries()["similarity_mmr_rerank"],
        entrymod.oracle_sql()["similarity_mmr_rerank"],
    )
    con = duckdb.connect()
    con.sql(
        f"CREATE OR REPLACE VIEW embeddings AS SELECT * FROM '{d}/embeddings.parquet'"
    )
    r = _compare.compare_query(spark, con, "similarity_mmr_rerank", fn, sql, d)
    assert "error" not in r, r
    assert r.get("cols_match") and r.get("values_match"), r


def test_mmr_pool_collect_guard(spark, tmp_path_factory, monkeypatch):
    """mmr_rerank must raise (not silently collect) when the pool
    relation exceeds max_collect — a corpus-sized query set can't
    reach the driver; the limit is in the plan."""
    import pytest as _pytest

    from emission_project_spark.extensions import similarity
    from emission_project_spark.extensions.similarity import mmr_rerank

    d = str(tmp_path_factory.mktemp("mmr_guard"))
    vecs = [(i, [1.0, float(i) / 10.0, 0.0]) for i in range(6)]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([v[0] for v in vecs], type=pa.int64()),
                "embedding": pa.array(
                    [v[1] for v in vecs], type=pa.list_(pa.float32())
                ),
            }
        ),
        os.path.join(d, "embeddings.parquet"),
    )
    emb = spark.read.parquet(os.path.join(d, "embeddings.parquet"))
    monkeypatch.setattr(similarity, "MMR_MAX_COLLECT", 3)
    with _pytest.raises(ValueError, match="max_collect"):
        mmr_rerank(emb, emb, k=2, pool=5)
    # under the bound the same call succeeds
    monkeypatch.setattr(similarity, "MMR_MAX_COLLECT", 100)
    assert mmr_rerank(emb, emb, k=1, pool=2).count() > 0


def test_rake_hand_computed_scores(spark, tmp_path_factory):
    """Two identical docs of 'the deep learning model is a deep
    learning system': every content word has degree/frequency 3, so
    both 3-word phrases score 9.0 with 2 occurrences each."""
    sys.path.insert(0, _REPO)
    import __spark_entry__ as entrymod

    d = str(tmp_path_factory.mktemp("rake_boundary"))
    text = "the deep learning model is a deep learning system"
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([0, 1], type=pa.int64()),
                "text": pa.array([text, text], type=pa.string()),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    rows = entrymod.queries()["text_rake_keywords"](spark, d).collect()
    got = {r["phrase"]: (r["n_occurrences"], r["rake_score"]) for r in rows}
    assert got == {
        "deep learning model": (2, 9.0),
        "deep learning system": (2, 9.0),
    }
    # tie on score -> alphabetical phrase order
    assert [r["phrase"] for r in rows] == [
        "deep learning model", "deep learning system",
    ]


def test_hash_buckets_conserve_mass(spark, aff_dir):
    sys.path.insert(0, _REPO)
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["text_hash_feature_buckets"](spark, aff_dir).collect()
    total_tokens = sum(len(t.split()) for _, t, _ in _DOCS)
    assert sum(r["n_tokens"] for r in rows) == total_tokens
    assert all(0 <= r["bucket"] < 64 for r in rows)
    assert abs(sum(r["mass_share"] for r in rows) - 1.0) < 1e-4
    # every bucket's distinct count is bounded by its occupancy
    assert all(r["n_distinct"] <= r["n_tokens"] for r in rows)


def test_prefix_join_positional_filter_lossless_randomized(spark, tmp_path):
    """r14 (PPJoin+ positional filter): the exact result on a random
    overlapping corpus must equal the brute-force all-pairs Jaccard —
    any false negative introduced by the positional upper bound (the
    filter it gates candidates with BEFORE verification) would drop a
    pair here. Vocabulary is small so docs share many shingles, sizes
    straddle the τ length ratio, and near-threshold pairs exist."""
    import itertools
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    sys.path.insert(0, _REPO)
    import __spark_entry__ as entrymod

    rng = random.Random(1414)
    vocab = [f"w{i}" for i in range(18)]
    docs = []
    for d in range(48):
        n = rng.randrange(6, 16)
        docs.append((d, " ".join(rng.choice(vocab) for _ in range(n))))
    # plus guaranteed near-duplicates (high-J pairs the filter must keep)
    base = [rng.choice(vocab) for _ in range(14)]
    docs.append((100, " ".join(base)))
    docs.append((101, " ".join(base[:13] + [rng.choice(vocab)])))
    docs.append((102, " ".join(base)))

    d = tmp_path / "pp"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([x[0] for x in docs], pa.int64()),
                "text": pa.array([x[1] for x in docs]),
                "lang": pa.array(["en"] * len(docs)),
                "source": pa.array(["t"] * len(docs)),
                "n_chars": pa.array(
                    [len(x[1]) for x in docs], pa.int64()
                ),
            }
        ),
        str(d / "documents.parquet"),
    )

    def shingles(text):
        toks = text.lower().split()
        if len(toks) < 5:
            return set()
        return {" ".join(toks[i : i + 5]) for i in range(len(toks) - 4)}

    sh = {i: shingles(t) for i, t in docs}
    want = {}
    for a, b in itertools.combinations(sorted(sh), 2):
        inter = len(sh[a] & sh[b])
        if not inter:
            continue
        j = inter / (len(sh[a]) + len(sh[b]) - inter)
        if j >= 0.5:
            want[(a, b)] = (inter, round(j, 6))

    got = {
        (r["doc_a"], r["doc_b"]): (r["n_common"], r["jaccard"])
        for r in entrymod.queries()["dedup_jaccard_prefix_join"](
            spark, str(d)
        ).collect()
    }
    assert got == want and want  # non-vacuous: the corpus has true pairs
