"""Adversarial graph-corpus oracle parity + teleport-floor unit pins.

The generated TPC-H-ish testdata gives the co-purchase graph a benign
shape: every basket has several parts, every pair is well-connected,
and no PageRank branch goes untested only because the data never
reaches it. This corpus does reach the edges:

- a single-part order (contributes NO pairs — the part is absent from
  the graph and must be absent from BOTH engines' outputs),
- the same part listed twice in one order (collect_set / DISTINCT
  dedup before pair generation),
- the same pair appearing in two different orders (pair-level
  DISTINCT),
- a minimal two-part order (exactly one symmetric edge),
- a bridge part connecting two otherwise-separate cliques,
- HITS: a customer with a single order and a part bought by three
  different customers.

Both registered graph queries must still match their DuckDB oracles
row-for-row on this corpus.

The second half pins the general ``operators/pagerank.pagerank`` on
DIRECTED graphs (the branch the symmetric co-purchase queries skip via
``assume_full_in_edges=True``): a node with out-edges but no in-edges
must sit exactly at the teleport floor (1 − d) every round — the left
join that VERDICT r5 asked to see stressed — and a dst-only node (no
out-edges) is out of the vector by the documented contract.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "compare_mod_graph", os.path.join(_REPO, "tools", "compare.py")
)
_compare = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_compare)

# (l_orderkey, l_partkey)
_LINEITEM = [
    (100, 1),            # single-part order: part 1 never enters the graph
    (101, 2), (101, 2),  # duplicate part row: must dedup before pairing
    (101, 3),
    (102, 3), (102, 4), (102, 5),   # triangle
    (103, 2), (103, 6),
    (104, 4), (104, 5),  # repeats the (4,5) pair from order 102
    (105, 7), (105, 8), (105, 9), (105, 10),  # wide basket
    (106, 3), (106, 7),  # bridge between the two cliques
]

# (o_orderkey, o_custkey) — keys line up with _LINEITEM's orders
_ORDERS = [
    (100, 1),
    (101, 1),
    (102, 2),
    (103, 3),
    (104, 3),
    (105, 3),
    (106, 4),   # customer with a single order
]


@pytest.fixture(scope="module")
def graph_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("graph_boundary"))
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([r[0] for r in _LINEITEM], type=pa.int64()),
                "l_partkey": pa.array([r[1] for r in _LINEITEM], type=pa.int64()),
            }
        ),
        os.path.join(d, "lineitem.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([r[0] for r in _ORDERS], type=pa.int64()),
                "o_custkey": pa.array([r[1] for r in _ORDERS], type=pa.int64()),
            }
        ),
        os.path.join(d, "orders.parquet"),
    )
    return d


_GRAPH_QUERIES = ["graph_pagerank_parts", "graph_hits_part_authority"]


@pytest.mark.parametrize("name", _GRAPH_QUERIES)
def test_graph_boundary_oracle_parity(spark, graph_dir, name):
    sys.path.insert(0, _REPO)
    import __spark_entry__ as entrymod

    fn, sql = entrymod.queries()[name], entrymod.oracle_sql()[name]
    con = duckdb.connect()
    for t in ("lineitem", "orders"):
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS"
            f" SELECT * FROM '{graph_dir}/{t}.parquet'"
        )
    r = _compare.compare_query(spark, con, name, fn, sql, graph_dir)
    assert "error" not in r, r
    assert r.get("cols_match") and r.get("values_match"), r
    assert r["spark_rows"] == r["oracle_rows"], r


def test_graph_boundary_single_part_order_absent(spark, graph_dir):
    """Part 1 only ever appears alone in an order: no co-purchase pair,
    so it must not surface in the ranked output at all."""
    sys.path.insert(0, _REPO)
    import __spark_entry__ as entrymod

    out = entrymod.queries()["graph_pagerank_parts"](spark, graph_dir).collect()
    assert 1 not in {r["p_partkey"] for r in out}
    # parts 2..10 all co-occur at least once and must all be ranked
    assert {r["p_partkey"] for r in out} == set(range(2, 11))


def test_pagerank_no_in_edge_node_sits_at_teleport_floor(spark):
    """Directed graph 1→2, 2→1, 3→1: node 3 has an out-edge but no
    in-edges. The teleport-floor left join must hold it at exactly
    1 − d every round while its contribution still flows to node 1
    (hand-computed two-iteration expectations)."""
    from emission_project_spark.operators.pagerank import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 1)], "src bigint, dst bigint"
    )
    out = {
        r["node"]: (r["rank"], r["degree"])
        for r in pagerank(edges, iterations=2, damping=0.85).collect()
    }
    assert set(out) == {1, 2, 3}
    # r1 = (1.85, 1.0, 0.15); r2(1) = 0.15 + 0.85*(1.0 + 0.15)
    assert out[1][0] == pytest.approx(0.15 + 0.85 * 1.15, abs=1e-12)
    assert out[2][0] == pytest.approx(0.15 + 0.85 * 1.85, abs=1e-12)
    assert out[3][0] == pytest.approx(0.15, abs=1e-12)
    assert out[3][1] == 1


def test_pagerank_dst_only_node_out_of_vector(spark):
    """Single edge 1→2: node 2 has no out-edge, so by the documented
    contract it is outside the rank vector (callers handle dangling
    sinks upstream); node 1 has no in-edges and sits at the floor."""
    from emission_project_spark.operators.pagerank import pagerank

    edges = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
    out = {r["node"]: r["rank"] for r in pagerank(edges, iterations=3).collect()}
    assert set(out) == {1}
    assert out[1] == pytest.approx(0.15, abs=1e-12)


def _triangle_corpus_dir(tmp_path, lineitem_rows):
    d = str(tmp_path)
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([r[0] for r in lineitem_rows], type=pa.int64()),
                "l_partkey": pa.array([r[1] for r in lineitem_rows], type=pa.int64()),
            }
        ),
        os.path.join(d, "lineitem.parquet"),
    )
    return d


def _triangle_parity(spark, d):
    sys.path.insert(0, _REPO)
    import __spark_entry__ as entrymod

    name = "graph_triangle_stats"
    fn, sql = entrymod.queries()[name], entrymod.oracle_sql()[name]
    con = duckdb.connect()
    con.sql(
        f"CREATE OR REPLACE VIEW lineitem AS"
        f" SELECT * FROM '{d}/lineitem.parquet'"
    )
    r = _compare.compare_query(spark, con, name, fn, sql, d)
    assert "error" not in r, r
    assert r.get("cols_match") and r.get("values_match"), r
    assert r["spark_rows"] == r["oracle_rows"], r


def test_triangle_star_graph_zero_triangles(spark, tmp_path):
    """Pure star: 3 wedges, 0 triangles. Every oriented edge points at
    the hub, the hub has no out-neighbors, so the INNER closure join
    drops every edge — the census must still report n_triangles = 0
    (the oracle's COUNT(*) = 0), never NULL."""
    d = _triangle_corpus_dir(
        tmp_path, [(201, 100), (201, 101), (202, 100), (202, 102), (203, 100), (203, 103)]
    )
    _triangle_parity(spark, d)

    sys.path.insert(0, _REPO)
    import __spark_entry__ as entrymod

    row = entrymod.queries()["graph_triangle_stats"](spark, d).collect()[0]
    assert row.n_triangles == 0 and row.n_wedges == 3
    assert row.transitivity == 0.0


def test_triangle_ids_beyond_int32_keep_long_path(spark, tmp_path):
    """Part keys above 2^31 (the true-100 TB id domain) must skip the
    int-width orientation cast and stay exact on the long path."""
    big = 2**31
    d = _triangle_corpus_dir(
        tmp_path,
        [
            (301, big + 1), (301, big + 2), (301, big + 3),  # triangle
            (302, big + 3), (302, big + 4),                  # tail edge
        ],
    )
    _triangle_parity(spark, d)

    sys.path.insert(0, _REPO)
    import __spark_entry__ as entrymod

    row = entrymod.queries()["graph_triangle_stats"](spark, d).collect()[0]
    assert row.n_triangles == 1 and row.n_nodes == 4


def test_triangle_repartitioned_branch_oracle_parity(spark, graph_dir, monkeypatch):
    """Force the >threshold closure path (edge-proportional repartition
    + inner joins) at toy scale and hold it to the same DuckDB oracle —
    that branch otherwise only ever executes at sf10+."""
    from emission_project_spark.plans import affinity_ops

    monkeypatch.setattr(affinity_ops, "TRIANGLE_REPART_EDGE_THRESHOLD", 0)
    _triangle_parity(spark, graph_dir)


def test_pagerank_output_schema_width_independent(spark, graph_dir):
    """graph_pagerank_parts rides int-width ids internally (the
    copurchase int_ids path) but its OUTPUT schema is part of the
    driver's contract: p_partkey must stay bigint whatever width the
    internal build picked."""
    sys.path.insert(0, _REPO)
    import __spark_entry__ as entrymod

    out = entrymod.queries()["graph_pagerank_parts"](spark, graph_dir)
    assert dict(out.dtypes) == {
        "p_partkey": "bigint", "degree": "bigint", "rank": "double"
    }


def test_basket_rowcount_repartition_branch_parity(spark, graph_dir, monkeypatch):
    """Force the footer-row-count-derived basket repartition (the
    branch that sizes the collect_set aggregate's exchange at scale)
    at toy scale and hold the full triangle census to the oracle."""
    from emission_project_spark.plans import affinity_ops

    layout = affinity_ops.parquet_layout
    monkeypatch.setattr(
        affinity_ops,
        "parquet_layout",
        lambda paths, column=None: layout(paths, column)._replace(rows=10**9),
    )
    _triangle_parity(spark, graph_dir)
