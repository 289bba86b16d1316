from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from emission_project_spark.session import get_spark

    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def negative_id_corpus(tmp_path_factory) -> str:
    """40 unit-circle embeddings (64-dim) with ids -5..34. Then
    nc = ceil(sqrt(40)) = 7, and the IVF oracle's centroids are the
    twelve ids below 7, the five negative ones included."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("hub_negative_ids")
    ids = list(range(-5, 35))
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, type=pa.int64()),
                "embedding": pa.array(
                    [[math.cos(i * 0.37), math.sin(i * 0.37)] + [0.0] * 62
                     for i in ids],
                    type=pa.list_(pa.float32()),
                ),
                "label": pa.array([0] * len(ids), type=pa.int32()),
            }
        ),
        str(d / "embeddings.parquet"),
    )
    return str(d)


@pytest.fixture(scope="session")
def assert_hubness_ivf_oracle(spark):
    """Check ``embedding_hubness_ivf`` with ``_MAX_CENTROIDS`` = cap
    against the registered DuckDB oracle on one embeddings directory,
    for caps 1, 2 and the default. Slicing the centroids may change
    closure memory, never the readout."""
    import importlib.util

    import duckdb

    import __spark_entry__ as entrymod
    from emission_project_spark.plans import eval_metrics as em

    spec = importlib.util.spec_from_file_location(
        "compare_mod_ivf",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "tools", "compare.py"),
    )
    compare = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(compare)
    oracle = entrymod.oracle_sql()["embedding_hubness_ivf"]

    def check(d: str) -> None:
        con = duckdb.connect()
        con.sql(
            f"CREATE OR REPLACE VIEW embeddings AS"
            f" SELECT * FROM '{d}/embeddings.parquet'"
        )
        for cap in (1, 2, em._MAX_CENTROIDS):
            with pytest.MonkeyPatch.context() as m:
                m.setattr(em, "_MAX_CENTROIDS", cap)
                r = compare.compare_query(
                    spark, con, "embedding_hubness_ivf",
                    em.embedding_hubness_ivf, oracle, d,
                )
            assert "error" not in r, (d, cap, r)
            assert r.get("cols_match") and r.get("values_match"), (d, cap, r)

    return check
