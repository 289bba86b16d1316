"""CLI entry point (python -m emission_project_spark) — in-process
invocation of main() so no extra JVM spins up per test."""

from __future__ import annotations

from emission_project_spark.__main__ import main
from tests.test_emission_pipeline import _batch1


def test_cli_list(capsys):
    assert main(["list", "--filter", "minhash"]) == 0
    out = capsys.readouterr().out
    assert "dedup_minhash_lsh  [oracle]" in out
    assert "dedup_minhash_bucket_survivors  [oracle]" in out


def test_cli_unknown_query():
    assert main(["query", "no_such_query"]) == 2


def test_cli_query_runs(capsys):
    assert (
        main(["query", "count_probe", "--sf-dir", "/root/testdata/sf0.001"]) == 0
    )
    out = capsys.readouterr().out
    assert "lineitem_rows" in out


def test_cli_pipeline_tick(tmp_path, capsys):
    incoming = str(tmp_path / "incoming")
    _batch1(incoming)
    rc = main(
        [
            "pipeline",
            "--incoming", incoming,
            "--warehouse", str(tmp_path / "wh"),
            "--archive", str(tmp_path / "archive"),
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    # dims + fact all inserted something on a fresh warehouse, listed
    # in tick order whichever load finished first
    assert out.splitlines() == [
        "drivers: +2",
        "cars: +3",
        "country: +3",
        "city: +3",
        "car_driver_log: +3",
    ]
