"""The sample helper behind ``benchdiff --ab-run``: one child, reaped
with ``os.wait4``, so each A/B sample carries its minor page faults
next to its wall time. No Spark needed."""

from __future__ import annotations

import importlib.util
import os
import sys

TOOL = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "tools", "benchdiff.py")


def test_wait4_sample_reaps_trivial_child(tmp_path):
    spec = importlib.util.spec_from_file_location("benchdiff", TOOL)
    benchdiff = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(benchdiff)

    status, out, err, minflt = benchdiff.wait4_sample(
        [sys.executable, "-c",
         "import sys; print('{\"seconds\": 0.5}'); print('x', file=sys.stderr)"],
        str(tmp_path),
    )
    assert status == 0
    assert out.strip() == '{"seconds": 0.5}'
    assert err.strip() == "x"
    assert minflt > 0

    status, _out, _err, _minflt = benchdiff.wait4_sample(
        [sys.executable, "-c", "raise SystemExit(3)"], str(tmp_path)
    )
    assert status == 3


def test_ab_run_alternates_which_arm_runs_first(tmp_path, monkeypatch):
    """Old runs first in even rounds and new first in odd rounds, so
    drift within a round does not always land on the same arm."""
    spec = importlib.util.spec_from_file_location("benchdiff", TOOL)
    benchdiff = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(benchdiff)

    arms = []

    def fake_sample(argv, cwd, env=None):
        arms.append(env["ARM"])
        return 0, '{"seconds": 1.0}\n', "", 1

    monkeypatch.setattr(benchdiff, "wait4_sample", fake_sample)
    benchdiff.ab_run(["q", "--sf-dir", str(tmp_path), "--env-old", "ARM=old",
                      "--env-new", "ARM=new", "--n", "3"])
    assert arms == ["old", "new", "new", "old", "old", "new"]
