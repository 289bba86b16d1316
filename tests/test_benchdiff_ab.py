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
