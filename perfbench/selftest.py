#!/usr/bin/env python3
"""Self-test of the benchmark on tiny inputs (about five minutes).

    python3 perfbench/selftest.py

For each workload it runs one operation on the ×1 feed or the
sf0.001-sized tables, untraced and traced, and asserts that the run is
correct and emits exactly the metrics BENCHMARK.json names. Then it
runs each workload once with a deliberately wrong expected result and
asserts that the mismatch is counted as a failed operation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(workload: str, trace: int, **env: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
        env={**os.environ, "PERFBENCH_TINY": "1", **env},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    for wl in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            out = bench(wl, trace)
            assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, out
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            assert got == names[trace], (wl, trace, set(got) ^ set(names[trace]))
            if trace == 0:
                assert all(v["value"] > 0 for v in out["metrics"].values()), out["metrics"]
            print(f"ok  {wl} trace={trace}: {len(got)} metrics")
        out = bench(wl, 0, PERFBENCH_WRONG_EXPECTED="1")
        assert not out["correct"] and out["failed"] >= 1, out
        print(f"ok  {wl}: a wrong expected result counts {out['failed']}/{out['attempted']} failed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
