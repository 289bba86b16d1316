"""Time ONE registered query in THIS process (fresh-JVM A/B child).

Imports the driver entry of the repo at CWD — so benchdiff --ab-run can
point the same child at a clean `git archive` export of an old commit
and at the working tree, alternating. Prints one JSON line, then exits
only after its JVM has, so a parent reaping it with ``os.wait4`` counts
the JVM's resource usage too.

    python tools/time_query.py SF_DIR QUERY
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__)
        return 2
    sf_dir, query = sys.argv[1], sys.argv[2]
    sys.path.insert(0, os.getcwd())
    import __spark_entry__ as entrymod
    from emission_project_spark.session import get_spark

    spark = get_spark(
        f"ab-{query}",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    t0 = time.perf_counter()
    entrymod.queries()[query](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    seconds = round(time.perf_counter() - t0, 3)
    spark.stop()
    # Wait for the JVM to exit so this process reaps it: a parent's
    # os.wait4 rusage (benchdiff --ab-run's minor-fault count) then
    # covers the JVM too. Left alone, the JVM outlives this process and
    # is reparented, and the count is the Python driver's alone.
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
    gateway.proc.wait()
    print(json.dumps({"query": query, "seconds": seconds}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
