"""Isolated min-of-N anchor for one or more entries: ONE fresh Spark
session per invocation, each named query materialized through the noop
sink N times (default 3), min reported — the BASELINE.md anchor
methodology.  Run on a QUIET host (15-min load < ~1; never concurrent
with pytest/bench) or the numbers are garbage.

    python tools/anchor.py [--sf DIR] name [name ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from cs186_query_optimization_project_spark import get_spark  # noqa: E402


def main() -> None:
    usage = "usage: python tools/anchor.py [--sf DIR] name [name ...]"
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and args[0] == "--sf":
        if len(args) < 2:
            sys.exit(f"--sf requires a directory argument\n{usage}")
        sf_dir = args[1]
        args = args[2:]
    if not args:
        sys.exit(usage)
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    qs = entry_mod.queries()
    unknown = [a for a in args if a not in qs]
    if unknown:
        sys.exit(f"unknown entries: {unknown}\n{usage}")
    print(f"load avg: {os.getloadavg()}")
    spark = get_spark(app_name="anchor")
    # same session warm-up as bench.py (JVM JIT, parquet footers) so
    # anchors compare against in-suite numbers
    entry_mod.q_scan(spark, sf_dir).count()

    def cleanup() -> None:
        # bench.py's inter-query hygiene: drop temp views / cached
        # blocks and force a full GC outside the timed window
        for t in spark.catalog.listTables():
            if t.tableType == "TEMPORARY" and t.name.startswith("stream_"):
                spark.catalog.dropTempView(t.name)
        spark.catalog.clearCache()
        jsc = spark.sparkContext._jsc.sc()
        it = jsc.getPersistentRDDs().values().iterator()
        while it.hasNext():
            it.next().unpersist(False)
        spark.sparkContext._jvm.System.gc()

    for name in args:
        best = None
        for _ in range(runs):
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop") \
                .mode("overwrite").save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        cleanup()
        print(f"{name}: min-of-{runs} = {best:.2f} s")


if __name__ == "__main__":
    main()
