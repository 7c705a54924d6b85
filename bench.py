"""Benchmark harness: runs the full ``queries()`` suite and prints ONE
JSON line ``{"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}``.

- data dir: $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
- parallelism: local[$SPARK_GRAFT_CPUS] (default all cores)
- runs per query: $SPARK_GRAFT_BENCH_RUNS (default 3; MIN of runs — the
  first run pays one-time whole-stage-codegen compilation and later runs
  randomly absorb shared-JVM GC pauses; the min is the steady-state
  throughput of the plan itself, matching BASELINE.md §2 methodology)

Each query is forced to full materialization through the noop sink
(``format("noop")``) so projections/aggregations are really executed —
``count()`` would let Spark prune the computation.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from cs186_query_optimization_project_spark import get_spark  # noqa: E402


def materialize(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    sf_label = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf = float(sf_label.removeprefix("sf"))
    except ValueError:
        sf = None

    spark = get_spark(app_name="bench")
    queries = entry_mod.queries()
    # SPARK_GRAFT_BENCH_FIRST=a,b,c hoists the named queries to the
    # front of the run (suite-ORDER experiments: does an in-suite
    # inflation follow the query or its position?).  Unset = registry
    # order, the per-round recording configuration.
    first = [n for n in os.environ.get("SPARK_GRAFT_BENCH_FIRST",
                                       "").split(",") if n]
    if first:
        unknown = [n for n in first if n not in queries]
        if unknown:
            sys.exit(f"SPARK_GRAFT_BENCH_FIRST names unknown "
                     f"queries: {unknown}; valid: {sorted(queries)}")
        queries = {**{n: queries[n] for n in first}, **queries}

    # warm the session + catalog (JVM JIT, parquet footers)
    entry_mod.q_scan(spark, sf_dir).count()

    def cleanup() -> None:
        """Drop state a query run leaves behind (streaming memory-sink
        tables hold full result sets on the driver; localCheckpoint
        blocks from the dedup/graph queries stay persisted forever and
        tax every later query's GC) so later queries aren't measured
        under accumulated memory pressure."""
        for t in spark.catalog.listTables():
            if t.tableType == "TEMPORARY" and t.name.startswith("stream_"):
                spark.catalog.dropTempView(t.name)
        spark.catalog.clearCache()
        jsc = spark.sparkContext._jsc.sc()
        it = jsc.getPersistentRDDs().values().iterator()
        while it.hasNext():
            it.next().unpersist(False)
        # full GC between queries (outside any timed window): without
        # it, heap garbage from prior plans ages into the old gen and
        # later queries pay randomly-landing major-GC pauses — measured
        # as 2-6x in-suite inflation of queries that run in ~0.5s fresh
        spark.sparkContext._jvm.System.gc()

    timings: dict[str, float] = {}
    for name, fn in queries.items():
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            materialize(fn(spark, sf_dir))
            samples.append(time.perf_counter() - t0)
        cleanup()
        timings[name] = round(min(samples), 4)

    total = round(sum(timings.values()), 4)
    result = {
        "metric": f"suite_total_{sf_label}",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_queries": len(timings),
        "runs_per_query": runs,
    }
    # Persist the FULL result (all per-query timings) to a file; the
    # printed line must stay compact — the capture of stdout keeps only
    # a bounded tail, and a multi-KB line with the whole per-query map (149 entries) gets
    # truncated from the front, breaking last-line JSON parsing.  The
    # printed line carries the headline numbers plus the 5 slowest
    # queries; BENCH.json holds the complete map.  A second copy keyed
    # by (sf, cpus) keeps successive runs at different core counts from
    # clobbering each other's full maps (the r17 32-core map was lost
    # to the 8-core rerun exactly this way).
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    payload = json.dumps(result) + "\n"
    with open(os.path.join(repo_dir, "BENCH.json"), "w") as f:
        f.write(payload)
    cpus_label = os.environ.get("SPARK_GRAFT_CPUS", "all")
    with open(os.path.join(repo_dir,
                           f"BENCH_{sf_label}_c{cpus_label}.json"),
              "w") as f:
        f.write(payload)
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:5])
    compact = {
        "metric": f"suite_total_{sf_label}",
        "value": total,
        "unit": "sec",
        "queries": slowest,
        "sf": sf,
        "n_queries": len(timings),
        "runs_per_query": runs,
        "queries_full": "BENCH.json",
    }
    # Stop Spark BEFORE printing so no trailing JVM log lines land
    # after the JSON — the driver parses the LAST stdout line.
    spark.stop()
    sys.stdout.flush()
    sys.stderr.flush()
    print(json.dumps(compact), flush=True)


if __name__ == "__main__":
    main()
