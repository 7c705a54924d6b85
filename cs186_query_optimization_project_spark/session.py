"""SparkSession construction with scale-appropriate defaults.

The session is configured once for the whole engine: Arrow on (fast
pandas interchange for the vectorized UDF paths), UTC timestamps (oracle
parity with DuckDB), and shuffle parallelism sized to the machine rather
than Spark's legacy default of 200.  AQE (runtime re-planning, skew-join
splitting, partition coalescing) and parquet filter pushdown are Spark's
defaults and are not restated here.  The driver JVM compiles with C2 only
the code that stays hot (``C2_THRESHOLD_SCALE``).

On a real cluster these settings scale: AQE re-sizes shuffle partitions
from runtime statistics, so the same code runs on local[32] at sf0.01 and
on 1000 executors at 100 TB without retuning ``spark.sql.shuffle.partitions``
by hand.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = max(os.cpu_count() or 8, 8)

#: Broadcast a join side below this many bytes: Spark's
#: ``autoBroadcastJoinThreshold`` below, and the optimizer's cost rule.
BROADCAST_THRESHOLD_BYTES = 64 * 1024 * 1024

#: Configs applied to every session the engine creates.  Each is safe on a
#: multi-executor cluster; none assume local mode.
ENGINE_CONF: dict[str, str] = {
    # Arrow for every pandas interchange (pandas_udf, applyInPandas, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamps for the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Compat for TIMESTAMP(NANOS) parquet on Sparks that refuse to scan
    # it natively: surface nanos as longs, which Database.register_parquet
    # casts back to microsecond timestamps.  Current testdata stores
    # TIMESTAMP(MICROS) (read natively as TIMESTAMP_NTZ), so this is
    # normally inert.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(BROADCAST_THRESHOLD_BYTES),
    # managed tables (bucketed writes) land outside the repo
    "spark.sql.warehouse.dir": "/tmp/spark_graft_warehouse",
    # The generated-code cache defaults to 100 entries; a session running
    # a varied suite (60+ distinct plan shapes × several stages each)
    # evicts constantly and re-pays multi-second codegen compilation per
    # query run.  Static conf — must be set before the first session.
    "spark.sql.codegen.cache.maxEntries": "2000",
    # The status stores populate even with the UI disabled (they back
    # the REST/status APIs) and default to retaining 1000 executions /
    # 1000 jobs / 1000 stages / 100k tasks — on a long-lived session
    # running hundreds of distinct plans that is hundreds of MB of
    # driver heap doing nothing but aging the GC.  A local analytics
    # session needs recent history only.
    "spark.sql.ui.retainedExecutions": "50",
    "spark.ui.retainedJobs": "200",
    "spark.ui.retainedStages": "200",
    "spark.ui.retainedTasks": "5000",
    # Streaming checkpoints default to retaining 100 batches of
    # metadata/state bookkeeping; drained test/demo streams need far
    # fewer, and every retained batch pins state-store versions.
    "spark.sql.streaming.minBatchesToRetain": "2",
    # FileOutputCommitter v2: task outputs move to the destination at
    # TASK commit, so job commit skips the v1 driver-side sequential
    # merge-rename of every task directory.  Safe for this engine's
    # write protocol — every write lands in a fresh private staging
    # directory and only the manifest publish (an atomic create) makes
    # it visible, so a failed job's partial staging files are never
    # referenced (the same reasoning as v1's _temporary residue).
    # Measured (interleaved A/B, 3-partition 150k-row staged write):
    # 367 -> 305 ms per commit; the relative win grows with partition
    # and task count since v1's job-commit merge is sequential on the
    # driver.
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
}


#: Factor on HotSpot's four C2 (tier-4) compile thresholds in the driver
#: JVM, over their JDK 17 defaults.  Only code that stays hot then reaches
#: C2; lukewarm Spark code (analysis, planning, each query's generated
#: classes) stays in C1.  At sf0.01 an op's cost is fixed overhead, and a
#: per-thread CPU profile of the driver JVM over perfbench's read_mix
#: timed window put 440-970 ms of the 1.1-2.0 s of JVM CPU per op in the
#: C2 compiler threads (py4j analysis and planning 100-250 ms, task
#: threads 80-180 ms).  Measured with perfbench on a 4-vCPU host, read_mix,
#: 10 interleaved triples of default/x3/x10 (seeds 11-20, medians):
#: read_cpu_ms 1350 -> 1012 (x3) and 963 ms (x10), setup_s 18.6 -> 17.0
#: and 18.6 s.  x10 saved 5% more read CPU than x3 but cost 1.8 s more
#: set-up (8 of 10 triples), and it keeps code longer in the slower,
#: profiled C1 tier, so x3.  x3 on 20 more interleaved pairs (seeds
#: 21-40): read_mix read_cpu_ms 1429 -> 1054 ms, won 20/20; dml_mixed
#: read_cpu_ms 385 -> 299 and op_cpu_ms 1268 -> 975 ms (6 pairs); setup_s
#: level on both.  C1 only (-XX:TieredStopAtLevel=1) also halves CPU at
#: sf0.01, but costs +35% wall time per op at sf0.1 (674 -> 907 ms),
#: where hot loops need C2.
C2_THRESHOLD_SCALE = 3

#: JDK 17 defaults of the thresholds that C2_THRESHOLD_SCALE multiplies.
_TIER4_DEFAULTS = {
    "Tier4InvocationThreshold": 5000,
    "Tier4MinInvocationThreshold": 600,
    "Tier4CompileThreshold": 15000,
    "Tier4BackEdgeThreshold": 40000,
}

#: The driver JVM's options.  A varied suite generates hundreds of codegen
#: classes; the JVM's default 240 MB JIT code cache flushes under that
#: load and hot loops fall back to the interpreter (measured as 5-8x
#: tail-of-suite slowdowns on expression-heavy plans).  Peak code-cache
#: use under the JIT policy (the CodeHeap pools' summed peaks, via JMX):
#: 142 MB at the end of tools/check_contract.py's 230 entries, 72 MB at
#: the end of a perfbench read_mix run -- over half the default, so the
#: larger cache stays.
DRIVER_JAVA_OPTIONS = " ".join(
    ["-XX:ReservedCodeCacheSize=768m"]
    + [f"-XX:{flag}={default * C2_THRESHOLD_SCALE}"
       for flag, default in _TIER4_DEFAULTS.items()])


def _join_java_options(engine: str, caller: str | None) -> str:
    """The engine's JVM options followed by the caller's.  HotSpot honours
    the last occurrence of a flag, so a caller's flag overrides the
    engine's flag of the same name and leaves the others in force."""
    return " ".join(opts for opts in (engine, (caller or "").strip()) if opts)


def _default_driver_mem() -> str:
    """Half the host's physical memory (MemTotal), at most 16g: the
    driver heap shares the host with the OS and the Python workers, so
    a fixed 16g would exceed small hosts.  (16g, not 8g, on big hosts:
    at 8g a 75+-shape suite spent randomly-landing GC pauses on
    individual queries.)"""
    mib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    return f"{min(mib // 2, 16 << 10)}m"


def get_spark(
    app_name: str = "cs186_query_optimization_project_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset so tests
    and bench share one code path; on a cluster the caller passes the real
    master URL (or leaves it to spark-submit).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"

    builder = SparkSession.builder.appName(app_name).master(master)
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = builder.config("spark.driver.memory", os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()))
    extra = dict(extra_conf or {})
    java_options = _join_java_options(
        DRIVER_JAVA_OPTIONS, extra.pop("spark.driver.extraJavaOptions", None))
    builder = builder.config("spark.driver.extraJavaOptions", java_options)
    builder = builder.config("spark.ui.enabled", "false")
    builder = builder.config("spark.ui.showConsoleProgress", "false")
    for key, value in ENGINE_CONF.items():
        builder = builder.config(key, value)
    for key, value in extra.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    """Stop the active session if one exists (test teardown helper)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
