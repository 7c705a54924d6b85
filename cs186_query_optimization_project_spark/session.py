"""SparkSession construction with scale-appropriate defaults.

The session is configured once for the whole engine: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), Arrow on (fast
pandas interchange for the vectorized UDF paths), UTC timestamps (oracle
parity with DuckDB), and shuffle parallelism sized to the machine rather
than Spark's legacy default of 200.

On a real cluster these settings scale: AQE re-sizes shuffle partitions
from runtime statistics, so the same code runs on local[32] at sf0.01 and
on 1000 executors at 100 TB without retuning ``spark.sql.shuffle.partitions``
by hand.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = max(os.cpu_count() or 8, 8)

#: Configs applied to every session the engine creates.  Each is safe on a
#: multi-executor cluster; none assume local mode.
ENGINE_CONF: dict[str, str] = {
    # Adaptive query execution: re-plan from runtime stats (partition
    # coalescing, SMJ->broadcast conversion, skew-join splitting).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
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
    # Parity with the reference's in-order, ANSI-ish comparison semantics.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
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
    # A varied suite generates hundreds of codegen classes; the JVM's
    # default 240 MB JIT code cache flushes under that load and hot loops
    # fall back to the interpreter (measured as 5-8x tail-of-suite
    # slowdowns on expression-heavy plans).
    builder = builder.config("spark.driver.extraJavaOptions",
                             "-XX:ReservedCodeCacheSize=768m")
    builder = builder.config("spark.ui.enabled", "false")
    builder = builder.config("spark.ui.showConsoleProgress", "false")
    for key, value in ENGINE_CONF.items():
        builder = builder.config(key, value)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    """Stop the active session if one exists (test teardown helper)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
