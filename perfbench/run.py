"""Closed-loop benchmark of the package's query, DML and retrieval layers.

Usage (from the repository root)::

    python3 perfbench/run.py --workload read_mix --seed 1 \\
        --seconds 10 --trace 0

One run: start Spark, set the workload up several times on cold private
state (fresh stats cache each time), warm up, run one client in a closed
loop for ``--seconds`` with op parameters drawn from ``--seed``, then
check every result outside the timed window.  The inputs are the
repository's sf0.01 test tables, the directory ``tests/conftest.py``
names; ``$PERFBENCH_DATA`` overrides it.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  The line before it
(``{"report": ...}``) holds every figure of the run, the workload-specific
ones (write latency, write and space amplification, ANN recall) and the
settings (cores, heap, versions, seed) included.

Everything the run writes lives in ``perfbench/_work/<run>/`` and is
removed on exit; a traced run also leaves its spans in ``perfbench/_out/``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback

import duckdb
import numpy
import pyarrow.parquet as pq

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import oracle  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

#: layers whose self time the traced run reports (span-name prefixes)
LAYERS = ("database", "plans.builder", "plans.optimizer", "plans.stats",
          "partitioned", "mview", "transactions", "functions.retrieval",
          "functions.similarity", "spark")
#: per-layer metric -> span: the median self time of one call, in the
#: traced ops (0 where the workload never calls the layer)
PER_CALL_MS = {
    "plans.builder.build_ms": "plans.builder",
    "plans.optimizer.optimize_ms": "plans.optimizer",
    "database.dml.commit_ms": "database.dml",
    "partitioned.merge_ms": "partitioned.merge",
    "partitioned.delete_ms": "partitioned.delete",
    "mview.refresh_ms": "mview.refresh",
    "transactions.commit_ms": "transactions.commit",
    "functions.retrieval.bm25_ms": "functions.retrieval.bm25",
    "functions.similarity.ivfpq_probe_ms": "functions.similarity.ivfpq",
}
#: per-layer metric -> set-up span, in seconds
SETUP_S = {
    "functions.retrieval.index_build_s": "functions.retrieval.index_build",
    "functions.similarity.index_build_s": "functions.similarity.index_build",
}
#: cold set-ups per run; setup_s takes their median
SETUP_REPS = 3
DRIVER_MEM = "2g"


def data_dir() -> str:
    """The input tables: ``$PERFBENCH_DATA``, else the sf0.01 test data.

    sf0.01 (60k lineitems), not the sf0.1 that ``bench.py`` uses: a
    cold stats collection of sf0.1 alone takes about 15 s, and each run
    sets up three times within a budget of about 70 s a run."""
    return os.environ.get("PERFBENCH_DATA") or test_data_dirs()["sf0.01"]


def test_data_dirs() -> dict:
    """The test-data directories the repository's test suite reads,
    by scale factor, as ``tests/conftest.py`` names them."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_conftest", os.path.join(ROOT, "tests", "conftest.py"))
    conftest = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(conftest)
    dirs = (conftest.SF_DIR, conftest.SF_DIR_001)
    return {os.path.basename(d.rstrip("/")): d for d in dirs}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--corrupt-check", action="store_true",
                   help="poison one expected result (smoke test)")
    return p.parse_args(argv)


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum when there are fewer than 11."""
    xs = sorted(values)
    if len(xs) < 11:
        return xs[-1], 100.0
    i = len(xs) - 11
    return xs[i], 100.0 * (i + 1) / len(xs)


def typed_latency(samples: list[tuple[str, float]]) -> tuple[float, float,
                                                             float]:
    """(p50, tail, tail percentile) of a mix of op types.

    The workloads mix op types whose medians differ up to tenfold, and a
    run holds a few dozen ops, so a percentile of the pooled latencies
    lands on whichever type sits at that rank and jumps when the mix
    shifts by one op.  Instead: p50 is the geometric mean over types of
    each type's median; the tail is that p50 times the tail (highest
    percentile with ten samples beyond it) of every op's slowdown
    against its own type's median."""
    by_type: dict[str, list[float]] = {}
    for name, x in samples:
        by_type.setdefault(name, []).append(x)
    med = {k: statistics.median(v) for k, v in by_type.items()}
    p50 = statistics.geometric_mean(med.values())
    slow, pct = tail([x / med[name] for name, x in samples])
    return p50, p50 * slow, pct


def median(xs):
    return statistics.median(xs) if xs else 0.0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak RSS of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def configure_env(work: str) -> dict:
    """Fit Spark to the host and keep every file it writes in ``work``."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    tempfile.tempdir = tmp
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return {"nproc": cpus, "driver_heap": DRIVER_MEM}


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def layer_metrics(tracer, ops_traced: set, counters: dict, rep_spans: list,
                  ctx, workload, probe_totals: dict) -> dict:
    n = max(len(ops_traced), 1)
    out = {name: 1e3 * median(tracer.self_durations(span, ops_traced))
           for name, span in PER_CALL_MS.items()}
    out.update({name: sum(tracer.durations(span, {"setup-once"}))
                for name, span in SETUP_S.items()})
    # Spark-side figures per traced op
    for name, span in (("spark.plan_ms", "spark.plan"),
                       ("spark.exec_ms", "spark.exec"),
                       ("plans.stats.loop_collect_ms",
                        "plans.stats.collect")):
        out[name] = 1e3 * sum(tracer.durations(span, ops_traced)) / n
    for k in ("gc_ms", "codegen.compiles", "codegen.compile_ms", "jobs",
              "stages", "tasks"):
        out[f"spark.{k}"] = probe_totals[k] / n
    b, j = ctx.joins
    out["spark.broadcast_join_ratio"] = b / j if j else 0.0
    out["plans.optimizer.est_qerror"] = workloads.median_qerror(ctx)
    stats_calls = len(tracer.durations("plans.stats", ops_traced))
    collects = len(tracer.durations("plans.stats.collect", ops_traced))
    out["plans.stats.miss_ratio"] = (collects / stats_calls
                                     if stats_calls else 0.0)
    out["session.get_spark_s"] = rep_spans[0]
    out["database.register_s"] = rep_spans[1]
    out["plans.stats.collect_ms"] = rep_spans[2]
    out.update(workload.layer_counters(ctx, counters))
    return out


def self_time_pct(tracer, ops_traced: set) -> dict:
    """Each layer's self time (span time minus child spans) as a share
    of traced op time; ``bench`` is op time outside any layer span."""
    selfs = tracer.self_times(ops_traced)
    op_total = sum(tracer.durations("op", ops_traced)) or 1.0
    out = {layer: 100.0 * sum(v for k, v in selfs.items()
                              if k == layer or k.startswith(layer + "."))
           / op_total for layer in LAYERS}
    out["bench"] = 100.0 * selfs.get("op", 0.0) / op_total
    return out


def trace_overhead_pct(traced: dict, untraced: dict) -> float:
    """Tracing cost: geometric mean, over the op types timed both ways,
    of the traced over the untraced median latency, less 1, in %."""
    ratios = [median(traced[k]) / median(untraced[k])
              for k in traced if k in untraced]
    return (100.0 * (statistics.geometric_mean(ratios) - 1)
            if ratios else 0.0)


def run(args) -> dict:
    """One run in a private work dir, removed afterwards."""
    workdir = os.path.join(HERE, "_work",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    try:
        settings = configure_env(workdir)
        data = data_dir()
        sizes = {f[:-8]: pq.read_metadata(os.path.join(data, f)).num_rows
                 for f in sorted(os.listdir(data)) if f.endswith(".parquet")}

        from cs186_query_optimization_project_spark import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf={
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse")})
        get_spark_s = time.perf_counter() - t0
        tracer = tracing.Tracer(args.trace == 1)
        try:
            return measure(args, workdir, spark, get_spark_s, settings,
                           data, sizes, tracer)
        finally:
            tracer.unwrap_all()
            stop_spark(spark)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def measure(args, workdir, spark, get_spark_s, settings, data, sizes,
            tracer) -> dict:
    """Set up, warm up, run the closed loop, check, compute metrics."""
    from cs186_query_optimization_project_spark import Database
    from cs186_query_optimization_project_spark.plans import (
        optimizer, stats)

    probe = tracing.SparkProbe(spark)
    tracer.wrap(optimizer, "optimize", "plans.optimizer")
    tracer.wrap(Database, "stats", "plans.stats")
    tracer.wrap(stats.TableStats, "collect", "plans.stats.collect")
    workload = workloads.WORKLOADS[args.workload]()
    ctx = workloads.Ctx(spark=spark, data_dir=data, tracer=tracer,
                        rng=numpy.random.default_rng([args.seed, 1]),
                        sizes=sizes,
                        oracle=oracle.Oracle(data, tempfile.gettempdir()),
                        corrupt=args.corrupt_check)

    # ---- set-up, several times, each on cold private state ---------- #
    rep_total, rep_register, rep_collect = [], [], []
    for r in range(SETUP_REPS):
        Database._STATS_CACHE_DIR = os.path.join(workdir, f"stats-{r}")
        ctx.rep_dir = os.path.join(workdir, f"rep-{r}")
        os.makedirs(ctx.rep_dir)
        tracer.op_id = f"setup-{r}"
        first = len(tracer.spans)
        t0 = time.perf_counter()
        ctx.db = Database(spark, data)
        t1 = time.perf_counter()
        workload.setup(ctx)
        t2 = time.perf_counter()
        rep_total.append(t2 - t0)
        rep_register.append(t1 - t0)
        rep_collect.append(1e3 * sum(
            s[2] - s[1] for s in tracer.spans[first:]
            if s[0] == "plans.stats.collect"))
    for r in range(SETUP_REPS - 1):
        shutil.rmtree(os.path.join(workdir, f"rep-{r}"), ignore_errors=True)
    tracer.op_id = "setup-once"
    t0 = time.perf_counter()
    workload.setup_once(ctx)
    once_s = time.perf_counter() - t0
    setup_s = get_spark_s + median(rep_total) + once_s

    # ---- warm-up (checked, not timed) then the closed loop ---------- #
    attempted = failed = 0
    lat = {"read": [], "write": []}
    by_name: dict[str, list] = {}
    cpu_by_name: dict[str, list] = {}
    cpu_reads: list[tuple[str, float]] = []
    #: wall ms by op type, of traced and of untraced timed ops
    traced_ms: dict[str, list] = {}
    untraced_ms: dict[str, list] = {}
    ops_traced: set = set()
    counters: dict = {}
    probe_totals = dict.fromkeys(("gc_ms", "codegen.compiles",
                                  "codegen.compile_ms", "jobs", "stages",
                                  "tasks"), 0.0)
    bytes_before = workloads.dir_usage(ctx.rep_dir)[0]
    sc = spark.sparkContext

    def one_op(n: int, timed: bool):
        nonlocal attempted, failed
        op = workload.next_op(ctx)
        # a traced run traces every other timed op of each type, so the
        # traced and the untraced ops see the same mix and every type
        # that runs is traced at least once
        traced = (tracer.enabled and timed
                  and len(traced_ms.get(op.name, ()))
                  <= len(untraced_ms.get(op.name, ())))
        tracer.recording = traced
        ctx.timed = timed
        tracer.op_id = n
        if traced:
            sc.setJobGroup(f"op-{n}", op.name)
            gc0, (cg0, cgms0) = probe.gc_ms(), probe.codegen()
            io0 = workload.io_snapshot(ctx)
        result = None
        cpu0 = probe.cpu_s()
        t0 = time.perf_counter()
        try:
            with tracer.span("op"):
                result = op.run()
        except Exception:
            failed += 1
            if failed <= 3:
                traceback.print_exc(file=sys.stderr)
        dt = time.perf_counter() - t0
        cpu_ms = 1e3 * (probe.cpu_s() - cpu0)
        attempted += 1
        tracer.recording = tracer.enabled
        if traced:
            ops_traced.add(n)
            gc1, (cg1, cgms1) = probe.gc_ms(), probe.codegen()
            jobs, stages, tasks = probe.job_counts(f"op-{n}")
            for k, v in (("gc_ms", gc1 - gc0), ("codegen.compiles", cg1 - cg0),
                         ("codegen.compile_ms", cgms1 - cgms0),
                         ("jobs", jobs), ("stages", stages),
                         ("tasks", tasks)):
                probe_totals[k] += v
            workload.io_account(ctx, op, io0, counters)
        op.record(result)
        if timed:
            lat[op.kind].append((op.name, dt))
            by_name.setdefault(op.name, []).append(1e3 * dt)
            cpu_by_name.setdefault(op.name, []).append(cpu_ms)
            if op.kind == "read":
                cpu_reads.append((op.name, cpu_ms))
            (traced_ms if traced else untraced_ms).setdefault(
                op.name, []).append(1e3 * dt)

    tracer.recording = False
    for n in range(workload.warmup_ops):
        one_op(-1 - n, timed=False)
    warm_attempted = attempted
    n = 0
    start = time.perf_counter()
    deadline = start + args.seconds
    while time.perf_counter() < deadline or n < workload.round_ops:
        one_op(n, timed=True)
        n += 1
    elapsed = time.perf_counter() - start
    rss_mb = peak_rss_mb(probe.jvm_pid)
    timed_ops = attempted - warm_attempted

    # ---- checks (outside the timed window) -------------------------- #
    tracer.recording = False
    try:
        checked, wrong = workload.verify(ctx)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        checked, wrong = 0, ["verify raised"]
    mismatches = len(wrong)
    failed += mismatches

    reads = [(name, 1e3 * x) for name, x in lat["read"]]
    writes = [(name, 1e3 * x) for name, x in lat["write"]]
    read_p50, read_tail, read_tail_pct = typed_latency(reads)
    # ops per second at this run's op mix, each op costed at its type's
    # median: a window of a few dozen ops of types 0.1-1.5 s apart would
    # otherwise quantize on whichever op straddles its end
    mix_s = sum(len(v) * median(v) for v in by_name.values()) / 1e3
    cpu_mix_ms = sum(len(v) * median(v) for v in cpu_by_name.values())
    end_to_end = {
        "setup_s": setup_s,
        "read_cpu_ms": typed_latency(cpu_reads)[0],
        "op_cpu_ms": cpu_mix_ms / timed_ops,
    }
    report = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "settings": {**settings, "spark": spark.version,
                     "java": spark._jvm.System.getProperty("java.version"),
                     "duckdb": duckdb.__version__,
                     "data_dir": data,
                     "rows": sizes, "setup_reps": SETUP_REPS},
        "ops": {"timed": timed_ops, "warmup": warm_attempted,
                "reads": len(reads), "writes": len(writes),
                "checked": checked, "mismatches": mismatches,
                "wrong": wrong[:20],
                "failed_ops": failed - mismatches},
        "error_rate": failed / max(attempted, 1),
        "read_p50_ms": read_p50,
        "read_tail_ms": read_tail,
        "read_tail_pct": read_tail_pct,
        "driver_rss_mb": rss_mb,
        "throughput_ops_s": timed_ops / mix_s,
        "closed_loop_ops_s": timed_ops / elapsed,
        "setup_reps_s": rep_total,
        "setup_once_s": once_s,
        "op_p50_ms": {k: median(v) for k, v in sorted(by_name.items())},
        "op_cpu_p50_ms": {k: median(v)
                          for k, v in sorted(cpu_by_name.items())},
        "session.get_spark_s": get_spark_s,
        **end_to_end,
    }
    if writes:
        wp50, wt, wt_pct = typed_latency(writes)
        report.update({"write_p50_ms": wp50, "write_tail_ms": wt,
                       "write_tail_pct": wt_pct})
    report.update(workload.extra(ctx, bytes_before))
    metrics = end_to_end
    if tracer.enabled:
        metrics = layer_metrics(
            tracer, ops_traced, counters,
            [get_spark_s, median(rep_register), median(rep_collect)],
            ctx, workload, probe_totals)
        metrics["trace.overhead_pct"] = trace_overhead_pct(traced_ms,
                                                           untraced_ms)
        report["selftime_pct"] = self_time_pct(tracer, ops_traced)
        report["layer_ms"] = {
            name: 1e3 * median(tracer.durations(name, ops_traced))
            for name in sorted({s[0] for s in tracer.spans})}
        first_setup = ("setup-0", "setup-once")
        report["setup_layer_ms"] = {
            name: 1e3 * sum(s[2] - s[1] for s in tracer.spans
                            if s[0] == name and s[4] in first_setup)
            for name in sorted({s[0] for s in tracer.spans
                                if s[4] in first_setup})}
        report["per_layer"] = metrics
        out_dir = os.path.join(HERE, "_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(
            out_dir, f"trace-{args.workload}-{args.seed}.json"))
    else:
        report["end_to_end"] = metrics
    ctx.oracle.close()
    return {"report": report,
            "result": {"correct": failed == 0 and checked > 0,
                       "attempted": attempted, "failed": failed,
                       "metrics": {k: {"value": float(v),
                                       "unit": UNITS[k]}
                                   for k, v in metrics.items()}}}


UNITS = {
    "setup_s": "s", "read_cpu_ms": "ms", "op_cpu_ms": "ms",
    "session.get_spark_s": "s", "database.register_s": "s",
    "plans.stats.collect_ms": "ms", "plans.stats.loop_collect_ms": "ms",
    **dict.fromkeys(PER_CALL_MS, "ms"), **dict.fromkeys(SETUP_S, "s"),
    "spark.plan_ms": "ms", "spark.exec_ms": "ms", "spark.gc_ms": "ms",
    "spark.codegen.compiles": "count", "spark.codegen.compile_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.broadcast_join_ratio": "ratio",
    "plans.optimizer.est_qerror": "ratio", "plans.stats.miss_ratio": "ratio",
    "database.dml.bytes_written": "bytes",
    "database.dml.files_written": "count",
    "partitioned.partitions_rewritten_ratio": "ratio",
    "partitioned.bytes_written": "bytes", "mview.change_rows": "count",
    "database.versions_retained": "count", "database.bytes_on_disk": "bytes",
    "trace.overhead_pct": "%",
}


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import cs186_query_optimization_project_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the package: {exc}",
              file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    out = run(args)
    print(json.dumps({"report": out["report"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
