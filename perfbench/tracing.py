"""Spans and Spark-side counters for the traced run.

Spans are recorded only around calls into the package's layers, from this
benchmark's own code: the workloads open a span around each public call,
and :meth:`Tracer.wrap` installs span-recording wrappers on the internal
entry points a public call fans out to (the optimizer, the stats
collector).  Spans stay in memory; :meth:`Tracer.dump` writes them out
when the run ends.  Every span carries its name, start, end, parent and
the id of the op that caused it.

With tracing off every ``span`` is a no-op context manager and no wrapper
is installed, so untraced timings pay nothing for this module.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from collections import defaultdict

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        #: [name, start, end, parent index, op id]
        self.spans: list[list] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op_id: int | None = None
        #: while False, spans are not recorded (untraced ops of a traced run)
        self.recording = enabled

    @contextlib.contextmanager
    def span(self, name: str):
        if not (self.enabled and self.recording):
            yield
            return
        rec = [name, time.perf_counter(), None,
               self._stack[-1] if self._stack else None, self.op_id]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Record a ``name`` span around every call of ``owner.attr``."""
        if not self.enabled:
            return
        original = owner.__dict__[attr] if isinstance(owner, type) \
            else getattr(owner, attr)
        func = original.__func__ if isinstance(original, classmethod) \
            else original

        @functools.wraps(func)
        def traced(*args, **kwargs):
            with self.span(name):
                return func(*args, **kwargs)

        setattr(owner, attr, classmethod(traced)
                if isinstance(original, classmethod) else traced)
        self._patched.append((owner, attr, original))

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def durations(self, name: str, op_ids: set | None = None) -> list[float]:
        """Seconds spent in each finished span called ``name``."""
        return [s[2] - s[1] for s in self.spans
                if s[0] == name and s[2] is not None
                and (op_ids is None or s[4] in op_ids)]

    def _self_times(self, op_ids: set | None):
        """(name, self seconds) of each finished span: its duration minus
        the part covered by its direct children."""
        child = defaultdict(float)
        for s in self.spans:
            if s[3] is not None and s[2] is not None:
                child[s[3]] += s[2] - s[1]
        for i, s in enumerate(self.spans):
            if s[2] is not None and (op_ids is None or s[4] in op_ids):
                yield s[0], (s[2] - s[1]) - child[i]

    def self_durations(self, name: str,
                       op_ids: set | None = None) -> list[float]:
        """Self time (seconds) of each finished span called ``name``."""
        return [t for n, t in self._self_times(op_ids) if n == name]

    def self_times(self, op_ids: set | None = None) -> dict[str, float]:
        """Total self time (seconds) per span name."""
        out: dict[str, float] = defaultdict(float)
        for n, t in self._self_times(op_ids):
            out[n] += t
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"fields": ["name", "start", "end", "parent", "op"],
                       "spans": self.spans}, f)


class SparkProbe:
    """Driver-JVM counters: CPU time from ``/proc``, and through the py4j
    gateway GC time, whole-stage codegen compiles and job/stage/task
    counts per job group.  They are read only between ops, outside the
    timed window."""

    def __init__(self, spark):
        self.spark = spark
        jvm = spark._jvm
        self._gc_beans = list(
            jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans())
        self._codegen = (jvm.org.apache.spark.sql.catalyst.expressions
                         .codegen.CodeGenerator)
        self._compiles = (jvm.org.apache.spark.metrics.source
                          .CodegenMetrics.METRIC_COMPILATION_TIME())
        self.jvm_pid = int(jvm.ProcessHandle.current().pid())

    def cpu_s(self) -> float:
        """CPU seconds used so far by the driver JVM (all its threads, in
        clock ticks) plus this Python process.  Unlike wall time, CPU
        time is not charged while the host runs other tenants' work."""
        with open(f"/proc/{self.jvm_pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        ticks = int(fields[11]) + int(fields[12])      # utime + stime
        return ticks / _CLK_TCK + time.process_time()

    def gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self._gc_beans))

    def codegen(self) -> tuple[int, float]:
        """(classes compiled, compile ms), both cumulative."""
        return (int(self._compiles.getCount()),
                self._codegen.compileTime() / 1e6)

    def job_counts(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages, tasks) run under job group ``group``."""
        tracker = self.spark.sparkContext.statusTracker()
        jobs = stages = tasks = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                stage = tracker.getStageInfo(sid)
                if stage is not None:
                    stages += 1
                    tasks += stage.numTasks
        return jobs, stages, tasks


def broadcast_joins(df) -> tuple[int, int]:
    """(broadcast joins, all joins) in the final executed plan of ``df``
    (after AQE re-planning, which may turn a shuffle join into a
    broadcast join at run time)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    bcast = plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin")
    other = (plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")
             + plan.count("CartesianProduct"))
    return bcast, bcast + other
