"""Table statistics for the cost-based planner.

Python re-expression of the reference's stats layer
(``db/table/stats/TableStats.java`` + per-type histograms): row counts,
per-column distinct/min/max, equi-width histograms, selectivity (reduction
factor) estimation, and predicate/join cardinality propagation
(``copyWithPredicate`` ``TableStats.java:197–216``, ``copyWithJoin``
``TableStats.java:259–262``).

``TableStats.collect`` scans the table in one aggregation pass (a second
pass only if histograms are requested) — distributed, no driver-side row
iteration.  Distinct counts use ``approx_count_distinct`` (HLL); the
reference uses exact hash sets, which is fine at 4 KiB pages and fatal at
100 TB.

A manifest table keeps each collected *base* in a write-once log under
its root (``_table_stats/v<N>.json``, N the version it describes), so
every catalog and process on the path shares it.  The statistics of any
later version are *derived* from the newest base at or below it plus
that version's commit metadata — exact row counts and min/max from the
manifest and the footer sidecars, zero Spark jobs (Delta's per-file
``numRecords``/min/max).  Distinct counts are the only figures the
metadata cannot give; they are kept or scaled from the base, and the
table is collected again once its row count drifts past
``RECOLLECT_DRIFT`` of the base's (PostgreSQL's analyze threshold).
"""

from __future__ import annotations

import contextlib
import datetime
import math
import os
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cs186_query_optimization_project_spark.partitioned import (
    PartitionedTable,
    log_newest,
    log_publish,
)
from cs186_query_optimization_project_spark.predicates import PredicateOperator

#: Bucket count matching the reference (``IntHistogram.java:17``).
NUM_BUCKETS = 10

#: Fallback reduction factor when a predicate can't be estimated
#: (reference uses per-histogram computeReductionFactor; we fall back for
#: non-numeric ranges without histograms).
DEFAULT_RANGE_RF = 0.3

#: Log directory, under a manifest table's root, of collected bases.
BASE_LOG = "_table_stats"

#: Collect again once a version's row count differs from its base's by
#: more than this share: PostgreSQL's ``autovacuum_analyze_scale_factor``
#: default (re-analyze after changes pass 10% of the table).
RECOLLECT_DRIFT = 0.1

#: A column whose base distinct count is at least this share of the base
#: rows is a key, within HLL error: its distinct count scales with rows.
KEY_SHARE = 0.9

#: Parsers from a footer bound (``partitioned._dir_stats``) to the Python
#: type ``collect`` returns, by column type; other types keep the base's.
_FROM_BOUND: dict[str, Callable] = {
    "tinyint": int, "smallint": int, "int": int, "bigint": int,
    "string": str, "date": datetime.date.fromisoformat,
}

_FIXED_WIDTHS: dict[type, int] = {
    T.BooleanType: 1,
    T.IntegerType: 4,
    T.LongType: 8,
    T.ShortType: 2,
    T.ByteType: 1,
    T.FloatType: 4,
    T.DoubleType: 8,
    T.TimestampType: 8,
    T.DateType: 4,
}


def _is_numeric(dt: T.DataType) -> bool:
    return isinstance(dt, T.NumericType)


def _encode(v: Any) -> Any:
    """A min/max value as JSON: dates, timestamps and decimals as text."""
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return str(v) if isinstance(v, Decimal) else v


def _decode(v: Any, data_type: str) -> Any:
    """Inverse of :func:`_encode` for a column of ``data_type``."""
    if v is None:
        return None
    if data_type == "date":
        return datetime.date.fromisoformat(v)
    if data_type == "timestamp":
        return datetime.datetime.fromisoformat(v)
    return Decimal(v) if data_type.startswith("decimal") else v


@dataclass
class ColumnStats:
    name: str
    data_type: str
    distinct: int
    min: Any = None
    max: Any = None
    avg_len: float | None = None  # strings only
    #: equi-width histogram: list of (lo, hi, count); numeric columns only
    histogram: list[tuple[float, float, int]] = field(default_factory=list)


@dataclass
class TableStats:
    table: str
    num_records: int
    #: estimated logical row width in bytes (reference: fixed schema byte
    #: size, ``Schema.java:18–33``; here estimated from types + avg string len)
    row_bytes: int
    columns: dict[str, ColumnStats]
    histograms: bool = False

    # -------------------------------------------------------------- #
    # collection
    # -------------------------------------------------------------- #
    @classmethod
    def collect(cls, df: DataFrame, name: str,
                histograms: bool = False) -> "TableStats":
        aggs: list = [F.count(F.lit(1)).alias("__n")]
        fields = [f for f in df.schema.fields]
        for f_ in fields:
            c = f_.name
            aggs.append(F.approx_count_distinct(c).alias(f"__d_{c}"))
            if _is_numeric(f_.dataType) or isinstance(
                    f_.dataType, (T.TimestampType, T.DateType, T.StringType)):
                aggs.append(F.min(c).alias(f"__min_{c}"))
                aggs.append(F.max(c).alias(f"__max_{c}"))
            if isinstance(f_.dataType, T.StringType):
                aggs.append(F.avg(F.length(c)).alias(f"__len_{c}"))
        row = df.agg(*aggs).collect()[0].asDict()

        cols: dict[str, ColumnStats] = {}
        row_bytes = 0
        for f_ in fields:
            c = f_.name
            cs = ColumnStats(
                name=c,
                data_type=f_.dataType.simpleString(),
                distinct=max(int(row.get(f"__d_{c}", 0) or 0), 1),
                min=row.get(f"__min_{c}"),
                max=row.get(f"__max_{c}"),
                avg_len=row.get(f"__len_{c}"),
            )
            cols[c] = cs
            width = _FIXED_WIDTHS.get(type(f_.dataType))
            if width is None:
                if isinstance(f_.dataType, T.StringType):
                    width = int(math.ceil(cs.avg_len or 20))
                elif isinstance(f_.dataType, T.ArrayType):
                    width = 256  # opaque estimate for embedding-ish columns
                else:
                    width = 16
            row_bytes += width

        stats = cls(table=name, num_records=int(row["__n"]),
                    row_bytes=max(row_bytes, 1), columns=cols,
                    histograms=False)
        if histograms:
            stats._collect_histograms(df)
        return stats

    def _collect_histograms(self, df: DataFrame) -> None:
        """Second pass: equi-width histograms (NUM_BUCKETS buckets) for every
        numeric column, via one grouped aggregation per table (not per
        column): ``width_bucket`` assigns buckets JVM-side."""
        numeric = [c for c, s in self.columns.items()
                   if s.min is not None and s.max is not None
                   and isinstance(s.min, (int, float))
                   and s.max > s.min]
        if not numeric:
            self.histograms = True
            return
        exprs = []
        for c in numeric:
            s = self.columns[c]
            exprs.append(
                F.width_bucket(F.col(c), F.lit(float(s.min)),
                               F.lit(float(s.max)), F.lit(NUM_BUCKETS))
                .alias(f"__b_{c}"))
        bucketed = df.select(*exprs)
        aggs = []
        for c in numeric:
            for b in range(1, NUM_BUCKETS + 2):  # width_bucket: max → N+1
                aggs.append(
                    F.sum(F.when(F.col(f"__b_{c}") == b, 1).otherwise(0))
                    .alias(f"__h_{c}_{b}"))
        row = bucketed.agg(*aggs).collect()[0].asDict()
        for c in numeric:
            s = self.columns[c]
            width = (float(s.max) - float(s.min)) / NUM_BUCKETS
            hist = []
            for b in range(1, NUM_BUCKETS + 1):
                cnt = int(row[f"__h_{c}_{b}"] or 0)
                if b == NUM_BUCKETS:  # fold the max-value bucket (N+1) in
                    cnt += int(row[f"__h_{c}_{NUM_BUCKETS + 1}"] or 0)
                lo = float(s.min) + (b - 1) * width
                hist.append((lo, lo + width, cnt))
            s.histogram = hist
        self.histograms = True

    # -------------------------------------------------------------- #
    # bases and derived versions (manifest tables)
    # -------------------------------------------------------------- #
    def to_json(self) -> dict:
        """A base log entry; the table name is the catalog's, not kept."""
        return {
            "num_records": self.num_records, "row_bytes": self.row_bytes,
            "histograms": self.histograms,
            "columns": [{"name": c.name, "data_type": c.data_type,
                         "distinct": c.distinct, "min": _encode(c.min),
                         "max": _encode(c.max), "avg_len": c.avg_len,
                         "histogram": c.histogram}
                        for c in self.columns.values()]}

    @classmethod
    def from_json(cls, payload: dict, name: str) -> "TableStats":
        """The base a :meth:`to_json` entry holds, as table ``name``."""
        cols = {}
        for c in payload["columns"]:
            dt = c["data_type"]
            cols[c["name"]] = ColumnStats(
                name=c["name"], data_type=dt, distinct=int(c["distinct"]),
                min=_decode(c["min"], dt), max=_decode(c["max"], dt),
                avg_len=c["avg_len"],
                histogram=[tuple(b) for b in c["histogram"]])
        return cls(table=name, num_records=int(payload["num_records"]),
                   row_bytes=int(payload["row_bytes"]), columns=cols,
                   histograms=bool(payload["histograms"]))

    @classmethod
    def derive(cls, base: "TableStats", table: PartitionedTable,
               version: int) -> "TableStats | None":
        """The stats of ``table`` at ``version`` from the collected
        ``base`` of an earlier (or the same) version and the version's
        manifest and footer sidecars only — zero Spark jobs.  ``None``
        when they must be collected instead: the schema changed, the
        metadata cannot count the rows (a tombstone of unrecorded
        cardinality), or the count drifted past ``RECOLLECT_DRIFT``.

        Row counts and int/string/date min/max are exact; distinct
        counts are exact for partition columns, scaled with the rows for
        key columns and kept from the base otherwise; histograms scale
        with the rows; widths stay the base's."""
        man = table._manifest(version)
        shape = ",".join(f"{c.name}:{c.data_type}"
                         for c in base.columns.values())
        if man["schema"] != f"struct<{shape}>":
            return None
        groups = table._group_counts(man)
        if groups is None:
            return None
        n = sum(groups.values())
        if abs(n - base.num_records) > RECOLLECT_DRIFT * base.num_records:
            return None
        scale = n / base.num_records if base.num_records else 1.0
        pcols = table._pcols_of(man)
        # a multi-column key is '/'-joined, with no '/' in any component
        keys = [k.split("/") if len(pcols) > 1 else [k] for k in groups]
        cols = {}
        for name, b in base.columns.items():
            lo, hi = b.min, b.max
            parse = _FROM_BOUND.get(b.data_type)
            if lo is not None and parse is not None:
                exact = table._min_max(man, name)
                if exact is not None:
                    lo, hi = parse(exact[0]), parse(exact[1])
            if name in pcols:
                i = pcols.index(name)
                distinct = len({k[i] for k in keys})
            elif b.distinct >= KEY_SHARE * base.num_records:
                distinct = round(b.distinct * scale)
            else:
                distinct = b.distinct
            cols[name] = ColumnStats(
                name=name, data_type=b.data_type,
                distinct=max(min(distinct, n), 1), min=lo, max=hi,
                avg_len=b.avg_len,
                histogram=[(x, y, round(c * scale))
                           for x, y, c in b.histogram])
        return cls(base.table, n, base.row_bytes, cols, base.histograms)

    # -------------------------------------------------------------- #
    # selectivity (reduction factors, IntHistogram.java:201–235)
    # -------------------------------------------------------------- #
    def reduction_factor(self, column: str, op: PredicateOperator,
                         value: Any) -> float:
        s = self.columns.get(column)
        if s is None:
            return 1.0
        v_distinct = max(s.distinct, 1)
        if op is PredicateOperator.EQUALS:
            return 1.0 / v_distinct
        if op is PredicateOperator.NOT_EQUALS:
            return 1.0 - 1.0 / v_distinct
        # extended (non-reference) operators: estimate without touching the
        # numeric-range paths, whose value arithmetic assumes a scalar
        if op is PredicateOperator.IN:
            return min(len(list(value)) / v_distinct, 1.0)
        if op is PredicateOperator.NOT_IN:
            return 1.0 - min(len(list(value)) / v_distinct, 1.0)
        if op is PredicateOperator.BETWEEN:
            lo_v, hi_v = value
            rf = (self.reduction_factor(
                      column, PredicateOperator.LESS_THAN_EQUALS, hi_v)
                  + self.reduction_factor(
                      column, PredicateOperator.GREATER_THAN_EQUALS, lo_v)
                  - 1.0)
            return min(max(rf, 0.0), 1.0)
        if op is PredicateOperator.IS_NULL:
            return 0.1      # no null stats collected; assume mostly non-null
        if op is PredicateOperator.IS_NOT_NULL:
            return 0.9
        if op is PredicateOperator.LIKE:
            return DEFAULT_RANGE_RF
        # range predicates (scalar comparisons only from here down)
        if not isinstance(value, (int, float)):
            return DEFAULT_RANGE_RF
        if s.histogram:
            return self._histogram_range_rf(s, op, value)
        if (s.min is not None and s.max is not None
                and isinstance(value, (int, float))
                and isinstance(s.min, (int, float)) and s.max != s.min):
            lo, hi, v = float(s.min), float(s.max), float(value)
            span = hi - lo
            if op in (PredicateOperator.GREATER_THAN,
                      PredicateOperator.GREATER_THAN_EQUALS):
                rf = (hi - v) / span
            elif op in (PredicateOperator.LESS_THAN,
                        PredicateOperator.LESS_THAN_EQUALS):
                rf = (v - lo) / span
            else:
                return DEFAULT_RANGE_RF
            return min(max(rf, 0.0), 1.0)
        return DEFAULT_RANGE_RF

    @staticmethod
    def _histogram_range_rf(s: ColumnStats, op: PredicateOperator,
                            value: float) -> float:
        total = sum(c for _, _, c in s.histogram) or 1
        keep = 0.0
        for lo, hi, cnt in s.histogram:
            if op in (PredicateOperator.GREATER_THAN,
                      PredicateOperator.GREATER_THAN_EQUALS):
                if lo >= value:
                    keep += cnt
                elif hi > value:  # partial bucket, linear interpolation
                    keep += cnt * (hi - value) / (hi - lo)
            else:  # LESS_THAN(_EQUALS)
                if hi <= value:
                    keep += cnt
                elif lo < value:
                    keep += cnt * (value - lo) / (hi - lo)
        return min(max(keep / total, 0.0), 1.0)

    # -------------------------------------------------------------- #
    # cardinality propagation
    # -------------------------------------------------------------- #
    def with_predicate(self, column: str, op: PredicateOperator,
                       value: Any) -> "TableStats":
        """Scaled copy (``TableStats.copyWithPredicate``)."""
        rf = self.reduction_factor(column, op, value)
        return self._scaled(rf)

    def _scaled(self, rf: float) -> "TableStats":
        cols = {
            c: ColumnStats(
                name=s.name, data_type=s.data_type,
                distinct=max(int(math.ceil(s.distinct * rf)), 1),
                min=s.min, max=s.max, avg_len=s.avg_len,
                histogram=[(lo, hi, int(c_ * rf)) for lo, hi, c_ in s.histogram],
            )
            for c, s in self.columns.items()
        }
        return TableStats(self.table, int(math.ceil(self.num_records * rf)),
                          self.row_bytes, cols, self.histograms)

    def join_cardinality(self, other: "TableStats", left_col: str,
                         right_col: str) -> int:
        """``|L|·|R| / max(V(L.k), V(R.k))`` (``TableStats.java:259–262``)."""
        vl = self.columns.get(left_col)
        vr = other.columns.get(right_col)
        denom = max(vl.distinct if vl else 1, vr.distinct if vr else 1, 1)
        return max(int(self.num_records * other.num_records / denom), 1)

    @property
    def total_bytes(self) -> int:
        return self.num_records * self.row_bytes


def version_stats(table: PartitionedTable, version: int, name: str,
                  frame: Callable[[], DataFrame],
                  histograms: bool = False) -> TableStats:
    """Statistics of manifest ``table`` at ``version``: derived from the
    newest base in its log when that base is at or below ``version``
    (and has histograms, if asked), else collected over ``frame()`` and
    published as the base of ``version``.  A missing, corrupt or
    schema-mismatched base falls back to the collect."""
    log = os.path.join(table.root, BASE_LOG)
    try:
        newest = log_newest(log)
        base = (TableStats.from_json(newest[1], name)
                if newest is not None and newest[0] <= version else None)
    except (OSError, ValueError, KeyError, TypeError):
        base = None
    if base is not None and (base.histograms or not histograms):
        derived = TableStats.derive(base, table, version)
        if derived is not None:
            return derived
    stats = TableStats.collect(frame(), name, histograms=histograms)
    # a publish that lost to another writer's base is ignored, and a
    # reader without write access still gets its statistics
    with contextlib.suppress(OSError):
        log_publish(log, version, stats.to_json())
    return stats
