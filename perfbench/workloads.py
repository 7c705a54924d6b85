"""The benchmark's workloads.

Each workload is a closed loop with one client: the next op is issued
only after the previous one returned.  A workload

- ``setup(ctx)``: builds everything the loop needs under ``ctx.rep_dir``
  on a fresh catalog (``ctx.db``); timed by the runner, several times;
- ``setup_once(ctx)``: set-up too slow to repeat, run once after it;
- ``next_op(ctx)``: draws the next op from the seeded ``ctx.rng``;
- ``verify(ctx)``: after the timed window, checks every recorded result
  and returns ``(checked, labels of the wrong results)``;
- ``extra(ctx, bytes_before)``: workload-specific figures for the
  report line.

Ops call only the package's public API.  Inside an op the workload opens a
tracer span around each call into a layer; the spans cost nothing when
tracing is off.
"""

from __future__ import annotations

import datetime as dt
import os
from collections import Counter
from dataclasses import dataclass, field
from statistics import median
from typing import Callable
from urllib.parse import urlparse

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import oracle
from tracing import broadcast_joins

EPOCH = dt.date(1995, 1, 1)


@dataclass
class Op:
    kind: str                       # "read" | "write"
    name: str
    run: Callable[[], object]
    #: called with the op's result (or None if it raised), outside the
    #: timed window; records what verify() will check
    record: Callable[[object], None]


@dataclass
class Ctx:
    spark: object
    data_dir: str
    tracer: object
    rng: object                      # numpy Generator (op parameters)
    sizes: dict                      # rows per input table
    oracle: oracle.Oracle
    db: object = None
    rep_dir: str = ""
    #: the current op runs inside the timed window
    timed: bool = False
    #: (broadcast joins, all joins) over traced ops
    joins: list = field(default_factory=lambda: [0, 0])
    #: (plan, template) of traced execute_optimal ops, for q-error
    plans: list = field(default_factory=list)
    corrupt: bool = False            # smoke test: poison one expectation
    _columns: dict = field(default_factory=dict)

    def run_df(self, df) -> list:
        """Collect ``df``.  In a traced op the physical planning and the
        execution get their own spans."""
        tr = self.tracer
        if not (tr.enabled and tr.recording):
            return df.collect()
        with tr.span("spark.plan"):
            df._jdf.queryExecution().executedPlan()
        with tr.span("spark.exec"):
            rows = df.collect()
        b, n = broadcast_joins(df)
        self.joins[0] += b
        self.joins[1] += n
        return rows

    def parquet(self, name: str):
        return self.spark.read.parquet(
            os.path.join(self.data_dir, f"{name}.parquet"))

    def collect_stats(self, *tables: str) -> None:
        for t in tables:
            self.db.stats(t)

    def column(self, table: str, col: str) -> list:
        """One column of an input table, read once with pyarrow."""
        if (table, col) not in self._columns:
            self._columns[table, col] = pq.read_table(
                os.path.join(self.data_dir, f"{table}.parquet"),
                columns=[col]).column(0).to_pylist()
        return self._columns[table, col]

    def values(self, table: str, col: str) -> list:
        """Sorted distinct values of a column: the domain a seeded
        parameter of that column is drawn from."""
        return sorted(set(self.column(table, col)))

    def pick(self, table: str, col: str):
        """A seeded value of ``table.col``."""
        v = self.rng.choice(self.values(table, col))
        return str(v) if isinstance(v, str) else int(v)


def _date(rng, lo_days: int = 60, hi_days: int = 2300) -> str:
    return (EPOCH + dt.timedelta(days=int(rng.integers(lo_days, hi_days)))
            ).isoformat()


# --------------------------------------------------------------------- #
# relational templates: one spec -> builder Query and DuckDB SQL
# --------------------------------------------------------------------- #
_TABLE_OF = {"c": "customer", "o": "orders", "l": "lineitem",
             "s": "supplier", "n": "nation", "r": "region"}
_REVENUE = "l_extendedprice * (1 - l_discount)"


@dataclass
class Tpl:
    name: str
    base: str
    joins: list                     # (table, left column, right column)
    wheres: list                    # (column, op, value)
    group: list
    aggs: list                      # ("count", None, out) | ("sum", sql, out)
    col_wheres: list = field(default_factory=list)
    order: list = field(default_factory=list)   # (column, ascending)
    limit: int | None = None

    def query(self, db):
        q = db.query(self.base)
        for t, left, right in self.joins:
            q = q.join(t, left, right)
        for c, op, v in self.wheres:
            q = q.where(c, op, v)
        for a, op, b in self.col_wheres:
            q = q.where_columns(a, op, b)
        q = q.group_by(*self.group)
        for func, expr, out in self.aggs:
            q = q.count(out) if func == "count" else q.sum(
                F.expr(expr), out=out, exact=True)
        for c, asc in self.order:
            q = q.order_by(c, asc)
        if self.limit:
            q = q.limit(self.limit)
        return q

    @staticmethod
    def lit(col: str, v) -> str:
        if isinstance(v, str):
            if col.endswith("date"):
                return f"TIMESTAMP '{v} 00:00:00'"
            return "'" + v.replace("'", "''") + "'"
        return repr(v)

    def predicates(self, tables: set | None = None) -> list[str]:
        def owned(c):
            return tables is None or _TABLE_OF[c.split("_")[0]] in tables
        preds = [f"{c} {op} {self.lit(c, v)}" for c, op, v in self.wheres
                 if owned(c)]
        preds += [f"{a} {op} {b}" for a, op, b in self.col_wheres
                  if owned(a) and owned(b)]
        return preds

    def sql(self) -> str:
        aggs = ["COUNT(*) AS " + out if f == "count" else
                f"CAST(SUM(CAST({e} AS DECIMAL(18,4))) AS DOUBLE) AS {out}"
                for f, e, out in self.aggs]
        s = f"SELECT {', '.join([*self.group, *aggs])} FROM {self.base}"
        for t, left, right in self.joins:
            s += f" JOIN {t} ON {left} = {right}"
        preds = self.predicates()
        if preds:
            s += " WHERE " + " AND ".join(preds)
        s += " GROUP BY " + ", ".join(self.group)
        if self.order:
            s += " ORDER BY " + ", ".join(
                f"{c} {'ASC' if a else 'DESC'}" for c, a in self.order)
        if self.limit:
            s += f" LIMIT {self.limit}"
        return s


def olap_template(kind: str, ctx: Ctx) -> Tpl:
    rng = ctx.rng
    if kind == "q3":
        day = _date(rng)
        return Tpl("q3", "customer",
                   [("orders", "c_custkey", "o_custkey"),
                    ("lineitem", "o_orderkey", "l_orderkey")],
                   [("c_mktsegment", "=",
                     ctx.pick("customer", "c_mktsegment")),
                    ("o_orderdate", "<", day), ("l_shipdate", ">", day)],
                   ["l_orderkey", "o_orderdate"],
                   [("sum", _REVENUE, "revenue")],
                   order=[("revenue", False), ("l_orderkey", True)],
                   limit=10)
    if kind == "q5":
        return Tpl("q5", "customer",
                   [("orders", "c_custkey", "o_custkey"),
                    ("lineitem", "o_orderkey", "l_orderkey"),
                    ("supplier", "l_suppkey", "s_suppkey"),
                    ("nation", "s_nationkey", "n_nationkey"),
                    ("region", "n_regionkey", "r_regionkey")],
                   [("r_name", "=", ctx.pick("region", "r_name")),
                    ("o_orderdate", ">=",
                     f"{rng.integers(1995, 2000)}-01-01")],
                   ["n_name"], [("sum", _REVENUE, "revenue")],
                   col_wheres=[("c_nationkey", "=", "s_nationkey")])
    if kind == "q10":
        y, qtr = int(rng.integers(1995, 2001)), int(rng.integers(0, 4))
        lo = dt.date(y, 1 + 3 * qtr, 1)
        hi = dt.date(y + (qtr == 3), 1 + 3 * ((qtr + 1) % 4), 1)
        return Tpl("q10", "customer",
                   [("orders", "c_custkey", "o_custkey"),
                    ("lineitem", "o_orderkey", "l_orderkey"),
                    ("nation", "c_nationkey", "n_nationkey")],
                   [("o_orderdate", ">=", lo.isoformat()),
                    ("o_orderdate", "<", hi.isoformat()),
                    ("l_returnflag", "=", "R")],
                   ["c_custkey", "c_name", "c_acctbal", "n_name"],
                   [("sum", _REVENUE, "revenue")],
                   order=[("revenue", False), ("c_custkey", True)],
                   limit=20)
    # the package's flagship shape: customer -> orders -> lineitem
    return Tpl("flagship", "customer",
               [("orders", "c_custkey", "o_custkey"),
                ("lineitem", "o_orderkey", "l_orderkey")],
               [("c_nationkey", "=", ctx.pick("nation", "n_nationkey")),
                ("l_shipdate", ">=", _date(rng))],
               ["o_orderpriority"],
               [("count", None, "n"), ("sum", "l_quantity", "qty")])


def median_qerror(ctx: Ctx, limit: int = 8) -> float:
    """Median q-error (max(est, actual) / min(est, actual)) of the
    optimizer's row estimate for every join prefix of the first traced
    ``execute_optimal`` plans; actual prefix sizes come from DuckDB.
    0 when no plan was traced."""
    errs = []
    for plan, tpl in ctx.plans[:limit]:
        if plan is None:
            continue
        tables = {plan.base_table}
        sql = f"SELECT count(*) FROM {plan.base_table}"
        for step in plan.steps:
            tables.add(step.table)
            sql += (f" JOIN {step.table} ON {step.left.alias}."
                    f"{step.left.column} = {step.right.alias}."
                    f"{step.right.column}")
            preds = tpl.predicates(tables)
            where = " WHERE " + " AND ".join(preds) if preds else ""
            actual = max(ctx.oracle.con.execute(sql + where).fetchone()[0], 1)
            est = max(step.est_rows, 1)
            errs.append(max(est, actual) / min(est, actual))
    return float(median(errs)) if errs else 0.0


class Workload:
    name = ""
    #: tables whose stats the set-up collects
    stats_tables: tuple = ()
    #: ops run (and checked) before the timed window, not counted
    warmup_ops = 0
    #: ops per round of the op mix; a run measures at least one round
    round_ops = 1

    def setup(self, ctx: Ctx) -> None:
        ctx.collect_stats(*self.stats_tables)

    def setup_once(self, ctx: Ctx) -> None:
        """Set-up too slow to repeat within one run's time budget; runs
        once, after the repeated set-up, and is added to ``setup_s``."""

    def io_snapshot(self, ctx: Ctx):
        return None

    def io_account(self, ctx: Ctx, op: Op, before, counters: dict) -> None:
        """Attribute the storage a traced op wrote to its layer."""

    def layer_counters(self, ctx: Ctx, counters: dict) -> dict:
        def per(total, n):
            return counters.get(total, 0) / counters[n] \
                if counters.get(n) else 0.0
        db = ctx.db
        versions = sum(len(db.table_versions(t)) for t in db.table_names())
        return {
            "database.dml.bytes_written": per("dml_bytes", "dml_ops"),
            "database.dml.files_written": per("dml_files", "dml_ops"),
            "partitioned.bytes_written": per("pt_bytes", "pt_ops"),
            "partitioned.partitions_rewritten_ratio": per("pt_ratio",
                                                          "pt_ops"),
            "mview.change_rows": per("mv_changes", "mv_ops"),
            "database.versions_retained": versions + self.extra_versions(),
            "database.bytes_on_disk": dir_usage(ctx.rep_dir)[0],
        }

    def extra_versions(self) -> int:
        return 0

    def extra(self, ctx: Ctx, bytes_before: int) -> dict:
        return {}

    def next_op(self, ctx: Ctx) -> Op:
        raise NotImplementedError

    def verify(self, ctx: Ctx) -> tuple[int, list]:
        """Compare each recorded (name, sql, canonical rows) with DuckDB."""
        bad = []
        for i, (name, sql, got) in enumerate(self.recorded):
            want = ctx.oracle.rows(sql)
            # the last answer is always a timed one
            if ctx.corrupt and i == len(self.recorded) - 1:
                want = want[1:] + [("corrupted",)]
            if got is None or not oracle.close_rows(got, want):
                bad.append(f"{name}#{i}")
        return len(self.recorded), bad

    def _sql_op(self, kind: str, name: str, run, sql: str) -> Op:
        def record(rows):
            self.recorded.append((name, sql, None if rows is None
                                  else oracle.spark_canon(rows)))
        return Op(kind, name, run, record)


# --------------------------------------------------------------------- #
class OlapOptimal(Workload):
    """Seeded TPC-H Q3, Q5, Q10 and the flagship join through the
    System-R optimizer."""

    stats_tables = ("customer", "orders", "lineitem", "supplier",
                    "nation", "region")
    round_ops = 4
    kinds = ("q3", "q5", "q10", "flagship")

    def __init__(self):
        self.recorded = []
        self._n = 0

    def next_op(self, ctx: Ctx) -> Op:
        tpl = olap_template(self.kinds[self._n % 4], ctx)
        self._n += 1

        def run():
            tr = ctx.tracer
            with tr.span("plans.builder"):
                q = tpl.query(ctx.db)
                df = q.execute_optimal()
            if tr.enabled and tr.recording:
                ctx.plans.append((q.cached_plan(), tpl))
            return ctx.run_df(df)
        return self._sql_op("read", tpl.name, run, tpl.sql())


# --------------------------------------------------------------------- #
def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


_CUST_COLS = ("c_custkey", "c_name", "c_nationkey", "c_acctbal",
              "c_mktsegment")
#: marks the delete half of an upsert replayed as delete + insert, so the
#: replaced rows count once as changed rows
REPLACE = "/* replace */"
_ORD_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
             "o_orderdate", "o_orderpriority")


class DmlMixed(Workload):
    """Writes beside reads.  Each cycle: two ~1% mutations, one by a
    catalog DML verb on a sorted private copy of customer (rotating over
    update, insert, delete, merge) and one by the partitioned MERGE or
    DELETE (alternating) on a partitioned private copy of orders; a
    materialized-view refresh; a two-table transaction; then reads of the
    mutated data.  Every commit makes a new version, so the read after
    it misses the stats cache."""

    name = "dml_mixed"
    #: one cycle: the first commit of each write path pays its code
    #: generation outside the timed window
    warmup_ops = 8
    #: two cycles, so every run times both partitioned verbs
    round_ops = 16
    catalog_verbs = ("update_rows", "insert_rows", "delete_rows",
                     "merge_rows")
    partitioned_verbs = ("pt_merge", "pt_delete")
    #: point reads of the mutated table follow each cycle's writes
    steps = ("catalog", "partitioned", "mv_refresh", "txn_commit",
             "join_read", "mv_read", "lookup_read", "lookup_read")

    def __init__(self):
        #: ordered log: ("write", [sql...], step) |
        #: ("read", step, sql, rows)
        self.events: list = []
        self.changes = 0            # change rows the last refresh folded
        self._n = 0

    def setup(self, ctx: Ctx) -> None:
        from cs186_query_optimization_project_spark import (
            MaterializedView, PartitionedTable)

        spark, db, rep, tr = ctx.spark, ctx.db, ctx.rep_dir, ctx.tracer
        with tr.span("database.dml"):
            db.create_table("cust_w", ctx.parquet("customer"),
                            os.path.join(rep, "cust_w"),
                            index_columns=("c_custkey",))
            db.create_table("sup_w", ctx.parquet("supplier"),
                            os.path.join(rep, "sup_w"))
        self.pt_root = os.path.join(rep, "ord_pt")
        with tr.span("partitioned.create"):
            self.pt = PartitionedTable.create(
                spark, ctx.parquet("orders").repartition("o_orderpriority"),
                self.pt_root, "o_orderpriority")
        db.register_partitioned("ord_pt", self.pt_root)
        with tr.span("mview.create"):
            self.mv = MaterializedView.create(
                spark, self.pt, os.path.join(rep, "mv"),
                keys=["o_orderstatus"], sum_cols=["o_totalprice"],
                n_buckets=4)
        ctx.collect_stats("cust_w", "sup_w", "ord_pt")
        self.ord_schema = self.pt.read().select(*_ORD_COLS).schema
        # key ranges: [first, next) where next is above every key so far
        ck = ctx.column("customer", "c_custkey")
        self.first_ck, self.next_ck = min(ck), max(ck) + 1
        ok = ctx.column("orders", "o_orderkey")
        self.first_ok, self.next_ok = min(ok), max(ok) + 1
        #: o_orderpriority by o_orderkey
        self.prio = dict(zip(ok, ctx.column("orders", "o_orderpriority")))
        self.n_prio = len(ctx.values("orders", "o_orderpriority"))
        self.n_cust = max(len(ck) // 100, 2)
        # a key span whose rows of one priority are ~1% of all orders
        self.n_ord_span = max((self.next_ok - self.first_ok) // 20, 10)

    # -- mutation builders: (Spark call, shadow SQL) ------------------- #
    def _cust_rows(self, ctx, keys):
        rng = ctx.rng
        return [(k, f"Customer#{k:09d}", ctx.pick("nation", "n_nationkey"),
                 float(round(rng.uniform(-999.99, 9999.99), 2)),
                 ctx.pick("customer", "c_mktsegment")) for k in keys]

    @staticmethod
    def _values(rows) -> str:
        def lit(v):
            if isinstance(v, str):
                return "'" + v + "'"
            if isinstance(v, dt.datetime):
                return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
            return repr(v)
        return ", ".join("(" + ", ".join(lit(v) for v in r) + ")"
                         for r in rows)

    def _mutation(self, ctx, step: str):
        db, rng, tr = ctx.db, ctx.rng, ctx.tracer
        cycle = self._n // len(self.steps)
        kind = (self.catalog_verbs[cycle % 4] if step == "catalog"
                else self.partitioned_verbs[cycle % 2])
        # the range stays below every key this op may insert
        a = int(rng.integers(self.first_ck,
                             max(self.next_ck - self.n_cust,
                                 self.first_ck + 1)))
        b = a + self.n_cust
        d = float(round(rng.uniform(1, 100), 2))
        in_range = (F.col("c_custkey") >= a) & (F.col("c_custkey") < b)
        rng_sql = f"c_custkey >= {a} AND c_custkey < {b}"
        if kind == "update_rows":
            def run():
                with tr.span("database.dml"):
                    db.update_rows("cust_w", in_range,
                                   {"c_acctbal": F.col("c_acctbal") + d})
            return kind, run, [f"UPDATE cust_w SET c_acctbal = c_acctbal "
                               f"+ {d} WHERE {rng_sql}"]
        if kind == "delete_rows":
            def run():
                with tr.span("database.dml"):
                    db.delete_rows("cust_w", in_range)
            return kind, run, [f"DELETE FROM cust_w WHERE {rng_sql}"]
        if kind in ("insert_rows", "merge_rows"):
            new = list(range(self.next_ck, self.next_ck + self.n_cust))
            self.next_ck += self.n_cust
            if kind == "merge_rows":
                new = new[: self.n_cust // 2] + list(
                    range(a, a + self.n_cust - self.n_cust // 2))
            rows = self._cust_rows(ctx, new)
            values = self._values(rows)
            keys = ", ".join(str(k) for k in new)

            def run():
                schema = db.schema("cust_w")
                src = ctx.spark.createDataFrame(rows, schema)
                with tr.span("database.dml"):
                    if kind == "insert_rows":
                        db.insert_rows("cust_w", src)
                    else:
                        db.merge_rows("cust_w", src, on="c_custkey")
            sql = [f"INSERT INTO cust_w VALUES {values}"]
            if kind == "merge_rows":
                sql.insert(0, f"{REPLACE} DELETE FROM cust_w WHERE "
                              f"c_custkey IN ({keys})")
            return kind, run, sql
        # partitioned private copy of orders: one priority partition,
        # ~1% of its rows
        prio = ctx.pick("orders", "o_orderpriority")
        lo = int(rng.integers(self.first_ok, self.next_ok))
        hi = lo + self.n_ord_span
        cond = ((F.col("o_orderpriority") == prio)
                & (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi))
        where = (f"o_orderpriority = '{prio}' AND o_orderkey >= {lo} "
                 f"AND o_orderkey < {hi}")
        if kind == "pt_delete":
            def run():
                with tr.span("partitioned.delete"):
                    self.pt.delete(cond)
            return kind, run, [f"DELETE FROM ord_pt WHERE {where}"]
        # MERGE as a full-row upsert (the CDC shape): every order of the
        # chosen partition in the key range gets new values, plus a few
        # new orders; a key keeps its partition, as MERGE requires
        keys = [k for k in range(lo, hi) if self.prio.get(k) == prio]
        fresh = range(self.next_ok, self.next_ok + max(len(keys) // 10, 2))
        self.next_ok = fresh.stop
        self.prio.update((k, prio) for k in fresh)
        rows = [(k, int(rng.integers(self.first_ck, self.next_ck)),
                 str(rng.choice(["F", "O", "P"])),
                 float(round(rng.uniform(1000, 400_000), 2)),
                 dt.datetime.fromisoformat(_date(rng)), prio)
                for k in [*keys, *fresh]]

        def run():
            src = ctx.spark.createDataFrame(rows, self.ord_schema)
            with tr.span("partitioned.merge"):
                self.pt.merge(src, on="o_orderkey")
        return kind, run, [
            f"{REPLACE} DELETE FROM ord_pt WHERE o_orderkey IN "
            f"({', '.join(str(r[0]) for r in rows)})",
            f"INSERT INTO ord_pt VALUES {self._values(rows)}"]

    def next_op(self, ctx: Ctx) -> Op:
        step = self.steps[self._n % len(self.steps)]
        db, rng, tr = ctx.db, ctx.rng, ctx.tracer
        log = self.events

        def write(sql):
            return lambda res: log.append(("write", sql if res is not None
                                           else [], step))
        if step in ("catalog", "partitioned"):
            kind, run, sql = self._mutation(ctx, step)
            self._n += 1

            def done():
                run()
                return True
            return Op("write", kind, done, write(sql))
        self._n += 1
        if step == "mv_refresh":
            def run():
                with tr.span("mview.refresh"):
                    self.changes = self.mv.refresh()
                return True
            return Op("write", step, run, write([]))
        if step == "txn_commit":
            ks = ctx.pick("supplier", "s_suppkey")
            kc = int(rng.integers(self.first_ck, self.next_ck))
            d = float(round(rng.uniform(1, 50), 2))

            def run():
                txn = db.begin()
                txn.update_rows("sup_w", F.col("s_suppkey") == ks,
                                {"s_acctbal": F.col("s_acctbal") + d})
                txn.update_rows("cust_w", F.col("c_custkey") == kc,
                                {"c_acctbal": F.col("c_acctbal") - d})
                with tr.span("transactions.commit"):
                    txn.commit()
                return True
            return Op("write", step, run, write([
                f"UPDATE sup_w SET s_acctbal = s_acctbal + {d} "
                f"WHERE s_suppkey = {ks}",
                f"UPDATE cust_w SET c_acctbal = c_acctbal - {d} "
                f"WHERE c_custkey = {kc}"]))

        def read(sql):
            def record(rows):
                log.append(("read", step, sql, None if rows is None
                            else oracle.spark_canon(rows)))
            return record
        if step == "join_read":
            tpl = Tpl("join_read", "cust_w",
                      [("ord_pt", "c_custkey", "o_custkey")],
                      [("c_mktsegment", "=",
                        ctx.pick("customer", "c_mktsegment"))],
                      ["o_orderstatus"],
                      [("count", None, "n"), ("sum", "o_totalprice", "total")])

            def run():
                # a reader re-resolves the partitioned table's newest
                # version, as a new session would
                db.register_partitioned("ord_pt", self.pt_root)
                with tr.span("plans.builder"):
                    df = tpl.query(db).execute_optimal()
                return ctx.run_df(df)
            return Op("read", step, run, read(tpl.sql()))
        if step == "mv_read":
            def run():
                with tr.span("mview.read"):
                    df = self.mv.read()
                return ctx.run_df(df)
            return Op("read", step, run, read(None))
        k = int(rng.integers(self.first_ck, self.next_ck))

        def run():
            with tr.span("database.lookup"):
                df = db.lookup("cust_w", "c_custkey", k)
            return ctx.run_df(df)
        return Op("read", step, run,
                  read(f"SELECT * FROM cust_w WHERE c_custkey = {k}"))

    def _mv_sql(self, ctx) -> str:
        cols = [c for c in self.mv.read().columns if c != "o_orderstatus"]
        aggs = []
        for c in cols:
            if c.startswith("mv_sum_"):
                aggs.append(f"SUM({c[7:]}) AS {c}")
            elif c.startswith("mv_nn_"):
                aggs.append(f"COUNT({c[6:]}) AS {c}")
            else:
                aggs.append(f"COUNT(*) AS {c}")
        return (f"SELECT o_orderstatus, {', '.join(aggs)} FROM ord_pt "
                f"GROUP BY o_orderstatus")

    def verify(self, ctx: Ctx) -> tuple[int, list]:
        """Replay every committed write on DuckDB shadow tables and check
        each read against the shadow state it should have seen, then the
        final tables' fingerprints."""
        o = ctx.oracle
        for t, src in (("cust_w", "customer"), ("sup_w", "supplier"),
                       ("ord_pt", "orders")):
            o.execute(f"CREATE OR REPLACE TABLE {t} AS SELECT * FROM {src}")
        mv_sql = self._mv_sql(ctx)
        checked, bad = 0, []
        self.rows_changed = {}
        for ev in self.events:
            if ev[0] == "write":
                for stmt in ev[1]:
                    n = o.execute(stmt)
                    if stmt.startswith(REPLACE):
                        continue
                    words = stmt.split()
                    t = words[1] if words[0] == "UPDATE" else words[2]
                    self.rows_changed[t] = self.rows_changed.get(t, 0) + n
                continue
            _, name, sql, got = ev
            checked += 1
            want = o.rows(sql or mv_sql)
            if got is None or not oracle.close_rows(got, want):
                bad.append(f"{name}#{checked}")
        for t, cols in (("cust_w", _CUST_COLS), ("ord_pt", _ORD_COLS),
                        ("sup_w", None)):
            df = ctx.db.table(t) if t != "ord_pt" else self.pt.read()
            got = oracle.fingerprint(
                oracle.spark_canon(df.select(*(cols or df.columns))
                                   .collect()))
            want = oracle.fingerprint(o.rows(
                f"SELECT {', '.join(cols or df.columns)} FROM {t}"))
            if ctx.corrupt and t == "cust_w":
                want = want[::-1]
            checked += 1
            if got != want:
                bad.append(f"fingerprint:{t}")
        return checked, bad

    _CATALOG_WRITES = {"update_rows", "insert_rows", "delete_rows",
                       "merge_rows", "txn_commit"}

    def _pt_leaves(self) -> set:
        parts = os.path.join(self.pt_root, "parts")
        return {os.path.join(stage, leaf)
                for stage in os.listdir(parts)
                if os.path.isdir(os.path.join(parts, stage))
                for leaf in os.listdir(os.path.join(parts, stage))
                if leaf.startswith("__p=")}

    def io_snapshot(self, ctx: Ctx):
        return dir_usage(ctx.rep_dir), self._pt_leaves()

    def io_account(self, ctx: Ctx, op: Op, before, counters: dict) -> None:
        (b0, f0), leaves0 = before
        b1, f1 = dir_usage(ctx.rep_dir)

        def add(key, v):
            counters[key] = counters.get(key, 0) + v
        if op.name in self._CATALOG_WRITES:
            add("dml_ops", 1)
            add("dml_bytes", b1 - b0)
            add("dml_files", f1 - f0)
        elif op.name in ("pt_merge", "pt_delete"):
            touched = {os.path.basename(p)
                       for p in self._pt_leaves() - leaves0}
            add("pt_ops", 1)
            add("pt_bytes", b1 - b0)
            add("pt_ratio", len(touched) / self.n_prio)
        elif op.name == "mv_refresh":
            add("mv_ops", 1)
            add("mv_changes", self.changes)

    def extra_versions(self) -> int:
        return len(self.pt.versions())

    def extra(self, ctx: Ctx, bytes_before: int) -> dict:
        """Write and space amplification over the run.  A changed row
        is costed at its table's average stored size in the generated
        parquet."""
        written = dir_usage(ctx.rep_dir)[0] - bytes_before
        changed = 0.0
        for t, src in (("cust_w", "customer"), ("ord_pt", "orders"),
                       ("sup_w", "supplier")):
            size = os.path.getsize(os.path.join(ctx.data_dir,
                                                f"{src}.parquet"))
            changed += self.rows_changed.get(t, 0) * size / ctx.sizes[src]
        return {"write_amp": written / changed if changed else None,
                "space_amp": dir_usage(ctx.rep_dir)[0] / self.live_bytes(ctx),
                "rows_changed": self.rows_changed}

    def live_bytes(self, ctx) -> int:
        """Bytes of the files the current versions read."""
        live = self.pt.describe_detail()["total_bytes"]
        for t in ("cust_w", "sup_w"):
            live += sum(os.path.getsize(urlparse(f).path)
                        for f in ctx.db.table(t).inputFiles())
        return live


# --------------------------------------------------------------------- #
class RetrievalMix(Workload):
    """BM25 over a materialized postings index and IVF-PQ nearest-
    neighbour search, both built during set-up; the retrieval and
    similarity functions do the work, the relational planner none."""

    #: two BM25 queries per ANN query
    round_ops = 3
    n_bm25_checks = 2

    def __init__(self):
        self.bm25: list = []       # (query, rows, timed)
        self.ann: list = []        # (query vector, ids)
        self._n = 0

    def setup_once(self, ctx: Ctx) -> None:
        from cs186_query_optimization_project_spark.functions import (
            retrieval, similarity)

        tr, rep = ctx.tracer, ctx.rep_dir
        self.docs = ctx.parquet("documents")
        self.emb = ctx.parquet("embeddings")
        with tr.span("functions.retrieval.index_build"):
            self.postings = retrieval.build_postings_index(
                self.docs, os.path.join(rep, "postings"), n_buckets=4)
        with tr.span("functions.similarity.index_build"):
            self.ivfpq = similarity.build_ivfpq_index(
                self.emb, os.path.join(rep, "ivfpq"), n_cells=4, m=8,
                refine_iters=0, files_per_bucket=1)
        self.vecs = [list(map(float, v))
                     for v in ctx.column("embeddings", "embedding")]
        #: the documents' terms, most frequent first
        freq = Counter(t for text in ctx.column("documents", "text")
                       for t in text.split())
        self.vocab = sorted(freq, key=lambda t: (-freq[t], t))

    def next_op(self, ctx: Ctx) -> Op:
        from cs186_query_optimization_project_spark.functions import (
            retrieval, similarity)

        tr, rng, spark = ctx.tracer, ctx.rng, ctx.spark
        self._n += 1
        if self._n % self.round_ops:
            # two terms past the two most frequent ones
            query = " ".join(self.vocab[int(r)] for r in rng.integers(
                2, min(400, len(self.vocab)), 2))

            def run():
                with tr.span("functions.retrieval.bm25"):
                    df = retrieval.bm25_indexed(spark, self.postings, query,
                                                top_k=10)
                return ctx.run_df(df)
            return Op("read", "bm25", run, lambda rows: self.bm25.append(
                (query, None if rows is None else oracle.spark_canon(rows),
                 ctx.timed)))
        # a stored vector plus noise of about a quarter of its length
        base = self.vecs[int(rng.integers(0, len(self.vecs)))]
        sd = 0.25 / len(base) ** 0.5
        vec = [float(round(x + n, 6))
               for x, n in zip(base, rng.normal(0, sd, len(base)))]

        def run():
            with tr.span("functions.similarity.ivfpq"):
                df = similarity.ivfpq_topk(spark, self.ivfpq, self.emb, vec,
                                           k=10, n_probe=3, n_candidates=200)
            return ctx.run_df(df)
        return Op("read", "ivfpq", run, lambda rows: self.ann.append(
            (vec, None if rows is None else [r["vec_id"] for r in rows])))

    #: a run whose ANN answers average a recall@10 below this counts one
    #: wrong result.  The test embeddings are unclustered unit vectors,
    #: whose ten nearest neighbours lie almost equally far: single
    #: answers of the approximate index dip to 0.4 and run means lie
    #: near 0.7, while a broken index is near 10 / corpus size
    min_recall = 0.3

    def verify(self, ctx: Ctx) -> tuple[int, list]:
        from cs186_query_optimization_project_spark.functions import (
            retrieval, similarity)

        checked, bad = 0, []
        # a seeded sample of the timed answers against the un-indexed
        # ranking (one un-indexed query costs about as much as the op)
        timed = [(q, got) for q, got, in_window in self.bm25 if in_window]
        pick = sorted(ctx.rng.choice(len(timed), min(self.n_bm25_checks,
                                                     len(timed)),
                                     replace=False))
        timed = [timed[i] for i in pick]
        for i, (query, got) in enumerate(timed):
            want = oracle.spark_canon(retrieval.bm25_scores(
                self.docs, query, top_k=10).collect())
            if ctx.corrupt and i == len(timed) - 1:
                want = want[1:]
            checked += 1
            if got is None or got != want:
                bad.append(f"bm25#{i}")
        exact: dict[int, set] = {}
        if self.ann:
            for r in similarity.cosine_topk_batch(
                    self.emb, list(enumerate(v for v, _ in self.ann)),
                    k=10).collect():
                exact.setdefault(r["query_id"], set()).add(r["vec_id"])
        self.recalls = [len(set(got) & exact.get(i, set())) / 10
                        if got is not None else 0.0
                        for i, (_vec, got) in enumerate(self.ann)]
        if self.recalls:
            checked += 1
            if sum(self.recalls) / len(self.recalls) < self.min_recall:
                bad.append("ivfpq:recall")
        return checked, bad

    def extra(self, ctx: Ctx, bytes_before: int) -> dict:
        recalls = getattr(self, "recalls", [])
        return {"ann_recall_at_10": sum(recalls) / len(recalls)
                if recalls else None}


# --------------------------------------------------------------------- #
class ReadMix(Workload):
    """Read-only query traffic of both kinds the package serves: every
    round runs the four relational templates (Q3, Q5, Q10, flagship)
    interleaved with three retrieval queries (two BM25, one IVF-PQ).  One
    run covers the relational planner, the stats layer, Spark execution
    and both retrieval function families."""

    name = "read_mix"
    warmup_ops = 7
    round_ops = 7
    #: O = relational template, R = retrieval query
    pattern = "ORORORO"

    def __init__(self):
        self.olap = OlapOptimal()
        self.retrieval = RetrievalMix()
        self._n = 0

    def setup(self, ctx: Ctx) -> None:
        ctx.collect_stats(*self.olap.stats_tables,
                          *self.retrieval.stats_tables)

    def setup_once(self, ctx: Ctx) -> None:
        self.retrieval.setup_once(ctx)

    def next_op(self, ctx: Ctx) -> Op:
        kind = self.pattern[self._n % self.round_ops]
        self._n += 1
        return (self.olap if kind == "O" else self.retrieval).next_op(ctx)

    def verify(self, ctx: Ctx) -> tuple[int, list]:
        c1, b1 = self.olap.verify(ctx)
        c2, b2 = self.retrieval.verify(ctx)
        return c1 + c2, b1 + b2

    def extra(self, ctx: Ctx, bytes_before: int) -> dict:
        return self.retrieval.extra(ctx, bytes_before)


WORKLOADS = {w.name: w for w in (ReadMix, DmlMixed)}
