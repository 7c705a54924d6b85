"""Stats layer + System-R optimizer tests (analog of the reference's
TableStatsTest / IntHistogramTest / OptimalQueryPlanTest)."""

import datetime
import json
import os
import uuid
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from cs186_query_optimization_project_spark import Database, PartitionedTable
from cs186_query_optimization_project_spark.partitioned import listed_versions
from cs186_query_optimization_project_spark.plans import cost as C
from cs186_query_optimization_project_spark.plans.optimizer import optimize
from cs186_query_optimization_project_spark.plans.stats import (
    BASE_LOG,
    ColumnStats,
    TableStats,
)
from cs186_query_optimization_project_spark.predicates import EQ, GT, GTE, LT
from tests.conftest import SF_DIR_001, duck_rows, rows


def test_stats_basic(db):
    s = db.stats("customer")
    assert s.num_records == db.table("customer").count()
    ck = s.columns["c_custkey"]
    # approx_count_distinct on a unique key: within 5%
    assert abs(ck.distinct - s.num_records) / s.num_records < 0.05
    assert s.columns["c_mktsegment"].distinct == 5
    assert s.row_bytes > 20


def test_reduction_factors(db):
    s = db.stats("customer")
    rf_eq = s.reduction_factor("c_mktsegment", EQ, "BUILDING")
    assert rf_eq == pytest.approx(0.2, abs=0.01)     # 1/V, V=5
    lo, hi = s.columns["c_acctbal"].min, s.columns["c_acctbal"].max
    mid = (lo + hi) / 2
    rf_half = s.reduction_factor("c_acctbal", GT, mid)
    assert 0.3 < rf_half < 0.7                        # interpolation
    assert s.reduction_factor("c_acctbal", GT, hi + 1) == 0.0
    assert s.reduction_factor("c_acctbal", LT, hi + 1) == 1.0


def test_histogram_refines_rf(spark, db):
    s = TableStats.collect(db.table("orders"), "orders", histograms=True)
    assert s.columns["o_totalprice"].histogram
    total = sum(c for _, _, c in s.columns["o_totalprice"].histogram)
    assert total == s.num_records
    # histogram-based RF ≈ true selectivity within a bucket width
    true_sel = (db.table("orders").filter("o_totalprice > 200000").count()
                / s.num_records)
    rf = s.reduction_factor("o_totalprice", GT, 200000.0)
    assert rf == pytest.approx(true_sel, abs=0.08)


def test_with_predicate_scales(db):
    s = db.stats("customer")
    s2 = s.with_predicate("c_mktsegment", EQ, "BUILDING")
    assert s2.num_records == pytest.approx(s.num_records / 5, rel=0.05)


def test_join_cardinality(db):
    c = db.stats("customer")
    o = db.stats("orders")
    est = c.join_cardinality(o, "c_custkey", "o_custkey")
    true = (db.query("customer").join("orders", "c_custkey", "o_custkey")
            .execute().count())
    assert est == pytest.approx(true, rel=0.15)


def test_optimizer_broadcasts_small_dims(db):
    q = (db.query("lineitem")
         .join("orders", "l_orderkey", "o_orderkey")
         .join("customer", "o_custkey", "c_custkey"))
    q.execute_optimal()
    plan = q._last_plan
    assert plan is not None
    # at sf0.001 every table is tiny → everything broadcast-eligible
    assert all(s.strategy == "broadcast" for s in plan.steps)
    assert {s.alias for s in plan.steps} | {plan.base_alias} == \
        {"lineitem", "orders", "customer"}
    assert plan.total_cost_pages > 0


def test_optimizer_join_order_small_first(db):
    # DP should start from a small table pair, not the big fact table
    q = (db.query("lineitem")
         .join("orders", "l_orderkey", "o_orderkey")
         .join("customer", "o_custkey", "c_custkey"))
    plan = optimize(q)
    order = [plan.base_alias] + [s.alias for s in plan.steps]
    # lineitem (biggest) should not be the DP's base access
    assert order[0] != "lineitem"


def test_optimal_equals_naive_results(db):
    q = (db.query("lineitem")
         .join("orders", "l_orderkey", "o_orderkey")
         .join("customer", "o_custkey", "c_custkey")
         .where("c_acctbal", GTE, 0.0)
         .group_by("c_mktsegment").count())
    assert rows(q.execute()) == rows(q.execute_optimal())


def test_optimizer_single_table(db):
    q = db.query("region")
    plan = optimize(q)
    assert plan.steps == [] and plan.base_table == "region"


def test_declared_order_kept_for_outer(db):
    q = (db.query("customer")
         .join("orders", "c_custkey", "o_custkey", how="left")
         .join("nation", "c_nationkey", "n_nationkey"))
    plan = optimize(q)
    assert [s.alias for s in plan.steps] == ["orders", "nation"]
    assert plan.notes


def test_access_path_index_analog(spark, db, tmp_path):
    from cs186_query_optimization_project_spark.sources import writers

    out = str(tmp_path / "orders_idx")
    writers.write_indexed(db.table("orders"), out, ("o_totalprice",),
                          num_files=4)
    db.register_parquet("orders_idx", out, index_columns=("o_totalprice",))
    # unclustered index scan costs ~1 I/O per matching record
    # (IndexScanOperator.java:170–177), so it only beats the seq scan when
    # RF < pages/records (~1/rows_per_page) — pick a cutoff in the top 0.5%
    s = db.stats("orders_idx")
    lo, hi = s.columns["o_totalprice"].min, s.columns["o_totalprice"].max
    cutoff = hi - 0.005 * (hi - lo)
    q = (db.query("orders_idx")
         .where("o_totalprice", GT, cutoff)
         .select("o_orderkey"))
    plan = optimize(q)
    ap = plan.access_paths["orders_idx"]
    assert ap.kind == "INDEXSCAN" and ap.column == "o_totalprice"
    # and a non-selective predicate keeps the seq scan
    q2 = db.query("orders_idx").where("o_totalprice", GT, 0.0)
    ap2 = optimize(q2).access_paths["orders_idx"]
    assert ap2.kind == "SEQSCAN"


def test_spark_strategy_broadcasts_smaller_side():
    from cs186_query_optimization_project_spark.plans.optimizer import (
        BROADCAST_THRESHOLD_BYTES, _spark_strategy)
    big = BROADCAST_THRESHOLD_BYTES * 10
    small = 1024
    assert _spark_strategy(big, small) == "broadcast"        # right small
    assert _spark_strategy(small, big) == "broadcast_left"   # left small
    assert _spark_strategy(big, big // 4) == "shuffle_hash"
    assert _spark_strategy(big, big) == "auto"


def test_broadcast_left_strategy_in_plan(db):
    plan = (db.query("nation")
            .join("lineitem", "n_nationkey", "l_suppkey",
                  strategy="broadcast_left")
            .select("n_name").execute()
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    got = rows(db.query("nation")
               .join("lineitem", "n_nationkey", "l_suppkey",
                     strategy="broadcast_left")
               .group_by("n_name").count().execute())
    want = duck_rows("SELECT n_name, COUNT(*) AS countAgg FROM nation "
                     "JOIN lineitem ON n_nationkey = l_suppkey "
                     "GROUP BY n_name")
    assert got == want


# ------------------------------------------------------------------ #
# statistics of manifest tables: collected bases, derived versions
# ------------------------------------------------------------------ #
_COLLECT = TableStats.__dict__["collect"].__func__


@pytest.fixture
def collects(monkeypatch):
    """The table name of every ``TableStats.collect`` call."""
    calls = []

    def counting(cls, df, name, histograms=False):
        calls.append(name)
        return _COLLECT(cls, df, name, histograms=histograms)
    monkeypatch.setattr(TableStats, "collect", classmethod(counting))
    return calls


def _fresh(db, name):
    """A forced collect of ``name`` at the entry's version (uncounted)."""
    return _COLLECT(TableStats, db.table(name), name)


def _spark_jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"stats-probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "stats probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_derived(spark, db, name, collects):
    """``db.stats(name)`` runs no collect and no Spark job, and agrees
    with a fresh collect at the same version."""
    before = len(collects)
    got, jobs = _spark_jobs(spark, lambda: db.stats(name))
    assert (len(collects) - before, jobs) == (0, 0), name
    want = _fresh(db, name)
    assert got.num_records == want.num_records
    for c, w in want.columns.items():
        g = got.columns[c]
        if w.data_type in ("int", "bigint", "string"):
            assert (g.min, g.max) == (w.min, w.max), c
        assert abs(g.distinct - w.distinct) <= 0.1 * w.distinct, c


def _base_log(root):
    return listed_versions(os.path.join(root, BASE_LOG))


def test_stats_derived_after_catalog_dml(spark, db, tmp_path, collects):
    w = Database(spark)
    w.create_table("cust", db.table("customer"), str(tmp_path / "cust"),
                   index_columns=("c_custkey",))
    w.create_table("sup", db.table("supplier"), str(tmp_path / "sup"))
    w.stats("cust")
    w.stats("sup")
    assert collects == ["cust", "sup"]
    top = w.stats("cust").columns["c_custkey"].max
    new = db.table("customer").filter(F.col("c_custkey") < 3)
    steps = [
        lambda: w.insert_rows("cust", new.withColumn(
            "c_custkey", F.col("c_custkey") + top + 1)),
        lambda: w.update_rows("cust", F.col("c_custkey") < 10,
                              {"c_name": F.concat("c_name", F.lit("~"))}),
        lambda: w.delete_rows("cust", F.col("c_custkey").between(50, 52)),
        lambda: w.merge_rows("cust", new.withColumn(
            "c_custkey", F.col("c_custkey") * 100 + top + 10),
            on="c_custkey"),
    ]
    for step in steps:
        step()
        _assert_derived(spark, w, "cust", collects)
    txn = w.begin()
    txn.update_rows("cust", F.col("c_custkey") == 7,
                    {"c_acctbal": F.col("c_acctbal") + 1})
    txn.update_rows("sup", F.col("s_suppkey") == 3,
                    {"s_acctbal": F.col("s_acctbal") - 1})
    txn.commit()
    _assert_derived(spark, w, "cust", collects)
    _assert_derived(spark, w, "sup", collects)
    assert collects == ["cust", "sup"]
    # a fresh catalog over the same directory derives from the same log
    fresh = Database(spark, str(tmp_path))
    _assert_derived(spark, fresh, "cust", collects)
    assert _base_log(str(tmp_path / "cust")) == [0]


def test_stats_derived_after_partitioned_verbs(spark, db, tmp_path,
                                              collects):
    root = str(tmp_path / "ord")
    pt = PartitionedTable.create(spark, db.table("orders"), root,
                                 "o_orderpriority")
    w = Database(spark)
    w.register_partitioned("ord", root)
    base = w.stats("ord")
    assert collects == ["ord"]
    top = base.columns["o_orderkey"].max
    orders = db.table("orders")

    def shifted(cond, by):
        return pt.read().filter(cond).withColumn(
            "o_orderkey", F.col("o_orderkey") + by)
    urgent = F.col("o_orderpriority") == "1-URGENT"
    steps = [
        lambda: pt.insert(shifted(F.col("o_orderkey") < 40, top)),
        lambda: pt.delete(F.col("o_orderkey").between(100, 130)),
        lambda: pt.update(F.col("o_orderkey") < 200,
                          {"o_orderstatus": F.lit("F")}),
        lambda: pt.merge(
            pt.read().filter(F.col("o_orderkey").between(300, 330))
            .withColumn("o_totalprice", F.col("o_totalprice") + 1)
            .unionByName(shifted(F.col("o_orderkey") < 20, 2 * top)),
            on="o_orderkey"),
        lambda: pt.overwrite_partitions(
            orders.filter(urgent & (F.col("o_orderkey") % 40 != 0)),
            ["1-URGENT"]),
    ]
    for step in steps:
        step()
        # a reader re-resolves the newest version
        w.register_partitioned("ord", root)
        _assert_derived(spark, w, "ord", collects)
    assert collects == ["ord"]
    assert _base_log(root) == [0]
    # a soft delete with recorded counts, away from the key range's ends
    # (under tombstones min/max stay the base's)
    soft = str(tmp_path / "soft")
    spt = PartitionedTable.create(spark, orders, soft, "o_orderpriority")
    w.register_partitioned("soft", soft)
    w.stats("soft")
    spt.delete_soft("o_orderkey BETWEEN 500 AND 520")
    w.register_partitioned("soft", soft)
    _assert_derived(spark, w, "soft", collects)
    assert collects == ["ord", "soft"]


def test_stats_recollect_past_drift(spark, db, tmp_path, collects):
    w = Database(spark)
    root = str(tmp_path / "cust")
    w.create_table("cust", db.table("customer"), root)
    n = w.stats("cust").num_records
    w.delete_rows("cust", F.col("c_custkey") < int(0.15 * n))
    s = w.stats("cust")
    assert collects == ["cust", "cust"]
    assert s.num_records == _fresh(w, "cust").num_records
    assert _base_log(root) == [1]
    # the new base serves the next catalog too
    Database(spark, str(tmp_path)).stats("cust")
    assert collects == ["cust", "cust"]


def test_stats_unusable_base_recollects_once(spark, db, tmp_path, collects):
    w = Database(spark)
    root = str(tmp_path / "ord")
    pt = PartitionedTable.create(spark, db.table("orders"), root,
                                 "o_orderpriority")
    w.register_partitioned("ord", root)
    w.stats("ord")
    # a tombstone of unrecorded cardinality: the rows cannot be counted
    pt.delete_soft("o_orderkey < 10", masked_counts=None)
    w.register_partitioned("ord", root)
    s = w.stats("ord")
    assert collects == ["ord", "ord"]
    assert s.num_records == _fresh(w, "ord").num_records
    assert _base_log(root) == [1]
    with open(os.path.join(root, BASE_LOG, "v1.json"), "w") as f:
        f.write('{"columns": [')
    w.register_partitioned("ord", root)
    w.stats("ord")
    assert collects == ["ord", "ord", "ord"]


def test_stats_base_survives_vacuum(spark, db, tmp_path, collects):
    w = Database(spark)
    root = str(tmp_path / "cust")
    w.create_table("cust", db.table("customer"), root)
    w.stats("cust")
    for k in range(3):
        w.update_rows("cust", F.col("c_custkey") == k,
                      {"c_acctbal": F.lit(0.0)})
    w.vacuum("cust", keep_last=1)
    assert _base_log(root) == [0]
    _assert_derived(spark, Database(spark, str(tmp_path)), "cust", collects)
    assert collects == ["cust"]


def test_base_entry_round_trips_types():
    """A base log entry gives back the Python types ``collect`` returns."""
    cols = [ColumnStats("k", "bigint", 9, 1, 9, histogram=[(1.0, 5.0, 4),
                                                           (5.0, 9.0, 5)]),
            ColumnStats("p", "double", 7, -0.5, 2.25),
            ColumnStats("s", "string", 3, "a", "c", avg_len=1.0),
            ColumnStats("d", "date", 4, datetime.date(2024, 1, 2),
                        datetime.date(2024, 3, 4)),
            ColumnStats("t", "timestamp", 5,
                        datetime.datetime(2024, 1, 2, 3, 4, 5, 6),
                        datetime.datetime(2024, 5, 6, 7, 8, 9)),
            ColumnStats("m", "decimal(12,2)", 6, Decimal("-1.50"),
                        Decimal("12.25")),
            ColumnStats("n", "timestamp_ntz", 8)]
    s = TableStats("t1", 9, 60, {c.name: c for c in cols}, histograms=True)
    back = TableStats.from_json(json.loads(json.dumps(s.to_json())), "t1")
    assert back == s


def test_stats_histogram_base_is_shared(spark, db, tmp_path, collects):
    w = Database(spark)
    w.create_table("cust", db.table("customer"), str(tmp_path / "cust"))
    s = w.stats("cust", histograms=True)
    assert s.columns["c_acctbal"].histogram
    got = Database(spark, str(tmp_path)).stats("cust", histograms=True)
    assert collects == ["cust"]
    assert got.num_records == s.num_records
    assert {c: v.histogram for c, v in got.columns.items()} == \
        {c: v.histogram for c, v in s.columns.items()}


def test_derived_stats_keep_dml_mixed_plans(spark, tmp_path, collects):
    """Ten ~1% mutations in the benchmark's dml_mixed shape: after each,
    the dml_mixed join plans the same with derived statistics as with
    statistics collected at that version."""
    src = Database(spark, SF_DIR_001)
    w = Database(spark)
    w.create_table("cust_w", src.table("customer"), str(tmp_path / "cust"),
                   index_columns=("c_custkey",))
    root = str(tmp_path / "ord")
    pt = PartitionedTable.create(spark, src.table("orders"), root,
                                 "o_orderpriority")
    w.register_partitioned("ord_pt", root)
    n_cust = w.stats("cust_w").num_records // 100
    top_ck = w.stats("cust_w").columns["c_custkey"].max + 1
    top_ok = w.stats("ord_pt").columns["o_orderkey"].max + 1
    span = top_ok // 20     # one priority's rows in it are ~1% of orders
    customer = src.table("customer")

    def cust(i):
        a = 37 * (i + 1) * n_cust % (top_ck - n_cust)
        return F.col("c_custkey").between(a, a + n_cust - 1)

    def ords(i):
        lo = 53 * (i + 1) * span % top_ok
        return ((F.col("o_orderpriority") == "3-MEDIUM")
                & F.col("o_orderkey").between(lo, lo + span))

    def pt_merge(i):
        pt.merge(pt.read().filter(ords(i)).withColumn(
            "o_totalprice", F.col("o_totalprice") * 1.01), on="o_orderkey")
    mutations = [
        lambda: w.update_rows("cust_w", cust(0),
                              {"c_acctbal": F.col("c_acctbal") + 1.5}),
        lambda: pt_merge(0),
        lambda: w.insert_rows("cust_w", customer.filter(cust(1)).withColumn(
            "c_custkey", F.col("c_custkey") + top_ck)),
        lambda: pt.delete(ords(1)),
        lambda: w.delete_rows("cust_w", cust(2)),
        lambda: pt_merge(2),
        lambda: w.merge_rows("cust_w", customer.filter(cust(3)).withColumn(
            "c_acctbal", F.lit(1.0)), on="c_custkey"),
        lambda: pt.delete(ords(3)),
        lambda: w.update_rows("cust_w", cust(4),
                              {"c_acctbal": F.col("c_acctbal") - 1.5}),
        lambda: pt_merge(4),
    ]

    def plan():
        q = (w.query("cust_w").join("ord_pt", "c_custkey", "o_custkey")
             .where("c_mktsegment", EQ, "BUILDING")
             .group_by("o_orderstatus").count("n"))
        p = optimize(q)
        return ([p.base_alias] + [(s.alias, s.how, s.strategy)
                                  for s in p.steps],
                {a: (ap.kind, ap.column)
                 for a, ap in sorted(p.access_paths.items())})
    for mutate in mutations:
        mutate()
        w.register_partitioned("ord_pt", root)
        derived = plan()
        for t in ("cust_w", "ord_pt"):
            w._entry(t).stats = _fresh(w, t)
        assert derived == plan()
    assert collects == ["cust_w", "ord_pt"]
