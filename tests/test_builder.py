"""Builder semantics tests: verb surface, name resolution, naive vs optimal
equivalence, and result parity against the DuckDB oracle (the analog of the
reference's QueryPlanTest / OptimalQueryPlanTest suites)."""

import pytest

from cs186_query_optimization_project_spark.errors import (
    DatabaseException,
    QueryPlanException,
)
from cs186_query_optimization_project_spark.predicates import (
    EQ,
    GT,
    GTE,
    LT,
    LTE,
    NEQ,
    PredicateOperator,
)
from tests.conftest import duck_rows, rows


def test_simple_scan(db):
    assert rows(db.query("region").execute()) == duck_rows(
        "SELECT * FROM region")


def test_where_each_operator(db):
    cases = [
        (EQ, "SELECT * FROM customer WHERE c_mktsegment = 'BUILDING'",
         "c_mktsegment", "BUILDING"),
        (NEQ, "SELECT * FROM customer WHERE c_mktsegment <> 'BUILDING'",
         "c_mktsegment", "BUILDING"),
        (LT, "SELECT * FROM customer WHERE c_acctbal < 0", "c_acctbal", 0),
        (GT, "SELECT * FROM customer WHERE c_acctbal > 9000", "c_acctbal", 9000),
        (GTE, "SELECT * FROM customer WHERE c_nationkey >= 20",
         "c_nationkey", 20),
    ]
    for op, sql, col, val in cases:
        got = rows(db.query("customer").where(col, op, val).execute())
        assert got == duck_rows(sql), op


def test_stacked_wheres_conjunction(db):
    got = rows(db.query("lineitem")
               .where("l_discount", GT, 0.05)
               .where("l_quantity", LT, 10)
               .select("l_orderkey", "l_linenumber")
               .execute())
    assert got == duck_rows(
        "SELECT l_orderkey, l_linenumber FROM lineitem "
        "WHERE l_discount > 0.05 AND l_quantity < 10")


def test_projection(db):
    got = rows(db.query("customer").select("c_name", "c_mktsegment").execute())
    assert got == duck_rows("SELECT c_name, c_mktsegment FROM customer")


def test_projection_with_alias(db):
    df = (db.query("customer")
          .select(("c_name", "name"), ("c_acctbal", "balance")).execute())
    assert df.columns == ["name", "balance"]


def test_group_by_count(db):
    got = rows(db.query("customer").group_by("c_mktsegment").count().execute())
    assert got == duck_rows(
        "SELECT c_mktsegment, COUNT(*) AS countAgg FROM customer "
        "GROUP BY c_mktsegment")


def test_global_agg_no_group(db):
    got = rows(db.query("lineitem").count().sum("l_quantity").execute())
    assert got == duck_rows(
        "SELECT COUNT(*) AS countAgg, SUM(l_quantity) AS sumAgg FROM lineitem")


def test_group_by_sum_avg_min_max(db):
    got = rows(db.query("lineitem")
               .group_by("l_returnflag")
               .sum("l_quantity").average("l_quantity")
               .min("l_extendedprice").max("l_extendedprice")
               .execute())
    assert got == duck_rows(
        "SELECT l_returnflag, SUM(l_quantity) AS sumAgg, "
        "AVG(l_quantity) AS averageAgg, MIN(l_extendedprice) AS minAgg, "
        "MAX(l_extendedprice) AS maxAgg FROM lineitem GROUP BY l_returnflag")


def test_join_two_tables(db):
    got = rows(db.query("nation")
               .join("region", "n_regionkey", "r_regionkey")
               .select("n_name", "r_name").execute())
    assert got == duck_rows(
        "SELECT n_name, r_name FROM nation "
        "JOIN region ON n_regionkey = r_regionkey")


def test_flagship_three_table_join(db):
    q = (db.query("customer")
         .join("orders", "c_custkey", "o_custkey")
         .join("lineitem", "o_orderkey", "l_orderkey")
         .where("l_discount", GT, 0.05)
         .group_by("c_mktsegment")
         .count())
    expected = duck_rows(
        "SELECT c_mktsegment, COUNT(*) AS countAgg FROM customer "
        "JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON o_orderkey = l_orderkey "
        "WHERE l_discount > 0.05 GROUP BY c_mktsegment")
    assert rows(q.execute()) == expected
    assert rows(q.execute_optimal()) == expected


def test_self_join_with_alias(db):
    # reference: Transaction.queryAs (db/Database.java:236–252)
    q = (db.query("nation", alias="n1")
         .join("nation", "n1.n_regionkey", "n_regionkey", alias="n2")
         .select(("n1.n_name", "a"), ("n2.n_name", "b")))
    assert rows(q.execute()) == duck_rows(
        "SELECT n1.n_name AS a, n2.n_name AS b FROM nation n1 "
        "JOIN nation n2 ON n1.n_regionkey = n2.n_regionkey")


def test_duplicate_alias_rejected(db):
    with pytest.raises(QueryPlanException, match="already in scope"):
        db.query("nation").join("nation", "n_regionkey", "n_regionkey")


def test_ambiguous_column_rejected(db):
    q = db.query("nation").join("region", "n_regionkey", "r_regionkey")
    q2 = db.query("customer").join("orders", "c_custkey", "o_custkey")
    # no shared names in TPC-H; force ambiguity via self join
    q3 = (db.query("nation", alias="n1")
          .join("nation", "n1.n_regionkey", "n_regionkey", alias="n2"))
    with pytest.raises(QueryPlanException, match="ambiguous"):
        q3.resolve("n_name")


def test_unknown_column_rejected(db):
    with pytest.raises(QueryPlanException, match="no column"):
        db.query("nation").where("nope", EQ, 1)


def test_unknown_table_rejected(db):
    with pytest.raises(DatabaseException, match="unknown table"):
        db.query("not_a_table")


def test_select_nongrouped_column_rejected(db):
    q = db.query("customer").group_by("c_mktsegment").count()
    q.select("c_name")
    with pytest.raises(QueryPlanException, match="neither grouped"):
        q.execute()


def test_group_without_agg_rejected(db):
    with pytest.raises(QueryPlanException, match="requires at least one"):
        db.query("customer").group_by("c_mktsegment").execute()


def test_strict_mode_blocks_extended_ops(db):
    q = db.query("customer").strict()
    with pytest.raises(QueryPlanException, match="strict"):
        q.where("c_mktsegment", PredicateOperator.IN, ["BUILDING"])


def test_extended_predicates(db):
    got = rows(db.query("customer")
               .where("c_mktsegment", PredicateOperator.IN,
                      ["BUILDING", "MACHINERY"])
               .where("c_acctbal", PredicateOperator.BETWEEN, (0, 5000))
               .select("c_custkey").execute())
    assert got == duck_rows(
        "SELECT c_custkey FROM customer WHERE c_mktsegment IN "
        "('BUILDING','MACHINERY') AND c_acctbal BETWEEN 0 AND 5000")


def test_having_order_limit_distinct(db):
    got = rows(db.query("orders")
               .group_by("o_custkey").count()
               .having("countAgg", GTE, 5)
               .order_by("countAgg", ascending=False)
               .execute())
    assert got == duck_rows(
        "SELECT o_custkey, COUNT(*) AS countAgg FROM orders "
        "GROUP BY o_custkey HAVING COUNT(*) >= 5")
    got2 = rows(db.query("customer").select("c_mktsegment").distinct()
                .execute())
    assert got2 == duck_rows("SELECT DISTINCT c_mktsegment FROM customer")
    assert db.query("customer").limit(7).execute().count() == 7


def test_outer_semi_anti_joins(db):
    got = rows(db.query("customer")
               .join("orders", "c_custkey", "o_custkey", how="left")
               .group_by("c_mktsegment").count().execute())
    assert got == duck_rows(
        "SELECT c_mktsegment, COUNT(*) AS countAgg FROM customer "
        "LEFT JOIN orders ON c_custkey = o_custkey GROUP BY c_mktsegment")
    got = rows(db.query("customer")
               .join("orders", "c_custkey", "o_custkey", how="semi")
               .select("c_custkey").execute())
    assert got == duck_rows(
        "SELECT c_custkey FROM customer WHERE c_custkey IN "
        "(SELECT o_custkey FROM orders)")
    got = rows(db.query("customer")
               .join("orders", "c_custkey", "o_custkey", how="anti")
               .select("c_custkey").execute())
    assert got == duck_rows(
        "SELECT c_custkey FROM customer WHERE c_custkey NOT IN "
        "(SELECT o_custkey FROM orders)")


def test_semi_anti_right_side_predicate_pushed(db):
    # predicates on the semi/anti right side are pushed below the join
    got = rows(db.query("customer")
               .join("orders", "c_custkey", "o_custkey", how="anti")
               .where("o_totalprice", GT, 300000.0)
               .select("c_custkey").execute())
    expected = duck_rows(
        "SELECT c_custkey FROM customer WHERE c_custkey NOT IN "
        "(SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0)")
    assert got == expected and len(got) > 0
    got = rows(db.query("customer")
               .join("orders", "c_custkey", "o_custkey", how="semi")
               .where("o_totalprice", GT, 300000.0)
               .where("c_acctbal", GT, 0.0)
               .select("c_custkey").execute())
    assert got == duck_rows(
        "SELECT c_custkey FROM customer WHERE c_acctbal > 0.0 AND "
        "c_custkey IN (SELECT o_custkey FROM orders "
        "WHERE o_totalprice > 300000.0)")


def test_join_strategy_hints_same_result(db):
    base = duck_rows(
        "SELECT n_name, r_name FROM nation JOIN region "
        "ON n_regionkey = r_regionkey")
    for strategy in ("broadcast", "merge", "shuffle_hash"):
        got = rows(db.query("nation")
                   .join("region", "n_regionkey", "r_regionkey",
                         strategy=strategy)
                   .select("n_name", "r_name").execute())
        assert got == base, strategy


def test_join_strategy_hints_reach_physical_plan(db):
    """Each pinned strategy is the join operator of the executed plan.
    nation is tiny, so Spark would broadcast it unhinted: a plain
    BroadcastHashJoin would not show that a hint arrived."""
    def plan(strategy):
        df = (db.query("lineitem")
              .join("nation", "l_suppkey", "n_nationkey", strategy=strategy)
              .select("n_name").execute())
        return df._jdf.queryExecution().executedPlan().toString()

    for strategy, build in (("broadcast", "BuildRight"),
                            ("broadcast_left", "BuildLeft")):
        p = plan(strategy)
        assert "BroadcastHashJoin" in p and build in p, (strategy, p)
        # the tree prints the left child first: lineitem stays left
        assert p.index("lineitem.parquet") < p.index("nation.parquet"), p
    assert "SortMergeJoin" in plan("merge")
    assert "ShuffledHashJoin" in plan("shuffle_hash")


_ODD = ["it's", "a\\b", "{t0}", "}{", "{{x}}", ":p0", "plain"]


def test_where_values_and_text_reach_spark_unmangled(spark):
    """Dates, decimals, and strings holding quotes, backslashes and
    braces survive as predicate values (=, IN, LIKE, BETWEEN) and inside
    an expression aggregate's string literal."""
    import datetime
    from decimal import Decimal

    from pyspark.sql import functions as F

    from cs186_query_optimization_project_spark import Database

    data = [(s, datetime.date(2020, 1, i + 1), Decimal(f"{i}.25"))
            for i, s in enumerate(_ODD)]
    db = Database(spark)
    db.register_dataframe("odd", spark.createDataFrame(
        data, "s string, d date, x decimal(10,2)"))

    def lit(s):
        return "'" + s.replace("'", "''") + "'"

    values = ", ".join(f"({lit(s)}, DATE '{d}', CAST({x} AS DECIMAL(10,2)))"
                       for s, d, x in data)
    table = f"(VALUES {values}) AS odd(s, d, x)"
    cases = [
        (("s", EQ, "it's"), "s = 'it''s'"),
        (("s", EQ, "a\\b"), "s = 'a\\b'"),
        (("s", EQ, "{t0}"), "s = '{t0}'"),
        (("s", NEQ, ":p0"), "s <> ':p0'"),
        (("s", PredicateOperator.IN, ["}{", "{{x}}", "it's", "a\\b"]),
         "s IN ('}{', '{{x}}', 'it''s', 'a\\b')"),
        (("s", PredicateOperator.LIKE, "%{%"), "s LIKE '%{%'"),
        (("s", PredicateOperator.LIKE, "%'%"), "s LIKE '%''%'"),
        (("d", EQ, datetime.date(2020, 1, 3)), "d = DATE '2020-01-03'"),
        (("d", GTE, datetime.date(2020, 1, 5)), "d >= DATE '2020-01-05'"),
        (("x", EQ, Decimal("2.25")), "x = 2.25"),
        (("x", PredicateOperator.BETWEEN, (Decimal("1.00"), Decimal("3.50"))),
         "x BETWEEN 1.00 AND 3.50"),
    ]
    for (col, op, value), pred in cases:
        got = rows(db.query("odd").where(col, op, value).execute())
        want = duck_rows(f"SELECT * FROM {table} WHERE {pred}")
        assert got == want and got, (col, op, value)

    picked = F.when(F.col("s").isin("{t0}", "}{", "it's"), F.col("x")) \
        .otherwise(F.lit(0))
    q = db.query("odd").sum(picked, out="to{t}al", exact=True)
    # explain's agg: line is the SQL that runs, braces as written
    assert "'{t0}'" in q.explain() and "`to{t}al`" in q.explain()
    got = rows(q.execute())
    assert got == duck_rows(
        "SELECT CAST(SUM(CAST(CASE WHEN s IN ('{t0}', '}{', 'it''s') "
        f"THEN x ELSE 0 END AS DECIMAL(18,4))) AS DOUBLE) FROM {table}")


def test_having_unknown_name_is_plan_error(db):
    q = (db.query("orders").group_by("o_custkey").count()
         .having("cnt", GTE, 5))
    with pytest.raises(QueryPlanException, match="countAgg"):
        q.execute()


def test_broadcast_left_qualified_expression_aggregate(db):
    """broadcast_left wraps the left side as a derived table, which hides
    the aliases inside it: an expression aggregate's qualified columns
    must still resolve, as in a self-join where they cannot go bare."""
    from pyspark.sql import functions as F
    mix = F.col("a.n_nationkey") * 100 + F.col("b.n_nationkey")
    want = duck_rows(
        "SELECT r_name, SUM(a.n_nationkey * 100 + b.n_nationkey) AS s "
        "FROM nation a JOIN nation b ON a.n_regionkey = b.n_regionkey "
        "JOIN region ON b.n_regionkey = r_regionkey GROUP BY r_name")
    for strategy in ("auto", "broadcast_left"):
        q = (db.query("nation", alias="a")
             .join("nation", "a.n_regionkey", "n_regionkey", alias="b",
                   strategy=strategy)
             .join("region", "b.n_regionkey", "r_regionkey",
                   strategy=strategy)
             .group_by("r_name").sum(mix, out="s"))
        assert rows(q.execute()) == want, strategy
    with pytest.raises(QueryPlanException, match="no table aliased 'c'"):
        db.query("nation", alias="a").sum(F.col("c.n_nationkey"))


def test_join_type_spellings_plan_alike(db):
    """Every accepted spelling of a join type is one join type to the
    optimizer: explain(optimal=True) estimates the spellings alike."""
    def explain(how):
        return (db.query("customer")
                .join("orders", "c_custkey", "o_custkey", how=how)
                .explain(optimal=True))
    for short, spellings in (("semi", ("leftsemi", "LEFT_SEMI")),
                             ("anti", ("leftanti", "left_anti")),
                             ("left", ("left_outer", "LeftOuter"))):
        for how in spellings:
            assert explain(how) == explain(short), how

def test_explain_shapes(db):
    q = (db.query("customer")
         .join("orders", "c_custkey", "o_custkey")
         .where("o_totalprice", GT, 1000)
         .group_by("c_mktsegment").count())
    naive = q.explain()
    assert "type: SEQSCAN" in naive and "type: GROUPBY" in naive
    assert "leftColumn: customer.c_custkey" in naive
    q.execute_optimal()
    opt = q.explain(optimal=True)
    assert "sparkStrategy:" in opt and "estIOCost:" in opt


def test_where_accepts_string_operator(db):
    from cs186_query_optimization_project_spark.errors import QueryPlanException
    a = rows(db.query("customer").where("c_mktsegment", EQ, "BUILDING")
             .select("c_custkey").execute())
    b = rows(db.query("customer").where("c_mktsegment", "=", "BUILDING")
             .select("c_custkey").execute())
    c = rows(db.query("customer").where("c_mktsegment", "eq", "BUILDING")
             .select("c_custkey").execute())
    assert a == b == c and len(a) > 0
    with pytest.raises(QueryPlanException, match="unknown predicate"):
        db.query("customer").where("c_custkey", "=>", 5)


def test_select_same_name_other_table_rejected(db):
    # supplier.s_nationkey shares no name with the customer group col, so
    # build the collision via a self-ish case: group by n2's key, select
    # n1's same-named column -> must error, not silently return n2 values
    q = (db.query("nation", alias="n1")
         .join("nation", "n1.n_regionkey", "n_regionkey", alias="n2")
         .group_by("n2.n_nationkey")
         .select("n1.n_nationkey")
         .count())
    with pytest.raises(QueryPlanException, match="neither grouped"):
        q.execute()


def test_join_wrong_right_qualifier_rejected(db):
    with pytest.raises(QueryPlanException, match="qualified with"):
        (db.query("customer", alias="c")
         .join("orders", "c.c_custkey", "c.o_custkey"))


def test_extended_op_rf_with_histograms(db):
    # BETWEEN/IN/LIKE predicates through the optimal path with histogram
    # stats present must not crash the estimator
    from cs186_query_optimization_project_spark.predicates import (
        PredicateOperator as P)
    db.stats("orders", histograms=True)
    out = (db.query("orders")
           .where("o_totalprice", P.BETWEEN, (1000.0, 200000.0))
           .where("o_orderpriority", P.IN, ["1-URGENT", "2-HIGH"])
           .group_by("o_orderstatus").count()
           .execute_optimal())
    assert out.count() > 0


def test_expression_aggregate(db):
    from pyspark.sql import functions as F
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    got = rows(db.query("lineitem")
               .group_by("l_returnflag")
               .sum(revenue, out="rev", exact=True)
               .execute())
    want = duck_rows(
        "SELECT l_returnflag, CAST(SUM(CAST(l_extendedprice * "
        "(1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS rev "
        "FROM lineitem GROUP BY l_returnflag")
    assert got == want


def test_where_columns(db):
    got = rows(db.query("customer")
               .join("orders", "c_custkey", "o_custkey")
               .where_columns("c_acctbal", "<", "o_totalprice")
               .select("c_custkey").distinct()
               .execute())
    want = duck_rows(
        "SELECT DISTINCT c_custkey FROM customer "
        "JOIN orders ON c_custkey = o_custkey "
        "WHERE c_acctbal < o_totalprice")
    assert got == want
    with pytest.raises(QueryPlanException, match="strict"):
        (db.query("customer").strict()
         .where_columns("c_custkey", "=", "c_nationkey"))


def test_naive_explain_takes_index_path(spark, db, tmp_path):
    """generateIndexPlan parity (QueryPlan.java:477–511): the NAIVE plan
    reports an INDEXSCAN for a single-table query with a non-NEQ WHERE on
    an indexed column, consuming that predicate; NEQ, joins, and group-by
    all fall back to SEQSCAN."""
    db.create_table("cust_idx", db.table("customer"),
                    str(tmp_path / "cust_idx"),
                    index_columns=("c_custkey",))
    q = (db.query("cust_idx")
         .where("c_custkey", LTE, 100)
         .where("c_mktsegment", EQ, "BUILDING")
         .select("c_custkey", "c_name"))
    naive = q.explain()
    assert "type: INDEXSCAN" in naive
    assert "column: c_custkey" in naive
    assert "predicate: LESS_THAN_EQUALS" in naive
    # the indexed WHERE is consumed by the scan; the other still stacks
    assert naive.count("type: WHERE") == 1
    assert "column: cust_idx.c_mktsegment" in naive
    # index path reports only; results identical to the plain table
    expected = rows(db.query("customer")
                    .where("c_custkey", LTE, 100)
                    .where("c_mktsegment", EQ, "BUILDING")
                    .select("c_custkey", "c_name").execute())
    assert rows(q.execute()) == expected

    # NEQ on the index column is not index-eligible
    neq = db.query("cust_idx").where("c_custkey", NEQ, 5).explain()
    assert "type: INDEXSCAN" not in neq
    # a group-by disqualifies the shortcut (reference checkIndexEligible)
    grouped = (db.query("cust_idx").where("c_custkey", LTE, 100)
               .group_by("c_mktsegment").count().explain())
    assert "type: INDEXSCAN" not in grouped


def test_tpch_q7_q10_broadcast_dimensions(spark):
    """The nation dimension(s) must broadcast in the new TPC-H entries —
    a shuffle on a 25-row table would be the wrong plan at any scale."""
    import __spark_entry__ as entry
    from tests.conftest import SF_DIR

    for fn in (entry.q_tpch_q7, entry.q_tpch_q10):
        plan = (fn(spark, SF_DIR)
                ._jdf.queryExecution().executedPlan().toString())
        assert "BroadcastHashJoin" in plan, fn.__name__


def test_tpch_q7_nation_filter_pushed_to_scans(spark):
    """Q7's two-nation restriction must reach the supplier and customer
    parquet scans as pushed `In` filters (literal keys resolved from the
    25-row dimension up front) — filtering after the 4-table join would
    discard ~(2/25)^2 of the join output at any scale."""
    import re

    import __spark_entry__ as entry
    from tests.conftest import SF_DIR

    plan = (entry.q_tpch_q7(spark, SF_DIR)
            ._jdf.queryExecution().executedPlan().toString())
    for col in ("s_nationkey", "c_nationkey"):
        assert re.search(rf"PushedFilters: \[[^\]]*In\({col}", plan), (
            f"{col} In-filter not pushed to the parquet scan:\n{plan}")


def test_round6_tpch_plan_shapes(spark):
    """Round-6 TPC-H adaptations: dimension filters must reach the
    parquet scans and the small sides must broadcast — the plan
    properties that keep these queries viable at 100 TB."""
    import re

    import __spark_entry__ as entry
    from tests.conftest import SF_DIR

    # q2: all four dims broadcast; the part filter pushes to its scan
    p2 = (entry.q_tpch_q2(spark, SF_DIR)
          ._jdf.queryExecution().executedPlan().toString())
    assert p2.count("BroadcastHashJoin") >= 4
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(p_type,LARGE\)", p2)
    # q20: date window pushed to the lineitem scan, semi-joins broadcast
    p20 = (entry.q_tpch_q20(spark, SF_DIR)
           ._jdf.queryExecution().executedPlan().toString())
    assert re.search(
        r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_shipdate", p20)
    assert "BroadcastHashJoin" in p20 and "LeftSemi" in p20
    # q12: shipdate window pushed; one equi-join only
    p12 = (entry.q_tpch_q12(spark, SF_DIR)
           ._jdf.queryExecution().executedPlan().toString())
    assert re.search(
        r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_shipdate", p12)


def test_round6_operator_plan_shapes(spark):
    """New operators keep their promised shuffle budgets: the funnel is
    ONE exchange (per-user aggregate only), grouping sets is one Expand
    + aggregate (not one scan per set), and the contamination probe is
    a broadcast join."""
    import __spark_entry__ as entry
    from tests.conftest import SF_DIR

    pf = (entry.q_funnel(spark, SF_DIR)
          ._jdf.queryExecution().executedPlan().toString())
    assert pf.count("Exchange hashpartitioning") == 1, pf
    pg = (entry.q_grouping_sets(spark, SF_DIR)
          ._jdf.queryExecution().executedPlan().toString())
    assert pg.count("Expand") == 1
    assert pg.count("FileScan") == 1
    pc = (entry.q_contamination_check(spark, SF_DIR)
          ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in pc


def test_round6_batch2_plan_shapes(spark):
    """Sketch/retrieval operators keep their promised shapes: the Bloom
    membership test rides the probe SCAN (a Filter with the md5 family,
    no pre-filter join or exchange before it), the HLL sketch partially
    aggregates (map-side combine caps the shuffle at m rows per
    partition), BM25's term filter reaches the postings' source scan,
    and the k-means assignment is pure JVM projection (no Python)."""
    import re

    import __spark_entry__ as entry
    from tests.conftest import SF_DIR

    pb = (entry.q_bloom_semi_join(spark, SF_DIR)
          ._jdf.queryExecution().executedPlan().toString())
    assert re.search(r"Filter .*conv\(substr\(md5", pb)
    ph = (entry.q_hll_distinct(spark, SF_DIR)
          ._jdf.queryExecution().executedPlan().toString())
    assert "partial_max" in ph or re.search(
        r"HashAggregate\(keys=\[register", ph)
    pm = (entry.q_bm25_search(spark, SF_DIR)
          ._jdf.queryExecution().executedPlan().toString())
    assert "token" in pm and "Filter" in pm
    pk = (entry.q_kmeans_clusters(spark, SF_DIR)
          ._jdf.queryExecution().executedPlan().toString())
    assert "Python" not in pk
    # phrase search: every posting-list join is an equi hash join,
    # never a nested loop
    pp = (entry.q_phrase_search(spark, SF_DIR)
          ._jdf.queryExecution().executedPlan().toString())
    assert "NestedLoop" not in pp
