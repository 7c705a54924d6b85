"""System-R bottom-up join-order search over the fluent builder's intent.

Python re-expression of ``QueryPlan.executeOptimal``
(``db/query/QueryPlan.java:193–226``):

- **Pass 1** (``minCostSingleAccess``, ``QueryPlan.java:291–326``): per
  table, cost a sequential scan vs. an "index" access for every WHERE column
  that is a declared index column (sorted-on-write; ``Database.create_table
  (index_columns=...)``), keep the cheaper, and push all eligible predicates
  down (they scale the table's *stats*, not its scan cost — matching the
  reference).
- **Pass i** (``minCostJoins``, ``QueryPlan.java:406–449``): left-deep DP
  over alias subsets.  For each edge joining the set to a new table, cost
  all four reference join algorithms in both argument orders
  (``minCostJoinType``, ``QueryPlan.java:336–392``) with the page-mode cost
  model, and keep the cheapest expansion per subset.  No Cartesian products,
  left-deep only — exactly the reference's search space.

The winning order is then *re-expressed for Spark*: each step gets a join
strategy hint chosen from byte-level stats (broadcast when the build side
fits the 64 MB threshold, shuffle-hash when one side is much smaller,
otherwise Catalyst/AQE's choice).  The page-model algorithm pick (SNLJ/
PNLJ/BNLJ/GRACEHASH) is kept alongside for explain parity — it is the
*explanation*, the hint is the *action*.  At 100 TB the hints matter: a
dimension table that would sort-merge by default instead broadcasts, and
the big fact-fact join stays a shuffle on the join key.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import TYPE_CHECKING

from cs186_query_optimization_project_spark.errors import QueryPlanException
from cs186_query_optimization_project_spark.plans import cost as C
from cs186_query_optimization_project_spark.plans.stats import TableStats
from cs186_query_optimization_project_spark.predicates import (
    REFERENCE_OPS,
    PredicateOperator,
)
from cs186_query_optimization_project_spark.session import (
    BROADCAST_THRESHOLD_BYTES,
)

if TYPE_CHECKING:  # pragma: no cover
    from cs186_query_optimization_project_spark.plans.builder import ColumnRef, Query

#: Prefer shuffle-hash when the build side is this much smaller than probe.
SHUFFLE_HASH_RATIO = 3.0


@dataclass
class AccessPath:
    alias: str
    table: str
    kind: str                 # "SEQSCAN" | "INDEXSCAN"
    column: str | None        # index column when INDEXSCAN
    cost_pages: int
    stats: TableStats         # post-predicate stats


@dataclass
class JoinStep:
    table: str
    alias: str
    left: "ColumnRef"         # side already in the joined set
    right: "ColumnRef"        # side on the newly added table
    how: str
    strategy: str             # spark hint: auto/broadcast/merge/shuffle_hash
    page_algorithm: C.JoinAlgorithm
    swapped: bool             # page-model argument order (explain only)
    est_cost_pages: int
    est_rows: int


@dataclass
class PlannedQuery:
    base_table: str
    base_alias: str
    steps: list[JoinStep]
    access_paths: dict[str, AccessPath]
    total_cost_pages: int
    est_rows: int
    reordered: bool = False
    notes: list[str] = field(default_factory=list)


# ------------------------------------------------------------------ #
# pass 1: single-table access paths
# ------------------------------------------------------------------ #
def _access_path(query: "Query", alias: str, table: str,
                 buffer_pages: int) -> AccessPath:
    db = query.db
    base_stats: TableStats = db.stats(table)
    wheres = [w for w in query.wheres if w.ref.alias == alias]

    seq_cost = C.cost_seq_scan(
        C.table_pages(base_stats.num_records, base_stats.row_bytes))

    best_kind, best_col, best_cost = "SEQSCAN", None, seq_cost
    index_cols = set(db.index_columns(table))
    for w in wheres:
        # sargable = the reference's comparison subset minus NOT_EQUALS —
        # the SAME rule explain's _naive_index_where applies, so naive
        # and optimal reports agree; the additive ops (LIKE/IN/BETWEEN/
        # IS NULL) can't be served by min/max row-group skipping and
        # must never elect the index path
        if (w.ref.column in index_cols
                and w.op in REFERENCE_OPS
                and w.op is not PredicateOperator.NOT_EQUALS):
            rf = base_stats.reduction_factor(w.ref.column, w.op, w.value)
            # index entry ≈ key + record-id (10 bytes), reference-style
            index_pages = C.table_pages(base_stats.num_records, 10)
            c = C.cost_index_scan(base_stats.num_records, index_pages, rf)
            if c < best_cost:
                best_kind, best_col, best_cost = "INDEXSCAN", w.ref.column, c

    stats = base_stats
    for w in wheres:  # pushDownWheres: predicates scale downstream stats
        stats = stats.with_predicate(w.ref.column, w.op, w.value)
    return AccessPath(alias, table, best_kind, best_col, best_cost, stats)


# ------------------------------------------------------------------ #
# spark strategy from byte stats
# ------------------------------------------------------------------ #
def _spark_strategy(probe_bytes: int, build_bytes: int) -> str:
    if build_bytes <= BROADCAST_THRESHOLD_BYTES:
        return "broadcast"
    if probe_bytes <= BROADCAST_THRESHOLD_BYTES:
        # the ACCUMULATED side is the small one (e.g. a filtered dim set
        # joining a big fact): broadcast left, shuffle nothing
        return "broadcast_left"
    if build_bytes * SHUFFLE_HASH_RATIO <= probe_bytes:
        return "shuffle_hash"
    return "auto"


# ------------------------------------------------------------------ #
# the DP
# ------------------------------------------------------------------ #
@dataclass
class _SubPlan:
    cost: int
    rows: int
    width: int                 # accumulated row bytes
    base_alias: str
    steps: list[JoinStep]
    # column distinct counts surviving in the set, for join cardinality
    distincts: dict[tuple[str, str], int]

    @property
    def pages(self) -> int:
        return C.table_pages(self.rows, max(self.width, 1))


def optimize(query: "Query",
             buffer_pages: int = C.DEFAULT_BUFFER_PAGES) -> PlannedQuery:
    scope = query._scope()
    access: dict[str, AccessPath] = {
        alias: _access_path(query, alias, table, buffer_pages)
        for alias, table, _cols in scope
    }
    alias_table = {alias: table for alias, table, _ in scope}

    if not query.joins:
        ap = access[query.base_alias]
        return PlannedQuery(query.base_table, query.base_alias, [], access,
                            ap.cost_pages, ap.stats.num_records)

    # Non-inner joins pin the declared order (reordering an outer/semi join
    # changes semantics); we still pick per-join strategies from stats.
    if any(j.how != "inner" for j in query.joins):
        return _declared_order_plan(query, access)

    edges = [(j.left.alias, j.left, j.right.alias, j.right, j)
             for j in query.joins]
    for a_alias, _a, b_alias, _b, _j in edges:
        if a_alias not in access or b_alias not in access:
            raise QueryPlanException(
                f"join predicate references alias "
                f"'{a_alias if a_alias not in access else b_alias}' "
                f"not in scope")

    def seed(alias: str) -> _SubPlan:
        ap = access[alias]
        distincts = {(alias, c): s.distinct
                     for c, s in ap.stats.columns.items()}
        return _SubPlan(ap.cost_pages, ap.stats.num_records,
                        ap.stats.row_bytes, alias, [], distincts)

    plans: dict[frozenset, _SubPlan] = {
        frozenset([alias]): seed(alias) for alias in access
    }

    n = len(access)
    for _size in range(1, n):
        next_plans: dict[frozenset, _SubPlan] = {}
        for subset, sub in plans.items():
            if len(subset) != _size:
                continue
            for a_alias, a_ref, b_alias, b_ref, clause in edges:
                # orient the edge: one side in the set, the other new
                if a_alias in subset and b_alias not in subset:
                    in_ref, out_ref = a_ref, b_ref
                elif b_alias in subset and a_alias not in subset:
                    in_ref, out_ref = b_ref, a_ref
                else:
                    continue
                new_alias = out_ref.alias
                ap_new = access[new_alias]
                algo, swapped, jcost = C.min_cost_join(
                    sub.rows, sub.pages,
                    ap_new.stats.num_records,
                    C.table_pages(ap_new.stats.num_records,
                                  ap_new.stats.row_bytes),
                    buffer_pages)
                v_in = sub.distincts.get((in_ref.alias, in_ref.column), 1)
                v_out = ap_new.stats.columns[out_ref.column].distinct
                est_rows = max(
                    int(sub.rows * ap_new.stats.num_records
                        / max(v_in, v_out, 1)), 1)
                # a user-pinned strategy on the join clause wins over the
                # stats-derived hint (reference: JoinType is caller-chosen).
                # The pin names the clause's DECLARED joined table
                # (clause.alias); if the DP's edge orientation adds the
                # OTHER end instead, the declared table now sits on the
                # accumulated (left) side, so a side-specific broadcast
                # pin must flip — otherwise a reordered plan would
                # broadcast the big fact table the user meant to probe
                if clause.strategy != "auto":
                    strategy = clause.strategy
                    if new_alias != clause.alias:
                        strategy = {"broadcast": "broadcast_left",
                                    "broadcast_left": "broadcast",
                                    }.get(strategy, strategy)
                else:
                    strategy = _spark_strategy(
                        probe_bytes=sub.rows * sub.width,
                        build_bytes=ap_new.stats.total_bytes)
                step = JoinStep(
                    table=alias_table[new_alias], alias=new_alias,
                    left=in_ref, right=out_ref, how="inner",
                    strategy=strategy, page_algorithm=algo, swapped=swapped,
                    est_cost_pages=jcost, est_rows=est_rows)
                total = sub.cost + jcost + ap_new.cost_pages
                key = subset | {new_alias}
                distincts = dict(sub.distincts)
                for c, s in ap_new.stats.columns.items():
                    distincts[(new_alias, c)] = s.distinct
                cand = _SubPlan(total, est_rows,
                                sub.width + ap_new.stats.row_bytes,
                                sub.base_alias, sub.steps + [step], distincts)
                prev = next_plans.get(key) or plans.get(key)
                if prev is None or cand.cost < prev.cost:
                    next_plans[key] = cand
        plans.update(next_plans)

    full = frozenset(access)
    if full not in plans:
        raise QueryPlanException(
            "join graph is disconnected — every joined table needs a "
            "predicate linking it to the rest (reference: no Cartesian "
            "products, Project2Spec.md:135)")
    win = plans[full]
    base_alias = win.base_alias
    declared = [query.base_alias] + [j.alias for j in query.joins]
    return PlannedQuery(
        base_table=alias_table[base_alias], base_alias=base_alias,
        steps=win.steps, access_paths=access, total_cost_pages=win.cost,
        est_rows=win.rows,
        reordered=[base_alias] + [s.alias for s in win.steps] != declared)


def _declared_order_plan(query: "Query",
                         access: dict[str, AccessPath]) -> PlannedQuery:
    steps: list[JoinStep] = []
    rows = access[query.base_alias].stats.num_records
    width = access[query.base_alias].stats.row_bytes
    total = access[query.base_alias].cost_pages
    for j in query.joins:
        ap = access[j.alias]
        strategy = (j.strategy if j.strategy != "auto" else _spark_strategy(
            rows * width, ap.stats.total_bytes))
        algo, swapped, jcost = C.min_cost_join(
            rows, C.table_pages(rows, width), ap.stats.num_records,
            C.table_pages(ap.stats.num_records, ap.stats.row_bytes))
        v_out = ap.stats.columns[j.right.column].distinct
        rows = max(int(rows * ap.stats.num_records / max(v_out, 1)), 1)
        if j.how in ("left", "full"):
            rows = max(rows, access[query.base_alias].stats.num_records)
        if j.how in ("semi", "anti"):
            rows = access[query.base_alias].stats.num_records
        width += ap.stats.row_bytes
        total += jcost + ap.cost_pages
        steps.append(JoinStep(j.table, j.alias, j.left, j.right, j.how,
                              strategy, algo, swapped, jcost, rows))
    return PlannedQuery(query.base_table, query.base_alias, steps, access,
                        total, rows,
                        notes=["declared order kept: non-inner join present"])
