"""Fluent relational query builder — the engine's primary user API.

Re-expresses the reference's ``QueryPlan`` builder
(``db/query/QueryPlan.java``): verbs only *record intent*
(``where``/``join``/``select``/``groupBy``/``count``/``sum``/``average``,
``QueryPlan.java:80–158``); ``execute()`` renders the naive fixed pipeline
scan → joins → wheres → group-by → select (``QueryPlan.java:168–184``) and
``execute_optimal()`` runs the System-R search (``QueryPlan.java:193–226``)
first.

Differences from the reference, by design:

- The "physical plan" we emit is one Spark SQL statement — the join chain
  with a hint per join strategy, values as named parameter markers and
  the tables as frame arguments — which Catalyst analyzes once.  It
  applies predicate pushdown, column pruning and join selection
  regardless of the verb order, so the naive and optimal paths return
  identical results and differ only in declared join order + join hints.
- Name resolution follows the reference (dot-qualified ``alias.column``,
  unqualified names resolved against all tables in scope, ambiguity is an
  error — ``db/query/QueryOperator.java:109–156``) but is done eagerly at
  builder time so errors carry engine-level messages.
- Aggregate output columns keep the reference's names ``countAgg`` /
  ``sumAgg`` / ``averageAgg`` (``db/query/SelectOperator.java:118–135``)
  unless the caller aliases them.
- Beyond-reference verbs (min/max, having, order_by, limit, distinct,
  outer/semi/anti joins, multi-column group-by) are additive and documented
  as such (SURVEY.md §2.3–2.5).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from operator import attrgetter
from typing import Any, Callable

from pyspark.sql import Column, DataFrame

from cs186_query_optimization_project_spark.errors import QueryPlanException
from cs186_query_optimization_project_spark.predicates import (
    REFERENCE_OPS,
    PredicateOperator,
    coerce_op,
)

#: Spark join-strategy hints accepted by ``join(strategy=...)``, mapping the
#: reference's JoinType enum (``db/query/JoinOperator.java:19–24``) onto
#: Spark physical strategies: GRACEHASH → shuffle_hash, SNLJ/PNLJ/BNLJ have
#: no physical analog (Spark picks broadcast/SMJ); "auto" lets Catalyst+AQE
#: decide.
JOIN_STRATEGIES = ("auto", "broadcast", "broadcast_left", "merge",
                   "shuffle_hash", "shuffle_replicate_nl")

#: ``join(strategy=...)`` → the Spark SQL hint that names the joined
#: relation ("broadcast_left" hints the accumulated left side instead)
_HINTS = {"broadcast": "BROADCAST", "merge": "MERGE",
          "shuffle_hash": "SHUFFLE_HASH",
          "shuffle_replicate_nl": "SHUFFLE_REPLICATE_NL"}

#: Spark's join-type spellings (``DataFrame.join(how=)``, underscores
#: dropped) → the one spelling a ``JoinClause`` keeps
_JOIN_TYPES = {"inner": "inner", "cross": "cross",
               "outer": "full", "full": "full", "fullouter": "full",
               "left": "left", "leftouter": "left",
               "right": "right", "rightouter": "right",
               "semi": "semi", "leftsemi": "semi",
               "anti": "anti", "leftanti": "anti"}

#: ``JoinClause.how`` → SQL join keywords
_JOIN_SQL = {"inner": "INNER", "cross": "CROSS", "full": "FULL OUTER",
             "left": "LEFT OUTER", "right": "RIGHT OUTER",
             "semi": "LEFT SEMI", "anti": "LEFT ANTI"}


def _braces(text: str) -> str:
    """Escape text for the frame formatter of ``spark.sql(**frames)``."""
    return text.replace("{", "{{").replace("}", "}}")


def _ident(name: str) -> str:
    """A quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


@dataclass(frozen=True)
class ColumnRef:
    """A resolved column: table alias + column name."""

    alias: str
    column: str

    @property
    def qualified(self) -> str:
        return f"{self.alias}.{self.column}"


@dataclass(frozen=True)
class JoinClause:
    table: str
    alias: str
    left: ColumnRef
    right: ColumnRef
    how: str = "inner"  # a key of _JOIN_SQL
    strategy: str = "auto"


@dataclass(frozen=True)
class WhereClause:
    ref: ColumnRef
    op: PredicateOperator
    value: Any

    def sql(self, column_sql: str, bind) -> str:
        return self.op.sql(column_sql, self.value, bind)


@dataclass(frozen=True)
class AggClause:
    func: str  # count / sum / avg / min / max
    #: the argument's SQL text split around its column references:
    #: ``("*",)`` for count(*), ``(ref,)`` for a column, and the pieces of
    #: an arbitrary Column for an expression aggregate (additive), e.g.
    #: ``sum(l_extendedprice * (1 - l_discount))`` — TPC-H-style revenue
    arg: tuple[str | ColumnRef, ...]
    out: str
    #: exact mode: sum/avg over doubles go through DECIMAL(18,4) so the
    #: result is independent of partitioning/summation order (needed for
    #: bit-exact oracle comparison; float addition is not associative)
    exact: bool = False

    def sql(self, ref: Callable[[ColumnRef], str] = attrgetter("qualified")
            ) -> str:
        """The select item ``FUNC(arg) AS out``, with ``ref`` rendering
        each column reference: what the query runs, with the FROM
        clause's references, and explain's ``agg:`` line, with
        ``alias.column``."""
        arg = "".join(p if isinstance(p, str) else ref(p) for p in self.arg)
        if self.exact and self.func in ("sum", "avg"):
            item = f"CAST(SUM(CAST({arg} AS DECIMAL(18,4))) AS DOUBLE)"
            if self.func == "avg":
                item += f" / COUNT({arg})"
        else:
            item = f"{self.func.upper()}({arg})"
        return f"{item} AS {_ident(self.out)}"


@dataclass(frozen=True)
class SelectItem:
    ref: ColumnRef
    out: str  # output column name


class Query:
    """Builder instance; obtained via ``Database.query(table)``.

    Every verb returns ``self`` so calls chain.  Nothing touches Spark until
    ``execute()`` / ``execute_optimal()`` / ``to_df()``.
    """

    def __init__(self, db, table: str, alias: str | None = None):
        self.db = db
        self.base_table = table
        self.base_alias = alias or table
        self.joins: list[JoinClause] = []
        self.wheres: list[WhereClause] = []
        self.col_wheres: list[tuple[ColumnRef, PredicateOperator, ColumnRef]] = []
        self.havings: list[tuple[str, PredicateOperator, Any]] = []
        self.group_bys: list[ColumnRef] = []
        self.aggs: list[AggClause] = []
        self.selects: list[SelectItem] = []
        self.order_bys: list[tuple[ColumnRef | str, bool]] = []
        self.limit_n: int | None = None
        self.distinct_flag = False
        self.strict_reference_mode = False
        self._last_plan = None  # optimizer.PlannedQuery after execute_optimal
        self._plan_intent = None  # _intent_key() snapshot the plan is for

    # ------------------------------------------------------------------ #
    # scope & name resolution (QueryOperator.java:109–156)
    # ------------------------------------------------------------------ #
    def _scope(self) -> list[tuple[str, str, list[str]]]:
        """[(alias, table, columns)] for the base table + every join."""
        out = [(self.base_alias, self.base_table,
                self.db.schema(self.base_table).fieldNames())]
        for j in self.joins:
            out.append((j.alias, j.table, self.db.schema(j.table).fieldNames()))
        return out

    def resolve(self, name: str) -> ColumnRef:
        scope = self._scope()
        if "." in name:
            alias, col = name.split(".", 1)
            for a, _t, cols in scope:
                if a == alias:
                    if col not in cols:
                        raise QueryPlanException(
                            f"table '{alias}' has no column '{col}'")
                    return ColumnRef(alias, col)
            raise QueryPlanException(
                f"no table aliased '{alias}' in scope "
                f"(aliases: {[a for a, _, _ in scope]})")
        matches = [a for a, _t, cols in scope if name in cols]
        if not matches:
            raise QueryPlanException(f"no column '{name}' in scope")
        if len(matches) > 1:
            raise QueryPlanException(
                f"column '{name}' is ambiguous between tables {matches}; "
                f"qualify as 'alias.{name}'")
        return ColumnRef(matches[0], name)

    # ------------------------------------------------------------------ #
    # verbs — reference parity
    # ------------------------------------------------------------------ #
    def join(self, table: str, left_column: str, right_column: str,
             how: str = "inner", alias: str | None = None,
             strategy: str = "auto") -> "Query":
        """Equi-join on one column pair (``QueryPlan.join``,
        ``QueryPlan.java:154–158``).  ``how`` extends the reference's
        inner-only surface with Spark's outer/semi/anti forms; ``strategy``
        pins a physical join hint (GraceHash parity = ``shuffle_hash``)."""
        if strategy not in JOIN_STRATEGIES:
            raise QueryPlanException(
                f"unknown join strategy '{strategy}'; one of {JOIN_STRATEGIES}")
        kind = _JOIN_TYPES.get(how.lower().replace("_", ""))
        if kind is None:
            raise QueryPlanException(
                f"unknown join type '{how}'; one of {sorted(_JOIN_TYPES)}")
        a = alias or table
        if a in {s for s, _, _ in self._scope()}:
            raise QueryPlanException(
                f"alias '{a}' already in scope; pass alias= to disambiguate "
                f"(reference: Transaction.queryAs, db/Database.java:236–252)")
        left = self.resolve(left_column)
        # right column must come from the newly joined table; a qualifier,
        # if present, must name that table's alias (silently re-resolving a
        # wrong qualifier against the new table would hide user typos)
        right_cols = self.db.schema(table).fieldNames()
        if "." in right_column:
            rqual, rname = right_column.split(".", 1)
            if rqual != a:
                raise QueryPlanException(
                    f"join right column '{right_column}' is qualified with "
                    f"'{rqual}' but the joined table's alias is '{a}'")
        else:
            rname = right_column
        if rname not in right_cols:
            raise QueryPlanException(
                f"join right column '{right_column}' not in table '{table}'")
        self.joins.append(JoinClause(table, a, left, ColumnRef(a, rname),
                                     kind, strategy))
        return self

    def where(self, column: str, op: PredicateOperator | str,
              value: Any = None) -> "Query":
        """Single-predicate filter; stacked calls AND together
        (``QueryPlan.java:101–105,527–540``).  ``op`` may be a
        ``PredicateOperator`` or its symbol string (``">"``, ``"="``, …)."""
        try:
            op = coerce_op(op)
        except ValueError as exc:
            raise QueryPlanException(str(exc)) from None
        if self.strict_reference_mode and op not in REFERENCE_OPS:
            raise QueryPlanException(
                f"operator {op.name} is outside the reference predicate "
                f"surface (strict mode)")
        self.wheres.append(WhereClause(self.resolve(column), op, value))
        return self

    def where_columns(self, left_column: str, op: PredicateOperator | str,
                      right_column: str) -> "Query":
        """Column-vs-column predicate (additive; the reference compares a
        column to a literal only).  Applied after all joins — e.g. TPC-H
        Q5's ``c_nationkey = s_nationkey`` correlation."""
        try:
            op = coerce_op(op)
        except ValueError as exc:
            raise QueryPlanException(str(exc)) from None
        if self.strict_reference_mode:
            raise QueryPlanException(
                "where_columns is outside the reference predicate surface "
                "(strict mode)")
        if op not in REFERENCE_OPS:
            raise QueryPlanException(
                f"where_columns supports comparison operators only, got {op.name}")
        self.col_wheres.append(
            (self.resolve(left_column), op, self.resolve(right_column)))
        return self

    def select(self, *columns: str | tuple[str, str]) -> "Query":
        """Projection (``QueryPlan.select``, ``QueryPlan.java:80–90``).
        Each item is a column name or ``(name, output_alias)``."""
        for c in columns:
            name, out = c if isinstance(c, tuple) else (c, None)
            ref = self.resolve(name)
            self.selects.append(SelectItem(ref, out or ref.column))
        return self

    def group_by(self, *columns: str) -> "Query":
        """Reference allows exactly one group column (``QueryPlan.java:
        113–115``); multi-column grouping is the natural Spark extension."""
        if self.strict_reference_mode and (len(columns) != 1 or self.group_bys):
            raise QueryPlanException("reference surface: single group column")
        self.group_bys.extend(self.resolve(c) for c in columns)
        return self

    # groupBy alias for reference-flavored call sites
    groupBy = group_by

    def count(self, out: str = "countAgg") -> "Query":
        """COUNT(*) (``QueryPlan.count``, ``QueryPlan.java:118–124``)."""
        self.aggs.append(AggClause("count", ("*",), out))
        return self

    def sum(self, column: str | Column, out: str = "sumAgg",
            exact: bool = False) -> "Query":
        """SUM over a column name or an arbitrary Column expression
        (expression form is additive — TPC-H revenue style)."""
        arg = (self._expression(column) if isinstance(column, Column)
               else (self.resolve(column),))
        self.aggs.append(AggClause("sum", arg, out, exact))
        return self

    def average(self, column: str, out: str = "averageAgg",
                exact: bool = False) -> "Query":
        """Correct AVG over any numeric column.  (The reference's AVG reads
        values with ``getInt`` — ``SelectOperator.java:295–298`` — making it
        wrong for float columns; we deliberately implement real avg,
        SURVEY.md §1.2.)"""
        self.aggs.append(AggClause("avg", (self.resolve(column),), out,
                                   exact))
        return self

    avg = average

    def _expression(self, column: Column) -> tuple[str | ColumnRef, ...]:
        """A Column's SQL text split around its column references, each
        resolved in scope, so the query renders them as it renders every
        other clause's columns (a ``broadcast_left`` step renames them)."""
        jvm = self.db.spark._jvm
        expr = self.db.spark._jsparkSession.expression(column._jc)
        text = expr.sql()
        # a placeholder name that nothing in the text spells
        mark = "__ref"
        while mark in text:
            mark += "_"
        marks = jvm.java.util.HashMap()  # attribute -> placeholder
        refs: list[ColumnRef] = []
        leaves = expr.collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.nodeName() == "UnresolvedAttribute":
                refs.append(self.resolve(leaf.nameParts().mkString(".")))
                marks.put(leaf, leaf.withName(f"{mark}{len(refs) - 1}"))
        # a Scala Map is the PartialFunction transformUp takes
        text = expr.transformUp(jvm.PythonUtils.toScalaMap(marks)).sql()
        parts = re.split(rf"{mark}(\d+)", text)
        return tuple(p if i % 2 == 0 else refs[int(p)]
                     for i, p in enumerate(parts))

    # ------------------------------------------------------------------ #
    # verbs — additive (beyond-reference, SURVEY.md §2.3–2.5)
    # ------------------------------------------------------------------ #
    def min(self, column: str, out: str = "minAgg") -> "Query":
        self.aggs.append(AggClause("min", (self.resolve(column),), out))
        return self

    def max(self, column: str, out: str = "maxAgg") -> "Query":
        self.aggs.append(AggClause("max", (self.resolve(column),), out))
        return self

    def having(self, column: str, op: PredicateOperator | str,
               value: Any) -> "Query":
        """Filter after aggregation on an agg output name or group column."""
        try:
            op = coerce_op(op)
        except ValueError as exc:
            raise QueryPlanException(str(exc)) from None
        self.havings.append((column, op, value))
        return self

    def order_by(self, column: str, ascending: bool = True) -> "Query":
        self.order_bys.append((column, ascending))
        return self

    def limit(self, n: int) -> "Query":
        self.limit_n = n
        return self

    def distinct(self) -> "Query":
        self.distinct_flag = True
        return self

    def strict(self) -> "Query":
        """Restrict verbs to the exact reference surface (for parity tests)."""
        self.strict_reference_mode = True
        return self

    # ------------------------------------------------------------------ #
    # assembly
    # ------------------------------------------------------------------ #
    def _assemble(self, plan=None) -> DataFrame:
        """Render the whole intent as one SQL statement and analyze it
        once: ``SELECT [hints] [DISTINCT] … FROM`` the left-deep join chain
        ``WHERE … GROUP BY … HAVING … ORDER BY … LIMIT`` — the reference's
        fixed pipeline (``QueryPlan.execute`` order) plus the additive
        tail.  Each table is a frame argument of ``spark.sql``, and each
        value a named parameter marker; braces in every other piece of
        the text are doubled for the frame formatter.

        With ``plan`` (optimizer.PlannedQuery) the join chain follows the
        DP-chosen base table + left-deep step order and hints each step's
        strategy; otherwise the declared order is used verbatim.  Join
        hints name relations, so a ``broadcast_left`` step wraps the
        accumulated left side as a derived table and hints that.

        Predicates on the right side of a semi/anti join go into its ON
        clause, which Catalyst pushes into the right input — those columns
        do not exist in the join output (semi/anti joins emit left columns
        only).  All other predicates keep the reference's filter-after-join
        placement (for outer joins that is the SQL WHERE semantic).
        """
        frames: dict[str, str] = {}  # table -> frame argument name
        args: dict[str, Any] = {}
        columns = {a: cols for a, _t, cols in self._scope()}

        def bind(value: Any) -> str:
            args[f"p{len(args)}"] = value
            return f":p{len(args) - 1}"

        def ref(r: ColumnRef) -> str:
            if (r.alias, r.column) not in refs:
                raise QueryPlanException(
                    f"column '{r.qualified}' is not visible here (a semi/anti "
                    f"join emits its left columns only)")
            return refs[(r.alias, r.column)]

        def relation(table: str, alias: str) -> tuple[str, dict]:
            frame = frames.setdefault(table, f"t{len(frames)}")
            return (f"{{{frame}}} AS {_braces(_ident(alias))}",
                    {(alias, c): f"{_ident(alias)}.{_ident(c)}"
                     for c in columns[alias]})

        def hinted(hints: list[str]) -> str:
            return f"/*+ {', '.join(hints)} */ " if hints else ""

        head = plan or self
        steps = self.joins if plan is None else plan.steps
        # refs: each visible (alias, column) -> its SQL reference
        source, refs = relation(head.base_table, head.base_alias)
        hints: list[str] = []
        pushed: set[str] = set()
        for n, step in enumerate(steps):
            kind = _JOIN_SQL[step.how]
            if step.strategy == "broadcast_left":
                # project the left side under unique names, keeping each
                # column's own name where no other visible column has it
                names = [c for _a, c in refs]
                derived = _ident(f"_l{n}")
                items = []
                for (a, c), sql in refs.items():
                    out = c if names.count(c) == 1 else f"{a}.{c}"
                    items.append(f"{sql} AS {_ident(out)}")
                    refs[(a, c)] = f"{derived}.{_ident(out)}"
                source = (f"(SELECT {_braces(hinted(hints) + ', '.join(items))}"
                          f" FROM {source}) AS {derived}")
                hints = [f"BROADCAST({derived})"]
            elif step.strategy in _HINTS:
                hints.append(f"{_HINTS[step.strategy]}({_ident(step.alias)})")
            right, right_refs = relation(step.table, step.alias)
            on = [f"{ref(step.left)} = "
                  f"{right_refs[(step.right.alias, step.right.column)]}"]
            if kind in ("LEFT SEMI", "LEFT ANTI"):
                pushed.add(step.alias)
                on += [w.sql(right_refs[(w.ref.alias, w.ref.column)], bind)
                       for w in self.wheres if w.ref.alias == step.alias]
            else:
                refs.update(right_refs)
            source += f" {kind} JOIN {right} ON {_braces(' AND '.join(on))}"

        conds = [w.sql(ref(w.ref), bind) for w in self.wheres
                 if w.ref.alias not in pushed]
        conds += [f"{ref(lref)} {op.value} {ref(rref)}"
                  for lref, op, rref in self.col_wheres]

        grouped = bool(self.aggs or self.group_bys)
        if grouped:
            self._check_grouping()
            keys = {(g.alias, g.column): ref(g) for g in self.group_bys}
            picked = ([(keys[(s.ref.alias, s.ref.column)], s.out)
                       for s in self.selects] if self.selects
                      else [(ref(g), g.column) for g in self.group_bys])
            outputs = {out: _ident(out) for _sql, out in picked}
        else:
            picked = ([(ref(s.ref), s.out) for s in self.selects]
                      if self.selects
                      else [(sql, c) for (_a, c), sql in refs.items()])
            outputs = {out: sql for sql, out in picked}
        items = [f"{sql} AS {_ident(out)}" for sql, out in picked]
        items += [a.sql(ref) for a in self.aggs]
        outputs.update({a.out: _ident(a.out) for a in self.aggs})

        havings = []
        for name, op, value in self.havings:
            if name not in outputs:
                raise QueryPlanException(
                    f"having: no output column '{name}' "
                    f"(outputs: {sorted(outputs)})")
            havings.append(op.sql(outputs[name], value, bind))
        if not grouped:  # a filter on a projected column, before DISTINCT
            conds, havings = conds + havings, []

        head = (f"SELECT {hinted(hints)}"
                f"{'DISTINCT ' if self.distinct_flag else ''}"
                f"{', '.join(items)}")
        tail = ""
        if conds:
            tail += f" WHERE {' AND '.join(conds)}"
        if self.group_bys:
            tail += f" GROUP BY {', '.join(keys.values())}"
        if havings:
            tail += f" HAVING {' AND '.join(havings)}"
        if self.order_bys:
            tail += " ORDER BY " + ", ".join(
                f"{self._order_sql(c, ref)} {'ASC' if asc else 'DESC'}"
                for c, asc in self.order_bys)
        if self.limit_n is not None:
            tail += f" LIMIT {int(self.limit_n)}"
        return self.db.spark.sql(
            f"{_braces(head)} FROM {source}{_braces(tail)}", args=args,
            **{f: self.db.table(t) for t, f in frames.items()})

    def _order_sql(self, column: str, ref) -> str:
        """Order-by may target an agg/select output name or a scope column."""
        output_names = {s.out for s in self.selects} | {a.out for a in self.aggs}
        output_names |= {g.column for g in self.group_bys}
        if column in output_names:
            return _ident(column)
        return ref(self.resolve(column))

    def _check_grouping(self) -> None:
        if not self.aggs:
            raise QueryPlanException(
                "group_by requires at least one aggregate "
                "(count/sum/average/min/max)")
        # validate on (alias, column) — a selected column that merely shares
        # its NAME with a grouped column from another table must still error
        group_refs = {(g.alias, g.column) for g in self.group_bys}
        for s in self.selects:
            if (s.ref.alias, s.ref.column) not in group_refs:
                raise QueryPlanException(
                    f"selected column '{s.ref.qualified}' is neither grouped "
                    f"nor aggregated (reference constraint, "
                    f"QueryPlan.java:544–547)")

    # ------------------------------------------------------------------ #
    # execution entry points
    # ------------------------------------------------------------------ #
    def lookup_key(self, column: str, value: Any) -> DataFrame:
        """Point read on the builder (``BPlusTree.lookupKey``,
        ``db/index/BPlusTree.java:106–121``): pushed equality on ``column``,
        executed immediately.  On an index-sorted table the equality
        predicate prunes row groups via min/max stats.

        The probe predicate participates in planning (pushed below any
        projection) but does NOT mutate the builder: repeated probes on
        one builder must not accumulate conflicting equality filters."""
        saved = list(self.wheres)
        try:
            return self.where(column, "=", value)._assemble()
        finally:
            self.wheres[:] = saved

    def contains_key(self, column: str, value: Any) -> bool:
        """``containsKey`` (``BPlusTree.java:123–128``): existence probe;
        ``take(1)`` plans a limit-1 scan that stops at the first match."""
        return bool(self.lookup_key(column, value).take(1))

    def execute(self) -> DataFrame:
        """Naive plan: declared join order, no strategy hints beyond those
        the caller pinned (``QueryPlan.execute``, ``QueryPlan.java:168–184``).
        Catalyst still optimizes the physical plan."""
        return self._assemble()

    def to_df(self) -> DataFrame:
        return self.execute()

    def execute_optimal(self) -> DataFrame:
        """System-R planned execution (``QueryPlan.executeOptimal``,
        ``QueryPlan.java:193–226``): our DP picks the left-deep join order
        and a per-join strategy hint from table stats; Catalyst + AQE take
        it from there."""
        from cs186_query_optimization_project_spark.plans.optimizer import optimize

        plan = optimize(self)
        self._last_plan = plan
        self._plan_intent = self._intent_key()
        return self._assemble(plan=plan)

    executeOptimal = execute_optimal

    def _intent_key(self) -> tuple:
        """Fingerprint of the planning-relevant intent.  Builder clauses
        only ever append, so clause counts (+ the scalar knobs) change
        on every mutation — explain(optimal=True) uses this to refuse a
        cached plan computed for an earlier shape of the query."""
        return (len(self.joins), len(self.wheres), len(self.col_wheres),
                len(self.group_bys), len(self.aggs), len(self.selects),
                len(self.havings), len(self.order_bys), self.limit_n,
                self.distinct_flag)

    def cached_plan(self):
        """The last execute_optimal plan IF the query hasn't been
        mutated since; else None (the caller re-optimizes)."""
        if (self._last_plan is not None
                and self._plan_intent == self._intent_key()):
            return self._last_plan
        return None

    # ------------------------------------------------------------------ #
    # explain (QueryOperator.toString, Project2Spec.md:80–97)
    # ------------------------------------------------------------------ #
    def explain(self, optimal: bool = False) -> str:
        from cs186_query_optimization_project_spark.plans.explain import explain_query

        return explain_query(self, optimal=optimal)

    def __repr__(self) -> str:  # pragma: no cover
        return (f"Query(base={self.base_table}, joins={len(self.joins)}, "
                f"wheres={len(self.wheres)}, groupBy={len(self.group_bys)}, "
                f"aggs={[a.out for a in self.aggs]})")
