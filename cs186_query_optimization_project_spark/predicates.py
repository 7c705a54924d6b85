"""Typed predicate surface of the query builder.

The reference's entire predicate language is one column compared to one
literal with six operators (enum ``PredicateOperator`` in
``db/query/QueryPlan.java:16–23``; conjunction = stacked WHERE operators,
``QueryPlan.java:527–540``).  We reproduce that enum exactly, then extend it
with the predicate forms Spark gives us for free (IN, BETWEEN, LIKE,
IS NULL) as *additive* members — the parity subset is ``REFERENCE_OPS``.
"""

from __future__ import annotations

import enum
from typing import Any, Callable


class PredicateOperator(enum.Enum):
    EQUALS = "="
    NOT_EQUALS = "!="
    LESS_THAN = "<"
    LESS_THAN_EQUALS = "<="
    GREATER_THAN = ">"
    GREATER_THAN_EQUALS = ">="
    # --- additive, beyond the reference surface ---
    IN = "in"
    NOT_IN = "not in"
    BETWEEN = "between"
    LIKE = "like"
    IS_NULL = "is null"
    IS_NOT_NULL = "is not null"

    def sql(self, column_sql: str, value: Any,
            bind: Callable[[Any], str]) -> str:
        """Render ``column_sql <op> value`` as a Spark SQL predicate.
        ``bind`` turns each value into a parameter marker (``:p0``), so
        values are typed as ``F.lit`` types them and never enter the
        text."""
        if self in _SIMPLE_OPS:
            return f"{column_sql} {self.value} {bind(value)}"
        if self in (PredicateOperator.IN, PredicateOperator.NOT_IN):
            if not value:  # SQL has no empty IN list; Spark's IN () is false
                return "FALSE" if self is PredicateOperator.IN else "TRUE"
            markers = ", ".join(bind(v) for v in value)
            return f"{column_sql} {self.value.upper()} ({markers})"
        if self is PredicateOperator.BETWEEN:
            lo, hi = value
            return f"{column_sql} BETWEEN {bind(lo)} AND {bind(hi)}"
        if self is PredicateOperator.LIKE:
            return f"{column_sql} LIKE {bind(value)}"
        return f"{column_sql} {self.value.upper()}"


_SIMPLE_OPS = {
    PredicateOperator.EQUALS,
    PredicateOperator.NOT_EQUALS,
    PredicateOperator.LESS_THAN,
    PredicateOperator.LESS_THAN_EQUALS,
    PredicateOperator.GREATER_THAN,
    PredicateOperator.GREATER_THAN_EQUALS,
}

#: The six operators that exist in the reference (parity subset).
REFERENCE_OPS = frozenset(_SIMPLE_OPS)

#: Spelling variants accepted by :func:`coerce_op` beyond the enum values.
_OP_SYNONYMS = {
    "==": PredicateOperator.EQUALS,
    "<>": PredicateOperator.NOT_EQUALS,
    "eq": PredicateOperator.EQUALS,
    "neq": PredicateOperator.NOT_EQUALS,
    "lt": PredicateOperator.LESS_THAN,
    "lte": PredicateOperator.LESS_THAN_EQUALS,
    "gt": PredicateOperator.GREATER_THAN,
    "gte": PredicateOperator.GREATER_THAN_EQUALS,
}


def coerce_op(op: "PredicateOperator | str") -> PredicateOperator:
    """Accept an operator as an enum member, its symbol (``">"``), or a
    short name (``"gt"``); raise a readable error otherwise (instead of an
    ``AttributeError`` deep inside plan assembly)."""
    if isinstance(op, PredicateOperator):
        return op
    if isinstance(op, str):
        key = op.strip().lower()
        try:
            return PredicateOperator(key)
        except ValueError:
            if key in _OP_SYNONYMS:
                return _OP_SYNONYMS[key]
    valid = ", ".join(m.value for m in PredicateOperator)
    raise ValueError(
        f"unknown predicate operator {op!r}; expected a PredicateOperator "
        f"or one of: {valid}")

# Short aliases used by the fluent builder, mirroring the reference's enum
# member names.
EQ = PredicateOperator.EQUALS
NEQ = PredicateOperator.NOT_EQUALS
LT = PredicateOperator.LESS_THAN
LTE = PredicateOperator.LESS_THAN_EQUALS
GT = PredicateOperator.GREATER_THAN
GTE = PredicateOperator.GREATER_THAN_EQUALS
