"""The query filter DSL: JSON → validated IR → pyspark Column tree.

DSL shape (docs/filters.md:5-31 in the reference):

    {"year": 2022,                      # flat value → {"eq": 2022}
     "fuel": {"like": "%gas%"},         # explicit operator
     "$or": [{"fuel": "Gas"}, {"fuel": "Coal"}]}   # disjunction group

Semantics (queens/core/utils.py:262-334, queens/etl/validation.py:154-249):

- flat scalars normalise to ``{"eq": value}``;
- ``$or`` holds a list of groups (a bare dict is tolerated and treated
  as a list of single-field groups);
- composition is ``(base₁ AND base₂ …) AND (g₁ OR g₂ …)``;
- validation: unknown column → KeyError; column not queryable for the
  target table → NameError; operator not allowed for the column's type
  → ValueError; value not castable / `like` on non-string → TypeError;
- TEXT comparisons are case-insensitive (SQLite ``COLLATE NOCASE``,
  queens/core/utils.py:298-300) — compiled here as ``lower()`` on both
  sides and ``ilike`` for LIKE, which Catalyst still pushes down.

The compiler emits a single ``pyspark.sql.Column``; there is no SQL
text generation from user input anywhere.
"""

from __future__ import annotations

from functools import reduce
from typing import Any, Mapping

from pyspark.sql import Column, functions as F

from queens_spark.core.errors import (
    InvalidOperatorError,
    InvalidValueTypeError,
    NotQueryableError,
    UnknownColumnError,
)
from queens_spark.core.schema import CollectionSchema
from queens_spark.settings import ALL_OPS, OR_KEY, PY_CASTS, VALID_OPS

FilterGroup = dict[str, dict[str, Any]]


# ------------------------------------------------------------ normalise

def to_nested(group: Mapping[str, Any]) -> FilterGroup:
    """``{col: scalar}`` → ``{col: {"eq": scalar}}``; nested dicts pass
    through untouched (queens/core/utils.py:262-279)."""
    out: FilterGroup = {}
    for col, val in group.items():
        out[col] = dict(val) if isinstance(val, Mapping) else {"eq": val}
    return out


def normalize_filters(filters: Mapping[str, Any] | None) -> tuple[FilterGroup, list[FilterGroup]]:
    """Split the raw DSL dict into ``(base_and_group, or_groups)``
    (queens/etl/validation.py:154-180).

    A dict-valued ``$or`` is tolerated: each field becomes its own
    single-field OR group.
    """
    if not filters:
        return {}, []
    work = dict(filters)
    raw_or = work.pop(OR_KEY, None)
    base = to_nested(work)
    or_groups: list[FilterGroup] = []
    if raw_or is None:
        pass
    elif isinstance(raw_or, Mapping):
        or_groups = [to_nested({c: v}) for c, v in raw_or.items()]
    elif isinstance(raw_or, list):
        or_groups = [to_nested(g) for g in raw_or]
    else:
        raise InvalidValueTypeError(
            f"'{OR_KEY}' must be a dict or a list of dicts, got {type(raw_or).__name__}"
        )
    return base, or_groups


# ------------------------------------------------------------- validate

def validate_group(
    group: FilterGroup,
    schema: CollectionSchema,
    queryable: set[str] | None = None,
) -> FilterGroup:
    """Name-resolve, type-check and cast one AND group
    (queens/etl/validation.py:184-249). Returns the group with values
    cast to the column's declared engine type."""
    out: FilterGroup = {}
    for col, ops in group.items():
        if col not in schema.columns:
            raise UnknownColumnError(
                f"column '{col}' is not in the schema for '{schema.name}'"
            )
        if queryable is not None and col not in queryable:
            raise NotQueryableError(
                f"column '{col}' is not queryable for this table"
            )
        sql_type = schema.sql_type_of(col)
        allowed = VALID_OPS.get(sql_type, set())
        cast = PY_CASTS.get(sql_type, str)
        out_ops = {}
        for op, val in ops.items():
            if op not in ALL_OPS or op not in allowed:
                raise InvalidOperatorError(
                    f"operator '{op}' is not valid for {sql_type} column '{col}'"
                )
            if op == "like":
                if not isinstance(val, str):
                    raise InvalidValueTypeError(
                        f"'like' requires a string pattern on '{col}', "
                        f"got {type(val).__name__}"
                    )
                out_ops[op] = val
                continue
            if isinstance(val, bool):
                raise InvalidValueTypeError(
                    f"boolean is not a valid {sql_type} value for '{col}'"
                )
            try:
                out_ops[op] = cast(val)
            except (ValueError, TypeError, OverflowError) as exc:
                raise InvalidValueTypeError(
                    f"cannot cast {val!r} to {sql_type} for '{col}': {exc}"
                ) from None
        out[col] = out_ops
    return out


def validate_filters(
    base: FilterGroup,
    or_groups: list[FilterGroup],
    schema: CollectionSchema,
    queryable: set[str] | None = None,
) -> tuple[FilterGroup, list[FilterGroup]]:
    return (
        validate_group(base, schema, queryable),
        [validate_group(g, schema, queryable) for g in or_groups],
    )


# -------------------------------------------------------------- compile

def _predicate(col: str, op: str, val: Any, sql_type: str) -> Column:
    c = F.col(col)
    if sql_type == "TEXT":
        # COLLATE NOCASE semantics (queens/core/utils.py:298-300).
        if op == "eq":
            return F.lower(c) == F.lower(F.lit(val))
        if op == "neq":
            return F.lower(c) != F.lower(F.lit(val))
        if op == "like":
            return c.ilike(val)
    if sql_type == "DATETIME":
        c = c.cast("timestamp")
        val = F.lit(val).cast("timestamp")
    ops = {
        "eq": lambda: c == val,
        "neq": lambda: c != val,
        "lt": lambda: c < val,
        "lte": lambda: c <= val,
        "gt": lambda: c > val,
        "gte": lambda: c >= val,
    }
    return ops[op]()


def compile_group(group: FilterGroup, schema: CollectionSchema) -> Column:
    """One AND group → conjunction Column; empty group → literal true
    (the reference emits ``1=1``, queens/core/utils.py:300-303)."""
    preds = [
        _predicate(col, op, val, schema.sql_type_of(col))
        for col, ops in group.items()
        for op, val in ops.items()
    ]
    if not preds:
        return F.lit(True)
    return reduce(lambda a, b: a & b, preds)


def compile_filters(
    base: FilterGroup,
    or_groups: list[FilterGroup],
    schema: CollectionSchema,
) -> Column:
    """``(base AND …) AND (g₁ OR g₂ …)`` (queens/core/utils.py:306-334)."""
    expr = compile_group(base, schema)
    if or_groups:
        disjunction = reduce(
            lambda a, b: a | b, (compile_group(g, schema) for g in or_groups)
        )
        expr = expr & disjunction
    return expr


# ------------------------------------------------------------ requests

def _canonical(raw: FilterGroup, valid: FilterGroup) -> tuple:
    """One validated group as a sorted, hashable tuple of
    ``(col, op, type of the value as given, validated value)``. The
    given type keeps values that differ only in type (``2020`` and
    ``"2020"``, a datetime and its ``str``) apart, even where the cast
    makes them equal."""
    return tuple(sorted(
        (col, op, type(raw[col][op]), val)
        for col, ops in valid.items()
        for op, val in ops.items()
    ))


def filter_key(
    filters: Mapping[str, Any] | None,
    schema: CollectionSchema,
    queryable: set[str] | None = None,
) -> tuple:
    """normalise → validate, then a canonical hashable form of the
    validated IR. Pure Python (no py4j call), so it runs on every
    request: a bad filter raises the DSL errors each time, and the two
    spellings of one filter (``{"year": 2020}`` and ``{"year": {"eq":
    2020}}``) give the same key."""
    base, or_groups = normalize_filters(filters)
    vbase, vor = validate_filters(base, or_groups, schema, queryable)
    return _canonical(base, vbase), tuple(
        _canonical(g, vg) for g, vg in zip(or_groups, vor)
    )


def build_filter_expr(
    filters: Mapping[str, Any] | None,
    schema: CollectionSchema,
    queryable: set[str] | None = None,
    forced: Mapping[str, Any] | None = None,
) -> Column:
    """normalise → validate → compile, with *forced* equality predicates
    (the mandatory ``table_name`` filter, queens/api/app.py:112) injected
    into the base group after validation so they can't be overridden.
    Compiling builds the Column over py4j; a caller serving many
    requests of one filter keys a memo on :func:`filter_key` and calls
    this on a miss only."""
    base, or_groups = normalize_filters(filters)
    base, or_groups = validate_filters(base, or_groups, schema, queryable)
    if forced:
        base.update(to_nested(dict(forced)))
    return compile_filters(base, or_groups, schema)
