"""Expression / predicate AST.

Mirrors the reference's untyped expression language
(kernel/src/expressions/mod.rs — ``Expression`` :464-521, ``Predicate``
:529-559): literals, column paths, arithmetic, coalesce, 3VL comparisons,
IS [NOT] NULL, IS DISTINCT FROM, AND/OR junctions, NOT.

Why an AST instead of raw Spark Columns: the data-skipping evaluator
(plans/py_skipping.py) must *transform* predicates (``a < 10`` ⇒
``minValues.a < 10``), which requires introspectable structure. ``to_spark``
lowers any node to a Spark Column for the actual data filter — like the
reference, the same predicate drives both the file filter and the row
filter (kernel/src/scan/data_skipping.rs).

NOT is never evaluated directly — it is pushed down, inverting children
(reference kernel/src/expressions/mod.rs:533-538 — ``NOT(a<b)`` ⇒
``a>=b``), so the skipping evaluator only ever sees positive forms.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F


def _needs_safe_lit(value: Any) -> bool:
    return isinstance(value, _dt.date) and value.year < 1000


def safe_lit(value: Any) -> Column:
    """``F.lit`` that survives py4j's Date/Timestamp string conversion.

    py4j converts ``datetime.date`` via ``Date.valueOf(strftime('%Y-%m-%d'))``
    (and datetimes via the Timestamp twin); ``strftime`` does NOT zero-pad
    years < 1000, so ``date(1, 1, 1)`` becomes ``"1-01-01"`` and the JVM
    throws. Spell such literals as an ISO-8601 string cast instead —
    ``isoformat()`` zero-pads — keeping the exact same typed literal in the
    plan (found by test_partition_fuzz on the Column skipping rewriter's
    partition-value compare, since replaced by plans/py_skipping)."""
    if isinstance(value, _dt.datetime):
        if value.year < 1000:
            return F.lit(value.isoformat(sep=" ")).cast("timestamp")
        return F.lit(value)
    if isinstance(value, _dt.date) and value.year < 1000:
        return F.lit(value.isoformat()).cast("date")
    return F.lit(value)


# ---------------------------------------------------------------------------
# Expressions
# ---------------------------------------------------------------------------
class Expr:
    def to_spark(self) -> Column:
        raise NotImplementedError

    # comparisons → predicates
    def __lt__(self, other) -> "Predicate":
        return Compare("lt", self, _as_expr(other))

    def __le__(self, other) -> "Predicate":
        return Compare("le", self, _as_expr(other))

    def __gt__(self, other) -> "Predicate":
        return Compare("gt", self, _as_expr(other))

    def __ge__(self, other) -> "Predicate":
        return Compare("ge", self, _as_expr(other))

    def __eq__(self, other) -> "Predicate":  # type: ignore[override]
        return Compare("eq", self, _as_expr(other))

    def __ne__(self, other) -> "Predicate":  # type: ignore[override]
        return Compare("ne", self, _as_expr(other))

    __hash__ = object.__hash__

    # arithmetic
    def __add__(self, other) -> "Expr":
        return Arith("plus", self, _as_expr(other))

    def __sub__(self, other) -> "Expr":
        return Arith("minus", self, _as_expr(other))

    def __mul__(self, other) -> "Expr":
        return Arith("multiply", self, _as_expr(other))

    def __truediv__(self, other) -> "Expr":
        return Arith("divide", self, _as_expr(other))

    def __mod__(self, other) -> "Expr":
        return Arith("mod", self, _as_expr(other))

    def is_null(self) -> "Predicate":
        return IsNull(self)

    def is_not_null(self) -> "Predicate":
        return IsNotNull(self)


@dataclass(frozen=True, eq=False)
class Literal(Expr):
    value: Any

    def to_spark(self) -> Column:
        return safe_lit(self.value)


@dataclass(frozen=True, eq=False)
class Col(Expr):
    """Dotted column path; descends nested structs (reference
    kernel/src/expressions/column_names.rs)."""

    path: str

    def to_spark(self) -> Column:
        return F.col(self.path)

    @property
    def top_level(self) -> bool:
        return "." not in self.path


@dataclass(frozen=True, eq=False)
class Arith(Expr):
    op: str  # plus | minus | multiply | divide | mod
    left: Expr
    right: Expr

    def to_spark(self) -> Column:
        a, b = self.left.to_spark(), self.right.to_spark()
        return {
            "plus": a + b,
            "minus": a - b,
            "multiply": a * b,
            "divide": a / b,
            "mod": a % b,
        }[self.op]


@dataclass(frozen=True, eq=False)
class Coalesce(Expr):
    exprs: tuple[Expr, ...]

    def to_spark(self) -> Column:
        return F.coalesce(*[e.to_spark() for e in self.exprs])


@dataclass(frozen=True, eq=False)
class StructExpr(Expr):
    """Struct constructor with optional row-keep predicate (reference
    Expression::Struct, kernel/src/expressions/mod.rs:473-487): with a keep
    predicate the struct is NULL for non-matching rows —
    ``CASE WHEN p THEN struct(...) END``."""

    fields: tuple[tuple[str, Expr], ...]
    keep: "Predicate | None" = None

    def to_spark(self) -> Column:
        s = F.struct(*[e.to_spark().alias(name) for name, e in self.fields])
        if self.keep is None:
            return s
        return F.when(self.keep.to_spark(), s)


@dataclass(frozen=True)
class FieldEdit:
    op: str  # 'set' (insert-or-replace) | 'drop'
    name: str
    expr: "Expr | None" = None


@dataclass(frozen=True, eq=False)
class StructPatch(Expr):
    """Sparse O(edits) struct edit (reference kernel/src/struct_patch.rs):
    keep/replace/insert/drop fields of an input struct without enumerating
    untouched fields. Lowers to Spark ``withField``/``dropFields`` chains —
    the by-name semantics match the reference; Spark appends newly-inserted
    fields at the end rather than at a requested position (positional
    placement is cosmetic for by-name consumers)."""

    input_path: str
    edits: tuple[FieldEdit, ...]

    def to_spark(self) -> Column:
        col = F.col(self.input_path)
        for e in self.edits:
            if e.op == "drop":
                col = col.dropFields(e.name)
            else:
                col = col.withField(e.name, e.expr.to_spark())
        return col


class StructPatchBuilder:
    """Validating builder (reference StructPatchBuilder): one edit per
    field name; conflicting set+drop on the same field is rejected."""

    def __init__(self, input_path: str):
        self._input_path = input_path
        self._edits: list[FieldEdit] = []
        self._names: set[str] = set()

    def _add(self, edit: FieldEdit) -> "StructPatchBuilder":
        if edit.name in self._names:
            raise ValueError(f"conflicting edits for field {edit.name!r}")
        self._names.add(edit.name)
        self._edits.append(edit)
        return self

    def set(self, name: str, expr: "Expr") -> "StructPatchBuilder":
        """Insert a new field or replace an existing one."""
        return self._add(FieldEdit("set", name, expr))

    def drop(self, name: str) -> "StructPatchBuilder":
        return self._add(FieldEdit("drop", name))

    def build(self) -> StructPatch:
        return StructPatch(self._input_path, tuple(self._edits))


# ---------------------------------------------------------------------------
# Predicates (3VL)
# ---------------------------------------------------------------------------
class Predicate:
    def to_spark(self) -> Column:
        raise NotImplementedError

    def __and__(self, other: "Predicate") -> "Predicate":
        return And((self, other))

    def __or__(self, other: "Predicate") -> "Predicate":
        return Or((self, other))

    def __invert__(self) -> "Predicate":
        return invert(self)


_INVERSE_CMP = {"lt": "ge", "le": "gt", "gt": "le", "ge": "lt", "eq": "ne", "ne": "eq"}
_SWAP_CMP = {"lt": "gt", "le": "ge", "gt": "lt", "ge": "le", "eq": "eq", "ne": "ne"}


@dataclass(frozen=True, eq=False)
class Compare(Predicate):
    op: str  # lt | le | gt | ge | eq | ne
    left: Expr
    right: Expr

    def to_spark(self) -> Column:
        a, b = self.left.to_spark(), self.right.to_spark()
        return {
            "lt": a < b,
            "le": a <= b,
            "gt": a > b,
            "ge": a >= b,
            "eq": a == b,
            "ne": a != b,
        }[self.op]

    def swapped(self) -> "Compare":
        return Compare(_SWAP_CMP[self.op], self.right, self.left)


@dataclass(frozen=True, eq=False)
class IsNull(Predicate):
    expr: Expr

    def to_spark(self) -> Column:
        return self.expr.to_spark().isNull()


@dataclass(frozen=True, eq=False)
class IsNotNull(Predicate):
    expr: Expr

    def to_spark(self) -> Column:
        return self.expr.to_spark().isNotNull()


@dataclass(frozen=True, eq=False)
class Distinct(Predicate):
    """IS DISTINCT FROM — null-safe (reference mod.rs:80-83)."""

    left: Expr
    right: Expr

    def to_spark(self) -> Column:
        return ~self.left.to_spark().eqNullSafe(self.right.to_spark())


@dataclass(frozen=True, eq=False)
class NotDistinct(Predicate):
    left: Expr
    right: Expr

    def to_spark(self) -> Column:
        return self.left.to_spark().eqNullSafe(self.right.to_spark())


@dataclass(frozen=True, eq=False)
class In(Predicate):
    """value IN (list of literals)."""

    expr: Expr
    values: tuple[Any, ...]

    def to_spark(self) -> Column:
        if any(_needs_safe_lit(v) for v in self.values):
            # py4j's Date/Timestamp converters reject year < 1000; expand
            # to the OR-of-equals form IN is defined as (same 3VL,
            # including NULL members) so every literal goes through
            # safe_lit.
            out = None
            for v in self.values:
                eq = self.expr.to_spark() == safe_lit(v)
                out = eq if out is None else (out | eq)
            return out if out is not None else F.lit(False)
        return self.expr.to_spark().isin(list(self.values))


@dataclass(frozen=True, eq=False)
class Like(Predicate):
    """SQL LIKE with ``%``/``_`` wildcards (no ESCAPE clause).

    Skipping: a literal pattern prefix prunes on string min/max bounds
    (plans/py_skipping); patterns starting with a wildcard are residual
    row filters only."""

    expr: Expr
    pattern: str

    def to_spark(self) -> Column:
        return self.expr.to_spark().like(self.pattern)


@dataclass(frozen=True, eq=False)
class And(Predicate):
    children: tuple[Predicate, ...]

    def to_spark(self) -> Column:
        out = self.children[0].to_spark()
        for c in self.children[1:]:
            out = out & c.to_spark()
        return out


@dataclass(frozen=True, eq=False)
class Or(Predicate):
    children: tuple[Predicate, ...]

    def to_spark(self) -> Column:
        out = self.children[0].to_spark()
        for c in self.children[1:]:
            out = out | c.to_spark()
        return out


@dataclass(frozen=True, eq=False)
class Not(Predicate):
    child: Predicate

    def to_spark(self) -> Column:
        return ~self.child.to_spark()


@dataclass(frozen=True, eq=False)
class BoolLiteral(Predicate):
    value: bool | None

    def to_spark(self) -> Column:
        return F.lit(self.value)


@dataclass(frozen=True, eq=False)
class OpaquePredicate(Predicate):
    """Engine-defined predicate (the UDF surface) — reference
    OpaquePredicateOp, expressions/mod.rs:194-275.

    ``fn`` builds the evaluation Column from the child Columns;
    ``skipping_fn`` (optional) is the ``as_data_skipping_predicate``
    callback: given the skipping evaluator, the children and one file's
    parsed stats, return that file's verdict (True / False / None;
    ``FileSkipEvaluator._min``/``_max``/``_null_count`` read the stats).
    Without it the op poisons skipping as NULL — the file is never pruned,
    and the documented safety rule holds because our scans always re-apply
    the predicate as the residual row filter.
    """

    name: str
    children: tuple[Expr, ...]
    fn: Any  # Callable[[list[Column]], Column]
    skipping_fn: Any = None  # Callable[[evaluator, children, stats], bool | None]
    negated: bool = False

    def to_spark(self) -> Column:
        out = self.fn([c.to_spark() for c in self.children])
        return ~out if self.negated else out

    def inverted(self) -> "OpaquePredicate":
        return OpaquePredicate(
            self.name, self.children, self.fn, self.skipping_fn, not self.negated
        )


@dataclass(frozen=True, eq=False)
class UnknownPredicate(Predicate):
    """Unevaluable op (reference Unknown, mod.rs:503-511): NEVER evaluated;
    treated as NULL for data skipping ONLY — the actual filter must not
    assume NULL (our scans keep the user's own residual filter)."""

    name: str

    def to_spark(self) -> Column:  # pragma: no cover - contract
        raise NotImplementedError(
            f"unknown predicate {self.name!r} cannot be evaluated"
        )


def invert(p: Predicate) -> Predicate:
    """Push NOT down, inverting children (reference mod.rs:533-538)."""
    if isinstance(p, Compare):
        return Compare(_INVERSE_CMP[p.op], p.left, p.right)
    if isinstance(p, IsNull):
        return IsNotNull(p.expr)
    if isinstance(p, IsNotNull):
        return IsNull(p.expr)
    if isinstance(p, Distinct):
        return NotDistinct(p.left, p.right)
    if isinstance(p, NotDistinct):
        return Distinct(p.left, p.right)
    if isinstance(p, And):  # De Morgan
        return Or(tuple(invert(c) for c in p.children))
    if isinstance(p, Or):
        return And(tuple(invert(c) for c in p.children))
    if isinstance(p, Not):
        return p.child
    if isinstance(p, BoolLiteral):
        return BoolLiteral(None if p.value is None else not p.value)
    if isinstance(p, OpaquePredicate):
        return p.inverted()
    if isinstance(p, UnknownPredicate):
        return p  # NOT(unknown) is just as unknown
    return Not(p)


def normalize(p: Predicate) -> Predicate:
    """Eliminate Not nodes by pushing inversions to the leaves."""
    if isinstance(p, Not):
        inv = invert(p.child)
        if isinstance(inv, Not) and inv.child is p.child:
            # uninvertible leaf (e.g. LIKE): keep the Not in place — the
            # skipping evaluator treats it as unknown, never prunes on it
            return inv
        return normalize(inv)
    if isinstance(p, And):
        return And(tuple(normalize(c) for c in p.children))
    if isinstance(p, Or):
        return Or(tuple(normalize(c) for c in p.children))
    return p


def column_paths(node) -> set[str]:
    """The column paths an expression or predicate references."""
    out: set[str] = set()

    def walk(n) -> None:
        if isinstance(n, Col):
            out.add(n.path)
        for attr in ("expr", "left", "right", "child"):
            sub = getattr(n, attr, None)
            if sub is not None:
                walk(sub)
        for sub in getattr(n, "children", None) or getattr(n, "exprs", None) or ():
            walk(sub)

    walk(node)
    return out


# ---------------------------------------------------------------------------
# Builders
# ---------------------------------------------------------------------------
def col(path: str) -> Col:
    return Col(path)


def lit(value: Any) -> Literal:
    return Literal(value)


def _as_expr(v: Any) -> Expr:
    if isinstance(v, Expr):
        return v
    if isinstance(v, (int, float, str, bool, bytes, _dt.date, _dt.datetime)) or v is None:
        return Literal(v)
    raise TypeError(f"cannot coerce {type(v)} to an expression")
