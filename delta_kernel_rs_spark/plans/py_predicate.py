"""Pure-Python predicate evaluation for SparkSession-free planning.

The batch facade (sources/batch_source.py) plans in a plain Python worker,
so its predicate pushdown cannot use Spark columns. This module gives the
typed AST (plans/expressions.py, produced by plans/sql_parser.py) three
SparkSession-free backends:

* :func:`eval_3vl` — Kleene three-valued evaluation over a partial row
  (partition values): True/False/None, where None means "unknown — cannot
  prune". Drives exact partition pruning at planning time.
* :func:`substitute` — replace partition-column references with their
  per-file literal values, so the residual can compile per file.
* :func:`to_arrow_expr` — compile to a ``pyarrow.dataset`` Expression for
  executor-side row filtering; pyarrow applies it with row-group
  statistics pruning, mirroring what Catalyst's parquet pushdown does
  JVM-side. Raises :class:`UnsupportedPredicate` for nodes pyarrow cannot
  express — callers must treat the predicate as all-or-nothing (returning
  unfiltered rows under a predicate option would be silently wrong).

Semantics contract: the same 3VL the Spark side implements
(plans/expressions.py to_spark) — comparisons with NULL are unknown,
And/Or are Kleene, NOT(unknown)=unknown.
"""

from __future__ import annotations

import datetime as _dt
from decimal import Decimal, InvalidOperation
from typing import Any

from delta_kernel_rs_spark.plans.expressions import (
    And,
    Arith,
    BoolLiteral,
    Coalesce,
    Col,
    Compare,
    Distinct,
    In,
    IsNotNull,
    IsNull,
    Like,
    Literal,
    Not,
    NotDistinct,
    Or,
    Predicate,
)

_UNKNOWN = object()  # expression value is not computable from the partial row


class UnsupportedPredicate(Exception):
    pass


# ---------------------------------------------------------------------------
# Literal coercion against a table schema
#
# The SQL parser types literals lexically (a quoted token is a Python str
# even when it compares against a DateType partition column), while
# partition values are parsed to their column's Python type. Raw Python
# cross-type equality silently returns False (date == str), which would
# make pruning *wrongly drop files*. Callers coerce the AST's literals to
# the referenced column's type once, up front; anything unconvertible
# raises here rather than mis-pruning later.


def _coerce_value(v: Any, dt) -> Any:
    """Convert a parsed literal to column type ``dt``'s Python domain.

    Only conversions with exact Spark-cast semantics are applied (string →
    date/timestamp/numeric/bool, date → timestamp midnight); numerics stay
    untouched because Python compares int/float/Decimal exactly. Raises
    UnsupportedPredicate when the literal cannot represent a value of the
    column's type — Spark would cast it to NULL, so the caller must not
    fall back to a raw comparison."""
    from pyspark.sql import types as T

    if v is None:
        return None
    try:
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            if isinstance(v, str):
                return int(v.strip())
            return v
        if isinstance(dt, (T.FloatType, T.DoubleType)):
            if isinstance(v, str):
                return float(v.strip())
            if isinstance(v, Decimal):
                # Spark promotes decimal to double when compared against a
                # float column; exact-Decimal comparison would diverge (a
                # file whose max IS the promoted double would be skipped by
                # ``f = 0.1BD`` — caught by tests/test_skipping_fuzz.py)
                return float(v)
            return v
        if isinstance(dt, T.DecimalType):
            if isinstance(v, str):
                return Decimal(v.strip())
            return v
        if isinstance(dt, T.BooleanType):
            if isinstance(v, str):
                low = v.strip().lower()
                if low in ("true", "false"):
                    return low == "true"
                raise ValueError(v)
            return v
        if isinstance(dt, T.DateType):
            if isinstance(v, str):
                return _dt.date.fromisoformat(v.strip())
            return v
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            if isinstance(v, str):
                return _dt.datetime.fromisoformat(v.strip())
            if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
                return _dt.datetime(v.year, v.month, v.day)
            return v
    except (ValueError, InvalidOperation):
        raise UnsupportedPredicate(
            f"literal {v!r} is not castable to column type {dt.simpleString()}"
        ) from None
    return v


def coerce_literals(p: Predicate, schema) -> Predicate:
    """Rewrite ``p`` so every literal compared against a schema column is in
    that column's Python domain (see module note). ``schema`` is the table's
    logical StructType; nested struct fields resolve by dotted path."""
    from pyspark.sql import types as T

    types: dict[str, Any] = {}

    def collect(prefix: str, st) -> None:
        for f in st.fields:
            path = f"{prefix}{f.name}"
            types[path] = f.dataType
            if isinstance(f.dataType, T.StructType):
                collect(path + ".", f.dataType)

    collect("", schema)

    def col_type(e):
        return types.get(e.path) if isinstance(e, Col) else None

    def fix_pair(a, b):
        ta, tb = col_type(a), col_type(b)
        if ta is not None and isinstance(b, Literal):
            b = Literal(_coerce_value(b.value, ta))
        if tb is not None and isinstance(a, Literal):
            a = Literal(_coerce_value(a.value, tb))
        return a, b

    def walk(node: Predicate) -> Predicate:
        if isinstance(node, Compare):
            a, b = fix_pair(node.left, node.right)
            return Compare(node.op, a, b)
        if isinstance(node, (Distinct, NotDistinct)):
            a, b = fix_pair(node.left, node.right)
            return type(node)(a, b)
        if isinstance(node, In):
            t = col_type(node.expr)
            if t is not None:
                return In(node.expr, tuple(_coerce_value(v, t) for v in node.values))
            return node
        if isinstance(node, And):
            return And(tuple(walk(c) for c in node.children))
        if isinstance(node, Or):
            return Or(tuple(walk(c) for c in node.children))
        if isinstance(node, Not):
            return Not(walk(node.child))
        return node

    return walk(p)


def _py_comparable(a: Any, b: Any) -> bool:
    """Whether raw Python comparison of ``a`` and ``b`` has SQL semantics.

    bool is an int subclass and datetime a date subclass, so both need
    explicit handling; mixed families (date vs str, int vs str) must NOT
    compare raw — Python eq would return a silently-wrong False."""
    if isinstance(a, bool) or isinstance(b, bool):
        return isinstance(a, bool) and isinstance(b, bool)
    num = (int, float, Decimal)
    if isinstance(a, num) and isinstance(b, num):
        return True
    if isinstance(a, _dt.datetime) or isinstance(b, _dt.datetime):
        return isinstance(a, _dt.datetime) and isinstance(b, _dt.datetime)
    if isinstance(a, _dt.date) and isinstance(b, _dt.date):
        return True
    return type(a) is type(b)


# ---------------------------------------------------------------------------
# 3VL evaluation over a partial row


def _eval_expr(e, row: dict[str, Any], known: set[str]):
    """Expression value; _UNKNOWN when it depends on absent columns,
    None for SQL NULL."""
    if isinstance(e, Literal):
        return e.value
    if isinstance(e, Col):
        return row.get(e.path) if e.path in known else _UNKNOWN
    if isinstance(e, Arith):
        a = _eval_expr(e.left, row, known)
        b = _eval_expr(e.right, row, known)
        if a is _UNKNOWN or b is _UNKNOWN:
            return _UNKNOWN
        if a is None or b is None:
            return None
        try:
            if e.op == "plus":
                return a + b
            if e.op == "minus":
                return a - b
            if e.op == "multiply":
                return a * b
            if e.op == "divide":
                return None if b == 0 else a / b
            if e.op == "mod":
                return None if b == 0 else a % b
        except TypeError:
            return _UNKNOWN
        return _UNKNOWN
    if isinstance(e, Coalesce):
        for child in e.exprs:
            v = _eval_expr(child, row, known)
            if v is _UNKNOWN:
                return _UNKNOWN
            if v is not None:
                return v
        return None
    return _UNKNOWN


_CMP = {
    "lt": lambda a, b: a < b,
    "le": lambda a, b: a <= b,
    "gt": lambda a, b: a > b,
    "ge": lambda a, b: a >= b,
    "eq": lambda a, b: a == b,
    "ne": lambda a, b: a != b,
}


def eval_3vl(p: Predicate, row: dict[str, Any], known: set[str]) -> bool | None:
    """Kleene evaluation; None = unknown (e.g. references a data column)."""
    if isinstance(p, BoolLiteral):
        return p.value
    if isinstance(p, Compare):
        a = _eval_expr(p.left, row, known)
        b = _eval_expr(p.right, row, known)
        if a is _UNKNOWN or b is _UNKNOWN:
            return None
        if a is None or b is None:
            return None  # SQL NULL comparison
        if not _py_comparable(a, b):
            return None  # cross-type: unknown, never a silent False
        try:
            return bool(_CMP[p.op](a, b))
        except TypeError:
            return None
    if isinstance(p, IsNull):
        v = _eval_expr(p.expr, row, known)
        return None if v is _UNKNOWN else v is None
    if isinstance(p, IsNotNull):
        v = _eval_expr(p.expr, row, known)
        return None if v is _UNKNOWN else v is not None
    if isinstance(p, (Distinct, NotDistinct)):
        a = _eval_expr(p.left, row, known)
        b = _eval_expr(p.right, row, known)
        if a is _UNKNOWN or b is _UNKNOWN:
            return None
        if a is not None and b is not None and not _py_comparable(a, b):
            return None
        try:
            same = (a is None and b is None) or (
                a is not None and b is not None and a == b
            )
        except TypeError:
            return None
        return (not same) if isinstance(p, Distinct) else same
    if isinstance(p, In):
        v = _eval_expr(p.expr, row, known)
        if v is _UNKNOWN:
            return None
        if v is None:
            return None
        vals = [x for x in p.values if x is not None]
        incomparable = False
        for x in vals:
            if not _py_comparable(v, x):
                incomparable = True
                continue
            try:
                if v == x:
                    return True
            except TypeError:
                incomparable = True
        if incomparable:
            return None
        return None if len(vals) != len(p.values) else False  # NULL in list
    if isinstance(p, Like):
        if "\\" in p.pattern:
            return None  # escape semantics not modeled — never prune
        v = _eval_expr(p.expr, row, known)
        if v is _UNKNOWN or v is None:
            return None
        if not isinstance(v, str):
            return None
        return _like_match(p.pattern, v)
    if isinstance(p, And):
        verdicts = [eval_3vl(c, row, known) for c in p.children]
        if any(v is False for v in verdicts):
            return False
        if any(v is None for v in verdicts):
            return None
        return True
    if isinstance(p, Or):
        verdicts = [eval_3vl(c, row, known) for c in p.children]
        if any(v is True for v in verdicts):
            return True
        if any(v is None for v in verdicts):
            return None
        return False
    if isinstance(p, Not):
        v = eval_3vl(p.child, row, known)
        return None if v is None else (not v)
    return None  # opaque / unknown node kinds cannot prune


def _like_match(pattern: str, value: str) -> bool:
    """SQL LIKE (%, _) as a full-string regex match; DOTALL so wildcards
    cross newlines, matching Spark/SQL semantics."""
    import re

    rx = "".join(
        ".*" if ch == "%" else "." if ch == "_" else re.escape(ch) for ch in pattern
    )
    return re.fullmatch(rx, value, flags=re.DOTALL) is not None


# ---------------------------------------------------------------------------
# Partition-column substitution (per-file residual)


def substitute(p: Predicate, row: dict[str, Any], known: set[str]) -> Predicate:
    """Replace references to ``known`` columns with their literal values."""

    def sub_e(e):
        if isinstance(e, Col) and e.path in known:
            return Literal(row.get(e.path))
        if isinstance(e, Arith):
            return Arith(e.op, sub_e(e.left), sub_e(e.right))
        if isinstance(e, Coalesce):
            return Coalesce(tuple(sub_e(c) for c in e.exprs))
        return e

    if isinstance(p, Compare):
        return Compare(p.op, sub_e(p.left), sub_e(p.right))
    if isinstance(p, IsNull):
        return IsNull(sub_e(p.expr))
    if isinstance(p, IsNotNull):
        return IsNotNull(sub_e(p.expr))
    if isinstance(p, Distinct):
        return Distinct(sub_e(p.left), sub_e(p.right))
    if isinstance(p, NotDistinct):
        return NotDistinct(sub_e(p.left), sub_e(p.right))
    if isinstance(p, In):
        return In(sub_e(p.expr), p.values)
    if isinstance(p, Like):
        return Like(sub_e(p.expr), p.pattern)
    if isinstance(p, And):
        return And(tuple(substitute(c, row, known) for c in p.children))
    if isinstance(p, Or):
        return Or(tuple(substitute(c, row, known) for c in p.children))
    if isinstance(p, Not):
        return Not(substitute(p.child, row, known))
    return p


# ---------------------------------------------------------------------------
# pyarrow dataset Expression compilation


class _CastTs:
    """Arrow-compile-internal marker: read ``col`` as timestamp[us]
    (tz=UTC when ``tz``), expressing Spark's DATE → TIMESTAMP promotion.
    Never escapes :func:`to_arrow_expr`."""

    __slots__ = ("col", "tz")

    def __init__(self, col: Col, tz: bool):
        self.col = col
        self.tz = tz

    def __repr__(self):  # pragma: no cover - debug aid
        return f"_CastTs({self.col!r}, tz={self.tz})"


def _temporal_kinds(schema) -> dict[str, str]:
    """Logical path → 'tz' (TimestampType) / 'ntz' (TimestampNTZType) /
    'date' (DateType) / 'int' (integral types)."""
    from pyspark.sql import types as T

    kinds: dict[str, str] = {}

    def collect(prefix: str, st) -> None:
        for f in st.fields:
            path = f"{prefix}{f.name}"
            if isinstance(f.dataType, T.TimestampType):
                kinds[path] = "tz"
            elif isinstance(f.dataType, T.TimestampNTZType):
                kinds[path] = "ntz"
            elif isinstance(f.dataType, T.DateType):
                kinds[path] = "date"
            elif isinstance(
                f.dataType, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
            ):
                kinds[path] = "int"
            elif isinstance(f.dataType, T.StructType):
                collect(path + ".", f.dataType)

    collect("", schema)
    return kinds


def _align_temporal(p: Predicate, kinds: dict[str, str]) -> Predicate:
    """Align temporal operands with their Arrow storage types, mirroring
    Spark's implicit promotions (session tz pinned to UTC, session.py;
    the engine's literal domain is naive-means-UTC):

    * naive datetime literal vs TimestampType column → literal gains UTC
      tzinfo (parquet stores ``timestamp[us, tz=UTC]``; Arrow refuses
      aware-vs-naive comparisons outright — found by test_facade_fuzz,
      seed 20260815: every ``ts <cmp> TIMESTAMP literal`` residual crashed
      with ArrowTypeError before this pass);
    * aware literal vs TimestampNTZ column → naive UTC;
    * DateType column vs datetime (literal or timestamp column) → the DATE
      side is wrapped in :class:`_CastTs`, compiling to an expression-level
      cast to timestamp — Spark promotes DATE to TIMESTAMP at comparison,
      so ``d = TIMESTAMP '... 12:00'`` is False for every date, NOT
      floored to the day (the same bug test_skipping_fuzz shrank out of
      the Column stats rewriter that preceded plans/py_skipping);
    * tz vs ntz column comparison is refused — no Arrow spelling keeps
      both 3VL and instant semantics."""

    def col_kind(e) -> str | None:
        return kinds.get(e.path) if isinstance(e, Col) else None

    def lit_dt(e) -> bool:
        return isinstance(e, Literal) and isinstance(e.value, _dt.datetime)

    def to_aware(v: _dt.datetime) -> _dt.datetime:
        return v.replace(tzinfo=_dt.timezone.utc) if v.tzinfo is None else v

    def to_naive(v: _dt.datetime) -> _dt.datetime:
        if v.tzinfo is not None:
            return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v

    def fix_pair(a, b):
        ka, kb = col_kind(a), col_kind(b)
        if {ka, kb} == {"tz", "ntz"}:
            raise UnsupportedPredicate(
                "timestamp vs timestamp_ntz column comparison has no Arrow form"
            )
        # literal ↔ column alignment
        if lit_dt(a) and kb:
            a = Literal(to_aware(a.value) if kb == "tz" else to_naive(a.value))
        if lit_dt(b) and ka:
            b = Literal(to_aware(b.value) if ka == "tz" else to_naive(b.value))
        # DATE promotion: cast the date column when the other side is a
        # datetime (column or literal)
        if ka == "date" and (kb in ("tz", "ntz") or lit_dt(b)):
            a = _CastTs(a, tz=kb == "tz")
        if kb == "date" and (ka in ("tz", "ntz") or lit_dt(a)):
            b = _CastTs(b, tz=ka == "tz")
        return a, b

    def walk(node: Predicate) -> Predicate:
        if isinstance(node, Compare):
            a, b = fix_pair(node.left, node.right)
            return Compare(node.op, a, b)
        if isinstance(node, (Distinct, NotDistinct)):
            a, b = fix_pair(node.left, node.right)
            return type(node)(a, b)
        if isinstance(node, In):
            k = col_kind(node.expr)
            if k == "tz":
                vals = tuple(
                    to_aware(v) if isinstance(v, _dt.datetime) else v
                    for v in node.values
                )
                return In(node.expr, vals)
            if k == "ntz":
                vals = tuple(
                    to_naive(v) if isinstance(v, _dt.datetime) else v
                    for v in node.values
                )
                return In(node.expr, vals)
            if k == "int" and any(isinstance(v, Decimal) for v in node.values):
                # Arrow's is_in cannot promote int64 against decimal values
                # ("Precision is not great enough", found by
                # test_facade_fuzz seed 777); integral decimals ARE ints and
                # fractional decimals can never equal one — dropping them is
                # exact, and an emptied list becomes the NULL-preserving
                # never-true ``e != e``
                vals = tuple(
                    int(v) if isinstance(v, Decimal) else v
                    for v in node.values
                    if not isinstance(v, Decimal) or v == v.to_integral_value()
                )
                if not vals:
                    return Compare("ne", node.expr, node.expr)
                return In(node.expr, vals)
            if k == "date" and any(
                isinstance(v, _dt.datetime) for v in node.values
            ):
                # promote the whole list to timestamp midnight/naive
                vals = tuple(
                    to_naive(v)
                    if isinstance(v, _dt.datetime)
                    else _dt.datetime(v.year, v.month, v.day)
                    if isinstance(v, _dt.date)
                    else v
                    for v in node.values
                )
                return In(_CastTs(node.expr, tz=False), vals)
            return node
        if isinstance(node, And):
            return And(tuple(walk(c) for c in node.children))
        if isinstance(node, Or):
            return Or(tuple(walk(c) for c in node.children))
        if isinstance(node, Not):
            return Not(walk(node.child))
        return node

    return walk(p)


def to_arrow_expr(
    p: Predicate, name_map: dict[str, str] | None = None, schema=None
):
    """Compile to a pyarrow Expression (logical → physical names via
    ``name_map``; datetime literals tz-aligned to ``schema``'s timestamp
    columns when given). Raises UnsupportedPredicate for inexpressible
    nodes."""
    import pyarrow.dataset as pads

    nm = name_map or {}
    if schema is not None:
        kinds = _temporal_kinds(schema)
        if kinds:
            p = _align_temporal(p, kinds)

    def field(path: str):
        if "." in path:
            # nested references are resolvable, but physical renames for
            # nested fields are not modeled here — refuse rather than
            # silently misread
            raise UnsupportedPredicate(f"nested column reference: {path}")
        return pads.field(nm.get(path, path))

    def expr(e):
        if isinstance(e, Literal):
            import pyarrow as pa

            return pads.scalar(e.value) if e.value is not None else pads.scalar(
                pa.scalar(None)
            )
        if isinstance(e, Col):
            return field(e.path)
        if isinstance(e, _CastTs):
            import pyarrow as pa

            out = expr(e.col).cast(pa.timestamp("us"))
            if e.tz:
                # date32 → naive midnight → assume-UTC instant (session tz
                # is pinned to UTC, so this IS Spark's promotion)
                out = out.cast(pa.timestamp("us", tz="UTC"))
            return out
        if isinstance(e, Arith):
            a, b = expr(e.left), expr(e.right)
            if e.op == "plus":
                return a + b
            if e.op == "minus":
                return a - b
            if e.op == "multiply":
                return a * b
            if e.op == "divide":
                return a / b
            raise UnsupportedPredicate(f"arithmetic op {e.op}")
        raise UnsupportedPredicate(f"expression node {type(e).__name__}")

    if isinstance(p, BoolLiteral):
        if p.value is None:
            raise UnsupportedPredicate("NULL boolean literal")
        return pads.scalar(bool(p.value))
    if isinstance(p, Compare):
        a, b = expr(p.left), expr(p.right)
        return {
            "lt": a < b,
            "le": a <= b,
            "gt": a > b,
            "ge": a >= b,
            "eq": a == b,
            "ne": a != b,
        }[p.op]
    if isinstance(p, IsNull):
        return expr(p.expr).is_null()
    if isinstance(p, IsNotNull):
        return expr(p.expr).is_valid()
    if isinstance(p, (NotDistinct, Distinct)):
        import pyarrow.compute as pc

        a, b = expr(p.left), expr(p.right)
        # ``a == b`` is NULL (not False) when exactly one side is NULL, and
        # a null verdict flips observably under an enclosing NOT — <=> must
        # never be NULL, so coalesce the equality to False first (found by
        # test_facade_fuzz seed 20260815 pred#9: ``p <=> NULL`` inside
        # NOT(AND(...)) dropped rows Spark keeps)
        same = pc.coalesce(a == b, pads.scalar(False)) | (
            a.is_null() & b.is_null()
        )
        return same if isinstance(p, NotDistinct) else ~same
    if isinstance(p, In):
        import pyarrow as pa
        import pyarrow.compute as pc

        if any(v is None for v in p.values):
            # a NULL in the list makes every non-match UNKNOWN; that is not
            # representable as a bare isin, and "drop the NULL" flips the
            # verdict under an enclosing NOT — refuse instead
            raise UnsupportedPredicate("IN list containing NULL")
        e = expr(p.expr)
        # Arrow's is_in maps NULL input to False; SQL says NULL — keep the
        # verdict NULL so an enclosing NOT cannot resurrect the row (found
        # by test_facade_fuzz seed 20260815 pred#17: facade returned rows
        # Spark excludes)
        return pc.if_else(
            e.is_valid(), e.isin(list(p.values)), pa.scalar(None, pa.bool_())
        )
    if isinstance(p, Like):
        import pyarrow.compute as pc

        return pc.match_like(expr(p.expr), p.pattern)
    if isinstance(p, And):
        out = to_arrow_expr(p.children[0], nm)
        for c in p.children[1:]:
            out = out & to_arrow_expr(c, nm)
        return out
    if isinstance(p, Or):
        out = to_arrow_expr(p.children[0], nm)
        for c in p.children[1:]:
            out = out | to_arrow_expr(c, nm)
        return out
    if isinstance(p, Not):
        return ~to_arrow_expr(p.child, nm)
    raise UnsupportedPredicate(f"predicate node {type(p).__name__}")
