"""Partition-predicate derivation from generated-column expressions.

Delta tables are commonly partitioned on a column *generated* from a data
column (``event_date DATE GENERATED ALWAYS AS (CAST(ts AS DATE))``,
partitioned by ``event_date``). Queries filter on the *source* column
(``ts >= '2024-03-01'``), which names no partition column — so plain
partition pruning sees nothing to prune on and every partition is read.

This module closes that gap the way Delta's own implementations do
(the optimization is part of the Delta generated-columns contract; the
reference kernel carries the ``delta.generationExpression`` metadata key —
kernel/src/schema/mod.rs:253-320 — and delta-spark derives partition
filters for the documented expression shapes): for each supported
generation expression ``part = f(src)``, a predicate over ``src`` implies
a predicate over ``part``:

    src =  L            ⇒  part =  f(L)      (any deterministic f)
    src IN (L1..Ln)     ⇒  part IN (f(L1)..f(Ln))
    src <  L / src <= L ⇒  part <= f(L)      (monotone f only)
    src >  L / src >= L ⇒  part >= f(L)      (monotone f only)

Monotone shapes (order-preserving, so range predicates map to range
predicates): ``CAST(src AS DATE)``, ``DATE_TRUNC(unit, src)``,
``TRUNC(src, fmt)``, ``YEAR(src)``, ``SUBSTRING(src, 1, n)``, and
``DATE_FORMAT(src, fmt)`` for the zero-padded big-endian formats
(``yyyy-MM``, ``yyyy-MM-dd``, ``yyyy-MM-dd-HH``). Non-monotone shapes
(``MONTH``/``DAY``/``HOUR`` — they cycle) derive only from ``=`` / ``IN``.

Soundness: the derived predicate is *implied* by the original (whenever
the original is TRUE on a row, the derived one is TRUE on that row's
partition value), so AND-ing it into the keep-filter can only remove
files containing no matching rows. ``f(L)`` is evaluated by Spark itself
(``F.year(F.lit(L))`` …), never re-implemented in Python, so session
timezone / calendar semantics are exactly the write path's. A literal
whose cast to the source type is NULL makes the comparison UNKNOWN —
kept, never wrongly pruned.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from delta_kernel_rs_spark.functions.partition_codec import parse_partition_column
from delta_kernel_rs_spark.plans.expressions import (
    And,
    Col,
    Compare,
    In,
    Literal,
    Or,
    Predicate,
    normalize,
)

GENERATION_EXPRESSION_KEY = "delta.generationExpression"

_MONOTONE_DATE_FORMATS = (
    "yyyy-MM-dd-HH",
    "yyyy-MM-dd",
    "yyyy-MM",
    "yyyy",
    "yyyyMM",
    "yyyyMMdd",
    "yyyyMMddHH",
)


@dataclass(frozen=True)
class _GenRule:
    """One partition column generated from one source column."""

    part_col: str
    src_col: str
    monotone: bool
    # Applies f to a Column (the literal); mirrors the generation expr.
    fn: object


def _parse_generation_expr(expr: str):
    """Recognize the documented prunable shapes; None outside them.

    Returns (src_col, monotone, fn) — fn maps a literal Column through
    the generation expression using Spark's own functions.
    """
    e = expr.strip()

    m = re.fullmatch(r"(?i)CAST\(\s*`?(\w+)`?\s+AS\s+DATE\s*\)", e)
    if m:
        return m.group(1), True, lambda c: c.cast("date")

    m = re.fullmatch(r"(?i)(YEAR|MONTH|DAY|HOUR)\(\s*`?(\w+)`?\s*\)", e)
    if m:
        fn_name = m.group(1).lower()
        fn = {"year": F.year, "month": F.month, "day": F.dayofmonth, "hour": F.hour}[
            fn_name
        ]
        return m.group(2), fn_name == "year", fn

    m = re.fullmatch(r"(?i)SUBSTRING\(\s*`?(\w+)`?\s*,\s*[01]\s*,\s*(\d+)\s*\)", e)
    if m:
        n = int(m.group(2))
        # the n-char prefix preserves lexicographic order
        return m.group(1), True, lambda c: F.substring(c, 1, n)

    m = re.fullmatch(
        r"(?i)DATE_FORMAT\(\s*`?(\w+)`?\s*,\s*'([^']+)'\s*\)", e
    )
    if m:
        fmt = m.group(2)
        # Non-monotone formats (e.g. 'MM', 'dd-MM') still derive soundly
        # from eq/IN — any deterministic f does — so return monotone=False
        # rather than refusing outright.
        return m.group(1), fmt in _MONOTONE_DATE_FORMATS, (
            lambda c: F.date_format(c, fmt)
        )

    m = re.fullmatch(r"(?i)DATE_TRUNC\(\s*'(\w+)'\s*,\s*`?(\w+)`?\s*\)", e)
    if m:
        unit = m.group(1)
        return m.group(2), True, lambda c: F.date_trunc(unit, c)

    m = re.fullmatch(r"(?i)TRUNC\(\s*`?(\w+)`?\s*,\s*'(\w+)'\s*\)", e)
    if m:
        fmt = m.group(2)
        return m.group(1), True, lambda c: F.trunc(c, fmt)

    return None


def generation_rules(
    schema: T.StructType, partition_columns: list[str]
) -> list[_GenRule]:
    """Prunable (partition ← source) rules carried in the schema metadata."""
    parts = set(partition_columns)
    data_cols = {f.name for f in schema.fields if f.name not in parts}
    rules: list[_GenRule] = []
    for f in schema.fields:
        if f.name not in parts or not f.metadata:
            continue
        expr = f.metadata.get(GENERATION_EXPRESSION_KEY)
        if not isinstance(expr, str):
            continue
        parsed = _parse_generation_expr(expr)
        if parsed is None:
            continue
        src, monotone, fn = parsed
        # the source must be a real (non-partition) data column
        if src in data_cols:
            rules.append(_GenRule(f.name, src, monotone, fn))
    return rules


class _Deriver:
    def __init__(self, schema: T.StructType, rules: list[_GenRule], pv_col_name: str):
        from delta_kernel_rs_spark.functions.schema_codec import physical_name

        self.rules_by_src: dict[str, list[_GenRule]] = {}
        for r in rules:
            self.rules_by_src.setdefault(r.src_col, []).append(r)
        self.types = {f.name: f.dataType for f in schema.fields}
        self.phys = {f.name: physical_name(f) for f in schema.fields}
        self.pv_col_name = pv_col_name

    def _pv(self, part_col: str) -> Column:
        raw = F.col(self.pv_col_name).getItem(self.phys[part_col])
        return parse_partition_column(raw, self.types[part_col])

    def _lit(self, src_col: str, value) -> Column:
        # Cast through the source column's type so f sees exactly what the
        # write path computed from; a lossy cast yields NULL ⇒ UNKNOWN ⇒ keep.
        return F.lit(value).cast(self.types[src_col])

    def derive(self, p: Predicate) -> Column | None:
        """None = nothing derivable from this subtree."""
        if isinstance(p, And):
            parts = [self.derive(c) for c in p.children]
            known = [x for x in parts if x is not None]
            if not known:
                return None
            out = known[0]
            for x in known[1:]:
                out = out & x
            return out
        if isinstance(p, Or):
            parts = [self.derive(c) for c in p.children]
            if any(x is None for x in parts):
                return None  # one unknown disjunct ⇒ the OR implies nothing
            out = parts[0]
            for x in parts[1:]:
                out = out | x
            return out
        if isinstance(p, Compare):
            if isinstance(p.left, Literal) and isinstance(p.right, Col):
                # Canonicalize literal-on-left to col-on-left; swapped()
                # flips the operator too, so dispatch below MUST see the
                # swapped op (L <= src  ≡  src >= L ⇒ part >= f(L)).
                p = p.swapped()
            if isinstance(p.left, Col) and isinstance(p.right, Literal):
                c, v = p.left, p.right
            else:
                return None
            if not c.top_level:
                return None
            out = None
            for r in self.rules_by_src.get(c.path, ()):
                fl = r.fn(self._lit(c.path, v.value))
                pv = self._pv(r.part_col)
                if p.op == "eq":
                    term = pv == fl
                elif p.op in ("lt", "le") and r.monotone:
                    term = pv <= fl
                elif p.op in ("gt", "ge") and r.monotone:
                    term = pv >= fl
                else:
                    continue  # ne derives nothing; ranges need monotonicity
                out = term if out is None else (out & term)
            return out
        if isinstance(p, In):
            if not (isinstance(p.expr, Col) and p.expr.top_level):
                return None
            c = p.expr
            out = None
            for r in self.rules_by_src.get(c.path, ()):
                pv = self._pv(r.part_col)
                term = None
                for v in p.values:
                    eq = pv == r.fn(self._lit(c.path, v))
                    term = eq if term is None else (term | eq)
                if term is None:
                    continue
                out = term if out is None else (out & term)
            return out
        return None


def derived_partition_filter(
    predicate,
    schema: T.StructType,
    partition_columns: list[str],
    pv_col_name: str = "partition_values",
) -> Column | None:
    """Keep-file filter derived from generated-column rules, or None.

    Same keep rule as ``plans/py_skipping``: a file survives unless
    the derived predicate is *definitely* false on its partition values
    (NULL partition value ⇒ UNKNOWN ⇒ kept).
    """
    if not isinstance(predicate, Predicate):
        return None
    rules = generation_rules(schema, partition_columns)
    if not rules:
        return None
    deriver = _Deriver(schema, rules, pv_col_name)
    verdict = deriver.derive(normalize(predicate))
    if verdict is None:
        return None
    return ~verdict.eqNullSafe(F.lit(False))
