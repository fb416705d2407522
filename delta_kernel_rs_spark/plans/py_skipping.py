"""File skipping from Delta ``add.stats`` and partition values: the one
data-skipping evaluator.

``Scan`` (sources/scan.py) filters the version's driver-side Arrow scan
rows with it before any Spark plan exists, and the batch facade
(sources/batch_source.py) prunes its read tasks with it inside a plain
Python worker with no SparkSession. Both call :meth:`FileSkipEvaluator.keep`,
which answers "may this file contain a row matching the predicate?" for
each file from its parsed stats document and typed partition values,
following the reference rules (kernel/src/scan/data_skipping.rs:32-52):

    a < 10   ⇒  minValues.a < 10
    a > 10   ⇒  maxValues.a > 10
    a = 10   ⇒  minValues.a <= 10 AND maxValues.a >= 10
    a != 10  ⇒  NOT (minValues.a = 10 AND maxValues.a = 10)
    a IS NULL     ⇒  nullCount.a > 0
    a IS NOT NULL ⇒  nullCount.a < numRecords
    AND / OR     Kleene; NOT eliminated up front (expressions.normalize)

plus the keep-rule ``skip iff verdict is definitively False`` (reference
``DataSkippingFilter``, data_skipping.rs:92-223) — missing stats,
unrewritable atoms, and NULL comparisons all keep the file. Comparisons
are null-intolerant (SQL WHERE): a file whose column is all NULL never
matches one. An :class:`~expressions.UnknownPredicate` is unknown; an
:class:`~expressions.OpaquePredicate` is unknown unless it carries a
``skipping_fn`` hook.

Partition-column atoms evaluate exactly with py_predicate.eval_3vl over
the typed partition row (a NULL partition value makes a comparison
FALSE, not unknown), so partition pruning and stats skipping are one
filter, as in the reference.

Soundness rules:

* float/double stats parse back through ``float`` (shortest-roundtrip
  JSON repr), never Decimal — a Decimal parse understates a written max
  ("0.1" < the double it denotes), which would wrongly skip ``x >= max``.
* string comparisons bail (→ unknown) when either operand contains a
  code point >= U+D800: Python compares code points while the stats were
  written under JVM UTF-16 code-unit order, and the two orders diverge
  exactly for astral-plane strings.
* timestamp max stats are ms-floored on write (functions/stats.py), so
  the effective upper bound widens by 999µs (reference
  ``adjust_scalar_for_max_stat_truncation``).
* literals are compared in Python's exact domain, so a fractional
  literal against an integer column or a timestamp against a date column
  compares exactly instead of through a lossy cast.

This module is differentially fuzzed against Spark row evaluation in
tests/test_skipping_fuzz.py.
"""

from __future__ import annotations

import datetime as _dt
import json
from decimal import Decimal, InvalidOperation
from typing import Any

from pyspark.sql import types as T

from delta_kernel_rs_spark.plans.expressions import (
    And,
    BoolLiteral,
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
    OpaquePredicate,
    Or,
    Predicate,
)
from delta_kernel_rs_spark.plans.py_predicate import (
    _CMP,
    _py_comparable,
    eval_3vl,
)

_MISSING = object()  # stat not present for this column/file
_NUMBERS = (int, float)  # exact types: bool is not a number here
#: predicate column sets whose parsed stats a ``keep`` cache holds
_PARSED_PER_TABLE = 4


def _utf16_unsafe(*vals) -> bool:
    """True when any string operand could order differently under JVM
    UTF-16 code-unit comparison than under Python code points."""
    for v in vals:
        if isinstance(v, str) and any(ord(ch) >= 0xD800 for ch in v):
            return True
    return False


def _norm_ts(v: Any) -> Any:
    """tz-aware datetimes → naive UTC so mixed parses compare."""
    if isinstance(v, _dt.datetime) and v.tzinfo is not None:
        return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return v


def _cmp3(op: str, a: Any, b: Any) -> bool | None:
    """SQL-3VL comparison of two Python-domain values; None = unknown."""
    if type(a) in _NUMBERS and type(b) in _NUMBERS:  # the common case, first
        return _CMP[op](a, b)
    if a is None or b is None or a is _MISSING or b is _MISSING:
        return None
    a, b = _norm_ts(a), _norm_ts(b)
    if not _py_comparable(a, b) or _utf16_unsafe(a, b):
        return None
    try:
        return bool(_CMP[op](a, b))
    except TypeError:
        return None


def _k_and(*vs) -> bool | None:
    if False in vs:
        return False
    return None if None in vs else True


def _k_or(*vs) -> bool | None:
    if True in vs:
        return True
    return None if None in vs else False


def _map_entries(col) -> list[tuple]:
    """A map column → one tuple of (key, value) entries per row (a NULL
    map has none), read from the flat key and value arrays: converting a
    map column row by row costs ~13 µs a row."""
    col = col.combine_chunks()
    offsets = col.offsets.to_pylist()
    start, end = offsets[0], offsets[-1]
    keys = col.keys.slice(start, end - start).to_pylist()
    items = col.items.slice(start, end - start).to_pylist()
    return [
        tuple(zip(keys[a - start : b - start], items[a - start : b - start]))
        for a, b in zip(offsets, offsets[1:])
    ]


class FileSkipEvaluator:
    """Per-table evaluator; :meth:`keep` filters a table of scan rows,
    :meth:`verdict` decides one file.

    The predicate must already be literal-coerced
    (py_predicate.coerce_literals) and normalized (expressions.normalize)
    by the caller.
    """

    def __init__(
        self,
        schema: T.StructType,
        partition_columns: list[str],
        configuration: dict | None = None,
        clustering_cols: tuple = (),
    ):
        from delta_kernel_rs_spark.functions.schema_codec import physical_name
        from delta_kernel_rs_spark.functions.stats import (
            eligible_stats_columns,
            stats_selection,
        )

        self.pcols = set(partition_columns)
        data_fields = [f for f in schema.fields if f.name not in self.pcols]
        selection = stats_selection(configuration)
        selection["required"] = selection["required"] | frozenset(clustering_cols)
        self.stat_types = {
            f.name: f.dataType
            for f in eligible_stats_columns(T.StructType(data_fields), **selection)
        }
        self.types = {f.name: f.dataType for f in schema.fields}
        self.phys = {f.name: physical_name(f) for f in schema.fields}
        self._stat_names = {self.phys[n]: n for n in self.stat_types}
        #: id(atom) → how _atom evaluates it (see _atom_kind), for the
        #: predicate of the current keep/verdict call
        self._atom_kinds: dict[int, Any] = {}

    def keep(self, p: Predicate, files, parsed_cache: dict | None = None) -> list[bool]:
        """Keep mask over an Arrow table of files with a
        ``partition_values`` map (physical keys) and a ``stats`` JSON
        column: False only where the file provably holds no matching
        row.

        ``parsed_cache`` keeps the parsed stats of ``files`` per set of
        predicate columns, for a caller that filters the same immutable
        table again with an evaluator of the same table schema."""
        from delta_kernel_rs_spark.plans.expressions import column_paths

        self._atom_kinds = {}
        names = frozenset(self.phys[c] for c in column_paths(p) if c in self.stat_types)
        parsed = None if parsed_cache is None else parsed_cache.get(names)
        if parsed is None:
            parsed = [self.parse_stats(st, names) for st in files.column("stats").to_pylist()]
            if parsed_cache is not None:
                while len(parsed_cache) >= _PARSED_PER_TABLE:
                    parsed_cache.pop(next(iter(parsed_cache)))
                parsed_cache[names] = parsed
        typed: dict = {}
        out = []
        for key, stats in zip(_map_entries(files.column("partition_values")), parsed):
            row = typed.get(key)
            if row is None:
                row = typed[key] = self.typed_partition_row(key)
            out.append(self._eval(p, row, stats) is not False)
        return out

    def typed_partition_row(self, pv_items) -> dict[str, Any]:
        """``partitionValues`` entries (physical keys) → {logical name:
        value in the column type's Python domain}. A value that does not
        parse as its type is NULL, as Spark's cast makes it."""
        from delta_kernel_rs_spark.streaming.cdf_source import _parse_pv_py

        raw = dict(pv_items or ())
        out = {}
        for name in self.pcols:
            try:
                out[name] = _parse_pv_py(
                    raw.get(self.phys[name], raw.get(name)), self.types[name]
                )
            except (ValueError, InvalidOperation):
                out[name] = None
        return out

    # -- stats document ----------------------------------------------------
    def parse_stats(self, stats_json: str | None, names=None) -> dict | None:
        """Decode one file's stats JSON into Python-domain values keyed by
        LOGICAL column name; ``names`` (physical) limits the columns
        converted. Unparseable stats degrade to None (keep)."""
        if not stats_json:
            return None
        try:
            raw = json.loads(stats_json)
        except ValueError:
            return None
        if not isinstance(raw, dict):
            return None
        phys_to_logical = self._stat_names
        out: dict[str, Any] = {"numRecords": raw.get("numRecords")}
        for section in ("minValues", "maxValues"):
            vals = raw.get(section) or {}
            conv = {}
            for pn, v in vals.items():
                name = phys_to_logical.get(pn)
                if name is None or (names is not None and pn not in names):
                    continue
                cv = self._stat_value(v, self.stat_types[name])
                if cv is not _MISSING:
                    conv[name] = cv
            out[section] = conv
        nc = raw.get("nullCount") or {}
        out["nullCount"] = {
            phys_to_logical[pn]: v
            for pn, v in nc.items()
            if pn in phys_to_logical and isinstance(v, int)
        }
        return out

    @staticmethod
    def _stat_value(v: Any, dt: T.DataType) -> Any:
        """One stats JSON value → the column type's Python domain.
        Unconvertible values become _MISSING (unknown, never prunes)."""
        if v is None:
            return _MISSING  # a JSON null stat carries no bound
        try:
            if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
                return v if isinstance(v, int) and not isinstance(v, bool) else _MISSING
            if isinstance(dt, (T.FloatType, T.DoubleType)):
                # shortest-roundtrip JSON repr: float() recovers the exact
                # written double; Decimal would understate a max bound
                return float(v) if isinstance(v, (int, float, Decimal)) else _MISSING
            if isinstance(dt, T.DecimalType):
                return Decimal(str(v)) if isinstance(v, (int, float, Decimal, str)) else _MISSING
            if isinstance(dt, T.BooleanType):
                return v if isinstance(v, bool) else _MISSING
            if isinstance(dt, T.StringType):
                return v if isinstance(v, str) else _MISSING
            if isinstance(dt, T.DateType):
                return _dt.date.fromisoformat(v) if isinstance(v, str) else _MISSING
            if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
                return (
                    _norm_ts(_dt.datetime.fromisoformat(v))
                    if isinstance(v, str)
                    else _MISSING
                )
        except (ValueError, InvalidOperation):
            return _MISSING
        return _MISSING  # binary/array/map/struct: no usable bound

    # -- per-file accessors --------------------------------------------------
    def _min(self, name: str, stats: dict | None):
        if stats is None:
            return _MISSING
        return stats["minValues"].get(name, _MISSING)

    def _max(self, name: str, stats: dict | None):
        if stats is None:
            return _MISSING
        v = stats["maxValues"].get(name, _MISSING)
        if v is not _MISSING and isinstance(
            self.stat_types.get(name), (T.TimestampType, T.TimestampNTZType)
        ):
            # written max is floored to ms (functions/stats.py) — widen by
            # exactly the truncation
            v = v + _dt.timedelta(microseconds=999)
        return v

    def _null_count(self, name: str, stats: dict | None):
        if stats is None:
            return _MISSING
        return stats["nullCount"].get(name, _MISSING)

    def _num_records(self, stats: dict | None):
        if stats is None:
            return _MISSING
        n = stats.get("numRecords")
        return n if isinstance(n, int) else _MISSING

    def _not_all_null(self, name: str, stats: dict | None) -> bool | None:
        return _cmp3("lt", self._null_count(name, stats), self._num_records(stats))

    def _has_stats(self, c: Col) -> bool:
        return c.top_level and c.path in self.stat_types

    # -- verdict ---------------------------------------------------------
    def verdict(
        self, p: Predicate, pv_row: dict[str, Any], stats_json: str | None
    ) -> bool | None:
        """Keep/skip verdict for one file: False = provably no matching
        row (skip); True/None = keep."""
        self._atom_kinds = {}
        return self._eval(p, pv_row, self.parse_stats(stats_json))

    def _eval(self, p: Predicate, pv: dict, stats: dict | None) -> bool | None:
        if isinstance(p, BoolLiteral):
            return p.value
        if isinstance(p, And):
            return _k_and(*(self._eval(c, pv, stats) for c in p.children))
        if isinstance(p, Or):
            return _k_or(*(self._eval(c, pv, stats) for c in p.children))
        if isinstance(p, Not):
            # normalize() inverts NOT up front; a surviving NOT wraps an
            # atom whose inversion wasn't expressible: unknown
            return None
        if isinstance(p, OpaquePredicate):
            # the engine's as_data_skipping_predicate hook (reference
            # expressions/mod.rs:194-275); a negated op never uses the
            # positive hook
            if p.skipping_fn is None or p.negated:
                return None
            return p.skipping_fn(self, p.children, stats)
        return self._atom(p, pv, stats)

    def _atom(self, p: Predicate, pv: dict, stats: dict | None) -> bool | None:
        # partition columns evaluate EXACTLY over the typed partition row —
        # the same eval the facade's planning pruning always used; an atom
        # naming only data columns is unknown there
        kind = self._atom_kinds.get(id(p))
        if kind is None:
            kind = self._atom_kinds[id(p)] = self._atom_kind(p)
        if kind.__class__ is tuple:
            return self._stats_compare(*kind, stats)
        v = eval_3vl(p, pv, self.pcols) if kind == "pv" else None
        if v is not None:
            return v
        if isinstance(p, Compare):
            shape = self._col_lit(p)
            if shape is None:
                return None
            c, lit = shape.left, shape.right.value
            if c.path in self.pcols:
                # SQL-WHERE null-intolerance on the exact partition value:
                # a NULL on either side makes the comparison unsatisfiable
                # for every row of the file — FALSE, not unknown-keep
                # (reference eval_sql_where). A non-null cross-type
                # mismatch stays unknown.
                if pv.get(c.path) is None or lit is None:
                    return False
                return None
            return None
        if isinstance(p, IsNull):
            if isinstance(p.expr, Col) and self._has_stats(p.expr):
                return _cmp3("gt", self._null_count(p.expr.path, stats), 0)
            return None
        if isinstance(p, IsNotNull):
            if isinstance(p.expr, Col) and self._has_stats(p.expr):
                return self._not_all_null(p.expr.path, stats)
            return None
        if isinstance(p, In):
            if isinstance(p.expr, Col) and p.expr.path in self.pcols:
                # NULL partition value (or all-NULL member list): IN can
                # never be TRUE — sql-where FALSE
                if pv.get(p.expr.path) is None:
                    return False
                # NULL members never make IN true: under SQL WHERE the
                # verdict is the non-null members'
                members = tuple(x for x in p.values if x is not None)
                return eval_3vl(In(p.expr, members), pv, self.pcols) if members else False
            if not (isinstance(p.expr, Col) and self._has_stats(p.expr)):
                return None
            c = p.expr
            lo, hi = self._min(c.path, stats), self._max(c.path, stats)
            terms = [
                _k_and(_cmp3("le", lo, x), _cmp3("ge", hi, x)) for x in p.values
            ]
            if not terms:
                return None
            return _k_and(self._not_all_null(c.path, stats), _k_or(*terms))
        if isinstance(p, Like):
            if not isinstance(p.expr, Col):
                return None
            if p.expr.path in self.pcols and pv.get(p.expr.path) is None:
                return False  # NULL LIKE anything is never TRUE (sql-where)
            c = p.expr
            if not isinstance(self.types.get(c.path), T.StringType):
                return None
            if not self._has_stats(c) or "\\" in p.pattern:
                return None
            wild = len(p.pattern)
            for ch in ("%", "_"):
                i = p.pattern.find(ch)
                if i != -1:
                    wild = min(wild, i)
            prefix = p.pattern[:wild]
            if not prefix:
                return None
            lo, hi = self._min(c.path, stats), self._max(c.path, stats)
            out = _cmp3("ge", hi, prefix)
            nxt = ord(prefix[-1]) + 1
            if 0xD800 <= nxt <= 0xDFFF:
                nxt = 0xE000  # a lone surrogate is no valid bound
            if nxt <= 0x10FFFF:
                out = _k_and(out, _cmp3("lt", lo, prefix[:-1] + chr(nxt)))
            return _k_and(self._not_all_null(c.path, stats), out)
        if isinstance(p, (Distinct, NotDistinct)):
            if not (isinstance(p.left, Col) and isinstance(p.right, Literal)):
                return None
            c, lit = p.left, p.right.value
            if not self._has_stats(c):
                return None
            if lit is None:
                # DISTINCT(x, NULL) ≡ x IS NOT NULL; NOT DISTINCT ≡ IS NULL
                if isinstance(p, Distinct):
                    return self._not_all_null(c.path, stats)
                return _cmp3("gt", self._null_count(c.path, stats), 0)
            lo, hi = self._min(c.path, stats), self._max(c.path, stats)
            if isinstance(p, Distinct):
                eq_all = _k_and(_cmp3("eq", lo, lit), _cmp3("eq", hi, lit))
                return _k_or(
                    _cmp3("gt", self._null_count(c.path, stats), 0),
                    None if eq_all is None else (not eq_all),
                )
            return _k_and(
                self._not_all_null(c.path, stats),
                _cmp3("le", lo, lit),
                _cmp3("ge", hi, lit),
            )
        return None

    def _atom_kind(self, p: Predicate):
        """How :meth:`_atom` evaluates ``p``, decided once per predicate:
        ``"pv"`` when it names a partition column (or no column), a
        (column, op, literal) plan for a comparison the stats bound,
        else ``"data"``."""
        from delta_kernel_rs_spark.plans.expressions import column_paths

        refs = column_paths(p)
        if not refs or refs & self.pcols:
            return "pv"
        if isinstance(p, Compare):
            shape = self._col_lit(p)
            if shape is not None and self._has_stats(shape.left) and shape.op in _CMP:
                return (shape.left.path, shape.op, shape.right.value)
        return "data"

    def _stats_compare(self, name: str, op: str, lit, stats: dict | None) -> bool | None:
        lo, hi = self._min(name, stats), self._max(name, stats)
        if op == "lt":
            out = _cmp3("lt", lo, lit)
        elif op == "le":
            out = _cmp3("le", lo, lit)
        elif op == "gt":
            out = _cmp3("gt", hi, lit)
        elif op == "ge":
            out = _cmp3("ge", hi, lit)
        elif op == "eq":
            out = _k_and(_cmp3("le", lo, lit), _cmp3("ge", hi, lit))
        else:  # ne
            eq_all = _k_and(_cmp3("eq", lo, lit), _cmp3("eq", hi, lit))
            out = None if eq_all is None else (not eq_all)
        return _k_and(self._not_all_null(name, stats), out)

    @staticmethod
    def _col_lit(p: Compare):
        """col-vs-lit canonical shape (operator flipped on swap), else
        None; callers dispatch on the flipped operator."""
        if isinstance(p.left, Col) and isinstance(p.right, Literal):
            return p
        if isinstance(p.left, Literal) and isinstance(p.right, Col):
            return p.swapped()
        return None


__all__ = ["FileSkipEvaluator"]
