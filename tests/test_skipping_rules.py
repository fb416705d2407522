"""Data-skipping truth tables ported from the reference
(kernel/src/scan/data_skipping/tests.rs) plus the stats-truncation rules
(default-engine/src/stats.rs) — the "silent corruption territory" of
SURVEY §7.

Each case evaluates a predicate with the skipping evaluator
(plans/py_skipping.FileSkipEvaluator) over a synthetic stats document and
asserts the exact three-valued verdict (True / False / None, where None
also covers a predicate with no skipping form). The keep rule downstream
is "keep unless definitely False".
"""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import types as T

from delta_kernel_rs_spark.functions.stats import (
    _ts_to_stat,
    truncate_max_string,
    truncate_min_string,
)
from delta_kernel_rs_spark.plans.expressions import (
    And,
    BoolLiteral,
    Col,
    Compare,
    Distinct,
    IsNotNull,
    IsNull,
    Literal,
    Not,
    Or,
    normalize,
)
from delta_kernel_rs_spark.plans.py_skipping import FileSkipEvaluator, _cmp3

SCHEMA = T.StructType(
    [
        T.StructField("x", T.LongType()),
        T.StructField("a", T.LongType()),
        T.StructField("b", T.LongType()),
        T.StructField("c", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

def _verdict(spark, pred, stats: dict, schema=SCHEMA, pv=None):
    """The evaluator's verdict for ``pred`` over one stats document (and
    partition values ``pv``)."""
    ev = FileSkipEvaluator(schema, list(pv or ()))
    return ev.verdict(normalize(pred), pv or {}, None if stats is None else json.dumps(stats))


def _stats_x(min=None, max=None, nulls=None, nrecords=2):  # noqa: A002
    doc: dict = {"numRecords": nrecords, "minValues": {}, "maxValues": {}, "nullCount": {}}
    if min is not None:
        doc["minValues"]["x"] = min
    if max is not None:
        doc["maxValues"]["x"] = max
    if nulls is not None:
        doc["nullCount"]["x"] = nulls
    return doc


X = Col("x")
TEN = Literal(10)


# -- test_eval_is_null (tests.rs:29-61) -------------------------------------
@pytest.mark.parametrize(
    "nulls,expect_isnull,expect_isnotnull",
    [(0, False, True), (1, True, True), (2, True, False)],
)
def test_eval_is_null(spark, nulls, expect_isnull, expect_isnotnull):
    stats = _stats_x(nulls=nulls)
    assert _verdict(spark, IsNull(X), stats) is expect_isnull
    assert _verdict(spark, IsNotNull(X), stats) is expect_isnotnull


# -- test_eval_binary_comparisons (tests.rs:63-114) -------------------------
# Ops evaluated against value 10 with [min..max] and no nulls; None = NULL.
@pytest.mark.parametrize(
    "mn,mx,expected",
    [
        (15, 15, [False, False, False, True, True, True]),
        (10, 10, [False, True, True, False, False, True]),
        (None, 10, [None, None, None, None, False, True]),
        (10, None, [False, True, None, None, None, None]),
        (5, 5, [True, True, False, True, False, False]),
        (10, 15, [False, True, True, True, True, True]),
        (5, 15, [True, True, True, True, True, True]),
    ],
)
def test_eval_binary_comparisons(spark, mn, mx, expected):
    stats = _stats_x(min=mn, max=mx, nulls=0)
    for op, want in zip(["lt", "le", "eq", "ne", "gt", "ge"], expected):
        got = _verdict(spark, Compare(op, X, TEN), stats)
        assert got is want, f"x {op} 10 with [{mn}..{mx}]: {got} != {want}"


# -- production all-null guard (tests.rs:370-414 eval_sql_where arm) --------
@pytest.mark.parametrize("op", ["lt", "le", "eq", "ne", "gt", "ge"])
def test_all_null_file_is_pruned_by_comparisons(spark, op):
    """nullCount == numRecords with NULL min/max: every null-intolerant
    comparison must evaluate FALSE (prune) — our scan applies the predicate
    as the residual filter, which is what makes the guard sound."""
    stats = _stats_x(nulls=2)
    assert _verdict(spark, Compare(op, X, TEN), stats) is False


@pytest.mark.parametrize("op", ["lt", "le", "eq", "ne", "gt", "ge"])
def test_missing_stats_keep_file(spark, op):
    """Missing stats entirely → NULL verdict → keep (never prune blindly)."""
    stats = {"numRecords": 2, "minValues": {}, "maxValues": {}, "nullCount": {}}
    assert _verdict(spark, Compare(op, X, TEN), stats) is None


# -- test_eval_junction (tests.rs:116-199) ----------------------------------
# Inputs T/F/N are comparisons over distinct columns whose stats force the
# wanted verdict; expected values are Kleene AND/OR plus their negations.
_JUNCTION_CASES = [
    ([True], True, True),
    ([False], False, False),
    ([None], None, None),
    ([True, True], True, True),
    ([True, False], False, True),
    ([True, None], None, True),
    ([False, False], False, False),
    ([False, None], False, None),
    ([None, None], None, None),
    ([True, False, False], False, True),
    ([True, None, None], None, True),
    ([False, True, True], False, True),
    ([False, None, None], False, None),
    ([None, True, True], None, True),
    ([None, False, False], False, None),
    ([True, False, None], False, True),
    ([False, None, True], False, True),
    ([None, True, False], False, True),
]


def _junction_stats(inputs):
    doc: dict = {"numRecords": 2, "minValues": {}, "maxValues": {}, "nullCount": {}}
    for name, val in zip(["a", "b", "c"], inputs):
        if val is True:
            doc["minValues"][name] = 5
            doc["maxValues"][name] = 5
            doc["nullCount"][name] = 0
        elif val is False:
            doc["minValues"][name] = 15
            doc["maxValues"][name] = 15
            doc["nullCount"][name] = 0
        # None: stats omitted entirely
    return doc


@pytest.mark.parametrize("inputs,expect_and,expect_or", _JUNCTION_CASES)
def test_eval_junction(spark, inputs, expect_and, expect_or):
    stats = _junction_stats(inputs)
    preds = [
        Compare("lt", Col(n), TEN) for n, _ in zip(["a", "b", "c"], inputs)
    ]
    assert _verdict(spark, And(tuple(preds)), stats) is expect_and
    assert _verdict(spark, Or(tuple(preds)), stats) is expect_or
    not_and = None if expect_and is None else not expect_and
    not_or = None if expect_or is None else not expect_or
    assert _verdict(spark, Not(And(tuple(preds))), stats) is not_and
    assert _verdict(spark, Not(Or(tuple(preds))), stats) is not_or


def test_and_drops_unrewritable_conjunct(spark):
    """AND prunes on its rewritable conjuncts (an unknown one never
    blocks a provably-false sibling); OR with any unrewritable disjunct
    is wholly unknown (tests.rs rules at data_skipping.rs:32-52)."""
    unknown = Compare("lt", Col("x"), Col("a"))  # col-vs-col: no rewrite
    false_leaf = Compare("lt", X, TEN)
    stats = _stats_x(min=15, max=15, nulls=0)
    assert _verdict(spark, And((false_leaf, unknown)), stats) is False
    assert _verdict(spark, Or((false_leaf, unknown)), stats) is None


def test_bool_literals(spark):
    stats = _stats_x()
    assert _verdict(spark, BoolLiteral(True), stats) is True
    assert _verdict(spark, BoolLiteral(False), stats) is False
    assert _verdict(spark, BoolLiteral(None), stats) is None


# -- test_eval_distinct (tests.rs:202-264) ----------------------------------
# Columns: DISTINCT(x,10), NOT DISTINCT(x,10), DISTINCT(x,NULL),
#          NOT DISTINCT(x,NULL)
@pytest.mark.parametrize(
    "mn,mx,nulls,expected",
    [
        (10, 10, 0, [False, True, True, False]),
        (10, 10, 1, [True, True, True, True]),
        (10, 10, 2, [True, False, False, True]),
        (15, 15, 0, [True, False, True, False]),
        (15, 15, 1, [True, False, True, True]),
        (15, 15, 2, [True, False, False, True]),
        (5, 15, 0, [True, True, True, False]),
        (5, 15, 1, [True, True, True, True]),
        (5, 15, 2, [True, False, False, True]),
    ],
)
def test_eval_distinct(spark, mn, mx, nulls, expected):
    stats = _stats_x(min=mn, max=mx, nulls=nulls)
    preds = [
        Distinct(X, TEN),
        Not(Distinct(X, TEN)),
        Distinct(X, Literal(None)),
        Not(Distinct(X, Literal(None))),
    ]
    for pred, want in zip(preds, expected):
        got = _verdict(spark, pred, stats)
        assert got is want, f"{pred} with [{mn}..{mx}] {nulls}n: {got} != {want}"


# -- timestamp max-stat truncation (tests.rs:445-476) -----------------------
def test_timestamp_max_widened_by_999us(spark):
    """Max stats are ms-floored on write: `ts > v` may only prune when
    v >= max + 999µs (reference adjust_scalar_for_max_stat_truncation)."""
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    stats = {
        "numRecords": 2,
        "minValues": {"ts": "2024-01-01T00:00:00.000Z"},
        "maxValues": {"ts": "2024-01-01T00:00:00.001Z"},  # floored from .001999
        "nullCount": {"ts": 0},
    }
    in_gap = Compare("gt", Col("ts"), Literal(base + dt.timedelta(microseconds=1500)))
    assert _verdict(spark, in_gap, stats) is True  # real max may be .001999
    at_bound = Compare(
        "gt", Col("ts"), Literal(base + dt.timedelta(microseconds=1999))
    )
    assert _verdict(spark, at_bound, stats) is False  # nothing can exceed it
    eq_in_gap = Compare(
        "eq", Col("ts"), Literal(base + dt.timedelta(microseconds=1999))
    )
    assert _verdict(spark, eq_in_gap, stats) is True


# -- opaque / unknown predicates (expressions/mod.rs:194-275, 498-511) ------
def test_unknown_predicate_poisons_as_null(spark):
    from delta_kernel_rs_spark.plans.expressions import Not, UnknownPredicate

    stats = _stats_x(min=15, max=15, nulls=0)
    u = UnknownPredicate("udf_thing")
    assert _verdict(spark, u, stats) is None  # never prunes alone
    assert _verdict(spark, Not(u), stats) is None  # NOT(unknown) = unknown
    # ...but a provably-false sibling conjunct still prunes the file
    assert _verdict(spark, And((Compare("lt", X, TEN), u)), stats) is False
    # and in OR it keeps the whole disjunction unknown
    assert _verdict(spark, Or((Compare("lt", X, TEN), u)), stats) is None


def test_opaque_predicate_eval_and_skipping_hook(spark):
    from delta_kernel_rs_spark.plans.expressions import OpaquePredicate

    # evaluation side: the fn really runs
    op = OpaquePredicate(
        "is_even", (Col("x"),), fn=lambda cols: (cols[0] % 2) == 0
    )
    df = spark.createDataFrame([(2,), (3,)], "x long")
    assert [r.x for r in df.filter(op.to_spark()).collect()] == [2]
    assert [r.x for r in df.filter(op.inverted().to_spark()).collect()] == [3]

    # skipping side: no hook -> NULL poison (keep); hook -> can prune
    stats = _stats_x(min=5, max=9, nulls=0)
    assert _verdict(spark, op, stats) is None
    hooked = OpaquePredicate(
        "ge_10",
        (Col("x"),),
        fn=lambda cols: cols[0] >= 10,
        skipping_fn=lambda ev, children, stats: _cmp3("ge", ev._max("x", stats), 10),
    )
    assert _verdict(spark, hooked, stats) is False  # max=9 proves no match
    # negated opaque never uses the positive hook
    assert _verdict(spark, Not(hooked), stats) is None


# -- stats truncation contracts (default-engine/src/stats.rs:52,86) ---------
def test_truncate_min_string_is_prefix():
    assert truncate_min_string("a" * 40) == "a" * 32
    assert truncate_min_string("short") == "short"


def test_truncate_max_string_rounds_up():
    long = "a" * 31 + "bc"  # 33 chars
    out = truncate_max_string(long)
    assert out == "a" * 31 + "c"  # last kept char incremented
    assert out > long  # still an upper bound
    assert truncate_max_string("short") == "short"


def test_truncate_max_string_carries_past_max_codepoint():
    s = "x" + chr(0x10FFFF) * 31 + "tail"
    out = truncate_max_string(s)
    assert out == "y"  # carry ripples to the first char
    assert out > s
    assert truncate_max_string(chr(0x10FFFF) * 33) is None  # no valid bound


def test_timestamp_stat_floors_to_millis():
    t = dt.datetime(2024, 5, 6, 7, 8, 9, 999_999)
    assert _ts_to_stat(t) == "2024-05-06T07:08:09.999Z"  # floor, never round up
    t2 = dt.datetime(2024, 5, 6, 7, 8, 9, 1_000)
    assert _ts_to_stat(t2) == "2024-05-06T07:08:09.001Z"


# -- LIKE prefix skipping ---------------------------------------------------
# A matching value v satisfies prefix <= v < successor(prefix); files whose
# [min, max] miss that band prune. Wildcard-leading patterns are residual.
S_SCHEMA = T.StructType([T.StructField("s", T.StringType())])


def _verdict_like(spark, pattern: str, mn, mx, nulls=0, nrecords=2):
    from delta_kernel_rs_spark.plans.expressions import Like

    doc: dict = {"numRecords": nrecords, "minValues": {}, "maxValues": {}, "nullCount": {"s": nulls}}
    if mn is not None:
        doc["minValues"]["s"] = mn
    if mx is not None:
        doc["maxValues"]["s"] = mx
    return _verdict(spark, Like(Col("s"), pattern), doc, S_SCHEMA)


@pytest.mark.parametrize(
    "mn,mx,pattern,expected",
    [
        ("apple", "grape", "b%", True),      # [b, c) intersects [apple, grape]
        ("apple", "azure", "b%", False),     # max < prefix -> prune
        ("cherry", "grape", "b%", False),    # min >= successor -> prune
        ("apple", "grape", "ba_x%", True),   # prefix stops at '_'
        # no literal prefix: unrewritable, so unknown
        pytest.param("apple", "grape", "%suffix", None, id="apple-grape-%suffix-unrewritable"),
        ("apple", "grape", "banana", True),  # wildcard-free: exact-band check
        ("x", "z", "banana", False),
        (None, None, "b%", None),            # missing stats -> keep
    ],
)
def test_eval_like_prefix(spark, mn, mx, pattern, expected):
    got = _verdict_like(spark, pattern, mn, mx)
    assert got is expected, f"LIKE {pattern!r} [{mn}..{mx}]: {got}"


def test_like_all_null_file_prunes(spark):
    assert _verdict_like(spark, "b%", None, None, nulls=2) is False


def test_like_escaped_pattern_never_prunes(spark):
    """Backslash escapes change wildcard identity; the prefix band over the
    raw pattern would be unsound — escaped patterns stay residual-only."""
    assert _verdict_like(spark, r"ab\%c%", "apple", "azure") is None


def _verdict_like_partition(spark, pattern: str, value):
    """LIKE over a PARTITION column: the evaluator sees the exact per-file
    value, not stats."""
    from delta_kernel_rs_spark.plans.expressions import Like

    return _verdict(spark, Like(Col("s"), pattern), None, S_SCHEMA, pv={"s": value})


def test_like_partition_value_matches_keep(spark):
    assert _verdict_like_partition(spark, "b%", "banana") is True


def test_like_partition_value_mismatch_prunes(spark):
    assert _verdict_like_partition(spark, "b%", "apple") is False


def test_like_null_partition_value_prunes(spark):
    """SQL-WHERE null-intolerance: the partition value is exact per file,
    so LIKE over NULL is FALSE (prune), not UNKNOWN (keep)."""
    assert _verdict_like_partition(spark, "b%", None) is False
