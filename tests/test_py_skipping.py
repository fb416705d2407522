"""The file-skipping evaluator (plans/py_skipping.py).

Mirrors the reference truth tables (kernel/src/scan/data_skipping/tests.rs,
also ported in test_skipping_rules.py) against the SparkSession-free
evaluator, plus its own soundness rules
(float stat parse, UTF-16 ordering guard, timestamp max widening), and
proves the facade reads FEWER FILES under a pushed data-column filter
(footer-read count — r9 VERDICT next #1's done-criterion).
"""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F
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
    Or,
    normalize,
)
from delta_kernel_rs_spark.plans.py_skipping import FileSkipEvaluator
from delta_kernel_rs_spark.sources.table import DeltaTable

SCHEMA = T.StructType(
    [
        T.StructField("x", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("f", T.DoubleType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("p", T.StringType()),
    ]
)

EV = FileSkipEvaluator(SCHEMA, ["p"])
X = Col("x")


def _stats(col="x", mn=None, mx=None, nulls=None, nrecords=2):
    doc: dict = {
        "numRecords": nrecords,
        "minValues": {},
        "maxValues": {},
        "nullCount": {},
    }
    if mn is not None:
        doc["minValues"][col] = mn
    if mx is not None:
        doc["maxValues"][col] = mx
    if nulls is not None:
        doc["nullCount"][col] = nulls
    return json.dumps(doc)


def _v(pred, stats_json, pv=None):
    return EV.verdict(normalize(pred), pv or {}, stats_json)


# -- reference comparison table (tests.rs:63-114; NULL and unrewritable
#    both land on None here — identical under the keep rule) ---------------
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
def test_py_binary_comparisons(mn, mx, expected):
    stats = _stats(mn=mn, mx=mx, nulls=0)
    for op, want in zip(["lt", "le", "eq", "ne", "gt", "ge"], expected):
        assert _v(Compare(op, X, Literal(10)), stats) is want, op


@pytest.mark.parametrize(
    "nulls,expect_isnull,expect_isnotnull",
    [(0, False, True), (1, True, True), (2, True, False)],
)
def test_py_is_null(nulls, expect_isnull, expect_isnotnull):
    stats = _stats(nulls=nulls)
    assert _v(IsNull(X), stats) is expect_isnull
    assert _v(IsNotNull(X), stats) is expect_isnotnull


def test_py_all_null_file_pruned_by_comparisons():
    stats = _stats(mn=5, mx=15, nulls=2, nrecords=2)
    for op in ("lt", "le", "eq", "ne", "gt", "ge"):
        assert _v(Compare(op, X, Literal(10)), stats) is False, op


def test_py_missing_stats_keep_file():
    for op in ("lt", "le", "eq", "ne", "gt", "ge"):
        assert _v(Compare(op, X, Literal(10)), _stats()) is not False
        assert _v(Compare(op, X, Literal(10)), None) is not False
        assert _v(Compare(op, X, Literal(10)), "not json") is not False


def test_py_junctions_and_keep_rule():
    t = Compare("eq", X, Literal(10))
    f = Compare("eq", X, Literal(99))
    stats = _stats(mn=10, mx=10, nulls=0)
    assert _v(And((t, f)), stats) is False
    assert _v(Or((t, f)), stats) is True
    assert _v(And((t, BoolLiteral(True))), stats) is True
    # unrewritable conjunct never blocks a provably-false sibling
    unrw = Compare("eq", Col("x"), Col("f"))
    assert _v(And((f, unrw)), stats) is False
    assert _v(Or((f, unrw)), stats) is None
    assert _v(Not(unrw), stats) is None


def test_py_in_and_distinct():
    stats = _stats(mn=5, mx=15, nulls=0)
    assert _v(In(X, (1, 2, 3)), stats) is False
    assert _v(In(X, (1, 10)), stats) is True
    assert _v(Distinct(X, Literal(10)), _stats(mn=10, mx=10, nulls=0)) is False
    assert _v(Distinct(X, Literal(10)), _stats(mn=10, mx=10, nulls=1)) is True
    assert _v(NotDistinct(X, Literal(None)), _stats(nulls=0)) is False
    assert _v(NotDistinct(X, Literal(None)), _stats(nulls=1)) is True
    assert _v(NotDistinct(X, Literal(10)), _stats(mn=11, mx=15, nulls=0)) is False


def test_py_like_prefix_band():
    s = Col("s")
    stats = _stats(col="s", mn="apple", mx="banana", nulls=0)
    assert _v(Like(s, "cher%"), stats) is False  # band above max
    assert _v(Like(s, "app%"), stats) is True
    assert _v(Like(s, "%app"), stats) is None  # wildcard-leading: no prefix
    assert _v(Like(s, r"ap\%le"), stats) is None  # escapes stay residual


def test_py_float_stats_roundtrip_not_decimal():
    """'0.1' denotes the DOUBLE nearest 0.1 (shortest-roundtrip repr). A
    Decimal parse would understate the max and wrongly skip x >= max."""
    f = Col("f")
    stats = _stats(col="f", mn=0.0, mx=0.1, nulls=0)
    assert _v(Compare("ge", f, Literal(0.1)), stats) is True
    assert _v(Compare("gt", f, Literal(0.1)), stats) is False


def test_py_utf16_order_guard():
    """Astral-plane strings order differently under JVM UTF-16 code units
    than Python code points — the twin must return unknown, never prune."""
    s = Col("s")
    stats = _stats(col="s", mn="", mx="", nulls=0)
    assert _v(Compare("gt", s, Literal("\U00010000")), stats) is None
    # plain BMP strings still prune
    stats2 = _stats(col="s", mn="aa", mx="ab", nulls=0)
    assert _v(Compare("gt", s, Literal("zz")), stats2) is False


def test_py_timestamp_max_widened_999us():
    ts = Col("ts")
    stats = _stats(col="ts", mn="2024-01-01T00:00:00Z", mx="2024-01-01T00:00:00.123Z", nulls=0)
    # written max floored to ms: a sub-ms literal inside the widened band keeps
    just_above = dt.datetime(2024, 1, 1, 0, 0, 0, 123500)
    assert _v(Compare("gt", ts, Literal(just_above)), stats) is True
    beyond = dt.datetime(2024, 1, 1, 0, 0, 0, 124000)
    assert _v(Compare("gt", ts, Literal(beyond)), stats) is False


def test_py_partition_atoms_exact():
    p = Col("p")
    assert _v(Compare("eq", p, Literal("a")), None, pv={"p": "b"}) is False
    assert _v(Compare("eq", p, Literal("a")), None, pv={"p": "a"}) is True
    assert _v(IsNull(p), None, pv={"p": None}) is True
    # partition + stats atoms compose through one AND
    both = And((Compare("eq", p, Literal("a")), Compare("gt", X, Literal(10))))
    assert _v(both, _stats(mn=0, mx=5, nulls=0), pv={"p": "a"}) is False
    assert _v(both, _stats(mn=0, mx=50, nulls=0), pv={"p": "a"}) is True


# -- the facade reads fewer FILES under a pushed filter ---------------------


def test_facade_pushed_filter_skips_footer_reads(spark, tmp_path, monkeypatch):
    """Done-criterion for r9 VERDICT next #1: with a pushed data-column
    filter, files whose stats exclude the predicate are never opened —
    footer reads (the first per-file touch in _read_slice) drop."""
    import delta_kernel_rs_spark.sources.batch_source as bs
    from delta_kernel_rs_spark.sources.batch_source import DeltaKernelBatchReader
    from pyspark.sql import datasource as DS

    path = str(tmp_path / "t")
    df = spark.range(0, 4000).select(F.col("id").alias("k"), (F.col("id") * 2.0).alias("v"))
    t = DeltaTable.create(spark, path, df=df.repartitionByRange(4, "k"))

    reads: list[str] = []
    real = bs.pq_read_schema_names

    def counting(p):
        reads.append(p)
        return real(p)

    monkeypatch.setattr(bs, "pq_read_schema_names", counting)

    def run(push=None):
        reads.clear()
        r = DeltaKernelBatchReader(None, {"path": path})
        if push is not None:
            r.pushFilters(push)
        n = 0
        for part in r.partitions():
            for batch in r.read(part):
                n += batch.num_rows
        return n, len(reads)

    total_rows, total_files = run()
    assert total_files == 4
    rows, files = run(push=[DS.GreaterThan(("k",), 3500)])
    assert files == 1  # three of four files skipped from log stats alone
    assert rows == 4000 - 3501  # pyarrow residual filtered exactly
    assert total_rows == 4000


def test_facade_predicate_option_uses_stats_skipping(spark, tmp_path):
    """The explicit predicate option drives the same stats skipping."""
    from delta_kernel_rs_spark.sources.batch_source import DeltaKernelBatchReader
    from delta_kernel_rs_spark.sources.pyreplay import ipc_deserialize

    path = str(tmp_path / "t")
    df = spark.range(0, 1000).toDF("k")
    DeltaTable.create(spark, path, df=df.repartitionByRange(5, "k"))

    def planned(**opts):
        r = DeltaKernelBatchReader(None, {"path": path, **opts})
        return [
            p
            for part in r.partitions()
            for p in ipc_deserialize(part.ipc).column("path").to_pylist()
        ]

    assert len(planned()) == 5
    assert len(planned(predicate="k >= 900")) == 1
    assert len(planned(predicate="k IS NULL")) == 0
