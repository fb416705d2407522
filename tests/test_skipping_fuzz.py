"""Differential fuzz of the data-skipping evaluator (r9 VERDICT next #2).

File skipping is the one component where a silent bug means silently
wrong answers at scale: its enumerated truth tables
(test_skipping_rules.py and test_py_skipping.py, ported from
kernel/src/scan/data_skipping/tests.rs) cannot explore the composition
space. This harness generates seeded random predicates (nested
And/Or/Not over comparisons / IsNull / In / LIKE / DISTINCT over
int/float/string/date/timestamp/null-heavy columns, including
deliberately cross-typed literals) and random files (rows + the stats
document the REAL writer would produce via functions.stats.stats_json —
ms-floored timestamps, truncated strings), then asserts the soundness
invariant on every (predicate, file) pair:

    a file containing a row that matches the predicate
    (Spark row evaluation of the same AST = ground truth)
    is NEVER skipped by plans/py_skipping.FileSkipEvaluator.

Shrink notes — real bugs this harness caught in the Column rewriter that
preceded the evaluator, pinned below (test_shrunk_regressions):

1. ``x < Decimal('0.5')`` on a LongType column: a fractional Decimal
   cast to long truncated toward zero and rewrote to ``min < 0`` —
   wrongly skipping a file whose min is 0 (shrunk from a random Compare
   atom at seed 20260815).
2. ``d < TIMESTAMP'2020-06-15 12:00'`` on a DateType column: casting the
   timestamp literal to date FLOORS it, rewriting to ``min < DATE
   '2020-06-15'`` — wrongly skipping a file whose min is 2020-06-15
   (its midnight < noon matches).

Runtime knobs: SPARK_GRAFT_FUZZ_N (predicates, default 400),
SPARK_GRAFT_FUZZ_SEED (default 20260815).
"""

from __future__ import annotations

import datetime as dt
import os
import random
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from delta_kernel_rs_spark.functions.stats import stats_json
from delta_kernel_rs_spark.plans import expressions as E
from delta_kernel_rs_spark.plans.expressions import normalize
from delta_kernel_rs_spark.plans.py_predicate import (
    UnsupportedPredicate,
    coerce_literals,
)
from delta_kernel_rs_spark.plans.py_skipping import FileSkipEvaluator

SEED = int(os.environ.get("SPARK_GRAFT_FUZZ_SEED", "20260815"))
N_PRED = int(os.environ.get("SPARK_GRAFT_FUZZ_N", "400"))
N_FILES = 24
CHUNK = 40  # predicates evaluated per Spark job

SCHEMA = T.StructType(
    [
        T.StructField("i", T.LongType()),
        T.StructField("f", T.DoubleType()),
        T.StructField("s", T.StringType()),
        T.StructField("d", T.DateType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("p", T.StringType()),  # partition column
    ]
)
PCOLS = ["p"]
DATA_SCHEMA = T.StructType([f for f in SCHEMA.fields if f.name not in PCOLS])

# value domains (None = SQL NULL; appears both in rows and literals)
DOM = {
    "i": [None, -3, 0, 1, 5, 7, 10, 12],
    "f": [None, -0.5, 0.0, 0.1, 1.0, 2.5, 7.25],
    "s": [None, "", "a", "ab", "apple", "banana", "zzz", "Ab", "a" * 40, "☃now"],
    "d": [None, dt.date(2020, 1, 1), dt.date(2020, 6, 15), dt.date(2021, 1, 1)],
    "ts": [
        None,
        dt.datetime(2020, 1, 1, 0, 0, 0),
        dt.datetime(2020, 1, 1, 0, 0, 0, 123000),
        dt.datetime(2020, 1, 1, 0, 0, 0, 123456),
        dt.datetime(2020, 6, 1, 12, 30, 0, 999999),
    ],
    "p": [None, "x", "y", "z"],
}
# literal pools widen the row domains with off-domain + cross-typed values
LIT_EXTRA = {
    "i": [Decimal("0.5"), Decimal("5"), 0.5, 5.0, "7", 2**40, -(2**40)],
    "f": [Decimal("0.1"), 3, "2.5"],
    "s": ["app", "z", "\U00010348", "0"],
    "d": [dt.datetime(2020, 6, 15, 12, 0), dt.datetime(2020, 1, 1, 0, 0), "2020-06-15"],
    "ts": [dt.date(2020, 1, 1), "2020-01-01T00:00:00.123"],
    "p": ["w", ""],
}
LIKE_PATTERNS = ["a%", "ap%le", "%le", "a_", "%", "ab", "z%", "ban%", r"a\%b", "_pple"]


def _lit(rng, col):
    pool = DOM[col] + LIT_EXTRA.get(col, [])
    return pool[rng.randrange(len(pool))]


def _atom(rng):
    col = rng.choice(["i", "f", "s", "d", "ts", "p"])
    c = E.Col(col)
    k = rng.random()
    if k < 0.45:
        op = rng.choice(["lt", "le", "gt", "ge", "eq", "ne"])
        lit = E.Literal(_lit(rng, col))
        return E.Compare(op, c, lit) if rng.random() < 0.5 else E.Compare(op, lit, c)
    if k < 0.55:
        return E.IsNull(c) if rng.random() < 0.5 else E.IsNotNull(c)
    if k < 0.7:
        vals = tuple(_lit(rng, col) for _ in range(rng.randint(1, 4)))
        return E.In(c, vals)
    if k < 0.8 and col == "s":
        return E.Like(c, rng.choice(LIKE_PATTERNS))
    if k < 0.9:
        cls = E.Distinct if rng.random() < 0.5 else E.NotDistinct
        return cls(c, E.Literal(_lit(rng, col)))
    return E.BoolLiteral(rng.random() < 0.5)


def _pred(rng, depth=3):
    if depth == 0 or rng.random() < 0.35:
        return _atom(rng)
    k = rng.random()
    if k < 0.42:
        return E.And(tuple(_pred(rng, depth - 1) for _ in range(rng.randint(2, 3))))
    if k < 0.84:
        return E.Or(tuple(_pred(rng, depth - 1) for _ in range(rng.randint(2, 3))))
    return E.Not(_pred(rng, depth - 1))


def _gen_files(rng):
    """(rows, stats_json, pv) per file; stats through the REAL serializer."""
    files = []
    for _ in range(N_FILES):
        n = rng.randint(0, 6)
        p = rng.choice(DOM["p"])
        rows = [
            {c: rng.choice(DOM[c]) for c in ("i", "f", "s", "d", "ts")} | {"p": p}
            for _ in range(n)
        ]
        mins, maxs, ncs = {}, {}, {}
        for c in ("i", "f", "s", "d", "ts"):
            vals = [r[c] for r in rows if r[c] is not None]
            ncs[c] = n - len(vals)
            if vals:
                mins[c] = min(vals)
                maxs[c] = max(vals)
        stats = stats_json(
            {"min": mins, "max": maxs, "nullCount": ncs, "numRecords": n},
            DATA_SCHEMA,
        )
        files.append((rows, stats, p))
    return files


def _ground_truth(spark, files, preds):
    """{pred_idx: set of file ids with >=1 matching row} via Spark."""
    rows = []
    for fid, (frows, _, _) in enumerate(files):
        for r in frows:
            rows.append((fid, r["i"], r["f"], r["s"], r["d"], r["ts"], r["p"]))
    df = spark.createDataFrame(
        rows,
        T.StructType([T.StructField("file", T.IntegerType())] + list(SCHEMA.fields)),
    )
    out: dict[int, set[int]] = {}
    for lo in range(0, len(preds), CHUNK):
        chunk = preds[lo : lo + CHUNK]
        aggs = [
            F.max(F.when(p.to_spark(), 1).otherwise(0)).alias(f"p{lo + j}")
            for j, p in enumerate(chunk)
        ]
        for row in df.groupBy("file").agg(*aggs).collect():
            for j in range(len(chunk)):
                if row[f"p{lo + j}"] == 1:
                    out.setdefault(lo + j, set()).add(row["file"])
    return out


def test_differential_fuzz_skipping_never_drops_matches(spark):
    rng = random.Random(SEED)
    files = _gen_files(rng)
    raw_preds = [_pred(rng) for _ in range(N_PRED)]
    preds = []
    for p in raw_preds:
        try:
            preds.append(coerce_literals(p, SCHEMA))
        except UnsupportedPredicate:
            continue  # the engine rejects these up front; out of scope
    assert len(preds) >= N_PRED * 0.5, "generator mostly uncoercible — widen domains"

    truth = _ground_truth(spark, files, preds)

    ev = FileSkipEvaluator(SCHEMA, PCOLS)
    pv_rows = [{"p": p} for (_, _, p) in files]
    stats_docs = [stats for (_, stats, _) in files]

    viol = []
    total_skips = 0
    for k, pred in enumerate(preds):
        match_files = truth.get(k, set())
        norm = normalize(pred)
        for fid in range(N_FILES):
            if ev.verdict(norm, pv_rows[fid], stats_docs[fid]) is False:
                total_skips += 1
                if fid in match_files:
                    viol.append((k, fid))

    if viol:
        k, fid = viol[0]
        raise AssertionError(
            f"evaluator dropped a matching file: seed={SEED} pred#{k}: "
            f"{preds[k]!r} file={fid} stats={stats_docs[fid]}"
        )
    # the run must actually exercise pruning, or the invariant is vacuous
    assert total_skips > N_PRED  # on average >1 skipped file per pred


def test_shrunk_regressions(spark):
    """Minimal reproducers of the real bugs the fuzz caught (docstring
    shrink notes 1 and 2) — pinned so they can never regress."""
    import json

    ev = FileSkipEvaluator(SCHEMA, PCOLS)
    # 1. fractional Decimal vs Long column
    stats = json.dumps(
        {"numRecords": 2, "minValues": {"i": 0}, "maxValues": {"i": 7}, "nullCount": {"i": 0}}
    )
    pred = E.Compare("lt", E.Col("i"), E.Literal(Decimal("0.5")))
    assert ev.verdict(normalize(pred), {}, stats) is not False  # i=0 matches: keep

    # 2. datetime literal with time-of-day vs Date column
    stats2 = json.dumps(
        {
            "numRecords": 2,
            "minValues": {"d": "2020-06-15"},
            "maxValues": {"d": "2021-01-01"},
            "nullCount": {"d": 0},
        }
    )
    pred2 = E.Compare("lt", E.Col("d"), E.Literal(dt.datetime(2020, 6, 15, 12, 0)))
    assert ev.verdict(normalize(pred2), {}, stats2) is not False  # d=2020-06-15 matches
