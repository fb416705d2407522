"""Differential gate for ``Scan``'s driver-side planning.

``Scan`` prunes the version's Arrow scan rows with the one skipping
evaluator (``plans/py_skipping.FileSkipEvaluator``) and hands the kept
files' constants to the read as literals or a broadcast join
(``scan.with_file_constants``). This suite drives random typed
predicates over the in-repo generators and checks two things per
(snapshot, predicate):

* the kept files include every file holding a matching row;
* ``to_df(predicate)`` returns exactly the rows of the unpruned read
  filtered by the same predicate.

Generators: the skipping fuzz's files written as a log-only table (stats
built by the real serializer, a partition column, NULL-heavy values),
the partition-value fuzz, the foreign-log fuzz (planning only: its logs
name no data files), the history fuzz (every version) and the
cross-product sweep.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from delta_kernel_rs_spark.plans import expressions as E
from delta_kernel_rs_spark.sources import scan as scan_mod
from delta_kernel_rs_spark.sources.snapshot import Snapshot
from delta_kernel_rs_spark.sources.table import DeltaTable

_ATOMIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType, T.DoubleType,
    T.DecimalType, T.StringType, T.BooleanType, T.DateType, T.TimestampType,
    T.TimestampNTZType,
)


def _gen_pred(rng: random.Random, samples: dict, depth: int = 2):
    """A random typed predicate over ``samples`` ({column: values})."""
    if depth == 0 or rng.random() < 0.4:
        col = rng.choice(sorted(samples))
        c, vals = E.Col(col), samples[col]
        v = rng.choice(vals)
        k = rng.random()
        if k < 0.5 and v is not None:
            op = rng.choice(["lt", "le", "gt", "ge", "eq", "ne"])
            return E.Compare(op, c, E.Literal(v)) if rng.random() < 0.7 else E.Compare(op, E.Literal(v), c)
        if k < 0.65:
            return E.IsNull(c) if rng.random() < 0.5 else E.IsNotNull(c)
        if k < 0.8:
            return E.In(c, tuple(rng.choice(vals) for _ in range(rng.randint(1, 3))))
        if k < 0.9 and isinstance(v, str) and v:
            return E.Like(c, v[: rng.randint(1, len(v))] + "%")
        return E.NotDistinct(c, E.Literal(v))
    parts = tuple(_gen_pred(rng, samples, depth - 1) for _ in range(rng.randint(2, 3)))
    k = rng.random()
    if k < 0.45:
        return E.And(parts)
    if k < 0.9:
        return E.Or(parts)
    return E.Not(parts[0])


def _samples(snap, rows) -> dict:
    out = {}
    for f in snap.schema.fields:
        if isinstance(f.dataType, _ATOMIC):
            vals = [r[f.name] for r in rows]
            if vals:
                out[f.name] = vals
    return out


def _kept(scan) -> set[str]:
    return set(scan.kept_rows().column("file_path").to_pylist())


def _key(row) -> tuple:
    return tuple(repr(v) for v in row)


def _check(snap, pred, ctx: str, read: bool = True) -> tuple[int, int]:
    """(live files, kept files) for one predicate, checked as the module
    docstring says."""
    scan = snap.scan(predicate=pred)
    kept = _kept(scan)
    live = _kept(snap.scan())
    assert kept <= live, ctx
    if not read:
        return len(live), len(kept)
    full = snap.to_df().withColumn("in_file", F.input_file_name())
    hit = full.filter(pred.to_spark())
    matching = {scan_mod.plain_file_path(r.in_file) for r in hit.select("in_file").collect()}
    assert matching <= kept, f"{ctx}: dropped {sorted(matching - kept)}"
    want = sorted(_key(r) for r in hit.drop("in_file").collect())
    got = sorted(_key(r) for r in scan.to_df().collect())
    assert got == want, f"{ctx}: rows differ"
    return len(live), len(kept)


# -- the skipping fuzz's files as a log-only table ------------------------------
def _log_only_table(path: str, files) -> None:
    from tests.test_skipping_fuzz import PCOLS, SCHEMA

    os.makedirs(f"{path}/_delta_log")
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": "skipping-fuzz",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": SCHEMA.json(),
                "partitionColumns": PCOLS,
                "configuration": {},
                "createdTime": 1700000000000,
            }
        },
    ]
    for fid, (_, stats, p) in enumerate(files):
        actions.append(
            {
                "add": {
                    "path": f"p={p}/f{fid}.parquet",
                    "partitionValues": {"p": p},
                    "size": 100,
                    "modificationTime": 1700000000000,
                    "dataChange": True,
                    "stats": stats,
                }
            }
        )
    with open(f"{path}/_delta_log/{0:020d}.json", "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")


def test_skipping_fuzz_table_keeps_every_matching_file(spark, tmp_path):
    from tests.test_skipping_fuzz import N_FILES, SEED, _gen_files, _pred

    rng = random.Random(SEED)
    files = _gen_files(rng)
    preds = [_pred(rng) for _ in range(150)]
    path = str(tmp_path / "t")
    _log_only_table(path, files)
    snap = Snapshot.create(spark, path)
    truth = _ground_truth(spark, files, preds)
    skipped = 0
    for k, pred in enumerate(preds):
        kept = {int(p.rsplit("/f", 1)[1].split(".")[0]) for p in _kept(snap.scan(predicate=pred))}
        assert truth.get(k, set()) <= kept, f"pred#{k} {pred!r}"
        skipped += N_FILES - len(kept)
    assert skipped > len(preds)  # the predicates really prune


def _ground_truth(spark, files, preds):
    from tests.test_skipping_fuzz import _ground_truth as truth

    return truth(spark, files, preds)


# -- generators with data files ---------------------------------------------------
def _run_preds(snap, rng, n: int, ctx: str, read: bool = True) -> int:
    rows = snap.to_df().collect() if read else []
    samples = _samples(snap, rows) if read else {}
    if not samples:
        return 0
    pruned = 0
    for i in range(n):
        pred = _gen_pred(rng, samples)
        live, kept = _check(snap, pred, f"{ctx} pred#{i} {pred!r}", read)
        pruned += live - kept
    return pruned


@pytest.mark.parametrize("type_name", ["int", "string", "date", "decimal(10,2)"])
def test_partition_fuzz_tables(spark, tmp_path, type_name):
    from tests.test_partition_fuzz import SEED, TYPES, _make_frame

    name, dtype, pool = next(t for t in TYPES if t[0] == type_name)
    rng = random.Random(SEED + sum(name.encode()))
    df, _ = _make_frame(spark, dtype, pool, rng)
    if name == "string":
        df = df.filter("p IS NULL OR p != ''")
    t = DeltaTable.create(spark, str(tmp_path / "t"), df=df, partition_by=["p"])
    assert _run_preds(t.snapshot(), rng, 8, f"partition {name}") > 0


def test_history_fuzz_versions(spark, tmp_path):
    from tests.test_history_fuzz import _run_history

    seed = 20260815
    rng = random.Random(seed)
    t, states, trace = _run_history(spark, str(tmp_path / "t"), random.Random(seed))
    pruned = 0
    for v in sorted(states)[1::2]:
        pruned += _run_preds(t.snapshot(version=v), rng, 3, f"history v{v} trace={trace}")
    assert pruned > 0


@pytest.mark.parametrize("partitioned", [False, True])
def test_foreign_log_planning(spark, tmp_path, partitioned):
    """Foreign logs name no data files: plan-level checks only, with
    predicates over the partition column and numRecords-only stats."""
    from tests.test_foreign_log_fuzz import CATS, SEED, _gen_foreign_log

    rng = random.Random(SEED + (1000 if partitioned else 0))
    table = str(tmp_path / "t")
    _gen_foreign_log(f"{table}/_delta_log", rng, partitioned, n_commits=25)
    for v in (8, 17, 25):
        snap = Snapshot.create(spark, table, version=v)
        for cat in CATS:
            pred = E.IsNull(E.Col("cat")) if cat is None else E.Col("cat") == E.lit(cat)
            live, kept = _check(snap, pred, f"foreign v{v} {pred!r}", read=False)
            if partitioned:
                want = {
                    p
                    for p, pv in zip(
                        snap.scan().kept_rows().column("file_path").to_pylist(),
                        snap.scan().kept_rows().column("partition_values").to_pylist(),
                    )
                    if dict(pv).get("cat") == cat
                }
                assert _kept(snap.scan(predicate=pred)) == want
            else:
                assert kept == live


@pytest.mark.parametrize(
    "ls_name,fs_name,layout_idx",
    [
        ("compacted_2_6", "all_features_cm_name", 4),
        ("two_checkpoints_stale_hint_post_cleanup", "no_features", 2),
    ],
)
def test_cross_product_tables(spark, tmp_path, ls_name, fs_name, layout_idx):
    from tests.test_cross_product import (
        FEATURE_SETS,
        LATEST,
        LAYOUT_CONFIGS,
        LOG_STATES,
        _build,
    )

    log_state = LOG_STATES[ls_name]
    _, layout, cfg = LAYOUT_CONFIGS[layout_idx]
    t = _build(spark, str(tmp_path / "t"), log_state, {**FEATURE_SETS[fs_name], **cfg}, layout)
    rng = random.Random(layout_idx)
    for v in (LATEST - 1, LATEST):
        _run_preds(t.snapshot(version=v), rng, 3, f"cross-product {ls_name} v{v}")


def test_literal_edge_values(spark, tmp_path):
    """Literals the evaluator compares exactly where a cast would be
    lossy: fractional against integers, timestamps against dates."""
    df = spark.createDataFrame(
        [(i, dt.date(2020, 1, 1) + dt.timedelta(days=i)) for i in range(40)],
        "i long, d date",
    ).repartition(4, "i")
    t = DeltaTable.create(spark, str(tmp_path / "t"), df=df)
    snap = t.snapshot()
    for pred in (
        E.Col("i") < E.lit(Decimal("0.5")),
        E.Col("i") >= E.lit(20.5),
        E.Col("d") < E.lit(dt.datetime(2020, 1, 15, 12, 0)),
        E.Col("d") == E.lit("2020-01-03"),
    ):
        _check(snap, pred, repr(pred))
