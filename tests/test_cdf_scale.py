"""CDF scale-posture regression tests (round-2 verdict items 1 & 2):
the driver must never materialize DV row indexes, and the plan must stay
bounded regardless of how many commits the requested range spans."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from delta_kernel_rs_spark.sources.table import DeltaTable


def _ints(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id").alias("k"))


def test_cdf_never_decodes_dvs_on_driver(spark, tmp_path, monkeypatch):
    """A commit carrying a >1M-row deletion vector: table_changes must ship
    only the descriptor to executors — decoding on the driver (the round-2
    scale-killer) would OOM at 100M+ deleted rows."""
    from delta_kernel_rs_spark.functions import dv as dv_mod
    from delta_kernel_rs_spark.sources.delete import delete_with_dvs

    path = str(tmp_path / "tbl")
    n = 2_200_000
    t = DeltaTable.create(
        spark,
        path,
        df=_ints(spark, 0, n).coalesce(4),
        properties={"delta.enableChangeDataFeed": "true"},
    )
    delete_with_dvs(t, "k % 2 = 0")  # 1.1M-row DV across the files

    def forbid(*args, **kwargs):
        raise AssertionError(
            "driver-side DV materialization during table_changes"
        )

    monkeypatch.setattr(dv_mod, "read_dv_row_indexes", forbid)
    changes = t.changes(0)
    counts = {
        (r._change_type, r._commit_version): r.n
        for r in changes.groupBy("_change_type", "_commit_version")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert counts[("insert", 0)] == n
    assert counts[("delete", 1)] == n // 2
    assert len(counts) == 2


def test_cdf_plan_bounded_for_long_ranges(spark, tmp_path):
    """A 500-commit range must produce one read per change TYPE, not four
    plan arms per commit (round-2 plan-explosion defect)."""
    path = str(tmp_path / "tbl")
    t = DeltaTable.create(
        spark,
        path,
        df=_ints(spark, 0, 10).coalesce(1),
        properties={"delta.enableChangeDataFeed": "true"},
    )
    src = next(
        p
        for p in os.listdir(path)
        if p.endswith(".parquet") and not p.startswith("_")
    )
    size = os.path.getsize(os.path.join(path, src))
    # Synthesize 499 append commits directly (the plan shape is what's under
    # test; building them through the full write path would dominate runtime).
    for v in range(1, 500):
        name = f"part-synth-{v:05d}.parquet"
        shutil.copy(os.path.join(path, src), os.path.join(path, name))
        add = {
            "add": {
                "path": name,
                "partitionValues": {},
                "size": size,
                "modificationTime": v,
                "dataChange": True,
            }
        }
        ci = {"commitInfo": {"timestamp": v, "operation": "WRITE"}}
        with open(os.path.join(path, "_delta_log", f"{v:020d}.json"), "w") as fh:
            fh.write(json.dumps(ci) + "\n" + json.dumps(add) + "\n")

    changes = t.changes(0, 499)
    plan = changes._jdf.queryExecution().executedPlan().toString()
    # insert-only range → exactly one parquet scan arm, however many commits
    assert plan.count("FileScan parquet") + plan.count("BatchScan") <= 2
    assert changes.count() == 500 * 10
    versions = changes.select("_commit_version").distinct().count()
    assert versions == 500


def test_cdf_missing_commit_raises(spark, tmp_path):
    from delta_kernel_rs_spark.sources.cdf import ChangeDataFeedError

    path = str(tmp_path / "tbl")
    t = DeltaTable.create(
        spark,
        path,
        df=_ints(spark, 0, 10),
        properties={"delta.enableChangeDataFeed": "true"},
    )
    t.append(_ints(spark, 10, 20))
    t.append(_ints(spark, 20, 30))
    t.checkpoint()  # snapshot no longer needs the early commits…
    os.unlink(os.path.join(path, "_delta_log", f"{1:020d}.json"))  # …but CDF does
    with pytest.raises(ChangeDataFeedError, match="missing"):
        t.changes(0).collect()


def test_cdf_driver_collects_are_commit_sized(spark, tmp_path, monkeypatch):
    """The driver must collect O(commits + path strings), never one Python
    row per file action (round-3 VERDICT: the event list was the last CDF
    scale ceiling). 3 commits x 40 files = 120 file actions in range; the
    prepass + path-list collects stay under a dozen rows total."""
    import pyspark.sql.classic.dataframe as df_mod

    path = str(tmp_path / "tbl")
    t = DeltaTable.create(
        spark,
        path,
        df=_ints(spark, 0, 40).repartition(40),
        properties={"delta.enableChangeDataFeed": "true"},
    )
    t.append(_ints(spark, 40, 80).repartition(40), auto_checkpoint=False)
    t.append(_ints(spark, 80, 120).repartition(40), auto_checkpoint=False)

    collected_rows = {"n": 0}
    orig_collect = df_mod.DataFrame.collect

    def counting_collect(self):
        rows = orig_collect(self)
        collected_rows["n"] += len(rows)
        return rows

    monkeypatch.setattr(df_mod.DataFrame, "collect", counting_collect)
    changes = t.changes(0)
    planned = collected_rows["n"]  # collects during plan construction
    monkeypatch.setattr(df_mod.DataFrame, "collect", orig_collect)
    assert changes.count() == 120
    # prepass rows (<= commits) + one row per change kind for the path
    # lists; 120 driver rows would mean per-file-action materialization
    assert planned <= 10, f"driver collected {planned} rows during CDF planning"


def test_facade_cdf_planning_never_decodes_dvs_on_driver(spark, tmp_path, monkeypatch):
    """The facade/streaming CDF planner ships DV DESCRIPTORS in the event
    slices; bitmap decode happens only in executor-side read() (r9 — the
    pre-r9 streaming source decoded on the driver). Forbid the decoder
    for the whole planning phase."""
    from pyspark.sql import functions as F

    from delta_kernel_rs_spark.sources.cdf import plan_change_events
    from delta_kernel_rs_spark.sources.delete import delete_with_dvs
    from delta_kernel_rs_spark.sources.storage import LocalStorage
    from delta_kernel_rs_spark.sources.table import DeltaTable

    path = str(tmp_path / "tbl")
    t = DeltaTable.create(
        spark,
        path,
        df=spark.range(200).select(F.col("id").alias("k")),
        properties={"delta.enableChangeDataFeed": "true"},
    )
    t.append(spark.range(200, 300).select(F.col("id").alias("k")))
    delete_with_dvs(t, "k % 7 = 0")

    import delta_kernel_rs_spark.functions.dv as dv_mod

    def boom(*a, **k):  # pragma: no cover - fails the test if reached
        raise AssertionError("DV bitmap decoded on the driver during CDF planning")

    monkeypatch.setattr(dv_mod, "read_dv_row_indexes", boom)
    events = plan_change_events(LocalStorage(), path, 0, t.snapshot().version)
    assert events.num_rows >= 3
    kinds = set(events.column("kind").to_pylist())
    assert "swap" in kinds  # the DV delete classified without decoding
