"""Negative tests for corrupt/inconsistent logs (the reference ships
checkpoint-corruption golden cases — kernel/tests/golden_data; these are
our equivalents over engine-written tables)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from delta_kernel_rs_spark.sources.table import DeltaTable


def _tbl(spark, tmp_path, n_appends=2):
    t = DeltaTable.create(
        spark,
        str(tmp_path / "tbl"),
        df=spark.range(10).select(F.col("id").alias("k")),
    )
    for i in range(1, n_appends + 1):
        t.append(
            spark.range(i * 10, (i + 1) * 10).select(F.col("id").alias("k")),
            auto_checkpoint=False,
        )
    return t


def test_log_gap_is_refused(spark, tmp_path):
    """A missing commit version (vacuumed mid-log / torn copy) must fail
    the snapshot build, never silently skip history."""
    t = _tbl(spark, tmp_path)
    os.unlink(os.path.join(t.path, "_delta_log", f"{1:020d}.json"))
    with pytest.raises(Exception, match="(?i)gap|contiguous|missing"):
        DeltaTable(spark, t.path).snapshot()


def test_last_checkpoint_beyond_log_is_refused_or_ignored(spark, tmp_path):
    """A _last_checkpoint hint pointing past the real log must not fabricate
    a newer snapshot: either the hint is ignored (correct data returned)
    or the load fails loudly."""
    t = _tbl(spark, tmp_path)
    hint = os.path.join(t.path, "_delta_log", "_last_checkpoint")
    with open(hint, "w") as fh:
        fh.write(json.dumps({"version": 999, "size": 1}))
    try:
        snap = DeltaTable(spark, t.path).snapshot()
    except Exception:
        return  # loud failure is acceptable
    assert snap.version == 2
    assert snap.scan().to_df().count() == 30


def test_missing_v2_sidecar_fails_scan(spark, tmp_path):
    """Deleting a referenced V2-checkpoint sidecar must fail the read, not
    return a partial table."""
    t = _tbl(spark, tmp_path)
    t.checkpoint(v2=True)
    # drop the pre-checkpoint commits so replay MUST go through the
    # checkpoint (otherwise the json tail covers everything)
    t.cleanup_expired_logs(retention_ms=0, now_ms=2**62)
    sidecar_dir = os.path.join(t.path, "_delta_log", "_sidecars")
    for f in os.listdir(sidecar_dir):
        os.unlink(os.path.join(sidecar_dir, f))
    with pytest.raises(Exception):
        DeltaTable(spark, t.path).to_df().count()


def test_torn_commit_json_fails_loudly(spark, tmp_path):
    """A torn/garbage line in the newest commit must not be silently
    dropped from replay."""
    t = _tbl(spark, tmp_path)
    log = os.path.join(t.path, "_delta_log", f"{2:020d}.json")
    with open(log, "a") as fh:
        fh.write('{"add": {"path": "truncated-no-close\n')
    with pytest.raises(Exception):
        DeltaTable(spark, t.path).to_df().count()


def test_torn_commit_json_fails_facade_reads(spark, tmp_path):
    """The facade's planners parse commits without a SparkSession; a torn
    line must fail them too, not drop the action it held (the change
    feed used to report the commit without the torn add)."""
    from delta_kernel_rs_spark.sources.batch_source import register_batch_source

    t = DeltaTable.create(
        spark,
        str(tmp_path / "tbl"),
        df=spark.range(10).select(F.col("id").alias("k")),
        properties={"delta.enableChangeDataFeed": "true"},
    )
    t.append(spark.range(10, 20).select(F.col("id").alias("k")), auto_checkpoint=False)
    log = os.path.join(t.path, "_delta_log", f"{1:020d}.json")
    with open(log, "a") as fh:
        fh.write('{"add": {"path": "truncated-no-close\n')
    register_batch_source(spark)
    reader = spark.read.format("delta_kernel").option("path", t.path)
    with pytest.raises(Exception, match="malformed action line"):
        reader.load().count()
    with pytest.raises(Exception, match="malformed action line"):
        reader.option("readChangeFeed", "true").option("startingVersion", 1).load().count()
