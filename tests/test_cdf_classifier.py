"""Change-feed classification, pinned: ``table_changes`` and the facade's
``readChangeFeed`` must agree row for row, and both must give the pinned
per-(version, change type) counts and key sums, on a range that holds
every rule of the per-commit classifier (reference
``table_changes/log_replay.rs:46-100``):

* a DV swap (remove+add of one path with a new DV) and a commit with cdc
  files, in one range;
* one file DV-deleted at two versions of the range, which fans out into
  one change-row set per version;
* a remove+add re-add (RESTORE re-adds a file without its DV);
* in-commit timestamps as ``_commit_timestamp``;
* a mid-range ``metaData`` that turns CDF off, which fails the range.
"""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from delta_kernel_rs_spark.sources.batch_source import register_batch_source
from delta_kernel_rs_spark.sources.cdf import ChangeDataFeedError, table_changes
from delta_kernel_rs_spark.sources.delete import delete_with_dvs
from delta_kernel_rs_spark.sources.table import DeltaTable

CDF_ON = {"delta.enableChangeDataFeed": "true"}


def _facade(spark, path, start, end=None):
    register_batch_source(spark)
    r = (
        spark.read.format("delta_kernel")
        .option("path", path)
        .option("readChangeFeed", "true")
        .option("startingVersion", start)
    )
    if end is not None:
        r = r.option("endingVersion", end)
    return r.load()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _counts(df):
    return {
        (r._commit_version, r._change_type): (r.n, r.s)
        for r in df.groupBy("_commit_version", "_change_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("s"))
        .collect()
    }


def _ict_ms(path, version):
    with open(f"{path}/_delta_log/{version:020d}.json") as fh:
        for line in fh:
            action = json.loads(line)
            if "commitInfo" in action:
                return action["commitInfo"]["inCommitTimestamp"]
    raise AssertionError(f"no commitInfo in commit {version}")


@pytest.fixture()
def history(spark, tmp_path):
    """v0 create (2 partitions) · v1 append · v2, v3 DV deletes (the same
    files at both) · v4 copy-on-write update (cdc files) · v5 RESTORE to
    v1 (re-adds v0's files without their DVs, removes the update's)."""
    path = str(tmp_path / "tbl")
    df = spark.range(0, 40, 1, 1).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("p")
    )
    t = DeltaTable.create(
        spark,
        path,
        df=df,
        partition_by=["p"],
        properties={**CDF_ON, "delta.enableInCommitTimestamps": "true"},
    )
    t.append(
        spark.range(40, 60, 1, 1).select(
            F.col("id").alias("k"), (F.col("id") % 2).alias("p")
        )
    )
    assert delete_with_dvs(t, "k < 40 AND k % 5 = 0") == 2
    assert delete_with_dvs(t, "k < 40 AND k % 7 = 0") == 3
    t.update("k >= 50", {"k": F.col("k") + 100})
    t.restore(version=1)
    assert t.snapshot().version == 5
    return t


#: (version, change type) -> (rows, sum of k), worked out by hand from the
#: fixture's history and checked against both readers
PINNED = {
    (0, "insert"): (40, sum(range(40))),
    (1, "insert"): (20, sum(range(40, 60))),
    # v2: k in {0,5,...,35}
    (2, "delete"): (8, sum(range(0, 40, 5))),
    # v3: k in {7,14,21,28} (0 and 35 were deleted at v2)
    (3, "delete"): (4, 7 + 14 + 21 + 28),
    (4, "update_preimage"): (10, sum(range(50, 60))),
    (4, "update_postimage"): (10, sum(range(150, 160))),
    # v5: the restore re-adds v0's files without their DVs (a swap: the 12
    # DV-hidden rows come back), removes the update's rewritten files
    # (k 40-49 and 150-159) and re-adds v1's (k 40-59) whole
    (5, "insert"): (12 + 20, sum(range(0, 40, 5)) + 7 + 14 + 21 + 28 + sum(range(40, 60))),
    (5, "delete"): (20, sum(range(40, 50)) + sum(range(150, 160))),
}


def test_table_changes_matches_facade_and_pinned_counts(spark, history):
    path = history.path
    got = table_changes(spark, path, 0)
    facade = _facade(spark, path, 0)
    assert got.columns == facade.columns
    assert _rows(got) == _rows(facade.select(*got.columns))
    assert _counts(got) == PINNED


def test_in_commit_timestamps_are_the_commit_timestamp(spark, history):
    path = history.path
    want = {
        v: dt.datetime.fromtimestamp(_ict_ms(path, v) / 1000) for v in range(6)
    }
    for df in (table_changes(spark, path, 0), _facade(spark, path, 0)):
        seen = {
            r._commit_version: r._commit_timestamp
            for r in df.select("_commit_version", "_commit_timestamp").distinct().collect()
        }
        assert seen == want


@pytest.mark.parametrize("start, end", [(2, 3), (3, 5), (1, 4)])
def test_sub_ranges_match_facade(spark, history, start, end):
    """The same file swapped at v2 and v3: a range that holds one of the
    two versions must give that version's rows only."""
    got = table_changes(spark, history.path, start, end)
    assert _rows(got) == _rows(_facade(spark, history.path, start, end).select(*got.columns))
    assert _counts(got) == {
        key: val for key, val in PINNED.items() if start <= key[0] <= end
    }


def test_mid_range_metadata_turning_cdf_off_fails_the_range(spark, tmp_path):
    path = str(tmp_path / "tbl")
    t = DeltaTable.create(
        spark, path, df=spark.range(0, 10).select(F.col("id").alias("k")), properties=CDF_ON
    )
    t.append(spark.range(10, 20).select(F.col("id").alias("k")))
    off = t.set_properties({"delta.enableChangeDataFeed": "false"})
    t.append(spark.range(20, 30).select(F.col("id").alias("k")))
    on = t.set_properties({"delta.enableChangeDataFeed": "true"})
    t.append(spark.range(30, 40).select(F.col("id").alias("k")))
    assert (off, on) == (2, 4)

    # both ends of the range have CDF on: only the commit at v2 can tell
    with pytest.raises(ChangeDataFeedError, match="not enabled at version 2"):
        table_changes(spark, path, 0, 5)
    with pytest.raises(Exception, match="not enabled at version 2"):
        _facade(spark, path, 0, 5).collect()
    # after the re-enabling commit the range serves
    assert _counts(table_changes(spark, path, 4)) == {(5, "insert"): (10, sum(range(30, 40)))}


def test_file_uri_root_serves_the_change_feed(spark, tmp_path):
    """A table root given as a ``file://`` URI serves the same rows as its
    plain path."""
    path = str(tmp_path / "tbl")
    t = DeltaTable.create(
        spark, path, df=spark.range(0, 100).select(F.col("id").alias("k")), properties=CDF_ON
    )
    t.append(spark.range(100, 150).select(F.col("id").alias("k")))
    delete_with_dvs(t, "k % 10 = 0")
    got = table_changes(spark, f"file://{path}", 0)
    assert _counts(got) == {
        (0, "insert"): (100, sum(range(100))),
        (1, "insert"): (50, sum(range(100, 150))),
        (2, "delete"): (15, sum(range(0, 150, 10))),
    }
    assert _rows(got) == _rows(table_changes(spark, path, 0))
