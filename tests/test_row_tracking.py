"""Row tracking tests (reference kernel/src/row_tracking.rs:17-50):
baseRowId assignment, high-water-mark domain metadata, row_id synthesis,
DV-swap lineage preservation."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from delta_kernel_rs_spark.sources.delete import delete_with_dvs
from delta_kernel_rs_spark.sources.table import DeltaTable

RT_PROPS = {"delta.enableRowTracking": "true"}


def _ints(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id").alias("k"))


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "tbl")
    t = DeltaTable.create(spark, path, df=_ints(spark, 0, 40), properties=RT_PROPS)
    t.append(_ints(spark, 40, 100))
    return t


def test_base_row_ids_contiguous_and_hwm(table):
    files = sorted(table.snapshot().scan().files(), key=lambda f: f.base_row_id)
    assert files[0].base_row_id == 0  # first file of a fresh table
    # contiguous: each file's base = previous base + previous numRecords
    total = 0
    for f in files:
        assert f.base_row_id == total
        # recover numRecords from the add's position of the next file
        import pyarrow.parquet as pq

        total += pq.read_metadata(f.path).num_rows
    assert total == 100
    conf = table.snapshot().get_domain_metadata("delta.rowTracking")
    assert json.loads(conf) == {"rowIdHighWaterMark": 99}


def test_row_ids_unique_and_dense(table):
    df = table.to_df(with_row_ids=True)
    rows = df.collect()
    ids = [r.row_id for r in rows]
    assert sorted(ids) == list(range(100))
    # commit version per row matches which append wrote it
    by_version = {r.k: r.row_commit_version for r in rows}
    assert all(v == 0 for k, v in by_version.items() if k < 40)
    assert all(v == 1 for k, v in by_version.items() if k >= 40)


def test_row_ids_stable_across_dv_delete(table):
    before = {r.k: r.row_id for r in table.to_df(with_row_ids=True).collect()}
    delete_with_dvs(table, "k % 5 = 0")
    after = {r.k: r.row_id for r in table.to_df(with_row_ids=True).collect()}
    assert set(after) == {k for k in range(100) if k % 5 != 0}
    # surviving rows keep their ids through the DV swap (lineage preserved)
    assert all(before[k] == v for k, v in after.items())


def test_cdf_by_row_tracking_detects_update(spark, tmp_path):
    """An overwrite-style change shows as update pre/post pair on the same
    row id; pure inserts/deletes classify correctly."""
    from delta_kernel_rs_spark.sources.cdf import changes_by_row_tracking

    path = str(tmp_path / "tbl")
    t = DeltaTable.create(spark, path, df=_ints(spark, 0, 20), properties=RT_PROPS)
    t.append(_ints(spark, 20, 30))  # v1 inserts
    delete_with_dvs(t, "k < 5")  # v2 deletes
    ch = changes_by_row_tracking(spark, path, base_version=0).collect()
    by_type: dict[str, set] = {}
    for r in ch:
        by_type.setdefault(r._change_type, set()).add(r.k)
    assert by_type["insert"] == set(range(20, 30))
    assert by_type["delete"] == set(range(0, 5))
    assert "update_preimage" not in by_type


def test_protocol_lists_row_tracking_features(table):
    proto = table.snapshot().protocol
    assert proto.min_writer_version == 7
    assert "rowTracking" in proto.writer_features
    assert "domainMetadata" in proto.writer_features


def test_cdf_by_row_tracking_skips_unchanged_files(spark, tmp_path):
    """Files identical in both snapshots are excluded from BOTH sides of
    the lineage join — at a small change fraction the plan reads the
    changed files, not 2x the table."""
    from delta_kernel_rs_spark.sources.cdf import changes_by_row_tracking

    path = str(tmp_path / "tbl")
    t = DeltaTable.create(spark, path, df=_ints(spark, 0, 40), properties=RT_PROPS)
    t.append(_ints(spark, 40, 80))   # file(s) that will NOT change
    base_files = {f.path for f in t.snapshot().scan().files()}
    t.append(_ints(spark, 80, 90))   # new file: insert changes
    ch = changes_by_row_tracking(spark, path, base_version=1)
    assert sorted(r.k for r in ch.collect()) == list(range(80, 90))
    read = set(ch.inputFiles())
    # none of the unchanged base files were read by either side
    assert not (read & {f"file:{p}" for p in base_files}) and not (
        read & base_files
    ), f"unchanged files read: {read & base_files}"


@pytest.mark.parametrize(
    "scheme, partition_by", [("", ["p"]), ("file://", None)], ids=["partitioned", "file_uri"]
)
def test_recount_of_stats_less_files_matches_their_rows(spark, tmp_path, scheme, partition_by):
    """Adds whose footer stats could not be parsed are recounted from the
    data files; each count must land on its add when the partition
    directory is percent-encoded in the log and when the table root is a
    ``file://`` URI."""
    import urllib.parse

    import pyarrow.parquet as pq

    from delta_kernel_rs_spark.sources.transaction import Transaction

    path = scheme + str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, "a b" if i % 2 else "x+y") for i in range(7)], "k long, p string"
    )
    df = df.coalesce(1) if partition_by else df.repartition(2)
    DeltaTable.create(spark, path, df=df, partition_by=partition_by)
    commit = tmp_path / "tbl" / "_delta_log" / "00000000000000000000.json"
    adds = [
        {"add": {"path": json.loads(line)["add"]["path"]}}
        for line in commit.read_text().splitlines()
        if line.startswith('{"add"')
    ]
    assert len(adds) == 2
    assert bool(partition_by) == all("%" in a["add"]["path"] for a in adds)
    counts = Transaction(spark, path, "WRITE")._recount_missing_stats(adds)
    assert counts == {
        rel: pq.ParquetFile(tmp_path / "tbl" / urllib.parse.unquote(rel)).metadata.num_rows
        for rel in (a["add"]["path"] for a in adds)
    }
    assert sum(counts.values()) == 7
