"""Behavioral wiring of the typed table properties: stats column
selection (dataSkippingStatsColumns / dataSkippingNumIndexedCols /
clustering-required), parquet codec, randomized file prefixes,
rowTrackingSuspended, and targetFileSize-driven OPTIMIZE."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from delta_kernel_rs_spark.sources.table import DeltaTable


def _wide_df(spark, n_cols=40, rows=20):
    cols = [(F.col("id") * (i + 1)).alias(f"c{i:02d}") for i in range(n_cols)]
    return spark.range(rows).select(*cols)


def _add_stats(table, version=None):
    """stats docs of every add in the latest (or given) commit."""
    storage = table.storage if hasattr(table, "storage") else None
    snap = table.snapshot(version)
    log_dir = f"{table.path}/_delta_log"
    from delta_kernel_rs_spark.sources.storage import storage_for

    storage = storage_for(table.spark, table.path)
    v = snap.version if version is None else version
    text = storage.read_text(f"{log_dir}/{v:020d}.json")
    out = []
    for line in text.splitlines():
        if not line.strip():
            continue
        a = json.loads(line)
        if "add" in a and a["add"].get("stats"):
            out.append(json.loads(a["add"]["stats"]))
    return out


def test_stats_columns_property_limits_written_stats(spark, tmp_path):
    df = _wide_df(spark)
    t = DeltaTable.create(
        spark,
        str(tmp_path / "t"),
        df=df,
        properties={"delta.dataSkippingStatsColumns": "c05, c37"},
    )
    for stats in _add_stats(t):
        assert set(stats["minValues"]) == {"c05", "c37"}
        assert set(stats["nullCount"]) == {"c05", "c37"}


def test_num_indexed_cols_all_and_limited(spark, tmp_path):
    df = _wide_df(spark)  # 40 columns: default-32 would truncate
    t_all = DeltaTable.create(
        spark,
        str(tmp_path / "all"),
        df=df,
        properties={"delta.dataSkippingNumIndexedCols": "-1"},
    )
    for stats in _add_stats(t_all):
        assert len(stats["minValues"]) == 40

    t_three = DeltaTable.create(
        spark,
        str(tmp_path / "three"),
        df=df,
        properties={"delta.dataSkippingNumIndexedCols": "3"},
    )
    for stats in _add_stats(t_three):
        assert set(stats["minValues"]) == {"c00", "c01", "c02"}

    t_default = DeltaTable.create(spark, str(tmp_path / "dflt"), df=df)
    for stats in _add_stats(t_default):
        assert len(stats["minValues"]) == 32  # protocol default window


def test_clustering_columns_always_get_stats(spark, tmp_path):
    df = _wide_df(spark)
    t = DeltaTable.create(
        spark,
        str(tmp_path / "t"),
        df=df,
        cluster_by=["c38"],  # outside a 2-column stats budget
        properties={"delta.dataSkippingNumIndexedCols": "2"},
    )
    for stats in _add_stats(t):
        # the protocol's "writers MUST write stats for clustering columns"
        assert set(stats["minValues"]) == {"c00", "c01", "c38"}


def test_skipping_works_on_column_beyond_default_window(spark, tmp_path):
    """With -1 configured, a predicate on column #40 must actually prune
    files (read side parses the stats beyond the default-32 window)."""
    t = DeltaTable.create(
        spark,
        str(tmp_path / "t"),
        df=_wide_df(spark, rows=10),
        properties={"delta.dataSkippingNumIndexedCols": "-1"},
    )
    big = _wide_df(spark, rows=10).select(
        *[(F.col(f"c{i:02d}") + 10_000).alias(f"c{i:02d}") for i in range(40)]
    )
    t.append(big, auto_checkpoint=False)

    scan = t.snapshot().scan(predicate="c39 > 100000")  # second file only: c39 ≥ 10039*40
    kept = scan.scan_files_df().count()
    assert kept < scan.snapshot.to_df().count() or kept == 1
    files_total = t.snapshot().scan().scan_files_df().count()
    assert kept < files_total  # at least one file pruned via c39 stats


def test_parquet_compression_codec_applied(spark, tmp_path):
    import pyarrow.parquet as pq

    t = DeltaTable.create(
        spark,
        str(tmp_path / "t"),
        df=spark.range(100).withColumn("v", F.col("id") * 2),
        properties={"delta.parquet.compression.codec": "GZIP"},
    )
    files = [
        str(p) for p in (tmp_path / "t").glob("*.parquet")
    ]
    assert files
    meta = pq.read_metadata(files[0])
    codecs = {
        meta.row_group(0).column(ci).compression.lower()
        for ci in range(meta.row_group(0).num_columns)
    }
    assert codecs == {"gzip"}
    assert t.to_df().count() == 100  # reads back fine


def test_randomize_file_prefixes_layout_and_readback(spark, tmp_path):
    t = DeltaTable.create(
        spark,
        str(tmp_path / "t"),
        df=spark.range(50).withColumn("p", F.col("id") % 2),
        partition_by=["p"],
        properties={
            "delta.randomizeFilePrefixes": "true",
            "delta.randomPrefixLength": "3",
        },
    )
    # files live under 3-char random prefixes, NOT hive partition dirs
    snap = t.snapshot()
    paths = [
        r.file_path
        for r in t.snapshot().scan().scan_files_df().select("file_path").collect()
    ]
    assert paths
    for p in paths:
        rel = p.split(str(tmp_path / "t") + "/", 1)[-1]
        prefix, base = rel.split("/", 1)
        assert len(prefix) == 3 and "=" not in prefix
        assert "/" not in base
    # partitionValues survive from the action, so reads group correctly
    got = {
        (r.p, r.n)
        for r in t.to_df().groupBy("p").agg(F.count("*").alias("n")).collect()
    }
    assert got == {(0, 25), (1, 25)}


def test_row_tracking_suspended_skips_assignment(spark, tmp_path):
    t = DeltaTable.create(
        spark,
        str(tmp_path / "t"),
        df=spark.range(10),
        properties={"delta.enableRowTracking": "true"},
    )
    assert t.snapshot().get_domain_metadata("delta.rowTracking") is not None
    hwm_before = json.loads(t.snapshot().get_domain_metadata("delta.rowTracking"))[
        "rowIdHighWaterMark"
    ]
    t.set_properties({"delta.rowTrackingSuspended": "true"})
    t.append(spark.range(5), auto_checkpoint=False)
    conf = t.snapshot().get_domain_metadata("delta.rowTracking")
    hwm_after = json.loads(conf)["rowIdHighWaterMark"]
    assert hwm_after == hwm_before  # suspended: no fresh baseRowIds
    # resume: maintenance picks the HWM back up
    t.set_properties({"delta.rowTrackingSuspended": "false"})
    t.append(spark.range(5), auto_checkpoint=False)
    hwm_resumed = json.loads(
        t.snapshot().get_domain_metadata("delta.rowTracking")
    )["rowIdHighWaterMark"]
    assert hwm_resumed > hwm_before


def test_checkpoint_write_stats_as_struct_and_json_policies(spark, tmp_path):
    """delta.checkpoint.writeStatsAsStruct adds add.stats_parsed to the
    checkpoint; writeStatsAsJson=false nulls the JSON document, and the
    reader re-derives it so data skipping still prunes off the struct."""
    import pyarrow.parquet as pq

    t = DeltaTable.create(
        spark,
        str(tmp_path / "t"),
        df=spark.range(10).select((F.col("id")).alias("a")),
        properties={
            "delta.checkpoint.writeStatsAsStruct": "true",
            "delta.checkpoint.writeStatsAsJson": "false",
        },
    )
    t.append(spark.range(10).select((F.col("id") + 1000).alias("a")), auto_checkpoint=False)
    t.checkpoint()

    ckpt = next((tmp_path / "t" / "_delta_log").glob("*.checkpoint.parquet"))
    schema = pq.read_schema(str(ckpt))
    add_idx = schema.names.index("add")
    add_fields = {f.name for f in schema.field(add_idx).type}
    assert "stats_parsed" in add_fields
    tbl = pq.read_table(str(ckpt), columns=["add"])
    adds = [a for a in tbl.column("add").to_pylist() if a and a.get("path")]
    assert adds and all(a.get("stats") is None for a in adds)  # json policy off
    assert all(a["stats_parsed"]["minValues"]["a"] is not None for a in adds)

    # force replay through the checkpoint (drop CRC + later commits exist)
    from delta_kernel_rs_spark.sources.storage import storage_for

    storage = storage_for(spark, t.path)
    for e in storage.list_dir(f"{t.path}/_delta_log"):
        if e.path.endswith(".crc") or e.path.endswith("_last_checkpoint"):
            storage.delete(e.path)
    snap = t.snapshot()
    assert snap.to_df().count() == 20
    # skipping works off the re-derived JSON document
    kept = snap.scan(predicate="a >= 1000").scan_files_df().count()
    total = snap.scan().scan_files_df().count()
    assert kept < total

    # ... and so does the facade's: a pushed filter opens fewer footers
    import delta_kernel_rs_spark.sources.batch_source as bs
    from pyspark.sql import datasource as DS

    reads: list[str] = []
    real = bs.pq_read_schema_names

    def counting(p):
        reads.append(p)
        return real(p)

    def footers(push=None) -> int:
        reads.clear()
        r = bs.DeltaKernelBatchReader(None, {"path": t.path})
        if push is not None:
            r.pushFilters(push)
        for part in r.partitions():
            for _ in r.read(part):
                pass
        return len(reads)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(bs, "pq_read_schema_names", counting)
        all_files = footers()
        pruned = footers([DS.GreaterThanOrEqual(("a",), 1000)])
    assert all_files == total
    assert 0 < pruned < all_files


def test_optimize_honors_target_file_size_property(spark, tmp_path):
    t = DeltaTable.create(
        spark,
        str(tmp_path / "t"),
        df=spark.range(1000).withColumn("v", F.rand(seed=1)),
        properties={"delta.targetFileSize": "1"},  # 1 byte: one file per bin
    )
    for i in range(3):
        t.append(spark.range(1000).withColumn("v", F.rand(seed=i)), auto_checkpoint=False)
    n_before = t.snapshot().scan().scan_files_df().count()
    t.optimize()
    n_after = t.snapshot().scan().scan_files_df().count()
    # a 1-byte target forbids merging: every selected file re-emerges,
    # proving the property reached the bin-packer (default 256 MB would
    # have compacted to a single file)
    assert n_after >= n_before


def test_verify_add_stats_unit():
    """Reference StatsColumnVerifier semantics (stats_verifier.rs):
    nullCount required; min/max required unless all-null
    (nullCount == numRecords); numRecords required only when asked."""
    from delta_kernel_rs_spark.functions.stats import (
        StatsValidationError,
        verify_add_stats,
    )

    def add(path, stats):
        return {"add": {"path": path, "stats": json.dumps(stats) if stats else None}}

    ok = add("a", {"numRecords": 3, "nullCount": {"x": 1},
                   "minValues": {"x": 0}, "maxValues": {"x": 9}})
    all_null = add("b", {"numRecords": 2, "nullCount": {"x": 2},
                         "minValues": {}, "maxValues": {}})
    verify_add_stats([ok, all_null], required_columns=("x",))
    # missing nullCount
    with pytest.raises(StatsValidationError, match="nullCount.*\\[c\\]"):
        verify_add_stats(
            [add("c", {"numRecords": 1, "minValues": {"x": 1}, "maxValues": {"x": 1}})],
            required_columns=("x",),
        )
    # missing min while not all-null
    with pytest.raises(StatsValidationError, match="minValues"):
        verify_add_stats(
            [add("d", {"numRecords": 2, "nullCount": {"x": 1}, "maxValues": {"x": 5}})],
            required_columns=("x",),
        )
    # numRecords gate (icebergCompatV3) short-circuits with the path
    with pytest.raises(StatsValidationError, match="numRecords.*'e'"):
        verify_add_stats([add("e", None)], require_num_records=True)
    # no requirements -> no-op even with statless adds
    verify_add_stats([add("f", None)])
    # removes pass through untouched
    verify_add_stats([{"remove": {"path": "g"}}], required_columns=("x",))


def test_clustered_write_without_stats_refused(spark, tmp_path, monkeypatch):
    """End-to-end: a clustered table's commit fails if the writer somehow
    produced adds without clustering-column stats (the protocol's MUST)."""
    from delta_kernel_rs_spark.functions.stats import StatsValidationError
    from delta_kernel_rs_spark.sources import transaction as txn_mod

    df = _wide_df(spark, n_cols=3, rows=10)
    t = DeltaTable.create(spark, str(tmp_path / "t"), df=df, cluster_by=["c02"])

    real_stats_json = txn_mod.stats_json

    def broken_stats_json(raw, schema):
        doc = json.loads(real_stats_json(raw, schema))
        doc.get("minValues", {}).pop("c02", None)
        doc.get("nullCount", {}).pop("c02", None)
        return json.dumps(doc)

    monkeypatch.setattr(txn_mod, "stats_json", broken_stats_json)
    with pytest.raises(StatsValidationError, match="c02"):
        t.append(_wide_df(spark, n_cols=3, rows=5))


def _data_file_count(t):
    return (
        t.snapshot().scan().scan_files_df().count()
    )


def test_optimize_write_rebalances_small_partitions(spark, tmp_path):
    """delta.autoOptimize.optimizeWrite: an 8-way-partitioned tiny append
    collapses to few output files via the pre-write REBALANCE shuffle;
    without the property the writer keeps Spark's partitioning."""
    df = spark.range(1000).toDF("id").repartition(8)
    plain = DeltaTable.create(spark, str(tmp_path / "plain"), df=df)
    ow = DeltaTable.create(
        spark,
        str(tmp_path / "ow"),
        df=df,
        properties={"delta.autoOptimize.optimizeWrite": "true"},
    )
    assert _data_file_count(plain) == 8
    assert _data_file_count(ow) < 8  # AQE coalesced the tiny partitions


def test_auto_compact_triggers_at_min_files(spark, tmp_path, monkeypatch):
    """delta.autoOptimize.autoCompact: once a partition accumulates
    MIN_FILES small files, the post-commit hook bin-packs them in a new
    OPTIMIZE commit; below the threshold nothing extra is committed."""
    monkeypatch.setattr(DeltaTable, "AUTO_COMPACT_MIN_FILES", 4)
    t = DeltaTable.create(
        spark,
        str(tmp_path / "t"),
        df=spark.range(10).coalesce(1).toDF("id"),
        properties={"delta.autoOptimize.autoCompact": "true"},
    )
    assert _data_file_count(t) == 1  # below threshold: no compaction
    v1 = t.snapshot().version
    for i in range(3):
        t.append(spark.range(10 * i, 10 * i + 10).coalesce(1).toDF("id"))
    # 4 small files seen by the post-commit hook -> compacted to 1
    assert _data_file_count(t) == 1
    ops = [r["operation"] for r in t.history().collect()]
    assert "OPTIMIZE" in ops
    # the hook committed exactly once (only when the threshold was hit)
    assert ops.count("OPTIMIZE") == 1
    assert t.to_df().count() == 40


def test_auto_compact_off_leaves_small_files(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(DeltaTable, "AUTO_COMPACT_MIN_FILES", 4)
    t = DeltaTable.create(
        spark, str(tmp_path / "t"), df=spark.range(10).coalesce(1).toDF("id")
    )
    for i in range(3):
        t.append(spark.range(10 * i, 10 * i + 10).coalesce(1).toDF("id"))
    assert _data_file_count(t) == 4


def test_staged_add_validation(spark, tmp_path):
    """Reference write_validation/addfile.rs: adds must carry the
    mandatory fields, and partitionValues keys must equal the table's
    physical partition columns exactly."""
    t = DeltaTable.create(
        spark,
        str(tmp_path / "t"),
        df=spark.range(10).withColumn("p", F.col("id") % 2),
        partition_by=["p"],
    )
    from delta_kernel_rs_spark.sources.transaction import Transaction

    def txn():
        return Transaction(
            spark, t.path, operation="WRITE", read_snapshot=t.snapshot()
        )

    good = {
        "path": "x.parquet",
        "partitionValues": {"p": "0"},
        "size": 1,
        "modificationTime": 1,
        "dataChange": True,
    }
    with pytest.raises(ValueError, match="missing required fields.*size"):
        txn().add_actions([{"add": {k: v for k, v in good.items() if k != "size"}}]).commit()
    with pytest.raises(ValueError, match="partitionValues keys"):
        bad = dict(good, partitionValues={})
        txn().add_actions([{"add": bad}]).commit()
    with pytest.raises(ValueError, match="partitionValues keys"):
        bad = dict(good, partitionValues={"p": "0", "q": "1"})
        txn().add_actions([{"add": bad}]).commit()


def test_skipping_on_clustering_column_with_zero_indexed_cols(spark, tmp_path):
    """numIndexedCols=0 turns off positional stats, but clustering columns
    still carry stats (protocol MUST) and the read side must still prune
    on them (reader parse schema includes required clustering columns)."""
    t = DeltaTable.create(
        spark,
        str(tmp_path / "t"),
        df=spark.range(100).coalesce(1).select(F.col("id").alias("k"), F.col("id").alias("v")),
        cluster_by=["k"],
        properties={"delta.dataSkippingNumIndexedCols": "0"},
    )
    t.append(
        spark.range(10_000, 10_100).coalesce(1)
        .select(F.col("id").alias("k"), F.col("id").alias("v")),
        auto_checkpoint=False,
    )
    scan = t.snapshot().scan(predicate="k > 50000")
    assert scan.scan_files_df().count() == 0  # both files pruned via k stats
    scan2 = t.snapshot().scan(predicate="v > 50000")
    assert scan2.scan_files_df().count() == 2  # v has no stats: keep all


def test_commit_info_blind_append_and_engine_fields(spark, tmp_path):
    """commitInfo parity (reference transaction/commit_info.rs): appends
    mark isBlindAppend=true, DML removes mark false; engine-supplied
    commitInfo fields ride along but never override kernel-managed ones."""
    from delta_kernel_rs_spark.sources.storage import storage_for
    from delta_kernel_rs_spark.sources.transaction import Transaction

    t = DeltaTable.create(spark, str(tmp_path / "t"), df=spark.range(10).coalesce(1).toDF("id"))

    def commit_info(version):
        text = storage_for(spark, t.path).read_text(
            f"{t.path}/_delta_log/{version:020d}.json"
        )
        first = json.loads(text.splitlines()[0])
        return first["commitInfo"]

    v1 = t.append(spark.range(5).coalesce(1).toDF("id"), auto_checkpoint=False)
    assert commit_info(v1)["isBlindAppend"] is True

    v2 = t.delete("id < 3")
    assert commit_info(v2)["isBlindAppend"] is False

    txn = Transaction(
        spark, t.path, operation="WRITE", read_snapshot=t.snapshot()
    ).with_commit_info({"userMetadata": "nightly-batch-17", "operation": "EVIL"})
    v3 = txn.write_data(spark.range(2).coalesce(1).toDF("id")).commit()
    ci = commit_info(v3)
    assert ci["userMetadata"] == "nightly-batch-17"
    assert ci["operation"] == "WRITE"  # kernel-managed field wins
