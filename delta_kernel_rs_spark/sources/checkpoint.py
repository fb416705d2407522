"""Checkpoint + log-compaction writers.

Mirrors the reference's checkpoint module (kernel/src/checkpoint/mod.rs —
V1 classic single-file checkpoints; reconciled actions = latest P&M, live
adds, unexpired remove tombstones, latest txn per app, live domain
metadata) and log compaction (kernel/src/log_compaction/).

The reconciliation replay runs as a Spark job (a newest-wins dedup
aggregate); only the driver-side rename of the single output file is local.
"""

from __future__ import annotations

import json
import urllib.parse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_kernel_rs_spark.sources.actions import ACTIONS_SCHEMA
from delta_kernel_rs_spark.sources.delta_paths import (
    LOG_DIR,
    classic_checkpoint_filename,
    compacted_filename,
)
from delta_kernel_rs_spark.sources.scan import (
    canonical_log_path,
    dv_unique_id,
    read_named_files,
    resolved_checkpoint_df,
)
from delta_kernel_rs_spark.sources.snapshot import Snapshot
from delta_kernel_rs_spark.sources.storage import storage_for
from delta_kernel_rs_spark.sources.transaction import _now_ms

#: remove tombstones older than this need not be checkpointed
DEFAULT_TOMBSTONE_RETENTION_MS = 7 * 24 * 3600 * 1000


def _pad_to_actions_schema(df: DataFrame) -> DataFrame:
    cols = []
    present = set(df.columns)
    for f in ACTIONS_SCHEMA.fields:
        if f.name in present:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


def _version_map_df(spark, seg) -> DataFrame:
    """(log filename → version) lookup, built from the driver's listing.

    Compacted files carry the range end as their effective version (all
    actions inside are already newest-wins-reconciled for the range).
    """
    rows = [
        (c.filename, c.end_version if c.end_version is not None else c.version)
        for c in seg.commit_files
    ]
    return spark.createDataFrame(rows, "log_filename STRING, version LONG")


def _full_replay(snapshot: Snapshot) -> DataFrame:
    """Latest (add, remove, version) per file key across the whole segment —
    the newest-wins fold, keeping remove tombstones too."""
    spark = snapshot.spark
    seg = snapshot.log_segment
    arms = []
    if seg.commit_files:
        from delta_kernel_rs_spark.sources.actions import SCAN_ACTIONS_SCHEMA

        raw = read_named_files(
            spark,
            [c.path for c in seg.commit_files],
            fmt="json",
            schema=SCAN_ACTIONS_SCHEMA,
            mode="FAILFAST",
        )
        arms.append(
            raw.withColumn(
                "log_filename",
                F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
            )
            .join(F.broadcast(_version_map_df(spark, seg)), "log_filename")
            .select("add", "remove", "version")
        )
    if seg.checkpoint_parts:
        # Resolve V2 sidecars — the top-level V2 file carries no file
        # actions, so replaying it directly would silently drop every add.
        ckpt = resolved_checkpoint_df(spark, seg)
        cols = set(ckpt.columns)
        sel = [
            F.col("add") if "add" in cols else F.lit(None).cast(ACTIONS_SCHEMA["add"].dataType).alias("add"),
            F.col("remove") if "remove" in cols else F.lit(None).cast(ACTIONS_SCHEMA["remove"].dataType).alias("remove"),
            F.lit(seg.checkpoint_version).cast("long").alias("version"),
        ]
        arms.append(ckpt.select(*sel))
    df = arms[0]
    for a in arms[1:]:
        df = df.unionByName(a)
    df = df.filter(F.col("add").isNotNull() | F.col("remove").isNotNull())
    keyed = df.select(
        # decoded file identity (scan.canonical_log_path): the fold must
        # collapse differently-encoded spellings of the same file
        canonical_log_path(
            F.coalesce(F.col("add.path"), F.col("remove.path"))
        ).alias("key_path"),
        F.when(
            F.col("add").isNotNull(), dv_unique_id(F.col("add.deletionVector"))
        )
        .otherwise(dv_unique_id(F.col("remove.deletionVector")))
        .alias("key_dv"),
        "add",
        "remove",
        "version",
    )
    latest = (
        keyed.groupBy("key_path", "key_dv")
        .agg(F.max_by(F.struct("version", "add", "remove"), F.col("version")).alias("w"))
        .select(F.col("w.add").alias("add"), F.col("w.remove").alias("remove"))
    )
    # Expired remove tombstones are dropped (reference contract,
    # kernel/src/checkpoint/mod.rs:1-90) — otherwise checkpoints grow
    # without bound on delete-heavy tables.
    cutoff = _now_ms() - _tombstone_retention_ms(snapshot)
    return latest.filter(
        F.col("add").isNotNull()
        | F.col("remove.deletionTimestamp").isNull()
        | (F.col("remove.deletionTimestamp") >= cutoff)
    )


def _interval_ms(raw: str) -> int | None:
    """Parse a Delta ``interval N units`` property value to ms; None if
    unparsable (callers substitute their property's default). Delegates to
    the typed-properties parser so every interval in the engine shares the
    reference grammar (negatives and months/years rejected,
    ``parse_interval_impl`` in table_properties/deserialize.rs)."""
    from delta_kernel_rs_spark.sources.table_properties import parse_interval_ms

    return parse_interval_ms(raw.strip())


def _tombstone_retention_ms(snapshot: Snapshot) -> int:
    """``delta.deletedFileRetentionDuration`` ("interval N units") or default."""
    raw = snapshot.metadata.configuration.get("delta.deletedFileRetentionDuration")
    if not raw:
        return DEFAULT_TOMBSTONE_RETENTION_MS
    ms = _interval_ms(raw)
    return ms if ms is not None else DEFAULT_TOMBSTONE_RETENTION_MS


def txn_retention_ms(configuration: dict) -> int | None:
    """``delta.setTransactionRetentionDuration`` — None when unset: txn
    actions never expire by default (reference table_properties/mod.rs:52,
    snapshot/mod.rs:437 — lastUpdated-based filtering only when the
    property is present)."""
    raw = configuration.get("delta.setTransactionRetentionDuration")
    return _interval_ms(raw) if raw else None


def txn_live(txn: dict, retention_ms: int | None, now_ms: int | None = None) -> bool:
    """A txn action survives unless retention is configured AND its
    lastUpdated predates the cutoff. A txn WITHOUT lastUpdated never
    expires (there is nothing to compare — the reference keeps it)."""
    if retention_ms is None:
        return True
    lu = txn.get("lastUpdated")
    if lu is None:
        return True
    now = now_ms if now_ms is not None else _now_ms()
    return lu >= now - retention_ms


def _driver_actions(snapshot: Snapshot) -> list[dict]:
    """P&M + latest txn per app + live domain metadata (driver-side scan of
    the commit tail — small by construction)."""
    actions: list[dict] = [
        {
            "protocol": {
                "minReaderVersion": snapshot.protocol.min_reader_version,
                "minWriterVersion": snapshot.protocol.min_writer_version,
                **(
                    {"readerFeatures": snapshot.protocol.reader_features}
                    if snapshot.protocol.min_reader_version >= 3
                    else {}
                ),
                **(
                    {"writerFeatures": snapshot.protocol.writer_features}
                    if snapshot.protocol.min_writer_version >= 7
                    else {}
                ),
            }
        },
        {
            "metaData": {
                "id": snapshot.metadata.id,
                "name": snapshot.metadata.name,
                "description": snapshot.metadata.description,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": snapshot.metadata.schema_string,
                "partitionColumns": snapshot.metadata.partition_columns,
                "configuration": snapshot.metadata.configuration,
                "createdTime": snapshot.metadata.created_time,
            }
        },
    ]
    txns, domains = live_txns_and_domains(snapshot)
    # expired set-transactions drop out of the checkpoint (reference
    # action_reconciliation: retention-filtered at checkpoint write)
    t_ret = txn_retention_ms(snapshot.metadata.configuration)
    actions.extend(
        {"txn": t} for t in txns.values() if txn_live(t, t_ret)
    )
    actions.extend({"domainMetadata": d} for d in domains.values() if not d.get("removed"))
    return actions


def live_txns_and_domains(snapshot) -> tuple[dict[str, dict], dict[str, dict]]:
    """Full replay of setTransaction / domainMetadata state: latest txn per
    appId, latest domainMetadata per domain (tombstones included — callers
    filter ``removed``). Shared by the checkpoint writer and the full CRC
    compute (reference action_reconciliation + crc writer)."""
    txns: dict[str, dict] = {}
    domains: dict[str, dict] = {}
    for commit in snapshot.log_segment.commit_files:
        for line in snapshot.storage.read_text(commit.path).splitlines():
            line = line.strip()
            if not line or ('"txn"' not in line and '"domainMetadata"' not in line):
                continue
            try:
                action = json.loads(line)
            except ValueError:
                continue
            txn = action.get("txn")
            if txn and txn.get("appId"):
                cur = txns.get(txn["appId"])
                if cur is None or (txn.get("version") or 0) >= (cur.get("version") or 0):
                    txns[txn["appId"]] = txn
            dm = action.get("domainMetadata")
            if dm and dm.get("domain"):
                domains[dm["domain"]] = dm
    # txns/domains surviving from a previous checkpoint
    if snapshot.log_segment.checkpoint_parts:
        # hint fast path: nonFileActions is the checkpoint's complete
        # non-file set when present (last_checkpoint_hint.rs:87-91)
        nfa = snapshot.log_segment.hint_non_file_actions()
        if nfa is not None:
            for entry in nfa:
                t = entry.get("txn")
                if t and t.get("appId"):
                    cur = txns.get(t["appId"])
                    if cur is None or (t.get("version") or 0) > (cur.get("version") or 0):
                        txns[t["appId"]] = t
                d = entry.get("domainMetadata")
                if d and d.get("domain"):
                    domains.setdefault(d["domain"], d)
            return txns, domains
        from delta_kernel_rs_spark.sources.scan import checkpoint_top_df

        ck = checkpoint_top_df(snapshot.spark, snapshot.log_segment)
        if "txn" in ck.columns:
            for r in ck.filter(F.col("txn.appId").isNotNull()).select("txn").collect():
                t = r.txn.asDict()
                cur = txns.get(t["appId"])
                if cur is None or (t.get("version") or 0) > (cur.get("version") or 0):
                    txns[t["appId"]] = t
        if "domainMetadata" in ck.columns:
            for r in (
                ck.filter(F.col("domainMetadata.domain").isNotNull())
                .select("domainMetadata")
                .collect()
            ):
                d = r.domainMetadata.asDict()
                domains.setdefault(d["domain"], d)
    return txns, domains


def _write_single_parquet(spark, storage, df: DataFrame, tmp_dir: str, final: str) -> None:
    df.coalesce(1).write.mode("overwrite").parquet(tmp_dir)
    part = next(
        e.path for e in storage.list_recursive(tmp_dir) if e.path.endswith(".parquet")
    )
    storage.rename(part, final)
    from delta_kernel_rs_spark.sources.transaction import _cleanup_dir

    _cleanup_dir(storage, tmp_dir)


def write_checkpoint(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
    v2: bool = False,
    parts: int | None = None,
    snapshot: "Snapshot | None" = None,
) -> int:
    """Write a checkpoint for ``version`` (default: latest).

    ``v2=False``: V1 classic checkpoint — single file, or ``parts`` N
    multi-part files ``{v}.checkpoint.{i}.{n}.parquet`` (file actions
    hash-distributed across parts, P&M in part 1), which keeps each part
    writable in parallel and bounded on very large tables. ``v2=True``: V2
    layout (reference kernel/src/checkpoint/mod.rs): file actions go to a
    sidecar parquet under ``_delta_log/_sidecars/``; the top-level
    ``{v}.checkpoint.{uuid}.parquet`` carries P&M/txn/domainMetadata, a
    ``checkpointMetadata`` action and the ``sidecar`` pointers — the shape
    the scan's ``resolved_checkpoint_df`` already reads.
    """
    import uuid as _uuid

    if snapshot is None:
        # catalog-managed tables can't be loaded without their log tail —
        # callers holding a committer pass the snapshot in (DeltaTable
        # .checkpoint); the bare-path spelling serves filesystem tables
        snapshot = Snapshot.create(spark, table_path, version=version)
    v = snapshot.version
    storage = storage_for(spark, table_path)
    log_dir = f"{table_path.rstrip('/')}/{LOG_DIR}"

    replayed = _full_replay(snapshot)
    file_actions = _apply_checkpoint_stats_policy(
        _pad_to_actions_schema(replayed), snapshot
    )

    driver_rows = [json.dumps(a) for a in _driver_actions(snapshot)]

    def driver_df(rows: list[str]) -> DataFrame:
        raw = spark.createDataFrame([(r,) for r in rows], "value STRING")
        return _pad_to_actions_schema(
            spark.read.schema(ACTIONS_SCHEMA).option("mode", "FAILFAST").json(raw.rdd.map(lambda r: r[0]))
        )

    if not v2 and parts and parts > 1:
        key = F.coalesce(F.col("add.path"), F.col("remove.path"))
        # pmod, not abs(hash)%parts: hash can return Int.MinValue whose abs
        # stays negative — that action would match no part filter and be
        # silently dropped from the checkpoint.
        part_col = F.pmod(F.hash(key), F.lit(parts)).cast("int")
        tagged = file_actions.withColumn("__part", part_col)
        n_actions = 0
        size_in_bytes = 0
        for i in range(1, parts + 1):
            chunk = tagged.filter(F.col("__part") == (i - 1)).drop("__part")
            if i == 1:
                # allowMissingColumns: driver rows lack add.stats_parsed
                # when the struct-stats policy is on
                chunk = chunk.unionByName(
                    driver_df(driver_rows), allowMissingColumns=True
                )
            final = f"{log_dir}/{v:020d}.checkpoint.{i:010d}.{parts:010d}.parquet"
            _write_single_parquet(
                spark, storage, chunk, f"{log_dir}/.ckpt-tmp-{v}-{i}", final
            )
            n_actions += _parquet_num_rows(final)
            size_in_bytes += storage.stat(final).size
        hint = {
            "version": v,
            "size": n_actions,
            "parts": parts,
            # optional hint fields the reference reader consumes
            # (last_checkpoint_hint.rs:44-47) — planning hints, cheap here
            "sizeInBytes": size_in_bytes,
            "numOfAddFiles": _num_add_actions(file_actions),
        }
        storage.put_overwrite(
            f"{log_dir}/_last_checkpoint", json.dumps(hint).encode()
        )
        return v

    if not v2:
        out = file_actions.unionByName(driver_df(driver_rows), allowMissingColumns=True)
        final = f"{log_dir}/{classic_checkpoint_filename(v)}"
        _write_single_parquet(spark, storage, out, f"{log_dir}/.ckpt-tmp-{v}", final)
        n_actions = _parquet_num_rows(final)
    else:
        sidecar_name = f"{_uuid.uuid4()}.parquet"
        sidecar_final = f"{log_dir}/_sidecars/{sidecar_name}"
        _write_single_parquet(
            spark, storage, file_actions, f"{log_dir}/.ckpt-sidecar-tmp-{v}", sidecar_final
        )
        entry = storage.stat(sidecar_final)
        top_rows = driver_rows + [
            json.dumps({"checkpointMetadata": {"version": v}}),
            json.dumps(
                {
                    "sidecar": {
                        "path": sidecar_name,
                        "sizeInBytes": entry.size,
                        "modificationTime": entry.last_modified_ms,
                    }
                }
            ),
        ]
        final = f"{log_dir}/{v:020d}.checkpoint.{_uuid.uuid4()}.parquet"
        _write_single_parquet(spark, storage, driver_df(top_rows), f"{log_dir}/.ckpt-tmp-{v}", final)
        n_actions = _parquet_num_rows(final) + _parquet_num_rows(sidecar_final)

    top_entry = storage.stat(final)
    size_in_bytes = top_entry.size
    if v2:
        size_in_bytes += storage.stat(sidecar_final).size
    hint = {
        "version": v,
        "size": n_actions,
        "parts": None,
        "sizeInBytes": size_in_bytes,
        "numOfAddFiles": _num_add_actions(file_actions),
    }
    if v2:
        # Delta-Spark-style v2Checkpoint enrichment (read model: reference
        # last_checkpoint_hint.rs:60-91): the hint names the uuid checkpoint
        # it describes, its sidecars, and its complete non-file action set —
        # so a reader can plan the replay and resolve P&M/txn/domain state
        # without opening the checkpoint file at all. Oversized fields are
        # dropped whole (30-count caps), never truncated.
        from delta_kernel_rs_spark.sources.log_segment import (
            HINT_NON_FILE_ACTIONS_THRESHOLD,
            HINT_SIDECARS_THRESHOLD,
        )

        non_file_actions = [json.loads(r) for r in driver_rows] + [
            {"checkpointMetadata": {"version": v}}
        ]
        v2_obj = {
            "path": final.rsplit("/", 1)[-1],
            "sizeInBytes": top_entry.size,
            "modificationTime": top_entry.last_modified_ms,
            "sidecarFiles": [
                {
                    "path": sidecar_name,
                    "sizeInBytes": entry.size,
                    "modificationTime": entry.last_modified_ms,
                }
            ],
            "nonFileActions": non_file_actions,
        }
        if len(non_file_actions) > HINT_NON_FILE_ACTIONS_THRESHOLD:
            del v2_obj["nonFileActions"]
        if len(v2_obj["sidecarFiles"]) > HINT_SIDECARS_THRESHOLD:
            del v2_obj["sidecarFiles"]
        hint["v2Checkpoint"] = v2_obj
    storage.put_overwrite(
        f"{log_dir}/_last_checkpoint",
        json.dumps({k: val for k, val in hint.items() if val is not None}).encode(),
    )
    return v


def _apply_checkpoint_stats_policy(file_actions: DataFrame, snapshot) -> DataFrame:
    """Honor ``delta.checkpoint.writeStatsAsStruct`` /
    ``writeStatsAsJson`` on checkpoint add actions (Delta protocol
    checkpoint spec; defaults json=true, struct=false — reference
    should_write_stats_as_json/as_struct, table_properties/mod.rs:250-259).
    ``stats_parsed`` is the typed struct delta-spark writes; with
    writeStatsAsJson=false the JSON document is nulled out and readers
    re-derive it from the struct (scan's checkpoint conform step)."""
    from delta_kernel_rs_spark.plans.data_skipping import stats_schema_for
    from delta_kernel_rs_spark.sources.table_properties import TableProperties

    props = TableProperties.from_configuration(snapshot.metadata.configuration)
    as_struct = props.should_write_stats_as_struct()
    as_json = props.should_write_stats_as_json()
    if not as_struct and as_json:
        return file_actions  # default shape: JSON stats pass through
    add = F.col("add")
    if as_struct:
        schema = stats_schema_for(
            snapshot.schema,
            snapshot.metadata.partition_columns,
            snapshot.metadata.configuration,
            tuple(
                c["logical"][0]
                for c in snapshot.clustering_columns()
                if c.get("logical") and len(c["logical"]) == 1
            ),
        )
        add = add.withField("stats_parsed", F.from_json(F.col("add.stats"), schema))
    if not as_json:
        add = add.withField("stats", F.lit(None).cast("string"))
    return file_actions.withColumn("add", add)


def _num_add_actions(file_actions: DataFrame) -> int:
    """Count of add actions going into the checkpoint (the hint's
    numOfAddFiles, reference last_checkpoint_hint.rs:47)."""
    return file_actions.filter(F.col("add.path").isNotNull()).count()


def _parquet_num_rows(path: str) -> int:
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    if "://" in path:
        fs, rel = pafs.FileSystem.from_uri(path)
    else:  # no URI parsing: local table paths may carry spaces/escapes
        fs, rel = pafs.LocalFileSystem(), path
    return pq.read_metadata(rel, filesystem=fs).num_rows


def write_log_compaction(
    spark: SparkSession, table_path: str, start_version: int, end_version: int
) -> str:
    """Compact commits [start, end] into ``{start}.{end}.compacted.json``
    (reference kernel/src/log_compaction/) — newest-wins file actions plus
    latest P&M/txn within the range."""
    storage = storage_for(spark, table_path)
    log_dir = f"{table_path.rstrip('/')}/{LOG_DIR}"
    actions_by_key: dict = {}
    pm: dict[str, dict] = {}
    txns: dict[str, dict] = {}
    for v in range(start_version, end_version + 1):
        path = f"{log_dir}/{v:020d}.json"
        for line in storage.read_text(path).splitlines():
            line = line.strip()
            if not line:
                continue
            try:
                action = json.loads(line)
            except ValueError:
                continue
            if "add" in action:
                dv = action["add"].get("deletionVector") or {}
                # decoded file identity (scan.canonical_log_path twin):
                # mixed percent-encodings of one file collapse to one key
                key = (
                    urllib.parse.unquote(action["add"]["path"]),
                    dv.get("storageType"),
                    dv.get("pathOrInlineDv"),
                )
                actions_by_key[key] = (v, action)
            elif "remove" in action:
                dv = action["remove"].get("deletionVector") or {}
                key = (
                    urllib.parse.unquote(action["remove"]["path"]),
                    dv.get("storageType"),
                    dv.get("pathOrInlineDv"),
                )
                actions_by_key[key] = (v, action)
            elif "metaData" in action:
                pm["metaData"] = action
            elif "protocol" in action:
                pm["protocol"] = action
            elif "txn" in action and action["txn"].get("appId"):
                txns[action["txn"]["appId"]] = action
    lines = []
    for a in pm.values():
        lines.append(json.dumps(a, separators=(",", ":")))
    for a in txns.values():
        lines.append(json.dumps(a, separators=(",", ":")))
    for _v, a in sorted(actions_by_key.values(), key=lambda t: t[0]):
        lines.append(json.dumps(a, separators=(",", ":")))
    out_path = f"{log_dir}/{compacted_filename(start_version, end_version)}"
    storage.put_overwrite(out_path, ("\n".join(lines) + "\n").encode())
    return out_path
