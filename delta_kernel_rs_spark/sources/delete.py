"""Row-level DELETE: copy-on-write rewrite or deletion-vector write.

Reference equivalents: remove+add file rewrite via
``Transaction.remove_files`` (kernel/src/transaction/update.rs) and DV
updates (``update_deletion_vectors``, DV writer kernel/src/actions/
deletion_vector_writer.rs).

Both paths start from a predicate-pruned scan: files whose stats prove they
cannot contain matching rows are never touched (the same skipping
evaluator that drives reads — plans/py_skipping.py).

File metadata is never queried with Spark: the removes, the DV delete's
re-emitted adds and the rewrite read's per-file constants are built from
the matched files' rows of the scan's driver-side Arrow table
(``Scan.file_rows``), as the reference's ``update_deletion_vectors``
builds its remove/add pair from scan-file rows it already holds. The
Spark jobs left are the data passes: the candidate-row query (the DV
bitmaps, or the matched paths) and the rewrite. The same helpers serve
UPDATE, MERGE and replaceWhere (sources/update.py, sources/merge.py).
"""

from __future__ import annotations

import urllib.parse

from pyspark.sql import functions as F

from delta_kernel_rs_spark.functions.dv import write_dv_file
from delta_kernel_rs_spark.plans.expressions import Predicate, column_paths
from delta_kernel_rs_spark.sources.scan import dv_descriptors, strip_file_scheme
from delta_kernel_rs_spark.sources.transaction import _now_ms, begin


def _dv_protocol_upgrade(snapshot) -> dict | None:
    """Protocol action enabling deletionVectors, or None if already enabled.

    Merges the feature into the snapshot's existing protocol instead of
    replacing it (clobbering would strip features like changeDataFeed /
    columnMapping from upgraded tables); emitted only when an upgrade is
    actually needed (reference ensure_deletion_vectors_enabled).
    """
    p = snapshot.protocol
    readers = set(p.reader_features or [])
    writers = set(p.writer_features or [])
    if (
        p.min_reader_version >= 3
        and p.min_writer_version >= 7
        and "deletionVectors" in readers
        and "deletionVectors" in writers
    ):
        return None
    return {
        "protocol": {
            "minReaderVersion": max(3, p.min_reader_version),
            "minWriterVersion": max(7, p.min_writer_version),
            "readerFeatures": sorted(readers | {"deletionVectors"}),
            "writerFeatures": sorted(writers | {"deletionVectors"}),
        }
    }


def _pred_to_column(predicate):
    if isinstance(predicate, Predicate):
        return predicate.to_spark()
    if isinstance(predicate, str):
        return F.expr(predicate)
    return predicate


def _typed_predicate(predicate, schema=None):
    """Typed AST for file pruning: Predicate as-is; strings through the SQL
    parser (None outside the grammar — every candidate file is then read,
    which is safe, just unpruned)."""
    if isinstance(predicate, Predicate):
        return predicate
    if isinstance(predicate, str):
        from delta_kernel_rs_spark.plans.sql_parser import try_parse_sql_predicate

        return try_parse_sql_predicate(predicate, schema)
    return None


def _rel_path(table_path: str, abs_path: str) -> str:
    """Log path string for a file action: table-relative when the file
    lives under the table root; the absolute form otherwise (shallow-clone
    adds reference foreign roots — a remove must spell the path EXACTLY
    like the add it cancels, or replay never pairs them)."""
    root = strip_file_scheme(table_path.rstrip("/")) + "/"
    abs_path = strip_file_scheme(abs_path)
    if not abs_path.startswith(root):
        return "/".join(urllib.parse.quote(seg) for seg in abs_path.split("/"))
    rel = abs_path[len(root):]
    return "/".join(urllib.parse.quote(seg) for seg in rel.split("/"))


def _remove_action(table, row: dict, data_change: bool = True, ts: int | None = None) -> dict:
    """The remove that cancels a live file, from its scan row (a dict
    keyed like ``SCAN_FILES_SCHEMA``: an Arrow row of the scan's rows)."""
    return {
        "remove": {
            "path": _rel_path(table.path, row["file_path"]),
            "deletionTimestamp": _now_ms() if ts is None else ts,
            "dataChange": data_change,
            "extendedFileMetadata": True,
            "partitionValues": dict(row["partition_values"] or {}),
            "size": row["size"],
            # Replay keys are (path, dv_unique_id): the remove must carry
            # the file's current DV or it never cancels the live add
            # (reference log_replay/mod.rs:32).
            "deletionVector": row["deletion_vector"],
        }
    }


def _removes(table, scan, paths) -> list[dict]:
    """Removes for the matched files, built from their Arrow scan rows."""
    return [_remove_action(table, r) for r in scan.file_rows(paths).to_pylist()]


def _candidate_frames(scan, paths=None):
    """Candidate-row frame: ``Scan.live_rows``, the same live-row read
    ``Scan.to_df()`` uses, exposing the logical columns plus
    ``__file_path``/``__row_index``; None when no file is a candidate.

    Without ``paths`` the candidates are the scan's skipping-pruned files
    (``Scan.kept_rows``, pruned on the driver: no Spark job). ``paths``
    names the matched files of a prior phase — the rewrite phase reads
    ONLY them (a filter on the derived ``__file_path`` column could not
    prune files; Catalyst doesn't push ``_metadata``-derived predicates),
    with their scan rows from ``Scan.file_rows``.

    Rows already hidden by a file's deletion vector are excluded up front
    (the per-file DV filter on executors): a rewrite or DV update must
    never resurrect them (reference keys replay by FileActionKey(path,
    dv_unique_id) — log_replay/mod.rs:32 — so the live rows are always
    "file minus current DV").
    """
    if paths is None:
        return scan.read_kept(file_cols=True)
    return scan.live_rows(scan.file_rows(paths), file_cols=True)


def delete_where(table, predicate) -> int:
    """Copy-on-write delete; returns the committed version."""
    snap = table.snapshot()
    scan = snap.scan(predicate=_typed_predicate(predicate, snap.schema))
    df = _candidate_frames(scan)
    pred_col = _pred_to_column(predicate)
    if df is None:
        return snap.version  # nothing can match — no-op

    matched_paths = sorted(
        r.p for r in df.filter(pred_col).select(F.col("__file_path").alias("p")).distinct().collect()
    )
    if not matched_paths:
        return snap.version

    # Rewrite phase reads ONLY the matched files — a second targeted scan,
    # not a __file_path filter over the full candidate set (which Catalyst
    # cannot use for file pruning).
    touched_df = _candidate_frames(scan, matched_paths)
    kept = touched_df.filter(~pred_col.eqNullSafe(F.lit(True))).select(
        *[f.name for f in snap.schema.fields]
    )
    cdc_actions: list[dict] = []
    if snap.metadata.cdf_enabled:
        # A rewrite commit would surface kept rows as spurious CDF
        # insert/delete pairs; when CDF is on, the deleted rows must be
        # recorded as cdc files, which supersede add/remove in the reader
        # (reference table_changes/log_replay.rs — cdc wins).
        deleted_rows = touched_df.filter(pred_col).select(
            *[f.name for f in snap.schema.fields]
        )
        cdc_actions = _write_cdc_files(table, deleted_rows, snap, "delete")
    removes = _removes(table, scan, matched_paths)
    txn = begin(table, "DELETE", snap)
    txn.write_data(kept)
    txn.add_actions(removes + cdc_actions)
    return txn.commit()


def _write_cdc_files(table, rows_df, snap, change_type: str) -> list[dict]:
    """Write change rows under ``_change_data/`` and return cdc actions."""
    import uuid

    from delta_kernel_rs_spark.functions.schema_codec import physical_name

    pcols = snap.metadata.partition_columns
    fields = {f.name: f for f in snap.schema.fields}
    phys_parts = [physical_name(fields[p]) for p in pcols]
    phys_cols = [
        F.col(f.name).alias(physical_name(f))
        for f in snap.schema.fields
        if f.name not in set(pcols)
    ]
    out = rows_df.select(
        *[F.col(p).alias(physical_name(fields[p])) for p in pcols],
        *phys_cols,
        F.lit(change_type).alias("_change_type"),
    )
    staging = f"{table.path}/.cdc-staging-{uuid.uuid4().hex}"
    writer = out.write.mode("overwrite")
    if pcols:
        writer = writer.partitionBy(*phys_parts)
    writer.parquet(staging)
    from delta_kernel_rs_spark.functions.partition_codec import parse_hive_partition_path
    from delta_kernel_rs_spark.sources.transaction import _cleanup_dir

    from delta_kernel_rs_spark.sources.delta_paths import arrow_fs_and_path
    import pyarrow.parquet as pq

    actions = []
    for entry in table.storage.list_recursive(staging):
        if not entry.path.endswith(".parquet"):
            continue
        # NEVER from_uri on a hive partition path — spaces/unicode/percent
        # signs in partition dirs are legal and break URI parsing
        fs, fs_rel = arrow_fs_and_path(entry.path)
        if pq.read_metadata(fs_rel, filesystem=fs).num_rows == 0:
            continue  # schema-only part file — no change rows to publish
        rel = entry.path[len(staging.rstrip("/")) + 1 :]
        final_rel = f"_change_data/{rel}"
        table.storage.rename(entry.path, f"{table.path}/{final_rel}")
        dirpart = rel.rsplit("/", 1)[0] if "/" in rel else ""
        raw_pv = parse_hive_partition_path(dirpart) if dirpart else {}
        actions.append(
            {
                "cdc": {
                    "path": _rel_path(table.path, f"{table.path}/{final_rel}"),
                    "partitionValues": {k: raw_pv.get(k) for k in phys_parts},
                    "size": entry.size,
                    "dataChange": False,
                }
            }
        )
    _cleanup_dir(table.storage, staging)
    return actions


def delete_with_dvs(table, predicate) -> int:
    """DV-based delete: no data rewrite — write roaring bitmaps and swap
    the ``add`` entries to carry DV descriptors."""
    snap = table.snapshot()
    from delta_kernel_rs_spark.functions.iceberg_compat import (
        IcebergCompatError,
        enabled_versions,
    )

    if 2 in enabled_versions(snap.metadata.configuration):
        # icebergCompatV2 forbids DVs (reference mod.rs:430-438) — use
        # the copy-on-write delete; V3 permits them per its RFC
        raise IcebergCompatError(
            "deletion vectors are forbidden on icebergCompatV2 tables; "
            "use the copy-on-write delete"
        )
    # The hit query reads only the predicate's columns, so a predicate on
    # data columns joins no partition constants; an untyped string reads
    # every column.
    typed = _typed_predicate(predicate, snap.schema)
    columns = None
    if typed is not None:
        columns = sorted({p.split(".")[0] for p in column_paths(typed)})
    scan = snap.scan(predicate=typed, columns=columns)
    df = _candidate_frames(scan)
    if df is None:
        return snap.version
    pred_col = _pred_to_column(predicate)

    # The new bitmaps are BUILT ON EXECUTORS: hit row indexes group by
    # file, each task merges the file's current DV and serializes the
    # roaring treemap; the driver collects only (path, blob, cardinality)
    # — O(matched files) compressed bitmaps, never the O(deleted rows)
    # index lists. The current DVs ride in the task closure.
    from delta_kernel_rs_spark.functions.dv import dv_blobs_from_hits_df

    hits = df.filter(pred_col).select("__file_path", "__row_index")
    old_dvs = dv_descriptors(scan.kept_rows())
    blob_rows = sorted(
        dv_blobs_from_hits_df(hits, table.path, old_dvs).collect(),
        key=lambda r: r.file_path,
    )
    if not blob_rows:
        return snap.version

    uuid_enc, spans = write_dv_file(
        table.storage, table.path, [bytes(r.blob) for r in blob_rows]
    )

    # Each matched file's remove/add pair re-emits its scan row from the
    # Arrow table (stats keep skipping working after the swap; row-tracking
    # fields keep their lineage), the way the reference's
    # update_deletion_vectors builds the pair from the scan-file rows it
    # holds (transaction/update.rs).
    matched = {
        r["file_path"]: r
        for r in scan.file_rows([r.file_path for r in blob_rows]).to_pylist()
    }
    upgrade = _dv_protocol_upgrade(snap)
    actions = [upgrade] if upgrade else []
    for blob_row, (offset, size) in zip(blob_rows, spans):
        row = matched[blob_row.file_path]
        remove = _remove_action(table, row)
        actions.append(remove)
        actions.append(
            {
                "add": {
                    "path": remove["remove"]["path"],
                    "partitionValues": remove["remove"]["partitionValues"],
                    "size": row["size"],
                    "modificationTime": row["modification_time"],
                    "dataChange": True,
                    "stats": row["stats"],
                    "baseRowId": row["base_row_id"],
                    "defaultRowCommitVersion": row["default_row_commit_version"],
                    "deletionVector": {
                        "storageType": "u",
                        "pathOrInlineDv": uuid_enc,
                        "offset": offset,
                        "sizeInBytes": size,
                        "cardinality": blob_row.cardinality,
                    },
                }
            }
        )
    txn = begin(table, "DELETE", snap)
    txn.add_actions(actions)
    return txn.commit()
