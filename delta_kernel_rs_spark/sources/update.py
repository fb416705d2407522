"""Row-level UPDATE and overwrite / replaceWhere rewrites.

Reference equivalents: the kernel exposes the building blocks — remove+add
file rewrite staged through a transaction (kernel/src/transaction/update.rs)
and cdc emission for CDF readers (kernel/src/table_changes/log_replay.rs,
cdc supersedes add/remove) — and expects the engine to compose the
user-facing statement. This module is that composition, on the same
two-phase targeted-read plan as DELETE and MERGE (sources/delete.py):

* phase 1 finds files containing at least one row matching the predicate
  (stats-pruned scan → one distributed job → one small collect of paths);
* phase 2 re-reads ONLY those files and rewrites them, applying the
  assignments to matching rows and passing the rest through untouched;
* files with no matching row are never rewritten;
* with CDF enabled, cdc files carry update_preimage / update_postimage
  (UPDATE) or delete + insert rows (replaceWhere) so the change feed shows
  row-level semantics instead of file-level rewrite noise.

UPDATE assignment expressions see PRE-update row values (standard SQL
UPDATE semantics): all assignments evaluate against the old row, so
``{"a": "b", "b": "a"}`` swaps the columns.

Scale posture: phase 1 collects file PATHS only (O(matched files), never
rows); the rewrite reads exactly the matched files, and their removes and
per-file constants come from the scan's driver-side Arrow table
(``Scan.file_rows``), not from a Spark query; generated / identity /
default column policies and CHECK-constraint verification ride the staged
write through Transaction.write_data, unchanged from append.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from delta_kernel_rs_spark.sources.delete import (
    _candidate_frames,
    _pred_to_column,
    _remove_action,
    _removes,
    _typed_predicate,
    _write_cdc_files,
)
from delta_kernel_rs_spark.sources.transaction import AppendOnlyError, begin


class UpdateError(Exception):
    pass


def update_where(
    table, predicate, assignments: dict[str, "str | Column"]
) -> int:
    """Copy-on-write UPDATE; returns the committed version.

    ``assignments`` maps column name → SQL string (or Column) evaluated
    against the pre-update row. Unassigned columns keep their value.
    Partition columns may be assigned — rewritten rows move to their new
    partition directory through the normal staged write.
    """
    snap = table.snapshot()
    cols = [f.name for f in snap.schema.fields]
    types = {f.name: f.dataType for f in snap.schema.fields}
    unknown = [c for c in assignments if c not in cols]
    if unknown:
        raise UpdateError(f"UPDATE assigns unknown columns {unknown}")
    if not assignments:
        raise UpdateError("UPDATE needs at least one assignment")

    scan = snap.scan(predicate=_typed_predicate(predicate, snap.schema))
    df = _candidate_frames(scan)
    if df is None:
        return snap.version  # stats prove nothing can match
    pred_col = _pred_to_column(predicate)
    hit = pred_col.eqNullSafe(F.lit(True))

    matched_paths = sorted(
        r.p
        for r in df.filter(hit)
        .select(F.col("__file_path").alias("p"))
        .distinct()
        .collect()
    )
    if not matched_paths:
        return snap.version

    touched = _candidate_frames(scan, matched_paths)

    def new_val(c: str) -> Column:
        a = assignments.get(c)
        if a is None:
            return F.col(c)
        return (F.expr(a) if isinstance(a, str) else a).cast(types[c])

    # One projection: every assignment reads input (pre-update) columns,
    # so cross-referencing assignments see old values by construction.
    rewritten = touched.select(
        *[F.when(hit, new_val(c)).otherwise(F.col(c)).alias(c) for c in cols]
    )

    cdc_actions: list[dict] = []
    if snap.metadata.cdf_enabled:
        upd_rows = touched.filter(hit)
        cdc_actions += _write_cdc_files(
            table, upd_rows.select(*cols), snap, "update_preimage"
        )
        cdc_actions += _write_cdc_files(
            table,
            upd_rows.select(*[new_val(c).alias(c) for c in cols]),
            snap,
            "update_postimage",
        )

    removes = _removes(table, scan, matched_paths)

    txn = begin(table, "UPDATE", snap)
    txn.write_data(rewritten)
    txn.add_actions(removes + cdc_actions)
    version = txn.commit()
    if version != snap.version:
        table.maybe_write_crc(version)
    return version


def overwrite(table, df: DataFrame) -> int:
    """Full-table overwrite in one transaction: remove every live file,
    stage the new data. CDF readers see the correct row-level feed from
    the file-level actions alone (every old row deleted, every new row
    inserted — the insert/delete arms of sources/cdf.py), so no cdc files
    are written.
    """
    snap = table.snapshot()
    if snap.metadata.configuration.get("delta.appendOnly", "false").lower() == "true":
        raise AppendOnlyError(
            f"table {table.path} is append-only (delta.appendOnly); "
            "overwrite is not permitted"
        )
    # One remove per live file is protocol-inherent in an overwrite commit;
    # the removes STREAM from the snapshot's Arrow scan rows into bounded
    # NDJSON chunks (the clone/convert pattern), one record batch of
    # Python dicts at a time.
    rows = snap.scan().kept_rows()

    def removes():
        for batch in rows.to_batches(max_chunksize=4096):
            for r in batch.to_pylist():
                yield _remove_action(table, r)

    txn = begin(table, "OVERWRITE", snap)
    txn.write_data(df)
    txn.add_actions_stream(removes)
    version = txn.commit()
    if version != snap.version:
        table.maybe_write_crc(version)
    return version


def overwrite_where(table, df: DataFrame, predicate) -> int:
    """replaceWhere: atomically replace the rows matching ``predicate``
    with ``df`` (which must itself satisfy the predicate — the classic
    replaceWhere contract; violating rows fail the write up front).

    Files fully or partially matching are rewritten without their matching
    rows (same targeted two-phase read as DELETE), the new data is staged
    alongside, and everything commits as one version.
    """
    snap = table.snapshot()
    cols = [f.name for f in snap.schema.fields]
    pred_col = _pred_to_column(predicate)

    # Contract check on the NEW data only (one job over the input, never
    # the table): every incoming row must satisfy the predicate.
    bad = df.filter(~pred_col.eqNullSafe(F.lit(True))).limit(1).collect()
    if bad:
        raise UpdateError(
            f"replaceWhere: incoming data violates the predicate; first "
            f"offending row: {bad[0].asDict()}"
        )

    scan = snap.scan(predicate=_typed_predicate(predicate, snap.schema))
    cand = _candidate_frames(scan)

    kept: DataFrame | None = None
    cdc_actions: list[dict] = []
    removes: list[dict] = []
    if cand is not None:
        hit = pred_col.eqNullSafe(F.lit(True))
        matched_paths = sorted(
            r.p
            for r in cand.filter(hit)
            .select(F.col("__file_path").alias("p"))
            .distinct()
            .collect()
        )
        if matched_paths:
            touched = _candidate_frames(scan, matched_paths)
            kept = touched.filter(~hit).select(*cols)
            if snap.metadata.cdf_enabled:
                # the rewrite carries kept rows, so cdc must record the
                # true row-level changes (cdc supersedes add/remove)
                cdc_actions += _write_cdc_files(
                    table, touched.filter(hit).select(*cols), snap, "delete"
                )
                cdc_actions += _write_cdc_files(
                    table, df.select(*cols), snap, "insert"
                )
            removes = _removes(table, scan, matched_paths)

    out = df.select(*cols) if kept is None else kept.unionByName(df.select(*cols))

    txn = begin(table, "OVERWRITE", snap)
    txn.write_data(out)
    txn.add_actions(removes + cdc_actions)
    version = txn.commit()
    if version != snap.version:
        table.maybe_write_crc(version)
    return version
