"""Incremental scan: the file-action diff over ``(base, target]``.

Mirrors the reference's incremental_scan module (kernel/src/
incremental_scan/mod.rs:1-60) and hint-based refresh
(``scan_metadata_from``, kernel/src/scan/mod.rs:880-1024): a repeated
reader (dashboard refresh, streaming source, cached scan state) replays
only the commits newer than its base version instead of the whole log.

Semantics (reference contract):
- the diff covers commits in ``(base_version, target_version]`` from the
  target snapshot's already-validated commit list — no re-listing;
- newest-wins dedup per FileActionKey(path, dv_unique_id) *within the
  range*; live adds may be stats-pruned by a predicate, removes are always
  reported (consumers must drop stale cache entries);
- if the snapshot's commit list cannot serve the range (checkpoint or
  compacted commits cover part of it), the caller falls back to a full
  scan — we return ``None`` exactly then.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from delta_kernel_rs_spark.sources.actions import SCAN_ACTIONS_SCHEMA
from delta_kernel_rs_spark.sources.scan import (
    SCAN_FILES_SCHEMA,
    ScanFile,
    absolutize_decoded_path,
    canonical_log_path,
    dv_unique_id,
    read_named_files,
)


def incremental_actions_df(snapshot, base_version: int) -> DataFrame | None:
    """Latest add/remove per file key across ``(base, target]`` commits.

    Returns None when the range is not servable from the snapshot's commit
    list (caller falls back to a full scan). Output columns: ``action``
    ('add'|'remove'), the scan-file columns, and ``commit_version``.
    """
    target = snapshot.version
    if base_version >= target:
        raise ValueError(
            f"base version {base_version} must be < target version {target}"
        )
    seg = snapshot.log_segment
    commits = [
        c for c in seg.commit_files if c.version > base_version and c.end_version is None
    ]
    # Servability: plain commits must cover exactly base+1..target. A
    # compacted entry straddling the base would replay pre-base actions.
    want = list(range(base_version + 1, target + 1))
    by_version = {c.version: (c.filename, c.path) for c in commits}
    if sorted(by_version) != want:
        # The segment is checkpoint-anchored above part of the range, but
        # the raw commit JSONs stay readable on disk until log cleanup —
        # list them (the reference's scan_metadata_from builds its range
        # segment independently of the target's checkpoint). Only a range
        # with genuinely missing commits is unservable.
        from delta_kernel_rs_spark.sources.storage import storage_for

        storage = storage_for(snapshot.spark, snapshot.table_path)
        log_dir = f"{snapshot.table_path}/_delta_log"
        for e in storage.list_dir(log_dir):
            name = e.path.rsplit("/", 1)[-1]
            if name.endswith(".json") and name[:-5].isdigit():
                v = int(name[:-5])
                if base_version < v <= target:
                    by_version.setdefault(v, (name, e.path))
        if sorted(by_version) != want:
            return None

    spark = snapshot.spark
    version_map = spark.createDataFrame(
        [(by_version[v][0], v) for v in want], "log_filename STRING, version LONG"
    )
    raw = read_named_files(
        spark,
        [by_version[v][1] for v in want],
        fmt="json",
        schema=SCAN_ACTIONS_SCHEMA,
        mode="FAILFAST",
    )
    keyed = (
        raw.withColumn(
            "log_filename", F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
        )
        .join(F.broadcast(version_map), "log_filename")
        .filter(F.col("add").isNotNull() | F.col("remove").isNotNull())
        .select(
            # decoded file identity — mixed percent-encodings across the
            # range's commits must collapse to one key (canonical_log_path)
            canonical_log_path(
                F.coalesce(F.col("add.path"), F.col("remove.path"))
            ).alias("key_path"),
            F.when(F.col("add").isNotNull(), dv_unique_id(F.col("add.deletionVector")))
            .otherwise(dv_unique_id(F.col("remove.deletionVector")))
            .alias("key_dv"),
            "add",
            "remove",
            "version",
        )
    )
    latest = (
        keyed.groupBy("key_path", "key_dv")
        .agg(F.max_by(F.struct("version", "add", "remove"), F.col("version")).alias("w"))
        .select(
            "key_path",
            "key_dv",
            F.col("w.version").alias("commit_version"),
            F.col("w.add").alias("add"),
            F.col("w.remove").alias("remove"),
        )
    )
    table_path = snapshot.table_path
    # key_path is already decoded — absolutize only (a second url_decode
    # would mangle a file literally named like an escape, e.g. '100%25')
    abs_path = absolutize_decoded_path(F.col("key_path"), table_path)
    return latest.select(
        F.when(F.col("add").isNotNull(), F.lit("add")).otherwise(F.lit("remove")).alias(
            "action"
        ),
        abs_path.alias("file_path"),
        F.col("key_dv"),
        F.coalesce(F.col("add.size"), F.col("remove.size")).alias("size"),
        F.col("add.modificationTime").alias("modification_time"),
        F.col("add.stats").alias("stats"),
        F.coalesce(F.col("add.partitionValues"), F.col("remove.partitionValues")).alias(
            "partition_values"
        ),
        F.coalesce(F.col("add.deletionVector"), F.col("remove.deletionVector")).alias(
            "deletion_vector"
        ),
        F.col("add.baseRowId").alias("base_row_id"),
        F.col("add.defaultRowCommitVersion").alias("default_row_commit_version"),
        "commit_version",
    )


def refresh_scan_files_df(snapshot, base_version: int, prior_df: DataFrame):
    """Frame-shaped ``scan_metadata_from``: merge a prior scan-files frame
    with the ``(base, target]`` diff, entirely in-plan.

    ``prior_df`` is the base-version scan's ``scan_files_df()`` (or any
    frame with that schema — typically the base version's cached
    live-files frame, so the merge costs one replay of only the NEW
    commits). The reference
    passes prior state as columnar batches, not heap objects
    (kernel/src/scan/mod.rs:880-1024); this is the DataFrame equivalent —
    the driver never materializes either file list.

    Merge rule (newest-wins): any key touched by the diff supersedes the
    prior entry — removes drop it, adds replace it. The diff is already
    newest-wins-deduped within the range and strictly newer than the base,
    so this is one anti-join + one union, no window or aggregate.

    Returns the refreshed frame, or None when the range cannot be served
    incrementally (caller falls back to a full scan).
    """
    if base_version == snapshot.version:
        return prior_df
    diff = incremental_actions_df(snapshot, base_version)
    if diff is None:
        return None
    diff_keys = diff.select(
        F.col("file_path").alias("__k_path"), F.col("key_dv").alias("__k_dv")
    )
    kept = prior_df.join(
        diff_keys,
        (prior_df["file_path"] == F.col("__k_path"))
        & (dv_unique_id(prior_df["deletion_vector"]) == F.col("__k_dv")),
        "left_anti",
    )
    adds = diff.filter(F.col("action") == "add").drop("action", "key_dv")
    return kept.unionByName(adds)


def refresh_scan_files(
    snapshot, base_version: int, prior_files: list[ScanFile]
) -> list[ScanFile] | None:
    """List-shaped ``scan_metadata_from`` for callers that hold a
    ``files()``-style list (the reference's public scan-metadata iterator).

    Internally frame-shaped: the prior list becomes a DataFrame, the merge
    runs in-plan via :func:`refresh_scan_files_df`, and only the final
    bounded result is collected — no driver-side dict merge.
    """
    if base_version == snapshot.version:
        return list(prior_files)
    prior_df = scan_files_list_to_df(snapshot.spark, prior_files)
    merged = refresh_scan_files_df(snapshot, base_version, prior_df)
    if merged is None:
        return None
    return [
        ScanFile(
            path=r.file_path,
            size=r.size,
            partition_values=dict(r.partition_values or {}),
            dv=r.deletion_vector.asDict() if r.deletion_vector else None,
            base_row_id=r.base_row_id,
            commit_version=r.commit_version,
            default_row_commit_version=r.default_row_commit_version,
        )
        for r in merged.drop("stats", "modification_time").collect()
    ]


def scan_files_list_to_df(spark, files: list[ScanFile]) -> DataFrame:
    """Lift a collected ScanFile list back into the scan-files frame shape
    (stats/mtime null — the cached list never carries them)."""
    rows = [
        (
            f.path,
            f.size,
            None,
            None,
            f.partition_values or {},
            f.dv,
            f.base_row_id,
            f.default_row_commit_version,
            f.commit_version,
        )
        for f in files
    ]
    return spark.createDataFrame(rows, SCAN_FILES_SCHEMA)
