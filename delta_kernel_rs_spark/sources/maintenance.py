"""Table-layout maintenance: OPTIMIZE (small-file compaction) and
deletion-vector purge (REORG ... APPLY (PURGE) semantics).

Both are pure file-layout rewrites: every remove+add carries
``dataChange: false``, so CDF readers and incremental consumers see no
change (our cdf.py classification filters on ``dataChange == true``,
matching the reference table_changes/log_replay.rs). The rewrite reads
ONLY the selected files through the same live-row read DELETE uses
(``Scan.live_rows``), applying current DVs so hidden rows are never
resurrected.

Scale shape: selection filters the snapshot's driver-side Arrow scan
rows (which the replay already holds; no Spark job); the removes stream
from them into bounded commit chunks, and the data rewrite is one
distributed job whose output partition count is sized from the selected
bytes, so a 100 TB table compacts partition-by-partition without ever
shuffling untouched files.
"""

from __future__ import annotations

from collections import Counter

import pyarrow as pa
import pyarrow.compute as pc

from delta_kernel_rs_spark.sources.delete import _remove_action
from delta_kernel_rs_spark.sources.transaction import _now_ms, begin

DEFAULT_TARGET_FILE_SIZE = 256 << 20


class MaintenanceError(Exception):
    pass


def _check_supported(snap) -> None:
    cfg = snap.metadata.configuration
    if (
        cfg.get("delta.enableRowTracking", "false").lower() == "true"
        and cfg.get("delta.rowTrackingSuspended") != "true"
    ):
        # active row tracking: a layout rewrite must preserve materialized
        # row ids, which this engine does not implement. SUSPENDED row
        # tracking is the spec's escape hatch for exactly this (reference
        # table_features/mod.rs:388 enabled && !suspended): set
        # delta.rowTrackingSuspended=true, run maintenance, resume.
        raise MaintenanceError(
            "OPTIMIZE/PURGE on a table with ACTIVE row tracking is not "
            "supported (the rewrite would have to preserve materialized "
            "row ids); set delta.rowTrackingSuspended=true to run "
            "maintenance without row-id preservation, then resume"
        )


def _zorder_key(df, cols: list[str], bits: int = 8):
    """Bit-interleaved Z-order key over quantile-binned column values.

    Each column is binned into 2^bits rank buckets by SAMPLED quantile
    boundaries (``approxQuantile`` — one lightweight job per column, the
    driver holds only the 2^bits-1 boundary literals), then the bin bits
    interleave round-robin into one integer key. No global window/sort —
    the layout shuffle is a plain range partitioning on the key, which is
    the property that keeps Z-ORDER viable on a 100 TB table: sampling,
    binning and interleaving are all map-side.

    NULL orders first (bin 0). Boundary comparison is a codegen'd fold
    over the boundary array literal — O(2^bits) per row, no Python.
    """
    from pyspark.sql import functions as F

    n_bins = 1 << bits
    probs = [i / n_bins for i in range(1, n_bins)]
    bin_cols = []
    for c in cols:
        bounds = df.approxQuantile(c, probs, 0.001)
        arr = ", ".join(repr(float(b)) for b in bounds)
        # lambda variable names must never collide with table column
        # names — a column named `b`/`acc` would be shadowed inside the
        # lambda and the bin would collapse to a constant
        bin_cols.append(
            F.expr(
                f"aggregate(array({arr}), 0, (__zacc, __zb) -> "
                f"__zacc + (CASE WHEN CAST({c} AS DOUBLE) >= __zb THEN 1 ELSE 0 END))"
            )
        )
    terms = []
    for j in range(bits):
        for i, bc in enumerate(reversed(bin_cols)):
            shift = j * len(cols) + i
            terms.append(
                (F.shiftright(bc, j).bitwiseAND(F.lit(1)).cast("long"))
                * F.lit(1 << shift).cast("long")
            )
    key = terms[0]
    for t in terms[1:]:
        key = key + t
    return key


def _rewrite_files(
    table,
    snap,
    rows: pa.Table,
    operation: str,
    target_bytes: int,
    zorder_by: list[str] | None = None,
) -> int:
    """Rewrite the files of ``rows`` (scan rows of the snapshot) into
    ~target-sized files; dataChange=false. The removes STREAM from the
    rows into bounded NDJSON commit chunks, one record batch of Python
    dicts at a time (a full-table ZORDER selects every file)."""
    from pyspark.sql import functions as F

    if not rows.num_rows:
        return snap.version
    kept = snap.scan().live_rows(rows).select(*[f.name for f in snap.schema.fields])
    total = pc.sum(pc.fill_null(rows.column("size"), 0)).as_py() or 0
    n_out = max(1, (total + target_bytes - 1) // target_bytes)
    pcols = snap.metadata.partition_columns
    if zorder_by:
        # multi-dimensional clustering: contiguous z-ranges per output
        # file give every z-ordered column tight min/max file stats
        kept = (
            kept.withColumn("__zkey", _zorder_key(kept, zorder_by))
            .repartitionByRange(int(n_out), F.col("__zkey"))
            .sortWithinPartitions("__zkey")
            .drop("__zkey")
        )
    elif snap.clustering_columns():
        pass  # the transaction's clustered layout shuffle re-clusters
    elif pcols:
        kept = kept.repartition(int(n_out), *[F.col(p) for p in pcols])
    else:
        kept = kept.repartition(int(n_out))
    ts = _now_ms()

    def _removes():
        for batch in rows.to_batches(max_chunksize=4096):
            for r in batch.to_pylist():
                yield _remove_action(table, r, data_change=False, ts=ts)

    txn = begin(table, operation, snap)
    txn.data_change = False
    txn.write_data(kept)
    txn.add_actions_stream(_removes)
    return txn.commit()


def optimize(
    table,
    target_file_size: int = DEFAULT_TARGET_FILE_SIZE,
    small_file_threshold: int | None = None,
    zorder_by: list[str] | None = None,
    min_small_files: int = 2,
) -> int:
    """Bin-pack small files into ~``target_file_size`` outputs, per
    partition. Only partitions holding ``min_small_files``+ small files
    (default 2) are rewritten; the
    rewrite also drops those files' deletion vectors (a compaction is a
    purge for the files it touches). Returns the committed version (the
    read version when nothing qualifies).

    ``zorder_by``: OPTIMIZE ... ZORDER BY — rewrite EVERY data file,
    laying rows out along the interleaved-bit curve over the given
    columns so every listed column gets tight per-file min/max stats
    (multi-dimensional data skipping; delta-spark's Z-ORDER semantics).
    Exclusive with liquid-clustered tables, which own their layout."""
    snap = table.snapshot()
    _check_supported(snap)
    if zorder_by:
        if snap.clustering_columns():
            raise ValueError(
                "table is liquid-clustered; its layout is maintained by "
                "delta.clustering — ZORDER BY does not apply"
            )
        missing = [c for c in zorder_by if c not in snap.schema.fieldNames()]
        if missing:
            raise ValueError(f"zorder_by columns not in schema: {missing}")
        numeric = (
            "byte", "short", "int", "integer", "long", "bigint",
            "float", "double", "decimal",
        )
        bad = [
            f.name
            for f in snap.schema.fields
            if f.name in zorder_by
            and not f.dataType.simpleString().startswith(numeric)
        ]
        if bad:
            raise ValueError(
                f"zorder_by supports numeric columns only (quantile "
                f"binning); non-numeric: {bad} — for strings, cluster on a "
                "numeric surrogate (e.g. a 64-bit hash or dictionary code)"
            )
        in_parts = [c for c in zorder_by if c in snap.metadata.partition_columns]
        if in_parts:
            raise ValueError(f"zorder_by columns are partition columns: {in_parts}")
        return _rewrite_files(
            table,
            snap,
            snap.scan().kept_rows(),
            "OPTIMIZE",
            target_file_size,
            zorder_by=zorder_by,
        )
    threshold = small_file_threshold if small_file_threshold is not None else target_file_size // 2
    # Small-or-DV files, kept only where their partition holds
    # ``min_small_files``+ of them.
    rows = snap.scan().kept_rows()
    rows = rows.filter(
        pc.or_(
            pc.less(pc.fill_null(rows.column("size"), 0), threshold),
            pc.is_valid(rows.column("deletion_vector")),
        )
    )
    keys = [
        tuple(sorted(pv or (), key=lambda kv: kv[0]))
        for pv in rows.column("partition_values").to_pylist()
    ]
    per_partition = Counter(keys)
    selected = rows.filter(
        pa.array([per_partition[k] >= min_small_files for k in keys], pa.bool_())
    )
    return _rewrite_files(table, snap, selected, "OPTIMIZE", target_file_size)


def purge_deletion_vectors(
    table, min_cardinality: int = 1, target_file_size: int = DEFAULT_TARGET_FILE_SIZE
) -> int:
    """Materialize deletion vectors: rewrite every file whose DV hides at
    least ``min_cardinality`` rows into a clean file with no DV
    (REORG TABLE ... APPLY (PURGE)). Returns the committed version."""
    snap = table.snapshot()
    _check_supported(snap)
    rows = snap.scan().kept_rows()
    dvs = rows.column("deletion_vector")
    selected = rows.filter(
        pc.and_(
            pc.is_valid(dvs),
            pc.greater_equal(
                pc.fill_null(pc.struct_field(dvs, "cardinality"), 0), min_cardinality
            ),
        )
    )
    return _rewrite_files(table, snap, selected, "PURGE", target_file_size)


#: delta.logRetentionDuration default (delta protocol: 30 days).
DEFAULT_LOG_RETENTION_MS = 30 * 86_400_000


def cleanup_expired_logs(
    table, retention_ms: int | None = None, now_ms: int | None = None
) -> list[str]:
    """Metadata cleanup: delete ``_delta_log`` entries superseded by the
    latest checkpoint and older than ``delta.logRetentionDuration``.

    Protocol semantics (delta-spark's metadata cleanup; the reference
    kernel parses the property — table_properties/mod.rs
    LOG_RETENTION_DURATION — and relies on the writer to clean):

    - only files strictly below the most recent checkpoint version are
      eligible (everything at/after it is needed to reconstruct the
      current snapshot and its log tail);
    - of those, only files whose modification time predates
      now - retention go — time travel inside the retention window keeps
      working, older versions are sacrificed by design;
    - compacted ranges are eligible only when their END version is below
      the checkpoint;
    - ``_last_checkpoint`` is never touched;
    - V2 sidecar parquet in ``_delta_log/_sidecars`` is deleted only
      when no RETAINED checkpoint references it (pointers are read from
      the retained top-level checkpoint files; on any read failure all
      sidecars are protected — cleanup must fail safe);
    - gated off by ``delta.enableExpiredLogCleanup=false``.

    Driver-only file-metadata pass: O(log entries) name/mtime checks, no
    data read. Returns the deleted paths.
    """
    from delta_kernel_rs_spark.sources.delta_paths import (
        LAST_CHECKPOINT_NAME,
        LOG_DIR,
        LogFileKind,
        parse_log_filename,
    )
    from delta_kernel_rs_spark.sources.log_segment import build_log_segment

    snap = table.snapshot()
    cfg = snap.metadata.configuration
    if cfg.get("delta.enableExpiredLogCleanup", "true").strip().lower() == "false":
        return []
    if retention_ms is None:
        retention_ms = _parse_retention(cfg.get("delta.logRetentionDuration"))
    cutoff = (now_ms if now_ms is not None else _now_ms()) - retention_ms

    storage = table.storage
    log_dir = f"{table.path}/{LOG_DIR}"
    seg = build_log_segment(storage, table.path)
    ckpt_v = seg.checkpoint_version
    if ckpt_v is None:
        return []  # nothing is superseded without a checkpoint

    retained_ckpts: list[str] = []
    expired: list = []
    for entry in storage.list_from(log_dir, ""):
        name = entry.path.rsplit("/", 1)[-1]
        if name == LAST_CHECKPOINT_NAME:
            continue
        parsed = parse_log_filename(entry.path)
        if parsed is None or parsed.kind == LogFileKind.UNKNOWN:
            continue
        if parsed.kind == LogFileKind.COMPACTED:
            superseded = (parsed.end_version or parsed.version) < ckpt_v
        else:
            superseded = parsed.version < ckpt_v
        is_ckpt = parsed.kind in (
            LogFileKind.CLASSIC_CHECKPOINT,
            LogFileKind.MULTIPART_CHECKPOINT,
            LogFileKind.V2_CHECKPOINT,
        )
        if not superseded:
            if is_ckpt:
                retained_ckpts.append(entry.path)
            continue
        if entry.last_modified_ms < cutoff:
            expired.append(entry)

    deleted: list[str] = []
    for entry in expired:
        storage.delete(entry.path)
        deleted.append(entry.path)

    deleted.extend(
        _cleanup_sidecars(storage, log_dir, retained_ckpts, cutoff)
    )
    return deleted


def _parse_retention(raw: str | None) -> int:
    """``interval N units`` -> ms; default 30 days on absent/unparsable."""
    from delta_kernel_rs_spark.sources.checkpoint import _interval_ms

    if not raw:
        return DEFAULT_LOG_RETENTION_MS
    ms = _interval_ms(raw)
    return ms if ms is not None else DEFAULT_LOG_RETENTION_MS


def _cleanup_sidecars(storage, log_dir, retained_ckpts, cutoff) -> list[str]:
    sidecar_dir = f"{log_dir}/_sidecars"
    try:
        entries = storage.list_from(sidecar_dir, "")
    except OSError:
        return []
    if not entries:
        return []
    referenced: set[str] = set()
    try:
        import pyarrow.parquet as pq

        for ckpt_path in retained_ckpts:
            local = ckpt_path.split("://", 1)[-1] if "://" in ckpt_path else ckpt_path
            tbl = pq.read_table(local)
            if "sidecar" not in tbl.column_names:
                continue
            for sc in tbl.column("sidecar").to_pylist():
                if sc and sc.get("path"):
                    referenced.add(sc["path"].rsplit("/", 1)[-1])
    except Exception:
        return []  # cannot prove a sidecar unreferenced -> protect all
    deleted = []
    for entry in entries:
        name = entry.path.rsplit("/", 1)[-1]
        if name in referenced or entry.last_modified_ms >= cutoff:
            continue
        storage.delete(entry.path)
        deleted.append(entry.path)
    return deleted
