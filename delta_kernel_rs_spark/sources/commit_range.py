"""Raw commit-range reads: the CommitRange API.

Mirrors the reference's ``CommitRange`` (kernel/src/commit_range/mod.rs
— builder :84-95, lazy ``commits()`` :113-140): read a contiguous
``[start_version, end_version]`` range of Delta commits and return the
requested action kinds RAW, exactly as recorded in the commit JSON — no
column-mapping translation, no CDF materialization, no feature gating
beyond protocol read-support validation along the range.

Spark shape: ONE distributed JSON read over the range (version derived
from the commit filename in-plan, per-commit timestamp joined from a
broadcast ICT/mtime map); the driver touches only the directory listing
and an O(commits) protocol-validation prepass. Unlike the reference's
per-commit iterator, the result is a DataFrame — commit order is a sort
key (`version`), not an iteration contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_kernel_rs_spark.sources.actions import ACTIONS_SCHEMA
from delta_kernel_rs_spark.sources.log_segment import InvalidLogError
from delta_kernel_rs_spark.sources.scan import read_named_files
from delta_kernel_rs_spark.sources.storage import storage_for

#: Action kinds a caller may request (reference DeltaAction enum,
#: commit_range/actions.rs).
ACTION_KINDS = (
    "add",
    "remove",
    "cdc",
    "metaData",
    "protocol",
    "txn",
    "commitInfo",
    "domainMetadata",
)


def commit_range(
    spark: SparkSession,
    table_path: str,
    start_version: int,
    end_version: int | None = None,
    actions: tuple[str, ...] = ("add", "remove"),
    snapshot=None,
) -> DataFrame:
    """Actions of the requested kinds for commits in the inclusive range.

    Output: ``version`` (LONG), ``timestamp`` (LONG, ms — in-commit
    timestamp when present, else the commit file's mtime) plus one struct
    column per requested kind (null when the action row is another kind).
    Rows carrying none of the requested kinds are dropped.

    ``snapshot`` (optional) plays builder_from's role: its log segment
    supplies the listing (no extra ``_delta_log`` list) and its table
    must match. Protocol actions inside the range are validated for read
    support — a range crossing an unsupported protocol upgrade raises
    rather than returning actions this engine may misinterpret.
    """
    if not actions:
        raise ValueError("at least one action kind must be requested")
    if len(set(actions)) != len(actions):
        raise ValueError(f"duplicate action kinds requested: {actions}")
    unknown = [a for a in actions if a not in ACTION_KINDS]
    if unknown:
        raise ValueError(f"unknown action kinds: {unknown} (know {ACTION_KINDS})")

    table_path = table_path.rstrip("/")
    lister: dict[int, tuple[str, int]] = {}
    if snapshot is not None:
        if snapshot.table_path.rstrip("/") != table_path:
            raise ValueError(
                f"snapshot belongs to {snapshot.table_path}, not {table_path}"
            )
        # the snapshot's governing protocol covers commits BEFORE the range
        # (validated again here even though Snapshot.create already gated it)
        snapshot.protocol.ensure_read_supported()
        seg = snapshot.log_segment
        lister = {
            c.version: (c.path, seg.commit_timestamps.get(c.version, 0))
            for c in seg.commit_files
            if c.end_version is None  # compacted files are not raw commits
        }
    probe_end = end_version
    if probe_end is None and lister:
        probe_end = max(lister)  # contiguity must hold up to the tail tip
    covered = probe_end is not None and all(
        v in lister for v in range(start_version, probe_end + 1)
    )
    if snapshot is None or not covered:
        # no snapshot, or its segment starts at a checkpoint above the
        # range: the raw commit JSONs may still exist on disk — list them
        # (commit files below a checkpoint stay readable until cleaned up)
        storage = storage_for(spark, table_path)
        log_dir = f"{table_path}/_delta_log"
        for e in storage.list_dir(log_dir):
            name = e.path.rsplit("/", 1)[-1]
            if name.endswith(".json") and name[:-5].isdigit():
                lister.setdefault(int(name[:-5]), (e.path, e.last_modified_ms))

    if end_version is None:
        served = [v for v in lister if v >= start_version]
        if not served:
            raise InvalidLogError(
                f"no commits at or after version {start_version} in {table_path}"
            )
        end_version = max(served)
    if start_version > end_version:
        raise ValueError(f"start {start_version} > end {end_version}")

    commit_paths: list[str] = []
    mtime_ms: dict[int, int] = {}
    for v in range(start_version, end_version + 1):
        entry = lister.get(v)
        if entry is None:
            raise InvalidLogError(
                f"commit {v} is missing — the range [{start_version}, "
                f"{end_version}] is not contiguous (retention may have "
                "expired it, or it is only covered by a checkpoint)"
            )
        commit_paths.append(entry[0])
        mtime_ms[v] = entry[1]

    raw = (
        read_named_files(spark, commit_paths, fmt="json", schema=ACTIONS_SCHEMA)
        .withColumn(
            "version",
            F.split(
                F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1), r"\."
            )
            .getItem(0)
            .cast("long"),
        )
    )

    # O(commits) prepass: ICT map + protocol validation along the range
    # (reference seeds latest_protocol from the snapshot then re-validates
    # per in-range protocol action).
    from delta_kernel_rs_spark.sources.pyreplay import protocol_of

    meta_rows = (
        raw.select(
            "version",
            F.col("commitInfo.inCommitTimestamp").alias("ict"),
            F.col("protocol").alias("proto"),
        )
        .filter(F.col("ict").isNotNull() | F.col("proto").isNotNull())
        .collect()
    )
    for r in meta_rows:
        if r.proto is not None and r.proto.minReaderVersion is not None:
            protocol_of(
                {
                    "minReaderVersion": r.proto.minReaderVersion,
                    "minWriterVersion": r.proto.minWriterVersion,
                    "readerFeatures": r.proto.readerFeatures,
                    "writerFeatures": r.proto.writerFeatures,
                }
            ).ensure_read_supported()
    ict = {r.version: r.ict for r in meta_rows if r.ict is not None}
    ts_df = spark.createDataFrame(
        [
            (v, ict.get(v, mtime_ms[v]))
            for v in range(start_version, end_version + 1)
        ],
        "version LONG, timestamp LONG",
    )

    keep = None
    for a in actions:
        cond = F.col(a).isNotNull()
        keep = cond if keep is None else (keep | cond)
    return (
        raw.filter(keep)
        .join(F.broadcast(ts_df), "version")
        .select("version", "timestamp", *actions)
    )
