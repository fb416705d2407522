"""CONVERT TO DELTA: adopt an existing parquet directory in place.

The standard migration entry point for users switching to a Delta
engine: no data is rewritten — the conversion lists the parquet files,
reads ONLY their footers (the same footer-stats pass every commit uses,
functions/stats.py collect_file_stats_footer, on the driver), and
writes commit 0 with one ``add`` per file carrying real min/max/
nullCount stats, so data skipping works from the first read. Hive-style
``col=value`` directories become Delta
partition columns (declared explicitly with their types, as in
``CONVERT TO DELTA ... PARTITIONED BY``, because the directory names
alone cannot recover types).

Scale posture: the driver holds one (path, size, mtime) tuple per file
from the listing; footers are parsed one 10,000-file chunk at a time;
the commit is the normal atomic PUT-if-absent. Converting a million-file
dataset costs a listing + one footer read per file — never a data read.

The reference kernel has no converter (tables reach it already-Delta);
the action/stats shapes written here are the ones its replay consumes
(kernel/src/actions/mod.rs:860 Add, stats JSON contract).
"""

from __future__ import annotations

import urllib.parse

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from delta_kernel_rs_spark.functions.partition_codec import parse_hive_partition_path
from delta_kernel_rs_spark.functions.stats import (
    collect_file_stats_footer,
    stats_json,
)


class ConvertError(Exception):
    pass


def convert_to_delta(
    spark: SparkSession,
    path: str,
    partition_by: "dict[str, T.DataType] | None" = None,
    properties: "dict[str, str] | None" = None,
):
    """Convert the parquet directory at ``path`` into a Delta table
    (commit 0 references the existing files; nothing is rewritten).
    Returns the :class:`DeltaTable`.

    ``partition_by`` maps hive-partition column name → Spark type, and
    must cover exactly the ``col=value`` directory levels present.
    """
    from delta_kernel_rs_spark.sources.storage import storage_for
    from delta_kernel_rs_spark.sources.table import DeltaTable
    from delta_kernel_rs_spark.sources.transaction import Transaction

    path = path.rstrip("/")
    storage = storage_for(spark, path)
    if DeltaTable.exists(spark, path):
        raise ConvertError(f"{path} already has a _delta_log — nothing to convert")

    pcols = dict(partition_by or {})
    files = []
    for entry in storage.list_recursive(path):
        rel = entry.path[len(path) + 1 :]
        base = rel.rsplit("/", 1)[-1]
        if not base.endswith(".parquet") or base.startswith(("_", ".")):
            continue
        dirpart = rel.rsplit("/", 1)[0] if "/" in rel else ""
        raw_pv = parse_hive_partition_path(dirpart) if dirpart else {}
        if set(raw_pv) != set(pcols):
            raise ConvertError(
                f"file {rel!r} has partition directories {sorted(raw_pv)} "
                f"but partition_by declares {sorted(pcols)}"
            )
        files.append((entry.path, rel, raw_pv, entry.size, entry.last_modified_ms))
    if not files:
        raise ConvertError(f"no parquet files under {path}")

    # Data schema from one footer (driver-side, footer-only read); files
    # missing later-added columns resolve to NULL on read, exactly like a
    # schema-evolved Delta table.
    first_uri = files[0][0] if "://" in files[0][0] else f"file://{files[0][0]}"
    data_schema = spark.read.parquet(first_uri).schema
    overlap = [f.name for f in data_schema.fields if f.name in pcols]
    if overlap:
        raise ConvertError(
            f"partition columns {overlap} also exist in the parquet data"
        )
    full_schema = T.StructType(
        list(data_schema.fields)
        + [T.StructField(n, t, True) for n, t in pcols.items()]
    )

    # Footer pass + streamed commit assembly: stats are computed and
    # turned into add actions one bounded chunk of files at a time, so
    # converting a million-file directory never holds the full stats map
    # or action list in driver memory — only the (path, pv, size, mtime)
    # string tuples from the listing.
    CHUNK = 10_000

    def convert_adds():
        for lo in range(0, len(files), CHUNK):
            chunk = files[lo : lo + CHUNK]
            stats_by_path = collect_file_stats_footer(
                spark, [f[0] for f in chunk], data_schema
            )
            for abs_path, rel, raw_pv, size, mtime in chunk:
                raw = stats_by_path.get(abs_path)
                yield {
                    "add": {
                        "path": "/".join(
                            urllib.parse.quote(seg) for seg in rel.split("/")
                        ),
                        "partitionValues": raw_pv,
                        "size": size,
                        "modificationTime": mtime,
                        "dataChange": True,
                        "stats": stats_json(raw, data_schema) if raw else None,
                    }
                }

    txn = Transaction(
        spark,
        path,
        operation="CONVERT",
        is_create=True,
        schema=full_schema,
        partition_columns=list(pcols),
        configuration=properties or {},
    )
    txn.add_actions_stream(convert_adds)
    txn.commit()
    return DeltaTable(spark, path)
