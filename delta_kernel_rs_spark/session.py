"""SparkSession construction + the runtime confs this engine relies on.

Local-mode tuned (the test/bench box is local[N], single JVM); on a real
cluster only the session-builder line changes — every conf here is also
correct for a 1000-executor deployment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Confs that are safe to (re)apply to an externally-provided session.
RUNTIME_CONFS: dict[str, str] = {
    # Deterministic timestamps across engines (duckdb oracle is UTC-naive).
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime coalesce + skew-join handling — essential at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE coalesce CACHED plan materialization too (off by default).
    # The engine persists metadata-sized frames (change-feed events,
    # incremental merges — sources/scan.py LRU); without this every
    # persisted frame materializes at the static shuffle-partition count
    # and every downstream mini-job (head collects, broadcast builds, constants
    # joins) pays one task per mostly-empty partition. At 100 TB the
    # same applies: file-list frames are KBs-per-partition at any static
    # count. Measured r12: d13 1.73→0.90 s, d05 1.06→0.73 s at sf0.1.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Allow shuffled-hash join where its size conditions are met instead
    # of always sorting both sides (guide §3.1/§9), and let AQE rewrite
    # a planned sort-merge join to shuffled-hash when every post-shuffle
    # partition is under the threshold. r12 same-JVM A/B at sf0.1:
    # 5-10% faster steady-state on every join-heavy query (p18, p31,
    # d03, d07), no regressions. Scale note: build sides are bounded by
    # the post-AQE partition size (64m threshold), and AQE skew-split
    # still applies — the same settings are sane on a real cluster; the
    # threshold is the scale knob.
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64m",
    # The synthetic events table stores TIMESTAMP(NANOS) which the vectorized
    # parquet reader rejects; read as long and convert (queries/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for any pandas interop (toPandas / pandas UDFs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Make sure scan-level pushdown is on (it is by default; be explicit —
    # row-group pruning below the file skipping of plans/py_skipping.py).
    "spark.sql.parquet.filterPushdown": "true",
    # Python Data Source filter pushdown: lets .filter() on a facade read
    # reach DeltaKernelBatchReader.pushFilters (partition pruning + file
    # skipping + pyarrow row-group pruning). Spark REFUSES to plan a
    # source that implements pushFilters while this is off, so the facade
    # requires it.
    "spark.sql.python.filterPushdown.enabled": "true",
    # INT64 timestamps carry parquet row-group min/max stats (INT96 does
    # not) — required for the footer-based write stats in functions/stats.py.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Column-mapped read schemas carry parquet.field.id; externally-written
    # files may lack ids — fall back to name matching instead of failing.
    "spark.sql.parquet.fieldId.read.ignoreMissing": "true",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply engine confs to an existing session (e.g. the driver's)."""
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - immutable conf on old Spark
            pass
    return spark


def get_spark(app_name: str = "delta-kernel-rs-spark", cpus: str | None = None) -> SparkSession:
    """Create (or get) a local session sized from $SPARK_GRAFT_CPUS."""
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    shuffle = "32" if cpus == "*" else str(max(int(cpus), 1))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)
