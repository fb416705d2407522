"""Streaming CDF source: ``spark.readStream.format("delta_cdf")``.

A Spark Structured Streaming source over this engine's change data feed
(reference kernel/src/table_changes/ — the batch twin is
sources/cdf.py), built on the PySpark 4 Python Data Source API:

* offsets are table versions — each micro-batch covers commit versions
  ``[start, end)``, so progress is exactly-once at commit granularity;
* ``partitions()`` classifies each commit's actions on the driver with
  the change-feed classifier that ``table_changes`` and the batch facade
  share (``sources.cdf.plan_change_events``) and packs the events into
  read tasks — inserts, removes, DV-swap row-level deltas, and cdc files;
* ``read()`` runs on executors: pyarrow parquet read, row-index
  selection for DV diffs, physical→logical rename, partition-value
  injection, and the ``_change_type`` / ``_commit_version`` /
  ``_commit_timestamp`` columns.

Usage::

    register_cdf_source(spark)
    df = (spark.readStream.format("delta_cdf")
          .option("path", table_path).option("startingVersion", 0).load())
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Iterator, Sequence
from decimal import Decimal
from typing import Any

from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

from delta_kernel_rs_spark.functions.schema_codec import parse_schema_string
from delta_kernel_rs_spark.sources.cdf import ChangeDataFeedError, cdf_enabled, plan_change_events
from delta_kernel_rs_spark.sources.storage import storage_for_uri

CDF_COLS = [
    T.StructField("_change_type", T.StringType(), True),
    T.StructField("_commit_version", T.LongType(), True),
    T.StructField("_commit_timestamp", T.TimestampType(), True),
]


def register_cdf_source(spark) -> None:
    spark.dataSource.register(DeltaCdfDataSource)


from delta_kernel_rs_spark.sources.batch_source import (  # noqa: E402
    _PYARROW_READER_FEATURES,
    _CdfEventReadMixin,
    _warn_rate_limit_under_available_now,
)


def _log_dir(path: str) -> str:
    return f"{path.rstrip('/')}/_delta_log"


def _latest_metadata(storage, path: str) -> dict:
    """Newest metaData action (checkpoint-aware), with the same reader
    protocol gate as Snapshot.create / the batch facade — a table whose
    protocol demands unsupported reader behavior must fail, not misread."""
    from delta_kernel_rs_spark.sources.log_segment import build_log_segment
    from delta_kernel_rs_spark.sources.pyreplay import protocol_of, snapshot_metadata

    seg = build_log_segment(storage, path)
    meta, proto = snapshot_metadata(storage, seg)
    protocol_of(proto).ensure_read_supported(supported=_PYARROW_READER_FEATURES)
    return meta


def _parse_pv_py(raw: str | None, dtype: T.DataType) -> Any:
    """Python twin of the partition-value parse (Delta string serialization)."""
    if raw is None or raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    if isinstance(dtype, T.StringType):
        return raw
    if isinstance(dtype, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)):
        return int(raw)
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return float(raw)
    if isinstance(dtype, T.BooleanType):
        return raw.lower() == "true"
    if isinstance(dtype, T.DecimalType):
        return Decimal(raw)
    if isinstance(dtype, T.DateType):
        return _dt.date.fromisoformat(raw)
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return _dt.datetime.fromisoformat(raw)
    return raw


class DeltaCdfStreamReader(_CdfEventReadMixin, DataSourceStreamReader):
    def __init__(self, schema: T.StructType, options: dict):
        # Spark lower-cases data source option keys.
        opts = {k.lower(): v for k, v in options.items()}
        self._path = opts["path"].rstrip("/")
        # Resolved from the table URI (pyarrow.fs for remote schemes) —
        # works on the driver and executors without a SparkSession.
        self._storage = storage_for_uri(self._path)
        sv = opts.get("startingversion")
        st = opts.get("startingtimestamp")
        if sv is not None and st is not None:
            raise ValueError("set startingVersion or startingTimestamp, not both")
        if st is not None:
            from delta_kernel_rs_spark.sources.batch_source import _parse_ts_ms
            from delta_kernel_rs_spark.sources.history import (
                first_version_after_for_storage,
            )

            self._start = first_version_after_for_storage(
                self._storage, self._path, _parse_ts_ms(st)
            )
        else:
            self._start = int(sv if sv is not None else 0)
        meta = _latest_metadata(self._storage, self._path)
        if not cdf_enabled(meta):
            raise ChangeDataFeedError("change data feed is not enabled on this table")
        self._table_schema = parse_schema_string(meta["schemaString"])
        self._pcols = list(meta.get("partitionColumns") or [])
        self._out_schema = schema
        from delta_kernel_rs_spark.sources.batch_source import DEFAULT_TARGET_BYTES

        self._target_bytes = int(opts.get("targetbytes", DEFAULT_TARGET_BYTES))
        #: data projection the shared CDF read mixin emits — derived from
        #: the DECLARED schema (the facade's columns option prunes it;
        #: emitted batches must agree with it, batch reader parity), mapped
        #: back to the table schema's fields so column-mapping metadata
        #: rides along. The three CDF meta columns are appended by
        #: _cdf_batch, not projected here.
        if schema is None:  # direct construction (tests/tools): full schema
            self._out_fields = list(self._table_schema.fields)
        else:
            meta_names = {f.name for f in CDF_COLS}
            by_name = {f.name: f for f in self._table_schema.fields}
            unknown = [
                f.name
                for f in schema.fields
                if f.name not in meta_names and f.name not in by_name
            ]
            if unknown:
                raise ValueError(
                    f"declared schema names unknown table columns: {unknown}"
                )
            self._out_fields = [
                by_name[f.name] for f in schema.fields if f.name not in meta_names
            ]
        # admission control: at most N commits of changes per micro-batch
        # (CDF change sets are per-commit, so the commit is the natural
        # admission unit).
        #
        # TRIGGER CAVEAT (library limitation, pinned in
        # test_streaming_cdf.py::test_available_now_with_rate_limit_is_one_
        # bounded_run): the Python DataSourceStreamReader API has no
        # SupportsAdmissionControl/prepareForTriggerAvailableNow hooks, so
        # under Trigger.AvailableNow Spark captures ONE latestOffset() and
        # stops there — a rate-limited stream processes exactly one bounded
        # batch per run (the checkpoint advances; the next run continues;
        # nothing is lost or re-emitted, but one run is NOT a full
        # backfill). Rate limits pace processingTime triggers, where
        # latestOffset is called per trigger. JVM sources solve this with
        # SupportsTriggerAvailableNow (delta-spark does); the Python API
        # cannot express it — investigated and documented, same class as
        # the pyarrow start-key listing limitation.
        # Same cursor + Spark-authoritative floor pattern
        # as the append source's rate limits (sources/batch_source.py):
        # latestOffset may be called before initialOffset, and a restart
        # re-syncs the floor from partitions()/commit() with at most one
        # empty micro-batch, never re-emitting rows.
        mc = opts.get("maxcommitspertrigger")
        self._max_commits = int(mc) if mc is not None else None
        if self._max_commits is not None and self._max_commits < 1:
            raise ValueError("maxCommitsPerTrigger must be >= 1")
        if self._max_commits is not None:
            _warn_rate_limit_under_available_now("maxCommitsPerTrigger")
        self._cursor = self._start
        self._floor = self._start

    # -- offsets ---------------------------------------------------------
    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        base = max(self._cursor, self._floor)
        # list_from with the consumed floor as the start key: on a
        # long-lived table only names >= the cursor are examined (local
        # scandir skips below-key names before any stat; Hadoop streams),
        # never the full log directory per trigger.
        entries = self._storage.list_from(
            _log_dir(self._path), f"{base:020d}.json"
        )
        versions = [
            int(e.path[-25:-5])
            for e in entries
            if e.path.endswith(".json") and e.path[-25:-5].isdigit()
        ]
        tip = max(max(versions) + 1, base) if versions else base
        if self._max_commits is None:
            self._cursor = max(base, tip)
        else:
            self._cursor = max(base, min(base + self._max_commits, tip))
        return {"version": self._cursor}

    def commit(self, end: dict) -> None:
        self._floor = max(self._floor, end["version"])

    # -- planning (driver) ----------------------------------------------
    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        """Classify the micro-batch's commits into CDF events with the
        one change-feed classifier (sources/cdf.py plan_change_events,
        shared with table_changes and the batch facade) and bin-pack them
        into read tasks. DV bitmaps decode on EXECUTORS — the driver ships
        descriptors, never row indexes."""
        from delta_kernel_rs_spark.sources.batch_source import _FileSliceTask
        from delta_kernel_rs_spark.sources.pyreplay import (
            bin_pack_by_size,
            ipc_serialize,
        )

        sv = max(start["version"], self._floor)
        self._floor = sv
        self._cursor = max(self._cursor, end["version"])
        if sv >= end["version"]:
            return []
        events = plan_change_events(self._storage, self._path, sv, end["version"] - 1)
        slices = bin_pack_by_size(events, self._target_bytes)
        return [_FileSliceTask(ipc_serialize(s)) for s in slices]

    # -- execution (workers) ---------------------------------------------
    def read(self, partition) -> Iterator:  # yields arrow batches
        return self._read_cdf_events(partition)


class DeltaCdfDataSource(DataSource):
    """``format("delta_cdf")`` — streaming change feed of a Delta table."""

    @classmethod
    def name(cls) -> str:
        return "delta_cdf"

    def schema(self) -> T.StructType:
        meta = _latest_metadata(
            storage_for_uri(self.options["path"]), self.options["path"]
        )
        table_schema = parse_schema_string(meta["schemaString"])
        return T.StructType(list(table_schema.fields) + CDF_COLS)

    def streamReader(self, schema: T.StructType) -> DeltaCdfStreamReader:
        return DeltaCdfStreamReader(schema, dict(self.options))
