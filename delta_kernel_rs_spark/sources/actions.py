"""Delta log action schema — one wide nullable struct per action kind.

A log file (commit NDJSON or checkpoint parquet) is a DataFrame with
exactly these top-level columns; each row carries exactly one non-null
action struct. Mirrors the reference's action structs
(kernel/src/actions/mod.rs — names :46-72; Add :860, Remove :934,
Metadata :326, Protocol :558, Cdc :999, SetTransaction :1035,
Sidecar :1251, CheckpointMetadata :1303, DomainMetadata :1326,
CommitInfo :804; DV descriptor kernel/src/actions/deletion_vector.rs:28-70).
"""

from __future__ import annotations

from pyspark.sql import types as T

_string_map = T.MapType(T.StringType(), T.StringType())

DELETION_VECTOR_TYPE = T.StructType(
    [
        T.StructField("storageType", T.StringType()),
        T.StructField("pathOrInlineDv", T.StringType()),
        T.StructField("offset", T.IntegerType()),
        T.StructField("sizeInBytes", T.IntegerType()),
        T.StructField("cardinality", T.LongType()),
    ]
)

ADD_TYPE = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("partitionValues", _string_map),
        T.StructField("size", T.LongType()),
        T.StructField("modificationTime", T.LongType()),
        T.StructField("dataChange", T.BooleanType()),
        T.StructField("stats", T.StringType()),
        T.StructField("tags", _string_map),
        T.StructField("deletionVector", DELETION_VECTOR_TYPE),
        T.StructField("baseRowId", T.LongType()),
        T.StructField("defaultRowCommitVersion", T.LongType()),
        T.StructField("clusteringProvider", T.StringType()),
    ]
)

REMOVE_TYPE = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("deletionTimestamp", T.LongType()),
        T.StructField("dataChange", T.BooleanType()),
        T.StructField("extendedFileMetadata", T.BooleanType()),
        T.StructField("partitionValues", _string_map),
        T.StructField("size", T.LongType()),
        T.StructField("stats", T.StringType()),
        T.StructField("tags", _string_map),
        T.StructField("deletionVector", DELETION_VECTOR_TYPE),
        T.StructField("baseRowId", T.LongType()),
        T.StructField("defaultRowCommitVersion", T.LongType()),
    ]
)

METADATA_TYPE = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField(
            "format",
            T.StructType(
                [
                    T.StructField("provider", T.StringType()),
                    T.StructField("options", _string_map),
                ]
            ),
        ),
        T.StructField("schemaString", T.StringType()),
        T.StructField("partitionColumns", T.ArrayType(T.StringType())),
        T.StructField("createdTime", T.LongType()),
        T.StructField("configuration", _string_map),
    ]
)

PROTOCOL_TYPE = T.StructType(
    [
        T.StructField("minReaderVersion", T.IntegerType()),
        T.StructField("minWriterVersion", T.IntegerType()),
        T.StructField("readerFeatures", T.ArrayType(T.StringType())),
        T.StructField("writerFeatures", T.ArrayType(T.StringType())),
    ]
)

TXN_TYPE = T.StructType(
    [
        T.StructField("appId", T.StringType()),
        T.StructField("version", T.LongType()),
        T.StructField("lastUpdated", T.LongType()),
    ]
)

CDC_TYPE = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("partitionValues", _string_map),
        T.StructField("size", T.LongType()),
        T.StructField("dataChange", T.BooleanType()),
        T.StructField("tags", _string_map),
    ]
)

COMMIT_INFO_TYPE = T.StructType(
    [
        T.StructField("timestamp", T.LongType()),
        T.StructField("inCommitTimestamp", T.LongType()),
        T.StructField("operation", T.StringType()),
        T.StructField("operationParameters", _string_map),
        T.StructField("engineInfo", T.StringType()),
        T.StructField("txnId", T.StringType()),
    ]
)

DOMAIN_METADATA_TYPE = T.StructType(
    [
        T.StructField("domain", T.StringType()),
        T.StructField("configuration", T.StringType()),
        T.StructField("removed", T.BooleanType()),
    ]
)

SIDECAR_TYPE = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("sizeInBytes", T.LongType()),
        T.StructField("modificationTime", T.LongType()),
        T.StructField("tags", _string_map),
    ]
)

CHECKPOINT_METADATA_TYPE = T.StructType(
    [
        T.StructField("version", T.LongType()),
        T.StructField("tags", _string_map),
    ]
)

#: The full actions row schema (reference action names
#: kernel/src/actions/mod.rs:46-72).
ACTIONS_SCHEMA = T.StructType(
    [
        T.StructField("txn", TXN_TYPE),
        T.StructField("add", ADD_TYPE),
        T.StructField("remove", REMOVE_TYPE),
        T.StructField("metaData", METADATA_TYPE),
        T.StructField("protocol", PROTOCOL_TYPE),
        T.StructField("cdc", CDC_TYPE),
        T.StructField("commitInfo", COMMIT_INFO_TYPE),
        T.StructField("domainMetadata", DOMAIN_METADATA_TYPE),
        T.StructField("sidecar", SIDECAR_TYPE),
        T.StructField("checkpointMetadata", CHECKPOINT_METADATA_TYPE),
    ]
)

#: Subset needed by the file-list (scan metadata) replay — reading less of
#: the checkpoint keeps the scan narrow (column pruning reaches parquet).
SCAN_ACTIONS_SCHEMA = T.StructType(
    [
        T.StructField("add", ADD_TYPE),
        T.StructField("remove", REMOVE_TYPE),
        T.StructField("sidecar", SIDECAR_TYPE),
    ]
)

#: Subset for protocol & metadata resolution.
PM_ACTIONS_SCHEMA = T.StructType(
    [
        T.StructField("metaData", METADATA_TYPE),
        T.StructField("protocol", PROTOCOL_TYPE),
    ]
)
