"""The typed stats schema of a table: the parse schema for ``add.stats``.

Derives the stats struct (``numRecords`` + ``minValues``/``maxValues``/
``nullCount`` per eligible column) from the table schema, as the
reference's stats schema derivation does (kernel/src/scan/data_skipping/
stats_schema/mod.rs). The checkpoint writer uses it to write
``add.stats_parsed``. File skipping itself is ``plans/py_skipping``.
"""

from __future__ import annotations

from pyspark.sql import types as T

from delta_kernel_rs_spark.functions.stats import eligible_stats_columns


def stats_schema_for(
    schema: T.StructType,
    partition_columns: list[str],
    configuration: dict | None = None,
    clustering_cols: tuple[str, ...] = (),
) -> T.StructType:
    """Derive the typed stats-parse schema from the table schema
    (reference stats_schema derivation; arrays/maps/binary ineligible).
    Stats documents are keyed by PHYSICAL column names under column
    mapping, so the parse struct uses physical field names. The column
    selection honors ``dataSkippingStatsColumns`` /
    ``dataSkippingNumIndexedCols`` so a configured column beyond the
    default-32 window still parses (and skips) on read, and
    ``clustering_cols`` (LOGICAL top-level names) are always included —
    writers MUST write their stats, so readers must parse them even with
    ``numIndexedCols = 0``. When no column is eligible at all, the
    min/max/nullCount fields are OMITTED rather than typed as empty
    structs (parquet cannot write an empty nested struct — the
    writeStatsAsStruct checkpoint path would fail)."""
    from delta_kernel_rs_spark.functions.schema_codec import physical_name
    from delta_kernel_rs_spark.functions.stats import stats_selection

    data_fields = [f for f in schema.fields if f.name not in set(partition_columns)]
    selection = stats_selection(configuration)
    selection["required"] = selection["required"] | frozenset(clustering_cols)
    eligible = eligible_stats_columns(T.StructType(data_fields), **selection)
    out = [T.StructField("numRecords", T.LongType(), True)]
    if eligible:
        minmax = T.StructType(
            [T.StructField(physical_name(f), f.dataType, True) for f in eligible]
        )
        nulls = T.StructType(
            [T.StructField(physical_name(f), T.LongType(), True) for f in eligible]
        )
        out += [
            T.StructField("minValues", minmax, True),
            T.StructField("maxValues", minmax, True),
            T.StructField("nullCount", nulls, True),
        ]
    return T.StructType(out)
