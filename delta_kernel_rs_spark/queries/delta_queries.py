"""Oracle-checked Delta-kernel-path queries (d-family).

Round-6 consolidation: same-family queries are merged into multi-arm
entries (UNION with an ``arm`` tag) so every family sits inside the
driver's 50-entry correctness gate — the old-id → new-key mapping is in
SURVEY.md §8.

Round-1 verdict: the engine's own scan/write/DV/CDF code had zero coverage
in the driver's hard correctness gate. These queries close that hole,
mirroring the reference's DAT acceptance strategy
(acceptance/tests/dat_reader.rs:1-42): build a Delta table *with this
engine* from deterministic slices of the driver's `lineitem` parquet
(create + append + DV delete + CoW delete + checkpoint + CDF), read it
back through the kernel path, and compare against DuckDB SQL that derives
the same expected rows directly from the raw parquet.

Determinism: every table is built from modulo slices of ``l_orderkey``,
so the oracle can reconstruct exactly which rows must be visible at every
version. Fixture tables are built once per (process, sf_dir) in a temp
dir and reused across queries; outputs never include wall-clock fields.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_kernel_rs_spark.queries import register
from delta_kernel_rs_spark.queries.tables import load_table
from delta_kernel_rs_spark.sources.table import DeltaTable

#: Projected lineitem columns used by every fixture table.
COLS = [
    "l_orderkey",
    "l_partkey",
    "l_quantity",
    "l_extendedprice",
    "l_shipdate",
    "l_returnflag",
]
_COLS_SQL = ", ".join(COLS)

_FIXTURES: dict[tuple[str, str], str] = {}


def _src(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").select(*COLS)


def _chunk(df: DataFrame, mod: int, residue: int) -> DataFrame:
    return df.filter((F.col("l_orderkey") % mod) == residue)


def _fixture(spark: SparkSession, sf_dir: str, kind: str) -> DeltaTable:
    """Build (once per process) the fixture Delta table of the given kind."""
    key = (sf_dir, kind)
    if key in _FIXTURES:
        return DeltaTable(spark, _FIXTURES[key])
    path = f"{tempfile.mkdtemp(prefix=f'dkrs_{kind}_')}/tbl"
    src = _src(spark, sf_dir)

    if kind == "plain":  # v0 create+data, v1 append
        t = DeltaTable.create(spark, path, df=_chunk(src, 4, 0))
        t.append(_chunk(src, 4, 1))
    elif kind == "part":  # partitioned by l_returnflag
        t = DeltaTable.create(
            spark, path, df=_chunk(src, 4, 0), partition_by=["l_returnflag"]
        )
        t.append(_chunk(src, 4, 1))
    elif kind == "dv":  # deletion-vector delete, no rewrite
        from delta_kernel_rs_spark.sources.delete import delete_with_dvs

        t = DeltaTable.create(spark, path, df=_chunk(src, 4, 0))
        delete_with_dvs(t, "l_orderkey % 7 = 0")
    elif kind == "cow":  # copy-on-write delete
        t = DeltaTable.create(spark, path, df=_chunk(src, 4, 0))
        t.delete("l_quantity > 45")
    elif kind == "ckpt":  # checkpoint at v3 + post-checkpoint commit v4
        t = DeltaTable.create(
            spark,
            path,
            df=_chunk(src, 5, 0),
            properties={"delta.checkpointInterval": "3"},
        )
        for r in range(1, 5):
            t.append(_chunk(src, 5, r))
    elif kind == "cdf":  # insert, insert, DV-delete under CDF
        from delta_kernel_rs_spark.sources.delete import delete_with_dvs

        t = DeltaTable.create(
            spark,
            path,
            df=_chunk(src, 8, 3),
            properties={"delta.enableChangeDataFeed": "true"},
        )
        t.append(_chunk(src, 8, 7))
        delete_with_dvs(t, "l_orderkey % 3 = 0")
    elif kind == "cm":  # column mapping (name mode) + partitioned + CoW delete
        t = DeltaTable.create(
            spark,
            path,
            df=_chunk(src, 4, 0),
            partition_by=["l_returnflag"],
            properties={"delta.columnMapping.mode": "name"},
        )
        t.append(_chunk(src, 4, 1))
        t.delete("l_quantity > 40")
    elif kind == "evo":  # schema evolution: int seed -> widen to long -> add col
        from pyspark.sql import types as T

        full = load_table(spark, sf_dir, "lineitem")
        seed = _chunk(full, 4, 0).select(
            "l_orderkey", F.col("l_suppkey").cast("int").alias("l_suppkey"), "l_quantity"
        )
        t = DeltaTable.create(spark, path, df=seed)
        t.widen_column("l_suppkey", T.LongType())
        t.add_column("l_flag", T.StringType())
        more = _chunk(full, 4, 1).select(
            "l_orderkey", "l_suppkey", "l_quantity", F.col("l_returnflag").alias("l_flag")
        )
        t.append(more)
    elif kind == "ckpt2":  # V2 checkpoint with sidecars + post-checkpoint commit
        t = DeltaTable.create(spark, path, df=_chunk(src, 4, 0))
        t.append(_chunk(src, 4, 1))
        t.append(_chunk(src, 4, 2))
        t.checkpoint(v2=True)
        t.append(_chunk(src, 4, 3))
    elif kind == "rt":  # row tracking: baseRowId chain across two commits
        t = DeltaTable.create(
            spark,
            path,
            df=_chunk(src, 4, 0),
            properties={"delta.enableRowTracking": "true"},
        )
        t.append(_chunk(src, 4, 1))
    elif kind == "rtc":  # row tracking + DV delete, for lineage-based CDF
        from delta_kernel_rs_spark.sources.delete import delete_with_dvs

        t = DeltaTable.create(
            spark,
            path,
            df=_chunk(src, 4, 0),
            properties={"delta.enableRowTracking": "true"},
        )
        t.append(_chunk(src, 4, 1))
        delete_with_dvs(t, "l_orderkey % 9 = 0")
    elif kind == "restore":  # create, append, CoW delete, RESTORE to v1
        t = DeltaTable.create(spark, path, df=_chunk(src, 4, 0))
        t.append(_chunk(src, 4, 1))
        t.delete("l_quantity > 30")
        t.restore(version=1)
    elif kind == "zord":  # multi-file create, then OPTIMIZE ZORDER BY
        t = DeltaTable.create(spark, path, df=_chunk(src, 4, 0).repartition(8))
        t.optimize(zorder_by=["l_orderkey", "l_partkey"], target_file_size=200_000)
    elif kind == "upd":  # create, append, then UPDATE with expressions
        t = DeltaTable.create(spark, path, df=_chunk(src, 4, 0))
        t.append(_chunk(src, 4, 1))
        t.update(
            "l_quantity <= 10",
            {"l_returnflag": "'U'", "l_extendedprice": "l_extendedprice * 2"},
        )
    elif kind == "genpart":  # partitioned on a GENERATED column (YEAR(ts))
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("l_orderkey", T.LongType()),
                T.StructField("l_partkey", T.LongType()),
                T.StructField("l_quantity", T.DoubleType()),
                T.StructField("l_extendedprice", T.DoubleType()),
                T.StructField("l_shipdate", T.TimestampType()),
                T.StructField("l_returnflag", T.StringType()),
                T.StructField(
                    "ship_year",
                    T.IntegerType(),
                    True,
                    {"delta.generationExpression": "YEAR(l_shipdate)"},
                ),
            ]
        )
        t = DeltaTable.create(spark, path, schema=schema, partition_by=["ship_year"])
        t.append(_chunk(src, 4, 0))
        t.append(_chunk(src, 4, 1))
    elif kind == "iceberg":  # icebergCompatV2 (UniForm): cm + CoW delete
        t = DeltaTable.create(
            spark,
            path,
            df=_chunk(src, 4, 0),
            partition_by=["l_returnflag"],
            properties={
                "delta.enableIcebergCompatV2": "true",
                "delta.columnMapping.mode": "name",
            },
        )
        t.append(_chunk(src, 4, 1))
        t.delete("l_quantity > 48")  # DVs are forbidden; CoW keeps compat
    elif kind == "repl":  # create two chunks, replaceWhere the q>40 band
        t = DeltaTable.create(spark, path, df=_chunk(src, 4, 0))
        t.overwrite_where(
            _chunk(src, 4, 2).filter(F.col("l_quantity") > 40),
            "l_quantity > 40",
        )
    else:  # pragma: no cover - registry bug
        raise ValueError(f"unknown fixture kind {kind!r}")

    _FIXTURES[key] = path
    return t


# ---------------------------------------------------------------------------
# d01 predicate scan + projection (log replay, dedup, residual filter) in
# one arm; partition pruning + partition-value injection in the other.
# (Merged d01+d02 so every d-family fits the driver's 50-query gate.)

_SCAN4 = ["l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag"]
_SCAN4_SQL = ", ".join(_SCAN4)


def _arm(df: DataFrame, name: str, cols: list[str] | None = None) -> DataFrame:
    """Tag a result frame as one union arm of a merged query."""
    out = df.select(*cols) if cols else df
    return out.select(F.lit(name).alias("arm"), "*")


def d01_delta_scan_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    plain = _fixture(spark, sf_dir, "plain").to_df(
        predicate="l_quantity <= 25", columns=_SCAN4
    )
    part = _fixture(spark, sf_dir, "part").to_df(
        predicate="l_returnflag = 'R' AND l_quantity < 10", columns=_SCAN4
    )
    return _arm(plain, "plain").unionByName(_arm(part, "part"))


register(
    "d01_delta_scan_pruning",
    d01_delta_scan_pruning,
    f"""
    SELECT 'plain' AS arm, {_SCAN4_SQL}
    FROM lineitem WHERE l_orderkey % 4 <= 1 AND l_quantity <= 25
    UNION ALL
    SELECT 'part', {_SCAN4_SQL} FROM lineitem
    WHERE l_orderkey % 4 <= 1 AND l_returnflag = 'R' AND l_quantity < 10
    """,
)

# ---------------------------------------------------------------------------
# d03 deletes + incremental refresh, three arms (merged d03+d04+d08):
#   dv   — deletion-vector delete: scan hides DV'd rows without a rewrite
#   cow  — copy-on-write delete: matched files rewritten sans matching rows
#   incr — scan_metadata_from refresh of a v0 file list over the DV table
#          (covers the DV-swap merge in the incremental diff)


def d03_delta_deletes_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    dv = _fixture(spark, sf_dir, "dv").to_df()
    cow = _fixture(spark, sf_dir, "cow").to_df()

    # Frame-shaped scan_metadata_from: prior state is the v0 scan-files
    # FRAME (not a collected list), merged in-plan with the diff — the
    # driver never materializes either file list (r7 verdict, next #1).
    t = _fixture(spark, sf_dir, "dv")
    base = t.snapshot(version=0)
    prior_df = base.scan().scan_files_df()
    latest = t.snapshot()
    refreshed_df = latest.scan_files_df_from(0, prior_df)
    incr = latest.scan().with_files_df(refreshed_df).to_df()

    return _arm(dv, "dv").unionByName(_arm(cow, "cow")).unionByName(
        _arm(incr, "incr")
    )


register(
    "d03_delta_deletes_incremental",
    d03_delta_deletes_incremental,
    f"""
    SELECT 'dv' AS arm, {_COLS_SQL} FROM lineitem
    WHERE l_orderkey % 4 = 0 AND NOT (l_orderkey % 7 = 0)
    UNION ALL
    SELECT 'cow', {_COLS_SQL} FROM lineitem
    WHERE l_orderkey % 4 = 0 AND NOT (l_quantity > 45)
    UNION ALL
    SELECT 'incr', {_COLS_SQL} FROM lineitem
    WHERE l_orderkey % 4 = 0 AND NOT (l_orderkey % 7 = 0)
    """,
)

# ---------------------------------------------------------------------------
# d05 checkpoint replay, both formats (merged d05+d11):
#   v1 — classic checkpoint arm + anti-join + post-checkpoint commit
#   v2 — V2 checkpoint with sidecars resolved, + post-checkpoint commit


def d05_delta_checkpoint_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    v1 = _fixture(spark, sf_dir, "ckpt").to_df(predicate="l_extendedprice > 1000")
    v2 = _fixture(spark, sf_dir, "ckpt2").to_df(predicate="l_quantity >= 5")
    return _arm(v1, "v1").unionByName(_arm(v2, "v2"))


register(
    "d05_delta_checkpoint_replay",
    d05_delta_checkpoint_replay,
    f"""
    SELECT 'v1' AS arm, {_COLS_SQL} FROM lineitem WHERE l_extendedprice > 1000
    UNION ALL
    SELECT 'v2', {_COLS_SQL} FROM lineitem WHERE l_quantity >= 5
    """,
)

# ---------------------------------------------------------------------------
# d06 snapshot rewind, both mechanisms (merged d06+d22):
#   tt      — time travel: version-pinned snapshot read
#   restore — RESTORE commit re-adds the pre-delete files, then read latest


def d06_delta_time_travel_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    tt = _fixture(spark, sf_dir, "plain").to_df(version=0)
    restored = _fixture(spark, sf_dir, "restore").to_df()
    return _arm(tt, "tt").unionByName(_arm(restored, "restore"))


register(
    "d06_delta_time_travel_restore",
    d06_delta_time_travel_restore,
    f"""
    SELECT 'tt' AS arm, {_COLS_SQL} FROM lineitem WHERE l_orderkey % 4 = 0
    UNION ALL
    SELECT 'restore', {_COLS_SQL} FROM lineitem WHERE l_orderkey % 4 <= 1
    """,
)

# ---------------------------------------------------------------------------
# d09 schema transforms, two arms (merged d09+d10):
#   cm  — column mapping (name mode): physical-name files/partitions/stats,
#         logical reads; columns absent from an arm are NULL-padded
#   evo — schema evolution: widened ints + NULL-filled added column


def d09_delta_column_mapping_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cm = _fixture(spark, sf_dir, "cm").to_df(predicate="l_returnflag = 'A'")
    cm_arm = cm.select(
        F.lit("cm").alias("arm"),
        "l_orderkey",
        F.lit(None).cast("long").alias("l_suppkey"),
        "l_quantity",
        "l_extendedprice",
        "l_shipdate",
        F.col("l_returnflag").alias("l_flag"),
    )
    evo = _fixture(spark, sf_dir, "evo").to_df()
    evo_arm = evo.select(
        F.lit("evo").alias("arm"),
        "l_orderkey",
        "l_suppkey",
        "l_quantity",
        F.lit(None).cast("double").alias("l_extendedprice"),
        F.lit(None).cast("timestamp").alias("l_shipdate"),
        "l_flag",
    )
    return cm_arm.unionByName(evo_arm)


register(
    "d09_delta_column_mapping_evolution",
    d09_delta_column_mapping_evolution,
    """
    SELECT 'cm' AS arm, l_orderkey, CAST(NULL AS BIGINT) AS l_suppkey,
           l_quantity, l_extendedprice, l_shipdate, l_returnflag AS l_flag
    FROM lineitem
    WHERE l_orderkey % 4 <= 1 AND NOT (l_quantity > 40) AND l_returnflag = 'A'
    UNION ALL
    SELECT 'evo', l_orderkey, l_suppkey, l_quantity,
           CAST(NULL AS DOUBLE), CAST(NULL AS TIMESTAMP),
           CAST(NULL AS VARCHAR)
    FROM lineitem WHERE l_orderkey % 4 = 0
    UNION ALL
    SELECT 'evo', l_orderkey, l_suppkey, l_quantity,
           CAST(NULL AS DOUBLE), CAST(NULL AS TIMESTAMP), l_returnflag
    FROM lineitem WHERE l_orderkey % 4 = 1
    """,
)

# ---------------------------------------------------------------------------
# d07 CDF: row-level change feed incl. DV-swap diffing


def d07_delta_cdf_rowlevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _fixture(spark, sf_dir, "cdf")
    return t.changes(0).select(*COLS, "_change_type", "_commit_version")


# ---------------------------------------------------------------------------
# d14 opaque (UDF-surface) predicate: NULL-poisoned skipping + residual eval


def d14_delta_opaque_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan with AND(rewritable, opaque): the opaque conjunct contributes no
    pruning (NULL poison, file kept) but still filters rows; the rewritable
    conjunct keeps data skipping active (reference expressions/mod.rs:
    194-275 — engines must not treat unknown as NULL in the actual filter)."""
    from delta_kernel_rs_spark.plans.expressions import (
        And,
        Col,
        Compare,
        Literal,
        OpaquePredicate,
    )

    t = _fixture(spark, sf_dir, "plain")
    pred = And(
        (
            Compare("le", Col("l_quantity"), Literal(25.0)),
            OpaquePredicate(
                "double_lt_30",
                (Col("l_quantity"),),
                fn=lambda cols: (cols[0] * 2) < 30,
            ),
        )
    )
    opaque = t.to_df(
        predicate=pred,
        columns=["l_orderkey", "l_quantity", "l_returnflag"],
    )
    like = _fixture(spark, sf_dir, "part").to_df(
        predicate="l_returnflag LIKE 'N%' AND l_quantity <= 30",
        columns=["l_orderkey", "l_quantity", "l_returnflag"],
    )
    return _arm(opaque, "opaque").unionByName(_arm(like, "like"))


register(
    "d14_delta_opaque_like_scan",
    d14_delta_opaque_predicate,
    """
    SELECT 'opaque' AS arm, l_orderkey, l_quantity, l_returnflag FROM lineitem
    WHERE l_orderkey % 4 <= 1 AND l_quantity <= 25 AND l_quantity * 2 < 30
    UNION ALL
    SELECT 'like', l_orderkey, l_quantity, l_returnflag FROM lineitem
    WHERE l_orderkey % 4 <= 1 AND l_returnflag LIKE 'N%' AND l_quantity <= 30
    """,
)

# ---------------------------------------------------------------------------
# d13 row tracking: dense unique row ids per commit (baseRowId + row_index)


def d13_delta_row_tracking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-id invariants per commit: ids are dense [0, N) chained across
    commits — v0 files own [0, nA), v1 files own [nA, nA+nB)."""
    t = _fixture(spark, sf_dir, "rt")
    df = t.to_df(with_row_ids=True)
    return df.groupBy("row_commit_version").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("row_id").alias("n_ids"),
        F.min("row_id").alias("min_id"),
        F.max("row_id").alias("max_id"),
    )


register(
    "d13_delta_row_tracking",
    d13_delta_row_tracking,
    """
    WITH a AS (SELECT count(*) n FROM lineitem WHERE l_orderkey % 4 = 0),
         b AS (SELECT count(*) n FROM lineitem WHERE l_orderkey % 4 = 1)
    SELECT CAST(0 AS BIGINT) AS row_commit_version, a.n AS n_rows, a.n AS n_ids,
           CAST(0 AS BIGINT) AS min_id, a.n - 1 AS max_id
    FROM a
    UNION ALL
    SELECT CAST(1 AS BIGINT), b.n, b.n, a.n, a.n + b.n - 1 FROM a, b
    """,
)

# ---------------------------------------------------------------------------
# d17 MERGE (upsert): matched rows updated, new keys inserted, rest kept


def d17_delta_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as _dt

    key = (sf_dir, "merge")
    if key not in _FIXTURES:
        path = f"{tempfile.mkdtemp(prefix='dkrs_merge_')}/tbl"
        src = _src(spark, sf_dir)
        t = DeltaTable.create(spark, path, df=_chunk(src, 4, 0))
        consts = [
            F.lit(0).cast("long").alias("l_partkey"),
            F.lit(-1.0).alias("l_quantity"),
            F.lit(0.0).alias("l_extendedprice"),
            F.lit(_dt.datetime(1995, 1, 1)).alias("l_shipdate"),
            F.lit("X").alias("l_returnflag"),
        ]
        updates = (
            _chunk(src, 8, 0).select("l_orderkey").distinct().select("l_orderkey", *consts)
        )
        inserts = (
            _chunk(src, 4, 2)
            .filter(F.col("l_orderkey") % 3 == 0)
            .select("l_orderkey")
            .distinct()
            .select("l_orderkey", *consts)
        )
        t.upsert(updates.unionByName(inserts), keys=["l_orderkey"])
        _FIXTURES[key] = path
    return DeltaTable(spark, _FIXTURES[key]).to_df()

# ---------------------------------------------------------------------------
# d18 multi-clause MERGE: WHEN MATCHED [AND cond] UPDATE / DELETE +
# WHEN NOT MATCHED [AND cond] INSERT, first-firing-clause-wins


def d18_delta_merge_multi_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-clause MERGE (reference building blocks
    kernel/src/transaction/update.rs): matched rows with l_quantity <= 25
    are updated (expression assignments over s/t), other matched rows are
    deleted, and qualifying unmatched source keys are inserted."""
    import datetime as _dt

    key = (sf_dir, "merge3")
    if key not in _FIXTURES:
        path = f"{tempfile.mkdtemp(prefix='dkrs_merge3_')}/tbl"
        src = _src(spark, sf_dir)
        t = DeltaTable.create(spark, path, df=_chunk(src, 4, 0))
        consts = [
            F.lit(0).cast("long").alias("l_partkey"),
            F.lit(-1.0).alias("l_quantity"),
            F.lit(0.0).alias("l_extendedprice"),
            F.lit(_dt.datetime(1995, 1, 1)).alias("l_shipdate"),
            F.lit("X").alias("l_returnflag"),
        ]
        matched_keys = _chunk(src, 8, 0).select("l_orderkey").distinct()
        insert_keys = (
            _chunk(src, 4, 2)
            .filter(F.col("l_orderkey") % 3 == 0)
            .select("l_orderkey")
            .distinct()
        )
        merge_src = matched_keys.unionByName(insert_keys).select("l_orderkey", *consts)
        t.merge(
            merge_src,
            on=["l_orderkey"],
            when_matched_update={
                "l_quantity": "t.l_quantity + 100",
                "l_returnflag": "'U'",
            },
            when_matched_update_condition="t.l_quantity <= 25",
            when_matched_delete=True,
            when_not_matched_insert="*",
            when_not_matched_insert_condition="s.l_orderkey % 5 = 0",
        )
        _FIXTURES[key] = path
    return DeltaTable(spark, _FIXTURES[key]).to_df()


def d17_delta_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both MERGE shapes (merged d17+d18): single-clause upsert arm +
    three-clause (conditional update / delete / conditional insert) arm."""
    upsert = d17_delta_merge_upsert(spark, sf_dir)
    multi = d18_delta_merge_multi_clause(spark, sf_dir)
    return _arm(upsert, "upsert").unionByName(_arm(multi, "multi"))


register(
    "d17_delta_merge",
    d17_delta_merge,
    f"""
    SELECT 'upsert' AS arm, {_COLS_SQL} FROM lineitem
    WHERE l_orderkey % 4 = 0 AND NOT (l_orderkey % 8 = 0)
    UNION ALL
    SELECT 'upsert', l_orderkey, CAST(0 AS BIGINT), CAST(-1.0 AS DOUBLE),
           CAST(0.0 AS DOUBLE), TIMESTAMP '1995-01-01 00:00:00', 'X'
    FROM lineitem WHERE l_orderkey % 8 = 0
    UNION ALL
    SELECT DISTINCT 'upsert', l_orderkey, CAST(0 AS BIGINT),
           CAST(-1.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
           TIMESTAMP '1995-01-01 00:00:00', 'X'
    FROM lineitem WHERE l_orderkey % 4 = 2 AND l_orderkey % 3 = 0
    UNION ALL
    SELECT 'multi', {_COLS_SQL} FROM lineitem
    WHERE l_orderkey % 4 = 0 AND NOT (l_orderkey % 8 = 0)
    UNION ALL
    SELECT 'multi', l_orderkey, l_partkey, l_quantity + 100, l_extendedprice,
           l_shipdate, 'U'
    FROM lineitem WHERE l_orderkey % 8 = 0 AND l_quantity <= 25
    UNION ALL
    SELECT DISTINCT 'multi', l_orderkey, CAST(0 AS BIGINT),
           CAST(-1.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
           TIMESTAMP '1995-01-01 00:00:00', 'X'
    FROM lineitem
    WHERE l_orderkey % 4 = 2 AND l_orderkey % 3 = 0 AND l_orderkey % 5 = 0
    """,
)

# ---------------------------------------------------------------------------
# d16 ScanJson: schema'd NDJSON read (the kernel's JsonHandler read shape)


def d16_scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ScanJson plan node (reference plans/ir/nodes.rs:187-210 +
    JsonHandler.read_json_files, lib.rs:661-729): declared-schema NDJSON
    read — missing fields resolve NULL, no inference. The fixture NDJSON is
    round-tripped from the events table (Spark writes shortest-roundtrip
    doubles, so values survive bit-exactly)."""
    key = (sf_dir, "json")
    if key not in _FIXTURES:
        path = f"{tempfile.mkdtemp(prefix='dkrs_json_')}/events_ndjson"
        (
            load_table(spark, sf_dir, "events")
            .select("event_id", "user_id", "event_type", "value")
            .write.mode("overwrite")
            .json(path)
        )
        _FIXTURES[key] = path
    return spark.read.schema(
        "event_id LONG, user_id LONG, event_type STRING, value DOUBLE,"
        " missing_col STRING"
    ).json(_FIXTURES[key])


register(
    "d16_scan_json",
    d16_scan_json,
    """
    SELECT event_id, user_id, event_type, value,
           CAST(NULL AS VARCHAR) AS missing_col
    FROM events
    """,
)

# ---------------------------------------------------------------------------
# d07 change data feed, three arms (merged d07+d12+d15):
#   rows    — row-level change feed incl. DV-swap diffing (cdc fixture)
#   net     — net_changes collapse of the same range to surviving rows
#             (_change_type/_commit_version NULL-padded)
#   lineage — CDF by row tracking: lineage-joined changes, no cdc files


def d07_delta_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_kernel_rs_spark.sources.cdf import (
        changes_by_row_tracking,
        net_changes,
    )

    from delta_kernel_rs_spark.operators.parallel import materialize_column

    cdf_t = _fixture(spark, sf_dir, "cdf")
    # r13 (guide §2.4 re-executed-subtree class): the rows and net arms
    # both consumed changes(0), so the whole change-feed subtree (four
    # kind arms of parquet reads + constants joins) EXECUTED TWICE — once
    # streamed through the rows projection, once into net_changes'
    # groupBy. One groupBy over the change frame now derives BOTH arms:
    # per (data-columns) key it collects the change events (the rows arm,
    # re-emitted verbatim by the explode) and the net winner — the same
    # max-by-(version, delete<insert<postimage) reduction net_changes
    # performs, with update_preimage rows excluded from the winner exactly
    # like net_changes' pre-filter (a key with only preimages yields a
    # NULL winner, which the != 'delete' predicate drops — identical to
    # the filtered-away group). The change subtree executes ONCE; the
    # extra shuffle carries each change row exactly once, the same bytes
    # net_changes' aggregation already exchanged.
    # Contract change: the rows arm now re-emits its data columns from the
    # grouping keys, so Spark's grouping normalization applies to them —
    # -0.0 comes back as 0.0 and every NaN as the canonical NaN. The
    # fixtures carry neither; a float fixture that does would need the
    # original values re-emitted from the collected structs instead.
    ch = cdf_t.changes(0)
    grouped = ch.groupBy(*COLS).agg(
        F.collect_list(F.struct("_change_type", "_commit_version")).alias("evs"),
        F.max(
            F.when(
                F.col("_change_type") != "update_preimage",
                F.struct(
                    F.col("_commit_version").alias("v"),
                    F.when(F.col("_change_type") == "update_postimage", 2)
                    .when(F.col("_change_type") == "insert", 1)
                    .otherwise(0)
                    .alias("r"),
                    F.col("_change_type").alias("ct"),
                ),
            )
        ).alias("w"),
    )
    entry_type = (
        "struct<arm:string,_change_type:string,_commit_version:bigint>"
    )
    rows_entries = F.transform(
        F.col("evs"),
        lambda e: F.struct(
            F.lit("rows").alias("arm"),
            e["_change_type"].alias("_change_type"),
            e["_commit_version"].alias("_commit_version"),
        ),
    )
    # zero-or-one net entry per key: filter's lambda may reference the
    # outer winner column; a NULL winner (all-preimage key) is not
    # != 'delete' and yields the empty array
    net_entries = F.filter(
        F.array(
            F.struct(
                F.lit("net").alias("arm"),
                F.lit(None).cast("string").alias("_change_type"),
                F.lit(None).cast("long").alias("_commit_version"),
            ).cast(entry_type)
        ),
        lambda _: F.col("w.ct") != "delete",
    )
    rows_net = (
        materialize_column(
            grouped, F.concat(rows_entries, net_entries), "__entries"
        )
        .select(*COLS, F.explode("__entries").alias("e"))
        .select(
            F.col("e.arm").alias("arm"),
            *COLS,
            F.col("e._change_type").alias("_change_type"),
            F.col("e._commit_version").alias("_commit_version"),
        )
    )
    rtc_t = _fixture(spark, sf_dir, "rtc")
    lineage = changes_by_row_tracking(spark, rtc_t.path, base_version=0)
    return rows_net.unionByName(_arm(lineage, "lineage"))


register(
    "d07_delta_cdf",
    d07_delta_cdf,
    f"""
    SELECT 'rows' AS arm, {_COLS_SQL}, 'insert' AS _change_type,
           CAST(0 AS BIGINT) AS _commit_version
    FROM lineitem WHERE l_orderkey % 8 = 3
    UNION ALL
    SELECT 'rows', {_COLS_SQL}, 'insert', CAST(1 AS BIGINT)
    FROM lineitem WHERE l_orderkey % 8 = 7
    UNION ALL
    SELECT 'rows', {_COLS_SQL}, 'delete', CAST(2 AS BIGINT)
    FROM lineitem WHERE l_orderkey % 8 IN (3, 7) AND l_orderkey % 3 = 0
    UNION ALL
    SELECT 'net', {_COLS_SQL}, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
    FROM lineitem
    WHERE l_orderkey % 8 IN (3, 7) AND NOT (l_orderkey % 3 = 0)
    UNION ALL
    SELECT 'lineage', {_COLS_SQL}, 'insert', CAST(2 AS BIGINT)
    FROM lineitem WHERE l_orderkey % 4 = 1 AND NOT (l_orderkey % 9 = 0)
    UNION ALL
    SELECT 'lineage', {_COLS_SQL}, 'delete', CAST(2 AS BIGINT)
    FROM lineitem WHERE l_orderkey % 4 = 0 AND l_orderkey % 9 = 0
    """,
)

# ---------------------------------------------------------------------------
# d19 column policies: identity + generated + default columns on write
# (reference metadata keys kernel/src/schema/mod.rs:253-320)


def d19_delta_column_policies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writer-owed columns: ``rid`` identity (start 1000, step 2) assigned
    gap-free, ``fee`` generated (``o_totalprice * 0.05``) computed when
    absent, ``status`` defaulted (``CURRENT_DEFAULT 'NEW'``) when absent
    and honored when provided. Writes are single-partition ordered by
    o_orderkey so the identity mapping is oracle-reconstructible."""
    from pyspark.sql import types as T

    key = (sf_dir, "colpol")
    if key not in _FIXTURES:
        path = f"{tempfile.mkdtemp(prefix='dkrs_colpol_')}/tbl"
        schema = T.StructType(
            [
                T.StructField(
                    "rid",
                    T.LongType(),
                    True,
                    {"delta.identity.start": 1000, "delta.identity.step": 2},
                ),
                T.StructField("o_orderkey", T.LongType()),
                T.StructField("o_totalprice", T.DoubleType()),
                T.StructField(
                    "fee",
                    T.DoubleType(),
                    True,
                    {"delta.generationExpression": "o_totalprice * 0.05"},
                ),
                T.StructField(
                    "status", T.StringType(), True, {"CURRENT_DEFAULT": "'NEW'"}
                ),
            ]
        )
        t = DeltaTable.create(spark, path, schema=schema)
        orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        b1 = orders.filter(F.col("o_orderkey") % 3 == 0).orderBy("o_orderkey").coalesce(1)
        t.append(b1)
        b2 = (
            orders.filter(F.col("o_orderkey") % 3 == 1)
            .withColumn("status", F.lit("X"))
            .orderBy("o_orderkey")
            .coalesce(1)
        )
        t.append(b2)
        _FIXTURES[key] = path
    return DeltaTable(spark, _FIXTURES[key]).to_df()


register(
    "d19_delta_column_policies",
    d19_delta_column_policies,
    """
    WITH b1 AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0
    ), b2 AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 1
    )
    SELECT CAST(1000 + 2 * (ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1) AS BIGINT) AS rid,
           o_orderkey, o_totalprice, o_totalprice * 0.05 AS fee, 'NEW' AS status
    FROM b1
    UNION ALL
    SELECT CAST(1000 + 2 * ((SELECT COUNT(*) FROM b1) + ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1) AS BIGINT),
           o_orderkey, o_totalprice, o_totalprice * 0.05, 'X'
    FROM b2
    """,
)

# ---------------------------------------------------------------------------
# d20 clustered table: delta.clustering domain + range-partitioned layout
# (reference kernel/src/clustering.rs)


def d20_delta_clustered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustered CREATE + append, then a predicate scan over the
    clustering column. Correctness: same rows as a plain filter; the
    clustered layout additionally makes the scan's file skipping prune
    (asserted in tests/test_clustering.py — the oracle can only see
    rows)."""
    key = (sf_dir, "clustered")
    if key not in _FIXTURES:
        path = f"{tempfile.mkdtemp(prefix='dkrs_clustered_')}/tbl"
        src = _src(spark, sf_dir)
        t = DeltaTable.create(
            spark, path, df=_chunk(src, 4, 0), cluster_by=["l_orderkey"]
        )
        t.append(_chunk(src, 4, 1))
        _FIXTURES[key] = path
    t = DeltaTable(spark, _FIXTURES[key])
    return t.snapshot().scan(predicate="l_quantity > 40").to_df()


def d20_delta_clustered_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout-optimized scans, two arms (merged d20+d23): clustered-table
    predicate scan + post-OPTIMIZE-ZORDER predicate scan. Correctness:
    same rows as plain filters; the pruning each layout buys is asserted
    in tests/test_clustering.py / test_maintenance.py."""
    clustered = d20_delta_clustered_scan(spark, sf_dir)
    zord = _fixture(spark, sf_dir, "zord").to_df(predicate="l_partkey <= 500")
    return _arm(clustered, "clustered").unionByName(_arm(zord, "zorder"))


register(
    "d20_delta_clustered_zorder_scan",
    d20_delta_clustered_zorder_scan,
    f"""
    SELECT 'clustered' AS arm, {_COLS_SQL} FROM lineitem
    WHERE l_orderkey % 4 IN (0, 1) AND l_quantity > 40
    UNION ALL
    SELECT 'zorder', {_COLS_SQL} FROM lineitem
    WHERE l_orderkey % 4 = 0 AND l_partkey <= 500
    """,
)

# ---------------------------------------------------------------------------
# d24 UPDATE: expression assignments over the pre-update row, targeted
# rewrite (reference building blocks kernel/src/transaction/update.rs)


def d24_delta_update_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted rewrites, two arms (merged d24+d25):
    update  — UPDATE ... SET l_returnflag='U', l_extendedprice*2 WHERE
              l_quantity <= 10 over a two-commit table; files with no
              matching row are never rewritten
    replace — overwrite_where(new_chunk WHERE q>40, 'l_quantity > 40'):
              the q>40 band swaps for new data, the q<=40 remainder of
              partially-matching files survives the rewrite"""
    upd = _fixture(spark, sf_dir, "upd").to_df()
    repl = _fixture(spark, sf_dir, "repl").to_df()
    return _arm(upd, "update").unionByName(_arm(repl, "replace"))


register(
    "d24_delta_update_replace",
    d24_delta_update_replace,
    f"""
    SELECT 'update' AS arm, l_orderkey, l_partkey, l_quantity,
           CASE WHEN l_quantity <= 10 THEN l_extendedprice * 2
                ELSE l_extendedprice END AS l_extendedprice,
           l_shipdate,
           CASE WHEN l_quantity <= 10 THEN 'U' ELSE l_returnflag END
               AS l_returnflag
    FROM lineitem WHERE l_orderkey % 4 <= 1
    UNION ALL
    SELECT 'replace', {_COLS_SQL} FROM lineitem
    WHERE l_orderkey % 4 = 0 AND l_quantity <= 40
    UNION ALL
    SELECT 'replace', {_COLS_SQL} FROM lineitem
    WHERE l_orderkey % 4 = 2 AND l_quantity > 40
    """,
)

# ---------------------------------------------------------------------------
# d26 CONVERT TO DELTA: adopt a partitioned parquet dir, then a pruned scan


def d26_delta_convert_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a plain hive-partitioned parquet dataset (no Delta anywhere),
    CONVERT it in place (footer-only stats, zero data rewrite —
    sources/convert.py), and read a partition- and stats-pruned slice
    through the kernel path."""
    from pyspark.sql import types as T

    key = (sf_dir, "conv")
    if key not in _FIXTURES:
        root = tempfile.mkdtemp(prefix="dkrs_conv_")
        src_dir = f"{root}/plain_parquet"
        src = _src(spark, sf_dir)
        (
            _chunk(src, 4, 0)
            .write.partitionBy("l_returnflag")
            .parquet(src_dir)
        )
        DeltaTable.convert(
            spark, src_dir, partition_by={"l_returnflag": T.StringType()}
        )
        _FIXTURES[key] = src_dir
    t = DeltaTable(spark, _FIXTURES[key])
    return t.to_df(predicate="l_returnflag = 'A' AND l_quantity <= 30").select(*COLS)


# ---------------------------------------------------------------------------
# d27 SHALLOW CLONE: zero-copy table read through the kernel path


def d27_delta_clone_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shallow-clone the two-commit 'plain' fixture (absolute-path adds,
    stats carried verbatim — sources/clone.py) and run a stats-pruned
    predicate scan on the CLONE."""
    key = (sf_dir, "clone")
    if key not in _FIXTURES:
        src = _fixture(spark, sf_dir, "plain")
        dest = f"{tempfile.mkdtemp(prefix='dkrs_clone_')}/tbl"
        src.shallow_clone(dest)
        _FIXTURES[key] = dest
    t = DeltaTable(spark, _FIXTURES[key])
    return t.to_df(predicate="l_quantity > 35")


def d26_delta_convert_clone_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived-table scans, two arms (merged d26+d27): CONVERT-TO-DELTA
    adoption of a plain hive-partitioned parquet dir + SHALLOW CLONE of
    the two-commit plain fixture, each read back with a pruned predicate."""
    conv = d26_delta_convert_scan(spark, sf_dir)
    clone = d27_delta_clone_scan(spark, sf_dir)
    return _arm(conv, "convert").unionByName(_arm(clone, "clone"))


register(
    "d26_delta_convert_clone_scan",
    d26_delta_convert_clone_scan,
    f"""
    SELECT 'convert' AS arm, {_COLS_SQL} FROM lineitem
    WHERE l_orderkey % 4 = 0 AND l_returnflag = 'A' AND l_quantity <= 30
    UNION ALL
    SELECT 'clone', {_COLS_SQL} FROM lineitem
    WHERE l_orderkey % 4 <= 1 AND l_quantity > 35
    """,
)

# ---------------------------------------------------------------------------
# d29 icebergCompatV2 (UniForm) table: enablement validation + column-
# mapped write with parquet field ids + CoW delete (DVs forbidden), read
# back through the kernel path (reference table_features/mod.rs:430-438
# requirement list; tests/integration/features/iceberg_compat.rs)


def d29_delta_iceberg_compat_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _fixture(spark, sf_dir, "iceberg")
    return t.to_df(predicate="l_quantity <= 45")


register(
    "d29_delta_iceberg_compat_scan",
    d29_delta_iceberg_compat_scan,
    f"""
    SELECT {_COLS_SQL} FROM lineitem
    WHERE l_orderkey % 4 <= 1 AND NOT (l_quantity > 48) AND l_quantity <= 45
    """,
)

# ---------------------------------------------------------------------------
# d28 generated-column partition pruning: predicate on the SOURCE column


def d28_delta_generated_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan a table partitioned on ``ship_year GENERATED AS
    YEAR(l_shipdate)`` with a predicate on ``l_shipdate`` only. The
    derived filter (plans/generated_pruning) prunes whole year
    partitions; the oracle recomputes the same rows (and the generated
    column) straight from the raw parquet."""
    t = _fixture(spark, sf_dir, "genpart")
    return t.to_df(
        predicate="l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'",
        columns=["l_orderkey", "l_quantity", "l_shipdate", "ship_year"],
    )


register(
    "d28_delta_generated_partition",
    d28_delta_generated_partition,
    """
    SELECT l_orderkey, l_quantity, l_shipdate,
           CAST(year(l_shipdate) AS INTEGER) AS ship_year
    FROM lineitem
    WHERE l_orderkey % 4 <= 1 AND l_shipdate >= TIMESTAMP '1996-01-01'
    """,
)
