"""Table scan: driver-side log replay → pruned scan rows → logical DataFrame.

Planning follows the reference kernel, which replays the log and prunes
files on a single node (kernel/src/log_replay/mod.rs:28-66,
kernel/src/scan/data_skipping.rs): ``pyreplay.live_files_arrow`` folds
the commit tail and the checkpoint into one Arrow table of live files on
the driver (~10 ms for a few hundred files), in the reference's scan-row
shape (kernel/src/scan/mod.rs:1410-1440). ``Scan`` plans every read from
that table, before any Spark plan exists:

* the one skipping evaluator (``plans/py_skipping.FileSkipEvaluator``)
  drops the files the predicate provably misses, partition pruning and
  stats skipping alike; tables with generation rules also prune on the
  derived partition predicate (``plans/generated_pruning``);
* the kept rows give the read its path list and DV descriptors with no
  collect, and ``scan_files_df()`` is a local relation over them;
* each read's per-file constants (partition values, row-id constants)
  come from :func:`with_file_constants`: literal columns when the read's
  files share one tuple, as the reference's per-file transform
  (kernel/src/scan/transform_spec.rs), else a broadcast join.

Deletion vectors apply as a per-file keep filter on the executors
(``Scan.live_rows``, the read the DML paths share). The DML paths look
up the metadata of the files they rewrite in the same Arrow table
(``Scan.file_rows``). A frame a caller hands in (``with_files_df``,
``exclude_file_keys``) is collected once, as Arrow, so there is one
planning path.

Every read of files the log names (data files, commits, checkpoint
parts, sidecars, change files) goes through :func:`read_named_files`,
which lists local paths on the driver instead of in Spark's
one-task-per-path listing job, so building ``to_df()`` over a local
table starts no Spark job at any file count. Remote stores keep
Spark's listing job.

One Arrow table is kept per (session, table, version) in a small driver
LRU, with a local DataFrame over it built on first use; nothing is
persisted. The Column helpers below (path decoding, DV identity,
checkpoint conforming) serve the Spark-side folds that remain: the
checkpoint writer, the change feed and the incremental refresh.
"""

from __future__ import annotations

import re
import threading
from collections import OrderedDict
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from delta_kernel_rs_spark.functions.partition_codec import parse_partition_column
from delta_kernel_rs_spark.functions.schema_codec import physical_name, quoted
from delta_kernel_rs_spark.sources.actions import DELETION_VECTOR_TYPE
from delta_kernel_rs_spark.sources.delta_paths import is_local_path
from delta_kernel_rs_spark.sources.pyreplay import _unq, live_files_arrow


#: persisted snapshot-derived frames (incremental merges, the row-lineage
#: change feed's common keys), one per stable key; small LRU —
#: evictees are unpersisted (see cached_files_frame).
_LIVE_ADDS_CACHE: "OrderedDict[tuple, DataFrame]" = OrderedDict()
# Frames are metadata-sized and persist MEMORY_AND_DISK (spill, not
# OOM, on million-file tables); an 8-entry cache thrashes on workloads
# that touch tens of tables per session — every query paid the persist
# without ever reusing it.
_LIVE_ADDS_CACHE_MAX = 64

#: live files per (session, table, version): [the Arrow scan rows, the
#: local DataFrame over them or None until first asked for, the skipping
#: evaluator's parsed stats] (see Scan._live_files)
_SCAN_FILES_CACHE: "OrderedDict[tuple, list]" = OrderedDict()
_SCAN_FILES_CACHE_MAX = 64

#: the scan-row schema of ``Scan.scan_files_df()``
SCAN_FILES_SCHEMA = T.StructType(
    [
        T.StructField("file_path", T.StringType()),
        T.StructField("size", T.LongType()),
        T.StructField("modification_time", T.LongType()),
        T.StructField("stats", T.StringType()),
        T.StructField("partition_values", T.MapType(T.StringType(), T.StringType())),
        T.StructField("deletion_vector", DELETION_VECTOR_TYPE),
        T.StructField("base_row_id", T.LongType()),
        T.StructField("default_row_commit_version", T.LongType()),
        T.StructField("commit_version", T.LongType()),
    ]
)


def cached_files_frame(key: tuple, builder) -> DataFrame:
    """Persist-and-reuse a metadata-sized frame under a stable LRU key.

    One code path for every immutable snapshot-derived frame that Spark
    computes (change-feed events, incremental merges): the first caller
    persists, later callers with the same key share the SAME persisted
    DataFrame object; evictees are unpersisted. Keys must pin everything
    the frame depends on (application, table, version range, checkpoint
    shape)."""
    df = _LIVE_ADDS_CACHE.get(key)
    if df is not None:
        _LIVE_ADDS_CACHE.move_to_end(key)
        return df
    df = builder().persist()
    _LIVE_ADDS_CACHE[key] = df
    while len(_LIVE_ADDS_CACHE) > _LIVE_ADDS_CACHE_MAX:
        _, old = _LIVE_ADDS_CACHE.popitem(last=False)
        try:
            old.unpersist()
        except Exception:  # session already stopped
            pass
    return df


#: a local file URI's scheme, as Spark and the log spell it
_FILE_SCHEME = r"^file:/+"


def absolute_file_paths(paths: pa.Array, table_path: str) -> pa.Array:
    """Log paths → plain absolute filesystem paths, in Arrow: the driver
    twin of :func:`resolve_add_path` (tolerant percent-decode, ``file:``
    scheme stripped, relative paths joined to the table root)."""
    paths = pc.cast(paths, pa.string())
    if pc.any(pc.match_substring(paths, "%")).as_py():
        paths = pa.array([p if p is None else _unq(p) for p in paths.to_pylist()], pa.string())
    root = pa.scalar(strip_file_scheme(table_path.rstrip("/")) + "/", pa.string())
    return pc.if_else(
        pc.match_substring(paths, "://"),
        pc.replace_substring_regex(paths, _FILE_SCHEME, "/"),
        pc.if_else(
            pc.starts_with(paths, "/"),
            paths,
            pc.binary_join_element_wise(root, paths, ""),
        ),
    )


def scan_rows_arrow(files: pa.Table, table_path: str) -> pa.Table:
    """``pyreplay.live_files_arrow`` output → the scan-row table of
    :data:`SCAN_FILES_SCHEMA` (absolute ``file_path``)."""
    col = lambda name: files.column(name).combine_chunks()  # noqa: E731
    return pa.Table.from_arrays(
        [
            absolute_file_paths(col("path"), table_path),
            col("size"),
            col("modification_time"),
            col("stats"),
            col("partition_values"),
            col("dv"),
            col("base_row_id"),
            col("default_row_commit_version"),
            col("commit_version"),
        ],
        names=SCAN_FILES_SCHEMA.fieldNames(),
    )


def dv_unique_id(dv_col: Column) -> Column:
    """Unique id of a deletion vector (reference FileActionKey dv part:
    kernel/src/log_replay/mod.rs:28-56 — storageType+path+offset)."""
    return F.when(
        dv_col.isNull() | dv_col.getField("storageType").isNull(),
        F.lit(""),
    ).otherwise(
        F.concat_ws(
            "\x00",
            dv_col.getField("storageType"),
            dv_col.getField("pathOrInlineDv"),
            F.coalesce(dv_col.getField("offset").cast("string"), F.lit("")),
        )
    )


def _strip_scheme(col: Column) -> Column:
    return F.regexp_replace(col, _FILE_SCHEME, "/")


def _tolerant_url_decode(col: Column) -> Column:
    """``F.url_decode`` with python-``urllib.parse.unquote`` semantics.

    Foreign writers ship paths with a raw ``%`` that is not a valid escape
    (``cat=100%/part.parquet``); Spark's ``url_decode`` THROWS
    CANNOT_DECODE_URL on those and one malformed path would kill the whole
    replay, while the pure-Python twin (pyreplay ``unquote``) decodes the
    valid escapes and passes invalid ones through. Match the twin (and
    python) exactly: re-escape any ``%`` not followed by two hex digits to
    ``%25`` (decodes back to the literal), protect literal ``+`` (FORM
    decoding maps it to space), then decode. Found by
    tests/test_foreign_log_fuzz.py.

    ``%``-free strings (the overwhelmingly common case — ASCII paths with
    no encoded characters) decode to themselves, so they skip the
    lookahead regex + url_decode entirely behind a cheap ``contains``
    branch; codegen short-circuits the unmatched arm per row."""
    esc = F.regexp_replace(col, r"%(?![0-9A-Fa-f]{2})", "%25")
    decoded = F.url_decode(F.replace(esc, F.lit("+"), F.lit("%2B")))
    return F.when(col.contains("%"), decoded).otherwise(col)


def normalize_file_path(col: Column) -> Column:
    """``_metadata.file_path`` → plain absolute filesystem path.

    Spark reports ``_metadata.file_path`` as a percent-ENCODED ``file:``
    URI (a directory literally named ``part=a b%3Ac`` surfaces as
    ``part=a%20b%253Ac``), while log-derived paths are plain filesystem
    strings — so the URI must be decoded before the join or every
    special-character path silently loses its partition constants / DV
    match (caught by the golden tables ``kernel-timestamp-*`` and
    ``data-reader-escaped-chars``). Literal '+' is protected first:
    ``F.url_decode`` is FORM decoding ('+' → space)."""
    return _strip_scheme(_tolerant_url_decode(col))


def plain_file_path(uri: str) -> str:
    """Spark's percent-encoded ``_metadata.file_path`` URI → the plain
    absolute path the log resolves to: the per-value twin of
    :func:`normalize_file_path`, for code that holds one path at a time
    (the DV keep filter on the executors, driver-side collects)."""
    return strip_file_scheme(_unq(uri))


def strip_file_scheme(path: str) -> str:
    """A local ``file:`` URI → its plain path; other paths as they are."""
    return re.sub(_FILE_SCHEME, "/", path)


#: Spark lists more than this many explicit paths with a Spark job of one
#: task per path; at or below it, on the driver
_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
#: guards ``_listing_raised``: session → [readers building now, prior value]
_LISTING_LOCK = threading.Lock()
_listing_raised: "dict[object, list]" = {}


def read_named_files(
    spark, paths, *, fmt: str = "parquet", schema=None, **options
) -> DataFrame:
    """A relation over files the log names; local files are listed on
    the driver.

    The log already names every file, so the store's listing is a
    formality (the reference kernel hands its engine each file's
    location straight from the log). Spark's reader still lists each
    path; past ``parallelPartitionDiscovery.threshold`` (32) paths it
    launches a listing job with one task per path. For local files
    (no scheme, or ``file:``) that job costs more than the driver's own
    one-path-at-a-time listing at every measured size (relation build on
    a 4-vCPU host, 179 files: 1.09 vs 0.07 s; 20k: 45.6 vs 3.9 s; 100k:
    63 vs 20 s), so the threshold is held at its maximum while the
    relation is built. Remote stores are left on Spark's listing job:
    there each path is a round trip, and the driver would pay them one
    after another where the job spreads them over executors (not
    measured).

    The threshold is raised per session by the first concurrent reader
    and restored, set or unset, by the last; the relations themselves
    build outside the lock, in parallel. Other threads planning in the
    same session meanwhile see the raised value too, so a directory read
    they start then also lists on the driver. The listing runs when the
    relation is built, never when it executes; a missing file fails
    here with ``PATH_NOT_FOUND``.

    ``fmt`` is ``"parquet"`` or ``"json"``; a JSON read should pass a
    ``schema``, or inferring one starts a job. ``options`` go to the
    reader as-is. The path list crosses to the JVM as one NUL-joined
    string, split there: py4j would otherwise make one call per path.
    """
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    for key, value in options.items():
        reader = reader.option(key, value)
    paths = list(paths)
    if not all(is_local_path(p) for p in paths):
        return _load(reader, paths)
    with _LISTING_LOCK:
        held = _listing_raised.get(spark)
        if held is None:
            prior = spark.conf.get(_LISTING_THRESHOLD, None)
            spark.conf.set(_LISTING_THRESHOLD, str(2**31 - 1))
            held = _listing_raised[spark] = [0, prior]
        held[0] += 1
    try:
        return _load(reader, paths)
    finally:
        with _LISTING_LOCK:
            held[0] -= 1
            if held[0] == 0:
                del _listing_raised[spark]
                if held[1] is None:
                    spark.conf.unset(_LISTING_THRESHOLD)
                else:
                    spark.conf.set(_LISTING_THRESHOLD, held[1])


def _load(reader, paths: list[str]) -> DataFrame:
    """``reader.load(paths)`` with the list passed to the JVM in one
    string: a path never contains NUL."""
    if len(paths) < 2:
        return reader.load(paths)
    jvm = reader._spark._sc._jvm
    jpaths = jvm.java.util.regex.Pattern.compile("\x00").split("\x00".join(paths))
    return reader._df(reader._jreader.load(jpaths))


def canonical_log_path(col: Column) -> Column:
    """Percent-DECODED log path — the FILE-IDENTITY key for replay dedup.

    Writers legitimately differ in how much they percent-encode add/remove
    paths (this engine quotes ``=`` in partition directories, delta-spark
    leaves it raw), and the protocol keys file actions by the FILE, not the
    spelling: a remove must shadow the add it targets even when the two
    commits encoded the path differently. Keying on the raw string let a
    RESTORE's removes (written with a different spelling than the
    checkpointed adds) silently resurrect deleted rows on every partitioned
    table — found by tests/test_history_fuzz.py, seed 20260815, op trace
    ``checkpoint → restore``. Decoding is TOLERANT of malformed escapes
    (see :func:`_tolerant_url_decode`) so one foreign-written path can
    never kill a replay."""
    return _tolerant_url_decode(col)


def absolutize_decoded_path(col: Column, table_path: str) -> Column:
    """ALREADY-DECODED relative path → absolute path, in-plan. Absolute
    inputs (URI or '/'-rooted) pass through undecorated with the table
    root."""
    return (
        F.when(col.contains("://"), _strip_scheme(col))
        .when(col.startswith("/"), col)
        .otherwise(F.concat(F.lit(strip_file_scheme(table_path.rstrip("/")) + "/"), col))
    )


def resolve_add_path(col: Column, table_path: str) -> Column:
    """Log-relative add/remove/cdc path → absolute path, in-plan.

    Delta log paths are RFC-2396 percent-encoded; ``F.url_decode`` is
    FORM decoding ('+' → space — a literal '+' in a partition value would
    mangle), so literal '+' is protected before decoding (see
    :func:`canonical_log_path`). Shared by the scan, CDF, and incremental
    replays."""
    return absolutize_decoded_path(canonical_log_path(col), table_path)


def _conform_struct(src_type: T.DataType, prefix: str, target: T.StructType) -> Column:
    """Rebuild a struct column to ``target``'s field set: fields the
    source lacks become typed NULLs, struct-typed fields recurse.

    Checkpoints written by OLDER writers carry narrower action structs
    (e.g. an ``add`` without ``clusteringProvider`` or ``baseRowId``);
    the replay unions them with JSON commits parsed at the full canonical
    schema, so the parquet side must be widened first (caught by the
    golden table ``dv-partitioned-with-checkpoint``)."""
    have = (
        {f.name: f.dataType for f in src_type.fields}
        if isinstance(src_type, T.StructType)
        else {}
    )
    cols = []
    for f in target.fields:
        if f.name in have:
            if isinstance(f.dataType, T.StructType):
                cols.append(
                    _conform_struct(
                        have[f.name], f"{prefix}.{f.name}", f.dataType
                    ).alias(f.name)
                )
            else:
                cols.append(F.col(f"{prefix}.{f.name}").cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return F.when(F.col(prefix).isNotNull(), F.struct(*cols))


def resolved_checkpoint_df(spark, seg) -> DataFrame:
    """Checkpoint-parts DataFrame with V2 sidecars resolved and file
    actions conformed to the canonical action schemas.

    V2 checkpoints store file actions in sidecar parquet files (reference
    kernel/src/checkpoint + log_segment/mod.rs:51-83); the top-level file
    then only carries metadata actions — readers must follow the sidecar
    pointers. Shared by the scan and the checkpoint writer's replay.
    """
    from delta_kernel_rs_spark.sources.actions import (
        ACTIONS_SCHEMA,
        ADD_TYPE,
        REMOVE_TYPE,
    )

    def _resolve_sidecar(p: str) -> str:
        return p if "://" in p or p.startswith("/") else f"{seg.log_dir}/_sidecars/{p}"

    # `_last_checkpoint` hint fast path (reference checkpoint_shape.rs:113-135
    # from_v2_checkpoint_hint): a hint that describes the selected checkpoint
    # and carries a non-empty sidecar list names every file-action source —
    # skip reading the top-level V2 file entirely. An EMPTY list is a
    # definitive inline leaf (the writer emits empty only for a leaf and
    # trims an oversized manifest to ABSENT, never to empty), so the
    # sidecar-column probe below is skipped; absence means info missing.
    # Sidecar parquet schemas may be HETEROGENEOUS: the protocol lets a
    # writer put any action-kind mix in each sidecar (a remove-only
    # sidecar is legal), and without mergeSchema Spark infers the schema
    # from one sampled file — whichever uuid-named sidecar sorts first —
    # silently dropping the `add` column when a remove-only file wins
    # (order-dependent: caught by the foreign-checkpoint fuzz only when
    # the uuid ordering happened to expose it). Merge like the multipart
    # branch in checkpoint_top_df already does.
    def _read_sidecars(paths: list[str]) -> DataFrame:
        if len(paths) > 1:
            return read_named_files(spark, paths, mergeSchema="true")
        return read_named_files(spark, paths)

    hint_sidecars = seg.hint_sidecar_files() if hasattr(seg, "hint_sidecar_files") else None
    if hint_sidecars:
        ckpt = _read_sidecars([_resolve_sidecar(s["path"]) for s in hint_sidecars])
        return _conform_checkpoint_file_actions(ckpt, ADD_TYPE, REMOVE_TYPE)

    ckpt = checkpoint_top_df(spark, seg)
    if "sidecar" in ckpt.columns and hint_sidecars is None:
        sidecars = [
            r.path
            for r in ckpt.filter(F.col("sidecar.path").isNotNull())
            .select(F.col("sidecar.path").alias("path"))
            .collect()
        ]
        if sidecars:
            ckpt = _read_sidecars([_resolve_sidecar(p) for p in sidecars])
    return _conform_checkpoint_file_actions(ckpt, ADD_TYPE, REMOVE_TYPE)


def checkpoint_top_df(spark, seg) -> DataFrame:
    """TOP-LEVEL checkpoint rows, flavor-aware, WITHOUT sidecar resolution.

    The right frame for non-file actions (txn / domainMetadata / protocol /
    metaData): V2 keeps them in the top while sidecars carry file actions
    only. JSON-flavored V2 tops (protocol spec; reference log_path.rs) are
    NDJSON at the full action schema; multipart parquet checkpoints may
    hold ONE action kind per part (reference parquet_row_group_skipping
    fixture: disjoint columns), so part schemas merge. Shared by the scan
    resolution and every non-file-action fold — the round-12 foreign-
    checkpoint fuzz caught two folds reading tops with a bare
    ``spark.read.parquet``, which crashes on the json flavor.
    """
    from delta_kernel_rs_spark.sources.actions import ACTIONS_SCHEMA

    parts = list(seg.checkpoint_parts)
    if all(p.endswith(".json") for p in parts):
        return read_named_files(
            spark, parts, fmt="json", schema=ACTIONS_SCHEMA, mode="FAILFAST"
        )
    if len(parts) > 1:
        return read_named_files(spark, parts, mergeSchema="true")
    return read_named_files(spark, parts)


def _conform_checkpoint_file_actions(ckpt: DataFrame, add_type, remove_type) -> DataFrame:
    by_name = {f.name: f.dataType for f in ckpt.schema.fields}
    add_t = by_name.get("add")
    if isinstance(add_t, T.StructType) and "stats_parsed" in add_t.fieldNames():
        # writeStatsAsStruct checkpoints (delta-spark; our writer with the
        # policy on) may carry typed stats with the JSON document nulled
        # (writeStatsAsJson=false) — re-derive the document so data
        # skipping keeps working. to_json drops null fields, matching the
        # sparse stats contract.
        json_stats = (
            F.coalesce(F.col("add.stats"), F.to_json(F.col("add.stats_parsed")))
            if "stats" in add_t.fieldNames()
            else F.to_json(F.col("add.stats_parsed"))
        )
        ckpt = ckpt.withColumn("add", F.col("add").withField("stats", json_stats))
        by_name = {f.name: f.dataType for f in ckpt.schema.fields}
    for col_name, target in (("add", add_type), ("remove", remove_type)):
        if col_name not in by_name:
            # a single one-kind sidecar (e.g. remove-only) yields a frame
            # with the other action column ABSENT — conform it to a typed
            # NULL column so resolved checkpoint frames always expose both
            # (ADVICE r12: the reference avoids schema variance by reading
            # sidecars with an explicit action schema; consumers should
            # not need an `if "add" in columns` guard)
            ckpt = ckpt.withColumn(col_name, F.lit(None).cast(target))
        elif (
            not isinstance(by_name[col_name], T.StructType)
            or {f.name for f in by_name[col_name].fields}
            != {f.name for f in target.fields}
        ):
            ckpt = ckpt.withColumn(
                col_name, _conform_struct(by_name[col_name], col_name, target)
            )
    return ckpt


def _scan_rows_frame(spark, rows: pa.Table) -> DataFrame:
    """A local DataFrame (:data:`SCAN_FILES_SCHEMA`) over scan rows. An
    empty filter result has columns of no chunks, which
    ``createDataFrame`` rejects, so no rows take the empty-list path."""
    return spark.createDataFrame(rows if rows.num_rows else [], SCAN_FILES_SCHEMA)


def dv_descriptors(rows: pa.Table) -> dict[str, dict]:
    """``file_path`` → DV descriptor (storage type, path or inline bitmap,
    offset) for the scan rows that carry a deletion vector: what the DV
    keep filter and the DV delete ship to executors, undecoded."""
    dvs = rows.column("deletion_vector")
    with_dv = rows.filter(pc.is_valid(pc.struct_field(dvs, "storageType")))
    return {
        r["file_path"]: {k: r["deletion_vector"][k] for k in ("storageType", "pathOrInlineDv", "offset")}
        for r in with_dv.select(["file_path", "deletion_vector"]).to_pylist()
    }


def _dv_key(dv: dict | None) -> str:
    """Per-value twin of :func:`dv_unique_id`."""
    if not dv or dv.get("storageType") is None:
        return ""
    off = dv.get("offset")
    return "\x00".join([dv["storageType"], dv["pathOrInlineDv"], "" if off is None else str(off)])


def _all_equal(col: pa.ChunkedArray) -> bool:
    """True when every entry of ``col`` equals its first (nulls equal)."""
    col = col.combine_chunks()
    if not pa.types.is_map(col.type):
        return pc.count_distinct(col, mode="all").as_py() == 1
    if col.null_count:
        return col.null_count == len(col)
    offsets = col.offsets.to_numpy()
    lens = np.diff(offsets)
    if (lens != lens[0]).any():
        return False
    n, start, end = int(lens[0]), int(offsets[0]), int(offsets[-1])
    tiled = np.tile(np.arange(n), len(col))
    return all(
        a.equals(pc.take(a.slice(0, n), tiled))
        for a in (col.keys.slice(start, end - start), col.items.slice(start, end - start))
    )


def _literal(value, dtype: T.DataType) -> Column:
    if isinstance(dtype, T.MapType) and value is not None:
        return F.create_map(*[F.lit(x) for kv in value for x in kv]).cast(dtype)
    return F.lit(value).cast(dtype)


def file_constant_literals(rows: pa.Table, cols: dict[str, str]) -> dict[str, Column] | None:
    """Literal columns (output name → Column) for the constants ``cols``
    names (source column of ``rows`` → output name) when every file of
    ``rows`` shares one constants tuple and is listed once, else None:
    the reference hands its engine each file's constants as a literal
    transform (kernel/src/scan/transform_spec.rs), so no join, and no
    broadcast job, is needed."""
    from pyspark.sql.pandas.types import from_arrow_type

    consts = rows.select(list(cols))
    if not (
        rows.num_rows
        and pc.count_distinct(rows.column("file_path")).as_py() == rows.num_rows
        and all(_all_equal(c) for c in consts.columns)
    ):
        return None
    first = consts.slice(0, 1).to_pylist()[0]
    return {
        alias: _literal(first[c], from_arrow_type(consts.schema.field(c).type))
        for c, alias in cols.items()
    }


def with_file_constants(df: DataFrame, rows: pa.Table, cols: dict[str, str], frame=None) -> DataFrame:
    """The data rows of ``df`` (a read of the files in ``rows``) with
    their file's constants: :func:`file_constant_literals` when the files
    share one tuple, else a join on the decoded path (``__file_path``,
    added here when ``df`` lacks it; a union must carry it, as
    ``_metadata`` does not cross one) from a local relation over
    ``rows`` or from ``frame()``, a zero-argument callable returning a
    frame with the same rows. The relation is broadcast up to 100k files.
    A path listed twice (a change-feed file with events at two versions)
    yields its rows once per entry.
    """
    literals = file_constant_literals(rows, cols)
    if literals is not None:
        return df.withColumns(literals)
    if "__file_path" not in df.columns:
        df = df.withColumn("__file_path", normalize_file_path(F.col("_metadata.file_path")))
    if frame is None:
        src = df.sparkSession.createDataFrame(rows.select(["file_path", *cols]))
    else:
        src = frame()
    const_df = src.select(
        F.col("file_path").alias("__const_path"),
        *[F.col(c).alias(a) for c, a in cols.items()],
    )
    # broadcast only when the file count is known small; beyond that let
    # AQE pick the join strategy
    if rows.num_rows <= 100_000:
        const_df = F.broadcast(const_df)
    return df.join(const_df, df["__file_path"] == F.col("__const_path"), "left")


@dataclass
class ScanFile:
    """One live data file (driver-side handle)."""

    path: str  # absolute (no scheme for local)
    size: int
    partition_values: dict
    dv: dict | None
    base_row_id: int | None
    commit_version: int
    default_row_commit_version: int | None = None


class Scan:
    """A configured read of a snapshot (reference kernel/src/scan/mod.rs)."""

    def __init__(
        self,
        snapshot,
        predicate=None,
        columns: list[str] | None = None,
        with_row_ids: bool = False,
    ):
        self.snapshot = snapshot
        self.spark = snapshot.spark
        self.predicate = predicate
        self.columns = columns
        self.with_row_ids = with_row_ids
        self._files_df_override: DataFrame | None = None
        self._exclude_keys_df: DataFrame | None = None
        self._planned: tuple[pa.Table, bool] | None = None
        # String predicates are parsed into the typed AST so the default
        # API gets file skipping + partition pruning too (reference
        # workloads/src/predicate_parser.rs); outside the grammar the
        # string stays a residual row filter only.
        self._parsed_predicate = None
        if isinstance(predicate, str):
            from delta_kernel_rs_spark.plans.sql_parser import (
                try_parse_sql_predicate,
            )

            self._parsed_predicate = try_parse_sql_predicate(
                predicate, snapshot.schema
            )

    # ------------------------------------------------------------------
    # Scan rows: the version's Arrow table, pruned on the driver
    # ------------------------------------------------------------------
    def _live_entry(self) -> list:
        seg = self.snapshot.log_segment
        key = (
            self.spark.sparkContext.applicationId,
            self.snapshot.table_path,
            self.snapshot.version,
            seg.checkpoint_version,
            len(seg.commit_files),
        )
        hit = _SCAN_FILES_CACHE.get(key)
        if hit is not None:
            _SCAN_FILES_CACHE.move_to_end(key)
            return hit
        rows = scan_rows_arrow(
            live_files_arrow(self.snapshot.storage, seg), self.snapshot.table_path
        )
        hit = _SCAN_FILES_CACHE[key] = [rows, None, {}]
        while len(_SCAN_FILES_CACHE) > _SCAN_FILES_CACHE_MAX:
            _SCAN_FILES_CACHE.popitem(last=False)
        return hit

    def _live_files(self) -> pa.Table:
        """The snapshot's scan-row Arrow table, from the driver LRU: the
        replay result for one snapshot is immutable, so every scan of
        that snapshot shares it."""
        return self._live_entry()[0]

    def _version_frame(self) -> DataFrame:
        """A local DataFrame over :meth:`_live_files`, built on first use
        and kept with it. Catalyst evaluates filters and projections over
        a local relation on the driver, so nothing needs persisting."""
        entry = self._live_entry()
        if entry[1] is None:
            entry[1] = _scan_rows_frame(self.spark, entry[0])
        return entry[1]

    def file_rows(self, paths) -> pa.Table:
        """The scan rows (:data:`SCAN_FILES_SCHEMA`) of the live files at
        ``paths`` (absolute, as ``file_path`` spells them), taken from the
        snapshot's driver-side Arrow table: a metadata lookup that starts
        no Spark job. The caller names the files, so no skipping
        predicate applies."""
        rows = self._live_files()
        wanted = pa.array(list(paths), pa.string())
        return rows.filter(pc.is_in(rows.column("file_path"), value_set=wanted))

    def _source_rows(self) -> pa.Table:
        """The scan rows before skipping: a ``with_files_df`` frame
        collected once, or the version's table; minus excluded keys."""
        if self._files_df_override is not None:
            rows = self._files_df_override.toArrow().select(SCAN_FILES_SCHEMA.fieldNames())
        else:
            rows = self._live_files()
        if self._exclude_keys_df is not None and rows.num_rows:
            keys = self._exclude_keys_df.select("x_path", "x_dv", "x_brid").toArrow()
            drop = set(zip(*(keys.column(c).to_pylist() for c in ("x_path", "x_dv", "x_brid"))))
            brids = rows.column("base_row_id").to_pylist()
            rows = rows.filter(
                pa.array(
                    [
                        (p, _dv_key(dv), -1 if b is None else b) not in drop
                        for p, dv, b in zip(
                            rows.column("file_path").to_pylist(),
                            rows.column("deletion_vector").to_pylist(),
                            brids,
                        )
                    ],
                    pa.bool_(),
                )
            )
        return rows

    def _keep_mask(self, rows: pa.Table, whole: bool):
        """Keep mask over the scan rows (a list of bools or an Arrow
        array), or None when the predicate cannot prune: partition
        pruning + stats skipping (plans/py_skipping), AND generated-column
        pruning (plans/generated_pruning) on tables with generation
        rules. ``whole``: ``rows`` are the version's cached table, whose
        parsed stats the evaluator may keep."""
        from delta_kernel_rs_spark.plans.expressions import Predicate, normalize
        from delta_kernel_rs_spark.plans.generated_pruning import (
            derived_partition_filter,
            generation_rules,
        )
        from delta_kernel_rs_spark.plans.py_predicate import (
            UnsupportedPredicate,
            coerce_literals,
        )
        from delta_kernel_rs_spark.plans.py_skipping import FileSkipEvaluator

        pred = self._parsed_predicate if self._parsed_predicate is not None else self.predicate
        if not isinstance(pred, Predicate):
            return None  # a raw string outside the grammar, a Spark Column
        snap = self.snapshot
        pcols = snap.metadata.partition_columns
        keep = None
        try:
            typed = normalize(coerce_literals(pred, snap.schema))
        except UnsupportedPredicate:
            typed = None  # a literal fits no column type: no stats verdict
        if typed is not None:
            ev = FileSkipEvaluator(
                snap.schema,
                pcols,
                snap.metadata.configuration,
                # clustering columns always carry stats (protocol MUST) —
                # skip on them even when the table's stats config excludes them
                tuple(
                    c["logical"][0]
                    for c in snap.clustering_columns()
                    if c.get("logical") and len(c["logical"]) == 1
                ),
            )
            keep = ev.keep(typed, rows, self._live_entry()[2] if whole else None)
        if generation_rules(snap.schema, pcols):
            # A predicate on the SOURCE of a generated partition column
            # implies one on the partition value, evaluated by Spark's own
            # functions over a local relation (no Spark job).
            derived = derived_partition_filter(pred, snap.schema, pcols)
            if derived is not None:
                index = np.arange(rows.num_rows)
                pv = self.spark.createDataFrame(
                    pa.table({"__i": index, "partition_values": rows.column("partition_values")})
                )
                hit = pv.filter(derived).select("__i").toArrow().column("__i")
                implied = pc.is_in(pa.array(index), value_set=hit)
                keep = implied if keep is None else pc.and_(pa.array(keep, pa.bool_()), implied)
        return keep

    def _plan(self) -> tuple[pa.Table, bool]:
        """(kept scan rows, whether they are the version's whole table)."""
        if self._planned is None:
            rows = self._source_rows()
            whole = self._files_df_override is None and self._exclude_keys_df is None
            keep = self._keep_mask(rows, whole) if rows.num_rows else None
            if keep is not None:
                keep = pa.array(keep, pa.bool_())
                if not pc.all(keep).as_py():
                    rows, whole = rows.filter(keep), False
            self._planned = (rows, whole)
        return self._planned

    def kept_rows(self) -> pa.Table:
        """The scan rows (:data:`SCAN_FILES_SCHEMA`) of the files the
        predicate may match, pruned on the driver: no Spark job."""
        return self._plan()[0]

    def scan_files_df(self) -> DataFrame:
        """One row per kept live file: absolute path + file-constant
        columns (:data:`SCAN_FILES_SCHEMA`), as a local relation over
        :meth:`kept_rows`.

        This is the reference's scan-row schema (kernel/src/scan/
        mod.rs:1410-1440): path, size, modificationTime, stats, DV,
        file constants.
        """
        rows, whole = self._plan()
        if whole:
            return self._version_frame()
        return _scan_rows_frame(self.spark, rows)

    def exclude_file_keys(self, keys_df: DataFrame) -> "Scan":
        """Exclude files whose (path, DV identity, baseRowId) key appears
        in ``keys_df`` (columns ``x_path``/``x_dv``/``x_brid``), collected
        once when the scan plans (CDF-by-row-tracking drops files
        byte-identical in both compared snapshots this way)."""
        self._exclude_keys_df = keys_df
        self._planned = None
        return self

    def file_keys_df(self) -> DataFrame:
        """(path, DV identity, baseRowId) key frame for this scan's live
        files — the join key CDF-by-row-tracking intersects on."""
        sf = self.scan_files_df()
        return sf.select(
            F.col("file_path").alias("x_path"),
            dv_unique_id(F.col("deletion_vector")).alias("x_dv"),
            F.coalesce(F.col("base_row_id"), F.lit(-1)).alias("x_brid"),
        )

    def files(self) -> list[ScanFile]:
        """The kept live files as driver-side handles."""
        rows = self.kept_rows().drop_columns(["stats", "modification_time"])
        return [
            ScanFile(
                path=r["file_path"],
                size=r["size"],
                partition_values=dict(r["partition_values"] or {}),
                dv=r["deletion_vector"],
                base_row_id=r["base_row_id"],
                commit_version=r["commit_version"],
                default_row_commit_version=r["default_row_commit_version"],
            )
            for r in rows.to_pylist()
        ]

    def with_files_df(self, files_df: DataFrame) -> "Scan":
        """Plan this scan off a caller-supplied scan-files frame instead of
        log replay.

        Used by the incremental refresh path (``scan_metadata_from``,
        reference kernel/src/scan/mod.rs:880-1024): the merged
        prior+diff frame is collected once, as Arrow, when the scan
        plans, and the scan's skipping predicate and exclusion keys apply
        on top."""
        self._files_df_override = files_df
        self._planned = None
        return self

    # ------------------------------------------------------------------
    # Physical → logical
    # ------------------------------------------------------------------
    def _needs_widening_read(self) -> bool:
        """True when the table's feature set allows per-file type
        upcasts Spark's parquet readers cannot perform directly
        (e.g. byte → decimal(4,1))."""
        proto = self.snapshot.protocol
        feats = set(proto.writer_features or []) | set(proto.reader_features or [])
        return bool(feats & {"typeWidening", "typeWidening-preview"})

    def _read_with_widening(self, spark, paths, phys_schema) -> DataFrame:
        """typeWidening read path: files written before a widen keep their
        NARROW physical types, and neither Spark parquet reader converts
        every legal widen (byte→decimal fails both). So read per schema
        EPOCH: executor tasks fingerprint each footer's arrow schema
        (mapInPandas — never a driver footer loop), the driver reads ONE
        sample footer per distinct fingerprint (O(schema epochs), bounded
        by the table's evolution history, not its file count), and each
        epoch is read with its own physical schema then CAST to the
        logical one — unionByName keeps the plan a single scan per epoch.
        """
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        def fingerprint(batches):
            import pandas as pd
            import pyarrow.parquet as _pq

            for pdf in batches:
                fps = [
                    str(_pq.ParquetFile(p).schema_arrow)
                    for p in pdf["path"]
                ]
                yield pd.DataFrame({"path": pdf["path"], "fp": fps})

        pf = spark.createDataFrame(
            [(p,) for p in paths], "path string"
        ).repartition(max(1, min(len(paths) // 64, 256)))
        rows = pf.mapInPandas(fingerprint, "path string, fp string").collect()
        groups: dict[str, list[str]] = {}
        for r in rows:
            groups.setdefault(r.fp, []).append(r.path)

        target = {f.name: f for f in phys_schema.fields}
        arms = []
        for fp, group_paths in sorted(groups.items()):
            file_schema = from_arrow_schema(
                pq.ParquetFile(group_paths[0]).schema_arrow
            )
            file_types = {f.name: f.dataType for f in file_schema.fields}
            read_fields = [
                T.StructField(
                    f.name, file_types.get(f.name, f.dataType), True, f.metadata
                )
                for f in phys_schema.fields
            ]
            arm = read_named_files(spark, group_paths, schema=T.StructType(read_fields))
            arm = arm.select(
                *[
                    F.col(quoted(f.name)).cast(target[f.name].dataType).alias(f.name)
                    for f in phys_schema.fields
                ],
                F.col("_metadata").alias("_metadata"),
            )
            arms.append(arm)
        out = arms[0]
        for arm in arms[1:]:
            out = out.unionByName(arm)
        return out

    def _physical_read_schema(self) -> T.StructType:
        """Read schema with column-mapping physical names, partition
        columns excluded (they live in the log, not in parquet)."""
        from delta_kernel_rs_spark.functions.schema_codec import physical_data_type

        schema = self.snapshot.schema
        pcols = set(self.snapshot.metadata.partition_columns)
        fields = []
        for f in schema.fields:
            if f.name in pcols:
                continue
            fields.append(
                T.StructField(
                    physical_name(f), physical_data_type(f.dataType), True, f.metadata
                )
            )
        return T.StructType(fields)

    def live_rows(self, rows: pa.Table, file_cols: bool = False, frame=None) -> DataFrame:
        """The live rows of the files in ``rows`` (scan rows, e.g.
        :meth:`kept_rows` or :meth:`file_rows`), in logical columns.

        DV-free files go through the plain parquet reader; DV-carrying
        files through a second read of only those files, filtered by
        :func:`live_row_filter` on (Spark's file URI, physical row index)
        — the bitmaps decode on executors, the driver ships descriptors
        only. Both reads are relations built by :func:`read_named_files`
        (for local files a driver-side listing, no Spark job). Each read
        gets its files' constants (partition values when ``columns``
        names a partition column, row-id constants) from
        :func:`with_file_constants`: literals when the read's files share
        one tuple, else a broadcast join (over ``frame()`` when given, a
        frame with the same rows). ``file_cols`` keeps ``__file_path``
        and ``__row_index`` (the DML candidate read needs them).
        """
        from functools import reduce

        from delta_kernel_rs_spark.functions.dv import live_row_filter

        spark = self.spark
        schema = self.snapshot.schema
        pcols = self.snapshot.metadata.partition_columns
        read_pcols = [c for c in pcols if self.columns is None or c in self.columns]
        phys_schema = self._physical_read_schema()

        def read(paths: list[str]) -> DataFrame:
            if self._needs_widening_read():
                return self._read_with_widening(spark, paths, phys_schema)
            return read_named_files(spark, paths, schema=phys_schema)

        consts = {}
        if read_pcols:
            consts["partition_values"] = "__pv"
        if self.with_row_ids:
            consts["base_row_id"] = "__base_row_id"
            consts["default_row_commit_version"] = "__drcv"

        # Final projection in logical column order: physical→logical rename,
        # partition-value parse, type normalization (widening casts).
        out_cols = []
        for f in schema.fields:
            if self.columns is not None and f.name not in self.columns:
                continue
            if f.name in pcols:
                # partitionValues keys are physical names under column mapping
                raw = F.col("__pv").getItem(physical_name(f))
                out_cols.append(parse_partition_column(raw, f.dataType).alias(f.name))
            else:
                out_cols.append(F.col(quoted(physical_name(f))).cast(f.dataType).alias(f.name))
        if self.with_row_ids:
            # Stable row id = baseRowId + row_index; commit version from the
            # add's defaultRowCommitVersion (reference row_tracking.rs +
            # transform_spec.rs:48-56 — materialized-column override would
            # coalesce in front of this once writes materialize it).
            out_cols.append(
                (F.col("__base_row_id") + F.col("__row_index")).alias("row_id")
            )
            out_cols.append(F.col("__drcv").alias("row_commit_version"))
        if file_cols:
            out_cols += [F.col("__file_path"), F.col("__row_index")]

        row_index = F.col("_metadata.row_index")
        dvs = dv_descriptors(rows)
        has_dv = pc.is_in(rows.column("file_path"), value_set=pa.array(list(dvs), pa.string()))
        arms = []
        clean = rows.filter(pc.invert(has_dv))
        if clean.num_rows:
            arms.append((clean, read(clean.column("file_path").to_pylist())))
        if dvs:
            keep = live_row_filter(dvs, self.snapshot.table_path)
            arms.append(
                (
                    rows.filter(has_dv),
                    read(sorted(dvs)).filter(keep(F.col("_metadata.file_path"), row_index)),
                )
            )
        out, joined = [], []
        for arm_rows, df in arms:
            if file_cols:
                df = df.withColumn("__file_path", normalize_file_path(F.col("_metadata.file_path")))
            if self.with_row_ids or file_cols:
                df = df.withColumn("__row_index", row_index)
            literals = file_constant_literals(arm_rows, consts) if consts else {}
            if literals is None:
                if not file_cols:
                    df = df.withColumn("__file_path", normalize_file_path(F.col("_metadata.file_path")))
                joined.append((arm_rows, df))
            else:
                out.append(df.withColumns(literals).select(*out_cols) if literals else df.select(*out_cols))
        if joined:
            # the arms that need the join share one, above their union
            df = with_file_constants(
                reduce(DataFrame.unionByName, [df for _, df in joined]),
                pa.concat_tables([arm_rows for arm_rows, _ in joined]),
                consts,
                frame=frame,
            )
            out.append(df.select(*out_cols))
        return reduce(DataFrame.unionByName, out)

    def read_kept(self, file_cols: bool = False) -> DataFrame | None:
        """:meth:`live_rows` over :meth:`kept_rows`; None when no file is
        kept."""
        rows, whole = self._plan()
        if not rows.num_rows:
            return None
        return self.live_rows(rows, file_cols, frame=self._version_frame if whole else None)

    def to_df(self) -> DataFrame:
        """The scan result as a lazy logical DataFrame.

        The files come from :meth:`kept_rows`, pruned on the driver
        before any Spark plan exists; see :meth:`live_rows`. The
        predicate still filters the rows.
        """
        df = self.read_kept()
        if df is None:
            schema = self.snapshot.schema
            out_fields = [f for f in schema.fields if self.columns is None or f.name in self.columns]
            if self.with_row_ids:
                out_fields = list(out_fields) + [
                    T.StructField("row_id", T.LongType(), True),
                    T.StructField("row_commit_version", T.LongType(), True),
                ]
            return self.spark.createDataFrame([], T.StructType(out_fields))
        if self.predicate is not None:
            pred = self.predicate
            from delta_kernel_rs_spark.plans.expressions import Predicate

            if isinstance(pred, Predicate):
                pred = pred.to_spark()
            elif isinstance(pred, str):
                pred = F.expr(pred)
            df = df.filter(pred)
        return df
