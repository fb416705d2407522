"""Per-file stats collection on write + the stats JSON contract.

Mirrors the reference's write-side stats (default-engine/src/stats.rs):
``numRecords``, per-column ``nullCount`` / ``minValues`` / ``maxValues``
with the truncation rules that are a *correctness contract* for readers:

* strings: min may truncate down to a 32-char prefix; max must round UP —
  truncate then increment the last character (stats.rs:52 truncate_min_string,
  :86 truncate_max_string);
* timestamps: truncated (not rounded) to milliseconds, serialized
  ``yyyy-MM-dd'T'HH:mm:ss.SSS'Z'`` (kernel/src/expressions/mod.rs:103-125
  ToJson contract) — readers must widen max bounds by 1ms (see
  plans/py_skipping.py);
* non-finite floats are excluded from min/max;
* binary is excluded from min/max entirely.

The collection itself reads parquet footers on the executors
(``collect_file_stats_footer``), not in a driver loop — at 100 TB a single
commit can add thousands of files.
"""

from __future__ import annotations

import datetime as _dt
import json
import math
from decimal import Decimal
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import types as T

STRING_PREFIX_LEN = 32
DEFAULT_NUM_INDEXED_COLS = 32

_MINMAX_ELIGIBLE = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
    T.StringType,
    T.DateType,
    T.TimestampType,
    T.TimestampNTZType,
)


def eligible_stats_columns(
    schema: T.StructType,
    num_indexed: int = DEFAULT_NUM_INDEXED_COLS,
    stats_columns: tuple | None = None,
    required: frozenset = frozenset(),
) -> list[T.StructField]:
    """Top-level leaf columns eligible for min/max stats
    (arrays/maps/structs are skipping-ineligible — reference
    kernel/src/scan/mod.rs:558-564).

    Selection follows the reference's ``StatsColumnFilter``
    (scan/data_skipping/stats_schema/column_filter.rs:60-118):
    an explicit ``stats_columns`` name set (``dataSkippingStatsColumns``)
    takes precedence over the positional ``num_indexed`` cap
    (``dataSkippingNumIndexedCols``; ``-1`` = all columns), and
    ``required`` names (clustering columns — the protocol's "writers MUST
    write stats" rule) are always included regardless of either."""
    out = []
    for i, f in enumerate(schema.fields):
        if not isinstance(f.dataType, _MINMAX_ELIGIBLE):
            continue
        if f.name in required:
            out.append(f)
        elif stats_columns is not None:
            if f.name in stats_columns:
                out.append(f)
        elif num_indexed < 0 or i < num_indexed:
            out.append(f)
    return out


def stats_selection(
    configuration: dict | None,
    phys_of: dict[str, str] | None = None,
    clustering_cols: tuple[str, ...] = (),
) -> dict:
    """kwargs for ``eligible_stats_columns`` derived from a table's
    configuration: ``dataSkippingNumIndexedCols`` / ``dataSkippingStatsColumns``
    (mapped to PHYSICAL top-level names via ``phys_of``) plus the
    always-required clustering columns. This engine collects top-level
    stats only, so a configured nested path selects its top-level column."""
    from delta_kernel_rs_spark.sources.table_properties import TableProperties

    props = TableProperties.from_configuration(configuration or {})
    phys_of = phys_of or {}
    explicit = None
    if props.data_skipping_stats_columns is not None:
        explicit = tuple(
            {phys_of.get(p[0], p[0]) for p in props.data_skipping_stats_columns if p}
        )
    return {
        "num_indexed": props.num_indexed_cols_or_default(),
        "stats_columns": explicit,
        "required": frozenset(phys_of.get(c, c) for c in clustering_cols),
    }


def collect_file_stats_footer(
    spark: SparkSession,
    paths: list[str],
    read_schema: T.StructType,
    num_indexed: int = DEFAULT_NUM_INDEXED_COLS,
    stats_columns: tuple | None = None,
    required: frozenset = frozenset(),
) -> dict[str, dict[str, Any]]:
    """Footer-only stats: aggregate parquet row-group statistics per file.

    Zero data reads — the writer's row-group stats already hold min/max/
    null-count (the reference reads them the same way via
    read_parquet_footer, kernel/src/lib.rs:1011-1067). Footers are parsed
    on executors (pyarrow over pyarrow.fs), so a thousand-file commit costs
    one tiny task per file batch, not a second pass over the data.

    Columns whose stats the writer omitted (e.g. NaN-bearing floats) are
    simply absent from min/max — readers treat missing stats as unknown.
    """
    eligible = {
        f.name
        for f in eligible_stats_columns(read_schema, num_indexed, stats_columns, required)
    }

    def read_footers(it):
        import pyarrow.fs as pafs
        import pyarrow.parquet as pq

        for path in it:
            if "://" in path:
                fs, rel = pafs.FileSystem.from_uri(path)
            else:
                # never URI-encode local paths: partition directories may
                # carry spaces / percent-escapes that break URI parsing
                fs, rel = pafs.LocalFileSystem(), path
            try:
                meta = pq.read_metadata(rel, filesystem=fs)
            except OSError:
                # Footer carries a logical type this pyarrow build cannot
                # parse (e.g. Spark VARIANT). Stats become unknown for the
                # whole file — readers already treat missing stats that way.
                yield path, None
                continue
            mins: dict[str, Any] = {}
            maxs: dict[str, Any] = {}
            nulls: dict[str, Any] = {}
            bad_bounds: set[str] = set()
            bad_nulls: set[str] = set()
            for rg in range(meta.num_row_groups):
                group = meta.row_group(rg)
                for ci in range(group.num_columns):
                    col = group.column(ci)
                    name = col.path_in_schema
                    if "." in name or name not in eligible:
                        continue
                    st = col.statistics
                    has_nc = st is not None and st.has_null_count
                    if has_nc:
                        nulls[name] = nulls.get(name, 0) + st.null_count
                    else:
                        bad_nulls.add(name)
                    if st is None or not st.has_min_max:
                        # Bounds survive a stats-less group only if it is
                        # provably all-null (nulls don't affect min/max).
                        if not (has_nc and st.null_count == group.num_rows):
                            bad_bounds.add(name)
                        continue
                    try:
                        lo, hi = st.min, st.max
                    except Exception:
                        # pyarrow cannot cast statistics for this physical
                        # type (binary, int96, ...) — bounds unknown, which
                        # readers already treat as not-skippable.
                        bad_bounds.add(name)
                        continue
                    if name not in mins or lo < mins[name]:
                        mins[name] = lo
                    if name not in maxs or hi > maxs[name]:
                        maxs[name] = hi
            for name in bad_bounds:
                mins.pop(name, None)
                maxs.pop(name, None)
            for name in bad_nulls:
                nulls.pop(name, None)
            yield path, {
                "numRecords": meta.num_rows,
                "min": mins,
                "max": maxs,
                "nullCount": nulls,
            }

    n_slices = max(1, min(len(paths), 64))
    rows = (
        spark.sparkContext.parallelize(paths, n_slices)
        .mapPartitions(lambda it: read_footers(it))
        .collect()
    )
    return dict(rows)


def truncate_min_string(s: str, prefix_len: int = STRING_PREFIX_LEN) -> str:
    return s[:prefix_len]


def truncate_max_string(s: str, prefix_len: int = STRING_PREFIX_LEN) -> str | None:
    """Valid UPPER bound after truncation: increment the last kept char.

    Returns None when no valid bound exists (all kept chars are at the max
    code point) — the column is then omitted from maxValues.
    """
    if len(s) <= prefix_len:
        return s
    kept = list(s[:prefix_len])
    for i in range(len(kept) - 1, -1, -1):
        cp = ord(kept[i])
        if cp < 0x10FFFF:
            kept[i] = chr(cp + 1)
            return "".join(kept[: i + 1])
    return None


def _ts_to_stat(value: _dt.datetime) -> str:
    """Truncate (floor) to milliseconds; 3 fractional digits; 'Z' suffix."""
    ms = value.microsecond // 1000
    return value.strftime("%Y-%m-%dT%H:%M:%S") + f".{ms:03d}Z"


def _stat_value(value: Any, data_type: T.DataType, is_max: bool) -> Any:
    if value is None:
        return None
    if isinstance(data_type, (T.FloatType, T.DoubleType)):
        if isinstance(value, float) and not math.isfinite(value):
            return None
        return value
    if isinstance(data_type, T.StringType):
        return (
            truncate_max_string(value) if is_max else truncate_min_string(value)
        )
    if isinstance(data_type, (T.TimestampType, T.TimestampNTZType)):
        return _ts_to_stat(value)
    if isinstance(data_type, T.DateType):
        return value.isoformat()
    if isinstance(value, Decimal):
        return float(value) if value == value.to_integral_value() else str(value)
    return value


def stats_json(raw: dict[str, Any], schema: T.StructType) -> str:
    """Serialize one file's stats to the ``add.stats`` JSON document."""
    types = {f.name: f.dataType for f in schema.fields}
    min_values: dict[str, Any] = {}
    max_values: dict[str, Any] = {}
    null_count: dict[str, Any] = {}
    for name, value in raw.get("min", {}).items():
        v = _stat_value(value, types[name], is_max=False)
        if v is not None:
            min_values[name] = v
    for name, value in raw.get("max", {}).items():
        v = _stat_value(value, types[name], is_max=True)
        if v is not None:
            max_values[name] = v
    for name, value in raw.get("nullCount", {}).items():
        if value is not None:
            null_count[name] = value
    doc = {
        "numRecords": raw["numRecords"],
        "minValues": min_values,
        "maxValues": max_values,
        "nullCount": null_count,
    }
    return json.dumps(doc, separators=(",", ":"), default=str)


class StatsValidationError(ValueError):
    """Add actions are missing protocol-required per-file statistics
    (reference ``Error::StatsValidation``, transaction/stats_verifier.rs)."""


def verify_add_stats(
    actions,
    required_columns: tuple[str, ...] = (),
    require_num_records: bool = False,
    max_listed: int = 10,
) -> None:
    """Pre-commit validation that add actions carry protocol-required
    per-file statistics — the reference's ``StatsColumnVerifier`` +
    ``verify_num_records_present`` (transaction/stats_verifier.rs:18-100,
    :299-327), called from ``validate_add_files_stats``
    (transaction/mod.rs:1246-1279):

    * ``require_num_records``: every add must carry ``stats.numRecords``
      (icebergCompatV3 — table_configuration.rs:903-906); short-circuits
      on the first violation like the reference.
    * each name in ``required_columns`` (PHYSICAL top-level stats keys —
      clustering columns, the protocol's "writers MUST write stats" rule)
      must have ``nullCount``, and ``minValues``/``maxValues`` unless the
      file is all-null (``nullCount == numRecords``,
      stats_verifier.rs:280-290).

    ``actions`` is any iterable of action dicts; non-add actions pass
    through. Single pass, O(required_columns) state — error messages list
    at most ``max_listed`` paths per category (the reference lists all,
    but a million-file streamed commit must not build the full string on
    the driver).
    """
    if not required_columns and not require_num_records:
        return
    missing_nc: dict[str, list[str]] = {c: [] for c in required_columns}
    missing_min: dict[str, list[str]] = {c: [] for c in required_columns}
    missing_max: dict[str, list[str]] = {c: [] for c in required_columns}
    counts = {"nc": 0, "min": 0, "max": 0}

    def note(bucket: dict, key: str, cat: str, path: str) -> None:
        counts[cat] += 1
        if len(bucket[key]) < max_listed:
            bucket[key].append(path)

    for a in actions:
        add = a.get("add") if isinstance(a, dict) else None
        if add is None:
            continue
        raw = add.get("stats")
        stats = json.loads(raw) if raw else {}
        nr = stats.get("numRecords")
        if require_num_records and nr is None:
            raise StatsValidationError(
                "'stats.numRecords' is required for this table "
                "(icebergCompatV3), but is missing for file "
                f"'{add.get('path')}'"
            )
        for col in required_columns:
            nc = (stats.get("nullCount") or {}).get(col)
            all_null = nr is not None and nc is not None and nr == nc
            if nc is None:
                note(missing_nc, col, "nc", add.get("path"))
            if not all_null and (stats.get("minValues") or {}).get(col) is None:
                note(missing_min, col, "min", add.get("path"))
            if not all_null and (stats.get("maxValues") or {}).get(col) is None:
                note(missing_max, col, "max", add.get("path"))

    def fail(bucket: dict, label: str, cat: str) -> None:
        for col, paths in bucket.items():
            if paths:
                suffix = "" if counts[cat] <= max_listed else ", ..."
                raise StatsValidationError(
                    f"Required column '{col}' is missing '{label}' "
                    f"statistics for files: [{', '.join(paths)}{suffix}]"
                )

    fail(missing_nc, "nullCount", "nc")
    fail(missing_min, "minValues", "min")
    fail(missing_max, "maxValues", "max")
