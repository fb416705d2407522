"""Clustered tables: clustering columns via domain metadata.

Reference: kernel/src/clustering.rs — clustering columns live in the
``delta.clustering`` domain as ``{"clusteringColumns": [[...path...]]}``
with PHYSICAL column names (column mapping), the table carries the
``clustering`` writer feature, and writers MUST write per-file statistics
for clustering columns.

The Spark-first layout implementation: clustered writes range-partition +
sort by the clustering columns (``repartitionByRange`` +
``sortWithinPartitions``), which gives each written file a tight, nearly
disjoint min/max range on those columns — exactly what makes the
stats-based file skipping in plans/py_skipping.py effective. OPTIMIZE
re-runs the same layout, so compaction re-clusters.
"""

from __future__ import annotations

import json

from pyspark.sql import types as T

from delta_kernel_rs_spark.functions.schema_codec import physical_name
from delta_kernel_rs_spark.functions.stats import _MINMAX_ELIGIBLE

CLUSTERING_DOMAIN = "delta.clustering"
CLUSTERING_FEATURE = "clustering"


class ClusteringError(Exception):
    pass


def normalize_paths(cols: list) -> list[list[str]]:
    """Accept ``"a"``, ``"user.city"`` or ``["user", "city"]`` spellings."""
    paths = [c.split(".") if isinstance(c, str) else list(c) for c in cols]
    if not paths:
        raise ClusteringError("clustering requires at least one column")
    if len({tuple(p) for p in paths}) != len(paths):
        raise ClusteringError(f"duplicate clustering columns in {cols}")
    return paths


def resolve_path(schema: T.StructType, path: list[str]) -> tuple[list[str], T.DataType]:
    """Logical path → (physical path, leaf type); validates stats
    eligibility (reference validate_clustering_columns)."""
    cur: T.DataType = schema
    phys: list[str] = []
    for part in path:
        if not isinstance(cur, T.StructType):
            raise ClusteringError(
                f"clustering path {'.'.join(path)}: {part} is not inside a struct"
            )
        match = next((f for f in cur.fields if f.name == part), None)
        if match is None:
            raise ClusteringError(
                f"clustering column {'.'.join(path)} not found in schema"
            )
        phys.append(physical_name(match))
        cur = match.dataType
    if not isinstance(cur, _MINMAX_ELIGIBLE):
        raise ClusteringError(
            f"clustering column {'.'.join(path)} has type {cur} — not "
            "eligible for min/max statistics (the protocol requires "
            "per-file stats for clustering columns)"
        )
    return phys, cur


def domain_config_json(schema: T.StructType, cols: list) -> str:
    """The ``delta.clustering`` configuration document (physical names)."""
    paths = normalize_paths(cols)
    return json.dumps(
        {"clusteringColumns": [resolve_path(schema, p)[0] for p in paths]},
        separators=(",", ":"),
    )


def clustering_columns(snapshot) -> list[dict]:
    """Resolved clustering descriptors for a snapshot (reference
    ClusteringColumnInfo): ``{"physical", "logical", "type"}`` per column;
    ``logical`` is None when the physical path no longer resolves (e.g.
    the column was dropped)."""
    conf = snapshot.get_domain_metadata(CLUSTERING_DOMAIN)
    if not conf:
        return []
    try:
        phys_paths = json.loads(conf)["clusteringColumns"]
    except (ValueError, KeyError):
        return []
    out = []
    for pp in phys_paths:
        cur: T.DataType = snapshot.schema
        logical: list[str] | None = []
        leaf_type: T.DataType | None = None
        for part in pp:
            if not isinstance(cur, T.StructType):
                logical = None
                break
            match = next(
                (f for f in cur.fields if physical_name(f) == part or f.name == part),
                None,
            )
            if match is None:
                logical = None
                break
            logical.append(match.name)
            leaf_type = match.dataType
            cur = match.dataType
        out.append({"physical": pp, "logical": logical, "type": leaf_type})
    return out
