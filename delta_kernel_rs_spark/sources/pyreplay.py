"""The engine's log replay: the snapshot's live files as one Arrow table.

Every read plans from this replay — ``Scan`` (sources/scan.py) lifts the
table into a local DataFrame on the driver, and the batch facade
(sources/batch_source.py) calls it from the Python Data Source worker,
which has no SparkSession. It replays the Delta log the way the
reference kernel does — single-node, newest-wins dedup over the commit
tail (kernel/src/log_replay/mod.rs:28-66), checkpoint bulk consumed
columnar (kernel's parallel checkpoint iterators):

* the commit TAIL (everything after the checkpoint, bounded by the
  table's checkpoint cadence) is parsed as JSON into Python dicts;
* the CHECKPOINT — where the O(files) bulk lives — is read with pyarrow
  and stays columnar end-to-end: dedup against tail keys is an Arrow
  ``is_in`` anti-filter. No per-file Python objects are ever
  materialized for checkpoint files.

Each live file carries the version of the action that made it live
(a compacted file's end version for tail actions, the checkpoint version
for checkpoint adds), its ``modificationTime`` and its stats JSON — re-
derived from ``stats_parsed`` when a ``writeStatsAsJson=false``
checkpoint nulled the document.
"""

from __future__ import annotations

import json
import math
import urllib.parse
from datetime import timezone

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: Columnar schema of the live-file list (the planning-time subset of the
#: reference's scan-row schema, kernel/src/scan/mod.rs:1410-1440).
DV_TYPE = pa.struct(
    [
        ("storageType", pa.string()),
        ("pathOrInlineDv", pa.string()),
        ("offset", pa.int32()),
        ("sizeInBytes", pa.int32()),
        ("cardinality", pa.int64()),
    ]
)
FILES_SCHEMA = pa.schema(
    [
        ("path", pa.string()),  # as stored in the log (url-encoded, relative)
        ("size", pa.int64()),
        ("partition_values", pa.map_(pa.string(), pa.string())),
        ("dv", DV_TYPE),
        ("base_row_id", pa.int64()),
        ("default_row_commit_version", pa.int64()),
        # raw add.stats JSON — drives planning-time file skipping in the
        # facade (plans/py_skipping.py); dropped before tasks ship to
        # executors so checkpoint-sized stats bulk never rides the IPC
        ("stats", pa.string()),
        ("modification_time", pa.int64()),
        # version of the action that made the file live
        ("commit_version", pa.int64()),
    ]
)


def pq_read(path: str, columns: list[str] | None = None, filters=None) -> pa.Table:
    """pyarrow parquet read that handles both plain paths and URIs.

    ``filters`` (a pyarrow dataset Expression) engages pyarrow's row-group
    statistics pruning before the exact row filter is applied."""
    if "://" in path and not path.startswith("file://"):
        import pyarrow.fs as pafs

        fs, rel = pafs.FileSystem.from_uri(path)
        return pq.read_table(rel, filesystem=fs, columns=columns, filters=filters)
    return pq.read_table(path.removeprefix("file://"), columns=columns, filters=filters)


def _iter_actions(storage, commit_path: str):
    """Parsed action lines of one NDJSON log file. A line that is not
    valid JSON raises: a torn commit must fail the read loudly rather
    than silently drop an add or a remove."""
    for line in storage.read_text(commit_path).splitlines():
        line = line.strip()
        if not line:
            continue
        try:
            yield json.loads(line)
        except ValueError:
            raise ValueError(f"malformed action line in {commit_path}: {line[:80]!r}") from None


def snapshot_metadata(storage, seg) -> tuple[dict, dict]:
    """Newest (metaData, protocol) for the segment — commit tail first
    (newest wins), checkpoint fallback for the rest."""
    meta: dict | None = None
    proto: dict | None = None
    for c in reversed(seg.commit_files):
        for action in _iter_actions(storage, c.path):
            if meta is None and "metaData" in action:
                meta = action["metaData"]
            if proto is None and "protocol" in action:
                proto = action["protocol"]
        if meta is not None and proto is not None:
            return meta, proto
    for part in seg.checkpoint_parts:
        if part.endswith(".json"):
            # V2 JSON-flavored checkpoint top (protocol spec; reference
            # log_path.rs): NDJSON action lines, not parquet
            for action in _iter_actions(storage, part):
                if meta is None and "metaData" in action:
                    meta = action["metaData"]
                if proto is None and "protocol" in action:
                    proto = action["protocol"]
            continue
        tbl = pq_read(part)
        if meta is None and "metaData" in tbl.column_names:
            col = tbl.column("metaData")
            hits = tbl.filter(pc.is_valid(pc.struct_field(col, "id")))
            if hits.num_rows:
                meta = hits.column("metaData")[0].as_py()
                # pyarrow renders parquet MAP columns as [(k, v), ...];
                # commit-JSON metaData carries dicts — normalize so every
                # consumer sees ONE shape regardless of where the newest
                # metaData lived
                if isinstance(meta.get("configuration"), list):
                    meta["configuration"] = dict(meta["configuration"])
        if proto is None and "protocol" in tbl.column_names:
            col = tbl.column("protocol")
            hits = tbl.filter(pc.is_valid(pc.struct_field(col, "minReaderVersion")))
            if hits.num_rows:
                proto = hits.column("protocol")[0].as_py()
    if meta is None:
        raise ValueError(f"no metaData action found for {seg.table_path}")
    return meta, proto or {}


def protocol_of(proto: dict):
    """Typed Protocol from a raw protocol action dict (as returned by
    snapshot_metadata) — call ensure_read_supported / ensure_write_supported
    on the result before trusting the table."""
    from delta_kernel_rs_spark.sources.snapshot import Protocol

    return Protocol(
        min_reader_version=int(proto.get("minReaderVersion", 1)),
        min_writer_version=int(proto.get("minWriterVersion", 2)),
        reader_features=proto.get("readerFeatures") or [],
        writer_features=proto.get("writerFeatures") or [],
    )


def _unq(p: str) -> str:
    """Percent-DECODED log path — the file-identity key (twin of
    scan.canonical_log_path; ``urllib.parse.unquote`` leaves '+' alone, so
    no form-decoding protection is needed here)."""
    return urllib.parse.unquote(p) if "%" in p else p


def _dv_uid_py(dv: dict | None) -> str:
    if not dv or not dv.get("storageType"):
        return ""
    off = dv.get("offset")
    return "\x00".join(
        [dv["storageType"], dv.get("pathOrInlineDv") or "", "" if off is None else str(off)]
    )


def replay_commit_tail(
    storage, seg
) -> dict[tuple[str, str], tuple[dict, int] | None]:
    """Newest-wins file actions from the commit tail: key → (live add
    dict, its commit version), or None when the newest action is a
    remove. A compacted file's actions take its end version. Python-dict
    sized by the tail only (checkpoint cadence), never the full table."""
    actions: dict[tuple[str, str], tuple[dict, int] | None] = {}
    for c in seg.commit_files:  # ascending — later commits overwrite
        version = c.version if c.end_version is None else c.end_version
        for action in _iter_actions(storage, c.path):
            a = action.get("add")
            if a is not None:
                key = (_unq(a["path"]), _dv_uid_py(a.get("deletionVector")))
                actions[key] = (a, version)
                continue
            r = action.get("remove")
            if r is not None:
                actions[(_unq(r["path"]), _dv_uid_py(r.get("deletionVector")))] = None
    return actions


def _adds_from_pylist(adds: list[dict], versions: list[int] | None = None) -> pa.Table:
    rows = [
        {
            "path": a["path"],
            "size": a.get("size"),
            "partition_values": list((a.get("partitionValues") or {}).items()),
            "dv": a.get("deletionVector"),
            "base_row_id": a.get("baseRowId"),
            "default_row_commit_version": a.get("defaultRowCommitVersion"),
            "stats": a.get("stats"),
            "modification_time": a.get("modificationTime"),
            "commit_version": None if versions is None else versions[i],
        }
        for i, a in enumerate(adds)
    ]
    return pa.Table.from_pylist(rows, schema=FILES_SCHEMA)


def _as_array(x):
    return x.combine_chunks() if isinstance(x, pa.ChunkedArray) else x


def _struct_subfield(col, name: str, typ: pa.DataType, n: int) -> pa.Array:
    """struct field by name, or typed nulls when the writer omitted it."""
    field_names = {f.name for f in col.type} if pa.types.is_struct(col.type) else set()
    if name not in field_names:
        return pa.nulls(n, type=typ)
    return _as_array(pc.struct_field(col, name).cast(typ))


def _checkpoint_adds_arrow(seg, storage=None) -> pa.Table:
    """Checkpoint add actions normalized to FILES_SCHEMA (sidecar-aware,
    V2 checkpoints: kernel/src/log_segment/mod.rs:51-83), all-Arrow.

    A V2 checkpoint top comes in parquet AND json flavors (protocol spec;
    reference log_path.rs) — the json top is NDJSON action lines whose
    sidecar pointers still name parquet files. Found by the round-12
    foreign-checkpoint fuzz: this fold used to feed the json top to the
    parquet reader and crash."""
    version = seg.checkpoint_version

    def resolve(sidecars: list[str]) -> pa.Table:
        return pa.concat_tables(
            [
                pq_read(p if "://" in p or p.startswith("/") else f"{seg.log_dir}/_sidecars/{p}")
                for p in sidecars
            ],
            promote_options="permissive",
        )

    json_parts = [p for p in seg.checkpoint_parts if p.endswith(".json")]
    if json_parts and storage is not None:
        actions = [a for p in json_parts for a in _iter_actions(storage, p)]
        sidecars = [
            a["sidecar"]["path"]
            for a in actions
            if (a.get("sidecar") or {}).get("path")
        ]
        if not sidecars:
            adds = [a["add"] for a in actions if (a.get("add") or {}).get("path")]
            return _adds_from_pylist(adds, [version] * len(adds))
        return _conform_checkpoint_table(resolve(sidecars), version)
    top = pa.concat_tables(
        [pq_read(p) for p in seg.checkpoint_parts], promote_options="permissive"
    )
    if "sidecar" in top.column_names:
        sc = pc.struct_field(top.column("sidecar"), "path")
        sidecars = [p for p in sc.to_pylist() if p]
        if sidecars:
            top = resolve(sidecars)
    return _conform_checkpoint_table(top, version)


def _stats_json(value, typ: pa.DataType) -> str | None:
    """One ``stats_parsed`` value as the stats JSON document Spark's
    ``to_json`` writes for it: null fields dropped, timestamps at
    millisecond precision in UTC, non-finite floats quoted."""
    if value is None:
        return None
    if pa.types.is_struct(typ):
        parts = []
        for f in typ:
            doc = _stats_json(value.get(f.name), f.type)
            if doc is not None:
                parts.append(f"{json.dumps(f.name)}:{doc}")
        return "{" + ",".join(parts) + "}"
    if pa.types.is_timestamp(typ):
        if value.tzinfo is not None:
            value = value.astimezone(timezone.utc).replace(tzinfo=None)
            zone = "Z"
        else:  # TIMESTAMP_NTZ
            zone = ""
        return f'"{value:%Y-%m-%dT%H:%M:%S}.{value.microsecond // 1000:03d}{zone}"'
    if pa.types.is_date(typ):
        return f'"{value.isoformat()}"'
    if pa.types.is_decimal(typ):
        return str(value)
    if pa.types.is_floating(typ):
        if math.isnan(value):
            return '"NaN"'
        if math.isinf(value):
            return '"Infinity"' if value > 0 else '"-Infinity"'
        if pa.types.is_float32(typ):
            import numpy as np

            return str(np.float32(value))
        return repr(float(value))
    return json.dumps(value)


def _checkpoint_stats(add: pa.StructArray, n: int) -> pa.Array:
    """``add.stats``, falling back to a document re-derived from
    ``add.stats_parsed`` where the JSON is null (writeStatsAsStruct
    checkpoints written with writeStatsAsJson=false)."""
    stats = _struct_subfield(add, "stats", pa.string(), n)
    names = {f.name for f in add.type}
    if "stats_parsed" not in names or not stats.null_count:
        return stats
    parsed = _as_array(pc.struct_field(add, "stats_parsed"))
    missing = pc.indices_nonzero(pc.is_null(stats))
    docs = stats.to_pylist()
    for i, value in zip(missing.to_pylist(), parsed.take(missing).to_pylist()):
        docs[i] = _stats_json(value, parsed.type)
    return pa.array(docs, type=pa.string())


def _conform_checkpoint_table(top: pa.Table, version: int) -> pa.Table:
    """Normalize resolved checkpoint rows (post-sidecar) to FILES_SCHEMA."""
    if "add" not in top.column_names:
        return FILES_SCHEMA.empty_table()
    add = top.column("add").combine_chunks()
    live = pa.table({"add": add}).filter(pc.is_valid(pc.struct_field(add, "path")))
    add = live.column("add").combine_chunks()
    n = len(add)
    dv_names = [f.name for f in DV_TYPE]
    if pa.types.is_struct(add.type) and "deletionVector" in {f.name for f in add.type}:
        dv_col = pc.struct_field(add, "deletionVector")
        dv = pa.StructArray.from_arrays(
            [_struct_subfield(dv_col, f.name, f.type, n) for f in DV_TYPE],
            dv_names,
            mask=_as_array(pc.is_null(pc.struct_field(dv_col, "storageType"))),
        )
    else:
        dv = pa.nulls(n, type=DV_TYPE)
    cols = [
        _as_array(pc.struct_field(add, "path").cast(pa.string())),
        _struct_subfield(add, "size", pa.int64(), n),
        _struct_subfield(add, "partitionValues", pa.map_(pa.string(), pa.string()), n),
        dv,
        _struct_subfield(add, "baseRowId", pa.int64(), n),
        _struct_subfield(add, "defaultRowCommitVersion", pa.int64(), n),
        _checkpoint_stats(add, n),
        _struct_subfield(add, "modificationTime", pa.int64(), n),
        pa.array([version] * n, type=pa.int64()),
    ]
    return pa.Table.from_arrays(cols, schema=FILES_SCHEMA)


def _arrow_keys(tbl: pa.Table) -> pa.Array:
    """(path \\x00 dv-uid) join key per file row, computed in Arrow."""
    dv = tbl.column("dv").combine_chunks()
    st = pc.struct_field(dv, "storageType")
    po = pc.struct_field(dv, "pathOrInlineDv")
    off = pc.struct_field(dv, "offset").cast(pa.string())
    uid = pc.if_else(
        pc.is_valid(st),
        pc.binary_join_element_wise(
            st.cast(pa.string()),
            pc.coalesce(po.cast(pa.string()), pa.scalar("", pa.string())),
            pc.coalesce(off, pa.scalar("", pa.string())),
            "\x00",
        ),
        pa.scalar("", pa.string()),
    )
    paths = tbl.column("path").combine_chunks().cast(pa.string())
    if pc.any(pc.match_substring(paths, "%")).as_py():
        # decode to the canonical file identity (see _unq) — a remove in
        # the tail must shadow a checkpoint add spelled differently
        paths = pa.array(
            [p if p is None else _unq(p) for p in paths.to_pylist()],
            type=pa.string(),
        )
    return pc.binary_join_element_wise(paths, uid, "\x00")


def live_files_arrow(storage, seg) -> pa.Table:
    """The snapshot's live files as one Arrow table (FILES_SCHEMA).

    Reference dedup semantics (kernel/src/log_replay/mod.rs:28-66):
    newest tail action wins per (path, dv-uid) key; checkpoint files
    survive unless ANY tail action touched their key.
    """
    tail = replay_commit_tail(storage, seg)
    live = [hit for hit in tail.values() if hit is not None]
    live_tail = _adds_from_pylist([a for a, _ in live], [v for _, v in live])
    if not seg.checkpoint_parts:
        return live_tail
    ck = _checkpoint_adds_arrow(seg, storage)
    if ck.num_rows and tail:
        tail_keys = pa.array(
            ["\x00".join([p, uid]) for (p, uid) in tail], type=pa.string()
        )
        mask = pc.invert(pc.is_in(_arrow_keys(ck), value_set=tail_keys))
        ck = ck.filter(mask)
    return pa.concat_tables([live_tail, ck]) if live_tail.num_rows else ck


def bin_pack_by_size(tbl: pa.Table, target_bytes: int) -> list[pa.Table]:
    """Greedy contiguous bin-packing of file rows into read tasks by
    cumulative file size (the FilePartition strategy Spark's own file
    sources use). Returns non-empty slices."""
    if tbl.num_rows == 0:
        return []
    sizes = tbl.column("size").to_pylist()
    slices: list[pa.Table] = []
    start, acc = 0, 0
    for i, s in enumerate(sizes):
        s = s or 0
        if acc and acc + s > target_bytes:
            slices.append(tbl.slice(start, i - start))
            start, acc = i, 0
        acc += s
    slices.append(tbl.slice(start))
    return slices


def ipc_serialize(tbl: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, tbl.schema) as w:
        w.write_table(tbl)
    return sink.getvalue().to_pybytes()


def ipc_deserialize(data: bytes) -> pa.Table:
    return pa.ipc.open_stream(pa.BufferReader(data)).read_all()
