"""Deletion vectors: roaring-bitmap codec + scan-side application.

Mirrors the reference's DV machinery (kernel/src/actions/
deletion_vector.rs:18-70+ — descriptor, z85 path encoding, portable roaring
treemap with magic 1681511377; writer kernel/src/actions/
deletion_vector_writer.rs). Pure-python codec (no native roaring library in
the image): array / bitmap / run containers are all supported on read;
writes emit array+bitmap containers.

On-disk DV file layout (Delta protocol):
  byte 0: format version (1)
  per DV blob at ``offset``: u32 BE size, then <size> bytes of data
  (u32 LE magic 1681511377 + 64-bit portable roaring), then u32 BE CRC32.

64-bit portable roaring ("treemap"): u64 LE bucket count, then per bucket a
u32 LE high-key followed by a standard 32-bit roaring serialization.
"""

from __future__ import annotations

import struct
import uuid as _uuid
import zlib
from typing import Iterator

# module-level: arrow_udf resolves live_row_filter's type hints from these
import pyarrow as pa

DV_MAGIC = 1681511377
SERIAL_COOKIE = 12347
SERIAL_COOKIE_NO_RUN = 12346
NO_OFFSET_THRESHOLD = 4

# -- z85 (ZeroMQ base85) ------------------------------------------------
_Z85_CHARS = (
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
    ".-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_INDEX = {c: i for i, c in enumerate(_Z85_CHARS)}


def z85_encode(data: bytes) -> str:
    """Z85 with the unaligned-tail extension real Delta DVs use.

    Core Z85 is 4-bytes → 5-chars big-endian. Inline DVs are NOT always
    4-aligned (a 34-byte serialized bitmap is common); the scheme used by
    the reference's z85 dependency (crate ``z85`` v3, Cargo.lock) encodes
    an ``r``-byte tail (r in 1..3) as ``(4-r)`` literal ``#`` pad markers
    followed by ``r+1`` base-85 digits of the tail value — total still 5
    chars. Unambiguous: an aligned group can never START with ``#``
    (84·85⁴ > 2³²). Verified against reference-written tables
    (kernel/tests/data/cdf-table-with-dv: tail ``##093`` = bytes 03 00).
    """
    r = len(data) % 4
    out = []
    for i in range(0, len(data) - r, 4):
        n = int.from_bytes(data[i : i + 4], "big")
        chunk = []
        for _ in range(5):
            chunk.append(_Z85_CHARS[n % 85])
            n //= 85
        out.extend(reversed(chunk))
    if r:
        n = int.from_bytes(data[-r:], "big")
        chunk = []
        for _ in range(r + 1):
            chunk.append(_Z85_CHARS[n % 85])
            n //= 85
        out.append("#" * (4 - r))
        out.extend(reversed(chunk))
    return "".join(out)


def z85_decode(text: str) -> bytes:
    if len(text) % 5:
        raise ValueError("z85 requires length % 5 == 0")
    out = bytearray()
    for i in range(0, len(text), 5):
        grp = text[i : i + 5]
        if grp[0] == "#":
            if i + 5 != len(text):
                raise ValueError("z85 pad markers only valid in the final group")
            pad = len(grp) - len(grp.lstrip("#"))
            if pad > 3:
                raise ValueError(f"invalid z85 tail {grp!r}")
            n = 0
            for ch in grp[pad:]:
                n = n * 85 + _Z85_INDEX[ch]
            out += n.to_bytes(4 - pad, "big")
            break
        n = 0
        for ch in grp:
            n = n * 85 + _Z85_INDEX[ch]
        if n >= 1 << 32:
            raise ValueError(f"z85 group overflows u32: {grp!r}")
        out += n.to_bytes(4, "big")
    return bytes(out)


# -- 32-bit roaring ------------------------------------------------------
def _decode_roaring32(buf: bytes, pos: int) -> tuple[list[int], int]:
    """Decode one 32-bit roaring bitmap at ``pos``; returns (values, next_pos)."""
    (cookie,) = struct.unpack_from("<I", buf, pos)
    start = pos
    pos += 4
    run_flags = b""
    if (cookie & 0xFFFF) == SERIAL_COOKIE:
        n = (cookie >> 16) + 1
        nbytes = (n + 7) // 8
        run_flags = buf[pos : pos + nbytes]
        pos += nbytes
        has_offsets = n >= NO_OFFSET_THRESHOLD
    elif cookie == SERIAL_COOKIE_NO_RUN:
        (n,) = struct.unpack_from("<I", buf, pos)
        pos += 4
        has_offsets = True
    else:
        raise ValueError(f"bad roaring cookie {cookie}")

    keys, cards = [], []
    for _ in range(n):
        k, c = struct.unpack_from("<HH", buf, pos)
        keys.append(k)
        cards.append(c + 1)
        pos += 4
    if has_offsets:
        pos += 4 * n  # skip offsets — containers follow in order

    values: list[int] = []
    for i in range(n):
        is_run = bool(run_flags and (run_flags[i // 8] & (1 << (i % 8))))
        base = keys[i] << 16
        if is_run:
            (n_runs,) = struct.unpack_from("<H", buf, pos)
            pos += 2
            for _ in range(n_runs):
                s, l = struct.unpack_from("<HH", buf, pos)
                pos += 4
                values.extend(range(base + s, base + s + l + 1))
        elif cards[i] <= 4096:
            vals = struct.unpack_from(f"<{cards[i]}H", buf, pos)
            pos += 2 * cards[i]
            values.extend(base + v for v in vals)
        else:  # bitmap container: 1024 u64 words
            words = struct.unpack_from("<1024Q", buf, pos)
            pos += 8192
            for wi, w in enumerate(words):
                while w:
                    b = w & (-w)
                    values.append(base + (wi << 6) + b.bit_length() - 1)
                    w ^= b
    return values, pos


def _encode_roaring32(values: list[int]) -> bytes:
    """Encode sorted 32-bit values (array/bitmap containers, no runs)."""
    containers: dict[int, list[int]] = {}
    for v in values:
        containers.setdefault(v >> 16, []).append(v & 0xFFFF)
    keys = sorted(containers)
    n = len(keys)
    out = bytearray()
    out += struct.pack("<II", SERIAL_COOKIE_NO_RUN, n)
    for k in keys:
        out += struct.pack("<HH", k, len(containers[k]) - 1)
    # offsets (u32 per container, from start of buffer)
    header_len = 8 + 4 * n + 4 * n
    offsets = []
    cursor = header_len
    blobs = []
    for k in keys:
        vals = containers[k]
        if len(vals) <= 4096:
            blob = struct.pack(f"<{len(vals)}H", *vals)
        else:
            words = [0] * 1024
            for v in vals:
                words[v >> 6] |= 1 << (v & 63)
            blob = struct.pack("<1024Q", *words)
        offsets.append(cursor)
        cursor += len(blob)
        blobs.append(blob)
    for off in offsets:
        out += struct.pack("<I", off)
    for blob in blobs:
        out += blob
    return bytes(out)


# -- 64-bit treemap -------------------------------------------------------
def decode_treemap(data: bytes) -> list[int]:
    """Portable 64-bit roaring → sorted list of row indexes."""
    (magic,) = struct.unpack_from("<I", data, 0)
    if magic == DV_MAGIC:
        pos = 4
    else:
        pos = 0  # bare bitmap without magic
    (n_buckets,) = struct.unpack_from("<Q", data, pos)
    pos += 8
    out: list[int] = []
    for _ in range(n_buckets):
        (high,) = struct.unpack_from("<I", data, pos)
        pos += 4
        vals, pos = _decode_roaring32(data, pos)
        base = high << 32
        out.extend(base + v for v in vals)
    return out


def encode_treemap(row_indexes: list[int]) -> bytes:
    """Sorted row indexes → magic + portable 64-bit roaring."""
    buckets: dict[int, list[int]] = {}
    for v in sorted(row_indexes):
        buckets.setdefault(v >> 32, []).append(v & 0xFFFFFFFF)
    out = bytearray(struct.pack("<IQ", DV_MAGIC, len(buckets)))
    for high in sorted(buckets):
        out += struct.pack("<I", high)
        out += _encode_roaring32(buckets[high])
    return bytes(out)


# -- descriptor resolution -------------------------------------------------
def dv_absolute_path(table_path: str, dv: dict) -> str | None:
    """Resolve a DV descriptor's storage location (None for inline)."""
    st = dv.get("storageType")
    enc = dv.get("pathOrInlineDv") or ""
    if st == "p":
        return enc
    if st == "u":
        prefix, uuid_part = enc[:-20], enc[-20:]
        u = _uuid.UUID(bytes=z85_decode(uuid_part))
        name = f"deletion_vector_{u}.bin"
        base = table_path.rstrip("/")
        return f"{base}/{prefix}/{name}" if prefix else f"{base}/{name}"
    return None


def extract_dv_blob(blob: bytes, offset: int | None) -> bytes:
    """Slice one DV bitmap out of a DV file and verify its CRC32."""
    offset = offset or 1  # byte 0 is the format version
    (size,) = struct.unpack_from(">I", blob, offset)
    data = blob[offset + 4 : offset + 4 + size]
    (crc,) = struct.unpack_from(">I", blob, offset + 4 + size)
    if zlib.crc32(data) & 0xFFFFFFFF != crc:
        raise ValueError(f"deletion vector CRC mismatch at offset {offset}")
    return data


def _dv_bitmap(table_path: str, dv: dict, read_file) -> bytes:
    """One descriptor's serialized bitmap; ``read_file(path) -> bytes``
    fetches a DV file (the per-blob CRC32 is verified)."""
    if dv.get("storageType") == "i":
        return z85_decode(dv["pathOrInlineDv"])
    blob = read_file(dv_absolute_path(table_path, dv))
    off = dv.get("offset")
    # Arrow→pandas turns a null int64 offset into NaN — normalize.
    return extract_dv_blob(blob, None if off is None or off != off else int(off))


def read_dv_row_indexes(storage, table_path: str, dv: dict) -> list[int]:
    """Materialize a DV descriptor into deleted row indexes.

    All I/O goes through the table's storage handler, so non-local tables
    (HadoopStorage) work; the per-blob CRC32 is verified.
    """
    return decode_treemap(_dv_bitmap(table_path, dv, storage.read_bytes))


def deleted_row_indexes(table_path: str, dv: dict, blob_cache: dict):
    """A DV descriptor → int64 numpy array of its deleted row indexes.
    Executor-safe: DV files open through ``pyarrow.fs``
    (file/hdfs/s3 URIs); ``blob_cache`` (path → bytes, kept by the caller
    for one task) reads a DV file shared by many descriptors once."""
    import numpy as np

    from delta_kernel_rs_spark.sources.delta_paths import arrow_fs_and_path

    def read_file(path: str) -> bytes:
        blob = blob_cache.get(path)
        if blob is None:
            fs, rel = arrow_fs_and_path(path)
            with fs.open_input_stream(rel) as fh:
                blob = blob_cache[path] = fh.read()
        return blob

    return np.asarray(
        decode_treemap(_dv_bitmap(table_path, dv, read_file)), dtype=np.int64
    )


def live_row_filter(descriptors: dict[str, dict], table_path: str):
    """Boolean Arrow UDF over (``_metadata.file_path``, physical row
    index): False for a row its file's deletion vector hides.

    ``descriptors`` maps each DV-carrying file's plain absolute path to its
    descriptor. It is O(DV files) and travels in the UDF closure (Spark
    broadcasts a large one); the bitmaps decode only inside the executor
    task, once per file per task — the reference's per-file selection
    vector (kernel/src/scan/mod.rs:858-864, :1330-1406) with no shuffle.
    The UDF takes Spark's raw URI and decodes each distinct path of a batch
    itself: a decoded column passed in would be inlined by Catalyst's
    filter pushdown and evaluated per row a second time wherever the scan
    also keeps the path. Spark's ``_metadata.row_index`` is the physical
    position even after row-group pruning, so pushed-down predicates stay
    correct below it.
    """
    from pyspark.sql.functions import arrow_udf

    def keep(batches: Iterator[tuple[pa.Array, pa.Array]]) -> Iterator[pa.Array]:
        import numpy as np
        import pyarrow.compute as pc

        # imported here: the worker must resolve the modules, not the closure
        from delta_kernel_rs_spark.functions.dv import deleted_row_indexes
        from delta_kernel_rs_spark.sources.scan import plain_file_path

        blob_cache: dict[str, bytes] = {}
        last_path, deleted = None, None
        for paths, rows in batches:
            codes = pc.dictionary_encode(paths)
            ids = codes.indices.to_numpy(zero_copy_only=False)
            ri = rows.to_numpy(zero_copy_only=False)
            out = np.empty(len(ri), dtype=bool)
            for code, path in enumerate(codes.dictionary.to_pylist()):
                if path != last_path:  # a task reads its files one by one
                    deleted = deleted_row_indexes(
                        table_path, descriptors[plain_file_path(path)], blob_cache
                    )
                    last_path = path
                sel = ids == code
                out[sel] = ~np.isin(ri[sel], deleted)
            yield pa.array(out)

    return arrow_udf(keep, "boolean")


def write_dv_file(storage, table_path: str, dv_blobs: list[bytes]) -> tuple[str, list[tuple[int, int]]]:
    """Write one DV file holding N bitmaps; returns (encoded_uuid_path,
    [(offset, size)]) for descriptor construction."""
    u = _uuid.uuid4()
    payload = bytearray(b"\x01")
    spans: list[tuple[int, int]] = []
    for data in dv_blobs:
        offset = len(payload)
        payload += struct.pack(">I", len(data))
        payload += data
        payload += struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF)
        spans.append((offset, len(data)))
    name = f"deletion_vector_{u}.bin"
    storage.put_overwrite(f"{table_path.rstrip('/')}/{name}", bytes(payload))
    return z85_encode(u.bytes), spans


def dv_diff_from_df(desc_df, table_path: str):
    """DataFrame-fed DV pair diff (executor-side decode).

    ``desc_df`` columns: group, file_path, version, ts_ms, old_st, old_p,
    old_off, new_st, new_p, new_off — the old/new DV descriptor fields
    (storageType, pathOrInlineDv, offset), nulls for an absent side.
    Output one row per differing row index: (group, file_path, version,
    ts_ms, row_index, side) with side 'new_only' (newly deleted) or
    'old_only' (restored). A null old side makes every new index
    'new_only' — the shape exclusion sets need.

    The *descriptors* are tiny and parallelize; the bitmaps (potentially
    hundreds of millions of indexes per file on a 100 TB table) are only
    ever materialized inside executor workers — the driver never sees a
    row index (reference resolves DV sibling pairs the same way,
    table_changes/resolve_dvs.rs; scan twin: live_row_filter).
    """
    import pandas as pd

    def diff(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from delta_kernel_rs_spark.functions.dv import deleted_row_indexes

        blob_cache: dict[str, bytes] = {}

        def indexes(st, p_or_inline, off) -> set[int]:
            if st is None or (isinstance(st, float) and pd.isna(st)):
                return set()
            dv = {"storageType": st, "pathOrInlineDv": p_or_inline, "offset": off}
            return set(deleted_row_indexes(table_path, dv, blob_cache).tolist())

        for pdf in batches:
            for r in pdf.itertuples(index=False):
                old = indexes(r.old_st, r.old_p, r.old_off)
                new = indexes(r.new_st, r.new_p, r.new_off)
                for side, vals in (("new_only", new - old), ("old_only", old - new)):
                    ordered = sorted(vals)
                    for start in range(0, len(ordered), 1 << 20):
                        chunk = ordered[start : start + (1 << 20)]
                        if not chunk:
                            continue
                        yield pd.DataFrame(
                            {
                                "group": [r.group] * len(chunk),
                                "file_path": [r.file_path] * len(chunk),
                                "version": pd.Series([r.version] * len(chunk), dtype="int64"),
                                "ts_ms": pd.Series([r.ts_ms] * len(chunk), dtype="int64"),
                                "row_index": pd.Series(chunk, dtype="int64"),
                                "side": [side] * len(chunk),
                            }
                        )

    return desc_df.mapInPandas(
        diff,
        "group STRING, file_path STRING, version LONG, ts_ms LONG,"
        " row_index LONG, side STRING",
    )


def dv_blobs_from_hits_df(hits_df, table_path: str, old_dvs: dict[str, dict]):
    """Executor-side DV bitmap construction: one serialized roaring
    treemap per file.

    ``hits_df`` columns: ``__file_path``, ``__row_index`` (the newly
    deleted rows). ``old_dvs`` maps each candidate file that already has
    a deletion vector (plain absolute path, as ``__file_path`` spells it)
    to its CURRENT descriptor; like :func:`live_row_filter`'s, it is
    O(DV files) and travels in the task closure, so no join brings the
    descriptors to the hits. Groups by file; each executor task merges
    the existing DV's indexes, serializes the treemap (reference DV
    writer kernel/src/actions/deletion_vector_writer.rs), and emits ONE
    (file_path, blob, cardinality) row. The driver collects only the
    compressed blobs — never row-index lists, whose size is O(deleted
    rows) and unbounded for a broad predicate on a 100 TB table.
    """
    import pandas as pd

    def build(pdf: "pd.DataFrame") -> "pd.DataFrame":
        from delta_kernel_rs_spark.functions.dv import deleted_row_indexes

        path = pdf["__file_path"].iloc[0]
        idx = {int(i) for i in pdf["__row_index"]}
        dv = old_dvs.get(path)
        if dv is not None:
            idx.update(deleted_row_indexes(table_path, dv, {}).tolist())
        data = encode_treemap(sorted(idx))
        return pd.DataFrame(
            {"file_path": [path], "blob": [data], "cardinality": [len(idx)]}
        )

    return hits_df.groupBy("__file_path").applyInPandas(
        build, "file_path STRING, blob BINARY, cardinality LONG"
    )
