"""Seeded Delta tables and the row model the benchmark checks results against.

Tables are built through the package's public API: ``DeltaTable.create``,
``Snapshot.create`` + ``Transaction.add_actions``/``commit`` for every
commit, ``DeltaTable.checkpoint``, and the deletion-vector codec in
``functions.dv``. Data files are written with pyarrow so a build of a
136-version table costs commits, not one Spark job per version.

The model is a numpy record of every generated row: its key, partition,
value, the version it was added at and the version it was deleted at
(``LIVE`` while it is still visible). Every read the benchmark makes is
checked against this record, never against the engine.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LIVE = np.int64(1 << 62)
N_PARTS = 4
#: logical bytes of one row as the benchmark submits it: id, part, val
ROW_BYTES = 8 + 4 + 8


def kernel_schema():
    """Logical schema of the kernel workloads' tables (partitioned by part)."""
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("part", T.IntegerType()),
        T.StructField("val", T.LongType()),
    ])


class RowModel:
    """Every row ever written to one table. Row ``i`` has key ``i``."""

    def __init__(self) -> None:
        self.part = np.zeros(0, dtype=np.int32)
        self.val = np.zeros(0, dtype=np.int64)
        self.added = np.zeros(0, dtype=np.int64)
        self.deleted = np.zeros(0, dtype=np.int64)
        #: version -> {change type: [rows, sum of val]}
        self.changes: dict[int, dict[str, list[int]]] = {}

    @property
    def n(self) -> int:
        return len(self.val)

    def add(self, part: np.ndarray, val: np.ndarray, version: int) -> tuple[int, int]:
        lo = self.n
        self.part = np.concatenate([self.part, part.astype(np.int32)])
        self.val = np.concatenate([self.val, val.astype(np.int64)])
        self.added = np.concatenate([self.added, np.full(len(val), version, np.int64)])
        self.deleted = np.concatenate([self.deleted, np.full(len(val), LIVE, np.int64)])
        self._change(version, "insert", val)
        return lo, self.n

    def delete(self, ids: np.ndarray, version: int) -> None:
        ids = ids[self.deleted[ids] == LIVE]
        self.deleted[ids] = version
        self._change(version, "delete", self.val[ids])

    def _change(self, version: int, kind: str, val: np.ndarray) -> None:
        c = self.changes.setdefault(version, {}).setdefault(kind, [0, 0])
        c[0] += len(val)
        c[1] += int(val.sum())

    def live(self, version: int) -> np.ndarray:
        return (self.added <= version) & (self.deleted > version)

    def range_agg(self, lo: int, hi: int, version: int) -> tuple[int, int]:
        """(rows, sum of val) of keys in [lo, hi) visible at ``version``."""
        m = self.live(version)[lo:hi]
        return int(m.sum()), int(self.val[lo:hi][m].sum())

    def changes_between(self, start: int, end: int) -> dict[str, tuple[int, int]]:
        out: dict[str, list[int]] = {}
        for v in range(start, end + 1):
            for kind, (n, s) in self.changes.get(v, {}).items():
                acc = out.setdefault(kind, [0, 0])
                acc[0] += n
                acc[1] += s
        return {k: (n, s) for k, (n, s) in out.items() if n}


class FileRec:
    __slots__ = ("path", "part", "lo", "hi", "size", "mtime", "stats", "version", "dv")

    def __init__(self, path, part, lo, hi, size, mtime, stats, version):
        self.path, self.part, self.lo, self.hi = path, part, lo, hi
        self.size, self.mtime, self.stats, self.version = size, mtime, stats, version
        self.dv = None


class TableBuilder:
    """Writes seeded commits to one table and keeps its model in step."""

    def __init__(self, spark, path: str, properties: dict[str, str]) -> None:
        from delta_kernel_rs_spark.sources.table import DeltaTable

        self.spark = spark
        self.path = path
        self.model = RowModel()
        self.files: list[FileRec] = []
        self.table = DeltaTable.create(
            spark, path, schema=kernel_schema(), partition_by=["part"], properties=properties
        )
        self.version = 0

    def _commit(self, operation: str, actions: list[dict]) -> int:
        from delta_kernel_rs_spark.sources.snapshot import Snapshot
        from delta_kernel_rs_spark.sources.transaction import Transaction

        snap = Snapshot.create(self.spark, self.path)
        v = Transaction(self.spark, self.path, operation, read_snapshot=snap).add_actions(
            actions
        ).commit()
        if v != self.version + 1:
            raise RuntimeError(f"expected version {self.version + 1}, committed {v}")
        self.version = v
        return v

    def append_files(self, rng: np.random.Generator, n_files: int, rows: tuple[int, int]) -> int:
        """One commit of ``n_files`` pyarrow-written files, contiguous keys."""
        version = self.version + 1
        actions = []
        for k in range(n_files):
            n = int(rng.integers(rows[0], rows[1]))
            part = int(rng.integers(0, N_PARTS))
            val = rng.integers(0, 1_000_000, size=n, dtype=np.int64)
            lo, hi = self.model.add(np.full(n, part), val, version)
            ids = np.arange(lo, hi, dtype=np.int64)
            rel = f"part={part}/v{version:05d}-{k}.parquet"
            full = f"{self.path}/{rel}"
            os.makedirs(os.path.dirname(full), exist_ok=True)
            pq.write_table(pa.table({"id": ids, "val": val}), full)
            st = os.stat(full)
            stats = json.dumps(
                {
                    "numRecords": n,
                    "minValues": {"id": lo, "val": int(val.min())},
                    "maxValues": {"id": hi - 1, "val": int(val.max())},
                    "nullCount": {"id": 0, "val": 0},
                }
            )
            rec = FileRec(rel, part, lo, hi, st.st_size, int(st.st_mtime * 1000), stats, version)
            self.files.append(rec)
            actions.append({"add": self._add_body(rec)})
        return self._commit("WRITE", actions)

    @staticmethod
    def _add_body(rec: FileRec) -> dict:
        body = {
            "path": rec.path,
            "partitionValues": {"part": str(rec.part)},
            "size": rec.size,
            "modificationTime": rec.mtime,
            "dataChange": True,
            "stats": rec.stats,
        }
        if rec.dv is not None:
            body["deletionVector"] = rec.dv
        return body

    @staticmethod
    def _remove_body(rec: FileRec) -> dict:
        body = {
            "path": rec.path,
            "deletionTimestamp": 0,
            "dataChange": True,
            "extendedFileMetadata": True,
            "partitionValues": {"part": str(rec.part)},
            "size": rec.size,
        }
        if rec.dv is not None:
            body["deletionVector"] = rec.dv
        return body

    def remove_file(self, rec: FileRec) -> int:
        version = self.version + 1
        self.model.delete(np.arange(rec.lo, rec.hi), version)
        self.files.remove(rec)
        return self._commit("DELETE", [{"remove": self._remove_body(rec)}])

    def add_dvs(self, rng: np.random.Generator, recs: list[FileRec], share: float) -> int:
        """One commit giving each of ``recs`` a deletion vector that hides a
        seeded ``share`` of its rows (remove + re-add, as a DV delete does)."""
        from delta_kernel_rs_spark.functions.dv import encode_treemap, write_dv_file
        from delta_kernel_rs_spark.sources.storage import storage_for

        version = self.version + 1
        blobs, picks = [], []
        for rec in recs:
            n = rec.hi - rec.lo
            idx = np.sort(rng.choice(n, size=max(1, int(n * share)), replace=False))
            blobs.append(encode_treemap([int(i) for i in idx]))
            picks.append(idx)
        uuid_enc, spans = write_dv_file(storage_for(self.spark, self.path), self.path, blobs)
        actions = []
        for rec, idx, (offset, size) in zip(recs, picks, spans):
            actions.append({"remove": self._remove_body(rec)})
            rec.dv = {
                "storageType": "u",
                "pathOrInlineDv": uuid_enc,
                "offset": offset,
                "sizeInBytes": size,
                "cardinality": len(idx),
            }
            actions.append({"add": self._add_body(rec)})
            self.model.delete(rec.lo + idx, version)
        return self._commit("DELETE", actions)


def stored_bytes(path: str) -> dict[str, int]:
    """Bytes under a table directory by kind: data, log, checkpoint, dv, cdc."""
    out = {"data": 0, "log": 0, "checkpoint": 0, "dv": 0, "cdc": 0}
    for root, _, names in os.walk(path):
        rel_root = os.path.relpath(root, path)
        for name in names:
            size = os.path.getsize(os.path.join(root, name))
            if rel_root.startswith("_delta_log"):
                out["checkpoint" if ".checkpoint" in name else "log"] += size
            elif rel_root.startswith("_change_data"):
                out["cdc"] += size
            elif name.startswith("deletion_vector_"):
                out["dv"] += size
            elif name.endswith(".parquet"):
                out["data"] += size
    return out
