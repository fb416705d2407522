"""Field-by-field pins on the file actions that row-level DML commits.

Each case builds a partitioned table with row tracking and column mapping,
gives one file a deletion vector, runs one DML statement and reads the
commit it wrote back from the log:

* every add the DV delete re-emits equals the file's previous add in
  every field but ``deletionVector``;
* every remove carries the previous add's exact DV, partition values and
  size;
* the new DV holds exactly the old DV's rows plus the rows the predicate
  matches, and its ``cardinality`` is that count.

One arm creates the table at a ``file://`` root.
"""

from __future__ import annotations

import json
import os
import urllib.parse

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from delta_kernel_rs_spark.functions.dv import read_dv_row_indexes
from delta_kernel_rs_spark.functions.schema_codec import physical_name
from delta_kernel_rs_spark.sources.delete import delete_with_dvs
from delta_kernel_rs_spark.sources.storage import LocalStorage
from delta_kernel_rs_spark.sources.table import DeltaTable

N = 240
#: merge source keys: half of every file's rows, the deleted key 3, one new key
MERGE_KEYS = [k for k in range(N) if k % 4 < 2] + [3, N + 5]


def _build(spark, root: str) -> DeltaTable:
    df = spark.range(N).select(
        F.col("id").alias("k"),
        (F.col("id") * 3).alias("v"),
        (F.col("id") % 2).cast("string").alias("p"),
    )
    t = DeltaTable.create(
        spark,
        root,
        df=df.repartition(3),
        partition_by=["p"],
        properties={
            "delta.enableRowTracking": "true",
            "delta.columnMapping.mode": "name",
        },
    )
    delete_with_dvs(t, "k = 3")  # one file carries a DV before the case
    return t


def _commit(local_root: str, version: int) -> list[dict]:
    log = os.path.join(local_root, "_delta_log", f"{version:020d}.json")
    with open(log) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _live_adds(local_root: str, version: int) -> dict[str, dict]:
    """Decoded path -> the live add at ``version``, by replaying JSON commits."""
    live: dict[str, dict] = {}
    for v in range(version + 1):
        for action in _commit(local_root, v):
            if "add" in action:
                live[urllib.parse.unquote(action["add"]["path"])] = action["add"]
            elif "remove" in action:
                live.pop(urllib.parse.unquote(action["remove"]["path"]), None)
    return live


def _dv_rows(local_root: str, dv: dict | None) -> set[int]:
    if not dv:
        return set()
    return set(read_dv_row_indexes(LocalStorage(), local_root, dv))


def _dml_cases(spark):
    src = spark.createDataFrame(
        [(k, -k, str(k % 2)) for k in MERGE_KEYS], "k LONG, v LONG, p STRING"
    )
    return {
        "dv_delete": (lambda t: delete_with_dvs(t, "k % 7 = 1"), lambda k: k % 7 != 1),
        "delete": (lambda t: t.delete("k % 7 = 2"), lambda k: k % 7 != 2),
        "update": (lambda t: t.update("k % 7 = 4", {"v": "v + 1"}), None),
        "merge": (lambda t: t.upsert(src, keys=["k"]), None),
    }


@pytest.mark.parametrize(
    "op,scheme",
    [
        ("dv_delete", ""),
        ("delete", ""),
        ("update", ""),
        ("merge", ""),
        ("dv_delete", "file://"),
        ("merge", "file://"),
    ],
)
def test_dml_commit_carries_previous_file_fields(spark, tmp_path, op, scheme):
    local_root = str(tmp_path / "tbl")
    t = _build(spark, scheme + local_root)
    before = t.snapshot().version
    prev = _live_adds(local_root, before)
    dv_file = [p for p, a in prev.items() if a.get("deletionVector")]
    assert len(dv_file) == 1

    run, keep = _dml_cases(spark)[op]
    version = run(t)
    assert version == before + 1
    actions = _commit(local_root, version)
    removes = [a["remove"] for a in actions if "remove" in a]
    assert removes, "the statement rewrote no file"
    assert dv_file[0] in {urllib.parse.unquote(r["path"]) for r in removes}

    for r in removes:
        old = prev[urllib.parse.unquote(r["path"])]
        assert r["path"] == old["path"]
        assert r["partitionValues"] == old["partitionValues"]
        assert r["size"] == old["size"]
        assert r.get("deletionVector") == old.get("deletionVector")
        assert r["dataChange"] is True

    if op == "dv_delete":
        schema = t.snapshot().schema
        k_phys = physical_name(next(f for f in schema.fields if f.name == "k"))
        adds = [a["add"] for a in actions if "add" in a]
        assert len(adds) == len(removes)
        for add in adds:
            old = prev[urllib.parse.unquote(add["path"])]
            strip = lambda a: {k: v for k, v in a.items() if k != "deletionVector"}  # noqa: E731
            assert strip(add) == strip(old)
            ks = pq.read_table(
                os.path.join(local_root, urllib.parse.unquote(add["path"])), columns=[k_phys]
            ).column(k_phys).to_pylist()
            hits = {i for i, k in enumerate(ks) if k % 7 == 1}
            want = _dv_rows(local_root, old.get("deletionVector")) | hits
            dv = add["deletionVector"]
            assert _dv_rows(local_root, dv) == want
            assert dv["cardinality"] == len(want)

    rows = {r.k: r.v for r in t.to_df().collect()}
    if keep is not None:
        assert set(rows) == {k for k in range(N) if k != 3 and keep(k)}
    elif op == "update":
        assert rows == {k: 3 * k + (k % 7 == 4) for k in range(N) if k != 3}
    else:
        want = {k: 3 * k for k in range(N) if k != 3}
        want.update({k: -k for k in MERGE_KEYS})
        assert rows == want
