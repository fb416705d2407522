"""Differential test of the live-row read through deletion vectors.

A DV-carrying file's live rows are "file minus bitmap", selected by the
physical parquet row index (reference kernel/src/scan/mod.rs:858-864).
Three readers must agree row for row:

- ``Scan.to_df()`` (``DeltaTable.to_df``), which also feeds the DML
  candidate read (delete / update / merge / maintenance);
- the facade, ``spark.read.format("delta_kernel")``;
- a row model built here from the data files themselves (pyarrow, in
  physical row order) and the row indexes this test deletes.

The tables are written by Spark with tiny parquet row groups, so a range
predicate prunes row groups inside a DV file, and the DV descriptors are
committed by hand to cover every storage type: inline (``i``), relative
(``u``, several bitmaps in one DV file, so nonzero offsets) and absolute
(``p``).
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from delta_kernel_rs_spark.functions.dv import (
    dv_absolute_path,
    encode_treemap,
    write_dv_file,
    z85_encode,
)
from delta_kernel_rs_spark.functions.schema_codec import physical_name
from delta_kernel_rs_spark.sources.batch_source import register_batch_source
from delta_kernel_rs_spark.sources.delete import (
    _dv_protocol_upgrade,
    _rel_path,
    delete_with_dvs,
)
from delta_kernel_rs_spark.sources.table import DeltaTable
from delta_kernel_rs_spark.sources.transaction import begin

N_FILES = 4
ROWS_PER_FILE = 600
COLS = ["id", "val", "s"]


def _frame(spark, lo, hi, partitioned, pvals=("0", "1")):
    # two partition values per task: half the tasks give the same file count
    tasks = N_FILES // 2 if partitioned else N_FILES
    df = spark.range(lo, hi, 1, tasks).select(
        F.col("id"),
        (F.col("id") * 7 % 101).alias("val"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("s"),
    )
    if partitioned:
        df = df.withColumn("p", F.when(F.col("id") % 2 == 0, pvals[0]).otherwise(pvals[1]))
    return df


class Model:
    """Live rows per data file, keyed by physical row index."""

    def __init__(self, t: DeltaTable):
        self.t = t
        snap = t.snapshot()
        self.cols = [f.name for f in snap.schema.fields]
        phys = {physical_name(f): f.name for f in snap.schema.fields}
        self.rows: dict[str, list[dict]] = {}
        self.base_row_id: dict[str, int] = {}
        self.deleted: dict[str, set[int]] = {}
        for f in snap.scan().files():
            table = pq.read_table(f.path)
            recs = table.rename_columns([phys[c] for c in table.column_names]).to_pylist()
            pv = {
                phys.get(k, k): v for k, v in (f.partition_values or {}).items()
            }
            self.rows[f.path] = [{**r, **pv} for r in recs]
            self.base_row_id[f.path] = f.base_row_id
            self.deleted[f.path] = set()

    def live(self, columns=None, keep=lambda r: True, row_ids=False):
        cols = columns or self.cols
        out = []
        for path, rows in self.rows.items():
            for i, r in enumerate(rows):
                if i in self.deleted[path] or not keep(r):
                    continue
                row = tuple(r[c] for c in cols)
                if row_ids:
                    row += (self.base_row_id[path] + i,)
                out.append(row)
        return sorted(out)

    def logical(self) -> dict[int, tuple]:
        return {r[0]: r for r in self.live()}


def _attach_dvs(t: DeltaTable, model: Model, picks: dict[str, tuple[str, list[int]]]):
    """Commit DVs: ``picks`` maps data file -> (storage type, row indexes to
    delete). 'u' and 'p' bitmaps of one call share one DV file each."""
    snap = t.snapshot()
    meta = {
        r.file_path: r
        for r in snap.scan().scan_files_df().collect()
        if r.file_path in picks
    }
    descs: dict[str, dict] = {}
    for st in ("u", "p"):
        paths = sorted(p for p, (s, _) in picks.items() if s == st)
        if not paths:
            continue
        blobs = []
        for p in paths:
            model.deleted[p] |= set(picks[p][1])
            blobs.append(encode_treemap(sorted(model.deleted[p])))
        enc, spans = write_dv_file(t.storage, t.path, blobs)
        where = enc
        if st == "p":
            where = dv_absolute_path(t.path, {"storageType": "u", "pathOrInlineDv": enc})
        for p, (offset, size) in zip(paths, spans):
            descs[p] = {
                "storageType": st,
                "pathOrInlineDv": where,
                "offset": offset,
                "sizeInBytes": size,
                "cardinality": len(model.deleted[p]),
            }
    for p, (st, idx) in picks.items():
        if st == "i":
            model.deleted[p] |= set(idx)
            blob = encode_treemap(sorted(model.deleted[p]))
            descs[p] = {
                "storageType": "i",
                "pathOrInlineDv": z85_encode(blob),
                "offset": None,
                "sizeInBytes": len(blob),
                "cardinality": len(model.deleted[p]),
            }
    upgrade = _dv_protocol_upgrade(snap)
    actions = [upgrade] if upgrade else []
    for p, dv in descs.items():
        r = meta[p]
        rel = _rel_path(t.path, p)
        pv = dict(r.partition_values or {})
        old = r.deletion_vector.asDict() if r.deletion_vector else None
        actions.append(
            {
                "remove": {
                    "path": rel,
                    "deletionTimestamp": 0,
                    "dataChange": True,
                    "extendedFileMetadata": True,
                    "partitionValues": pv,
                    "size": r.size,
                    "deletionVector": old,
                }
            }
        )
        actions.append(
            {
                "add": {
                    "path": rel,
                    "partitionValues": pv,
                    "size": r.size,
                    "modificationTime": r.modification_time,
                    "dataChange": True,
                    "stats": r.stats,
                    "baseRowId": r.base_row_id,
                    "defaultRowCommitVersion": r.default_row_commit_version,
                    "deletionVector": dv,
                }
            }
        )
    txn = begin(t, "DELETE", snap)
    txn.add_actions(actions)
    return txn.commit()


def _build(spark, path, *, partitioned, column_mapping, pvals=("0", "1")):
    props = {"delta.enableRowTracking": "true"}
    if column_mapping:
        props["delta.columnMapping.mode"] = "name"
    spark.conf.set("parquet.block.size", "4096")  # many small row groups
    try:
        t = DeltaTable.create(
            spark,
            path,
            df=_frame(spark, 0, N_FILES * ROWS_PER_FILE, partitioned, pvals),
            partition_by=["p"] if partitioned else None,
            properties=props,
        )
    finally:
        spark.conf.unset("parquet.block.size")
    model = Model(t)
    files = sorted(model.rows)
    assert len(files) == N_FILES
    assert all(pq.ParquetFile(f).metadata.num_row_groups > 2 for f in files)
    kinds = ["i", "u", "u", "p"]
    picks = {
        f: (kinds[n % 4], list(range(n, len(model.rows[f]), 3 + n)))
        for n, f in enumerate(files)
    }
    _attach_dvs(t, model, picks)
    # a second 'u' DV file, shared again: nonzero offsets on a re-deleted file
    _attach_dvs(t, model, {files[1]: ("u", [1, 2]), files[2]: ("u", [200, 201])})
    return t, model


def _scan_rows(t, columns=None, predicate=None, with_row_ids=False):
    df = t.to_df(columns=columns, predicate=predicate, with_row_ids=with_row_ids)
    cols = (columns or t.snapshot().schema.fieldNames()) + (
        ["row_id"] if with_row_ids else []
    )
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _facade_rows(spark, t, columns=None, predicate=None):
    register_batch_source(spark)
    df = spark.read.format("delta_kernel").load(t.path)
    if predicate is not None:
        df = df.filter(predicate)
    cols = columns or t.snapshot().schema.fieldNames()
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _assert_all_equal(spark, t, want, columns=None, predicate=None):
    assert _scan_rows(t, columns, predicate) == want
    assert _facade_rows(spark, t, columns, predicate) == want


@pytest.fixture(scope="module")
def flat(spark, tmp_path_factory):
    return _build(
        spark, str(tmp_path_factory.mktemp("dvlive") / "flat"),
        partitioned=False, column_mapping=False,
    )


@pytest.fixture(scope="module")
def part_cm(spark, tmp_path_factory):
    return _build(
        spark, str(tmp_path_factory.mktemp("dvlive") / "part_cm"),
        partitioned=True, column_mapping=True,
    )


def test_every_storage_type_and_shared_dv_files(spark, flat):
    t, model = flat
    dvs = [f.dv for f in t.snapshot().scan().files()]
    assert sorted(d["storageType"] for d in dvs) == ["i", "p", "u", "u"]
    assert sum(1 for d in dvs if d["storageType"] == "u" and d["offset"] > 1) >= 1
    assert {d["pathOrInlineDv"] for d in dvs if d["storageType"] == "u"} == {
        dvs[[d["storageType"] for d in dvs].index("u")]["pathOrInlineDv"]
    }  # both 'u' descriptors point into one shared DV file
    want = model.live()
    assert len(want) < N_FILES * ROWS_PER_FILE
    _assert_all_equal(spark, t, want)


def test_partitioned_with_column_mapping(spark, part_cm):
    t, model = part_cm
    assert t.snapshot().metadata.partition_columns == ["p"]
    _assert_all_equal(spark, t, model.live())


def test_partition_paths_spark_percent_encodes(spark, tmp_path):
    """DV files under partition directories whose names Spark reports
    percent-encoded in ``_metadata.file_path`` (space, '%', '+', ':'):
    the keep filter must map each URI back to its log path."""
    t, model = _build(
        spark, str(tmp_path / "t"), partitioned=True, column_mapping=False,
        pvals=("a b:c", "100%+x"),
    )
    assert any("%" in p for p in model.rows)
    _assert_all_equal(spark, t, model.live())


@pytest.mark.parametrize("columns", [["val", "id"], ["s"]])
def test_columns_subset(spark, flat, part_cm, columns):
    for t, model in (flat, part_cm):
        cols = [c for c in model.cols if c in columns]
        _assert_all_equal(spark, t, model.live(cols), columns=cols)
    t, model = part_cm
    _assert_all_equal(spark, t, model.live(["p"]), columns=["p"])


def test_predicate_prunes_row_groups_inside_dv_file(spark, flat, part_cm):
    for t, model in (flat, part_cm):
        # a window in the middle of one DV file: its first row groups are
        # pruned, so physical row index != position among the rows read
        path = sorted(model.rows)[2]
        ids = [r["id"] for r in model.rows[path]]
        n = len(ids)
        lo, hi = ids[n // 2], ids[n // 2 + n // 5]
        md = pq.ParquetFile(path).metadata
        assert md.num_row_groups > 2 and md.row_group(0).num_rows < n // 2
        keep = lambda r: lo <= r["id"] < hi  # noqa: E731
        pred = f"id >= {lo} AND id < {hi}"
        want = model.live(keep=keep)
        assert 0 < len(want) < hi - lo  # the window holds deleted rows
        _assert_all_equal(spark, t, want, predicate=pred)


def test_row_ids_are_base_row_id_plus_physical_index(spark, flat):
    t, model = flat
    assert _scan_rows(t, with_row_ids=True) == model.live(COLS, row_ids=True)
    path = sorted(model.rows)[3]
    lo = model.rows[path][250]["id"]
    hi = model.rows[path][400]["id"]
    assert _scan_rows(t, predicate=f"id >= {lo} AND id < {hi}", with_row_ids=True) == (
        model.live(COLS, keep=lambda r: lo <= r["id"] < hi, row_ids=True)
    )


def test_delete_with_dvs_twice_merges_the_old_dv(spark, tmp_path):
    t, model = _build(spark, str(tmp_path / "t"), partitioned=True, column_mapping=True)
    for pred, hit in (("id % 5 = 0", lambda r: r["id"] % 5 == 0),
                      ("id % 3 = 0", lambda r: r["id"] % 3 == 0)):
        delete_with_dvs(t, pred)
        for path, rows in model.rows.items():
            model.deleted[path] |= {i for i, r in enumerate(rows) if hit(r)}
        _assert_all_equal(spark, t, model.live())
    for f in t.snapshot().scan().files():
        assert f.dv["cardinality"] == len(model.deleted[f.path])


def test_delete_with_dvs_at_a_file_uri_root(spark, tmp_path):
    """A table root given as a ``file://`` URI: the DV delete matches the
    hit files to their log entries, reads back like the plain path, and
    VACUUM finds nothing to remove."""
    path = str(tmp_path / "t")
    t = DeltaTable.create(spark, f"file://{path}", df=spark.range(0, 100, 1, 4))
    assert delete_with_dvs(t, "id % 10 = 0") == 1
    assert sum(1 for f in t.snapshot().scan().files() if f.dv) == 4
    want = [i for i in range(100) if i % 10]
    assert sorted(r.id for r in t.to_df().collect()) == want
    assert sorted(r.id for r in DeltaTable(spark, path).to_df().collect()) == want
    # every file is live: VACUUM must not take the log or the DV file for strays
    assert t.vacuum(retention_ms=0, dry_run=True) == []


def test_dml_on_dv_table(spark, tmp_path):
    t, model = _build(spark, str(tmp_path / "t"), partitioned=False, column_mapping=True)
    rows = model.logical()  # id -> (id, val, s)

    def check():
        want = sorted(rows.values())
        _assert_all_equal(spark, t, want)

    t.update("id < 700", {"val": "val + 1000"})
    rows = {k: (k, v + 1000, s) if k < 700 else (k, v, s) for k, (_, v, s) in rows.items()}
    check()

    gone = next(k for k in range(N_FILES * ROWS_PER_FILE) if k not in rows)
    live = next(iter(sorted(rows)))
    src = spark.createDataFrame(
        [(gone, -1, "ins"), (live, -2, "upd"), (10_000, -3, "new")],
        "id LONG, val LONG, s STRING",
    )
    t.upsert(src, keys=["id"])  # a DV-hidden key is not matched: inserted
    rows.update({gone: (gone, -1, "ins"), live: (live, -2, "upd"),
                 10_000: (10_000, -3, "new")})
    check()

    t.delete("id % 7 = 0")
    rows = {k: r for k, r in rows.items() if k % 7}
    check()

    t.set_properties({"delta.rowTrackingSuspended": "true"})  # lets PURGE run
    t.purge_deletion_vectors()
    assert all(f.dv is None for f in t.snapshot().scan().files())
    check()
