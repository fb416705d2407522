#!/usr/bin/env python
"""Engine-native metadata benchmarks — the reference's workload_bench set.

Replicates the reference's registered metadata benchmark cases
(benchmarks/benches/workload_bench.rs:24-80, bench-registry.json) with
this engine's analogues, per BASELINE.md's replication list:

- ``10kAdds*/readMetadataLatest``: scan-files materialization on a
  generated 10k-add table, measured three ways — log-only (no
  checkpoint), after a V1 checkpoint, after a V2+sidecar checkpoint.
- ``read_data_latest``: ``to_df()`` + ``count()`` over every live file of
  the same table (log only), so the data read's per-file costs (path
  listing, file opens) are measured at 10k files.
- ``read_metadata_pruned_{cold,warm}``: building ``to_df()`` under a
  stats-pruned predicate (one file's key range) on the same version:
  the file-skipping evaluator over every live file's stats plus the read
  plan. ``cold`` is the process's first such build (the version's scan
  rows already cached), ``warm`` the min of two later ones. Reported
  under ``pruned_queries``, outside ``value``.
- ``crc*/snapshotLatest``: Snapshot.create (P&M resolution) with a fresh
  CRC at the tip vs a stale one far behind vs none at all.
- ``cdf_plan_long_range_<N>``: ``table_changes`` over N single-add
  commits (500 and 5,000), built and counted — the change-feed
  classifier parses every commit of the range on the driver, one after
  another. ``cdf_plan_large_commit_50000``: the same over one commit of
  50,000 adds. ``*_build`` times the build alone. These arms are
  reported under ``cdf_queries`` with their own total ``cdf_plan_sec``,
  outside ``value``.
- ``300k*``: the same two paths on the reference's pathological
  300k-add / 100-partition-column log (mem-test/tests/
  dhat_large_table_log.rs gates the reference on this exact table) —
  metadata regressions AT SCALE are gated per-round, not just the 10k
  happy path. ``--skip-large`` omits it (table extraction needs the
  reference checkout).

- ``write_*``: append, DV delete (``write_dv_delete_1pct``), OPTIMIZE and
  checkpoint on a 200-file table; ``spark_jobs`` gives the Spark job
  count of each of the DV delete's timed runs.
- ``stats_footer_<N>``: the write path's footer stats
  (``collect_file_stats_footer``) over N freshly written local files
  (2, 2,000, and 10,000 = CONVERT's chunk); ``<arm>_cold`` first drops
  each file's pages from the OS cache (``posix_fadvise`` DONTNEED), as
  CONVERT meets files written long before. Reported under
  ``stats_footer_queries``, outside ``value``.

Prints ONE JSON line so the per-round artifact can feed
scripts/bench_compare.py exactly like BENCH does:

    {"metric": "metadata_bench_sec", "value": <total>, "unit": "sec",
     "queries": {"read_metadata_log_only": ..., ...}, "adds": 10000,
     "spark_jobs": {"write_dv_delete_1pct": [<jobs>, <jobs>]},
     "cdf_plan_sec": <total>, "cdf_queries": {...},
     "pruned_queries": {...}, "stats_footer_queries": {...}}

Usage: python scripts/bench_metadata.py [--adds 10000] [--commits 20]
Writes the table under $TMPDIR; each timing is min-of-2 (warm JVM).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def _build_table(spark, path: str, adds: int, commits: int):
    """A log with ``commits`` commits totalling ``adds`` add actions,
    written through the engine's own transaction path (multi-file
    commits via repartition, so the log shape matches the reference's
    generated workload tables)."""
    from pyspark.sql import functions as F

    from delta_kernel_rs_spark.sources.table import DeltaTable

    files_per_commit = max(1, adds // commits)
    rows_per_commit = files_per_commit * 4

    def batch(i):
        return (
            spark.range(i * rows_per_commit, (i + 1) * rows_per_commit)
            .select(
                F.col("id").alias("k"),
                (F.col("id") % 97).alias("v"),
            )
            .repartition(files_per_commit)
        )

    t = DeltaTable.create(spark, path, df=batch(0))
    for i in range(1, commits):
        t.append(batch(i), auto_checkpoint=False)
    return t


#: reference fixture: 300k add actions over 100 partition columns
#: (kernel/tests/data/300k-add-files-100-col-partitioned.tar.zst)
LARGE_TABLE = "300k-add-files-100-col-partitioned"
LARGE_TABLE_TAR = f"/root/reference/kernel/tests/data/{LARGE_TABLE}.tar.zst"
EXTRACT_ROOT = "/tmp/dkrs_ref_data"  # shared with tests' extract cache


#: (arm name, commits, adds per commit after the first): long ranges of
#: one-add commits, and one commit of 50k adds
CDF_ARMS = [
    ("cdf_plan_long_range_500", 500, 1),
    ("cdf_plan_long_range_5000", 5000, 1),
    ("cdf_plan_large_commit_50000", 2, 50_000),
]


def _cdf_plan(spark, root: str, commits: int, adds: int = 1) -> tuple[float, float]:
    """(build, build + count) seconds of ``table_changes`` over versions
    0..``commits``-1 of a 10-row CDF table whose later commits each add
    ``adds`` hard links of its one data file, written straight into the
    log (building them through the write path would dominate the set-up)."""
    from pyspark.sql import functions as F

    from delta_kernel_rs_spark.sources.cdf import table_changes
    from delta_kernel_rs_spark.sources.table import DeltaTable

    path = os.path.join(root, f"cdf{commits}x{adds}")
    DeltaTable.create(
        spark,
        path,
        df=spark.range(0, 10, 1, 1).select(F.col("id").alias("k")),
        properties={"delta.enableChangeDataFeed": "true"},
    )
    src = os.path.join(path, next(p for p in os.listdir(path) if p.endswith(".parquet")))
    size = os.path.getsize(src)
    for v in range(1, commits):
        lines = [json.dumps({"commitInfo": {"timestamp": v, "operation": "WRITE"}})]
        for i in range(adds):
            name = f"part-synth-{v:05d}-{i:06d}.parquet"
            os.link(src, os.path.join(path, name))
            lines.append(json.dumps({"add": {
                "path": name, "partitionValues": {}, "size": size,
                "modificationTime": v, "dataChange": True}}))
        with open(os.path.join(path, "_delta_log", f"{v:020d}.json"), "w") as fh:
            fh.write("\n".join(lines) + "\n")

    def build():
        return table_changes(spark, path, 0, commits - 1)

    def build_count():
        n = build().count()
        assert n == 10 * (1 + (commits - 1) * adds), n

    build_count()  # warm
    return _timed(build), _timed(build_count)


#: file counts of the ``stats_footer_*`` arms
STATS_FOOTER_FILES = (2, 2_000, 10_000)


def _stats_footer(spark, root: str, n_files: int) -> tuple[float, float]:
    """(warm, cold) seconds of footer stats over ``n_files`` local parquet
    files of 100 rows and three columns, written with pyarrow; each is the
    min of 2. A cold run first flushes each file and drops its pages from
    the OS cache."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from delta_kernel_rs_spark.functions import stats

    out = os.path.join(root, f"footers{n_files}")
    os.makedirs(out)
    paths = []
    for i in range(n_files):
        k = list(range(i * 100, (i + 1) * 100))
        p = os.path.join(out, f"part-{i:05d}.parquet")
        pq.write_table(pa.table({"k": k, "v": [x % 97 for x in k], "s": [f"s{x}" for x in k]}), p)
        paths.append(p)
    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v", T.LongType()),
        T.StructField("s", T.StringType()),
    ])

    def collect():
        got = stats.collect_file_stats_footer(spark, paths, schema)
        assert len(got) == n_files and all(got.values())

    def evict():
        for p in paths:
            fd = os.open(p, os.O_RDONLY)
            try:
                os.fsync(fd)
                os.posix_fadvise(fd, 0, 0, os.POSIX_FADV_DONTNEED)
            finally:
                os.close(fd)

    cold = float("inf")
    for _ in range(2):
        evict()
        t0 = time.perf_counter()
        collect()
        cold = min(cold, time.perf_counter() - t0)
    return _timed(collect), round(cold, 4)


def _extract_large_table() -> str | None:
    if not os.path.exists(LARGE_TABLE_TAR):
        return None
    from delta_kernel_rs_spark.tarzst import extract_tar_zst

    dest = os.path.join(EXTRACT_ROOT, LARGE_TABLE)
    if not os.path.isdir(dest):
        extract_tar_zst(LARGE_TABLE_TAR, EXTRACT_ROOT)
    return dest


def _spark_jobs(spark, fn) -> int:
    """Spark jobs that ``fn()`` starts: run it under its own job group and
    count that group's jobs with the status tracker."""
    sc = spark.sparkContext
    group = f"bench-metadata-{time.monotonic_ns()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _timed(fn, reps: int = 2) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--adds", type=int, default=10_000)
    ap.add_argument("--commits", type=int, default=20)
    ap.add_argument("--skip-large", action="store_true",
                    help="omit the 300k-add pathological-log cases")
    args = ap.parse_args()

    from delta_kernel_rs_spark.session import get_spark
    from delta_kernel_rs_spark.sources.snapshot import Snapshot

    spark = get_spark(cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    results: dict[str, float] = {}
    spark_jobs: dict[str, list[int]] = {"write_dv_delete_1pct": []}
    pruned: dict[str, float] = {}

    with tempfile.TemporaryDirectory(prefix="dkrs_meta_bench_") as root:
        path = os.path.join(root, "tbl")
        t = _build_table(spark, path, args.adds, args.commits)

        def read_metadata():
            # the reference's readMetadata: full replay -> live file list,
            # materialized (count forces the job) but never driver-held
            snap = Snapshot.create(spark, path)
            return snap.scan().scan_files_df().count()

        n_files = read_metadata()
        results["read_metadata_log_only"] = _timed(read_metadata)

        def read_data():
            # the data read over every live file: to_df() + count()
            return t.to_df().count()

        n_rows = read_data()
        results["read_data_latest"] = _timed(read_data)

        snap = Snapshot.create(spark, path)

        def read_metadata_pruned():
            return snap.scan(predicate="k >= 10 AND k < 20").to_df()

        pruned["read_metadata_pruned_cold"] = _timed(read_metadata_pruned, reps=1)
        pruned["read_metadata_pruned_warm"] = _timed(read_metadata_pruned)

        t.checkpoint()
        results["read_metadata_v1_checkpoint"] = _timed(read_metadata)

        t.checkpoint(v2=True)
        results["read_metadata_v2_checkpoint"] = _timed(read_metadata)

        # snapshotLatest (P&M resolution, no scan) with the reference's CRC
        # staleness arms (crcLatest / crcVeryStale / none). The commit path
        # maintains the chain automatically, so "fresh" is the default
        # state; the stale/none arms are constructed by deleting CRCs.
        log_dir = os.path.join(path, "_delta_log")
        tip = Snapshot.create(spark, path).version

        def snapshot_latest():
            return Snapshot.create(spark, path).version

        results["snapshot_latest_crc_fresh"] = _timed(snapshot_latest)

        crcs = sorted(f for f in os.listdir(log_dir) if f.endswith(".crc"))
        for f in crcs[2:]:  # keep only the earliest two: very stale
            os.rename(os.path.join(log_dir, f), os.path.join(root, f))
        results["snapshot_latest_crc_stale"] = _timed(snapshot_latest)

        for f in crcs[:2]:
            os.rename(os.path.join(log_dir, f), os.path.join(root, f))
        results["snapshot_latest_no_crc"] = _timed(snapshot_latest)

        for f in crcs:  # restore the chain
            os.rename(os.path.join(root, f), os.path.join(log_dir, f))

        # -- write path (r9 VERDICT next #3): append / DV delete / OPTIMIZE
        # / checkpoint, on a purpose-built 200-file table so the arms stay
        # comparable across rounds regardless of the metadata table's
        # shape. Same min-of-N protocol; OPTIMIZE is timed once (its first
        # run compacts the fragmentation away — a min over reps would time
        # the no-op).
        from pyspark.sql import functions as F

        from delta_kernel_rs_spark.sources.checkpoint import write_checkpoint
        from delta_kernel_rs_spark.sources.delete import delete_with_dvs
        from delta_kernel_rs_spark.sources.table import DeltaTable

        wpath = os.path.join(root, "wtbl")
        wdf = spark.range(200_000).select(
            F.col("id").alias("k"), (F.col("id") % 97).alias("v")
        )
        wt = DeltaTable.create(spark, wpath, df=wdf.repartition(100))
        wt.append(wdf.repartition(100), auto_checkpoint=False)  # 200 files

        frame = spark.range(20_000).select(
            F.col("id").alias("k"), (F.col("id") % 97).alias("v")
        ).repartition(8)
        frame.collect()  # materialize inputs outside the timed window
        results["write_append_commit"] = _timed(
            lambda: wt.append(frame, auto_checkpoint=False)
        )

        # ~1% of rows (one of 97 v-buckets), DVs across many files — the
        # realistic worst case for row-level deletes; each delete's Spark
        # job count is reported beside the time
        preds = iter(["v = 3", "v = 5"])
        results["write_dv_delete_1pct"] = _timed(
            lambda: spark_jobs["write_dv_delete_1pct"].append(
                _spark_jobs(spark, lambda: delete_with_dvs(wt, next(preds)))
            )
        )

        t0 = time.perf_counter()
        wt.optimize()
        results["write_optimize_compact"] = round(time.perf_counter() - t0, 4)

        results["write_checkpoint_v1"] = _timed(
            lambda: write_checkpoint(spark, wpath)
        )

    large_files = None
    if not args.skip_large:
        large = _extract_large_table()
        if large is not None:

            def read_metadata_large():
                snap = Snapshot.create(spark, large)
                return snap.scan().scan_files_df().count()

            large_files = read_metadata_large()  # warm the extract/footers
            results["read_metadata_300k"] = _timed(read_metadata_large)
            results["snapshot_latest_300k"] = _timed(
                lambda: Snapshot.create(spark, large).version
            )

            # Incremental refresh — the path a long-lived 100 TB reader
            # actually exercises per commit (r10 VERDICT next #6): base =
            # the 300k-add log, +5 new commits of 100 adds each, timed as
            # Snapshot.create_from (baseline P&M, reads only the new
            # commits) + scan_files_df_from (anti-join merge against the
            # persisted prior frame). Compare against read_metadata_300k,
            # which re-replays all 300k adds from scratch.
            import json as _json
            import shutil

            with tempfile.TemporaryDirectory(prefix="dkrs_incr_") as iroot:
                itbl = os.path.join(iroot, "tbl")
                os.makedirs(itbl)
                shutil.copytree(
                    os.path.join(large, "_delta_log"),
                    os.path.join(itbl, "_delta_log"),
                )
                base_snap = Snapshot.create(spark, itbl)
                prior = base_snap.scan().scan_files_df().persist()
                prior.count()  # materialize the held state outside timing
                # 5 commits of 100 adds each, cloned from the tip commit's
                # own add actions (correct schema + partitionValues)
                log_dir = os.path.join(itbl, "_delta_log")
                tip_file = os.path.join(log_dir, f"{base_snap.version:020d}.json")
                sample = []
                with open(tip_file) as fh:
                    for line in fh:
                        if '"add"' in line:
                            sample.append(_json.loads(line)["add"])
                            if len(sample) == 100:
                                break
                for v in range(base_snap.version + 1, base_snap.version + 6):
                    lines = []
                    for i, add in enumerate(sample):
                        a = dict(add)
                        head, _, base_name = a["path"].rpartition("/")
                        a["path"] = (
                            f"{head}/incr{v}-{i}-{base_name}"
                            if head
                            else f"incr{v}-{i}-{base_name}"
                        )
                        lines.append(_json.dumps({"add": a}))
                    with open(os.path.join(log_dir, f"{v:020d}.json"), "w") as fh:
                        fh.write("\n".join(lines) + "\n")

                def refresh():
                    tip = Snapshot.create_from(base_snap)
                    return tip.scan_files_df_from(base_snap.version, prior).count()

                assert refresh() == large_files + 500
                results["read_metadata_300k_incr_refresh"] = _timed(refresh)
                prior.unpersist()

    # change-feed planning arms: reported apart, so ``value`` stays
    # comparable with runs that predate them
    cdf: dict[str, float] = {}
    with tempfile.TemporaryDirectory(prefix="dkrs_cdf_bench_") as root:
        for name, commits, adds in CDF_ARMS:
            cdf[f"{name}_build"], cdf[name] = _cdf_plan(spark, root, commits, adds)

    footer: dict[str, float] = {}
    with tempfile.TemporaryDirectory(prefix="dkrs_footer_bench_") as root:
        for n in STATS_FOOTER_FILES:
            footer[f"stats_footer_{n}"], footer[f"stats_footer_{n}_cold"] = _stats_footer(
                spark, root, n
            )

    total = round(sum(results.values()), 3)
    print(
        json.dumps(
            {
                "metric": "metadata_bench_sec",
                "value": total,
                "unit": "sec",
                "queries": results,
                "spark_jobs": spark_jobs,
                "cdf_plan_sec": round(sum(cdf.values()), 3),
                "cdf_queries": cdf,
                "pruned_queries": pruned,
                "stats_footer_queries": footer,
                "adds": args.adds,
                "commits": args.commits,
                "files_seen": n_files,
                "rows_seen": n_rows,
                "large_table_files": large_files,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
