"""Per-layer instrumentation for the traced run, and the per-layer metrics.

``install`` wraps each layer's public entry points (see trace.Tracer);
``layer_metrics`` turns the recorded spans, counters and the Spark event
log into the ``per_layer`` metrics named in BENCHMARK.json. Counts and
times are per op of the traced window (total ÷ ops attempted), so runs
that fit a different number of ops stay comparable; ratios name their
base; ``spark.*.<op>`` are medians over the ops of that type.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

OP_TYPES = (
    "point", "time_travel", "time_travel_json", "facade", "full",
    "append", "fresh_read", "dv_delete", "cdf_poll", "upsert", "curate",
)
LAYERS = (
    "storage", "log_segment", "snapshot", "crc", "scan", "dv", "txn", "stats",
    "checkpoint", "maintenance", "delete", "merge", "cdf", "facade", "operators",
    "spark", "op",
)
SPARK_STATS = ("jobs", "tasks", "shuffle_bytes", "executor_run_s")
BYTE_KINDS = ("data", "log", "checkpoint", "dv", "cdc")

_STORAGE_METHODS = {
    "list_dir": "list", "list_from": "list", "list_recursive": "list",
    "read_text": "read", "read_bytes": "read",
    "put_if_absent": "put", "put_overwrite": "put",
}


def install(tracer) -> None:
    """Wrap each layer's entry points where the engine looks them up."""
    from pyspark.sql.readwriter import DataFrameReader

    from delta_kernel_rs_spark.sources import storage as st
    from delta_kernel_rs_spark.sources.scan import Scan
    from delta_kernel_rs_spark.sources.snapshot import Snapshot
    from delta_kernel_rs_spark.sources.table import DeltaTable
    from delta_kernel_rs_spark.sources.transaction import Transaction

    # make sure every module that binds these names is loaded before the
    # lookup sites are patched
    import delta_kernel_rs_spark.sources.cdf  # noqa: F401
    import delta_kernel_rs_spark.sources.checkpoint  # noqa: F401
    import delta_kernel_rs_spark.sources.crc  # noqa: F401
    import delta_kernel_rs_spark.sources.delete  # noqa: F401
    import delta_kernel_rs_spark.sources.maintenance  # noqa: F401
    import delta_kernel_rs_spark.sources.merge  # noqa: F401

    def commit_put(args, kwargs):
        path = args[1] if len(args) > 1 else kwargs.get("path", "")
        if tracer.inside("txn.commit") and "/_delta_log/" in path and path.endswith(".json"):
            tracer.count("txn.commit_puts")
        return args, kwargs

    for cls in (st.LocalStorage, st.HadoopStorage, st.ArrowStorage):
        for meth, kind in _STORAGE_METHODS.items():
            if meth in cls.__dict__:
                tracer.wrap_method(
                    cls, meth, f"storage.{kind}",
                    pre=commit_put if meth == "put_if_absent" else None,
                )

    S = "delta_kernel_rs_spark.sources."
    tracer.wrap_function(
        S + "log_segment", "build_log_segment", "log_segment.build",
        post=lambda a, k, seg: tracer.count("log_segment.commit_files", len(seg.commit_files)),
    )
    tracer.wrap_method(Snapshot, "create", "snapshot.create")
    tracer.wrap_method(Snapshot, "create_from", "snapshot.create_from")
    tracer.wrap_function(
        S + "crc", "read_crc", "crc.read",
        post=lambda a, k, doc: tracer.count("crc.read_hits", doc is not None),
    )
    tracer.wrap_function(S + "crc", "update_crc_incremental", "crc.write")
    tracer.wrap_function(S + "crc", "write_crc_full", "crc.write")

    def cache_builder(args, kwargs):
        # a miss is the builder running: give it a span of its own
        if len(args) == 2:
            return (args[0], tracer._wrapper(args[1], "scan.cache_build", None)), kwargs
        return args, {**kwargs, "builder": tracer._wrapper(kwargs["builder"], "scan.cache_build", None)}

    tracer.wrap_method(Scan, "to_df", "scan.plan")
    tracer.wrap_function(S + "scan", "cached_files_frame", "scan.cache", pre=cache_builder)

    def parquet_paths(args, kwargs, result):
        # data files only: a cache miss reads checkpoint parts while it
        # rebuilds the live-adds frame
        if tracer.inside("scan.plan") and not tracer.inside("scan.cache_build"):
            tracer.count("scan.files_read", len(args) - 1)

    tracer.wrap_method(DataFrameReader, "parquet", "spark.parquet_reader", post=parquet_paths)
    tracer.wrap_function("delta_kernel_rs_spark.functions.dv", "write_dv_file", "dv.write")
    tracer.wrap_method(Transaction, "_stage_files", "txn.write_data")
    tracer.wrap_method(Transaction, "commit", "txn.commit")
    tracer.wrap_function(
        "delta_kernel_rs_spark.functions.stats", "collect_file_stats_footer", "stats.collect"
    )

    def checkpoint_bytes(args, kwargs, version):
        log = f"{args[1].rstrip('/')}/_delta_log"
        tracer.count("checkpoint.bytes", sum(
            os.path.getsize(p) for p in glob.glob(f"{log}/{version:020d}.checkpoint*")
        ))

    tracer.wrap_function(S + "checkpoint", "write_checkpoint", "checkpoint.write", post=checkpoint_bytes)
    tracer.wrap_function(S + "maintenance", "cleanup_expired_logs", "maintenance.log_cleanup")
    tracer.wrap_method(DeltaTable, "maybe_auto_compact", "maintenance.auto_compact")
    tracer.wrap_function(S + "delete", "delete_with_dvs", "delete.dv")
    tracer.wrap_function(S + "merge", "upsert", "merge.upsert")
    tracer.wrap_function(S + "cdf", "table_changes", "cdf.table_changes")


def spark_job_stats(eventlog_dir: str) -> dict[str, dict[str, float]]:
    """job group -> {jobs, tasks, shuffle_bytes, executor_run_s} from the
    Spark event log (written when the session stops)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(SPARK_STATS, 0.0))
    for path in glob.glob(f"{eventlog_dir}/*"):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        out[group]["jobs"] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    metrics = ev.get("Task Metrics") or {}
                    if group is None or not metrics:
                        continue
                    s = out[group]
                    s["tasks"] += 1
                    s["executor_run_s"] += metrics.get("Executor Run Time", 0) / 1000.0
                    s["shuffle_bytes"] += (metrics.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
    return dict(out)


def layer_metrics(
    tracer, loop, jobs: dict, table_bytes: dict, op_s: float, ops_p50_sum_s: float
) -> dict:
    """The per_layer metrics: name -> (value, unit)."""
    tot = tracer.totals()
    c = tracer.counters
    ops = max(1, loop.attempted)

    def n(name):
        return tot.get(name, (0, 0.0))[0]

    def t(name):
        return tot.get(name, (0, 0.0))[1]

    def ratio(num, den):
        return num / den if den else 0.0

    # scan.plan spans that built the live-adds frame (a cache miss)
    builds = [i for i, s in enumerate(tracer.spans) if s.name == "scan.cache_build"]
    miss_plans = set()
    for i in builds:
        p = tracer.spans[i].parent
        while p is not None and tracer.spans[p].name != "scan.plan":
            p = tracer.spans[p].parent
        if p is not None:
            miss_plans.add(p)
    miss_plan_s = sum(tracer.spans[p].end - tracer.spans[p].start for p in miss_plans)

    m: dict[str, tuple[float, str]] = {
        "storage.list_calls": (n("storage.list") / ops, "count"),
        "storage.list_s": (t("storage.list") / ops, "s"),
        "storage.read_calls": (n("storage.read") / ops, "count"),
        "storage.put_calls": (n("storage.put") / ops, "count"),
        "log_segment.build_s": (t("log_segment.build") / ops, "s"),
        "log_segment.commit_files": (ratio(c["log_segment.commit_files"], n("log_segment.build")), "count"),
        "snapshot.create_s": ((t("snapshot.create") + t("snapshot.create_from")) / ops, "s"),
        "crc.read_hit_ratio": (ratio(c["crc.read_hits"], n("crc.read")), "ratio"),
        "crc.write_s": (t("crc.write") / ops, "s"),
        "scan.plan_s": (t("scan.plan") / ops, "s"),
        "scan.plan_miss_s": (miss_plan_s / ops, "s"),
        "scan.cache_hit_ratio": (ratio(n("scan.cache") - len(builds), n("scan.cache")), "ratio"),
        "scan.exec_s": (t("scan.exec") / ops, "s"),
        "scan.files_read": (c["scan.files_read"] / ops, "count"),
        "scan.files_live": (c["scan.files_live"] / ops, "count"),
        "skipping.keep_ratio": (ratio(c["skipping.files_read"], c["scan.files_live"]), "ratio"),
        "dv.files_with_dv": (c["dv.files_with_dv"] / ops, "count"),
        "dv.write_s": (t("dv.write") / ops, "s"),
        "txn.write_data_s": (t("txn.write_data") / ops, "s"),
        "txn.commit_s": (t("txn.commit") / ops, "s"),
        "txn.commit_attempts": (ratio(c["txn.commit_puts"], n("txn.commit")), "ratio"),
        "stats.collect_s": (t("stats.collect") / ops, "s"),
        "checkpoint.count": (float(n("checkpoint.write")), "count"),
        "checkpoint.write_s": (t("checkpoint.write") / ops, "s"),
        "checkpoint.bytes": (c["checkpoint.bytes"], "bytes"),
        "maintenance.log_cleanup_s": (t("maintenance.log_cleanup") / ops, "s"),
        "maintenance.auto_compact_s": (t("maintenance.auto_compact") / ops, "s"),
        "delete.s": (t("delete.dv") / ops, "s"),
        "merge.s": (t("merge.upsert") / ops, "s"),
        "merge.files_rewritten": (c["merge.files_rewritten"], "count"),
        "cdf.plan_s": (t("cdf.plan") / ops, "s"),
        "cdf.exec_s": (t("cdf.exec") / ops, "s"),
        "cdf.rows": (c["cdf.rows"] / ops, "count"),
        "incremental.refresh_s": (t("snapshot.create_from") / ops, "s"),
        "facade.exec_s": (t("facade.exec") / ops, "s"),
        "operators.exact_dedup_s": (t("operators.exact_dedup") / ops, "s"),
        "operators.minhash_pairs_s": (t("operators.minhash_pairs") / ops, "s"),
        "operators.clusters_s": (t("operators.clusters") / ops, "s"),
        "operators.semantic_dedup_s": (t("operators.semantic_dedup") / ops, "s"),
        "operators.candidate_pairs": (c["operators.candidate_pairs"], "count"),
        "operators.pair_yield": (
            ratio(c["operators.verified_pairs"], c["operators.candidate_pairs"]), "ratio"),
    }
    by_type: dict[str, list[dict]] = defaultdict(list)
    for group, kind in loop.groups:
        by_type[kind].append(jobs.get(group, dict.fromkeys(SPARK_STATS, 0.0)))
    for kind in OP_TYPES:
        for stat in SPARK_STATS:
            vals = [j[stat] for j in by_type.get(kind, [])]
            unit = {"jobs": "count", "tasks": "count", "shuffle_bytes": "bytes"}.get(stat, "s")
            m[f"spark.{stat}.{kind}"] = (statistics.median(vals) if vals else 0.0, unit)
    for kind in BYTE_KINDS:
        m[f"bytes.{kind}"] = (float(table_bytes.get(kind, 0)), "bytes")
    self_s = tracer.self_times()
    for layer in LAYERS:
        m[f"self_s.{layer}"] = (self_s.get(layer, 0.0) / ops, "s")
    spans = len(tracer.spans)
    overhead = spans * tracer.per_span_cost_s()
    m["trace.spans"] = (spans / ops, "count")
    m["trace.overhead_s"] = (overhead / ops, "s")
    m["trace.overhead_ratio"] = (ratio(overhead, op_s), "ratio")
    m["trace.ops_p50_sum_s"] = (ops_p50_sum_s, "s")
    return m

