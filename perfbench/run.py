"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload scan_read --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The line before it is a JSON detail record: per-op-type
latency statistics, the raw seconds behind the latency metrics, the
per-op-type metrics the workload exposes, every failed op, and the exact
counts the determinism check compares.
Everything the run writes lives under ``.perfbench_work/`` in the
checkout and is removed on exit; a traced run keeps its spans in
``.perfbench_out/spans-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("scan_read", "ingest_cdc")
#: times the table is built at set-up; the first build pays the JVM's cold
#: start, so the median is a warm build
SETUP_BUILDS = 3


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _box() -> tuple[int, str]:
    """(cores for local[N], driver memory) sized from this machine."""
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    total_mb = 8192
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_mb = int(line.split()[1]) // 1024
    except OSError:
        pass
    # the tables are small; leave the machine's memory to everyone else
    return max(1, cores or 1), f"{min(4096, max(1024, total_mb // 8))}m"


def start_spark(work: str, traced: bool):
    from pyspark.sql import SparkSession

    from delta_kernel_rs_spark.session import RUNTIME_CONFS

    cores, mem = _box()
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", mem)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # C1 only: a run is too short for C2 to finish warming up, so without
        # this each run's window would sit at a different point of the JIT curve
        # and a fixed heap, so heap resizing never lands in a timed op
        .config("spark.driver.extraJavaOptions", f"-XX:TieredStopAtLevel=1 -Xms{mem}")
    )
    if traced:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.dir", "file://" + os.path.join(work, "eventlog"))
        )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit (it exits when its
    stdin pipe closes)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _pct(vals: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    s = sorted(vals)
    if not s:
        return 0.0
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def _model_digest(model) -> str:
    h = hashlib.sha256()
    for arr in (model.part, model.val, model.added, model.deleted):
        h.update(arr.tobytes())
    return h.hexdigest()[:16]


def run(args, work: str) -> tuple[dict, dict]:
    from perfbench import layers, workloads as W
    from perfbench.tables import stored_bytes
    from perfbench.trace import NullTracer, Tracer

    traced = bool(args.trace)
    t0 = time.perf_counter()
    spark = start_spark(work, traced)
    session_s = time.perf_counter() - t0
    build = W.build_scan_table if args.workload == "scan_read" else W.build_ingest_table
    kind = W.ScanRead if args.workload == "scan_read" else W.IngestCdc
    order, tail = W.ROUND[args.workload], W.TAIL[args.workload]
    tracer = NullTracer()
    try:
        # the table is built SETUP_BUILDS times from the same seed, each in
        # its own directory; the run uses the last, and set-up time counts
        # the median build
        build_s, digests = [], set()
        for i in range(SETUP_BUILDS):
            t = time.perf_counter()
            b = build(spark, os.path.join(work, f"{args.workload}-{i}"), args.seed)
            build_s.append(time.perf_counter() - t)
            digests.add(_model_digest(b.model))
        exact = {
            "inputs": _model_digest(b.model),
            "commits": b.version,
            "files": len(b.files),
            "bytes": stored_bytes(b.path),
        }
        warm = W.Loop(spark, NullTracer(), False, "warmup")
        w = kind(spark, warm, b, args.seed)
        ops = w.ops()
        if traced:
            tracer = Tracer()
            layers.install(tracer)
        loop = W.Loop(spark, tracer, traced, "run")
        extras = traced and args.workload == "ingest_cdc"
        if extras:
            # the traced ingest_cdc run also runs the merge and operators
            # layers once each (see README.md); the upsert goes before the
            # warm-up's DV delete, because a merge into a table with DVs
            # costs ~40 s against ~7 s
            w.loop = loop
            w.upsert()
            w.loop = warm
        # warm-up ops are checked like any other, but neither timed nor traced
        tracer.enabled = False
        t = time.perf_counter()
        for op in W.WARMUP[args.workload]:
            ops[op]()
        warm_s = time.perf_counter() - t
        tracer.enabled = traced
        setup_s = session_s + statistics.median(build_s) + warm_s

        w.loop = loop
        n_rounds = max(1, round(args.seconds * W.ROUNDS_PER_10S / 10))
        window_s = loop.rounds(ops, order, n_rounds)
        for op in tail:
            ops[op]()
        if extras:
            tracer.enabled = False
            cur = W.Curation(spark, loop, os.path.join(work, "corpus"), args.seed)
            tracer.enabled = True
            cur.curate()
            cur.count_candidates()
        tracer.close()
        table_bytes = stored_bytes(b.path)
    finally:
        stop_spark(spark)

    failures = warm.failures + loop.failures
    if len(digests) != 1:
        failures.append(f"setup: {SETUP_BUILDS} builds from seed {args.seed} gave different inputs")
    attempted = warm.attempted + loop.attempted
    lat = loop.lat
    p50 = {k: statistics.median(v) for k, v in lat.items() if v}
    per_op = {
        k: {"n": len(v), "p50_s": p50[k], "p90_s": _pct(v, 0.9), "p95_s": _pct(v, 0.95),
            "max_s": max(v), "samples_s": v}
        for k, v in sorted(lat.items()) if v
    }
    user_bytes = w.user_bytes()
    raw = {
        # one median per round op type, unweighted
        "ops_p50_sum_s": sum(
            p50.get(op, 0.0) for op in dict.fromkeys(order) if op not in ("ref", W.BULK[args.workload])
        ),
        "bulk_s": p50.get(W.BULK[args.workload], 0.0),
        "ref_p50_s": p50.get("ref", 0.0),
    }
    ref = raw["ref_p50_s"]  # 0 only when every ref read failed, and then the run failed
    e2e = {
        "setup_s": (setup_s, "s"),
        "ops_vs_parquet": (raw["ops_p50_sum_s"] / ref if ref else 0.0, "x"),
        "bulk_vs_parquet": (raw["bulk_s"] / ref if ref else 0.0, "x"),
        "bytes_per_user_byte": (sum(table_bytes.values()) / user_bytes, "ratio"),
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "window_s": window_s,
        "setup": {
            "session_s": session_s, "build_s": build_s, "warmup_s": warm_s,
            "warmup_ops_s": {k: v[0] for k, v in warm.lat.items()},
        },
        "ops": per_op,
        "raw": raw,
        "named": _named(args.workload, lat, p50, w, failures, attempted, table_bytes, user_bytes),
        "failures": failures,
        "exact": exact,
    }
    if traced:
        jobs = layers.spark_job_stats(os.path.join(work, "eventlog"))
        op_s = sum(sum(v) for v in lat.values())
        metrics = layers.layer_metrics(
            tracer, loop, jobs, table_bytes, op_s, raw["ops_p50_sum_s"]
        )
        detail["exact"]["spark_jobs"] = [
            [kind_, jobs.get(g, {}).get("jobs", 0)] for g, kind_ in loop.groups
        ]
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
    else:
        metrics = e2e
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, detail


def _named(workload, lat, p50, w, failures, attempted, table_bytes, user_bytes) -> dict:
    """The per-op-type metrics of this workload, by their op names."""
    from perfbench.workloads import CURATE_COPIES, CURATE_DOCS

    out = {"error_rate": len(failures) / max(1, attempted)}
    if workload == "scan_read":
        out.update({
            "point_read_p50_s": p50.get("point"),
            "point_read_p90_s": _pct(lat.get("point", []), 0.9),
            "time_travel_p50_s": p50.get("time_travel"),
            "time_travel_json_p50_s": p50.get("time_travel_json"),
            "facade_read_p50_s": p50.get("facade"),
            "scan_rows_per_s": w.rows_per_s(),
        })
    else:
        out.update({
            "append_p50_s": p50.get("append"),
            "append_p95_s": _pct(lat.get("append", []), 0.95),
            "delete_p50_s": p50.get("dv_delete"),
            "fresh_read_p50_s": p50.get("fresh_read"),
            "cdf_poll_p50_s": p50.get("cdf_poll"),
            "change_rows_per_s": w.rows_per_s(),
            "bytes_written_per_user_byte": sum(table_bytes.values()) / user_bytes,
            "upsert_p50_s": p50.get("upsert"),
            "curation_docs_per_s": (
                (CURATE_DOCS + CURATE_COPIES) / p50["curate"] if "curate" in p50 else None
            ),
        })
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its work files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "delta_kernel_rs_spark", "__init__.py")):
        _fail(f"no delta_kernel_rs_spark package under {ROOT}: run from a source checkout")
    sys.path.insert(0, ROOT)
    # Spark's Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (spark-submit's launcher too) keeps its temp files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    try:
        result, detail = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run shares the directory
    print(json.dumps(detail, default=float))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
