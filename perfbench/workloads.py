"""The benchmark's workloads: seeded set-up, one closed-loop client, and a
check of every result against the benchmark's own model.

``scan_read`` is read-only on a prebuilt 136-version table. ``ingest_cdc``
interleaves a writer and a change-feed consumer on a CDF-enabled table;
its traced run also runs one upsert and one curation op (see README.md).
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict

import numpy as np

from perfbench.tables import LIVE, N_PARTS, ROW_BYTES, TableBuilder, kernel_schema

#: scan_read table shape
SCAN_VERSIONS = 136          # versions 0..135
SCAN_CHECKPOINT = 90         # explicit checkpoint, then a 45-commit tail
SCAN_REMOVE_EVERY = 12       # every 12th commit removes one whole file
SCAN_DV_VERSIONS = (100, 110, 120, 130)
SCAN_DV_FILES = 3            # files given a DV per DV commit
SCAN_DV_SOURCE_BELOW = 40    # DVs land on files written before this version
POINT_WIDTH = 50             # keys per point / time-travel / fresh read

#: ingest_cdc table shape and writer sizes
INGEST_VERSIONS = 28         # versions 0..27 at set-up, checkpoint at 20
INGEST_CHECKPOINT = 20
APPEND_ROWS = 400
DELETE_FILES = 4             # set-up files a DV delete's key window spans
DELETE_STRIDE = 6            # file offset between successive deletes' windows

# Each workload's closed loop is whole ROUNDs, then its TAIL once. A
# round holds each op type once: the op mix is not taken from any
# recorded traffic, so the end-to-end metrics take one median per op type
# and the round only sets how many samples each type gets. Before each op
# the round runs ``ref``, a plain Parquet read (ParquetRef) whose median
# is the unit of the latency metrics: a run-long slowdown of the shared
# host moves an op and the ref reads beside it together. ``--seconds``
# sets the number of rounds, ROUNDS_PER_10S for every 10 seconds (at
# least one), not the clock, so every run makes the same ops whatever the
# machine's speed. Each workload's bulk op (BULK) is reported on its own:
# ingest_cdc's DV delete is cheap enough to sit in the round, where the
# round's CDF poll reads it back with the round's append; scan_read's
# `full` scan costs more than the rest of a round, so it runs twice,
# after the rounds.
ROUND = {
    "scan_read": ("ref", "point", "ref", "time_travel", "ref", "time_travel_json", "ref", "facade"),
    "ingest_cdc": ("ref", "append", "ref", "fresh_read", "ref", "dv_delete", "ref", "cdf_poll"),
}
TAIL = {"scan_read": ("full", "full"), "ingest_cdc": ()}
BULK = {"scan_read": "full", "ingest_cdc": "dv_delete"}
ROUNDS_PER_10S = 3
#: ops run once before timing starts: each round op type once, so the
#: first timed op of a type does not pay the JIT and Python-worker start-up
#: of its path. The ingest set-up tip (27, checkpoint at 20) plus the
#: warm-up append and DV delete put the 10-commit auto-checkpoint on the
#: window's first append, so every run times one checkpoint stall.
WARMUP = {k: tuple(dict.fromkeys(v)) for k, v in ROUND.items()}


def time_travel_version(k: int, above: bool) -> int:
    """Version of a run's ``k``-th time-travel read in one stratum: above
    the checkpoint (checkpoint + JSON tail, 90-134) or below it (JSON
    commits only, 1-89). Each stratum is its own op type, so each op type's
    samples cost alike and its median is steady. Within a stratum reads
    step by the golden ratio, so a stratum's first 29 versions are
    distinct (each read misses the live-adds cache) and every seed reads
    the same versions: the seed draws only the key windows."""
    lo, hi = (SCAN_CHECKPOINT, SCAN_VERSIONS - 1) if above else (1, SCAN_CHECKPOINT)
    frac = (0.5 + k * 0.6180339887) % 1.0
    return lo + int(frac * (hi - lo))


def _agg(df):
    from pyspark.sql import functions as F

    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum("val").alias("s")).collect()[0]
    return int(row.n), int(row.s or 0)


def _expect(what: str, got, want) -> str | None:
    return None if got == want else f"{what}: got {got}, model {want}"


class ParquetRef:
    """The reference op: a 50-key aggregate read by Spark straight from one
    of the table's set-up Parquet files, with no Delta log in the way."""

    def __init__(self, spark, b: TableBuilder, seed: int) -> None:
        self.spark, self.path = spark, b.path
        self.files = list(b.files)
        self.val = b.model.val.copy()  # raw files keep the values they were written with
        self.rng = np.random.default_rng([seed, 6])

    def __call__(self, loop: "Loop") -> None:
        f = self.files[int(self.rng.integers(0, len(self.files)))]
        lo = int(self.rng.integers(f.lo, max(f.lo + 1, f.hi - POINT_WIDTH)))
        hi = min(lo + POINT_WIDTH, f.hi)
        want = (hi - lo, int(self.val[lo:hi].sum()))

        def action():
            return _agg(self.spark.read.parquet(f"{self.path}/{f.path}").filter(
                f"id >= {lo} AND id < {hi}"))

        loop.run("ref", action, lambda got: _expect(f"ref {f.path} [{lo},{hi})", got, want))


class Loop:
    """One closed-loop client: runs ops, times them, checks them."""

    def __init__(self, spark, tracer, traced: bool, name: str) -> None:
        self.name = name  # prefixes job groups, so set-up and timed ops never share one
        self.spark = spark
        self.tracer = tracer
        self.traced = traced
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.groups: list[tuple[str, str]] = []  # (job group, op type)
        self.failures: list[str] = []
        self.attempted = 0

    def run(self, kind: str, action, check) -> None:
        """Time ``action()``; ``check(result)`` returns an error or None."""
        group = f"{self.name}:{kind}#{self.attempted}"
        self.spark.sparkContext.setJobGroup(group, kind)
        self.tracer.op = group
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op." + kind):
                result = action()
        except Exception as e:  # an op that raises is a failed op
            self.failures.append(f"{group}: {type(e).__name__}: {str(e)[:300]}")
            return
        finally:
            self.tracer.op = None
        elapsed = time.perf_counter() - t0
        try:
            err = check(result)
        except Exception as e:  # a result the model cannot read is wrong too
            err = f"check raised {type(e).__name__}: {e}"
        if err:
            self.failures.append(f"{group}: {err}")
            return
        self.lat[kind].append(elapsed)
        self.groups.append((group, kind))

    def note_scan(self, path: str, version: int, files_read_before: float) -> None:
        """Traced runs: the live and DV-carrying file counts behind a read,
        queried with recording paused, so skipping's keep ratio has a base."""
        if not self.traced:
            return
        from pyspark.sql import functions as F

        from delta_kernel_rs_spark.sources.snapshot import Snapshot

        tr = self.tracer
        read = tr.counters["scan.files_read"] - files_read_before
        tr.enabled = False
        self.spark.sparkContext.setJobGroup("trace-bookkeeping", "bookkeeping")
        try:
            row = Snapshot.create(self.spark, path, version=version).scan().scan_files_df().agg(
                F.count(F.lit(1)).alias("live"), F.count("deletion_vector").alias("dv")
            ).collect()[0]
        finally:
            tr.enabled = True
        tr.count("scan.files_live", row.live)
        tr.count("skipping.files_read", read)
        tr.count("dv.files_with_dv", row.dv)

    def files_read(self) -> float:
        return self.tracer.counters["scan.files_read"] if self.traced else 0.0

    def rounds(self, ops: dict, order: tuple[str, ...], n: int) -> float:
        """Run ``n`` whole rounds of ``order``; returns the seconds taken."""
        t0 = time.perf_counter()
        for _ in range(n):
            for op in order:
                ops[op]()
        return time.perf_counter() - t0


# -- scan_read ---------------------------------------------------------------
def build_scan_table(spark, path: str, seed: int) -> TableBuilder:
    rng = np.random.default_rng([seed, 1])
    b = TableBuilder(spark, path, {"delta.enableDeletionVectors": "true"})
    while b.version < SCAN_VERSIONS - 1:
        v = b.version + 1
        if v in SCAN_DV_VERSIONS:
            pool = [f for f in b.files if f.version < SCAN_DV_SOURCE_BELOW and f.dv is None]
            picks = rng.choice(len(pool), size=SCAN_DV_FILES, replace=False)
            b.add_dvs(rng, [pool[i] for i in sorted(picks)], share=0.1)
        elif v % SCAN_REMOVE_EVERY == 0:
            pool = [f for f in b.files if f.dv is None]
            b.remove_file(pool[int(rng.integers(0, len(pool)))])
        else:
            # the file count is fixed, so every seed gives a table of one shape
            b.append_files(rng, 1 + v % 2, (300, 700))
        if b.version == SCAN_CHECKPOINT:
            b.table.checkpoint(version=SCAN_CHECKPOINT)
    return b


class ScanRead:
    def __init__(self, spark, loop: Loop, b: TableBuilder, seed: int) -> None:
        from delta_kernel_rs_spark.sources.batch_source import register_batch_source

        register_batch_source(spark)
        self.spark, self.loop, self.b = spark, loop, b
        self.rng = np.random.default_rng([seed, 2])
        self.tip = b.version
        # Reads target files that never carry a DV, so their latency is
        # replay + skipping + cache; DV application is measured by `full`.
        self.clean = [f for f in b.files if f.dv is None]
        self.tt_turn = {True: 0, False: 0}
        self.full_rows = 0
        self.full_s = 0.0
        self.ref = ParquetRef(spark, b, seed)

    def _window(self, version: int) -> tuple[int, int]:
        pool = [f for f in self.clean if f.version <= version]
        f = pool[int(self.rng.integers(0, len(pool)))]
        lo = int(self.rng.integers(f.lo, max(f.lo + 1, f.hi - POINT_WIDTH)))
        return lo, lo + POINT_WIDTH

    def _read(self, kind: str, version: int | None) -> None:
        from delta_kernel_rs_spark.sources.table import DeltaTable

        v = self.tip if version is None else version
        lo, hi = self._window(v)
        tracer = self.loop.tracer

        def action():
            with tracer.span("bench.plan"):
                df = DeltaTable(self.spark, self.b.path).to_df(
                    version=version, predicate=f"id >= {lo} AND id < {hi}"
                )
            with tracer.span("scan.exec"):
                return _agg(df)

        before = self.loop.files_read()
        self.loop.run(kind, action, lambda got: _expect(
            f"{kind} v{v} [{lo},{hi})", got, self.b.model.range_agg(lo, hi, v)))
        self.loop.note_scan(self.b.path, v, before)

    def point(self) -> None:
        self._read("point", None)

    def _time_travel(self, kind: str, above: bool) -> None:
        self._read(kind, time_travel_version(self.tt_turn[above], above))
        self.tt_turn[above] += 1

    def time_travel(self) -> None:
        self._time_travel("time_travel", True)

    def time_travel_json(self) -> None:
        self._time_travel("time_travel_json", False)

    def facade(self) -> None:
        lo, hi = self._window(self.tip)
        tracer = self.loop.tracer

        def action():
            with tracer.span("facade.exec"):
                return _agg(
                    self.spark.read.format("delta_kernel").load(self.b.path)
                    .filter(f"id >= {lo} AND id < {hi}")
                )

        self.loop.run("facade", action, lambda got: _expect(
            f"facade [{lo},{hi})", got, self.b.model.range_agg(lo, hi, self.tip)))

    def full(self) -> None:
        from delta_kernel_rs_spark.sources.table import DeltaTable

        tracer = self.loop.tracer
        live = self.b.model.live(self.tip)
        want = (int(live.sum()), int(self.b.model.val[live].sum()))

        def action():
            t0 = time.perf_counter()
            with tracer.span("bench.plan"):
                df = DeltaTable(self.spark, self.b.path).to_df()
            with tracer.span("scan.exec"):
                got = _agg(df)
            return got, time.perf_counter() - t0

        def check(res):
            got, elapsed = res
            err = _expect("full", got, want)
            if err is None:
                self.full_rows += got[0]
                self.full_s += elapsed
            return err

        before = self.loop.files_read()
        self.loop.run("full", action, check)
        self.loop.note_scan(self.b.path, self.tip, before)

    def ops(self) -> dict:
        return {"point": self.point, "time_travel": self.time_travel,
                "time_travel_json": self.time_travel_json,
                "facade": self.facade, "full": self.full, "ref": lambda: self.ref(self.loop)}

    def rows_per_s(self) -> float:
        return self.full_rows / self.full_s if self.full_s else 0.0

    def user_bytes(self) -> int:
        return self.b.model.n * ROW_BYTES


# -- ingest_cdc ----------------------------------------------------------------
def build_ingest_table(spark, path: str, seed: int) -> TableBuilder:
    rng = np.random.default_rng([seed, 3])
    b = TableBuilder(
        spark, path,
        {"delta.enableDeletionVectors": "true", "delta.enableChangeDataFeed": "true"},
    )
    while b.version < INGEST_VERSIONS - 1:
        b.append_files(rng, 2, (APPEND_ROWS // 2, APPEND_ROWS))
        if b.version == INGEST_CHECKPOINT:
            b.table.checkpoint(version=INGEST_CHECKPOINT)
    return b


class IngestCdc:
    def __init__(self, spark, loop: Loop, b: TableBuilder, seed: int) -> None:
        from delta_kernel_rs_spark.sources.snapshot import Snapshot

        self.spark, self.loop, self.b = spark, loop, b
        self.model = b.model
        self.rng = np.random.default_rng([seed, 4])
        self.consumer = Snapshot.create(spark, b.path)
        self.table = b.table
        self.change_rows = 0
        self.cdf_s = 0.0
        self.user_rows = b.model.n
        self.deletes = 0
        self.ref = ParquetRef(spark, b, seed)

    def _frame(self, ids: np.ndarray, part: np.ndarray, val: np.ndarray):
        import pandas as pd

        pdf = pd.DataFrame({
            "id": ids.astype(np.int64), "part": part.astype(np.int32), "val": val,
        })
        return self.spark.createDataFrame(pdf, kernel_schema())

    def append(self) -> None:
        n = int(self.rng.integers(APPEND_ROWS // 2, APPEND_ROWS))
        part = int(self.rng.integers(0, N_PARTS))
        val = self.rng.integers(0, 1_000_000, size=n, dtype=np.int64)
        lo = self.model.n
        df = self._frame(np.arange(lo, lo + n), np.full(n, part), val).repartition(2)
        want = self.b.version + 1

        def check(version):
            if version != want:
                return f"append committed v{version}, model expects v{want}"
            self.model.add(np.full(n, part), val, version)
            self.b.version = version
            self.user_rows += n
            return None

        self.loop.run("append", lambda: self.table.append(df), check)

    def fresh_read(self) -> None:
        # the newest rows: a key window inside the last append, at the tip
        lo = int(self.rng.integers(max(0, self.model.n - APPEND_ROWS // 2), self.model.n - POINT_WIDTH))
        hi = lo + POINT_WIDTH
        v = self.b.version
        tracer = self.loop.tracer

        def action():
            with tracer.span("bench.plan"):
                df = self.table.to_df(predicate=f"id >= {lo} AND id < {hi}")
            with tracer.span("scan.exec"):
                return _agg(df)

        before = self.loop.files_read()
        self.loop.run("fresh_read", action, lambda got: _expect(
            f"fresh_read v{v} [{lo},{hi})", got, self.model.range_agg(lo, hi, v)))
        self.loop.note_scan(self.b.path, v, before)

    def dv_delete(self) -> None:
        from delta_kernel_rs_spark.sources.delete import delete_with_dvs

        # the k-th delete spans DELETE_FILES whole set-up files that no
        # earlier delete touched (until the slots run out, after 9 deletes),
        # so every seed and every delete rewrites the same number of files;
        # within them ~1 in 10 rows by value
        slot = self.deletes % (len(self.b.files) // DELETE_STRIDE)
        first = self.b.files[slot * DELETE_STRIDE]
        last = self.b.files[slot * DELETE_STRIDE + DELETE_FILES - 1]
        self.deletes += 1
        a, z = first.lo, last.hi
        r = int(self.rng.integers(0, 10))
        pred = f"id >= {a} AND id < {z} AND val % 10 = {r}"
        ids = np.arange(a, z)
        hit = ids[(self.model.val[ids] % 10 == r) & (self.model.deleted[ids] == LIVE)]
        want = self.b.version + 1 if len(hit) else self.b.version

        def check(version):
            if version != want:
                return f"dv_delete committed v{version}, model expects v{want}"
            if len(hit):
                self.model.delete(hit, version)
            self.b.version = version
            return None

        self.loop.run("dv_delete", lambda: delete_with_dvs(self.table, pred), check)

    def cdf_poll(self) -> None:
        """Changes from the consumer's last version to the tip: the round's
        append and DV delete (in a traced run, the first poll also reads
        the upsert's)."""
        from pyspark.sql import functions as F

        from delta_kernel_rs_spark.sources.cdf import table_changes
        from delta_kernel_rs_spark.sources.snapshot import Snapshot

        tracer = self.loop.tracer
        start = self.consumer.version + 1

        def action():
            t0 = time.perf_counter()
            snap = Snapshot.create_from(self.consumer)
            if snap.version < start:
                return snap, {}, time.perf_counter() - t0
            with tracer.span("cdf.plan"):
                df = table_changes(self.spark, self.b.path, start, snap.version)
            with tracer.span("cdf.exec"):
                rows = df.groupBy("_change_type").agg(
                    F.count(F.lit(1)).alias("n"), F.sum("val").alias("s")
                ).collect()
            got = {r["_change_type"]: (int(r.n), int(r.s or 0)) for r in rows}
            return snap, got, time.perf_counter() - t0

        def check(res):
            snap, got, elapsed = res
            want = self.model.changes_between(start, snap.version)
            err = _expect(f"cdf_poll v{start}..v{snap.version}", got, want)
            if err is None:
                self.consumer = snap
                self.change_rows += sum(n for n, _ in got.values())
                self.cdf_s += elapsed
                self.loop.tracer.count("cdf.rows", sum(n for n, _ in got.values()))
            return err

        self.loop.run("cdf_poll", action, check)

    def upsert(self) -> None:
        """Copy-on-write MERGE by key: update a seeded key set, insert new keys."""
        live_ids = np.flatnonzero(self.model.deleted == LIVE)
        upd = np.sort(self.rng.choice(live_ids, size=40, replace=False))
        new = np.arange(self.model.n, self.model.n + 20)
        part_new = int(self.rng.integers(0, N_PARTS))
        val_upd = self.rng.integers(0, 1_000_000, size=len(upd), dtype=np.int64)
        val_new = self.rng.integers(0, 1_000_000, size=len(new), dtype=np.int64)
        src = self._frame(
            np.concatenate([upd, new]),
            np.concatenate([self.model.part[upd], np.full(len(new), part_new)]),
            np.concatenate([val_upd, val_new]),
        )
        want = self.b.version + 1

        def check(version):
            if version != want:
                return f"upsert committed v{version}, model expects v{want}"
            ch = self.model.changes.setdefault(version, {})
            ch["update_preimage"] = [len(upd), int(self.model.val[upd].sum())]
            ch["update_postimage"] = [len(upd), int(val_upd.sum())]
            self.model.val[upd] = val_upd
            self.model.add(np.full(len(new), part_new), val_new, version)
            self.b.version = version
            self.user_rows += len(upd) + len(new)
            removes = _count_actions(self.b.path, version, "remove")
            self.loop.tracer.count("merge.files_rewritten", removes)
            return None

        self.loop.run("upsert", lambda: self.table.upsert(src, ["id"]), check)

    def ops(self) -> dict:
        return {"append": self.append, "fresh_read": self.fresh_read,
                "dv_delete": self.dv_delete, "cdf_poll": self.cdf_poll,
                "ref": lambda: self.ref(self.loop)}

    def rows_per_s(self) -> float:
        return self.change_rows / self.cdf_s if self.cdf_s else 0.0

    def user_bytes(self) -> int:
        return self.user_rows * ROW_BYTES


def _count_actions(table_path: str, version: int, kind: str) -> int:
    with open(f"{table_path}/_delta_log/{version:020d}.json") as fh:
        return sum(1 for line in fh if json.loads(line).get(kind) is not None)


# -- curation (one op in the ingest_cdc traced run) ------------------------------
CURATE_DOCS = 300
CURATE_COPIES = 15           # exact copies injected into the slice
JACCARD_THRESHOLD = 0.8
SEMANTIC_THRESHOLD = 0.9
_GID = re.compile(r"^g(\d+)w")


def _shingles(text: str, k: int = 3) -> set[str]:
    w = text.split(" ")
    return {" ".join(w[i:i + k]) for i in range(len(w) - k + 1)}


class Curation:
    """One curation slice: Delta read -> exact dedup -> MinHash pairs ->
    clusters -> semantic dedup -> append survivors to an output table."""

    def __init__(self, spark, loop: Loop, root: str, seed: int) -> None:
        import pandas as pd
        from pyspark.sql import types as T

        from delta_kernel_rs_spark.corpus import synth_documents, synth_embeddings
        from delta_kernel_rs_spark.sources.table import DeltaTable

        self.spark, self.loop = spark, loop
        rng = np.random.default_rng([seed, 5])
        d = synth_documents(CURATE_DOCS, seed=seed)
        copies = np.sort(rng.choice(CURATE_DOCS, size=CURATE_COPIES, replace=False))
        ids = list(d["doc_id"]) + [CURATE_DOCS + i for i in range(CURATE_COPIES)]
        texts = list(d["text"]) + [d["text"][i] for i in copies]
        self.texts = dict(zip(ids, texts))
        self.gid = {i: int(_GID.match(t).group(1)) for i, t in self.texts.items()}
        docs = pd.DataFrame({"doc_id": ids, "text": texts, "n_chars": [len(t) for t in texts]})
        e = synth_embeddings(len(ids), seed=seed)
        self.vecs = np.array(e["embedding"], dtype=np.float64)
        emb = pd.DataFrame({"vec_id": e["vec_id"], "embedding": e["embedding"]})
        self.docs_path = f"{root}/documents"
        self.emb_path = f"{root}/embeddings"
        self.out_path = f"{root}/curated"
        self.docs = DeltaTable.create(spark, self.docs_path, df=spark.createDataFrame(docs).repartition(2))
        self.emb = DeltaTable.create(spark, self.emb_path, df=spark.createDataFrame(emb).repartition(2))
        self.out_schema = T.StructType(
            [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
        )
        self.out = DeltaTable.create(spark, self.out_path, schema=self.out_schema)

    def _true_pairs(self, ids: list[int]) -> set[tuple[int, int]]:
        by_gid: dict[int, list[int]] = defaultdict(list)
        for i in ids:
            by_gid[self.gid[i]].append(i)
        pairs = set()
        for members in by_gid.values():
            members.sort()
            for x in range(len(members)):
                sa = _shingles(self.texts[members[x]])
                for y in range(x + 1, len(members)):
                    sb = _shingles(self.texts[members[y]])
                    if len(sa & sb) / len(sa | sb) >= JACCARD_THRESHOLD:
                        pairs.add((members[x], members[y]))
        return pairs

    def curate(self) -> None:
        from pyspark.sql import functions as F

        from delta_kernel_rs_spark.operators.cluster import neardup_clusters
        from delta_kernel_rs_spark.operators.dedup import exact_duplicate_groups, neardup_pairs_minhash
        from delta_kernel_rs_spark.operators.similarity import semantic_dedup

        tracer = self.loop.tracer
        spark = self.spark

        def action():
            docs = self.docs.to_df()
            with tracer.span("operators.exact_dedup"):
                exact = exact_duplicate_groups(docs).collect()
            kept = sorted(r.doc_id for r in exact)
            kept_df = spark.createDataFrame([(i,) for i in kept], "doc_id long")
            with tracer.span("operators.minhash_pairs"):
                pairs = neardup_pairs_minhash(docs.join(kept_df, "doc_id")).select("doc_a", "doc_b").collect()
            pairs = sorted((int(r.doc_a), int(r.doc_b)) for r in pairs)
            with tracer.span("operators.clusters"):
                clusters = neardup_clusters(
                    spark.createDataFrame(pairs, "doc_a long, doc_b long")
                ).collect() if pairs else []
            dropped = {int(r.doc_id) for r in clusters if r.doc_id != r.cluster_id}
            text_kept = [i for i in kept if i not in dropped]
            # semantic dedup seeds k-means with ids below n_centroids, so the
            # survivors are renumbered 0..m-1 before it runs
            local = spark.createDataFrame(
                [(j, i) for j, i in enumerate(text_kept)], "local_id long, vec_id long"
            )
            emb = self.emb.to_df().join(local, "vec_id").select(
                F.col("local_id").alias("vec_id"), "embedding"
            )
            with tracer.span("operators.semantic_dedup"):
                sem = semantic_dedup(emb, n_centroids=4, threshold=SEMANTIC_THRESHOLD).collect()
            sem_kept = {text_kept[int(r.vec_id)] for r in sem if r.is_kept}
            survivors = [i for i in text_kept if i in sem_kept]
            rows = [(i, self.texts[i]) for i in survivors]
            with tracer.span("bench.output_append"):
                version = self.out.append(spark.createDataFrame(rows, self.out_schema))
            return exact, pairs, clusters, text_kept, sem, survivors, version

        self.loop.run("curate", action, self._check)

    def count_candidates(self) -> None:
        """Traced runs: LSH candidate pairs (ids sharing a band bucket), from
        the public banding function with recording paused."""
        from delta_kernel_rs_spark.operators.dedup import minhash_band_rows_from_text

        tr = self.loop.tracer
        tr.enabled = False
        try:
            rows = minhash_band_rows_from_text(self.docs.to_df()).collect()
        finally:
            tr.enabled = True
        buckets: dict[tuple, list[int]] = defaultdict(list)
        for r in rows:
            buckets[(r.band, r.band_sig)].append(int(r.doc_id))
        pairs = set()
        for ids in buckets.values():
            ids.sort()
            pairs.update((a, b) for i, a in enumerate(ids) for b in ids[i + 1:])
        tr.count("operators.candidate_pairs", len(pairs))

    def _check(self, res) -> str | None:
        exact, pairs, clusters, text_kept, sem, survivors, version = res
        by_text: dict[str, int] = {}
        for i in sorted(self.texts):
            by_text.setdefault(self.texts[i], i)
        err = _expect("exact survivors", sorted(r.doc_id for r in exact), sorted(by_text.values()))
        if err:
            return err
        truth = self._true_pairs(sorted(by_text.values()))
        if set(pairs) != truth:
            return f"minhash pairs: {len(set(pairs) - truth)} false, {len(truth - set(pairs))} missed"
        self.loop.tracer.count("operators.verified_pairs", len(pairs))
        # model clusters: union-find over the true pairs, keep the min id
        parent = {i: i for p in truth for i in p}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in sorted(truth):
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
        want = sorted((i, find(i)) for i in parent)
        err = _expect("clusters", sorted((int(r.doc_id), int(r.cluster_id)) for r in clusters), want)
        if err:
            return err
        # semantic: a survivor is dropped iff a lower-id survivor in its k-means
        # cluster is within the cosine threshold (model cosines, engine clusters)
        cluster = {text_kept[int(r.vec_id)]: int(r.cluster_id) for r in sem}
        v = self.vecs / np.linalg.norm(self.vecs, axis=1, keepdims=True)
        want_kept = []
        for i in text_kept:
            lower = [j for j in text_kept if j < i and cluster[j] == cluster[i]]
            if not lower or float((v[lower] @ v[i]).max()) < SEMANTIC_THRESHOLD:
                want_kept.append(i)
        err = _expect("semantic survivors", survivors, want_kept)
        if err:
            return err
        added = sum(
            json.loads(json.loads(line)["add"]["stats"])["numRecords"]
            for line in open(f"{self.out_path}/_delta_log/{version:020d}.json")
            if '"add"' in line
        )
        return _expect("output rows appended", added, len(survivors))
