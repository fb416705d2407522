"""Differential gate for the scan's log replay.

``Scan.scan_files_df()`` plans from the driver-side Arrow replay
(``pyreplay.live_files_arrow``). This suite compares every scan-row field
— absolute ``file_path``, ``size``, ``modification_time``, ``stats``,
``partition_values``, ``deletion_vector``, ``base_row_id``,
``default_row_commit_version`` and ``commit_version`` — with an
independent oracle, over the in-repo log generators:

* foreign-log fuzz: mixed percent-encodings, invalid escapes, inline DVs,
  DV swaps, unknown fields;
* foreign-checkpoint fuzz: classic, multipart, V2 parquet / inline / JSON
  tops with sidecars, ``stats_parsed``-only adds, stale and corrupt hints;
* history fuzz: random appends / deletes / updates / merges / restores /
  checkpoints / log compaction with DVs, at every version;
* the cross-product sweep: compacted commits, V2 checkpoints, row
  tracking, column mapping and every checkpoint stats policy.

The oracle is a deliberately small newest-wins dict replay over
``json`` and ``pyarrow.parquet.read_table(...).to_pylist()``.
"""

from __future__ import annotations

import json
import os
import random
import re
import urllib.parse

import pyarrow.parquet as pq
import pytest

from delta_kernel_rs_spark.sources.snapshot import Snapshot


# -- oracle -------------------------------------------------------------------
def _strip_nulls(v):
    if isinstance(v, dict):
        return {k: _strip_nulls(x) for k, x in v.items() if x is not None}
    return v


def _dv(dv) -> tuple | None:
    if not dv or dv.get("storageType") is None:
        return None
    return tuple(dv.get(k) for k in ("storageType", "pathOrInlineDv", "offset", "sizeInBytes", "cardinality"))


def _key(action: dict) -> tuple:
    dv = _dv(action.get("deletionVector"))
    return (urllib.parse.unquote(action["path"]), dv[:3] if dv else None)


def _abs(path: str, table_path: str) -> str:
    p = urllib.parse.unquote(path)
    if "://" in p:
        return re.sub(r"^file:/+", "/", p)
    return p if p.startswith("/") else f"{table_path.rstrip('/')}/{p}"


def _json_lines(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _checkpoint_actions(seg) -> list[dict]:
    top: list[dict] = []
    for part in seg.checkpoint_parts:
        top += _json_lines(part) if part.endswith(".json") else pq.read_table(part).to_pylist()
    sidecars = [(r.get("sidecar") or {}).get("path") for r in top]
    sidecars = [p for p in sidecars if p]
    if not sidecars:
        return top
    rows: list[dict] = []
    for p in sidecars:
        rows += pq.read_table(p if p.startswith("/") else f"{seg.log_dir}/_sidecars/{p}").to_pylist()
    return rows


def _row(add: dict, version: int, table_path: str) -> tuple:
    stats = add.get("stats")
    if stats is None and add.get("stats_parsed") is not None:
        stats = _strip_nulls(add["stats_parsed"])
    elif stats is not None:
        stats = json.loads(stats)
    pv = add.get("partitionValues") or {}
    return (
        _abs(add["path"], table_path),
        (
            add.get("size"),
            add.get("modificationTime"),
            stats,
            dict(pv) if isinstance(pv, list) else pv,
            _dv(add.get("deletionVector")),
            add.get("baseRowId"),
            add.get("defaultRowCommitVersion"),
            version,
        ),
    )


def oracle_rows(snap) -> dict:
    """file_path → scan-row fields, from a newest-wins dict replay."""
    seg = snap.log_segment
    tail: dict[tuple, tuple | None] = {}
    for c in seg.commit_files:
        version = c.version if c.end_version is None else c.end_version
        for action in _json_lines(c.path):
            if action.get("add"):
                tail[_key(action["add"])] = (action["add"], version)
            elif action.get("remove"):
                tail[_key(action["remove"])] = None
    live = [hit for hit in tail.values() if hit is not None]
    if seg.checkpoint_parts:
        for r in _checkpoint_actions(seg):
            add = r.get("add")
            if add and add.get("path") and _key(add) not in tail:
                live.append((add, seg.checkpoint_version))
    return dict(_row(a, v, snap.table_path) for a, v in live)


# -- the engine's scan rows -----------------------------------------------------
def _frame_rows(df) -> dict:
    out = {}
    for r in df.collect():
        dv = r.deletion_vector.asDict() if r.deletion_vector else None
        out[r.file_path] = (
            r.size,
            r.modification_time,
            None if r.stats is None else json.loads(r.stats),
            dict(r.partition_values or {}),
            _dv(dv),
            r.base_row_id,
            r.default_row_commit_version,
            r.commit_version,
        )
    return out


def assert_same_replay(snap, ctx: str) -> None:
    got = _frame_rows(snap.scan().scan_files_df())
    assert got, f"{ctx}: no live files"
    assert got == oracle_rows(snap), f"{ctx}: Arrow replay != dict replay"


# -- generators -----------------------------------------------------------------
@pytest.mark.parametrize("partitioned", [False, True])
def test_differential_foreign_log(spark, tmp_path, partitioned):
    from tests.test_foreign_log_fuzz import SEED, _gen_foreign_log

    for trial in range(3):
        rng = random.Random(SEED + trial + (1000 if partitioned else 0))
        table = str(tmp_path / f"t{trial}")
        _gen_foreign_log(f"{table}/_delta_log", rng, partitioned, n_commits=25)
        for v in (8, 17, 25):
            assert_same_replay(
                Snapshot.create(spark, table, version=v), f"foreign-log trial={trial} v{v}"
            )


@pytest.mark.parametrize("seed", [0xC4EC, 0x90D2])
def test_differential_foreign_checkpoint(spark, tmp_path, seed):
    from tests.test_foreign_checkpoint_fuzz import (
        FLAVORS,
        _mk_state,
        _write_checkpoint,
        _write_hint,
        _write_tail,
    )

    rng = random.Random(seed)
    for case, flavor in enumerate(FLAVORS):
        partitioned = rng.random() < 0.5
        table = str(tmp_path / f"t{case}")
        log_dir = f"{table}/_delta_log"
        os.makedirs(log_dir)
        live, tombstones = _mk_state(rng, partitioned)
        ckpt_version = rng.randrange(3, 9)
        v2info = _write_checkpoint(log_dir, ckpt_version, flavor, live, tombstones, rng, partitioned)
        _write_hint(log_dir, ckpt_version, flavor, v2info, len(live) + len(tombstones) + 2, rng)
        _write_tail(log_dir, ckpt_version + 1, rng.randrange(0, 4), live, tombstones, rng, partitioned)
        assert_same_replay(Snapshot.create(spark, table), f"foreign-checkpoint {flavor} seed={seed}")


def test_differential_history(spark, tmp_path):
    from tests.test_history_fuzz import _run_history

    seed = 20260815
    t, states, trace = _run_history(spark, str(tmp_path / "t"), random.Random(seed))
    for v in sorted(states):
        assert_same_replay(t.snapshot(version=v), f"history seed={seed} v{v} trace={trace}")


@pytest.mark.parametrize(
    "ls_name,fs_name,layout_idx",
    [
        ("compacted_2_6", "all_features_cm_name", 4),
        ("compacted_6_9_checkpoint_mid", "all_features_cm_id", 6),
        ("two_checkpoints_stale_hint_post_cleanup", "no_features", 2),
    ],
)
def test_differential_cross_product(spark, tmp_path, ls_name, fs_name, layout_idx):
    from tests.test_cross_product import (
        FEATURE_SETS,
        LATEST,
        LAYOUT_CONFIGS,
        LOG_STATES,
        _build,
    )

    log_state = LOG_STATES[ls_name]
    _, layout, cfg = LAYOUT_CONFIGS[layout_idx]
    t = _build(spark, str(tmp_path / "t"), log_state, {**FEATURE_SETS[fs_name], **cfg}, layout)
    for v in range(log_state.cleanup_before or 1, LATEST + 1):
        assert_same_replay(t.snapshot(version=v), f"cross-product {ls_name} v{v}")
