"""MERGE: multi-clause merge-into plus the upsert convenience wrapper.

The reference exposes the building blocks (remove+add rewrite via
``Transaction`` staging — kernel/src/transaction/update.rs — and cdc
emission for CDF); this composes them into the full user-facing statement:

    MERGE INTO t USING s ON t.k = s.k
      WHEN MATCHED [AND cond] THEN UPDATE SET ... | DELETE
      WHEN NOT MATCHED [AND cond] THEN INSERT ...

Execution shape (the same two-phase targeted-read plan as DELETE):

* phase 1 finds files containing at least one matched row where SOME
  matched clause fires (one distributed job, one small collect of paths);
* phase 2 re-reads ONLY those files, applies first-firing-clause-wins
  semantics per row, and rewrites them (unmatched and no-clause rows pass
  through untouched); their removes come from the scan's Arrow table;
* files with no firing row are never rewritten — stats-pruned exactly
  like DELETE;
* with CDF enabled, cdc files record update_preimage / update_postimage /
  delete / insert rows so the change feed shows row-level semantics
  instead of file-level rewrite noise (cdc supersedes add/remove in the
  reader — reference table_changes/log_replay.rs).

Clause conditions and assignment expressions are SQL strings over ``s``
(source) and ``t`` (target) — e.g. ``"s.qty > t.qty"`` — evaluated by
Catalyst against struct columns named ``s``/``t``, so arbitrary Spark SQL
works without any engine-side expression interpreter.

Source keys must be unique (the classic multiple-matches MERGE error).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from delta_kernel_rs_spark.sources.delete import (
    _candidate_frames,
    _removes,
    _write_cdc_files,
)
from delta_kernel_rs_spark.sources.transaction import begin


class MergeError(Exception):
    pass


def _clause_cond(cond) -> Column:
    if cond is None:
        return F.lit(True)
    return F.expr(cond) if isinstance(cond, str) else cond


def merge(
    table,
    source_df: DataFrame,
    on: list[str],
    *,
    when_matched_update: dict[str, str] | str | None = None,
    when_matched_update_condition: str | None = None,
    when_matched_delete: bool = False,
    when_matched_delete_condition: str | None = None,
    when_not_matched_insert: dict[str, str] | str | None = None,
    when_not_matched_insert_condition: str | None = None,
    matched_precedence: tuple[str, ...] = ("update", "delete"),
    txn_app_id: str | None = None,
    txn_version: int | None = None,
) -> int:
    """Multi-clause MERGE; returns the committed version.

    * ``on`` — equi-join key columns (SQL equality: NULL keys never match).
    * ``when_matched_update`` — ``"*"`` (take every column from the source)
      or ``{col: sql_expr}`` assignments over ``s``/``t``; unassigned
      columns keep the target value.
    * ``when_matched_delete`` — enable the matched-delete clause.
    * ``when_not_matched_insert`` — ``"*"`` or ``{col: sql_expr}`` over
      ``s``; unassigned columns become NULL.
    * ``*_condition`` — optional SQL over ``s``/``t`` gating each clause.
    * ``matched_precedence`` — clause order for matched rows; the FIRST
      clause whose condition holds wins (SQL MERGE clause order).

    Matched rows where no clause fires, and unmatched target rows, pass
    through unchanged.
    """
    snap = table.snapshot()
    if txn_app_id is not None:
        # exactly-once gate for streaming foreachBatch replays (reference
        # set-transaction actions, kernel/src/actions/set_transaction.rs):
        # a batch whose (appId, version) was already committed is a no-op.
        if txn_version is None:
            raise MergeError("txn_app_id requires txn_version")
        latest = table.latest_txn_version(txn_app_id)
        if latest is not None and latest >= txn_version:
            return snap.version
    cols = [f.name for f in snap.schema.fields]
    types = {f.name: f.dataType for f in snap.schema.fields}

    missing_keys = [k for k in on if k not in source_df.columns]
    if missing_keys:
        raise MergeError(f"source is missing merge key columns {missing_keys}")
    for spec, what in (
        (when_matched_update, "when_matched_update"),
        (when_not_matched_insert, "when_not_matched_insert"),
    ):
        if isinstance(spec, str) and spec not in ("*", "all"):
            raise MergeError(f'{what} must be "*" or an assignment dict')
        if isinstance(spec, str):
            absent = [c for c in cols if c not in source_df.columns]
            if absent:
                raise MergeError(
                    f'{what}="*" requires all table columns in the source; '
                    f"missing {absent}"
                )
        if isinstance(spec, dict):
            unknown = [c for c in spec if c not in cols]
            if unknown:
                raise MergeError(f"{what} assigns unknown columns {unknown}")
    if when_matched_update is None and not when_matched_delete and when_not_matched_insert is None:
        raise MergeError("merge needs at least one clause")

    dup = (
        source_df.groupBy(*on).count().filter(F.col("count") > 1).limit(1).collect()
    )
    if dup:
        raise MergeError(
            f"source has multiple rows for key {tuple(dup[0][k] for k in on)}; "
            "merge keys must be unique in the source"
        )

    s_struct = F.struct(*[F.col(c).alias(c) for c in source_df.columns]).alias("s")
    sdf = source_df.select(s_struct)

    # Matched-clause machinery: action = first clause whose condition holds.
    clauses: list[tuple[str, Column]] = []
    for name in matched_precedence:
        if name == "update" and when_matched_update is not None:
            clauses.append(("update", _clause_cond(when_matched_update_condition)))
        elif name == "delete" and when_matched_delete:
            clauses.append(("delete", _clause_cond(when_matched_delete_condition)))

    def action_col(matched: Column) -> Column:
        act = None
        for name, cond in clauses:
            act = F.when(cond, name) if act is None else act.when(cond, name)
        act = act.otherwise("keep") if act is not None else F.lit("keep")
        return F.when(matched, act).otherwise(F.lit("keep"))

    def updated_value(c: str) -> Column:
        if isinstance(when_matched_update, str):  # "*"
            return F.col("s").getField(c)
        if when_matched_update and c in when_matched_update:
            return F.expr(when_matched_update[c])
        return F.col("t").getField(c)

    def insert_value(c: str) -> Column:
        if isinstance(when_not_matched_insert, str):  # "*"
            return F.col("s").getField(c)
        if when_not_matched_insert and c in when_not_matched_insert:
            return F.expr(when_not_matched_insert[c])
        return F.lit(None)

    scan = snap.scan()
    df = _candidate_frames(scan)

    def joined_over(target: DataFrame) -> DataFrame:
        tdf = target.select(
            F.struct(*[F.col(c).alias(c) for c in cols]).alias("t"),
            "__file_path",
            "__row_index",
        )
        cond = [tdf["t"].getField(k) == sdf["s"].getField(k) for k in on]
        j = tdf.join(sdf, cond, "left")
        return j.withColumn("__action", action_col(F.col("s").isNotNull()))

    # Insert rows: source keys present NOWHERE in the target (anti-join on
    # the full candidate key set, not just rewritten files).
    ins = sdf
    if df is not None:
        tkeys = df.select(*[F.col(k).alias(f"__tk_{k}") for k in on]).distinct()
        ins = sdf.join(
            tkeys,
            [sdf["s"].getField(k) == F.col(f"__tk_{k}") for k in on],
            "left_anti",
        )
    if when_not_matched_insert is None:
        inserts = None
    else:
        if when_not_matched_insert_condition is not None:
            ins = ins.filter(_clause_cond(when_not_matched_insert_condition))
        inserts = ins.select(
            *[insert_value(c).cast(types[c]).alias(c) for c in cols]
        )

    cdc_actions: list[dict] = []
    removes: list[dict] = []
    out: DataFrame | None = inserts

    matched_paths: list[str] = []
    if df is not None and clauses:
        # Phase 1: which files contain a row where some matched clause fires?
        matched_paths = sorted(
            r.p
            for r in joined_over(df)
            .filter(F.col("__action") != "keep")
            .select(F.col("__file_path").alias("p"))
            .distinct()
            .collect()
        )

    if matched_paths:
        # Phase 2: targeted re-read of ONLY the matched files (a
        # __file_path filter over the full scan cannot prune files).
        touched = _candidate_frames(scan, matched_paths)
        tj = joined_over(touched)
        upd = [updated_value(c).cast(types[c]).alias(c) for c in cols]
        tvals = [F.col("t").getField(c).alias(c) for c in cols]
        rewritten = tj.filter(F.col("__action") != "delete").select(
            *[
                F.when(F.col("__action") == "update", u).otherwise(tv).alias(c)
                for c, u, tv in zip(cols, upd, tvals)
            ]
        )
        out = rewritten if inserts is None else rewritten.unionByName(inserts)

        if snap.metadata.cdf_enabled:
            upd_rows = tj.filter(F.col("__action") == "update")
            if when_matched_update is not None:
                cdc_actions += _write_cdc_files(
                    table, upd_rows.select(*tvals), snap, "update_preimage"
                )
                cdc_actions += _write_cdc_files(
                    table, upd_rows.select(*upd), snap, "update_postimage"
                )
            if when_matched_delete:
                del_rows = tj.filter(F.col("__action") == "delete").select(*tvals)
                cdc_actions += _write_cdc_files(table, del_rows, snap, "delete")
            if inserts is not None:
                cdc_actions += _write_cdc_files(table, inserts, snap, "insert")

        removes = _removes(table, scan, matched_paths)
    elif inserts is not None and snap.metadata.cdf_enabled:
        cdc_actions += _write_cdc_files(table, inserts, snap, "insert")

    if out is None:
        return snap.version  # delete-only merge that matched nothing

    # One staging write; zero-row part files are dropped at stage time and
    # an actionless transaction skips the commit — a no-op merge issues a
    # single Spark job and bumps no version.
    txn = begin(table, "MERGE", snap)
    if txn_app_id is not None:
        txn.with_transaction_id(txn_app_id, txn_version)
    txn.write_data(out)
    txn.add_actions(removes + cdc_actions)
    version = txn.commit()
    if version != snap.version:
        table.maybe_write_crc(version)
    return version


def upsert(
    table,
    source_df: DataFrame,
    keys: list[str],
    txn_app_id: str | None = None,
    txn_version: int | None = None,
) -> int:
    """Merge ``source_df`` into the table by ``keys``; returns the version.

    The classic update-or-insert: ``WHEN MATCHED THEN UPDATE SET * WHEN NOT
    MATCHED THEN INSERT *`` (requires every table column in the source).
    """
    cols = [f.name for f in table.snapshot().schema.fields]
    missing = [c for c in cols if c not in source_df.columns]
    if missing:
        raise MergeError(f"source is missing table columns {missing}")
    return merge(
        table,
        source_df.select(*cols),
        on=keys,
        when_matched_update="*",
        when_not_matched_insert="*",
        txn_app_id=txn_app_id,
        txn_version=txn_version,
    )
