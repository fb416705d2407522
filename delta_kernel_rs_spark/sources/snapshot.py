"""Snapshot — a version-pinned, consistent view of a Delta table.

Mirrors the reference's ``Snapshot`` (kernel/src/snapshot/mod.rs:70-84),
protocol & metadata replay (kernel/src/log_segment/
protocol_metadata_replay.rs — newest-to-oldest search) and
``TableConfiguration`` (kernel/src/table_configuration.rs).

P&M resolution strategy: commits are scanned newest→oldest on the driver
(they are the small tail of the log and this short-circuits as soon as both
actions are found — exactly the reference's streaming search); if the
segment starts at a checkpoint and the tail lacks P&M, the checkpoint
parquet is read column-pruned (only ``metaData``/``protocol``) via pyarrow,
which touches just those column chunks.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import functions as F
from pyspark.sql import types as T

from delta_kernel_rs_spark.functions.schema_codec import parse_schema_string
from delta_kernel_rs_spark.sources.log_segment import (
    InvalidLogError,
    LogSegment,
    build_log_segment,
)
from delta_kernel_rs_spark.sources.storage import storage_for


@dataclass
class Protocol:
    min_reader_version: int = 1
    min_writer_version: int = 2
    reader_features: list[str] = field(default_factory=list)
    writer_features: list[str] = field(default_factory=list)

    #: Reader features this engine implements (reference feature gating:
    #: kernel/src/table_features/mod.rs:97-185).
    SUPPORTED_READER_FEATURES = frozenset(
        {
            "deletionVectors",
            "columnMapping",
            "timestampNtz",
            "typeWidening",
            "typeWidening-preview",
            "vacuumProtocolCheck",
            "v2Checkpoint",
            "changeDataFeed",
            "appendOnly",
            "invariants",
            "rowTracking",
            "domainMetadata",
            "inCommitTimestamp",
            "variantType",
            "variantType-preview",
            # Shredded variants: Spark 4.1 reads the shredded parquet
            # layout natively (spark.sql.variant.allowReadingShredded,
            # default true), so the kernel path reassembles typed_value
            # subcolumns for free (reference table_features/mod.rs:630-646
            # reads them too).
            "variantShredding",
            "variantShredding-preview",
        }
    )

    #: Writer features the Spark-side Transaction implements (reference
    #: write-side gating: kernel/src/table_features/mod.rs — a kernel must
    #: refuse to write tables whose features it cannot enforce).
    SUPPORTED_WRITER_FEATURES = frozenset(
        {
            "appendOnly",
            "invariants",
            "checkConstraints",
            "changeDataFeed",
            "generatedColumns",
            "allowColumnDefaults",
            "columnMapping",
            "identityColumns",
            "deletionVectors",
            "rowTracking",
            "timestampNtz",
            "typeWidening",
            "typeWidening-preview",
            "domainMetadata",
            "v2Checkpoint",
            "vacuumProtocolCheck",
            "inCommitTimestamp",
            "clustering",
            "variantType",
            "variantType-preview",
            # writer-only UniForm compat; V1 intentionally absent so
            # tables carrying it are refused for writes (mirroring the
            # reference's requirement matrices —
            # table_features/mod.rs:407-482)
            "icebergCompatV2",
            "icebergCompatV3",
            "variantShredding",
            "variantShredding-preview",
            "materializePartitionColumns",
        }
    )

    #: Catalog-managed table features (reference table_features/mod.rs:
    #: CatalogManaged / CatalogOwnedPreview). Deliberately NOT in the
    #: default supported sets: the filesystem log of such a table is not
    #: authoritative, so reading it without catalog context (log tail +
    #: max catalog version) or writing it without a catalog committer
    #: would observe/produce unratified state. Paths that DO carry the
    #: catalog context pass these as ``extra``.
    CATALOG_FEATURES = frozenset({"catalogManaged", "catalogOwned-preview"})

    def is_catalog_managed(self) -> bool:
        feats = set(self.reader_features or []) | set(self.writer_features or [])
        return bool(feats & self.CATALOG_FEATURES)

    def ensure_read_supported(
        self, extra: frozenset = frozenset(), supported: frozenset | None = None
    ) -> None:
        """``supported`` narrows the feature set for restricted readers —
        e.g. the pyarrow-based facade, which cannot decode parquet VARIANT
        pages the way the JVM reader can."""
        sup = self.SUPPORTED_READER_FEATURES if supported is None else supported
        if self.min_reader_version > 3:
            raise InvalidLogError(
                f"unsupported minReaderVersion {self.min_reader_version}"
            )
        if self.min_reader_version == 3:
            unsupported = set(self.reader_features or []) - sup - extra
            if unsupported:
                raise InvalidLogError(f"unsupported reader features: {sorted(unsupported)}")

    def ensure_write_supported(
        self, supported: frozenset | None = None, extra: frozenset = frozenset()
    ) -> None:
        """Refuse to write when the table requires enforcement this writer
        does not implement (reference: the kernel fails writes on unknown
        writerFeatures rather than landing unenforced data). ``supported``
        narrows the feature set for restricted writers — e.g. the
        SparkSession-free sink, which cannot run identity/row-tracking
        assignment."""
        sup = self.SUPPORTED_WRITER_FEATURES if supported is None else supported
        if self.min_writer_version > 7:
            raise InvalidLogError(
                f"unsupported minWriterVersion {self.min_writer_version}"
            )
        if self.min_writer_version == 7:
            unsupported = set(self.writer_features or []) - sup - extra
            if unsupported:
                raise InvalidLogError(
                    f"unsupported writer features: {sorted(unsupported)}"
                )


@dataclass
class TableMetadata:
    id: str
    schema_string: str
    partition_columns: list[str]
    configuration: dict[str, str]
    name: str | None = None
    description: str | None = None
    created_time: int | None = None

    @property
    def schema(self) -> T.StructType:
        return parse_schema_string(self.schema_string)

    @property
    def column_mapping_mode(self) -> str:
        return self.configuration.get("delta.columnMapping.mode", "none")

    @property
    def table_properties(self):
        """Typed view over ``configuration`` (reference ``TableProperties``,
        table_properties/mod.rs:75-245). Cached — the configuration dict is
        never mutated in place (metadata changes build a new TableMetadata)."""
        cached = self.__dict__.get("_table_properties")
        if cached is None:
            from delta_kernel_rs_spark.sources.table_properties import TableProperties

            cached = TableProperties.from_configuration(self.configuration)
            self.__dict__["_table_properties"] = cached
        return cached

    @property
    def cdf_enabled(self) -> bool:
        return self.configuration.get("delta.enableChangeDataFeed", "false").lower() == "true"


def _scan_commit_for_pm(text: str) -> tuple[dict | None, dict | None]:
    """Last metaData/protocol occurrence in one log file (or None).

    LAST, not first: a raw commit carries at most one of each, but a
    compacted file (and a foreign writer's compaction) concatenates
    actions of many versions in version order — the newest P&M is the
    final occurrence (reference log compaction reconciles to one, but
    the spec doesn't require foreign files to)."""
    metadata, protocol = None, None
    for line in text.splitlines():
        line = line.strip()
        if not line:
            continue
        try:
            action = json.loads(line)
        except ValueError:
            continue
        if "metaData" in action:
            metadata = action["metaData"]
        if "protocol" in action:
            protocol = action["protocol"]
    return metadata, protocol


def _checkpoint_pm(checkpoint_parts: list[str]) -> tuple[dict | None, dict | None]:
    import pyarrow.parquet as pq

    metadata, protocol = None, None
    for path in checkpoint_parts:
        local = path[len("file://") :] if path.startswith("file://") else path
        if local.endswith(".json"):
            # JSON-flavored V2 checkpoint: P&M are NDJSON lines in the
            # top-level file (sidecars carry only file actions)
            import json as _json

            with open(local, "r", encoding="utf-8") as fh:
                data = [_json.loads(line) for line in fh if line.strip()]
        else:
            pf = pq.ParquetFile(local)
            names = {c.split(".", 1)[0] for c in pf.schema_arrow.names}
            cols = [c for c in ("metaData", "protocol") if c in names]
            if not cols:
                continue
            table = pf.read(columns=cols)
            data = table.to_pylist()
        for row in data:
            md = row.get("metaData")
            if metadata is None and md and md.get("id"):
                metadata = md
            pr = row.get("protocol")
            if protocol is None and pr and pr.get("minReaderVersion") is not None:
                protocol = pr
        if metadata is not None and protocol is not None:
            break
    return metadata, protocol


def _validate_log_tail(
    version: int | None, log_tail: list | None, max_catalog_version: int | None
) -> None:
    """Catalog log-tail build validation shared by ``Snapshot.create`` and
    ``Snapshot.create_from`` (reference snapshot/builder.rs:326-397,
    validate_catalog_managed_build_*)."""
    tail = list(log_tail or [])
    for a, b in zip(tail, tail[1:]):
        if a.version + 1 != b.version:
            raise InvalidLogError(
                f"log tail versions not contiguous: {a.version} -> {b.version}"
            )
    has_staged = any("_staged_commits/" in e.path for e in tail)
    if has_staged and max_catalog_version is None:
        raise InvalidLogError(
            "max_catalog_version is required when the log tail carries "
            "staged commits"
        )
    if version is not None and max_catalog_version is not None:
        if version > max_catalog_version:
            raise InvalidLogError(
                f"requested version {version} exceeds max catalog "
                f"version {max_catalog_version}"
            )
    if max_catalog_version is not None and tail:
        last = tail[-1].version
        if version is not None:
            if last < version:
                raise InvalidLogError(
                    f"log tail ends at {last}, below requested version "
                    f"{version}"
                )
        elif last != max_catalog_version:
            raise InvalidLogError(
                f"log tail ends at {last}, not at max catalog version "
                f"{max_catalog_version}"
            )


class Snapshot:
    """Consistent view of table ``table_path`` at ``log_segment.version``."""

    def __init__(
        self,
        spark,
        table_path: str,
        log_segment: LogSegment,
        storage=None,
        max_catalog_version: int | None = None,
        _pm_baseline: "Snapshot | None" = None,
    ):
        self.spark = spark
        self.table_path = table_path.rstrip("/")
        self.log_segment = log_segment
        self.storage = storage or storage_for(spark, table_path)
        self.max_catalog_version = max_catalog_version
        # incremental-update baseline (create_from): P&M at the baseline's
        # version are known-good, so resolution only reads commits NEWER
        # than it (reference snapshot/incremental.rs cases D.2/F)
        self._pm_baseline = _pm_baseline
        self._resolve_protocol_metadata()

    # -- construction -------------------------------------------------
    @staticmethod
    def create(
        spark,
        table_path: str,
        version: int | None = None,
        log_tail: list | None = None,
        max_catalog_version: int | None = None,
    ) -> "Snapshot":
        """``log_tail``: catalog-provided staged commits (LogTailEntry list)
        appended over the listing — reference snapshot/builder.rs:149.
        ``max_catalog_version``: the catalog's ratified tip — REQUIRED for
        catalog-managed tables (their filesystem log alone is not
        authoritative) and forbidden otherwise; validation mirrors
        snapshot/builder.rs:326-397 (validate_catalog_managed_build_*)."""
        _validate_log_tail(version, log_tail, max_catalog_version)
        storage = storage_for(spark, table_path)
        segment = build_log_segment(
            storage, table_path, at_version=version, log_tail=log_tail
        )
        return Snapshot(
            spark,
            table_path,
            segment,
            storage,
            max_catalog_version=max_catalog_version,
        )

    @staticmethod
    def create_from(
        existing: "Snapshot",
        version: int | None = None,
        log_tail: list | None = None,
        max_catalog_version: int | None = None,
    ) -> "Snapshot":
        """Incrementally advance an existing snapshot to a newer version —
        the reference's ``Snapshot::builder_from(existing).build(engine)``
        (snapshot/incremental.rs:34-199, case taxonomy A-F).

        The existing snapshot's P&M are the baseline: only commits in
        ``(existing.version, target]`` are read for newer protocol /
        metadata, so a long-lived reader pays O(new commits) per refresh
        instead of re-reading the whole commit tail (on the reference's
        300k-add log that tail is ~46 MB of JSON per snapshot rebuild).

        Cases (reference spelling): A/B target==/< existing -> return /
        error; C/E nothing new -> return existing; D.1 a checkpoint NEWER
        than the existing version -> full rebuild from it (it already
        captures everything the baseline knows); D.2/F otherwise ->
        combined segment + baseline P&M updated from the new commits only.
        """
        s1 = existing.version
        if version is not None:
            if version == s1:
                return existing  # Case A
            if version < s1:
                raise InvalidLogError(
                    f"incremental snapshot update only moves forward: "
                    f"existing version {s1}, requested {version}"
                )  # Case B
        _validate_log_tail(version, log_tail, max_catalog_version)
        segment = build_log_segment(
            existing.storage,
            existing.table_path,
            at_version=version,
            log_tail=log_tail,
        )
        if segment.version < s1:
            raise InvalidLogError(
                f"log listing went backwards: existing version {s1}, "
                f"listed tip {segment.version}"
            )
        if segment.version == s1:
            return existing  # Cases C.2 / E (C.1 errors in build_log_segment)
        ckpt = segment.checkpoint_version
        if ckpt is not None and ckpt > s1:
            # Case D.1: the new checkpoint already captures the table state
            # through ckpt >= baseline — rebuild from it, no baseline needed
            return Snapshot(
                existing.spark,
                existing.table_path,
                segment,
                existing.storage,
                max_catalog_version=max_catalog_version,
            )
        # Cases D.2 / F: baseline P&M + lightweight replay of (S1, S2]
        return Snapshot(
            existing.spark,
            existing.table_path,
            segment,
            existing.storage,
            max_catalog_version=max_catalog_version,
            _pm_baseline=existing,
        )

    @property
    def version(self) -> int:
        return self.log_segment.version

    @property
    def schema(self) -> T.StructType:
        return self.metadata.schema

    def _resolve_protocol_metadata(self) -> None:
        metadata_dict: dict | None = None
        protocol_dict: dict | None = None
        # CRC fast path: {version}.crc carries P&M, skipping the commit-tail
        # replay (reference kernel/src/crc + snapshot/incremental.rs).
        from delta_kernel_rs_spark.sources.crc import read_crc

        crc = read_crc(self.storage, self.table_path, self.version)
        if crc is not None:
            metadata_dict = crc["metadata"]
            protocol_dict = crc["protocol"]
        baseline = self._pm_baseline
        commit_files = self.log_segment.commit_files
        if baseline is not None:
            # incremental update (create_from): the baseline's P&M are
            # authoritative through its version — only NEWER commits can
            # carry newer P&M, so skip reading the (possibly huge) older
            # tail. Compacted ranges straddling the baseline are kept:
            # _scan_commit_for_pm resolves the LAST in-file occurrence,
            # which is >= the baseline's (within-file order is by
            # version) — correct even for a foreign compacted file
            # carrying multiple P&M actions.
            commit_files = [
                c
                for c in commit_files
                if (getattr(c, "end_version", None) or c.version) > baseline.version
            ]
        for commit in reversed(commit_files):
            if metadata_dict is not None and protocol_dict is not None:
                break
            md, pr = _scan_commit_for_pm(self.storage.read_text(commit.path))
            if metadata_dict is None:
                metadata_dict = md
            if protocol_dict is None:
                protocol_dict = pr
            if metadata_dict is not None and protocol_dict is not None:
                break
        if baseline is not None:
            if protocol_dict is None:
                protocol_dict = {
                    "minReaderVersion": baseline.protocol.min_reader_version,
                    "minWriterVersion": baseline.protocol.min_writer_version,
                    "readerFeatures": list(baseline.protocol.reader_features),
                    "writerFeatures": list(baseline.protocol.writer_features),
                }
            if metadata_dict is None:
                bm = baseline.metadata
                metadata_dict = {
                    "id": bm.id,
                    "schemaString": bm.schema_string,
                    "partitionColumns": list(bm.partition_columns),
                    "configuration": dict(bm.configuration),
                    "name": bm.name,
                    "description": bm.description,
                    "createdTime": bm.created_time,
                }
        if (metadata_dict is None or protocol_dict is None) and self.log_segment.checkpoint_parts:
            # `_last_checkpoint` hint fast path: nonFileActions is the
            # checkpoint's complete non-file action set when present
            # (reference last_checkpoint_hint.rs:87-91) — P&M come straight
            # from the hint, no checkpoint file read.
            for entry in self.log_segment.hint_non_file_actions() or []:
                md = entry.get("metaData")
                if metadata_dict is None and md and md.get("id"):
                    metadata_dict = md
                pr = entry.get("protocol")
                if protocol_dict is None and pr and pr.get("minReaderVersion") is not None:
                    protocol_dict = pr
            if metadata_dict is None or protocol_dict is None:
                md, pr = _checkpoint_pm(self.log_segment.checkpoint_parts)
                metadata_dict = metadata_dict or md
                protocol_dict = protocol_dict or pr
        if metadata_dict is None or protocol_dict is None:
            raise InvalidLogError(
                f"no metaData/protocol found in log for {self.table_path}"
            )
        self.protocol = Protocol(
            min_reader_version=protocol_dict.get("minReaderVersion", 1),
            min_writer_version=protocol_dict.get("minWriterVersion", 2),
            reader_features=protocol_dict.get("readerFeatures") or [],
            writer_features=protocol_dict.get("writerFeatures") or [],
        )
        # catalog-managed ⟺ catalog context supplied (builder.rs:397-420):
        # loading such a table by filesystem listing alone can miss ratified
        # commits, and passing catalog context for a normal table is a bug.
        catalog_backed = self.max_catalog_version is not None
        if self.protocol.is_catalog_managed() and not catalog_backed:
            raise InvalidLogError(
                "catalog-managed table: load it through the catalog "
                "(Snapshot.create(..., log_tail=..., max_catalog_version=...))"
            )
        if catalog_backed and not self.protocol.is_catalog_managed():
            raise InvalidLogError(
                "max_catalog_version set for a non-catalog-managed table"
            )
        self.protocol.ensure_read_supported(
            extra=Protocol.CATALOG_FEATURES if catalog_backed else frozenset()
        )
        self.metadata = TableMetadata(
            id=metadata_dict.get("id", ""),
            schema_string=metadata_dict["schemaString"],
            partition_columns=list(metadata_dict.get("partitionColumns") or []),
            configuration=dict(metadata_dict.get("configuration") or {}),
            name=metadata_dict.get("name"),
            description=metadata_dict.get("description"),
            created_time=metadata_dict.get("createdTime"),
        )

    # -- scan ----------------------------------------------------------
    def scan(self, predicate=None, columns: list[str] | None = None, with_row_ids: bool = False):
        from delta_kernel_rs_spark.sources.scan import Scan

        return Scan(self, predicate=predicate, columns=columns, with_row_ids=with_row_ids)

    def to_df(self, predicate=None, columns: list[str] | None = None, with_row_ids: bool = False):
        return self.scan(
            predicate=predicate, columns=columns, with_row_ids=with_row_ids
        ).to_df()

    def get_domain_metadata(self, domain: str) -> str | None:
        """Latest live configuration for a metadata domain (reference
        Snapshot::get_domain_metadata; row tracking reads
        ``delta.rowTracking`` this way — kernel/src/row_tracking.rs)."""
        # CRC fast path: a PRESENT domainMetadata array is the complete
        # live-domain state (reference DomainMetadataState::Complete,
        # crc/state.rs — tombstones never stored, a miss means absent).
        from delta_kernel_rs_spark.sources.crc import read_crc

        crc = read_crc(self.storage, self.table_path, self.version)
        if crc is not None and crc.get("domainMetadata") is not None:
            for dm in crc["domainMetadata"]:
                if dm.get("domain") == domain:
                    return dm.get("configuration")
            return None
        for commit in reversed(self.log_segment.commit_files):
            best = None
            for line in self.storage.read_text(commit.path).splitlines():
                if '"domainMetadata"' not in line:
                    continue
                try:
                    action = json.loads(line)
                except ValueError:
                    continue
                dm = action.get("domainMetadata")
                if dm and dm.get("domain") == domain:
                    best = dm  # last one in the commit wins
            if best is not None:
                return None if best.get("removed") else best.get("configuration")
        if self.log_segment.checkpoint_parts:
            # hint fast path: a present nonFileActions array is the
            # checkpoint's COMPLETE non-file action set (reference
            # last_checkpoint_hint.rs:87-91) — a miss there is authoritative.
            nfa = self.log_segment.hint_non_file_actions()
            if nfa is not None:
                for entry in nfa:
                    dm = entry.get("domainMetadata")
                    if dm and dm.get("domain") == domain:
                        return None if dm.get("removed") else dm.get("configuration")
                return None
            from delta_kernel_rs_spark.sources.scan import read_named_files

            # TOP-LEVEL parts only: domainMetadata never moves to sidecars
            parts = list(self.log_segment.checkpoint_parts)
            if all(pp.endswith(".json") for pp in parts):
                from delta_kernel_rs_spark.sources.actions import ACTIONS_SCHEMA

                ckpt = read_named_files(self.spark, parts, fmt="json", schema=ACTIONS_SCHEMA)
            else:
                ckpt = read_named_files(self.spark, parts)
            if "domainMetadata" in ckpt.columns:
                rows = (
                    ckpt.filter(F.col("domainMetadata.domain") == domain)
                    .select("domainMetadata")
                    .collect()
                )
                for r in rows:
                    dm = r.domainMetadata.asDict()
                    return None if dm.get("removed") else dm.get("configuration")
        return None

    def clustering_columns(self) -> list[dict]:
        """Resolved clustering descriptors (reference kernel/src/
        clustering.rs ClusteringColumnInfo); empty for unclustered tables."""
        from delta_kernel_rs_spark.sources.clustering import clustering_columns

        return clustering_columns(self)

    def incremental_actions(self, base_version: int):
        """File-action diff over (base_version, this version]; None when the
        range is not servable (reference incremental_scan/mod.rs:1-60)."""
        from delta_kernel_rs_spark.sources.incremental import incremental_actions_df

        return incremental_actions_df(self, base_version)

    def scan_files_from(self, base_version: int, prior_files):
        """Refresh a cached scan-file list by replaying only newer commits
        (reference scan_metadata_from, kernel/src/scan/mod.rs:880-1024)."""
        from delta_kernel_rs_spark.sources.incremental import refresh_scan_files

        return refresh_scan_files(self, base_version, prior_files)

    def scan_files_df_from(self, base_version: int, prior_df):
        """Frame-shaped scan_metadata_from: merge a prior scan-files frame
        with the (base, this] diff entirely in-plan — the columnar
        prior-state handoff of the reference's scan_metadata_from
        (kernel/src/scan/mod.rs:880-1024). Feed the result to
        ``Scan.with_files_df``. None when the range is unservable.

        The merged frame for a fixed (table, base, target, prior plan) is
        immutable, so it lands in the same stable-key LRU the live-adds
        replay uses — a repeated refresh (dashboard poll, per-trigger
        streaming plan, bench rerun) reuses ONE persisted merge instead of
        re-running replay + anti-join each time. The prior frame's
        Catalyst semantic hash pins the key to the prior PLAN, so a
        different prior (e.g. predicate-filtered) can never alias."""
        from delta_kernel_rs_spark.sources.incremental import (
            refresh_scan_files_df,
        )

        merged = refresh_scan_files_df(self, base_version, prior_df)
        if merged is None or merged is prior_df:
            return merged
        try:
            sem = prior_df._jdf.queryExecution().analyzed().semanticHash()
        except Exception:  # internal API unavailable: skip cross-call reuse
            return merged
        from delta_kernel_rs_spark.sources.scan import cached_files_frame

        seg = self.log_segment
        key = (
            "incr_merge",
            self.spark.sparkContext.applicationId,
            self.table_path,
            base_version,
            self.version,
            seg.checkpoint_version,
            len(seg.commit_files),
            sem,
        )
        return cached_files_frame(key, lambda: merged)

    def timestamp_ms(self) -> int:
        """Commit timestamp of this snapshot's version (file mtime)."""
        return self.log_segment.commit_timestamps.get(self.version, 0)
