"""``_delta_log`` filename grammar.

Mirrors the reference's path classification (kernel/src/path.rs — filename ⇄
version parsing; kernel/src/log_segment_files/ — commit / classic & V2 /
multipart checkpoint / compacted classification).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from enum import Enum

LOG_DIR = "_delta_log"
LAST_CHECKPOINT_NAME = "_last_checkpoint"


class LogFileKind(Enum):
    COMMIT = "commit"
    CLASSIC_CHECKPOINT = "classic_checkpoint"
    MULTIPART_CHECKPOINT = "multipart_checkpoint"
    V2_CHECKPOINT = "v2_checkpoint"
    COMPACTED = "compacted"
    CRC = "crc"
    STAGED_COMMIT = "staged_commit"
    UNKNOWN = "unknown"


@dataclass(frozen=True)
class ParsedLogPath:
    path: str  # absolute path or URL
    filename: str
    version: int
    kind: LogFileKind
    # multipart checkpoint: (part_number, num_parts)
    part: tuple[int, int] | None = None
    # compacted: range end (version field holds the start)
    end_version: int | None = None


_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
_CLASSIC_RE = re.compile(r"^(\d{20})\.checkpoint\.parquet$")
_MULTIPART_RE = re.compile(r"^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$")
_V2_RE = re.compile(r"^(\d{20})\.checkpoint\.([0-9a-zA-Z-]+)\.(json|parquet)$")
_COMPACTED_RE = re.compile(r"^(\d{20})\.(\d{20})\.compacted\.json$")
_CRC_RE = re.compile(r"^(\d{20})\.crc$")


def parse_log_filename(path: str) -> ParsedLogPath | None:
    """Classify one ``_delta_log`` member; None for non-log files."""
    filename = path.rstrip("/").rsplit("/", 1)[-1]
    m = _COMMIT_RE.match(filename)
    if m:
        return ParsedLogPath(path, filename, int(m.group(1)), LogFileKind.COMMIT)
    m = _CLASSIC_RE.match(filename)
    if m:
        return ParsedLogPath(path, filename, int(m.group(1)), LogFileKind.CLASSIC_CHECKPOINT)
    m = _MULTIPART_RE.match(filename)
    if m:
        return ParsedLogPath(
            path,
            filename,
            int(m.group(1)),
            LogFileKind.MULTIPART_CHECKPOINT,
            part=(int(m.group(2)), int(m.group(3))),
        )
    m = _COMPACTED_RE.match(filename)
    if m:
        return ParsedLogPath(
            path, filename, int(m.group(1)), LogFileKind.COMPACTED, end_version=int(m.group(2))
        )
    m = _V2_RE.match(filename)
    if m:
        return ParsedLogPath(path, filename, int(m.group(1)), LogFileKind.V2_CHECKPOINT)
    m = _CRC_RE.match(filename)
    if m:
        return ParsedLogPath(path, filename, int(m.group(1)), LogFileKind.CRC)
    return None


def commit_filename(version: int) -> str:
    return f"{version:020d}.json"


def classic_checkpoint_filename(version: int) -> str:
    return f"{version:020d}.checkpoint.parquet"


def compacted_filename(start: int, end: int) -> str:
    return f"{start:020d}.{end:020d}.compacted.json"


def is_local_path(path: str) -> bool:
    """True for a local filesystem path: no scheme, or ``file:``."""
    return "://" not in path or path.startswith("file://")


def arrow_fs_and_path(path: str):
    """(pyarrow FileSystem, fs-relative path) for a table/file path.

    Local paths (no scheme, or file://) get a LocalFileSystem DIRECTLY —
    never ``FileSystem.from_uri``, whose URI parser rejects raw spaces /
    unicode / percent signs that are perfectly legal in hive partition
    directory names (Spark's dir escaper leaves them unencoded; found by
    tests/test_history_fuzz.py with a ``cat=x%3Dy%2Fü %25`` partition).
    Remote URIs keep from_uri, whose encoding contract pyarrow owns.

    file paths are taken VERBATIM — never URI-decoded — so a percent-
    encoded file URI resolves to the literal ``%xx`` path (internally
    generated paths are plain filesystem strings; callers that hold an
    encoded spelling decode before calling). A ``file://`` URI with a
    non-empty authority other than ``localhost`` (``file://host/x``) is
    rejected rather than silently misread as the relative path ``host/x``.
    Per RFC 8089 the ``localhost`` authority is compared case-
    insensitively and a bare ``file://localhost`` (no trailing path)
    denotes the local host exactly like ``file:///``.

    Importable on executors (leaf module, no Spark imports).
    """
    import pyarrow.fs as pafs

    if path.startswith("file://"):
        rest = path[len("file://"):]
        authority, sep, tail = rest.partition("/")
        if authority and authority.lower() != "localhost":
            raise ValueError(
                f"file:// URI with a non-empty authority is not a local "
                f"path: {path!r}"
            )
        return pafs.LocalFileSystem(), sep + tail
    if "://" not in path:
        return pafs.LocalFileSystem(), path
    return pafs.FileSystem.from_uri(path)
