"""Storage handler: listing + atomic commit primitive.

Mirrors the reference's ``StorageHandler`` (kernel/src/lib.rs:610-654
``list_from`` — recursive lexicographic listing; ``lib.rs:754-760``
``write_json_file`` — the atomic put-if-absent that is the ACID commit
primitive, reference committer kernel/src/committer/filesystem.rs).

Two implementations:
  * :class:`LocalStorage` — POSIX; put-if-absent via ``O_CREAT|O_EXCL``.
  * :class:`HadoopStorage` — any Hadoop-supported FS through the running
    JVM (py4j); put-if-absent via ``FileSystem.create(path, overwrite=False)``
    which is atomic on HDFS/ABFS (rename-based stores). For S3 a
    coordinating LogStore (e.g. DynamoDB) would be required — documented,
    out of scope for the local build.

Every handler's ``stat`` raises :class:`FileNotFoundError` for a missing
path, so a caller that needs a file's metadata pays one store round trip,
not an ``exists`` probe followed by a ``stat``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from delta_kernel_rs_spark.sources.delta_paths import is_local_path


class CommitConflict(Exception):
    """The target commit file already exists — another writer won."""


@dataclass(frozen=True)
class FileEntry:
    """Reference ``FileMeta`` (kernel/src/lib.rs:236-243)."""

    path: str
    size: int
    last_modified_ms: int


def _strip_scheme(path: str) -> str:
    if path.startswith("file://"):
        return path[len("file://") :]
    return path


def _byte_chunks(data):
    """Normalize a commit payload (bytes or iterable of bytes) to chunks."""
    if isinstance(data, (bytes, bytearray)):
        yield bytes(data)
    else:
        yield from data


class LocalStorage:
    """POSIX storage handler."""

    def list_dir(self, directory: str) -> list[FileEntry]:
        """Lexicographically sorted listing (non-recursive)."""
        directory = _strip_scheme(directory)
        try:
            entries = list(os.scandir(directory))
        except FileNotFoundError:
            return []
        out = []
        for e in entries:
            if e.is_file():
                st = e.stat()
                out.append(FileEntry(e.path, st.st_size, int(st.st_mtime * 1000)))
        out.sort(key=lambda f: f.path)
        return out

    def list_from(self, directory: str, start_name: str) -> list[FileEntry]:
        """Files with name >= start_name (reference StorageHandler.list_from,
        kernel/src/lib.rs:610-654). POSIX has no server-side start key, but
        names below it are skipped BEFORE any stat or entry construction —
        on a million-entry log dir with a checkpoint hint, memory and stat
        calls are bounded by the matching tail, not the full listing."""
        directory = _strip_scheme(directory)
        try:
            entries = os.scandir(directory)
        except FileNotFoundError:
            return []
        out = []
        for e in entries:
            if e.name < start_name or not e.is_file():
                continue
            st = e.stat()
            out.append(FileEntry(e.path, st.st_size, int(st.st_mtime * 1000)))
        out.sort(key=lambda f: f.path)
        return out

    def list_recursive(self, directory: str) -> list[FileEntry]:
        directory = _strip_scheme(directory)
        out: list[FileEntry] = []
        for root, _dirs, files in os.walk(directory):
            for name in files:
                full = os.path.join(root, name)
                st = os.stat(full)
                out.append(FileEntry(full, st.st_size, int(st.st_mtime * 1000)))
        out.sort(key=lambda f: f.path)
        return out

    def read_text(self, path: str) -> str:
        with open(_strip_scheme(path), encoding="utf-8") as fh:
            return fh.read()

    def read_bytes(self, path: str) -> bytes:
        with open(_strip_scheme(path), "rb") as fh:
            return fh.read()

    def stat(self, path: str) -> FileEntry:
        st = os.stat(_strip_scheme(path))
        return FileEntry(path, st.st_size, int(st.st_mtime * 1000))

    def exists(self, path: str) -> bool:
        return os.path.exists(_strip_scheme(path))

    def mkdirs(self, directory: str) -> None:
        os.makedirs(_strip_scheme(directory), exist_ok=True)

    def put_if_absent(self, path: str, data) -> None:
        """Atomic create-if-not-exists — THE commit primitive.

        ``data`` is bytes or an iterable of bytes chunks; chunked input
        streams to disk so huge commits (clone/convert manifests) never
        buffer fully in driver memory. O_EXCL claims the name first, so
        atomicity is unchanged — a torn write is unlinked.
        """
        path = _strip_scheme(path)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError as exc:
            raise CommitConflict(path) from exc
        try:
            with os.fdopen(fd, "wb") as fh:
                for chunk in _byte_chunks(data):
                    fh.write(chunk)
                fh.flush()
                os.fsync(fh.fileno())
        except BaseException:
            # Never leave a torn commit file behind.
            try:
                os.unlink(path)
            finally:
                raise

    def put_overwrite(self, path: str, data: bytes) -> None:
        """Overwriting write via temp-file + rename (for _last_checkpoint)."""
        path = _strip_scheme(path)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp.{os.getpid()}.{os.urandom(4).hex()}"
        with open(tmp, "wb") as fh:
            fh.write(data)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)

    def rename(self, src: str, dst: str) -> None:
        os.makedirs(os.path.dirname(_strip_scheme(dst)), exist_ok=True)
        os.replace(_strip_scheme(src), _strip_scheme(dst))

    def delete(self, path: str) -> None:
        os.unlink(_strip_scheme(path))


class HadoopStorage:
    """Hadoop FileSystem storage via the active Spark JVM (any scheme).

    Used automatically for non-``file:`` table URLs; same interface as
    :class:`LocalStorage`.
    """

    def __init__(self, spark, base_url: str):
        self._jvm = spark._jvm
        self._jsc = spark._jsc
        self._conf = self._jsc.hadoopConfiguration()
        self._fs = self._jvm.org.apache.hadoop.fs.Path(base_url).getFileSystem(self._conf)

    def _jpath(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def list_dir(self, directory: str) -> list[FileEntry]:
        jdir = self._jpath(directory)
        if not self._fs.exists(jdir):
            return []
        out = []
        for status in self._fs.listStatus(jdir):
            if status.isFile():
                out.append(
                    FileEntry(
                        status.getPath().toString(),
                        status.getLen(),
                        status.getModificationTime(),
                    )
                )
        out.sort(key=lambda f: f.path)
        return out

    def list_from(self, directory: str, start_name: str) -> list[FileEntry]:
        """Files with name >= start_name via listStatusIterator: statuses
        stream from the NameNode/object store in pages and names below the
        start key are dropped before FileEntry construction, so client
        memory is bounded by the matching tail. (A genuinely server-side
        startAfter needs the raw object-store API — S3 ListObjectsV2 —
        which the Hadoop FileSystem abstraction does not expose; this is
        the closest portable shape.)"""
        jdir = self._jpath(directory)
        if not self._fs.exists(jdir):
            return []
        out: list[FileEntry] = []
        it = self._fs.listStatusIterator(jdir)
        while it.hasNext():
            status = it.next()
            if not status.isFile():
                continue
            if status.getPath().getName() < start_name:
                continue
            out.append(
                FileEntry(
                    status.getPath().toString(),
                    status.getLen(),
                    status.getModificationTime(),
                )
            )
        out.sort(key=lambda f: f.path)
        return out

    def list_recursive(self, directory: str) -> list[FileEntry]:
        jdir = self._jpath(directory)
        if not self._fs.exists(jdir):
            return []
        out: list[FileEntry] = []
        it = self._fs.listFiles(jdir, True)
        while it.hasNext():
            status = it.next()
            out.append(
                FileEntry(
                    status.getPath().toString(),
                    status.getLen(),
                    status.getModificationTime(),
                )
            )
        out.sort(key=lambda f: f.path)
        return out

    def read_text(self, path: str) -> str:
        # one copyBytes call per file: a per-line readLine loop costs one
        # py4j round trip per log action
        return self.read_bytes(path).decode("utf-8")

    def read_bytes(self, path: str) -> bytes:
        stream = self._fs.open(self._jpath(path))
        try:
            sink = self._jvm.java.io.ByteArrayOutputStream()
            self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, sink, 65536, False)
            return bytes(sink.toByteArray())
        finally:
            stream.close()

    def stat(self, path: str) -> FileEntry:
        from py4j.protocol import Py4JJavaError

        try:
            status = self._fs.getFileStatus(self._jpath(path))
        except Py4JJavaError as e:
            if e.java_exception.getClass().getName() == "java.io.FileNotFoundException":
                raise FileNotFoundError(path) from None
            raise
        return FileEntry(
            status.getPath().toString(), status.getLen(), status.getModificationTime()
        )

    def exists(self, path: str) -> bool:
        return self._fs.exists(self._jpath(path))

    def mkdirs(self, directory: str) -> None:
        self._fs.mkdirs(self._jpath(directory))

    def put_if_absent(self, path: str, data) -> None:
        try:
            stream = self._fs.create(self._jpath(path), False)
        except Exception as exc:  # FileAlreadyExistsException
            raise CommitConflict(path) from exc
        try:
            for chunk in _byte_chunks(data):
                stream.write(bytearray(chunk))
        finally:
            stream.close()

    def put_overwrite(self, path: str, data: bytes) -> None:
        stream = self._fs.create(self._jpath(path), True)
        try:
            stream.write(bytearray(data))
        finally:
            stream.close()

    def rename(self, src: str, dst: str) -> None:
        self._fs.rename(self._jpath(src), self._jpath(dst))

    def delete(self, path: str) -> None:
        self._fs.delete(self._jpath(path), False)


class ArrowStorage:
    """Read-side storage handler over ``pyarrow.fs`` (file/hdfs/s3/gcs).

    Needs no SparkSession or JVM, so it works on executors and inside
    Python Data Source readers (the streaming CDF source). Write-side
    methods are limited to overwrite semantics — pyarrow.fs has no atomic
    put-if-absent, so this handler never serves as a commit primitive.
    """

    def __init__(self, base_url: str):
        import urllib.parse

        from delta_kernel_rs_spark.sources.delta_paths import arrow_fs_and_path

        uri = self._uri(base_url)
        self._fs, base_rel = arrow_fs_and_path(uri)
        # scheme://authority prefix that turns a filesystem-relative path
        # back into a full URI. Two layouts exist: S3/GCS fold the bucket
        # into the fs path ("bucket/key"), so the prefix is bare
        # "scheme://"; HDFS/file keep authority out of the path ("/key"),
        # so the prefix carries it.
        parsed = urllib.parse.urlsplit(uri)
        if parsed.netloc and base_rel.startswith(parsed.netloc):
            self._prefix = f"{parsed.scheme}://"
        else:
            self._prefix = f"{parsed.scheme}://{parsed.netloc}"

    @staticmethod
    def _uri(path: str) -> str:
        return path if "://" in path else f"file://{path}"

    def _full(self, rel: str) -> str:
        """Filesystem-relative path → full URI (listings/stat must return
        paths that round-trip through read_text/read_bytes)."""
        return f"{self._prefix}{rel}"

    def _rel(self, path: str) -> str:
        # A path without a scheme is already filesystem-relative (POSIX
        # paths double as LocalFileSystem paths; S3 paths are bucket/key).
        if "://" not in path:
            return path
        from delta_kernel_rs_spark.sources.delta_paths import arrow_fs_and_path

        _, rel = arrow_fs_and_path(path)
        return rel

    def list_dir(self, directory: str) -> list[FileEntry]:
        import pyarrow.fs as pafs

        sel = pafs.FileSelector(self._rel(directory), allow_not_found=True)
        out = [
            FileEntry(
                self._full(info.path),
                info.size or 0,
                int(info.mtime.timestamp() * 1000) if info.mtime else 0,
            )
            for info in self._fs.get_file_info(sel)
            if info.type == pafs.FileType.File
        ]
        out.sort(key=lambda f: f.path)
        return out

    def list_from(self, directory: str, start_name: str) -> list[FileEntry]:
        """Start-key listing (reference kernel/src/lib.rs:610-654).

        Local filesystems bypass pyarrow entirely: ``os.scandir`` yields
        names without stat, so names below the key are dropped on the
        name alone and only the matching tail is ever stat'ed — the same
        skip-before-stat bound as :class:`LocalStorage`.

        REMOTE LIMITATION (documented rejection of the prefix-band
        workaround, PLANS.md round 7): pyarrow's ``FileSelector`` selects
        whole directories only — it has no start key, no name-prefix
        filter, and no paging handle, and ``get_file_info(paths)`` needs
        exact names, which checkpoint/compaction artifacts
        (``{v}.checkpoint.{uuid}.parquet``, ``{v}.{v'}.compacted.json``)
        make unguessable. So remote filesystems list the full page set
        and filter; entry construction is still skipped below the key.
        Use the Hadoop handler (streaming ``listStatusIterator``) for
        huge remote logs — this handler serves SparkSession-free
        contexts (executors, Python data sources)."""
        import pyarrow.fs as pafs

        rel = self._rel(directory)
        if isinstance(self._fs, pafs.LocalFileSystem):
            import os

            out = []
            try:
                with os.scandir(rel) as it:
                    for e in it:
                        if e.name < start_name:
                            continue  # dropped before any stat
                        if not e.is_file():
                            continue
                        st = e.stat()
                        out.append(
                            FileEntry(
                                self._full(f"{rel.rstrip('/')}/{e.name}"),
                                st.st_size,
                                int(st.st_mtime * 1000),
                            )
                        )
            except FileNotFoundError:
                return []
            out.sort(key=lambda f: f.path)
            return out
        sel = pafs.FileSelector(rel, allow_not_found=True)
        out = [
            FileEntry(
                self._full(info.path),
                info.size or 0,
                int(info.mtime.timestamp() * 1000) if info.mtime else 0,
            )
            for info in self._fs.get_file_info(sel)
            if info.type == pafs.FileType.File
            and info.path.rsplit("/", 1)[-1] >= start_name
        ]
        out.sort(key=lambda f: f.path)
        return out

    def list_recursive(self, directory: str) -> list[FileEntry]:
        import pyarrow.fs as pafs

        sel = pafs.FileSelector(
            self._rel(directory), recursive=True, allow_not_found=True
        )
        out = [
            FileEntry(
                self._full(info.path),
                info.size or 0,
                int(info.mtime.timestamp() * 1000) if info.mtime else 0,
            )
            for info in self._fs.get_file_info(sel)
            if info.type == pafs.FileType.File
        ]
        out.sort(key=lambda f: f.path)
        return out

    def read_text(self, path: str) -> str:
        return self.read_bytes(path).decode("utf-8")

    def read_bytes(self, path: str) -> bytes:
        with self._fs.open_input_stream(self._rel(path)) as fh:
            return fh.read()

    def stat(self, path: str) -> FileEntry:
        import pyarrow.fs as pafs

        info = self._fs.get_file_info(self._rel(path))
        if info.type == pafs.FileType.NotFound:
            raise FileNotFoundError(path)
        return FileEntry(
            path,
            info.size or 0,
            int(info.mtime.timestamp() * 1000) if info.mtime else 0,
        )

    def exists(self, path: str) -> bool:
        import pyarrow.fs as pafs

        return self._fs.get_file_info(self._rel(path)).type != pafs.FileType.NotFound


def storage_for(spark, table_path: str):
    """Pick a storage handler for the table URL."""
    if is_local_path(table_path):
        return LocalStorage()
    return HadoopStorage(spark, table_path)


def storage_for_uri(table_path: str):
    """Pick a SparkSession-free storage handler (streaming sources,
    executor-side code). Local paths keep the POSIX handler (atomic
    put-if-absent available); remote URIs get the pyarrow.fs handler."""
    if is_local_path(table_path):
        return LocalStorage()
    return ArrowStorage(table_path)
