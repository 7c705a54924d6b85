"""The metadata-filesystem seam for the lakehouse layer.

Every piece of *metadata* I/O the manifest-versioned storage does —
manifests, `_stats.json` skipping sidecars, the `_clones/` registry,
view definitions, index meta logs, change cursors, vacuum's directory
walk — goes through the one :class:`LocalMetadataIO` instance below
(``partitioned.py``, ``mview.py``, ``sources/manifest_stream.py`` and
the index modules import it as ``metaio.IO``).  Executor-side *data*
I/O (parquet scans/writes) already goes through Spark/Arrow and is NOT
behind this seam; neither are two driver-side pyarrow reads of data
files:

- the footer reads in ``_dir_stats`` (stats collection belongs to the
  write job at cluster scale — Delta computes them inside the
  transaction);
- ``PartitionedTable._read_local``, which reads a small version's
  admitted parquet files (and their sizes) for point lookups and view
  reads that run no Spark job.  A file it cannot stat as a local path
  sends the read back to Spark.

Why a seam: SCALE.md names the local-FS metadata boundary as the one
port surface between this single-node sandbox and a 1000-executor
deployment.  This class IS that surface — a Hadoop-FS/object-store
port implements these nine operations (the same boundary Delta draws
with its per-filesystem ``LogStore``):

- ``write_new``      → PUT-if-absent / LogStore exclusive create — the
  ONLY write of content.  Every metadata change is a new write-once
  file (a ``v<N>.json`` log entry or a named registry entry), so
  first-committer-wins rides on this one atomicity and no store needs
  rename.
- ``list_dir`` / ``exists`` / ``is_dir`` / ``file_size`` /
  ``read_text`` / ``make_dirs`` / ``remove`` / ``remove_tree`` → the
  obvious LIST / HEAD / GET / DELETE calls

Implementations must preserve the exception contract (the callers'
control flow rides on it): ``write_new`` raises ``FileExistsError``
when the target exists; ``read_text``, ``file_size`` and ``remove``
raise ``FileNotFoundError`` when it does not;
``make_dirs(exist_ok=False)`` raises ``FileExistsError``.  A test
fake (``tests/test_metaio.py``) runs the same semantics suite against
both the local implementation and an in-memory one to prove the seam
is complete enough to swap.
"""

from __future__ import annotations

import os
import shutil


class LocalMetadataIO:
    """POSIX-filesystem implementation — the sandbox default."""

    # -- reads --------------------------------------------------------
    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def list_dir(self, path: str) -> list[str]:
        return os.listdir(path)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(path)

    def file_size(self, path: str) -> int:
        """Size in bytes; FileNotFoundError when absent (the
        ``read_text`` convention).  Object-store port: HEAD."""
        return os.path.getsize(path)

    # -- writes -------------------------------------------------------
    def write_new(self, path: str, text: str) -> None:
        """Create-exclusive publish — the COMMIT POINT of every
        manifest write.  FileExistsError = a concurrent committer won.
        Object-store port: PUT-if-absent, or a LogStore when the store
        lacks one (S3's conditional PUT, GCS generation-match)."""
        with open(path, "x") as f:
            f.write(text)

    def make_dirs(self, path: str, exist_ok: bool = False) -> None:
        os.makedirs(path, exist_ok=exist_ok)

    def remove(self, path: str) -> None:
        os.remove(path)

    def remove_tree(self, path: str) -> None:
        """Recursive delete, idempotent (missing = no-op)."""
        shutil.rmtree(path, ignore_errors=True)


class HadoopMetadataIO:
    """Hadoop-FileSystem implementation of the seam — the cluster /
    object-store port SCALE.md names as the one deployment delta.

    Routes every call through the JVM ``org.apache.hadoop.fs
    .FileSystem`` Spark already ships, so the same instance serves
    ``file://``, ``hdfs://``, and (with the usual connector jars)
    ``s3a://`` / ``gs://`` / ``abfss://`` paths — the filesystem is
    resolved PER PATH from the session's Hadoop configuration, exactly
    how Spark's own data plane resolves it.

    Atomicity story by operation (the commit protocol's load-bearing
    semantics, mirroring Delta's per-store ``LogStore`` matrix):

    - ``write_new`` (the commit point): HDFS ``create(overwrite =
      false)`` is an atomic namenode operation — first-committer-wins
      holds.  ``file://`` goes through ``RawLocalFileSystem``'s
      exists-then-create, a TOCTOU window this sandbox tolerates (the
      POSIX ``LocalMetadataIO`` with ``O_EXCL`` is the local default;
      this backend exists for cluster URIs).  S3A before conditional
      -PUT support (and any store without create-exclusive) needs an
      external coordination layer — Delta's ``S3SingleDriverLogStore``
      / DynamoDB LogStore is the published answer; plugging one in
      replaces only THIS method.
    - the other eight operations are plain LIST / HEAD / GET / DELETE
      / MKDIRS calls; no caller needs rename, so a store without an
      atomic rename (S3A) loses nothing.

    Exception contract: Java ``FileNotFoundException`` /
    ``FileAlreadyExistsException`` (and the raw-local ``IOException:
    ... already exists`` variant) are translated to the Python
    ``FileNotFoundError`` / ``FileExistsError`` the callers' control
    flow rides on — proven by running the same semantics suite as the
    local backend (tests/test_metaio.py).  A ``ChecksumException`` (a
    file whose bytes no longer match its checksum) is an ``OSError``,
    so readers that fail open on a damaged file do so on both
    backends."""

    def __init__(self, spark):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()

    # -- plumbing -----------------------------------------------------
    def _path(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def _fs(self, jpath):
        return jpath.getFileSystem(self._conf)

    @staticmethod
    def _translate(exc, path: str):
        """Map a Py4J-wrapped Java IO exception onto the seam's
        Python exception contract; return None when unrecognized."""
        j = getattr(exc, "java_exception", None)
        if j is None:
            return None
        name = j.getClass().getName()
        msg = str(j.getMessage() or "")
        if "FileNotFoundException" in name or "PathNotFoundException" in name:
            return FileNotFoundError(path)
        if ("FileAlreadyExistsException" in name
                or "already exists" in msg.lower()):
            return FileExistsError(path)
        if "ChecksumException" in name:
            return OSError(f"{path}: {msg}")
        return None

    def _write_stream(self, out, text: str) -> None:
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    # -- reads --------------------------------------------------------
    def read_text(self, path: str) -> str:
        from py4j.protocol import Py4JJavaError

        p = self._path(path)
        try:
            stream = self._fs(p).open(p)
            try:
                data = self._jvm.org.apache.commons.io.IOUtils \
                    .toByteArray(stream)
            finally:
                stream.close()
        except Py4JJavaError as exc:
            py = self._translate(exc, path)
            if py is not None:
                raise py from None
            raise
        return bytes(data).decode("utf-8")

    def list_dir(self, path: str) -> list[str]:
        from py4j.protocol import Py4JJavaError

        p = self._path(path)
        try:
            statuses = self._fs(p).listStatus(p)
        except Py4JJavaError as exc:
            py = self._translate(exc, path)
            if py is not None:
                raise py from None
            raise
        return [s.getPath().getName() for s in statuses]

    def exists(self, path: str) -> bool:
        p = self._path(path)
        return bool(self._fs(p).exists(p))

    def is_dir(self, path: str) -> bool:
        p = self._path(path)
        fs = self._fs(p)
        return bool(fs.exists(p) and fs.getFileStatus(p).isDirectory())

    def file_size(self, path: str) -> int:
        from py4j.protocol import Py4JJavaError

        p = self._path(path)
        try:
            return int(self._fs(p).getFileStatus(p).getLen())
        except Py4JJavaError as exc:
            py = self._translate(exc, path)
            if py is not None:
                raise py from None
            raise

    # -- writes -------------------------------------------------------
    def write_new(self, path: str, text: str) -> None:
        from py4j.protocol import Py4JJavaError

        p = self._path(path)
        try:
            out = self._fs(p).create(p, False)
        except Py4JJavaError as exc:
            py = self._translate(exc, path)
            if py is not None:
                raise py from None
            raise
        self._write_stream(out, text)

    def make_dirs(self, path: str, exist_ok: bool = False) -> None:
        p = self._path(path)
        fs = self._fs(p)
        if not exist_ok and fs.exists(p):
            raise FileExistsError(path)
        fs.mkdirs(p)

    def remove(self, path: str) -> None:
        p = self._path(path)
        fs = self._fs(p)
        if not fs.delete(p, False):
            if not fs.exists(p):
                raise FileNotFoundError(path)
            # delete() returned false but the path is still there
            # (permissions, trash policy, ...) — callers like
            # detach_clone rely on remove actually removing; a silent
            # no-op would keep protecting a detached clone's data.
            raise OSError(
                f"delete failed but path still exists: {path}")

    def remove_tree(self, path: str) -> None:
        """Recursive delete, idempotent (missing = no-op)."""
        p = self._path(path)
        self._fs(p).delete(p, True)


#: The instance the lakehouse modules route through.  Swap it (or
#: monkeypatch it) to retarget ALL metadata I/O — the data plane is
#: untouched by design.
IO = LocalMetadataIO()


def use_hadoop_io(spark) -> HadoopMetadataIO:
    """Swap the module-global seam to the Hadoop-FS backend (cluster
    deployments: call once after building the session).  Returns the
    installed instance; reassign ``metaio.IO = LocalMetadataIO()`` to
    revert."""
    global IO
    IO = HadoopMetadataIO(spark)
    return IO
