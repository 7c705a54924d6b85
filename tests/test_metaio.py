"""The metadata-FS seam (metaio.py): the same semantics suite runs
against the local implementation AND an in-memory fake — proving the
interface is complete and the exception contract is implementation
-independent (what a Hadoop-FS/object-store port must satisfy).  A
recording wrapper then shows the lakehouse actually ROUTES through the
seam: a PartitionedTable lifecycle driven with the wrapper installed
performs its manifest reads, commit publishes, sidecar writes, and
vacuum walk through seam calls only."""

from __future__ import annotations

import os
import posixpath

import pytest
from pyspark.sql import functions as F

from cs186_query_optimization_project_spark import metaio
from cs186_query_optimization_project_spark.metaio import LocalMetadataIO
from cs186_query_optimization_project_spark.partitioned import (
    PartitionedTable,
)


class MemoryMetadataIO:
    """In-memory implementation of the seam — same exception contract
    as LocalMetadataIO, no filesystem."""

    def __init__(self):
        self.files: dict[str, str] = {}
        self.dirs: set[str] = set()

    def _norm(self, p):
        return posixpath.normpath(p)

    def read_text(self, path):
        p = self._norm(path)
        if p not in self.files:
            raise FileNotFoundError(p)
        return self.files[p]

    def list_dir(self, path):
        p = self._norm(path)
        if p not in self.dirs:
            raise FileNotFoundError(p)
        out = set()
        for q in list(self.files) + list(self.dirs):
            if q.startswith(p + "/"):
                out.add(q[len(p) + 1:].split("/", 1)[0])
        return sorted(out)

    def exists(self, path):
        p = self._norm(path)
        return p in self.files or p in self.dirs

    def is_dir(self, path):
        return self._norm(path) in self.dirs

    def file_size(self, path):
        p = self._norm(path)
        if p not in self.files:
            raise FileNotFoundError(p)
        return len(self.files[p].encode())

    def write_new(self, path, text):
        p = self._norm(path)
        if p in self.files:
            raise FileExistsError(p)
        self.files[p] = text

    def replace_text(self, path, text):
        self.files[self._norm(path)] = text

    def publish_lock(self, path, text):
        self.write_new(path, text)

    def make_dirs(self, path, exist_ok=False):
        p = self._norm(path)
        if p in self.dirs and not exist_ok:
            raise FileExistsError(p)
        while p and p != "/":
            self.dirs.add(p)
            p = posixpath.dirname(p)

    def remove(self, path):
        p = self._norm(path)
        if p not in self.files:
            raise FileNotFoundError(p)
        del self.files[p]

    def remove_tree(self, path):
        p = self._norm(path)
        for q in [q for q in self.files if q.startswith(p + "/")]:
            del self.files[q]
        self.dirs -= {q for q in self.dirs
                      if q == p or q.startswith(p + "/")}


class RenamelessMetadataIO(LocalMetadataIO):
    """Object-store-shaped backend with NO atomic rename — the store
    class SCALE.md's per-store matrix documents as degraded
    (S3A-before-conditional-PUT): ``replace_text`` is the copy+delete
    shape (PUT a tmp object, whole-object COPY onto the destination,
    DELETE the tmp) with an injectable crash window between the
    steps, and ``write_new`` (create-exclusive) is the ONLY atomic
    primitive.  The copy step is a single whole-object publish of
    fully-written bytes — modeling the object-store guarantee that a
    reader sees the old object or the new one, never a torn one;
    crashes inject BETWEEN operations because an object store has no
    mid-PUT truncated state to model.  Everything else inherits the
    POSIX calls: the point of the fake is proving the manifest/lock
    protocol holds when rename atomicity is absent, not re-proving
    LIST/HEAD."""

    def __init__(self):
        self.crash_after: str | None = None    # "tmp" | "copy"

    def _maybe_crash(self, point: str) -> None:
        if self.crash_after == point:
            self.crash_after = None
            raise RuntimeError(f"injected crash after {point}")

    def replace_text(self, path, text):
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:              # PUT tmp object
            f.write(text)
        self._maybe_crash("tmp")
        data = open(tmp).read()                # server-side COPY =
        with open(path, "w") as f:             # one whole-object PUT
            f.write(data)
        self._maybe_crash("copy")
        os.remove(tmp)                         # DELETE tmp


@pytest.fixture(params=["local", "memory", "hadoop", "objectstore"])
def io(request, tmp_path, spark):
    if request.param == "local":
        yield LocalMetadataIO(), str(tmp_path)
    elif request.param == "hadoop":
        yield metaio.HadoopMetadataIO(spark), str(tmp_path)
    elif request.param == "objectstore":
        yield RenamelessMetadataIO(), str(tmp_path)
    else:
        yield MemoryMetadataIO(), "/mem"


def test_seam_semantics(io):
    impl, base = io
    root = f"{base}/t"
    impl.make_dirs(f"{root}/_manifests")
    with pytest.raises(FileExistsError):      # exclusive dirs
        impl.make_dirs(f"{root}/_manifests")
    impl.make_dirs(f"{root}/_manifests", exist_ok=True)
    assert impl.is_dir(f"{root}/_manifests")
    assert not impl.is_dir(f"{root}/nope")
    # write_new is the commit point: second committer loses
    impl.write_new(f"{root}/_manifests/v0.json", "{}")
    with pytest.raises(FileExistsError):
        impl.write_new(f"{root}/_manifests/v0.json", "{..}")
    assert impl.read_text(f"{root}/_manifests/v0.json") == "{}"
    assert impl.file_size(f"{root}/_manifests/v0.json") == 2
    with pytest.raises(FileNotFoundError):
        impl.file_size(f"{root}/_manifests/v9.json")
    assert impl.list_dir(f"{root}/_manifests") == ["v0.json"]
    # replace publishes new content under the same name
    impl.replace_text(f"{root}/_manifests/v0.json", "{\"a\":1}")
    assert impl.read_text(f"{root}/_manifests/v0.json") == "{\"a\":1}"
    # locks: held = FileExistsError, content published atomically
    impl.publish_lock(f"{root}/lock", "123")
    with pytest.raises(FileExistsError):
        impl.publish_lock(f"{root}/lock", "456")
    assert impl.read_text(f"{root}/lock") == "123"
    impl.remove(f"{root}/lock")
    with pytest.raises(FileNotFoundError):
        impl.remove(f"{root}/lock")
    with pytest.raises(FileNotFoundError):
        impl.read_text(f"{root}/lock")
    # remove_tree is recursive and idempotent
    impl.remove_tree(root)
    impl.remove_tree(root)
    assert not impl.exists(f"{root}/_manifests/v0.json")


def test_staging_stats_parsed_once_per_staging(spark, tmp_path,
                                               monkeypatch):
    """The skipping loops call _staging_stats once per DIRECTORY; the
    sidecar is immutable with its staging, so each staging's
    _stats.json must be read+parsed at most ONCE per table handle —
    at metadata scale (thousands of dirs per staging) the repeated
    driver-side parse was O(dirs x queries)."""
    from cs186_query_optimization_project_spark.partitioned import (
        PartitionedTable,
    )

    rec = RecordingIO()
    monkeypatch.setattr(metaio, "IO", rec)
    df = spark.createDataFrame(
        [(i, chr(65 + i % 4), float(i)) for i in range(20)],
        "id long, grp string, amt double")
    pt = PartitionedTable.create(spark, df, str(tmp_path / "t"), "grp")
    rec.calls.clear()
    pt.read_where("id", lo=3, hi=7).count()
    pt.read_where("id", lo=3, hi=7).count()       # second query
    pt.read_point("id", 5).count()
    stats_reads = [p for (m, p) in rec.calls
                   if m == "read_text" and p.endswith("_stats.json")]
    assert len(stats_reads) == 1                  # one staging, one parse
    # a fresh handle re-reads once (no cross-instance staleness risk:
    # the sidecar is write-once), then serves from its own cache
    pt2 = PartitionedTable(spark, str(tmp_path / "t"))
    rec.calls.clear()
    pt2.read_where("id", lo=3, hi=7).count()
    pt2.read_where("id", lo=3, hi=7).count()
    stats_reads = [p for (m, p) in rec.calls
                   if m == "read_text" and p.endswith("_stats.json")]
    assert len(stats_reads) == 1


def test_hadoop_replace_cleans_stale_checksums(spark, tmp_path):
    """FileContext.rename rides the checksum-less raw FS, so without
    the cleanup a ChecksumFileSystem read after replace_text would
    throw ChecksumException against the stale .crc sidecar (the exact
    failure the lifecycle suite hit on the Hive proxy FS's parent
    class) — pin that replace leaves a cleanly readable file and no
    tmp litter."""
    io = metaio.HadoopMetadataIO(spark)
    p = str(tmp_path / "m.json")
    io.write_new(p, "{}")                  # writes the .crc sidecar
    io.replace_text(p, '{"a":1}')          # must drop the stale .crc
    assert io.read_text(p) == '{"a":1}'
    io.replace_text(p, '{"b":2}')          # and again on re-replace
    assert io.read_text(p) == '{"b":2}'
    assert not [f for f in os.listdir(tmp_path) if ".tmp." in f]


def test_hadoop_unicode_roundtrip(spark, tmp_path):
    """Manifest payloads are JSON but partition VALUES inside them can
    be any table string — pin UTF-8 fidelity through every write verb
    of the Hadoop backend."""
    io = metaio.HadoopMetadataIO(spark)
    text = '{"k": "héllo — 你好 🚀 \\"quoted\\""}'
    p = str(tmp_path / "u.json")
    io.write_new(p, text)
    assert io.read_text(p) == text
    assert io.file_size(p) == len(text.encode("utf-8"))
    io.replace_text(p, text + "2")
    assert io.read_text(p) == text + "2"
    io.publish_lock(str(tmp_path / "lk"), text)
    assert io.read_text(str(tmp_path / "lk")) == text


def test_publish_lock_without_hardlink_support(tmp_path, monkeypatch):
    """Filesystems that refuse os.link (some NFS/FUSE/object-store
    mounts) must still deliver the held/free lock signal via the
    O_EXCL fallback — a raw EPERM out of publish_lock would break
    mview.refresh entirely instead of failing safe."""
    import errno
    import os as _os

    real_link = _os.link

    def no_link(src, dst, **kw):
        raise OSError(errno.EPERM, "Operation not permitted", dst)

    monkeypatch.setattr(_os, "link", no_link)
    impl = LocalMetadataIO()
    lock = str(tmp_path / "lk")
    impl.publish_lock(lock, "123")
    assert impl.read_text(lock) == "123"        # content intact
    with pytest.raises(FileExistsError):        # held signal intact
        impl.publish_lock(lock, "456")
    assert impl.read_text(lock) == "123"
    assert not [f for f in _os.listdir(tmp_path)  # no tmp litter
                if ".tmp." in f]
    # an errno OUTSIDE the no-hardlink set still propagates raw
    monkeypatch.setattr(_os, "link", lambda s, d, **kw: (_ for _ in ())
                        .throw(OSError(errno.EIO, "I/O error", d)))
    with pytest.raises(OSError) as ei:
        impl.publish_lock(str(tmp_path / "lk2"), "x")
    assert ei.value.errno == errno.EIO
    monkeypatch.setattr(_os, "link", real_link)


class RecordingIO(LocalMetadataIO):
    """Pass-through wrapper logging every seam call."""

    def __init__(self):
        self.calls: list[tuple[str, str]] = []


def _record(name):
    def wrapper(self, path, *a, **kw):
        self.calls.append((name, path))
        return getattr(LocalMetadataIO, name)(self, path, *a, **kw)
    return wrapper


for _m in ("read_text", "list_dir", "exists", "is_dir", "write_new",
           "replace_text", "publish_lock", "make_dirs", "remove",
           "remove_tree"):
    setattr(RecordingIO, _m, _record(_m))


class CrashingIO(LocalMetadataIO):
    """Pass-through that counts seam calls and, once ``at`` is reached,
    fails that call and every later one — a process dying mid-commit."""

    def __init__(self, at=None):
        self.at, self.calls = at, 0


def _crashing(name):
    def wrapper(self, path, *a, **kw):
        self.calls += 1
        if self.at is not None and self.calls >= self.at:
            raise RuntimeError(f"crash at metadata call {self.calls}")
        return getattr(LocalMetadataIO, name)(self, path, *a, **kw)
    return wrapper


for _m in ("read_text", "list_dir", "exists", "is_dir", "file_size",
           "write_new", "replace_text", "publish_lock", "make_dirs",
           "remove", "remove_tree"):
    setattr(CrashingIO, _m, _crashing(_m))


def test_two_table_commit_atomic_at_every_crash_point(spark, tmp_path,
                                                      monkeypatch):
    """A two-table ``begin()`` commit crashed at each of its metadata
    calls in turn, and once at its Spark write: a fresh ``Database``
    over the directory then reads both tables before the commit or
    both after it, never a mix, and a retry from a fresh catalog
    converges to the after state."""
    from cs186_query_optimization_project_spark import Database

    d = str(tmp_path)
    for n in ("a", "b"):
        Database(spark).create_table(
            n, spark.createDataFrame([(1, 0)], "k long, x long"),
            f"{d}/{n}")

    def state():
        fresh = Database(spark, d)
        return tuple(fresh.table(n).collect()[0]["x"] for n in ("a", "b"))

    def commit(x, io=None):
        txn = Database(spark, d).begin()
        for n in ("a", "b"):
            txn.update_rows(n, F.lit(True), {"x": F.lit(x)})
        if io is not None:
            monkeypatch.setattr(metaio, "IO", io)
        try:
            txn.commit()
        finally:
            monkeypatch.setattr(metaio, "IO", LocalMetadataIO())

    probe = CrashingIO()
    commit(1, probe)
    assert state() == (1, 1)
    real_write = PartitionedTable._write_partitions

    def failing_write(self, df, *a, **kw):
        if self.root.endswith("/b"):
            raise RuntimeError("crash in the Spark write")
        return real_write(self, df, *a, **kw)

    x = 1
    for at in [*range(1, probe.calls + 1), "spark"]:
        if at == "spark":
            monkeypatch.setattr(PartitionedTable, "_write_partitions",
                                failing_write)
        with pytest.raises(RuntimeError, match="crash"):
            commit(x + 1, None if at == "spark" else CrashingIO(at))
        monkeypatch.setattr(PartitionedTable, "_write_partitions",
                            real_write)
        assert state() in ((x, x), (x + 1, x + 1)), at
        x += 1
        commit(x)
        assert state() == (x, x), at


def test_lakehouse_lifecycle_on_hadoop_backend(spark, tmp_path,
                                               monkeypatch):
    """The SAME create→insert→read→point-lookup→delete→time-travel→
    vacuum lifecycle the seam-routing test drives, but with ALL
    metadata I/O going through the Hadoop-FS backend — the cluster
    deployment configuration (metaio.use_hadoop_io).  Data-plane
    parquet I/O is untouched; only manifests/sidecars/locks reroute."""
    monkeypatch.setattr(metaio, "IO", metaio.HadoopMetadataIO(spark))
    df = spark.createDataFrame(
        [(i, chr(65 + i % 3), float(i)) for i in range(12)],
        "id long, grp string, amt double")
    pt = PartitionedTable.create(spark, df, str(tmp_path / "t"), "grp")
    pt.insert(spark.createDataFrame([(99, "A", 99.0)],
                                    "id long, grp string, amt double"))
    assert pt.read().count() == 13
    assert pt.read_point("id", 99).count() == 1
    pt.delete(F.col("id") == 0)
    assert pt.read().count() == 12
    assert pt.read(version=0).count() == 12      # time travel intact
    pt.vacuum(keep_last=1)
    assert pt.read().count() == 12
    # a second handle over the same root sees the committed state
    assert PartitionedTable(spark, str(tmp_path / "t")).read().count() \
        == 12


def test_lakehouse_routes_through_seam(spark, tmp_path, monkeypatch):
    rec = RecordingIO()
    monkeypatch.setattr(metaio, "IO", rec)
    df = spark.createDataFrame(
        [(1, "A", 1.0), (2, "B", 2.0)],
        "id long, grp string, amt double")
    pt = PartitionedTable.create(spark, df, str(tmp_path / "t"), "grp")
    pt.insert(spark.createDataFrame([(3, "A", 3.0)],
                                    "id long, grp string, amt double"))
    assert pt.read().count() == 3
    pt.delete(F.col("id") == 1)
    pt.vacuum(keep_last=1)
    names = {n for n, _ in rec.calls}
    # every category of metadata I/O went through the seam
    assert {"write_new", "read_text", "list_dir", "make_dirs",
            "remove", "remove_tree", "is_dir"} <= names
    manifests = [p for n, p in rec.calls
                 if n == "write_new" and "_manifests" in p]
    assert len(manifests) == 3                 # v0, v1, v2 commits
    stats = [p for n, p in rec.calls
             if n == "write_new" and p.endswith("_stats.json")]
    assert len(stats) == 3                     # one per write job


def test_renameless_replace_crash_window_old_or_new(tmp_path):
    """The degraded-mode discipline SCALE.md documents for rename-less
    stores, actually executed: a crash at EITHER point of the
    copy+delete replace leaves the destination reading as the complete
    old content or the complete new content — never torn, never
    missing — and a blind retry of the same replace converges and
    clears the tmp litter."""
    io = RenamelessMetadataIO()
    p = str(tmp_path / "meta.json")
    io.write_new(p, "OLD")
    for point, expect in (("tmp", "OLD"), ("copy", "NEW")):
        io.replace_text(p, "OLD")              # reset to pre-state
        for f in os.listdir(tmp_path):         # and clear litter
            if ".tmp." in f:
                os.remove(tmp_path / f)
        io.crash_after = point
        with pytest.raises(RuntimeError, match="injected crash"):
            io.replace_text(p, "NEW")
        assert io.read_text(p) == expect       # old-or-new, intact
        io.replace_text(p, "NEW")              # blind retry converges
        assert io.read_text(p) == "NEW"
        assert not [f for f in os.listdir(tmp_path) if ".tmp." in f]


def test_lakehouse_lifecycle_on_renameless_backend(spark, tmp_path,
                                                   monkeypatch):
    """The full DML lifecycle PLUS the replace_text callers (the
    clones registry) on the rename-less backend: the commit protocol
    must ride write_new alone, and every replace_text consumer must
    tolerate old-or-new (non-rename) publish semantics."""
    rio = RenamelessMetadataIO()
    monkeypatch.setattr(metaio, "IO", rio)
    df = spark.createDataFrame(
        [(i, chr(65 + i % 3), float(i)) for i in range(12)],
        "id long, grp string, amt double")
    pt = PartitionedTable.create(spark, df, str(tmp_path / "t"), "grp")
    pt.insert(spark.createDataFrame([(99, "A", 99.0)],
                                    "id long, grp string, amt double"))
    pt.delete(F.col("id") == 0)
    assert pt.read().count() == 12
    assert pt.read(version=0).count() == 12
    # clone registration publishes via replace_text — the rename-less
    # copy+delete path — and must round-trip through a fresh handle
    clone = pt.clone(str(tmp_path / "c"))
    assert clone.read().count() == 12
    pt.vacuum(keep_last=1)
    assert PartitionedTable(spark, str(tmp_path / "t")).read().count() \
        == 12


def test_hadoop_remove_raises_on_failed_delete(spark, tmp_path,
                                               monkeypatch):
    """fs.delete() returning False while the path still exists
    (permissions, trash policy) must surface as OSError — a silent
    no-op would let build_postings_index's retract-meta-first
    crash-safety step leave a loadable meta pointing at tables about
    to be deleted."""
    io = metaio.HadoopMetadataIO(spark)
    p = str(tmp_path / "x.json")
    io.write_new(p, "{}")

    class StubFS:
        def delete(self, jp, rec):
            return False

        def exists(self, jp):
            return True

    monkeypatch.setattr(io, "_fs", lambda jp: StubFS())
    with pytest.raises(OSError, match="still exists"):
        io.remove(p)
    # and a genuinely-absent path still maps to FileNotFoundError
    class GoneFS(StubFS):
        def exists(self, jp):
            return False

    monkeypatch.setattr(io, "_fs", lambda jp: GoneFS())
    with pytest.raises(FileNotFoundError):
        io.remove(str(tmp_path / "absent.json"))


def test_index_metadata_routes_through_seam(spark, tmp_path,
                                            monkeypatch):
    """Round-15 seam completion: the ANN index meta sidecar and the
    postings index meta — the last index-layer metadata files — must
    flow through MetadataIO (replace_text publish, read_text load),
    not bare open(), so the whole index layer works wherever the
    manifests live."""
    from cs186_query_optimization_project_spark.functions import (
        retrieval, similarity,
    )

    rec = RecordingIO()
    monkeypatch.setattr(metaio, "IO", rec)
    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), float(i % 3)])
         for i in range(40)],
        "vec_id long, embedding array<float>")
    idx = similarity.build_ivf_index(
        emb, str(tmp_path / "ivf"), n_cells=4)
    assert [p for n, p in rec.calls if n == "replace_text"
            and p.endswith("_ann_index_meta.json")]
    rec.calls.clear()
    assert similarity.load_ann_index(str(tmp_path / "ivf")) is not None
    assert [p for n, p in rec.calls if n == "read_text"
            and p.endswith("_ann_index_meta.json")]
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma{i % 3}") for i in range(30)],
        "doc_id long, text string")
    rec.calls.clear()
    retrieval.build_postings_index(docs, str(tmp_path / "post"),
                                   n_buckets=4)
    assert [p for n, p in rec.calls if n == "replace_text"
            and p.endswith("_postings_index_meta.json")]
