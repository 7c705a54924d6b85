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


@pytest.fixture(params=["local", "memory", "hadoop"])
def io(request, tmp_path, spark):
    if request.param == "local":
        yield LocalMetadataIO(), str(tmp_path)
    elif request.param == "hadoop":
        yield metaio.HadoopMetadataIO(spark), str(tmp_path)
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
    impl.remove(f"{root}/_manifests/v0.json")
    with pytest.raises(FileNotFoundError):
        impl.remove(f"{root}/_manifests/v0.json")
    with pytest.raises(FileNotFoundError):
        impl.read_text(f"{root}/_manifests/v0.json")
    # a removed entry can be created again (clone re-registration)
    impl.write_new(f"{root}/_manifests/v0.json", "{}")
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


def test_hadoop_unicode_roundtrip(spark, tmp_path):
    """Manifest payloads are JSON but partition VALUES inside them can
    be any table string — pin UTF-8 fidelity through the Hadoop
    backend's one write."""
    io = metaio.HadoopMetadataIO(spark)
    text = '{"k": "héllo — 你好 🚀 \\"quoted\\""}'
    p = str(tmp_path / "u.json")
    io.write_new(p, text)
    assert io.read_text(p) == text
    assert io.file_size(p) == len(text.encode("utf-8"))


def test_hadoop_checksum_error_is_oserror(spark, tmp_path):
    """A file whose bytes no longer match its checksum reads as an
    OSError, which readers that fail open on a damaged file catch."""
    io = metaio.HadoopMetadataIO(spark)
    p = str(tmp_path / "c.json")
    io.write_new(p, '{"k": 1}')
    with open(p, "w") as f:
        f.write('{"k": 2}')
    with pytest.raises(OSError, match="c.json"):
        io.read_text(p)


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
           "make_dirs", "remove", "remove_tree"):
    setattr(RecordingIO, _m, _record(_m))


class CrashingIO(LocalMetadataIO):
    """Pass-through that counts seam calls (only the mutating ones when
    ``writes_only``) and, once ``at`` is reached, fails that call and
    every later one — a process dying mid-commit."""

    def __init__(self, at=None, writes_only=False):
        self.at, self.calls, self.writes_only = at, 0, writes_only


_MUTATING = {"write_new", "make_dirs", "remove", "remove_tree"}


def _crashing(name):
    def wrapper(self, path, *a, **kw):
        if not self.writes_only or name in _MUTATING:
            self.calls += 1
        if self.at is not None and self.calls >= self.at:
            raise RuntimeError(f"crash at metadata call {self.calls}")
        return getattr(LocalMetadataIO, name)(self, path, *a, **kw)
    return wrapper


for _m in ("read_text", "list_dir", "exists", "is_dir", "file_size",
           "write_new", "make_dirs", "remove", "remove_tree"):
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


def _sweep(monkeypatch, op, crash_write=None, writes_only=False):
    """Crash one operation at its metadata call 1, 2, ... in turn until
    an attempt completes, then once in its Spark write when
    ``crash_write(root)`` names the table whose ``_write_partitions``
    fails.  ``writes_only`` counts only the mutating calls: a crash at
    a read leaves the same files as a crash at the next write, so this
    reaches every on-disk state in fewer attempts.  ``op()`` stages
    one new operation (the same shape every time, so the call
    sequence repeats) and returns ``(run, check)``:
    ``run()`` performs it; ``check(at)`` asserts that a fresh reader
    sees the state before or after it, retries, and asserts the after
    state."""
    at, finished = 0, False
    while not finished:
        at += 1
        run, check = op()
        monkeypatch.setattr(metaio, "IO", CrashingIO(at, writes_only))
        try:
            run()
            finished = True
        except RuntimeError as exc:
            assert "crash" in str(exc), exc
        finally:
            monkeypatch.setattr(metaio, "IO", LocalMetadataIO())
        check(at)
    assert at > 3                       # the sweep really ran
    if crash_write is None:
        return
    real_write = PartitionedTable._write_partitions

    def failing_write(self, df, *a, **kw):
        if crash_write(self.root):
            raise RuntimeError("crash in the Spark write")
        return real_write(self, df, *a, **kw)

    run, check = op()
    monkeypatch.setattr(PartitionedTable, "_write_partitions",
                        failing_write)
    with pytest.raises(RuntimeError, match="crash"):
        run()
    monkeypatch.setattr(PartitionedTable, "_write_partitions", real_write)
    check("spark")


def test_refresh_atomic_at_every_crash_point(spark, tmp_path,
                                             monkeypatch):
    """``MaterializedView.refresh`` crashed at each metadata call and
    in its store write: a fresh view handle reads the view before the
    refresh or after it, and a retry converges to the recompute."""
    from cs186_query_optimization_project_spark.mview import (
        MaterializedView,
    )

    schema = "id long, grp string, amt double"
    src, root = str(tmp_path / "s"), str(tmp_path / "mv")
    PartitionedTable.create(
        spark, spark.createDataFrame([(0, "A", 1.0)], schema), src, "grp")
    MaterializedView.create(spark, PartitionedTable(spark, src), root,
                            keys=["grp"], sum_cols=["amt"], n_buckets=2)

    def handle():
        return MaterializedView(spark, PartitionedTable(spark, src), root)

    def view():
        return {r["grp"]: (r["mv_count"], r["mv_sum_amt"])
                for r in handle().read().collect()}

    ids = iter(range(1, 1000))

    def op():
        before = view()
        i = next(ids)
        PartitionedTable(spark, src).insert(spark.createDataFrame(
            [(i, "A", float(i))], schema))
        after = {r["grp"]: (r["n"], r["s"]) for r in
                 PartitionedTable(spark, src).read().groupBy("grp")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.sum("amt").alias("s")).collect()}

        def check(at):
            assert view() in (before, after), at
            handle().refresh()
            assert view() == after, at
            # keep every attempt's call count equal to the probe's
            PartitionedTable(spark, src).vacuum(keep_last=1)
            handle().vacuum()

        return handle().refresh, check

    _sweep(monkeypatch, op, lambda r: r.startswith(root))


def test_clone_atomic_at_every_crash_point(spark, tmp_path, monkeypatch):
    """``clone`` crashed at each metadata call (it writes no data, so
    it has no Spark write): the clone either does not exist or reads
    the whole source snapshot, a readable clone is always registered,
    and a retry converges.  The source then rewrites everything and
    vacuums: every clone still reads all its rows."""
    from cs186_query_optimization_project_spark.errors import (
        DatabaseException,
    )

    src = str(tmp_path / "s")
    PartitionedTable.create(spark, spark.createDataFrame(
        [(i, "AB"[i % 2], float(i)) for i in range(6)],
        "id long, grp string, amt double"), src, "grp")
    dests = []

    def rows(dest):
        registered = PartitionedTable(spark, src).registered_clones()
        try:
            n = PartitionedTable(spark, dest).read().count()
        except DatabaseException:
            return None
        assert os.path.normpath(dest) in registered
        return n

    def op():
        dest = str(tmp_path / f"c{len(dests)}")
        dests.append(dest)

        def check(at):
            assert rows(dest) in (None, 6), at
            if rows(dest) is None:
                PartitionedTable(spark, src).clone(dest)
            assert rows(dest) == 6, at

        return lambda: PartitionedTable(spark, src).clone(dest), check

    _sweep(monkeypatch, op)
    pt = PartitionedTable(spark, src)
    pt.delete(F.col("amt") >= 0)
    pt.vacuum(keep_last=1)
    assert [rows(d) for d in dests] == [6] * len(dests)


def test_postings_append_atomic_at_every_crash_point(spark, tmp_path,
                                                     monkeypatch):
    """``postings_append`` crashed at each metadata call and in the
    doclen write (after the postings table staged): a freshly loaded
    index is the one before the append or the one after it.  Retrying
    from the pre-crash handle converges before the commit and raises
    the stale-handle error after it.  The final index ranks as a
    from-scratch scoring of every document."""
    from cs186_query_optimization_project_spark.functions import (
        retrieval,
    )

    path = str(tmp_path / "idx")

    def docs(lo, hi):    # one text: every batch hits the same buckets
        return spark.createDataFrame(
            [(i, "alpha beta gamma") for i in range(lo, hi)],
            "doc_id long, text string")

    retrieval.build_postings_index(spark.createDataFrame(
        [(i, f"alpha w{i % 4}") for i in range(12)],
        "doc_id long, text string"), path, n_buckets=4)

    def state():
        idx = retrieval.load_postings_index(path)
        return (idx.n_docs, retrieval.doclen_table(spark, idx).count())

    def op():
        idx = retrieval.load_postings_index(path)
        batch = docs(idx.n_docs, idx.n_docs + 1)
        before = state()
        after = (before[0] + 1, before[0] + 1)

        def check(at):
            assert state() in (before, after), at
            if state() == before:
                retrieval.postings_append(spark, idx, batch)
            else:
                with pytest.raises(ValueError, match="stale PostingsIndex"):
                    retrieval.postings_append(spark, idx, batch)
            assert state() == after, at
            for sub in ("postings", "doclen"):
                PartitionedTable(spark, os.path.join(path, sub)) \
                    .vacuum(keep_last=1)

        return (lambda: retrieval.postings_append(spark, idx, batch),
                check)

    _sweep(monkeypatch, op, lambda r: r.endswith("doclen"))
    idx = retrieval.load_postings_index(path)
    corpus = spark.createDataFrame(
        [(i, f"alpha w{i % 4}") for i in range(12)],
        "doc_id long, text string").unionByName(docs(12, idx.n_docs))
    got = retrieval.bm25_indexed(spark, idx, "gamma w1", top_k=5)
    want = retrieval.bm25_scores(corpus, "gamma w1", top_k=5)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


@pytest.mark.parametrize("kind", ["ivfpq", "ivf"])
def test_ann_rebuild_atomic_at_every_crash_point(spark, tmp_path,
                                                 monkeypatch, kind):
    """An ANN rebuild from 4 cells to 8, crashed at each metadata call
    and in its Spark write: a freshly loaded index carries the old
    header and probes as the old index, or the new header and probes
    as the new one — never a header over codes it did not encode.  A
    retry converges to the new index."""
    from cs186_query_optimization_project_spark.functions import (
        similarity,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i % 7) - 3, float(i % 5) - 2, float(i % 3) - 1,
              1.0 + i % 2]) for i in range(100)],
        "vec_id long, embedding array<float>")
    q = [2.0, -1.0, 0.5, 1.0]

    def build(path, n_cells):
        if kind == "ivf":
            return similarity.build_ivf_index(vecs, path, n_cells=n_cells)
        return similarity.build_ivfpq_index(vecs, path, n_cells=n_cells,
                                            refine_iters=0, m=2, k=4)

    def answer(idx):
        n = len(idx.params["centroids"])
        probe = (similarity.ivf_probe(spark, idx, q, n_probe=n)
                 if kind == "ivf" else
                 similarity.ivfpq_probe(spark, idx, q, n_probe=n))
        return idx.params, [tuple(r) for r in probe.collect()]

    old = answer(build(str(tmp_path / "old"), 4))
    new = answer(build(str(tmp_path / "new"), 8))
    assert old != new
    path = str(tmp_path / "idx")
    build(path, 4)

    def op():
        def check(at):
            got = answer(similarity.load_ann_index(path))
            assert got in (old, new), at
            build(path, 8)
            assert answer(similarity.load_ann_index(path)) == new, at
            # every attempt rebuilds from the 4-cell version
            PartitionedTable(spark, path).restore(0)

        return lambda: build(path, 8), check

    _sweep(monkeypatch, op, lambda r: True)


def _abandoned_op_sweep(spark, tmp_path, monkeypatch, maintain,
                        compacts=False, crash_write=None):
    """Crash ``maintain(idx, doomed)`` — a postings maintenance op on a
    tiny index that removes document ``doomed``, or compacts when
    ``compacts`` — at each mutating metadata call in turn (see
    :func:`_sweep`),
    abandon it, and append one document from a freshly loaded handle.
    The index must then count exactly the documents its doc-length
    table holds and rank as a from-scratch scoring of them."""
    from cs186_query_optimization_project_spark.functions import (
        retrieval,
    )

    path = str(tmp_path / "idx")
    text = {i: f"alpha w{i % 4}" for i in range(12)}
    text.update((i, "alpha beta gamma") for i in range(12, 24))
    held = set(text)

    def frame(ids):
        return spark.createDataFrame([(i, text[i]) for i in sorted(ids)],
                                     "doc_id long, text string")

    def append_one(idx):    # one text: every append hits the same buckets
        i = len(text)
        text[i] = "alpha beta gamma"
        held.add(i)
        return retrieval.postings_append(spark, idx, frame([i]))

    retrieval.build_postings_index(frame(held), path, n_buckets=4)

    def op():
        idx = retrieval.load_postings_index(path)
        if compacts:
            idx = append_one(idx)            # something to compact
        doomed = min(i for i in held if i >= 12)

        def check(at):
            if not compacts and retrieval.load_postings_index(path) != idx:
                held.discard(doomed)         # the op committed
            out = append_one(retrieval.load_postings_index(path))
            assert out.n_docs == len(held) \
                == retrieval.doclen_table(spark, out).count(), at
            got = retrieval.bm25_indexed(spark, out, "gamma w1", top_k=5)
            want = retrieval.bm25_scores(frame(held), "gamma w1", top_k=5)
            assert list(map(tuple, got.collect())) == \
                list(map(tuple, want.collect())), at
            if compacts:    # every attempt starts from a compact index
                retrieval.postings_optimize(spark, out)
            for sub in ("postings", "doclen"):
                PartitionedTable(spark, os.path.join(path, sub)) \
                    .vacuum(keep_last=1)

        return lambda: maintain(idx, doomed), check

    _sweep(monkeypatch, op, crash_write, writes_only=True)


def test_postings_remove_abandoned_at_every_crash_point(spark, tmp_path,
                                                         monkeypatch):
    """An abandoned ``postings_remove`` — crashed at each metadata call
    or in its doclen write — never skews the constants of the next
    append."""
    from cs186_query_optimization_project_spark.functions import (
        retrieval,
    )

    _abandoned_op_sweep(
        spark, tmp_path, monkeypatch,
        lambda idx, d: retrieval.postings_remove(
            spark, idx, spark.createDataFrame([(d,)], "doc_id long")),
        crash_write=lambda r: r.endswith("doclen"))


def test_postings_remove_soft_abandoned_at_every_crash_point(
        spark, tmp_path, monkeypatch):
    """An abandoned ``postings_remove_soft`` crashed at each metadata
    call never skews the constants of the next append (the op writes
    no data, so it has no Spark write to crash)."""
    from cs186_query_optimization_project_spark.functions import (
        retrieval,
    )

    _abandoned_op_sweep(
        spark, tmp_path, monkeypatch,
        lambda idx, d: retrieval.postings_remove_soft(spark, idx, [d]))


def test_postings_optimize_abandoned_at_every_crash_point(
        spark, tmp_path, monkeypatch):
    """An abandoned ``postings_optimize`` — crashed at each metadata
    call or in its doclen rewrite — never skews the next append."""
    from cs186_query_optimization_project_spark.functions import (
        retrieval,
    )

    _abandoned_op_sweep(
        spark, tmp_path, monkeypatch,
        lambda idx, _: retrieval.postings_optimize(spark, idx),
        compacts=True, crash_write=lambda r: r.endswith("doclen"))


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


def test_write_verb_reads_manifest_once(spark, tmp_path, monkeypatch):
    """Each write verb plans, writes and commits on the one manifest
    it read: one ``_manifests`` listing and one manifest parse per
    call, also on a table declaring Bloom and sort columns."""
    schema = "id long, grp string, amt double"
    df = spark.createDataFrame(
        [(i, chr(65 + i % 3), float(i)) for i in range(12)], schema)
    pt = PartitionedTable._create(spark, df, str(tmp_path / "t"), "grp",
                                  ["id"], ["id"])
    rec = RecordingIO()
    monkeypatch.setattr(metaio, "IO", rec)
    verbs = {
        "insert": lambda: pt.insert(spark.createDataFrame(
            [(20, "A", 1.0)], schema)),
        "delete": lambda: pt.delete(F.col("id") == 1),
        "overwrite_partitions": lambda: pt.overwrite_partitions(
            spark.createDataFrame([(21, "B", 2.0)], schema), ["B"]),
        "update": lambda: pt.update(F.col("id") == 2,
                                    {"amt": F.lit(9.0)}),
        "merge": lambda: pt.merge(spark.createDataFrame(
            [(3, "A", 3.5), (22, "C", 4.0)], schema), "id"),
        "delete_soft": lambda: pt.delete_soft("id = 4"),
    }
    for name, verb in verbs.items():
        rec.calls.clear()
        verb()
        listings = [p for m, p in rec.calls
                    if m == "list_dir" and p.endswith("_manifests")]
        parses = [p for m, p in rec.calls if m == "read_text"
                  and os.path.basename(os.path.dirname(p))
                  == "_manifests"]
        assert (len(listings), len(parses)) == (1, 1), name
    assert pt.read().count() == 11


def test_hadoop_remove_raises_on_failed_delete(spark, tmp_path,
                                               monkeypatch):
    """fs.delete() returning False while the path still exists
    (permissions, trash policy) must surface as OSError — a silent
    no-op would let detach_clone leave a registration in place that
    keeps protecting a detached clone's data."""
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
    """Round-15 seam completion: the ANN index commit — its manifest,
    which carries the header — and the postings index commit — its
    manifests and the multi-table commit record — must flow through
    MetadataIO (write_new publish, read_text load), not bare open(),
    so the whole index layer works wherever the manifests live."""
    from cs186_query_optimization_project_spark.functions import (
        retrieval, similarity,
    )

    rec = RecordingIO()
    monkeypatch.setattr(metaio, "IO", rec)
    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), float(i % 3)])
         for i in range(40)],
        "vec_id long, embedding array<float>")
    similarity.build_ivf_index(emb, str(tmp_path / "ivf"), n_cells=4)
    ivf_v0 = os.path.join(str(tmp_path / "ivf"), "_manifests", "v0.json")
    assert ivf_v0 in [p for n, p in rec.calls if n == "write_new"]
    rec.calls.clear()
    assert similarity.load_ann_index(str(tmp_path / "ivf")) is not None
    assert ivf_v0 in [p for n, p in rec.calls if n == "read_text"]
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma{i % 3}") for i in range(30)],
        "doc_id long, text string")
    rec.calls.clear()
    retrieval.build_postings_index(docs, str(tmp_path / "post"),
                                   n_buckets=4)
    written = [p for n, p in rec.calls if n == "write_new"]
    assert os.path.join(str(tmp_path / "post"), "postings", "_manifests",
                        "v0.json") in written
    assert [p for p in written
            if os.path.dirname(p).endswith(os.sep + "_commits")]
    rec.calls.clear()
    assert retrieval.load_postings_index(str(tmp_path / "post")) \
        is not None
    assert [p for n, p in rec.calls if n == "read_text"
            and p.endswith(os.path.join("postings", "_manifests",
                                        "v0.json"))]
