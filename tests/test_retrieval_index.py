"""Materialized postings index: build-once token-bucket-partitioned
postings probed via partition pruning (the keyword-retrieval analog of
tests/test_ann_index.py — same scale claim: the PLAN must prune).

At 100 TB a query must read the query terms' bucket directories, not
re-tokenize the corpus: the ``tb`` filter must appear as
``PartitionFilters`` on the postings scan, and doc lengths / corpus
stats must come from the build-time sidecar, not a corpus aggregate.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cs186_query_optimization_project_spark.functions import retrieval

from tests.conftest import SF_DIR, rows


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def pindex(spark, docs, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("postings") / "idx")
    return retrieval.build_postings_index(docs, path, n_buckets=16,
                                          fingerprint="test-fp")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_phrase_indexed_matches_in_scan_path(spark, docs, pindex):
    assert (rows(retrieval.phrase_search_indexed(
                spark, pindex, "slow hash batch"))
            == rows(retrieval.phrase_search(docs, "slow hash batch")))


def test_bm25_indexed_matches_in_scan_path(spark, docs, pindex):
    assert (rows(retrieval.bm25_indexed(spark, pindex,
                                        "hash batch window", top_k=10))
            == rows(retrieval.bm25_scores(docs, "hash batch window",
                                          top_k=10)))


def test_term_postings_plan_prunes_partitions(spark, pindex):
    from cs186_query_optimization_project_spark.partitioned import (
        PartitionedTable,
    )

    got = retrieval.term_postings(spark, pindex, ["hash", "batch"])
    # bucket pruning happens at the MANIFEST (before the plan exists):
    # the scan's file set must be exactly the query terms' bucket
    # directories, never the whole index
    want = {retrieval.token_bucket(t, pindex.n_buckets)
            for t in ("hash", "batch")}
    man = PartitionedTable(spark, pindex.postings_path) \
        ._manifest(pindex.postings_version)
    admitted = [d for k, ds in man["parts"].items()
                if int(k) in want for d in ds]
    from urllib.parse import urlparse

    files = [urlparse(f).path for f in got.inputFiles()]
    assert files and all(any(f.startswith(d) for d in admitted)
                         for f in files)
    full = PartitionedTable(spark, pindex.postings_path) \
        .read(version=pindex.postings_version).inputFiles()
    assert len(files) < len(full)
    # the token filter rides the scan as a pushed parquet predicate
    plan = _plan(got)
    assert "PushedFilters" in plan and "token" in plan
    # and the manifest really keys one partition per OCCUPIED bucket
    assert 1 < len(man["parts"]) <= pindex.n_buckets


def test_driver_side_bucket_routing_matches_sql(spark, pindex):
    # the Python router and the SQL partition expression must agree on
    # every token in the corpus — otherwise pruning would silently drop
    # matching postings
    mismatch = (spark.read.parquet(pindex.postings_path)
                .select("token", "tb").distinct()
                .collect())
    assert mismatch
    for r in mismatch:
        assert retrieval.token_bucket(r["token"],
                                      pindex.n_buckets) == r["tb"]


def test_postings_index_load_roundtrip(pindex):
    loaded = retrieval.load_postings_index(pindex.path)
    assert loaded == pindex
    assert loaded.n_docs > 0 and loaded.avgdl > 0
    assert retrieval.load_postings_index("/nonexistent/idx") is None


def test_hybrid_rrf_fuses_both_rankings(spark):
    """A doc at rank 1 on BOTH lists must outscore a doc at rank 1 on
    one list only; a doc appearing on a single list still scores
    1/(c + rank) instead of dropping out (the full-outer contract)."""
    docs = spark.createDataFrame(
        [(0, "quantum flux everywhere quantum"),
         (1, "quantum mention once"),
         (2, "nothing relevant here"),
         (3, "plain filler text")],
        ["doc_id", "text"])
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]),
         (2, [0.9, 0.1]), (3, [-1.0, 0.0])],
        ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>")
        .alias("embedding"))
    out = retrieval.hybrid_rrf(docs, emb, "quantum", [1.0, 0.0],
                               k=4, k_each=3)
    got = [(r["doc_id"], r["rrf"]) for r in out.collect()]
    # doc 0: bm25 rank 1 AND cosine rank 1 -> 2/61
    assert got[0][0] == 0 and abs(got[0][1] - 2 / 61) < 1e-6
    # doc 2: cosine-only (rank 2) must still appear with 1/62
    by_id = dict(got)
    assert abs(by_id[2] - 1 / 62) < 1e-6
    # doc 3: on neither top-3 list in a way that beats doc 0
    assert got[0][1] == max(v for _, v in got)


def test_postings_append_equals_full_rebuild(spark, docs,
                                             tmp_path_factory):
    """Incremental maintenance: build on 4/5 of the corpus, append the
    last fifth — every reader must rank exactly as a from-scratch
    build over the full corpus, and the corpus constants must update
    incrementally (no full re-aggregate)."""
    path = str(tmp_path_factory.mktemp("inc") / "idx")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    tail = docs.filter(F.col("doc_id") % 5 == 0)
    idx = retrieval.build_postings_index(base, path, n_buckets=16)
    idx2 = retrieval.postings_append(spark, idx, tail)
    full_path = str(tmp_path_factory.mktemp("inc") / "full")
    full = retrieval.build_postings_index(docs, full_path,
                                          n_buckets=16)
    assert idx2.n_docs == full.n_docs
    assert abs(idx2.avgdl - full.avgdl) < 1e-9
    got = retrieval.bm25_indexed(spark, idx2, "hash batch window",
                                 top_k=10)
    want = retrieval.bm25_indexed(spark, full, "hash batch window",
                                  top_k=10)
    assert rows(got) == rows(want)
    ph_got = retrieval.phrase_search_indexed(spark, idx2, "the value")
    ph_want = retrieval.phrase_search_indexed(spark, full, "the value")
    assert rows(ph_got) == rows(ph_want)
    # the appended index reloads with the updated constants
    reloaded = retrieval.load_postings_index(path)
    assert reloaded.n_docs == full.n_docs
    assert abs(reloaded.avgdl - full.avgdl) < 1e-9


def test_postings_reader_pinned_across_append(spark, docs,
                                              tmp_path_factory):
    """Concurrent-reader contract: a handle loaded BEFORE an append
    keeps scoring against its pinned table versions and constants —
    the torn-read (new postings, stale n_docs/avgdl) the bare-hive
    layout allowed is structurally impossible."""
    path = str(tmp_path_factory.mktemp("pin") / "idx")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    tail = docs.filter(F.col("doc_id") % 5 == 0)
    idx_base = retrieval.build_postings_index(base, path, n_buckets=16)
    reader = retrieval.load_postings_index(path)      # pinned pre-append
    before = rows(retrieval.bm25_indexed(spark, reader,
                                         "hash batch window", top_k=10))
    retrieval.postings_append(spark, idx_base, tail)
    # the old handle still sees EXACTLY the pre-append index
    assert rows(retrieval.bm25_indexed(spark, reader, "hash batch window",
                                       top_k=10)) == before
    assert reader.n_docs == idx_base.n_docs
    # a fresh load sees the appended corpus
    fresh = retrieval.load_postings_index(path)
    assert fresh.n_docs > idx_base.n_docs
    assert fresh.postings_version > reader.postings_version
    assert rows(retrieval.bm25_indexed(spark, fresh, "hash batch window",
                                       top_k=10)) \
        == rows(retrieval.bm25_scores(docs, "hash batch window",
                                      top_k=10))


def test_postings_rebuild_crash_forces_clean_rebuild(spark, docs,
                                                     tmp_path_factory,
                                                     monkeypatch):
    """A crash mid-REBUILD must not leave a loadable handle pointing
    at deleted tables: the old tables go first, so load returns None
    and the caller rebuilds from scratch."""
    from cs186_query_optimization_project_spark import partitioned

    path = str(tmp_path_factory.mktemp("rb") / "idx")
    retrieval.build_postings_index(docs, path, n_buckets=16)
    assert retrieval.load_postings_index(path) is not None

    real_create = partitioned.PartitionedTable.create

    def boom(*a, **kw):
        raise RuntimeError("simulated crash during rebuild")

    monkeypatch.setattr(partitioned.PartitionedTable, "create", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        retrieval.build_postings_index(docs, path, n_buckets=16)
    assert retrieval.load_postings_index(path) is None  # forces rebuild
    monkeypatch.setattr(partitioned.PartitionedTable, "create",
                        real_create)
    idx = retrieval.build_postings_index(docs, path, n_buckets=16)
    assert retrieval.bm25_indexed(spark, idx, "hash batch window",
                                  top_k=10).count() == 10


def test_postings_append_crash_retry_is_exactly_once(spark, docs,
                                                     tmp_path_factory,
                                                     monkeypatch):
    """A crash AFTER both tables' manifests but BEFORE the commit
    record leaves the published index untouched; retrying the same
    append from the reloaded handle completes it exactly once (the
    crashed attempt's manifests never count, so no postings
    duplicate)."""
    from cs186_query_optimization_project_spark import metaio

    path = str(tmp_path_factory.mktemp("crash") / "idx")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    tail = docs.filter(F.col("doc_id") % 5 == 0)
    idx = retrieval.build_postings_index(base, path, n_buckets=16)

    real_io = metaio.IO

    class CrashAtRecord:
        """Fails every write of a ``_commits/`` record."""

        def __getattr__(self, name):
            return getattr(real_io, name)

        def write_new(self, p, text):
            if f"{os.sep}_commits{os.sep}" in p:
                raise RuntimeError("simulated crash before the record")
            return real_io.write_new(p, text)

    monkeypatch.setattr(metaio, "IO", CrashAtRecord())
    with pytest.raises(RuntimeError, match="simulated crash"):
        retrieval.postings_append(spark, idx, tail)
    monkeypatch.setattr(metaio, "IO", real_io)
    # published index is bit-identical to before the torn append
    torn = retrieval.load_postings_index(path)
    assert torn == idx
    assert rows(retrieval.bm25_indexed(spark, torn, "hash batch window",
                                       top_k=10)) \
        == rows(retrieval.bm25_scores(base, "hash batch window",
                                      top_k=10))
    # retry from the reloaded (pre-crash) handle: completes exactly-once
    idx2 = retrieval.postings_append(spark, torn, tail)
    assert rows(retrieval.bm25_indexed(spark, idx2, "hash batch window",
                                       top_k=10)) \
        == rows(retrieval.bm25_scores(docs, "hash batch window",
                                      top_k=10))
    # no duplicate postings: total count equals a from-scratch build
    n_inc = retrieval.term_postings(
        spark, idx2, ["hash"]).count()
    full = retrieval.build_postings_index(
        docs, str(tmp_path_factory.mktemp("crash") / "full"),
        n_buckets=16)
    assert n_inc == retrieval.term_postings(spark, full, ["hash"]).count()
    assert (idx2.n_docs, idx2.avgdl) == (full.n_docs, full.avgdl)


def test_postings_append_from_published_past_handle_raises(
        spark, docs, tmp_path_factory):
    """A second, different append from a handle another append
    already committed past raises the stale-handle error; the
    published index keeps the first append."""
    path = str(tmp_path_factory.mktemp("race") / "idx")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    idx = retrieval.build_postings_index(base, path, n_buckets=16)
    first = retrieval.postings_append(
        spark, idx, docs.filter(F.col("doc_id") % 5 == 0))
    with pytest.raises(ValueError, match="stale PostingsIndex"):
        retrieval.postings_append(
            spark, idx, docs.filter(F.col("doc_id") % 5 == 0).limit(1))
    assert retrieval.load_postings_index(path) == first


def test_postings_op_raced_past_its_guard_raises_conflict(
        spark, docs, tmp_path_factory, monkeypatch):
    """Another writer's append that commits after an op's stale-handle
    check but before the op stages its tables makes the op raise
    ConflictException; the racer's commit stands and the index's
    constants count exactly the documents its tables hold."""
    from cs186_query_optimization_project_spark.errors import (
        ConflictException,
    )

    path = str(tmp_path_factory.mktemp("raced") / "idx")
    retrieval.build_postings_index(
        docs.filter(F.col("doc_id") % 10 >= 5), path, n_buckets=8)
    real_guard = retrieval._guard_fresh_handle
    racers, landed = [], []

    def guard_then_race(index):
        real_guard(index)
        if racers:
            landed.append(retrieval.postings_append(spark, index,
                                                    racers.pop()))

    monkeypatch.setattr(retrieval, "_guard_fresh_handle", guard_then_race)
    doomed = [r["doc_id"] for r in docs.filter(F.col("doc_id") % 10 == 9)
              .select("doc_id").limit(5).collect()]
    ops = [
        lambda h: retrieval.postings_append(
            spark, h, docs.filter(F.col("doc_id") % 10 == 4)),
        lambda h: retrieval.postings_remove_soft(spark, h, doomed),
        lambda h: retrieval.postings_remove(
            spark, h, spark.createDataFrame([(i,) for i in doomed],
                                            "doc_id long")),
        lambda h: retrieval.postings_optimize(spark, h),
    ]
    for k, op in enumerate(ops):
        racers.append(docs.filter(F.col("doc_id") % 10 == k))
        handle = retrieval.load_postings_index(path)
        with pytest.raises(ConflictException):
            op(handle)
        now = retrieval.load_postings_index(path)
        assert now == landed[-1]
        assert now.n_docs == retrieval.doclen_table(spark, now).count()
    held = docs.filter(F.col("doc_id") % 10 != 4)   # every racer
    assert rows(retrieval.bm25_indexed(spark, now, "hash batch window",
                                       top_k=10)) \
        == rows(retrieval.bm25_scores(held, "hash batch window",
                                      top_k=10))


def test_postings_rebuild_crash_inside_delete_forces_clean_rebuild(
        spark, docs, tmp_path_factory, monkeypatch):
    """A rebuild that crashes while deleting the old postings table,
    after some data directories went, leaves no loadable handle: the
    postings manifests are deleted before any data file."""
    from cs186_query_optimization_project_spark import metaio

    path = str(tmp_path_factory.mktemp("rbdel") / "idx")
    retrieval.build_postings_index(docs.limit(50), path, n_buckets=8)
    real_io = metaio.IO
    postings = os.path.join(path, "postings")

    class CrashInDelete:
        """Deletes the postings data directories, then crashes."""

        def __getattr__(self, name):
            return getattr(real_io, name)

        def remove_tree(self, p):
            if p == postings:
                for name in os.listdir(p):
                    if name != "_manifests":
                        real_io.remove_tree(os.path.join(p, name))
                raise RuntimeError("simulated crash inside the delete")
            return real_io.remove_tree(p)

    monkeypatch.setattr(metaio, "IO", CrashInDelete())
    with pytest.raises(RuntimeError, match="simulated crash"):
        retrieval.build_postings_index(docs.limit(50), path, n_buckets=8)
    monkeypatch.setattr(metaio, "IO", real_io)
    assert retrieval.load_postings_index(path) is None


def test_postings_remove_equals_rebuild_on_survivors(spark, docs,
                                                     tmp_path_factory):
    """Right-to-be-forgotten deletion: removing a slice of documents
    must leave every reader ranking exactly as a from-scratch build
    over the survivors, with constants updated incrementally and only
    the owning buckets rewritten."""
    path = str(tmp_path_factory.mktemp("rm") / "idx")
    idx = retrieval.build_postings_index(docs, path, n_buckets=16)
    doomed = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    pre_reader = retrieval.load_postings_index(path)
    out = retrieval.postings_remove(spark, idx, doomed)
    survivors = docs.filter(F.col("doc_id") % 7 != 0)
    full = retrieval.build_postings_index(
        survivors, str(tmp_path_factory.mktemp("rm") / "full"),
        n_buckets=16)
    assert out.n_docs == full.n_docs
    assert abs(out.avgdl - full.avgdl) < 1e-9
    assert rows(retrieval.bm25_indexed(spark, out, "hash batch window",
                                       top_k=10)) \
        == rows(retrieval.bm25_indexed(spark, full, "hash batch window",
                                       top_k=10))
    # no doomed id ever surfaces from the probe paths
    got_ids = {r["doc_id"] for r in retrieval.term_postings(
        spark, out, ["hash"]).collect()}
    assert not any(i % 7 == 0 for i in got_ids)
    # a pre-delete reader stays pinned to the intact old version
    assert retrieval.doclen_table(spark, pre_reader).count() \
        == idx.n_docs
    # a fresh load serves the post-delete state
    assert retrieval.load_postings_index(path).n_docs == out.n_docs
    # removing ids that are not in the index is a no-op on constants
    ghost = spark.createDataFrame([(10**12,)], "doc_id long")
    out2 = retrieval.postings_remove(spark, out, ghost)
    assert out2.n_docs == out.n_docs and out2.avgdl == out.avgdl


def test_postings_remove_everything_leaves_empty_probeable_index(
        spark, docs, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("rmall") / "idx")
    small = docs.limit(50)
    idx = retrieval.build_postings_index(small, path, n_buckets=8)
    out = retrieval.postings_remove(spark, idx,
                                    small.select("doc_id"))
    assert out.n_docs == 0 and out.avgdl == 0.0
    assert retrieval.term_postings(spark, out, ["hash"]).count() == 0
    assert retrieval.bm25_indexed(spark, out, "hash batch window",
                                  top_k=10).count() == 0
    # and the emptied index still accepts a fresh append
    idx2 = retrieval.postings_append(spark, out, small)
    assert idx2.n_docs == idx.n_docs
    assert rows(retrieval.bm25_indexed(spark, idx2,
                                       "hash batch window", top_k=10)) \
        == rows(retrieval.bm25_indexed(spark, idx,
                                       "hash batch window", top_k=10))


def test_postings_optimize_compacts_without_changing_ranks(
        spark, docs, tmp_path_factory):
    """After two appends a probed bucket reads 3 directories;
    postings_optimize compacts each bucket to one and republishes the
    index at the post-compaction versions — rankings byte-identical,
    pre-optimize readers still pinned to intact old versions."""
    path = str(tmp_path_factory.mktemp("opt") / "idx")
    idx = retrieval.build_postings_index(
        docs.filter(F.col("doc_id") % 3 == 0), path, n_buckets=16)
    idx = retrieval.postings_append(
        spark, idx, docs.filter(F.col("doc_id") % 3 == 1))
    idx = retrieval.postings_append(
        spark, idx, docs.filter(F.col("doc_id") % 3 == 2))
    before = rows(retrieval.bm25_indexed(spark, idx,
                                         "hash batch window", top_k=10))
    n_files_before = len(retrieval.term_postings(
        spark, idx, ["hash"]).inputFiles())
    old_reader = retrieval.load_postings_index(path)
    opt = retrieval.postings_optimize(spark, idx)
    assert rows(retrieval.bm25_indexed(spark, opt, "hash batch window",
                                       top_k=10)) == before
    assert len(retrieval.term_postings(
        spark, opt, ["hash"]).inputFiles()) < n_files_before
    assert opt.n_docs == idx.n_docs and opt.avgdl == idx.avgdl
    # a reader pinned pre-optimize keeps reading its intact version
    assert rows(retrieval.bm25_indexed(spark, old_reader,
                                       "hash batch window",
                                       top_k=10)) == before
    # a fresh load serves the compacted layout
    assert retrieval.load_postings_index(path).postings_version \
        == opt.postings_version


def test_postings_append_grows_buckets_in_place(spark, docs,
                                                tmp_path_factory):
    path = str(tmp_path_factory.mktemp("inc2") / "idx")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    idx = retrieval.build_postings_index(base, path, n_buckets=16)
    before = {os.path.join(dp, f)
              for dp, _, fs in os.walk(idx.postings_path)
              for f in fs if f.endswith(".parquet")}
    retrieval.postings_append(
        spark, idx, docs.filter(F.col("doc_id") % 5 == 0))
    after = {os.path.join(dp, f)
             for dp, _, fs in os.walk(idx.postings_path)
             for f in fs if f.endswith(".parquet")}
    # append-only: every pre-existing file survives untouched
    assert before <= after and len(after) > len(before)


def _parquet_files(root: str) -> set[str]:
    return {os.path.join(dp, f) for dp, _, fs in os.walk(root)
            for f in fs if f.endswith(".parquet")}


def test_postings_remove_soft_matches_rewrite_and_rebuild(
        spark, docs, tmp_path_factory):
    """The tombstone tier (postings_remove_soft) must rank exactly as
    the rewrite tier and as a from-scratch survivor build, move ZERO
    data at delete time, and — after postings_optimize materializes
    the tombstones — keep rankings and constants bit-identical with
    the manifest carrying no tombstones and the doomed rows
    physically gone."""
    small = docs.limit(200).localCheckpoint()
    doomed_df = small.filter(F.col("doc_id") % 5 == 0)
    ids = sorted(r[0] for r in doomed_df.select("doc_id").collect())
    p_soft = str(tmp_path_factory.mktemp("soft") / "idx")
    p_hard = str(tmp_path_factory.mktemp("hard") / "idx")
    i_soft = retrieval.build_postings_index(small, p_soft, n_buckets=8)
    i_hard = retrieval.build_postings_index(small, p_hard, n_buckets=8)
    files_before = _parquet_files(i_soft.postings_path)
    out_s = retrieval.postings_remove_soft(spark, i_soft, ids)
    # O(1) data movement: not one postings data file rewritten
    assert _parquet_files(out_s.postings_path) == files_before
    out_h = retrieval.postings_remove(spark, i_hard,
                                      doomed_df.select("doc_id"))
    q = "hash batch window"
    assert out_s.n_docs == out_h.n_docs
    assert abs(out_s.avgdl - out_h.avgdl) < 1e-12
    soft_rank = rows(retrieval.bm25_indexed(spark, out_s, q, top_k=10))
    assert soft_rank == rows(retrieval.bm25_indexed(spark, out_h, q,
                                                    top_k=10))
    assert soft_rank == rows(retrieval.bm25_scores(
        small.filter(F.col("doc_id") % 5 != 0), q, top_k=10))
    # no doomed id surfaces from any probe path
    got_ids = {r["doc_id"] for r in retrieval.term_postings(
        spark, out_s, ["hash"]).collect()}
    assert not got_ids & set(ids)
    # optimize MATERIALIZES the tombstones: ranks/constants unchanged,
    # manifest clean, masked rows physically reclaimed
    opt = retrieval.postings_optimize(spark, out_s)
    assert rows(retrieval.bm25_indexed(spark, opt, q, top_k=10)) \
        == soft_rank
    assert (opt.n_docs, opt.avgdl) == (out_s.n_docs, out_s.avgdl)
    from cs186_query_optimization_project_spark.partitioned import (
        PartitionedTable,
    )

    man = PartitionedTable(spark, opt.postings_path)._manifest()
    assert not any(ts for ts in man.get("tombstones", {}).values())
    raw = spark.read.parquet(
        *[d for ds in man["parts"].values() for d in ds])
    assert raw.filter(F.col("doc_id").isin(ids)).count() == 0


def test_postings_remove_soft_guard_ghost_and_pinning(
        spark, docs, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("softg") / "idx")
    small = (docs.filter(F.length(F.trim("text")) > 0).limit(80)
             .localCheckpoint())
    idx = retrieval.build_postings_index(small, path, n_buckets=8)
    # ghost ids / empty batch: the very handle back, no version churn
    assert retrieval.postings_remove_soft(spark, idx, [10**12]) is idx
    assert retrieval.postings_remove_soft(spark, idx, []) is idx
    assert retrieval.load_postings_index(path).postings_version \
        == idx.postings_version
    # a real soft delete publishes past idx ...
    ids = sorted(r[0] for r in small.limit(5)
                 .select("doc_id").collect())
    pre_reader = retrieval.load_postings_index(path)
    fresh = retrieval.postings_remove_soft(spark, idx, ids)
    assert fresh.n_docs == idx.n_docs - 5
    # ... so the stale handle now raises on BOTH delete paths
    with pytest.raises(ValueError, match="stale PostingsIndex"):
        retrieval.postings_remove_soft(spark, idx, ids)
    with pytest.raises(ValueError, match="stale PostingsIndex"):
        retrieval.postings_remove(
            spark, idx, small.limit(5).select("doc_id"))
    # a pre-delete reader stays pinned to the intact snapshot
    assert retrieval.doclen_table(spark, pre_reader).count() \
        == idx.n_docs
    # ghost remove on the REWRITE path returns its handle unchanged
    ghost = spark.createDataFrame([(10**12,)], "doc_id long")
    assert retrieval.postings_remove(spark, fresh, ghost) is fresh


def test_postings_remove_soft_backslash_string_ids(spark,
                                                   tmp_path_factory):
    """String ids containing backslashes (and quotes) must ACTUALLY be
    masked by the rendered IN-list tombstone: Spark's default parser
    treats backslash as an escape inside string literals, so an
    unescaped render would decrement the constants (isin-based count)
    while the tombstone predicate matches nothing — silent ranking
    corruption and a missed right-to-be-forgotten deletion."""
    rows_in = [("a\\nb", "hash batch window hash"),
               ("o'k", "hash batch window batch"),
               ("plain", "slow hash batch window trie"),
               ("keep\\me", "window batch probe hash")]
    df = spark.createDataFrame(rows_in, "doc_id string, text string")
    path = str(tmp_path_factory.mktemp("bs") / "idx")
    idx = retrieval.build_postings_index(df, path, n_buckets=4)
    doomed = ["a\\nb", "o'k"]
    out = retrieval.postings_remove_soft(spark, idx, doomed)
    # constants AND visible rows agree: both docs really left
    assert out.n_docs == 2
    assert retrieval.doclen_table(spark, out).count() == 2
    got = {r["doc_id"] for r in retrieval.term_postings(
        spark, out, ["hash", "batch", "window"]).collect()}
    assert got == {"plain", "keep\\me"}
    # ranking equals a from-scratch build over the survivors
    surv = df.filter(~F.col("doc_id").isin(doomed))
    assert rows(retrieval.bm25_indexed(spark, out, "hash batch",
                                       top_k=4)) == \
        rows(retrieval.bm25_scores(surv, "hash batch", top_k=4))


def test_postings_remove_soft_runs_only_caller_aggregate(
        spark, docs, tmp_path_factory):
    """The soft path's ONLY Spark work is its own doclen aggregate:
    delete_soft takes the per-bucket counts from that aggregate as
    caller-supplied cardinalities, so neither delete_soft call runs a
    counting scan.  Pinned by job-count parity with the bare
    aggregate run standalone."""
    from __spark_entry__ import _job_counter
    from cs186_query_optimization_project_spark.partitioned import (
        PartitionedTable,
    )

    small = docs.limit(120).localCheckpoint()
    path = str(tmp_path_factory.mktemp("onejob") / "idx")
    idx = retrieval.build_postings_index(small, path, n_buckets=8)
    ids = sorted(r[0] for r in small.limit(6)
                 .select("doc_id").collect())
    # baseline: the identical aggregate, standalone (grouped by
    # (bucket, file) — the directory-granular shape that keeps
    # multi-dir buckets' metadata counts exact)
    before = _job_counter(spark)
    (PartitionedTable(spark, idx.doclen_path)
     .read(version=idx.doclen_version)
     .filter(F.col("doc_id").isin(ids))
     .groupBy(F.col("db"), F.input_file_name().alias("__f"))
     .agg(F.count(F.lit(1)).alias("n"),
          F.sum("__dl").alias("s")).collect())
    agg_jobs = _job_counter(spark) - before
    # the full soft delete schedules not one job more
    before = _job_counter(spark)
    out = retrieval.postings_remove_soft(spark, idx, ids)
    assert _job_counter(spark) - before == agg_jobs
    assert out.n_docs == idx.n_docs - len(ids)
    # the doclen table keeps EXACT metadata counts from the claim
    assert PartitionedTable(spark, idx.doclen_path).metadata_count() \
        == out.n_docs


def test_postings_optimize_stale_handle_raises(spark, docs,
                                               tmp_path_factory):
    """optimize republishes the handle's n_docs/avgdl, so an optimize
    issued from a handle another writer's soft delete published past
    would materialize that writer's tombstones while republishing
    pre-delete constants — resurrecting the deleted docs in the
    corpus constants.  It must carry the same staleness guard as both
    remove paths."""
    small = docs.limit(100).localCheckpoint()
    path = str(tmp_path_factory.mktemp("optg") / "idx")
    stale = retrieval.build_postings_index(small, path, n_buckets=8)
    ids = sorted(r[0] for r in small.limit(4)
                 .select("doc_id").collect())
    fresh = retrieval.postings_remove_soft(spark, stale, ids)
    with pytest.raises(ValueError, match="stale PostingsIndex"):
        retrieval.postings_optimize(spark, stale)
    # the fresh handle optimizes fine and keeps the constants
    opt = retrieval.postings_optimize(spark, fresh)
    assert (opt.n_docs, opt.avgdl) == (fresh.n_docs, fresh.avgdl)


def test_postings_remove_soft_exact_counts_after_append(
        spark, docs, tmp_path_factory):
    """The append-then-soft-delete shape — the exact workload the soft
    tier targets — must keep the doc-length table's metadata-only
    COUNT exact: postings_append adds a second directory to existing
    buckets, and the caller aggregate's DIRECTORY granularity (via
    file_directories) attributes the doomed-doc cardinality per
    directory instead of failing closed on multi-dir buckets.  Still
    zero Spark jobs beyond the one caller aggregate."""
    from __spark_entry__ import _job_counter
    from cs186_query_optimization_project_spark.partitioned import (
        PartitionedTable,
    )

    base = docs.filter(F.col("doc_id") % 5 != 0).limit(120) \
        .localCheckpoint()
    tail = docs.filter(F.col("doc_id") % 5 == 0).limit(40) \
        .localCheckpoint()
    path = str(tmp_path_factory.mktemp("mdir") / "idx")
    idx = retrieval.postings_append(
        spark, retrieval.build_postings_index(base, path, n_buckets=4),
        tail)
    pt_len = PartitionedTable(spark, idx.doclen_path)
    # every doc-length bucket now holds >= 2 directories
    assert all(len(ds) >= 2
               for ds in pt_len._manifest()["parts"].values())
    n_before = idx.n_docs
    assert pt_len.metadata_count() == n_before
    # doom ids from BOTH the base and the appended directories
    ids = sorted(r[0] for r in base.limit(5).select("doc_id")
                 .collect()) + \
        sorted(r[0] for r in tail.limit(3).select("doc_id").collect())
    # baseline: the identical caller aggregate, standalone
    before = _job_counter(spark)
    (pt_len.read(version=idx.doclen_version)
     .filter(F.col("doc_id").isin(sorted(set(ids))))
     .groupBy(F.col("db"), F.input_file_name().alias("__f"))
     .agg(F.count(F.lit(1)).alias("n"),
          F.sum("__dl").alias("s")).collect())
    agg_jobs = _job_counter(spark) - before
    before = _job_counter(spark)
    out = retrieval.postings_remove_soft(spark, idx, ids)
    # the full soft delete schedules not one job more
    assert _job_counter(spark) - before == agg_jobs
    assert out.n_docs == n_before - len(ids)
    # EXACT metadata count survives the multi-directory buckets
    assert PartitionedTable(spark, out.doclen_path).metadata_count() \
        == out.n_docs
    assert retrieval.doclen_table(spark, out).count() == out.n_docs
    # rankings equal a from-scratch build over the survivors
    surv = docs.join(spark.createDataFrame([(i,) for i in ids],
                                           "doc_id long"),
                     "doc_id", "left_anti") \
        .join(base.select("doc_id").union(tail.select("doc_id")),
              "doc_id", "left_semi")
    fresh = retrieval.build_postings_index(
        surv, str(tmp_path_factory.mktemp("mdir") / "fresh"),
        n_buckets=4)
    assert rows(retrieval.bm25_indexed(spark, out, "hash batch",
                                       top_k=5)) == \
        rows(retrieval.bm25_indexed(spark, fresh, "hash batch",
                                    top_k=5))


def test_postings_optimize_if_debt_policy(spark, docs,
                                          tmp_path_factory):
    """The churn loop's contract: soft batches below the debt line
    return the SAME handle with zero Spark jobs and zero table
    commits; the batch that crosses it pays one compaction whose
    rankings equal the uncompacted index and whose debt is cleared.
    A stale handle raises before any check."""
    from __spark_entry__ import _job_counter
    from cs186_query_optimization_project_spark.partitioned import (
        PartitionedTable,
    )

    small = docs.limit(100).localCheckpoint()
    path = str(tmp_path_factory.mktemp("oif") / "idx")
    idx = retrieval.build_postings_index(small, path, n_buckets=8)
    all_ids = sorted(r[0] for r in small.select("doc_id").collect())
    # two small soft batches -> ONE coalesced IN-list per directory
    idx = retrieval.postings_remove_soft(spark, idx, all_ids[:2])
    idx = retrieval.postings_remove_soft(spark, idx, all_ids[2:4])
    pt_post = PartitionedTable(spark, idx.postings_path)
    vers_before = (max(pt_post.versions()),
                   max(PartitionedTable(spark, idx.doclen_path)
                       .versions()))
    jobs_before = _job_counter(spark)
    same = retrieval.postings_optimize_if(spark, idx,
                                          max_tombstones=1)
    assert same is idx                       # below the line
    assert _job_counter(spark) == jobs_before        # zero jobs
    assert (max(pt_post.versions()),
            max(PartitionedTable(spark, idx.doclen_path)
                .versions())) == vers_before         # zero commits
    want = rows(retrieval.bm25_indexed(spark, idx, "hash batch",
                                       top_k=5))
    # the IN-list batches coalesce to one entry, so max_tombstones
    # never trips on them — the doclen table's masked FRACTION is
    # the threshold that crosses (4 of 100 docs > 0.1%)
    out = retrieval.postings_optimize_if(spark, idx,
                                         max_masked_fraction=0.001)
    assert out is not idx                    # compaction happened
    for p in (out.postings_path, out.doclen_path):
        assert not PartitionedTable(spark, p) \
            ._manifest()["tombstones"]       # debt cleared
    assert rows(retrieval.bm25_indexed(spark, out, "hash batch",
                                       top_k=5)) == want
    # stale handle (superseded by the compaction's commit)
    with pytest.raises(ValueError, match="stale PostingsIndex"):
        retrieval.postings_optimize_if(spark, idx, max_tombstones=0)
