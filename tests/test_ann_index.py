"""Materialized ANN indexes: build-once partitioned tables probed via
manifest pruning (the vector-search analog of the sorted-write "index",
database.py docstring / SURVEY.md §2.11).

The scale claim under test is the SCAN, not just the rows: a probe's
input files must all lie in the manifest directories of the probed
buckets (unprobed buckets are never listed), so at 100 TB the probe
reads 1/2^n_planes (LSH) or n_probe/n_cells (IVF) of the files instead
of re-hashing the corpus.
"""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from cs186_query_optimization_project_spark.functions import similarity

from tests.conftest import rows


@pytest.fixture(scope="module")
def vectors(spark):
    vecs = []
    for i in range(200):
        angle = i * 0.07
        vecs.append((i, [math.cos(angle), math.sin(angle),
                         0.1 * (i % 5), 1.0]))
    return (spark.createDataFrame(vecs, ["vec_id", "embedding"])
            .select("vec_id", F.col("embedding").cast("array<float>")
                    .alias("embedding")))


def _query_of(vectors, vec_id=0):
    return [float(v) for v in vectors.filter(F.col("vec_id") == vec_id)
            .collect()[0]["embedding"]]


def _probed_within(spark, idx, buckets, probe) -> dict:
    """Assert every input file of ``probe`` lies in a manifest
    directory of ``buckets``; returns the index's manifest."""
    from cs186_query_optimization_project_spark.partitioned import (
        PartitionedTable,
    )

    man = PartitionedTable(spark, idx.path)._manifest()
    allowed = {os.path.normpath(d) for b in buckets
               for d in man["parts"].get(str(b), [])}
    got_dirs = {os.path.normpath(os.path.dirname(
        f.removeprefix("file:"))) for f in probe.inputFiles()}
    assert got_dirs and got_dirs <= allowed
    return man


def test_lsh_index_probe_matches_in_scan_path(spark, vectors, tmp_path):
    q = _query_of(vectors)
    idx = similarity.build_lsh_index(vectors, str(tmp_path / "lsh"),
                                     n_planes=4, fingerprint="test-fp")
    probe = similarity.lsh_probe(spark, idx, q, k=5)
    in_scan = similarity.ann_topk(vectors, q, k=5, n_planes=4)
    assert rows(probe) == rows(in_scan)


def test_lsh_probe_plan_prunes_partitions(spark, vectors, tmp_path):
    q = _query_of(vectors)
    idx = similarity.build_lsh_index(vectors, str(tmp_path / "lsh"),
                                     n_planes=4, fingerprint="test-fp")
    qsig = similarity._query_signature(
        similarity._hyperplanes(idx.dim, 4, 42), q)
    # the scan reads only the query's signature bucket ...
    man = _probed_within(spark, idx, [qsig],
                         similarity.lsh_probe(spark, idx, q, k=5))
    # ... of an index with more than one bucket
    assert len(man["parts"]) > 1


def test_ivf_index_probe_matches_in_scan_path(spark, vectors, tmp_path):
    q = _query_of(vectors)
    cents = similarity.ivf_centroids(vectors, n_cells=8)
    idx = similarity.build_ivf_index(vectors, str(tmp_path / "ivf"),
                                     n_cells=8, centroids=cents,
                                     fingerprint="test-fp")
    probe = similarity.ivf_probe(spark, idx, q, k=5, n_probe=3)
    in_scan = similarity.ivf_topk(vectors, q, k=5, n_cells=8, n_probe=3,
                                  centroids=cents)
    assert rows(probe) == rows(in_scan)


def test_ivf_probe_plan_prunes_partitions(spark, vectors, tmp_path):
    q = _query_of(vectors)
    idx = similarity.build_ivf_index(vectors, str(tmp_path / "ivf"),
                                     n_cells=8, fingerprint="test-fp")
    probe_cells = similarity._nearest_cells(idx.params["centroids"], q, 2)
    man = _probed_within(spark, idx, probe_cells,
                         similarity.ivf_probe(spark, idx, q, k=5,
                                              n_probe=2))
    assert len(man["parts"]) > 2  # probe reads 2 of these, prunes the rest


def test_index_load_and_staleness(spark, vectors, tmp_path):
    path = str(tmp_path / "lsh")
    built = similarity.build_lsh_index(vectors, path, n_planes=4,
                                       fingerprint="fp-v1")
    loaded = similarity.load_ann_index(path)
    assert loaded is not None
    assert loaded.kind == "lsh" and loaded.dim == built.dim
    assert loaded.params == {"n_planes": 4, "seed": 42}
    assert loaded.source_fingerprint == "fp-v1"
    # a changed fingerprint is how callers detect a stale index
    assert loaded.source_fingerprint != "fp-v2"
    assert similarity.load_ann_index(str(tmp_path / "nope")) is None


def _recall_at_k(approx_df, exact_df, k: int) -> float:
    approx = {r.vec_id for r in approx_df.collect()}
    exact = [r.vec_id for r in exact_df.collect()]
    return len(approx & set(exact[:k])) / k


def test_ivf_probe_recall_vs_brute_force(spark, vectors, tmp_path):
    """Probing half the cells must recover most of the exact top-k — the
    quality half of the index contract (the plan tests cover the cost
    half).  Deterministic: fixed corpus, k-means++ style seeded centroids."""
    q = _query_of(vectors, vec_id=17)
    exact = similarity.cosine_topk(vectors, q, k=10)
    idx = similarity.build_ivf_index(vectors, str(tmp_path / "ivf"),
                                     n_cells=8, fingerprint="test-fp")
    probe = similarity.ivf_probe(spark, idx, q, k=10, n_probe=4)
    assert _recall_at_k(probe, exact, k=10) >= 0.7


def test_lsh_probe_recall_vs_brute_force(spark, vectors, tmp_path):
    """A 4-plane signature on this smoothly-rotating corpus keeps the
    query's true neighbors in its own bucket."""
    q = _query_of(vectors, vec_id=17)
    exact = similarity.cosine_topk(vectors, q, k=10)
    idx = similarity.build_lsh_index(vectors, str(tmp_path / "lsh_r"),
                                     n_planes=4, fingerprint="test-fp")
    probe = similarity.lsh_probe(spark, idx, q, k=10)
    assert _recall_at_k(probe, exact, k=10) >= 0.7


def test_ivfpq_probe_recall_and_pruning(spark, vectors, tmp_path):
    """Manifest-level pruning: the candidate scan's input files must
    all live in directories the manifest maps to PROBED cells — the
    unprobed cells' directories are never even listed (stronger than a
    PartitionFilters entry over a full file listing)."""
    q = _query_of(vectors)
    idx = similarity.build_ivfpq_index(vectors, str(tmp_path / "ivfpq"),
                                       n_cells=4, m=2, k=4,
                                       fingerprint="test-fp")
    probe_cells = similarity._nearest_cells(
        idx.params["centroids"], q, 2)
    man = _probed_within(spark, idx, probe_cells,
                         similarity.ivfpq_probe(spark, idx, q, n_probe=2))
    assert len(man["parts"]) == 4          # index has unprobed cells
    top = similarity.ivfpq_topk(spark, idx, vectors, q, k=5, n_probe=4)
    got = [r["vec_id"] for r in top.collect()]
    exact = {r["vec_id"] for r in
             similarity.cosine_topk(vectors, q, k=5).collect()}
    assert got[0] == 0  # exact re-rank puts the query row first
    assert len(set(got) & exact) >= 3


def test_ivfpq_index_stores_codes_not_vectors(spark, vectors, tmp_path):
    """The index table must carry only (id, codes) under the cell
    partition — the fp32 corpus never enters the index."""
    idx = similarity.build_ivfpq_index(vectors, str(tmp_path / "ivfpq2"),
                                       n_cells=4, m=2, k=4,
                                       fingerprint="test-fp")
    stored = similarity.ivfpq_codes(spark, idx)
    assert set(stored.columns) == {"vec_id", "pq_codes", "cell"}
    assert stored.count() == vectors.count()
    assert stored.filter(
        F.exists("pq_codes", lambda c: (c < 0) | (c > 3))).count() == 0


def test_cosine_topk_batch_matches_per_query(spark, vectors):
    """One corpus pass must reproduce, per query, exactly what the
    single-query cosine_topk returns."""
    queries = [(qid, _query_of(vectors, qid)) for qid in (0, 50, 111)]
    got = similarity.cosine_topk_batch(vectors, queries, k=5)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], []).append(
            (r["cosine_sim"], r["vec_id"]))
    assert set(by_q) == {0, 50, 111}
    for qid, qv in queries:
        want = [(r["cosine_sim"], r["vec_id"]) for r in
                similarity.cosine_topk(vectors, qv, k=5).collect()]
        assert sorted(by_q[qid], key=lambda t: (-t[0], t[1])) == want, qid


def test_ivfpq_append_equals_batch_reencode(spark, vectors, tmp_path):
    """Incremental add with a frozen header must equal a batch
    re-encode of the same rows bit-for-bit, never rewrite existing
    files, and make the appended ids retrievable."""
    base = vectors.filter(F.col("vec_id") < 150)
    extra = vectors.filter(F.col("vec_id") >= 150)
    idx = similarity.build_ivfpq_index(base, str(tmp_path / "inc"),
                                       n_cells=4, m=2, k=4,
                                       fingerprint="test-fp")
    before_files = set()
    for root, _, files in os.walk(idx.path):
        before_files |= {os.path.join(root, f) for f in files
                         if f.endswith(".parquet")}
    n = similarity.ivfpq_append(idx, extra)
    assert n == extra.count()
    # no existing file rewritten
    for f in before_files:
        assert os.path.exists(f)
    stored = similarity.ivfpq_codes(spark, idx)
    assert stored.count() == vectors.count()
    # appended codes == what the build-time encoder would produce
    cents = idx.params["centroids"]
    books = idx.params["codebooks"]
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    cmat = F.array(*[similarity._lit_vec(c) for c in cents])
    resid = F.zip_with(
        emb, F.element_at(cmat, (F.col("cell") + 1).cast("int")),
        lambda x, c: x - c)
    expect = similarity.pq_encode(
        extra.withColumn("cell", similarity.ivf_cell("embedding", cents))
        .withColumn("__res", resid), books, "__res") \
        .select("vec_id", "cell", "pq_codes")
    got = stored.join(extra.select("vec_id"), "vec_id") \
        .select("vec_id", "cell", "pq_codes")
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0
    # an appended id is retrievable through the standard probe path
    qid = 160
    top = similarity.ivfpq_topk(spark, idx, vectors,
                                _query_of(vectors, qid), k=3, n_probe=4)
    assert [r["vec_id"] for r in top.collect()][0] == qid


def test_ivfpq_remove_rewrites_only_touched_cells(spark, vectors,
                                                  tmp_path):
    """Deletion rewrites only the cells owning the doomed ids;
    untouched cells re-link their exact directories across the commit;
    survivors never re-encode; removing a whole cell's rows drops its
    key from the manifest (the directory reclaims on vacuum)."""
    from cs186_query_optimization_project_spark.partitioned import (
        PartitionedTable,
    )

    idx = similarity.build_ivfpq_index(vectors, str(tmp_path / "rm"),
                                       n_cells=4, m=2, k=4,
                                       fingerprint="test-fp")
    pt = PartitionedTable(spark, idx.path)
    stored0 = similarity.ivfpq_codes(spark, idx).collect()
    by_cell = {}
    for r in stored0:
        by_cell.setdefault(r["cell"], []).append(r["vec_id"])
    victim_cell = min(by_cell, key=lambda c: len(by_cell[c]))
    doom = [by_cell[victim_cell][0]]
    other_cells = [c for c in by_cell if c != victim_cell]
    dirs_before = {c: list(pt._manifest()["parts"][str(c)])
                   for c in other_cells}
    n = similarity.ivfpq_remove(
        spark, idx, spark.createDataFrame([(i,) for i in doom],
                                          "vec_id long"))
    assert n == 1
    man = pt._manifest()
    for c in other_cells:       # untouched: the SAME directories
        assert man["parts"][str(c)] == dirs_before[c], c
    after = similarity.ivfpq_codes(spark, idx)
    assert after.count() == len(stored0) - 1
    assert after.filter(F.col("vec_id").isin(doom)).count() == 0
    # survivors of the touched cell kept their exact codes
    want = {r["vec_id"]: list(r["pq_codes"]) for r in stored0
            if r["cell"] == victim_cell and r["vec_id"] not in doom}
    got = {r["vec_id"]: list(r["pq_codes"]) for r in
           after.filter(F.col("cell") == victim_cell).collect()}
    assert got == want
    # removing EVERYTHING in a cell drops its key from the manifest
    n2 = similarity.ivfpq_remove(
        spark, idx,
        spark.createDataFrame([(i,) for i in by_cell[victim_cell]],
                              "vec_id long"))
    assert n2 == len(by_cell[victim_cell]) - 1
    assert str(victim_cell) not in pt._manifest()["parts"]
    # ids absent from the index: a clean no-op (no commit)
    v = pt._manifest()["version"]
    assert similarity.ivfpq_remove(
        spark, idx,
        spark.createDataFrame([(777777,)], "vec_id long")) == 0
    assert pt._manifest()["version"] == v


def test_ivfpq_reader_pinned_version_survives_remove(spark, vectors,
                                                     tmp_path):
    """The commit protocol the code-table port buys: a reader pinned
    to version N keeps seeing a CONSISTENT full index while version
    N+1 removes rows — and time travel re-reads N after the fact.
    (The former bare-parquet layout could serve such a reader a torn
    index mid-overwrite.)"""
    idx = similarity.build_ivfpq_index(vectors, str(tmp_path / "pin"),
                                       n_cells=4, m=2, k=4,
                                       fingerprint="test-fp")
    n_all = vectors.count()
    pinned = similarity.ivfpq_codes(spark, idx, version=0)
    doom = vectors.filter(F.col("vec_id") % 3 == 0).select("vec_id")
    n_doom = doom.count()
    assert similarity.ivfpq_remove(spark, idx, doom) == n_doom
    # the pinned reader still sees the COMPLETE version-0 index
    assert pinned.count() == n_all
    # a fresh read sees the post-remove version; time travel sees v0
    assert similarity.ivfpq_codes(spark, idx).count() == n_all - n_doom
    assert similarity.ivfpq_codes(spark, idx,
                                  version=0).count() == n_all


def test_ivfpq_batch_matches_per_query(spark, vectors, tmp_path):
    """One code-table read for N queries must reproduce, per query,
    exactly what the single-query ADC probe and exact re-rank return;
    the probe scan must list only the UNION of probed cells'
    manifest directories."""
    idx = similarity.build_ivfpq_index(vectors, str(tmp_path / "bat"),
                                       n_cells=8, m=2, k=4,
                                       fingerprint="test-fp")
    queries = [(qid, _query_of(vectors, qid)) for qid in (0, 50, 111)]
    cand = similarity.ivfpq_probe_batch(spark, idx, queries, k=5,
                                        n_probe=2)
    by_q = {}
    for r in cand.collect():
        by_q.setdefault(r["query_id"], []).append(
            (r["vec_id"], r["adc_score"]))
    assert set(by_q) == {0, 50, 111}
    for qid, qv in queries:
        want = [(r["vec_id"], r["adc_score"]) for r in
                similarity.ivfpq_probe(spark, idx, qv, k=5, n_probe=2)
                .collect()]
        got = sorted(by_q[qid], key=lambda t: (-t[1], t[0]))
        assert got == want, qid
    # pruning: only the union of probed cells' directories are listed
    union = {c for _, qv in queries
             for c in similarity._nearest_cells(
                 idx.params["centroids"], qv, 2)}
    _probed_within(spark, idx, union, cand)
    # exact re-rank parity
    top = similarity.ivfpq_topk_batch(spark, idx, vectors, queries,
                                      k=5, n_probe=4)
    by_q = {}
    for r in top.collect():
        by_q.setdefault(r["query_id"], []).append(
            (r["cosine_sim"], r["vec_id"]))
    for qid, qv in queries:
        want = [(r["cosine_sim"], r["vec_id"]) for r in
                similarity.ivfpq_topk(spark, idx, vectors, qv, k=5,
                                      n_probe=4).collect()]
        assert sorted(by_q[qid], key=lambda t: (-t[0], t[1])) == want


def test_ivfpq_probe_version_pinning(spark, vectors, tmp_path):
    """A probe pinned to version N answers from N's code table even
    after a remove commits N+1 — the read-side half of the index's
    commit protocol."""
    idx = similarity.build_ivfpq_index(vectors, str(tmp_path / "vp"),
                                       n_cells=4, m=2, k=4,
                                       fingerprint="test-fp")
    q = _query_of(vectors)
    before = {r["vec_id"] for r in
              similarity.ivfpq_probe(spark, idx, q, n_probe=4,
                                     n_candidates=1000).collect()}
    doom = vectors.filter(F.col("vec_id") % 2 == 0).select("vec_id")
    similarity.ivfpq_remove(spark, idx, doom)
    pinned = {r["vec_id"] for r in
              similarity.ivfpq_probe(spark, idx, q, n_probe=4,
                                     n_candidates=1000,
                                     version=0).collect()}
    assert pinned == before
    fresh = {r["vec_id"] for r in
             similarity.ivfpq_probe(spark, idx, q, n_probe=4,
                                    n_candidates=1000).collect()}
    assert fresh == {v for v in before if v % 2 == 1}


def test_ivfpq_batch_version_pinning(spark, vectors, tmp_path):
    """The batch probe honors the same ``version`` pin as the
    single-query probe: a batch racing a concurrent remove commit
    scores against ONE consistent index version, and per query the
    pinned batch equals the pinned single probe."""
    idx = similarity.build_ivfpq_index(vectors, str(tmp_path / "bvp"),
                                       n_cells=4, m=2, k=4,
                                       fingerprint="test-fp")
    queries = [(qid, _query_of(vectors, qid)) for qid in (0, 50)]
    doom = vectors.filter(F.col("vec_id") % 2 == 0).select("vec_id")
    similarity.ivfpq_remove(spark, idx, doom)
    pinned = similarity.ivfpq_probe_batch(spark, idx, queries,
                                          n_probe=4,
                                          n_candidates=1000, version=0)
    by_q = {}
    for r in pinned.collect():
        by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    for qid, qv in queries:
        want = {r["vec_id"] for r in
                similarity.ivfpq_probe(spark, idx, qv, n_probe=4,
                                       n_candidates=1000,
                                       version=0).collect()}
        assert by_q[qid] == want and any(v % 2 == 0 for v in want), qid
    fresh = similarity.ivfpq_probe_batch(spark, idx, queries,
                                         n_probe=4, n_candidates=1000)
    assert all(r["vec_id"] % 2 == 1 for r in fresh.collect())
    # the exact re-rank threads the pin through too
    top = similarity.ivfpq_topk_batch(spark, idx, vectors, queries,
                                      k=5, n_probe=4, version=0)
    assert any(r["vec_id"] % 2 == 0 for r in top.collect())


def test_ivfpq_rebuild_is_versioned_commit(spark, vectors, tmp_path):
    """Rebuilding over a live index must be ONE overwrite commit on
    the SAME table — never delete-then-recreate: the version history
    survives (time travel to the pre-rebuild code table works), and
    there is no window where the path holds no published table."""
    from cs186_query_optimization_project_spark.partitioned import (
        PartitionedTable,
    )

    path = str(tmp_path / "rb")
    similarity.build_ivfpq_index(vectors, path, n_cells=4, m=2, k=4,
                                 fingerprint="fp-v1")
    v0_codes = PartitionedTable(spark, path).read(version=0)
    n_all = vectors.count()
    assert v0_codes.count() == n_all
    # rebuild on a SUBSET with different cell geometry
    subset = vectors.filter(F.col("vec_id") < 100)
    idx2 = similarity.build_ivfpq_index(subset, path, n_cells=8, m=2,
                                        k=4, fingerprint="fp-v2")
    pt = PartitionedTable(spark, path)
    assert pt.versions() == [0, 1]            # one commit, same table
    assert pt.read().count() == 100           # rebuilt content
    assert pt.read(version=0).count() == n_all  # history intact
    # the rebuilt index answers correctly with its new header
    q = _query_of(vectors, 7)
    top = similarity.ivfpq_topk(spark, idx2, subset, q, k=3)
    assert top.collect()[0]["vec_id"] == 7


def test_ivfpq_index_compaction_via_optimize(spark, vectors, tmp_path):
    """Hosting the code table on PartitionedTable buys OPTIMIZE for
    free: repeated appends accumulate directories per cell; compaction
    collapses each cell's dir-list without changing a single code —
    probe results are identical before and after."""
    from cs186_query_optimization_project_spark.partitioned import (
        PartitionedTable,
    )

    base = vectors.filter(F.col("vec_id") < 120)
    idx = similarity.build_ivfpq_index(base, str(tmp_path / "cmp"),
                                       n_cells=4, m=2, k=4,
                                       fingerprint="test-fp")
    for lo in (120, 140, 160, 180):
        similarity.ivfpq_append(
            idx, vectors.filter((F.col("vec_id") >= lo)
                                & (F.col("vec_id") < lo + 20)))
    pt = PartitionedTable(spark, idx.path)
    man = pt._manifest()
    assert any(len(ds) > 1 for ds in man["parts"].values())
    q = _query_of(vectors)
    before = {(r["vec_id"], r["adc_score"]) for r in
              similarity.ivfpq_probe(spark, idx, q, n_probe=4,
                                     n_candidates=1000).collect()}
    codes_before = {r["vec_id"]: (r["cell"], list(r["pq_codes"]))
                    for r in similarity.ivfpq_codes(spark, idx)
                    .collect()}
    pt.optimize()
    man2 = pt._manifest()
    assert all(len(ds) == 1 for ds in man2["parts"].values())
    after = {(r["vec_id"], r["adc_score"]) for r in
             similarity.ivfpq_probe(spark, idx, q, n_probe=4,
                                    n_candidates=1000).collect()}
    assert after == before
    codes_after = {r["vec_id"]: (r["cell"], list(r["pq_codes"]))
                   for r in similarity.ivfpq_codes(spark, idx)
                   .collect()}
    assert codes_after == codes_before


def test_cross_similar_pairs_finds_planted_reference(spark, vectors):
    """Cross-dataset near-matching: planted perturbed copies of corpus
    vectors are recovered as (corpus, reference) hits; unrelated
    reference vectors produce none; the corpus never self-pairs."""
    ref = (vectors.filter(F.col("vec_id") % 25 == 0)
           .select((F.col("vec_id") + 5000).alias("vec_id"),
                   F.expr("transform(embedding, (x, i) -> "
                          "CASE WHEN i = 0 THEN x + CAST(0.01 AS FLOAT)"
                          " ELSE x END)").alias("embedding")))
    hits = similarity.cross_similar_pairs(vectors, ref,
                                          threshold=0.98, n_planes=4)
    got = {(r["corpus_id"], r["reference_id"])
           for r in hits.collect()}
    # every planted copy matches its own original
    assert {(i, i + 5000) for i in range(0, 200, 25)} <= got
    # every hit really is corpus x reference, no self pairs
    assert all(b >= 5000 > a for a, b in got)


def test_ivfpq_topk_where_filters_before_rank_limit(spark, vectors,
                                                    tmp_path):
    """Filtered quantized search: the predicate's eligible ids
    semi-join the probed cells BEFORE the ADC rank-limit, so all k
    results satisfy the filter even when the unfiltered candidates
    would crowd them out (n_candidates=3 << eligible population)."""
    labeled = vectors.withColumn("label",
                                 (F.col("vec_id") % 4).cast("int"))
    idx = similarity.build_ivfpq_index(labeled, str(tmp_path / "fw"),
                                       n_cells=4, m=2, k=4,
                                       fingerprint="test-fp")
    q = _query_of(vectors)
    top = similarity.ivfpq_topk(spark, idx, labeled, q, k=3,
                                n_probe=4, n_candidates=3,
                                where="label = 1")
    rows = top.collect()
    assert len(rows) == 3
    assert all(r["vec_id"] % 4 == 1 for r in rows)
    # post-filtering the unfiltered candidates would under-return:
    unf = similarity.ivfpq_probe(spark, idx, q, k=3, n_probe=4,
                                 n_candidates=3)
    post = [r["vec_id"] for r in unf.collect() if r["vec_id"] % 4 == 1]
    assert len(post) < 3


def test_ivfpq_maintenance_stale_handle_guard(spark, vectors, tmp_path):
    """ivfpq_append encodes against the handle's FROZEN header, so a
    handle a rebuild published past must raise instead of inserting
    codes that decode wrongly under the retrained centroids/codebooks;
    ivfpq_remove carries the same guard.  A retry of the writer's own
    crashed table commit sees the SAME published header and must pass
    (the guard judges the meta sidecar, not table versions)."""
    path = str(tmp_path / "guard")
    base = vectors.filter(F.col("vec_id") < 120)
    stale = similarity.build_ivfpq_index(base, path, n_cells=4, m=2,
                                         k=4, fingerprint="v1")
    # a table-only commit (crash-retry analog: newer table versions,
    # same published header) must PASS the guard
    extra = vectors.filter((F.col("vec_id") >= 120)
                           & (F.col("vec_id") < 150))
    assert similarity.ivfpq_append(stale, extra) == extra.count()
    # a REBUILD retrains and republishes the header ...
    similarity.build_ivfpq_index(
        vectors.filter(F.col("vec_id") < 150), path, n_cells=8, m=2,
        k=4, fingerprint="v2")
    # ... so the superseded handle now raises on BOTH maintenance ops
    late = vectors.filter(F.col("vec_id") >= 150)
    with pytest.raises(ValueError, match="stale AnnIndex"):
        similarity.ivfpq_append(stale, late)
    with pytest.raises(ValueError, match="stale AnnIndex"):
        similarity.ivfpq_remove(spark, stale,
                                late.select("vec_id"))
    # a freshly loaded handle proceeds
    fresh = similarity.load_ann_index(path)
    assert similarity.ivfpq_append(fresh, late) == late.count()
    got = similarity.ivfpq_probe(
        spark, fresh, _query_of(vectors, 160), k=3,
        n_probe=8).collect()
    assert len(got) >= 3    # candidate set for the exact re-rank
    assert any(r["vec_id"] >= 150 for r in got)  # appended rows live


def test_ivfpq_maintenance_raced_by_rebuild_raises_conflict(
        spark, vectors, tmp_path, monkeypatch):
    """A rebuild that commits a new header after a maintenance op's
    staleness check, but before the op commits, makes the op raise
    ConflictException: the rebuild's codes and header stand, and a
    fresh load probes them correctly."""
    from cs186_query_optimization_project_spark.errors import (
        ConflictException,
    )

    path = str(tmp_path / "race")
    base = vectors.filter(F.col("vec_id") < 150)
    similarity.build_ivfpq_index(base, path, n_cells=4, m=2, k=4,
                                 fingerprint="v0")
    real_guard = similarity._guard_fresh_ann_handle
    rebuilds = iter([8, 6])
    landed = []

    def guard_then_rebuild(index):
        version = real_guard(index)
        n_cells = next(rebuilds)
        landed.append(similarity.build_ivfpq_index(
            base, path, n_cells=n_cells, m=2, k=4,
            fingerprint=f"v{n_cells}"))
        return version

    monkeypatch.setattr(similarity, "_guard_fresh_ann_handle",
                        guard_then_rebuild)
    late = vectors.filter(F.col("vec_id") >= 150)
    ops = [lambda h: similarity.ivfpq_append(h, late),
           lambda h: similarity.ivfpq_remove(
               spark, h, base.filter(F.col("vec_id") < 10)
               .select("vec_id"))]
    for op in ops:
        with pytest.raises(ConflictException):
            op(similarity.load_ann_index(path))
        now = similarity.load_ann_index(path)
        assert now == landed[-1]
        assert similarity.ivfpq_codes(spark, now).count() == base.count()
    n_cells = len(now.params["centroids"])
    got = similarity.ivfpq_topk(spark, now, base, _query_of(vectors, 7),
                                k=3, n_probe=n_cells)
    assert got.collect()[0]["vec_id"] == 7


def test_ann_rebuild_crash_inside_delete_forces_clean_rebuild(
        spark, vectors, tmp_path, monkeypatch):
    """A rebuild that must replace the old table (here an IVF index
    rebuilt as IVF-PQ, a schema change) and crashes while deleting it,
    after the data directories went, leaves no loadable index: the
    manifests, which carry the header, are deleted before any data
    directory."""
    from cs186_query_optimization_project_spark import metaio

    path = str(tmp_path / "idx")
    similarity.build_ivf_index(vectors, path, n_cells=4)
    real_io = metaio.IO

    class CrashInDelete:
        """Deletes the index's data directories, then crashes."""

        def __getattr__(self, name):
            return getattr(real_io, name)

        def remove_tree(self, p):
            if p == path:
                for name in os.listdir(p):
                    if name != "_manifests":
                        real_io.remove_tree(os.path.join(p, name))
                raise RuntimeError("simulated crash inside the delete")
            return real_io.remove_tree(p)

    monkeypatch.setattr(metaio, "IO", CrashInDelete())
    with pytest.raises(RuntimeError, match="simulated crash"):
        similarity.build_ivfpq_index(vectors, path, n_cells=4, m=2, k=4)
    monkeypatch.setattr(metaio, "IO", real_io)
    assert similarity.load_ann_index(path) is None
    rebuilt = similarity.build_ivfpq_index(vectors, path, n_cells=4, m=2,
                                           k=4)
    assert similarity.load_ann_index(path) == rebuilt
