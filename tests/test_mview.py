"""Incremental materialized views (mview.py): refresh folds CDF deltas
into the stored aggregate and must equal a from-scratch recompute after
any DML mix; it never rescans the source."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cs186_query_optimization_project_spark.errors import DatabaseException
from cs186_query_optimization_project_spark.mview import MaterializedView
from cs186_query_optimization_project_spark.partitioned import (
    PartitionedTable,
)


@pytest.fixture()
def src(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 30.0),
         (4, "B", 40.0), (5, "C", 50.0)],
        "id long, grp string, amt double")
    return PartitionedTable.create(spark, df, str(tmp_path / "s"), "grp")


def _as_dict(mv):
    return {r["grp"]: (r["mv_count"], r["mv_sum_amt"])
            for r in mv.read().collect()}


def _recompute(src):
    return {r["grp"]: (r["n"], r["s"]) for r in
            src.read().groupBy("grp")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("amt").alias("s")).collect()}


def test_refresh_matches_recompute_across_dml_mix(src, spark, tmp_path):
    mv = MaterializedView.create(spark, src, str(tmp_path / "mv"),
                                 keys=["grp"], sum_cols=["amt"])
    assert _as_dict(mv) == _recompute(src)
    assert mv.refresh() == 0                      # already current

    src.insert(spark.createDataFrame(
        [(6, "A", 5.0), (7, "D", 70.0)],          # new group D
        "id long, grp string, amt double"))
    src.delete(F.col("grp") == "C")               # group drops to zero
    src.update(F.col("id") == 3, {"amt": F.col("amt") + 100.0})
    n = mv.refresh()
    assert n > 0
    got = _as_dict(mv)
    assert got == _recompute(src)
    assert "C" not in got                         # zero-count group gone
    assert got["D"] == (1, 70.0)
    assert mv.refreshed_version() == src.versions()[-1]
    # idempotent: nothing new -> no-op, state unchanged
    assert mv.refresh() == 0
    assert _as_dict(mv) == _recompute(src)


def test_refresh_swap_is_atomic_and_vacuumable(src, spark, tmp_path):
    mv = MaterializedView.create(spark, src, str(tmp_path / "mv"),
                                 keys=["grp"], sum_cols=["amt"])
    src.insert(spark.createDataFrame([(8, "A", 1.0)],
                                     "id long, grp string, amt double"))
    old_v = mv.store_version()
    mv.refresh()
    assert mv.store_version() > old_v             # new store version
    assert old_v in mv._store().versions()        # old one retained
    removed = mv.vacuum()
    assert removed                                # reclaimed something
    assert old_v not in mv._store().versions()
    assert _as_dict(mv) == _recompute(src)        # pinned version intact


def test_refresh_rewrites_only_touched_buckets(src, spark, tmp_path):
    """The store is hash-bucketed on the group key: a refresh whose
    churn touches one group must re-link every other bucket's
    directory UNCHANGED in the new store manifest (the O(churned
    buckets) contract, checked on the actual manifests)."""
    mv = MaterializedView.create(spark, src, str(tmp_path / "mv"),
                                 keys=["grp"], sum_cols=["amt"],
                                 n_buckets=16)
    v0 = mv.store_version()
    man0 = mv._store()._manifest(v0)
    src.insert(spark.createDataFrame([(8, "A", 1.0)],
                                     "id long, grp string, amt double"))
    assert mv.refresh() > 0
    man1 = mv._store()._manifest(mv.store_version())
    touched = [r[0] for r in
               spark.createDataFrame([("A",)], "grp string")
               .select(F.pmod(F.hash("grp"), F.lit(16)).cast("int"))
               .collect()]
    tkeys = {str(b) for b in touched}
    changed = {k for k in set(man0["parts"]) | set(man1["parts"])
               if man0["parts"].get(k) != man1["parts"].get(k)}
    assert changed == tkeys                       # only A's bucket
    for k in set(man0["parts"]) - tkeys:          # shared directories
        assert man0["parts"][k] == man1["parts"][k]


def test_open_missing_view_raises(src, spark, tmp_path):
    with pytest.raises(DatabaseException, match="no materialized view"):
        MaterializedView(spark, src, str(tmp_path / "nope"))


def test_refresh_null_keys_and_null_sums(spark, tmp_path):
    """NULL group keys are ordinary groups (SQL GROUP BY), and a group
    whose sum contributions are all NULL stays SUM=NULL across
    refreshes — both must match a from-scratch recompute."""
    df = spark.createDataFrame(
        [(1, "A", 1.0), (2, None, 2.0), (3, None, 3.0),
         (4, "N", None), (5, "N", None), (6, "p", 6.0)],
        "id long, grp string, amt double")
    src = PartitionedTable.create(spark, df.withColumn(
        "part", F.coalesce(F.col("grp"), F.lit("null"))),
        str(tmp_path / "s"), "part")
    mv = MaterializedView.create(spark, src, str(tmp_path / "mv"),
                                 keys=["grp"], sum_cols=["amt"])
    src.delete(F.col("id") == 2)        # churn a NULL-key group
    src.insert(spark.createDataFrame(
        [(7, None, 7.0, "null"), (8, "N", None, "N")],
        "id long, grp string, amt double, part string"))
    assert mv.refresh() > 0
    got = {r["grp"]: (r["mv_count"], r["mv_sum_amt"])
           for r in mv.read().collect()}
    want = {r["grp"]: (r["n"], r["s"]) for r in
            src.read().groupBy("grp")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("amt").alias("s")).collect()}
    assert got == want
    assert got[None] == (2, 10.0)       # NULL key folded, not dropped
    assert got["N"] == (3, None)        # all-NULL sums stay NULL


def test_refresh_rowfree_commit_is_metadata_only(src, spark, tmp_path):
    """A source commit that changes no rows (OPTIMIZE) advances the
    watermark in a store commit that writes no data directory."""
    mv = MaterializedView.create(spark, src, str(tmp_path / "mv"),
                                 keys=["grp"], sum_cols=["amt"])
    sv = mv.store_version()
    parts = os.path.join(mv.root, "store", "parts")
    staged = set(os.listdir(parts))
    src.optimize()
    assert mv.refresh() == 0
    assert set(os.listdir(parts)) == staged      # no data written
    assert mv.store_version() == sv + 1          # metadata-only commit
    assert mv._store()._manifest()["parts"] == \
        mv._store()._manifest(sv)["parts"]
    assert mv.refreshed_version() == src.versions()[-1]
    assert mv.refresh() == 0                     # caught up: no commit
    assert mv.store_version() == sv + 1


def test_mview_random_dml_refresh_matches_recompute(spark, tmp_path):
    """Property test: random insert/delete/update churn on the source
    with refreshes at random points — after every refresh the view
    equals a from-scratch recompute (counts exact, sums to 1e-6)."""
    from hypothesis import HealthCheck, given, settings, strategies as st

    grps = ["A", "B", "C"]

    @settings(max_examples=3, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(data=st.data())
    def run(data):
        import uuid as _uuid

        tag = _uuid.uuid4().hex
        df = spark.createDataFrame(
            [(i, grps[i % 3], float(i)) for i in range(1, 8)],
            "id long, grp string, amt double")
        src = PartitionedTable.create(spark, df,
                                      str(tmp_path / f"s{tag}"), "grp")
        mv = MaterializedView.create(spark, src,
                                     str(tmp_path / f"m{tag}"),
                                     keys=["grp"], sum_cols=["amt"])
        next_id = 100
        for _ in range(data.draw(st.integers(2, 4))):
            op = data.draw(st.sampled_from(
                ["insert", "delete", "update", "refresh"]))
            if op == "insert":
                src.insert(spark.createDataFrame(
                    [(next_id, data.draw(st.sampled_from(grps)),
                      float(next_id))],
                    "id long, grp string, amt double"))
                next_id += 1
            elif op == "delete":
                src.delete(F.col("id") % data.draw(
                    st.integers(2, 5)) == 0)
            elif op == "update":
                src.update(F.col("id") < data.draw(st.integers(3, 90)),
                           {"amt": F.col("amt") + 1.0})
            else:
                mv.refresh()
        mv.refresh()
        got = _as_dict(mv)
        want = _recompute(src)
        assert set(got) == set(want)
        for k in want:
            assert got[k][0] == want[k][0], k
            if want[k][1] is None:
                assert got[k][1] is None, k
            else:
                assert abs(got[k][1] - want[k][1]) < 1e-6, k

    run()


def test_predicate_view_refresh_matches_filtered_recompute(
        src, spark, tmp_path):
    """A filter_sql view maintains SELECT keys, agg WHERE <pred>:
    updates moving rows INTO and OUT OF the predicate fold correctly
    (CDF surfaces them as delete+insert pairs)."""
    mv = MaterializedView.create(spark, src, str(tmp_path / "mv"),
                                 keys=["grp"], sum_cols=["amt"],
                                 filter_sql="amt >= 25.0")
    def recompute():
        return {r["grp"]: (r["n"], r["s"]) for r in
                src.read().filter("amt >= 25.0").groupBy("grp")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum("amt").alias("s")).collect()}
    assert _as_dict(mv) == recompute()
    # id=2 (A, 20) moves INTO the predicate; id=3 (B, 30) moves OUT
    src.update(F.col("id") == 2, {"amt": F.lit(26.0)})
    src.update(F.col("id") == 3, {"amt": F.lit(1.0)})
    src.insert(spark.createDataFrame([(9, "D", 99.0), (10, "D", 1.0)],
                                     "id long, grp string, amt double"))
    assert mv.refresh() > 0
    got = _as_dict(mv)
    assert got == recompute()
    assert got["B"] == (1, 40.0)       # id=3 left; (4, 40) remains
    assert got["D"] == (1, 99.0)       # only the qualifying insert
    assert got["A"] == (1, 26.0)       # 20->26 entered the predicate


def test_read_with_avg_uses_nonnull_count(src, spark, tmp_path):
    """AVG derives as sum / NON-NULL count (SQL AVG), so a group with
    NULL contributions averages over the values that exist and an
    all-NULL group averages to NULL — matching a direct F.avg."""
    src.insert(spark.createDataFrame(
        [(8, "A", None), (9, "E", None)],
        "id long, grp string, amt double"))
    mv = MaterializedView.create(spark, src, str(tmp_path / "mv"),
                                 keys=["grp"], sum_cols=["amt"])
    got = {r["grp"]: r["mv_avg_amt"]
           for r in mv.read(with_avg=True).collect()}
    want = {r["grp"]: r["a"] for r in
            src.read().groupBy("grp")
            .agg(F.avg("amt").alias("a")).collect()}
    assert got == want
    assert got["A"] == 15.0        # (10+20)/2, the NULL row excluded
    assert got["E"] is None        # all-NULL group -> NULL, not 0


def test_refresh_lock_excludes_concurrent_and_reclaims_stale(
        src, spark, tmp_path, monkeypatch):
    """Single-refresher contract, held by the store commit alone.  Two
    handles refresh at once after both read store version N: the store
    commit of N+1 is the refresh's commit point, so exactly one commits
    and the other raises the named conflict without touching the store;
    the view then equals a recompute, and the loser's retry finds
    nothing left to fold.  A refresher that dies before its store
    commit leaves nothing to reclaim: the view still reads the old
    version, and the next refresh folds the pending change."""
    import threading

    from cs186_query_optimization_project_spark import metaio
    from cs186_query_optimization_project_spark.errors import (
        ConflictException,
    )

    mv = MaterializedView.create(spark, src, str(tmp_path / "mv"),
                                 keys=["grp"], sum_cols=["amt"])
    handles = [MaterializedView(spark, src, mv.root) for _ in range(2)]
    src.insert(spark.createDataFrame([(8, "A", 1.0), (9, "E", 2.0)],
                                     "id long, grp string, amt double"))
    sv = mv.store_version()
    both_read = threading.Barrier(2, timeout=60)
    real_changes = PartitionedTable.changes

    def changes(self, *a, **kw):         # runs after the store read
        both_read.wait()
        return real_changes(self, *a, **kw)

    monkeypatch.setattr(PartitionedTable, "changes", changes)
    outcome = [None, None]

    def run(i):
        try:
            outcome[i] = handles[i].refresh()
        except ConflictException as exc:
            outcome[i] = exc

    threads = [threading.Thread(target=run, args=(i,)) for i in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    monkeypatch.setattr(PartitionedTable, "changes", real_changes)
    won = [o for o in outcome if isinstance(o, int)]
    lost = [o for o in outcome if isinstance(o, ConflictException)]
    assert len(won) == 1 and won[0] > 0 and len(lost) == 1, outcome
    assert mv.store_version() == sv + 1
    assert _as_dict(mv) == _recompute(src)
    loser = handles[outcome.index(lost[0])]
    assert loser.refresh() == 0                 # nothing double-folds
    assert _as_dict(mv) == _recompute(src)

    src.insert(spark.createDataFrame([(10, "B", 4.0)],
                                     "id long, grp string, amt double"))
    sv, seen = mv.store_version(), mv.refreshed_version()
    commit_point = mv._store()._manifest_path(sv + 1)
    real_write = metaio.IO.write_new

    def dies_at_commit(path, text):
        if path == commit_point:
            raise OSError("refresher died before its store commit")
        real_write(path, text)

    monkeypatch.setattr(metaio.IO, "write_new", dies_at_commit)
    with pytest.raises(OSError, match="died"):
        handles[0].refresh()
    monkeypatch.setattr(metaio.IO, "write_new", real_write)
    fresh = MaterializedView(spark, src, mv.root)
    assert (fresh.store_version(), fresh.refreshed_version()) == (sv, seen)
    assert fresh.refresh() > 0                  # nothing left to reclaim
    assert fresh.store_version() == sv + 1
    assert _as_dict(fresh) == _recompute(src)


def test_view_from_older_build_raises_rebuild(src, spark, tmp_path):
    """A store without the watermark (written when the refresh state
    lived in the sidecar) cannot be opened; the error names the
    rebuild."""
    import json

    from cs186_query_optimization_project_spark import metaio

    mv = MaterializedView.create(spark, src, str(tmp_path / "mv"),
                                 keys=["grp"], sum_cols=["amt"])
    store = mv._store()
    man = store._manifest()
    path = store._manifest_path(man["version"])
    metaio.IO.remove(path)
    metaio.IO.write_new(path, json.dumps(dict(man, txns={})))
    with pytest.raises(DatabaseException, match="rebuild it"):
        MaterializedView(spark, src, mv.root)


def test_hll_distinct_view_insert_only(spark, tmp_path):
    """Approximate COUNT(DISTINCT) views: incremental register merges
    are BIT-identical to a from-scratch sketch (same md5 template), the
    derived estimate matches sketches.hll_distinct_by exactly, and a
    delete (or update) in the feed raises the named insert-only
    error."""
    from cs186_query_optimization_project_spark.functions.sketches \
        import hll_distinct_by

    df = spark.createDataFrame(
        [(i, "A" if i % 2 else "B", f"u{i % 37}") for i in range(200)],
        "id long, grp string, visitor string")
    src = PartitionedTable.create(spark, df, str(tmp_path / "s"), "grp")
    mv = MaterializedView.create(spark, src, str(tmp_path / "mv"),
                                 keys=["grp"],
                                 distinct_cols=["visitor"], hll_m=64)
    src.insert(spark.createDataFrame(
        [(1000 + i, "A", f"u{i % 61}") for i in range(150)],
        "id long, grp string, visitor string"))
    assert mv.refresh() > 0
    got = {r["grp"]: r["mv_distinct_visitor"]
           for r in mv.read(with_distinct=True).collect()}
    want = {r["grp"]: r["estimate"] for r in
            hll_distinct_by(src.read(), "visitor", ["grp"],
                            m=64).collect()}
    assert got == want                    # estimator parity, exact
    # registers themselves equal a from-scratch recreate
    mv2 = MaterializedView.create(spark, src, str(tmp_path / "mv2"),
                                  keys=["grp"],
                                  distinct_cols=["visitor"], hll_m=64)
    a = {r["grp"]: r["mv_hll_visitor"] for r in
         mv._store().read(version=mv.store_version()).collect()}
    b = {r["grp"]: r["mv_hll_visitor"] for r in
         mv2._store().read(version=mv2.store_version()).collect()}
    assert a == b                         # bit-identical merge
    # a delete makes the next refresh refuse, loudly
    src.delete(F.col("id") == 0)
    with pytest.raises(DatabaseException, match="INSERT-ONLY"):
        mv.refresh()


def test_hll_distinct_view_all_null_group(spark, tmp_path):
    """A group whose distinct column is entirely NULL estimates 0
    (SQL COUNT DISTINCT of nothing), and NULLs never contribute."""
    df = spark.createDataFrame(
        [(1, "A", "x"), (2, "A", None), (3, "B", None)],
        "id long, grp string, v string")
    src = PartitionedTable.create(spark, df, str(tmp_path / "s"), "grp")
    mv = MaterializedView.create(spark, src, str(tmp_path / "mv"),
                                 keys=["grp"], distinct_cols=["v"])
    got = {r["grp"]: r["mv_distinct_v"]
           for r in mv.read(with_distinct=True).collect()}
    assert got["B"] == 0.0
    assert abs(got["A"] - 1.0) < 0.2      # one distinct value


def _minmax_dict(mv):
    return {r["grp"]: (r["mv_count"], r["mv_min_amt"], r["mv_max_amt"])
            for r in mv.read().collect()}


def _minmax_recompute(src):
    return {r["grp"]: (r["n"], r["lo"], r["hi"]) for r in
            src.read().groupBy("grp")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("amt").alias("lo"),
                 F.max("amt").alias("hi")).collect()}


def test_minmax_insert_only_folds_distributively(src, spark, tmp_path):
    """Insert-only churn folds MIN/MAX like the sums — no recompute,
    and untouched buckets re-link their directories across the store
    commit (the O(churned buckets) contract holds for extremum
    views)."""
    mv = MaterializedView.create(spark, src, str(tmp_path / "mv"),
                                 keys=["grp"], minmax_cols=["amt"],
                                 n_buckets=16)
    assert _minmax_dict(mv) == _minmax_recompute(src)
    v0 = mv.store_version()
    man0 = mv._store()._manifest(v0)
    src.insert(spark.createDataFrame(
        [(8, "A", 99.0), (9, "A", -1.0), (10, "E", 7.0)],
        "id long, grp string, amt double"))
    assert mv.refresh() > 0
    got = _minmax_dict(mv)
    assert got == _minmax_recompute(src)
    assert got["A"] == (4, -1.0, 99.0)       # both extrema moved
    assert got["E"] == (1, 7.0, 7.0)         # new group
    man1 = mv._store()._manifest(mv.store_version())
    touched = {str(r[0]) for r in
               spark.createDataFrame([("A",), ("E",)], "grp string")
               .select(F.pmod(F.hash("grp"), F.lit(16)).cast("int"))
               .collect()}
    for k in set(man0["parts"]) - touched:   # shared directories
        assert man0["parts"][k] == man1["parts"][k]


def test_minmax_delete_recomputes_only_affected_buckets(
        src, spark, tmp_path):
    """A delete that removes a group's MAX triggers the scoped bucket
    recompute: the refreshed view equals a from-scratch recompute, a
    simultaneously-churned insert-only bucket still folds (its
    directory changes but the un-churned buckets re-link), and a
    delete emptying a group drops it."""
    mv = MaterializedView.create(spark, src, str(tmp_path / "mv"),
                                 keys=["grp"], sum_cols=["amt"],
                                 minmax_cols=["amt"], n_buckets=16)
    src.delete(F.col("id") == 4)             # B's max (40.0) dies
    src.insert(spark.createDataFrame(
        [(11, "A", 0.5)],                    # insert-only churn in A
        "id long, grp string, amt double"))
    src.delete(F.col("grp") == "C")          # group emptied
    assert mv.refresh() > 0
    got = _minmax_dict(mv)
    assert got == _minmax_recompute(src)
    assert got["B"] == (1, 30.0, 30.0)       # max shrank correctly
    assert got["A"][1] == 0.5                # fold path still exact
    assert "C" not in got
    # sums stay NULL-correct through the recompute path too
    sums = {r["grp"]: r["mv_sum_amt"] for r in mv.read().collect()}
    want = {r["grp"]: r["s"] for r in
            src.read().groupBy("grp")
            .agg(F.sum("amt").alias("s")).collect()}
    assert sums == want


def test_minmax_delete_recompute_prunes_source_partitions(
        src, spark, tmp_path, monkeypatch):
    """Partition-pruned recompute: with the view keyed on the source's
    partition column, the delete-bucket recompute scan reads ONLY the
    delete rows' partitions — and with n_buckets=1 (every group shares
    the one bucket, the worst hash-collision case) groups in UNTOUCHED
    partitions still fold exactly: an insert-only group sharing the
    delete's bucket takes its delta, an unchanged group carries
    forward, and the view equals a from-scratch recompute."""
    mv = MaterializedView.create(spark, src, str(tmp_path / "mv"),
                                 keys=["grp"], sum_cols=["amt"],
                                 minmax_cols=["amt"], n_buckets=1)
    src.delete(F.col("id") == 4)             # B's max dies
    src.insert(spark.createDataFrame(
        [(11, "A", 0.5)],                    # same (only) bucket as B
        "id long, grp string, amt double"))
    pruned_calls = []
    real_read = type(src).read

    def spy(self, version=None, partition_values=None):
        if self.root == src.root and partition_values is not None:
            pruned_calls.append(sorted(partition_values))
        return real_read(self, version, partition_values)

    monkeypatch.setattr(type(src), "read", spy)
    assert mv.refresh() > 0
    monkeypatch.setattr(type(src), "read", real_read)
    # the recompute scan named exactly the delete's partition
    assert ["B"] in pruned_calls
    assert all("A" not in c and "C" not in c for c in pruned_calls)
    got = _minmax_dict(mv)
    assert got == _minmax_recompute(src)
    assert got["B"] == (1, 30.0, 30.0)       # recomputed, pruned scan
    assert got["A"][1] == 0.5                # collided group folded
    assert got["C"] == (1, 50.0, 50.0)       # untouched, carried


def test_minmax_recompute_prefix_prunes_hierarchical_source(
        spark, tmp_path, monkeypatch):
    """On a HIERARCHICAL source whose leading partition column is a
    view key, the delete-recompute's partition_values are first-
    component scalars — a PREFIX prune selecting the whole subtree of
    each affected value; correctness and pruning both hold."""
    df = spark.createDataFrame(
        [(1, "A", "x", 10.0), (2, "A", "y", 20.0), (3, "B", "x", 30.0),
         (4, "B", "y", 40.0), (5, "C", "x", 50.0)],
        "id long, grp string, sub string, amt double")
    src = PartitionedTable.create(spark, df, str(tmp_path / "h"),
                                  ["grp", "sub"])
    mv = MaterializedView.create(spark, src, str(tmp_path / "mv"),
                                 keys=["grp"], minmax_cols=["amt"],
                                 n_buckets=4)
    src.delete(F.col("id") == 4)              # B's max, subtree B/y
    pruned_calls = []
    real_read = type(src).read

    def spy(self, version=None, partition_values=None):
        if self.root == src.root and partition_values is not None:
            pruned_calls.append(sorted(partition_values))
        return real_read(self, version, partition_values)

    monkeypatch.setattr(type(src), "read", spy)
    assert mv.refresh() > 0
    monkeypatch.setattr(type(src), "read", real_read)
    assert ["B"] in pruned_calls               # prefix scalar
    got = {r["grp"]: (r["mv_count"], r["mv_min_amt"], r["mv_max_amt"])
           for r in mv.read().collect()}
    assert got["B"] == (1, 30.0, 30.0)         # both subtrees seen
    assert got["A"] == (2, 10.0, 20.0) and got["C"] == (1, 50.0, 50.0)


def test_minmax_update_and_null_groups(spark, tmp_path):
    """An UPDATE (CDF delete+insert) routes its bucket through the
    recompute; all-NULL groups keep MIN/MAX NULL like SQL."""
    df = spark.createDataFrame(
        [(1, "A", 10.0), (2, "A", 20.0), (3, "N", None), (4, "N", None)],
        "id long, grp string, amt double")
    src = PartitionedTable.create(spark, df, str(tmp_path / "s"), "grp")
    mv = MaterializedView.create(spark, src, str(tmp_path / "mv"),
                                 keys=["grp"], minmax_cols=["amt"])
    got = _minmax_dict(mv)
    assert got["N"] == (2, None, None)
    src.update(F.col("id") == 2, {"amt": F.lit(5.0)})
    assert mv.refresh() > 0
    got = _minmax_dict(mv)
    assert got == _minmax_recompute(src)
    assert got["A"] == (2, 5.0, 10.0)        # old max 20 unfolded
    assert got["N"] == (2, None, None)


def test_minmax_with_distinct_still_insert_only(src, spark, tmp_path):
    """distinct_cols' insert-only restriction survives the minmax
    upgrade: HLL registers genuinely cannot unmerge, so a delete still
    raises even though the minmax columns could recompute."""
    mv = MaterializedView.create(spark, src, str(tmp_path / "mv"),
                                 keys=["grp"], minmax_cols=["amt"],
                                 distinct_cols=["id"])
    src.delete(F.col("id") == 1)
    with pytest.raises(DatabaseException, match="INSERT-ONLY"):
        mv.refresh()


# ------------------------------------------------------------------ #
# incremental variance (var_cols)
# ------------------------------------------------------------------ #
def _var_fixture(spark, tmp_path, name):
    from cs186_query_optimization_project_spark.mview import (
        MaterializedView,
    )
    from cs186_query_optimization_project_spark.partitioned import (
        PartitionedTable,
    )
    import pyspark.sql.functions as _F
    src = (spark.range(300)
           .selectExpr("id", "CAST(id % 3 AS STRING) AS grp",
                       "CAST(id % 7 AS DOUBLE) AS v"))
    pt = PartitionedTable.create(spark, src,
                                 str(tmp_path / f"{name}_src"), "grp")
    mv = MaterializedView.create(spark, pt, str(tmp_path / name),
                                 keys=["grp"], var_cols=["v"],
                                 n_buckets=4)
    return pt, mv


def _expected_var(pt):
    import pyspark.sql.functions as _F
    return {r["grp"]: r["var"] for r in
            pt.read().groupBy("grp")
            .agg(_F.var_pop("v").alias("var")).collect()}


def test_mview_variance_initial_and_insert_fold(spark, tmp_path):
    pt, mv = _var_fixture(spark, tmp_path, "var1")
    got = {r["grp"]: r["mv_var_v"] for r in
           mv.read(with_stddev=True).collect()}
    want = _expected_var(pt)
    assert got.keys() == want.keys()
    for g in want:
        assert abs(got[g] - want[g]) < 1e-9
    # insert fold: new rows shift each group's variance
    pt.insert(spark.createDataFrame(
        [(1000 + i, str(i % 3), float(i % 11)) for i in range(60)],
        "id long, grp string, v double"))
    mv.refresh()
    got = {r["grp"]: r["mv_var_v"] for r in
           mv.read(with_stddev=True).collect()}
    want = _expected_var(pt)
    for g in want:
        assert abs(got[g] - want[g]) < 1e-9


def test_mview_variance_delete_unfolds(spark, tmp_path):
    import pyspark.sql.functions as _F
    pt, mv = _var_fixture(spark, tmp_path, "var2")
    pt.delete(_F.col("id") % 5 == 0)
    mv.refresh()
    got = {r["grp"]: (r["mv_var_v"], r["mv_stddev_v"]) for r in
           mv.read(with_stddev=True).collect()}
    want = _expected_var(pt)
    for g in want:
        assert abs(got[g][0] - want[g]) < 1e-9
        assert abs(got[g][1] - want[g] ** 0.5) < 1e-9


def test_mview_variance_constant_column_clamps_at_zero(spark,
                                                       tmp_path):
    from cs186_query_optimization_project_spark.mview import (
        MaterializedView,
    )
    from cs186_query_optimization_project_spark.partitioned import (
        PartitionedTable,
    )
    import pyspark.sql.functions as _F
    src = spark.range(100).selectExpr(
        "id", "CAST(id % 2 AS STRING) AS grp", "CAST(1e9 AS DOUBLE) AS v")
    pt = PartitionedTable.create(spark, src, str(tmp_path / "cs"),
                                 "grp")
    mv = MaterializedView.create(spark, pt, str(tmp_path / "cmv"),
                                 keys=["grp"], var_cols=["v"],
                                 n_buckets=2)
    pt.delete(_F.col("id") % 3 == 0)
    mv.refresh()
    rows = mv.read(with_stddev=True).collect()
    # naive moments on a constant 1e9 column are exactly where
    # cancellation bites — the clamp guarantees >= 0, never NaN
    for r in rows:
        assert r["mv_var_v"] >= 0.0
        assert r["mv_stddev_v"] == r["mv_var_v"] ** 0.5


def test_mview_variance_col_also_summed_keeps_both(spark, tmp_path):
    from cs186_query_optimization_project_spark.mview import (
        MaterializedView,
    )
    from cs186_query_optimization_project_spark.partitioned import (
        PartitionedTable,
    )
    src = spark.range(50).selectExpr(
        "id", "CAST(id % 2 AS STRING) AS grp",
        "CAST(id AS DOUBLE) AS v")
    pt = PartitionedTable.create(spark, src, str(tmp_path / "bs"),
                                 "grp")
    mv = MaterializedView.create(spark, pt, str(tmp_path / "bmv"),
                                 keys=["grp"], sum_cols=["v"],
                                 var_cols=["v"], n_buckets=2)
    out = mv.read(with_avg=True, with_stddev=True)
    assert {"mv_sum_v", "mv_avg_v", "mv_var_v",
            "mv_stddev_v"} <= set(out.columns)
    assert "mv_sumsq_v" not in out.columns


def test_mview_variance_folds_streaming_appends(spark, tmp_path):
    """The exactly-once streaming sink commits through
    idempotent_append (op=STREAMING APPEND → CDF inserts); variance
    state must fold those exactly like batch inserts, and a replayed
    batch id must leave nothing to fold."""
    pt, mv = _var_fixture(spark, tmp_path, "var3")
    batch = spark.createDataFrame(
        [(5000 + i, str(i % 3), float(i % 13)) for i in range(45)],
        "id long, grp string, v double")
    assert pt.idempotent_append(batch, "sinkA", 0) is True
    assert mv.refresh() > 0
    got = {r["grp"]: r["mv_var_v"] for r in
           mv.read(with_stddev=True).collect()}
    want = _expected_var(pt)
    for g in want:
        assert abs(got[g] - want[g]) < 1e-9
    # exactly-once: replaying batch 0 is a no-op, nothing to fold
    assert pt.idempotent_append(batch, "sinkA", 0) is False
    assert mv.refresh() == 0
