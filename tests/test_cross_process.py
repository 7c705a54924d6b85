"""Cross-catalog commit honesty probes.

Two ``Database`` instances on the same warehouse path model two driver
processes: each has its own in-process LockManager and catalog, so
what orders their writes is the storage itself — the catalog tables'
manifests, created exclusively (partitioned.py).  Each statement
re-reads the newest manifest, so no commit is lost across instances,
and a true same-version race loses with ConflictException.  A fresh
``Database`` over the path (what a restarted process opens) sees every
commit.  Materialized-view refreshes from two handles on one view
serialize the same way, through the view store's manifest.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cs186_query_optimization_project_spark import Database
from cs186_query_optimization_project_spark.errors import ConflictException

from cs186_query_optimization_project_spark.mview import MaterializedView
from cs186_query_optimization_project_spark.partitioned import (
    PartitionedTable,
)

from tests.conftest import rows


def _vals(db) -> dict:
    return {r["k"]: r["x"] for r in db.table("t").collect()}


def test_cross_instance_commits_serialize(spark, tmp_path):
    path = str(tmp_path / "t")
    Database(spark).create_table(
        "t", spark.createDataFrame([(1, 10), (2, 20)], "k long, x long"),
        path)
    db1 = Database(spark).register_parquet("t", path)
    db2 = Database(spark).register_parquet("t", path)

    db1.update_rows("t", F.col("k") == 1, {"x": F.lit(111)})
    db2.update_rows("t", F.col("k") == 2, {"x": F.lit(222)})
    # db2's statement derived from db1's committed version: no lost
    # update, in db2 and in any catalog that opens the path
    assert _vals(db2) == {1: 111, 2: 222}
    assert _vals(Database(spark).register_parquet("t", path)) == \
        {1: 111, 2: 222}

    # a race for the same version: both transactions pin version 2,
    # the first commit wins and the second raises
    a = Database(spark).register_parquet("t", path).begin()
    b = Database(spark).register_parquet("t", path).begin()
    a.update_rows("t", F.col("k") == 1, {"x": F.lit(1)})
    b.update_rows("t", F.col("k") == 1, {"x": F.lit(2)})
    a.commit()
    with pytest.raises(ConflictException):
        b.commit()
    fresh = Database(spark).register_parquet("t", path)
    assert _vals(fresh) == {1: 1, 2: 222}
    assert fresh.table_versions("t") == [0, 1, 2, 3]


def test_reopened_catalog_sees_every_commit(spark, tmp_path):
    """Commit through each catalog verb and a two-table transaction,
    then open a new ``Database`` over the directory, as a restarted
    process does: it registers both tables (a ``.parquet``-named and a
    plain manifest directory) and reads exactly the committed rows."""
    d = str(tmp_path)
    schema = "k long, x long"
    db = Database(spark)
    db.create_table("a", spark.createDataFrame([(1, 10), (2, 20)], schema),
                    f"{d}/a.parquet", index_columns=("k",))
    db.create_table("b", spark.createDataFrame([(1, 5)], schema),
                    f"{d}/b")
    db.insert_rows("a", spark.createDataFrame([(3, 30)], schema))
    db.update_rows("a", F.col("k") == 1, {"x": F.lit(11)})
    db.delete_rows("a", F.col("k") == 2)
    db.merge_rows("a", spark.createDataFrame([(3, 33), (4, 40)], schema),
                  on="k")
    txn = db.begin()
    txn.update_rows("a", F.col("k") == 4, {"x": F.lit(44)})
    txn.insert_rows("b", spark.createDataFrame([(2, 6)], schema))
    txn.commit()

    fresh = Database(spark, d)
    assert rows(fresh.table("a")) == rows(db.table("a")) == \
        [(1, 11), (3, 33), (4, 44)]
    assert rows(fresh.table("b")) == rows(db.table("b")) == [(1, 5), (2, 6)]
    assert fresh.table_versions("a") == db.table_versions("a") == \
        [0, 1, 2, 3, 4, 5]
    assert fresh.index_columns("a") == ("k",)


def test_partitioned_manifest_commits_serialize_across_instances(
        spark, tmp_path):
    """The same guarantee one layer down: the commit CAS lives in the
    FILESYSTEM (exclusive manifest create), not in per-instance memory,
    so two independent PartitionedTable instances over the same root
    serialize — each statement re-reads the latest manifest, and a
    true same-version race loses with ConflictException
    (tests/test_partitioned_table.py)."""
    from cs186_query_optimization_project_spark.partitioned import (
        PartitionedTable,
    )

    root = str(tmp_path / "p")
    PartitionedTable.create(
        spark, spark.createDataFrame([(1, "A", 10), (2, "B", 20)],
                                     "k long, g string, x long"),
        root, "g")
    t1 = PartitionedTable(spark, root)
    t2 = PartitionedTable(spark, root)

    t1.update(F.col("k") == 1, {"x": F.lit(111)})
    # instance 2 SEES instance 1's committed version immediately...
    assert {r["k"]: r["x"] for r in t2.read().collect()} == \
        {1: 111, 2: 20}
    t2.update(F.col("k") == 2, {"x": F.lit(222)})
    # ...and its own commit derives from it: no lost update
    for t in (t1, t2):
        assert {r["k"]: r["x"] for r in t.read().collect()} == \
            {1: 111, 2: 222}
    assert t1.versions() == t2.versions() == [0, 1, 2]


def test_mview_refresh_lock_serializes_across_processes(spark, tmp_path,
                                                        monkeypatch):
    """Refresh exclusion is storage-scoped like the manifest CAS: no
    process-local lock or pid is involved.  Handle ``b`` (one process)
    reads store version N; handle ``a`` (another process) refreshes and
    commits N+1 in that window; ``b``'s commit then loses with the named
    conflict and writes nothing.  A handle opened afterwards (a
    restarted process) reads the winner's commit, and ``b``'s retry has
    nothing left to fold."""
    df = spark.createDataFrame([(1, "A", 1.0), (2, "B", 2.0)],
                               "id long, grp string, amt double")
    src = PartitionedTable.create(spark, df, str(tmp_path / "s"), "grp")
    root = str(tmp_path / "mv")
    MaterializedView.create(spark, src, root, keys=["grp"],
                            sum_cols=["amt"])
    a = MaterializedView(spark, src, root)
    b = MaterializedView(spark, src, root)
    src.insert(spark.createDataFrame([(3, "A", 3.0)],
                                     "id long, grp string, amt double"))
    sv = b.store_version()
    real_changes = PartitionedTable.changes
    interleaved = []

    def changes(self, *args, **kw):      # b has read store version N
        monkeypatch.setattr(PartitionedTable, "changes", real_changes)
        interleaved.append(a.refresh())
        return real_changes(self, *args, **kw)

    monkeypatch.setattr(PartitionedTable, "changes", changes)
    with pytest.raises(ConflictException):
        b.refresh()
    assert interleaved == [1]
    fresh = MaterializedView(spark, src, root)
    assert fresh.store_version() == sv + 1
    assert fresh.refreshed_version() == src.versions()[-1]
    assert {r["grp"]: r["mv_sum_amt"] for r in fresh.read().collect()} == \
        {"A": 4.0, "B": 2.0}
    assert b.refresh() == 0
    assert fresh.store_version() == sv + 1
