"""Catalog DML surface over manifest tables (reference
Transaction.addRecord / updateRecord / deleteRecord,
db/Database.java:317-401)."""

import pytest
from pyspark.sql import functions as F

from cs186_query_optimization_project_spark import Database
from cs186_query_optimization_project_spark.errors import DatabaseException


@pytest.fixture()
def mutable_db(spark, db, tmp_path):
    """A fresh Database with a writable copy of nation."""
    mdb = Database(spark)
    mdb.create_table("nation", db.table("nation"),
                     str(tmp_path / "nation"))
    return mdb


def test_insert_rows(spark, mutable_db):
    before = mutable_db.table("nation").count()
    new = spark.createDataFrame(
        [(99, "ATLANTIS", 0)], schema=mutable_db.schema("nation"))
    mutable_db.insert_rows("nation", new)
    after = mutable_db.table("nation")
    assert after.count() == before + 1
    assert after.filter(F.col("n_name") == "ATLANTIS").count() == 1


def test_insert_schema_mismatch_rejected(spark, mutable_db):
    bad = spark.createDataFrame([(1, "x")], ["a", "b"])
    with pytest.raises(DatabaseException, match="schema mismatch"):
        mutable_db.insert_rows("nation", bad)


def test_update_rows(mutable_db):
    mutable_db.update_rows("nation", F.col("n_regionkey") == 0,
                           {"n_name": "RENAMED"})
    t = mutable_db.table("nation")
    assert (t.filter(F.col("n_regionkey") == 0)
            .filter(F.col("n_name") != "RENAMED").count()) == 0
    assert (t.filter(F.col("n_regionkey") != 0)
            .filter(F.col("n_name") == "RENAMED").count()) == 0


def test_update_unknown_column_rejected(mutable_db):
    with pytest.raises(DatabaseException, match="unknown column"):
        mutable_db.update_rows("nation", F.lit(True), {"nope": 1})


def test_delete_rows_and_versioning(mutable_db):
    before = mutable_db.table("nation").count()
    n0 = mutable_db.table("nation").filter(F.col("n_regionkey") == 0).count()
    mutable_db.delete_rows("nation", F.col("n_regionkey") == 0)
    t = mutable_db.table("nation")
    assert t.count() == before - n0
    assert t.filter(F.col("n_regionkey") == 0).count() == 0
    # the commit added a version; the previous one stays readable
    assert mutable_db.table_versions("nation") == [0, 1]
    assert mutable_db.table_at_version("nation", 0).count() == before
    mutable_db.delete_rows("nation", F.col("n_regionkey") == 1)
    assert mutable_db.table_versions("nation") == [0, 1, 2]


def test_dml_on_in_memory_table(spark):
    mdb = Database(spark)
    mdb.register_dataframe("t", spark.createDataFrame(
        [(1, "a"), (2, "b")], ["id", "v"]))
    mdb.delete_rows("t", F.col("id") == 1)
    assert [tuple(r) for r in mdb.table("t").collect()] == [(2, "b")]


def test_dml_on_plain_parquet_is_refused(db):
    """A plain parquet registration has no manifests to commit to: DML
    and transaction writes on it raise, naming the way out."""
    with pytest.raises(DatabaseException, match="create_table a writable"):
        db.delete_rows("nation", F.lit(True))
    with pytest.raises(DatabaseException, match="read-only"):
        db.begin().update_rows("nation", F.lit(True), {"n_name": "x"})


def test_dml_lifecycle_contract_entry(spark):
    """The driver-contract DML row end-to-end at sf0.001: 25 nation rows
    + 2 inserted - 5 deleted, with the region-2 names starred."""
    import __spark_entry__ as entry_mod

    rows = entry_mod.q_dml_lifecycle(spark, "/root/testdata/sf0.001").collect()
    by_key = {r.n_nationkey: r for r in rows}
    assert len(rows) == 22
    assert by_key[100].n_name == "ATLANTIS"
    assert not any(10 <= k <= 14 for k in by_key)
    starred = {r.n_nationkey for r in rows if r.n_name.endswith("*")}
    assert starred == {k for k, r in by_key.items() if r.n_regionkey == 2}


def test_merge_rows_upsert(spark, mutable_db):
    """Matched rows take source values, unmatched source rows append,
    untouched rows survive verbatim."""
    before = mutable_db.table("nation").count()
    untouched_before = (mutable_db.table("nation")
                        .filter(F.col("n_nationkey") == 5).collect())
    src_upd = (mutable_db.table("nation")
               .filter(F.col("n_nationkey") < 2)
               .select("n_nationkey",
                       F.concat(F.col("n_name"), F.lit("~m"))
                       .alias("n_name"),
                       "n_regionkey"))
    src_new = spark.createDataFrame(
        [(200, "NEWLAND", 0)], schema=mutable_db.schema("nation"))
    mutable_db.merge_rows("nation", src_upd.unionByName(src_new),
                          on="n_nationkey")
    t = mutable_db.table("nation")
    assert t.count() == before + 1
    assert (t.filter(F.col("n_nationkey") < 2)
            .filter(~F.col("n_name").endswith("~m")).count() == 0)
    assert t.filter(F.col("n_name") == "NEWLAND").count() == 1
    # a row the merge never touched is unchanged
    assert (t.filter(F.col("n_nationkey") == 5).collect()
            == untouched_before)


def test_merge_rows_duplicate_source_keys_rejected(spark, mutable_db):
    dup = spark.createDataFrame(
        [(1, "A", 0), (1, "B", 0)], schema=mutable_db.schema("nation"))
    with pytest.raises(DatabaseException, match="duplicate keys"):
        mutable_db.merge_rows("nation", dup, on="n_nationkey")


def test_merge_rows_update_cols_subset(spark, mutable_db):
    """update_cols restricts which columns matched rows take."""
    src = (mutable_db.table("nation")
           .filter(F.col("n_nationkey") == 3)
           .select("n_nationkey", F.lit("IGNORED").alias("n_name"),
                   F.lit(99).cast("int").alias("n_regionkey")))
    src = src.select(*[F.col(c).cast(t.dataType) for c, t in
                       zip(src.columns,
                           mutable_db.schema("nation").fields)])
    mutable_db.merge_rows("nation", src, on="n_nationkey",
                          update_cols=("n_regionkey",),
                          insert_unmatched=False)
    row = (mutable_db.table("nation")
           .filter(F.col("n_nationkey") == 3).collect()[0])
    assert row["n_regionkey"] == 99          # updated
    assert row["n_name"] != "IGNORED"        # NOT updated


def test_ensure_private_dir_rejects_foreign_or_open_dir(tmp_path):
    """mode= on makedirs is ignored for an existing dir — the guard must
    verify, not assume: a group/other-accessible scratch parent is
    refused, a fresh or already-private one is accepted."""
    import os

    from cs186_query_optimization_project_spark.database import (
        ensure_private_dir,
    )

    opened = tmp_path / "opened"
    opened.mkdir()
    os.chmod(opened, 0o755)
    with pytest.raises(DatabaseException, match="refusing"):
        ensure_private_dir(str(opened))

    fresh = tmp_path / "fresh"
    assert ensure_private_dir(str(fresh)) == str(fresh)
    assert (os.stat(fresh).st_mode & 0o777) == 0o700
    # idempotent on the dir it just created
    assert ensure_private_dir(str(fresh)) == str(fresh)


def test_scd2_apply(spark):
    from cs186_query_optimization_project_spark.operators import scd

    snap = spark.createDataFrame(
        [(1, "alice", "GOLD"), (2, "bob", "SILVER"), (3, "cara", "GOLD")],
        "id long, name string, tier string")
    dim = scd.scd2_init(snap, "id", ["name", "tier"], "2020-01-01")
    batch = spark.createDataFrame(
        [(1, "alice", "PLATINUM"),   # changed -> close + new version
         (2, "bob", "SILVER"),       # identical -> no-op
         (4, "dee", "BRONZE")],      # new key -> insert
        "id long, name string, tier string")
    out = scd.scd2_apply(dim, batch, "id", ["name", "tier"], "2024-06-01")
    rows = {(r["id"], r["valid_from"]): r for r in out.collect()}
    assert len(rows) == 5
    closed = rows[(1, "2020-01-01")]
    assert closed["valid_to"] == "2024-06-01" and not closed["is_current"]
    new_v = rows[(1, "2024-06-01")]
    assert new_v["tier"] == "PLATINUM" and new_v["is_current"]
    assert new_v["valid_to"] is None
    assert rows[(2, "2020-01-01")]["is_current"]      # no-op untouched
    assert rows[(3, "2020-01-01")]["is_current"]      # absent untouched
    assert rows[(4, "2024-06-01")]["tier"] == "BRONZE"
    # idempotence: re-applying the same batch changes nothing
    again = scd.scd2_apply(out, batch, "id", ["name", "tier"],
                           "2025-01-01")
    assert again.count() == 5
    assert again.filter("valid_from = '2025-01-01'").count() == 0


def test_constraint_checks(spark):
    from cs186_query_optimization_project_spark.operators import (
        constraints,
    )

    child = spark.createDataFrame(
        [(1, 10), (2, 10), (2, 99), (3, None)],
        "id long, ref long")
    parent = spark.createDataFrame([(10,), (20,)], "pid long")
    rep = {r["check_name"]: r["violations"]
           for r in constraints.constraint_report([
               constraints.check_not_null(child, "ref"),
               constraints.check_unique(child, ["id"]),
               constraints.check_foreign_key(child, "ref", parent, "pid"),
           ]).collect()}
    assert rep["not_null(ref)"] == 1
    assert rep["unique(id)"] == 1            # id=2 twice -> 1 surplus
    assert rep["foreign_key(ref->pid)"] == 1  # 99 orphan; null passes
    # clean data yields all-zero report, not missing rows
    clean = spark.createDataFrame([(1, 10)], "id long, ref long")
    rep0 = {r["check_name"]: r["violations"]
            for r in constraints.constraint_report([
                constraints.check_unique(clean, ["id"]),
                constraints.check_foreign_key(clean, "ref", parent, "pid"),
            ]).collect()}
    assert set(rep0.values()) == {0}


def test_time_travel_version_chain(spark, tmp_path):
    """Every DML commit appends one readable manifest version;
    version 0 is the table as created; out-of-range and
    in-memory reads raise engine errors."""
    import pytest
    from cs186_query_optimization_project_spark import Database
    from cs186_query_optimization_project_spark.errors import (
        DatabaseException)

    db = Database(spark)
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")],
                               "id long, s string")
    db.create_table("tt", df, str(tmp_path / "tt"))
    db.insert_rows("tt", spark.createDataFrame([(4, "d")],
                                               "id long, s string"))
    db.update_rows("tt", F.col("id") == 1, {"s": F.lit("z")})
    db.delete_rows("tt", F.col("id") == 2)
    assert db.table_versions("tt") == [0, 1, 2, 3]
    assert [db.table_at_version("tt", v).count() for v in range(4)] \
        == [3, 4, 4, 3]
    # v2 sees the update but not the delete
    assert {r["s"] for r in db.table_at_version("tt", 2).collect()} \
        == {"z", "b", "c", "d"}
    # current == last version, bit for bit
    assert sorted(map(tuple, db.table("tt").collect())) \
        == sorted(map(tuple, db.table_at_version("tt", 3).collect()))
    with pytest.raises(DatabaseException):
        db.table_at_version("tt", 4)
    db.register_dataframe("mem", df)
    with pytest.raises(DatabaseException):
        db.table_at_version("mem", 0)


def test_vacuum_reclaims_old_versions(spark, tmp_path):
    """vacuum(keep_last=N) drops all but the newest N retained
    versions and the data directories only they referenced, keeps
    version numbering stable, raises the named vacuumed error on
    time-travel reads of reclaimed versions, and never touches the
    current version."""
    import os
    from cs186_query_optimization_project_spark import Database
    from cs186_query_optimization_project_spark.errors import (
        DatabaseException)

    db = Database(spark)
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")],
                               "id long, s string")
    db.create_table("vt", df, str(tmp_path / "vt"))
    db.insert_rows("vt", spark.createDataFrame([(4, "d")],
                                               "id long, s string"))
    db.delete_rows("vt", F.col("id") == 2)
    db.update_rows("vt", F.col("id") == 1, {"s": F.lit("z")})
    assert db.table_versions("vt") == [0, 1, 2, 3]

    removed = db.vacuum("vt", keep_last=2)
    # v0's directory and v1's appended one: v2's delete rewrote the table
    assert len(removed) == 2
    for p in removed:
        assert not os.path.exists(p)
    # numbering stable: 2 and 3 survive under their old numbers
    assert db.table_versions("vt") == [2, 3]
    assert db.table_at_version("vt", 2).count() == 3
    with pytest.raises(DatabaseException, match="has been vacuumed"):
        db.table_at_version("vt", 0)
    # current table unaffected, still the v3 content
    assert {r["s"] for r in db.table("vt").collect()} == {"z", "c", "d"}

    # idempotent at the floor: keep_last=1 drops v2, keeps current only
    assert len(db.vacuum("vt", keep_last=1)) == 1
    assert db.table_versions("vt") == [3]
    assert db.vacuum("vt", keep_last=1) == []   # nothing left to drop
    assert os.path.exists(db._entry("vt").path)

    with pytest.raises(DatabaseException, match="keep_last"):
        db.vacuum("vt", keep_last=0)
    db.register_dataframe("mem", df)
    with pytest.raises(DatabaseException, match="not disk-backed"):
        db.vacuum("mem")
