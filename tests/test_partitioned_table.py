"""Partition-level copy-on-write MVCC (partitioned.py — "delta-lite").

The scale claims under test, not just the semantics: untouched
partitions' directories are SHARED across versions (O(touched)
DML), inserts never rewrite existing bytes, manifest pruning reads
only the asked-for partitions' directories, and vacuum deletes
exactly the directories no retained manifest references.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cs186_query_optimization_project_spark.errors import (
    ConflictException,
    DatabaseException,
)
from cs186_query_optimization_project_spark.partitioned import (
    PartitionedTable,
)
from cs186_query_optimization_project_spark.predicates import EQ as EQ_OP


@pytest.fixture()
def pt(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 30.0),
         (4, "B", 40.0), (5, "C", 50.0)],
        "id long, grp string, amt double")
    return PartitionedTable.create(spark, df, str(tmp_path / "t"), "grp")


def _dirs(pt, version=None):
    return {k: tuple(v)
            for k, v in pt._manifest(version)["parts"].items()}


def test_create_and_read(pt):
    assert pt.versions() == [0]
    assert pt.partition_col() == "grp"
    assert pt.read().count() == 5
    assert sorted(_dirs(pt)) == ["A", "B", "C"]


def test_manifest_pruning_reads_only_asked_partitions(pt):
    out = pt.read(partition_values=["A"])
    assert {r["grp"] for r in out.collect()} == {"A"}
    # the pruned read's scan lists ONLY partition A's directory
    read_dirs = {os.path.basename(os.path.dirname(f.removeprefix("file:")))
                 for f in out.inputFiles()}
    a_dir, = _dirs(pt)["A"]
    assert read_dirs == {os.path.basename(a_dir)}
    # unknown value -> empty frame with the table schema
    empty = pt.read(partition_values=["ZZZ"])
    assert empty.count() == 0 and empty.columns == ["id", "grp", "amt"]


def test_delete_rewrites_only_touched_partition(pt):
    before = _dirs(pt, 0)
    pt.delete(F.col("id") == 3)            # lives in partition B
    assert pt.versions() == [0, 1]
    after = _dirs(pt, 1)
    assert after["A"] == before["A"]       # shared directory, no rewrite
    assert after["C"] == before["C"]
    assert after["B"] != before["B"]
    assert {r["id"] for r in pt.read().collect()} == {1, 2, 4, 5}
    # NULL condition keeps the row (SQL DELETE semantics)
    pt.delete(F.when(F.col("id") > 100, True).otherwise(
        F.lit(None).cast("boolean")))
    assert pt.read().count() == 4


def test_insert_appends_new_dirs_only(pt, spark):
    before = _dirs(pt, 0)
    rows = spark.createDataFrame(
        [(6, "A", 60.0), (7, "D", 70.0)], "id long, grp string, amt double")
    pt.insert(rows)
    after = _dirs(pt, 1)
    # A grew by one NEW dir, keeping its old dir byte-identical
    assert after["A"][:1] == before["A"] and len(after["A"]) == 2
    assert after["B"] == before["B"] and after["C"] == before["C"]
    assert len(after["D"]) == 1            # brand-new partition
    assert pt.read().count() == 7
    assert pt.read(version=0).count() == 5  # time travel unaffected


def test_update_touched_partitions_only(pt):
    before = _dirs(pt, 0)
    pt.update(F.col("grp") == "B", {"amt": F.col("amt") + 1})
    after = _dirs(pt, 1)
    assert after["A"] == before["A"] and after["C"] == before["C"]
    assert after["B"] != before["B"]
    got = {r["id"]: r["amt"] for r in pt.read().collect()}
    assert got == {1: 10.0, 2: 20.0, 3: 31.0, 4: 41.0, 5: 50.0}
    with pytest.raises(DatabaseException, match="partition column"):
        pt.update(F.lit(True), {"grp": F.lit("X")})
    with pytest.raises(DatabaseException, match="unknown column"):
        pt.update(F.lit(True), {"nope": F.lit(1)})


def test_time_travel_and_vacuum_reachability(pt, spark):
    pt.insert(spark.createDataFrame([(6, "A", 60.0)],
                                    "id long, grp string, amt double"))
    pt.delete(F.col("grp") == "C")
    assert pt.versions() == [0, 1, 2]
    assert [pt.read(version=v).count() for v in (0, 1, 2)] == [5, 6, 5]

    v0_c, = _dirs(pt, 0)["C"]
    v0_a = _dirs(pt, 0)["A"]
    removed = pt.vacuum(keep_last=2)       # drops manifest v0
    assert pt.versions() == [1, 2]
    # C's original dir is still referenced by v1 -> SURVIVES;
    # nothing v1/v2 reference was deleted
    assert v0_c not in removed and os.path.exists(v0_c)
    assert all(os.path.exists(d) for d in v0_a)
    with pytest.raises(DatabaseException, match="not retained"):
        pt.read(version=0)

    removed2 = pt.vacuum(keep_last=1)      # drops manifest v1
    # now C's dir (emptied in v2's rewrite... C was deleted entirely:
    # v2 keeps an empty-C dir) — the v1-only dirs are reclaimed
    assert pt.versions() == [2]
    for d in removed2:
        assert not os.path.exists(d)
    assert pt.read().count() == 5
    with pytest.raises(DatabaseException, match="keep_last"):
        pt.vacuum(keep_last=0)


def test_commit_is_first_committer_wins(pt, spark):
    """The commit CAS: a committer that planned against version N loses
    if another publish claimed N+1 first — ConflictException, winner's
    state intact, and the loser's orphaned data dirs are unreferenced
    so vacuum reclaims them."""
    import json
    from pyspark.sql import types as T

    man = pt._manifest()                   # loser plans against v0
    with open(pt._manifest_path(man["version"] + 1), "x") as f:
        f.write(json.dumps(man | {"version": man["version"] + 1}))

    orphan = pt._new_dir()                 # the loser's staged write
    pt.read(partition_values=["A"]).write.parquet(orphan)
    with pytest.raises(ConflictException, match="concurrently"):
        pt._commit(man["version"] + 1, man["partition_col"],
                   T._parse_datatype_string(man["schema"]),
                   {"A": [orphan]})
    assert pt.read().count() == 5          # winner's state intact
    removed = pt.vacuum(keep_last=len(pt.versions()))
    assert orphan in removed and not os.path.exists(orphan)


def test_merge_upsert_touches_matched_partitions_only(pt, spark):
    """Matched rows rewrite ONLY the partitions owning them; unmatched
    source rows append as new directories; untouched partitions share
    dirs with the parent version."""
    before = _dirs(pt, 0)
    src = spark.createDataFrame(
        [(3, "B", 333.0),     # matches id=3 in partition B -> rewrite B
         (9, "C", 90.0)],     # unmatched -> append to C
        "id long, grp string, amt double")
    pt.merge(src, on="id")
    after = _dirs(pt, 1)
    assert after["A"] == before["A"]               # untouched: shared
    assert after["B"] != before["B"]               # matched: rewritten
    assert after["C"][:1] == before["C"]           # append kept old dir
    assert len(after["C"]) == 2
    got = {r["id"]: r["amt"] for r in pt.read().collect()}
    assert got == {1: 10.0, 2: 20.0, 3: 333.0, 4: 40.0, 5: 50.0,
                   9: 90.0}


def test_merge_validations(pt, spark):
    dup = spark.createDataFrame(
        [(3, "B", 1.0), (3, "B", 2.0)], "id long, grp string, amt double")
    with pytest.raises(DatabaseException, match="duplicate keys"):
        pt.merge(dup, on="id")
    bad = spark.createDataFrame([(3, "B")], "id long, grp string")
    with pytest.raises(DatabaseException, match="schema mismatch"):
        pt.merge(bad, on="id")
    # a matched source row whose partition value differs from the
    # target's would MOVE the row — refused, like update()
    mover = spark.createDataFrame(
        [(3, "A", 1.0)], "id long, grp string, amt double")
    with pytest.raises(DatabaseException, match="move"):
        pt.merge(mover, on="id")


def test_read_where_skips_directories_by_stats(pt, spark):
    """Data-skipping: dirs whose footer min/max can't intersect the
    range are never opened; the result still equals the exact filter;
    columns without recorded bounds (float amt) fail open."""
    out = pt.read_where("id", lo=5)
    assert {r["id"] for r in out.collect()} == {5}
    read_dirs = {os.path.normpath(os.path.dirname(
        f.removeprefix("file:").replace("///", "/")))
        for f in out.inputFiles()}
    c_dir, = _dirs(pt)["C"]                  # only C holds id=5
    assert read_dirs == {os.path.normpath(c_dir)}

    mid = pt.read_where("id", lo=2, hi=3)    # spans A and B, skips C
    assert {r["id"] for r in mid.collect()} == {2, 3}
    mid_dirs = {os.path.normpath(os.path.dirname(
        f.removeprefix("file:").replace("///", "/")))
        for f in mid.inputFiles()}
    assert os.path.normpath(c_dir) not in mid_dirs

    # float column: no stats recorded -> fail-open, exact result
    f_out = pt.read_where("amt", lo=30.0, hi=40.0)
    assert {r["id"] for r in f_out.collect()} == {3, 4}
    # empty range -> empty frame with the table schema
    none = pt.read_where("id", lo=99)
    assert none.count() == 0 and none.columns == ["id", "grp", "amt"]
    # string column stats work too
    s_out = pt.read_where("grp", lo="C", hi="C")
    assert {r["id"] for r in s_out.collect()} == {5}


def test_read_where_matches_full_filter_after_dml(pt, spark):
    """Skipping stays correct across versions: after an insert and a
    delete, read_where over every dir-generation equals the exact
    filter on read()."""
    pt.insert(spark.createDataFrame([(0, "A", 5.0), (8, "D", 80.0)],
                                    "id long, grp string, amt double"))
    pt.delete(F.col("id") == 4)
    want = sorted(r["id"] for r in
                  pt.read().filter(F.col("id").between(2, 8)).collect())
    got = sorted(r["id"] for r in
                 pt.read_where("id", lo=2, hi=8).collect())
    assert got == want == [2, 3, 5, 8]


def test_schema_evolution_additive(pt, spark):
    """merge_schema=True appends new trailing columns: old directories
    are NOT rewritten (dir sharing holds), reads reconcile them with
    NULLs from the manifest schema, later strict inserts must use the
    widened schema, and non-additive changes are refused."""
    before = _dirs(pt, 0)
    widened = spark.createDataFrame(
        [(6, "A", 60.0, "en")],
        "id long, grp string, amt double, lang string")
    pt.insert(widened, merge_schema=True)
    after = _dirs(pt)
    assert after["B"] == before["B"] and after["C"] == before["C"]
    assert pt.read().columns == ["id", "grp", "amt", "lang"]
    got = {r["id"]: r["lang"] for r in pt.read().collect()}
    assert got == {1: None, 2: None, 3: None, 4: None, 5: None,
                   6: "en"}
    # time travel still serves the OLD schema for the old version
    assert pt.read(version=0).columns == ["id", "grp", "amt"]
    # strict insert now requires the widened schema
    old_shape = spark.createDataFrame([(7, "B", 70.0)],
                                      "id long, grp string, amt double")
    with pytest.raises(DatabaseException, match="schema mismatch"):
        pt.insert(old_shape)
    # DML over mixed-schema dirs works; rewritten rows carry NULL lang
    pt.update(F.col("id") == 1, {"amt": F.lit(11.0)})
    row = pt.read().filter(F.col("id") == 1).collect()[0]
    assert row["amt"] == 11.0 and row["lang"] is None
    # non-additive evolution refused
    retyped = spark.createDataFrame(
        [(8, "B", 1, "x")], "id long, grp string, amt long, lang string")
    with pytest.raises(DatabaseException, match="only ADDS"):
        pt.insert(retyped, merge_schema=True)


def test_optimize_compacts_accreted_partitions(pt, spark):
    """Appends grow a partition's dir-list; OPTIMIZE collapses touched
    partitions to one directory each in a new shared-dir version, the
    content is bit-identical, re-clustering sorts rows, and vacuum
    then reclaims the pre-compaction append dirs."""
    for i in (6, 7):
        pt.insert(spark.createDataFrame(
            [(i, "A", float(i) * 10)], "id long, grp string, amt double"))
    assert len(_dirs(pt)["A"]) == 3              # accreted
    before = _dirs(pt)
    want = sorted(map(tuple, pt.read().collect()))

    touched = pt.optimize(sort_by=("id",))
    # A must be compacted (3 dirs); others may be flagged too if the
    # create's parallelism left them in undersized multi-file form
    assert "A" in touched
    after = _dirs(pt)
    assert len(after["A"]) == 1 and after["A"] != before["A"]
    for k in after:
        if k not in touched:
            assert after[k] == before[k], k      # untouched: shared
        else:
            assert len(after[k]) == 1, k         # compacted: one dir
    assert sorted(map(tuple, pt.read().collect())) == want
    # one file, rows sorted by the cluster key inside it
    a_dir, = after["A"]
    files = [f for f in os.listdir(a_dir) if f.endswith(".parquet")]
    assert len(files) == 1
    ids = [r["id"] for r in
           spark.read.parquet(a_dir).collect()]
    assert ids == sorted(ids)
    # idempotent: nothing left to compact
    assert pt.optimize() == []
    # retention drop + vacuum reclaims the superseded A dirs
    pt.vacuum(keep_last=1)
    assert all(not os.path.exists(d) for d in before["A"])
    assert pt.read().count() == 7


def test_idempotent_append_dedups_replays(pt, spark):
    """The exactly-once contract: a replayed batch id is a no-op, the
    watermark is per sink id, and DML commits carry the watermark
    forward (a later delete must not reopen the replay window)."""
    rows = spark.createDataFrame([(6, "A", 60.0)],
                                 "id long, grp string, amt double")
    assert pt.idempotent_append(rows, "s1", 0) is True
    assert pt.read().count() == 6
    assert pt.idempotent_append(rows, "s1", 0) is False   # replay
    assert pt.idempotent_append(rows, "s1", 0) is False
    assert pt.read().count() == 6                          # no dup rows
    # a different sink id has its own watermark
    rows2 = spark.createDataFrame([(7, "B", 70.0)],
                                  "id long, grp string, amt double")
    assert pt.idempotent_append(rows2, "s2", 0) is True
    assert pt.read().count() == 7
    # DML after streaming: watermark survives the delete's commit
    pt.delete(F.col("id") == 7)
    assert pt.idempotent_append(rows, "s1", 0) is False
    assert pt.idempotent_append(rows2, "s2", 0) is False
    assert pt.read().count() == 6
    # the next batch id commits normally
    rows3 = spark.createDataFrame([(8, "C", 80.0)],
                                  "id long, grp string, amt double")
    assert pt.idempotent_append(rows3, "s1", 1) is True
    assert pt.read().count() == 7


def test_foreach_batch_sink_end_to_end(pt, spark, tmp_path):
    """Drive a real file-stream through writeStream.foreachBatch into
    the partitioned table: all source rows land exactly once, routed to
    their partitions, and a second identical run with the same
    checkpoint appends nothing."""
    src_dir = str(tmp_path / "src")
    spark.createDataFrame(
        [(10, "A", 1.0), (11, "B", 2.0), (12, "D", 3.0)],
        "id long, grp string, amt double").write.parquet(src_dir)
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = (spark.readStream
             .schema("id long, grp string, amt double").parquet(src_dir)
             .writeStream.option("checkpointLocation", ckpt)
             .foreachBatch(pt.foreach_batch_sink("ingest"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        q.stop()

    run()
    assert pt.read().count() == 8
    assert {r["id"] for r in
            pt.read(partition_values=["D"]).collect()} == {12}
    run()                                   # same checkpoint: no-op
    assert pt.read().count() == 8


def test_optimize_zorder_clusters_two_columns(spark, tmp_path):
    """OPTIMIZE ... ZORDER BY: after compaction the touched partition's
    content is identical and rows are Morton-ordered (neither column's
    plain sort), keeping row-group stats narrow on both columns."""
    rows = [(i, "A", float(i % 16), float((i * 7) % 16))
            for i in range(64)]
    pt = PartitionedTable.create(
        spark, spark.createDataFrame(
            rows, "id long, grp string, x double, y double"),
        str(tmp_path / "z"), "grp")
    pt.insert(spark.createDataFrame(
        [(100, "A", 3.0, 5.0)], "id long, grp string, x double, y double"))
    want = sorted(map(tuple, pt.read().collect()))
    touched = pt.optimize(zorder_by=("x", "y"))
    assert "A" in touched
    assert sorted(map(tuple, pt.read().collect())) == want
    with pytest.raises(DatabaseException, match="exclusive"):
        pt.optimize(sort_by=("id",), zorder_by=("x", "y"))


def test_register_partitioned_in_catalog(pt, spark):
    """A PartitionedTable registers into the Database catalog for
    querying (builder + predicates work over its current version), and
    catalog DML on it commits to its manifests."""
    from cs186_query_optimization_project_spark import Database

    db = Database(spark)
    db.register_partitioned("pt_nation", pt.root)
    got = rows_sorted(db.query("pt_nation")
                      .where("grp", EQ_OP, "B")
                      .select("id", "amt").execute())
    assert got == [(3, 30.0), (4, 40.0)]
    db.delete_rows("pt_nation", F.col("id") == 1)
    assert pt.versions() == [0, 1]
    assert sorted(r["id"] for r in pt.read().collect()) == [2, 3, 4, 5]
    assert db.table("pt_nation").count() == 4
    # one partition rewritten, the others' directories shared
    assert _dirs(pt)["B"] == _dirs(pt, 0)["B"]
    db.drop_table("pt_nation")


def test_register_parquet_on_manifest_root(pt, spark):
    """register_parquet (and register_directory) read a PartitionedTable
    root through its newest committed manifest — not as a raw scan of
    every version's files under the root."""
    from cs186_query_optimization_project_spark import Database

    pt.delete(F.col("grp") == "C")
    db = Database(spark).register_parquet("t", pt.root)
    assert rows_sorted(db.table("t")) == rows_sorted(pt.read())
    assert db.table_versions("t") == [0, 1]
    reopened = Database(spark, os.path.dirname(pt.root))
    assert rows_sorted(reopened.table("t")) == rows_sorted(pt.read())


def rows_sorted(df):
    return sorted(map(tuple, df.collect()))


def test_change_data_feed(pt, spark):
    """changes(v1, v2): appends surface as inserts from only the new
    dirs, rewrites as exceptAll delete/insert pairs over just the
    touched partition, soft deletes as deletes, each tagged with the
    commit version; a no-change span is empty."""
    pt.insert(spark.createDataFrame([(6, "A", 60.0)],
                                    "id long, grp string, amt double"))
    pt.update(F.col("id") == 3, {"amt": F.lit(33.0)})       # rewrite B
    pt.delete_soft("id = 5")                                 # tomb C

    def chg(a, b):
        return sorted((r["id"], r["_change_type"], r["_commit_version"])
                      for r in pt.changes(a, b).collect())

    assert chg(0, 1) == [(6, "insert", 1)]
    # the rewrite emits only the changed row's pair, not all of B
    assert chg(1, 2) == [(3, "delete", 2), (3, "insert", 2)]
    assert chg(2, 3) == [(5, "delete", 3)]
    assert chg(0, 3) == [(3, "delete", 2), (3, "insert", 2),
                         (5, "delete", 3), (6, "insert", 1)]
    amts = {(r["id"], r["_change_type"]): r["amt"]
            for r in pt.changes(1, 2).collect()}
    assert amts == {(3, "delete"): 30.0, (3, "insert"): 33.0}
    assert pt.changes(3, 3).count() == 0
    with pytest.raises(DatabaseException, match="not retained"):
        pt.changes(0, 99)


def test_manifest_stream_source(pt, spark, tmp_path):
    """The Python-DataSource streaming SOURCE over manifests: with
    startingVersion=earliest the first batch replays the snapshot,
    later commits arrive as append batches (no duplicates across
    restarts on the same checkpoint), and a rewrite between offsets
    fails the stream unless ignoreChanges is set."""
    from cs186_query_optimization_project_spark.sources.manifest_stream \
        import ManifestStreamDataSource

    spark.dataSource.register(ManifestStreamDataSource)
    ckpt = str(tmp_path / "ckpt")

    def drain(name):
        got = set()

        def sink(batch_df, _bid, got=got):
            got.update(r["id"] for r in batch_df.collect())

        q = (spark.readStream.format("manifest_stream")
             .option("root", pt.root)
             .option("startingVersion", "earliest")
             .option("ignoreDeletes", "true")
             .load()
             .writeStream.option("checkpointLocation", ckpt)
             .foreachBatch(sink)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        q.stop()
        return got

    assert drain("ms1") == {1, 2, 3, 4, 5}       # snapshot replay
    pt.insert(spark.createDataFrame([(6, "D", 60.0)],
                                    "id long, grp string, amt double"))
    assert drain("ms2") == {6}                   # append only, no dups

    # a rewrite poisons the next span: the stream must fail loudly
    pt.update(F.col("id") == 1, {"amt": F.lit(1.0)})
    with pytest.raises(Exception, match="ignoreChanges"):
        q = (spark.readStream.format("manifest_stream")
             .option("root", pt.root)
             .load()
             .writeStream.option("checkpointLocation", ckpt)
             .foreachBatch(lambda df, bid: df.count())
             .trigger(availableNow=True).start())
        try:
            q.awaitTermination(120)
        finally:
            q.stop()

    # ...and ignoreChanges skips the rewritten partition silently
    ckpt2 = str(tmp_path / "ckpt2")
    got = set()
    q = (spark.readStream.format("manifest_stream")
         .option("root", pt.root)
         .option("startingVersion", "earliest")
         .option("ignoreChanges", "true")
         .load()
         .writeStream.option("checkpointLocation", ckpt2)
         .foreachBatch(lambda df, bid, got=got:
                       got.update(r["id"] for r in df.collect()))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    q.stop()
    # snapshot(v0: 1-5) + append(6); the update's rewrite of A skipped
    assert got == {1, 2, 3, 4, 5, 6}


def test_consume_changes_cursor(pt, spark, tmp_path):
    """At-least-once incremental consumption: un-acked spans redeliver,
    acked spans never reappear, 'earliest' replays history, and a
    cursor vacuumed past raises the documented reset error."""
    cur = str(tmp_path / "cursor.json")
    feed, ack = pt.consume_changes(cur)          # initial=latest
    assert feed.count() == 0
    ack()
    pt.insert(spark.createDataFrame([(6, "A", 60.0)],
                                    "id long, grp string, amt double"))
    pt.delete(F.col("id") == 2)

    feed, ack = pt.consume_changes(cur)
    got = sorted((r["id"], r["_change_type"]) for r in feed.collect())
    assert got == [(2, "delete"), (6, "insert")]
    # crash before ack -> same span redelivers
    feed2, ack2 = pt.consume_changes(cur)
    assert sorted((r["id"], r["_change_type"])
                  for r in feed2.collect()) == got
    ack2()
    assert ack2() == pt.versions()[-1]           # re-ack: already acked
    feed3, _ = pt.consume_changes(cur)
    assert feed3.count() == 0                    # acked: consumed

    # a fresh consumer with initial='earliest' replays everything
    cur2 = str(tmp_path / "cursor2.json")
    feed4, _ = pt.consume_changes(cur2, initial="earliest")
    assert sorted((r["id"], r["_change_type"])
                  for r in feed4.collect()) == got

    # vacuum past an acked cursor (pinned at v2) -> named reset error
    pt.insert(spark.createDataFrame([(7, "B", 70.0)],
                                    "id long, grp string, amt double"))
    pt.vacuum(keep_last=1)                       # retains only v3
    with pytest.raises(DatabaseException, match="no longer retained"):
        pt.consume_changes(cur)

    # a single-file cursor from an older build: named reset error
    from cs186_query_optimization_project_spark import metaio
    old = str(tmp_path / "old_cursor.json")
    metaio.IO.write_new(old, '{"version": 0}')
    with pytest.raises(DatabaseException, match="reset the cursor"):
        pt.consume_changes(old)


def test_soft_delete_tombstones(pt, spark):
    """Deletion-vector analog: delete_soft publishes a new version with
    ZERO data movement (parts identical), reads apply the predicate,
    later appends are NOT affected (tombstones bind to directories),
    a hard rewrite materializes-and-clears them, and optimize compacts
    tombstoned partitions clean."""
    before = _dirs(pt)
    pt.delete_soft("id >= 4")
    assert _dirs(pt) == before                   # no data movement
    assert {r["id"] for r in pt.read().collect()} == {1, 2, 3}
    assert pt.read(version=0).count() == 5       # time travel unaffected
    # stats-skipping read composes with tombstones
    assert {r["id"] for r in
            pt.read_where("id", lo=2).collect()} == {2, 3}

    # rows appended AFTER the soft delete survive even though id >= 4
    pt.insert(spark.createDataFrame([(9, "B", 90.0)],
                                    "id long, grp string, amt double"))
    assert {r["id"] for r in pt.read().collect()} == {1, 2, 3, 9}

    # hard update of partition A materializes its tombstone ("4"/"5"
    # live in B/C — A's dirs rewrite, B keeps its tombstone + append)
    pt.update(F.col("grp") == "A", {"amt": F.col("amt") + 1})
    assert {r["id"] for r in pt.read().collect()} == {1, 2, 3, 9}
    man = pt._manifest()
    a_dirs = set(man["parts"]["A"])
    assert not (a_dirs & set(man["tombstones"]))  # A is clean now

    # optimize sweeps every remaining tombstone away
    pt.optimize()
    assert pt._manifest().get("tombstones", {}) == {}
    assert {r["id"] for r in pt.read().collect()} == {1, 2, 3, 9}

    with pytest.raises(DatabaseException, match="does not plan"):
        pt.delete_soft("no_such_col = 1")


def test_soft_delete_null_semantics(pt, spark):
    """SQL DELETE semantics through tombstones: a NULL predicate keeps
    the row."""
    pt.insert(spark.createDataFrame(
        [(20, "A", None)], "id long, grp string, amt double"))
    pt.delete_soft("amt > 1000.0")               # NULL amt -> kept
    assert 20 in {r["id"] for r in pt.read().collect()}
    assert pt.read().count() == 6


def test_random_dml_sequences_match_model(spark, tmp_path):
    """Property test: random insert/delete/update/merge/optimize/
    soft-delete/restore sequences against an in-memory model — after
    every statement the table content equals the model; restore rolls
    the model back to the snapshot the target version recorded."""
    from hypothesis import HealthCheck, given, settings, strategies as st

    grps = ["A", "B", "C", "D"]

    @settings(max_examples=4, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(data=st.data())
    def run(data):
        import uuid as _uuid

        root = str(tmp_path / _uuid.uuid4().hex)
        model = {i: (grps[i % 3], float(i) * 10) for i in range(1, 7)}

        def df_of(d):
            return spark.createDataFrame(
                [(k, g, a) for k, (g, a) in sorted(d.items())],
                "id long, grp string, amt double")

        table = PartitionedTable.create(spark, df_of(model), root, "grp")
        snapshots = {table.versions()[-1]: dict(model)}
        next_id = 100
        for _ in range(data.draw(st.integers(2, 4))):
            op = data.draw(st.sampled_from(
                ["insert", "delete", "update", "merge", "optimize",
                 "soft_delete", "restore"]))
            if op == "insert":
                n = data.draw(st.integers(1, 3))
                new = {next_id + i:
                       (data.draw(st.sampled_from(grps)),
                        float(next_id + i))
                       for i in range(n)}
                next_id += n
                table.insert(df_of(new))
                model.update(new)
            elif op == "delete":
                g = data.draw(st.sampled_from(grps))
                cut = data.draw(st.integers(1, 120))
                table.delete((F.col("grp") == g) & (F.col("id") >= cut))
                model = {k: v for k, v in model.items()
                         if not (v[0] == g and k >= cut)}
            elif op == "update":
                cut = data.draw(st.integers(1, 120))
                delta = float(data.draw(st.integers(1, 9)))
                table.update(F.col("id") < cut,
                             {"amt": F.col("amt") + delta})
                model = {k: (v[0], v[1] + delta if k < cut else v[1])
                         for k, v in model.items()}
            elif op == "merge":
                # update up to 2 existing keys in place + 1 new row
                keys = data.draw(st.lists(
                    st.sampled_from(sorted(model)), max_size=2,
                    unique=True)) if model else []
                src = {k: (model[k][0], model[k][1] + 0.5)
                       for k in keys}
                src[next_id] = (data.draw(st.sampled_from(grps)),
                                float(next_id))
                next_id += 1
                table.merge(df_of(src), on="id")
                model.update(src)
            elif op == "soft_delete":
                g = data.draw(st.sampled_from(grps))
                cut = data.draw(st.integers(1, 120))
                table.delete_soft(f"grp = '{g}' AND id >= {cut}")
                # tombstones mask only rows in dirs existing NOW;
                # the model's current rows are exactly those
                model = {k: v for k, v in model.items()
                         if not (v[0] == g and k >= cut)}
            elif op == "restore":
                target = data.draw(st.sampled_from(
                    sorted(snapshots)))
                table.restore(target)
                model = dict(snapshots[target])
            else:
                table.optimize()
            snapshots[table.versions()[-1]] = dict(model)
            got = sorted((r["id"], r["grp"], r["amt"])
                         for r in table.read().collect())
            want = sorted((k, g, a) for k, (g, a) in model.items())
            assert got == want, op

    run()


def test_create_validations(spark, tmp_path):
    df = spark.createDataFrame([(1, 2.5)], "id long, f double")
    with pytest.raises(DatabaseException, match="not in"):
        PartitionedTable.create(spark, df, str(tmp_path / "a"), "nope")
    with pytest.raises(DatabaseException, match="stable manifest keys"):
        PartitionedTable.create(spark, df, str(tmp_path / "b"), "f")
    nulls = spark.createDataFrame([(1, None)], "id long, g string")
    with pytest.raises(DatabaseException, match="NULL"):
        PartitionedTable.create(spark, nulls, str(tmp_path / "c"), "g")
    with pytest.raises(DatabaseException, match="missing _manifests"):
        PartitionedTable(spark, str(tmp_path / "nowhere"))


def test_insert_schema_and_null_validation(pt, spark):
    bad = spark.createDataFrame([(1, "A")], "id long, grp string")
    with pytest.raises(DatabaseException, match="schema mismatch"):
        pt.insert(bad)
    nulls = spark.createDataFrame([(9, None, 1.0)],
                                  "id long, grp string, amt double")
    with pytest.raises(DatabaseException, match="NULL partition"):
        pt.insert(nulls)


def test_metadata_count_answers_without_scanning(pt, spark):
    """COUNT(*) from manifest + footer stats: exact across create /
    append / hard delete, exact under soft deletes via the recorded
    per-directory tombstone cardinalities (Delta DV-cardinality
    analog), and fail-closed (None) for legacy tombstones of unknown
    cardinality."""
    import json
    import os

    assert pt.metadata_count() == 5
    pt.insert(spark.createDataFrame([(6, "A", 60.0), (7, "D", 70.0)],
                                    "id long, grp string, amt double"))
    assert pt.metadata_count() == 7
    pt.delete(F.col("grp") == "B")          # hard delete: still exact
    assert pt.metadata_count() == 5
    assert pt.metadata_count(version=0) == 5   # per-version
    assert pt.metadata_count(version=1) == 7
    # soft delete: the recorded cardinality subtracts exactly
    pt.delete_soft("amt >= 60.0")
    assert pt.metadata_count() == 3 == pt.read().count()
    # stacked soft deletes stay exact (second counts only still-visible
    # matches, so nothing double-subtracts)
    pt.delete_soft("amt >= 50.0")
    assert pt.metadata_count() == 2 == pt.read().count()
    # a rewrite materializes the tombstones; metadata stays exact
    pt.optimize()
    assert pt.metadata_count() == 2
    # LEGACY tombstone (no recorded cardinality) -> fail closed
    pt.delete_soft("id = 1")
    v = pt._manifest()["version"]
    path = pt._manifest_path(v)
    # simulate a legacy manifest THROUGH the seam (a raw open() here
    # would leave a stale checksum sidecar under the Hadoop backend)
    from cs186_query_optimization_project_spark import metaio
    man = json.loads(metaio.IO.read_text(path))
    man.pop("tomb_counts", None)
    metaio.IO.remove(path)
    metaio.IO.write_new(path, json.dumps(man))
    assert pt.metadata_count() is None
    assert pt.metadata_group_counts() is None
    assert pt.read().count() == 1           # the fallback path


def test_soft_delete_unmappable_file_poisons_only_its_partition(
        pt, spark, monkeypatch):
    """An ``input_file_name()`` that maps back to no manifest directory
    (relative table root, exotic URI encoding) must fail closed for
    ONLY that file's partition: its directories lose their tombstone
    cardinality (per-partition metadata COUNT declines there), while
    every other directory keeps exact counts.  The old behavior wiped
    the whole tomb_counts map — irreversibly losing metadata-only
    COUNT for the entire table on one bad path."""
    real = PartitionedTable._file_dir
    a_dir, = _dirs(pt)["A"]
    b_dir, = _dirs(pt)["B"]
    c_dir, = _dirs(pt)["C"]

    def flaky(fname, known):
        d = real(fname, known)
        return None if d == a_dir else d

    monkeypatch.setattr(PartitionedTable, "_file_dir",
                        staticmethod(flaky))
    # matches rows in A (unmappable) and B (mappable)
    pt.delete_soft("id IN (1, 3)")
    counts = pt._manifest()["tomb_counts"]
    assert a_dir not in counts            # poisoned: fail closed
    assert counts[b_dir] == 1             # exact, kept
    assert counts[c_dir] == 0             # untouched, kept
    assert pt.metadata_count() is None    # table total: A unknown
    assert pt.read().count() == 3         # data path still exact
    # a later mappable soft delete builds on the surviving counts
    monkeypatch.setattr(PartitionedTable, "_file_dir",
                        staticmethod(real))
    pt.delete_soft("id = 4")
    counts = pt._manifest()["tomb_counts"]
    assert counts[b_dir] == 2 and a_dir not in counts


def test_metadata_min_max(pt, spark):
    """Global MIN/MAX of an int column from the skipping stats; floats
    never record bounds (NaN ordering), so they answer None."""
    assert pt.metadata_min_max("id") == (1, 5)
    pt.insert(spark.createDataFrame([(99, "D", 1.0)],
                                    "id long, grp string, amt double"))
    assert pt.metadata_min_max("id") == (1, 99)
    assert pt.metadata_min_max("amt") is None        # float: no bounds
    pt.delete_soft("id = 99")
    assert pt.metadata_min_max("id") is None         # tombstone masks


def test_metadata_group_min_max(pt, spark):
    """Per-partition-key MIN/MAX from the skipping stats: exact across
    create/insert, fail-closed under live tombstones and for columns
    without bounds (floats), answerable again after OPTIMIZE
    materializes the tombstones."""
    assert pt.metadata_group_min_max("id") == {
        "A": (1, 2), "B": (3, 4), "C": (5, 5)}
    pt.insert(spark.createDataFrame([(6, "A", 60.0)],
                                    "id long, grp string, amt double"))
    assert pt.metadata_group_min_max("id")["A"] == (1, 6)
    assert pt.metadata_group_min_max("amt") is None   # float: no bounds
    pt.delete_soft("id = 3")
    assert pt.metadata_group_min_max("id") is None    # tombstone masks
    pt.optimize()                                     # materializes it
    got = pt.metadata_group_min_max("id")
    assert got["B"] == (4, 4) and got["A"] == (1, 6)


def test_restore_rolls_forward_metadata_only(pt, spark):
    """RESTORE publishes a new version equal to the target's content
    with zero data movement: the dir set on disk is unchanged, bad
    versions stay readable, and CDF across the restore reports the
    rows that came back."""
    import os
    v0_rows = rows_sorted(pt.read())
    pt.delete(F.col("grp") == "B")                      # v1 (bad)
    pt.insert(spark.createDataFrame([(9, "D", 90.0)],
                                    "id long, grp string, amt double"))
    before_dirs = set(os.listdir(os.path.join(pt.root, "parts")))
    pt.restore(0)                                        # v3 == v0
    assert set(os.listdir(os.path.join(pt.root, "parts"))) \
        == before_dirs                                   # no new data
    assert pt.versions() == [0, 1, 2, 3]
    assert rows_sorted(pt.read()) == v0_rows
    assert rows_sorted(pt.read(version=2)) != v0_rows           # audit intact
    feed = pt.changes(2, 3).select("_change_type", "id").collect()
    changed = {(r["_change_type"], r["id"]) for r in feed}
    assert ("insert", 3) in changed and ("insert", 4) in changed
    assert ("delete", 9) in changed


def test_restore_preserves_txn_watermarks(pt, spark):
    """Replay protection must survive a rollback: the restored commit
    carries the CURRENT txns map, so a re-delivered batch id is still
    rejected after restore."""
    batch = spark.createDataFrame([(7, "A", 70.0)],
                                  "id long, grp string, amt double")
    assert pt.idempotent_append(batch, "sink1", 5)       # v1
    pt.restore(0)                                        # v2 == v0
    assert not pt.idempotent_append(batch, "sink1", 5)   # replay: no-op
    assert pt.idempotent_append(batch, "sink1", 6)       # next batch ok


def test_shallow_clone_shares_data_then_diverges(pt, spark, tmp_path):
    import os
    clone = pt.clone(str(tmp_path / "c"))
    # zero data copied: the clone's parts dir is empty
    assert os.listdir(os.path.join(clone.root, "parts")) == []
    assert rows_sorted(clone.read()) == rows_sorted(pt.read())
    # clone DML copy-on-writes under the CLONE root only
    src_dirs = set(os.listdir(os.path.join(pt.root, "parts")))
    clone.delete(F.col("grp") == "A")
    assert set(os.listdir(os.path.join(pt.root, "parts"))) == src_dirs
    assert rows_sorted(pt.read()) != rows_sorted(clone.read())
    assert len(rows_sorted(pt.read())) == 5 and len(rows_sorted(clone.read())) == 3
    # the clone's vacuum never deletes source data
    removed = clone.vacuum(keep_last=1)
    assert all(r.startswith(clone.root) for r in removed)
    assert rows_sorted(pt.read(version=0)) and len(rows_sorted(pt.read())) == 5


def test_check_constraints_enforced_on_dml(pt, spark):
    """Delta CHECK parity: add validates existing rows first; every
    row-producing commit (insert/update/merge/append) rejects a
    violating batch BEFORE publishing; NULL evaluations pass (SQL
    CHECK); drop lifts enforcement; the set carries across unrelated
    commits and into clones."""
    with pytest.raises(DatabaseException, match="existing rows"):
        pt.add_constraint("amt_big", "amt > 15.0")   # row (1,A,10) fails
    pt.add_constraint("amt_pos", "amt > 0.0")
    assert pt.constraints() == {"amt_pos": "amt > 0.0"}
    v_before = pt.versions()[-1]
    bad = spark.createDataFrame([(8, "A", -1.0)],
                                "id long, grp string, amt double")
    with pytest.raises(DatabaseException, match="amt_pos"):
        pt.insert(bad)
    assert pt.versions()[-1] == v_before            # nothing published
    with pytest.raises(DatabaseException, match="amt_pos"):
        pt.update(F.col("grp") == "A", {"amt": F.lit(-5.0)})
    with pytest.raises(DatabaseException, match="amt_pos"):
        pt.merge(bad, "id")
    with pytest.raises(DatabaseException, match="amt_pos"):
        pt.idempotent_append(bad, "s1", 1)
    # NULL passes (SQL CHECK three-valued logic)
    nulls = spark.createDataFrame([(8, "A", None)],
                                  "id long, grp string, amt double")
    pt.insert(nulls)
    # constraint survives unrelated commits and clones
    assert pt.constraints() == {"amt_pos": "amt > 0.0"}
    clone = pt.clone(pt.root + "_ccl")
    with pytest.raises(DatabaseException, match="amt_pos"):
        clone.insert(bad)
    pt.drop_constraint("amt_pos")
    pt.insert(bad)                                   # enforcement lifted
    assert pt.read().filter("amt < 0").count() == 1


def test_history_describes_each_commit(pt, spark):
    """DESCRIBE HISTORY parity: one row per retained version with the
    committing operation, a timestamp, and manifest-level sizes — all
    from manifests alone (no data directory opened)."""
    pt.insert(spark.createDataFrame([(6, "D", 60.0)],
                                    "id long, grp string, amt double"))
    pt.delete(F.col("grp") == "B")
    pt.restore(0)
    h = {r["version"]: r for r in pt.history().collect()}
    assert [h[v]["op"] for v in sorted(h)] == \
        ["CREATE", "INSERT", "DELETE", "RESTORE (to v0)"]
    assert all(h[v]["ts"] is not None for v in h)
    assert h[0]["n_partitions"] == 3          # A B C
    assert h[1]["n_partitions"] == 4          # + D
    assert h[2]["n_partitions"] == 3          # B deleted (empty list)
    assert h[1]["n_dirs"] == 4                # append added one dir


def test_overwrite_partitions_single_commit_replace(pt, spark):
    """Delta replaceWhere parity: one commit swaps the named
    partitions' content; untouched partitions re-link the SAME
    directories; a named partition given no rows is removed; stray
    rows outside the named partitions are refused."""
    before = _dirs(pt)
    rows = spark.createDataFrame(
        [(10, "A", 1.0), (11, "A", 2.0)],      # B overwritten to empty
        "id long, grp string, amt double")
    pt.overwrite_partitions(rows, ["A", "B"])
    assert pt.versions() == [0, 1]
    after = _dirs(pt)
    assert after["C"] == before["C"]           # shared, not rewritten
    assert after["A"] != before["A"]
    assert "B" not in after                    # emptied -> removed
    got = sorted((r["id"], r["grp"]) for r in pt.read().collect())
    assert got == [(5, "C"), (10, "A"), (11, "A")]
    # CDF across the overwrite: B's old rows are deletes
    ch = pt.changes(0, 1)
    dels = {r["id"] for r in
            ch.filter("_change_type = 'delete'").collect()}
    assert {3, 4} <= dels                      # B's rows went away
    with pytest.raises(DatabaseException, match="outside the named"):
        pt.overwrite_partitions(rows, ["C"])   # A-rows stray from C
    with pytest.raises(DatabaseException, match="schema mismatch"):
        pt.overwrite_partitions(
            spark.createDataFrame([(1, "A")], "id long, grp string"),
            ["A"])


def test_overwrite_partitions_coerces_mistyped_values(spark, tmp_path):
    """A mistyped partition scalar (5.0 naming a long partition)
    coerces via the JVM's own cast — the same rule read_point applies
    — instead of building an unmatchable key that misreports healthy
    rows as strays; an uncastable value raises a mistype error, not
    the stray-rows message."""
    df = spark.createDataFrame(
        [(1, 5, 10.0), (2, 5, 20.0), (3, 7, 30.0)],
        "id long, bucket int, amt double")
    pt = PartitionedTable.create(spark, df, str(tmp_path / "ti"),
                                 "bucket")
    rows = spark.createDataFrame([(9, 5, 1.5)],
                                 "id long, bucket int, amt double")
    pt.overwrite_partitions(rows, [5.0])       # float names int part
    got = sorted((r["id"], r["bucket"]) for r in pt.read().collect())
    assert got == [(3, 7), (9, 5)]
    with pytest.raises(DatabaseException, match="mistyped"):
        pt.overwrite_partitions(rows, ["not-a-number"])


def test_vacuum_protects_registered_clone_dirs(pt, spark, tmp_path):
    """The Delta vacuum-after-shallow-clone data-loss hazard is
    closed: the source's vacuum treats directories a registered clone
    still references as reachable; detach_clone (after a deep copy)
    lifts the protection; a clone deleted from disk is pruned."""
    import shutil

    clone = pt.clone(str(tmp_path / "cl"))
    assert clone.root in [os.path.normpath(c)
                          for c in pt.registered_clones()]
    # source churns every partition, then vacuums to the newest only
    pt.delete(F.col("amt") >= 0)               # rewrites A B C empty
    removed = pt.vacuum(keep_last=1)
    # clone still reads all 5 original rows — its dirs survived
    assert clone.read().count() == 5
    assert pt.read().count() == 0
    # detach (simulating a deep copy elsewhere) and vacuum again:
    # now the old directories actually go away
    pt.detach_clone(clone.root)
    removed2 = pt.vacuum(keep_last=1)
    assert removed2                            # reclaimed this time
    assert pt.registered_clones() == []
    # a clone deleted from disk is pruned from the registry
    clone2 = pt.clone(str(tmp_path / "cl2"))
    shutil.rmtree(clone2.root)
    pt.vacuum(keep_last=1)
    assert pt.registered_clones() == []


def test_vacuum_protects_transitive_clone_of_clone(pt, spark, tmp_path):
    """A clone OF a clone still points at the ORIGINAL table's data
    directories; the original's vacuum must walk the registry
    transitively to see it."""
    import shutil

    mid = pt.clone(str(tmp_path / "mid"))
    leaf = mid.clone(str(tmp_path / "leaf"))
    # the middle clone drops its own reference to the original dirs
    # (delete everything + vacuum), so ONLY the leaf still needs them
    mid.delete(F.col("amt") >= 0)
    mid.vacuum(keep_last=1)
    pt.delete(F.col("amt") >= 0)
    pt.vacuum(keep_last=1)
    assert leaf.read().count() == 5            # transitively protected
    # removing the leaf (and pruning) releases the directories
    shutil.rmtree(leaf.root)
    removed = pt.vacuum(keep_last=1)
    assert removed


def test_concurrent_clones_stay_registered_through_vacuum(
        pt, spark, tmp_path, monkeypatch):
    """Two clones of one source taken at once, at versions 0 and 1,
    with any registry read forced to overlap: both registrations
    survive, so after the source rewrites every partition and vacuums
    to its newest version both clones still read all their rows."""
    import contextlib
    import threading

    pt.insert(spark.createDataFrame([(6, "A", 60.0)],
                                    "id long, grp string, amt double"))
    overlap = threading.Barrier(2, timeout=10)
    real = PartitionedTable.registered_clones

    def overlapping(self):              # both reads finish first
        clones = real(self)
        with contextlib.suppress(threading.BrokenBarrierError):
            overlap.wait()
        return clones

    monkeypatch.setattr(PartitionedTable, "registered_clones",
                        overlapping)
    dests = [str(tmp_path / f"c{v}") for v in (0, 1)]
    errors = []

    def clone(v):
        try:
            PartitionedTable(spark, pt.root).clone(dests[v], version=v)
        except Exception as exc:        # surfaced by the assert below
            errors.append(exc)

    threads = [threading.Thread(target=clone, args=(v,)) for v in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    monkeypatch.setattr(PartitionedTable, "registered_clones", real)
    assert not errors, errors
    assert pt.registered_clones() == sorted(dests)
    pt.update(F.lit(True), {"amt": F.col("amt") + 1.0})  # every partition
    pt.vacuum(keep_last=1)
    assert [PartitionedTable(spark, d).read().count() for d in dests] \
        == [5, 6]


def test_vacuum_refuses_older_clone_registry(pt, spark):
    """A single-file ``_clones.json`` registry from an older build is
    invisible to the per-clone registry, so vacuum fails closed on it
    instead of deleting directories its clones may still read."""
    from cs186_query_optimization_project_spark import metaio

    metaio.IO.write_new(os.path.join(pt.root, "_clones.json"), "[]")
    with pytest.raises(DatabaseException, match="older build"):
        pt.vacuum(keep_last=1)


def test_bloom_point_lookup_skips_and_matches(spark, tmp_path):
    """Per-directory Bloom index: a point lookup scans only admitted
    directories, equals the plain filter exactly, fails open for
    un-indexed columns, and excludes everything for an all-NULL
    directory's probe."""
    df = spark.createDataFrame(
        [(i, "A" if i < 50 else "B", f"u{i}") for i in range(100)],
        "id long, grp string, url string")
    pt = PartitionedTable.create(spark, df, str(tmp_path / "b"), "grp",
                                 bloom_cols=["id", "url"])
    # appends create extra directories with disjoint id ranges
    pt.insert(spark.createDataFrame(
        [(1000 + i, "A", f"u{1000 + i}") for i in range(10)],
        "id long, grp string, url string"))
    man = pt._manifest()
    total = sum(len(ds) for ds in man["parts"].values())
    assert total == 3                       # A, B, A-append
    # a native-typed probe plans with ZERO Spark jobs (driver-side
    # xxh64 replay) before the pruned scan
    from __spark_entry__ import _job_counter
    jobs_before = _job_counter(spark)
    kept = pt._point_dirs("id", 1005)
    probe_df = pt.read_point("id", 1005)
    assert _job_counter(spark) == jobs_before
    assert len(kept) == 1                   # only the append dir
    got = [(r["id"], r["url"]) for r in probe_df.collect()]
    assert got == [(1005, "u1005")]
    # a mismatched probe type falls back to the JVM cast + hash and
    # still matches the filter semantics
    assert pt.read_point("id", 1005.0).count() == 1
    # string column works through the same path
    assert len(pt._point_dirs("url", "u60")) == 1
    assert pt.read_point("url", "u60").count() == 1
    # absent value -> zero directories scanned, empty result
    assert pt._point_dirs("id", 999999) == []
    assert pt.read_point("id", 999999).count() == 0
    # the partition column prunes via the manifest (exact, no bloom)
    assert set(pt._point_dirs("grp", "A")) == \
        {d for d in pt._manifest()["parts"]["A"]}
    assert pt.read_point("grp", "B").count() == 50
    with pytest.raises(DatabaseException, match="NULL probe"):
        pt.read_point("id", None)
    # DML rewrite refreshes the rewritten directory's filter
    pt.delete(F.col("id") == 1005)
    assert pt._point_dirs("id", 1005) == [] or \
        pt.read_point("id", 1005).count() == 0
    assert pt.read_point("id", 1006).count() == 1


def test_metadata_group_counts_zero_jobs(pt, spark):
    """GROUP BY partition_col from metadata alone: equals the scan
    answer, schedules zero Spark jobs, fails closed under live
    tombstones, omits emptied partitions."""
    pt.insert(spark.createDataFrame([(9, "A", 9.0)],
                                    "id long, grp string, amt double"))
    from __spark_entry__ import _job_counter
    jobs_before = _job_counter(spark)
    got = pt.metadata_group_counts()
    jobs_after = _job_counter(spark)
    assert jobs_after == jobs_before
    want = {r["grp"]: r["count"] for r in
            pt.read().groupBy("grp").count().collect()}
    assert got == want
    pt.delete(F.col("grp") == "C")
    assert "C" not in pt.metadata_group_counts()   # no empty groups
    # soft delete: recorded cardinality subtracts exactly, still with
    # zero Spark jobs at query time
    pt.delete_soft("id = 1")
    jobs_before = _job_counter(spark)
    got = pt.metadata_group_counts()
    assert _job_counter(spark) == jobs_before
    want = {r["grp"]: r["count"] for r in
            pt.read().groupBy("grp").count().collect()}
    assert got == want
    # a group emptied by its tombstone is omitted like SQL GROUP BY
    pt.delete_soft("grp = 'B'")
    assert "B" not in pt.metadata_group_counts()


def test_read_pruned_by_dim_keys(pt, spark):
    """DPP analog: the fact scan lists only partitions matching the
    dim side's distinct keys; NULL dim keys are dropped."""
    dim = spark.createDataFrame([("A", 1), ("C", 2), (None, 3)],
                                "grp string, x int")
    out = pt.read_pruned_by(dim, "grp")
    assert {r["grp"] for r in out.collect()} == {"A", "C"}
    dirs = {os.path.basename(os.path.dirname(f.removeprefix("file:")))
            for f in out.inputFiles()}
    want = {os.path.basename(d) for k in ("A", "C")
            for d in pt._manifest()["parts"][k]}
    assert dirs == want


def test_read_pruned_by_caps_driver_key_pull(pt, spark):
    """A high-cardinality 'dim' must NOT pull its key set onto the
    driver: past max_keys the prune declines and the read degrades to
    the plain full scan — same rows for the caller's join, bounded
    driver heap.  The collect itself is LIMIT-capped (max_keys + 1),
    so even a billion-key dim ships at most that many rows."""
    big = spark.range(5000).selectExpr("CAST(id AS STRING) AS grp")
    out = pt.read_pruned_by(big, "grp", max_keys=100)
    # fallback = the unpruned read: every partition's files scanned
    assert sorted(out.inputFiles()) == sorted(pt.read().inputFiles())
    # at/under the cap the prune still happens
    dim = spark.createDataFrame([("A",)], "grp string")
    pruned = pt.read_pruned_by(dim, "grp", max_keys=100)
    assert {r["grp"] for r in pruned.collect()} == {"A"}
    assert len(pruned.inputFiles()) < len(out.inputFiles())


def test_version_at_timestamp_travel(pt, spark):
    """TIMESTAMP AS OF: version_at resolves the newest commit at or
    before the asked time; pre-table times raise; version numbers
    feed read(version=...)."""
    import time as _t

    t0 = pt._manifest(0)["ts"]
    _t.sleep(0.05)
    pt.insert(spark.createDataFrame([(6, "D", 60.0)],
                                    "id long, grp string, amt double"))
    t1 = pt._manifest(1)["ts"]
    assert pt.version_at(t0) == 0
    assert pt.version_at((t0 + t1) / 2) == 0
    assert pt.version_at(t1) == 1
    assert pt.version_at(t1 + 100) == 1
    assert pt.read(version=pt.version_at(t0)).count() == 5
    with pytest.raises(DatabaseException, match="no retained version"):
        pt.version_at(t0 - 100)


def test_bloom_built_from_staged_bytes_not_replan(spark, tmp_path):
    """Regression: blooms must hash the bytes actually WRITTEN, not a
    re-execution of the input plan — a non-deterministic upstream
    (UDFs, samples, timestamps) would otherwise produce filters that
    wrongly skip every stored value."""
    import uuid as _uuid
    from pyspark.sql.functions import udf

    mint = udf(lambda: _uuid.uuid4().hex, "string").asNondeterministic()
    df = (spark.range(50)
          .select(F.col("id"), F.lit("A").alias("grp"),
                  mint().alias("tok")))
    pt = PartitionedTable.create(spark, df, str(tmp_path / "nd"),
                                 "grp", bloom_cols=["tok"])
    stored = [r["tok"] for r in pt.read().limit(10).collect()]
    for v in stored:
        assert pt.read_point("tok", v).count() == 1, v


def test_bloom_numeric_looking_string_partitions(spark, tmp_path):
    """Regression: hive partition-type inference must not canonicalize
    numeric-looking STRING partition values ('007' -> 7 -> '7') during
    the staged bloom build — the stats key must equal the directory
    name, or every insert/delete on a bloom-indexed table KeyErrors."""
    df = spark.createDataFrame(
        [(1, "007", "a"), (2, "007", "b"), (3, "1e3", "c"),
         (4, "00", "d")],
        "id long, code string, tok string")
    pt = PartitionedTable.create(spark, df, str(tmp_path / "nums"),
                                 "code", bloom_cols=["tok"])
    assert set(pt._manifest()["parts"]) == {"007", "1e3", "00"}
    # insert into an existing canonicalization-prone partition — the
    # pre-fix KeyError fired here
    pt.insert(spark.createDataFrame([(5, "007", "e")],
                                    "id long, code string, tok string"))
    assert pt.read_point("tok", "e").count() == 1
    assert len(pt._point_dirs("tok", "e")) == 1
    assert pt.read().count() == 5
    pt.delete(F.col("id") == 3)
    assert pt.read().count() == 4


def test_manifest_stream_partition_drop_and_full_delete(spark, tmp_path):
    """Partition-boundary deletes in the stream source: a dir-list
    collapsed to empty (DELETE of every row) and a key dropped from
    the manifest (overwrite_partitions removing an emptied partition)
    both pass under ignoreDeletes and fail loudly without it."""
    from cs186_query_optimization_project_spark.sources.manifest_stream \
        import ManifestStreamDataSource

    spark.dataSource.register(ManifestStreamDataSource)
    df = spark.createDataFrame(
        [(1, "A", 10.0), (2, "B", 20.0), (3, "C", 30.0)],
        "id long, grp string, amt double")
    pt = PartitionedTable.create(spark, df, str(tmp_path / "msd"),
                                 "grp")
    pt.delete(F.col("grp") == "B")               # empty dir-list
    pt.overwrite_partitions(
        spark.createDataFrame([], "id long, grp string, amt double"),
        ["C"])                                   # key dropped

    def drain(ckpt, **opts):
        got = set()
        reader = (spark.readStream.format("manifest_stream")
                  .option("root", pt.root)
                  .option("startingVersion", "earliest"))
        for k, v in opts.items():
            reader = reader.option(k, v)
        q = (reader.load()
             .writeStream.option("checkpointLocation",
                                 str(tmp_path / ckpt))
             .foreachBatch(lambda bdf, _b, got=got:
                           got.update(r["id"] for r in bdf.collect()))
             .trigger(availableNow=True).start())
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
        return got

    with pytest.raises(Exception, match="ignoreDeletes"):
        drain("c1")
    assert drain("c2", ignoreDeletes="true") == {1, 2, 3}


def test_overwrite_keeps_tombstones_on_untouched_partitions(pt, spark):
    """Soft deletes on a partition the overwrite does NOT touch stay
    masked afterwards (tombstones carry forward, pruned only to
    dropped dirs)."""
    pt.delete_soft("id = 5")                     # C's row masked
    assert pt.read().filter("id = 5").count() == 0
    pt.overwrite_partitions(
        spark.createDataFrame([(10, "A", 1.0)],
                              "id long, grp string, amt double"),
        ["A"])
    assert pt.read().filter("id = 5").count() == 0   # still masked
    assert pt.read().filter("grp = 'C'").count() == 0


def test_point_lookup_fail_open_and_coercion(pt, spark):
    """read_point on an un-indexed non-partition column scans EVERY
    directory (fail-open) and still equals the plain filter; a probe
    needing type coercion on the partition column prunes the way the
    equivalent filter matches (long col probed with a float)."""
    total = sum(len(ds) for ds in pt._manifest()["parts"].values())
    # 'id' has no bloom index on the pt fixture and isn't the
    # partition column -> all dirs kept
    assert len(pt._point_dirs("id", 3)) == total
    assert [r["id"] for r in pt.read_point("id", 3).collect()] == [3]
    # partition column probed as an int where values are strings:
    # cast fails -> no partitions, empty result (filter also empty)
    assert pt._point_dirs("grp", 123) == []
    assert pt.read_point("grp", 123).count() == 0


def test_point_lookup_partition_col_type_coercion(spark, tmp_path):
    """Regression: a long partition column probed with 5.0 must prune
    to partition 5 exactly as read().filter(col == 5.0) matches it —
    the manifest key lookup coerces the probe to the column type."""
    df = spark.createDataFrame([(1, 5, 1.0), (2, 7, 2.0)],
                               "id long, k long, amt double")
    pt2 = PartitionedTable.create(spark, df, str(tmp_path / "co"), "k")
    got = [r["id"] for r in pt2.read_point("k", 5.0).collect()]
    want = [r["id"] for r in
            pt2.read().filter(F.col("k") == 5.0).collect()]
    assert got == want == [1]
    # lossy coercion keeps result equality (extra scan at most)
    assert pt2.read_point("k", 5.7).count() == \
        pt2.read().filter(F.col("k") == F.lit(5.7)).count() == 0


def test_read_skipping_conjunctive_multi_column(spark, tmp_path):
    """Conjunctive data skipping: partition equality, Bloom
    membership, bounds containment, and range intersection prune
    TOGETHER; the result always equals the plain filtered read, and
    the multi-predicate scan lists no more directories than the most
    selective single predicate."""
    df = spark.createDataFrame(
        [(i, "A" if i < 50 else "B", f"u{i}", float(i)) for i in
         range(100)],
        "id long, grp string, url string, amt double")
    pt = PartitionedTable.create(spark, df, str(tmp_path / "ms"),
                                 "grp", bloom_cols=["url"])
    # disjoint id ranges per append -> bounds prune; fresh urls ->
    # bloom prunes
    pt.insert(spark.createDataFrame(
        [(1000 + i, "A", f"v{i}", 0.5) for i in range(10)],
        "id long, grp string, url string, amt double"))
    total = sum(len(ds) for ds in pt._manifest()["parts"].values())
    assert total == 3
    out = pt.read_skipping(eq={"grp": "A", "url": "v3"},
                           ranges={"id": (1000, None)})
    dirs = {os.path.dirname(f.removeprefix("file:"))
            for f in out.inputFiles()}
    assert len(dirs) == 1                   # only the append dir
    want = (pt.read().filter((F.col("grp") == "A")
                             & (F.col("url") == "v3")
                             & (F.col("id") >= 1000)))
    assert sorted(map(tuple, out.collect())) == \
        sorted(map(tuple, want.collect()))
    # bounds disprove an equality probe even without a bloom index
    out2 = pt.read_skipping(eq={"id": 5})
    dirs2 = {os.path.dirname(f.removeprefix("file:"))
             for f in out2.inputFiles()}
    assert len(dirs2) == 1                  # id=5 only in A's base dir
    assert out2.count() == 1
    # absent everywhere -> zero directories, empty result, still sound
    assert pt.read_skipping(eq={"url": "nope", "grp": "A"}).count() == 0
    # no predicates = plain read
    assert pt.read_skipping().count() == pt.read().count()
    import pytest as _pytest
    from cs186_query_optimization_project_spark.errors import (
        DatabaseException,
    )
    with _pytest.raises(DatabaseException, match="NULL probe"):
        pt.read_skipping(eq={"url": None})
    with _pytest.raises(DatabaseException, match="no column"):
        pt.read_skipping(eq={"missing": 1})


def test_read_skipping_in_list(spark, tmp_path):
    """IN-list skipping: a directory survives when ANY listed value
    admits it (union of per-value Bloom + bounds probes; partition
    columns take the union of exact component matches), conjuncts
    still intersect across columns, and the result always equals the
    plain ``isin`` filter."""
    df = spark.createDataFrame(
        [(i, "A" if i < 50 else "B", f"u{i}", float(i))
         for i in range(100)],
        "id long, grp string, url string, amt double")
    pt = PartitionedTable.create(spark, df, str(tmp_path / "il"),
                                 "grp", bloom_cols=["url"])
    pt.insert(spark.createDataFrame(
        [(1000 + i, "A", f"v{i}", 0.5) for i in range(10)],
        "id long, grp string, url string, amt double"))
    total = sum(len(ds) for ds in pt._manifest()["parts"].values())
    assert total == 3
    # bloom IN: both values live in the append dir only
    out = pt.read_skipping(isin={"url": ["v3", "v7"]})
    dirs = {os.path.dirname(f.removeprefix("file:"))
            for f in out.inputFiles()}
    assert len(dirs) == 1
    assert sorted(r["id"] for r in out.collect()) == [1003, 1007]
    # values straddling dirs: union admits both, result exact
    out = pt.read_skipping(isin={"url": ["u7", "v3"]})
    dirs = {os.path.dirname(f.removeprefix("file:"))
            for f in out.inputFiles()}
    assert len(dirs) == 2
    assert sorted(r["id"] for r in out.collect()) == [7, 1003]
    # bounds-only IN (no bloom on id): disjoint ranges prune
    out = pt.read_skipping(isin={"id": [1001, 1005]})
    dirs = {os.path.dirname(f.removeprefix("file:"))
            for f in out.inputFiles()}
    assert len(dirs) == 1 and out.count() == 2
    # partition-column IN: manifest-exact union
    out = pt.read_skipping(isin={"grp": ["B"]})
    assert out.count() == 50
    # IN composes conjunctively with eq/ranges
    out = pt.read_skipping(isin={"url": ["v3", "u7"]},
                           eq={"grp": "A"}, ranges={"id": (1000, None)})
    assert [r["id"] for r in out.collect()] == [1003]
    # absent everywhere -> zero dirs, sound empty result
    assert pt.read_skipping(isin={"url": ["nope1", "nope2"]}) \
        .count() == 0
    import pytest as _pytest
    from cs186_query_optimization_project_spark.errors import (
        DatabaseException,
    )
    with _pytest.raises(DatabaseException, match="non-empty"):
        pt.read_skipping(isin={"url": []})
    with _pytest.raises(DatabaseException, match="NULL-free"):
        pt.read_skipping(isin={"url": ["a", None]})
    # type-mismatched IN values fail open to the exact filter
    assert pt.read_skipping(isin={"id": ["5", "7"]}).count() == 2


def test_read_skipping_in_list_multi_partition(spark, tmp_path):
    """IN on a HIERARCHICAL table's components: each partition-column
    IN conjunct prunes to the union of its exact component matches,
    and two components' INs intersect."""
    df = spark.createDataFrame(
        [(i, f"d{i % 3}", f"s{i % 2}", float(i)) for i in range(60)],
        "id long, d string, src string, amt double")
    pt = PartitionedTable.create(spark, df, str(tmp_path / "ilm"),
                                 ["d", "src"])
    out = pt.read_skipping(isin={"d": ["d0", "d2"], "src": ["s1"]})
    dirs = {os.path.dirname(f.removeprefix("file:"))
            for f in out.inputFiles()}
    man = pt._manifest()
    want = {d for k, ds in man["parts"].items()
            if k.split("/")[0] in ("d0", "d2")
            and k.split("/")[1] == "s1" for d in ds}
    assert {os.path.normpath(d) for d in dirs} == \
        {os.path.normpath(d) for d in want}
    assert out.count() == df.filter(
        F.col("d").isin(["d0", "d2"]) & (F.col("src") == "s1")).count()


def test_read_skipping_any_disjunctive(spark, tmp_path):
    """OR-of-conjunctions skipping: the scan reads the UNION of the
    branches' admitted directories (a dir is skipped only when every
    branch disproves it), the result equals the plain OR filter, and
    per-branch pruning composes manifest equality with bounds."""
    df = spark.createDataFrame(
        [(i, "A" if i < 50 else "B", f"u{i}", float(i))
         for i in range(100)],
        "id long, grp string, url string, amt double")
    pt = PartitionedTable.create(spark, df, str(tmp_path / "dj"),
                                 "grp", bloom_cols=["url"])
    pt.insert(spark.createDataFrame(
        [(1000 + i, "A", f"v{i}", 0.5) for i in range(10)],
        "id long, grp string, url string, amt double"))
    total = sum(len(ds) for ds in pt._manifest()["parts"].values())
    assert total == 3
    # branch 1 admits only the append dir (bloom), branch 2 only B's
    out = pt.read_skipping_any([
        {"isin": {"url": ["v3", "v7"]}},
        {"eq": {"grp": "B"}, "ranges": {"id": (98, None)}},
    ])
    dirs = {os.path.dirname(f.removeprefix("file:"))
            for f in out.inputFiles()}
    assert len(dirs) == 2                     # union, base-A skipped
    got = sorted(r["id"] for r in out.collect())
    assert got == [98, 99, 1003, 1007]
    plain = (pt.read().filter(
        F.col("url").isin(["v3", "v7"])
        | ((F.col("grp") == "B") & (F.col("id") >= 98))))
    assert got == sorted(r["id"] for r in plain.collect())
    # a dir admitted by ANY branch is read; disproved-by-all skipped
    out2 = pt.read_skipping_any([
        {"eq": {"url": "nope"}},
        {"ranges": {"id": (2000, None)}},
    ])
    assert out2.count() == 0
    # validation: empty branch / unknown keys / no branches
    import pytest as _pytest
    from cs186_query_optimization_project_spark.errors import (
        DatabaseException,
    )
    with _pytest.raises(DatabaseException, match="empty branch"):
        pt.read_skipping_any([{}])
    with _pytest.raises(DatabaseException, match="unknown branch"):
        pt.read_skipping_any([{"equals": {"grp": "A"}}])
    with _pytest.raises(DatabaseException, match="no branches"):
        pt.read_skipping_any([])


def test_read_skipping_any_hierarchical(spark, tmp_path):
    """The multi-tenant backfill shape on a hierarchical table:
    (d=d0 AND src=s1) OR (d=d2 AND src=s0) — each branch prunes to
    its exact leaf, the union lists exactly two leaves."""
    df = spark.createDataFrame(
        [(i, f"d{i % 3}", f"s{i % 2}", float(i)) for i in range(60)],
        "id long, d string, src string, amt double")
    pt = PartitionedTable.create(spark, df, str(tmp_path / "djm"),
                                 ["d", "src"])
    out = pt.read_skipping_any([
        {"eq": {"d": "d0", "src": "s1"}},
        {"eq": {"d": "d2", "src": "s0"}},
    ])
    man = pt._manifest()
    want = {os.path.normpath(d) for k in ("d0/s1", "d2/s0")
            for d in man["parts"][k]}
    dirs = {os.path.normpath(os.path.dirname(f.removeprefix("file:")))
            for f in out.inputFiles()}
    assert dirs == want
    assert out.count() == df.filter(
        ((F.col("d") == "d0") & (F.col("src") == "s1"))
        | ((F.col("d") == "d2") & (F.col("src") == "s0"))).count()


def test_read_skipping_type_mismatch_fails_open(spark, tmp_path):
    """A probe whose Python type mismatches the stats' (e.g. a string
    against int bounds) must fail OPEN on the skipping side and let
    the exact filter decide — never a TypeError, never a wrong skip."""
    df = spark.createDataFrame([(1, "A", 1.0), (2, "B", 2.0)],
                               "id long, grp string, amt double")
    pt = PartitionedTable.create(spark, df, str(tmp_path / "tm"), "grp")
    assert pt.read_skipping(eq={"id": "1"}).count() == 1
    assert pt.read_skipping(ranges={"id": ("0", None)}).count() == 2


def test_soft_delete_inlist_tombstones_coalesce(pt, spark):
    """N sequential same-column IN-list soft deletes must publish ONE
    coalesced predicate per directory (union of values) — not N —
    so the high-churn right-to-be-forgotten shape costs one read-time
    filter and one manifest entry per directory between optimizes.
    The read plan is pinned to carry exactly one IN filter, and the
    result stays exactly the hard-delete answer."""
    pt.delete_soft("id IN (1)")
    pt.delete_soft("id IN (3, 4)")
    pt.delete_soft("id IN (4, 5)")
    man = pt._manifest()
    for ds in man["parts"].values():
        for d in ds:
            assert man["tombstones"][d] == ["id IN (1, 3, 4, 5)"]
    assert sorted(r["id"] for r in pt.read().collect()) == [2]
    # plan pin: ONE residual IN filter per scanned group, never three
    plan = pt.read()._jdf.queryExecution().executedPlan().toString()
    assert plan.count("IN (1,3,4,5)") + plan.count("IN (1, 3, 4, 5)") \
        >= 1
    assert "IN (3,4)" not in plan and "IN (3, 4)" not in plan
    # cardinalities accumulated exactly through the merges
    assert pt.metadata_count() == 1
    # a non-IN predicate does NOT coalesce; an IN on another shape
    # appends separately
    pt.delete_soft("amt > 100.0")
    man = pt._manifest()
    d = next(iter(man["tombstones"]))
    assert man["tombstones"][d] == ["id IN (1, 3, 4, 5)", "amt > 100.0"]
    # re-recording the SAME predicate (crash retry) is byte-stable
    pt.delete_soft("amt > 100.0")
    assert pt._manifest()["tombstones"][d] == \
        ["id IN (1, 3, 4, 5)", "amt > 100.0"]


def test_soft_delete_debt_surfaces_in_reports(pt, spark):
    """Per-directory tombstone debt (count + masked rows + fraction)
    must read out of skipping_report rows and tombstone_debt() with
    zero Spark jobs — the when-to-optimize signal."""
    from __spark_entry__ import _job_counter

    pt.delete_soft("id IN (1, 2)")       # masks both of A's rows
    jobs_before = _job_counter(spark)
    debt = {r["key"]: r for r in pt.tombstone_debt()}
    rep = {r["key"]: r for r in pt.skipping_report(eq={"grp": "A"})}
    assert _job_counter(spark) == jobs_before        # metadata-only
    assert debt["A"]["tombstones"] == 1
    assert debt["A"]["masked_rows"] == 2
    assert debt["A"]["rows_total"] == 2
    assert debt["A"]["masked_fraction"] == 1.0
    assert debt["B"]["masked_rows"] == 0
    assert debt["B"]["masked_fraction"] == 0.0
    assert rep["A"]["tombstones"] == 1
    assert rep["A"]["masked_rows"] == 2
    assert rep["A"]["masked_fraction"] == 1.0
    # unknown cardinality (None-mode) reports None, not a wrong 0
    pt.delete_soft("id IN (3)", masked_counts=None)
    debt = {r["key"]: r for r in pt.tombstone_debt()}
    assert debt["B"]["masked_rows"] is None
    assert debt["B"]["masked_fraction"] is None


def test_soft_delete_caller_counts_zero_jobs(pt, spark):
    """delete_soft(masked_counts={value: n}) must run ZERO Spark jobs
    (the caller already aggregated) while keeping metadata-only COUNT
    exact; masked_counts=None also runs zero jobs and fails closed.
    Claims are validated: negative/non-int counts and unknown
    partition keys raise."""
    from __spark_entry__ import _job_counter

    jobs_before = _job_counter(spark)
    pt.delete_soft("id IN (1, 3)", masked_counts={"A": 1, "B": 1})
    assert _job_counter(spark) == jobs_before    # no counting scan
    assert pt.metadata_count() == 3 == pt.read().count()
    # retry of the SAME batch (pinned-snapshot re-count): the
    # unchanged tombstone list proves the rows were counted once —
    # cardinalities must NOT double-add
    pt.delete_soft("id IN (1, 3)", masked_counts={"A": 1, "B": 1})
    assert pt.metadata_count() == 3 == pt.read().count()
    # None-mode: zero jobs, affected dirs fail closed
    jobs_before = _job_counter(spark)
    pt.delete_soft("id IN (5)", masked_counts=None)
    assert _job_counter(spark) == jobs_before
    assert pt.metadata_count() is None
    assert pt.read().count() == 2
    # validation
    with pytest.raises(DatabaseException, match="non-negative int"):
        pt.delete_soft("id IN (2)", masked_counts={"A": -1})
    with pytest.raises(DatabaseException, match="names no current"):
        pt.delete_soft("id IN (2)", masked_counts={"ZZZ": 1})
    with pytest.raises(DatabaseException, match="masked_counts"):
        pt.delete_soft("id IN (2)", masked_counts=7)


def test_soft_delete_caller_counts_multi_dir_fails_closed(spark,
                                                          tmp_path):
    """A nonzero caller claim against a partition holding SEVERAL
    directories is unattributable — that partition's cardinality must
    fail closed (never guessed), while single-directory partitions
    keep exact counts."""
    df = spark.createDataFrame(
        [(1, "A", 1.0), (2, "A", 2.0), (3, "B", 3.0)],
        "id long, grp string, amt double")
    pt = PartitionedTable.create(spark, df, str(tmp_path / "md"), "grp")
    pt.insert(spark.createDataFrame([(4, "A", 4.0)],
                                    "id long, grp string, amt double"))
    assert len(pt._manifest()["parts"]["A"]) == 2
    pt.delete_soft("id IN (1, 3)", masked_counts={"A": 1, "B": 1})
    counts = pt._manifest()["tomb_counts"]
    a_dirs = pt._manifest()["parts"]["A"]
    b_dir, = pt._manifest()["parts"]["B"]
    assert all(d not in counts for d in a_dirs)   # fail closed
    assert counts[b_dir] == 1                     # exact, kept
    assert pt.metadata_count() is None
    assert pt.read().count() == 2


def test_inlist_render_parse_roundtrip_property():
    """_parse_inlist is the exact inverse of _render_inlist over the
    id-literal value space (pure Python, no Spark) — the property that
    keeps coalescing lossless."""
    from hypothesis import given, settings, strategies as st

    from cs186_query_optimization_project_spark.partitioned import (
        _parse_inlist,
        _render_inlist,
    )

    ids = st.one_of(
        st.lists(st.integers(-10**18, 10**18), min_size=1, max_size=8),
        st.lists(st.text(min_size=1, max_size=12), min_size=1,
                 max_size=8),
    )

    @settings(max_examples=300, deadline=None)
    @given(ids)
    def check(vals):
        want = sorted(set(vals))
        got = _parse_inlist(_render_inlist("doc_id", vals))
        assert got is not None and got[0] == "doc_id"
        assert sorted(set(got[1])) == want

    check()


def test_rendered_inlist_matches_spark_parser_on_adversarial_ids(
        spark, tmp_path):
    """The rendered tombstone predicate must select EXACTLY the rows
    ``isin`` selects, for ids full of parser-significant characters —
    backslashes, quotes, doubled quotes, newlines, unicode.  (The bug
    class: Spark's default parser treats backslash as an escape, so an
    unescaped render silently matched nothing.)"""
    from cs186_query_optimization_project_spark.partitioned import (
        _render_inlist,
    )

    nasty = ["a\\nb", "o'k", "d''q", "tab\there", "nl\nhere",
             "back\\\\double", "unié", "plain", "semi;colon",
             "per%cent"]
    df = spark.createDataFrame([(v, i) for i, v in enumerate(nasty)],
                               "doc_id string, n int")
    for doomed in ([nasty[0]], nasty[:3], nasty[:7], nasty):
        pred = _render_inlist("doc_id", doomed)
        via_pred = {r["n"] for r in df.filter(F.expr(pred)).collect()}
        via_isin = {r["n"] for r in
                    df.filter(F.col("doc_id").isin(doomed)).collect()}
        assert via_pred == via_isin == \
            {nasty.index(v) for v in doomed}


def test_tombstone_coalesce_across_interleaved_shapes():
    """Same-column IN-lists must coalesce even when OTHER predicate
    shapes interleave between the batches: an IN / range / IN
    sequence yields TWO live entries (merged IN-list + the range),
    never three.  Sound because reads AND the negations — the
    conjunction is order-insensitive.  Duplicates of ANY earlier
    entry, and IN-lists covered by the union of earlier same-column
    IN-lists, are byte-stable no-ops."""
    from cs186_query_optimization_project_spark.partitioned import (
        _coalesce_tombstone,
    )

    ts, ch = _coalesce_tombstone([], "id IN (1, 2)")
    assert (ts, ch) == (["id IN (1, 2)"], True)
    ts, ch = _coalesce_tombstone(ts, "amt > 100.0")
    assert (ts, ch) == (["id IN (1, 2)", "amt > 100.0"], True)
    # the interleaved IN-list merges into the non-terminal entry
    ts, ch = _coalesce_tombstone(ts, "id IN (3)")
    assert (ts, ch) == (["id IN (1, 2, 3)", "amt > 100.0"], True)
    # exact duplicate of a NON-terminal entry: no-op
    ts, ch = _coalesce_tombstone(ts, "id IN (1, 2, 3)")
    assert (ts, ch) == (["id IN (1, 2, 3)", "amt > 100.0"], False)
    # covered by the union of earlier same-column IN-lists: no-op
    ts, ch = _coalesce_tombstone(ts, "id IN (2, 3)")
    assert (ts, ch) == (["id IN (1, 2, 3)", "amt > 100.0"], False)
    # another column's IN-list appends, then coalesces independently
    ts, ch = _coalesce_tombstone(ts, "grp IN ('A')")
    assert ch and ts[-1] == "grp IN ('A')"
    ts, ch = _coalesce_tombstone(ts, "id IN (9)")
    assert (ts, ch) == (
        ["id IN (1, 2, 3, 9)", "amt > 100.0", "grp IN ('A')"], True)
    # same column but DIFFERENT literal type: never merged
    ts2, ch = _coalesce_tombstone(["id IN (1)"], "id IN ('1')")
    assert (ts2, ch) == (["id IN (1)", "id IN ('1')"], True)


def test_soft_delete_interleaved_batches_coalesce_on_table(pt, spark):
    """Table-level pin of the interleaved shape: IN, range, IN
    publishes two tombstone entries per directory with cardinalities
    still exact through the out-of-order merge."""
    pt.delete_soft("id IN (1)")
    pt.delete_soft("amt > 45.0")          # masks id 5 (C)
    pt.delete_soft("id IN (3)")
    man = pt._manifest()
    for ds in man["parts"].values():
        for d in ds:
            assert man["tombstones"][d] == \
                ["id IN (1, 3)", "amt > 45.0"]
    assert sorted(r["id"] for r in pt.read().collect()) == [2, 4]
    assert pt.metadata_count() == 2


def test_soft_delete_per_directory_caller_counts(spark, tmp_path):
    """``masked_counts={value: {directory: n}}`` keeps metadata-only
    COUNT exact on MULTI-directory partitions (the
    append-then-soft-delete shape) at zero Spark jobs, with
    ``file_directories`` recovering the manifest directory names from
    ``input_file_name()`` URIs.  Unknown directory keys and negative
    per-directory counts raise."""
    from __spark_entry__ import _job_counter

    df = spark.createDataFrame(
        [(1, "A", 1.0), (2, "A", 2.0), (3, "B", 3.0)],
        "id long, grp string, amt double")
    pt = PartitionedTable.create(spark, df, str(tmp_path / "pd"), "grp")
    pt.insert(spark.createDataFrame([(4, "A", 4.0)],
                                    "id long, grp string, amt double"))
    a_dirs = pt._manifest()["parts"]["A"]
    assert len(a_dirs) == 2
    # the caller's aggregate, grouped by file, mapped back to dirs
    hit = (pt.read().filter(F.col("id").isin([1, 4, 3]))
           .groupBy(F.input_file_name().alias("f"), "grp")
           .count().collect())
    fdirs = pt.file_directories([r["f"] for r in hit])
    claims: dict = {}
    for r in hit:
        d = fdirs[r["f"]]
        assert d is not None
        claims.setdefault(r["grp"], {})[d] = \
            claims.get(r["grp"], {}).get(d, 0) + r["count"]
    assert set(claims["A"]) == set(a_dirs)       # both dirs claimed
    jobs_before = _job_counter(spark)
    pt.delete_soft("id IN (1, 3, 4)", masked_counts=claims)
    assert _job_counter(spark) == jobs_before    # zero delete jobs
    assert pt.metadata_count() == 1 == pt.read().count()
    # retry from the same pinned aggregate: tombstones unchanged, so
    # the re-claim must not double-subtract
    pt.delete_soft("id IN (1, 3, 4)", masked_counts=claims)
    assert pt.metadata_count() == 1
    # validation: a directory not in the named partition raises
    with pytest.raises(DatabaseException, match="no current directory"):
        pt.delete_soft("id IN (2)",
                       masked_counts={"B": {a_dirs[0]: 1}})
    with pytest.raises(DatabaseException, match="non-negative"):
        pt.delete_soft("id IN (2)",
                       masked_counts={"A": {a_dirs[0]: -2}})


def test_soft_delete_multi_dir_retry_keeps_exact_counts(spark,
                                                        tmp_path):
    """A pinned-snapshot RETRY whose partition has since grown a
    second directory must keep the first directory's previously-exact
    cardinality: the retry's tombstone is a no-op there, so only the
    NEW directory (whose list actually changed) fails closed."""
    df = spark.createDataFrame(
        [(1, "A", 1.0), (2, "A", 2.0), (3, "B", 3.0)],
        "id long, grp string, amt double")
    pt = PartitionedTable.create(spark, df, str(tmp_path / "rt"), "grp")
    pt.delete_soft("id IN (1)", masked_counts={"A": 1})
    old_dir, = pt._manifest()["parts"]["A"]
    assert pt._manifest()["tomb_counts"][old_dir] == 1
    assert pt.metadata_count() == 2
    # the partition grows a second directory...
    pt.insert(spark.createDataFrame([(9, "A", 9.0)],
                                    "id long, grp string, amt double"))
    new_dir = next(d for d in pt._manifest()["parts"]["A"]
                   if d != old_dir)
    # ...then the SAME batch is retried with the same claim
    pt.delete_soft("id IN (1)", masked_counts={"A": 1})
    counts = pt._manifest()["tomb_counts"]
    assert counts[old_dir] == 1          # previously-exact: KEPT
    assert new_dir not in counts         # newly tombstoned: closed
    debt = {r["dir"]: r for r in pt.tombstone_debt()}
    assert debt[old_dir]["masked_rows"] == 1
    assert debt[new_dir]["masked_rows"] is None
    assert pt.read().count() == 3        # 2,3,9 visible either way


def test_optimize_if_debt_threshold(pt, spark):
    """optimize_if is the debt policy loop: batches below the
    threshold schedule NO rewrite (and no Spark jobs at all — the
    check is manifest+footer metadata), the batch that crosses it
    triggers one optimize that materializes and clears the debt.
    Unknown cardinality trips a configured max_masked_fraction
    immediately; calling with no threshold raises."""
    from __spark_entry__ import _job_counter

    with pytest.raises(DatabaseException, match="max_tombstones"):
        pt.optimize_if()
    pt.delete_soft("id IN (1)")
    pt.delete_soft("amt > 45.0")         # 2 entries per directory
    jobs_before = _job_counter(spark)
    assert pt.optimize_if(max_tombstones=2) == []      # 2 > 2: no
    assert _job_counter(spark) == jobs_before          # zero jobs
    pt.delete_soft("amt < 15.0")         # 3rd entry crosses the line
    compacted = pt.optimize_if(max_tombstones=2)
    assert compacted                      # rewrite happened
    man = pt._manifest()
    assert not man.get("tombstones")      # debt materialized + cleared
    assert sorted(r["id"] for r in pt.read().collect()) == [2, 3, 4]
    assert pt.metadata_count() == 3
    # unknown cardinality == "optimize now" for a fraction threshold
    pt.delete_soft("id IN (2)", masked_counts=None)
    assert pt.optimize_if(max_masked_fraction=0.99)
    assert sorted(r["id"] for r in pt.read().collect()) == [3, 4]


def test_legacy_literal_grammar_fails_loudly(pt, spark, tmp_path):
    """Tombstone text is stored assuming Spark's DEFAULT string-literal
    grammar.  Under the deprecated legacy grammar
    (spark.sql.parser.escapedStringLiterals=true) backslashes stop
    being escapes and even quote-doubling parses differently — so
    recording OR applying a predicate on which the grammars diverge
    must raise, while divergence-free predicates keep working."""
    from cs186_query_optimization_project_spark.functions.retrieval \
        import _sql_id_literal

    # stored under the default grammar: a backslash-bearing tombstone
    risky = PartitionedTable.create(
        spark,
        spark.createDataFrame([("a\\nb", "A", 1.0), ("ok", "B", 2.0)],
                              "id string, grp string, amt double"),
        str(tmp_path / "lg"), "grp")
    risky.delete_soft("id IN ('a\\\\nb')")
    assert [r["id"] for r in risky.read().collect()] == ["ok"]
    conf = "spark.sql.parser.escapedStringLiterals"
    spark.conf.set(conf, "true")
    try:
        # recording a divergent predicate: refused
        with pytest.raises(DatabaseException, match="DEFAULT grammar"):
            pt.delete_soft("grp IN ('A\\\\B')")
        with pytest.raises(DatabaseException, match="DEFAULT grammar"):
            pt.delete_soft("grp IN ('o''k')")
        # applying a stored divergent tombstone: refused, not wrong
        with pytest.raises(DatabaseException, match="DEFAULT grammar"):
            risky.read().collect()
        # the id-literal renderer refuses too
        with pytest.raises(DatabaseException, match="DEFAULT grammar"):
            _sql_id_literal("back\\slash")
        # divergence-free predicates and literals still work
        assert _sql_id_literal("plain") == "'plain'"
        pt.delete_soft("id IN (5)")
        assert sorted(r["id"] for r in pt.read().collect()) == \
            [1, 2, 3, 4]
    finally:
        spark.conf.set(conf, "false")
    # back under the default grammar everything reads again
    assert [r["id"] for r in risky.read().collect()] == ["ok"]
