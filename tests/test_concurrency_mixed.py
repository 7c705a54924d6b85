"""Mixed-mode writers share one lock table: db-level autocommit DML,
optimistic commits, and 2PL transactions may not clobber each other
(the reference routes ALL DML through its LockManager —
``db/Database.java:317–401``; here every writer draws a txn id from
the same stream and X-locks through ``Database._lock_manager``)."""

from __future__ import annotations

import threading
import time

import pytest
from pyspark.sql import functions as F

from cs186_query_optimization_project_spark.concurrency import (
    LockManager,
    S,
    X,
)
from cs186_query_optimization_project_spark.errors import (
    ConflictException,
    DatabaseException,
)
from cs186_query_optimization_project_spark.partitioned import (
    PartitionedTable,
)


def test_db_dml_blocks_behind_2pl_writer(db, tmp_path):
    """Immediate (autocommit) DML must park behind an active 2PL X
    holder instead of rewriting the table under it (lost update)."""
    db.create_table("nation_mixed", db.table("nation"),
                    str(tmp_path / "nation_mixed"), mode="overwrite")
    try:
        t1 = db.begin(mode="2pl")
        t1.update_rows("nation_mixed", F.col("n_regionkey") == 0,
                       {"n_name": F.concat(F.col("n_name"), F.lit("~t"))})
        applied = []

        def immediate():
            db.update_rows("nation_mixed", F.col("n_regionkey") == 0,
                           {"n_name": F.concat(F.col("n_name"),
                                               F.lit("~d"))})
            applied.append("dml")

        th = threading.Thread(target=immediate, daemon=True)
        th.start()
        time.sleep(0.3)
        assert applied == []               # parked, not interleaved
        t1.commit()
        th.join(timeout=60)
        assert applied == ["dml"]
        names = {r["n_name"] for r in
                 db.table("nation_mixed")
                 .filter(F.col("n_regionkey") == 0).collect()}
        # serial schedule txn;dml — BOTH suffixes survive
        assert names and all(n.endswith("~t~d") for n in names)
    finally:
        db.drop_table("nation_mixed")


def test_optimistic_commit_blocks_then_conflicts_behind_2pl(db, tmp_path):
    """An optimistic commit racing an active 2PL writer must wait for
    the lock, then fail first-committer-wins validation — never publish
    over the 2PL transaction's result."""
    db.create_table("nation_occ", db.table("nation"),
                    str(tmp_path / "nation_occ"), mode="overwrite")
    try:
        opt = db.begin()                   # optimistic
        opt.update_rows("nation_occ", F.col("n_regionkey") == 0,
                        {"n_name": F.concat(F.col("n_name"),
                                            F.lit("~o"))})  # pins version
        t1 = db.begin(mode="2pl")
        t1.update_rows("nation_occ", F.col("n_regionkey") == 0,
                       {"n_name": F.concat(F.col("n_name"), F.lit("~t"))})
        outcome: list[object] = []

        def commit_opt():
            try:
                opt.commit()
                outcome.append("committed")
            except ConflictException:
                outcome.append("conflict")

        th = threading.Thread(target=commit_opt, daemon=True)
        th.start()
        time.sleep(0.3)
        assert outcome == []               # parked on the 2PL X lock
        t1.commit()
        th.join(timeout=60)
        assert outcome == ["conflict"]     # version moved → retry signal
        names = {r["n_name"] for r in
                 db.table("nation_occ")
                 .filter(F.col("n_regionkey") == 0).collect()}
        assert names and all(n.endswith("~t") for n in names)
    finally:
        db.drop_table("nation_occ")


def test_optimistic_commit_uncontended_still_lock_free_fast(db):
    """No 2PL activity → optimistic behavior is unchanged (commit
    acquires and releases an uncontended lock)."""
    df = db.table("nation").limit(2)
    db.register_dataframe("nation_mem", df)    # in-memory table
    try:
        t = db.begin()
        t.update_rows("nation_mem", F.lit(True), {"n_name": "x"})
        t.commit()
        assert {r["n_name"] for r in
                db.table("nation_mem").collect()} == {"x"}
    finally:
        db.drop_table("nation_mem")


def test_retry_after_abnormal_departure_not_spuriously_refused():
    """Stale waits-for edges: W parks behind T3's queued request (edge
    W→T3); T3 times out and departs.  T3's RETRY must not be refused as
    a deadlock — W's cached edge toward the departed request is pruned
    on abnormal exit (W itself only re-derives on wake)."""
    lm = LockManager()
    lm.acquire(1, "t", S)                  # keeps W asleep throughout

    def t3_first():
        try:
            lm.acquire(3, "t", X, timeout=0.3)
        except DatabaseException:
            pass

    w_done = threading.Event()

    def waiter():
        lm.acquire(4, "t", X, timeout=30)  # edges 4→{1, 3}
        lm.release_all(4)
        w_done.set()

    th3 = threading.Thread(target=t3_first, daemon=True)
    th3.start()
    time.sleep(0.1)                        # t3 queued first
    thw = threading.Thread(target=waiter, daemon=True)
    thw.start()
    th3.join(timeout=5)                    # t3 departs abnormally
    time.sleep(0.1)
    # release the S holder shortly so the retry below can be GRANTED
    threading.Timer(0.3, lm.release_all, args=(1,)).start()
    # retry: would_cycle must not traverse the stale 4→3 edge
    lm.acquire(3, "t", X, timeout=10)      # DeadlockException = regression
    assert lm.holding(3, "t") == X
    lm.release_all(3)
    assert w_done.wait(5)


def test_grant_keeps_live_edges_real_deadlock_still_caught():
    """The prune applies only to abnormal departures: after T2 is
    GRANTED a lock elsewhere, a waiter's edge toward it stays live and
    a genuine cycle is still refused."""
    import pytest as _pytest

    from cs186_query_optimization_project_spark.errors import (
        DeadlockException,
    )

    lm = LockManager()
    lm.acquire(1, "A", X)
    lm.acquire(2, "B", X)                  # normal grant for txn 2
    parked = threading.Event()

    def t1():
        parked.set()
        lm.acquire(1, "B", X)              # edge 1→2
        lm.release_all(1)

    th = threading.Thread(target=t1, daemon=True)
    th.start()
    assert parked.wait(5)
    time.sleep(0.2)
    with _pytest.raises(DeadlockException):
        lm.acquire(2, "A", X)              # closes 2→1→2
    lm.release_all(2)
    th.join(timeout=5)
    assert not th.is_alive()


def _failing_second_stage(db, fail_on):
    """Monkeypatch helper: PartitionedTable._prepare (a commit's
    staging write) that raises on one table."""
    import os

    orig = PartitionedTable._prepare

    def stage(self, df, version, _orig=orig):
        if os.path.basename(self.root) == fail_on:
            raise RuntimeError("simulated disk-full during staging")
        return _orig(self, df, version)

    return orig, stage


def test_2pl_commit_all_or_nothing(db, tmp_path, monkeypatch):
    """A mid-commit staging failure must leave EVERY table on its old
    version (two-phase stage-then-publish) — not publish the tables
    staged before the failure — and must release the locks."""
    for t in ("atom_a", "atom_b"):
        db.create_table(t, db.table("nation"),
                        str(tmp_path / t), mode="overwrite")
    try:
        before_a = db.table("atom_a").count()
        before_b = db.table("atom_b").count()
        txn = db.begin(mode="2pl")
        extra = db.table("nation").limit(2)
        txn.insert_rows("atom_a", extra)
        txn.insert_rows("atom_b", extra)
        orig, failing = _failing_second_stage(db, "atom_b")
        monkeypatch.setattr(PartitionedTable, "_prepare", failing)
        with pytest.raises(RuntimeError):
            txn.commit()
        monkeypatch.setattr(PartitionedTable, "_prepare", orig)
        # atomicity: atom_a was staged BEFORE atom_b failed, but must
        # not have been published
        assert db.table("atom_a").count() == before_a
        assert db.table("atom_b").count() == before_b
        # locks released: a fresh writer proceeds immediately
        db.insert_rows("atom_a", extra)
        assert db.table("atom_a").count() == before_a + 2
    finally:
        for t in ("atom_a", "atom_b"):
            db.drop_table(t)


def test_optimistic_commit_all_or_nothing(db, tmp_path, monkeypatch):
    """Same atomicity contract on the optimistic path: staging failure
    aborts with the catalog untouched and the transaction dead (a
    retry starts fresh instead of self-conflicting on a half-publish)."""
    from cs186_query_optimization_project_spark.errors import (
        DatabaseException,
    )

    for t in ("atom_c", "atom_d"):
        db.create_table(t, db.table("nation"),
                        str(tmp_path / t), mode="overwrite")
    try:
        before = db.table("atom_c").count()
        txn = db.begin()
        extra = db.table("nation").limit(2)
        txn.insert_rows("atom_c", extra)
        txn.insert_rows("atom_d", extra)
        orig, failing = _failing_second_stage(db, "atom_d")
        monkeypatch.setattr(PartitionedTable, "_prepare", failing)
        with pytest.raises(RuntimeError):
            txn.commit()
        monkeypatch.setattr(PartitionedTable, "_prepare", orig)
        assert db.table("atom_c").count() == before
        assert db.table("atom_d").count() == before
        # txn is dead; a FRESH transaction commits cleanly
        with pytest.raises(DatabaseException):
            txn.commit()
        t2 = db.begin()
        t2.insert_rows("atom_c", extra)
        t2.commit()
        assert db.table("atom_c").count() == before + 2
    finally:
        for t in ("atom_c", "atom_d"):
            db.drop_table(t)
