"""Optimistic snapshot transactions over the catalog's manifest tables.

The reference serializes with strict table-level 2PL plus waits-for
deadlock *prevention* (``db/concurrency/LockManager.java:49–85``,
``Lock.java:74–171``, ``WaitsForGraph.java:58–88``): readers block
writers and a transaction that would close a cycle is refused. A Spark
cluster has no shared lock manager to translate that design onto — the
scale-out expression of the same guarantees (table-granularity
isolation, no lost updates) is *optimistic concurrency* over the
manifest-versioned tables ``database.py`` keeps, the same protocol a
Delta/Iceberg commit uses per table:

- the first read of a table pins its catalog version — snapshot reads;
  readers never block and never see a concurrent writer's
  half-published state (a manifest version is immutable once written).
- DML buffers *intentions* as declarative transforms with
  read-your-writes: ``txn.table()`` replays the buffer over the pinned
  snapshot, so a transaction sees its own inserts/updates/deletes while
  the outside world sees nothing until commit.
- ``commit()`` validates first-committer-wins: if any *written* table
  advanced past the pinned version, raise :class:`ConflictException`
  (the deadlock-victim analog — retry on a fresh snapshot instead of
  blocking), else publish every written table as one all-or-nothing
  commit (``Database._commit_frames``); the manifests' exclusive
  create catches a commit made through another catalog or process.

Read-only tables are not validated (snapshot isolation, not full
serializability — same granularity trade the reference makes by locking
whole tables).

Both protocols (and ``Database``'s immediate autocommit DML) share one
``LockManager``: an optimistic commit X-locks its written tables for
the validate+publish instant, so mixing optimistic, 2PL, and db-level
writers on the same table cannot lose updates.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cs186_query_optimization_project_spark.errors import (
    ConflictException,
    DatabaseException,
)


def verify_insert_schema(table_df: DataFrame, rows: DataFrame,
                         name: str) -> None:
    """The reference's insert-time ``Schema.verify``; shared by both
    transaction protocols (optimistic here, 2PL in concurrency.py)."""
    expected = [(f.name, f.dataType) for f in table_df.schema.fields]
    got = [(f.name, f.dataType) for f in rows.schema.fields]
    if expected != got:
        raise DatabaseException(
            f"insert into '{name}': schema mismatch; table has "
            f"{expected}, rows have {got}")


def make_update_applier(condition, assignments: dict[str, Any]):
    """DataFrame→DataFrame transform for an UPDATE intent: each assigned
    column becomes when(cond, value-cast-to-column-type).otherwise(old).
    Shared by both transaction protocols and Database.update_rows so
    cast/nullability behavior can never diverge between them.

    All assignments apply in ONE select, so the condition and every
    right-hand side read the PRE-update row (SQL UPDATE semantics): a
    sequential withColumn chain would re-evaluate the condition against
    already-updated values (``SET status='new' WHERE status='old'``
    silently skipping later assignments) and break column swaps
    (``SET a=b, b=a``)."""

    def _apply(df: DataFrame, cond=condition,
               assigns=dict(assignments)) -> DataFrame:
        projected = []
        for col_name in df.columns:
            if col_name in assigns:
                value = assigns[col_name]
                val = value if isinstance(value, F.Column) else F.lit(value)
                projected.append(
                    F.when(cond, val.cast(df.schema[col_name].dataType))
                    .otherwise(F.col(col_name)).alias(col_name))
            else:
                projected.append(F.col(col_name))
        return df.select(*projected)

    return _apply


class _SnapshotView:
    """Database facade serving a transaction's snapshot: ``table()`` /
    ``schema()`` replay the intent log over the pinned versions, and
    everything else (spark handle, stats, index metadata) delegates to
    the parent catalog.  Stats come from the published version — a
    misestimate only degrades the optimizer's hint choice, never
    correctness (Catalyst+AQE own the physical plan)."""

    def __init__(self, txn: "Transaction") -> None:
        self._txn = txn
        self._parent = txn._db

    def table(self, name: str) -> DataFrame:
        return self._txn.table(name)

    def schema(self, name: str):
        return self._txn.table(name).schema

    def __getattr__(self, attr):
        return getattr(self._parent, attr)


class Transaction:
    """Handle returned by :meth:`Database.begin`; mirrors the verbs of
    ``db/Database.java``'s ``Transaction`` (``addRecord`` /
    ``updateRecord`` / ``deleteRecord`` / ``query``) under optimistic
    snapshot semantics."""

    _ENDED = "committed, rolled back, or aborted on conflict"

    def __init__(self, db) -> None:
        self._db = db
        #: name -> (catalog entry, its version, DataFrame) at pin time
        self._pins: dict[str, tuple] = {}
        #: name -> ordered DataFrame->DataFrame transforms (the intent log)
        self._writes: dict[str, list] = {}
        self._active = True

    # ------------------------------------------------------------------ #
    # reads
    # ------------------------------------------------------------------ #
    def table(self, name: str) -> DataFrame:
        """Snapshot read + read-your-writes: the pinned version with this
        transaction's buffered mutations replayed on top."""
        self._check_active()
        df = self._pin(name)[2]
        for transform in self._writes.get(name, ()):
            df = transform(df)
        return df

    def query(self, table: str, alias: str | None = None):
        """Builder over this transaction's snapshot (the reference's
        primary entry, ``Transaction.query`` / ``queryAs``,
        ``db/Database.java:221–252``) — joins against other tables read
        their pinned versions too."""
        self._check_active()
        from cs186_query_optimization_project_spark.plans.builder import (
            Query,
        )

        return Query(_SnapshotView(self), table, alias)

    # ------------------------------------------------------------------ #
    # buffered DML (same verbs and checks as Database's immediate DML)
    # ------------------------------------------------------------------ #
    def insert_rows(self, name: str, rows: DataFrame) -> "Transaction":
        self._check_active()
        verify_insert_schema(self.table(name), rows, name)
        return self._buffer(name, lambda df, rows=rows: df.unionByName(rows))

    def delete_rows(self, name: str, condition) -> "Transaction":
        self._check_active()
        self._pin(name)
        return self._buffer(
            name, lambda df, c=condition: df.filter(~c | c.isNull()))

    def update_rows(self, name: str, condition,
                    assignments: dict[str, Any]) -> "Transaction":
        self._check_active()
        base_cols = self.table(name).columns
        for col_name in assignments:
            if col_name not in base_cols:
                raise DatabaseException(
                    f"update '{name}': unknown column '{col_name}'")
        return self._buffer(name, make_update_applier(condition,
                                                      assignments))

    def _buffer(self, name: str, transform) -> "Transaction":
        self._db._writable(name)
        self._writes.setdefault(name, []).append(transform)
        return self

    # ------------------------------------------------------------------ #
    # outcome
    # ------------------------------------------------------------------ #
    def commit(self) -> None:
        """Validate-then-publish under the shared lock table.

        The commit X-locks every *written* table (sorted order — no
        lock-order cycles) for the validate+publish span, so an
        optimistic publication can never interleave with an active 2PL
        transaction's writes (both protocols share one LockManager;
        mixed-mode lost updates are structurally impossible) and two
        optimistic commits on the same table serialize their
        CAS+publish sections.  Reads and buffered DML stay lock-free —
        only the commit instant blocks, and only against a concurrent
        writer of the same table.  A lock acquisition the waits-for
        graph refuses surfaces as :class:`ConflictException` (the
        optimistic retry signal), not a deadlock."""
        self._check_active()
        from cs186_query_optimization_project_spark import concurrency
        from cs186_query_optimization_project_spark.errors import (
            DeadlockException,
        )

        lm = self._db._lock_manager
        tid = concurrency.next_txn_id()
        try:
            try:
                for name in sorted(self._writes):
                    lm.acquire(tid, name, concurrency.X)
            except (DeadlockException, DatabaseException) as exc:
                # deadlock refusal AND lock-wait timeout are both
                # "a concurrent writer holds this table" — the
                # documented optimistic retry signal, not a generic
                # engine failure the caller's retry loop would miss
                self._active = False
                raise ConflictException(
                    f"commit lock refused or timed out (concurrent "
                    f"writer holds a written table): {exc}; retry on a "
                    f"fresh snapshot") from exc
            self._commit_writes()
        finally:
            lm.release_all(tid)

    def _commit_writes(self) -> None:
        """Commit every written table at once; the transaction ends
        either way."""
        try:
            self._db._commit_frames({
                name: (*self._pins[name][:2], self.table(name))
                for name in self._writes})
        finally:
            self._active = False

    def rollback(self) -> None:
        """Discard the intent log; nothing was published."""
        self._active = False
        self._writes.clear()
        self._pins.clear()

    # ------------------------------------------------------------------ #
    def _pin(self, name: str) -> tuple:
        if name not in self._pins:
            entry = self._db._entry(name)
            # entry.df resolves the lazy loader; immutable once produced
            self._pins[name] = (entry, entry.version, entry.df)
        return self._pins[name]

    def _check_active(self) -> None:
        if not self._active:
            raise DatabaseException(
                f"transaction is no longer active ({self._ENDED})")
