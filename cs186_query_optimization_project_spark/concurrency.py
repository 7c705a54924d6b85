"""Strict table-level 2PL with waits-for deadlock prevention.

The reference serializes with blocking two-phase locking: table-level
S/X locks with a FIFO wait queue that gives lock *upgrades* priority
(``db/concurrency/Lock.java:74–171``), and deadlock **prevention** — a
request that would close a cycle in the waits-for graph is refused
before the thread ever blocks (``db/concurrency/LockManager.java:
49–85``, ``db/concurrency/WaitsForGraph.java:58–88``).

The engine's default concurrency is optimistic (``transactions.py``) —
the honest translation for a *cluster*, where no shared lock manager
exists.  But this catalog, like the reference's, is an in-process
object on the driver, so the blocking protocol is implementable with
full fidelity for driver-coordinated workloads; ``Database.begin(
mode="2pl")`` selects it.  Same verbs, two protocols:

- optimistic: never blocks, loser of a write-write race gets
  ``ConflictException`` at commit and retries;
- 2PL (this module): readers/writers block in FIFO order, a request
  that would deadlock gets ``DeadlockException`` immediately, and
  commit order equals lock order (conflict-serializable schedules).
"""

from __future__ import annotations

import threading
import time
from typing import Any

from pyspark.sql import DataFrame

from cs186_query_optimization_project_spark.errors import (
    DatabaseException,
    DeadlockException,
)
from cs186_query_optimization_project_spark.transactions import Transaction

S = "S"
X = "X"

#: shared transaction-id stream — EVERY lock-table participant draws
#: from it (2PL transactions, optimistic commits, autocommit DML), so
#: ids can never collide across protocols sharing one LockManager.
_TXN_IDS = iter(range(1, 1 << 62))
_TXN_IDS_LOCK = threading.Lock()


def next_txn_id() -> int:
    with _TXN_IDS_LOCK:
        return next(_TXN_IDS)


def _compatible(held: str, requested: str) -> bool:
    return held == S and requested == S


class _WaitsForGraph:
    """waiter → holders edges; cycle test BEFORE an edge is added (the
    prevention decision: refuse the request that would close a cycle).
    Mirrors ``WaitsForGraph.java:58–88``'s reachability walk."""

    def __init__(self) -> None:
        self._edges: dict[object, set] = {}

    def would_cycle(self, waiter: object, holders: set) -> bool:
        # adding waiter→holders closes a cycle iff waiter is already
        # reachable FROM any holder
        stack, seen = list(holders), set()
        while stack:
            node = stack.pop()
            if node == waiter:
                return True
            if node in seen:
                continue
            seen.add(node)
            stack.extend(self._edges.get(node, ()))
        return False

    def add(self, waiter: object, holders: set) -> None:
        self._edges.setdefault(waiter, set()).update(holders)

    def clear(self, waiter: object) -> None:
        self._edges.pop(waiter, None)

    def remove_target(self, txn: object) -> None:
        """Drop every edge pointing AT ``txn``.  Sleeping waiters only
        re-derive their own edges when they wake, so after ``txn``
        departs (release, deadlock refusal, timeout) their cached
        edges to it are stale — a new request's cycle walk traversing
        one would raise a spurious DeadlockException for a schedule
        that can no longer deadlock."""
        for targets in self._edges.values():
            targets.discard(txn)


class LockManager:
    """Table-granularity S/X lock table: FIFO wait queue with upgrade
    priority, waits-for deadlock prevention, all-at-end release (strict
    2PL).  One instance per ``Database``; all state driver-local, the
    same locality the reference's in-process lock manager has."""

    def __init__(self) -> None:
        self._cv = threading.Condition()
        #: table -> {txn_id: mode}
        self._holders: dict[str, dict[object, str]] = {}
        #: table -> ordered wait list of (txn_id, mode, is_upgrade)
        self._queue: dict[str, list[tuple[object, str, bool]]] = {}
        self._waits = _WaitsForGraph()

    # ------------------------------------------------------------------ #
    def acquire(self, txn_id: object, table: str, mode: str,
                timeout: float | None = 30.0) -> None:
        """Block until granted; raise :class:`DeadlockException` if
        blocking would close a waits-for cycle (checked both on arrival
        and whenever the holder set changes while waiting)."""
        if mode not in (S, X):
            raise DatabaseException(f"unknown lock mode {mode!r}")
        with self._cv:
            holders = self._holders.setdefault(table, {})
            held = holders.get(txn_id)
            if held == X or held == mode:
                return  # X subsumes S; re-request is a no-op
            is_upgrade = held == S and mode == X
            entry = (txn_id, mode, is_upgrade)
            queue = self._queue.setdefault(table, [])
            # upgrades enter at the FRONT of the queue (reference's
            # upgrade priority, Lock.java:74–171); everyone else FIFO
            if is_upgrade:
                queue.insert(0, entry)
            else:
                queue.append(entry)
            granted = False
            # one absolute deadline for the whole wait: the Condition is
            # shared by every table, so each unrelated grant/release
            # wakes this waiter too — restarting the timeout per wake
            # would let steady traffic elsewhere postpone the backstop
            # forever for a genuinely stuck request
            deadline = (None if timeout is None
                        else time.monotonic() + timeout)
            try:
                while not self._grantable(table, entry):
                    blockers = self._blockers(table, entry)
                    # re-derive this waiter's edges from the CURRENT
                    # blocker set — stale edges to finished holders must
                    # not feed the cycle test
                    self._waits.clear(txn_id)
                    if self._waits.would_cycle(txn_id, blockers):
                        raise DeadlockException(
                            f"txn {txn_id!r} waiting for {mode} on "
                            f"'{table}' would deadlock with holders "
                            f"{sorted(map(repr, blockers))}; request "
                            f"refused (waits-for prevention)")
                    self._waits.add(txn_id, blockers)
                    remaining = (None if deadline is None
                                 else deadline - time.monotonic())
                    if remaining is not None and remaining <= 0 \
                            or not self._cv.wait(timeout=remaining):
                        # the wake may have been missed in the same tick
                        # the timeout fired — grant if eligible NOW,
                        # only a genuinely stuck request aborts
                        if self._grantable(table, entry):
                            break
                        raise DatabaseException(
                            f"lock wait timeout: txn {txn_id!r}, "
                            f"{mode} on '{table}'")
                granted = True
            finally:
                queue.remove(entry)
                self._waits.clear(txn_id)
                if not granted and not any(
                        txn_id in h for h in self._holders.values()):
                    # abnormal exit (deadlock refusal / timeout): this
                    # request is leaving the protocol, but the txn may
                    # RETRY under the same id — edges other sleeping
                    # waiters cached toward it are stale (they only
                    # re-derive on wake) and would make the retry's
                    # cycle test see a departed blocker, aborting a
                    # schedule that can no longer deadlock.  A GRANT
                    # must NOT prune: the txn becomes a holder and
                    # cached edges toward it are still live.  Neither
                    # must a txn that still HOLDS locks (a refused
                    # UPGRADE keeps its S; a multi-table txn keeps its
                    # other grants): sleeping waiters blocked by those
                    # holds have LIVE edges toward it, and pruning them
                    # would blind a later cycle test to a real deadlock.
                    self._waits.remove_target(txn_id)
                # leaving the queue (grant OR abnormal exit — deadlock
                # refusal / timeout) can make the new head eligible; a
                # silent departure would leave it parked forever
                self._cv.notify_all()
            # (an upgrade has mode == X, so every branch assigns mode;
            # the queue-departure notify in finally already woke peers)
            holders[txn_id] = mode

    def release_all(self, txn_id: object) -> None:
        """Strict 2PL: every lock at once, at transaction end
        (``db/Database.java:207–213,562–568``)."""
        with self._cv:
            for holders in self._holders.values():
                holders.pop(txn_id, None)
            self._waits.clear(txn_id)
            # the departing holder can no longer block anyone; prune
            # sleeping waiters' cached edges toward it
            self._waits.remove_target(txn_id)
            self._cv.notify_all()

    def holding(self, txn_id: object, table: str) -> str | None:
        with self._cv:
            return self._holders.get(table, {}).get(txn_id)

    # ------------------------------------------------------------------ #
    def _grantable(self, table: str,
                   entry: tuple[object, str, bool]) -> bool:
        txn_id, mode, is_upgrade = entry
        holders = self._holders.get(table, {})
        others = {t: m for t, m in holders.items() if t != txn_id}
        if any(not _compatible(m, mode) for m in others.values()):
            return False
        # FIFO fairness: only the queue head may be granted (upgrades
        # sit at the front by construction)
        return self._queue[table][0] is entry

    def _blockers(self, table: str,
                  entry: tuple[object, str, bool]) -> set:
        """Who this request waits for: incompatible holders, plus every
        queued request ahead of it (FIFO order is part of the protocol —
        granting around them would starve writers)."""
        txn_id, mode, _ = entry
        holders = self._holders.get(table, {})
        out = {t for t, m in holders.items()
               if t != txn_id and not _compatible(m, mode)}
        for ahead in self._queue[table]:
            if ahead is entry:
                break
            if ahead[0] != txn_id:
                out.add(ahead[0])
        return out


class PessimisticTransaction(Transaction):
    """Blocking-2PL twin of ``transactions.Transaction``: same verbs
    (``table`` / ``query`` / ``insert_rows`` / ``update_rows`` /
    ``delete_rows`` / ``commit`` / ``rollback``), but isolation comes
    from locks instead of snapshot validation — reads take S, writes
    upgrade to X, everything releases at end, commits never conflict
    with a writer of the same catalog."""

    _ENDED = "committed, rolled back, or aborted"

    def __init__(self, db, lock_manager: LockManager) -> None:
        super().__init__(db)
        self._lm = lock_manager
        self.txn_id = next_txn_id()

    # ---- reads: S lock, then the pinned snapshot ---------------------- #
    def _pin(self, name: str) -> tuple:
        self._lm.acquire(self.txn_id, name, S)
        return super()._pin(name)

    # ---- buffered DML (applied at commit, under the X lock) ---------- #
    def insert_rows(self, name: str, rows: DataFrame):
        self._x(name)
        return super().insert_rows(name, rows)

    def delete_rows(self, name: str, condition):
        self._x(name)
        return super().delete_rows(name, condition)

    def update_rows(self, name: str, condition,
                    assignments: dict[str, Any]):
        self._x(name)
        return super().update_rows(name, condition, assignments)

    def _x(self, name: str) -> None:
        self._check_active()
        self._lm.acquire(self.txn_id, name, X)

    # ---- outcome ----------------------------------------------------- #
    def commit(self) -> None:
        """Apply the intent log under the held X locks, then release.
        No validation wait: the X lock held since the first write IS
        the guarantee that no writer of this catalog interleaved."""
        self._check_active()
        try:
            self._commit_writes()
        finally:
            self._lm.release_all(self.txn_id)

    def rollback(self) -> None:
        super().rollback()
        self._lm.release_all(self.txn_id)
