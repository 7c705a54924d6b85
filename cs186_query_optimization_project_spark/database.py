"""`Database`: the engine's catalog + query entry point.

Mirrors the reference's ``Database`` class (``db/Database.java:22–77``): a
registry mapping table names to storage, plus the ``query(table)`` entry
point returning a fluent builder.  Here a "table" is any Spark-readable
source (parquet path, CSV path, or an in-memory DataFrame) and the storage
engine is Parquet + Tungsten rather than slotted pages.

The reference's ``createTableWithIndices`` (``db/Database.java:120–163``)
declares B+-tree indexed columns; Spark has no secondary indexes, so a
declared "index" here means *sorted-by-that-column on write* — which turns
pushed range filters into Parquet row-group (min/max) skipping, the
scale-out analog of an index range scan.  ``Database.create_table`` with
``index_columns`` sorts on write accordingly, and the optimizer's access-path
report (plans/optimizer.py) treats those columns as index-eligible.

Every writable table is a manifest table (``partitioned.PartitionedTable``),
so its versions live in storage, seen by every catalog on the path.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cs186_query_optimization_project_spark import metaio
from cs186_query_optimization_project_spark.errors import (
    ConflictException,
    DatabaseException,
)
from cs186_query_optimization_project_spark.partitioned import (
    PartitionedTable,
    commit_together,
    merge_payload,
    merge_source,
)
from cs186_query_optimization_project_spark.transactions import (
    make_update_applier,
    verify_insert_schema,
)


def ensure_private_dir(path: str) -> str:
    """``mkdir -p`` with an ownership check.  ``mode=`` on ``makedirs``
    is IGNORED when the directory already exists, so a world-readable or
    foreign-owned pre-created path would silently defeat the 0700
    anti-poisoning guard (the driver's cached indexes live under such
    parents).  Verify the dir is ours and closed to group/other,
    failing loudly otherwise."""
    import stat

    os.makedirs(path, mode=0o700, exist_ok=True)
    st = os.stat(path)
    if st.st_uid != os.getuid() or (st.st_mode & 0o077):
        raise DatabaseException(
            f"scratch dir '{path}' is owned by uid {st.st_uid} with mode "
            f"{stat.filemode(st.st_mode)}; expected own uid "
            f"{os.getuid()} and 0700 — refusing to use it")
    return path


def _restore_nanos_timestamps(df: DataFrame, path: str) -> DataFrame:
    """Normalize TIMESTAMP(NANOS) parquet columns to microsecond
    timestamps, matching DuckDB's read of the same files.

    Current driver testdata stores TIMESTAMP(MICROS), which every Spark
    reads natively (as TIMESTAMP_NTZ — naive wall time, exactly DuckDB's
    semantics), so this is a no-op there.  A TIMESTAMP(NANOS) column is
    either read natively as a timestamp (newer Sparks truncate to micros
    — accepted as-is) or surfaced as a raw nanos long under
    ``spark.sql.legacy.parquet.nanosAsLong`` — converted here.

    Fail-closed: nanos columns are derived from the parquet footer; a
    footer we cannot read, or a footer/Spark-schema combination we do not
    recognize, raises instead of silently returning a frame whose
    "timestamps" are raw longs (which would hash-mismatch downstream
    rather than error here).
    """
    import pyarrow.parquet as pq
    import pyarrow as pa

    if not os.path.exists(path):
        # Remote URI (s3a://...) or glob: Spark can read it but local
        # pyarrow cannot introspect the footer, so degrade gracefully —
        # nanos columns on such sources surface as LongType and the
        # caller casts explicitly.  Fail-closed applies only where we
        # CAN check (local paths below).
        return df
    first = path
    if os.path.isdir(path):
        # walk one parquet file out of the tree — hive-partitioned
        # tables keep their files in key=value subdirectories
        first = None
        for dirpath, dirnames, filenames in os.walk(path):
            dirnames.sort()
            cands = sorted(f for f in filenames if f.endswith(".parquet"))
            if cands:
                first = os.path.join(dirpath, cands[0])
                break
        if first is None:
            return df
    try:
        arrow_schema = pq.read_schema(first)
    except Exception as exc:
        raise DatabaseException(
            f"cannot read parquet footer for '{path}': {exc}") from exc
    spark_types = {f.name: f.dataType for f in df.schema.fields}
    for fld in arrow_schema:
        if pa.types.is_timestamp(fld.type) and fld.type.unit == "ns":
            got = spark_types.get(fld.name)
            if got is None:
                continue  # column pruned or renamed upstream
            if isinstance(got, (T.TimestampType, T.TimestampNTZType)):
                continue  # native nanos read, truncated to micros
            if not isinstance(got, T.LongType):
                raise DatabaseException(
                    f"'{path}' column '{fld.name}' is timestamp[ns] in the "
                    f"parquet footer but Spark read it as {got}; expected "
                    f"a timestamp (native read) or LongType (via "
                    f"spark.sql.legacy.parquet.nanosAsLong)")
            # integer `div`, NOT float division: nanos-since-epoch
            # (~1.7e18) exceeds double's 53-bit mantissa, so x/1000.0
            # would corrupt the low microseconds
            df = df.withColumn(
                fld.name,
                F.timestamp_micros(F.expr(f"`{fld.name}` div 1000")))
    return df


@dataclass
class TableEntry:
    """Catalog entry: how to produce the table's DataFrame + metadata.

    The DataFrame is resolved lazily (on first ``.df`` access) when the
    entry was registered from a path: one unreadable file then fails only
    its own table's queries, not every query on the Database (a
    ``register_directory`` over 10 tables must not die because one
    unrelated parquet is poisoned).

    ``table`` is a writable entry's manifest table and ``version`` the
    manifest version its frame reads (a DataFrame entry counts swaps
    there); a plain parquet or CSV entry is read-only.
    """

    name: str
    path: str | None = None
    index_columns: tuple[str, ...] = ()
    #: filled lazily by Database.stats
    stats: object | None = field(default=None, repr=False)
    _df: DataFrame | None = field(default=None, repr=False)
    #: zero-arg callable producing the DataFrame; used when _df is None
    _loader: object | None = field(default=None, repr=False)
    table: PartitionedTable | None = field(default=None, repr=False)
    version: int = 0

    @property
    def df(self) -> DataFrame:
        if self._df is None:
            if self._loader is None:
                raise DatabaseException(
                    f"table '{self.name}' has neither a DataFrame nor a "
                    f"loader")
            self._df = self._loader()
        return self._df

    @df.setter
    def df(self, value: DataFrame) -> None:
        self._df = value

    @property
    def schema(self) -> T.StructType:
        return self.df.schema


class Database:
    """Catalog of named tables + the ``query()`` builder entry point."""

    def __init__(self, spark: SparkSession, data_dir: str | None = None):
        self.spark = spark
        # The caller hands us ANY SparkSession (the driver harness builds
        # a vanilla one), so the engine must not depend on session confs
        # it set itself.  Current testdata stores TIMESTAMP(MICROS),
        # which reads natively everywhere; this legacy conf only matters
        # if a TIMESTAMP(NANOS) file shows up on a Spark that refuses to
        # scan it natively — then it surfaces nanos as longs, which
        # _restore_nanos_timestamps converts back.  Runtime-settable
        # today; guarded in case a future Spark drops the conf.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
        self._tables: dict[str, TableEntry] = {}
        # one lock table per catalog, shared by every 2PL transaction on
        # it (the reference's Database-owned LockManager); built lazily
        # on first use would race, so eagerly — it is three dicts
        from cs186_query_optimization_project_spark.concurrency import (
            LockManager,
        )

        self._lock_manager = LockManager()
        if data_dir is not None:
            self.register_directory(data_dir)

    # ------------------------------------------------------------------ #
    # registration (DDL surface: Database.createTable / deleteTable)
    # ------------------------------------------------------------------ #
    def register_directory(self, data_dir: str) -> "Database":
        """Register every ``<name>.parquet`` and manifest table root
        ``<name>`` under ``data_dir`` (how a catalog reopens)."""
        for fname in sorted(os.listdir(data_dir)):
            path = os.path.join(data_dir, fname)
            if fname.endswith(".parquet"):
                self.register_parquet(fname[: -len(".parquet")], path)
            elif metaio.IO.is_dir(os.path.join(path, "_manifests")):
                self.register_parquet(fname, path)
        return self

    def register_parquet(self, name: str, path: str,
                         index_columns: tuple[str, ...] = ()) -> "Database":
        """Register parquet: a manifest table root (writable) through
        its newest committed manifest, anything else read-only."""
        if metaio.IO.is_dir(os.path.join(path, "_manifests")):
            return self._register_table(
                name, PartitionedTable(self.spark, path), index_columns)

        def _load(spark=self.spark, name=name, path=path) -> DataFrame:
            try:
                df = spark.read.parquet(path)
            except Exception as exc:
                # surface an engine-level error naming the table; the raw
                # Py4J stack identifies neither
                raise DatabaseException(
                    f"table '{name}': cannot read parquet at '{path}': "
                    f"{exc}") from exc
            return _restore_nanos_timestamps(df, path)

        self._tables[name] = TableEntry(name, path, index_columns,
                                        _loader=_load)
        return self

    def register_csv(self, name: str, path: str, schema: T.StructType,
                     header: bool = False) -> "Database":
        """CSV ingestion (reference test harness reads CSVs row-by-row,
        ``test/TestDatabaseQueries.java:148–176``; here it's a declarative
        schema-checked scan)."""
        def _load(spark=self.spark, path=path) -> DataFrame:
            return spark.read.csv(path, schema=schema, header=header)

        self._tables[name] = TableEntry(name, path, _loader=_load)
        return self

    def register_dataframe(self, name: str, df: DataFrame,
                           index_columns: tuple[str, ...] = ()) -> "Database":
        self._tables[name] = TableEntry(name, None, index_columns, _df=df)
        return self

    def register_partitioned(self, name: str, root: str) -> "Database":
        """Register a ``PartitionedTable`` root like a created table.
        The entry reads the version current at registration until this
        catalog commits to it; re-register to see other writers'."""
        return self._register_table(name, PartitionedTable(self.spark, root))

    def _register_table(self, name: str, table: PartitionedTable,
                        index_columns: tuple[str, ...] = ()) -> "Database":
        man = table._manifest()
        entry = TableEntry(
            name, table.root,
            tuple(index_columns) or tuple(man.get("sort_cols", ())),
            table=table, version=man["version"])
        entry._loader = lambda: table.read(version=entry.version)
        self._tables[name] = entry
        return self

    def create_table(self, name: str, df: DataFrame, path: str,
                     index_columns: tuple[str, ...] = (),
                     partition_by: tuple[str, ...] = (),
                     mode: str = "error") -> "Database":
        """Materialize ``df`` as a manifest table at ``path``
        (``PartitionedTable``, version 0).

        ``index_columns`` → sorted on every write inside each partition
        so pushed filters on them skip row groups (the B+-tree analog,
        SURVEY.md §2.11).  ``partition_by`` → hive-style directory
        partitioning for partition pruning.  At 100 TB this is the
        difference between a full scan and reading a handful of files.
        An existing ``path`` is replaced under ``mode="overwrite"`` and
        refused otherwise.
        """
        if metaio.IO.exists(path):
            if mode != "overwrite":
                raise DatabaseException(
                    f"create_table '{name}': '{path}' already exists "
                    f"(mode={mode!r})")
            metaio.IO.remove_tree(path)
        PartitionedTable._create(self.spark, df, path, list(partition_by),
                                 None, list(index_columns))
        return self.register_parquet(name, path, index_columns)

    def drop_table(self, name: str) -> None:
        """Catalog-level delete (files are left in place)."""
        self._entry(name)
        del self._tables[name]

    # ------------------------------------------------------------------ #
    # DML (Transaction.addRecord / updateRecord / deleteRecord,
    # db/Database.java:317–401)
    # ------------------------------------------------------------------ #
    # The reference mutates slotted pages in place under 2PL.  Here each
    # statement is one manifest commit (partitioned.py): it rewrites only
    # the partitions it touches (an insert only appends), and its
    # exclusive manifest create makes it atomic, durable and
    # first-committer-wins for every catalog and process on the path.
    # A DataFrame table has no storage: its DML swaps the DataFrame.
    # Plain parquet and CSV registrations are read-only.

    def _writable(self, name: str) -> TableEntry:
        entry = self._entry(name)
        if entry.table is None and entry.path is not None:
            raise DatabaseException(
                f"table '{name}' is a read-only scan of '{entry.path}'; "
                f"create_table a writable copy to modify it")
        return entry

    @contextmanager
    def _autocommit_x(self, *names: str):
        """X-lock ``names`` through the shared LockManager for the span
        of one immediate-DML statement (an autocommit transaction).
        Every writer — 2PL txns, optimistic commits, and db-level DML —
        goes through the same lock table (the reference routes all DML
        through its LockManager, ``db/Database.java:317–401``), so an
        immediate write can never clobber a table an active 2PL
        transaction holds X on (lost update)."""
        from cs186_query_optimization_project_spark import concurrency

        for name in names:
            self._writable(name)
        tid = concurrency.next_txn_id()
        try:
            for name in sorted(names):  # global order: no lock-order cycles
                self._lock_manager.acquire(tid, name, concurrency.X)
            yield
        finally:
            self._lock_manager.release_all(tid)

    def _write(self, name: str, on_table, on_frame) -> "Database":
        """One statement: ``on_table(PartitionedTable)`` commits it,
        or ``on_frame(df)`` is a DataFrame table's new content."""
        entry = self._entry(name)
        if entry.table is not None:
            on_table(entry.table)
            self._refresh(entry)
        else:
            self._swap(entry, on_frame(entry.df))
        return self

    @staticmethod
    def _refresh(entry: TableEntry) -> None:
        """Point a manifest entry at its table's newest version."""
        entry.version = entry.table._manifest()["version"]
        entry.df, entry.stats = None, None

    @staticmethod
    def _swap(entry: TableEntry, df: DataFrame) -> None:
        entry.df, entry.stats = df, None
        entry.version += 1

    def insert_rows(self, name: str, rows: DataFrame) -> "Database":
        """Append rows (schema-verified like ``Schema.verify``,
        ``db/table/Schema.java:45–64``)."""
        with self._autocommit_x(name):
            verify_insert_schema(self._entry(name).df, rows, name)
            return self._write(name, lambda t: t.insert(rows),
                               lambda df: df.unionByName(rows))

    def delete_rows(self, name: str, condition) -> "Database":
        """Delete rows matching ``condition`` (a boolean Column).  SQL
        DELETE semantics: only rows where the condition is TRUE are
        deleted — a NULL condition (e.g. ``x > 5`` on a NULL x) keeps
        the row, which a bare ``filter(~condition)`` would silently
        drop (NOT NULL is NULL, and filter keeps only TRUE)."""
        with self._autocommit_x(name):
            return self._write(
                name, lambda t: t.delete(condition),
                lambda df: df.filter(~condition | condition.isNull()))

    def update_rows(self, name: str, condition,
                    assignments: dict[str, object]) -> "Database":
        """Set ``column -> value/Column expression`` on rows matching
        ``condition``; other rows unchanged.  All assignments and the
        condition evaluate against the PRE-update row (one projection —
        see make_update_applier), exactly like SQL UPDATE."""
        with self._autocommit_x(name):
            columns = self._entry(name).df.columns
            for col_name in assignments:
                if col_name not in columns:
                    raise DatabaseException(
                        f"update '{name}': unknown column '{col_name}'")
            return self._write(
                name, lambda t: t.update(condition, assignments),
                make_update_applier(condition, assignments))

    def merge_rows(self, name: str, source: DataFrame,
                   on: str | tuple[str, ...],
                   update_cols: tuple[str, ...] | None = None,
                   insert_unmatched: bool = True) -> "Database":
        """Upsert (the MERGE INTO subset a training-data pipeline needs:
        matched rows take the source's values, unmatched source rows
        append).  Extends the reference's add/update/delete DML surface
        (``db/Database.java:317–401``) the same way Delta's MERGE
        extends a table format's insert/delete.

        ``source`` must carry the table's full schema (like
        ``insert_rows``); ``update_cols`` restricts which non-key
        columns matched rows take from the source (default: all).
        Duplicate keys in the source raise — each target row must match
        at most one source row (Delta's multiple-match error) or the
        join would fan rows out.  ``PartitionedTable.merge`` runs it:
        one left-outer join + one anti join, no driver-side rows."""
        keys = [on] if isinstance(on, str) else list(on)
        with self._autocommit_x(name):
            schema = self._entry(name).schema
            expected = [(f.name, f.dataType) for f in schema.fields]
            got = [(f.name, f.dataType) for f in source.schema.fields]
            if expected != got:
                raise DatabaseException(
                    f"merge into '{name}': schema mismatch; table has "
                    f"{expected}, source has {got}")
            for k in keys:
                if k not in schema.fieldNames():
                    raise DatabaseException(
                        f"merge into '{name}': unknown key column '{k}'")

            def on_frame(df):
                src = merge_source(source, keys, name)
                upd = [c for c in (update_cols if update_cols is not None
                                   else df.columns) if c not in keys]
                return merge_payload(df, df, src, keys, upd,
                                     insert_unmatched)
            return self._write(
                name, lambda t: t.merge(source, keys, update_cols,
                                        insert_unmatched), on_frame)

    def _commit_frames(self, frames: dict) -> None:
        """Publish a transaction's ``{name: (pinned entry, pinned
        version, new content)}``: a table moved since its pin raises
        ConflictException; manifest tables stage their content and
        publish as ONE commit (``partitioned.commit_together``, atomic
        on disk), then DataFrame tables swap."""
        staged, swaps = [], []
        for name, (entry, version, df) in frames.items():
            if self._writable(name) is not entry or entry.version != version:
                raise ConflictException(
                    f"write-write conflict on '{name}': version "
                    f"advanced since this transaction's snapshot; "
                    f"retry on a fresh snapshot")
            if entry.table is None:
                swaps.append((entry, df))
            else:
                staged.append((entry, entry.table._prepare(df, version)))
        if staged:
            try:
                commit_together([(e.table, args) for e, args in staged])
            finally:
                # a retry must pin the newest committed version, also
                # after a conflict with another catalog's commit
                for e, _ in staged:
                    self._refresh(e)
        for entry, df in swaps:
            self._swap(entry, df)

    # ------------------------------------------------------------------ #
    # lookup
    # ------------------------------------------------------------------ #
    def _entry(self, name: str) -> TableEntry:
        if name not in self._tables:
            raise DatabaseException(
                f"unknown table '{name}'; registered: {sorted(self._tables)}")
        return self._tables[name]

    def table(self, name: str) -> DataFrame:
        return self._entry(name).df

    def table_versions(self, name: str) -> list[int]:
        """RETAINED committed version numbers, oldest first (0 = as
        created; stable across ``vacuum``) — Delta-style ``DESCRIBE
        HISTORY`` from the manifests.  A plain parquet or CSV table has
        the one version 0, a DataFrame table none."""
        entry = self._entry(name)
        if entry.table is not None:
            return entry.table.versions()
        return [0] if entry.path is not None else []

    def table_at_version(self, name: str, version: int) -> DataFrame:
        """Time-travel read: the table as committed at ``version``
        (``VERSION AS OF``)."""
        entry = self._entry(name)
        vs = self.table_versions(name)
        if version not in vs:
            if not vs:
                raise DatabaseException(
                    f"table '{name}' is not disk-backed; no version "
                    f"history")
            if 0 <= version < vs[-1]:
                raise DatabaseException(
                    f"table '{name}' version {version} has been "
                    f"vacuumed (or was never committed); retained "
                    f"versions: {vs}")
            raise DatabaseException(
                f"table '{name}' has versions 0..{vs[-1]}, not "
                f"{version}")
        if entry.table is None:
            return entry.df
        return entry.table.read(version=version)

    def vacuum(self, name: str, keep_last: int = 1) -> list[str]:
        """Reclaim storage for old versions (Delta's ``VACUUM``,
        ``PartitionedTable.vacuum``): keep the newest ``keep_last``
        versions (numbers stay stable) and delete every data directory
        none of them references.  Returns the deleted directories."""
        if keep_last < 1:
            raise DatabaseException(
                f"vacuum '{name}': keep_last must be >= 1 (the current "
                f"version is never deleted), got {keep_last}")
        with self._autocommit_x(name):
            entry = self._entry(name)
            if entry.table is None:
                raise DatabaseException(
                    f"table '{name}' is not disk-backed; nothing to "
                    f"vacuum")
            return entry.table.vacuum(keep_last)

    def table_names(self) -> list[str]:
        return sorted(self._tables)

    def schema(self, name: str) -> T.StructType:
        return self._entry(name).schema

    def index_columns(self, name: str) -> tuple[str, ...]:
        return self._entry(name).index_columns

    # ------------------------------------------------------------------ #
    # stats (lazy, held per entry — plans/stats.py)
    # ------------------------------------------------------------------ #
    def stats(self, name: str, histograms: bool = False):
        """The entry's table statistics.  A manifest table's are derived
        from the collected base in its own log (``version_stats``);
        any other table's are collected once per entry."""
        from cs186_query_optimization_project_spark.plans.stats import (
            TableStats,
            version_stats,
        )

        entry = self._entry(name)
        if entry.stats is None or (histograms and not entry.stats.histograms):
            entry.stats = (
                TableStats.collect(entry.df, name, histograms=histograms)
                if entry.table is None else
                version_stats(entry.table, entry.version, name,
                              lambda: entry.df, histograms))
        return entry.stats

    # ------------------------------------------------------------------ #
    # point reads (BPlusTree.lookupKey / containsKey,
    # db/index/BPlusTree.java:106–144; Transaction.getRecord,
    # db/Database.java:317–330)
    # ------------------------------------------------------------------ #
    def lookup(self, table: str, column: str, value: object) -> DataFrame:
        """Point read: all records with ``column == value``.

        The reference descends a B+ tree to one leaf page
        (``BPlusTree.java:106–121``).  On a manifest table, with a probe
        of the column's own type, the files of the entry's version that
        the key's manifest entry, Bloom filter and per-file bounds admit
        are read on the driver when they total at most
        ``partitioned.DRIVER_READ_MAX_BYTES`` (1 MiB): the result is a
        local relation, and collecting it runs no Spark job
        (``PartitionedTable._read_if_small``).  Larger admitted sets,
        other probes and other entries scan with Spark: a pushed
        equality predicate over files sorted on the key at write time,
        so the scan skips every row group whose min/max excludes the
        key — at 100 TB a handful of row groups read instead of the
        table.  Either way the rows equal
        ``table(table).where(col == value)``.
        """
        entry = self._entry(table)
        if entry.table is not None:
            local = entry.table._read_if_small(
                entry.table._manifest(entry.version), column, value)
            if local is not None:
                return local
        return self.table(table).where(F.col(column) == F.lit(value))

    def contains(self, table: str, column: str, value: object) -> bool:
        """``containsKey`` (``BPlusTree.java:123–128``): does any record
        with this key exist?  ``take(1)`` of :meth:`lookup`: no Spark job
        when the lookup reads on the driver, else a limit-1 scan that
        stops at the first hit."""
        return bool(self.lookup(table, column, value).take(1))

    # ------------------------------------------------------------------ #
    # transactions (§2.12: two protocols over the manifest
    # versions — optimistic snapshot (transactions.py, the cluster
    # default) and blocking strict 2PL with waits-for prevention
    # (concurrency.py, full-fidelity reference parity for
    # driver-coordinated workloads))
    # ------------------------------------------------------------------ #
    def begin(self, mode: str = "optimistic"):
        """Open a transaction.

        ``mode="optimistic"`` (default): snapshot reads, buffered DML,
        first-committer-wins validation — never blocks, loser raises
        ``ConflictException`` at commit.
        ``mode="2pl"``: the reference's blocking protocol — S/X table
        locks with FIFO + upgrade priority, waits-for deadlock
        prevention (``DeadlockException`` instead of ever deadlocking),
        commits never conflict."""
        if mode == "optimistic":
            from cs186_query_optimization_project_spark.transactions import (
                Transaction,
            )

            return Transaction(self)
        if mode == "2pl":
            from cs186_query_optimization_project_spark.concurrency import (
                PessimisticTransaction,
            )

            return PessimisticTransaction(self, self._lock_manager)
        raise DatabaseException(
            f"unknown transaction mode {mode!r} "
            f"(expected 'optimistic' or '2pl')")

    # ------------------------------------------------------------------ #
    # query entry points (Transaction.query / queryAs,
    # db/Database.java:221–252)
    # ------------------------------------------------------------------ #
    def query(self, table: str, alias: str | None = None):
        from cs186_query_optimization_project_spark.plans.builder import Query

        self._entry(table)
        return Query(self, table, alias)
