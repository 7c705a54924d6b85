"""Manifest-versioned MVCC tables ("delta-lite") — the engine's one
writable table format.

A table's versions are JSON *manifests* mapping partition values to
data directories, so a DML statement rewrites only the partitions it
touches and every untouched partition's directory is SHARED between
versions.  This is the storage model of Delta/Iceberg re-expressed at
partition granularity with manifests instead of a transaction log
(reference DML surface: ``db/Database.java:317–401``; the reference has
no partitioned storage — its tables are heap files of slotted pages).
An unpartitioned table is one manifest key, ``""``.

Costs at 100 TB:

- ``insert`` / ``delete`` / ``update`` — O(touched partitions), not
  O(table): the statement plans a bounded distinct over the partition
  column of the affected rows (|partitions| rows, never data volume),
  rewrites only those directories, and re-links the rest.
- ``read(partition_values=...)`` — manifest-level pruning: directories
  of non-matching partitions are never even listed, the analog of
  Delta file-skipping (and stronger than parquet row-group skipping —
  no footers are opened at all).
- ``vacuum`` — reachability-based: a directory is deleted only when no
  retained manifest references it, so storage is proportional to churn
  × retention, not commits × table size.
- commit — atomic first-committer-wins: the manifest file is created
  with ``open(..., "x")`` after all data directories are fully
  written, so a concurrent committer of the same next-version loses
  with a named conflict and no torn state is ever readable.  A
  multi-table commit (:func:`commit_together`) makes its manifests
  count only once one shared record says ``committed``; a writer that
  finds the record missing claims it ``aborted`` with the same
  exclusive create (Percolator's primary record).

Insert appends a NEW directory per touched partition (manifest values
are directory LISTS), so pure appends never rewrite existing data;
delete/update collapse the touched partition's list into one rewritten
directory, which doubles as incremental compaction.
"""

from __future__ import annotations

import contextlib
import contextvars
import hashlib
import json
import os
import re as _re
import time as _time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cs186_query_optimization_project_spark import metaio
from cs186_query_optimization_project_spark.errors import (
    ConflictException,
    DatabaseException,
)
from cs186_query_optimization_project_spark.parallel import local_rows_df

#: Partition-column types with exact, injective string keys.  Floats /
#: decimals / timestamps are refused: their string forms are not stable
#: join keys for manifest lookup (Hive has the same restriction in
#: practice).
_KEYABLE = (T.StringType, T.IntegerType, T.LongType, T.ShortType,
            T.ByteType, T.BooleanType, T.DateType)

#: Per-directory Bloom-index geometry (Delta bloom-filter-index /
#: parquet bloom analog at directory granularity).  4 probe hashes;
#: each directory's filter SIZES ITSELF from its own distinct-position
#: count (~10 bits per distinct value, power-of-two in
#: [_BLOOM_MIN_BITS, _BLOOM_MAX_BITS]) — a fixed size would saturate
#: on big directories and prune nothing.  Positions are computed
#: modulo _BLOOM_MAX_BITS JVM-side (so the executor-side distinct is
#: bounded by it), then folded to the directory's m — m divides
#: 2^23, so ``(h % 2^23) % m == h % m`` and lookups replay the fold
#: driver-side.  Worst case 1 MiB per (directory, column); degrade is
#: fail-open (a saturated filter keeps its directory, never a wrong
#: skip).
_BLOOM_MIN_BITS = 8192
_BLOOM_MAX_BITS = 1 << 23
_BLOOM_K = 4

#: Shape of a coalescible tombstone: ``col IN (lit, lit, ...)`` — the
#: predicate :func:`delete_soft` callers like ``postings_remove_soft``
#: generate per batch.  Anything else is left verbatim (coalescing is
#: a pure manifest-size/read-filter optimization, never required).
_INLIST_HEAD = _re.compile(
    r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s+IN\s*\((.*)\)\s*$", _re.S)

#: Most parquet bytes a lookup or view read takes on the driver
#: (:meth:`PartitionedTable._read_if_small`) instead of a Spark scan.
#: Its cost grows with the rows handed to Spark, and a view read hands
#: over all it reads.  Measured on a 4-vCPU host, 10-column tables,
#: collect() of every row: the driver read used less CPU and no more
#: wall time up to 1 MiB (e.g. 219 vs 249 ms CPU, 144 vs 140 ms wall
#: at 0.97 MB); from 1.2 MB on it took 8–26% more wall time, and from
#: 3.9–8.5 MB more CPU too.  The decoded rows stay far below Spark's
#: ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB), above
#: which ``createDataFrame`` would run a job to parallelize them.
DRIVER_READ_MAX_BYTES = 1 << 20


def _parse_inlist(cond: str):
    """``(column, values)`` when ``cond`` is exactly a homogeneous
    IN-list of int or single-quoted-string literals (the shape
    ``_sql_id_literal`` renders: ``''`` quote-doubling plus ``\\``
    doubling, matching Spark's default escaped string literals);
    ``None`` for anything else — parse conservatively, never guess."""
    m = _INLIST_HEAD.match(cond)
    if not m:
        return None
    col, body = m.group(1), m.group(2)
    vals: list = []
    i, n = 0, len(body)
    while i < n:
        while i < n and body[i] in " \t\n":
            i += 1
        if i >= n:
            return None
        if body[i] == "'":
            j, buf = i + 1, []
            closed = False
            while j < n:
                ch = body[j]
                if ch == "\\":
                    if j + 1 < n and body[j + 1] in ("\\", "'"):
                        buf.append(body[j + 1])
                        j += 2
                        continue
                    return None    # unknown escape: don't coalesce
                if ch == "'":
                    if j + 1 < n and body[j + 1] == "'":
                        buf.append("'")
                        j += 2
                        continue
                    closed = True
                    break
                buf.append(ch)
                j += 1
            if not closed:
                return None
            vals.append("".join(buf))
            i = j + 1
        else:
            j = i + 1 if body[i] == "-" else i
            while j < n and body[j].isdigit():
                j += 1
            if j == i or (body[i] == "-" and j == i + 1):
                return None
            vals.append(int(body[i:j]))
            i = j
        while i < n and body[i] in " \t\n":
            i += 1
        if i < n:
            if body[i] != ",":
                return None
            i += 1
            if i >= n:
                return None       # trailing comma
    if not vals:
        return None
    types = {type(v) for v in vals}
    if types not in ({int}, {str}):
        return None               # mixed-type list: leave verbatim
    return col, vals


def _render_inlist(col: str, vals: list) -> str:
    """Inverse of :func:`_parse_inlist` — backslashes double BEFORE
    quote-doubling (manifest tombstones are ALWAYS stored in Spark's
    DEFAULT string-literal grammar, ``escapedStringLiterals=false``;
    sessions running the deprecated legacy grammar are refused at
    record/apply time by :func:`_assert_default_literal_grammar`)."""
    def lit(v):
        if isinstance(v, int):
            return str(v)
        return "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"
    return f"{col} IN ({', '.join(lit(v) for v in sorted(set(vals)))})"


#: deprecated legacy-grammar conf under which stored tombstone text
#: would silently parse differently (see _assert_default_literal_grammar)
_LEGACY_LITERAL_CONF = "spark.sql.parser.escapedStringLiterals"


def _legacy_literal_risk(text: str) -> bool:
    """True when SQL text ``text`` parses DIFFERENTLY under the
    deprecated legacy string-literal grammar
    (``escapedStringLiterals=true``) than under Spark's default one:
    in legacy mode backslashes stop being escapes AND quote-doubling
    changes meaning (``'o''k'`` reads back as ``o''k``, two literal
    quotes — verified against Spark 4's parser).  Text free of both
    constructs means the same thing under either grammar."""
    return "\\" in text or "''" in text


def _assert_default_literal_grammar(spark, text: str, what: str) -> None:
    """Manifest tombstones are STORED SQL text, rendered under and
    re-parsed assuming Spark's DEFAULT string-literal grammar.  A
    session running the deprecated legacy grammar
    (``escapedStringLiterals=true``) would record or apply ``text``
    with different semantics — re-introducing the silent
    missed-deletion / diverged-constants corruption class the escaped
    rendering exists to prevent — so any predicate on which the two
    grammars diverge fails LOUDLY here instead.  Cheap: one string
    scan, and the conf lookup only happens for at-risk text."""
    if spark is None or not _legacy_literal_risk(text):
        return
    try:
        legacy = str(spark.conf.get(
            _LEGACY_LITERAL_CONF, "false")).lower() == "true"
    except Exception:
        legacy = False
    if legacy:
        raise DatabaseException(
            f"{what}: predicate {text!r} contains backslashes or "
            f"doubled quotes, which parse differently under "
            f"{_LEGACY_LITERAL_CONF}=true (the deprecated legacy "
            f"grammar); tombstone predicates are stored and applied "
            f"under the DEFAULT grammar — unset the conf and retry")


def _coalesce_tombstone(existing: list[str], cond: str) -> tuple[
        list[str], bool]:
    """``(new_list, changed)`` after recording ``cond`` against one
    directory's tombstone list: an exact duplicate of ANY recorded
    entry is dropped (idempotent retry), and a same-column same-type
    IN-list merges into the MOST RECENT same-shape entry anywhere in
    the list (one predicate, union of values) so N small soft-delete
    batches cost one read-time filter and one manifest entry instead
    of N — even when other predicate shapes (ranges, other columns)
    interleave between the IN-list batches.  ``changed=False`` means
    the list is semantically untouched — the new predicate masks
    nothing the union of already-recorded same-column IN-lists
    doesn't — which callers use to keep cardinalities exact on no-op
    retries.  Merging into a non-terminal entry is sound because
    reads AND together ``NOT(cond_i)`` with NULL keeping the row —
    the conjunction is order-insensitive, and for IN-lists over one
    column it equals NOT(col IN (union))."""
    if cond in existing:
        return list(existing), False
    new = _parse_inlist(cond)
    if new and existing:
        col, vals = new
        vtype = type(vals[0])
        covered: set = set()      # union over ALL mergeable entries
        target = None             # index of the most recent one
        for i, e in enumerate(existing):
            old = _parse_inlist(e)
            if old and old[0] == col and type(old[1][0]) is vtype:
                covered |= set(old[1])
                target = i
        if target is not None:
            if not set(vals) - covered:
                # semantic no-op (retry / re-delete): keep the list
                # byte-identical so manifests stay stable
                return list(existing), False
            tvals = _parse_inlist(existing[target])[1]
            out = list(existing)
            out[target] = _render_inlist(
                col, sorted(set(tvals) | set(vals)))
            return out, True
    return list(existing) + [cond], True


def listed_versions(log: str) -> list[int]:
    """Every entry number of the write-once ``v<N>.json`` log directory
    ``log``, oldest first: a table's ``_manifests`` (committed or not),
    the ``_table_stats/`` log or a change cursor."""
    out = []
    for name in metaio.IO.list_dir(log):
        if name.startswith("v") and name.endswith(".json"):
            out.append(int(name[1:-len(".json")]))
    return sorted(out)


def log_newest(log: str) -> tuple[int, dict] | None:
    """``(N, payload)`` of the newest entry of ``log``; None when the
    log is absent or empty.  An entry gone between the listing and the
    read was pruned by a newer publish, so the listing is retried."""
    while True:
        try:
            vs = listed_versions(log)
        except FileNotFoundError:
            return None
        if not vs:
            return None
        try:
            return vs[-1], json.loads(metaio.IO.read_text(
                os.path.join(log, f"v{vs[-1]}.json")))
        except FileNotFoundError:
            continue


def log_publish(log: str, number: int, payload: dict) -> bool:
    """Publish ``payload`` as entry ``number`` of ``log`` by exclusive
    create, then remove the older entries.  False when a concurrent
    publisher took ``number`` with other content (this publish lost);
    an identical entry is this publish's own earlier attempt."""
    text = json.dumps(payload, sort_keys=True)
    path = os.path.join(log, f"v{number}.json")
    metaio.IO.make_dirs(log, exist_ok=True)
    try:
        metaio.IO.write_new(path, text)
    except FileExistsError:
        if metaio.IO.read_text(path) != text:
            return False
    for v in listed_versions(log):
        if v < number:
            with contextlib.suppress(FileNotFoundError):
                metaio.IO.remove(os.path.join(log, f"v{v}.json"))
    return True


def load_manifest(root: str, version: int) -> dict | None:
    """Manifest ``version`` under ``root``; None (invisible) while the
    multi-table commit that wrote it has not committed."""
    man = json.loads(metaio.IO.read_text(
        os.path.join(root, "_manifests", f"v{version}.json")))
    record = man.get("commit")
    if record is None:
        return man
    try:
        state = metaio.IO.read_text(record)
    except FileNotFoundError:
        return None
    return man if state == "committed" else None


def _abort(record: str) -> bool:
    """Claim a multi-table commit aborted unless it committed; True
    when it is aborted."""
    try:
        metaio.IO.write_new(record, "aborted")
        return True
    except FileExistsError:
        return metaio.IO.read_text(record) == "aborted"


#: The open :func:`deferred_commits` scope: (staged pairs, base
#: versions), or None.
_DEFERRED: contextvars.ContextVar[tuple[list, dict] | None] = \
    contextvars.ContextVar("deferred_commits", default=None)


@contextlib.contextmanager
def deferred_commits(base: dict[str, int] | None = None):
    """Stage instead of publish: every verb that commits inside the
    scope writes its data as usual, but its manifest is held back as a
    ``(table, commit_args)`` pair appended to the yielded list, ready
    for one :func:`commit_together` after the scope.  A table takes at
    most one staged commit per scope.  ``base`` maps a table root to
    the version its staged commit must follow: a verb that staged on
    top of a newer commit (another writer's, landed since the caller
    read ``base``) raises ConflictException."""
    staged: list = []
    token = _DEFERRED.set((staged, base or {}))
    try:
        yield staged
    finally:
        _DEFERRED.reset(token)


def commit_together(commits: list,
                    meta: dict[str, dict] | None = None) -> dict[str, int]:
    """Publish ``(table, commit_args)`` pairs from
    :meth:`PartitionedTable._prepare` or :func:`deferred_commits` as
    ONE commit; returns the version each table landed at, by root.
    Several tables each get a manifest naming one record under the
    first table's ``_commits/``; creating it as ``committed`` is the
    commit point, so a crash before leaves every table on its old
    version.  Each manifest lists as ``partners`` the versions the
    tables before it landed at (a table moves past a number held by a
    commit that never committed).  ``meta`` maps a table root to a
    payload its manifest carries (later commits that pass none carry
    it forward); those tables publish last, so their ``partners``
    name every other table's version.  A lost race on any table
    raises ConflictException."""
    meta = meta or {}
    commits = sorted(commits, key=lambda c: c[0].root in meta)
    if len(commits) == 1:
        table, args = commits[0]
        return {table.root: table._commit(**args,
                                          meta=meta.get(table.root))}
    record = os.path.join(commits[0][0].root, "_commits",
                          f"{uuid.uuid4().hex}.json")
    metaio.IO.make_dirs(os.path.dirname(record), exist_ok=True)
    landed: dict[str, int] = {}
    try:
        for table, args in commits:
            landed[table.root] = table._commit(
                **args, commit=record, partners=list(landed.values()),
                meta=meta.get(table.root))
    except Exception:
        with contextlib.suppress(Exception):
            _abort(record)   # best effort: the next writer claims it
        raise
    try:
        metaio.IO.write_new(record, "committed")
    except FileExistsError:
        raise ConflictException(
            "multi-table commit was claimed aborted by a concurrent "
            "writer of one of its tables; retry on a fresh "
            "snapshot") from None
    return landed


def merge_source(source: DataFrame, keys: list[str],
                 target: str) -> DataFrame:
    """MERGE's source, materialized once (every later step reads it;
    Delta merge materializes its source too) and checked by one
    aggregation — row count vs distinct key structs, so NULL keys group
    as equal — for duplicate keys, which would fan target rows out."""
    source = source.localCheckpoint()
    dup = source.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.struct(*[F.col(k) for k in keys]))
        .alias("d")).first()
    if dup["n"] != dup["d"]:
        raise DatabaseException(
            f"merge into '{target}': source has duplicate keys on "
            f"{keys}; each target row must match at most one source "
            f"row")
    return source


def merge_payload(rewrite: DataFrame | None, current: DataFrame,
                  source: DataFrame, keys: list[str],
                  update_cols: list[str],
                  insert_unmatched: bool) -> DataFrame | None:
    """The rows one MERGE writes: ``rewrite`` (the slice of ``current``
    it rewrites, or None) with matched rows' ``update_cols`` from
    ``source``, plus the unmatched source rows if ``insert_unmatched``
    — one left-outer join and one anti join.  None: nothing to write."""
    out = None
    if rewrite is not None:
        src = source.select(
            *[F.col(k).alias(f"__mk_{k}") for k in keys],
            *[F.col(c).alias(f"__mv_{c}") for c in update_cols],
            F.lit(True).alias("__matched"))
        cond = None
        for k in keys:
            eq = F.col(k) == F.col(f"__mk_{k}")
            cond = eq if cond is None else (cond & eq)
        out = (rewrite.join(src, cond, "left_outer")
               .select(*[
                   (F.when(F.col("__matched").isNotNull(),
                           F.col(f"__mv_{c}"))
                    .otherwise(F.col(c)).alias(c)
                    if c in update_cols else F.col(c))
                   for c in rewrite.columns]))
    if insert_unmatched:
        new = source.join(current.select(*keys), keys, "left_anti")
        out = new if out is None else out.unionByName(new)
    return out


class PartitionedTable:
    """A manifest-versioned, hive-partitioned parquet table.

    Layout under ``root``::

        root/_manifests/v<N>.json         one per published version
        root/parts/<uuid>/__p=<val>/      data directories — each
                                          <uuid> staging is ONE write
                                          job's partitionBy output
                                          (hierarchical layouts nest:
                                          __p0=<v>/__p1=<v>/...)

    Every write (create / insert / a DML statement's rewrites) is one
    ``partitionBy`` job on DUPLICATED partition columns (``__p``, or
    ``__p0..n`` for multi-column hive layouts), so data files keep the
    real columns while hive routing happens on the copies — one job
    regardless of how many partitions it lands in.  A manifest is
    ``{"version": N, "partition_cols": [c, ...], "schema": ddl,
    "parts": {key: [dir, ...]}}`` where ``key`` is the hive path
    encoding of the value tuple ('/'-joined components; ``""`` and
    ``parts/<uuid>/data`` when unpartitioned).  Directories are
    immutable once published; versions share them.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        #: per-staging `_stats.json` parse cache — sound because the
        #: sidecar is published write-once with its staging (exclusive
        #: create, never replaced); without it every skipping loop
        #: re-reads the same sidecar once per DIRECTORY per query
        self._stats_cache: dict[str, dict] = {}
        #: versions known to count (a committed one stays committed)
        self._counted: set[int] = set()
        if not metaio.IO.is_dir(self._manifest_dir()):
            raise DatabaseException(
                f"no partitioned table at '{self.root}' "
                f"(missing _manifests); use PartitionedTable.create")

    # ------------------------------------------------------------------ #
    # creation
    # ------------------------------------------------------------------ #
    @classmethod
    def create(cls, spark: SparkSession, df: DataFrame, root: str,
               partition_col: str | list[str],
               bloom_cols: list[str] | None = None) \
            -> "PartitionedTable":
        """Materialize ``df`` as version 0, one directory per partition
        value, in ONE ``partitionBy`` write job (each task routes its
        rows to per-value files; no pre-shuffle — callers with many
        small partitions can ``repartition(partition_col)`` first to
        get one file per partition).

        ``bloom_cols`` declares per-directory Bloom indexes (recorded
        in the manifest, maintained by EVERY subsequent write): point
        lookups via :meth:`read_point` skip directories whose filter
        proves the value absent — the high-cardinality-column analog
        of the footer min/max skipping, for columns where ranges
        overlap everywhere but membership is sparse.

        ``partition_col`` may be a LIST for hierarchical hive layouts
        (the standard 100 TB shape, e.g. ``["o_orderdate", "source"]``
        → ``date=.../source=.../``): manifest keys become the hive
        path tuple, and every partition-aware read prunes exactly on
        any key prefix or component.  An EMPTY list makes an
        unpartitioned table: one manifest key, every statement
        rewrites (or appends to) the whole table."""
        return cls._create(spark, df, root, partition_col, bloom_cols, ())

    @classmethod
    def _create(cls, spark: SparkSession, df: DataFrame, root: str,
                partition_col, bloom_cols, sort_cols,
                txns: dict[str, int] | None = None) -> "PartitionedTable":
        """:meth:`create` plus ``sort_cols``, a sort order every write
        keeps inside each file (manifest policy, like ``bloom_cols``) —
        the catalog's ``index_columns`` — and v0's ``txns`` map."""
        root = root.rstrip("/")
        pcols = [partition_col] if isinstance(partition_col, str) \
            else list(partition_col)
        cls._check_partition_cols(pcols, df.schema, f"create '{root}'")
        for c in [*(bloom_cols or []), *sort_cols]:
            if c not in df.columns:
                raise DatabaseException(
                    f"column '{c}' not in {df.columns}")
        metaio.IO.make_dirs(os.path.join(root, "_manifests"),
                            exist_ok=False)
        metaio.IO.make_dirs(os.path.join(root, "parts"),
                            exist_ok=True)
        pt = cls(spark, root)
        # no manifest yet: the write reads the table policy from here
        policy = {"bloom_cols": list(bloom_cols or []),
                  "sort_cols": list(sort_cols)}
        try:
            # NULL partition values are detected from the staged
            # layout inside _write_partitions (no pre-write pass over
            # df); a failed create retracts the fresh _manifests dir
            # so a corrected retry can re-create the table
            parts = pt._write_partitions(df, pcols, policy, op="create")
            pt._commit(0, pcols, df.schema, parts, txns, op="CREATE",
                       base={}, **policy)
        except Exception:
            metaio.IO.remove_tree(os.path.join(root, "_manifests"))
            raise
        return cls(spark, root)

    @staticmethod
    def _check_partition_cols(pcols: list[str], schema: T.StructType,
                              what: str) -> None:
        if len(set(pcols)) != len(pcols):
            raise DatabaseException(
                f"{what}: partition columns {pcols} must be distinct")
        for c in pcols:
            if c not in schema.fieldNames():
                raise DatabaseException(
                    f"{what}: no column '{c}' (not in "
                    f"{schema.fieldNames()})")
            if not isinstance(schema[c].dataType, _KEYABLE):
                raise DatabaseException(
                    f"{what}: column '{c}' has type {schema[c].dataType}; "
                    f"only string/integral/boolean/date columns "
                    f"partition (float keys are not stable manifest "
                    f"keys)")

    def _check_schema(self, schema: T.StructType, got: T.StructType,
                      what: str) -> None:
        if [(f.name, f.dataType) for f in schema.fields] != \
                [(f.name, f.dataType) for f in got.fields]:
            raise DatabaseException(
                f"{what} into '{self.root}': schema mismatch; table has "
                f"{schema.simpleString()}, rows have {got.simpleString()}")

    # ------------------------------------------------------------------ #
    # manifest plumbing
    # ------------------------------------------------------------------ #
    def _manifest_dir(self) -> str:
        return os.path.join(self.root, "_manifests")

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._manifest_dir(), f"v{version}.json")

    def versions(self) -> list[int]:
        """Retained (non-vacuumed) committed version numbers, oldest
        first.  Numbers are stable across vacuum."""
        return [v for v in listed_versions(self._manifest_dir())
                if v in self._counted or self._load(v) is not None]

    def _load(self, version: int) -> dict | None:
        man = load_manifest(self.root, version)
        if man is not None:
            self._counted.add(version)
        return man

    def _manifest(self, version: int | None = None) -> dict:
        listed = listed_versions(self._manifest_dir())
        for v in (reversed(listed) if version is None
                  else [version] if version in listed else []):
            man = self._load(v)
            if man is not None:
                return man
        vs = self.versions()
        if not vs:
            raise DatabaseException(
                f"partitioned table '{self.root}' has no retained "
                f"versions")
        raise DatabaseException(
            f"partitioned table '{self.root}' version {version} is "
            f"not retained (vacuumed or never published); retained: "
            f"{vs}")

    def _commit(self, version: int, partition_cols,
                schema: T.StructType, parts: dict[str, list[str]],
                txns: dict[str, int] | None = None,
                tombstones: dict[str, list[str]] | None = None,
                constraints: dict[str, str] | None = None,
                bloom_cols: list[str] | None = None,
                tomb_counts: dict[str, int] | None = None,
                op: str = "WRITE", sort_cols: list[str] | None = None,
                commit: str | None = None, meta: dict | None = None,
                partners: list[int] | None = None,
                base: dict | None = None) -> int:
        """Publish: create v<version>.json atomically-exclusively and
        return the version it landed at.  All data dirs are already
        fully written, so the manifest's appearance IS the commit
        point; a concurrent committer of the same version number hits
        FileExistsError → first-committer-wins (optimistic, like
        ``transactions.py``) — unless that version's multi-table commit
        never committed: then it is claimed aborted and the next number
        tried.  Inside :func:`deferred_commits` the arguments are
        staged instead.  ``commit`` and ``partners``: see
        :func:`commit_together`.  ``meta`` is a caller's payload (an
        index header); like the table policy below, ``None`` carries
        the current manifest's forward.  ``base`` is that current
        manifest when the caller already holds it (the one it planned
        the commit on), so the commit reads no manifest of its own.
        ``txns`` is the exactly-once watermark map for streaming sinks
        (Delta's ``txn`` action): highest committed batch id per sink
        id — DML commits must carry the caller's manifest's map forward
        or replay protection would be lost."""
        scope = _DEFERRED.get()
        if scope is not None and commit is None:
            staged, base = scope
            if any(t.root == self.root for t, _ in staged):
                raise DatabaseException(
                    f"'{self.root}' already has a deferred commit")
            if self.root in base and version != base[self.root] + 1:
                raise ConflictException(
                    f"partitioned table '{self.root}' is at version "
                    f"{version - 1}, not the expected "
                    f"{base[self.root]}; retry on a fresh read")
            staged.append((self, {
                "version": version, "partition_cols": partition_cols,
                "schema": schema, "parts": parts, "txns": txns,
                "tombstones": tombstones, "constraints": constraints,
                "bloom_cols": bloom_cols, "tomb_counts": tomb_counts,
                "op": op, "sort_cols": sort_cols}))
            return version
        cur = base
        if cur is None:
            try:
                cur = self._manifest()
            except DatabaseException:
                cur = {}  # first commit of a fresh table
        # table POLICY — CHECK constraints, bloom-index and sort-order
        # declarations, the caller's meta — carries forward unless a
        # caller explicitly changes it (add/drop/clone pass their own)
        if meta is None:
            meta = cur.get("meta")
        if constraints is None:
            constraints = cur.get("constraints", {})
        if bloom_cols is None:
            bloom_cols = cur.get("bloom_cols", [])
        if sort_cols is None:
            sort_cols = cur.get("sort_cols", [])
        if tomb_counts is None:
            # per-directory masked-row cardinalities travel WITH their
            # tombstones: carried forward by default (a dir's tombstone
            # set only changes via delete_soft, which passes updated
            # counts, or a rewrite, which drops the dir and prunes
            # both); restore/clone pass the source manifest's counts
            tomb_counts = cur.get("tomb_counts", {})
        pcols = [partition_cols] if isinstance(partition_cols, str) \
            else list(partition_cols)
        referenced = {d for ds in parts.values() for d in ds}
        live_tombs = {d: list(ts) for d, ts in
                      sorted((tombstones or {}).items())
                      if ts and d in referenced}
        payload = {
            "version": version,
            # single-column manifests keep the legacy scalar field
            # (readable by pre-multi-column code and tests); the list
            # is the source of truth either way (see _pcols_of)
            **({"partition_col": pcols[0]} if len(pcols) == 1 else {}),
            "partition_cols": pcols,
            "schema": schema.simpleString(),
            # keys sorted for stable manifests; dir lists keep APPEND
            # order (oldest first) so history reads naturally
            "parts": {k: list(v) for k, v in sorted(parts.items())},
            "txns": dict(sorted((txns or {}).items())),
            # tombstones pruned to referenced dirs: a rewrite that
            # dropped a directory materialized its soft deletes
            "tombstones": live_tombs,
            # Delta DV-cardinality analog: exact masked-row count per
            # tombstoned directory, so metadata-only COUNT subtracts
            # instead of failing closed; pruned with its tombstones
            "tomb_counts": {d: int(n) for d, n in
                            sorted((tomb_counts or {}).items())
                            if d in live_tombs},
            "constraints": dict(sorted(constraints.items())),
            "bloom_cols": sorted(bloom_cols),
            **({"sort_cols": list(sort_cols)} if sort_cols else {}),
            **({"commit": commit} if commit else {}),
            **({"partners": partners} if partners else {}),
            **({"meta": meta} if meta is not None else {}),
            # audit fields (DESCRIBE HISTORY): never read by any
            # correctness path, so the wall-clock stamp is harmless
            "op": op,
            "ts": _time.time(),
        }
        while True:
            try:
                metaio.IO.write_new(self._manifest_path(version),
                                    json.dumps(payload))
                return version
            except FileExistsError:
                try:
                    record = json.loads(metaio.IO.read_text(
                        self._manifest_path(version))).get("commit")
                except ValueError:
                    record = None   # still being written: it is live
                if record is None or not _abort(record):
                    raise ConflictException(
                        f"partitioned table '{self.root}': version "
                        f"{version} was published concurrently; retry "
                        f"on a fresh read") from None
                version = payload["version"] = version + 1

    def _prepare(self, df: DataFrame, version: int) -> dict:
        """Stage ``df`` as the whole content of the version after
        ``version``; returns :meth:`_commit`'s arguments for
        :func:`commit_together`."""
        man = self._manifest(version)
        pcols = self._pcols_of(man)
        parts = self._write_partitions(
            df, pcols, man, op="commit",
            enforce=man.get("constraints", {}))
        return {"version": version + 1, "partition_cols": pcols,
                "schema": T._parse_datatype_string(man["schema"]),
                "parts": parts, "txns": man.get("txns", {}),
                "op": "TRANSACTION"}

    @staticmethod
    def _pcols_of(man: dict) -> list[str]:
        """The partitioning column list of a manifest — reads the
        modern ``partition_cols`` field, falling back to the legacy
        scalar ``partition_col`` (pre-multi-column manifests)."""
        pc = man.get("partition_cols")
        return list(pc) if pc is not None else [man["partition_col"]]

    def partition_cols(self) -> list[str]:
        return self._pcols_of(self._manifest())

    def partition_col(self) -> str:
        cols = self.partition_cols()
        if len(cols) != 1:
            raise DatabaseException(
                f"'{self.root}' is partitioned on {cols}; use "
                f"partition_cols()")
        return cols[0]

    def _ckey(self, values, pcols: list[str]) -> str:
        """The composite manifest key for one partition — per-level
        ``_key`` components joined by '/', mirroring the hive path.
        ``values`` is a scalar for single-column tables, a full tuple
        for multi-column ones.  Multi-column string values may not
        contain '/' (the join would be ambiguous); the write path
        enforces the same."""
        if not isinstance(values, (tuple, list)):
            values = (values,)
        if len(values) != len(pcols):
            raise DatabaseException(
                f"partition value {values!r} does not match partition "
                f"columns {pcols} (give one value per column)")
        ks = []
        for v in values:
            k = self._key(v)
            if len(pcols) > 1 and "/" in k:
                raise DatabaseException(
                    f"multi-column partition value {v!r} contains '/' "
                    f"(ambiguous composite key); use a sentinel")
            ks.append(k)
        return "/".join(ks)

    def _key(self, value) -> str:
        """The manifest key for a partition value — must equal Spark's
        hive path encoding of it, so keys from ``partition_values=``
        lookups and keys parsed from written directories agree."""
        if value is None:
            raise DatabaseException("NULL partition value")
        if isinstance(value, bool):
            return "true" if value else "false"
        key = str(value)  # str verbatim; int digits; date ISO
        if not key:
            raise DatabaseException(
                "empty-string partition value (hive paths cannot "
                "represent it distinctly); use a sentinel")
        return key

    @staticmethod
    def _file_dir(fname: str, known: set) -> str | None:
        """Map an ``input_file_name()`` URI back to one of the
        manifest's data directories, or None when no decoding matches
        (relative table root, exotic URI encoding) — the caller fails
        closed for just that file's partition."""
        from urllib.parse import unquote, urlparse
        d = os.path.dirname(urlparse(fname).path)
        if d in known:
            return d
        d = unquote(d)
        return d if d in known else None

    def file_directories(self, files, version: int | None = None) \
            -> dict[str, str | None]:
        """Map ``input_file_name()`` URIs back to the manifest
        directory each belongs to (``None`` when no decoding matches
        — the caller fails closed for that file).  Pure driver-side
        metadata, zero Spark jobs.  This is the hook that lets a
        caller-run aggregate grouped by ``input_file_name()`` feed
        :meth:`delete_soft`'s per-DIRECTORY masked counts, keeping
        metadata-only COUNT exact on multi-directory partitions (the
        append-then-soft-delete shape) at zero extra jobs."""
        man = self._manifest(version)
        known = {d for ds in man["parts"].values() for d in ds}
        return {f: self._file_dir(f, known) for f in files}

    def _new_dir(self) -> str:
        return os.path.join(self.root, "parts", uuid.uuid4().hex)

    @staticmethod
    def _hive_names(pcols: list[str]) -> list[str]:
        """The duplicated hive-routing column names: ``__p`` for
        single-column tables (the historical layout every existing
        manifest references), ``__p0``, ``__p1``, ... for
        hierarchical ones."""
        return ["__p"] if len(pcols) == 1 else \
            [f"__p{i}" for i in range(len(pcols))]

    def _write_partitions(self, df: DataFrame,
                          partition_cols, policy: dict,
                          allowed_keys: set | None = None,
                          op: str = "write",
                          enforce: dict | None = None,
                          sort_cols: list[str] | None = None) \
            -> dict[str, list[str]]:
        """Write every partition of ``df`` in ONE Spark job:
        ``partitionBy`` on duplicated columns (``__p`` / ``__p0..n``),
        so the data files keep the real partition columns while hive
        routing happens on the copies.  One job regardless of
        partition count — a per-partition write loop would launch
        |partitions| jobs, which at thousands of partitions is the
        difference between one pass and a scheduler meltdown.  Returns
        ``{composite_key: [leaf_dir]}`` parsed from the staging
        layout; each LEAF PARENT gets its own immutable `_stats.json`
        sidecar (leaf basename → stats), so skipping readers resolve
        stats with ``dirname(d)``/``basename(d)`` at any nesting
        depth.

        Write-path GUARDS run against the STAGED layout, not as
        pre-write jobs over ``df``: a NULL (or empty-string) partition
        value surfaces as a ``__HIVE_DEFAULT_PARTITION__`` directory,
        and with ``allowed_keys`` (the overwrite_partitions
        replaceWhere contract) a stray row surfaces as an unexpected
        staged key — both are driver-side set checks on the walk
        result.  The old shape ran one full aggregation job over the
        input per commit BEFORE the write; for an expensive upstream
        plan (a tokenization, a join) that pass re-executed the whole
        plan, and at warehouse scale it is an entire extra table scan
        per commit.  A guard violation removes the staging tree before
        raising, so nothing uncommitted survives.

        ``enforce`` (the table's CHECK constraints) rides the write
        job the same way: per-constraint violation counts are
        observe() metrics over the rows being written — previously a
        separate pre-write aggregation job per constrained commit —
        and a violation discards the staging before raising, so the
        published table never sees the batch.

        ``policy`` is the manifest the write builds on (or create's
        declarations): its ``bloom_cols`` get filters, and files keep
        ``sort_cols`` order (default: its declared one)."""
        from urllib.parse import unquote

        from pyspark.sql import Observation

        pcols = [partition_cols] if isinstance(partition_cols, str) \
            else list(partition_cols)
        names = self._hive_names(pcols)
        staging = self._new_dir()
        tmp = df
        for n, c in zip(names, pcols):
            tmp = tmp.withColumn(n, F.col(c))
        obs = None
        if enforce:
            obs = Observation()
            tmp = tmp.observe(obs, *[
                F.coalesce(F.sum((F.expr(e) == F.lit(False))
                                 .cast("bigint")), F.lit(0))
                .alias(f"__viol_{n}")
                for n, e in sorted(enforce.items())])
        if sort_cols is None:
            sort_cols = policy.get("sort_cols", [])
        if sort_cols:
            # routing columns first: that is the order the partitioned
            # writer needs, so Spark adds no sort of its own on top
            tmp = tmp.sortWithinPartitions(*names, *sort_cols)
        out: dict[str, list[str]] = {}
        leaf_name: dict[str, str] = {}
        leaf_parent: dict[str, str] = {}
        if names:
            tmp.write.mode("error").partitionBy(*names).parquet(staging)
        else:
            out[""] = [os.path.join(staging, "data")]
            leaf_name[""], leaf_parent[""] = "data", staging
            tmp.write.mode("error").parquet(out[""][0])
        if obs is not None:
            metrics = obs.get
            for n in sorted(enforce):
                viol = int(metrics[f"__viol_{n}"] or 0)
                if viol:
                    metaio.IO.remove_tree(staging)
                    raise DatabaseException(
                        f"{op} into '{self.root}' violates CHECK "
                        f"constraint '{n}' ({enforce[n]}): {viol} "
                        f"rows")
        hive_default = []

        def walk(cur: str, level: int, key_parts: list[str]) -> None:
            prefix = f"{names[level]}="
            for nm in sorted(metaio.IO.list_dir(cur)):
                if not nm.startswith(prefix):
                    continue
                val = unquote(nm[len(prefix):])
                if val == "__HIVE_DEFAULT_PARTITION__":
                    hive_default.append(pcols[level])
                if len(pcols) > 1 and "/" in val:
                    raise DatabaseException(
                        f"multi-column partition value {val!r} "
                        f"contains '/' (ambiguous composite key); "
                        f"use a sentinel")
                child = os.path.join(cur, nm)
                kp = key_parts + [val]
                if level + 1 == len(pcols):
                    key = "/".join(kp)
                    out[key] = [child]
                    leaf_name[key] = nm
                    leaf_parent[key] = cur
                else:
                    walk(child, level + 1, kp)

        if names:
            walk(staging, 0, [])
        if hive_default:
            # disambiguate (error path only — one job nothing healthy
            # pays): Spark writes NULL, '' and the literal string
            # '__HIVE_DEFAULT_PARTITION__' to the same directory; only
            # the last is representable, and `_key` already refuses ''.
            # The probe reads the STAGED bytes — the data files keep
            # the real partition columns — not the caller's input
            # plan: a non-deterministic upstream re-execution could
            # show no NULL rows while the staged files do contain
            # them, silently publishing NULL rows under the literal
            # key.  The staging IS what a commit would publish.
            cond = None
            for c in set(hive_default):
                e = F.col(c).isNull()
                if isinstance(df.schema[c].dataType, T.StringType):
                    e = e | (F.col(c) == "")
                cond = e if cond is None else (cond | e)
            if self.spark.read.parquet(staging).where(cond).take(1):
                metaio.IO.remove_tree(staging)
                raise DatabaseException(
                    f"{op} into '{self.root}': NULL partition value "
                    f"(or empty string — hive paths cannot represent "
                    f"it) in column(s) {sorted(set(hive_default))}; "
                    f"the partition column contains NULLs; assign an "
                    f"explicit sentinel partition first")
        if allowed_keys is not None and not set(out) <= allowed_keys:
            strays = sorted(set(out) - allowed_keys)
            metaio.IO.remove_tree(staging)
            raise DatabaseException(
                f"{op} into '{self.root}': rows fall outside the "
                f"named partitions (e.g. {pcols}={strays[0]!r})")
        by_parent: dict[str, dict] = {} if out else {staging: {}}
        for key, ds in out.items():
            by_parent.setdefault(leaf_parent[key], {})[
                leaf_name[key]] = self._dir_stats(ds[0])
        bloom_cols = [c for c in policy.get("bloom_cols", [])
                      if c in df.columns]  # fail-open when absent
        if bloom_cols and names and out:
            for (key, c), bloom in self._compute_blooms(
                    staging, bloom_cols, set(out), names).items():
                by_parent[leaf_parent[key]][leaf_name[key]] \
                    .setdefault("__bloom", {})[c] = bloom
        # sidecars, immutable with the staging: per-directory min/max
        # bounds (and bloom bitmaps) for read_where / read_point /
        # read_skipping
        for parent, stats in by_parent.items():
            metaio.IO.write_new(os.path.join(parent, "_stats.json"),
                                json.dumps(stats))
        return out

    @staticmethod
    def _bloom_hashes(col: F.Column) -> list[F.Column]:
        """The _BLOOM_K max-domain bit positions for one value —
        JVM-side xxhash64 with k salt literals, folded mod
        _BLOOM_MAX_BITS.  Lookup-side hashing MUST cast the probe
        literal to the column's exact type (xxhash64 of int32 ≠ int64
        for the same number)."""
        return [F.pmod(F.xxhash64(col, F.lit(s)),
                       F.lit(_BLOOM_MAX_BITS))
                for s in range(_BLOOM_K)]

    def _compute_blooms(self, staging: str, cols: list[str],
                        keys: set[str],
                        names: list[str] | None = None) \
            -> dict[tuple, dict]:
        """Per-(partition, column) Bloom filters as ``{"bits": m,
        "hex": bitmap}``, built EXECUTOR-SIDE in ONE job over the
        STAGED parquet — never by re-executing the input plan, which
        for a non-deterministic upstream (UDFs, timestamps, samples)
        would hash different values than the files actually hold and
        produce wrong skips; reading the staging also means an
        expensive upstream plan is not paid again per bloom column.
        The distinct max-domain positions (≤ _BLOOM_MAX_BITS per
        partition per column, however big the data) shuffle to their
        group, and an Arrow-batched ``applyInPandas`` sizes each
        filter from its own distinct count (~10 bits/value,
        power-of-two) and sets the bits vectorized — the driver
        receives |partitions|·|cols| rows of at most 1 MiB, never data
        volume.  A partition whose rows are all NULL in a column gets
        an empty (all-zero) filter, which correctly excludes every
        probe (SQL ``= value`` never matches NULL).  Partition-column
        TYPE INFERENCE is disabled for the staged read: hive inference
        would canonicalize numeric-looking STRING partition values
        ('007' → 7 → '7', '1e3' → 1000.0), so the parsed ``__p`` would
        no longer equal the directory-derived ``_key()`` namespace
        ``keys`` uses and every write on such a table would KeyError;
        with inference off ``__p`` is always the verbatim (unescaped)
        directory value, which is exactly the namespace key."""
        import numpy as np
        import pandas as pd

        def build(pdf: "pd.DataFrame") -> "pd.DataFrame":
            n = len(pdf)  # ≈ k × distinct values (post-distinct)
            m = _BLOOM_MIN_BITS
            while m < _BLOOM_MAX_BITS and m < 2.5 * n:
                m <<= 1
            bits = np.zeros(m // 8, dtype=np.uint8)
            # m divides _BLOOM_MAX_BITS, so this fold equals h % m
            p = pdf["__pos"].to_numpy(dtype=np.int64) % m
            np.bitwise_or.at(bits, p // 8,
                             np.left_shift(1, (p % 8)).astype(np.uint8))
            return pd.DataFrame({"__k": [pdf["__k"].iloc[0]],
                                 "__c": [pdf["__c"].iloc[0]],
                                 "bits": [int(m)],
                                 "hex": [bits.tobytes().hex()]})

        conf = "spark.sql.sources.partitionColumnTypeInference.enabled"
        prev = self.spark.conf.get(conf, "true")
        self.spark.conf.set(conf, "false")
        try:
            # partition discovery runs eagerly here, so scoping the
            # conf around the read call is sufficient
            staged = self.spark.read.parquet(staging)
        finally:
            self.spark.conf.set(conf, prev)
        # one exploded (col, position) stream for ALL bloom columns;
        # NULL values contribute nothing (filtered structs)
        structs = F.array(*[
            F.when(F.col(c).isNotNull(),
                   F.struct(F.lit(c).alias("__c"), h.alias("__pos")))
            for c in cols for h in self._bloom_hashes(F.col(c))])
        key_expr = (F.col("__p").cast("string")
                    if not names or names == ["__p"] else
                    F.concat_ws("/", *[F.col(n).cast("string")
                                       for n in names]))
        rows = (staged
                .select(key_expr.alias("__k"),
                        F.explode(F.filter(
                            structs, lambda s: s.isNotNull()))
                        .alias("__s"))
                .select("__k", F.col("__s.__c").alias("__c"),
                        F.col("__s.__pos").alias("__pos"))
                .distinct()
                .groupBy("__k", "__c")
                .applyInPandas(
                    build, "__k string, __c string, bits long, "
                           "hex string")
                .collect())
        blooms = {(k, c): {"bits": _BLOOM_MIN_BITS, "hex": ""}
                  for k in keys for c in cols}
        for r in rows:
            blooms[(r["__k"], r["__c"])] = {"bits": int(r["bits"]),
                                            "hex": r["hex"]}
        return blooms

    # ------------------------------------------------------------------ #
    # data-skipping stats (Delta file-stats analog, dir granularity)
    # ------------------------------------------------------------------ #
    def _dir_stats(self, d: str) -> dict:
        """min/max per column for one data directory, read from parquet
        FOOTERS — no data pages touched.  Runs once per directory at
        write time (directories are immutable), driver-side and bounded
        by the new directory's file count; at cluster scale this is the
        stats-collection task Delta runs inside the write job itself.
        Columns with any stats-less row group are omitted (fail-open:
        no stats → no skipping, never a wrong skip) — a column unsafe
        in ANY file of the directory is omitted from EVERY file's map
        too, keeping the per-file and per-directory guards identical.

        Besides the directory-level bounds this records a ``__files``
        map (file name → that file's bounds + ``__num_rows``): Delta
        skips at FILE granularity, and a directory holding several
        files (``files_per_bucket`` > 1 writes, OPTIMIZE outputs,
        range-partitioned upstreams) prunes per file in
        ``read_skipping`` / ``read_point`` where directory bounds
        straddle the probe but individual files' don't."""
        import pyarrow.parquet as pq

        dropped: set = set()
        per_file: dict[str, tuple] = {}
        for fname in sorted(metaio.IO.list_dir(d)):
            if not fname.endswith(".parquet"):
                continue
            meta = pq.read_metadata(os.path.join(d, fname))
            fmins: dict = {}
            fmaxs: dict = {}
            for rg in range(meta.num_row_groups):
                group = meta.row_group(rg)
                for ci in range(group.num_columns):
                    col = group.column(ci)
                    name = col.path_in_schema
                    if "." in name or name in dropped:
                        continue  # nested leaf — skip
                    st = col.statistics
                    try:
                        # pyarrow cannot convert some typed bounds,
                        # e.g. a decimal stored as INT64
                        lo, hi = (st.min, st.max) if st is not None \
                            and st.has_min_max else (None, None)
                    except NotImplementedError:
                        lo = None
                    if lo is None:
                        dropped.add(name)
                        continue
                    if isinstance(lo, bytes):
                        try:
                            lo, hi = lo.decode(), hi.decode()
                        except UnicodeDecodeError:
                            dropped.add(name)
                            continue
                    if hasattr(lo, "isoformat"):
                        lo, hi = lo.isoformat(), hi.isoformat()
                    # ints/bools/strings only: float NaN ordering makes
                    # footer min/max unsafe as skip bounds (UTF-8 byte
                    # order == code-point order, so str compares match
                    # Spark's)
                    if isinstance(lo, float) or \
                            not isinstance(lo, (bool, int, str)):
                        dropped.add(name)
                        continue
                    fmins[name] = lo if name not in fmins else \
                        min(fmins[name], lo)
                    fmaxs[name] = hi if name not in fmaxs else \
                        max(fmaxs[name], hi)
            per_file[fname] = (fmins, fmaxs, meta.num_rows)
        mins: dict = {}
        maxs: dict = {}
        rows = 0
        for fmins, fmaxs, n in per_file.values():
            rows += n
            for c, lo in fmins.items():
                mins[c] = lo if c not in mins else min(mins[c], lo)
                maxs[c] = fmaxs[c] if c not in maxs else \
                    max(maxs[c], fmaxs[c])
        out = {c: [mins[c], maxs[c]] for c in mins if c not in dropped}
        # reserved keys (never column bounds — readers type-guard):
        # exact row count from the footers (the Delta numRecords analog
        # that lets COUNT(*) answer from metadata alone) and the
        # per-file stats map
        out["__num_rows"] = rows
        out["__files"] = {
            f: {**{c: [fm[c], fx[c]] for c in fm if c not in dropped},
                "__num_rows": n}
            for f, (fm, fx, n) in per_file.items()}
        return out

    # ------------------------------------------------------------------ #
    # reads
    # ------------------------------------------------------------------ #
    def read(self, version: int | None = None,
             partition_values=None) -> DataFrame:
        """Scan a version.  ``partition_values`` prunes at the MANIFEST:
        non-matching partitions' directories are never listed, opened,
        or footer-read — the Delta file-skipping analog.

        The scan uses the MANIFEST schema explicitly (the source of
        truth, like Delta reading schema from the log, not from file
        footers): directories written before an additive schema
        evolution reconcile with NULLs for the missing columns, and no
        mergeSchema footer sweep is ever needed."""
        return self._read(self._manifest(version), partition_values)

    def _read(self, man: dict, partition_values=None) -> DataFrame:
        """:meth:`read` of an already parsed manifest."""
        parts = man["parts"]
        if partition_values is not None:
            keep = self._match_keys(parts, partition_values,
                                    self._pcols_of(man))
            parts = {k: v for k, v in parts.items() if k in keep}
        dirs = [d for ds in parts.values() for d in ds]
        return self._scan(dirs, T._parse_datatype_string(man["schema"]),
                          man.get("tombstones", {}))

    def read_staged(self) -> DataFrame:
        """Scan this table's commit staged in the open
        :func:`deferred_commits` scope, before it publishes."""
        scope = _DEFERRED.get()
        for table, args in scope[0] if scope else []:
            if table.root == self.root:
                return self._scan(
                    [d for ds in args["parts"].values() for d in ds],
                    args["schema"], args["tombstones"] or {})
        raise DatabaseException(f"'{self.root}' has no deferred commit")

    def _match_keys(self, parts: dict, partition_values,
                    pcols: list[str]) -> set[str]:
        """The manifest keys ``partition_values`` selects.  Each value
        is a scalar (single-column tables) or a tuple; on multi-column
        tables a tuple SHORTER than the column list (or a scalar) is a
        PREFIX — it selects every partition under that hive subtree,
        the standard hierarchical-pruning shape."""
        exact: set[str] = set()
        prefixes: list[str] = []
        for v in partition_values:
            tup = v if isinstance(v, (tuple, list)) else (v,)
            if len(tup) == len(pcols):
                exact.add(self._ckey(tup, pcols))
            elif len(tup) < len(pcols):
                for comp in tup:
                    if "/" in self._key(comp):
                        raise DatabaseException(
                            f"multi-column partition prefix {comp!r} "
                            f"contains '/' (ambiguous composite key); "
                            f"use a sentinel")
                prefixes.append(
                    self._ckey(tup, pcols[:len(tup)]) + "/")
            else:
                raise DatabaseException(
                    f"partition value {v!r} has more components than "
                    f"partition columns {pcols}")
        return {k for k in parts
                if k in exact
                or any(k.startswith(p) for p in prefixes)}

    def _scan(self, dirs: list[str], schema: T.StructType,
              tombs: dict[str, list[str]],
              files: dict[str, list[str] | None] | None = None) \
            -> DataFrame:
        """One DataFrame over ``dirs`` with each directory's tombstone
        predicates applied (SQL DELETE null semantics: NULL keeps the
        row).  Directories sharing a tombstone set scan together; the
        union arity is the number of DISTINCT tombstone combinations
        (usually 0 or 1), never the directory count.  ``files`` (from
        :meth:`_file_prune`) narrows a directory to an explicit
        admitted-file list — ``None`` per directory means all of it;
        tombstones stay directory-scoped either way (a file inherits
        its directory's delete predicates)."""
        groups: dict[tuple, list[str]] = {}
        for d in dirs:
            groups.setdefault(tuple(tombs.get(d, ())), []).append(d)
        outs = []
        for conds, ds in sorted(groups.items()):
            paths: list[str] = []
            for d in ds:
                fl = files.get(d) if files else None
                paths.extend(fl if fl is not None else [d])
            df = self.spark.read.schema(schema).parquet(*paths)
            for keep in self._tomb_keeps(conds):
                df = df.filter(keep)
            outs.append(df)
        if not outs:
            return self.spark.createDataFrame([], schema)
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        return out

    def _tomb_keeps(self, conds) -> list[F.Column]:
        """One filter per tombstone predicate of a directory, keeping
        the rows it does not delete (SQL DELETE null semantics: NULL
        keeps the row)."""
        keeps = []
        for cond in conds:
            # stored tombstone text assumes the DEFAULT literal
            # grammar; a legacy-grammar session would apply it
            # with different semantics — fail loudly, not wrongly
            _assert_default_literal_grammar(
                self.spark, cond, f"read '{self.root}'")
            c = F.expr(cond)
            keeps.append(~c | c.isNull())
        return keeps

    def _read_if_small(self, man: dict, column: str | None = None,
                       value=None) -> DataFrame | None:
        """``man``'s rows, only those with ``column = value`` when a
        column is given, read on the driver by :meth:`_read_local`.
        The probe admits files by the zero-job :meth:`_point_dirs` and
        :meth:`_file_prune`.  None, and the caller scans with Spark,
        when the admitted files total more than
        :data:`DRIVER_READ_MAX_BYTES` or are not local files, or when
        the probe is not of the column's native type (``None``, ``5.0``
        on a long, a double, a timestamp): Arrow's equality is Spark's
        only for a native probe, and for any other a Spark scan pushes
        the filter down instead of reading every file."""
        from cs186_query_optimization_project_spark import xxh64

        schema = T._parse_datatype_string(man["schema"])
        dirs = [d for ds in man["parts"].values() for d in ds]
        eq: dict = {}
        if column is not None:
            if column not in schema.names or not xxh64.native_match(
                    value, schema[column].dataType):
                return None
            eq = {column: value}
            with contextlib.suppress(DatabaseException):
                # '' on a partition column has no manifest key
                dirs = self._point_dirs(column, value, man=man)
        paths = self._file_prune(dirs, eq, {}, {}, whole_as_none=False)
        if None in paths.values():
            return None  # a legacy sidecar names no files
        try:
            size = sum(os.path.getsize(p)
                       for fl in paths.values() for p in fl)
        except OSError:
            return None
        if size > DRIVER_READ_MAX_BYTES:
            return None
        return self._read_local(paths, schema, man.get("tombstones", {}),
                                eq)

    #: :meth:`_read_local`'s column naming each row's tombstone group
    _TOMB_TAG = "__tomb_group"

    def _read_local(self, files: dict[str, list[str]],
                    schema: T.StructType, tombs: dict[str, list[str]],
                    eq: dict) -> DataFrame:
        """The driver twin of :meth:`_scan`: ``files`` (directory →
        its parquet paths) read with pyarrow into ONE
        ``createDataFrame`` of ``schema``, a file written before an
        additive schema evolution getting typed NULLs for the columns
        it lacks.  Spark's optimizer folds filters over such a local
        relation on the driver, so ``collect()`` and ``take()`` run no
        Spark job; a union of local relations would run one.  So the
        directories' tombstone predicates apply as Spark filters on a
        group tag column of the one relation.  ``eq`` (column → probe
        of its native type, where Arrow equality is Spark's) keeps only
        the matching rows, dropping the rest in Arrow."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        # TimestampType maps to UTC-zoned Arrow timestamps, so the
        # naive INT96 instants Spark writes read as UTC, not as the
        # session's local time
        target = to_arrow_schema(schema)
        groups: dict[tuple, int] = {}
        pieces = []
        for d, paths in files.items():
            tag = groups.setdefault(tuple(tombs.get(d, ())), len(groups))
            for path in paths:
                got = pq.read_table(path, coerce_int96_timestamp_unit="us")
                t = pa.table(
                    [got[f.name] if f.name in got.column_names
                     else pa.nulls(got.num_rows, f.type) for f in target],
                    names=target.names).cast(target)
                for c, v in eq.items():
                    t = t.filter(pc.equal(
                        t[c], pa.scalar(v, t.schema.field(c).type)))
                if t.num_rows:
                    pieces.append(t.append_column(self._TOMB_TAG, pa.array(
                        np.full(t.num_rows, tag, np.int32))))
        target = target.append(pa.field(self._TOMB_TAG, pa.int32()))
        # one chunk per column: PySpark's Arrow conversion drops rows
        # when the columns' chunk boundaries differ, and rejects a
        # nested column of zero chunks
        table = pa.concat_tables(pieces).combine_chunks() if pieces \
            else target.empty_table()
        out = self.spark.createDataFrame(table, schema=T.StructType(
            [*schema.fields, T.StructField(self._TOMB_TAG,
                                           T.IntegerType())]))
        for conds, tag in groups.items():
            for keep in self._tomb_keeps(conds):
                out = out.filter((F.col(self._TOMB_TAG) != tag) | keep)
        return out.drop(self._TOMB_TAG)

    def _staging_stats(self, staging: str) -> dict:
        """Parsed `_stats.json` for one staging, memoized per instance
        (the sidecar is immutable with its staging, so the cache can
        never serve stale bounds).  A missing/corrupt sidecar caches
        its fail-open {} too: retrying it per directory would just
        repeat the miss."""
        hit = self._stats_cache.get(staging)
        if hit is None:
            try:
                hit = json.loads(metaio.IO.read_text(
                    os.path.join(staging, "_stats.json")))
            except (OSError, ValueError):
                hit = {}  # fail-open: no stats, no skipping
            self._stats_cache[staging] = hit
        return hit

    @staticmethod
    def _bound(v):
        return v.isoformat() if hasattr(v, "isoformat") else v

    def read_where(self, column: str, lo=None, hi=None,
                   version: int | None = None) -> DataFrame:
        """Stats-skipping range scan (Delta data-skipping at directory
        granularity): directories whose footer-derived ``[min, max]``
        for ``column`` cannot intersect ``[lo, hi]`` are dropped from
        the scan WITHOUT opening them; survivors still get the exact
        filter, so the result equals ``read().filter(...)`` — skipping
        is a pure I/O optimization.  Directories without recorded
        bounds for the column are kept (fail-open).  Pass bounds in the
        column's native type (dates compare via ISO strings).  A thin
        alias of :meth:`read_skipping` with one range conjunct — kept
        as the discoverable single-range entry point."""
        return self.read_skipping(ranges={column: (lo, hi)},
                                  version=version)

    def _point_dirs(self, column: str, value,
                    version: int | None = None,
                    man: dict | None = None) -> list[str]:
        """The directories a ``column = value`` lookup must scan after
        Bloom skipping: a directory whose stored filter has any of the
        probe's bit positions unset PROVABLY lacks the value and is
        dropped; directories without a filter (column not indexed,
        pre-bloom writes, unreadable sidecar) are kept — fail-open,
        never a wrong skip.  The probe positions hash driver-side with
        the same JVM xxhash64 the write used (one 1-row job, so the
        literal is hashed as the column's exact type).  ``man`` lets a
        caller that already parsed the manifest (the skipping loops —
        one per eq column, per IN value, per OR branch) avoid
        re-reading it from disk each probe."""
        if man is None:
            man = self._manifest(version)
        if value is None:
            raise DatabaseException(
                f"read_point '{self.root}': NULL probe (SQL '= NULL' "
                f"matches nothing; use an isNull filter on read())")
        from cs186_query_optimization_project_spark import xxh64

        pcols = self._pcols_of(man)
        if column in pcols:
            # exact manifest pruning — no bloom needed for a
            # partition column, and no false positives either: the
            # probe matches its hive path COMPONENT, so ANY level of
            # a hierarchical layout prunes exactly, not just the
            # first.  A probe already OF the column's native type
            # prunes with zero Spark jobs; a mismatched probe
            # (read_point(k, 5.0) on a long column) is COERCED by the
            # JVM's own cast (one 1-row job) so it prunes to
            # partition "5" the way read().filter(col == 5.0) matches
            # it; an uncastable probe can match nothing.  A lossy
            # coercion (5.7 → 5) may keep a partition the exact
            # filter then empties — result equality is preserved,
            # skipping stays I/O-only.
            dtype = T._parse_datatype_string(
                man["schema"])[column].dataType
            if xxh64.native_match(value, dtype):
                coerced = value
            else:
                coerced = self.spark.range(1).select(
                    F.lit(value).cast(dtype).alias("v")) \
                    .collect()[0]["v"]
            if coerced is None:
                return []
            if len(pcols) == 1:
                return list(man["parts"].get(self._key(coerced), []))
            i = pcols.index(column)
            want = self._key(coerced)
            return [d for k, ds in man["parts"].items()
                    if k.split("/")[i] == want for d in ds]
        if column not in man.get("bloom_cols", []):
            return [d for ds in man["parts"].values() for d in ds]
        # probe-side hashing replays the write side's
        # pmod(xxhash64(col, lit(s)), MAX_BITS) DRIVER-SIDE for probes
        # of the column's native type (xxh64.py, differentially tested
        # against the JVM) — read_point issues zero Spark jobs before
        # the pruned scan; anything else falls back to one 1-row JVM
        # evaluation, which also applies Spark's cast
        dtype = T._parse_datatype_string(man["schema"])[column].dataType
        pos = self._probe_positions(column, value, dtype)
        return [d for ds in man["parts"].values() for d in ds
                if self._bloom_admits(
                    self._staging_stats(os.path.dirname(d))
                    .get(os.path.basename(d), {}), column, pos)]

    def _probe_positions(self, column: str, value,
                         dtype: T.DataType) -> list[int]:
        """The _BLOOM_K probe bit positions for ``column = value`` —
        driver-side xxh64 replay for native-typed probes (zero Spark
        jobs), one 1-row JVM evaluation otherwise (which also applies
        Spark's cast)."""
        from cs186_query_optimization_project_spark import xxh64

        hashes = [xxh64.xxhash64_typed(value, dtype, s)
                  for s in range(_BLOOM_K)]
        if all(h is not None for h in hashes):
            return [h % _BLOOM_MAX_BITS for h in hashes]
        return list(self.spark.range(1).select(
            *[h.alias(f"p{i}") for i, h in enumerate(
                self._bloom_hashes(F.lit(value).cast(dtype)))])
            .collect()[0])

    @staticmethod
    def _bloom_admits(stats: dict, column: str,
                      pos: list[int]) -> bool:
        """False only when the directory's stored filter PROVES the
        probe absent; True (fail-open) without a filter."""
        bloom = stats.get("__bloom", {}).get(column)
        if not isinstance(bloom, dict):
            return True
        m = bloom["bits"]
        bits = bytes.fromhex(bloom["hex"])
        # empty hex = all-NULL directory: excludes every probe.  m
        # divides _BLOOM_MAX_BITS, so p % m replays the write fold.
        return bool(bits) and all(
            bits[(p % m) // 8] & (1 << ((p % m) % 8)) for p in pos)

    def read_skipping(self, eq: dict | None = None,
                      ranges: dict | None = None,
                      isin: dict | None = None,
                      version: int | None = None) -> DataFrame:
        """CONJUNCTIVE multi-column data skipping — Delta's file-stats
        skipping generalized to several predicates at once: a
        directory is dropped when ANY conjunct disproves it.  ``eq``
        maps columns to equality probes (partition column → exact
        manifest pruning; Bloom-indexed columns → membership pruning;
        every stats-recorded column → bounds containment); ``ranges``
        maps columns to ``(lo, hi)`` bounds-intersection pruning
        (either end may be None); ``isin`` maps columns to value LISTS
        (``col IN (v1..vn)`` — the other common metadata-prunable
        point shape): a directory survives an IN conjunct when ANY of
        its values admits it (union of per-value Bloom + bounds
        probes; partition columns take the union of their component
        matches), and the conjuncts still intersect across columns.
        Survivors still get every exact filter, so the result ALWAYS
        equals ``read()`` + the conjunction — skipping is pure I/O.
        Each conjunct prunes multiplicatively where predicates are
        independent, which is what makes multi-predicate point
        queries cheap on tables too big for any single clustering
        order to serve every column."""
        eq = dict(eq or {})
        ranges = dict(ranges or {})
        isin = {c: list(vs) for c, vs in (isin or {}).items()}
        man = self._manifest(version)
        schema = T._parse_datatype_string(man["schema"])
        self._validate_skip_args(schema, eq, ranges, isin)
        keep = self._admitted_dirs(man, schema, eq, ranges, isin,
                                   version)
        files = self._file_prune(keep, eq, ranges, isin)
        out = self._scan(list(files), schema,
                         man.get("tombstones", {}), files=files)
        return out.filter(self._conjunction(eq, ranges, isin))

    def read_skipping_any(self, branches: list,
                          version: int | None = None) -> DataFrame:
        """DISJUNCTIVE data skipping — an OR of conjunctive branches,
        each a ``{"eq": .., "ranges": .., "isin": ..}`` dict with
        :meth:`read_skipping` semantics: the scan reads the UNION of
        the branches' admitted directories (a directory is skipped
        only when EVERY branch disproves it), then the exact OR-of-
        conjunctions filter applies, so the result always equals
        ``read().filter(b1 | b2 | ...)``.  The common 100 TB shape it
        serves: multi-tenant backfills like ``(date='d1' AND src='a')
        OR (date='d2' AND src='b')`` — per-branch manifest/Bloom/
        bounds pruning where a single conjunctive prune cannot help.
        Empty branches are refused (an always-true branch admits
        everything — ask ``read()`` for that explicitly)."""
        man = self._manifest(version)
        schema = T._parse_datatype_string(man["schema"])
        norm = self._normalize_branches(schema, branches,
                                        "read_skipping_any")
        merged = self._merged_admission(man, schema, norm, version)
        keep = [d for ds in man["parts"].values() for d in ds
                if d in merged]  # manifest order, deduped
        out = self._scan(keep, schema, man.get("tombstones", {}),
                         files=merged)
        cond = None
        for eq, ranges, isin in norm:
            c = self._conjunction(eq, ranges, isin)
            cond = c if cond is None else (cond | c)
        return out.filter(cond)

    def _normalize_branches(self, schema, branches: list,
                            caller: str) -> list[tuple]:
        """Validate + normalize disjunctive branches (shared by
        :meth:`read_skipping_any` and :meth:`skipping_report_any`)."""
        if not branches:
            raise DatabaseException(
                f"{caller} '{self.root}': no branches")
        norm = []
        for b in branches:
            extra = set(b) - {"eq", "ranges", "isin"}
            if extra:
                raise DatabaseException(
                    f"{caller} '{self.root}': unknown branch "
                    f"keys {sorted(extra)} (expected eq/ranges/isin)")
            eq = dict(b.get("eq") or {})
            ranges = dict(b.get("ranges") or {})
            isin = {c: list(vs)
                    for c, vs in (b.get("isin") or {}).items()}
            if not (eq or ranges or isin):
                raise DatabaseException(
                    f"{caller} '{self.root}': empty branch "
                    f"(always-true; use read() explicitly)")
            self._validate_skip_args(schema, eq, ranges, isin)
            norm.append((eq, ranges, isin))
        return norm

    def _merged_admission(self, man: dict, schema, norm: list[tuple],
                          version: int | None) \
            -> dict[str, list[str] | None]:
        """Per-branch directory AND file admission, unioned: a
        directory (or a file) is skipped only when EVERY branch
        disproves it."""
        merged: dict[str, list[str] | None] = {}
        for eq, ranges, isin in norm:
            adm = self._admitted_dirs(man, schema, eq, ranges, isin,
                                      version)
            self._union_files(merged,
                              self._file_prune(adm, eq, ranges, isin))
        return merged

    @staticmethod
    def _union_files(merged: dict, files: dict) -> None:
        """Fold one branch's ``{dir: admitted files | None}`` into
        ``merged``: a directory's files are the union over branches,
        and ``None`` (the whole directory) absorbs any list."""
        for d, fl in files.items():
            if d not in merged:
                merged[d] = None if fl is None else list(fl)
            elif merged[d] is not None:
                if fl is None:
                    merged[d] = None
                else:
                    merged[d].extend(f for f in fl if f not in merged[d])

    def _validate_skip_args(self, schema, eq: dict, ranges: dict,
                            isin: dict) -> None:
        for c in list(eq) + list(ranges) + list(isin):
            if c not in schema.names:
                raise DatabaseException(
                    f"read_skipping '{self.root}': no column '{c}' in "
                    f"{schema.names}")
        for c, v in eq.items():
            if v is None:
                raise DatabaseException(
                    f"read_skipping '{self.root}': NULL probe on "
                    f"'{c}' (SQL '= NULL' matches nothing; use an "
                    f"isNull filter on read())")
        for c, vs in isin.items():
            if not vs or any(v is None for v in vs):
                raise DatabaseException(
                    f"read_skipping '{self.root}': IN list on '{c}' "
                    f"must be non-empty and NULL-free (SQL IN never "
                    f"matches NULL; use an isNull filter on read())")

    @staticmethod
    def _conjunction(eq: dict, ranges: dict, isin: dict):
        """The exact predicate a skipping read re-applies — survivors
        always get it, keeping skipping a pure I/O optimization."""
        cond = F.lit(True)
        for c, v in eq.items():
            cond = cond & (F.col(c) == F.lit(v))
        for c, vs in isin.items():
            cond = cond & F.col(c).isin(vs)
        for c, (lo, hi) in ranges.items():
            if lo is not None:
                cond = cond & (F.col(c) >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(c) <= F.lit(hi))
        return cond

    def _stats_disprove(self, stats: dict, eq: dict, ranges: dict,
                        isin: dict) -> bool:
        """True when recorded ``[min, max]`` bounds in ``stats`` (a
        directory's OR one file's map) disprove the conjunction.
        Missing bounds and probe/stat type mismatches fail OPEN (the
        exact filter still applies Spark's own cast downstream), so a
        True here is always a PROOF of emptiness."""
        for c, v in eq.items():
            st = stats.get(c)
            b = self._bound(v)
            try:
                if isinstance(st, (list, tuple)) and \
                        (b < st[0] or b > st[1]):
                    return True
            except TypeError:
                pass
        for c, vs in isin.items():
            st = stats.get(c)
            if not isinstance(st, (list, tuple)):
                continue
            admits_any = False
            for v in vs:
                b = self._bound(v)
                try:
                    if b < st[0] or b > st[1]:
                        continue  # bounds disprove this value
                except TypeError:
                    pass  # type mismatch: this value fails open
                admits_any = True
                break
            if not admits_any:
                return True
        for c, (lo, hi) in ranges.items():
            st = stats.get(c)
            if not isinstance(st, (list, tuple)):
                continue
            lo_b, hi_b = self._bound(lo), self._bound(hi)
            try:
                if (lo_b is not None and st[1] < lo_b) or \
                        (hi_b is not None and st[0] > hi_b):
                    return True
            except TypeError:
                continue
        return False

    def _file_prune(self, dirs: list[str], eq: dict, ranges: dict,
                    isin: dict, whole_as_none: bool = True) \
            -> dict[str, list[str] | None]:
        """FILE-granularity skipping within already-admitted
        directories (the Delta per-file stats step below our
        directory manifests): each admitted directory's ``__files``
        map is checked against the same bounds conjunction, and the
        scan narrows to the files it cannot disprove.  Returns
        ``{dir: admitted file paths}`` in input order — ``None``
        meaning the whole directory (legacy sidecars without a
        ``__files`` map fail open; a fully-admitted directory scans
        as itself, the cheaper listing, unless ``whole_as_none`` is
        False) — with fully-disproved
        directories OMITTED.  Partition-column conjuncts are safe
        here too: every row of a file shares the value, so its
        recorded bounds disprove exactly."""
        out: dict[str, list[str] | None] = {}
        for d in dirs:
            fstats = (self._staging_stats(os.path.dirname(d))
                      .get(os.path.basename(d), {}).get("__files"))
            if not isinstance(fstats, dict) or not fstats:
                out[d] = None  # fail open: no per-file map
                continue
            keep = [f for f, fs in sorted(fstats.items())
                    if isinstance(fs, dict)
                    and not self._stats_disprove(fs, eq, ranges, isin)]
            if not keep:
                continue  # every file disproved: drop the directory
            out[d] = None if whole_as_none and len(keep) == len(fstats) \
                else [os.path.join(d, f) for f in keep]
        return out

    def _admitted_dirs(self, man: dict, schema, eq: dict, ranges: dict,
                       isin: dict, version: int | None) -> list[str]:
        """The directories one conjunction cannot disprove — the
        shared admission core of :meth:`read_skipping` (AND) and
        :meth:`read_skipping_any` (OR of ANDs)."""
        pcols = self._pcols_of(man)
        dirs = [d for ds in man["parts"].values() for d in ds]
        for c in pcols:
            if c in eq:  # each partition component prunes exactly
                admitted = set(self._point_dirs(c, eq[c], version,
                                                man=man))
                dirs = [d for d in dirs if d in admitted]
            if c in isin:  # IN on a partition column: union of exact
                admitted = set()  # component matches
                for v in isin[c]:
                    admitted.update(self._point_dirs(c, v, version,
                                                     man=man))
                dirs = [d for d in dirs if d in admitted]
        probes = {c: self._probe_positions(c, v, schema[c].dataType)
                  for c, v in eq.items()
                  if c not in pcols and c in man.get("bloom_cols", [])}
        in_probes = {c: [self._probe_positions(c, v,
                                               schema[c].dataType)
                         for v in vs]
                     for c, vs in isin.items()
                     if c not in pcols
                     and c in man.get("bloom_cols", [])}
        eq_stats = {c: v for c, v in eq.items() if c not in pcols}
        keep = []
        for d in dirs:
            stats = (self._staging_stats(os.path.dirname(d))
                     .get(os.path.basename(d), {}))
            if any(not self._bloom_admits(stats, c, p)
                   for c, p in probes.items()):
                continue  # a Bloom filter disproves an equality
            # IN on a non-partition column: only the values its Bloom
            # filter admits go on to the bounds check
            in_stats = {c: [v for i, v in enumerate(vs)
                            if c not in in_probes or self._bloom_admits(
                                stats, c, in_probes[c][i])]
                        for c, vs in isin.items() if c not in pcols}
            if any(not vs for vs in in_stats.values()):
                continue  # every IN value provably absent
            if not self._stats_disprove(stats, eq_stats, ranges, in_stats):
                keep.append(d)
        return keep

    def skipping_report(self, eq: dict | None = None,
                        ranges: dict | None = None,
                        isin: dict | None = None,
                        version: int | None = None) -> list[dict]:
        """EXPLAIN for data skipping — what :meth:`read_skipping`
        with the same arguments would scan, per directory, WITHOUT
        scanning anything: ``[{"key", "dir", "status", "files_total",
        "files_admitted"}, ...]`` where status is ``scanned`` /
        ``pruned_dir`` (manifest, Bloom, or bounds disproved the
        whole directory) / ``pruned_files`` (every individual file
        disproved).  ``files_total`` is None for legacy sidecars
        without a per-file map (those scan whole, fail-open).

        Built ON the same `_admitted_dirs` + `_file_prune` calls the
        read itself makes — the report can never diverge from what a
        real scan would list.  Pure driver metadata, zero Spark jobs:
        the skipping-efficiency dashboard ("this predicate touches 3
        of 4,100 directories / 5 of 19k files") without paying for a
        query."""
        eq = dict(eq or {})
        ranges = dict(ranges or {})
        isin = {c: list(vs) for c, vs in (isin or {}).items()}
        man = self._manifest(version)
        schema = T._parse_datatype_string(man["schema"])
        self._validate_skip_args(schema, eq, ranges, isin)
        admitted = set(self._admitted_dirs(man, schema, eq, ranges,
                                           isin, version))
        files = self._file_prune(sorted(admitted), eq, ranges, isin)
        return self._report_rows(man, admitted, files)

    def _report_rows(self, man: dict, admitted: set,
                     files: dict[str, list[str] | None],
                     extra: dict | None = None) -> list[dict]:
        """One report row per manifest directory from an admission
        result — the shared rendering of :meth:`skipping_report` and
        :meth:`skipping_report_any`.  Each row also carries the
        directory's TOMBSTONE DEBT (``tombstones`` = live predicate
        count, ``masked_rows`` = recorded DV cardinality or None when
        unknown, ``masked_fraction`` of the directory's footer row
        count) — the read-time filter work soft deletes have
        accumulated, i.e. the when-to-``optimize`` signal."""
        out = []
        for key, ds in man["parts"].items():
            for d in ds:
                st = (self._staging_stats(os.path.dirname(d))
                      .get(os.path.basename(d), {}))
                fstats = st.get("__files")
                total = len(fstats) if isinstance(fstats, dict) \
                    and fstats else None
                if d not in admitted:
                    status, n_adm = "pruned_dir", 0
                elif d not in files:
                    status, n_adm = "pruned_files", 0
                else:
                    fl = files[d]
                    n_adm = total if fl is None else len(fl)
                    status = "scanned"
                out.append({**(extra or {}),
                            "key": key, "dir": d, "status": status,
                            "files_total": total,
                            "files_admitted": n_adm,
                            **self._debt(man, d, st.get("__num_rows"))})
        return out

    def _debt(self, man: dict, d: str, nrows) -> dict:
        """Directory ``d``'s tombstone debt: live predicate count,
        recorded DV cardinality (None = unknown) and its fraction of the
        footer row count ``nrows``."""
        masked = self._masked_count(man, d)
        frac = (round(masked / nrows, 6)
                if isinstance(masked, int)
                and isinstance(nrows, int) and nrows else
                (0.0 if masked == 0 else None))
        return {"tombstones": len(man.get("tombstones", {}).get(d, [])),
                "masked_rows": masked, "masked_fraction": frac}

    def tombstone_debt(self, version: int | None = None) -> list[dict]:
        """Per-directory soft-delete debt without any predicate —
        ``[{"key", "dir", "tombstones", "masked_rows", "rows_total",
        "masked_fraction"}, ...]`` from manifest + footer stats, zero
        Spark jobs.  ``masked_rows`` is None (unknown) for tombstones
        recorded without a cardinality (``delete_soft(...,
        masked_counts=None)`` or legacy manifests) — treat unknown as
        "optimize now".  The companion of :meth:`skipping_report`'s
        per-row debt columns when no skipping question is being
        asked."""
        man = self._manifest(version)
        out = []
        for key, ds in man["parts"].items():
            for d in ds:
                nrows = (self._staging_stats(os.path.dirname(d))
                         .get(os.path.basename(d), {})
                         .get("__num_rows"))
                out.append({"key": key, "dir": d,
                            **self._debt(man, d, nrows),
                            "rows_total": nrows
                            if isinstance(nrows, int) else None})
        return out

    def skipping_report_any(self, branches: list,
                            version: int | None = None) -> list[dict]:
        """EXPLAIN for DISJUNCTIVE data skipping — what
        :meth:`read_skipping_any` with the same branches would scan,
        without scanning anything.  Returns per-BRANCH rows (``branch``
        = 0..n-1: that branch's own admission verdict per directory,
        the same shape as :meth:`skipping_report`) followed by the
        ``branch = "union"`` rows describing what the actual scan
        touches (a directory is scanned iff ANY branch admits it; its
        admitted file count is the union of the branches' admitted
        files).  Built on the same `_normalize_branches` +
        `_merged_admission` calls the read itself makes, so the union
        rows can never diverge from a real scan; pure driver metadata,
        zero Spark jobs."""
        man = self._manifest(version)
        schema = T._parse_datatype_string(man["schema"])
        norm = self._normalize_branches(schema, branches,
                                        "skipping_report_any")
        out = []
        adm_union: set = set()
        merged: dict[str, list[str] | None] = {}
        for i, (eq, ranges, isin) in enumerate(norm):
            adm = set(self._admitted_dirs(man, schema, eq, ranges,
                                          isin, version))
            files = self._file_prune(sorted(adm), eq, ranges, isin)
            out.extend(self._report_rows(man, adm, files,
                                         extra={"branch": i}))
            adm_union |= adm
            self._union_files(merged, files)  # same union as the read
        out.extend(self._report_rows(man, adm_union, merged,
                                     extra={"branch": "union"}))
        return out

    def read_point(self, column: str, value,
                   version: int | None = None) -> DataFrame:
        """Bloom-index point lookup (Delta bloom-filter-index analog
        at directory granularity): scans only the directories whose
        filter admits the value — see :meth:`_point_dirs` — then
        applies the exact predicate, so the result ALWAYS equals
        ``read().filter(col == value)``; skipping is a pure I/O
        optimization.  The win case is a high-cardinality column
        (ids, hashes, URLs) spread over many append directories where
        min/max ranges overlap everywhere: membership, not range, is
        what prunes.  Admitted directories additionally narrow to the
        FILES whose recorded bounds admit the value
        (:meth:`_file_prune`) — still zero Spark jobs before the
        pruned scan."""
        man = self._manifest(version)
        files = self._file_prune(
            self._point_dirs(column, value, version),
            {column: value}, {}, {})
        out = self._scan(list(files),
                         T._parse_datatype_string(man["schema"]),
                         man.get("tombstones", {}), files=files)
        return out.filter(F.col(column) == F.lit(value))

    #: read_pruned_by's driver-side key budget.  Spark's own DPP
    #: caps the reused broadcast by the broadcast thresholds; ours is
    #: a distinct-key count — 100k scalar keys is well under a
    #: megabyte of driver heap, while anything past it says "that is
    #: not a dimension table" and the plain join is the right plan.
    PRUNE_KEY_CAP = 100_000

    def read_pruned_by(self, dim: DataFrame, dim_col: str,
                       version: int | None = None,
                       max_keys: int = PRUNE_KEY_CAP) -> DataFrame:
        """Dynamic-partition-pruning analog at the manifest: collect
        the dimension side's distinct join keys (bounded by the dim's
        key cardinality — DPP's broadcast-exchange reuse, expressed as
        a driver-side manifest prune) and scan ONLY the matching
        partitions.  Join the result to the dim afterwards (broadcast
        it — it was small enough to collect); non-matching fact
        partitions' directories are never listed or opened, which is
        strictly stronger than Spark's file-source DPP (no footer
        reads).  NULL dim keys never match an equi-join and are
        dropped from the prune set.

        The key pull is COUNT-GUARDED (``max_keys``, default
        ``PRUNE_KEY_CAP``): the distinct collect is capped at
        ``max_keys + 1`` rows, and a dim that exceeds the budget
        falls back to the plain full read — the caller's join still
        returns exactly the same rows (pruning is a pure I/O
        optimization), the driver just declines to hold an unbounded
        key set.  A high-cardinality "dim" therefore degrades to the
        ordinary shuffle join instead of OOMing the driver."""
        # NULLs drop BEFORE the limit: a NULL inside the limited
        # sample would otherwise mask an overflow and ship an
        # incomplete key set — wrong pruning, not just a missed cap
        keys = [r[0] for r in (dim.select(dim_col)
                               .filter(F.col(dim_col).isNotNull())
                               .distinct()
                               .limit(max_keys + 1).collect())]
        if len(keys) > max_keys:
            return self.read(version)     # not a dim: prune declined
        return self.read(version, partition_values=keys)

    def _masked_count(self, man: dict, d: str) -> int | None:
        """Rows directory ``d``'s live tombstones hide: 0 when it has
        none, the recorded DV cardinality when every one was counted
        at soft-delete time, ``None`` (fail closed) for legacy
        tombstones of unknown cardinality."""
        if not man.get("tombstones", {}).get(d):
            return 0
        n = man.get("tomb_counts", {}).get(d)
        return n if isinstance(n, int) else None

    def metadata_group_counts(self, version: int | None = None) \
            -> dict[str, int] | None:
        """Exact per-partition-value row counts — ``GROUP BY
        partition_col`` answered from manifest + footer stats with
        ZERO Spark jobs — or ``None`` when metadata alone cannot
        answer (fail-closed): any directory without a recorded row
        count, or a live tombstone whose masked-row cardinality was
        not recorded at soft-delete time (tombstones WITH recorded
        cardinalities subtract exactly — the Delta DV-cardinality
        move).  Keys are the manifest's hive-encoded partition values;
        partitions with zero remaining rows are omitted, matching SQL
        GROUP BY (no empty groups).  Driver cost O(|directories|)."""
        return self._group_counts(self._manifest(version))

    def _group_counts(self, man: dict) -> dict[str, int] | None:
        """:meth:`metadata_group_counts` of the read manifest ``man``."""
        out: dict[str, int] = {}
        for key, ds in man["parts"].items():
            total = 0
            for d in ds:
                st = (self._staging_stats(os.path.dirname(d))
                      .get(os.path.basename(d), {}).get("__num_rows"))
                masked = self._masked_count(man, d)
                if not isinstance(st, int) or masked is None:
                    return None
                total += st - masked
            if total:
                out[key] = total
        return out

    # ------------------------------------------------------------------ #
    # metadata-only aggregates (Delta answers COUNT(*)/MIN/MAX from
    # file stats without scanning; same contract here at directory
    # granularity — zero Spark jobs, O(|directories|) driver work)
    # ------------------------------------------------------------------ #
    def metadata_count(self, version: int | None = None) -> int | None:
        """Exact COUNT(*) from manifest + footer stats, or ``None``
        when metadata alone cannot answer (fail-closed): any directory
        written before stats carried row counts, or a live tombstone
        whose masked-row cardinality was not recorded at soft-delete
        time.  Tombstones WITH recorded cardinalities subtract exactly
        (the Delta deletion-vector cardinality move), so soft deletes
        no longer forfeit metadata-only COUNT.  Callers fall back to
        ``read().count()``."""
        counts = self._group_counts(self._manifest(version))
        return None if counts is None else sum(counts.values())

    def metadata_min_max(self, column: str,
                         version: int | None = None):
        """Exact global ``(min, max)`` of ``column`` from the skipping
        stats, or ``None`` when not answerable: live tombstones (the
        true min/max row may be soft-deleted), an empty table, or any
        directory without recorded bounds for the column (floats and
        nested types never record — see ``_dir_stats``).  Values come
        back as stored in the stats (ints native; dates/timestamps as
        ISO strings)."""
        return self._min_max(self._manifest(version), column)

    def _min_max(self, man: dict, column: str):
        """:meth:`metadata_min_max` of the read manifest ``man``."""
        groups = self._group_min_max(man, column)
        if not groups:
            return None
        return (min(lo for lo, _ in groups.values()),
                max(hi for _, hi in groups.values()))

    def metadata_group_min_max(self, column: str,
                               version: int | None = None) \
            -> dict[str, tuple] | None:
        """Exact per-partition-key ``(min, max)`` of ``column`` from
        the skipping stats — ``GROUP BY partition cols`` MIN/MAX with
        ZERO Spark jobs — or ``None`` when metadata alone cannot
        answer (fail-closed): live tombstones (a masked row can own a
        group's extremum) or any non-empty directory without recorded
        bounds.  Keys are the manifest's composite hive keys; groups
        with zero remaining rows are omitted, matching SQL GROUP BY.
        Driver cost O(|directories|) — the partition-level dashboard
        query ("newest record per day/source") answered without
        touching data."""
        return self._group_min_max(self._manifest(version), column)

    def _group_min_max(self, man: dict, column: str) \
            -> dict[str, tuple] | None:
        """:meth:`metadata_group_min_max` of the read manifest ``man``."""
        if any(ts for ts in man.get("tombstones", {}).values()):
            return None
        out: dict[str, tuple] = {}
        for key, ds in man["parts"].items():
            lo = hi = None
            seen = False
            for d in ds:
                stats = (self._staging_stats(os.path.dirname(d))
                         .get(os.path.basename(d), {}))
                if stats.get("__num_rows") == 0:
                    continue  # empty rewrite artifact
                st = stats.get(column)
                if not isinstance(st, (list, tuple)):
                    return None
                seen = True
                lo = st[0] if lo is None else min(lo, st[0])
                hi = st[1] if hi is None else max(hi, st[1])
            if seen:
                out[key] = (lo, hi)
        return out

    # ------------------------------------------------------------------ #
    # DML — O(touched partitions)
    # ------------------------------------------------------------------ #
    def _touched(self, df: DataFrame, condition, pcols) -> list:
        """Partition values owning at least one row matching
        ``condition`` — |partitions|-bounded collect.  Scalars for
        single-column tables, full tuples for hierarchical ones.  An
        unpartitioned table's one partition counts as touched without
        a probe: its rewrite is the whole statement anyway."""
        if isinstance(pcols, str):
            pcols = [pcols]
        if not pcols:
            return [()]
        rows = (df.filter(condition)
                .select(*pcols).distinct().collect())
        return [r[0] for r in rows] if len(pcols) == 1 \
            else [tuple(r) for r in rows]

    def insert(self, rows: DataFrame,
               merge_schema: bool = False) -> "PartitionedTable":
        """Append — writes ONE NEW directory per touched partition and
        re-links every existing directory untouched (no rewrite of any
        existing byte; the manifest's dir-lists absorb the append).

        ``merge_schema=True`` is Delta's additive schema evolution: the
        batch may carry NEW trailing columns (recorded in the widened
        manifest schema; old directories are never rewritten — reads
        reconcile them with NULLs via a mergeSchema scan), but may
        never drop, retype, or reorder existing columns."""
        man = self._manifest()
        expected = T._parse_datatype_string(man["schema"])
        got = rows.schema
        if merge_schema:
            old = [(f.name, f.dataType) for f in expected.fields]
            new = [(f.name, f.dataType) for f in got.fields]
            if new[:len(old)] != old:
                raise DatabaseException(
                    f"insert into '{self.root}': merge_schema only ADDS "
                    f"trailing columns; table has "
                    f"{expected.simpleString()}, rows have "
                    f"{got.simpleString()}")
            expected = got  # widened schema published with this commit
        else:
            self._check_schema(expected, got, "insert")
        self._append(man, rows, expected, man.get("txns", {}), "INSERT")
        return self

    def _append(self, man: dict, rows: DataFrame, schema: T.StructType,
                txns: dict, op: str) -> None:
        """Commit ``rows`` as new directories appended to their
        partitions' lists.  NULL-partition and CHECK-constraint guards
        ride the write job inside _write_partitions — no pre-write pass
        over rows."""
        pcols = self._pcols_of(man)
        parts = {k: list(v) for k, v in man["parts"].items()}
        for key, ds in self._write_partitions(
                rows, pcols, man, op=op.lower(),
                enforce=man.get("constraints", {})).items():
            parts.setdefault(key, []).extend(ds)
        self._commit(man["version"] + 1, pcols, schema, parts, txns,
                     man.get("tombstones", {}), op=op, base=man)

    def overwrite_partitions(self, rows: DataFrame,
                             partition_values: list) \
            -> "PartitionedTable":
        """Delta ``replaceWhere`` on the partition column: ONE commit
        that swaps the named partitions' entire directory lists for
        ``rows``' content.  Untouched partitions re-link (no byte of
        them is read or written); a named partition with no rows in
        ``rows`` is REMOVED (its key drops from the manifest, and
        ``changes()`` reports its old rows as deletes).  Rows falling
        outside the named partitions are refused — the guard that makes
        the operation safe to compose (an incremental-refresh caller
        proves it only touches what it planned to touch).  Cost:
        O(|rows| write + |partitions| manifest), never O(table)."""
        return self._overwrite_partitions(self._manifest(), rows,
                                          partition_values)

    def _overwrite_partitions(self, man: dict, rows: DataFrame,
                              partition_values: list,
                              txns: dict[str, int] | None = None) \
            -> "PartitionedTable":
        """:meth:`overwrite_partitions` over manifest ``man``: commits
        ``man``'s successor (ConflictException when another commit took
        that number first) with ``txns`` replacing its map."""
        pcols = self._pcols_of(man)
        expected = T._parse_datatype_string(man["schema"])
        self._check_schema(expected, rows.schema, "overwrite_partitions")
        parts = {k: list(v) for k, v in man["parts"].items()}
        # mistyped scalars (5.0 naming a long partition) coerce via the
        # JVM's own cast — the same rule read_point applies — instead
        # of silently producing an unmatchable key ('5.0' vs staged
        # '5') that would then misreport healthy rows as strays; all
        # mismatched components batch into ONE 1-row evaluation
        from cs186_query_optimization_project_spark import xxh64
        ptypes = [expected[c].dataType for c in pcols]
        tups = []
        mism: list[tuple[list, int, object, T.DataType]] = []
        for v in partition_values:
            tup = list(v) if isinstance(v, (tuple, list)) else [v]
            if len(tup) == len(pcols):
                for i, (x, dt) in enumerate(zip(tup, ptypes)):
                    if x is not None and not xxh64.native_match(x, dt):
                        mism.append((tup, i, x, dt))
            tups.append(tup)
        if mism:
            row = self.spark.range(1).select(*[
                F.lit(x).try_cast(dt).alias(f"__v{j}")
                for j, (_, _, x, dt) in enumerate(mism)]).collect()[0]
            for j, (tup, i, x, dt) in enumerate(mism):
                c = row[f"__v{j}"]
                if c is None:
                    raise DatabaseException(
                        f"overwrite_partitions into '{self.root}': "
                        f"mistyped partition value {x!r} is not "
                        f"castable to partition column type "
                        f"{dt.simpleString()}")
                tup[i] = c
        wanted = {self._ckey(tup, pcols) for tup in tups}
        for key in wanted:
            parts.pop(key, None)
        # both replaceWhere guards (NULL partition values, rows
        # straying outside the named partitions) are driver-side
        # checks on the STAGED key set inside _write_partitions — the
        # old shape paid one full aggregation job over the input per
        # overwrite before the write
        for key, ds in self._write_partitions(
                rows, pcols, man, allowed_keys=wanted,
                op="overwrite_partitions",
                enforce=man.get("constraints", {})).items():
            parts[key] = ds
        self._commit(man["version"] + 1, pcols,
                     T._parse_datatype_string(man["schema"]), parts,
                     man.get("txns", {}) if txns is None else txns,
                     man.get("tombstones", {}), op="OVERWRITE", base=man)
        return self

    def delete(self, condition) -> "PartitionedTable":
        """SQL DELETE semantics (NULL condition keeps the row, like
        ``Database.delete_rows``), rewriting only partitions that own a
        matching row; each touched partition's dir-list collapses to
        one directory (incremental compaction for free)."""
        return self._replace_matching(
            self._manifest(), condition,
            lambda df: df.filter(~condition | condition.isNull()),
            "DELETE")

    def _replace_matching(self, man: dict, condition, rewrite,
                          op: str) -> "PartitionedTable":
        """Commit ``rewrite(rows)`` in place of every partition owning
        a row matching ``condition``, in ONE job; untouched partitions
        re-link, and a partition the rewrite empties maps to an empty
        dir-list."""
        pcols = self._pcols_of(man)
        parts = {k: list(v) for k, v in man["parts"].items()}
        touched = self._touched(self._read(man), condition, pcols)
        if touched:
            new_parts = self._write_partitions(
                rewrite(self._read(man, partition_values=touched)),
                pcols, man, op=op.lower(),
                enforce=man.get("constraints", {}))
            for v in touched:
                parts[self._ckey(v, pcols)] = new_parts.get(
                    self._ckey(v, pcols), [])
        self._commit(man["version"] + 1, pcols,
                     T._parse_datatype_string(man["schema"]), parts,
                     man.get("txns", {}),
                     man.get("tombstones", {}), op=op, base=man)
        return self

    def delete_soft(self, condition_sql: str,
                    masked_counts="scan") -> "PartitionedTable":
        """Deletion-vector-style soft delete (Delta DVs re-expressed as
        per-directory tombstone predicates): instead of rewriting the
        touched partitions, record the SQL condition against every
        CURRENT directory and publish — O(1) data movement however
        large the partitions, the right shape when a few rows die
        inside multi-GB partitions.  Reads apply ``NOT(cond)`` (with
        SQL DELETE null semantics) per tombstoned directory, a map-only
        filter.  Tombstones bind to directories, so rows appended AFTER
        the soft delete are never affected.  A later hard ``delete`` /
        ``update`` / ``merge`` / ``optimize`` of a partition
        MATERIALIZES its tombstones (the rewrite reads through them)
        and clears them.  The condition must be a deterministic SQL
        boolean over the table's columns — it is validated by planning
        it against the current schema before publish.

        Consecutive same-column IN-list tombstones COALESCE at publish
        (one predicate per directory, union of values — see
        ``_coalesce_tombstone``), so the high-churn shape this path
        serves (many small right-to-be-forgotten batches between
        optimizes) costs one read-time filter and one manifest entry,
        not one per batch; an exact re-record (crash retry) leaves the
        list byte-identical.  Accumulated debt is visible per
        directory through :meth:`skipping_report` (``tombstones`` /
        ``masked_rows`` / ``masked_fraction`` columns) and
        :meth:`tombstone_debt` — the signal for when to ``optimize``.

        ``masked_counts`` picks how the deletion-vector CARDINALITY
        (what keeps metadata-only COUNT answerable under soft deletes)
        is obtained:

        - ``"scan"`` (default): ONE map-only aggregate over the
          currently-visible rows counts the newly-masked rows per
          directory — exact, idempotent (existing tombstones applied,
          so nothing double-counts), but O(table) compute per call.
        - ``None``: record NO cardinality — zero Spark jobs; every
          directory whose tombstone list actually changed FAILS CLOSED
          (metadata-only COUNT declines for it until a rewrite).  The
          truly-O(1) mode for callers that never metadata-COUNT the
          table.
        - ``{partition_value: n}``: CALLER-SUPPLIED newly-masked
          visible-row counts per partition value (scalar, or tuple for
          multi-column layouts; a missing key asserts zero newly-masked
          rows in that partition) — zero Spark jobs beyond whatever
          aggregate the caller already ran.  ``n`` is either an int
          (partition-level claim: exact only when the partition holds
          ONE directory; over several, the per-dir split is unknowable
          and the partition's CHANGED directories fail closed) or a
          ``{directory: n}`` dict (per-DIRECTORY claims — exact
          however many directories the partition holds; keys are the
          manifest directory names, which :meth:`file_directories`
          recovers from an aggregate grouped by
          ``input_file_name()``).  Directories whose tombstone list
          did not change (no-op retry / re-delete) keep their exact
          counts regardless of the claim — the caller's aggregate
          legitimately re-counts doomed rows when retrying from a
          pinned snapshot."""
        man = self._manifest()
        pcols = self._pcols_of(man)
        schema = T._parse_datatype_string(man["schema"])
        # fail-fast validation: the predicate must plan over the
        # schema, and must mean the same thing under the grammar it
        # is stored in (a legacy-grammar session would record text
        # whose stored meaning silently diverges — refuse)
        _assert_default_literal_grammar(
            self.spark, condition_sql, f"delete_soft '{self.root}'")
        try:
            self.spark.createDataFrame([], schema).filter(
                F.expr(condition_sql)).schema
        except Exception as exc:
            raise DatabaseException(
                f"delete_soft '{self.root}': condition "
                f"{condition_sql!r} does not plan against "
                f"{schema.simpleString()}: {exc}") from None
        parts = {k: list(v) for k, v in man["parts"].items()}
        tombs = {d: list(ts)
                 for d, ts in man.get("tombstones", {}).items()}
        all_dirs = [d for ds in parts.values() for d in ds]
        cur_counts = dict(man.get("tomb_counts", {}))
        # Record/coalesce the condition FIRST: claim attribution below
        # needs to know which directories' tombstone lists actually
        # changed (an unchanged list masks nothing new).
        changed_dirs: set[str] = set()
        for ds in parts.values():
            for d in ds:
                tombs[d], changed = _coalesce_tombstone(
                    tombs.get(d, []), condition_sql)
                if changed:
                    changed_dirs.add(d)
        inc: dict[str, int] = {}
        poisoned_dirs: set[str] = set()
        if masked_counts == "scan":
            # Exact per-directory cardinality from ONE map-only
            # aggregate over the currently-visible rows.  A directory
            # whose PRE-EXISTING tombstones have no recorded count
            # (legacy manifest) stays count-less — fail closed rather
            # than undercount.  Grouping by (file, partition value)
            # lets an unmappable input_file_name (relative table root,
            # exotic URI encoding) poison ONLY its own partition's
            # directories: those dirs lose their cardinality (fail
            # closed, metadata-only COUNT declines for them), every
            # other dir keeps exact counts — never the old
            # wipe-the-whole-map behavior, which irreversibly lost all
            # previously recorded cardinalities on one bad path.
            poisoned_keys: set[str] = set()
            hit = (self._scan(all_dirs, schema,
                              man.get("tombstones", {}))
                   .filter(F.expr(condition_sql))
                   .groupBy(F.input_file_name().alias("__f"),
                            *[F.col(c).alias(f"__p{i}")
                              for i, c in enumerate(pcols)]).count()
                   .collect())
            known = set(all_dirs)
            for r in hit:
                d = self._file_dir(r["__f"], known)
                if d is None:
                    try:
                        k = self._ckey(tuple(r[f"__p{i}"] for i in
                                             range(len(pcols))),
                                       pcols)
                    except DatabaseException:
                        k = "*"
                    poisoned_keys.add(k if k in parts else "*")
                    continue
                inc[d] = inc.get(d, 0) + r["count"]
            # Unattributable rows can only live in directories whose
            # tombstone list actually changed: an UNCHANGED directory
            # already masks every row this condition matches, so its
            # visible matching count is zero and its recorded
            # cardinality stays valid — never poison it.
            if "*" in poisoned_keys:  # partition unresolvable too:
                poisoned_dirs = set(all_dirs) & changed_dirs
            else:
                poisoned_dirs = {d for k in poisoned_keys
                                 for d in parts.get(k, [])} \
                    & changed_dirs
        elif isinstance(masked_counts, dict):
            for v, n in masked_counts.items():
                k = self._ckey(v, pcols)
                ds = parts.get(k)
                if ds is None:
                    raise DatabaseException(
                        f"delete_soft '{self.root}': masked-count "
                        f"key {v!r} names no current partition")
                if isinstance(n, dict):
                    # per-DIRECTORY claims: exact attribution however
                    # many directories the partition holds (the
                    # append-then-soft-delete shape) — keys are the
                    # manifest's directory names for this partition
                    # (map input_file_name() through
                    # :meth:`file_directories` to get them)
                    for d, m in n.items():
                        if not isinstance(m, int) or m < 0:
                            raise DatabaseException(
                                f"delete_soft '{self.root}': "
                                f"per-directory masked count for "
                                f"{v!r}/{d!r} must be a non-negative "
                                f"int, got {m!r}")
                        if d not in ds:
                            raise DatabaseException(
                                f"delete_soft '{self.root}': "
                                f"per-directory masked-count key "
                                f"{d!r} names no current directory "
                                f"of partition {v!r}")
                        if m:
                            inc[d] = inc.get(d, 0) + m
                    continue
                if not isinstance(n, int) or n < 0:
                    raise DatabaseException(
                        f"delete_soft '{self.root}': masked count "
                        f"for {v!r} must be a non-negative int or a "
                        f"per-directory dict, got {n!r}")
                if not n:
                    continue
                if len(ds) == 1:
                    inc[ds[0]] = inc.get(ds[0], 0) + n
                else:
                    # nonzero partition-level claim over several
                    # directories: the per-dir split is unknowable —
                    # fail closed, but ONLY for directories whose
                    # tombstone list actually changed.  An unchanged
                    # directory masks nothing new, so a
                    # pinned-snapshot retry against a partition that
                    # has since grown a second directory keeps the
                    # old directory's exact cardinality.
                    poisoned_dirs.update(set(ds) & changed_dirs)
        elif masked_counts is not None:
            raise DatabaseException(
                f"delete_soft '{self.root}': masked_counts must be "
                f"'scan', None, or a dict of partition-value counts, "
                f"got {masked_counts!r}")
        # A directory whose tombstone list did NOT change masks nothing
        # new — drop any claimed/scanned increment for it.  This is
        # what makes a crash RETRY exact in dict mode: the caller's
        # aggregate legitimately re-counts the doomed rows from its
        # pinned snapshot, but the already-recorded tombstone proves
        # they were counted once.  (Scan mode is already 0 there —
        # visible rows exclude them — so this is a no-op for it.)
        inc = {d: n for d, n in inc.items() if d in changed_dirs}
        new_counts: dict[str, int] = {}
        for d in all_dirs:
            if d in poisoned_dirs:
                continue  # unattributable masked rows: drop THIS
                # dir's count only (fail closed locally)
            if man.get("tombstones", {}).get(d) and \
                    not isinstance(cur_counts.get(d), int):
                continue  # PRE-EXISTING tombstones of unknown
                # cardinality (legacy manifest / earlier None-mode):
                # unknown stays unknown
            if masked_counts is None and d in changed_dirs:
                continue  # cardinality declared unknown: fail closed
            new_counts[d] = cur_counts.get(d, 0) + inc.get(d, 0)
        self._commit(man["version"] + 1, pcols, schema, parts,
                     man.get("txns", {}), tombs,
                     tomb_counts=new_counts, op="DELETE (soft)", base=man)
        return self

    def update(self, condition, assignments: dict) -> "PartitionedTable":
        """UPDATE over touched partitions only.  Assignments to the
        partition column are refused — a value change would MOVE rows
        between partitions (Hive's classic restriction; Delta pays a
        two-partition rewrite for it; delete+insert expresses a move
        here explicitly)."""
        from cs186_query_optimization_project_spark.transactions import (
            make_update_applier,
        )

        man = self._manifest()
        pcols = self._pcols_of(man)
        for c in pcols:
            if c in assignments:
                raise DatabaseException(
                    f"update '{self.root}': assigning the partition "
                    f"column '{c}' would move rows between "
                    f"partitions; express a move as delete + insert")
        schema = T._parse_datatype_string(man["schema"])
        for col_name in assignments:
            if col_name not in schema.fieldNames():
                raise DatabaseException(
                    f"update '{self.root}': unknown column "
                    f"'{col_name}'")
        return self._replace_matching(
            man, condition, make_update_applier(condition, assignments),
            "UPDATE")

    def merge(self, source: DataFrame, on: str | tuple[str, ...],
              update_cols: tuple[str, ...] | None = None,
              insert_unmatched: bool = True) -> "PartitionedTable":
        """MERGE upsert at partition granularity (``Database
        .merge_rows``, whose ``update_cols`` / ``insert_unmatched``
        it takes): matched target rows take the source's values,
        unmatched source rows append.  Touched partitions are those
        owning a MATCHED TARGET row (the key match decides where the
        rewrite happens — a source row may update a target row living
        in a different partition than the source row's own value, as
        long as the update doesn't move it); unmatched source rows land
        as appended directories in their own partitions.  Two
        |partitions|-bounded distincts plan the statement; two jobs
        execute it."""
        keys = [on] if isinstance(on, str) else list(on)
        man = self._manifest()
        pcols = self._pcols_of(man)
        schema = T._parse_datatype_string(man["schema"])
        self._check_schema(schema, source.schema, "merge")
        for k in keys:
            if k not in schema.fieldNames():
                raise DatabaseException(
                    f"merge into '{self.root}': unknown key column "
                    f"'{k}'")
        # an empty tuple means an insert-only merge, not "update all"
        upd_cols = [c for c in (update_cols if update_cols is not None
                                else schema.fieldNames())
                    if c not in keys]
        source = merge_source(source, keys, self.root)
        cur = self._read(man)
        touched: list = []
        if upd_cols and not pcols:
            touched = [()]  # the one partition; no planning job
        elif upd_cols:
            # ONE bounded job plans the statement: the matched target
            # rows' partitions (the rewrite set) AND the moved-row
            # guard (a matched row must not change partition value —
            # same restriction as update()) come out of a single
            # target⋈source join + per-partition aggregate.
            loose = [c for c in pcols if c not in keys and c in upd_cols]
            s_pref = source.select(
                *[F.col(k) for k in keys],
                *[F.col(c).alias(f"__s_{c}") for c in loose])
            moved_flag = F.lit(False)
            for c in loose:
                moved_flag = moved_flag | (F.col(c) != F.col(f"__s_{c}"))
            touched_rows = (cur.join(s_pref, keys, "inner")
                            .groupBy(*pcols)
                            .agg(F.max(moved_flag).alias("__moved"))
                            .collect())
            if any(r["__moved"] for r in touched_rows):
                raise DatabaseException(
                    f"merge into '{self.root}': a matched source row "
                    f"changes a partition column ({loose}) — express "
                    f"a move as delete + insert")
            touched = [r[0] for r in touched_rows] if len(pcols) == 1 \
                else [tuple(r[:len(pcols)]) for r in touched_rows]
        parts = {k: list(v) for k, v in man["parts"].items()}
        # ONE staged write executes the statement.  Staged keys that
        # were touched REPLACE their partition's directory list; all
        # other staged keys append.
        payload = merge_payload(
            self._read(man, partition_values=touched) if touched
            else None, cur, source, keys, upd_cols, insert_unmatched)
        staged = {} if payload is None else self._write_partitions(
            payload, pcols, man, op="merge",
            enforce=man.get("constraints", {}))
        replaced = {self._ckey(v, pcols) for v in touched}
        for key in replaced:
            parts[key] = list(staged.get(key, []))
        for key, ds in staged.items():
            if key not in replaced:
                parts.setdefault(key, []).extend(ds)
        self._commit(man["version"] + 1, pcols, schema, parts,
                     man.get("txns", {}),
                     man.get("tombstones", {}), op="MERGE", base=man)
        return self

    # ------------------------------------------------------------------ #
    # CHECK constraints (Delta ``ALTER TABLE ... ADD CONSTRAINT``) —
    # table policy enforced on every row-producing commit
    # ------------------------------------------------------------------ #
    def constraints(self) -> dict[str, str]:
        return dict(self._manifest().get("constraints", {}))

    def add_constraint(self, name: str,
                       expr_sql: str) -> "PartitionedTable":
        """Register a CHECK constraint: first validate EXISTING rows
        (one violation-count scan; SQL CHECK semantics — only rows
        where the expression is FALSE violate, NULL/unknown passes),
        then publish a metadata-only commit recording it.  Every later
        insert / update / merge / idempotent_append batch is validated
        against the registered set before its commit."""
        man = self._manifest()
        cons = dict(man.get("constraints", {}))
        if name in cons:
            raise DatabaseException(
                f"constraint '{name}' already exists on '{self.root}' "
                f"(drop it first to redefine)")
        e = F.expr(expr_sql)
        bad = (self._read(man).select(
            F.coalesce(F.sum((e == F.lit(False)).cast("bigint")),
                       F.lit(0)).alias("__bad")).collect()[0]["__bad"])
        if bad:
            raise DatabaseException(
                f"cannot add constraint '{name}' ({expr_sql}): {bad} "
                f"existing rows violate it")
        cons[name] = expr_sql
        self._commit(man["version"] + 1, self._pcols_of(man),
                     T._parse_datatype_string(man["schema"]),
                     man["parts"], man.get("txns", {}),
                     man.get("tombstones", {}), constraints=cons,
                     op="ADD CONSTRAINT", base=man)
        return self

    def drop_constraint(self, name: str) -> "PartitionedTable":
        man = self._manifest()
        cons = dict(man.get("constraints", {}))
        if name not in cons:
            raise DatabaseException(
                f"no constraint '{name}' on '{self.root}'; defined: "
                f"{sorted(cons)}")
        del cons[name]
        self._commit(man["version"] + 1, self._pcols_of(man),
                     T._parse_datatype_string(man["schema"]),
                     man["parts"], man.get("txns", {}),
                     man.get("tombstones", {}), constraints=cons,
                     op="DROP CONSTRAINT", base=man)
        return self

    def changes(self, from_version: int,
                to_version: int | None = None) -> DataFrame:
        """Change data feed (Delta CDF's ``table_changes``): rows that
        differ between two retained versions, annotated with
        ``_change_type`` ('insert' | 'delete') and ``_commit_version``
        (the version that introduced the change).  An update surfaces
        as its delete+insert pair, like CDF without the pre/post-image
        labels.

        Cost tracks CHURN, not table size: each version step is diffed
        manifest-to-manifest —

        - a partition whose directory list only GREW (append commit)
          contributes the new directories' rows as inserts, scanning
          nothing else;
        - new tombstones on a directory contribute the newly-matching
          rows as deletes, a pruned scan of the bound directories only;
        - a REWRITTEN partition (dir set replaced) diffs old vs new via
          two ``exceptAll``s over just that partition.

        Untouched partitions are never read.  Consumers drive
        incremental pipelines from this instead of re-diffing a 100 TB
        table."""
        vs = self.versions()
        if to_version is None:
            to_version = vs[-1]
        for v in (from_version, to_version):
            if v not in vs:
                raise DatabaseException(
                    f"changes({from_version}, {to_version}): version "
                    f"{v} is not retained; retained: {vs}")
        if from_version > to_version:
            raise DatabaseException(
                f"changes: from_version {from_version} > to_version "
                f"{to_version}")
        steps = [v for v in vs if from_version < v <= to_version]
        out_parts: list[DataFrame] = []
        prev = self._manifest(from_version)
        for v in steps:
            n_before = len(out_parts)
            cur = self._manifest(v)
            if str(cur.get("op", "")).startswith("REPARTITION"):
                # layout-only rewrite: visible content is identical by
                # construction (Delta dataChange=false) — emitting the
                # key-set diff would report a spurious full
                # delete+insert to every incremental consumer
                prev = cur
                continue
            schema = T._parse_datatype_string(cur["schema"])
            old_tombs = prev.get("tombstones", {})
            new_tombs = cur.get("tombstones", {})
            for key, new_ds in cur["parts"].items():
                old_ds = prev["parts"].get(key, [])
                if new_ds[:len(old_ds)] == old_ds:
                    # append-only step for this partition
                    added = new_ds[len(old_ds):]
                    if added:
                        out_parts.append(
                            self._scan(added, schema, new_tombs)
                            .withColumn("_change_type", F.lit("insert")))
                    for d in old_ds:
                        fresh = [c for c in new_tombs.get(d, [])
                                 if c not in old_tombs.get(d, [])]
                        if fresh:
                            # rows newly matching a tombstone = deletes
                            hit = self._scan([d], schema, old_tombs)
                            cond = None
                            for c in fresh:
                                e = F.expr(c)
                                cond = e if cond is None else (cond | e)
                            out_parts.append(
                                hit.filter(cond)
                                .withColumn("_change_type",
                                            F.lit("delete")))
                else:
                    old_df = self._scan(old_ds,
                                        T._parse_datatype_string(
                                            prev["schema"]), old_tombs)
                    for f in schema.fields:
                        if f.name not in old_df.columns:
                            old_df = old_df.withColumn(
                                f.name, F.lit(None).cast(f.dataType))
                    old_df = old_df.select(*schema.fieldNames())
                    new_df = self._scan(new_ds, schema, new_tombs)
                    out_parts.append(
                        new_df.exceptAll(old_df)
                        .withColumn("_change_type", F.lit("insert")))
                    out_parts.append(
                        old_df.exceptAll(new_df)
                        .withColumn("_change_type", F.lit("delete")))
            for key, old_ds in prev["parts"].items():
                if key not in cur["parts"] and old_ds:
                    out_parts.append(
                        self._scan(old_ds, T._parse_datatype_string(
                            prev["schema"]), old_tombs)
                        .withColumn("_change_type", F.lit("delete")))
            # stamp only THIS step's parts (earlier steps are already
            # stamped) — a full re-scan of the accumulated list per
            # step would make long version-range reads O(steps²)
            for i in range(n_before, len(out_parts)):
                out_parts[i] = out_parts[i].withColumn(
                    "_commit_version", F.lit(v).cast("bigint"))
            prev = cur
        final_schema = T._parse_datatype_string(
            self._manifest(to_version)["schema"])
        if not out_parts:
            empty = self.spark.createDataFrame([], final_schema)
            return (empty
                    .withColumn("_change_type", F.lit(""))
                    .withColumn("_commit_version",
                                F.lit(0).cast("bigint")).limit(0))
        # reconcile pre-evolution steps to the final schema
        aligned = []
        for df in out_parts:
            for f in final_schema.fields:
                if f.name not in df.columns:
                    df = df.select(*df.columns[:-2],
                                   F.lit(None).cast(f.dataType)
                                   .alias(f.name),
                                   "_change_type", "_commit_version")
            aligned.append(df.select(*final_schema.fieldNames(),
                                     "_change_type", "_commit_version"))
        out = aligned[0]
        for df in aligned[1:]:
            out = out.unionByName(df)
        return out

    def consume_changes(self, cursor_path: str,
                        initial: str = "latest"):
        """Incremental CDF consumption with a durable cursor: returns
        ``(changes_df, ack)`` where the frame holds every change after
        the cursor's version up to the current version, and calling
        ``ack()`` advances the cursor — at-least-once delivery: a
        consumer that crashes before acking re-reads the same span, one
        that acks after durably processing gets each change exactly
        once.  The cursor is a directory of write-once ``v<N>.json``
        entries named by the acked version, read newest-first; an ack
        whose entry already exists was acked already.  A missing
        cursor starts at the current version (``initial='latest'``,
        Delta's default) or the oldest retained one
        (``'earliest'``)."""
        if metaio.IO.exists(cursor_path) and \
                not metaio.IO.is_dir(cursor_path):
            raise DatabaseException(
                f"consume_changes: cursor '{cursor_path}' is a single "
                f"file written by an older build; delete it to reset "
                f"the cursor (the next read starts at `initial`)")
        vs = self.versions()
        current = vs[-1]
        try:
            acked = listed_versions(cursor_path)
        except FileNotFoundError:
            acked = []
        if acked:
            start = acked[-1]
        elif initial not in ("latest", "earliest"):
            raise DatabaseException(
                f"consume_changes: initial must be 'latest' or "
                f"'earliest', got {initial!r}")
        else:
            start = current if initial == "latest" else vs[0]
        if start not in vs:
            raise DatabaseException(
                f"consume_changes: cursor version {start} is no longer "
                f"retained (vacuumed past the consumer); retained: "
                f"{vs} — reset the cursor or raise vacuum retention")
        feed = self.changes(start, current)

        def ack() -> int:
            log_publish(cursor_path, current, {"version": current})
            return current

        return feed, ack

    # ------------------------------------------------------------------ #
    # streaming sink — exactly-once micro-batch appends
    # ------------------------------------------------------------------ #
    def idempotent_append(self, rows: DataFrame, sink_id: str,
                          batch_id: int) -> bool:
        """Exactly-once append for streaming micro-batches (Delta's
        ``txn`` action re-expressed on manifests): the manifest records
        the highest committed ``batch_id`` per ``sink_id``, and a
        replayed batch (``<=`` the recorded watermark) is a NO-OP — so
        a foreachBatch retry after a mid-commit failure cannot
        double-append.  The dedup check and the append commit
        atomically together (both live in the same manifest file), so
        there is no window where data landed but the watermark didn't.
        On a commit race the append retries once on the fresh manifest,
        re-checking the watermark (the loser's staged directories stay
        unreferenced until vacuum).  Returns True if this call
        committed the batch, False if it was a dedup no-op."""
        for attempt in (0, 1):
            man = self._manifest()
            done = man.get("txns", {}).get(sink_id)
            if done is not None and batch_id <= done:
                return False
            expected = T._parse_datatype_string(man["schema"])
            self._check_schema(expected, rows.schema, "append")
            try:
                self._append(man, rows, expected,
                             {**man.get("txns", {}), sink_id: batch_id},
                             "STREAMING APPEND")
                return True
            except ConflictException:
                if attempt:
                    raise
        raise AssertionError("unreachable")  # pragma: no cover

    def foreach_batch_sink(self, sink_id: str):
        """A ``writeStream.foreachBatch`` callable appending every
        micro-batch exactly once::

            (stream_df.writeStream
             .option("checkpointLocation", ckpt)
             .foreachBatch(pt.foreach_batch_sink("events_ingest"))
             .trigger(availableNow=True).start())

        The checkpoint makes Spark replay at-least-once after failures;
        ``idempotent_append``'s manifest watermark turns that into
        exactly-once, the same contract Delta's streaming sink
        documents."""
        def sink(batch_df: DataFrame, batch_id: int) -> None:
            self.idempotent_append(batch_df, sink_id, int(batch_id))
        return sink

    # ------------------------------------------------------------------ #
    # maintenance
    # ------------------------------------------------------------------ #
    def repartition_table(self, partition_cols) -> "PartitionedTable":
        """PARTITION-LAYOUT EVOLUTION in one versioned commit: rewrite
        the current visible content under a NEW partition column list
        (single↔multi, reorder, different columns) and publish a
        manifest carrying the new ``partition_cols``.  Because every
        manifest stores ITS OWN column list, time travel across the
        boundary reads each version under its own layout, and every
        partition-aware read after the commit prunes on the new one —
        Delta requires dropping and recreating the table for this;
        here the version history survives.

        Cost is O(table) data movement by definition — that is what a
        layout change is; the point is the COMMIT is still atomic and
        the old layout stays readable.  Visible content is identical
        by construction (the rewrite reads through tombstones, which
        were already reported as deletes when they committed), so the
        commit is tagged ``REPARTITION`` and :meth:`changes` treats it
        as data-unchanged (Delta's ``dataChange=false``): downstream
        incremental consumers and materialized views see zero churn
        instead of a spurious full delete+insert."""
        pcols = [partition_cols] if isinstance(partition_cols, str) \
            else list(partition_cols)
        man = self._manifest()
        schema = T._parse_datatype_string(man["schema"])
        self._check_partition_cols(pcols, schema,
                                   f"repartition_table '{self.root}'")
        df = self._read(man)  # current version, tombstones applied
        # NULLs in a NEW partition column are caught from the staged
        # layout inside _write_partitions — the old take(1) probe was
        # a full extra table pass when no row matched
        parts = self._write_partitions(df, pcols, man,
                                       op="repartition_table")
        self._commit(man["version"] + 1, pcols, schema, parts,
                     man.get("txns", {}),
                     op=f"REPARTITION ({', '.join(pcols)})", base=man)
        return self

    def optimize(self, target_file_bytes: int = 128 << 20,
                 sort_by: tuple[str, ...] = (),
                 zorder_by: tuple[str, str] | None = None) -> list[str]:
        """Delta OPTIMIZE at partition granularity: compact every
        partition whose directory list grew past one (append
        accretion) or whose file count exceeds its size-targeted
        budget, into ONE fresh directory each — published as a new
        version whose untouched partitions share directories as usual.
        ``sort_by`` re-clusters while compacting (OPTIMIZE ... ZORDER's
        1-D analog; pushed range filters then skip row groups inside
        the compacted files, complementing the directory-level
        ``read_where`` skipping).  ``zorder_by`` instead clusters on
        the Morton interleave of TWO numeric columns (OPTIMIZE ...
        ZORDER BY proper, via ``sources.writers._interleave_bits``) so
        row-group stats stay narrow on both at once.  One
        ``repartitionByRange`` job over the touched partitions only;
        sizing uses real on-disk bytes like
        ``sources.writers.compact_table`` (its docstring carries the
        small-files-at-100TB argument).  Returns the compacted
        partition keys; a no-op publishes nothing."""
        import math

        if zorder_by and sort_by:
            raise DatabaseException(
                "optimize: sort_by and zorder_by are exclusive — one "
                "clustering order per rewrite")

        man = self._manifest()
        pcols = self._pcols_of(man)
        parts = {k: list(v) for k, v in man["parts"].items()}

        def usage(ds):
            total = count = 0
            for d in ds:
                for f in metaio.IO.list_dir(d):
                    if f.endswith(".parquet"):
                        # through the seam (HEAD on object stores) —
                        # this sizing walk must work wherever the
                        # manifests live, not only on POSIX
                        total += metaio.IO.file_size(
                            os.path.join(d, f))
                        count += 1
            return total, count

        tombs = man.get("tombstones", {})
        touched = []
        touched_bytes = 0
        for k, ds in parts.items():
            total, count = usage(ds)
            budget = max(1, math.ceil(total / target_file_bytes))
            # tombstoned dirs compact too: the rewrite reads through
            # the soft deletes and the new dir starts clean
            if len(ds) > 1 or count > budget or \
                    any(d in tombs for d in ds):
                touched.append(k)
                touched_bytes += total
        if not touched:
            return []
        n_out = max(1, math.ceil(touched_bytes / target_file_bytes))
        # touched holds manifest KEY strings; on hierarchical tables
        # re-split them into full tuples for exact (non-prefix) match
        df = self._read(man, partition_values=(
            touched if len(pcols) == 1
            else [tuple(k.split("/")) for k in touched]))
        if zorder_by:
            from cs186_query_optimization_project_spark.sources.writers \
                import _interleave_bits

            c0, c1 = zorder_by
            row = df.agg(F.min(c0).alias("min0"), F.max(c0).alias("max0"),
                         F.min(c1).alias("min1"),
                         F.max(c1).alias("max1")).first()
            if row["min0"] is None or row["min1"] is None:
                shaped = df  # empty/all-NULL: nothing to interleave
            else:
                bits = 8
                top = (1 << bits) - 1
                span0 = (row["max0"] - row["min0"]) or 1
                span1 = (row["max1"] - row["min1"]) or 1
                z = _interleave_bits(
                    ((F.col(c0) - F.lit(row["min0"])) * top
                     / F.lit(span0)).cast("long"),
                    ((F.col(c1) - F.lit(row["min1"])) * top
                     / F.lit(span1)).cast("long"), bits)
                shaped = (df.withColumn("__z", z)
                          .repartitionByRange(
                              n_out, *[F.col(c) for c in pcols],
                              F.col("__z"))
                          .sortWithinPartitions(*pcols, "__z")
                          .drop("__z"))
        else:
            cols = [*pcols, *sort_by]
            shaped = (df.repartitionByRange(n_out,
                                            *[F.col(c) for c in cols])
                      .sortWithinPartitions(*cols))
        new_parts = self._write_partitions(
            shaped, pcols, man, sort_cols=list(sort_by) if sort_by or
            zorder_by else None)
        for k in touched:
            parts[k] = new_parts.get(k, [])
        self._commit(man["version"] + 1, pcols,
                     T._parse_datatype_string(man["schema"]), parts,
                     man.get("txns", {}),
                     man.get("tombstones", {}), op="OPTIMIZE", base=man)
        return sorted(touched)

    def optimize_if(self, max_tombstones: int | None = None,
                    max_masked_fraction: float | None = None,
                    target_file_bytes: int = 128 << 20,
                    sort_by: tuple[str, ...] = (),
                    zorder_by: tuple[str, str] | None = None,
                    ) -> list[str]:
        """Debt-driven :meth:`optimize` — the policy loop that turns
        :meth:`tombstone_debt` from observable into self-managing:
        materialize soft-delete tombstones only once SOME directory's
        accumulated debt crosses a threshold.  Below threshold the
        call is a pure driver-side metadata check (manifest + footer
        stats, ZERO Spark jobs — the same zero-job promise as the
        soft deletes it watches); at/over it, one :meth:`optimize`
        rewrite materializes and clears the debt.  This is the
        operational conclusion of the reference's missing-deletes
        story (``BPlusTree.java:130–133`` leaves ``deleteKey``
        unimplemented): deletes accrue O(1) as tombstones, and the
        rewrite is amortized against a caller-owned debt line.

        A directory trips the policy when it has live tombstones AND
        either its predicate count EXCEEDS ``max_tombstones`` (the
        read-time filter work per scan of that directory) or its
        masked-row fraction EXCEEDS ``max_masked_fraction`` (the
        wasted-scan fraction).  A masked fraction that is UNKNOWN
        (cardinality declined at soft-delete time — ``masked_counts=
        None`` or a fail-closed attribution) trips a configured
        ``max_masked_fraction`` immediately: unknown debt is treated
        as "optimize now", per :meth:`tombstone_debt`.  Returns
        :meth:`optimize`'s compacted keys, ``[]`` when below
        threshold.  At least one threshold is required — an
        unconditional rewrite is plain :meth:`optimize`."""
        if not self.tombstone_debt_exceeds(max_tombstones,
                                           max_masked_fraction):
            return []
        return self.optimize(target_file_bytes, sort_by=sort_by,
                             zorder_by=zorder_by)

    def tombstone_debt_exceeds(self, max_tombstones: int | None = None,
                               max_masked_fraction: float | None = None,
                               ) -> bool:
        """The threshold predicate behind :meth:`optimize_if` (shared
        with the index-layer policies, e.g. ``retrieval
        .postings_optimize_if``): True when SOME directory with live
        tombstones has a predicate count exceeding ``max_tombstones``
        or a masked-row fraction exceeding ``max_masked_fraction``
        (unknown fraction counts as exceeded).  Pure driver-side
        metadata, zero Spark jobs.  At least one threshold is
        required."""
        if max_tombstones is None and max_masked_fraction is None:
            raise DatabaseException(
                "tombstone debt policy: give max_tombstones and/or "
                "max_masked_fraction (an unconditional rewrite is "
                "optimize())")

        def over(row) -> bool:
            if not row["tombstones"]:
                return False
            if max_tombstones is not None and \
                    row["tombstones"] > max_tombstones:
                return True
            if max_masked_fraction is not None:
                frac = row["masked_fraction"]
                return frac is None or frac > max_masked_fraction
            return False

        return any(over(r) for r in self.tombstone_debt())

    def history(self) -> DataFrame:
        """Delta ``DESCRIBE HISTORY``: one row per retained version —
        (version, op, timestamp, n_partitions, n_dirs).  Driver work is
        O(retained versions); no data directory is opened.  Manifests
        from before the audit fields existed report op 'WRITE' and a
        NULL timestamp."""
        import datetime as _dt

        rows = []
        for v in self.versions():
            man = self._manifest(v)
            ts = man.get("ts")
            rows.append((
                v, man.get("op", "WRITE"),
                _dt.datetime.fromtimestamp(ts) if ts else None,
                len([k for k, ds in man["parts"].items() if ds]),
                sum(len(ds) for ds in man["parts"].values())))
        return local_rows_df(
            self.spark,
            rows, "version bigint, op string, ts timestamp, "
                  "n_partitions int, n_dirs int")

    def describe_detail(self, version: int | None = None) -> dict:
        """Delta ``DESCRIBE DETAIL``: one dict describing a version's
        physical shape — partition columns, partition/directory/file
        counts, total data bytes, row count when metadata alone knows
        it (``metadata_count``'s fail-closed contract: None under
        uncounted tombstones), declared Bloom columns and constraints,
        and the live-tombstone count.  File/byte figures come from the
        per-file stats sidecars where present and fall back to a
        listing of the directory (legacy stagings) — driver-side
        metadata either way, zero Spark jobs."""
        man = self._manifest(version)
        n_files = 0
        total_bytes = 0
        for ds in man["parts"].values():
            for d in ds:
                fstats = (self._staging_stats(os.path.dirname(d))
                          .get(os.path.basename(d), {})
                          .get("__files"))
                names = (sorted(fstats) if isinstance(fstats, dict)
                         and fstats else
                         [f for f in metaio.IO.list_dir(d)
                          if f.endswith(".parquet")])
                n_files += len(names)
                for f in names:
                    try:
                        total_bytes += metaio.IO.file_size(
                            os.path.join(d, f))
                    except (OSError, AttributeError):
                        pass  # size is advisory; absence ≠ failure
        return {
            "version": man["version"],
            "partition_cols": self._pcols_of(man),
            "n_partitions": len([k for k, ds in man["parts"].items()
                                 if ds]),
            "n_dirs": sum(len(ds) for ds in man["parts"].values()),
            "n_files": n_files,
            "total_bytes": total_bytes,
            "n_rows": self.metadata_count(version),
            "bloom_cols": list(man.get("bloom_cols", [])),
            "constraints": dict(man.get("constraints", {})),
            "n_tombstoned_dirs": len([d for d, ts in
                                      man.get("tombstones", {})
                                      .items() if ts]),
        }

    def version_at(self, ts: float) -> int:
        """Delta ``TIMESTAMP AS OF``: the newest retained version whose
        commit timestamp is ≤ ``ts`` (a POSIX timestamp) — pass the
        result to ``read(version=...)`` / ``changes(...)``.  Versions
        without a recorded timestamp (pre-audit manifests) are treated
        as older than everything, like Delta treats missing commit
        times.  Raises when ``ts`` predates the oldest retained
        commit — reading "before the table existed" (or before vacuum's
        horizon) must fail loudly, not silently return v0."""
        best = None
        for v in self.versions():
            man_ts = self._manifest(v).get("ts")
            if man_ts is None or man_ts <= ts:
                best = v
        if best is None:
            raise DatabaseException(
                f"partitioned table '{self.root}': no retained version "
                f"at or before timestamp {ts}; oldest retained commit "
                f"is newer (or vacuumed)")
        return best

    def restore(self, version: int) -> "PartitionedTable":
        """Delta ``RESTORE``: publish a NEW version whose content is
        exactly the retained ``version``'s (parts, tombstones,
        partition column, schema, ``meta``) — history only rolls
        FORWARD, so the bad intermediate versions stay readable for
        audit, and the restore itself is one manifest write:
        O(metadata), zero data movement at any table size.  The
        streaming ``txns`` watermark map carries forward from the
        CURRENT version, not the restored one — exactly-once replay
        protection must survive a rollback.
        ``changes()`` across the restore commit reports exactly the
        rows that came back or disappeared (it is an ordinary manifest
        diff).  CHECK constraints are NOT re-validated against the
        restored content (they gate row-producing batches, not
        manifest-level rollbacks) — if a constraint was added after
        the target version, validate explicitly before restoring."""
        cur = self._manifest()
        old = self._manifest(version)
        self._commit(cur["version"] + 1, self._pcols_of(old),
                     T._parse_datatype_string(old["schema"]),
                     old["parts"], txns=cur.get("txns"),
                     tombstones=old.get("tombstones"),
                     tomb_counts=old.get("tomb_counts", {}),
                     meta=old.get("meta"), op=f"RESTORE (to v{version})",
                     base=cur)
        return self

    def clone(self, dest_root: str,
              version: int | None = None) -> "PartitionedTable":
        """SHALLOW CLONE (Delta ``CLONE``): a new table whose v0
        manifest REFERENCES the source version's data directories —
        zero rows copied, O(metadata).  DML on the clone copy-on-writes
        fresh directories under the CLONE's own root (the source is
        never written), and the clone's :meth:`vacuum` deletes only
        under its own ``parts/``, so it can never reclaim source data.

        The classic Delta shallow-clone hazard — vacuuming the SOURCE
        deletes directories the clone still references — is GUARDED
        here: every clone registers its root in the source's
        ``_clones/`` registry BEFORE its v0 commits (one write-once
        entry per clone, so concurrent clones cannot lose each other's
        registration), and the source's :meth:`vacuum` treats any
        directory a registered clone's (transitively — a clone of a
        clone still points at OUR data dirs) retained manifest
        references as reachable, skipping it.  A clone deleted from
        disk is pruned from the registry on the next vacuum;
        :meth:`detach_clone` removes a registration explicitly (after
        a deep copy)."""
        man = self._manifest(version)
        dest_root = dest_root.rstrip("/")
        manifests = os.path.join(dest_root, "_manifests")
        metaio.IO.make_dirs(manifests, exist_ok=True)
        if listed_versions(manifests):
            raise DatabaseException(
                f"clone: '{dest_root}' already holds a table")
        metaio.IO.make_dirs(os.path.join(dest_root, "parts"),
                            exist_ok=True)
        self._register_clone(dest_root)
        stub = PartitionedTable(self.spark, dest_root)
        stub._commit(0, self._pcols_of(man),
                     T._parse_datatype_string(man["schema"]),
                     man["parts"], tombstones=man.get("tombstones"),
                     constraints=man.get("constraints", {}),
                     bloom_cols=man.get("bloom_cols", []),
                     tomb_counts=man.get("tomb_counts", {}),
                     sort_cols=man.get("sort_cols", []),
                     meta=man.get("meta"), op="CLONE")
        return PartitionedTable(self.spark, dest_root)

    # ------------------------------------------------------------------ #
    # clone registry (vacuum-safety for shallow clones)
    # ------------------------------------------------------------------ #
    def _clone_entry(self, dest_root: str) -> str:
        """The registry entry of one clone root, named by its hash."""
        digest = hashlib.sha1(
            os.path.normpath(dest_root).encode()).hexdigest()
        return os.path.join(self.root, "_clones", f"{digest}.json")

    def registered_clones(self) -> list[str]:
        """Roots of shallow clones registered against this table (the
        set this table's vacuum protects)."""
        reg = os.path.join(self.root, "_clones")
        try:
            names = metaio.IO.list_dir(reg)
        except FileNotFoundError:
            return []
        out = []
        for name in names:
            if name.endswith(".json"):
                with contextlib.suppress(FileNotFoundError):
                    out.append(json.loads(metaio.IO.read_text(
                        os.path.join(reg, name))))
        return sorted(out)

    def _register_clone(self, dest_root: str) -> None:
        entry = self._clone_entry(dest_root)
        metaio.IO.make_dirs(os.path.dirname(entry), exist_ok=True)
        with contextlib.suppress(FileExistsError):  # registered already
            metaio.IO.write_new(
                entry, json.dumps(os.path.normpath(dest_root)))

    def detach_clone(self, dest_root: str) -> None:
        """Drop a clone registration (after deep-copying the clone's
        data out, or after deleting the clone) so this table's vacuum
        stops protecting the clone's directories."""
        with contextlib.suppress(FileNotFoundError):
            metaio.IO.remove(self._clone_entry(dest_root))

    def _clone_referenced(self) -> set[str]:
        """Directories any registered clone — transitively — still
        references in a retained manifest.  Dead clones (root gone from
        disk) are pruned from their parent's registry as a side
        effect.  Driver cost: O(registered clones × their retained
        manifests), metadata only; no data directory is opened."""
        referenced: set[str] = set()
        seen = {os.path.normpath(self.root)}
        frontier: list["PartitionedTable"] = [self]
        while frontier:
            t = frontier.pop()
            if metaio.IO.exists(os.path.join(t.root, "_clones.json")):
                raise DatabaseException(
                    f"vacuum '{self.root}': '{t.root}/_clones.json' is "
                    f"a clone registry written by an older build; "
                    f"vacuum refuses rather than delete directories "
                    f"the clones it lists may still read — delete the "
                    f"file once none of them is in use")
            for c in t.registered_clones():
                c = os.path.normpath(c)
                if not metaio.IO.is_dir(
                        os.path.join(c, "_manifests")):
                    t.detach_clone(c)  # clone deleted from disk
                    continue
                if c in seen:
                    continue
                seen.add(c)
                clone = PartitionedTable(self.spark, c)
                for v in clone.versions():
                    for ds in clone._manifest(v)["parts"].values():
                        referenced.update(os.path.normpath(d)
                                          for d in ds)
                frontier.append(clone)
        return referenced

    def vacuum(self, keep_last: int = 1) -> list[str]:
        """Reachability-based reclamation: drop manifests older than
        the newest ``keep_last`` retained ones, then delete every data
        directory no retained manifest references.  A directory shared
        with a retained version SURVIVES — vacuum cost tracks churn,
        not table size.  Directories a registered shallow clone still
        references are treated as reachable too (see :meth:`clone`),
        closing the Delta vacuum-after-clone data-loss hazard.
        Returns deleted directories."""
        if keep_last < 1:
            raise DatabaseException(
                f"vacuum '{self.root}': keep_last must be >= 1, got "
                f"{keep_last}")
        vs = self.versions()
        oldest = vs[max(len(vs) - keep_last, 0)]
        # every manifest from the oldest kept one up stays referenced:
        # a multi-table commit's pending one may still commit
        referenced = self._clone_referenced()
        for v in listed_versions(self._manifest_dir()):
            if v < oldest:
                metaio.IO.remove(self._manifest_path(v))
                continue
            man = json.loads(metaio.IO.read_text(self._manifest_path(v)))
            for ds in man["parts"].values():
                referenced.update(os.path.normpath(d) for d in ds)
        removed = []
        parts_root = os.path.join(self.root, "parts")

        # top level = staging dirs; manifests reference their
        # __p=<val> (or nested __p0=<val>/__p1=<val>/...) leaf
        # children.  A subtree with no referenced descendant goes
        # entirely; a partially-referenced one sheds recursively.
        def shed(path: str) -> None:
            p = os.path.normpath(path)
            prefix = p + os.sep
            if p not in referenced and not any(
                    r.startswith(prefix) for r in referenced):
                metaio.IO.remove_tree(p)
                removed.append(p)
                return
            for sub in sorted(metaio.IO.list_dir(p)):
                d = os.path.join(p, sub)
                if sub.startswith("__p") and metaio.IO.is_dir(d):
                    shed(d)

        for name in sorted(metaio.IO.list_dir(parts_root)):
            top = os.path.join(parts_root, name)
            if metaio.IO.is_dir(top):
                shed(top)
        return removed
