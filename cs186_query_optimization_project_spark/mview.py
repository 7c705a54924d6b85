"""Incrementally-maintained materialized aggregate views.

A ``MaterializedView`` stores ``groupBy(keys).agg(count, sum(cols))``
over a :class:`~cs186_query_optimization_project_spark.partitioned.
PartitionedTable`, plus the source version it reflects.  ``refresh()``
does NOT rescan the source: it reads the change data feed since the
last refreshed version and folds signed deltas (insert → +1/+value,
delete → −1/−value) into the stored aggregate — the classic
incremental view maintenance algebra for distributive aggregates
(Gupta & Mumick, "Maintenance of Materialized Views", IEEE DE Bulletin
1995).  Groups whose maintained count reaches zero drop out, matching
a from-scratch recompute exactly.

Scale shape: the delta aggregation shuffles only the CHURNED rows'
keys (CDF cost tracks churn, not table size); the merge joins the
delta — grouped, so ≤ |churned keys| rows — against only the stored
BUCKETS the delta touches.  The store is itself a
:class:`PartitionedTable` hash-partitioned on ``pmod(hash(keys),
n_buckets)``, so a refresh rewrites O(churned buckets) directories and
every untouched bucket's directory is SHARED across store versions via
the manifest — at 10⁹ groups a 1-row churn rewrites 1/n_buckets of the
store, not all of it.  A 100 TB fact table with a 1 GB/day churn
refreshes in churn time.  AVG and other algebraic aggregates derive
from (sum, count) at read time.  MIN/MAX (``minmax_cols``) are NOT
maintainable from deltas alone (a deleted max needs a rescan), so they
maintain with a TWO-TIER refresh: buckets whose churn is insert-only
fold distributively (min/least, max/greatest — O(churn) like the
sums), and only buckets containing a delete/update change recompute
their groups from the source (one scan filtered to the affected
buckets' key-hash — the aggregation touches 1/n_buckets of the groups
per affected bucket).  Insert-heavy loads keep the O(churned-buckets)
shape; delete-heavy loads degrade gracefully to scoped recompute
instead of raising or rescanning everything.

Refresh commits ONCE: the store's manifest records the source version
the store has folded in as a ``txns`` watermark (Delta's ``txn``
action, the same map ``PartitionedTable.idempotent_append`` uses), so
the merged buckets and the new watermark publish together in one
``overwrite_partitions`` commit of store version N+1 over the N the
refresh read.  A reader sees the old (store, watermark) pair or the
new one, never a half-applied refresh; a crash before the commit
leaves only unreferenced directories, and the retry folds the same
range again.  Two refreshers that both read N race for N+1:
first-committer-wins, and the loser raises ``ConflictException``
without touching the store.  Old store versions persist until
:meth:`MaterializedView.vacuum`, which keeps the newest.
``_mview.json`` is the write-once view definition (keys, aggregates,
buckets).

Store format: buckets persist (keys, mv_count, mv_sum_<c>, mv_nn_<c>,
__mv) — the non-null counts are load-bearing for NULL-correct sums,
so a store written by a pre-mv_nn build cannot refresh; rebuild the
view (create) rather than migrating.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cs186_query_optimization_project_spark import metaio
from cs186_query_optimization_project_spark.errors import (
    DatabaseException,
)
from cs186_query_optimization_project_spark.partitioned import (
    PartitionedTable,
)

_META = "_mview.json"
#: the store manifest's ``txns`` entry: source version folded in
_WATERMARK = "source_version"


def _bucket_expr(keys: list[str], n_buckets: int) -> F.Column:
    """THE store-partitioning invariant — same key tuple, same bucket,
    at create time and on every refresh (a second definition drifting
    from this one would split groups across buckets and corrupt the
    merge).  Murmur3 is deterministic across sessions, and F.hash of
    an all-NULL key tuple is still a concrete int, so a NULL group key
    lands in a stable bucket like any other group."""
    return F.pmod(F.hash(*[F.col(k) for k in keys]),
                  F.lit(n_buckets)).cast("int")


class MaterializedView:
    """Handle to a stored incremental aggregate view."""

    def __init__(self, spark: SparkSession, source: PartitionedTable,
                 root: str):
        self.spark = spark
        self.source = source
        self.root = root.rstrip("/")
        try:
            meta = json.loads(
                metaio.IO.read_text(os.path.join(self.root, _META)))
        except FileNotFoundError:
            raise DatabaseException(
                f"no materialized view at '{self.root}'; use "
                f"MaterializedView.create") from None
        if "n_buckets" not in meta:
            raise self._rebuild_error("a pre-bucketed build "
                                      "(generation-directory store)")
        self.keys: list[str] = meta["keys"]
        self.sum_cols: list[str] = meta["sum_cols"]
        self.var_cols: list[str] = meta.get("var_cols", [])
        self.minmax_cols: list[str] = meta.get("minmax_cols", [])
        self.distinct_cols: list[str] = meta.get("distinct_cols", [])
        self.hll_m: int = meta.get("hll_m", 64)
        self.filter_sql: str | None = meta.get("filter_sql")
        self.n_buckets: int = meta["n_buckets"]
        self._newest()          # a store without a watermark fails here

    def _rebuild_error(self, writer: str) -> DatabaseException:
        return DatabaseException(
            f"materialized view at '{self.root}' was written by "
            f"{writer}; it cannot be opened or refreshed — rebuild it "
            f"with MaterializedView.create")

    def _newest(self, store: PartitionedTable | None = None) -> dict:
        """The store's newest manifest; its ``txns`` carry the
        watermark."""
        man = (store or self._store())._manifest()
        if _WATERMARK not in man.get("txns", {}):
            raise self._rebuild_error(
                "an older build (refresh state in the _mview.json "
                "sidecar)")
        return man

    def _sum_like(self) -> list[str]:
        """Columns that carry (mv_sum_, mv_nn_) state: the sum columns
        plus the variance columns (variance needs the first moment
        too), deduplicated in declaration order."""
        return list(dict.fromkeys([*self.sum_cols, *self.var_cols]))

    def _store(self) -> PartitionedTable:
        return PartitionedTable(
            self.spark, os.path.join(self.root, "store"))

    def _bucket(self) -> F.Column:
        return _bucket_expr(self.keys, self.n_buckets)

    # ------------------------------------------------------------------ #
    @staticmethod
    def _aggregate(df: DataFrame, keys: list[str],
                   sum_cols: list[str],
                   minmax_cols: list[str] = (),
                   var_cols: list[str] = ()) -> DataFrame:
        # mv_nn_<c> (non-null contribution count) rides along so the
        # incremental merge can preserve SQL SUM's NULL semantics: a
        # group whose contributions are all NULL must stay SUM=NULL,
        # which coalesce-to-0 arithmetic alone cannot represent.
        # var_cols carry the second moment (mv_sumsq_) on top of the
        # sum/nn pair — signed-foldable exactly like the sums.
        sum_like = list(dict.fromkeys([*sum_cols, *var_cols]))
        return (df.groupBy(*keys)
                .agg(F.count(F.lit(1)).alias("mv_count"),
                     *[e for c in sum_like for e in
                       (F.sum(F.col(c).cast("double"))
                        .alias(f"mv_sum_{c}"),
                        F.count(F.col(c)).alias(f"mv_nn_{c}"))],
                     *[F.sum(F.col(c).cast("double")
                             * F.col(c).cast("double"))
                       .alias(f"mv_sumsq_{c}") for c in var_cols],
                     *[e for c in minmax_cols for e in
                       (F.min(c).alias(f"mv_min_{c}"),
                        F.max(c).alias(f"mv_max_{c}"))]))

    @staticmethod
    def _hll_dense(df: DataFrame, keys: list[str], c: str,
                   m: int) -> DataFrame:
        """Per-group DENSE HLL register array for ``c`` — slot i holds
        max rho over the group's values hashing to register i, 0 when
        unoccupied.  Same register template as the standalone sketches
        (``sketches.hll_register_sql``, the portable md5 hash), so an
        incrementally-merged array is BIT-IDENTICAL to a from-scratch
        one — max is the merge for both.  Map side collapses to ≤ m
        rows per group before the shuffle; the dense array is m ints
        per group in the store.  NULLs contribute nothing (SQL
        COUNT(DISTINCT) semantics)."""
        from cs186_query_optimization_project_spark.functions.sketches \
            import hll_register_sql

        # the register template hashes md5(string); cast here so any
        # atomic column type works (string form is injective for
        # atomics, and matches a caller passing cast(c as string) to
        # the standalone sketches)
        reg, rho = hll_register_sql(f"cast(`{c}` as string)", m)
        per = (df.filter(F.col(c).isNotNull())
               .select(*keys, F.expr(reg).alias("__r"),
                       F.expr(rho).alias("__v"))
               .groupBy(*keys, "__r").agg(F.max("__v").alias("__v")))
        return (per.groupBy(*keys)
                .agg(F.map_from_entries(
                    F.collect_list(F.struct("__r", "__v")))
                    .alias("__regmap"))
                .select(*keys,
                        F.transform(
                            F.sequence(F.lit(0), F.lit(m - 1)),
                            lambda i: F.coalesce(
                                F.element_at(F.col("__regmap"), i),
                                F.lit(0)).cast("int"))
                        .alias(f"mv_hll_{c}")))

    @classmethod
    def _attach_hll(cls, main: DataFrame, df: DataFrame,
                    keys: list[str], distinct_cols: list[str],
                    m: int) -> DataFrame:
        """Left-join each distinct col's dense register arrays onto the
        main aggregate (NULL-safe on the group keys); a group with no
        non-NULL values gets the all-zero array (distinct count 0)."""
        zero = F.array_repeat(F.lit(0).cast("int"), m)
        for c in distinct_cols:
            dense = cls._hll_dense(df, keys, c, m)
            cond = None
            for k in keys:
                eq = main[k].eqNullSafe(dense[k])
                cond = eq if cond is None else (cond & eq)
            main = (main.join(dense, cond, "left")
                    .select(*[main[x] for x in main.columns],
                            F.coalesce(dense[f"mv_hll_{c}"], zero)
                            .alias(f"mv_hll_{c}")))
        return main

    @classmethod
    def create(cls, spark: SparkSession, source: PartitionedTable,
               root: str, keys: list[str],
               sum_cols: list[str] | None = None,
               filter_sql: str | None = None,
               n_buckets: int = 32,
               distinct_cols: list[str] | None = None,
               hll_m: int = 64,
               minmax_cols: list[str] | None = None,
               var_cols: list[str] | None = None) \
            -> "MaterializedView":
        """Materialize the initial aggregate (ONE full-source scan —
        the only one the view will ever do) into ``n_buckets``
        key-hash buckets and record the source version it reflects.
        ``filter_sql`` makes it a PREDICATE view (``SELECT keys, agg
        FROM src WHERE <filter> GROUP BY keys``): selection commutes
        with the signed-delta algebra, so refresh simply applies the
        same predicate to the change feed before folding — rows
        entering or leaving the predicate via UPDATE surface in CDF as
        delete+insert pairs and fold correctly.  Size ``n_buckets`` so
        one bucket's groups fit a write task comfortably (|groups| /
        n_buckets rows each); it is fixed for the view's lifetime.

        ``distinct_cols`` adds approximate ``COUNT(DISTINCT c)`` per
        group via per-group HLL register ARRAYS (``hll_m`` registers
        each, the same portable-md5 template as the standalone
        sketches, so incremental merges are bit-identical to batch
        sketches).  HLL registers merge by max — monotone — so these
        views are INSERT-ONLY: a refresh that meets a delete (or an
        update, which CDF surfaces as delete+insert) raises the named
        error instead of silently under-counting, the same restriction
        every register-sketch system documents.  Exact incremental
        COUNT DISTINCT under deletes would need per-value counts —
        that is a groupBy view on (keys, c), not a sketch.

        ``minmax_cols`` adds exact per-group ``MIN(c)``/``MAX(c)``.
        Unlike sums these cannot unfold a delete, so refresh is
        two-tier: insert-only buckets fold distributively, buckets a
        delete touched recompute their groups from the source (see the
        module docstring) — never a silent wrong answer, never a
        whole-view rebuild.

        ``var_cols`` adds incremental SECOND MOMENTS: the view stores
        ``SUM(c²)`` next to the (sum, non-null count) pair, all three
        signed-foldable under inserts AND deletes, and
        ``read(with_stddev=True)`` derives population variance/stddev
        as ``(sumsq − sum²/n)/n``.  The naive-moments form is the
        price of delete-foldability (Welford's stable recurrence
        cannot unfold a delete); heavy insert/delete churn on
        near-constant columns can accumulate cancellation error, the
        documented trade every signed-delta system makes — variance is
        clamped at 0 so cancellation can never surface as NaN."""
        sum_cols = sum_cols or []
        minmax_cols = minmax_cols or []
        distinct_cols = distinct_cols or []
        var_cols = var_cols or []
        root = root.rstrip("/")
        if n_buckets < 1:
            raise DatabaseException(
                f"materialized view '{root}': n_buckets must be >= 1, "
                f"got {n_buckets}")
        src_version = source.versions()[-1]
        base = source.read()
        if filter_sql:
            base = base.filter(F.expr(filter_sql))
        if distinct_cols:
            # the register aggregations re-read the source once per
            # distinct col on top of the main aggregate's scan —
            # materialize the (filtered) source once so "ONE
            # full-source scan" stays true with sketch columns
            base = base.localCheckpoint()
        agg = cls._aggregate(base, keys, sum_cols, minmax_cols,
                             var_cols)
        agg = cls._attach_hll(agg, base, keys, distinct_cols, hll_m) \
            .withColumn("__mv", _bucket_expr(keys, n_buckets))
        metaio.IO.make_dirs(root, exist_ok=False)
        PartitionedTable._create(
            spark, agg, os.path.join(root, "store"), "__mv", None, (),
            txns={_WATERMARK: src_version})
        metaio.IO.write_new(
            os.path.join(root, _META),
            json.dumps({"keys": keys, "sum_cols": sum_cols,
                        "var_cols": var_cols,
                        "minmax_cols": minmax_cols,
                        "distinct_cols": distinct_cols,
                        "hll_m": hll_m, "filter_sql": filter_sql,
                        "n_buckets": n_buckets}))
        return cls(spark, source, root)

    # ------------------------------------------------------------------ #
    def refreshed_version(self) -> int:
        return self._newest()["txns"][_WATERMARK]

    def store_version(self) -> int:
        return self._newest()["version"]

    def read(self, with_avg: bool = False,
             with_distinct: bool = False,
             with_stddev: bool = False) -> DataFrame:
        """The stored aggregate as of the last refresh (stale reads are
        the contract — consistency is 'reflects source version N',
        recorded and queryable).  Reads the store's newest committed
        version, so an in-flight concurrent refresh is invisible.  A
        store whose files total at most
        ``partitioned.DRIVER_READ_MAX_BYTES`` (1 MiB) is read on the
        driver into a local relation, so collecting the view runs no
        Spark job (``PartitionedTable._read_if_small``); a larger one
        scans with Spark.
        ``with_avg=True`` derives ``mv_avg_<c>`` the way SQL AVG does —
        sum over the NON-NULL contribution count (which the store
        maintains), not over the row count — so an all-NULL group
        averages to NULL, never 0.  ``with_distinct=True`` derives
        ``mv_distinct_<c>`` from the stored register arrays with the
        same bias-corrected estimator as ``sketches.hll_estimate``
        (linear counting below 2.5·m), so a view estimate equals the
        standalone sketch's for identical data.  ``with_stddev=True``
        derives ``mv_var_<c>`` / ``mv_stddev_<c>`` (population) from
        the stored moments as ``greatest(0, (sumsq − sum²/n)/n)`` —
        the clamp keeps float cancellation from ever surfacing as a
        negative variance or a NaN stddev; an all-NULL group reads
        NULL like AVG does."""
        store = self._store()
        man = store._manifest()
        out = store._read_if_small(man)
        out = (store._read(man) if out is None else out).drop("__mv")
        if with_avg:
            for c in self.sum_cols:
                out = out.withColumn(
                    f"mv_avg_{c}",
                    F.when(F.col(f"mv_nn_{c}") > 0,
                           F.col(f"mv_sum_{c}") / F.col(f"mv_nn_{c}")))
        if with_distinct:
            from cs186_query_optimization_project_spark.functions \
                .sketches import hll_estimate_expr

            m = self.hll_m
            for c in self.distinct_cols:
                arr = F.col(f"mv_hll_{c}")
                filled = F.size(F.filter(arr, lambda x: x > 0))
                present = F.aggregate(
                    F.filter(arr, lambda x: x > 0), F.lit(0.0),
                    lambda acc, x: acc + F.pow(F.lit(2.0), -x))
                out = out.withColumn(
                    f"mv_distinct_{c}",
                    F.round(hll_estimate_expr(filled, present, m), 4))
        if with_stddev:
            for c in self.var_cols:
                nn = F.col(f"mv_nn_{c}")
                var = F.greatest(
                    F.lit(0.0),
                    (F.col(f"mv_sumsq_{c}")
                     - F.col(f"mv_sum_{c}") * F.col(f"mv_sum_{c}") / nn)
                    / nn)
                out = out.withColumn(
                    f"mv_var_{c}", F.when(nn > 0, var))
                out = out.withColumn(
                    f"mv_stddev_{c}",
                    F.when(nn > 0, F.sqrt(var)))
        return out.drop(*[f"mv_nn_{c}" for c in self._sum_like()],
                        *[f"mv_sumsq_{c}" for c in self.var_cols],
                        # a variance-only column's first moment is
                        # internal state, not a requested aggregate
                        *[f"mv_sum_{c}" for c in self.var_cols
                          if c not in self.sum_cols],
                        *[f"mv_hll_{c}" for c in self.distinct_cols])

    # ------------------------------------------------------------------ #
    def refresh(self) -> int:
        """Fold the source's CDF since the last refreshed version into
        the stored aggregate; returns the number of CHANGE rows folded.
        Never rescans the source, and never rewrites a bucket the
        churn didn't touch: the merge reads only the touched buckets
        (manifest-pruned) and ``overwrite_partitions`` re-links every
        other bucket's directory unchanged.  Row-free source commits
        (OPTIMIZE, constraint changes, a no-op restore) advance the
        watermark in a metadata-only store commit; the group-key merge
        join is NULL-safe (a NULL group key is an ordinary group, as
        in SQL GROUP BY).

        The store commit is the refresh's one commit point (see the
        module docstring): a concurrent ``refresh()`` that read the
        same store version raises ``ConflictException`` from it."""
        store = self._store()
        man = self._newest(store)
        last = man["txns"][_WATERMARK]
        cur = self.source.versions()[-1]
        if cur == last:
            return 0
        txns = {**man["txns"], _WATERMARK: cur}
        # one materialization of the churn (bounded by CDF size): the
        # count, the delta aggregation, and the merge all read it.
        # The churn count AND the non-insert count ride the checkpoint
        # job as OBSERVED metrics — previously a separate count() job
        # plus (for distinct-col views) a take(1) probe job.
        from pyspark.sql import Observation

        feed = self.source.changes(last, cur)
        if self.filter_sql:
            feed = feed.filter(F.expr(self.filter_sql))
        obs = Observation()
        feed_metrics = [
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("_change_type") != "insert").cast("long"))
            .alias("n_del")]
        # min/max views also need the delete rows' buckets and (when
        # the view keys contain the source's leading partition column)
        # their partitions — both bounded sets, so they ride the SAME
        # checkpoint job as observed collect_sets instead of a separate
        # aggregation job over the churn afterwards
        cand: str | None = None
        if self.minmax_cols:
            src_pcols = self.source._pcols_of(
                self.source._manifest(cur))
            cand = src_pcols[0] if src_pcols[0] in self.keys else None
            non_ins = F.col("_change_type") != "insert"
            feed_metrics.append(
                F.collect_set(F.when(non_ins, self._bucket()))
                .alias("__dbk"))
            if cand is not None:
                feed_metrics.append(
                    F.collect_set(F.when(non_ins, F.col(cand)))
                    .alias("__ps"))
        feed = feed.observe(obs, *feed_metrics).localCheckpoint()
        metrics = obs.get
        n_changes = int(metrics["n"])
        n_del = int(metrics["n_del"] or 0)
        if n_changes == 0:
            store._commit(man["version"] + 1, store._pcols_of(man),
                          T._parse_datatype_string(man["schema"]),
                          man["parts"], txns, man.get("tombstones"),
                          op="MVIEW REFRESH", base=man)
            return 0
        if self.distinct_cols and n_del:
            raise DatabaseException(
                f"materialized view '{self.root}' maintains HLL "
                f"distinct counts ({self.distinct_cols}), which merge "
                f"by max and cannot fold deletes (updates surface as "
                f"delete+insert in CDF) — this view is INSERT-ONLY; "
                f"rebuild it, or drop distinct_cols for DML sources")
        # MIN/MAX two-tier split: buckets where a delete/update change
        # landed cannot unfold the extremum from deltas — they
        # recompute from the source below; every other touched bucket
        # folds incrementally.  ≤ n_buckets values, bounded collect.
        #
        # Partition-pruned recompute: when the view keys CONTAIN the
        # source's leading partition column, a group lives entirely in
        # one source partition, and a delete row's group provably sits
        # in one of the CDF delete rows' partitions.  So del-bucket
        # groups split exactly: groups in an AFFECTED partition
        # recompute from a scan pruned to those partitions; groups in
        # UNTOUCHED partitions can only have insert deltas (their
        # partition saw no delete) and FOLD like any other bucket.
        # Full-scan recompute remains the fallback when the partition
        # column is not a view key.
        del_buckets: set = set()
        affected_parts: list | None = None
        prune_col: str | None = None
        if self.minmax_cols and n_del:
            # read straight from the feed checkpoint's observed
            # metrics — no churn re-scan.  The partition-column choice
            # used the PINNED version's layout (read above, before the
            # checkpoint): a repartition_table commit racing this
            # refresh must not make us prune cur's manifest by the
            # wrong column.
            del_buckets = set(metrics["__dbk"])
            if cand is not None and del_buckets:
                prune_col = cand
                affected_parts = list(metrics["__ps"])
        sign = F.when(F.col("_change_type") == "insert", F.lit(1)) \
            .otherwise(F.lit(-1))
        # min/max deltas aggregate INSERT rows only — valid because a
        # bucket with any non-insert change never takes the fold path
        ins = F.col("_change_type") == "insert"
        delta = (feed.withColumn("__sign", sign)
                 .groupBy(*self.keys)
                 .agg(F.sum("__sign").alias("d_count"),
                      *[F.sum(F.col(c).cast("double")
                              * F.col(c).cast("double")
                              * F.col("__sign"))
                        .alias(f"d_sumsq_{c}") for c in self.var_cols],
                      *[e for c in self._sum_like() for e in
                        (F.sum(F.col(c).cast("double") * F.col("__sign"))
                         .alias(f"d_sum_{c}"),
                         F.sum(F.col(c).isNotNull().cast("long")
                               * F.col("__sign"))
                         .alias(f"d_nn_{c}"))],
                      *[e for c in self.minmax_cols for e in
                        (F.min(F.when(ins, F.col(c)))
                         .alias(f"d_min_{c}"),
                         F.max(F.when(ins, F.col(c)))
                         .alias(f"d_max_{c}"))]))
        # ≤ n_buckets distinct values — the bounded set that turns the
        # merge into a touched-bucket-only read and write; it rides
        # the delta checkpoint as an observed collect_set instead of a
        # separate distinct-collect job
        obs_delta = Observation()
        delta = (self._attach_hll(delta, feed, self.keys,
                                  self.distinct_cols, self.hll_m)
                 .withColumn("__mv", self._bucket())
                 .observe(obs_delta,
                          F.collect_set(F.col("__mv")).alias("__t"))
                 .localCheckpoint())
        touched = sorted(obs_delta.get["__t"])
        fold = [b for b in touched if b not in del_buckets]
        if affected_parts is not None:
            # del-bucket groups in untouched partitions join the fold:
            # read their stored rows too, keep (fold bucket) OR
            # (untouched partition)
            stored = store.read(
                version=man["version"],
                partition_values=sorted(set(fold) | del_buckets))
            stored = stored.filter(
                (F.col("__mv").isin(fold) if fold else F.lit(False))
                | ~F.col(prune_col).isin(affected_parts)) \
                .drop("__mv")
            keep = (~F.col("__mv").isin(list(del_buckets))
                    | ~F.col(prune_col).isin(affected_parts))
            delta = delta.filter(keep).drop("__mv")
        else:
            stored = store.read(version=man["version"],
                                partition_values=fold).drop("__mv")
            delta = delta.filter(
                ~F.col("__mv").isin(list(del_buckets))
                if del_buckets else F.lit(True)).drop("__mv")
        cond = None
        for k in self.keys:
            eq = stored[k].eqNullSafe(delta[k])  # NULL key = a group
            cond = eq if cond is None else (cond & eq)

        def _sum(c):
            nn = (F.coalesce(stored[f"mv_nn_{c}"], F.lit(0))
                  + F.coalesce(delta[f"d_nn_{c}"], F.lit(0)))
            s = (F.coalesce(stored[f"mv_sum_{c}"], F.lit(0.0))
                 + F.coalesce(delta[f"d_sum_{c}"], F.lit(0.0)))
            return [F.when(nn > 0, s).alias(f"mv_sum_{c}"),
                    nn.alias(f"mv_nn_{c}")]

        def _sumsq(c):
            nn = (F.coalesce(stored[f"mv_nn_{c}"], F.lit(0))
                  + F.coalesce(delta[f"d_nn_{c}"], F.lit(0)))
            sq = (F.coalesce(stored[f"mv_sumsq_{c}"], F.lit(0.0))
                  + F.coalesce(delta[f"d_sumsq_{c}"], F.lit(0.0)))
            return F.when(nn > 0, sq).alias(f"mv_sumsq_{c}")

        def _minmax(c):
            # least/greatest skip NULLs: a new group takes the delta's
            # extremum, an untouched-column group keeps the stored one
            return [F.least(stored[f"mv_min_{c}"], delta[f"d_min_{c}"])
                    .alias(f"mv_min_{c}"),
                    F.greatest(stored[f"mv_max_{c}"],
                               delta[f"d_max_{c}"])
                    .alias(f"mv_max_{c}")]

        def _hll(c):
            zero = F.array_repeat(F.lit(0).cast("int"), self.hll_m)
            return F.zip_with(
                F.coalesce(stored[f"mv_hll_{c}"], zero),
                F.coalesce(delta[f"mv_hll_{c}"], zero),
                lambda a, b: F.greatest(a, b)).alias(f"mv_hll_{c}")

        merged = (stored.join(delta, cond, "full_outer")
                  .select(
                      *[F.coalesce(stored[k], delta[k]).alias(k)
                        for k in self.keys],
                      (F.coalesce(stored["mv_count"], F.lit(0))
                       + F.coalesce(delta["d_count"], F.lit(0)))
                      .alias("mv_count"),
                      *[e for c in self._sum_like() for e in _sum(c)],
                      *[_sumsq(c) for c in self.var_cols],
                      *[e for c in self.minmax_cols
                        for e in _minmax(c)],
                      *[_hll(c) for c in self.distinct_cols])
                  .filter(F.col("mv_count") > 0)
                  .withColumn("__mv", self._bucket()))
        merged = merged.select(*stored.columns, "__mv")
        if del_buckets:
            # scoped recompute: ONE source scan (at the refresh's
            # target version, same filter) aggregating only the
            # affected buckets' groups — the delete-tolerant path for
            # extremum aggregates, O(|del_buckets|/n_buckets of the
            # groups) output however large the churn.  With a
            # partition-keyed view the scan is additionally PRUNED at
            # the manifest to the delete rows' partitions (their
            # untouched-partition cohort folded above) — input I/O
            # tracks churn, not table size.
            src = self.source.read(
                version=cur,
                partition_values=(affected_parts
                                  if affected_parts is not None
                                  else None))
            if self.filter_sql:
                src = src.filter(F.expr(self.filter_sql))
            src = src.withColumn("__mv", self._bucket()) \
                .filter(F.col("__mv").isin(list(del_buckets)))
            recomp = self._aggregate(src, self.keys, self.sum_cols,
                                     self.minmax_cols, self.var_cols)
            recomp = self._attach_hll(recomp, src, self.keys,
                                      self.distinct_cols, self.hll_m) \
                .withColumn("__mv", self._bucket())
            merged = merged.unionByName(
                recomp.select(*stored.columns, "__mv"))
        # ONE store commit replaces exactly the touched buckets and
        # advances the watermark: the refresh's commit point
        store._overwrite_partitions(
            man, merged, sorted(set(touched) | del_buckets), txns)
        return n_changes

    def vacuum(self) -> list[str]:
        """Reclaim every store version but the newest (readers holding
        an old handle must re-open — same discipline as
        ``PartitionedTable.vacuum``).  Directories shared with the
        newest version survive (manifest reachability), so vacuum
        cost tracks refresh churn, not store size."""
        return self._store().vacuum(keep_last=1)
