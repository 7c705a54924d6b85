"""Full-text retrieval: positional inverted index, phrase search, and
BM25 ranking — the keyword-retrieval half of a RAG/data-curation stack
(the embedding half lives in ``functions/similarity.py``).

Shapes at scale:

- The **postings table** (token, doc_id, pos) is the classic inverted
  index as a DataFrame — built with one posexplode (map-only), best
  persisted partitioned/bucketed by token so term lookups prune.
- **Phrase search** is the textbook positional join: postings of the
  i-th phrase term self-joined on (doc, pos + i).  Each join keys on
  (token_i ∧ doc ∧ pos) — after filtering to the phrase's terms the
  joined sides are term-posting-list-sized, never corpus-sized.
- **BM25** needs only per-term document frequencies, per-doc term
  frequencies, and doc lengths — three aggregates off the postings
  table; the query side filters postings to the query's terms FIRST, so
  scoring touches |postings(query terms)| rows, not the corpus.
- The **materialized index** keeps postings and doc lengths as two
  manifest tables.  Its build and every maintenance op (append,
  rewrite or tombstone delete, optimize) publish both tables and the
  BM25 constants with one multi-table commit
  (``partitioned.commit_together``), so a reader sees the index before
  an op or after it, never a mix.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cs186_query_optimization_project_spark.functions.text import tokens


def build_postings(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Positional postings (id, token, pos) — pos is 0-based token
    position.  Map-only; empty tokens (leading-whitespace artifacts)
    dropped."""
    return (df.select(F.col(id_col),
                      F.posexplode(tokens(text_col))
                      .alias("pos", "token"))
            .filter(F.col("token") != ""))


def phrase_search(df: DataFrame, phrase: str, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Documents containing ``phrase`` as consecutive tokens, with the
    match count — exact positional phrase match, whitespace tokens.

    The first term's postings anchor; each subsequent term joins on
    (same doc, pos + i).  All joins are equi-joins on (doc, pos) over
    single-term posting lists.  Output: (id, n_matches) ordered by id.
    """
    terms = [t for t in phrase.split() if t]
    if not terms:
        raise ValueError("empty phrase")
    post = build_postings(df, text_col, id_col)
    return _phrase_join(post, terms, id_col)


def _phrase_join(post: DataFrame, terms: list[str],
                 id_col: str) -> DataFrame:
    """The positional phrase join over a postings source (in-scan or
    materialized) — (id, n_matches) ordered by id."""
    anchor = (post.filter(F.col("token") == terms[0])
              .select(F.col(id_col), F.col("pos")))
    for i, term in enumerate(terms[1:], start=1):
        nxt = (post.filter(F.col("token") == term)
               .select(F.col(id_col).alias("__id"),
                       (F.col("pos") - i).alias("__p")))
        anchor = (anchor.join(nxt,
                              (anchor[id_col] == nxt["__id"])
                              & (anchor["pos"] == nxt["__p"]))
                  .select(anchor[id_col], anchor["pos"]))
    return (anchor.groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_matches"))
            .orderBy(id_col))


def bm25_scores(df: DataFrame, query: str, text_col: str = "text",
                id_col: str = "doc_id", k1: float = 1.2, b: float = 0.75,
                top_k: int = 10) -> DataFrame:
    """Top-``top_k`` documents for ``query`` under BM25 (Lucene's
    non-negative IDF variant: ``ln(1 + (N - n_t + 0.5)/(n_t + 0.5))``).

    Postings are filtered to the query's terms before any aggregation,
    so the score computation is proportional to the matched posting
    lists.  N and avgdl ride in as a broadcast one-row aggregate.
    Scores round to 6 decimals before ranking (id tie-break) — ranking
    stable across partitionings and replayable in SQL.
    """
    terms = sorted({t for t in query.split() if t})
    if not terms:
        raise ValueError("empty query")
    post = build_postings(df, text_col, id_col)
    doc_len = post.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__dl"))
    corpus = doc_len.agg(F.count(F.lit(1)).alias("__n"),
                         F.avg("__dl").alias("__avgdl"))
    tf = (post.filter(F.col("token").isin(terms))
          .groupBy(id_col, "token")
          .agg(F.count(F.lit(1)).alias("__tf")))
    return _bm25_rank(tf, doc_len, corpus, id_col, k1, b, top_k)


def _bm25_rank(tf: DataFrame, doc_len: DataFrame, corpus: DataFrame,
               id_col: str, k1: float, b: float,
               top_k: int) -> DataFrame:
    """BM25 scoring/ranking given the three aggregates: per-(doc, term)
    frequencies (``__tf``), per-doc lengths (``__dl``), and the one-row
    corpus stats (``__n``, ``__avgdl``) — shared by the in-scan and the
    materialized-index paths so both rank identically."""
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("__df"))
    idf = F.log(F.lit(1.0)
                + (F.col("__n") - F.col("__df") + 0.5)
                / (F.col("__df") + 0.5))
    per_term = (tf.join(F.broadcast(dfreq), "token")
                .join(doc_len, id_col)
                .crossJoin(F.broadcast(corpus))
                .select(F.col(id_col),
                        (idf * (F.col("__tf") * (k1 + 1))
                         / (F.col("__tf")
                            + k1 * (1 - b
                                    + b * F.col("__dl")
                                    / F.col("__avgdl"))))
                        .alias("__s")))
    return (per_term.groupBy(id_col)
            .agg(F.round(F.sum("__s"), 6).alias("bm25"))
            .orderBy(F.col("bm25").desc(), F.col(id_col).asc())
            .limit(top_k))


def similar_docs(df: DataFrame, query_id, text_col: str = "text",
                 id_col: str = "doc_id", k: int = 10,
                 shingle_k: int = 3) -> DataFrame:
    """"More like this": top-``k`` documents by shingle-set Jaccard to
    one query document — the query-time, one-vs-all complement of the
    corpus-wide pair detection in ``functions/dedup.py``.

    Shape: the query doc's (tiny) shingle set broadcasts; the corpus
    postings semi-join it, so only documents sharing ≥ 1 shingle are
    scored and the scoring aggregate touches |postings(query
    shingles)| rows, never the corpus.  Jaccard from three integers
    (|∩|, |A|, |B|) — exact, no hashing.  Rounded-then-ranked with id
    tie-break: stable across partitionings, SQL-replayable.
    """
    from cs186_query_optimization_project_spark.functions.text import (
        shingles,
    )

    sized = df.select(
        F.col(id_col),
        F.array_distinct(shingles(text_col, shingle_k)).alias("__sh"))
    sized = sized.select(id_col, "__sh", F.size("__sh").alias("__n"))
    q = sized.filter(F.col(id_col) == query_id)
    q_sh = q.select(F.explode("__sh").alias("shingle"))
    q_n = q.select(F.col("__n").alias("__qn"))
    post = sized.select(id_col, "__n",
                        F.explode("__sh").alias("shingle"))
    common = (post.join(F.broadcast(q_sh), "shingle")
              .filter(F.col(id_col) != query_id)
              .groupBy(id_col, "__n")
              .agg(F.count(F.lit(1)).alias("__c")))
    return (common.crossJoin(F.broadcast(q_n))
            .select(F.col(id_col),
                    F.round(F.col("__c")
                            / (F.col("__qn") + F.col("__n")
                               - F.col("__c")), 6).alias("jaccard"))
            .orderBy(F.col("jaccard").desc(), F.col(id_col).asc())
            .limit(k))


# --------------------------------------------------------------------- #
# materialized postings index — build once, probe via partition pruning
# --------------------------------------------------------------------- #
# The in-scan paths above rebuild the postings table from the raw text
# on every query — fine as a fallback, wrong as an index.  At 100 TB the
# index is a TABLE LAYOUT (the same move as the ANN indexes in
# similarity.py and the sorted-write index in database.py): postings are
# written ONCE hive-partitioned by a TOKEN-HASH BUCKET ``tb`` (one
# directory per token would explode the namespace at vocabulary scale;
# n_buckets directories bound it), and a query filters on ``tb`` —
# Catalyst partition pruning lists only the query terms' buckets, so a
# 3-term query reads ≤ 3/n_buckets of the postings files instead of
# re-tokenizing the corpus.  Doc lengths and the corpus stats BM25 needs
# (N, avgdl) are computed at build time: doc lengths as a compact
# sidecar table, N/avgdl as constants in the postings manifest —
# query-time scoring touches only the matched posting lists, never a
# corpus-wide aggregate.  The bucket hash is the portable md5 60-bit
# family (sketches._H60), so the driver routes a literal term to its
# bucket in plain Python and external oracles can replay the layout.


@dataclass(frozen=True)
class PostingsIndex:
    """Handle to a materialized postings index: two manifest-versioned
    :class:`~cs186_query_optimization_project_spark.partitioned
    .PartitionedTable`\\ s (postings keyed on token bucket, doc
    lengths keyed on an id-hash bucket) plus the BM25 corpus
    constants.  The build and every maintenance op publish both
    tables with ONE :func:`~cs186_query_optimization_project_spark
    .partitioned.commit_together`; that commit's postings manifest
    carries the constants and the doclen version it pairs with, and
    a handle PINS the two versions.

    The pins are the torn-read protection: a reader scans both tables
    at the versions it loaded, so an in-flight op is invisible until
    its commit record lands — new postings can never be scored
    against stale n_docs/avgdl.  A maintenance op runs only from the
    newest committed handle (else the stale-handle ValueError)."""

    path: str                      # root; postings/ + doclen/ under it
    n_buckets: int
    n_docs: int                    # docs with >= 1 token (as bm25_scores)
    avgdl: float
    source_fingerprint: str = ""
    postings_version: int = 0      # pinned commit of postings/
    doclen_version: int = 0        # pinned commit of doclen/

    @property
    def postings_path(self) -> str:
        return os.path.join(self.path, "postings")

    @property
    def doclen_path(self) -> str:
        return os.path.join(self.path, "doclen")


def token_bucket(term: str, n_buckets: int) -> int:
    """Driver-side bucket routing for a literal term — the Python mirror
    of the ``tb`` partition expression (portable md5 60-bit family,
    sketches._H60), pinned equal by tests."""
    import hashlib

    return int(hashlib.md5(term.encode()).hexdigest()[:15], 16) % n_buckets


def _token_bucket_col(n_buckets: int):
    from cs186_query_optimization_project_spark.functions.sketches import (
        _H60,
    )

    return F.expr(f"pmod({_H60.format(x='token')}, {n_buckets})")


_DOCLEN_BUCKETS = 8


def _doclen_bucket_col(id_col: str):
    """Layout-only bucketing for the doc-length table (Murmur3 — the
    values never cross an oracle boundary; readers drop the column)."""
    return F.pmod(F.abs(F.hash(F.col(id_col))), F.lit(_DOCLEN_BUCKETS))


def _staging(index: PostingsIndex):
    """One maintenance op's deferred-commit scope, based on the
    handle's pinned versions: a verb that stages on top of another
    writer's commit (landed after the op's stale-handle check) raises
    ConflictException."""
    from cs186_query_optimization_project_spark.partitioned import (
        deferred_commits,
    )

    return deferred_commits(base={index.postings_path:
                                  index.postings_version,
                                  index.doclen_path:
                                  index.doclen_version})


def _publish(index: PostingsIndex, staged: list, n_docs: int,
             avgdl: float) -> PostingsIndex:
    """Publish one op's two staged commits as ONE ``commit_together``
    — the index's commit point — and return the new handle.  The
    postings manifest carries the constants (``meta``), so it commits
    last and lists the doclen version it pairs with (``partners``)."""
    from cs186_query_optimization_project_spark.partitioned import (
        commit_together,
    )

    landed = commit_together(staged, meta={index.postings_path: {
        "n_buckets": index.n_buckets, "n_docs": n_docs, "avgdl": avgdl,
        "source_fingerprint": index.source_fingerprint}})
    return replace(index, n_docs=n_docs, avgdl=avgdl,
                   postings_version=landed[index.postings_path],
                   doclen_version=landed[index.doclen_path])


def build_postings_index(df: DataFrame, path: str, text_col: str = "text",
                         id_col: str = "doc_id", n_buckets: int = 64,
                         files_per_bucket: int = 1,
                         fingerprint: str = "") -> PostingsIndex:
    """Materialize the postings index as two manifest-versioned
    :class:`PartitionedTable`\\ s: one corpus pass tokenizes and
    stages postings partitioned by token bucket (``_bucket_
    partitioned`` bounds files per directory, same as the ANN builds);
    doc lengths and the corpus stats are then aggregated off the
    staged postings' (tb, doc_id) columns — a column-pruned second
    read, not a second tokenization pass.  Both tables publish with
    one commit.  A rebuild deletes the old postings manifests before
    any data file, so a crash mid-rebuild leaves
    ``load_postings_index()`` = None (the caller rebuilds), never a
    handle over deleted files."""
    from pyspark.sql import Observation

    from cs186_query_optimization_project_spark import metaio
    from cs186_query_optimization_project_spark.functions.similarity import (
        _bucket_partitioned,
    )
    from cs186_query_optimization_project_spark.partitioned import (
        PartitionedTable, deferred_commits,
    )

    spark = df.sparkSession
    for sub in (os.path.join("postings", "_manifests"), "postings",
                "doclen"):
        metaio.IO.remove_tree(os.path.join(path, sub))
    post = (build_postings(df, text_col, id_col)
            .withColumn("tb", _token_bucket_col(n_buckets))
            .select(id_col, "pos", "token", "tb"))
    # corpus constants ride the doclen write job as OBSERVED metrics
    # (count/avg of the very rows being written) instead of a separate
    # read-back aggregation job over the written files
    obs = Observation()
    with deferred_commits() as staged:
        pt_post = PartitionedTable.create(
            spark, _bucket_partitioned(post, "tb", id_col,
                                       files_per_bucket),
            os.path.join(path, "postings"), "tb")
        doc_len = (pt_post.read_staged()
                   .groupBy(id_col).agg(F.count(F.lit(1)).alias("__dl"))
                   .withColumn("db", _doclen_bucket_col(id_col))
                   .select(id_col, "__dl", "db")
                   .observe(obs, F.count(F.lit(1)).alias("n"),
                            F.avg("__dl").alias("avgdl")))
        PartitionedTable.create(spark, doc_len.repartition("db"),
                                os.path.join(path, "doclen"), "db")
    stats = obs.get
    return _publish(PostingsIndex(path, n_buckets, 0, 0.0, fingerprint),
                    staged, int(stats["n"]), float(stats["avgdl"] or 0.0))


def postings_append(spark: SparkSession, index: PostingsIndex,
                    new_df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    files_per_bucket: int = 1) -> PostingsIndex:
    """INCREMENTAL index maintenance — append new documents to a
    materialized postings index without rebuilding it: the new docs
    tokenize in one pass and land as ADDITIONAL files inside the
    existing ``tb=<bucket>`` hive directories (hive-partitioned
    append — no existing file is touched, so index growth costs
    O(new docs), not O(corpus)); their lengths append to the doclen
    sidecar; and the BM25 corpus constants update INCREMENTALLY
    (``n' = n + n_new``, ``avgdl' = (n·avgdl + Σ new_dl)/n'`` — no
    corpus-wide re-aggregate).  After the append, every reader —
    ``term_postings`` / ``phrase_search_indexed`` / ``bm25_indexed``
    — ranks EXACTLY as a from-scratch build over the full corpus
    (pinned in tests and in the ``bm25_incremental`` entry).

    APPEND, not upsert: ``new_df`` ids must be disjoint from the
    indexed corpus (duplicate ids would double-count term
    frequencies); the caller owns that contract, same as every
    log-append ingest.  Chain appends from the RETURNED handle (or a
    fresh ``load_postings_index``).

    Both table appends and the new constants publish as one commit,
    so a reader holding the old handle keeps scanning the old pinned
    versions throughout.  A crash before the commit record leaves
    nothing visible, and retrying from the pre-crash handle
    converges.  Once the commit has landed, a retry from that handle
    — like any op from a handle another writer has committed past —
    raises the stale-handle ValueError instead; either way no
    postings are duplicated."""
    from pyspark.sql import Observation

    from cs186_query_optimization_project_spark.functions.similarity import (
        _bucket_partitioned,
    )
    from cs186_query_optimization_project_spark.partitioned import (
        PartitionedTable,
    )

    _guard_fresh_handle(index)
    post = (build_postings(new_df, text_col, id_col)
            .withColumn("tb", _token_bucket_col(index.n_buckets))
            .select(id_col, "pos", "token", "tb")
            .localCheckpoint())  # one tokenization feeds both writes
    new_lens = (post.groupBy(id_col)
                .agg(F.count(F.lit(1)).alias("__dl"))
                .withColumn("db", _doclen_bucket_col(id_col))
                .select(id_col, "__dl", "db"))
    # the constants increment rides the doclen append job as OBSERVED
    # metrics
    obs = Observation()
    with _staging(index) as staged:
        PartitionedTable(spark, index.postings_path).insert(
            _bucket_partitioned(post, "tb", id_col, files_per_bucket))
        PartitionedTable(spark, index.doclen_path).insert(
            new_lens.observe(obs, F.count(F.lit(1)).alias("n"),
                             F.sum("__dl").alias("s"))
            .repartition("db"))
    inc = obs.get
    n_new, dl_new = int(inc["n"]), float(inc["s"] or 0.0)
    n_docs = index.n_docs + n_new
    avgdl = ((index.n_docs * index.avgdl + dl_new) / n_docs
             if n_docs else 0.0)
    return _publish(index, staged, n_docs, avgdl)


def _guard_fresh_handle(index: PostingsIndex) -> None:
    """Every maintenance op derives the new constants from its
    handle, so it runs only from the index's newest committed handle.
    If another writer commits between this check and the op's commit,
    the op loses with ConflictException (see :func:`_staging`)."""
    published = load_postings_index(index.path)
    if published != index:
        now = ("none" if published is None
               else f"postings v{published.postings_version}")
        raise ValueError(
            f"stale PostingsIndex handle: the newest commit of "
            f"{index.path!r} is {now}, this handle holds postings "
            f"v{index.postings_version} — another writer committed "
            "since it loaded; reload via load_postings_index() and "
            "re-issue")


def postings_remove(spark: SparkSession, index: PostingsIndex,
                    ids_df: DataFrame, id_col: str = "doc_id",
                    files_per_bucket: int = 1) -> PostingsIndex:
    """Targeted deletion from the postings index — the
    right-to-be-forgotten half of the maintenance lifecycle
    (:func:`postings_append` adds; mirrors ``similarity
    .ivfpq_remove``): the token buckets OWNING the doomed documents'
    postings are found with one broadcast semi-join, and ONLY those
    bucket partitions rewrite (anti-join survivors through one
    :meth:`PartitionedTable.overwrite_partitions` per table);
    every untouched bucket's files stay byte-identical.  Honest cost
    note: a document's tokens hash across ALL buckets, so unlike the
    IVF-PQ case (one cell per vector) a postings deletion typically
    rewrites the whole postings table — O(index), the same cost
    class as Lucene's forced merge after deletes.  BATCH deletion
    requests and run them as one call; for high-churn corpora the
    tombstone path (:func:`postings_remove_soft` + periodic
    :func:`postings_optimize`) trades read-time filtering for
    zero-rewrite deletes.  The doc-length table DOES prune (one
    id-hash bucket per doomed doc), and the
    corpus constants update INCREMENTALLY from the doomed documents'
    recorded lengths (``n' = n - n_rm``, ``avgdl' = (n·avgdl -
    Σ removed_dl) / n'``) — no corpus re-aggregate.  After the
    commit every reader ranks exactly as a from-scratch build over
    the surviving corpus (pinned in tests).

    Both rewrites and the new constants publish as one commit; crash
    and retry behave as in :func:`postings_append`.  Ghost removals
    (no requested id is indexed) return the handle unchanged — no
    commit, constants bit-identical.  Returns the new handle."""
    from cs186_query_optimization_project_spark.functions.similarity import (
        _bucket_partitioned,
    )
    from cs186_query_optimization_project_spark.partitioned import (
        PartitionedTable,
    )

    _guard_fresh_handle(index)
    # one materialization of the (bounded) id set: four joins below
    # broadcast it, and without the checkpoint each broadcast would
    # re-execute the caller's upstream plan (often a corpus filter —
    # three extra corpus scans per remove)
    ids = ids_df.select(F.col(id_col)).distinct().localCheckpoint()
    pt_post = PartitionedTable(spark, index.postings_path)
    pt_len = PartitionedTable(spark, index.doclen_path)
    # ONE pass over the doclen table yields both the doomed constants
    # and the touched doclen buckets
    rm_rows = (pt_len.read(version=index.doclen_version)
               .join(F.broadcast(ids), id_col)
               .groupBy("db")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum("__dl").alias("s")).collect())
    n_rm = sum(int(r["n"]) for r in rm_rows)
    dl_rm = sum(float(r["s"] or 0.0) for r in rm_rows)
    if not n_rm:
        # ghost removal: nothing indexed matches — no commit, so the
        # constants stay bit-identical (n*avgdl/n re-rounding is not
        # a no-op in IEEE-754)
        return index
    touched_len = sorted(r["db"] for r in rm_rows)
    with _staging(index) as staged:
        for pt, bucket_col, cols, fpb, touched in (
                (pt_post, "tb", [id_col, "pos", "token", "tb"],
                 files_per_bucket, None),
                (pt_len, "db", [id_col, "__dl", "db"], 1, touched_len)):
            if touched is None:
                touched = [r[bucket_col] for r in
                           (pt.read().join(F.broadcast(ids), id_col)
                            .select(bucket_col).distinct().collect())]
            survivors = (pt.read(partition_values=touched)
                         .join(F.broadcast(ids), id_col, "left_anti")
                         .select(*cols))
            pt.overwrite_partitions(
                _bucket_partitioned(survivors, bucket_col, id_col, fpb),
                touched)
    n_docs = index.n_docs - n_rm
    avgdl = ((index.n_docs * index.avgdl - dl_rm) / n_docs
             if n_docs else 0.0)
    return _publish(index, staged, n_docs, avgdl)


def _sql_id_literal(v) -> str:
    """Render one id as a SQL literal for the tombstone predicate
    (ints verbatim, strings escaped — the two id types the corpus
    tables use).  Spark's default parser treats backslash as an
    escape inside string literals (``escapedStringLiterals=false``),
    so backslashes must double BEFORE quote-doubling — otherwise an
    id like ``'a\\nb'`` is counted by the isin-based constant
    decrement yet the rendered IN-list tombstone matches nothing:
    silently diverged constants and a missed deletion."""
    if isinstance(v, bool) or not isinstance(v, (int, str)):
        raise TypeError(f"unsupported id literal type: {type(v)}")
    if isinstance(v, int):
        return str(v)
    lit = "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"
    if "\\" in lit or "''" in lit:
        # the rendering assumes Spark's DEFAULT string-literal
        # grammar; under the deprecated legacy one
        # (escapedStringLiterals=true) even quote-doubling parses
        # differently — refuse rather than store a misparsing literal
        from pyspark.sql import SparkSession

        from cs186_query_optimization_project_spark.partitioned import (
            _assert_default_literal_grammar,
        )
        _assert_default_literal_grammar(
            SparkSession.getActiveSession(), lit, "_sql_id_literal")
    return lit


def postings_remove_soft(spark: SparkSession, index: PostingsIndex,
                         ids: list, id_col: str = "doc_id",
                         ) -> PostingsIndex:
    """ZERO-REWRITE deletion from the postings index — the tombstone
    path :func:`postings_remove`'s cost note names for high-churn
    corpora: instead of rewriting every bucket a doomed document's
    tokens hash into (O(index)), record one ``id IN (...)`` tombstone
    predicate against both tables via :meth:`PartitionedTable
    .delete_soft` — O(1) data movement; every probe then applies the
    predicate as a map-only filter on read.  Rankings after the
    commit are identical to :func:`postings_remove`'s rewrite and to a
    from-scratch build over the survivors (pinned in tests and in the
    ``bm25_remove`` entry); space reclaims later when
    :func:`postings_optimize` materializes the tombstones (its
    rewrite reads THROUGH them and clears them, same rankings).

    ``ids`` is a bounded driver-side list, not a DataFrame — the
    tombstone predicate lives in the manifest (driver-side metadata),
    which is exactly the high-churn shape this path serves: frequent
    SMALL right-to-be-forgotten batches.  Bulk deletions belong on
    the rewrite path, whose id set stays distributed.

    Both tombstones and the constants, updated incrementally from the
    doomed documents' recorded lengths, publish as one commit; crash
    and retry behave as in :func:`postings_append`."""
    from cs186_query_optimization_project_spark.partitioned import (
        PartitionedTable,
    )

    _guard_fresh_handle(index)
    id_list = sorted(set(ids))
    if not id_list:
        return index
    pt_len = PartitionedTable(spark, index.doclen_path)
    # ONE aggregate, grouped by (bucket, file) on the doc-length
    # table: it yields the constants decrement (n_rm, Σdl) AND the
    # per-DIRECTORY doomed-doc counts that delete_soft takes as the
    # caller-supplied deletion-vector cardinality — so NEITHER
    # delete_soft call runs its own O(table) counting scan (pinned by
    # test: this aggregate is the soft path's only Spark job).
    # Directory granularity (file → dir via the pinned manifest) is
    # what keeps metadata COUNT exact on MULTI-directory buckets —
    # the shape every postings_append creates.
    per_file = (pt_len
                .read(version=index.doclen_version)
                .filter(F.col(id_col).isin(id_list))
                .groupBy(F.col("db"),
                         F.input_file_name().alias("__f"))
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum("__dl").alias("s")).collect())
    n_rm = sum(int(r["n"]) for r in per_file)
    dl_rm = sum(float(r["s"] or 0.0) for r in per_file)
    if not n_rm:
        return index           # ghost ids: nothing indexed matches
    fdirs = pt_len.file_directories([r["__f"] for r in per_file],
                                    version=index.doclen_version)
    by_dir: dict[int, dict[str, int]] = {}
    unmapped: set[int] = set()
    for r in per_file:
        b = int(r["db"])
        d = fdirs.get(r["__f"])
        if d is None:
            unmapped.add(b)      # exotic URI: can't attribute
        else:
            bd = by_dir.setdefault(b, {})
            bd[d] = bd.get(d, 0) + int(r["n"])
    claims: dict[int, dict[str, int] | int] = dict(by_dir)
    for b in unmapped:
        # degrade THIS bucket to a partition-level int claim:
        # delete_soft keeps it exact when the bucket is one
        # directory and fails closed (never wrong) otherwise
        claims[b] = sum(int(r["n"]) for r in per_file
                        if int(r["db"]) == b)
    pred = (f"{id_col} IN "
            f"({', '.join(_sql_id_literal(v) for v in id_list)})")
    with _staging(index) as staged:
        # postings cardinality (doomed TOKEN occurrences per token
        # bucket) is unknowable without a postings scan — decline it
        # (fail-closed metadata COUNT on the postings table, which
        # nothing uses; the ranking constants live in the commit's
        # postings manifest)
        PartitionedTable(spark, index.postings_path).delete_soft(
            pred, masked_counts=None)
        pt_len.delete_soft(pred, masked_counts=claims)
    n_docs = index.n_docs - n_rm
    avgdl = ((index.n_docs * index.avgdl - dl_rm) / n_docs
             if n_docs else 0.0)
    return _publish(index, staged, n_docs, avgdl)


def postings_optimize(spark: SparkSession, index: PostingsIndex,
                      target_file_bytes: int = 128 << 20,
                      ) -> PostingsIndex:
    """Compact the index after append accretion: each ``postings_
    append`` adds one directory per touched bucket, so a bucket probed
    after N appends reads N+1 directories.  Runs
    :meth:`PartitionedTable.optimize` on both tables and publishes the
    POST-compaction versions in one commit with the corpus constants
    unchanged — rankings are byte-identical before and after (pinned
    in tests), only the file layout changes; readers pinned to prior
    versions keep reading intact data.  A table with nothing to
    compact republishes its pinned version (zero data movement); with
    nothing to compact at all the handle comes back unchanged.  Old
    versions remain time-travelable until ``PartitionedTable.vacuum``.
    A stale handle raises ValueError, as for every maintenance op.

    The postings rewrite re-clusters each bucket BY TOKEN (``optimize
    (sort_by=("token",))`` — OPTIMIZE ... ZORDER's 1-D analog): the
    pushed ``token IN (...)`` predicate every probe carries then
    skips row groups inside the compacted files, so after compaction
    a term probe reads ~one row group per term instead of scanning
    the whole bucket — the intra-file complement of the manifest's
    bucket pruning."""
    from cs186_query_optimization_project_spark.partitioned import (
        PartitionedTable,
    )

    _guard_fresh_handle(index)
    tables = ((PartitionedTable(spark, index.postings_path),
               index.postings_version, ("token",)),
              (PartitionedTable(spark, index.doclen_path),
               index.doclen_version, ()))
    with _staging(index) as staged:
        compacted = [pt.optimize(target_file_bytes, sort_by=sort_by)
                     for pt, _, sort_by in tables]
        if not any(compacted):
            return index
        for (pt, version, _), done in zip(tables, compacted):
            if not done:
                pt.restore(version)
    return _publish(index, staged, index.n_docs, index.avgdl)


def postings_optimize_if(spark: SparkSession, index: PostingsIndex,
                         max_tombstones: int | None = None,
                         max_masked_fraction: float | None = None,
                         target_file_bytes: int = 128 << 20,
                         ) -> PostingsIndex:
    """Debt-driven :func:`postings_optimize` — the policy loop that
    lets a high-churn caller run ``postings_remove_soft`` +
    ``postings_optimize_if`` after EVERY batch: below threshold the
    call is pure driver-side metadata over both tables' manifests
    (ZERO Spark jobs, zero commits — the handle comes back
    unchanged), and the batch that crosses the line pays the one
    compaction that materializes and clears the accumulated
    tombstones.  Thresholds are :meth:`PartitionedTable
    .tombstone_debt_exceeds` semantics on EITHER table; note the
    postings table records its tombstones without cardinality
    (token-occurrence counts are unknowable without a scan), so a
    ``max_masked_fraction`` threshold trips on the postings table at
    the FIRST soft batch — use ``max_tombstones`` to let postings
    debt accumulate, and reserve the fraction threshold for
    doclen-side wasted-scan policy.  Staleness-guarded like every
    maintenance op: checking (or compacting) through a handle another
    writer committed past raises ValueError."""
    from cs186_query_optimization_project_spark.partitioned import (
        PartitionedTable,
    )

    _guard_fresh_handle(index)
    if not (PartitionedTable(spark, index.postings_path)
            .tombstone_debt_exceeds(max_tombstones,
                                    max_masked_fraction)
            or PartitionedTable(spark, index.doclen_path)
            .tombstone_debt_exceeds(max_tombstones,
                                    max_masked_fraction)):
        return index
    return postings_optimize(spark, index, target_file_bytes)


def load_postings_index(path: str) -> PostingsIndex | None:
    """Load the index's newest committed handle from its postings
    manifest; None if absent/unreadable or in an older layout (caller
    rebuilds — the index is a cache of the corpus)."""
    from cs186_query_optimization_project_spark.partitioned import (
        listed_versions, load_manifest,
    )

    root = os.path.join(path, "postings")
    try:
        for v in reversed(listed_versions(os.path.join(root,
                                                       "_manifests"))):
            man = load_manifest(root, v)
            if man is not None:
                meta = man["meta"]
                return PostingsIndex(
                    path, meta["n_buckets"], meta["n_docs"],
                    meta["avgdl"], meta["source_fingerprint"],
                    postings_version=v,
                    doclen_version=man["partners"][0])
    except (OSError, ValueError, KeyError):
        pass
    return None


def term_postings(spark: SparkSession, index: PostingsIndex,
                  terms: list[str], id_col: str = "doc_id") -> DataFrame:
    """The pruned postings scan for ``terms``: the bucket IN-list
    prunes at the MANIFEST (non-matching bucket directories are never
    listed or opened — stronger than a PartitionFilter, which still
    pays the listing), the version pin freezes the snapshot, and the
    token filter rides the scan as a pushed parquet predicate."""
    from cs186_query_optimization_project_spark.partitioned import (
        PartitionedTable,
    )

    buckets = sorted({token_bucket(t, index.n_buckets) for t in terms})
    return (PartitionedTable(spark, index.postings_path)
            .read(version=index.postings_version,
                  partition_values=buckets)
            .filter(F.col("token").isin(list(terms)))
            .select(F.col(id_col), F.col("pos"), F.col("token")))


def doclen_table(spark: SparkSession, index: PostingsIndex,
                 id_col: str = "doc_id") -> DataFrame:
    """The doc-length sidecar at the handle's pinned version (layout
    bucket column dropped)."""
    from cs186_query_optimization_project_spark.partitioned import (
        PartitionedTable,
    )

    return (PartitionedTable(spark, index.doclen_path)
            .read(version=index.doclen_version)
            .select(F.col(id_col), F.col("__dl")))


def phrase_search_indexed(spark: SparkSession, index: PostingsIndex,
                          phrase: str,
                          id_col: str = "doc_id") -> DataFrame:
    """:func:`phrase_search` against a materialized index — identical
    output, but the scan reads only the phrase terms' bucket
    directories instead of re-tokenizing the corpus."""
    terms = [t for t in phrase.split() if t]
    if not terms:
        raise ValueError("empty phrase")
    return _phrase_join(term_postings(spark, index, terms, id_col),
                        terms, id_col)


def bm25_indexed(spark: SparkSession, index: PostingsIndex, query: str,
                 id_col: str = "doc_id", k1: float = 1.2, b: float = 0.75,
                 top_k: int = 10) -> DataFrame:
    """:func:`bm25_scores` against a materialized index — identical
    ranking, but term frequencies come from the pruned postings scan,
    doc lengths from the compact sidecar, and N/avgdl are build-time
    constants (no corpus-wide aggregate at query time)."""
    terms = sorted({t for t in query.split() if t})
    if not terms:
        raise ValueError("empty query")
    tf = (term_postings(spark, index, terms, id_col)
          .groupBy(id_col, "token")
          .agg(F.count(F.lit(1)).alias("__tf")))
    doc_len = doclen_table(spark, index, id_col)
    corpus = spark.range(1).select(
        F.lit(index.n_docs).alias("__n"),
        F.lit(index.avgdl).alias("__avgdl"))
    return _bm25_rank(tf, doc_len, corpus, id_col, k1, b, top_k)


def hybrid_rrf(docs: DataFrame, emb: DataFrame, query: str,
               query_vec: list[float], k: int = 10, k_each: int = 20,
               c: int = 60, text_col: str = "text",
               id_col: str = "doc_id", vec_id_col: str = "vec_id",
               ) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (Cormack/Clarke/Buettcher
    SIGIR'09) of the BM25 keyword ranking and the exact embedding-cosine
    ranking — ``score(d) = Σ 1/(c + rank(d))`` over the lists that
    contain d.  Both input rankings are deterministic (6-decimal rounds,
    id tie-breaks), so the fusion is SQL-replayable end-to-end.

    Cost shape: each side is its own top-``k_each`` (the BM25 side
    term-pruned, the vector side a TakeOrderedAndProject scan); the
    fusion then joins two ≤k_each-row lists — driver-trivial at any
    corpus size.  The rank windows run over those tiny lists, never the
    corpus."""
    from pyspark.sql import Window

    # the two un-partitioned rank windows below are single-partition
    # sorts BY CONSTRUCTION: each input is already its side's
    # top-k_each (≤ k_each rows), so the sort is driver-trivial.  A
    # caller raising k_each to corpus scale would inherit a
    # one-partition bottleneck — keep k_each in the hundreds; for bulk
    # fusion over many queries, rank within a query-id partition
    # instead.
    bm = bm25_scores(docs, query, text_col, id_col, top_k=k_each)
    rb = bm.select(
        F.col(id_col),
        F.row_number().over(
            Window.orderBy(F.col("bm25").desc(), F.col(id_col).asc()))
        .alias("__rb"))
    from cs186_query_optimization_project_spark.functions.similarity import (
        cosine_topk,
    )
    vs = cosine_topk(emb, query_vec, k=k_each, id_col=vec_id_col)
    rv = vs.select(
        F.col(vec_id_col).alias(id_col),
        F.row_number().over(
            Window.orderBy(F.col("cosine_sim").desc(),
                           F.col(vec_id_col).asc()))
        .alias("__rv"))
    fused = (rb.join(rv, id_col, "full_outer")
             .select(F.col(id_col),
                     F.round(
                         F.coalesce(F.lit(1.0) / (F.lit(c) + F.col("__rb")),
                                    F.lit(0.0))
                         + F.coalesce(F.lit(1.0) / (F.lit(c) + F.col("__rv")),
                                      F.lit(0.0)), 6).alias("rrf")))
    return fused.orderBy(F.col("rrf").desc(), F.col(id_col).asc()).limit(k)
