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
# sidecar table, N/avgdl as metadata constants — query-time scoring
# touches only the matched posting lists, never a corpus-wide
# aggregate.  The bucket hash is the portable md5 60-bit family
# (sketches._H60), so the driver routes a literal term to its bucket in
# plain Python and external oracles can replay the layout.

_POSTINGS_META = "_postings_meta"   # write-once v<N>.json log


@dataclass(frozen=True)
class PostingsIndex:
    """Handle to a materialized postings index: two manifest-versioned
    :class:`~cs186_query_optimization_project_spark.partitioned
    .PartitionedTable`\\ s (postings keyed on token bucket, doc
    lengths keyed on an id-hash bucket) plus the BM25 corpus
    constants, bound together by a meta entry that PINS the table
    versions this handle reads.  The meta is a write-once
    ``v<N>.json`` log read newest-first; ``meta_version`` is this
    handle's entry, and a handle's successor publishes entry N+1.

    The pinned versions are the torn-read protection: a reader
    resolves the meta once and then scans both tables at the recorded
    versions, so an in-flight append (which commits new table versions
    FIRST and publishes the meta LAST) is invisible until its meta
    publish — new postings can never be scored against stale
    n_docs/avgdl.  ``append_epoch`` drives the exactly-once append
    watermark (:meth:`PartitionedTable.idempotent_append`), making a
    crashed append safely retryable with no duplicate postings."""

    path: str                      # root; postings/ + doclen/ under it
    n_buckets: int
    n_docs: int                    # docs with >= 1 token (as bm25_scores)
    avgdl: float
    source_fingerprint: str = ""
    postings_version: int = 0      # pinned commit of postings/
    doclen_version: int = 0        # pinned commit of doclen/
    append_epoch: int = 0          # idempotent-append watermark
    meta_version: int = 0          # this handle's meta log entry

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


def _write_postings_meta(idx: PostingsIndex) -> None:
    """Publish ``idx`` as meta entry ``idx.meta_version`` — the ONE
    commit point binding both table versions and the corpus constants
    (readers load it exactly once).  The entry taken with other
    content means another writer published from the same handle."""
    from cs186_query_optimization_project_spark.partitioned import (
        log_publish,
    )

    if not log_publish(
            os.path.join(idx.path, _POSTINGS_META), idx.meta_version,
            {"format": 2, "n_buckets": idx.n_buckets,
             "n_docs": idx.n_docs, "avgdl": idx.avgdl,
             "source_fingerprint": idx.source_fingerprint,
             "postings_version": idx.postings_version,
             "doclen_version": idx.doclen_version,
             "append_epoch": idx.append_epoch}):
        raise ValueError(
            f"stale PostingsIndex handle: meta entry "
            f"v{idx.meta_version} at {idx.path!r} was published by "
            "another writer since this handle loaded; reload via "
            "load_postings_index() and re-issue")


def _publish_successor(index: PostingsIndex, pt_post, pt_len,
                       n_docs: int, avgdl: float,
                       append_epoch: int) -> PostingsIndex:
    """Publish the handle after ``index``: both tables' newest
    versions with the given constants, as meta entry N+1."""
    out = replace(index, n_docs=n_docs, avgdl=avgdl,
                  postings_version=max(pt_post.versions()),
                  doclen_version=max(pt_len.versions()),
                  append_epoch=append_epoch,
                  meta_version=index.meta_version + 1)
    _write_postings_meta(out)
    return out


def build_postings_index(df: DataFrame, path: str, text_col: str = "text",
                         id_col: str = "doc_id", n_buckets: int = 64,
                         files_per_bucket: int = 1,
                         fingerprint: str = "") -> PostingsIndex:
    """Materialize the postings index as two manifest-versioned
    :class:`PartitionedTable`\\ s: one corpus pass tokenizes and
    commits postings partitioned by token bucket (``_bucket_
    partitioned`` bounds files per directory, same as the ANN builds);
    doc lengths and the corpus stats are then aggregated off the
    committed postings' (tb, doc_id) columns — a column-pruned second
    read, not a second tokenization pass.  The meta publish pinning
    both version-0 commits is the build's single commit point."""
    from cs186_query_optimization_project_spark import metaio
    from cs186_query_optimization_project_spark.functions.similarity import (
        _bucket_partitioned,
    )
    from cs186_query_optimization_project_spark.partitioned import (
        PartitionedTable, log_newest,
    )

    spark = df.sparkSession
    # rebuild of an existing index: retract the meta FIRST, so a crash
    # mid-rebuild leaves load_postings_index() = None (caller rebuilds)
    # instead of a handle pointing at deleted tables.  Numbering goes
    # on past the retracted log, so a pre-rebuild handle's publish
    # finds its entry taken
    log = os.path.join(path, _POSTINGS_META)
    prev = log_newest(log)
    metaio.IO.remove_tree(log)
    for sub in ("postings", "doclen"):
        metaio.IO.remove_tree(os.path.join(path, sub))
    post = (build_postings(df, text_col, id_col)
            .withColumn("tb", _token_bucket_col(n_buckets))
            .select(id_col, "pos", "token", "tb"))
    pt_post = PartitionedTable.create(
        spark, _bucket_partitioned(post, "tb", id_col, files_per_bucket),
        os.path.join(path, "postings"), "tb")
    from pyspark.sql import Observation

    # corpus constants ride the doclen write job as OBSERVED metrics
    # (count/avg of the very rows being written) instead of a separate
    # read-back aggregation job over the committed files
    obs = Observation()
    doc_len = (pt_post.read()
               .groupBy(id_col).agg(F.count(F.lit(1)).alias("__dl"))
               .withColumn("db", _doclen_bucket_col(id_col))
               .select(id_col, "__dl", "db")
               .observe(obs, F.count(F.lit(1)).alias("n"),
                        F.avg("__dl").alias("avgdl")))
    pt_len = PartitionedTable.create(
        spark, doc_len.repartition("db"),
        os.path.join(path, "doclen"), "db")
    stats = obs.get
    idx = PostingsIndex(path, n_buckets, int(stats["n"]),
                        float(stats["avgdl"] or 0.0), fingerprint,
                        postings_version=max(pt_post.versions()),
                        doclen_version=max(pt_len.versions()),
                        append_epoch=0,
                        meta_version=prev[0] + 1 if prev else 0)
    _write_postings_meta(idx)
    return idx


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
    fresh ``load_postings_index``): appending two DIFFERENT batches
    from the same stale handle reuses its epoch, and the second
    batch's inserts would dedup away as a presumed replay — the
    single-writer discipline every epoch-watermarked log requires.
    Retrying the SAME batch after a crash is exactly what the reuse
    is for (see below).

    Commit protocol (the torn-append protection the bare-hive layout
    lacked): both table appends are :meth:`PartitionedTable
    .idempotent_append` commits watermarked by ``append_epoch + 1``,
    and the meta — pinning the NEW versions and constants together —
    publishes LAST as the handle's next meta entry (one exclusive
    create).  A reader holding the old meta keeps scanning the old
    pinned versions throughout (never new postings with stale
    n_docs/avgdl); a crash anywhere before the meta publish leaves the
    published index bit-identical to before the append, and RETRYING
    the same append is safe: the epoch watermark turns the
    already-committed table inserts into dedup no-ops, the constants
    recompute from the same batch, and the meta publish completes the
    interrupted commit (an identical entry already published counts
    as done).  Appending from a handle another writer has published
    past raises the stale-handle ValueError at the publish."""
    from cs186_query_optimization_project_spark.functions.similarity import (
        _bucket_partitioned,
    )
    from cs186_query_optimization_project_spark.partitioned import (
        PartitionedTable,
    )

    epoch = index.append_epoch + 1
    post = (build_postings(new_df, text_col, id_col)
            .withColumn("tb", _token_bucket_col(index.n_buckets))
            .select(id_col, "pos", "token", "tb")
            .localCheckpoint())  # one tokenization feeds both writes
    pt_post = PartitionedTable(spark, index.postings_path)
    pt_post.idempotent_append(
        _bucket_partitioned(post, "tb", id_col, files_per_bucket),
        "postings_append", epoch)
    from pyspark.sql import Observation

    new_lens = (post.groupBy(id_col)
                .agg(F.count(F.lit(1)).alias("__dl"))
                .withColumn("db", _doclen_bucket_col(id_col))
                .select(id_col, "__dl", "db"))
    pt_len = PartitionedTable(spark, index.doclen_path)
    # the constants increment rides the doclen append job as OBSERVED
    # metrics; a dedup'd replay (idempotent_append False — no write
    # job ran, so the metrics never materialize) falls back to the
    # explicit aggregation over the checkpointed tokenization
    obs = Observation()
    if pt_len.idempotent_append(
            new_lens.observe(obs, F.count(F.lit(1)).alias("n"),
                             F.sum("__dl").alias("s"))
            .repartition("db"), "postings_append", epoch):
        inc = obs.get
    else:
        inc = new_lens.agg(F.count(F.lit(1)).alias("n"),
                           F.sum("__dl").alias("s")).first()
    n_new, dl_new = int(inc["n"]), float(inc["s"] or 0.0)
    n_docs = index.n_docs + n_new
    avgdl = ((index.n_docs * index.avgdl + dl_new) / n_docs
             if n_docs else 0.0)
    return _publish_successor(index, pt_post, pt_len, n_docs, avgdl,
                              epoch)


def _guard_fresh_handle(index: PostingsIndex) -> None:
    """Single-writer staleness guard for the delete paths: their
    constants decrement from the handle's PINNED doclen snapshot, so
    a handle another writer has PUBLISHED past would produce
    constants diverging from the table content.  Staleness is judged
    against the published META, not raw table versions — a retry of
    this writer's own crashed commit legitimately sees newer
    *unpublished* table versions and must be allowed through (the
    retry converges; see the callers' commit-protocol docstrings)."""
    published = load_postings_index(index.path)
    if published is not None and (
            published.postings_version != index.postings_version
            or published.doclen_version != index.doclen_version
            or published.append_epoch != index.append_epoch):
        raise ValueError(
            "stale PostingsIndex handle: the published meta pins "
            f"postings v{published.postings_version}/doclen "
            f"v{published.doclen_version}/epoch "
            f"{published.append_epoch} but this handle holds "
            f"v{index.postings_version}/v{index.doclen_version}/"
            f"epoch {index.append_epoch} — another writer committed "
            "since it loaded; reload via load_postings_index() and "
            "re-issue the delete")


def postings_remove(spark: SparkSession, index: PostingsIndex,
                    ids_df: DataFrame, id_col: str = "doc_id",
                    files_per_bucket: int = 1) -> PostingsIndex:
    """Targeted deletion from the postings index — the
    right-to-be-forgotten half of the maintenance lifecycle
    (:func:`postings_append` adds; mirrors ``similarity
    .ivfpq_remove``): the token buckets OWNING the doomed documents'
    postings are found with one broadcast semi-join, and ONLY those
    bucket partitions rewrite (anti-join survivors through one
    versioned :meth:`PartitionedTable.overwrite_partitions` commit);
    every untouched bucket's files stay byte-identical.  Honest cost
    note: a document's tokens hash across ALL buckets, so unlike the
    IVF-PQ case (one cell per vector) a postings deletion typically
    rewrites the whole postings table — O(index), the same cost
    class as Lucene's forced merge after deletes.  BATCH deletion
    requests and run them as one call; for high-churn corpora the
    tombstone path (:meth:`PartitionedTable.delete_soft` + periodic
    :func:`postings_optimize`) trades read-time filtering for
    zero-rewrite deletes.  The doc-length table DOES prune (one
    id-hash bucket per doomed doc), and the
    corpus constants update INCREMENTALLY from the doomed documents'
    recorded lengths (``n' = n - n_rm``, ``avgdl' = (n·avgdl -
    Σ removed_dl) / n'``) — no corpus re-aggregate.  After the meta
    publish every reader ranks exactly as a from-scratch build over the
    surviving corpus (pinned in tests).

    Same commit discipline as append: tables commit first, the meta —
    pinning the post-delete versions with the updated constants —
    publishes LAST, so a crash anywhere leaves the published index
    bit-identical and a RETRY from the pre-crash handle recomputes
    the same constants (the doomed lengths are read at the handle's
    PINNED doclen version, which still contains them) and converges.
    Same single-writer discipline too — and unlike append it is
    GUARDED: the constants decrement from the handle's pinned doclen
    snapshot, so a handle another writer has published past would
    produce constants diverging from the rewritten table content.
    The guard compares the handle against the PUBLISHED meta (not raw
    table versions — a retry of this writer's own crashed remove
    legitimately sees newer unpublished table commits) and raises
    ValueError on a stale handle; reload via
    :func:`load_postings_index` and re-issue.  Ghost removals (no
    requested id is indexed) return the handle unchanged — no table
    commit, no meta republish, constants bit-identical.
    Returns the new handle."""
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
    # ONE pass over the PINNED doclen version yields both the doomed
    # constants (crash-retry reads the same values even after the
    # delete commits) and the touched doclen buckets — the old shape
    # paid a second doclen scan for the bucket-discovery collect.
    # Commit-protocol note: because the buckets come from the PINNED
    # version, a crash-retry that runs after the doclen overwrite
    # already committed re-discovers the same buckets and rewrites
    # byte-identical content as one extra (harmless) version — the
    # retry converges but is no longer a table no-op; the accepted
    # price for constants that cannot drift under retry
    rm_rows = (pt_len.read(version=index.doclen_version)
               .join(F.broadcast(ids), id_col)
               .groupBy("db")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum("__dl").alias("s")).collect())
    n_rm = sum(int(r["n"]) for r in rm_rows)
    dl_rm = sum(float(r["s"] or 0.0) for r in rm_rows)
    if not n_rm:
        # ghost removal: nothing indexed matches — skip the table
        # commits AND the meta republish so the constants stay
        # bit-identical (n*avgdl/n re-rounding is not a no-op in
        # IEEE-754) and no version churn is published
        return index
    touched_len = sorted(r["db"] for r in rm_rows)
    for pt, bucket_col, cols, fpb, touched in (
            (pt_post, "tb", [id_col, "pos", "token", "tb"],
             files_per_bucket, None),
            (pt_len, "db", [id_col, "__dl", "db"], 1, touched_len)):
        if touched is None:
            touched = [r[bucket_col] for r in
                       (pt.read().join(F.broadcast(ids), id_col)
                        .select(bucket_col).distinct().collect())]
        if touched:
            survivors = (pt.read(partition_values=touched)
                         .join(F.broadcast(ids), id_col,
                               "left_anti")
                         .select(*cols))
            pt.overwrite_partitions(
                _bucket_partitioned(survivors, bucket_col, id_col,
                                    fpb),
                touched)
    n_docs = index.n_docs - n_rm
    avgdl = ((index.n_docs * index.avgdl - dl_rm) / n_docs
             if n_docs else 0.0)
    return _publish_successor(index, pt_post, pt_len, n_docs, avgdl,
                              index.append_epoch)


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
    predicate as a map-only filter on read.  Rankings after the meta
    publish are identical to :func:`postings_remove`'s rewrite and to a
    from-scratch build over the survivors (pinned in tests and in the
    ``bm25_remove`` entry); space reclaims later when
    :func:`postings_optimize` materializes the tombstones (its
    rewrite reads THROUGH them and clears them, same rankings).

    ``ids`` is a bounded driver-side list, not a DataFrame — the
    tombstone predicate lives in the manifest (driver-side metadata),
    which is exactly the high-churn shape this path serves: frequent
    SMALL right-to-be-forgotten batches.  Bulk deletions belong on
    the rewrite path, whose id set stays distributed.

    Commit protocol: both ``delete_soft`` commits land first, the
    meta — pinning the tombstoned versions with constants updated
    incrementally from the doomed documents' recorded lengths —
    publishes LAST.  A crash before the meta publish leaves the
    published index ranking as before (readers pin pre-tombstone
    versions); retrying from the pre-crash handle passes the
    staleness guard (the published meta still matches it), re-records
    the same predicate (a duplicate tombstone is a semantic no-op —
    its visible-row count is 0 on the retry), recomputes the same
    constants from the PINNED doclen snapshot, and converges.  Same
    single-writer guard as the rewrite path: a handle another writer
    has published past raises ValueError.

    Single-writer discipline (same as every maintenance op here): an
    interrupted delete must be RETRIED to completion — or its table
    commits rolled back — before the writer issues any OTHER
    maintenance operation; abandoning it and appending from a fresh
    handle would fold the half-committed tombstone versions into the
    next publish's version pins with constants that never accounted
    for them."""
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
    pt_post = PartitionedTable(spark, index.postings_path)
    # postings cardinality (doomed TOKEN occurrences per token bucket)
    # is unknowable without a postings scan — decline it (fail-closed
    # metadata COUNT on the postings table, which nothing uses; the
    # ranking constants live in the meta, not the manifest)
    pt_post.delete_soft(pred, masked_counts=None)
    pt_len.delete_soft(pred, masked_counts=claims)
    n_docs = index.n_docs - n_rm
    avgdl = ((index.n_docs * index.avgdl - dl_rm) / n_docs
             if n_docs else 0.0)
    return _publish_successor(index, pt_post, pt_len, n_docs, avgdl,
                              index.append_epoch)


def postings_optimize(spark: SparkSession, index: PostingsIndex,
                      target_file_bytes: int = 128 << 20,
                      ) -> PostingsIndex:
    """Compact the index after append accretion: each ``postings_
    append`` adds one directory per touched bucket, so a bucket probed
    after N appends reads N+1 directories.  Runs
    :meth:`PartitionedTable.optimize` on both tables (each a versioned
    commit — concurrent readers pinned to prior versions keep reading
    intact data) and republishes the meta pinning the POST-compaction
    versions with the corpus constants unchanged — rankings are
    byte-identical before and after (pinned in tests), only the file
    layout changes.  Old versions remain time-travelable until
    ``PartitionedTable.vacuum``.

    Staleness-guarded like both remove paths: optimize REPUBLISHES
    the handle's ``n_docs``/``avgdl``, so an optimize issued from a
    handle another writer's soft delete published past would
    materialize that writer's tombstones while republishing
    pre-delete constants — resurrecting the deleted documents in the
    corpus constants.  A stale handle raises ValueError; reload via
    :func:`load_postings_index` and re-issue.

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
    pt_post = PartitionedTable(spark, index.postings_path)
    pt_len = PartitionedTable(spark, index.doclen_path)
    pt_post.optimize(target_file_bytes, sort_by=("token",))
    pt_len.optimize(target_file_bytes)
    return _publish_successor(index, pt_post, pt_len, index.n_docs,
                              index.avgdl, index.append_epoch)


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
    writer published past raises ValueError."""
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
    """Load a previously built postings index from its newest meta
    entry; None if absent/unreadable or in an older layout (caller
    rebuilds — the index is a cache of the corpus)."""
    from cs186_query_optimization_project_spark.partitioned import (
        log_newest,
    )

    try:
        newest = log_newest(os.path.join(path, _POSTINGS_META))
        if newest is None:
            return None          # absent, or an older single-file meta
        number, meta = newest
        return PostingsIndex(path, meta["n_buckets"], meta["n_docs"],
                             meta["avgdl"],
                             meta.get("source_fingerprint", ""),
                             postings_version=meta["postings_version"],
                             doclen_version=meta["doclen_version"],
                             append_epoch=meta.get("append_epoch", 0),
                             meta_version=number)
    except (OSError, ValueError, KeyError):
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
