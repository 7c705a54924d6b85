"""Embedding similarity search over an ``array<float>`` column.

Two paths (SURVEY.md §7 phase 6):

- **brute-force cosine top-k** — the exact baseline: one JVM-side
  ``zip_with``/``aggregate`` dot product per row, then a global top-k.
  At 100 TB the top-k is the important part: ``orderBy().limit(k)`` in
  Spark computes per-partition top-k first (TakeOrderedAndProject), so the
  shuffle carries only k rows per partition, not the corpus.
- **random-hyperplane LSH (bucketed ANN)** — signs of r random projections
  bucket the corpus; queries probe only their own bucket.  The projection
  is a fixed deterministic matrix derived from a seed, so signatures are
  reproducible across runs and cluster topologies.

Also: all-pairs cosine above a threshold via LSH buckets (embedding
near-dup detection), never all-pairs brute force.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cs186_query_optimization_project_spark import metaio
from cs186_query_optimization_project_spark.errors import DatabaseException
from cs186_query_optimization_project_spark.parallel import (
    ensure_parallelism,
    local_rows_df,
)
from cs186_query_optimization_project_spark.partitioned import (
    PartitionedTable,
    commit_together,
    deferred_commits,
    listed_versions,
    load_manifest,
)


def _lit_vec(vec: list[float]) -> Column:
    """Literal ``array<double>`` built as ONE SQL parse instead of one
    py4j round-trip per element.  A 64-dim vector costs ~65 gateway
    calls the old way (measured: plan CONSTRUCTION, not execution,
    dominated the ANN entries — ~0.5 ms per call adds up across
    codebooks of 16×8 and 16-plane LSH matrices); ``F.expr`` is one
    call and one JVM-side parse.  ``repr()`` round-trips doubles
    exactly and Spark's ``D`` suffix parses to DoubleType, so the
    resulting literals are bit-identical to ``F.lit(float(v))``
    (verified including denormals and 17-significant-digit values).
    Non-finite values (no SQL literal form) fall back to the per-lit
    path."""
    vals = [float(v) for v in vec]
    if vals and all(math.isfinite(v) for v in vals):
        return F.expr(
            "array(" + ",".join(repr(v) + "D" for v in vals) + ")")
    return F.array(*[F.lit(v) for v in vals])


def _lit_mat(mat: list[list[float]]) -> Column:
    """Literal ``array<array<double>>`` (codebooks, centroid matrices,
    LSH plane sets) as one SQL parse — the matrix sibling of
    :func:`_lit_vec`, with the same bit-exactness contract."""
    if mat and all(row and all(math.isfinite(float(v)) for v in row)
                   for row in mat):
        return F.expr(
            "array(" + ",".join(
                "array(" + ",".join(repr(float(v)) + "D" for v in row)
                + ")" for row in mat) + ")")
    return F.array(*[_lit_vec(row) for row in mat])


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate (JVM, no Python)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                vec_col: str = "embedding", id_col: str = "vec_id",
                ) -> DataFrame:
    """Exact top-k by cosine similarity to ``query_vec``.

    Deterministic output: similarity rounded to 6 decimals with id
    tie-break, so ranking is stable across partitionings (and matches the
    DuckDB oracle bit-for-bit after rounding)."""
    q = _lit_vec(query_vec)
    emb = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scored = df.select(
        F.col(id_col),
        F.round(cosine(emb, q), 6).alias("cosine_sim"))
    return (scored
            .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
            .limit(k))


def cosine_topk_batch(df: DataFrame,
                      queries: list[tuple[int, list[float]]],
                      k: int = 10, vec_col: str = "embedding",
                      id_col: str = "vec_id") -> DataFrame:
    """Exact top-k for a BATCH of queries in one corpus pass — the
    bulk-retrieval shape (nearest-neighbor labeling, eval harnesses,
    dedup-vs-reference): all query vectors ship as one literal
    array-of-structs riding the scan, each corpus row fans out to
    |queries| scored pairs MAP-SIDE (explode — no join, no shuffle of
    the corpus), and one rank window PARTITIONED BY query id takes
    each query's top-k in parallel.  The corpus is read once
    regardless of |queries|; the only shuffle is the rank over
    |queries| × |corpus| scored pairs, each a (long, long, double).
    A per-query loop would scan the corpus |queries| times instead.
    Keep the batch to what a task comfortably holds as literals
    (hundreds of queries; beyond that, join against a queries table).

    Deterministic like :func:`cosine_topk`: 6-decimal rounding with
    id tie-breaks, SQL-replayable."""
    from pyspark.sql import Window

    qarr = F.array(*[
        F.struct(F.lit(int(qid)).cast("bigint").alias("query_id"),
                 _lit_vec(vec).alias("__qv"))
        for qid, vec in queries])
    emb = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scored = (df.select(F.col(id_col), emb.alias("__e"))
              .select(id_col, F.explode(qarr).alias("__q"), "__e")
              .select(F.col("__q.query_id").alias("query_id"),
                      F.col(id_col),
                      F.round(cosine(F.col("__e"), F.col("__q.__qv")),
                              6).alias("cosine_sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc())
    return (scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k).drop("__rn"))


# --------------------------------------------------------------------- #
# random-hyperplane LSH
# --------------------------------------------------------------------- #
def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-Gaussian hyperplanes via a splitmix64 stream —
    reproducible everywhere without numpy RNG state."""
    def stream(s: int):
        state = s & 0xFFFFFFFFFFFFFFFF
        while True:
            state = (state + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
            z = state
            z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
            z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
            z ^= z >> 31
            yield z / 2**64  # uniform [0,1)

    gen = stream(seed)
    planes = []
    for _ in range(n_planes):
        row = []
        while len(row) < dim:
            # Box-Muller from two uniforms
            u1, u2 = next(gen), next(gen)
            u1 = max(u1, 1e-12)
            r = math.sqrt(-2.0 * math.log(u1))
            row.append(r * math.cos(2 * math.pi * u2))
            if len(row) < dim:
                row.append(r * math.sin(2 * math.pi * u2))
        planes.append(row[:dim])
    return planes


def lsh_signature(vec_col: str, dim: int, n_planes: int = 16,
                  seed: int = 42) -> Column:
    """Bit-pack the signs of n_planes random projections into a long."""
    emb = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    planes = _hyperplanes(dim, n_planes, seed)
    # one plane matrix + one bit-weight vector (two SQL parses) instead
    # of n_planes per-element literal builds.  Each term is the same
    # when(dot(emb, planeᵢ) >= 0, 1<<i, 0) as the old fold; the sum is
    # over exact long bit values, so the packed signature is identical.
    bits = F.expr("array(" + ",".join(str(1 << i) + "L"
                                      for i in range(n_planes)) + ")")
    terms = F.zip_with(_lit_mat(planes), bits,
                       lambda p, b: F.when(dot(emb, p) >= 0, b)
                       .otherwise(F.lit(0).cast("long")))
    return F.aggregate(terms, F.lit(0).cast("long"),
                       lambda acc, v: acc + v)


def _query_signature(planes: list[list[float]], vec: list[float]) -> int:
    """Driver-side twin of :func:`lsh_signature` — the SAME sign fold the
    executors compute, so a query routes to the bucket its own row would
    land in.  Any change here must change ``lsh_signature`` identically."""
    qsig = 0
    for i, plane in enumerate(planes):
        if sum(p * v for p, v in zip(plane, vec)) >= 0:
            qsig |= 1 << i
    return qsig


def _nearest_cells(centroids: list[list[float]], vec: list[float],
                   n_probe: int) -> list[int]:
    """Indexes of the n_probe centroids nearest ``vec`` by cosine —
    driver-side twin of :func:`ivf_cell`'s argmax."""
    def _cos(c: list[float]) -> float:
        d = sum(p * q for p, q in zip(c, vec))
        nc = math.sqrt(sum(v * v for v in c)) or 1.0
        nq = math.sqrt(sum(v * v for v in vec)) or 1.0
        return d / (nc * nq)

    return sorted(range(len(centroids)),
                  key=lambda i: -_cos(centroids[i]))[:n_probe]


def ann_topk(df: DataFrame, query_vec: list[float], k: int = 10,
             vec_col: str = "embedding", id_col: str = "vec_id",
             n_planes: int = 12, seed: int = 42) -> DataFrame:
    """Approximate top-k: score only rows whose LSH bucket matches the
    query's.  One filter + small top-k instead of a full-corpus scan; at
    scale the bucketed table is written partitioned by signature so the
    probe prunes partitions."""
    dim = len(query_vec)
    qsig = _query_signature(_hyperplanes(dim, n_planes, seed), query_vec)
    bucketed = df.withColumn("__sig",
                             lsh_signature(vec_col, dim, n_planes, seed))
    q = _lit_vec(query_vec)
    emb = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return (bucketed.filter(F.col("__sig") == qsig)
            .select(F.col(id_col),
                    F.round(cosine(emb, q), 6).alias("cosine_sim"))
            .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
            .limit(k))


# --------------------------------------------------------------------- #
# IVF (inverted-file) ANN — the cluster-then-probe scale path
# --------------------------------------------------------------------- #
def ivf_centroids(df: DataFrame, n_cells: int = 16,
                  vec_col: str = "embedding",
                  id_col: str = "vec_id") -> list[list[float]]:
    """Deterministic centroid pick: the n_cells corpus vectors with the
    smallest *portable* hash of their id (top 60 bits of md5 — the same
    family dedup.py uses) — a seedless reservoir that is stable across
    partitionings AND reproducible in ANSI SQL (DuckDB:
    ``('0x'||substr(md5(id::VARCHAR),1,15))::UBIGINT``), which is what
    lets an external oracle re-derive the centroid list and verify the
    whole IVF pipeline end-to-end.  (A KMeans refinement would sharpen
    recall; the IVF *plumbing* — assignment, cell pruning, probe — is
    identical.)  The collect is bounded by n_cells, never corpus-sized."""
    phash = F.expr(
        f"cast(conv(substr(md5(cast({id_col} as string)), 1, 15), 16, 10) "
        f"as bigint)")
    rows = (df.select(F.col(vec_col))
            .orderBy(phash, F.col(id_col))
            .limit(n_cells).collect())
    return [[float(v) for v in r[0]] for r in rows]


def ivf_cell(vec_col: str, centroids: list[list[float]]) -> Column:
    """Cell id = argmax cosine-dot against the centroid list (JVM-side:
    an array of dot products + array_position of the max; first index wins
    ties deterministically)."""
    emb = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # one literal matrix + one literal norm vector (two SQL parses)
    # instead of |centroids| _lit_vec calls; each element is still
    # dot(emb, cᵢ) / normᵢ with identical operands and op order, so the
    # doubles (hence the argmax cell) are bit-identical to the old
    # per-centroid F.array form.
    norms = _lit_vec([math.sqrt(sum(v * v for v in c)) or 1.0
                      for c in centroids])
    dots = F.zip_with(_lit_mat(centroids), norms,
                      lambda c, n: dot(emb, c) / n)
    return (F.array_position(dots, F.array_max(dots)) - 1).alias("cell")


def ivf_topk(df: DataFrame, query_vec: list[float], k: int = 10,
             vec_col: str = "embedding", id_col: str = "vec_id",
             n_cells: int = 16, n_probe: int = 4,
             centroids: list[list[float]] | None = None,
             where: str | Column | None = None) -> DataFrame:
    """IVF-flat approximate top-k: assign rows to their nearest centroid,
    score only the n_probe cells nearest the query.

    At 100 TB the assignment happens once at write time (table partitioned
    by ``cell``), so a probe reads n_probe/n_cells of the data via partition
    pruning; here the assignment is computed in the scan (still a single
    pass, no shuffle — the filter + top-k collapse into one stage).
    Pass ``centroids`` (from :func:`ivf_centroids`) to reuse a built
    index across queries — the IVF analog of loading an index file.
    ``where`` (SQL string or Column) is filtered vector search: the
    metadata predicate applies BEFORE ranking, so all k results
    satisfy it (see :func:`ivf_probe`)."""
    cents = centroids or ivf_centroids(df, n_cells, vec_col, id_col)
    probe = _nearest_cells(cents, query_vec, n_probe)
    q = _lit_vec(query_vec)
    emb = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    if where is not None:
        df = df.filter(F.expr(where) if isinstance(where, str) else where)
    return (df.withColumn("cell", ivf_cell(vec_col, cents))
            .filter(F.col("cell").isin(probe))
            .select(F.col(id_col),
                    F.round(cosine(emb, q), 6).alias("cosine_sim"))
            .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
            .limit(k))


# --------------------------------------------------------------------- #
# materialized ANN indexes — build once, probe via manifest pruning
# --------------------------------------------------------------------- #
# The in-scan paths above (`ann_topk`, `ivf_topk`) recompute the bucket
# assignment over the full corpus on every query — fine as a fallback,
# wrong as an index.  At 100 TB an index is a TABLE LAYOUT: the corpus is
# written ONCE as a :class:`PartitionedTable` keyed on its bucket
# (``sig`` for LSH, ``cell`` for IVF and IVF-PQ), and a probe reads only
# the probed buckets — pruned at the MANIFEST, so the scan lists
# 1/2^n_planes (LSH) or n_probe/n_cells (IVF) of the directories.  The
# index header (kind, dim, params, source fingerprint) is the ``meta``
# of the table's manifest, so a header and the codes it decodes commit
# together.  This is the B+-tree→sorted-write move (database.py
# docstring) applied to vector search.


@dataclass(frozen=True)
class AnnIndex:
    """Handle to a materialized ANN index: the partitioned table path plus
    the parameters needed to route a query vector to its bucket(s)."""

    kind: str                      # "lsh" | "ivf" | "ivfpq"
    path: str
    dim: int
    params: dict
    #: identity of the source corpus at build time; a probe helper can
    #: compare against the current source to decide on a rebuild
    source_fingerprint: str = ""


def _header(index: AnnIndex) -> dict:
    """The index header its table's manifest carries as ``meta``."""
    return {"kind": index.kind, "dim": index.dim, "params": index.params,
            "source_fingerprint": index.source_fingerprint}


def _newest(path: str) -> tuple[int, AnnIndex] | None:
    """``(version, handle)`` from the index table's newest committed
    manifest; None if absent/unreadable or in an older layout."""
    try:
        for v in reversed(listed_versions(os.path.join(path,
                                                       "_manifests"))):
            man = load_manifest(path, v)
            if man is not None:
                h = man["meta"]
                return v, AnnIndex(h["kind"], path, h["dim"], h["params"],
                                   h["source_fingerprint"])
    except (OSError, ValueError, KeyError, TypeError):
        pass
    return None


def load_ann_index(path: str) -> AnnIndex | None:
    """Load a previously built index from its newest committed
    manifest; None if absent/unreadable or in an older layout (caller
    rebuilds — an index is a cache of the corpus, never the only
    copy)."""
    newest = _newest(path)
    return newest[1] if newest else None


def _guard_fresh_ann_handle(index: AnnIndex) -> int:
    """Staleness guard for the IVF-PQ maintenance ops, which encode
    against the handle's FROZEN header: the op runs only while the
    newest committed header equals the handle's; returns the version
    checked.  Headers compare, not versions: append/remove carry the
    header forward, so a handle survives its own ops (normalized
    through a JSON round-trip, so tuple/list and int/float
    representation differences never false-positive).  The op then
    stages on the returned version, so a rebuild committing after this
    check makes it raise ConflictException."""
    newest = _newest(index.path)
    norm = lambda ix: json.loads(json.dumps(_header(ix)))  # noqa: E731
    if newest is None or norm(newest[1]) != norm(index):
        raise ValueError(
            "stale AnnIndex handle: the newest committed header at "
            f"{index.path!r} no longer matches this handle's (a rebuild "
            "committed new centroids/codebooks since it loaded); reload "
            "via load_ann_index() and re-issue the maintenance op")
    return newest[0]


def _publish(staged: list, index: AnnIndex) -> AnnIndex:
    """Publish the index table's one staged commit with ``index``'s
    header as its manifest ``meta`` — the index's commit point."""
    (table, _), = staged
    commit_together(staged, meta={table.root: _header(index)})
    return index


def source_fingerprint(path: str) -> str:
    """(path, mtime, size) identity of a source file/dir — cheap staleness
    check so probes rebuild only when the corpus actually changed."""
    try:
        st = os.stat(path)
        return f"{path}|{st.st_mtime_ns}|{st.st_size}"
    except OSError:
        return ""


def _bucket_partitioned(df: DataFrame, bucket_col: str, id_col: str,
                        files_per_bucket: int) -> DataFrame:
    """Shuffle so each bucket directory gets a bounded file count.

    ``repartition(bucket)`` alone writes ONE file per bucket — compact,
    but at 100 TB a bucket is corpus/n_buckets in a single task (an IVF
    cell can be terabytes).  Salting the shuffle key by
    ``xxhash64(id) % files_per_bucket`` caps per-task data at
    bucket/files_per_bucket while keeping the directory's file count at
    most files_per_bucket (vs. one file per *input* task unsalted — at
    1000 executors, 1000× the files)."""
    if files_per_bucket <= 1:
        return df.repartition(F.col(bucket_col))
    salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(files_per_bucket))
    return df.repartition(F.col(bucket_col), salt)


def _write_index(df: DataFrame, index: AnnIndex, bucket_col: str,
                 n_buckets: int, id_col: str,
                 files_per_bucket: int) -> AnnIndex:
    """Write ``df`` as ``index``'s table keyed on ``bucket_col``
    (values ``0..n_buckets-1``) and commit it with the header — the one
    build path of every ANN kind.  Over a live index of the same schema
    the rebuild is ONE ``overwrite_partitions`` commit naming the old
    and new buckets: the old version stays published (and
    time-travelable) until the manifest swap, a crash before it leaves
    the old header over the old codes, and the staged successor of the
    manifest read here loses to any commit that lands first
    (ConflictException).  Anything else at the path is deleted,
    manifests first (a crash part-way through leaves no loadable
    header over deleted files), and the table is created."""
    spark = df.sparkSession
    rows = _bucket_partitioned(df, bucket_col, id_col, files_per_bucket)
    try:
        pt = PartitionedTable(spark, index.path)
        man = pt._manifest()
        live = (man["schema"] == df.schema.simpleString()
                and pt._pcols_of(man) == [bucket_col])
    except (DatabaseException, OSError, ValueError, KeyError):
        live = False
    if not live:
        for p in (os.path.join(index.path, "_manifests"), index.path):
            metaio.IO.remove_tree(p)
    with deferred_commits() as staged:
        if live:
            pt._overwrite_partitions(
                man, rows, sorted({int(k) for k in man["parts"]}
                                  | set(range(n_buckets))))
        else:
            PartitionedTable.create(spark, rows, index.path, bucket_col)
    return _publish(staged, index)


def _probe(spark: SparkSession, index: AnnIndex, buckets: list[int],
           query_vec: list[float], k: int, vec_col: str, id_col: str,
           where: str | Column | None) -> DataFrame:
    """Exact top-k over ``buckets`` of the index table, pruned at the
    manifest; ``where`` applies inside that scan, BEFORE the
    rank-limit."""
    probed = PartitionedTable(spark, index.path).read(
        partition_values=buckets)
    if where is not None:
        probed = probed.filter(
            F.expr(where) if isinstance(where, str) else where)
    return cosine_topk(probed, query_vec, k, vec_col, id_col)


def build_lsh_index(df: DataFrame, path: str, vec_col: str = "embedding",
                    id_col: str = "vec_id", n_planes: int = 8,
                    seed: int = 42, files_per_bucket: int = 1,
                    fingerprint: str = "") -> AnnIndex:
    """Materialize the LSH index: one pass computes every row's signature,
    then a bucket-keyed shuffle bounds the files per bucket (see
    ``_bucket_partitioned``; with 2^n_planes buckets the default of one
    file per bucket is right until buckets outgrow a task)."""
    dim = _dim_of(df, vec_col)
    return _write_index(
        df.withColumn("sig", lsh_signature(vec_col, dim, n_planes, seed)),
        AnnIndex("lsh", path, dim, {"n_planes": n_planes, "seed": seed},
                 fingerprint),
        "sig", 1 << n_planes, id_col, files_per_bucket)


def lsh_probe(spark: SparkSession, index: AnnIndex, query_vec: list[float],
              k: int = 10, vec_col: str = "embedding",
              id_col: str = "vec_id",
              where: str | Column | None = None) -> DataFrame:
    """Probe the materialized LSH index: the query's signature is computed
    driver-side (n_planes dot products over one vector), and the scan
    reads that one bucket's directories.

    ``where`` is FILTERED vector search, same contract as
    :func:`ivf_probe`: the metadata predicate applies INSIDE the pruned
    bucket scan, BEFORE the rank-limit, so all k results satisfy it —
    post-filtering the unfiltered top-k would silently under-return
    whenever the predicate is selective."""
    qsig = _query_signature(
        _hyperplanes(index.dim, index.params["n_planes"],
                     index.params["seed"]), query_vec)
    return _probe(spark, index, [qsig], query_vec, k, vec_col, id_col,
                  where)


def build_ivf_index(df: DataFrame, path: str, vec_col: str = "embedding",
                    id_col: str = "vec_id", n_cells: int = 16,
                    centroids: list[list[float]] | None = None,
                    files_per_bucket: int = 8,
                    fingerprint: str = "") -> AnnIndex:
    """Materialize the IVF index: assign each row to its nearest centroid
    once, write keyed on ``cell``; centroids live in the header (the IVF
    analog of an index header page).

    files_per_bucket defaults >1 here, unlike LSH: with only n_cells
    buckets each cell is corpus/n_cells — routing one to a single writer
    task would bottleneck the build at scale (``_bucket_partitioned``)."""
    cents = centroids or ivf_centroids(df, n_cells, vec_col, id_col)
    return _write_index(
        df.withColumn("cell", ivf_cell(vec_col, cents)),
        AnnIndex("ivf", path, len(cents[0]), {"centroids": cents},
                 fingerprint),
        "cell", len(cents), id_col, files_per_bucket)


def ivf_probe(spark: SparkSession, index: AnnIndex, query_vec: list[float],
              k: int = 10, n_probe: int = 4, vec_col: str = "embedding",
              id_col: str = "vec_id",
              where: str | Column | None = None) -> DataFrame:
    """Probe the n_probe cells nearest the query; every other cell's
    directories are pruned at the manifest, never listed.

    ``where`` (SQL string or Column over the indexed table's columns)
    is FILTERED vector search — the metadata predicate every RAG /
    retrieval stack needs ("top-k among label=2 / lang='en' / date >
    cutoff").  It applies INSIDE the pruned scan, BEFORE ranking, so
    all k results satisfy it (post-filtering the top-k instead would
    silently return < k rows whenever the filter is selective).  The
    predicate rides the scan of the probed cells as a pushed parquet
    filter, so n_probe/n_cells of the corpus is still the I/O
    ceiling."""
    probe = _nearest_cells(index.params["centroids"], query_vec, n_probe)
    return _probe(spark, index, probe, query_vec, k, vec_col, id_col,
                  where)


def similar_pairs(df: DataFrame, threshold: float = 0.95,
                  vec_col: str = "embedding", id_col: str = "vec_id",
                  n_planes: int = 8, seed: int = 42,
                  max_bucket_size: int | None = None) -> DataFrame:
    """Embedding near-duplicate pairs: bucket on the LSH signature, compare
    within buckets only, keep cosine ≥ threshold.  The quadratic term is
    bounded per bucket (2^n_planes buckets).

    ``max_bucket_size`` caps the per-bucket quadratic term for
    degenerate corpora (embedding collapse, exact-duplicate floods):
    over-full buckets short-circuit to hub-spoke comparisons — every
    member's cosine against the bucket's min-id hub only (LINEAR per
    bucket) — so a near-dup cluster still forms around the hub, at the
    documented cost of non-hub pairwise edges.  ``None`` keeps exact
    within-bucket pairs."""
    df = ensure_parallelism(df, id_col)
    sigs = df.select(F.col(id_col), F.col(vec_col),
                     lsh_signature(vec_col,
                                   _dim_of(df, vec_col), n_planes, seed)
                     .alias("__sig"))
    star = None
    if max_bucket_size is not None:
        w = Window.partitionBy("__sig")
        sized = (sigs
                 .withColumn("__bn", F.count(F.lit(1)).over(w))
                 .withColumn("__hub", F.min(id_col).over(w)))
        over = sized.filter(F.col("__bn") > max_bucket_size)
        hubs = (over.filter(F.col(id_col) == F.col("__hub"))
                .select(F.col("__sig"),
                        F.col(id_col).alias("a"),
                        F.col(vec_col).alias("__hub_vec")))
        spokes = (over.filter(F.col(id_col) != F.col("__hub"))
                  .select("__sig", F.col(id_col).alias("b"),
                          F.col(vec_col)))
        he = F.transform(F.col("__hub_vec"), lambda x: x.cast("double"))
        se = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        # one hub row per bucket → the join is linear in members
        star = (spokes.join(hubs, "__sig")
                .select("a", "b",
                        F.round(cosine(he, se), 6).alias("cosine_sim"))
                .filter(F.col("cosine_sim") >= threshold))
        sigs = (sized.filter(F.col("__bn") <= max_bucket_size)
                .drop("__bn", "__hub"))
    left, right = sigs.alias("l"), sigs.alias("r")
    le = F.transform(F.col(f"l.{vec_col}"), lambda x: x.cast("double"))
    re_ = F.transform(F.col(f"r.{vec_col}"), lambda x: x.cast("double"))
    pairs = (left.join(right,
                       (F.col("l.__sig") == F.col("r.__sig"))
                       & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
             .select(F.col(f"l.{id_col}").alias("a"),
                     F.col(f"r.{id_col}").alias("b"),
                     F.round(cosine(le, re_), 6).alias("cosine_sim"))
             .filter(F.col("cosine_sim") >= threshold))
    if star is not None:
        pairs = pairs.unionByName(star)
    return pairs


def cross_similar_pairs(corpus: DataFrame, reference: DataFrame,
                        threshold: float = 0.9,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id",
                        n_planes: int = 6, seed: int = 42) -> DataFrame:
    """Embedding near-matches ACROSS two datasets — the semantic
    decontamination / dedup-vs-reference shape: which corpus rows are
    near-duplicates of a reference (eval/benchmark) set?  Same
    LSH-bucketed candidate generation as :func:`similar_pairs`, but
    the join is corpus ⋈ reference on the shared signature (never a
    self-join, never all-pairs): each side hashes once with the SAME
    seeded hyperplanes, candidates collide only within buckets, and
    the exact cosine filters.  The reference side is typically small
    (an eval suite) — Catalyst broadcasts it under the threshold, so
    the corpus never shuffles.  Returns ``(corpus_id, reference_id,
    cosine_sim)``; anti-join the distinct ``corpus_id`` set to
    quarantine."""
    dim = _dim_of(corpus, vec_col)
    sig = lsh_signature(vec_col, dim, n_planes, seed)
    c = corpus.select(F.col(id_col).alias("corpus_id"),
                      F.col(vec_col).alias("__cv"),
                      sig.alias("__sig"))
    r = reference.select(F.col(id_col).alias("reference_id"),
                         F.col(vec_col).alias("__rv"),
                         sig.alias("__sig"))
    ce = F.transform(F.col("__cv"), lambda x: x.cast("double"))
    re_ = F.transform(F.col("__rv"), lambda x: x.cast("double"))
    return (c.join(r, "__sig")
            .select("corpus_id", "reference_id",
                    F.round(cosine(ce, re_), 6).alias("cosine_sim"))
            .filter(F.col("cosine_sim") >= threshold))


def semantic_keep_one(df: DataFrame, threshold: float = 0.95,
                      vec_col: str = "embedding", id_col: str = "vec_id",
                      n_planes: int = 8, seed: int = 42) -> DataFrame:
    """Semantic dedup in the SemDeDup mold (Abbas et al., "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication", arXiv:2303.09540): embedding-cosine near-duplicates
    are clustered and each cluster keeps exactly one representative —
    the smallest id — so the output is the semantically-deduplicated
    corpus, not just the pair report.

    Pipeline (all bounded, no all-pairs anywhere):

    1. :func:`similar_pairs` — LSH-bucketed candidate generation +
       exact cosine ≥ ``threshold`` (quadratic only within buckets);
    2. min-label connected components over the pair graph
       (:func:`~..functions.dedup.duplicate_clusters` — one join + one
       aggregation per round, O(diameter) rounds);
    3. keep-one materialization — non-representatives leave via ONE
       anti-join; a left join against the per-cluster sizes annotates
       each survivor with ``n_members`` (1 = was unique).

    At 100 TB: the pair graph is orders of magnitude smaller than the
    corpus (only bucket-colliding high-cosine rows appear), so the CC
    rounds run on the small edge set while the corpus itself is touched
    exactly twice (anti-join + annotate), both equi-joins on ``id_col``.

    Returns ``(id_col, n_members)`` — the surviving rows and how many
    corpus rows each one now represents.
    """
    from cs186_query_optimization_project_spark.functions import dedup

    pairs = similar_pairs(df, threshold=threshold, vec_col=vec_col,
                          id_col=id_col, n_planes=n_planes, seed=seed)
    clusters = dedup.duplicate_clusters(pairs)  # (doc_id, cluster_id)
    sizes = (clusters.groupBy("cluster_id")
             .agg(F.count(F.lit(1)).alias("n_members")))
    losers = (clusters.filter(F.col("doc_id") != F.col("cluster_id"))
              .select(F.col("doc_id").alias(id_col)))
    reps = (clusters.filter(F.col("doc_id") == F.col("cluster_id"))
            .join(sizes, "cluster_id")
            .select(F.col("doc_id").alias(id_col), "n_members"))
    return (df.select(id_col)
            .join(losers, id_col, "left_anti")
            .join(reps, id_col, "left")
            .select(id_col,
                    F.coalesce("n_members", F.lit(1))
                    .cast("long").alias("n_members")))


def _dim_of(df: DataFrame, vec_col: str) -> int:
    row = df.select(F.size(vec_col).alias("d")).first()
    return int(row["d"])


# --------------------------------------------------------------------- #
# k-means clustering (Lloyd's algorithm, DataFrame-native)
# --------------------------------------------------------------------- #
def kmeans_init(dim: int, k: int, seed: int = 42) -> list[list[float]]:
    """Deterministic unit-norm initial centroids from the same
    splitmix64 stream as the LSH hyperplanes — reproducible everywhere,
    frozen-checksum-pinnable by oracles exactly like the planes."""
    planes = _hyperplanes(dim, k, seed)
    out = []
    for p in planes:
        n = math.sqrt(sum(x * x for x in p)) or 1.0
        out.append([x / n for x in p])
    return out


def _sq_dist(vec: Column, centroid) -> Column:
    """Σ (xᵢ-cᵢ)² as a sequential JVM fold (element order, so the
    double result is reproducible by any engine that folds in order).
    ``centroid`` is a Python list (built as one literal parse) or an
    array Column (e.g. a ``transform`` lambda variable over a literal
    centroid matrix) — both produce the identical fold."""
    c_arr = centroid if isinstance(centroid, Column) \
        else _lit_vec(centroid)
    return F.aggregate(
        F.zip_with(vec, c_arr, lambda x, c: (x - c) * (x - c)),
        F.lit(0.0), lambda acc, v: acc + v)


def kmeans_assign(df: DataFrame, centroids: list[list[float]],
                  vec_col: str = "embedding") -> DataFrame:
    """Append ``cluster`` (argmin of squared distance, ties → lowest
    cluster id) and ``dist`` (rounded).  Distances are rounded to 6
    decimals BEFORE the argmin so the assignment is stable under
    end-of-mantissa noise — the property that makes the whole
    clustering replayable bit-for-bit by an external oracle."""
    emb = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # transform over one literal centroid matrix (one SQL parse) — the
    # per-element fold is the same rounded _sq_dist, so distances and
    # the argmin assignment are bit-identical to the per-centroid form.
    dists = F.transform(_lit_mat(centroids),
                        lambda c: F.round(_sq_dist(emb, c), 6))
    return (df.withColumn("__d", dists)
            .withColumn("cluster",
                        (F.array_position(F.col("__d"),
                                          F.array_min("__d")) - 1)
                        .cast("int"))
            .withColumn("dist", F.element_at("__d", F.col("cluster") + 1))
            .drop("__d"))


def kmeans_update(assigned: DataFrame, centroids: list[list[float]],
                  vec_col: str = "embedding") -> list[list[float]]:
    """One Lloyd centroid update: per-cluster per-dimension mean.

    ``element_at`` projections aggregate JVM-side; only k × dim rounded
    doubles reach the driver (bounded scalar collect, same class as the
    IVF centroid pull).  Means are rounded to 6 decimals — that is the
    published precision of the new centroids, so any engine that
    computes the same means at double precision lands on the same
    rounded values (modulo a measure-zero half-ulp-at-the-6th-decimal
    boundary).  Empty clusters keep their previous centroid.
    """
    dim = len(centroids[0])
    emb = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    rows = (assigned
            .select("cluster", emb.alias("__e"))
            .groupBy("cluster")
            .agg(*[F.round(F.avg(F.element_at("__e", d + 1)), 6)
                   .alias(f"c{d}") for d in range(dim)])
            .collect())
    new = [list(c) for c in centroids]
    for r in rows:
        new[r["cluster"]] = [float(r[f"c{d}"]) for d in range(dim)]
    return new


def kmeans(df: DataFrame, vec_col: str = "embedding", k: int = 8,
           n_iter: int = 1, seed: int = 42) -> tuple[DataFrame,
                                                     list[list[float]]]:
    """Lloyd's k-means over an embedding column, every step a DataFrame
    op: assignment is a generated JVM projection (k fused squared
    distances per row, no Python, no shuffle); the update is one
    partial-aggregated groupBy per iteration shuffling k × dim doubles.

    Returns ``(assignments, final_centroids)`` — assignments carry
    ``cluster`` and ``dist``.  Iterations are synchronous barriers by
    nature (each update needs all assignments), so the driver loop is
    the honest orchestration, n_iter small by design.  At 100 TB each
    iteration is one scan + one tiny shuffle — the standard distributed
    k-means cost."""
    dim = _dim_of(df, vec_col)
    centroids = kmeans_init(dim, k, seed)
    for _ in range(n_iter):
        centroids = kmeans_update(kmeans_assign(df, centroids, vec_col),
                                  centroids, vec_col)
    return kmeans_assign(df, centroids, vec_col), centroids


def kmeans_summary(df: DataFrame, vec_col: str = "embedding", k: int = 8,
                   n_iter: int = 1, seed: int = 42) -> DataFrame:
    """Per-cluster rollup of :func:`kmeans`: size and mean distance —
    the compact fit report (k rows)."""
    assigned, _ = kmeans(df, vec_col, k, n_iter, seed)
    return (assigned.groupBy("cluster")
            .agg(F.count(F.lit(1)).cast("long").alias("n_members"),
                 F.round(F.avg("dist"), 4).alias("mean_sq_dist"))
            .orderBy("cluster"))


# --------------------------------------------------------------------- #
# embedding quantization — the storage/compute scale path for retrieval
# --------------------------------------------------------------------- #
def sq8_quantize(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Row-wise max-abs int8 scalar quantization (FAISS ``SQ8`` /
    LLM-style per-row absmax): ``scale = max|xᵢ|/127``, ``codeᵢ =
    ⌊xᵢ/scale + ½⌋`` — 4× smaller than fp32 with near-lossless
    ranking.  Appends ``codes array<int>`` and ``scale double``.

    Every step is a generated JVM projection over doubles in element
    order, and the rounding is ``floor(x+0.5)`` (half-toward-+inf), so
    the codes are integer-exact reproducible by any IEEE-double engine
    — the property the DuckDB oracle relies on.  The scale floor
    (1e-30) makes the all-zero vector quantize to all-zero codes
    instead of dividing by zero."""
    emb = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = (F.greatest(F.array_max(F.transform(emb, F.abs)),
                        F.lit(1e-30)) / F.lit(127.0))
    return (df.withColumn("scale", scale)
            .withColumn("codes",
                        F.transform(emb,
                                    lambda x: F.floor(
                                        x / F.col("scale") + F.lit(0.5))
                                    .cast("int"))))


def sq8_topk(df: DataFrame, query_vec: list[float], k: int = 10,
             vec_col: str = "embedding", id_col: str = "vec_id",
             where: str | Column | None = None) -> DataFrame:
    """Top-k by cosine over the DEQUANTIZED int8 vectors — the accuracy
    side of the 4× compression trade, same deterministic contract as
    :func:`cosine_topk` (rounded to 6 decimals, id tie-break).

    This path quantizes IN-QUERY from the fp32 column (it measures the
    ranking fidelity of the codes, and the codes are integer-exact
    reproducible so an external engine verifies them).  The
    stored-codes deployment — where scans actually read ¼ the bytes
    and fp32 stays cold — is the materialized-index path:
    :func:`build_ivfpq_index` persists codes and never ships fp32.

    ``where`` is FILTERED vector search, same contract as
    :func:`ivf_probe`: the predicate applies BEFORE quantization and
    ranking (it prunes the scan — Catalyst pushes it into the source
    read), so all k results satisfy it."""
    if where is not None:
        df = df.filter(F.expr(where) if isinstance(where, str)
                       else where)
    q = _lit_vec(query_vec)
    quant = sq8_quantize(df, vec_col)
    deq = F.transform(F.col("codes"),
                      lambda c: c.cast("double") * F.col("scale"))
    return (quant
            .select(F.col(id_col),
                    F.round(cosine(deq, q), 6).alias("q_cosine"))
            .orderBy(F.col("q_cosine").desc(), F.col(id_col).asc())
            .limit(k))


# --------------------------------------------------------------------- #
# product quantization (Jégou/Douze/Schmid, TPAMI 2011) — PQ codes +
# asymmetric-distance (ADC) retrieval, the 10–100× compression path
# --------------------------------------------------------------------- #
def pq_train(df: DataFrame, vec_col: str = "embedding", m: int = 8,
             k: int = 16, n_iter: int = 2, seed: int = 42,
             ) -> list[list[list[float]]]:
    """Train one k-codeword codebook per subspace: the vector splits
    into ``m`` contiguous sub-vectors and each subspace runs the same
    distributed Lloyd loop as :func:`kmeans` (JVM assignment, one
    k×(dim/m) bounded collect per iteration).  m·n_iter scans total —
    training is a driver loop by nature; at scale it runs on a sample.

    All m subspaces train TOGETHER: each iteration is ONE job — a fused
    m×k-distance assignment projection, an explode to (subspace,
    cluster, sub-vector) rows, and a single partial-aggregated groupBy
    whose collect is m·k rows of dim/m rounded doubles (bounded).
    n_iter jobs total instead of m·n_iter; the sliced projection is
    localCheckpointed once so iterations never re-read the source.

    Returns ``codebooks[m][k][dim//m]`` (rounded to 6 decimals, the
    same published precision as :func:`kmeans_update`; assignment uses
    the same round-before-argmin contract as :func:`kmeans_assign`,
    and empty clusters keep their previous codeword)."""
    dim = _dim_of(df, vec_col)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    emb = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # a small parquet source arrives as ONE partition; the per-row
    # m·k-distance assignment is compute-heavy, so spread it first.
    # Checkpoint only when a second iteration will re-read the
    # projection — for n_iter=1 the materialization job buys nothing.
    subs = ensure_parallelism(
        df.select(*[F.slice(emb, j * sub + 1, sub).alias(f"__s{j}")
                    for j in range(m)]))
    if n_iter > 1:
        subs = subs.localCheckpoint()
    books = [kmeans_init(sub, k, seed + j) for j in range(m)]

    for _ in range(n_iter):
        assigned = subs.select(F.explode(F.array(*[
            F.struct(F.lit(j).alias("j"),
                     _argmin_code(f"`__s{j}`", books[j])
                     .alias("cluster"),
                     F.col(f"__s{j}").alias("v"))
            for j in range(m)])).alias("a")).select("a.*")
        rows = (assigned.groupBy("j", "cluster")
                .agg(*[F.round(F.avg(F.element_at("v", d + 1)), 6)
                       .alias(f"c{d}") for d in range(sub)])
                .collect())
        new = [[list(c) for c in book] for book in books]
        for r in rows:
            new[r["j"]][r["cluster"]] = [float(r[f"c{d}"])
                                         for d in range(sub)]
        books = new
    return books


def _sql_mat(mat: list[list[float]]) -> str:
    """SQL text of a literal ``array<array<double>>`` (finite values
    only — callers check)."""
    return ("array(" + ",".join(
        "array(" + ",".join(repr(float(v)) + "D" for v in row) + ")"
        for row in mat) + ")")


def _argmin_code(sv, book: list[list[float]]) -> Column:
    """Index of the nearest codeword: distances computed by ONE
    ``transform`` lambda looping data-side over the literal codebook
    matrix — the expression tree stays constant-size in k, so Catalyst
    analysis cost doesn't grow with the codebook (the unrolled
    ``F.array(*[_sq_dist...])`` form made plan compilation, not
    execution, the bottleneck).  Same round-before-argmin /
    lowest-id-tie-break contract as :func:`kmeans_assign`.

    ``sv`` may be a Column or a SQL fragment string.  The string form
    renders the ENTIRE argmin as one ``F.expr`` parse — the m×n_iter
    per-subspace constructions in pq_train/pq_encode otherwise spend
    ~50 ms each building the lambda chain through the Python/JVM
    gateway; the parsed tree is the same operators with the same
    literals, so codes are bit-identical (pinned in tests)."""
    if isinstance(sv, str):
        if all(row and all(math.isfinite(float(v)) for v in row)
               for row in book):
            d = (f"transform({_sql_mat(book)}, c -> round(aggregate("
                 f"zip_with({sv}, c, (x, y) -> (x - y) * (x - y)), "
                 f"0.0D, (acc, v) -> acc + v), 6))")
            return F.expr(
                f"cast((array_position({d}, array_min({d})) - 1) "
                f"as int)")
        sv = F.expr(sv)
    mat = _lit_mat(book)
    dists = F.transform(mat, lambda c: F.round(
        F.aggregate(F.zip_with(sv, c, lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0), lambda acc, v: acc + v), 6))
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def pq_encode(df: DataFrame, codebooks: list[list[list[float]]],
              vec_col: str = "embedding") -> DataFrame:
    """Append ``pq_codes array<int>`` — per subspace, the argmin
    codeword (rounded distances, lowest-id tie-break: the
    :func:`kmeans_assign` contract).  One projection of m data-side
    codebook loops per row; no shuffle, no Python.
    m log₂k bits replace dim·32 — at m=8, k=16 a 64-dim fp32 vector
    compresses 64×(code arithmetic; 32× stored as int8 codes)."""
    sub = len(codebooks[0][0])
    quoted = "`" + vec_col.replace("`", "``") + "`"
    emb_sql = f"transform({quoted}, x -> cast(x as double))"
    codes = [
        _argmin_code(f"slice({emb_sql}, {j * sub + 1}, {sub})", book)
        for j, book in enumerate(codebooks)]
    return df.withColumn("pq_codes", F.array(*codes))


def pq_topk(df: DataFrame, codebooks: list[list[list[float]]],
            query_vec: list[float], k: int = 10,
            vec_col: str = "embedding", id_col: str = "vec_id",
            n_candidates: int | None = None,
            precoded: bool = False) -> DataFrame:
    """ADC retrieval: the query builds an m×k lookup table of partial
    dot products against every codeword (driver-side, tiny), each
    encoded row scores as m table lookups — never touching the fp32
    vector — and only the ``n_candidates`` best (default 4k) are
    re-ranked by exact cosine.  At 100 TB the candidate scan reads
    m ints per row instead of dim floats, and the exact re-rank reads
    only 4k full vectors.

    ``precoded=True`` declares that ``df`` already carries the
    ``pq_codes`` column for these codebooks (e.g. a checkpointed
    :func:`pq_encode` a caller also aggregates over) — the encode
    projection is then not re-executed; scores are identical because
    they are pure lookups over the same codes."""
    n_candidates = n_candidates or 4 * k
    df = ensure_parallelism(df, id_col)
    sub = len(codebooks[0][0])
    luts = [
        [sum(q * c for q, c in zip(query_vec[j * sub:(j + 1) * sub],
                                   book[i]))
         for i in range(len(book))]
        for j, book in enumerate(codebooks)]
    encoded = df if precoded else pq_encode(df, codebooks, vec_col)
    score = None
    for j, lut in enumerate(luts):
        term = F.element_at(_lit_vec(lut),
                            F.element_at("pq_codes", j + 1) + 1)
        score = term if score is None else score + term
    cand = (encoded
            .select(id_col, vec_col, F.round(score, 6).alias("__adc"))
            .orderBy(F.col("__adc").desc(), F.col(id_col).asc())
            .limit(n_candidates))
    q = _lit_vec(query_vec)
    emb = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return (cand
            .select(F.col(id_col),
                    F.round(cosine(emb, q), 6).alias("cosine_sim"))
            .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
            .limit(k))


# --------------------------------------------------------------------- #
# IVF-PQ — coarse routing + residual PQ codes, the billion-vector shape
# --------------------------------------------------------------------- #
def build_ivfpq_index(df: DataFrame, path: str, vec_col: str = "embedding",
                      id_col: str = "vec_id", n_cells: int = 16,
                      m: int = 8, k: int = 16, n_iter: int = 1,
                      refine_iters: int = 2, seed: int = 42,
                      files_per_bucket: int = 4,
                      fingerprint: str = "") -> AnnIndex:
    """Materialize an IVF-PQ index (the FAISS ``IVFPQ`` layout): rows
    route to their nearest coarse centroid (``cell`` partition column)
    and store ONLY ``(id, pq_codes)`` — PQ trained on the RESIDUAL
    ``x − centroid(cell)``, which quantizes the small within-cell
    displacement instead of the full vector (Jégou TPAMI'11 §IV).
    The fp32 corpus never enters the index: at 100 TB the index is
    ~m bytes/row, probes prune to n_probe/n_cells of it, and only the
    final candidates' source rows are re-read for the exact re-rank.
    Centroids + codebooks live in the index header, the ``meta`` of
    the code table's manifest.

    The code table is hosted in a :class:`PartitionedTable` keyed on
    ``cell``, so the maintenance lifecycle inherits the manifest
    commit protocol: :func:`ivfpq_append` is a versioned ``insert``
    (new directories only), :func:`ivfpq_remove` is a versioned
    ``overwrite_partitions`` (survivors stage to FRESH directories and
    a single atomic manifest swap publishes them), a reader pinned to
    version N sees a consistent index while N+1 commits, a crash
    mid-maintenance leaves the last published version intact, and
    time travel / vacuum come for free — no bare-parquet mutation
    anywhere in the lifecycle.  A REBUILD over an existing index is
    likewise one versioned ``overwrite_partitions`` commit whose
    manifest carries the retrained header (see ``_write_index``), so
    every version pairs its codes with the header that decodes them.

    Unlike the plain IVF index (whose md5-pick centroids stay
    SQL-replayable for its oracle), the coarse centroids here REFINE
    through ``refine_iters`` Lloyd iterations — residual quantization
    only pays off when residuals are small, i.e. when centroids are
    actual cell means, not random corpus vectors (measured: recall@10
    0.4→0.9 at the largest test SF).  Each iteration is one scan with
    an n_cells×dim bounded collect."""
    cents = ivf_centroids(df, n_cells, vec_col, id_col)
    # refine with the SAME metric the router uses (ivf_cell's cosine
    # argmax), so each centroid really is the mean of the members that
    # will be routed to it — refining under L2 while routing by cosine
    # takes residuals off centroids optimized for a different
    # membership
    for _ in range(refine_iters):
        assigned = df.select(
            ivf_cell(vec_col, cents).alias("cluster"),
            F.transform(F.col(vec_col),
                        lambda x: x.cast("double")).alias("__v"))
        cents = kmeans_update(assigned, cents, "__v")
    emb = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    cmat = _lit_mat(cents)
    resid = F.zip_with(emb,
                       F.element_at(cmat,
                                    (F.col("cell") + 1).cast("int")),
                       lambda x, c: x - c)
    base = (df.withColumn("cell", ivf_cell(vec_col, cents))
            .withColumn("__res", resid))
    books = pq_train(base, "__res", m, k, n_iter, seed)
    coded = pq_encode(base, books, "__res").select(id_col, "cell",
                                                   "pq_codes")
    return _write_index(
        coded, AnnIndex("ivfpq", path, len(cents[0]),
                        {"centroids": cents, "codebooks": books},
                        fingerprint),
        "cell", len(cents), id_col, files_per_bucket)


def ivfpq_append(index: AnnIndex, new_df: DataFrame,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 files_per_bucket: int = 4) -> int:
    """Incremental index maintenance — FAISS ``add()`` with a FROZEN
    header: new vectors route to their nearest EXISTING coarse
    centroid, encode against the EXISTING residual codebooks, and
    APPEND as new parquet files under the same ``cell`` partitions.
    No existing index byte is rewritten, no retrain, cost is
    O(|new rows|) — the maintenance shape that lets a 100 TB corpus's
    daily arrivals index in arrival time.  Because the header is
    frozen, encoding is deterministic: an incremental append equals a
    batch re-encode of the same rows bit-for-bit (pinned in tests).
    Quantization error grows only if the data DISTRIBUTION drifts
    from what the codebooks were trained on — rebuild to retrain (the
    standard IVF-PQ maintenance contract; FAISS documents the same).
    The append is a versioned :meth:`PartitionedTable.insert` commit
    carrying the handle's header: new code files land in NEW
    directories, the manifest swap is atomic, and a concurrent prober
    keeps reading the prior version.  Returns the number of rows
    appended.

    Staleness-guarded (:func:`_guard_fresh_ann_handle`): a handle a
    rebuild committed past raises ValueError instead of inserting
    codes encoded against the superseded header, and a rebuild that
    commits after the check makes the append raise
    ConflictException."""
    version = _guard_fresh_ann_handle(index)
    cents = index.params["centroids"]
    books = index.params["codebooks"]
    emb = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    cmat = _lit_mat(cents)
    resid = F.zip_with(emb,
                       F.element_at(cmat,
                                    (F.col("cell") + 1).cast("int")),
                       lambda x, c: x - c)
    base = (new_df.withColumn("cell", ivf_cell(vec_col, cents))
            .withColumn("__res", resid))
    coded = pq_encode(base, books, "__res").select(id_col, "cell",
                                                   "pq_codes")
    n = coded.count()
    if n:
        pt = PartitionedTable(new_df.sparkSession, index.path)
        with deferred_commits(base={pt.root: version}) as staged:
            pt.insert(_bucket_partitioned(coded, "cell", id_col,
                                          files_per_bucket))
        _publish(staged, index)
    return n


def ivfpq_remove(spark: SparkSession, index: AnnIndex,
                 ids_df: DataFrame, id_col: str = "vec_id",
                 files_per_bucket: int = 4) -> int:
    """Targeted deletion from the materialized index — the other half
    of the maintenance lifecycle (:func:`ivfpq_append` adds): the
    cells OWNING the doomed ids are found with one broadcast semi-join
    over the code table (m-byte rows, id+cell columns only), and ONLY
    those cell partitions rewrite (anti-join survivors through one
    :meth:`PartitionedTable.overwrite_partitions` commit); every
    untouched cell's files are left byte-identical.  Cost tracks
    |touched cells|' code rows — at 1000 cells a deletion hitting 3
    cells rewrites 0.3% of an index that is already ~m bytes/row.
    Codes never re-encode (the header is frozen), so survivors are
    bit-identical.  The commit protocol closes the two hazards of the
    former bare-parquet layout: survivors stage to FRESH directories
    (no read-while-overwrite torn index — no localCheckpoint needed),
    a cell emptied to zero rows simply drops from the new manifest (no
    post-hoc rmtree to crash between), and a crash anywhere before the
    atomic manifest swap leaves the prior version fully readable.
    Returns the number of code rows removed.

    Staleness-guarded, same as append: a rebuild re-partitions the
    code table under retrained centroids, so a handle it committed
    past raises ValueError, and a rebuild committing after the check
    makes the remove raise ConflictException.  The remove reads the
    version the guard checked."""
    version = _guard_fresh_ann_handle(index)
    pt = PartitionedTable(spark, index.path)
    ids = ids_df.select(F.col(id_col)).distinct()
    # ONE pass finds the owning cells AND the per-cell doomed counts
    owned = (pt.read(version=version).join(F.broadcast(ids), id_col)
             .groupBy("cell").count().collect())
    touched = [r["cell"] for r in owned]
    doomed = sum(r["count"] for r in owned)
    if not touched:
        return 0
    survivors = (pt.read(version=version, partition_values=touched)
                 .join(F.broadcast(ids), id_col, "left_anti")
                 .select(id_col, "cell", "pq_codes"))
    with deferred_commits(base={pt.root: version}) as staged:
        pt.overwrite_partitions(
            _bucket_partitioned(survivors, "cell", id_col,
                                files_per_bucket),
            touched)
    _publish(staged, index)
    return doomed


def ivfpq_codes(spark: SparkSession, index: AnnIndex,
                version: int | None = None) -> DataFrame:
    """The index's code table ``(id, cell, pq_codes)`` at a version
    (default: newest) — the read surface callers use instead of
    touching the storage layout directly."""
    return PartitionedTable(spark, index.path).read(version=version)


def ivfpq_probe(spark: SparkSession, index: AnnIndex,
                query_vec: list[float], k: int = 10, n_probe: int = 4,
                n_candidates: int | None = None, id_col: str = "vec_id",
                version: int | None = None,
                eligible: DataFrame | None = None) -> DataFrame:
    """ADC candidate generation over the pruned cells: approximate
    ⟨q,x⟩ = ⟨q,centroid(cell)⟩ + Σⱼ LUT[j][codeⱼ] — one per-cell scalar
    plus m lookups per row, never a float vector.  Unprobed cells are
    pruned at the MANIFEST (their directories are never even listed —
    stronger than a partition filter over a file listing); ``version``
    pins the code-table version (manifest time travel), so a
    long-running caller keeps one consistent index across concurrent
    append/remove commits.  ``eligible`` (an ``id_col``-column
    DataFrame) restricts candidates to those ids BEFORE the rank-limit
    — the filtered-search hook: PQ codes carry no attributes, so a
    metadata predicate semi-joins the probed cells against the
    source's id projection; applying it after the limit instead would
    under-return whenever the filter is selective.  Returns
    ``(id, adc_score)``; re-rank with :func:`ivfpq_topk`."""
    n_candidates = n_candidates or 8 * k
    cents = index.params["centroids"]
    books = index.params["codebooks"]
    sub = len(books[0][0])
    probe = _nearest_cells(cents, query_vec, n_probe)
    qdotc = [sum(q * c for q, c in zip(query_vec, cent))
             for cent in cents]
    luts = [
        [sum(q * cw for q, cw in zip(query_vec[j * sub:(j + 1) * sub],
                                     books[j][i]))
         for i in range(len(books[j]))]
        for j in range(len(books))]
    rows = PartitionedTable(spark, index.path).read(
        version=version, partition_values=probe)
    if eligible is not None:
        rows = rows.join(eligible.select(id_col), id_col, "left_semi")
    score = F.element_at(_lit_vec(qdotc), F.col("cell").cast("int") + 1)
    for j, lut in enumerate(luts):
        score = score + F.element_at(_lit_vec(lut),
                                     F.element_at("pq_codes", j + 1) + 1)
    return (rows.select(id_col, F.round(score, 6).alias("adc_score"))
            .orderBy(F.col("adc_score").desc(), F.col(id_col).asc())
            .limit(n_candidates))


def ivfpq_probe_batch(spark: SparkSession, index: AnnIndex,
                      queries: list[tuple[int, list[float]]],
                      k: int = 10, n_probe: int = 4,
                      n_candidates: int | None = None,
                      id_col: str = "vec_id",
                      version: int | None = None) -> DataFrame:
    """ADC candidate generation for a BATCH of queries in ONE index
    read — the indexed counterpart of :func:`cosine_topk_batch`.  Each
    query's (probed cells, ⟨q,centroid⟩ scalars, m×k lookup table)
    compute driver-side and ride as a broadcast plan table; the code
    table is read ONCE, manifest-pruned to the UNION of all queries'
    probed cells, and each code row broadcast-joins to exactly the
    queries probing its cell.  One rank window per query id takes the
    candidates.  A per-query loop would read the probed cells
    |queries| times; at 100 TB the scan dominates, so batch probes
    amortize it to one pass.  ``version`` pins the code-table version
    exactly as in :func:`ivfpq_probe`, so a batch racing a concurrent
    append/remove commit scores against ONE consistent index (default:
    latest).  Per query, results are IDENTICAL to :func:`ivfpq_probe`
    (pinned in tests/entry)."""
    from pyspark.sql import Window

    n_candidates = n_candidates or 8 * k
    cents = index.params["centroids"]
    books = index.params["codebooks"]
    sub = len(books[0][0])
    m = len(books)
    plan = []
    for qid, vec in queries:
        luts = [
            [sum(q * cw for q, cw in zip(vec[j * sub:(j + 1) * sub],
                                         books[j][i]))
             for i in range(len(books[j]))]
            for j in range(m)]
        for cell in _nearest_cells(cents, vec, n_probe):
            qdotc = sum(q * c for q, c in zip(vec, cents[cell]))
            plan.append((int(qid), int(cell), float(qdotc),
                         [[float(x) for x in row] for row in luts]))
    plan_df = local_rows_df(
        spark, plan, "query_id bigint, cell bigint, __qdotc double, "
              "__luts array<array<double>>")
    cells = sorted({p[1] for p in plan})
    codes = PartitionedTable(spark, index.path).read(
        version=version, partition_values=cells)
    score = F.col("__qdotc")
    for j in range(m):
        score = score + F.element_at(
            F.element_at("__luts", j + 1),
            (F.element_at("pq_codes", j + 1) + 1).cast("int"))
    scored = (codes.join(F.broadcast(plan_df), "cell")
              .select("query_id", F.col(id_col),
                      F.round(score, 6).alias("adc_score")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_score").desc(), F.col(id_col).asc())
    return (scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= n_candidates).drop("__rn"))


def ivfpq_topk_batch(spark: SparkSession, index: AnnIndex,
                     source_df: DataFrame,
                     queries: list[tuple[int, list[float]]],
                     k: int = 10, n_probe: int = 4,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     n_candidates: int | None = None,
                     version: int | None = None) -> DataFrame:
    """Exact re-rank of the batch ADC candidates: the candidate
    (query_id, id) pairs broadcast into one semi-join against the fp32
    source — each finalist row is read once even when several queries
    share it — then each pair scores against ITS query's vector
    (a literal query table joined on query_id) and a rank window takes
    the per-query top-k.  ``version`` pins the code-table version for
    the whole batch (see :func:`ivfpq_probe`).  Per query, identical
    to :func:`ivfpq_topk`."""
    from pyspark.sql import Window

    cand = ivfpq_probe_batch(spark, index, queries, k, n_probe,
                             n_candidates, id_col, version=version)
    qdf = local_rows_df(
        spark,
        [(int(qid), [float(v) for v in vec]) for qid, vec in queries],
        "query_id bigint, __qv array<double>")
    emb = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    pairs = (source_df.select(F.col(id_col), emb.alias("__e"))
             .join(F.broadcast(cand.select("query_id", id_col)),
                   id_col)
             .join(F.broadcast(qdf), "query_id")
             .select("query_id", F.col(id_col),
                     F.round(cosine(F.col("__e"), F.col("__qv")), 6)
                     .alias("cosine_sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc())
    return (pairs.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k).drop("__rn"))


def ivfpq_topk(spark: SparkSession, index: AnnIndex, source_df: DataFrame,
               query_vec: list[float], k: int = 10, n_probe: int = 4,
               vec_col: str = "embedding", id_col: str = "vec_id",
               n_candidates: int | None = None,
               version: int | None = None,
               where: str | Column | None = None) -> DataFrame:
    """Exact re-rank of the ADC candidates: the candidate id set (≤ 8k
    rows) BROADCASTS into a semi-join against the fp32 source — a
    point-lookup read of just the finalists, the only moment full
    vectors are touched.  ``version`` pins the code-table version
    (see :func:`ivfpq_probe`).

    ``where`` (SQL string or Column over ``source_df``'s columns) is
    filtered vector search on the QUANTIZED path: the predicate
    evaluates on a narrow (id + predicate columns) projection of the
    source — vectors stay untouched — and the eligible ids semi-join
    the probed cells BEFORE the ADC rank-limit, so all k results
    satisfy the filter (``ivf_probe``'s `where` contract carried to
    the PQ index)."""
    eligible = None
    if where is not None:
        eligible = source_df.filter(
            F.expr(where) if isinstance(where, str) else where) \
            .select(id_col)
    cand = ivfpq_probe(spark, index, query_vec, k, n_probe,
                       n_candidates, id_col, version=version,
                       eligible=eligible)
    q = _lit_vec(query_vec)
    emb = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return (source_df.join(F.broadcast(cand.select(id_col)), id_col)
            .select(F.col(id_col),
                    F.round(cosine(emb, q), 6).alias("cosine_sim"))
            .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
            .limit(k))
