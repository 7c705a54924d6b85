"""Structured-Streaming SOURCE over partitioned manifest tables.

``PartitionedTable`` (partitioned.py) already has an exactly-once
streaming SINK; this is the other direction — Spark 4's Python Data
Source API (``pyspark.sql.datasource``) turned into a Delta-style
table stream: offsets are manifest versions, each micro-batch carries
the rows APPENDED between two versions, and the appended directories
are read in parallel on executors as Arrow record batches (one input
partition per directory — the same unit the manifests track).

Delta streaming-source semantics for non-append commits: a rewritten
partition or a new tombstone between offsets RAISES (the stream cannot
represent in-place changes as appends) unless ``ignoreChanges`` /
``ignoreDeletes`` is set, in which case rewritten directories are
skipped silently — exactly the contract Delta documents for its
``readStream`` options of the same names.  Consumers who need the full
delete/insert feed use ``PartitionedTable.changes`` /
``consume_changes`` instead.

Usage::

    from cs186_query_optimization_project_spark.sources.manifest_stream \\
        import ManifestStreamDataSource
    spark.dataSource.register(ManifestStreamDataSource)
    df = (spark.readStream.format("manifest_stream")
          .option("root", "/path/to/table").load())

The stream starts at the CURRENT version by default (only new commits
flow, Delta's default); ``option("startingVersion", "earliest")``
replays every retained version's appends first.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from cs186_query_optimization_project_spark.partitioned import (
    listed_versions,
    load_manifest,
)


class _DirPartition(InputPartition):
    def __init__(self, directory: str, columns: list[str]):
        self.directory = directory
        self.columns = columns


def _versions(root: str) -> list[int]:
    """The committed versions (a manifest of a multi-table commit that
    never committed is not part of the table's history)."""
    return [v for v in listed_versions(os.path.join(root, "_manifests"))
            if load_manifest(root, v) is not None]


class ManifestStreamReader(DataSourceStreamReader):
    def __init__(self, root: str, schema_cols: list[str],
                 starting: str, ignore_changes: bool,
                 ignore_deletes: bool):
        self.root = root
        self.schema_cols = schema_cols
        self.starting = starting
        self.ignore_changes = ignore_changes
        self.ignore_deletes = ignore_deletes

    def initialOffset(self) -> dict:
        vs = _versions(self.root)
        if self.starting == "earliest":
            # snapshot "pending": the first planned batch emits version
            # vs[0]'s full directory set; every END offset is marked
            # done, so a later batch restarting from the same version
            # can never re-emit the snapshot
            return {"version": vs[0], "snapshot": "pending"}
        return {"version": vs[-1], "snapshot": "done"}

    def latestOffset(self) -> dict:
        return {"version": _versions(self.root)[-1],
                "snapshot": "done"}

    def partitions(self, start: dict, end: dict):
        """One InputPartition per directory APPENDED in
        (start, end] — planned manifest-to-manifest on the driver,
        nothing data-sized.  ``starting='earliest'`` additionally
        exposes the start version itself as the initial snapshot (its
        full directory set), matching Delta's startingVersion replay."""
        lo, hi = int(start["version"]), int(end["version"])
        retained = _versions(self.root)
        if lo not in retained:
            raise RuntimeError(
                f"manifest_stream: offset version {lo} is no longer "
                f"retained (vacuumed past the stream); retained: "
                f"{retained} — raise vacuum retention above the "
                f"stream's trigger interval")
        vs = [v for v in retained if lo <= v <= hi]
        added: list[str] = []
        if start.get("snapshot") == "pending":
            first = load_manifest(self.root, lo)
            for ds in first["parts"].values():
                added.extend(ds)
        prev = load_manifest(self.root, lo)
        for v in vs[1:]:
            cur = load_manifest(self.root, v)
            old_tombs = prev.get("tombstones", {})
            new_tombs = cur.get("tombstones", {})
            for key, new_ds in cur["parts"].items():
                old_ds = prev["parts"].get(key, [])
                if new_ds[:len(old_ds)] == old_ds:
                    added.extend(new_ds[len(old_ds):])
                    for d in old_ds:
                        if new_tombs.get(d, []) != old_tombs.get(d, []):
                            if not self.ignore_deletes \
                                    and not self.ignore_changes:
                                raise RuntimeError(
                                    f"manifest_stream: version {v} "
                                    f"soft-deleted rows in partition "
                                    f"{key}; an append stream cannot "
                                    f"represent deletes — set "
                                    f"ignoreDeletes, or consume "
                                    f"PartitionedTable.changes()")
                elif not new_ds:
                    # dir-list collapsed to empty = the whole
                    # partition's rows died — a partition-boundary
                    # DELETE, which Delta admits under ignoreDeletes
                    # (ignoreChanges also covers it, being stronger)
                    if not (self.ignore_deletes or self.ignore_changes):
                        raise RuntimeError(
                            f"manifest_stream: version {v} deleted "
                            f"every row of partition {key}; an append "
                            f"stream cannot represent deletes — set "
                            f"ignoreDeletes, or consume "
                            f"PartitionedTable.changes()")
                elif self.ignore_changes:
                    continue
                else:
                    raise RuntimeError(
                        f"manifest_stream: version {v} rewrote "
                        f"partition {key}; an append stream cannot "
                        f"represent in-place changes — set "
                        f"ignoreChanges, or consume "
                        f"PartitionedTable.changes()")
            for key, old_ds in prev["parts"].items():
                # a key DROPPED from the manifest (overwrite_partitions
                # removing an emptied partition) is the same
                # partition-boundary delete as the empty-list case
                if key not in cur["parts"] and old_ds:
                    if not (self.ignore_deletes or self.ignore_changes):
                        raise RuntimeError(
                            f"manifest_stream: version {v} dropped "
                            f"partition {key}; an append stream cannot "
                            f"represent deletes — set ignoreDeletes, "
                            f"or consume PartitionedTable.changes()")
            prev = cur
        return [_DirPartition(d, self.schema_cols) for d in added]

    def read(self, partition: _DirPartition):
        """Executor-side: the directory's parquet as Arrow record
        batches — vectorized end to end, no per-row Python."""
        import pyarrow.dataset as pa_ds

        dataset = pa_ds.dataset(partition.directory, format="parquet")
        for batch in dataset.to_table(columns=partition.columns) \
                            .to_batches():
            yield batch

    def commit(self, end: dict) -> None:
        pass  # offsets are durable via the stream's own checkpoint


class ManifestStreamDataSource(DataSource):
    """``spark.readStream.format("manifest_stream")`` — see module
    docstring.  Options: ``root`` (required), ``startingVersion``
    ('latest' default | 'earliest'), ``ignoreChanges``,
    ``ignoreDeletes``."""

    @classmethod
    def name(cls) -> str:
        return "manifest_stream"

    def schema(self) -> str:
        opts = {k.lower(): v for k, v in dict(self.options).items()}
        root = opts.get("root")
        if not root:
            raise ValueError("manifest_stream requires option 'root'")
        return load_manifest(root, _versions(root)[-1])["schema"]

    def streamReader(self, schema) -> ManifestStreamReader:
        opts = {k.lower(): v for k, v in dict(self.options).items()}
        return ManifestStreamReader(
            root=opts["root"],
            schema_cols=[f.name for f in schema.fields],
            starting=opts.get("startingversion", "latest"),
            ignore_changes=opts.get("ignorechanges",
                                    "false").lower() == "true",
            ignore_deletes=opts.get("ignoredeletes",
                                    "false").lower() == "true",
        )
