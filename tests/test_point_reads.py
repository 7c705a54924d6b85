"""Point lookups and view reads on the driver
(``PartitionedTable._read_if_small``): when the files a manifest
admits total at most ``partitioned.DRIVER_READ_MAX_BYTES``,
``Database.lookup``/``contains`` with a probe of the column's own type
and ``MaterializedView.read`` read them with pyarrow into one local
relation, and collecting it runs no Spark job.  Every other probe
keeps the Spark scan.  Every result must equal the Spark scan's."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as registry
from cs186_query_optimization_project_spark import Database, partitioned
from cs186_query_optimization_project_spark.mview import MaterializedView
from cs186_query_optimization_project_spark.partitioned import (
    PartitionedTable,
)
from tests.conftest import rows

SCHEMA = ("k bigint, i int, d double, s string, dec decimal(10,2), "
          "dt date, ts timestamp, tsn timestamp_ntz, b boolean, "
          "arr array<int>")


def _row(k: int) -> tuple:
    d = {10: float("nan"), 11: 0.0, 12: -0.0, 13: None}.get(k, k * 0.5)
    return (k, k * 3, d, f"s{k}", Decimal(k) + Decimal("0.25"),
            dt.date(2024, 1, 1) + dt.timedelta(days=k),
            dt.datetime(2024, 1, 1) + dt.timedelta(seconds=k),
            dt.datetime(2024, 1, 1) + dt.timedelta(minutes=k),
            None if k % 5 == 1 else True,
            [k % 4, k % 3])


@pytest.fixture()
def cat(spark, tmp_path):
    """A catalog over one key-sorted table of 60 rows written as three
    range-disjoint files in one directory."""
    df = (spark.createDataFrame([_row(k) for k in range(60)], SCHEMA)
          .repartitionByRange(3, F.col("k")))
    db = Database(spark)
    db.create_table("t", df, str(tmp_path / "t"), index_columns=("k",))
    return db


#: (column, a present value, an absent value) for every column type
PROBES = [
    ("k", 7, 10_000),
    ("i", 21, 22),
    ("d", 1.5, 2.25),
    ("s", "s7", "zzz"),
    ("dec", Decimal("7.25"), Decimal("7.5")),
    ("dt", dt.date(2024, 1, 8), dt.date(1999, 1, 1)),
    ("ts", dt.datetime(2024, 1, 1, 0, 0, 7), dt.datetime(2020, 1, 1)),
    ("tsn", dt.datetime(2024, 1, 1, 0, 7), dt.datetime(2020, 1, 1)),
    ("b", True, False),
    ("arr", [3, 1], [9, 9]),
]

#: columns whose probes above are of the column's own Python type, so
#: the lookup reads on the driver; the others keep the Spark scan
NATIVE = {"k", "i", "s", "dt", "b"}


def _local(df) -> bool:
    return not df.inputFiles()


def _same(db, name, col, value, local=True):
    got = db.lookup(name, col, value)
    assert local is None or _local(got) == local, (col, value)
    want = db.table(name).where(F.col(col) == F.lit(value))
    assert rows(got) == rows(want), (col, value)
    return rows(got)


def test_lookup_matches_scan_for_every_type(cat):
    for col, present, absent in PROBES:
        assert _same(cat, "t", col, present, col in NATIVE), col
        assert _same(cat, "t", col, absent, col in NATIVE) == [], col


def test_lookup_odd_probes_match_scan(cat, spark):
    # Spark folds `= NULL` to an empty relation: no scan either way
    assert _same(cat, "t", "k", None, local=None) == []
    assert _jobs(spark, lambda: cat.lookup("t", "k", None).collect()) \
        == (0, [])
    assert len(_same(cat, "t", "k", 5.0, False)) == 1   # mismatched
    # out of int range: Spark folds the comparison away as well
    assert _same(cat, "t", "i", 1 << 40, local=None) == []
    assert _same(cat, "t", "s", "") == []
    # Spark's NaN = NaN is true and 0.0 = -0.0 is true
    assert len(_same(cat, "t", "d", float("nan"), False)) == 1
    assert len(_same(cat, "t", "d", 0.0, False)) == 3
    assert len(_same(cat, "t", "d", -0.0, False)) == 3
    # timestamps read on the driver are instants, not the session
    # zone's wall time
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        assert _same(cat, "t", "k", 7)
        assert _same(cat, "t", "ts", dt.datetime(2024, 1, 1, 0, 0, 7),
                     False)
        _same(cat, "t", "tsn", dt.datetime(2024, 1, 1, 0, 7), False)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_lookup_after_soft_delete_on_one_directory(cat, spark):
    """The tombstone binds to the directories current at the soft
    delete; a later insert's directory keeps its re-inserted row."""
    root = cat._entry("t").path
    PartitionedTable(spark, root).delete_soft("k IN (7, 8)")
    cat.register_parquet("t", root)
    cat.insert_rows("t", spark.createDataFrame([_row(7)], SCHEMA))
    assert len(cat._entry("t").table._manifest()["parts"][""]) == 2
    assert len(_same(cat, "t", "k", 7)) == 1
    assert _same(cat, "t", "k", 8) == []
    assert len(_same(cat, "t", "s", "s7")) == 1
    assert len(_same(cat, "t", "b", True)) > 1
    assert _jobs(spark, lambda: cat.lookup("t", "k", 7).collect())[0] == 0


def test_lookup_after_schema_evolution(cat, spark):
    root = cat._entry("t").path
    wide = spark.createDataFrame(
        [(*_row(100), "new")], SCHEMA + ", extra string")
    PartitionedTable(spark, root).insert(wide, merge_schema=True)
    cat.register_parquet("t", root)
    assert rows(cat.lookup("t", "k", 7))[0][-1] is None
    assert len(_same(cat, "t", "extra", "new")) == 1
    assert _same(cat, "t", "extra", "old") == []
    assert len(_same(cat, "t", "k", 100)) == 1
    assert len(_same(cat, "t", "k", 7)) == 1


def test_lookup_reads_the_entrys_pinned_version(cat, spark):
    root = cat._entry("t").path
    other = Database(spark)
    other.register_parquet("t", root)
    other.delete_rows("t", F.col("k") == 7)
    other.insert_rows("t", spark.createDataFrame([_row(200)], SCHEMA))
    assert len(_same(cat, "t", "k", 7)) == 1         # cat's version
    assert _same(cat, "t", "k", 200) == []
    assert _same(other, "t", "k", 7) == []
    assert len(_same(other, "t", "k", 200)) == 1


def test_lookup_prunes_partition_and_bloom_columns(spark, tmp_path):
    df = spark.createDataFrame(
        [(k, f"p{k % 3}", f"u{k}") for k in range(30)],
        "k long, p string, u string")
    root = str(tmp_path / "pb")
    PartitionedTable.create(spark, df, root, "p", bloom_cols=["u"])
    db = Database(spark)
    db.register_partitioned("pb", root)
    for col, v in (("p", "p1"), ("p", "p9"), ("p", ""), ("u", "u4"),
                   ("u", "u99"), ("k", 4)):
        _same(db, "pb", col, v)


@pytest.fixture()
def view(spark, tmp_path):
    src = PartitionedTable.create(
        spark, spark.createDataFrame([_row(k) for k in range(60)],
                                     SCHEMA).withColumn("g", F.col("k") % 4),
        str(tmp_path / "src"), "g")
    mv = MaterializedView.create(
        spark, src, str(tmp_path / "mv"), keys=["b"], sum_cols=["d", "i"],
        distinct_cols=["s"], var_cols=["i"], n_buckets=3)
    src.insert(spark.createDataFrame([_row(k) for k in range(60, 70)],
                                     SCHEMA).withColumn("g", F.lit(9).cast("bigint")))
    mv.refresh()
    return mv


def test_mview_read_matches_spark_scan(view, monkeypatch):
    flags = [{}, {"with_avg": True}, {"with_distinct": True},
             {"with_stddev": True},
             {"with_avg": True, "with_distinct": True, "with_stddev": True}]
    local = [view.read(**f) for f in flags]
    assert all(_local(df) for df in local)
    monkeypatch.setattr(partitioned, "DRIVER_READ_MAX_BYTES", 1)
    for f, got in zip(flags, local):
        want = view.read(**f)
        assert not _local(want)
        assert got.columns == want.columns
        assert rows(got) == rows(want), f


def _jobs(spark, fn):
    before = registry._job_counter(spark)
    out = fn()
    return registry._job_counter(spark) - before, out


def test_point_reads_run_no_spark_job_under_threshold(cat, view, spark):
    for col, present, absent in PROBES:
        if col not in NATIVE:
            continue
        for v in (present, absent):
            n, got = _jobs(spark, lambda: cat.lookup("t", col, v).collect())
            assert n == 0, (col, v)
            n, hit = _jobs(spark, lambda: cat.contains("t", col, v))
            assert n == 0 and hit == bool(got), (col, v)
    n, got = _jobs(spark, lambda: view.read(with_avg=True).collect())
    assert n == 0 and got


def test_point_reads_fall_back_to_spark_scan_over_threshold(
        cat, view, spark, monkeypatch):
    probes = [(c, v) for c, v, _ in PROBES if c in NATIVE]
    small = {(c, repr(v)): rows(cat.lookup("t", c, v)) for c, v in probes}
    mv_small = rows(view.read())
    monkeypatch.setattr(partitioned, "DRIVER_READ_MAX_BYTES", 1)
    for c, v in probes:
        df = cat.lookup("t", c, v)
        assert df.inputFiles(), c
        assert rows(df) == small[(c, repr(v))], c
        assert cat.contains("t", c, v)
    assert view.read().inputFiles()
    assert rows(view.read()) == mv_small


def test_driver_reads_parse_the_manifest_once(cat, view, monkeypatch):
    from cs186_query_optimization_project_spark import metaio
    from tests.test_metaio import RecordingIO

    rec = RecordingIO()
    monkeypatch.setattr(metaio, "IO", rec)
    for read in (lambda: cat.lookup("t", "k", 7),
                 lambda: cat.contains("t", "s", "s9"),
                 lambda: view.read(with_avg=True)):
        rec.calls.clear()
        read()
        assert [m for m, p in rec.calls if "_manifests" in p
                and m != "is_dir"] == ["list_dir", "read_text"]
