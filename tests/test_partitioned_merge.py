"""Partition-pruned MERGE machinery (round 4): path-pruned reads,
clustered partitioned writes, and the partition-scoped commit path.

The end-to-end semantics (incremental mode converges to the rebuild
state over the reference fixtures) live in test_pipeline_replay; the
sf-scale convergence proof is pl_backfill_incremental's oracle. These
tests pin the storage-layer contracts those builds rely on.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from end_to_end_etl_using_snowflake_spark.plans.catalog import ManagedTable
from end_to_end_etl_using_snowflake_spark.plans.tables import parquet_files
from end_to_end_etl_using_snowflake_spark.streaming.changelog import Changelog


def _table(spark, tmp_path, name="t"):
    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("v", T.LongType()),
        ]
    )
    return ManagedTable(
        spark, str(tmp_path / name), schema, partition_by=("__m",)
    ), schema


def _with_m(df):
    return df.withColumn("__m", F.substring("k", 1, 1))


def test_read_partitions_opens_only_requested_dirs(spark, tmp_path):
    tbl, schema = _table(spark, tmp_path)
    data = spark.createDataFrame(
        [("a1", 1), ("a2", 2), ("b1", 3), ("c1", 4)], schema
    )
    tbl.overwrite(_with_m(data), changes=data)
    # logical read: partition key suppressed, all rows
    assert sorted(tbl.read().columns) == ["k", "v"]
    assert tbl.read().count() == 4
    # path-pruned read: only the listed partition dirs
    got = sorted(r.k for r in tbl.read_partitions(["a", "c"]).collect())
    assert got == ["a1", "a2", "c1"]
    # absent partition values are skipped, not an error
    assert tbl.read_partitions(["zzz"]).count() == 0
    assert tbl.read_partitions(["a", "zzz"]).count() == 2


def test_clustered_write_one_file_per_partition(spark, tmp_path):
    tbl, schema = _table(spark, tmp_path)
    rows = [(f"{p}{i}", i) for p in "abcd" for i in range(25)]
    df = spark.createDataFrame(rows, schema).repartition(16)  # scattered
    tbl.overwrite(_with_m(df), changes=df)
    # without the repartition-by-key inside the write, every upstream
    # task writes a file into every partition it holds rows for
    # (up to 16x4 files); clustered -> exactly one per partition
    for p in "abcd":
        pdir = os.path.join(tbl.storage.path, f"__m={p}")
        files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
        assert len(files) == 1, f"partition {p}: {files}"


def test_overwrite_partitions_touches_only_carried_partitions(spark, tmp_path):
    tbl, schema = _table(spark, tmp_path)
    base = spark.createDataFrame([("a1", 1), ("b1", 2), ("c1", 3)], schema)
    tbl.overwrite(_with_m(base), changes=base)
    # replace partition 'b' only; 'a' and 'c' files must be untouched
    mtimes_before = {
        p: os.path.getmtime(os.path.join(tbl.storage.path, f"__m={p}"))
        for p in "ac"
    }
    delta = spark.createDataFrame([("b1", 20), ("b2", 21)], schema)
    version = tbl.overwrite_partitions(_with_m(delta), changes=delta)
    assert version > 0  # changelog advanced (stream consumers see it)
    got = sorted((r.k, r.v) for r in tbl.read().collect())
    assert got == [("a1", 1), ("b1", 20), ("b2", 21), ("c1", 3)]
    for p, before in mtimes_before.items():
        after = os.path.getmtime(os.path.join(tbl.storage.path, f"__m={p}"))
        assert after == before, f"partition {p} was rewritten"


def test_overwrite_partitions_write_once_links_changelog(spark, tmp_path):
    """``changes=None``: the partitions are written once into a temp
    directory, the changelog version hardlinks those files (rows are
    the table columns; the partition key stays a directory name), and
    only the written partition directories are swapped in."""
    tbl, schema = _table(spark, tmp_path)
    base = spark.createDataFrame([("a1", 1), ("b1", 2), ("c1", 3)], schema)
    tbl.overwrite(_with_m(base))
    a_dir = os.path.join(tbl.storage.path, "__m=a")
    a_files = sorted(os.listdir(a_dir))
    delta = spark.createDataFrame([("b1", 20), ("b2", 21), ("d1", 5)], schema)
    version = tbl.overwrite_partitions(_with_m(delta))
    got = sorted((r.k, r.v) for r in tbl.read().collect())
    assert got == [("a1", 1), ("b1", 20), ("b2", 21), ("c1", 3), ("d1", 5)]
    assert sorted(os.listdir(a_dir)) == a_files  # untouched partition
    changes, _ = tbl.changelog.stream_read("probe")
    rows = changes.filter(F.col("_version") == version).drop("_version")
    assert rows.columns == ["k", "v", "_action"]
    assert sorted(tuple(r) for r in rows.collect()) == [
        ("b1", 20, "UPSERT"), ("b2", 21, "UPSERT"), ("d1", 5, "UPSERT")
    ]
    vdir = os.path.join(tbl.changelog.log_path, f"_version={version}")
    linked = {os.stat(f).st_ino for f in parquet_files(vdir)}
    table = {
        os.stat(f).st_ino
        for p in "bd"
        for f in parquet_files(os.path.join(tbl.storage.path, f"__m={p}"))
    }
    assert linked == table  # one write: the changelog shares the files
    leftovers = [d for d in os.listdir(tmp_path) if "__tmp_" in d or "__old_" in d]
    assert leftovers == []


def test_record_linked_partitioned_source_with_equal_part_names(spark, tmp_path):
    """A partitioned temp directory holds the same part-file name under
    several ``key=value`` directories; every file must land in the
    version under its own name (the old basename scheme survived one
    clash and raised FileExistsError on the second)."""
    schema = "k string, v long"
    src = tmp_path / "src"
    name = "part-00000-same.c000.snappy.parquet"
    for i, p in enumerate("abc"):
        out = tmp_path / f"w{p}"
        spark.createDataFrame([(f"{p}1", i), (f"{p}2", 10 + i)], schema).coalesce(1).write.parquet(
            str(out)
        )
        (part,) = [f for f in os.listdir(out) if f.endswith(".parquet")]
        (src / f"__m={p}").mkdir(parents=True)
        os.rename(out / part, src / f"__m={p}" / name)
    log = Changelog(spark, str(tmp_path / "t"))
    version = log.record_linked(str(src), "UPSERT")
    vdir = os.path.join(log.log_path, f"_version={version}", "_action=UPSERT")
    assert len(os.listdir(vdir)) == 3
    assert not [f for f in os.listdir(vdir) if f.startswith(("_", "."))]
    assert log._read_meta()["rows"][str(version)] == 6
    df, _ = log.stream_read("c")
    assert df.columns == ["k", "v", "_version", "_action"]
    assert sorted(r.k for r in df.collect()) == ["a1", "a2", "b1", "b2", "c1", "c2"]
