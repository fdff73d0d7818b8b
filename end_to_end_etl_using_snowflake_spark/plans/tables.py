"""Load the driver's TPC-H-ish Parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under the sf dir.

Scans stay declarative (``spark.read.parquet``) so Catalyst gets filter
pushdown + column pruning for free; at 100 TB these would be
partitioned/bucketed external tables, but the call sites are identical.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TPCH_TABLES:
        raise KeyError(f"unknown table {name!r}")
    if name == "events":
        # set at runtime too: the driver builds its own session without
        # engine defaults, and TIMESTAMP(NANOS) is unreadable without it
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # normalize ts across testdata generations: TIMESTAMP(NANOS)
        # parquet arrives as long nanos (nanosAsLong) and is truncated
        # to micros with integer `div` (double division would lose
        # precision on e18 nanos); TIMESTAMP(MICROS) parquet arrives as
        # TIMESTAMP_NTZ and is kept as-is — both match DuckDB's naive
        # micro-second TIMESTAMP semantics.
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
            )
    return df


def _hidden(name: str) -> bool:
    # Spark's file-index visibility rule: ``.``-names and ``_``-names
    # (``_SUCCESS``, ``_temporary``, staging output) are not data,
    # except ``_col=value`` partition directories
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def parquet_files(path: str) -> list[str]:
    """The parquet files a Spark scan of ``path`` (one file, or a table
    directory tree) reads: hidden files and directories are skipped."""
    if os.path.isfile(path):
        return [path]
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        out += [
            os.path.join(root, f)
            for f in files
            if f.endswith(".parquet") and not _hidden(f)
        ]
    return out


# the key under which Spark stamps a file's row schema into its footer
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def parquet_footer_summary(path: str) -> tuple[int, list | None]:
    """Row count of the parquet file or table directory at ``path``
    and the Spark schema fields of its first footer that carries one
    (the row schema Spark stamps into every file it writes), from the
    FOOTERS only: O(files) driver-side metadata, no Spark job. The
    fields are None when there is no file or no footer carries a
    Spark schema.

    Feeds the changelog's per-version row counts and read schema
    (the stream_has_data gate and stream_read)."""
    import pyarrow.parquet as pq

    rows, fields = 0, None
    for f in parquet_files(path):
        md = pq.read_metadata(f)
        rows += md.num_rows
        if fields is None and SPARK_SCHEMA_KEY in (md.metadata or {}):
            fields = json.loads(md.metadata[SPARK_SCHEMA_KEY])["fields"]
    return rows, fields


def parquet_row_count(path: str) -> int:
    """Exact row count of the parquet file or table directory at
    ``path`` from its footers (:func:`parquet_footer_summary`) — the
    Snowflake COUNT(*)-from-micro-partition-metadata semantic. Equal
    to ``spark.read.parquet(path).count()``.

    Feeds the adaptive-LSH geometry derivation (d5l/d14/v16) and the
    audit's side counts.
    """
    return parquet_footer_summary(path)[0]


def is_undersplit(df: DataFrame) -> bool:
    """True when the scan of ``df`` has fewer partitions than the
    cluster's parallelism (few row groups / files): the downstream
    work would run on a handful of tasks. False on a well-split
    100 TB layout."""
    return df.rdd.getNumPartitions() < df.sparkSession.sparkContext.defaultParallelism


def rebalance_scan(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Rescue scan parallelism when the file layout undersplits.

    A parquet file with few row groups can't be split below row-group
    granularity, so a heavy-compute pipeline downstream of the scan
    (wide joins, many decimal aggregates) runs on a handful of tasks
    no matter how many cores exist. When the scan's partition count is
    below the cluster's parallelism, one round-robin exchange of the
    scanned rows buys full-width execution for everything after it —
    measured 1.8x on the flagship rebuild (3.3 s -> 1.9 s at sf0.1,
    single-row-group fixture).

    When the layout is already well-split (the 100 TB case: thousands
    of row groups / files), the condition is false and this is a
    no-op — the extra shuffle is NOT paid. Only use below compute-heavy
    pipelines; for cheap scans the exchange costs more than it buys
    (measured: +4 s total when applied to every load).
    """
    if is_undersplit(df):
        return df.repartition(spark.sparkContext.defaultParallelism)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (mirrors the DuckDB oracle's
    pre-registered views, so ``spark.sql`` text can be shared). Also
    enables Spark 4.1's native TIME type on the session — the TO_TIME
    family (f44) lowers onto it, and the driver runs builders on a
    BARE session where the flag is off by default — and registers the
    codec UDFs (COMPRESS family, f48)."""
    from ..functions.codecs import ensure_codec_udfs

    spark.conf.set("spark.sql.timeType.enabled", "true")
    ensure_codec_udfs(spark)
    for name in TPCH_TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
