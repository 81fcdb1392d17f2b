"""Bucketed (pre-shuffled) tables — co-located joins without exchanges.

At 100 TB the dominant cost of a repeated big-big equi-join is the
shuffle of both sides on every run. Hash-bucketing both tables on the
join key at WRITE time (``bucketBy(n, key)`` + ``sortBy(key)``) moves
that shuffle into the one-time layout job: every later join between
tables bucketed on the same key with the same bucket count compiles to
a SortMergeJoin with NO Exchange and NO Sort on either side — the scan
itself is the shuffle. This is the storage-level twin of the runtime
repartition the suite uses elsewhere, and the pattern the reference's
hashed storage layout serves (schematic readme: stable hashed layout
for repeated validation passes).

Plan contract (regression-tested in tests/test_plan_shape.py):

* bucketed ⋈ bucketed on the bucket key → 0 Exchange, 0 Sort
* the same join on plain parquet       → 2 Exchanges

Sizing at scale: pick ``n_buckets`` so one bucket of the LARGER table
fits an executor's memory slice (~128-256 MB of parquet per bucket);
bucket counts must match across tables you intend to co-join (use the
same constant per subject area, not per table).

Spark-native details: bucketed tables must go through ``saveAsTable``
(the bucket layout lives in catalog metadata; a bare parquet path
write silently drops it). ``path`` makes the table EXTERNAL so data
lands under the caller's directory, not the session warehouse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    name: str,
    key: str | list[str],
    n_buckets: int,
    *,
    path: str,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as an external parquet table hash-bucketed and
    sorted on ``key``. Joins/aggregations keyed on ``key``
    against tables with the SAME bucket count then run exchange-free.
    """
    keys = [key] if isinstance(key, str) else list(key)
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    spark = df.sparkSession
    if mode == "overwrite":
        # saveAsTable(overwrite) on an existing EXTERNAL table keeps the
        # old files on some path/catalog combinations — drop first so
        # layout metadata can never go stale vs the data
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        df.write.format("parquet")
        .mode(mode)
        .option("path", path)
        .bucketBy(n_buckets, *keys)
        .sortBy(*keys)
        .saveAsTable(name)
    )


def read_bucketed(spark: SparkSession, name: str) -> DataFrame:
    """Read a bucketed table THROUGH the catalog — ``spark.table`` is
    what carries the bucket metadata into the plan; reading the parquet
    path directly would silently lose co-location."""
    return spark.table(name)


def bucketed_join(
    spark: SparkSession,
    left_name: str,
    right_name: str,
    on: str | list[str],
    how: str = "inner",
) -> DataFrame:
    """Join two co-bucketed catalog tables on their bucket key. With
    matching bucket counts this compiles exchange-free (see module
    docstring); with mismatched counts Spark falls back to shuffling
    the smaller-bucketed side only."""
    return read_bucketed(spark, left_name).join(
        read_bucketed(spark, right_name), on=on, how=how
    )
