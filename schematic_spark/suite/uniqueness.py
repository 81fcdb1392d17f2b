"""Uniqueness / duplicate detection — north-rule operator
(BASELINE.json:6: "uniqueness via sort-based repartition + dedup counting
… with explicit salting of skewed doc_id prefixes").

Two physical strategies, chosen by the caller's knowledge of key skew:

* ``duplicate_keys`` — single hash-agg ``groupBy(key).count()``; with AQE
  on, runtime skew splitting handles moderate skew. This is the
  default: one shuffle, partial aggregation map-side means duplicates
  collapse before the wire for low-cardinality hot keys.

* ``duplicate_keys_salted`` — explicit two-phase: phase 1 aggregates
  ``(key, salt)`` so a hot key spreads over S reducers; phase 2 merges
  the S partial counts. Costs a second (tiny) shuffle over the
  *distinct* keys only — at 10^12 rows with heavy prefix skew this is
  the difference between one straggler reducer and uniform load.

Violation output is a DataFrame ``(key…, n_dup)`` — the rows a user
joins back to quarantine duplicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _key_counts(
    df: DataFrame, key_cols: tuple[str, ...], count_col: str,
    salt_buckets: int | None = None,
) -> DataFrame:
    """(key…, count_col) rows per distinct key tuple. With
    ``salt_buckets`` the count is two-phase: phase 1 groups on (key,
    pmod(hash(row position proxy), S)) so a hot key's rows split across
    S reducers; phase 2 sums the partials per key."""
    if salt_buckets is None:
        return df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias(count_col))
    salt = F.pmod(
        F.hash(F.monotonically_increasing_id()), F.lit(salt_buckets)
    ).alias("_salt")
    return (
        df.select(*key_cols, salt)
        .groupBy(*key_cols, "_salt")
        .agg(F.count(F.lit(1)).alias("_partial"))
        .groupBy(*key_cols)
        .agg(F.sum("_partial").alias(count_col))
    )


def duplicate_keys(df: DataFrame, *key_cols: str) -> DataFrame:
    """Keys appearing more than once: (key…, n_dup). One shuffle."""
    return _key_counts(df, key_cols, "n_dup").where(F.col("n_dup") > 1)


def duplicate_keys_salted(
    df: DataFrame, *key_cols: str, salt_buckets: int = 32
) -> DataFrame:
    """Two-phase salted duplicate count for skewed keys (see
    :func:`_key_counts`). Output identical to :func:`duplicate_keys`."""
    return _key_counts(df, key_cols, "n_dup", salt_buckets).where(
        F.col("n_dup") > 1
    )


def uniqueness_report(df: DataFrame, *key_cols: str) -> DataFrame:
    """Single-row report: (n_rows, n_distinct, n_dup_keys, n_dup_rows,
    unique_ok).

    Every number derives from ONE per-key count pipeline, so NULL keys
    are treated uniformly: a NULL key tuple is one key, exactly as
    ``duplicate_keys``' groupBy sees it. (A ``count_distinct``-based
    n_distinct SKIPS null tuples, breaking the invariant
    ``n_rows == n_distinct + n_dup_rows - n_dup_keys`` the moment a
    key is null — and as a bonus the single pipeline is one scan, not
    two.)"""
    grouped = _key_counts(df, key_cols, "n")
    dup = F.col("n") > 1
    return (
        grouped.agg(
            F.coalesce(F.sum("n"), F.lit(0)).alias("n_rows"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.coalesce(
                F.sum(dup.cast("long")), F.lit(0)
            ).alias("n_dup_keys"),
            F.coalesce(
                F.sum(F.when(dup, F.col("n"))), F.lit(0)
            ).alias("n_dup_rows"),
        )
        .withColumn("unique_ok", F.col("n_dup_keys") == 0)
    )
