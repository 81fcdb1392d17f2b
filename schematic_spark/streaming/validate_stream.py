"""Structured Streaming validation.

The reference has no streaming (SURVEY §2.9); the engine adds it so the
same compiled spec runs over ``readStream`` sources: the verdict
projection is stateless (one ``select``), so it attaches to any stream
without watermarks; windowed verdict aggregation uses event-time
watermarks for late data.

Usage::

    annotated = validate_stream(stream_df, spec)
    q = (annotated.writeStream.format("parquet")... )
    summary = windowed_verdict_counts(annotated, "ts", "1 minute")
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..validation import VERDICT_COL, VIOLATIONS_COL, validate


def validate_stream(df: DataFrame, spec) -> DataFrame:
    """Attach _structural/_violations/_verdict/_decoding_error to a
    streaming DataFrame. Stateless — no watermark required.

    Delegates to batch :func:`~schematic_spark.validation.validate`
    outright: every step there is a lazy projection (stream-safe), and
    the delegation is what keeps the stream path on the SAME entry
    guards (verify_schema, regex preflight, conformance check, missing
    optional-column fill, reserved-column collision) and the SAME
    valid-mask fast path as batch. An earlier inline re-implementation
    silently skipped all of those — the exact single-predicate rule
    CLAUDE.md records for the mask/compiler split."""
    return validate(df, spec).annotated


def windowed_verdict_counts(
    annotated: DataFrame,
    ts_col: str,
    window: str = "1 minute",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Per-window verdict counts with a watermark for late rows —
    the streaming analog of ValidationResult.summary()."""
    return (
        annotated
        .withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window).alias("window"),
            F.col(VERDICT_COL).alias("verdict"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.size(VIOLATIONS_COL)).alias("n_violations"),
        )
    )


def dedup_stream(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    *,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup bounded by event time:
    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    watermark passes, so state size is O(keys-per-watermark-window), not
    O(all keys ever) — the only formulation that survives an unbounded
    stream."""
    return (
        df.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(keys)
    )


def running_verdict_totals(annotated: DataFrame, key_col: str) -> DataFrame:
    """Cumulative ``(key, n_rows, n_bad)`` per key across the whole
    stream: a streaming aggregation whose state store keeps the two
    counts per key. In ``update`` output mode it re-emits a key's
    totals whenever a batch touches the key — the engine analog of a
    running ErrorMap per partition key, which the stateless verdict
    projection can't express."""
    return (
        annotated
        .groupBy(F.col(key_col).cast("string").alias("key"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((F.col(VERDICT_COL) != "Valid").cast("long"))
            .alias("n_bad"),
        )
    )


def session_counts_stream(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    watermark: str = "1 hour",
    value_col: str | None = None,
) -> DataFrame:
    """Streaming-native gap sessionization: ``F.session_window`` holds
    one open-session state entry per (user, session); the event-time
    watermark closes sessions and evicts their state, so state size is
    O(concurrently-open sessions), never O(history). The unbounded-
    stream analog of the batch operator (suite/sessions.py), with the
    SAME gap boundary: a strictly-greater-than-``gap_seconds`` silence
    starts a new session.

    Boundary note: Spark's ``session_window`` is half-open
    ``[ts, ts+gap)`` — an event arriving exactly ``gap`` after the
    previous one would start a NEW streaming session while the batch
    operator's ``> gap`` predicate keeps it in the same one. The
    window gap is therefore widened by one microsecond (the event-time
    resolution), making the two operators agree at the boundary —
    pinned by the batch-vs-stream differential in
    ``tests/test_streaming_accessors.py``."""
    gap_interval = f"{gap_seconds * 1_000_000 + 1} microseconds"
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col is not None:
        aggs.append(F.sum(value_col).alias("total_value"))
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(F.col(ts_col), gap_interval).alias("session"),
            F.col(user_col),
        )
        .agg(*aggs)
    )
