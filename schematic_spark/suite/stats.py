"""Per-column statistics — engine-level operator mandated by the north
rule (BASELINE.json:6: "per-column stats (null rate, min/max, length
histograms)"). Absent in the reference (its only fold is the error-map
monoid, Validation.hs:26-28).

All stats for all columns compute in ONE hash-aggregate pass (partial +
final automatic, map-side combine), so the cost at 100 TB is a single
scan + a tiny all-to-one reduce. Length histograms are a second
single-shuffle ``groupBy`` per requested column, log2-bucketed so the
bucket count is bounded (~64) regardless of data scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    MapType,
    NumericType,
    StringType,
    StructType,
)


def _sql_str(s: str) -> str:
    """Escape a value for a single-quoted SQL string literal."""
    return s.replace("\\", "\\\\").replace("'", "\\'")


def _sql_ident(s: str) -> str:
    """Escape a name for a backtick-quoted SQL identifier."""
    return s.replace("`", "``")


def column_stat_aggs(fields: dict, columns: list[str]) -> list:
    """The aggregate-expression list behind :func:`column_stats`,
    exposed so the fused suite can ride the identical expressions on
    another job's scan via ``observe`` (CollectMetrics) — semantics
    stay defined in exactly one place."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in columns:
        dt = fields[c]
        # backtick-quote: bare F.col/df[...] parse dots as struct access
        col = F.col(f"`{_sql_ident(c)}`")
        aggs.append(F.sum(col.isNull().cast("long")).alias(f"{c}__nnull"))
        if isinstance(dt, (ArrayType, StructType, MapType)):
            # hashing every nested array/struct per row for an HLL is a
            # scan-dominating cost at scale; complex types report null
            aggs.append(
                F.lit(None).cast("long").alias(f"{c}__ndist")
            )
        else:
            # all atomic types (incl. bool/date/timestamp) are
            # fixed-width: the HLL costs the same as on numerics
            aggs.append(F.approx_count_distinct(col).alias(f"{c}__ndist"))
        if isinstance(dt, NumericType):
            aggs.append(F.min(col).cast("string").alias(f"{c}__min"))
            aggs.append(F.max(col).cast("string").alias(f"{c}__max"))
            aggs.append(F.avg(col).cast("string").alias(f"{c}__avg"))
            aggs.append(F.lit(None).cast("double").alias(f"{c}__avglen"))
        elif isinstance(dt, StringType):
            aggs.append(F.min(col).alias(f"{c}__min"))
            aggs.append(F.max(col).alias(f"{c}__max"))
            aggs.append(F.lit(None).cast("string").alias(f"{c}__avg"))
            aggs.append(F.avg(F.length(col)).alias(f"{c}__avglen"))
        elif isinstance(dt, ArrayType):
            aggs.append(F.min(F.size(col)).cast("string").alias(f"{c}__min"))
            aggs.append(F.max(F.size(col)).cast("string").alias(f"{c}__max"))
            aggs.append(F.lit(None).cast("string").alias(f"{c}__avg"))
            aggs.append(F.avg(F.size(col)).alias(f"{c}__avglen"))
        elif isinstance(dt, MapType):
            # maps are not orderable in Spark — F.min/F.max would raise
            # INVALID_ORDERING_TYPE at analysis (crashing column_stats
            # AND the fused pass that observes the same agg list)
            aggs.append(F.lit(None).cast("string").alias(f"{c}__min"))
            aggs.append(F.lit(None).cast("string").alias(f"{c}__max"))
            aggs.append(F.lit(None).cast("string").alias(f"{c}__avg"))
            aggs.append(F.lit(None).cast("double").alias(f"{c}__avglen"))
        else:
            aggs.append(F.min(col).cast("string").alias(f"{c}__min"))
            aggs.append(F.max(col).cast("string").alias(f"{c}__max"))
            aggs.append(F.lit(None).cast("string").alias(f"{c}__avg"))
            aggs.append(F.lit(None).cast("double").alias(f"{c}__avglen"))
    return aggs


def column_stats_from_flat(flat: dict, columns: list[str]) -> list[dict]:
    """Reshape the wide (alias → value) metric map produced by
    :func:`column_stat_aggs` — e.g. an ``Observation`` result — into
    the same long-format rows :func:`column_stats` returns."""
    n_rows = flat["n_rows"]
    return [
        {
            "column": c,
            "n_rows": n_rows,
            "n_null": flat[f"{c}__nnull"],
            "null_rate": (
                flat[f"{c}__nnull"] / n_rows if n_rows else None
            ),
            "n_distinct_approx": flat[f"{c}__ndist"],
            "min": flat[f"{c}__min"],
            "max": flat[f"{c}__max"],
            "avg": flat[f"{c}__avg"],
            "avg_length": flat[f"{c}__avglen"],
        }
        for c in columns
    ]


def column_stats(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Long-format stats table: one row per column with
    (column, n_rows, n_null, null_rate, n_distinct_approx, min, max, avg,
    avg_length). min/max/avg are strings for heterogeneous columns.
    """
    fields = {f.name: f.dataType for f in df.schema.fields}
    columns = columns or list(fields)
    wide = df.agg(*column_stat_aggs(fields, columns))
    # one wide row → long format on the driver side of the agg (cheap:
    # stack() over a single row, no extra scan)
    stack_args = []
    for c in columns:
        lbl, b = _sql_str(c), _sql_ident(c)
        stack_args.append(
            f"'{lbl}', `{b}__nnull`, `{b}__ndist`, `{b}__min`, "
            f"`{b}__max`, `{b}__avg`, `{b}__avglen`"
        )
    stacked = wide.selectExpr(
        "n_rows",
        f"stack({len(columns)}, {', '.join(stack_args)}) as "
        "(column, n_null, n_distinct_approx, min, max, avg, avg_length)",
    )
    return stacked.select(
        "column",
        "n_rows",
        "n_null",
        # zero-guarded like column_stats_from_flat (None, not 0/0=NaN)
        # so the classic and fused paths stay identical on empty input
        F.when(F.col("n_rows") > 0, F.col("n_null") / F.col("n_rows"))
        .alias("null_rate"),
        "n_distinct_approx",
        "min",
        "max",
        "avg",
        "avg_length",
    )


def length_histogram(df: DataFrame, column: str) -> DataFrame:
    """Histogram of string length (or array size) — (bucket, lo, hi, n)
    over log2 buckets, so cardinality stays at ~64 buckets regardless
    of scale.
    """
    dt = dict((f.name, f.dataType) for f in df.schema.fields)[column]
    ln = (
        F.size(F.col(column))
        if isinstance(dt, ArrayType)
        else F.length(F.col(column))
    )
    bucket = (
        F.when(ln.isNull(), F.lit(-1))
        .when(ln <= 0, F.lit(0))
        .otherwise(F.floor(F.log2(ln.cast("double"))) + 1)
        .cast("int")
    )
    out = (
        df.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "lo",
            F.when(F.col("bucket") <= 0, F.lit(None))
             .otherwise(F.pow(F.lit(2.0), F.col("bucket") - 1).cast("long")),
        )
        .withColumn(
            "hi",
            F.when(F.col("bucket") <= 0, F.lit(None))
             .otherwise((F.pow(F.lit(2.0), F.col("bucket")) - 1).cast("long")),
        )
    )
    return out.select("bucket", "lo", "hi", "n").orderBy("bucket")
