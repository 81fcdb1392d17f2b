"""Data-layout control: range-clustered writes.

At 100 TB the scan cost of every later query is set by how the writer
laid out files: parquet keeps min/max statistics per file and row
group, and readers skip chunks whose range cannot match a predicate —
but only if the writer actually clustered values. ``clustered_write``
range-partitions rows on the cluster key(s) and sorts within each
partition, so each output file covers a narrow, near-disjoint key
range (the poor man's Z-order for a single key prefix; with Iceberg on
the classpath the same intent is expressed as a sort order on the
table).

``file_key_ranges`` reads the per-file footer stats back (pyarrow) so
tests can assert the clustering actually happened rather than trusting
the writer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def clustered_write(
    df: DataFrame,
    path: str,
    *,
    cluster_cols: tuple[str, ...],
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write parquet range-clustered on ``cluster_cols``: global range
    partitioning (one sampling pass chooses the boundaries) + in-file
    sort, so file/row-group min-max stats are tight."""
    part = (
        df.repartitionByRange(n_files, *cluster_cols)
        if n_files is not None
        else df.repartitionByRange(*cluster_cols)
    )
    part.sortWithinPartitions(*cluster_cols).write.mode(mode).parquet(path)


def file_key_ranges(path: str, column: str) -> list[tuple]:
    """Per-file (min, max) of ``column`` from parquet footers — no data
    read. Sorted by min."""
    import glob
    import os

    import pyarrow.parquet as pq

    out = []
    for f in glob.glob(os.path.join(path, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(column)
        mn = mx = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                continue
            mn = st.min if mn is None else min(mn, st.min)
            mx = st.max if mx is None else max(mx, st.max)
        if mn is not None:
            out.append((mn, mx))
    return sorted(out)


def spread_for_compute(df: DataFrame) -> DataFrame:
    """Fan a compute-dense per-row pipeline out to the cluster's
    parallelism when the scan beneath it provides too few tasks.

    Parquet scan parallelism is file-count/``maxPartitionBytes``-driven
    (optimization guide §6): an input that is small ON DISK but feeds an
    expensive per-row chain (md5 k-gram hashing, per-pair cosine HOFs,
    SimHash vote folds) can plan as ONE scan task and serialize the
    whole stage on a single core. A round-robin repartition before the
    expensive projection costs one shuffle of the (tiny) raw rows and
    unlocks every core.

    Scale-adaptive by construction, NOT a local-mode constant: the
    target is the session's ``defaultParallelism`` and the repartition
    only fires when the existing partition count is BELOW it — at the
    100 TB design point a scan has thousands of file splits, the
    condition is false, and this is a no-op (no shuffle added). Row
    membership of every downstream partition-insensitive result
    (joins, aggregations, per-row projections) is unchanged; do not use
    it where partition ORDER feeds results (collect_list outputs,
    float cross-row sum tie-breaking) without checking the consumer.

    Contract: call it directly on a scan (or on narrow projections of
    one). The probe is ``df.rdd.getNumPartitions()``, which is free on
    a scan; on a plan with an exchange under AQE it runs that
    exchange's stages while the query is still being built.
    """
    sc = df.sparkSession.sparkContext
    want = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= want:
        return df
    return df.repartition(want)
